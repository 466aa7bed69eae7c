"""textpipe (t_*) queries vs independent python oracles.

The duckdb hash-check runs driver-side; these pin the SEMANTICS against
brute-force hashlib/math recomputations so a same-wrong-answer-in-both-
engines bug cannot slip through.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pandas as pd

SF_DIR = "/root/testdata/sf0.001"


def _toks(text: str) -> list[str]:
    return text.strip().lower().split()


def test_kl_source_drift_matches_python(spark):
    from daxos_spark.plans.textpipe import _KL_B, t_kl_source_drift

    rows = {r.source: r for r in t_kl_source_drift(spark, SF_DIR).collect()}

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    buckets = lambda t: [
        int(hashlib.md5(tk.encode()).hexdigest()[:14], 16) % _KL_B for tk in _toks(t)
    ]
    per_src: dict[str, Counter] = {}
    corpus: Counter = Counter()
    for _, r in docs.iterrows():
        bs = buckets(r["text"])
        per_src.setdefault(r["source"], Counter()).update(bs)
        corpus.update(bs)
    ctot = sum(corpus.values())
    for src, cnt in per_src.items():
        tot = sum(cnt.values())
        kl = sum(
            ((cnt.get(b, 0) + 1) / (tot + _KL_B))
            * math.log(
                ((cnt.get(b, 0) + 1) * (ctot + _KL_B))
                / ((corpus.get(b, 0) + 1) * (tot + _KL_B))
            )
            for b in range(_KL_B)
        )
        got = rows[src]
        assert got.n_tokens == tot
        # each of the B terms is quantized onto the 1e-6 DECIMAL grid
        # before summing -> worst-case drift B * 0.5e-6 vs the exact sum
        assert abs(got.kl_vs_corpus - kl) < _KL_B * 1e-6
        assert got.kl_vs_corpus >= 0 or abs(got.kl_vs_corpus) < 1e-9  # KL >= 0


def test_bloom_decontam_flags_match_python(spark):
    from daxos_spark.plans.textpipe import (
        _BLOOM_K,
        _md5_pos,
        t_bloom_decontam,
    )

    rows = {r.source: r for r in t_bloom_decontam(spark, SF_DIR).collect()}

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")

    def shingles(t: str) -> set[str]:
        tk = _toks(t)
        n = max(len(tk) - 2, 1)
        return {" ".join(tk[i : i + 3]) for i in range(n)}

    eval_sh: set[str] = set()
    for _, r in docs[docs.doc_id % 97 == 0].iterrows():
        eval_sh |= shingles(r["text"])
    bits = {_md5_pos(s, i) for s in eval_sh for i in range(_BLOOM_K)}

    want: dict[str, list[int]] = {}
    for _, r in docs[docs.doc_id % 97 != 0].iterrows():
        sh = shingles(r["text"])
        fb = any(all(_md5_pos(s, i) in bits for i in range(_BLOOM_K)) for s in sh)
        fe = any(s in eval_sh for s in sh)
        w = want.setdefault(r["source"], [0, 0, 0, 0])
        w[0] += 1
        w[1] += fb
        w[2] += fe
        w[3] += fb and not fe
    for src, (n, nb, ne, nfp) in want.items():
        got = rows[src]
        assert (got.n_docs, got.n_bloom_flagged, got.n_exact_flagged, got.n_false_pos) == (
            n,
            nb,
            ne,
            nfp,
        )
        # Bloom never false-negatives: every exact hit is a bloom hit
        assert got.n_bloom_flagged >= got.n_exact_flagged


def test_quality_logreg_matches_numpy_irls(spark):
    import numpy as np

    from daxos_spark.plans.textpipe import _LR_STEPS, t_quality_logreg

    row = t_quality_logreg(spark, SF_DIR).collect()[0]

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    stop = {"the", "a", "of", "and", "to"}
    toks = docs["text"].map(_toks)
    n = toks.map(len).to_numpy(dtype=float)
    y = (docs["lang"] == "en").to_numpy(dtype=float)
    x1 = docs["n_chars"].to_numpy(dtype=float) / n
    x2 = toks.map(lambda ts: sum(t in stop for t in ts)).to_numpy(dtype=float) / n
    X = np.column_stack([np.ones_like(x1), x1, x2])

    b = np.zeros(3)
    for _ in range(_LR_STEPS):
        p = 1.0 / (1.0 + np.exp(-(X @ b)))
        g = X.T @ (p - y)
        H = (X * (p * (1 - p))[:, None]).T @ X
        b = b - np.linalg.solve(H, g)

    # engine sums quantize each term to floor(v*1e6 + 0.5) (the cross-
    # engine-exact grid; see _LR_SUM_SQL) — round-to-nearest, so the
    # per-row error is an unbiased ±0.5e-6 instead of the old floor's
    # systematic -0.5e-6 shift, and the propagated coefficient error
    # tightens accordingly (tolerance was 5e-3 under plain floor)
    got = np.array([row.b0, row.b1, row.b2])
    assert np.allclose(got, b, atol=2e-3), (got, b)

    p = 1.0 / (1.0 + np.exp(-(X @ b)))
    assert row.n_docs == len(docs)
    assert row.n_correct == int(((p >= 0.5) == (y == 1.0)).sum())
    # the fit must beat always-predict-majority (it learned something)
    assert row.n_correct > max(y.sum(), len(y) - y.sum())


def test_leakage_split_invariants(spark):
    from daxos_spark.plans.textpipe import _SPLIT_PCT_TRAIN, t_leakage_split

    rows = t_leakage_split(spark, SF_DIR).collect()
    by_split = {r.split: r for r in rows}
    assert set(by_split) <= {"train", "test"} and "train" in by_split

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    assert sum(r.n_docs for r in rows) == len(docs)
    for r in rows:
        # THE invariant this op exists for: no near-dup pair crosses splits
        assert r.cross_pairs_clustered == 0
        assert r.n_clusters <= r.n_docs
    # both rows carry the same global audit values
    assert len({r.cross_pairs_naive for r in rows}) == 1


def test_cms_heavy_hitters_matches_python(spark):
    from daxos_spark.plans.textpipe import (
        _CMS_D,
        _CMS_TOPK,
        _CMS_W,
        t_cms_heavy_hitters,
    )

    rows = t_cms_heavy_hitters(spark, SF_DIR).collect()
    assert len(rows) == _CMS_TOPK

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    toks = [t for txt in docs["text"] for t in _toks(txt)]

    def pos(tk, seed):
        return int(hashlib.md5(f"{tk}#{seed}".encode()).hexdigest()[:14], 16) % _CMS_W

    cms = [Counter() for _ in range(_CMS_D)]
    exact = Counter(toks)
    for tk, c in exact.items():
        for i in range(_CMS_D):
            cms[i][pos(tk, i)] += c
    for r in rows:
        want_est = min(cms[i][pos(r.token, i)] for i in range(_CMS_D))
        assert (r.cms_est, r.exact_cnt) == (want_est, exact[r.token])
        # CMS never underestimates
        assert r.overestimate >= 0


def test_bpe_merges_match_reference_trainer(spark):
    from daxos_spark.plans.textpipe import _BPE_ROUNDS, t_bpe_merges

    rows = t_bpe_merges(spark, SF_DIR).collect()
    assert [r.round for r in rows] == list(range(1, _BPE_ROUNDS + 1))

    # reference BPE trainer (Sennrich et al. 2016 pseudo-code): word-type
    # dict, pair counts weighted by freq, greedy non-overlapping merge
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    vocab = Counter(t for txt in docs["text"] for t in _toks(txt))
    words = {w: list(w) for w in vocab}
    for r in range(1, _BPE_ROUNDS + 1):
        pairs: Counter = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += vocab[w]
        (x, y), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        got = rows[r - 1]
        assert (got.merge_left, got.merge_right, got.pair_count) == (x, y, c)
        for w, syms in words.items():
            out = [syms[0]]
            for cur in syms[1:]:
                if out[-1] == x and cur == y:
                    out[-1] = x + y
                else:
                    out.append(cur)
            words[w] = out


def test_bm25_topk_matches_python(spark):
    import math

    from daxos_spark.plans.textpipe import (
        _BM25_B,
        _BM25_K1,
        _BM25_TOPK,
        t_bm25_topk,
    )

    rows = t_bm25_topk(spark, SF_DIR).collect()

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    toks = {r.doc_id: _toks(r.text) for r in docs.itertuples()}
    dl = {d: len(ts) for d, ts in toks.items()}
    n_docs = len(toks)
    avgdl = sum(dl.values()) / n_docs
    tf: dict = {}
    df: Counter = Counter()
    for d, ts in toks.items():
        c = Counter(ts)
        tf[d] = c
        df.update(c.keys())

    got: dict = {}
    for r in rows:
        got.setdefault(r.qid, []).append(r)
    assert set(got) == {0, 97, 194} & set(toks)
    for qid, rs in got.items():
        scores = {}
        for d in toks:
            if d % 97 == 0:
                continue
            s = 0.0
            for t in set(toks[qid]):
                if t not in tf[d]:
                    continue
                idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                f = tf[d][t]
                s += idf * (f * (_BM25_K1 + 1.0)) / (
                    f + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * dl[d] / avgdl)
                )
            if s > 0:
                scores[d] = s
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:_BM25_TOPK]
        assert [r.doc_id for r in sorted(rs, key=lambda r: r.rk)] == [d for d, _ in want]
        for r, (_, ws) in zip(sorted(rs, key=lambda r: r.rk), want):
            assert abs(r.bm25 - ws) < 1e-4  # DECIMAL term quantization


def test_refinery_funnel_monotone_and_python_replay(spark):
    from daxos_spark.plans.textpipe import _FUNNEL_QUALITY, t_refinery_funnel

    rows = t_refinery_funnel(spark, SF_DIR).collect()
    assert rows
    total_w = sum(r.mix_w_micro for r in rows)
    assert 0 < total_w <= 1_000_000  # floor'd micro-weights sum to <= 1

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    sw = {"the", "a", "of", "and", "to", "in", "is", "for", "on", "with"}

    def shingles(t):
        tk = _toks(t)
        n = max(len(tk) - 2, 1)
        return {" ".join(tk[i : i + 3]) for i in range(n)}

    eval_sh = set()
    for t in docs[docs.doc_id % 97 == 0]["text"]:
        eval_sh |= shingles(t)
    import re

    got = {r.source: r for r in rows}
    # fingerprint dedup is GLOBAL (the canonical doc may sit in another
    # source), so replay globally in doc_id order and attribute counts
    # to each row's own source
    train = docs[docs.doc_id % 97 != 0].sort_values("doc_id")
    seen_fp: set = set()
    n_raw: dict = {}
    n_canon: dict = {}
    n_clean: dict = {}
    for _, r in train.iterrows():
        src = r["source"]
        n_raw[src] = n_raw.get(src, 0) + 1
        fp = re.sub(r"\s+", " ", r["text"].strip().lower())
        if fp in seen_fp:
            continue
        seen_fp.add(fp)
        n_canon[src] = n_canon.get(src, 0) + 1
        tk = _toks(r["text"])
        good = sum(t in sw for t in tk) * 5.0 / len(tk) >= _FUNNEL_QUALITY
        if good and not (shingles(r["text"]) & eval_sh):
            n_clean[src] = n_clean.get(src, 0) + 1
    for src, rr in got.items():
        assert (rr.n_raw, rr.n_canonical, rr.n_clean) == (
            n_raw[src],
            n_canon.get(src, 0),
            n_clean.get(src, 0),
        )
        assert rr.n_raw >= rr.n_canonical >= rr.n_clean  # funnel is monotone


def test_zipf_fit_matches_numpy_ols(spark):
    import math

    import numpy as np

    from daxos_spark.plans.textpipe import _ZIPF_TOPR, t_zipf_fit

    row = t_zipf_fit(spark, SF_DIR).collect()[0]

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    vocab = Counter(t for txt in docs["text"] for t in _toks(txt))
    ranked = sorted(vocab.items(), key=lambda kv: (-kv[1], kv[0]))[:_ZIPF_TOPR]
    x = np.log(np.arange(1, len(ranked) + 1, dtype=float))
    y = np.log(np.array([f for _, f in ranked], dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    assert row.n == len(ranked)
    assert abs(row.zipf_s - (-slope)) < 1e-4
    assert abs(row.intercept - intercept) < 1e-3
    # a natural-ish corpus has a meaningful decay exponent
    assert row.zipf_s > 0.1


def test_containment_dedup_matches_python(spark):
    from daxos_spark.plans.textpipe import _CONT_THR_MICRO, t_containment_dedup

    row = t_containment_dedup(spark, SF_DIR).collect()[0]

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")

    def shingles(t):
        tk = _toks(t)
        n = max(len(tk) - 2, 1)
        return {" ".join(tk[i : i + 3]) for i in range(n)}

    sh = {r.doc_id: (r.source, shingles(r.text)) for r in docs.itertuples()}
    # DF cap at 200 never binds at sf0.001 (500 docs); replay without it
    n_pairs, docs_flagged, mx = 0, set(), 0
    items = list(sh.items())
    for da, (sa, A) in items:
        for db, (sb, B) in items:
            if da == db or sa != sb:
                continue
            inter = len(A & B)
            if inter == 0:
                continue
            cm = (1_000_000 * inter) // len(A)
            if cm >= _CONT_THR_MICRO:
                n_pairs += 1
                docs_flagged.add(da)
                mx = max(mx, cm)
    assert (row.n_contained_pairs, row.n_contained_docs) == (n_pairs, len(docs_flagged))
    if n_pairs:
        assert row.max_cont_micro == mx


def test_minhash_accuracy_audit_matches_python(spark):
    from daxos_spark.plans.textpipe import _MH_HASHES, t_minhash_accuracy

    row = t_minhash_accuracy(spark, SF_DIR).collect()[0]

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")

    def shingles(t):
        tk = _toks(t)
        n = max(len(tk) - 2, 1)
        return {" ".join(tk[i : i + 3]) for i in range(n)}

    def mh(sh):
        return [
            min(int(hashlib.md5(f"{s}#{i}".encode()).hexdigest()[:14], 16) for s in sh)
            for i in range(_MH_HASHES)
        ]

    info = {r.doc_id: (r.source, shingles(r.text)) for r in docs.itertuples()}
    sigs = {d: mh(sh) for d, (_, sh) in info.items()}
    ids = sorted(info)
    n_pairs = tot = mx = within = 0
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            if info[da][0] != info[db][0]:
                continue
            A, B = info[da][1], info[db][1]
            inter = len(A & B)
            if inter < 3:
                continue
            exact = (1_000_000 * inter) // (len(A) + len(B) - inter)
            m = sum(x == y for x, y in zip(sigs[da], sigs[db]))
            est = (1_000_000 * m) // _MH_HASHES
            e = abs(est - exact)
            n_pairs += 1
            tot += e
            mx = max(mx, e)
            within += e <= 250_000
    assert (row.n_pairs, row.total_abs_err_micro, row.max_abs_err_micro, row.n_within_quarter) == (
        n_pairs, tot, mx, within,
    )


def test_substring_spans_matches_python(spark):
    """Python replay of the ExactSubstr span semantics: hash every
    8-token window, keep corpus-repeated windows, merge consecutive
    positions into maximal spans, per-source stats."""
    import hashlib
    from collections import Counter, defaultdict

    import pandas as pd

    from daxos_spark.plans.textpipe import _SS_K, t_substring_spans

    docs = pd.read_parquet(SF_DIR + "/documents.parquet")
    kgrams = {}  # (doc_id) -> list of (pos, hash)
    counts = Counter()
    for r in docs.itertuples():
        tk = r.text.strip().lower().split()
        row = []
        for i in range(1, len(tk) - _SS_K + 2):
            h = hashlib.md5(" ".join(tk[i - 1 : i - 1 + _SS_K]).encode()).hexdigest()[:14]
            row.append((i, h))
            counts[h] += 1
        kgrams[r.doc_id] = (r.source, row)
    stats = defaultdict(lambda: [set(), 0, 0, 0])  # docs, n_spans, total, mx
    for doc_id, (src, row) in kgrams.items():
        dup = [i for i, h in row if counts[h] >= 2]
        if not dup:
            continue
        spans = []
        start = prev = dup[0]
        for i in dup[1:]:
            if i == prev + 1:
                prev = i
            else:
                spans.append((start, prev))
                start = prev = i
        spans.append((start, prev))
        s = stats[src]
        s[0].add(doc_id)
        for a, b in spans:
            s[1] += 1
            s[2] += b - a + _SS_K
            s[3] = max(s[3], b - a + _SS_K)
    got = {r["source"]: r for r in t_substring_spans(spark, SF_DIR).collect()}
    assert set(got) == set(stats)
    for src, (dset, n_spans, total, mx) in stats.items():
        g = got[src]
        assert (
            g["n_docs_with_dups"],
            g["n_spans"],
            g["total_span_tokens"],
            g["max_span_tokens"],
        ) == (len(dset), n_spans, total, mx), src


def test_substring_dedup_no_kgram_survives_twice(spark):
    """The cleaned corpus produced by t_substring_dedup contains NO
    K-gram twice: every surviving window maps to an original window
    whose hash is either corpus-unique or the canonical (first)
    occurrence, and canon is unique per hash. Also checks segment
    self-consistency (ranges reproduce the hashed text) and that
    dup-free docs are retained whole."""
    import hashlib
    from collections import Counter

    import pandas as pd

    from daxos_spark.plans.textpipe import _SS_K, t_substring_dedup

    docs = pd.read_parquet(SF_DIR + "/documents.parquet")
    toks = {r.doc_id: r.text.strip().lower().split() for r in docs.itertuples()}

    def h14(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)

    counts = Counter()
    for tk in toks.values():
        for i in range(len(tk) - _SS_K + 1):
            counts[h14(" ".join(tk[i : i + _SS_K]))] += 1

    segs = t_substring_dedup(spark, SF_DIR).collect()

    # 1) segments reproduce original token slices (range -> text -> hash)
    by_doc = {}
    for r in segs:
        tk = toks[r["doc_id"]]
        a = r["seg_start"] - 1
        piece = tk[a : a + r["n_toks"]]
        assert len(piece) == r["n_toks"], (r["doc_id"], r["seg_start"])
        assert h14(" ".join(piece)) == r["seg_h"], (r["doc_id"], r["seg_start"])
        by_doc.setdefault(r["doc_id"], []).append((a, piece))

    # 2) segments within a doc are disjoint, maximal (no two adjacent)
    for doc_id, pieces in by_doc.items():
        pieces.sort()
        for (a1, p1), (a2, _p2) in zip(pieces, pieces[1:]):
            assert a1 + len(p1) < a2, doc_id  # gap of >= 1 removed token

    # 3) NO K-gram appears twice across the cleaned segments
    clean_counts = Counter()
    for pieces in by_doc.values():
        for _a, piece in pieces:
            for i in range(len(piece) - _SS_K + 1):
                clean_counts[h14(" ".join(piece[i : i + _SS_K]))] += 1
    worst = clean_counts.most_common(1)
    assert not worst or worst[0][1] == 1, worst

    # 4) a doc with no duplicated window is retained whole
    n_whole = 0
    for doc_id, tk in toks.items():
        has_dup = any(
            counts[h14(" ".join(tk[i : i + _SS_K]))] >= 2
            for i in range(len(tk) - _SS_K + 1)
        )
        if not has_dup:
            pieces = by_doc.get(doc_id)
            assert pieces is not None and len(pieces) == 1, doc_id
            assert pieces[0][0] == 0 and len(pieces[0][1]) == len(tk), doc_id
            n_whole += 1
    assert n_whole > 0  # the fixture corpus has dup-free docs


def test_bpe_encode_matches_python_application(spark):
    """The encoder's per-source compression stats equal a python replay:
    learn the merges with the reference trainer, apply ALL of them to
    each word type, sum per source over the corpus token stream."""
    from daxos_spark.plans.textpipe import _BPE_ROUNDS, t_bpe_encode

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    vocab = Counter(t for txt in docs["text"] for t in _toks(txt))
    words = {w: list(w) for w in vocab}
    for _r in range(_BPE_ROUNDS):
        pairs: Counter = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += vocab[w]
        (x, y), _c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, syms in words.items():
            out = [syms[0]]
            for cur in syms[1:]:
                if out[-1] == x and cur == y:
                    out[-1] = x + y
                else:
                    out.append(cur)
            words[w] = out

    from collections import defaultdict

    want = defaultdict(lambda: [0, 0, 0])  # n_tokens, char_syms, bpe_syms
    for src, txt in zip(docs["source"], docs["text"]):
        for t in _toks(txt):
            s = want[src]
            s[0] += 1
            s[1] += len(t)
            s[2] += len(words[t])

    got = {r["source"]: r for r in t_bpe_encode(spark, SF_DIR).collect()}
    assert set(got) == set(want)
    for src, (nt, nc, nb) in want.items():
        g = got[src]
        assert (g["n_tokens"], g["n_char_symbols"], g["n_bpe_symbols"], g["n_saved"]) == (
            nt, nc, nb, nc - nb
        ), src
    # the merges actually bought something on at least one source
    assert any(g["n_saved"] > 0 for g in got.values())


def test_ngram_novelty_matches_pandas(spark):
    """Exact recomputation: per-doc distinct 5-grams, first occurrence =
    min doc_id, novelty aggregated by ingestion decile."""
    from daxos_spark.plans.textpipe import _NOV_N, t_ngram_novelty

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")

    def grams(txt: str) -> set[str]:
        tk = _toks(txt)
        k = max(len(tk) - _NOV_N + 1, 1)
        return {" ".join(tk[i : i + _NOV_N]) for i in range(k)}

    per_doc = {int(r.doc_id): grams(r.text) for r in docs.itertuples()}
    first: dict[str, int] = {}
    for did in sorted(per_doc):
        for g in per_doc[did]:
            first.setdefault(g, did)
    mn, mx = min(per_doc), max(per_doc)
    want: dict[int, list[int]] = {}
    for did, gs in per_doc.items():
        dec = int((did - mn) * 10 / (mx - mn + 1))
        b = want.setdefault(dec, [0, 0, 0])
        b[0] += 1
        b[1] += len(gs)
        b[2] += sum(1 for g in gs if first[g] == did)

    got = {r["decile"]: r for r in t_ngram_novelty(spark, SF_DIR).collect()}
    assert set(got) == set(want)
    for dec, (nd, ng, nn) in want.items():
        g = got[dec]
        assert (g["n_docs"], g["grams"], g["novel_grams"]) == (nd, ng, nn), dec
        assert abs(g["novelty"] - nn / ng) < 2e-6
    # every distinct gram is novel exactly once, corpus-wide
    assert sum(r["novel_grams"] for r in got.values()) == len(first)
    # the earliest decile contains the corpus's first doc: 100% novel there
    # is not guaranteed for the bucket, but novelty must decay to < 1 later
    assert got[max(got)]["novelty"] < 1.0


def test_source_overlap_matches_pandas(spark):
    """Exact recomputation of the pairwise shared-3-gram matrix."""
    from daxos_spark.plans.textpipe import t_source_overlap

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")

    def grams3(txt: str) -> set[str]:
        tk = _toks(txt)
        k = max(len(tk) - 2, 1)
        return {" ".join(tk[i : i + 3]) for i in range(k)}

    per_src: dict[str, set[str]] = {}
    for r in docs.itertuples():
        per_src.setdefault(r.source, set()).update(grams3(r.text))

    got = {(r["src_a"], r["src_b"]): r for r in t_source_overlap(spark, SF_DIR).collect()}
    srcs = sorted(per_src)
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1 :]:
            shared = len(per_src[sa] & per_src[sb])
            if shared == 0:
                assert (sa, sb) not in got
                continue
            g = got[(sa, sb)]
            na, nb = len(per_src[sa]), len(per_src[sb])
            assert (g["shared"], g["n_a"], g["n_b"]) == (shared, na, nb), (sa, sb)
            assert abs(g["jaccard"] - shared / (na + nb - shared)) < 2e-6
            assert abs(g["containment"] - shared / min(na, nb)) < 2e-6
    assert len(got) <= len(srcs) * (len(srcs) - 1) // 2


def test_dedup_best_keep_matches_python_replay(spark):
    """Full python replay: capped shingle pairs (same-source), Jaccard
    clusters via union-find, keep-longest survivor per cluster."""
    from collections import Counter

    from daxos_spark.operators.neardup import BUCKET_CAP
    from daxos_spark.plans.docpipe import _JACC_THR
    from daxos_spark.plans.textpipe import t_dedup_best_keep

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")

    def sh3(txt: str) -> set[str]:
        tk = _toks(txt)
        k = max(len(tk) - 2, 1)
        return {" ".join(tk[i : i + 3]) for i in range(k)}

    rows = [(int(r.doc_id), r.source, int(r.n_chars), sh3(r.text)) for r in docs.itertuples()]
    df_count: Counter = Counter()
    for _, _, _, s in rows:
        df_count.update(s)
    hot = {g for g, c in df_count.items() if c > BUCKET_CAP}
    capped = [(did, src, nch, s - hot) for did, src, nch, s in rows]

    parent = {did: did for did, *_ in capped}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, (da, sa, _, ta) in enumerate(capped):
        for db, sb, _, tb in capped[i + 1 :]:
            if sa != sb:
                continue
            inter = len(ta & tb)
            if not inter:
                continue
            union = len(ta) + len(tb) - inter
            if inter / union >= _JACC_THR:
                ra, rb = find(da), find(db)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)

    clusters: dict[int, list[tuple[int, int]]] = {}
    for did, _, nch, _ in capped:
        clusters.setdefault(find(did), []).append((did, nch))
    want = {}
    for members in clusters.values():
        if len(members) < 2:
            continue
        cl = min(m[0] for m in members)
        kept = max(members, key=lambda m: (m[1], -m[0]))
        want[cl] = (kept[0], kept[1], len(members) - 1)

    got = {r["cluster"]: r for r in t_dedup_best_keep(spark, SF_DIR).collect()}
    assert set(got) == set(want)
    for cl, (kd, kc, nr) in want.items():
        g = got[cl]
        assert (g["kept_doc"], g["kept_chars"], g["n_removed"]) == (kd, kc, nr), cl


def test_bigram_ppl_matches_python(spark):
    """Exact replay of the interpolated bigram NLL (integer-ratio
    probabilities, decimal-summed logs)."""
    from decimal import Decimal

    from daxos_spark.plans.textpipe import _BG_HI, t_bigram_ppl

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    c1: Counter = Counter()
    c2: Counter = Counter()
    seqs = {}
    for r in docs.itertuples():
        tk = _toks(r.text)
        seqs[int(r.doc_id)] = tk
        c1.update(tk)
        c2.update(zip(tk, tk[1:]))
    n = sum(c1.values())

    got = {r["doc_id"]: r for r in t_bigram_ppl(spark, SF_DIR).collect()}
    for did, tk in seqs.items():
        if len(tk) < 2:
            assert did not in got
            continue
        s = Decimal(0)
        for w1, w2 in zip(tk, tk[1:]):
            p = (7 * c2[(w1, w2)] * n + 3 * c1[w1] * c1[w2]) / (10 * c1[w1] * n)
            s += Decimal(f"{math.log(p):.6f}")
        nb = len(tk) - 1
        want_nll = -(float(s) / nb)
        g = got[did]
        assert g["n_bigrams"] == nb, did
        assert abs(g["avg_nll"] - want_nll) < 2e-6, did
        assert g["high_ppl"] == (want_nll > _BG_HI), did


def test_lsh_band_plan_matches_python(spark):
    """Exact replay of the S-curve table, plus the monotone/threshold
    invariants the design step relies on."""
    from daxos_spark.plans.textpipe import t_lsh_band_plan

    rows = t_lsh_band_plan(spark, SF_DIR).collect()
    assert len(rows) == 45
    for r in rows:
        b, rr, k = r["b"], r["r"], r["s_tenths"]
        assert b * rr == 16
        s = k / 10.0
        want = 1.0 - (1.0 - s**rr) ** b
        assert abs(r["p_collision"] - want) < 2e-6, (b, k)
    # p monotone in s within each b; exactly <=1 threshold row per b
    by_b: dict[int, list] = {}
    for r in rows:
        by_b.setdefault(r["b"], []).append(r)
    for b, grp in by_b.items():
        grp.sort(key=lambda r: r["s_tenths"])
        ps = [r["p_collision"] for r in grp]
        assert ps == sorted(ps), b
        thr = [r for r in grp if r["is_threshold"]]
        assert len(thr) <= 1, b
        if thr:
            k0 = thr[0]["s_tenths"]
            assert all(
                r["p_collision"] < 0.5 for r in grp if r["s_tenths"] < k0
            ), b
    # wider bands push the threshold left (more aggressive candidates)
    thr_of = {
        b: next((r["s_tenths"] for r in grp if r["is_threshold"]), 10)
        for b, grp in by_b.items()
    }
    assert thr_of[16] <= thr_of[4] <= thr_of[1]
