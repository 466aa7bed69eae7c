"""Round-9 additions: the composed two-lane refinery configuration.
The duckdb hash gate proves cross-engine agreement; these prove the
SEMANTICS (lane widening must be a pure key-width change below the
collision horizon, and the second lane must really be there)."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def test_refinery_lane2_identical_below_collision_horizon(spark):
    """t_refinery_lane2 == t_refinery_linear row-for-row at test
    cardinalities: the 112-bit ExactSubstr keys change NOTHING except
    collision resistance (no 56-bit gram collisions exist here, so any
    funnel-count difference would mean the second lane altered the
    repeat-detection semantics)."""
    from daxos_spark.plans.textpipe import t_refinery_lane2, t_refinery_linear

    lin = {
        (r["stage"], r["stage_name"], r["n_docs"], r["n_tokens"])
        for r in t_refinery_linear(spark, SF_DIR).collect()
    }
    l2 = {
        (r["stage"], r["stage_name"], r["n_docs"], r["n_tokens"])
        for r in t_refinery_lane2(spark, SF_DIR).collect()
    }
    assert lin == l2
    assert len(lin) == 5
    # a real funnel: monotone non-increasing survivor counts by stage
    by_stage = sorted(lin)
    docs = [t[2] for t in by_stage]
    assert docs == sorted(docs, reverse=True)


def test_two_lane_position_stream_carries_both_md5_lanes(spark):
    """The two lanes must be the two 56-bit halves of ONE md5 digest of
    the K-gram text (the _jaccard_edge_pairs convention) — verified
    against a python replay on a tiny frame."""
    import hashlib

    from pyspark.sql import functions as F

    from daxos_spark.plans.textpipe import _SS_K, _ss_position_stream

    toks = [f"w{i % 3}" for i in range(_SS_K + 2)]
    d = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id int, text string"
    )
    _t, pos1 = _ss_position_stream(d)
    _t, pos2 = _ss_position_stream(d, two_lane=True)
    assert "h2" not in pos1.columns
    rows = {r["i"]: (r["h"], r["h2"]) for r in pos2.collect()}
    assert len(rows) == 3  # positions 1..n-K+1
    for i, (h, h2) in rows.items():
        gram = " ".join(toks[i - 1 : i - 1 + _SS_K])
        hx = hashlib.md5(gram.encode()).hexdigest()
        assert h == int(hx[:14], 16)
        assert h2 == int(hx[14:28], 16)
    # single-lane h is the same first lane (md5_long convention)
    one = {r["i"]: r["h"] for r in pos1.collect()}
    assert one == {i: h for i, (h, _h2) in rows.items()}
    spark.catalog.clearCache()


def test_shard_manifest_matches_python_replay(spark):
    """Shard assignment, checksum, and cursor range replayed in pure
    python over the raw parquet — and the two hash lanes must be
    independent draws (shard placement must not order the shard)."""
    import hashlib
    from collections import defaultdict

    import duckdb

    from daxos_spark.plans.textpipe import _SHARDS, t_shard_manifest

    rows = duckdb.connect().execute(
        f"SELECT doc_id, n_chars FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    exp = defaultdict(lambda: [0, 0, 0, None, None])
    for doc_id, n_chars in rows:
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:14], 16)
        o = int(hashlib.md5(f"{doc_id}#9".encode()).hexdigest()[:14], 16)
        e = exp[h % _SHARDS]
        e[0] += 1
        e[1] += n_chars
        e[2] += h % 1000000000
        e[3] = o if e[3] is None else min(e[3], o)
        e[4] = o if e[4] is None else max(e[4], o)
    got = {
        r["shard_id"]: [
            r["n_docs"], r["char_mass"], r["id_checksum"], r["min_ord"], r["max_ord"]
        ]
        for r in t_shard_manifest(spark, SF_DIR).collect()
    }
    assert got == {k: list(v) for k, v in exp.items()}
    # no empty shards at this corpus size, and every doc accounted for
    assert sum(v[0] for v in got.values()) == len(rows)


def test_dp_mean_noise_shrinks_with_cohort_and_mean_is_clipped(spark):
    """released_mean − noise must equal the exact clipped mean, and the
    Laplace scale must be C/(n·ε) — recomputed per group from the same
    md5-uniform draw."""
    import hashlib
    import math

    import duckdb

    from daxos_spark.plans.diagnostics import _DPM_CLIP, _DPM_EPS, q_dp_mean

    con = duckdb.connect()
    exact = {
        p: (n, s)
        for p, n, s in con.execute(
            f"""SELECT o_orderpriority, COUNT(*),
                 CAST(SUM(CAST(LEAST(o_totalprice, {_DPM_CLIP}) AS DECIMAL(25,6))) AS DOUBLE)
               FROM read_parquet('{SF_DIR}/orders.parquet') GROUP BY 1"""
        ).fetchall()
    }
    for r in q_dp_mean(spark, SF_DIR).collect():
        n, s = exact[r["o_orderpriority"]]
        assert r["n"] == n
        u = (
            int(hashlib.md5(f"dpm#{r['o_orderpriority']}".encode()).hexdigest()[:14], 16)
            + 0.5
        ) / 2.0**56
        b = _DPM_CLIP / (n * _DPM_EPS)
        noise = -b * (1.0 if u >= 0.5 else -1.0) * math.log(1.0 - 2.0 * abs(u - 0.5))
        assert abs(r["released_mean"] - math.floor((s / n + noise) * 1e6) / 1e6) < 2e-6
        assert abs(r["abs_noise"] - math.floor(abs(noise) * 1e6) / 1e6) < 2e-6
        # clipped mean can never exceed the clip bound
        assert s / n <= _DPM_CLIP


def test_hll_distinct_matches_python_replay(spark):
    """q_hll_distinct's registers, rank arithmetic and estimate must
    equal an independent python HLL on the same md5-derived hashes —
    and the exact_distinct audit column must equal the true distinct
    count."""
    import hashlib
    import math

    from daxos_spark.plans.diagnostics import q_hll_distinct

    rows = q_hll_distinct(spark, SF_DIR).collect()
    assert rows, "no event types"

    import duckdb

    con = duckdb.connect()
    users = con.execute(
        f"SELECT event_type, user_id FROM read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    by_type: dict[str, list[int]] = {}
    for et, uid in users:
        by_type.setdefault(et, []).append(uid)

    for r in rows:
        uids = by_type[r["event_type"]]
        exact = len(set(uids))
        assert r["exact_distinct"] == exact
        regs = [0] * 256
        for uid in uids:
            h = int(hashlib.md5(f"hll#{uid}".encode()).hexdigest()[:14], 16)
            reg, suf = h & 255, h >> 8
            rho = 49 if suf == 0 else 49 - suf.bit_length()
            regs[reg] = max(regs[reg], rho)
        v = sum(1 for x in regs if x > 0)
        assert r["n_registers"] == v
        zeros = 256 - v
        z = sum(2.0 ** -x for x in regs if x > 0) + zeros
        e_raw = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / z
        e = 256.0 * math.log(256.0 / zeros) if (e_raw <= 640.0 and zeros > 0) else e_raw
        assert abs(r["hll_estimate"] - e) < 1e-5
        # HLL with m=256 has ~6.5% std error; tiny sf cardinalities in
        # the linear-counting regime are much tighter — sanity band
        assert abs(r["hll_estimate"] - exact) / exact < 0.5


def test_soft_dedup_weights_invariants(spark):
    """Every doc appears exactly once; weights are 1/cluster_size; the
    weight mass of each cluster is ~1; cluster sizes reconcile with the
    d_dedup_clusters histogram on the same corpus."""
    from collections import Counter

    from daxos_spark.plans.docpipe import d_dedup_clusters, d_soft_dedup_weights

    w = d_soft_dedup_weights(spark, SF_DIR).collect()
    import duckdb

    n_docs = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    assert len(w) == n_docs
    assert len({r["doc_id"] for r in w}) == n_docs
    for r in w:
        assert r["cluster_size"] >= 1
        assert abs(r["weight"] - (1.0 / r["cluster_size"])) <= 1e-6  # trunc6
    # histogram reconciliation: multi-doc cluster sizes from the weight
    # table must equal d_dedup_clusters' histogram (which only sees
    # docs that have near-dup edges, i.e. cluster_size >= 2)
    hist = {
        r["cluster_size"]: r["n_clusters"]
        for r in d_dedup_clusters(spark, SF_DIR).collect()
    }
    sizes = Counter(r["cluster_size"] for r in w if r["cluster_size"] >= 2)
    derived = {sz: cnt // sz for sz, cnt in sizes.items()}
    assert derived == {sz: n for sz, n in hist.items() if sz >= 2}


def test_char_entropy_matches_python_replay(spark):
    """Per-source entropy stats equal an exact python recomputation
    (same Σ c·ln c / trunc6 pipeline) on the raw parquet text."""
    import math
    from collections import Counter

    from daxos_spark.plans.textpipe import t_char_entropy

    def t6(x: float) -> float:
        return math.floor(x * 1e6) / 1e6

    rows = {r["source"]: r for r in t_char_entropy(spark, SF_DIR).collect()}

    import duckdb

    docs = duckdb.connect().execute(
        f"SELECT source, text FROM read_parquet('{SF_DIR}/documents.parquet') WHERE length(text) >= 1"
    ).fetchall()
    per_source: dict[str, list[float]] = {}
    for source, text in docs:
        n = len(text)
        cnt = Counter(text)
        s = sum(c * math.log(c) for c in cnt.values())
        ent = t6((math.log(n) - s / n) / math.log(2.0))
        per_source.setdefault(source, []).append(ent)

    assert set(rows) == set(per_source)
    for src, ents in per_source.items():
        r = rows[src]
        assert r["n_docs"] == len(ents)
        # engines run Σ c·ln c through the DECIMAL(25,6) ladder; the
        # python replay sums exact floats — allow one trunc6 step
        assert abs(r["min_entropy_bits"] - min(ents)) < 2e-6
        assert abs(r["max_entropy_bits"] - max(ents)) < 2e-6
        assert r["n_low_entropy"] == sum(1 for x in ents if x < 3.5)
        assert abs(r["avg_entropy_bits"] - t6(sum(ents) / len(ents))) < 2e-6


def test_simhash56_matches_python_replay(spark):
    """The per-row simhash56 SQL expression == a python md5
    majority-vote replay on a tiny frame (the fingerprint the banded
    near-dup join blocks on)."""
    import hashlib

    from pyspark.sql import functions as F

    from daxos_spark.functions.hashing import simhash56_sql

    toks = ["alpha", "beta", "alpha", "gamma", "beta", "alpha"]
    d = spark.createDataFrame([(1, " ".join(toks))], "doc_id int, text string")
    got = (
        d.select(F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("tk"))
        .select(F.expr(simhash56_sql("tk")).alias("sh"))
        .collect()[0]["sh"]
    )
    hashes = [int(hashlib.md5(t.encode()).hexdigest()[:14], 16) for t in toks]
    want = 0
    for b in range(56):
        votes = sum((h >> b) & 1 for h in hashes)
        if 2 * votes > len(hashes):
            want |= 1 << b
    assert got == want


def test_simhash_neardup_banding_is_lossless(spark):
    """Pigeonhole guarantee: the 4×14-bit band join must produce
    EXACTLY the pairs a brute-force all-pairs Hamming ≤ 3 scan finds
    (4 bands, ≤ 3 flipped bits → ≥ 1 band untouched)."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from daxos_spark.catalog import load_tables
    from daxos_spark.functions import text as T
    from daxos_spark.functions.hashing import simhash56_sql
    from daxos_spark.plans.docpipe2 import _SIMHASH_K, d_simhash_neardup

    d = load_tables(spark, SF_DIR)["documents"]
    prints = {
        r["doc_id"]: r["sh"]
        for r in d.select(
            "doc_id", T.tokens(F.col("text")).alias("tk")
        ).select("doc_id", F.expr(simhash56_sql("tk")).alias("sh")).collect()
    }
    brute = {
        (a, b): bin(prints[a] ^ prints[b]).count("1")
        for a, b in combinations(sorted(prints), 2)
        if bin(prints[a] ^ prints[b]).count("1") <= _SIMHASH_K
    }
    got = {
        (r["da"], r["db"]): r["hamming"]
        for r in d_simhash_neardup(spark, SF_DIR).collect()
    }
    assert got == brute
    assert got  # non-vacuous: the corpus plants near-identical docs


def test_sorted_neighborhood_matches_python_replay(spark):
    """Full python replay of multi-pass SNM (sort by key within
    (source, 4-char prefix) buckets, window W, forward + reversed
    keys, 3-shingle Jaccard, top-20): flags, pair set, and jaccard
    must all match."""
    from collections import defaultdict

    from daxos_spark.catalog import load_tables
    from daxos_spark.plans.docpipe2 import _SNM_W, d_sorted_neighborhood

    rows = load_tables(spark, SF_DIR)["documents"].select(
        "doc_id", "source", "text"
    ).collect()
    docs = {r["doc_id"]: (r["source"], r["text"].strip().lower()) for r in rows}

    def cand_pass(keyfn):
        buckets = defaultdict(list)
        for did, (src, txt) in docs.items():
            k = keyfn(txt)
            buckets[(src, k[:4])].append((k, did))
        pairs = set()
        for b in buckets.values():
            b.sort()
            for i in range(len(b)):
                for j in range(i + 1, min(i + _SNM_W + 1, len(b))):
                    da, db = sorted((b[i][1], b[j][1]))
                    pairs.add((da, db))
        return pairs

    fwd = cand_pass(lambda t: t)
    rev = cand_pass(lambda t: t[::-1])

    def shingles(txt):
        tk = txt.split()
        n = max(len(tk) - 2, 1)
        return {" ".join(tk[i : i + 3]) for i in range(n)}

    import math

    scored = []
    for da, db in fwd | rev:
        sa, sb = shingles(docs[da][1]), shingles(docs[db][1])
        ni = len(sa & sb)
        if not ni:
            continue
        j = math.floor(ni / (len(sa) + len(sb) - ni) * 1e6) / 1e6
        scored.append((-j, da, db, int((da, db) in fwd), int((da, db) in rev)))
    scored.sort()
    want = [(da, db, f, r, -nj) for nj, da, db, f, r in scored[:20]]
    got = [
        (r["da"], r["db"], r["found_fwd"], r["found_rev"], r["jaccard"])
        for r in d_sorted_neighborhood(spark, SF_DIR).collect()
    ]
    assert got == want


def test_trade_shortest_path_matches_python_bellman_ford(spark):
    """Python Bellman-Ford over the collected (≤ 2·|V|-row) edge
    relation == the iterative join plan: min cost within ≤ 6 hops,
    ties → fewer hops, source at distance 0."""
    from daxos_spark.plans.relational2 import (
        _SSSP_EDGES_SQL,
        _SSSP_HOPS,
        _SSSP_SOURCE,
        q_trade_shortest_path,
    )
    from daxos_spark.catalog import load_tables, register_views

    register_views(spark, SF_DIR)
    edges = [
        (r["sn"], r["cn"], r["cost"]) for r in spark.sql(_SSSP_EDGES_SQL).collect()
    ]
    names = {
        r["n_nationkey"]: r["n_name"]
        for r in load_tables(spark, SF_DIR)["nation"].collect()
    }
    dist = {_SSSP_SOURCE: (0, 0)}
    for _ in range(_SSSP_HOPS):
        new = dict(dist)
        for sn, cn, c in edges:
            if sn in dist:
                cand = (dist[sn][0] + c, dist[sn][1] + 1)
                if cn not in new or cand < new[cn]:
                    new[cn] = cand
        dist = new
    want = sorted(
        (cost, names[nk], hop) for nk, (cost, hop) in dist.items()
    )
    got = [
        (r["min_cost_micro"], r["n_name"], r["hops"])
        for r in q_trade_shortest_path(spark, SF_DIR).collect()
    ]
    assert got == want
    assert got[0][0] == 0  # the source itself


def test_dp_quantile_matches_python_replay(spark):
    """Exponential-mechanism replay: bucket histogram → integer rank
    utility → md5-Gumbel argmax, plus the exact integer median edge."""
    import hashlib
    import math

    from daxos_spark.catalog import load_tables
    from daxos_spark.plans.diagnostics import _DPQ_BUCKET, _DPQ_EPS, q_dp_quantile

    orders = load_tables(spark, SF_DIR)["orders"].select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    from collections import Counter, defaultdict

    hist = defaultdict(Counter)
    for r in orders:
        hist[r["o_orderpriority"]][int(r["o_totalprice"] // _DPQ_BUCKET)] += 1
    want = []
    for prio in sorted(hist):
        ks = sorted(hist[prio])
        n = sum(hist[prio].values())
        below = 0
        best, tk = None, None
        for k in ks:
            below += hist[prio][k]
            u2 = -abs(2 * below - n)
            h = int(hashlib.md5(f"dpq#{prio}#{k}".encode()).hexdigest()[:14], 16)
            u = (h + 0.5) / 2**56
            key = u2 * _DPQ_EPS / 4.0 - math.log(-math.log(u))
            if best is None or key > best[0]:
                best = (key, k)
            if tk is None and 2 * below >= n:
                tk = k
        want.append(
            (
                prio,
                n,
                (best[1] + 1) * _DPQ_BUCKET,
                (tk + 1) * _DPQ_BUCKET,
                abs(best[1] - tk),
            )
        )
    got = [
        (
            r["o_orderpriority"],
            r["n"],
            r["dp_median_edge"],
            r["true_median_edge"],
            r["abs_err_buckets"],
        )
        for r in q_dp_quantile(spark, SF_DIR).collect()
    ]
    assert got == want


def test_shot_boundaries_matches_python_replay(spark):
    """Frame fan-out + byte-sum signature + lag-threshold replay."""
    from collections import defaultdict

    from daxos_spark.catalog import load_tables
    from daxos_spark.plans.blobpipe import _SHOT_FRAME, _SHOT_TAU, m_shot_boundaries

    docs = load_tables(spark, SF_DIR)["documents"].select(
        "doc_id", "source", "text"
    ).collect()
    agg = defaultdict(lambda: [set(), 0, 0])  # assets, frames, boundaries
    for r in docs:
        raw = r["text"].encode()
        sums = [
            sum(raw[i : i + _SHOT_FRAME])
            for i in range(0, len(raw), _SHOT_FRAME)
        ]
        a = agg[r["source"]]
        a[0].add(r["doc_id"])
        a[1] += len(sums)
        a[2] += sum(
            1 for p, c in zip(sums, sums[1:]) if abs(c - p) > _SHOT_TAU
        )
    want = [
        (src, len(a[0]), a[1], a[2], a[2] + len(a[0]))
        for src, a in sorted(agg.items())
    ]
    got = [
        (r["source"], r["n_assets"], r["n_frames"], r["n_boundaries"], r["n_shots"])
        for r in m_shot_boundaries(spark, SF_DIR).collect()
    ]
    assert got == want
    assert any(a[3] > 0 for a in want)  # thresholds actually fire


def test_rotated_bq_words_match_pure_python_replay(spark):
    """The Arrow-UDF rotated sign words == a pure-python (no numpy)
    Walsh-Hadamard replay: y_j = Σ_i (−1)^popcount(i&j)·floor(x_i·1000),
    word bits from y_j > 0."""
    import math

    from pyspark.sql import functions as F

    from daxos_spark.catalog import load_tables
    from daxos_spark.plans.vecpipe2 import _rot_word_udfs

    e = load_tables(spark, "/root/testdata/sf0.001")["embeddings"].filter(
        F.col("vec_id") < 8
    )
    rot_w0, rot_w1 = _rot_word_udfs()
    got = {
        r["vec_id"]: (r["r0"], r["r1"])
        for r in e.select(
            "vec_id",
            rot_w0(F.col("embedding")).alias("r0"),
            rot_w1(F.col("embedding")).alias("r1"),
        ).collect()
    }
    for r in e.select("vec_id", "embedding").collect():
        xq = [math.floor(float(x) * 1000.0) for x in r["embedding"]]
        y = [
            sum(
                (x if bin(i & j).count("1") % 2 == 0 else -x)
                for i, x in enumerate(xq)
            )
            for j in range(64)
        ]
        w0 = sum(1 << b for b in range(32) if y[b] > 0)
        w1 = sum(1 << b for b in range(32) if y[32 + b] > 0)
        assert got[r["vec_id"]] == (w0, w1)


def test_rotated_bq_recall_audit_invariants(spark):
    """recall counters bounded by k_exact; the orthogonal rotation must
    leave the exact gold untouched (k_exact == 5 per query)."""
    from daxos_spark.plans.vecpipe2 import v_rotated_bq_recall

    rows = v_rotated_bq_recall(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 10
    for r in rows:
        assert r["k_exact"] == 5
        assert 0 <= r["n_plain"] <= 5
        assert 0 <= r["n_rotated"] <= 5
