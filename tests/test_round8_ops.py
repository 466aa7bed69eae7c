"""Round-8 additions vs independent python oracles / paper invariants:
DP Laplace release, NDCG@5 audit, Adamic-Adar link prediction, capped
Kneser-Ney, two-lane dedup hashing. The duckdb hash gate proves
cross-engine agreement; these prove the SEMANTICS."""

from __future__ import annotations

import hashlib
import math

SF_DIR = "/root/testdata/sf0.001"


def _md5_long(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


def _trunc6(x: float) -> float:
    return math.floor(x * 1e6) / 1e6


def test_dp_histogram_is_exact_count_plus_deterministic_laplace(spark):
    from daxos_spark.catalog import load_tables
    from daxos_spark.plans.diagnostics import _DP_EPS_INV, q_dp_histogram

    got = {
        (r["o_orderstatus"], r["o_orderpriority"]): (
            r["released_count"],
            r["abs_noise"],
            r["nominal_epsilon"],
        )
        for r in q_dp_histogram(spark, SF_DIR).collect()
    }
    exact = {
        (r["o_orderstatus"], r["o_orderpriority"]): r["n"]
        for r in load_tables(spark, SF_DIR)["orders"]
        .groupBy("o_orderstatus", "o_orderpriority")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert set(got) == set(exact)
    for (st, pr), (released, abs_noise, eps) in got.items():
        u = (_md5_long(f"dp#{st}#{pr}") + 0.5) / 2**56
        noise = -_DP_EPS_INV * (1.0 if u >= 0.5 else -1.0) * math.log(
            1.0 - 2.0 * abs(u - 0.5)
        )
        assert released == _trunc6(exact[(st, pr)] + noise)
        assert abs_noise == _trunc6(abs(noise))
        assert eps == 0.5
    # the mechanism must actually perturb: not every cell lands on its
    # exact count (md5-uniforms make zero noise measure-zero)
    assert any(
        got[k][0] != float(exact[k]) for k in got
    ), "no noise applied anywhere"


def test_ndcg_matches_python_replay_and_bounds(spark):
    from daxos_spark.plans.vecpipe import e_knn_bruteforce
    from daxos_spark.plans.vecpipe2 import v_ndcg_audit, v_trunc_knn

    gold: dict[int, dict[int, int]] = {}
    for r in e_knn_bruteforce(spark, SF_DIR).collect():
        gold.setdefault(r["qid"], {})[r["neighbor_id"]] = r["rk"]
    sysr: dict[int, list[tuple[int, int]]] = {}
    for r in v_trunc_knn(spark, SF_DIR).collect():
        sysr.setdefault(r["qid"], []).append((r["rk"], r["neighbor_id"]))

    def _qsum(terms: list[tuple[int, int]]) -> float:  # (rel, pos)
        return (
            sum(
                math.floor((rel * math.log(2.0)) / math.log(pos + 1.0) * 1e6)
                for rel, pos in terms
            )
            / 1e6
        )

    got = {r["qid"]: (r["n_hits"], r["ndcg"]) for r in v_ndcg_audit(spark, SF_DIR).collect()}
    assert set(got) == set(gold)
    for qid in gold:
        # rel = 6 - gold rank for hits, 0 for misses
        dcg = _qsum(
            [
                (6 - gold[qid][cid] if cid in gold[qid] else 0, pos)
                for pos, cid in sysr[qid]
            ]
        )
        idcg = _qsum([(6 - rk, rk) for rk in gold[qid].values()])
        n_hits = sum(1 for _, cid in sysr[qid] if cid in gold[qid])
        assert got[qid][0] == n_hits
        assert got[qid][1] == _trunc6(dcg / idcg)
        assert 0.0 <= got[qid][1] <= 1.0
        # perfect agreement iff the system ranking equals the gold order
        if [cid for _, cid in sorted(sysr[qid])] == [
            c for c, _ in sorted(gold[qid].items(), key=lambda kv: kv[1])
        ]:
            assert got[qid][1] == 1.0


def test_link_prediction_matches_python_replay(spark):
    from daxos_spark.catalog import load_tables
    from daxos_spark.plans.relational2 import (
        _LP_MAXDEG,
        _copurchase_edges,
        q_link_prediction,
    )

    edges = {
        (r["a"], r["b"])
        for r in _copurchase_edges(load_tables(spark, SF_DIR)["lineitem"]).collect()
    }
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    scores: dict[tuple[int, int], tuple[int, int]] = {}  # (cn, q_micro_sum)
    for z, nbrs in adj.items():
        if len(nbrs) > _LP_MAXDEG or len(nbrs) < 2:
            # deg-1 nodes center no wedge (and ln(1)=0 would divide by
            # zero here; the SQL/Spark plans never evaluate that row)
            continue
        q = math.floor((1.0 / math.log(float(len(nbrs)))) * 1e6)
        ns = sorted(nbrs)
        for i, a in enumerate(ns):
            for b in ns[i + 1 :]:
                cn, s = scores.get((a, b), (0, 0))
                scores[(a, b)] = (cn + 1, s + q)
    cand = [
        (s / 1e6, a, b, cn)
        for (a, b), (cn, s) in scores.items()
        if (a, b) not in edges
    ]
    cand.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = [(a, b, cn, _trunc6(aa)) for aa, a, b, cn in cand[:20]]
    got = [
        (r["a"], r["b"], r["common_neighbors"], r["adamic_adar"])
        for r in q_link_prediction(spark, SF_DIR).collect()
    ]
    assert got == want
    assert len(got) > 0


def test_kn_capped_equals_uncapped_when_cap_exceeds_vocab(spark):
    """top_v >= |vocab| must be a no-op: no token remaps, identical
    per-doc NLL — the cap's correctness boundary."""
    from pyspark.sql import functions as F

    from daxos_spark.catalog import load_tables
    from daxos_spark.plans.textpipe import _KN_OOV, _KN_V, _kn_doc_nll

    d = load_tables(spark, SF_DIR)["documents"]
    base = {
        r["doc_id"]: (r["n_bigrams"], r["nll"])
        for r in _kn_doc_nll(d)[0].collect()
    }
    wide = {
        r["doc_id"]: (r["n_bigrams"], r["nll"])
        for r in _kn_doc_nll(d, top_v=10**6)[0].collect()
    }
    assert base == wide
    # at the gated V the OOV bucket must actually appear in the bigram
    # stream (otherwise the hash gate isn't exercising the remap)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    vocab = [
        r["w"]
        for r in d.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .count()
        .orderBy(F.col("count").desc(), "w")
        .limit(_KN_V)
        .collect()
    ]
    n_types = d.select(F.explode(toks).alias("w")).select("w").distinct().count()
    assert n_types > _KN_V, "corpus vocab no longer exceeds _KN_V - cap inert"
    assert _KN_OOV not in vocab
    spark.catalog.clearCache()


def test_two_lane_jaccard_pairs_identical_below_collision_horizon(spark):
    from daxos_spark.catalog import load_tables
    from daxos_spark.plans.docpipe import _jaccard_edge_pairs

    d = load_tables(spark, SF_DIR)["documents"]
    p1, caches1 = _jaccard_edge_pairs(d)
    p2, caches2 = _jaccard_edge_pairs(d, two_lane=True)
    one = {(r["da"], r["db"]) for r in p1.collect()}
    two = {(r["da"], r["db"]) for r in p2.collect()}
    assert one == two and len(one) > 0
    # the two-lane stream really carries the second lane
    assert "s2" in caches2[0].columns and "s2" not in caches1[0].columns
    spark.catalog.clearCache()


def test_stratified_sample_matches_python_replay(spark):
    import math as _m

    from daxos_spark.catalog import load_tables
    from daxos_spark.plans.textpipe import _SS_N, t_stratified_sample

    docs = [
        (r["doc_id"], r["source"], r["n_chars"])
        for r in load_tables(spark, SF_DIR)["documents"]
        .select("doc_id", "source", "n_chars")
        .collect()
    ]
    by_src: dict[str, list[tuple[float, int, int]]] = {}
    for did, src, nc in docs:
        u = _md5_long(str(did)) / 2**56
        by_src.setdefault(src, []).append((_m.log(u) / nc, did, nc))
    want = []
    for src in sorted(by_src):
        ranked = sorted(by_src[src], key=lambda t: (-t[0], t[1]))[:_SS_N]
        for rk, (k, did, nc) in enumerate(ranked, 1):
            want.append((src, rk, did, nc, _trunc6(k)))
    got = [
        (r["source"], r["rk"], r["doc_id"], r["weight"], r["priority"])
        for r in t_stratified_sample(spark, SF_DIR).collect()
    ]
    assert got == want
    # every stratum filled to min(N, stratum size)
    from collections import Counter

    per = Counter(s for s, *_ in got)
    for src, rows in by_src.items():
        assert per[src] == min(_SS_N, len(rows))
