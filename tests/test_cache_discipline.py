"""Guards for the cache-lifetime discipline (rounds 5-6): every
function in daxos_spark/plans and daxos_spark/operators that persists
more than it unpersists must either be a *_lazy/shared helper whose
callers release the caches, return a frame that reads its cache (listed
with the reason), or release them itself by checkpointing its output
(registry.checkpoint_release). A new query that leaks a persist() fails
here before it ever reaches a review. Caching queries have one
lifecycle, so plan_audit audits the same callable production runs; the
runtime tests below check that it still sees the pipeline behind the
final checkpoint, and that tools/dump_plan.py --normalize makes two
dumps of one query comparable."""

from __future__ import annotations

import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCANNED = [ROOT / "daxos_spark" / "plans", ROOT / "daxos_spark" / "operators"]
SF_DIR = "/root/testdata/sf0.001"

# helpers whose persisted relations are released by their CALLERS
# (they return the cache handle alongside the result)
CALLER_RELEASED = {
    "shingle_overlap",
    "_jaccard_edge_pairs",
    "_ss_position_stream",
    "_bigram_scored",
    "_kn_doc_nll",
    "_semdedup_marks",
    "_semantic_pairs",
    "_lr_pipeline",
    "_bpe_learn",
}

# persists the returned DataFrame itself reads, so no caller can
# release them before it is done with the result
READ_BY_RESULT = {
    "operators/indexing.py:with_row_idx": "the per-partition count action and the "
    "returned offset join must see one partitioning, and the returned "
    "frame reads that cache",
}


def test_no_unreleased_persists():
    offenders = []
    for p in sorted(f for d in SCANNED for f in d.glob("*.py")):
        for chunk in re.split(r"\ndef ", p.read_text()):
            name = chunk.split("(")[0].strip()
            n_p = chunk.count(".persist()")
            n_u = chunk.count(".unpersist()")
            if n_p <= n_u:
                continue
            if name in CALLER_RELEASED or name.endswith("_lazy"):
                continue
            if f"{p.parent.name}/{p.name}:{name}" in READ_BY_RESULT:
                continue
            if "checkpoint_release(" in chunk:
                continue
            offenders.append(f"{p.name}:{name} (+{n_p - n_u})")
    assert not offenders, (
        "unreleased persist() outside the discipline: " + ", ".join(offenders)
    )


def test_plan_audit_sees_past_the_final_checkpoint(spark):
    """t_dedup_best_keep ends in checkpoint_release, so the DataFrame it
    returns plans as a bare RDD scan. The audit's capture must still
    record the shingle explode and the bucket collect behind it, and
    the audit must pass on what it records."""
    sys.path.insert(0, str(ROOT / "tools"))
    from plan_audit import audit_plan, query_plans

    from daxos_spark.plans import get_specs

    plans = query_plans(get_specs()["t_dedup_best_keep"].spark, spark, SF_DIR)
    spark.catalog.clearCache()
    assert "Scan ExistingRDD" in plans[-1]
    seen = "\n".join(plans[:-1])
    assert re.search(r"Generate explode\(array_distinct\(CASE WHEN", seen)
    assert re.search(
        r"HashAggregate\(keys=\[source#\d+, s#\d+L\], functions=\[collect_list", seen
    )
    assert audit_plan("\n".join(plans), "t_dedup_best_keep") == []


def test_normalized_dumps_ignore_earlier_queries(spark):
    """Dumps of one query made after different earlier work in the same
    process differ in expression ids, lambda-variable numbers and the
    group order of distinct-aggregate Expand nodes, and normalize to one
    text. d_minhash_signatures has lambdas; t_html_dedup_recovery has a
    distinct-aggregate Expand, whose group order follows expression ids,
    so its dumps are repeated until two orders have been seen."""
    from pyspark.sql import functions as F

    sys.path.insert(0, str(ROOT / "tools"))
    from dump_plan import dump, normalize

    first = dump(spark, "d_minhash_signatures", SF_DIR)
    spark.catalog.clearCache()
    dump(spark, "t_minhash_accuracy", SF_DIR)
    spark.catalog.clearCache()
    second = dump(spark, "d_minhash_signatures", SF_DIR)
    assert re.search(r"lambda x_\d+", first) and first != second
    assert normalize(first) == normalize(second)
    assert "lambda x_1#" in normalize(first)

    def expand_args(plan):
        return [l for l in re.sub(r"#\d+", "#", plan).splitlines() if l.startswith("Arguments: [[")]

    dumps = []
    for k in range(16):
        spark.range(1).select(*[F.lit(i).alias(f"c{i}") for i in range(k + 1)]).columns
        dumps.append(dump(spark, "t_html_dedup_recovery", SF_DIR))
        spark.catalog.clearCache()
        if len({tuple(expand_args(d)) for d in dumps}) > 1:
            break
    assert len({tuple(expand_args(d)) for d in dumps}) > 1
    assert len({normalize(d) for d in dumps}) == 1
