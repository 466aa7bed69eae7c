"""Row/column subsetting of the fact table — P1-P5, J3/J4 (reference
daxos/read.py:184-215, daxos/explain.py:10-31).

Row subsetting is a semi/anti join against an ID DataFrame (never a
collected list — scales to any ID count). Column subsetting gathers
elements out of the ``features`` array; two physical strategies:

  - expression gather (array of element_at) — O(k) expression, best for
    k ≤ ~1k selected columns;
  - explode→semi-join→re-assemble — shuffle-based, for huge k (the
    215k-column regime, SURVEY §7.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from ..sources.plink import MatrixDataset

_EXPR_GATHER_MAX = 1024


def subset_rows_by_ids(fact: DataFrame, ids: DataFrame, keep: bool = True) -> DataFrame:
    """P1/J3 semi-join row filter (read.py:201-207) or J4 anti-join
    complement (split_ids.py:50-51)."""
    how = "left_semi" if keep else "left_anti"
    # rename first: Spark's case-insensitive resolution would make a
    # bare `IID` ambiguous against the fact table's `iid`.
    # No broadcast hint: a small ID list auto-broadcasts under the
    # session threshold; a huge one must be allowed to shuffle-join
    # rather than OOM the driver.
    id_side = ids.select(F.col("IID").alias("__subset_iid"))
    return fact.join(id_side, fact["iid"] == F.col("__subset_iid"), how)


def _positions_for(cols: list[str], names: list[str], match_prefix: bool) -> list[int]:
    """P2 name matching (read.py:210-215) over the SNP name list: SNP
    names are `rs<id>_<allele>`; subsetting matches on the prefix before
    '_' when match_prefix."""
    if match_prefix:
        wanted = {n.split("_")[0] for n in names}
        return [p for p, snp in enumerate(cols) if snp.split("_")[0] in wanted]
    wanted = set(names)
    return [p for p, snp in enumerate(cols) if snp in wanted]


def subset_columns(
    ds: MatrixDataset,
    names: list[str],
    match_prefix: bool = True,
    features_col: str = "features",
) -> MatrixDataset:
    """P2/P3 column projection by SNP name; returns new dataset whose
    name list is the kept names in their original order."""
    pos = _positions_for(ds.cols, names, match_prefix)
    if not pos:
        raise ValueError("no columns matched")

    if len(pos) <= _EXPR_GATHER_MAX:
        gathered = F.array(*[F.element_at(F.col(features_col), p + 1) for p in pos])
        fact = ds.fact.withColumn(features_col, gathered)
    else:
        # explode → filter positions (broadcast semi-join) → reassemble
        # ordered by original pos. Scales to any k; one shuffle on row_idx.
        pos_df = F.broadcast(local_frame(ds.fact.sparkSession, {"pos": pos}, "pos int"))
        other = [c for c in ds.fact.columns if c != features_col]
        exploded = ds.fact.select(*other, F.posexplode(features_col).alias("pos", "__v"))
        kept = exploded.join(pos_df, "pos", "left_semi")
        fact = (
            kept.groupBy(*other)
            .agg(F.array_sort(F.collect_list(F.struct("pos", "__v"))).alias("__pv"))
            .withColumn(features_col, F.transform("__pv", lambda s: s["__v"]))
            .drop("__pv")
        )

    return MatrixDataset(fact=fact, cols=[ds.cols[p] for p in pos])


def head_subsample(fact: DataFrame, n: int) -> DataFrame:
    """P8 head-N subsample (crossvalidate.py:398-404): valid as a
    *random* subsample only because data is pre-shuffled at rest (O2) —
    same contract as the reference. Uses row_idx < n, not limit(), so
    the result is deterministic and partition-parallel."""
    return fact.filter(F.col("row_idx") < n)
