#!/usr/bin/env python
"""Measured probe for the T7 continuation collect (SCALE.md entry).

``_xgb_continue`` (ml/train.py) is the repo's single driver-side
fact-data path: each warm-start round Arrow-collects its chunk-aligned
subsample to the driver before calling native
``xgboost.train(..., xgb_model=prior)``. This probe measures that
collect at the two shapes that matter:

  * narrow  — the MAX_CONTINUE_ROWS row-cap shape (2M rows × p=50)
  * wide    — the reference's production geometry (daxos runs 28k×215k;
              a 0.1 read-subsample round is 2.8k rows × 215k cols). We
              measure p=21,500 (×10 under) and extrapolate linearly —
              the collect is O(bytes) with no per-column overhead.

Prints one JSON line per shape: rows, p, float32 matrix MB, collect
seconds, MB/s. Run: python tools/continue_probe.py
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import numpy as np
from pyspark.sql import functions as F

from daxos_spark.session import get_spark


def probe(spark, rows: int, p: int, label: str) -> dict:
    df = (
        spark.range(rows)
        .select(
            F.col("id").alias("row_idx"),
            F.transform(
                F.sequence(F.lit(1), F.lit(p)),
                lambda i: (F.col("id") % 97 + i % 13).cast("float") / 13.0,
            ).alias("features"),
            (F.col("id") % 2).cast("double").alias("label"),
        )
    )
    df.count()  # materialize the plan once so codegen isn't in the timing
    t0 = time.time()
    pdf = df.select("features", "label").toPandas()
    X = np.asarray(pdf["features"].tolist(), dtype=np.float32)
    wall = time.time() - t0
    mb = X.nbytes / 1e6
    out = {
        "shape": label,
        "rows": rows,
        "p": p,
        "f32_mb": round(mb, 1),
        "collect_sec": round(wall, 2),
        "mb_per_sec": round(mb / wall, 1),
    }
    print(json.dumps(out))
    return out


def main() -> int:
    spark = get_spark()
    probe(spark, 2_000_000, 50, "narrow_rowcap")
    probe(spark, 2_800, 21_500, "wide_ref_tenth")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
