#!/usr/bin/env python
"""Adversarial vocabulary probe for the Kneser-Ney chain (round-8 ask
#5's measurement): does the top-V cap (t_kneser_ney_capped) flatten the
cost curve once the vocabulary stops saturating?

The harness corpus has only 31 Zipf-collapsed word types (token-
bijected replicas reach ~930 at 30×), so the bigram-TYPE tables are
always trivial next to the token-INSTANCE stream — to expose the
vocab~heap regime of real web text, this probe synthesizes a corpus
where EVERY token is suffixed with its doc_id: vocabulary ~ token
instances (~116k types at sf0.1), the worst case for vocabulary-keyed
state. It then times the uncapped vs capped chain on it.

Measured result (this box, sf0.1 mass, 116k types): uncapped 4.4 s,
capped 5.4 s — the cap does NOT win wall-clock even here, because the
vocab-selection pass costs one extra corpus scan while the type-keyed
aggregates remain cheap at any single-box data mass. The cap's value is
the BOUND, not harness latency: capped count tables are ≤(V+1)² rows
regardless of corpus size, so at 100 TB the c2/continuation aggregates
and their shuffles stay fixed-size where the uncapped ones grow with
type mass (~ heap for web text). Same verdict shape as the round-7
K∝n SemDeDup analysis: measure, don't assert — and say which regime
the variant is for.

Usage: python tools/kn_vocab_probe.py [out_dir]  (default
       tmp_kn_adv/ in the checkout; synthesis skipped when present)
"""

from __future__ import annotations

import os
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

BASE = "/root/testdata/sf0.1"


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else f"{REPO}/tmp_kn_adv"
    from daxos_spark.catalog import TABLES, load_tables
    from daxos_spark.session import get_spark

    spark = get_spark("kn_vocab_probe")
    t = load_tables(spark, BASE)
    if not os.path.exists(f"{out}/documents.parquet"):
        os.makedirs(out, exist_ok=True)
        d = t["documents"].withColumn(
            "text",
            F.concat_ws(
                " ",
                F.transform(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                    lambda tok: F.concat(
                        tok, F.lit("_"), F.col("doc_id").cast("string")
                    ),
                ),
            ),
        )
        d.repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")
        for name in TABLES:
            if name != "documents":
                t[name].write.mode("overwrite").parquet(f"{out}/{name}.parquet")
        print("synthesized", out)

    import __spark_entry__ as E

    qs = E.queries()
    for name in ("t_kneser_ney_ppl", "t_kneser_ney_capped"):
        qs[name](spark, out).write.format("noop").mode("overwrite").save()  # warm
        spark.catalog.clearCache()
        t0 = time.time()
        qs[name](spark, out).write.format("noop").mode("overwrite").save()
        print(f"{name}: {time.time() - t0:.2f}s", flush=True)
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
