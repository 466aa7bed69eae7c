#!/usr/bin/env python
"""Sustainable-rate probe for the stateful streaming monitors (round-8
ask #3's stream-rate note).

Replays the sf0.1 events table (100k events, 1.5k users) through a
stateful pipeline as N_SLICES single-file micro-batches
(maxFilesPerTrigger=1 — the test replay convention) into a noop sink
and reports end-to-end wall, per-micro-batch wall, and events/sec.

What the number MEANS at scale: these monitors keep bounded per-key
state (hdr_latency_stream: ≤ ~16·64 bucket ints per user, bounded by
the value DOMAIN), so per-micro-batch cost is O(batch rows + touched
keys) and the measured events/sec is a per-core-pool sustainable rate —
state size never grows past the key space, and the shuffle per batch is
keyed by user_id only. Scaling the rate means more shuffle partitions,
not more state.

Usage: python tools/stream_rate_probe.py [pipeline] [n_slices]
       pipeline in {hdr_latency_stream, lateness_monitor_stream,
       cdc_upsert_stream? (no: different source shape)} — default hdr.
"""

from __future__ import annotations

import pathlib
import shutil
import sys
import tempfile
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

BASE = "/root/testdata/sf0.1"
EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def main() -> int:
    name = sys.argv[1] if len(sys.argv) > 1 else "hdr_latency_stream"
    n_slices = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from daxos_spark import streaming as _s  # noqa: F401 — package import
    from daxos_spark.catalog import load_tables
    from daxos_spark.session import get_spark
    from daxos_spark.streaming import pipelines

    pipe = getattr(pipelines, name)
    spark = get_spark("stream_rate_probe")

    ev = load_tables(spark, BASE)["events"]
    n_events = ev.count()
    hi = ev.agg(F.max("event_id")).first()[0] + 1
    tmp = tempfile.mkdtemp(prefix="stream_rate_")
    try:
        # one part FILE per slice → each micro-batch is exactly one
        # event_id range (the coalesce(1) test convention)
        for i in range(n_slices):
            lo_c, hi_c = i * hi // n_slices, (i + 1) * hi // n_slices
            ev.filter(
                (F.col("event_id") >= lo_c) & (F.col("event_id") < hi_c)
            ).coalesce(1).write.parquet(f"{tmp}/slice={i}")

        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(tmp)
        )
        t0 = time.time()
        q = (
            pipe(stream)
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
        batches = [
            p for p in (q.recentProgress or []) if p and p.get("numInputRows", 0) > 0
        ]
        print(
            f"{name}: {n_events} events / {len(batches)} micro-batches "
            f"in {wall:.1f}s = {n_events / wall:,.0f} events/s "
            f"(mean batch {wall / max(len(batches), 1) * 1000:.0f} ms)"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
