"""Streaming pipelines over the events schema.

Each transformation takes a (possibly streaming) DataFrame and returns
a DataFrame — identical logic runs in batch mode, which is how the
duckdb oracle gate checks the semantics (plans/streampipe.py registers
the batch twins). Watermarks bound state at scale: an hourly window
with a 2-hour watermark keeps O(active windows × keys) state per
executor regardless of total stream length.

Scale notes: windowed aggregation state is partitioned by (window, key)
— the standard shuffle; session windows use Spark's built-in
session_window merge; the stateful per-user running totals use
applyInPandasWithState (Arrow-batched per group, the PySpark-native
custom stateful operator).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# raw harness parquet carries ts as int64 nanoseconds (see catalog.py)
RAW_EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    assume_nanos_if_empty: bool = False,
    min_valid_nanos: int = 100_000_000_000_000_000,
) -> DataFrame:
    """File-source stream over the harness events parquet.

    ``min_valid_nanos`` drives the nanos-branch misparse guard: raw int64
    ts values in (0, min_valid_nanos) fail the batch loudly (an INT64
    micros file read through the nanos schema yields values ~1000×
    small — see the guard comment below). NULL and exactly-0 sentinel
    rows pass through. The default (1e17 ≈ 1973-03 in nanos) means a
    legitimately-nanos stream of PRE-1973 nonzero instants needs the
    threshold lowered (or 0 to disable the guard) — event streams
    essentially never carry such timestamps, but the knob exists so the
    guard can't permanently wedge one that does. ``min_valid_nanos <= 0``
    skips the guard column entirely (negative pre-1970 nanos included).

    ``readStream`` needs a directory; ``pathGlobFilter`` narrows it to
    the events file. ``maxFilesPerTrigger=1`` gives deterministic
    micro-batches in tests; a production deployment would point this at
    an arriving-files directory or Kafka source with the same schema.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Sniff the physical ts type from the batch reader: TIMESTAMP(NANOS)
    # files surface as bigint under the nanosAsLong conf, while
    # micros-precision files arrive as a plain timestamp. The stream
    # schema must match the file's physical type (a file-source stream
    # cannot infer), so pick the matching schema + restore step.
    try:
        ts_dtype = dict(
            spark.read.parquet(os.path.join(sf_dir, "events.parquet")).dtypes
        )["ts"]
    except AnalysisException:
        # Arriving-files directory where no file landed yet: the sniff
        # cannot know the physical ts layout, and silently guessing
        # would misread a micros-precision first file at runtime rather
        # than at setup. Fail loudly unless the caller explicitly opts
        # into the harness writer's TIMESTAMP(NANOS) layout.
        if not assume_nanos_if_empty:
            raise ValueError(
                f"no events.parquet under {sf_dir!r} yet — the ts physical type "
                "cannot be sniffed from an empty directory. Pass "
                "assume_nanos_if_empty=True to start the stream with the "
                "TIMESTAMP(NANOS)/bigint layout (the harness writer's), or "
                "create the first file before constructing the stream."
            ) from None
        ts_dtype = "bigint"
    if ts_dtype not in ("bigint", "timestamp", "timestamp_ntz"):
        raise TypeError(
            f"events.parquet ts column has unsupported physical type {ts_dtype!r}; "
            "expected TIMESTAMP(NANOS) (bigint under nanosAsLong) or micros timestamp"
        )
    ts_is_nanos = ts_dtype == "bigint"
    # micros ts (plain or NTZ physical) reads through EVENT_SCHEMA's
    # TimestampType: watermarks require TIMESTAMP (not NTZ), and with
    # the session TZ pinned UTC the NTZ micros are the same instants.
    raw = (
        spark.readStream.schema(RAW_EVENT_SCHEMA if ts_is_nanos else EVENT_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(sf_dir)
    )
    if ts_is_nanos:
        # Loud misparse guard: an INT64 micros-precision file read
        # through the bigint nanos schema does NOT fail in the parquet
        # reader (the physical type matches; only INT96 files raise a
        # conversion error) — it silently yields values ~1000x too
        # small, landing every timestamp in 1970. Nanos for any instant
        # after 1973-03 exceed 1e17 while micros stay below 1e17 until
        # year ~5138, so one threshold separates the layouts; fail the
        # batch instead of shifting time. (Verified by
        # test_read_events_stream_optin_micros_first_file_fails_loudly.)
        guard = F.when(
            F.col("ts").isNull()
            | (F.col("ts") == 0)  # epoch-0 sentinel rows are legitimate
            | (F.col("ts") > F.lit(min_valid_nanos)),
            F.col("ts"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("events stream: ts value "),
                    F.col("ts").cast("string"),
                    F.lit(
                        " is too small for the TIMESTAMP(NANOS) layout — a "
                        "micros-precision file likely arrived in a stream "
                        "constructed for the nanos layout; rebuild the stream "
                        "so read_events_stream can re-sniff the physical type"
                    ),
                )
            ).cast("long")
        )
        if min_valid_nanos > 0:
            raw = raw.withColumn("ts", guard)
        # integer div, NOT double: int64 nanos exceed double's 2^53
        # exact range (same rationale as catalog.load_tables)
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def hourly_event_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked hourly tumbling-window counts per event type
    (streaming twin of q_events_hourly)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("hour"), "event_type", "n_events")
    )


def session_stats(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Per-user session windows (merge-on-gap) → one row per session.

    Streaming uses the built-in session_window merge; state is bounded
    by the watermark (sessions older than it are finalized and evicted).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exact stream dedup on event_id within the watermark horizon —
    the streaming form of hash-groupBy dedup (state = seen ids inside
    the watermark window only, so memory is bounded)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum(value))
    via applyInPandasWithState — the PySpark-native arbitrary-state API
    (Arrow-batched per key group; state is a 2-tuple per user)."""
    import pandas as pd  # local import: executors need it, driver may not

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [total]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cdc_upsert_stream(events: DataFrame, tombstone: str = "error") -> DataFrame:
    """Streaming CDC changelog apply: per-key latest-wins upsert with
    tombstone deletes — the incremental twin of the batch
    ``operators.temporal.latest_by_key`` / ``q_cdc_apply`` compaction
    (Debezium feed → continuously-materialized lakehouse table).

    State per user_id: the lexicographic-max (ts_us, event_id) change
    seen so far plus its payload. Each micro-batch re-emits a key's
    CURRENT materialized row only when that key received changes
    (update mode), flagged ``is_deleted`` when the winning op is the
    tombstone — exactly the (upsert | delete) record a downstream
    MERGE sink consumes. State is one fixed-width tuple per live key,
    partitioned by user_id: O(keys) regardless of changelog length,
    the same bound as the batch groupBy.
    """
    import pandas as pd  # local import: executors need it, driver may not

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts_us", LongType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("is_deleted", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ts_us", LongType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        best = state.get if state.exists else None  # (ts_us, eid, type, value)
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            # vectorized per-batch argmax: sort by the total order
            # (ts, event_id unique tiebreak), take the last row
            cand = pdf.assign(
                __ts_us=pdf["ts"].astype("int64") // 1000
            ).sort_values(["__ts_us", "event_id"]).iloc[-1]
            ck = (int(cand["__ts_us"]), int(cand["event_id"]))
            if best is None or ck > (best[0], best[1]):
                val = cand["value"]
                best = (
                    ck[0],
                    ck[1],
                    str(cand["event_type"]),
                    None if pd.isna(val) else float(val),
                )
        state.update(best)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "ts_us": [best[0]],
                "event_id": [best[1]],
                "event_type": [best[2]],
                "value": [best[3]],
                "is_deleted": [best[2] == tombstone],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def lateness_monitor_stream(events: DataFrame) -> DataFrame:
    """Per-user event-time disorder monitor — the streaming face of
    q_watermark_lateness (which SIZES watermarks offline; this WATCHES
    the live feed): arbitrary state keeps each user's running max
    event time in arrival order, and every micro-batch emits the
    user's cumulative counters (events seen, late events, worst
    lateness in µs). Lateness of an event = running max of
    earlier-arriving event times minus its own, clamped at 0 — exactly
    the quantity a watermark must exceed to never drop the event.
    State per user is four longs (max_ts, n, n_late, worst),
    partitioned by user_id: O(keys) forever, the same bound as
    cdc_upsert_stream. All of a group's chunks are gathered and sorted
    ONCE per micro-batch (a group larger than the Arrow chunk size
    arrives as several pandas frames in shuffle-fetch order — sorting
    each independently would misorder the running max), so replays are
    deterministic."""
    import pandas as pd  # local import: executors need it, driver may not

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("n_late", LongType()),
            StructField("max_late_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("max_ts", LongType()),
            StructField("n", LongType()),
            StructField("n_late", LongType()),
            StructField("worst", LongType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        mx, n, nlate, worst = state.get if state.exists else (None, 0, 0, 0)
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            # normalize to ns BEFORE the int64 view: some pandas/Arrow
            # combinations surface datetime64[us] series, and a bare
            # astype('int64') on those would leave the // 1000 scale
            # 1000x off (lateness in ms, not us). Null ts rows are
            # DROPPED (the batch queries' epoch_us(NULL)→NULL filter):
            # NaT raises on the int64 view on pandas 2.x, and on older
            # pandas it becomes int64-min and poisons the running max.
            batch = batch[batch["ts"].notna()]
            batch = batch.assign(
                __ts=batch["ts"].astype("datetime64[ns]").astype("int64") // 1000
            ).sort_values("event_id")
            for ts in batch["__ts"].to_list():
                ts = int(ts)
                if mx is not None and ts < mx:
                    nlate += 1
                    if mx - ts > worst:
                        worst = mx - ts
                if mx is None or ts > mx:
                    mx = ts
                n += 1
        state.update((mx, n, nlate, worst))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "n_late": [nlate],
                "max_late_us": [worst],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Drain a stream into an in-memory table with availableNow trigger
    (test/verification harness; returns after the stream finishes)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def views_after_errors_stream(events: DataFrame, horizon_min: int = 5, watermark: str = "2 hours") -> DataFrame:
    """Stream-stream interval join: every (error, view) pair of the same
    user where the view lands within ``horizon_min`` minutes after the
    error. Both sides carry watermarks and the join condition bounds
    event time on both sides, so state eviction is provable and memory
    stays O(watermark horizon) — the canonical watermarked interval
    join (batch twin: q_range_views_after_error)."""
    e = (
        events.filter(F.col("event_type") == "error")
        .select(
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
            F.col("event_id").alias("e_id"),
        )
        .withWatermark("e_ts", watermark)
    )
    v = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", watermark)
    )
    return e.join(
        v,
        F.expr(
            f"v_user = e_user AND v_ts > e_ts AND v_ts <= e_ts + interval {horizon_min} minutes"
        ),
    )


def append_new_ids_sink(gold_path: str, id_col: str = "event_id"):
    """foreachBatch sink: idempotent append-by-key into a parquet gold
    table — each micro-batch anti-joins the already-landed keys before
    appending, so replays and at-least-once delivery never duplicate.
    (The same shape a Delta/Iceberg MERGE does transactionally; on plain
    parquet this is the portable form. At scale the anti-join prunes to
    the batch's key range via predicate pushdown.)"""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        fresh = batch_df.dropDuplicates([id_col])
        try:
            existing = spark.read.parquet(gold_path).select(id_col)
            fresh = fresh.join(existing, id_col, "left_anti")
        except AnalysisException:
            # first batch: gold table doesn't exist yet. Any OTHER read
            # failure must propagate — appending without the anti-join
            # would silently break the exactly-once guarantee.
            pass
        fresh.write.mode("append").parquet(gold_path)

    return write_batch


def run_gold_ingest(events: DataFrame, gold_path: str, checkpoint: str) -> None:
    """Drain the stream into the gold table via the idempotent sink."""
    q = (
        events.writeStream.foreachBatch(append_new_ids_sink(gold_path))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def enrich_events_stream(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a (static)
    user-dimension table — the standard streaming-enrichment pattern.

    The static side is re-planned per micro-batch (so dim updates
    between batches are picked up); no state is kept because the join
    is stream-static, not stream-stream. No broadcast hint: the planner
    broadcasts a small dim per batch on its own (autoBroadcastJoin
    threshold) and falls back to a shuffled join for a dim too large to
    ship — a forced hint would OOM exactly in that scale case.
    """
    dim = user_dim.select(
        F.col("user_id"),
        F.col("cohort").alias("user_cohort"),
    )
    return (
        events.join(dim, "user_id", "left_outer")
        .groupBy("user_cohort", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,6)")).cast("double").alias("total_value"),
        )
    )


def _bounded_dedup(
    df: DataFrame,
    subset: list[str],
    op_name: str,
    watermark_col: str | None,
    watermark_delay: str,
    unbounded_ok: bool,
) -> DataFrame:
    """Enforce the streaming state-bounding contract around a
    first-occurrence dedup. ``dropDuplicates`` on an unbounded stream
    grows its state table forever; Spark only evicts dedup state under
    an event-time watermark. Streaming callers must therefore either
    name an event-time column (state evicted ``watermark_delay`` past
    the watermark via ``dropDuplicatesWithinWatermark``) or explicitly
    accept unbounded state with ``unbounded_ok=True`` (legitimate for
    bounded file replays and tests). Batch inputs dedup plainly —
    the contract is about streaming state only.

    The watermark path is a SEMANTIC WEAKENING, not just state
    bounding: once a key's state is evicted (its event time falls
    ``watermark_delay`` behind the stream's watermark), a LATE
    duplicate of that key is re-admitted as if first-seen. "Keep only
    the first occurrence" therefore holds exactly for duplicates
    arriving within ``watermark_delay`` of each other and best-effort
    beyond it — size ``watermark_delay`` against the duplicate-arrival
    spread (for crawl re-fetches: the re-crawl interval), and treat the
    downstream batch dedup (d_exact_dedup over the landed corpus) as
    the exactness backstop, which is how production ingest actually
    layers these."""
    if not df.isStreaming:
        return df.dropDuplicates(subset)
    if watermark_col is not None:
        return df.withWatermark(
            watermark_col, watermark_delay
        ).dropDuplicatesWithinWatermark(subset)
    if unbounded_ok:
        return df.dropDuplicates(subset)
    raise ValueError(
        f"{op_name} deduplicates {subset} with streaming state; on an "
        "unbounded stream that state grows without bound. Pass "
        "watermark_col (+ watermark_delay) to bound it, or set "
        "unbounded_ok=True for bounded/replay streams."
    )


def dedup_against_corpus_stream(
    docs: DataFrame,
    corpus_fps: DataFrame,
    fp_col: str = "fp",
    watermark_col: str | None = None,
    watermark_delay: str = "10 minutes",
    unbounded_ok: bool = False,
) -> DataFrame:
    """Streaming incremental dedup — the arriving-batch twin of
    plans/docpipe.d_incremental_dedup: drop arriving documents whose
    content fingerprint already exists in the static corpus index
    (stream-static LEFT ANTI join; the static side is the bucketed/
    Bloom-fronted fingerprint table at scale), then keep only the first
    in-stream occurrence of each remaining fingerprint. First-occurrence
    state is bounded by the watermark contract (see ``_bounded_dedup``):
    pass ``watermark_col`` for unbounded streams, or ``unbounded_ok=True``
    for bounded replays. On the watermark path the first-occurrence
    guarantee is windowed, not absolute: a duplicate fingerprint whose
    event time arrives more than ``watermark_delay`` after the previous
    occurrence finds its state evicted and PASSES THROUGH — size the
    delay against the duplicate-arrival spread, and rely on the
    landed-corpus batch dedup (d_exact_dedup / the next index refresh)
    as the exactness backstop.

    ``docs`` must already carry ``fp_col`` (text fingerprinting is a
    stateless projection — functions/text.fingerprint).
    """
    fresh = docs.join(corpus_fps.select(fp_col), fp_col, "left_anti")
    return _bounded_dedup(
        fresh,
        [fp_col],
        "dedup_against_corpus_stream",
        watermark_col,
        watermark_delay,
        unbounded_ok,
    )


def ivf_assign_stream(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming IVF index ingest — assign each ARRIVING embedding to
    its nearest centroid bucket. At rest the bucket id becomes the
    partition key of the vector index, so this stream IS the index
    build: arriving vectors land pre-bucketed and the nprobe search
    path (functions/similarity.ivf_search) reads them without a
    reshuffle.

    The batch twin (functions/similarity.assign_buckets) argmaxes with
    a row_number window, which streams can't run; here the tiny static
    centroid relation (bucket, cv, cnorm — label_centroids output) is
    collected once and folded into a stateless per-row expression:
    argmax over an array of (cos, -bucket) structs, so ties break to
    the smallest bucket exactly like the batch window's
    (cos desc, bucket asc). Same doubles → identical assignment.
    """
    from ..functions.vectors import dot, l2_norm, to_double

    rows = centroids.select("bucket", "cv", "cnorm").collect()
    v = vectors.select(
        id_col, to_double(F.col(vec_col)).alias("__v")
    ).withColumn("vnorm", l2_norm(F.col("__v")))
    cands = F.array(
        *[
            F.struct(
                (
                    dot(F.col("__v"), F.array(*[F.lit(float(x)) for x in r["cv"]]))
                    / (F.col("vnorm") * F.lit(float(r["cnorm"])))
                ).alias("ccos"),
                F.lit(-int(r["bucket"])).alias("negb"),
            )
            for r in rows
        ]
    )
    best = F.array_max(cands)
    return v.select(
        id_col,
        F.col("__v").alias("cv_vec"),
        "vnorm",
        (-best["negb"]).alias("bucket"),
    )


def cms_counts_stream(
    docs: DataFrame,
    d_rows: int = 4,
    w: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """Streaming Count-Min-Sketch build — the arriving-batch twin of
    plans/textpipe.t_cms_heavy_hitters' sketch stage. CMS counters are
    plain sums, so the sketch is mergeable and therefore
    streaming-native: the aggregation state is EXACTLY the d×w counter
    matrix (here 4×1024 rows) regardless of stream length or
    vocabulary — the sketch's bounded-memory guarantee doubles as the
    streaming state bound, no watermark needed. Run in complete/update
    mode; the final counters equal the batch build bit-for-bit
    (integer sums of the same md5 bucket hashes).
    """
    from functools import reduce

    from ..functions.hashing import md5_long
    from ..functions.text import tokens

    tok = docs.select(F.explode(tokens(F.col(text_col))).alias("tk"))
    parts = [
        tok.select(
            F.lit(i).alias("row_i"),
            F.pmod(md5_long(F.col("tk"), seed=i), F.lit(w)).alias("bk"),
        )
        for i in range(d_rows)
    ]
    return (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("row_i", "bk")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def split_route_stream(
    docs: DataFrame,
    split_index: DataFrame,
    fp_col: str = "fp",
    pct_train: int = 8,
) -> DataFrame:
    """Route ARRIVING documents consistently with a frozen leakage-safe
    train/test split (the streaming twin of plans/textpipe.
    t_leakage_split's assignment): a doc whose content fingerprint
    already exists in the corpus INHERITS that fingerprint's split —
    never letting a duplicate of a test document leak into train —
    and a genuinely-new doc is hashed fresh on its fingerprint
    (md5 % 10 < pct_train). Stream-static LEFT join + stateless map;
    at scale the index is the bucketed/Bloom-fronted fingerprint table
    and the join is a bucket-local probe.

    ``split_index`` is a static (fp, split) relation; ``docs`` must
    already carry ``fp_col``.
    """
    from ..functions.hashing import md5_long

    fresh = F.when(
        F.pmod(md5_long(F.col(fp_col).cast("string")), F.lit(10)) < pct_train,
        "train",
    ).otherwise("test")
    return (
        docs.join(split_index.select(fp_col, "split"), fp_col, "left")
        .withColumn("inherited", F.col("split").isNotNull())
        .withColumn("split", F.coalesce(F.col("split"), fresh))
    )


def cusum_monitor_stream(
    hourly: DataFrame,
    k: float,
    h: float,
    series_col: str = "series",
) -> DataFrame:
    """Streaming CUSUM monitor — the sequential recurrence
    s_t = max(0, s_{t-1} + x_t − k) run where it naturally lives: as
    keyed state over an arriving finalized-hour stream (the upstream
    watermark aggregation emits one (series, hour_idx, c) row per
    closed hour). State per series is (s, last_hour); gap hours are
    replayed as zero counts so the excursion decays exactly as the
    batch closed form (q_cusum_drift) computes it. Emits one row per
    processed hour with the excursion and alarm flag.

    The batch twin equivalence is tested in test_streaming.py; the
    reference rate k and threshold h come from batch history (they are
    model parameters, not stream state).
    """
    import pandas as pd  # executors need it

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("series", StringType()),
            StructField("hour_idx", LongType()),
            StructField("s", DoubleType()),
            StructField("alarm", IntegerType()),
        ]
    )
    state_schema = StructType(
        [StructField("s", DoubleType()), StructField("last_hour", LongType())]
    )

    def update(key, pdf_iter, state: GroupState):
        s, last = state.get if state.exists else (0.0, None)
        rows = []
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        pdf = pdf.sort_values("hour_idx")
        for r in pdf.itertuples(index=False):
            hr, c = int(r.hour_idx), float(r.c)
            if last is not None:
                for gap in range(last + 1, hr):  # closed hours with no row
                    s = max(0.0, s + 0.0 - k)
                    rows.append((key[0], gap, s, int(s > h)))
            s = max(0.0, s + c - k)
            rows.append((key[0], hr, s, int(s > h)))
            last = hr
        state.update((s, last if last is not None else -1))
        yield pd.DataFrame(rows, columns=["series", "hour_idx", "s", "alarm"])

    return hourly.groupBy(series_col).applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def hdr_latency_stream(events: DataFrame) -> DataFrame:
    """Streaming HDR-histogram latency sketch — the incremental face of
    q_hdr_latency: per-user arbitrary state keeps (running max event
    time, bucket counts) and every in-order inter-event latency is
    bucketed with the SAME pure-integer log-linear math as the batch
    query (octave = bit length, 16 linear sub-buckets ⇒ ≤1/16 relative
    error). Out-of-order events (ts below the running max) are COUNTED
    (n_skipped) but not bucketed — reordering them is the watermarked-
    aggregation path's job; this monitor never buffers. Each micro-batch
    emits the user's full current bucket table as parallel arrays
    sorted by (octave, sub) — downstream merge = explode + bucket-keyed
    SUM across users/shards, the defining property of the sketch.
    State per user is O(distinct buckets) ≤ ~16·64 ints — bounded by
    the value DOMAIN, not the stream. Groups larger than one Arrow
    chunk are concatenated and sorted ONCE per micro-batch (the
    lateness_monitor_stream chunk rule)."""
    import pandas as pd  # local import: executors need it, driver may not

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ArrayType, IntegerType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("octs", ArrayType(IntegerType())),
            StructField("subs", ArrayType(IntegerType())),
            StructField("cnts", ArrayType(LongType())),
            StructField("n_skipped", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("max_ts", LongType()),
            StructField("octs", ArrayType(IntegerType())),
            StructField("subs", ArrayType(IntegerType())),
            StructField("cnts", ArrayType(LongType())),
            StructField("n_skipped", LongType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            mx, octs, subs, cnts, nskip = state.get
            buckets = {
                (int(o), int(s)): int(c) for o, s, c in zip(octs, subs, cnts)
            }
            mx = int(mx) if mx is not None else None
            nskip = int(nskip)
        else:
            mx, buckets, nskip = None, {}, 0
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
            # drop null ts BEFORE the int64 view (NaT raises on pandas
            # 2.x, becomes int64-min on older) — the batch twin's
            # lat IS NOT NULL filter
            batch = batch[batch["ts"].notna()]
            batch = batch.assign(
                __ts=batch["ts"].astype("datetime64[ns]").astype("int64") // 1000
            ).sort_values("event_id")
            for ts in batch["__ts"].to_list():
                ts = int(ts)
                if mx is None:
                    mx = ts
                elif ts >= mx:
                    lat = ts - mx
                    if lat >= 1:
                        oct_ = lat.bit_length()
                        sub = (lat * 16) // (1 << (oct_ - 1)) - 16
                        buckets[(oct_, sub)] = buckets.get((oct_, sub), 0) + 1
                    mx = ts
                else:
                    nskip += 1
        ordered = sorted(buckets.items())
        octs = [o for (o, _s), _c in ordered]
        subs = [s for (_o, s), _c in ordered]
        cnts = [c for (_o, _s), c in ordered]
        state.update((mx, octs, subs, cnts, nskip))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "octs": [octs],
                "subs": [subs],
                "cnts": [cnts],
                "n_skipped": [nskip],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hll_registers_stream(
    events: DataFrame,
    key_col: str = "event_type",
    id_col: str = "user_id",
) -> DataFrame:
    """Streaming HyperLogLog register build — the arriving-batch twin
    of plans/diagnostics.q_hll_distinct's register stage. An HLL
    register holds MAX(rho), and max is mergeable, so the sketch is
    streaming-native: the aggregation state is exactly the per-key
    256-register table (#keys × 256 rows) regardless of stream length
    or user cardinality — the sketch's bounded-memory guarantee IS the
    streaming state bound, no watermark needed. Run in complete/update
    mode; the final registers equal the batch build bit-for-bit (both
    derive reg and rho from the same md5 lane via the shared
    functions.hashing helpers), so the driver-side estimate formula
    applied to the sink yields the batch estimate exactly.
    """
    from ..functions.hashing import hll_reg, hll_rho, md5_long

    h = events.select(
        F.col(key_col).alias("k"),
        md5_long(
            F.concat(F.lit("hll#"), F.col(id_col).cast("string"))
        ).alias("h"),
    )
    return (
        h.select("k", hll_reg(F.col("h")).alias("reg"), hll_rho(F.col("h")).alias("rho"))
        .groupBy("k", "reg")
        .agg(F.max("rho").alias("rho_max"))
    )


def url_corpus_index(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Static canonical-URL index for url_ingest_stream: the distinct
    canonical keys of the landed crawl store (functions/url.py rules —
    a stateless per-row regex projection). At rest this table is
    partitioned by the canonical key, so arriving probes prune to their
    key range without a corpus-side shuffle."""
    from ..functions.url import url_canonical_sqlexpr

    return pages.select(
        F.expr(url_canonical_sqlexpr(url_col)).alias("curl")
    ).distinct()


def url_ingest_stream(
    pages: DataFrame,
    corpus_urls: DataFrame,
    url_col: str = "url",
    watermark_col: str | None = None,
    watermark_delay: str = "10 minutes",
    unbounded_ok: bool = False,
) -> DataFrame:
    """Streaming URL-level dedup at crawl ingest — the incremental twin
    of plans/urlpipe.t_url_dedup and the FIRST gate of the ingest path
    (URL dedup precedes any fetch-content processing): canonicalize
    each arriving page's URL (functions/url.py — a stateless per-row
    regex projection, no state), drop pages whose canonical key already
    exists in the crawl store (stream-static LEFT ANTI join against
    url_corpus_index — the store's partition key, so the probe prunes),
    then keep only the FIRST in-stream occurrence per canonical key.
    First-occurrence state is bounded by the watermark contract (see
    ``_bounded_dedup``); on the watermark path a canonical key
    re-arriving more than ``watermark_delay`` later is re-admitted —
    size the delay against the re-crawl interval, with the next index
    refresh as the exactness backstop.

    Output: the input columns plus ``curl`` (the canonical key) — the
    admitted pages, ready for the content stages (extraction, quality,
    content dedup) that are 100-1000× more expensive per page.
    """
    from ..functions.url import url_canonical_sqlexpr

    canon = pages.withColumn("curl", F.expr(url_canonical_sqlexpr(url_col)))
    fresh = canon.join(corpus_urls.select("curl"), "curl", "left_anti")
    return _bounded_dedup(
        fresh,
        ["curl"],
        "url_ingest_stream",
        watermark_col,
        watermark_delay,
        unbounded_ok,
    )


def url_index_latest(
    pages: DataFrame, url_col: str = "url", ts_col: str = "ts"
) -> DataFrame:
    """Static canonical-URL index WITH freshness for ingest_delta_stream:
    per canonical key the latest committed fetch timestamp (the
    ``curl → last_ts`` projection of the index plans/urlpipe
    t_ingest_delta merges into). Partial-aggregable max per key; at
    rest partitioned by the canonical key like url_corpus_index."""
    from ..functions.url import url_canonical_sqlexpr

    return (
        pages.select(
            F.expr(url_canonical_sqlexpr(url_col)).alias("curl"),
            F.col(ts_col).alias("last_ts"),
        )
        .groupBy("curl")
        .agg(F.max("last_ts").alias("last_ts"))
    )


def ingest_delta_stream(
    pages: DataFrame,
    index_latest: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
) -> DataFrame:
    """Refetch-aware streaming ingest classification — the streaming
    face of plans/urlpipe.t_ingest_delta: each ARRIVING snapshot is
    canonicalized (stateless per-row regex) and classified against the
    static freshness index (stream-static LEFT OUTER join on the
    index's partition key):

      new_url        — canonical key absent from the index  → admitted
      refetch_newer  — arriving ts > committed last_ts      → admitted
      refetch_stale  — arriving ts ≤ committed last_ts      → dropped

    Output: admitted pages with ``curl`` and ``verdict`` columns — the
    candidates that must pay extraction. Deliberately STATELESS (no
    watermark contract): in-stream latest-per-key reconciliation is NOT
    attempted here — two admitted refetches of one key in the same
    index epoch both flow downstream, and the authoritative merge is
    the next index refresh (t_ingest_delta's digest-proved batch merge,
    which collapses them exactly). That split keeps the streaming path
    a pure projection+probe — unbounded state never accumulates — and
    makes stream==batch equality exact under ANY micro-batch split,
    which the pytest asserts on scrambled batches."""
    from ..functions.url import url_canonical_sqlexpr

    canon = pages.withColumn("curl", F.expr(url_canonical_sqlexpr(url_col)))
    j = canon.join(
        index_latest.select("curl", F.col("last_ts").alias("_idx_ts")),
        "curl",
        "left",
    )
    verdict = (
        F.when(F.col("_idx_ts").isNull(), F.lit("new_url"))
        .when(F.col(ts_col) > F.col("_idx_ts"), F.lit("refetch_newer"))
        .otherwise(F.lit("refetch_stale"))
    )
    return (
        j.withColumn("verdict", verdict)
        .filter(F.col("verdict") != "refetch_stale")
        .drop("_idx_ts")
    )


def ingest_stream_e2e(
    pages: DataFrame,
    index_latest: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    page_col: str = "page",
) -> DataFrame:
    """The COMPOSED streaming crawl-ingest face — the streaming twin of
    plans/urlpipe.t_ingest_e2e, built entirely from stateless stages so
    the whole chain runs as one continuous stream with exact
    stream==batch equality under any micro-batch split:

      1. refetch-aware classify against the static freshness index
         (ingest_delta_stream — new/newer admitted, stale dropped; the
         stateful latest-per-key merge stays with the batch index
         refresh, t_ingest_delta's digest-proved job)
      2. robots/opt-out gate on the RAW page bytes (cheap regex, before
         extraction cost — the t_optout_refinery ordering)
      3. main-content extraction (jusText-lite, pure JVM HOFs)
      4. Gopher quality flags on the EXTRACTED text

    Output: admitted, compliant, non-empty-extraction pages with
    (curl, verdict, text, gopher_pass) — the stream of corpus
    candidates; every stage is its batch query's exact machinery.
    """
    from ..operators.refinery import extract_text, gopher_flags, gopher_pass, optout_gate

    admitted = ingest_delta_stream(pages, index_latest, url_col, ts_col)
    compliant = optout_gate(admitted, page_col).filter(F.col("kept") == 1)
    ext = extract_text(compliant, page_col, "doc_id", "source", "curl", "verdict")
    # NOT a self-join back onto ext (that would be a stream-stream join
    # needing watermark state) — the flag projection carries the
    # passthrough columns itself via gopher_flags(keep=...)
    return gopher_flags(ext, keep=("curl", "verdict", "text")).select(
        "doc_id", "source", "curl", "verdict", "text", gopher_pass().alias("gopher_pass")
    )


def simhash_corpus_index(
    docs: DataFrame, id_col: str = "doc_id", bucket_cap: int | None = None
) -> DataFrame:
    """Static corpus band index for simhash_neardup_stream: per doc the
    56-bit simhash (per-row single-pass fingerprint — zero shuffle) and
    its K+1 band values, one row per band. At rest this table is
    bucketed by (b, bv) so arriving probes co-locate with their band
    bucket without a corpus-side shuffle.

    ``bucket_cap`` drops (band, value) buckets holding more than that
    many corpus docs from the index — the same hot-bucket cap as the
    batch lane (operators/neardup.BUCKET_CAP): a dup-heavy corpus
    packs an entire duplicate family into one 14-bit collision class
    and every arriving probe of that class fans out to the whole
    family. Defaults to None (index everything) because the index build
    is a one-off whose corpus is usually already exact-deduped; pass
    the batch constant when it is not."""
    from ..functions import text as T
    from ..functions.hashing import simhash56_sql, simhash_bands

    fp = docs.select(
        F.col(id_col).alias("match_id"), T.tokens(F.col("text")).alias("tk")
    ).select("match_id", F.expr(simhash56_sql("tk")).alias("msh"))
    idx = fp.select(
        "match_id", "msh", F.posexplode(simhash_bands(F.col("msh"))).alias("b", "bv")
    )
    if bucket_cap is not None:
        from ..operators.neardup import cap_hot_keys

        idx = cap_hot_keys(idx, bucket_cap, keys=("b", "bv"))
    return idx


def simhash_neardup_stream(
    docs: DataFrame,
    corpus_bands: DataFrame,
    id_col: str = "doc_id",
    watermark_col: str | None = None,
    watermark_delay: str = "10 minutes",
    unbounded_ok: bool = False,
) -> DataFrame:
    """Streaming SimHash near-dup flagging — the ingest face of
    plans/docpipe2.d_simhash_neardup: each ARRIVING document is
    fingerprinted per-row (simhash56 — a stateless projection), band-
    exploded, and probed against the static corpus band index
    (stream-static equi-join on (band, band_value) — the pigeonhole-
    lossless candidate generator for Hamming ≤ K), then candidates are
    verified with an exact bit_count. One arriving doc can hit the same
    corpus doc through several intact bands; the (doc_id, match_id)
    dedup that collapses them carries streaming state, bounded by the
    watermark contract (see ``_bounded_dedup``): pass ``watermark_col``
    for unbounded streams, or ``unbounded_ok=True`` for bounded replays.
    Watermark path caveat (see ``_bounded_dedup``): a (doc_id, match_id)
    pair recurring more than ``watermark_delay`` apart in event time is
    re-emitted after its state evicts — harmless here (the sink's
    anti-join is idempotent per pair) but callers counting emitted
    pairs must dedup at rest.

    Output: (doc_id, match_id, hamming) — the corpus near-dups of each
    arriving doc; route no-match docs onward with a left_anti join
    against this at the sink.
    """
    from ..functions import text as T
    from ..functions.hashing import SIMHASH_K, simhash56_sql, simhash_bands

    keep = [id_col] + ([watermark_col] if watermark_col is not None else [])
    fp = docs.select(*keep, T.tokens(F.col("text")).alias("tk")).select(
        *keep, F.expr(simhash56_sql("tk")).alias("sh")
    )
    bands = fp.select(
        *keep, "sh", F.posexplode(simhash_bands(F.col("sh"))).alias("b", "bv")
    )
    ham = F.bit_count(F.col("sh").bitwiseXOR(F.col("msh")))
    matched = (
        bands.join(corpus_bands, ["b", "bv"])
        .filter(ham <= SIMHASH_K)
        .select(*keep, "match_id", ham.cast("bigint").alias("hamming"))
    )
    out = _bounded_dedup(
        matched,
        [id_col, "match_id"],
        "simhash_neardup_stream",
        watermark_col,
        watermark_delay,
        unbounded_ok,
    )
    return out.drop(watermark_col) if watermark_col is not None else out


def html_extract_stream(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Streaming HTML main-content extraction — the INGEST face of
    plans/htmlpipe.t_html_extract: every arriving raw page is block-
    split, scored (jusText-lite text-length + link-density), and
    reassembled into extracted main text, per row. Extraction is a
    STATELESS projection (functions/html.py — pure JVM expressions, no
    state, no watermark needed), so the crawl→refinery boundary can run
    as a continuous stream: raw HTML in, extracted text + block census
    out, ready for the downstream quality/dedup gates (which carry
    their own state contracts).

    Output: every input column except ``html_col``, plus
    (text, n_blocks, n_kept, boiler_chars) — the extracted main
    content and the per-page census the batch audit aggregates.
    """
    from ..functions.html import block_stats, extract_main, keep_cond

    keep = [c for c in pages.columns if c != html_col]
    st = pages.withColumn("__stats", block_stats(html_col))
    return st.select(
        *keep,
        extract_main("__stats").alias("text"),
        F.expr("size(filter(__stats, s -> length(s.txt) > 0))").alias("n_blocks"),
        F.expr(f"size(filter(__stats, s -> {keep_cond('s')}))").alias("n_kept"),
        F.expr(
            f"aggregate(filter(__stats, s -> length(s.txt) > 0"
            f" AND NOT ({keep_cond('s')})), 0, (a, x) -> a + length(x.txt))"
        ).alias("boiler_chars"),
    )
