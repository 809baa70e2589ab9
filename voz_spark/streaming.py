"""Structured Streaming surface over the ``events`` stream table.

SURVEY.md §2.E maps the reference's stateful/incremental behaviors
(resumable crawl increments ``src/main.py:215-216``, incremental caches
``src/thread_crawler.py:46-59``, the 300-s monitor poll
``src/monitor.py:202-238``) onto deterministic micro-batch jobs — that
mapping stands for the crawl itself.  This module adds the *continuous*
counterpart for the analytics stream: the same event-time semantics the
batch queries q13/q14 compute, executed by Structured Streaming with
watermarks and state, so a deployment can run the events pipeline
against a live source (Kafka / Iceberg-incremental) instead of nightly
batch.

Scale notes (100 TB / unbounded stream):
- The file source here is the sandbox stand-in; swap ``events_stream``
  for ``spark.readStream.format("kafka")`` (or an Iceberg incremental
  scan) in production — every downstream operator is source-agnostic.
- ``withWatermark`` bounds ALL state: tumbling-window rows older than
  the watermark are finalized + evicted, session-window state is
  pruned, and late rows are dropped instead of accumulating skew.
- The memory sink is used ONLY to surface results to the driver's
  correctness harness (bounded input via ``availableNow``); production
  writes append-mode parquet/Iceberg with a checkpointLocation, which
  the resume tests of the batch engine already model (A11).
- Streaming aggregation state shuffles on the same keys as the batch
  plans (window×event_type, user_id), so the skew story is identical —
  user_id is high-cardinality; the per-key state row is O(1).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from voz_spark.registry import register

# Declared schema (file stream sources cannot infer; TESTDATA.md events
# table). Matches /root/testdata/sf*/events.parquet exactly.
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def events_stream(
    spark: SparkSession, sf_dir: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``events`` as an unbounded stream (file source, declared schema).

    ``sf_dir`` may point at the driver's single-file layout
    (``events.parquet`` is one parquet FILE) or a directory of parquet
    files. The streaming file source only accepts directories, so the
    single-file case is exposed through a temp directory holding a
    symlink — sandbox plumbing only; production reads Kafka/Iceberg.
    ``max_files_per_trigger`` forces multi-micro-batch execution in
    tests (late-data / incremental semantics need more than one batch
    to be observable).
    """
    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isfile(path):
        d = tempfile.mkdtemp(prefix="voz-stream-events-")
        os.symlink(path, os.path.join(d, "part-00000.parquet"))
        path = d
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


# ---------------------------------------------------------------------------
# Tumbling event-time window (streaming form of q14). Watermark = 1 h:
# a window finalizes one hour after its close; later rows are dropped.
# ---------------------------------------------------------------------------


def hourly_event_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming hourly counts per event type (watermarked tumbling window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Session window (streaming form of q13's 30-minute gap rule). The
# native session_window operator merges overlapping [ts, ts+gap)
# intervals per key in state; the watermark closes sessions.
# ---------------------------------------------------------------------------


def session_windows_stream(events: DataFrame, gap: str = "30 minutes",
                           watermark: str = "1 hour") -> DataFrame:
    """One row per (user_id, session): native session_window aggregation."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: per-user running totals via
# applyInPandasWithState (the brief's applyInPandasWithState surface).
# The batch engine has no counterpart — this is the "custom stateful
# streaming operator" shape for anything the built-ins can't express.
# ---------------------------------------------------------------------------

_RUN_OUT = "user_id bigint, cum_events bigint, cum_value double"
_RUN_STATE = StructType(
    [StructField("cum_events", LongType()), StructField("cum_value", DoubleType())]
)


def _running_totals(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """GroupState fold: per-user cumulative (count, value-sum).

    Runs once per user per micro-batch; state is the O(1) pair carried
    across batches. Decimal-exact ordering does not matter here: counts
    are integral and value sums are emitted per-batch from a running
    compensated float (sufficient for the rows-only gate; the oracled
    totals go through the aggregation queries above).
    """
    (user_id,) = key
    if state.exists:
        cum_n, cum_v = state.get
    else:
        cum_n, cum_v = 0, 0.0
    for pdf in pdf_iter:
        cum_n += int(len(pdf))
        cum_v += float(pdf["value"].sum())
    state.update((cum_n, cum_v))
    yield pd.DataFrame(
        {"user_id": [user_id], "cum_events": [cum_n], "cum_value": [cum_v]}
    )


def running_totals_stream(events: DataFrame) -> DataFrame:
    """Per-user running totals as a custom stateful operator."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals,
        outputStructType=_RUN_OUT,
        stateStructType=_RUN_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    stream: DataFrame, name: str, output_mode: str, spark: SparkSession
) -> DataFrame:
    """Execute a bounded stream to completion into a memory sink.

    ``availableNow`` processes everything currently in the source and
    stops — the deterministic bounded-execution trigger. Returns the
    sink as a batch DataFrame.
    """
    ckpt = tempfile.mkdtemp(prefix=f"voz-stream-{name}-")
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# ---------------------------------------------------------------------------
# Driver queries: the streaming plans executed to completion over the
# bounded sf_dir input, compared against the SAME DuckDB oracles the
# batch forms use — streaming-vs-batch equivalence is the gate.
# (complete output mode: bounded input, final values of every window;
# production uses append + watermark eviction as documented above.)
# ---------------------------------------------------------------------------


@register(
    "q46_stream_hourly_counts",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def q46_stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window counts computed BY Structured Streaming."""
    stream = hourly_event_counts_stream(events_stream(spark, sf_dir))
    sink = run_to_memory(stream, "q46_sink", "complete", spark)
    return sink.select(
        F.date_format(F.col("win.start"), "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "q47_stream_user_sessions",
    oracle="""
WITH t AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(SUM(new_sess) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM t GROUP BY user_id
""",
)
def q47_stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session counts computed by the native streaming
    session_window operator, finished with a batch rollup over the sink
    (one streaming aggregation per query — the standard pattern).

    Gap semantics note: ``session_window`` merges a session
    ``[ts, ts+gap)`` with a next event at EXACTLY ``ts+gap`` (end ==
    start merges; pinned by tests/test_streaming.py) — a new session
    needs a gap STRICTLY greater than 30 minutes, hence ``>`` in the
    oracle, the same rule as q13's batch form.
    """
    stream = session_windows_stream(events_stream(spark, sf_dir))
    sink = run_to_memory(stream, "q47_sink", "complete", spark)
    return sink.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )


@register(
    "q54_stream_dedup",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def q54_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup — the crawl engine's seen-set concept
    as a stream operator: `dropDuplicates` on the key carries exact
    dedup state across micro-batches and emits each key's FIRST
    occurrence (append mode). Only the key columns are returned, so
    the result is deterministic regardless of which physical row won,
    and equals batch SELECT DISTINCT.

    Scale notes: state is one row per distinct key, shuffled on the
    key — the same story as the engine's `seen` table. A production
    stream with unbounded keys bounds state with
    `dropDuplicatesWithinWatermark` instead (keys can then re-emit
    after eviction — exactly why the CRAWL keeps its seen state in a
    table + bloom filter with no TTL rather than in stream
    state; SURVEY §2.E)."""
    stream = events_stream(spark, sf_dir).dropDuplicates(["user_id", "event_type"])
    sink = run_to_memory(
        stream.select("user_id", "event_type"), "q54_sink", "append", spark
    )
    return sink


@register(
    "q48_stream_running_totals",
    oracle="""
SELECT user_id,
       COUNT(*) AS cum_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS cum_value
FROM events
GROUP BY user_id
""",
)
def q48_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final per-user running totals from the applyInPandasWithState
    operator (update mode emits one row per user per micro-batch; the
    final batch value per user is the total — a max over cum_events
    picks it regardless of how the source was micro-batched).

    cum_value is rounded to 6dp on both sides: the stateful fold sums
    floats in micro-batch order while the oracle sums DECIMAL — the
    values agree to well under 1e-6 on this value range but are not
    bit-identical by construction.
    """
    stream = running_totals_stream(events_stream(spark, sf_dir))
    sink = run_to_memory(stream, "q48_sink", "update", spark)
    last = sink.groupBy("user_id").agg(
        F.max(F.struct("cum_events", "cum_value")).alias("s")
    )
    return last.select(
        "user_id",
        F.col("s.cum_events").alias("cum_events"),
        F.round("s.cum_value", 6).alias("cum_value"),
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join (click → purchase attribution). The one
# streaming operator family the surface lacked: both sides are
# unbounded, so the join buffers each side in watermark-bounded state.
# ---------------------------------------------------------------------------


def click_purchase_join_stream(
    events: DataFrame, horizon: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Inner stream-stream join: every purchase within `horizon` after
    a click by the same user. Both sides carry a watermark and the join
    condition bounds purchase_ts to [click_ts, click_ts + horizon], so
    Spark can evict click state once the purchase-side watermark passes
    click_ts + horizon — state is O(events inside the horizon), not
    O(stream). Without the time bound the state would grow forever;
    that is the 100 TB failure mode this operator shape exists to
    avoid."""
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("amount"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + INTERVAL {horizon}
            """
        ),
        "inner",
    )


@register(
    "q64_stream_click_attribution",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS lag_sec,
       CAST(p.value AS DOUBLE) AS amount
FROM events c
JOIN events p
  ON c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
ORDER BY 1, 2, 3
""",
)
def q64_stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution computed BY a stream-stream interval
    join (watermarked state both sides), equal to the batch interval
    join the oracle runs. Two sibling streams of the same source file
    feed the two sides — the production form is two Kafka topics."""
    ev = events_stream(spark, sf_dir)
    stream = click_purchase_join_stream(ev)
    sink = run_to_memory(stream, "q64_sink", "append", spark)
    return sink.select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")).alias("lag_sec"),
        F.col("amount").cast("double").alias("amount"),
    ).orderBy("user_id", "click_id", "purchase_id")


# ---------------------------------------------------------------------------
# q148: STREAMING image band dedup — the stream-STATIC join form of
# q134's incremental near-dup: newly-crawled images arrive as an
# unbounded stream, each micro-batch band-joins the STANDING pHash
# index (a static table broadcast/re-read per batch), verifies exact
# hamming, and appends confirmed near-dups. This is the shape a live
# ingest actually deploys (Kafka source -> static Iceberg index);
# q134 is its nightly-batch equivalent, and the two must agree —
# which is exactly what the shared oracle checks.
#
# Scale notes: stream state is ONLY the (delta_id, base_id) dedup
# keys (multi-band hits); the standing index never enters stream
# state — it stays a static relation the planner re-scans (or
# broadcasts, if small) per micro-batch. Production bounds the pair
# dedup with dropDuplicatesWithinWatermark keyed on ingest time.
# ---------------------------------------------------------------------------


def _q148_oracle() -> str:
    from voz_spark.imagedup import _q134_oracle

    return _q134_oracle()


@register("q148_stream_image_banddedup", oracle=_q148_oracle())
def q148_stream_image_banddedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup detection: delta images stream in, band
    equi-join the static standing index, exact hamming verify, append
    — equals the q134 batch job (same oracle)."""
    from voz_spark.imagedup import (
        _BANDS,
        _BUCKET_CAP,
        _HAMMING_MAX,
        _N_IMAGES,
        Q61_PHASH_PATH,
        _band_expr,
        _materialized,
        images_df,
    )

    # ensure the fixture exists, and build the STATIC standing index
    p = _materialized(
        spark,
        Q61_PHASH_PATH,
        f"n={_N_IMAGES};cols=id,phash",
        lambda: images_df(spark, _N_IMAGES).select("image_id", "phash"),
    )
    half = F.substring(F.md5("image_id"), 1, 1) < "8"
    stack_args = ", ".join(f"{k}, {_band_expr(k)}" for k in range(_BANDS))
    bb = p.where(half).selectExpr(
        "image_id", "phash", f"stack({_BANDS}, {stack_args}) AS (band_id, bucket)"
    )
    ok = (
        bb.groupBy("band_id", "bucket")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where(F.col("bn") <= _BUCKET_CAP)
        .select("band_id", "bucket")
    )
    static_index = bb.join(ok, ["band_id", "bucket"]).select(
        "band_id",
        "bucket",
        F.col("image_id").alias("base_id"),
        F.col("phash").alias("ph_b"),
    )

    # the delta arrives as a stream (file source stands in for Kafka)
    schema = StructType(
        [StructField("image_id", StringType()), StructField("phash", LongType())]
    )
    delta = (
        spark.readStream.schema(schema)
        .parquet(Q61_PHASH_PATH)
        .where(~(F.substring(F.md5("image_id"), 1, 1) < "8"))
        .selectExpr(
            "image_id", "phash", f"stack({_BANDS}, {stack_args}) AS (band_id, bucket)"
        )
        .select(
            "band_id",
            "bucket",
            F.col("image_id").alias("delta_id"),
            F.col("phash").alias("ph_d"),
        )
    )
    pairs = (
        delta.join(static_index, ["band_id", "bucket"])
        .withColumn(
            "hamming", F.bit_count(F.col("ph_d").bitwiseXOR(F.col("ph_b"))).cast("int")
        )
        .where(F.col("hamming") <= _HAMMING_MAX)
        .select("delta_id", "base_id", "hamming")
        .dropDuplicates(["delta_id", "base_id"])
    )
    sink = run_to_memory(pairs, "q148_sink", "append", spark)
    return sink.orderBy("delta_id", "base_id")


# ---------------------------------------------------------------------------
# q178: STREAMING politeness dispatcher — the stateful ONLINE form of
# q156's batch closed form. q156 proves the token-bucket recurrence
#     d_i = max(a_i, d_{i-1} + gap)
# unrolls to one window (the plan a ROUND planner wants); a LIVE
# fetcher cannot wait for the round to close — it must assign dispatch
# times as requests arrive. This operator runs the recurrence as a
# custom stateful streaming op (applyInPandasWithState): state is the
# O(1) last-dispatch micro-timestamp per host, each micro-batch folds
# its arrivals in (arr_us, event_id) order, and the output must equal
# the batch closed form BIT-EXACTLY — which is precisely what the
# shared q156 DuckDB oracle checks. Streaming-vs-batch equivalence is
# the gate (the q46-q48 discipline applied to the crawl's own core).
#
# The stream source is the events file split into time-contiguous
# ordered files (maxFilesPerTrigger=1 -> micro-batches arrive in
# event-time order, the Kafka-with-ordered-partitions stand-in).
# Batches are time-disjoint and the per-batch fold sorts by
# (arr_us, event_id), so the cross-batch composition reproduces the
# global order exactly.
#
# Scale shape: state is ONE int64 per host (politeness-bounded key
# domain — |hosts|, never |requests|); each micro-batch shuffles on
# the host key only. The Python fold is per (host, batch) and linear;
# the BATCH planner (q156) remains the declarative fast path — this
# operator exists for the online deployment.
# ---------------------------------------------------------------------------

Q178_STREAM_DIR = "/tmp/voz_spark_q178_stream"
_Q178_FILES = 8


def _q178_source_dir(sf_dir: str) -> str:
    """Write-once: events sorted by (ts, event_id), split into
    time-contiguous parquet files whose names AND mtimes increase in
    event-time order, so the file source replays them as ordered
    micro-batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.join(sf_dir, "events.parquet")
    out = os.path.join(Q178_STREAM_DIR, os.path.basename(os.path.dirname(src)) or "sf")
    marker = os.path.join(out, "_VOZ_FIXTURE")
    want = f"v1:files={_Q178_FILES};src={src}"
    try:
        with open(marker) as fh:
            if fh.read() == want:
                return out
    except OSError:
        pass
    os.makedirs(out, exist_ok=True)
    t = pq.read_table(src)
    import numpy as np

    order = np.lexsort(
        (t.column("event_id").to_numpy(), t.column("ts").to_numpy())
    )
    t = t.take(pa.array(order))
    n = t.num_rows
    bounds = [n * k // _Q178_FILES for k in range(_Q178_FILES + 1)]
    for k in range(_Q178_FILES):
        piece = t.slice(bounds[k], bounds[k + 1] - bounds[k])
        p = os.path.join(out, f"{k:03d}.parquet")
        pq.write_table(piece, p)
        os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))
    with open(marker, "w") as fh:
        fh.write(want)
    return out


_DISPATCH_OUT = (
    "host bigint, event_id bigint, arr_us bigint, dispatch_us bigint, wait_us bigint"
)
_DISPATCH_STATE = StructType([StructField("last_dispatch_us", LongType())])


def _dispatch_fold(key, pdf_iter: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    """Token-bucket fold: d = max(arrival, last + gap), one int64 of
    state per host, arrivals processed in (arr_us, event_id) order."""
    (host,) = key
    gap = (host % 5 + 1) * 1_000_000
    last = state.get[0] if state.exists else None
    pdf = pd.concat(list(pdf_iter), ignore_index=True).sort_values(
        ["arr_us", "event_id"], kind="mergesort"
    )
    out = []
    for arr in pdf["arr_us"].to_numpy():
        d = int(arr) if last is None else max(int(arr), last + gap)
        out.append(d)
        last = d
    state.update((int(last),))
    yield pd.DataFrame(
        {
            "host": host,
            "event_id": pdf["event_id"].to_numpy(),
            "arr_us": pdf["arr_us"].to_numpy(),
            "dispatch_us": out,
            "wait_us": [d - int(a) for d, a in zip(out, pdf["arr_us"].to_numpy())],
        }
    )


def dispatch_stream(events: DataFrame, n_hosts: int = 11) -> DataFrame:
    """Per-host politeness dispatch times as a custom stateful
    streaming operator (state: last dispatch per host)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    f = events.select(
        (F.col("user_id") % n_hosts).alias("host"),
        "event_id",
        F.unix_micros("ts").alias("arr_us"),
    )
    return f.groupBy("host").applyInPandasWithState(
        _dispatch_fold,
        outputStructType=_DISPATCH_OUT,
        stateStructType=_DISPATCH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _q178_oracle() -> str:
    from voz_spark.crawlops import _Q156_ORACLE

    return _Q156_ORACLE


@register("q178_stream_dispatch", oracle=_q178_oracle())
def q178_stream_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q156's politeness dispatch computed ONLINE by a stateful
    streaming operator over time-ordered micro-batches — bit-exact
    against the batch closed form's oracle."""
    src = _q178_source_dir(sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    sink = run_to_memory(dispatch_stream(ev), "q178_sink", "append", spark)
    return sink.select("host", "event_id", "arr_us", "dispatch_us", "wait_us")


# ---------------------------------------------------------------------------
# q188: STREAMING delta admit — q187 proves the incremental funnel's
# semantics in batch; the nightly reality is a STREAM of newly-crawled
# images admitted micro-batch by micro-batch. Quality gates are
# stateless in-row flags; dedup verdicts are a pure
# function of two STATIC tables (the delta manifest's phash and the
# standing index), computed once at job start with the delta on the
# LEFT of both band joins and stream-joined as a broadcast static
# relation — order-free (id< keep-first), so batch boundaries cannot
# change any verdict and the batch oracle stays exact. The funnel rollup runs
# as a streaming aggregation on first_fail (complete mode over the
# bounded 7-value domain); the stage table assembly happens on the
# bounded sink. Oracle: q187's OWN SQL — the whole admit path,
# streaming-vs-batch, is the gate.
#
# Scale notes: state is only the tiny first_fail count aggregation;
# both static relations re-scan (or broadcast) per micro-batch, and
# the delta-side self check uses the delta TABLE as the static side —
# legitimate because a nightly delta is bounded; an unbounded-stream
# deployment swaps it for dropDuplicatesWithinWatermark + the standing
# index (the q148 note).
# ---------------------------------------------------------------------------


def _q188_oracle() -> str:
    from voz_spark.imagedup import _Q187_ORACLE

    return _Q187_ORACLE


@register("q188_stream_admit", oracle=_q188_oracle())
def q188_stream_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q187's delta funnel computed BY Structured Streaming: stateless
    gate flags, two stream-static band joins for dedup, a complete-mode
    first-fail aggregation — bit-exact against the batch oracle."""
    from voz_spark import imagedup as im

    # materialize the same fixtures q187 uses (write-once)
    im.q187_incremental_funnel  # noqa: B018 — module import side effects only
    dstats_path = im.Q187_DELTA_STATS_PATH
    im._materialized(
        spark,
        dstats_path,
        f"range={im._N_IMAGES}-{im._Q187_DELTA_END};onepass;v1",
        im._q182_stats_builder(spark, start=im._N_IMAGES, end=im._Q187_DELTA_END),
    )
    dphash = im._materialized(
        spark,
        im.Q187_DELTA_PHASH_PATH,
        f"range={im._N_IMAGES}-{im._Q187_DELTA_END};cols=id,phash;v1",
        lambda: (
            spark.range(im._N_IMAGES, im._Q187_DELTA_END)
            .repartition(4)
            .mapInPandas(im._phash_rows_gen(), "image_id string, phash long")
        ),
    )
    standing = im._materialized(
        spark,
        im.Q61_PHASH_PATH,
        f"n={im._N_IMAGES};cols=id,phash",
        lambda: im.images_df(spark, im._N_IMAGES).select("image_id", "phash"),
    )
    schema = (
        "image_id string, w int, h int, caption string, luma_sum long,"
        " n_px long, lap_energy long, n_px_lap long, n_bytes long"
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        dstats_path
    )
    st = stream

    def banded(df):
        stack_args = ", ".join(
            f"{k}, ((phash >> {16 * k}) & 65535)" for k in range(im._BANDS)
        )
        return df.selectExpr(
            "*", f"stack({im._BANDS}, {stack_args}) AS (band_id, bucket)"
        )

    # The dup verdict is a pure function of two STATIC tables (the
    # delta manifest's phash column and the standing index), so it is
    # computed ONCE at job start — batch band joins, delta on the left
    # — and enters the stream as a broadcastable static relation. A
    # stream-stream formulation is both unnecessary and rejected by
    # the planner under the complete-mode rollup.
    da = banded(dphash).select(
        "band_id", "bucket", F.col("image_id").alias("id_a"), F.col("phash").alias("ph_a")
    )
    sb = banded(standing).select(
        "band_id", "bucket", F.col("image_id").alias("id_b"), F.col("phash").alias("ph_b")
    )
    db = banded(dphash).select(
        "band_id", "bucket", F.col("image_id").alias("id_b"), F.col("phash").alias("ph_b")
    )
    ham_ok = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))) <= im._HAMMING_MAX
    dup_standing = (
        da.join(sb, ["band_id", "bucket"]).where(ham_ok).select("id_a").distinct()
    )
    dup_intra = (
        da.join(db, ["band_id", "bucket"])
        .where(ham_ok & (F.col("id_b") < F.col("id_a")))
        .select("id_a")
        .distinct()
    )
    dups = (
        dup_standing.unionByName(dup_intra)
        .distinct()
        .select(F.col("id_a").alias("image_id"), F.lit(1).alias("is_dup"))
    )
    s = st.join(F.broadcast(dups), "image_id", "left")
    luma_milli = F.expr("1000 * luma_sum div n_px")
    first_fail = (
        F.when(F.col("w") * F.col("h") < im._Q182_RES_MIN_PX, 1)
        .when(
            (luma_milli < im._Q182_UNDER_MILLI) | (luma_milli > im._Q182_OVER_MILLI), 2
        )
        .when(F.expr("1000 * lap_energy div n_px_lap") < im._Q182_SHARP_MILLI, 3)
        .when(
            F.expr(
                "1000 * (length(caption) - length(regexp_replace(caption, '[0-9]', '')))"
                " div length(caption)"
            )
            > im._Q182_DIGIT_MILLI,
            4,
        )
        .when(F.coalesce(F.col("is_dup"), F.lit(0)) == 1, 5)
        .when(F.substring("image_id", 4, 10).cast("long") % 3 == 0, 6)
        .otherwise(0)
    )
    fc_stream = (
        s.select(first_fail.alias("first_fail"))
        .groupBy("first_fail")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    fc = run_to_memory(fc_stream, "q188_sink", "complete", spark)
    return im.funnel_from_first_fail(spark, fc)


# ---------------------------------------------------------------------------
# q212: watermark late-data audit — append-mode windowed aggregation
# is where streaming results can silently diverge from batch: a row
# arriving after the watermark passed its window's end is DROPPED,
# and nothing in the output says so. This query runs a 60s tumbling
# count with a 60s watermark over a stream with PLANTED lateness
# (every event_id % 17 == 5 row carries an event time 2400s older than
# its arrival slot) and an end-of-stream sentinel that advances the
# watermark past every real window so append mode finalizes them all.
#
# The oracle REPLAYS Spark's micro-batch watermark protocol in SQL —
# the fixture stores each row's batch_id (file == micro-batch, the
# q178 ordered-file recipe). The protocol was MEASURED against this
# exact engine (model fit: lag-1 misses 151 windows, lag-2 fits
# bit-exactly): the watermark applied to batch f's input is
# max(event time over batches <= f-2) - 60s — the "global watermark
# lags one extra batch" behavior (stats from f-1 fold in when
# planning f+1). A trailing no-data batch DOES run when the final
# watermark advance has pending evictions; the fixture carries TWO
# far-future sentinel files so that, under the one-batch stats lag,
# the advance is in force while the last real windows evict.
# A row is dropped iff its window end <= the (lagged) watermark.
# Streaming output == SQL replay is the gate; the test separately
# proves drops actually happened and every on-time row survived. The
# fixture is synthesized (deterministic 20k arrivals at 0.7s
# spacing), sf-independent so the oracle's static path is
# unambiguous.
#
# Scale shape: state is one count per open window (the watermark
# bounds the open set); the late flag is in-row; nothing driver-side.
# ---------------------------------------------------------------------------

Q212_STREAM_DIR = "/tmp/voz_spark_q212_latestream"
_Q212_N = 20000
_Q212_BASE_US = 1_700_000_000_000_000
_Q212_SPACING_US = 700_000
_Q212_FILES = 8
_Q212_WIN_US = 60_000_000
_Q212_DELAY_US = 60_000_000
_Q212_LATE_US = 2_400_000_000
_Q212_SENTINEL_US = _Q212_BASE_US + _Q212_N * _Q212_SPACING_US + 36_000_000_000


def _q212_source_dir() -> str:
    """Write-once ordered-file stream fixture with planted lateness:
    20k synthetic arrivals at 0.7s spacing split into 8 arrival-
    contiguous files plus a far-future sentinel file; each row carries
    its batch_id, arrival micros, and (possibly back-shifted) event
    time."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = Q212_STREAM_DIR
    marker = os.path.join(out, "_VOZ_FIXTURE")
    want = f"v2:n={_Q212_N};files={_Q212_FILES};late=2400s;sentinels=2"
    try:
        with open(marker) as fh:
            if fh.read() == want:
                return out
    except OSError:
        pass
    os.makedirs(out, exist_ok=True)
    ids = np.arange(_Q212_N, dtype=np.int64)
    arr_us = _Q212_BASE_US + ids * _Q212_SPACING_US
    late = ids % 17 == 5
    event_us = arr_us - late.astype(np.int64) * _Q212_LATE_US
    bounds = [_Q212_N * k // _Q212_FILES for k in range(_Q212_FILES + 1)]

    def _write(k, a_ids, a_arr, a_ev):
        tbl = pa.table(
            {
                "batch_id": pa.array(np.full(len(a_ids), k, dtype=np.int64)),
                "event_id": pa.array(a_ids, pa.int64()),
                "arr_us": pa.array(a_arr, pa.int64()),
                "event_ts": pa.array(a_ev, pa.int64()).cast(pa.timestamp("us")),
            }
        )
        p = os.path.join(out, f"{k:03d}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))

    for k in range(_Q212_FILES):
        s = slice(bounds[k], bounds[k + 1])
        _write(k, ids[s], arr_us[s], event_us[s])
    for j in range(2):  # two sentinels: advance, then let it apply
        sent = np.array([_Q212_SENTINEL_US + j * _Q212_WIN_US], dtype=np.int64)
        _write(_Q212_FILES + j, np.array([-1 - j], dtype=np.int64), sent, sent)
    with open(marker, "w") as fh:
        fh.write(want)
    return out


_Q212_ORACLE = f"""
WITH r AS (
  SELECT batch_id, event_id, epoch_us(event_ts) AS event_us, arr_us
  FROM read_parquet('{Q212_STREAM_DIR}/[0-9]*.parquet')
),
bmax AS (SELECT batch_id, MAX(event_us) AS bm FROM r GROUP BY 1),
wm AS (
  SELECT batch_id,
         MAX(bm) OVER (ORDER BY batch_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           - {_Q212_DELAY_US} AS wm_us
  FROM bmax
),
acc AS (
  SELECT r.event_id, r.arr_us, r.event_us,
         (r.event_us // {_Q212_WIN_US}) * {_Q212_WIN_US} AS win_us
  FROM r JOIN wm USING (batch_id)
  WHERE r.event_id >= 0
    AND (wm.wm_us IS NULL
         OR (r.event_us // {_Q212_WIN_US}) * {_Q212_WIN_US} + {_Q212_WIN_US}
            > wm.wm_us)
)
SELECT CAST(win_us AS BIGINT) AS win_us,
       CAST(COUNT(*) AS BIGINT) AS n_accepted,
       CAST(SUM(CASE WHEN event_us < arr_us THEN 1 ELSE 0 END) AS BIGINT)
         AS n_late_accepted
FROM acc GROUP BY 1 ORDER BY 1
"""


@register("q212_stream_late_audit", oracle=_Q212_ORACLE)
def q212_stream_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode tumbling counts under a 60s watermark over planted
    late arrivals — equal to the SQL replay of the per-micro-batch
    watermark/drop protocol."""
    src = _q212_source_dir()
    # watermarks require TIMESTAMP (not NTZ); the session pins UTC, so
    # the fixture's naive micros read as the same instants in both
    # engines (duckdb epoch_us == spark unix_micros == raw micros)
    schema = StructType(
        [
            StructField("batch_id", LongType()),
            StructField("event_id", LongType()),
            StructField("arr_us", LongType()),
            StructField("event_ts", TimestampType()),
        ]
    )
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # NOTE: no pre-aggregation filter on the sentinels — a
    # deterministic filter gets PUSHED DOWN into the file scan, so
    # the sentinel rows would never reach the EventTimeWatermark node
    # and the watermark would never advance (measured: batches read 0
    # rows). The sentinels' own far-future windows never finalize, so
    # append mode excludes them from the sink without any filter.
    agg = (
        ev.withWatermark("event_ts", "60 seconds")
        .groupBy(F.window("event_ts", "60 seconds").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_accepted"),
            F.sum(
                F.when(
                    F.unix_micros(F.col("event_ts")) < F.col("arr_us"), 1
                ).otherwise(0)
            ).alias("n_late_accepted"),
        )
    )
    sink = run_to_memory(agg, "q212_sink", "append", spark)
    return sink.select(
        F.unix_micros(F.col("win.start")).cast("long").alias("win_us"),
        F.col("n_accepted").cast("long").alias("n_accepted"),
        F.col("n_late_accepted").cast("long").alias("n_late_accepted"),
    ).orderBy("win_us")


# ---------------------------------------------------------------------------
# q220: STREAMING novelty — q215's first-seen accounting computed
# ONLINE: as crawl rounds arrive, each trigram shingle is credited to
# the round that saw it FIRST, without ever recomputing the corpus.
# The operator is streaming dropDuplicates on the shingle key (the
# q54 seen-set concept applied to content instead of URLs): the first
# arrival survives carrying its round, later copies are dropped by
# state, and a complete-mode rollup counts novel shingles per round.
# The oracle is the BATCH first-seen SQL (min(round) per shingle)
# over the same fixture — ordered arrival makes first-arrival ==
# min(round), so streaming-vs-batch equivalence is the gate.
#
# Scale note: state is one entry per DISTINCT shingle — bounded here;
# an unbounded deployment uses dropDuplicatesWithinWatermark (the
# q148 note) or the standing-index join of q120.
#
# Fixture: 600 synthetic docs (18 tokens from a 12-word vocab, md5-
# derived), 6 round files in arrival order — sf-independent so the
# oracle's static path is unambiguous. Low vocab => novelty decays
# fast (coupon collector), which the test pins.
# ---------------------------------------------------------------------------

Q220_STREAM_DIR = "/tmp/voz_spark_q220_novstream"
_Q220_DOCS = 600
_Q220_TOKENS = 18
_Q220_VOCAB = 12
_Q220_ROUNDS = 6


def _q220_source_dir() -> str:
    import hashlib

    import pandas as pd

    out = Q220_STREAM_DIR
    marker = os.path.join(out, "_VOZ_FIXTURE")
    want = f"v1:d={_Q220_DOCS};t={_Q220_TOKENS};v={_Q220_VOCAB}"
    try:
        with open(marker) as fh:
            if fh.read() == want:
                return out
    except OSError:
        pass
    os.makedirs(out, exist_ok=True)

    def text(i: int) -> str:
        toks = []
        for j in range(_Q220_TOKENS):
            h = int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:15], 16)
            toks.append(f"t{h % _Q220_VOCAB}")
        return " ".join(toks)

    for r in range(_Q220_ROUNDS):
        ids = [i for i in range(_Q220_DOCS) if i % _Q220_ROUNDS == r]
        pdf = pd.DataFrame(
            {"doc_id": ids, "round": [r] * len(ids), "text": [text(i) for i in ids]}
        )
        p = os.path.join(out, f"{r:03d}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (1_700_000_000 + r, 1_700_000_000 + r))
    with open(marker, "w") as fh:
        fh.write(want)
    return out


_Q220_ORACLE = f"""
WITH d AS (
  SELECT round, string_split(text, ' ') AS tk
  FROM read_parquet('{Q220_STREAM_DIR}/[0-9]*.parquet')
),
tri AS (
  SELECT round,
         UNNEST(list_transform(range(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))
           AS g
  FROM d WHERE len(tk) >= 3
),
first AS (SELECT g, MIN(round) AS round FROM tri GROUP BY g)
SELECT CAST(round AS BIGINT) AS round,
       CAST(COUNT(*) AS BIGINT) AS n_novel
FROM first GROUP BY round ORDER BY round
"""


@register("q220_stream_novelty", oracle=_Q220_ORACLE)
def q220_stream_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online first-seen shingle accounting: streaming dropDuplicates
    on the shingle key + complete-mode per-round rollup — equal to
    the batch min(round) SQL."""
    src = _q220_source_dir()
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("round", LongType()),
            StructField("text", StringType()),
        ]
    )
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    tri = (
        ev.select("round", F.split("text", " ").alias("tk"))
        .where(F.size("tk") >= 3)
        .select(
            "round",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(tk) - 3),"
                    " i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))"
                )
            ).alias("g"),
        )
        .dropDuplicates(["g"])
        .groupBy("round")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    sink = run_to_memory(tri, "q220_sink", "complete", spark)
    return sink.select(
        F.col("round").cast("long").alias("round"),
        F.col("n_novel").cast("long").alias("n_novel"),
    ).orderBy("round")


# ---------------------------------------------------------------------------
# q242: the crawl-volume anomaly monitor run ONLINE — q238's
# median/MAD policy fed by a STREAMING daily rollup: the per-day
# counts accumulate across time-ordered micro-batches (complete-mode
# aggregation, state bounded by calendar days), and the robust policy
# runs on the final bounded day table. Oracle: q238's OWN SQL — the
# whole monitor, streaming-vs-batch, is the gate (the q178/q188
# discipline). In production the policy re-runs after each
# micro-batch on the same bounded state; availableNow bounds the run
# for the harness.
# ---------------------------------------------------------------------------


def q242_streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q238's anomaly policy over a streaming complete-mode daily
    rollup — bit-exact against the batch oracle."""
    from pyspark.sql import functions as F

    from voz_spark.crawlops import anomaly_policy

    src = _q178_source_dir(sf_dir)
    ev = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    daily = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n0")
    )
    sink = run_to_memory(daily, "q242_sink", "complete", spark)
    return anomaly_policy(sink)


def _register_q242() -> None:
    from voz_spark.crawlops import _Q238_ORACLE
    from voz_spark.registry import register

    register("q242_streaming_anomaly", oracle=_Q238_ORACLE)(q242_streaming_anomaly)


_register_q242()
