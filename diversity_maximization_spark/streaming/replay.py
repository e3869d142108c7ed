"""Stream replay: turn the `events` fixture into a file-source stream
(SURVEY.md §5.2.4 batch-equivalence harness).

Files are written in timestamp order (one file per time slice) and
consumed with maxFilesPerTrigger=1, so micro-batch boundaries — and
therefore watermark advancement — are deterministic. Late-data
fixtures are built by moving a chosen set of records into a later
file than their timestamps warrant (FIXTURES.md: never by modifying
the source table).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load

EVENT_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)

# one replay dir per (sf_dir, n_slices) per process: the slices are a
# deterministic function of the fixture, and every streaming key pays
# the ~2-4 s write otherwise. Cached dirs are removed at interpreter
# exit (same /tmp-growth class as the round-7 stats_barrier advice
# finding — a long-lived host running many sweeps would otherwise
# accumulate one dir set per process); mid-process they must stay,
# since cached streams re-read the files on every query run.
_REPLAY_CACHE: dict[tuple[str, int], str] = {}


@atexit.register
def _cleanup_replay_dirs() -> None:
    for d in list(_REPLAY_CACHE.values()) + list(_FLUSH_CACHE.values()):
        shutil.rmtree(d, ignore_errors=True)


def write_replay_files(
    spark: SparkSession, sf_dir: str, n_slices: int = 4
) -> str:
    """Write events as n_slices time-ordered parquet files; returns dir."""
    key = (sf_dir, n_slices)
    if key in _REPLAY_CACHE:
        return _REPLAY_CACHE[key]
    out = tempfile.mkdtemp(prefix="dms_stream_")
    ev = load(spark, sf_dir, "events")
    bounds = ev.approxQuantile(
        "event_id", [i / n_slices for i in range(1, n_slices)], 0.0
    )
    lo = None
    for i in range(n_slices):
        hi = bounds[i] if i < len(bounds) else None
        part = ev
        if lo is not None:
            part = part.filter(F.col("event_id") > lo)
        if hi is not None:
            part = part.filter(F.col("event_id") <= hi)
        part.orderBy("ts").coalesce(1).write.mode("overwrite").parquet(
            f"{out}/slice={i}"
        )
        lo = hi
    # flatten: move the single parquet file of each slice up, in order.
    # FileStreamSource orders files by MODIFICATION TIME, not name —
    # copies landing in the same clock tick would make the replay
    # order (and the two sources' batch alignment in stream-stream
    # joins) nondeterministic under load, so each file gets an
    # explicit strictly-increasing mtime.
    final = tempfile.mkdtemp(prefix="dms_stream_files_")
    base = 1_700_000_000
    for i in range(n_slices):
        d = f"{out}/slice={i}"
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        dst = os.path.join(final, f"{i:04d}.parquet")
        shutil.copy(os.path.join(d, files[0]), dst)
        os.utime(dst, (base + 60 * i, base + 60 * i))
    shutil.rmtree(out, ignore_errors=True)
    _REPLAY_CACHE[key] = final
    return final


_FLUSH_CACHE: dict[tuple[str, int], str] = {}


def write_replay_files_with_flush(
    spark: SparkSession, sf_dir: str, n_slices: int = 4
) -> str:
    """The base replay plus two trailing watermark-flush slices.

    OUTER stream-stream joins withhold a null-extended row until the
    global watermark PASSES the row's join window — a replay that
    simply runs out of files would never emit the unmatched tail (the
    documented outer-join caveat). Two sentinel micro-batch files fix
    that deterministically: each carries one far-future signup and
    one far-future purchase (2030-01-01 / 2030-01-02 — beyond any
    fixture's event-time span) under NEGATIVE user ids that match no
    real key and not each other, so the first sentinel batch advances
    BOTH sides' watermark past every real event and the second forces
    one more data batch in which the evicted unmatched state is
    actually emitted (no reliance on no-data-batch scheduling). The
    sentinels themselves either stay withheld or surface as negative
    user ids — consumers filter user_id >= 0."""
    if (sf_dir, n_slices) in _FLUSH_CACHE:
        return _FLUSH_CACHE[(sf_dir, n_slices)]
    base = write_replay_files(spark, sf_dir, n_slices)
    final = tempfile.mkdtemp(prefix="dms_stream_flush_")
    stamp = 1_700_000_000
    files = sorted(os.listdir(base))
    for i, f in enumerate(files):
        dst = os.path.join(final, f)
        shutil.copy(os.path.join(base, f), dst)
        os.utime(dst, (stamp + 60 * i, stamp + 60 * i))
    for j, day in enumerate(("2030-01-01", "2030-01-02")):
        sent = spark.createDataFrame(
            [
                (
                    -(10 * j + 1),
                    f"{day} 00:00:00",
                    -(10 * j + 1),
                    "signup",
                    0.0,
                    "{}",
                ),
                (
                    -(10 * j + 2),
                    f"{day} 00:00:00",
                    -(10 * j + 2),
                    "purchase",
                    0.0,
                    "{}",
                ),
            ],
            "event_id bigint, ts string, user_id bigint, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        tmp = tempfile.mkdtemp(prefix="dms_stream_sent_")
        sent.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(final, f"9{j:03d}.parquet")
        shutil.copy(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        t = stamp + 60 * (len(files) + j + 1)
        os.utime(dst, (t, t))
    _FLUSH_CACHE[(sf_dir, n_slices)] = final
    return final


def stream_events(
    spark: SparkSession, replay_dir: str, files_per_trigger: int | None = None
) -> DataFrame:
    """Watermarks require TIMESTAMP (ltz); session tz is pinned to UTC
    here (runtime-settable conf — the driver constructs its own
    session) so the ntz->ltz cast preserves wall-clock values (queries
    cast window bounds back to ntz for oracle comparison).

    ``files_per_trigger`` sets how many replay files each micro-batch
    consumes. Boundaries stay deterministic (files are mtime-ordered;
    batch k = files [k*f, (k+1)*f)). The default (None) is 2 (guide §2.2 —
    every micro-batch pays a fixed WAL-commit + offset-log + listing +
    per-partition state-store-commit overhead, measured at 130-160 ms
    plus an addBatch floor per batch at sf0.01, so halving the batch
    count nearly halves the replay cost). Result-invariance argument,
    key by key in OPTIMIZATION_r11.md: coarsening adjacent time-ordered
    slices only makes the watermark lag MORE conservative (state lives
    longer, late-drops can only decrease — and every oracle already
    matches the no-drop batch answer), and the order-sensitive pandas
    handlers sort by (ts, event_id) within batch, so a coarser batching
    of slices that already replay in global (ts, event_id) order folds
    in the same order. Keys whose semantics pin the batch boundary
    (sentinel-flush outer joins) pass ``files_per_trigger=1``
    explicitly. The streaming-coreset replay has its own reader
    (streaming/coreset.py): keys whose declared output is the
    per-batch snapshots keep 1 file per trigger, and keys that read
    only the final state take the whole replay in one micro-batch.

    ``SPARK_GRAFT_REPLAY_FPT`` overrides the DEFAULT only (deployment
    knob, same pattern as SPARK_GRAFT_STREAM_SHUFFLE); a value the
    caller passes is never overridden."""
    if files_per_trigger is None:
        env = os.environ.get("SPARK_GRAFT_REPLAY_FPT")
        files_per_trigger = max(1, int(env)) if env else 2
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(replay_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def stream_shuffle_partitions(spark: SparkSession) -> int:
    """Shuffle-partition count for STREAMING queries (state-store
    partition count). Streaming disables AQE, so the static
    `spark.sql.shuffle.partitions` is never coalesced the way batch
    exchanges are — and every stateful operator pays a per-partition
    state-store open/commit (plus its task) in EVERY micro-batch,
    whether or not the partition holds data. Measured at sf0.01
    (stream_stream_left_join, 6 micro-batches, idle host): 33-42 s at
    the session's 32 partitions vs 8.8-9.1 s at 8 — the state commits
    were ~75% of the query. Default scales with the cluster
    (defaultParallelism/8, floor 4: micro-batch state ops are
    commit-bound, not compute-bound, so they want several-fold fewer
    partitions than batch shuffles — r11 paired A/B at sf0.01, 8 vs 4
    partitions interleaved in one session: stream_dedup min 1.34 vs
    1.02 s, stream_stream_join 3.58 vs 2.96 s, stream_decay_state
    1.79 vs 1.75 s, 4 never slower); production deployments size it
    to stateful-key cardinality via SPARK_GRAFT_STREAM_SHUFFLE.
    Result-invariant: state is per-key, partitioning only places
    keys, and the memory-sink output is order-canonicalized."""
    env = os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE")
    if env:
        return max(1, int(env))
    return max(4, spark.sparkContext.defaultParallelism // 8)


@contextmanager
def stream_conf(spark: SparkSession):
    """Scope `spark.sql.shuffle.partitions` to one streaming run (set
    before .start(), restored after awaitTermination — the value is
    pinned into the query's checkpoint at first batch, so batch
    queries planned after the restore are unaffected)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(stream_shuffle_partitions(spark))
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# Diagnostic tap (guide §1: measure first): after every run_to_memory
# the per-micro-batch progress dicts of the LAST completed query are
# kept here, so profiling tools can read the durationMs breakdown
# (triggerExecution / queryPlanning / walCommit / stateCommit /
# addBatch) without changing any query path. Never read by operators.
LAST_PROGRESS: list = []


def run_to_memory(
    stream_df: DataFrame, name: str, mode: str = "complete"
) -> DataFrame:
    """Run the streaming query to completion against a memory sink and
    return the final result table."""
    spark = stream_df.sparkSession
    with stream_conf(spark):
        # Complete-mode runs skip the trailing no-data micro-batch
        # (guide §2.2: one whole batch of WAL + state commits). In
        # complete mode the sink rewrites the FULL aggregation state on
        # every batch and watermark eviction never drops state, so the
        # no-data batch re-emits exactly the table the last data batch
        # already wrote — result-invariant by construction. Append-mode
        # runs keep it: their final emissions (windows/outer-join state
        # the last watermark advance closed) flush in that batch.
        nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
        old_nodata = spark.conf.get(nodata_key)
        if mode == "complete":
            spark.conf.set(nodata_key, "false")
        try:
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            LAST_PROGRESS[:] = [p for p in q.recentProgress]
        finally:
            spark.conf.set(nodata_key, old_nodata)
    return spark.table(name)
