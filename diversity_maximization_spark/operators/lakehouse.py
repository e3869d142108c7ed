"""Lakehouse table-maintenance operators: snapshot diffing (CDC
validation), small-file compaction, and schema-evolution reads.

These are the table-format workloads (Delta/Iceberg-style) re-expressed
over plain parquet + DataFrame ops, so the engine covers the
maintenance side of a 100 TB lake, not just queries:

- snapshot_diff: full-outer join of two table versions on the key,
  emitting added/removed/changed rows — one shuffle on the key (or
  zero with co-located bucketing, see join_bucketed). This is how a
  CDC feed is validated against a table snapshot.
- sink_compact: the OPTIMIZE/compaction pattern — a fragmented write
  (many small files) rewritten to few large files. Small files are
  the classic 100 TB read-amplification killer: each file costs a
  task + open + footer parse, so 10^6 x 1 MB files can be slower
  than 10^3 x 1 GB files for the same bytes.
- source_schema_evolution: mergeSchema read over parts written with
  different schemas (a column added mid-stream) — old rows surface
  NULL for the new column; proves the engine reads evolving layouts
  without rewrite.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..scratch import scratch_dir
from ..sources import load


@query(
    "snapshot_diff",
    oracle="""
WITH v0 AS (
  SELECT event_id, value FROM events
), v1 AS (
  SELECT event_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE)
                   / 100 + 1
              ELSE value END AS value
  FROM events WHERE event_type <> 'error'
  UNION ALL
  SELECT event_id + 1000000000 AS event_id, value
  FROM events WHERE event_type = 'signup'
)
SELECT COALESCE(v0.event_id, v1.event_id) AS event_id,
       CASE WHEN v0.event_id IS NULL THEN 'added'
            WHEN v1.event_id IS NULL THEN 'removed'
            ELSE 'changed' END AS status,
       v0.value AS old_value, v1.value AS new_value
FROM v0 FULL OUTER JOIN v1 USING (event_id)
WHERE v0.event_id IS NULL OR v1.event_id IS NULL
   OR v0.value <> v1.value
""",
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version diff: given snapshot v0 (events) and v1 (a
    deterministic simulated next snapshot: error rows deleted,
    purchase values bumped by 1.00, signup rows re-inserted under new
    ids), emit the change set — added / removed / changed keys with
    old and new values. One full-outer equi-join on the table key;
    unchanged rows are filtered out so the output is O(changes), the
    CDC-validation shape (the inverse of merge_upsert, which APPLIES
    a change set). The value bump goes through exact cents so both
    engines compute the identical new double."""
    ev = load(spark, sf_dir, "events")
    v0 = ev.select("event_id", "value")
    v1 = (
        ev.filter(F.col("event_type") != "error")
        .select(
            "event_id",
            F.when(
                F.col("event_type") == "purchase",
                F.expr(
                    "CAST(CAST(ROUND(value * 100) AS BIGINT) AS DOUBLE)"
                    " / 100 + 1"
                ),
            )
            .otherwise(F.col("value"))
            .alias("value"),
        )
        .unionAll(
            ev.filter(F.col("event_type") == "signup").select(
                (F.col("event_id") + 1000000000).alias("event_id"),
                "value",
            )
        )
    )
    a = v0.alias("a")
    b = v1.alias("b")
    j = a.join(b, F.col("a.event_id") == F.col("b.event_id"), "full_outer")
    return j.filter(
        F.col("a.event_id").isNull()
        | F.col("b.event_id").isNull()
        | (F.col("a.value") != F.col("b.value"))
    ).select(
        F.coalesce(F.col("a.event_id"), F.col("b.event_id")).alias(
            "event_id"
        ),
        F.when(F.col("a.event_id").isNull(), "added")
        .when(F.col("b.event_id").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
        F.col("a.value").alias("old_value"),
        F.col("b.value").alias("new_value"),
    )


@query(
    "sink_compact",
    oracle="""
SELECT COUNT(*) AS n_rows, TRUE AS compacted
FROM events
""",
)
def sink_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (OPTIMIZE): events is first written
    fragmented (repartition(64) → 64 small files), then compacted by
    a plain read → repartition(4) → rewrite. The result row carries
    the read-back row count plus a `compacted` flag asserting the
    file count actually dropped (counted distributively via
    input_file_name(), no filesystem listing on the driver). The
    oracle pins n_rows to the original table — compaction must be
    row-lossless."""
    ev = load(spark, sf_dir, "events")
    frag_dir = scratch_dir(prefix="dms_frag_")
    ev.repartition(64).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    n_files_before = (
        frag.select(F.input_file_name().alias("f")).distinct().count()
    )
    compact_dir = scratch_dir(prefix="dms_compact_")
    frag.repartition(4).write.mode("overwrite").parquet(compact_dir)
    back = spark.read.parquet(compact_dir)
    # input_file_name() is non-deterministic to Catalyst, so the file
    # count runs as its own distinct job (still distributed), and the
    # flag enters the result as a literal.
    n_files_after = (
        back.select(F.input_file_name().alias("f")).distinct().count()
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(n_files_after < n_files_before).alias("compacted"),
    )


@query(
    "source_schema_evolution",
    oracle="""
SELECT COUNT(*) AS n_rows,
       COUNT(CASE WHEN event_id % 2 = 1 THEN 1 END) AS n_with_v2,
       CAST(SUM(CASE WHEN event_id % 2 = 1
                     THEN CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT)
                END) AS DOUBLE) / 100 AS v2_total
FROM events
""",
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: even-keyed events are written with the
    original schema, odd-keyed events with an added `value_v2` column
    (the migrated re-ingest), and the table is read back with
    mergeSchema — old files surface NULL for the new column, new
    files carry it. The aggregate counts and sums only the evolved
    rows, so the oracle (CASE on the same parity split) proves NULL
    back-fill semantics. This is the add-a-column-without-rewriting
    path every long-lived 100 TB table takes."""
    ev = load(spark, sf_dir, "events")
    out_dir = scratch_dir(prefix="dms_evolve_")
    ev.filter(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(
        f"{out_dir}/part=a"
    )
    # COALESCE keeps value_v2 non-null on every evolved row, so
    # count(value_v2) counts exactly the odd-keyed (evolved-file)
    # rows even if a future fixture introduces NULL values
    (
        ev.filter(F.col("event_id") % 2 == 1)
        .withColumn(
            "value_v2",
            F.expr("CAST(ROUND(COALESCE(value, 0) * 100) AS BIGINT)"),
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/part=b")
    )
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out_dir}/part=a", f"{out_dir}/part=b"
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value_v2").alias("n_with_v2"),
        (F.sum("value_v2").cast("double") / 100).alias("v2_total"),
    )


@query(
    "sink_dynamic_overwrite",
    oracle="""
WITH merged AS (
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type <> 'click'
  UNION ALL
  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) * 2 AS cents
  FROM events WHERE event_type = 'click'
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM merged GROUP BY event_type
""",
)
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (INSERT OVERWRITE ... PARTITION):
    events lands partitioned by event_type, then a corrected 'click'
    batch (cents doubled) overwrites ONLY its own partition under
    partitionOverwriteMode=dynamic — the daily-restatement pattern
    where one day/type is recomputed without rewriting the table.
    The read-back per-type counts and exact cent totals prove both
    sides: untouched partitions byte-survive (their totals equal the
    original) and the overwritten partition carries the new data.
    Values travel as exact integer cents so the proof is hash-exact."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    base = scratch_dir(prefix="dms_dynover_")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(base)

    corrected = ev.filter(F.col("event_type") == "click").withColumn(
        "cents", F.col("cents") * 2
    )
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    saved = spark.conf.get(mode_key, None)
    spark.conf.set(mode_key, "dynamic")
    try:
        corrected.write.mode("overwrite").partitionBy("event_type").parquet(base)
    finally:
        if saved is None:
            spark.conf.unset(mode_key)
        else:
            spark.conf.set(mode_key, saved)

    back = spark.read.parquet(base)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("total_cents")
    )


@query(
    "catalog_analyze_stats",
    oracle="""
SELECT 'nation' AS table_name, (SELECT COUNT(*) FROM nation) AS n_rows,
       TRUE AS stats_ok
UNION ALL
SELECT 'region', (SELECT COUNT(*) FROM region), TRUE
""",
)
def catalog_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog statistics for the cost-based optimizer: tables are
    registered in the warehouse, ANALYZE TABLE ... COMPUTE STATISTICS
    runs, and the optimizer-visible rowCount (read back through the
    logical plan's stats, the numbers CBO joins/reorders with) is
    checked against the exact count. At 100 TB stats collection is
    the cheap scan you amortize over every subsequent plan choice —
    broadcast-threshold decisions, join reordering — and WRONG stats
    are worse than none, hence the exactness flag."""
    import hashlib
    import os
    import tempfile

    db = "dms_stats"
    db_loc = os.path.join(
        tempfile.gettempdir(), f"dms_stats_db_{os.getpid()}"
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{db_loc}'")
    sfx = hashlib.md5(f"{sf_dir}:{os.getpid()}".encode()).hexdigest()[:10]
    out = []
    # rowCount surfaces in logical-plan Statistics only under CBO; the
    # stats reads below are eager, so the caller's setting comes back
    cbo_key = "spark.sql.cbo.enabled"
    saved = spark.conf.get(cbo_key, None)
    spark.conf.set(cbo_key, "true")
    try:
        for tbl in ("nation", "region"):
            name = f"{db}.{tbl}_s{sfx}"
            if not spark.catalog.tableExists(name):
                path = scratch_dir(prefix=f"dms_stats_{tbl}_")
                load(spark, sf_dir, tbl).write.mode("overwrite").option(
                    "path", path
                ).saveAsTable(name)
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
            # the stats CBO actually sees: logical plan rowCount
            plan = spark.table(name)._jdf.queryExecution().optimizedPlan()
            rc = plan.stats().rowCount()
            row_count = int(str(rc.get())) if rc.isDefined() else -1
            exact = load(spark, sf_dir, tbl).count()
            out.append((tbl, exact, row_count == exact))
    finally:
        if saved is None:
            spark.conf.unset(cbo_key)
        else:
            spark.conf.set(cbo_key, saved)
    return spark.createDataFrame(
        out, "table_name string, n_rows bigint, stats_ok boolean"
    )

@query(
    "sink_sharded_export",
    oracle="""
WITH assigned AS (
  SELECT doc_id, n_chars,
         CAST(((doc_id % 2147483648) * 2654435761 % 4294967296) % 8
              AS BIGINT) AS shard
  FROM documents
)
SELECT shard, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM assigned GROUP BY shard
""",
)
def sink_sharded_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard export — the terminal op of a pretraining
    pipeline: documents are hash-assigned to 8 size-balanced shards
    (a Knuth multiplicative hash in plain integer arithmetic,
    identical in both engines, so the split is stable under any
    layout or rerun), physically written
    partitionBy(shard), and the returned manifest (docs, chars,
    id range per shard) is computed from the READ-BACK files — the
    hash match against the oracle's direct aggregation proves the
    export wrote every document exactly once. At 100 TB the shard
    count scales with the dataloader fleet; the write is one
    hash-partitioned pass."""
    import tempfile

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.expr(
            "CAST(((doc_id % 2147483648) * 2654435761 % 4294967296) % 8"
            " AS BIGINT)"
        ).alias("shard"),
    )
    out = scratch_dir(prefix="dms_shards_")
    d.write.partitionBy("shard").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


@query(
    "sink_integrity_manifest",
    oracle="""
WITH assigned AS (
  SELECT o_orderkey AS k,
         CAST(((o_orderkey % 2147483648) * 2654435761 % 4294967296) % 4
              AS BIGINT) AS shard
  FROM orders
), content AS (
  SELECT shard,
         string_agg(CAST(k AS STRING) || chr(10), '' ORDER BY k)
           AS body
  FROM assigned GROUP BY shard
)
SELECT shard,
       CAST(length(body) AS BIGINT) AS n_bytes,
       md5(body) AS content_md5
FROM content
""",
)
def sink_integrity_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level integrity manifest of a deterministic sharded CSV
    export: order keys hash to 4 shards (the sink_sharded_export
    Knuth mix), each shard is written as ONE sorted header-less CSV
    file, the files are read back through Spark's binaryFile source
    and md5'd — and the manifest hash-matches an oracle that never
    touches a filesystem, reconstructing each file's exact bytes
    with an ordered string_agg. That match proves the export is
    BYTE-reproducible (row order, formatting, newline discipline) —
    the property a downstream dataloader checksums against, and the
    reason the export sorts within shards (an unsorted write would
    be content-nondeterministic under scheduling variation). The shard
    column maps back from the directory name, not the file name
    (task-UUID file names are the nondeterminism the manifest
    design must route around)."""
    import tempfile

    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.expr(
            "CAST(((o_orderkey % 2147483648) * 2654435761 % 4294967296)"
            " % 4 AS BIGINT)"
        ).alias("shard"),
    )
    out = scratch_dir(prefix="dms_manifest_")
    (
        o.repartition(4, "shard")
        .sortWithinPartitions("shard", "k")
        .write.partitionBy("shard")
        .mode("overwrite")
        .option("header", "false")
        .csv(out)
    )
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.csv")
        .load(out)
    )
    return files.select(
        F.regexp_extract(F.col("path"), r"shard=(\d+)", 1)
        .cast("bigint")
        .alias("shard"),
        F.length("content").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )
