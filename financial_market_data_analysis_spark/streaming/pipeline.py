"""The streaming pipeline: watermarks, stream-stream interval joins,
dedup, and micro-batch sinks (T1-T9, K1-K5, J1, D1).

The reference's spark_consumer.py builds five watermarked feeds, joins
deep↔{vix, volume, cot, ind} with a bucket-equality + 3-minute-band
predicate, dedups, fills nulls, and appends each micro-batch over JDBC
while a second query emits a Kafka trigger signal
(spark_consumer.py:435-502). This module re-expresses that topology
with the *same transform library the batch path uses* — stream/batch
unification is the engine's core design stance (SURVEY.md §7.1).

Where the reference had to push all window aggregations to MariaDB
(T9 — Spark 2.4 could not chain streaming aggregations,
README.md:137-141), the engine uses **foreachBatch incremental
materialization**: each micro-batch appends joined bars to a parquet
warehouse; indicators (W1-W8) are computed over a bounded tail of that
warehouse per batch — one system, transactional per epoch, and the
indicator code is literally the batch library.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from financial_market_data_analysis_spark.operators.joins import asof_band_join

WATERMARK = "5 minutes"  # spark_consumer.py:114 etc.
BAND_SECONDS = 180  # 3-minute join tolerance, spark_consumer.py:440-442


def watermarked(df: DataFrame, ts_col: str = "ts", delay: str = WATERMARK) -> DataFrame:
    """T1 — bound event-time state (identical API batch-side no-op)."""
    return df.withWatermark(ts_col, delay)


def join_feeds(
    deep: DataFrame,
    others: dict[str, DataFrame],
    ts_col: str = "ts",
    band_seconds: int = BAND_SECONDS,
) -> DataFrame:
    """J1 ×N — chain the deep stream against every other feed with the
    bucketed band join. Each feed must carry a distinct ``{name}_ts``
    column before the join so the band predicates stay unambiguous
    (mirrors spark_consumer.py:437-477's 4 sequential joins).

    Works identically on batch DataFrames (tests) and watermarked
    streaming DataFrames: the band condition is time-bound on both
    sides, which is exactly what Spark requires to evict join state.
    """
    out = deep.withColumnRenamed(ts_col, "deep_ts")
    for name, feed in others.items():
        feed_ts = f"{name}_ts"
        out = asof_band_join(
            out,
            feed.withColumnRenamed(ts_col, feed_ts),
            "deep_ts",
            feed_ts,
            band_seconds=band_seconds,
            ts_unit="ts",
        ).drop(feed_ts)
    return out


def dedup_within_watermark(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Scale path: key-scoped dedup with watermark-bounded state
    (``dropDuplicatesWithinWatermark``, Spark 3.5+) — state holds one
    entry per key per watermark window instead of every row seen."""
    return df.dropDuplicatesWithinWatermark(list(keys))


def _apply_trigger(writer, trigger: dict | None):
    """K5/T8 — the engine's pacing knob. ``trigger`` is passed straight
    to ``DataStreamWriter.trigger``: ``{"processingTime": "5 minutes"}``
    mirrors the reference's 300 s producer cadence (producer.py:257-258),
    ``{"availableNow": True}`` drains-and-stops (tests/backfill)."""
    return writer.trigger(**trigger) if trigger else writer


def epoch_idempotent_writer(
    path: str,
    partition_by: Sequence[str] = (),
    epoch_col: str | None = "epoch_id",
) -> Callable[[DataFrame, int], None]:
    """The per-epoch warehouse write, exposed for direct testing of the
    retry path. With ``epoch_col`` set (default), each micro-batch is
    stamped with its epoch id and written via DYNAMIC partition
    overwrite on (*partition_by, epoch_col): a retried epoch REPLACES
    exactly its own partition directories — including a partial write
    left by a mid-epoch crash — instead of appending duplicate bars.
    The bars warehouse and the prediction sink both write through it;
    the reference's JDBC append is at-least-once with
    dedup-hope (spark_consumer.py:68-84). ``epoch_col=None`` reverts to
    the reference-exact plain append.

    The epoch partition nests UNDER the user buckets, so date-bucket
    partition pruning is untouched; the epoch dirs are small and a
    periodic compaction job can fold them away (rewrite + drop the
    column) without changing readers, which tolerate the extra column.
    """

    def _write(batch: DataFrame, epoch_id: int, *, skip_empty_probe: bool = False) -> None:
        if not skip_empty_probe and batch.isEmpty():
            # the reference used rdd.isEmpty() — an extra job; isEmpty()
            # on the DataFrame is a limit-1 probe (spark_consumer.py:76)
            return
        if epoch_col is None:
            w = batch.write.mode("append")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(path)
        else:
            (
                batch.withColumn(epoch_col, F.lit(epoch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(*partition_by, epoch_col)
                .parquet(path)
            )

    return _write


def parquet_append_sink(
    stream: DataFrame,
    path: str,
    checkpoint_dir: str,
    post_batch: Callable[[DataFrame, int], None] | None = None,
    trigger: dict | None = None,
    partition_by: Sequence[str] = (),
    epoch_col: str | None = "epoch_id",
):
    """K1 — the warehouse sink as foreachBatch → idempotent parquet
    write (see ``epoch_idempotent_writer``).

    Replaces the reference's JDBC append (at-least-once, no idempotence,
    spark_consumer.py:68-84): per-epoch dynamic partition overwrite
    plus the checkpoint gives exactly-once bars even when a partially
    written epoch is retried; ``post_batch`` is the hook where
    incremental indicator materialization runs (T9 resolution).

    ``partition_by`` (e.g. a date bucket) makes the warehouse
    partition-pruned: readers that want the tail touch only the last
    partition directories instead of scanning the full history — the
    difference between O(tail) and O(warehouse) per micro-batch at
    100 TB.
    """
    write = epoch_idempotent_writer(path, partition_by, epoch_col)

    def _write(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():  # one limit-1 probe gates write AND hooks
            return
        write(batch, epoch_id, skip_empty_probe=True)
        if post_batch is not None:
            post_batch(batch, epoch_id)

    return _apply_trigger(
        stream.writeStream.foreachBatch(_write)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        trigger,
    )


def quarantining_ingest_sink(
    stream: DataFrame,
    clean_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    drift_dir: str | None = None,
    null_alert: float = 1.0,
    quarantine_alert: float = 0.5,
):
    """Streaming twin of ``sources.files``' quarantining loaders: a
    file stream parsed under a PERMISSIVE schema (with the
    ``_corrupt_record`` capture column) splits each micro-batch into
    the clean warehouse and the quarantine channel — BOTH through the
    epoch-idempotent writer, so a crash between the two writes replays
    into exactly-once on both sides (a retried epoch replaces its own
    partition in each sink; the reference's ingest, by contrast, is
    at-least-once with no malformed-row story at all —
    getMarketData.py:208-218 just trusts the feed).

    The batch is localCheckpointed once so the single parse feeds both
    writes (the batch-side ``cache()`` answer to Spark's corrupt-
    column-only query restriction), and the split predicate is
    evaluated on the materialized rows — clean + quarantined == parsed,
    structurally.

    ``drift_dir`` (r11 verdict #5) arms the per-batch CONTRACT check
    s10's batch-side report runs between drops: a FileStreamSource
    parses every batch under the frozen declared schema, so a
    producer-side contract change mid-stream can never surface as a
    schema change — it surfaces as rows quarantining en masse or a
    column going all-null (arity shift / dropped column). Each batch
    therefore also writes one accounting row per contract column —
    ``(column, null_frac, quarantine_frac, drifted)`` — through the
    same epoch-idempotent writer; ``drifted`` fires when the clean
    side's null fraction reaches ``null_alert`` (default: fully null,
    while rows exist) or the batch's quarantine fraction reaches
    ``quarantine_alert``. One extra partial-aggregatable pass over the
    already-materialized batch; per-column rows via ``inline`` over a
    single array-of-structs (the s10 shape — no per-column
    re-planning)."""
    from financial_market_data_analysis_spark.sources.files import CORRUPT_COL

    write_clean = epoch_idempotent_writer(clean_dir)
    write_quar = epoch_idempotent_writer(quarantine_dir)
    write_drift = epoch_idempotent_writer(drift_dir) if drift_dir else None

    # Every Column below is STATIC across batches (the micro-batch frame
    # always carries the stream's frozen schema), so build the whole
    # expression tree ONCE at sink construction. Rebuilding it per batch
    # was ~1k py4j round trips per micro-batch of pure plan-construction
    # chatter (r16 guide §4's boundary at plan-build time: measured
    # ~1.3 s/batch of the t23 harness's driver gap). Columns are
    # immutable and bind to a DataFrame only when used, so reuse across
    # batches is semantics-free.
    clean_flt = F.col(CORRUPT_COL).isNull()
    quar_flt = F.col(CORRUPT_COL).isNotNull()
    cols = [c for c in stream.columns if c != CORRUPT_COL]
    agg_cols = [
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col(CORRUPT_COL)).alias("n_quar"),
        *[
            F.count(F.when(F.col(CORRUPT_COL).isNull(), F.col(c))).alias(
                f"nn_{i}"
            )
            for i, c in enumerate(cols)
        ],
    ]
    n_clean = F.col("n_rows") - F.col("n_quar")
    quar_frac = F.round(F.col("n_quar") / F.col("n_rows"), 6)
    entries = []
    for i, c in enumerate(cols):
        null_frac = F.when(
            n_clean == 0, F.lit(None).cast("double")
        ).otherwise(F.round(1.0 - F.col(f"nn_{i}") / n_clean, 6))
        entries.append(
            F.struct(
                F.lit(c).alias("column"),
                null_frac.alias("null_frac"),
                quar_frac.alias("quarantine_frac"),
                (
                    F.coalesce(
                        null_frac >= F.lit(null_alert),
                        F.lit(True),  # all rows quarantined
                    )
                    | (quar_frac >= F.lit(quarantine_alert))
                ).alias("drifted"),
            )
        )
    drift_proj = F.inline(F.array(*entries))

    def _write(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        batch = batch.localCheckpoint(eager=True)  # one parse, N sinks
        clean = batch.filter(clean_flt).drop(CORRUPT_COL)
        quar = batch.filter(quar_flt)
        write_clean(clean, epoch_id)
        write_quar(quar, epoch_id)
        if write_drift is not None:
            write_drift(
                batch.agg(*agg_cols).select(drift_proj),
                epoch_id,
                skip_empty_probe=True,
            )

    return _apply_trigger(
        stream.writeStream.foreachBatch(_write)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        trigger,
    )


def evolving_ingest_sink(
    stream: DataFrame,
    schemas: dict[int, "StructType"],
    clean_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    accounting_dir: str | None = None,
    version_col: str = "schema_version",
    line_col: str = "value",
):
    """Streaming twin of ``sources.files.load_csv_evolving`` (r12
    verdict #5): schema-evolution-TOLERANT ingest. The frozen-schema
    ``quarantining_ingest_sink`` quarantines 100% of a retyped drop
    arriving mid-stream — exactly the failure the batch-side s11
    loader exists to prevent, one layer down. This sink WIDENS
    instead: every line carries its producer schema version as a
    leading field (the Kafka-schema-registry model — the only
    mid-stream evolution signal that needs no restart), the sink
    parses each version's rows under ITS declared schema, casts them
    to the widened union contract (``sources.files.evolved_schema``
    over every registered version: added/removed columns NULL-fill,
    retyped numerics widen — bigint ⊕ float lands on double), and
    quarantines ONLY true row-level conflicts (unparseable payloads or
    an unregistered version), never a whole retyped drop.

    Scale shape: the batch is localCheckpointed once; each version's
    parse is one JVM-side ``from_csv`` projection over its slice (no
    Python in the row path), the casts are columnar metadata ops, the
    cross-version union is a no-shuffle concatenation, and the
    accounting is ONE partial-aggregatable grouped pass. Both data
    sinks and the accounting sink write through the epoch-idempotent
    dynamic-partition-overwrite writer, so a crash between them
    replays into exactly-once on all three.

    ``accounting_dir`` lands one row per (epoch, version) proving
    which batch widened what: ``(schema_version, n_rows, n_quarantined,
    widened_cols, null_filled_cols)`` — the widened/filled column sets
    are driver-side metadata of the version→contract cast, stamped per
    batch so the audit trail shows the exact epoch each producer
    version first appeared in."""
    from functools import reduce

    from financial_market_data_analysis_spark.sources import files as FS
    from financial_market_data_analysis_spark.sources.files import (
        CORRUPT_COL,
        evolved_schema,
    )

    versions = sorted(schemas)
    target = evolved_schema([schemas[v] for v in versions])
    write_clean = epoch_idempotent_writer(clean_dir)
    write_quar = epoch_idempotent_writer(quarantine_dir)
    write_acct = (
        epoch_idempotent_writer(accounting_dir) if accounting_dir else None
    )
    # driver-side cast metadata per version (static across batches)
    cast_meta = {}
    for v in versions:
        declared = {f.name: f.dataType for f in schemas[v].fields}
        widened = [
            f.name
            for f in target.fields
            if f.name in declared and declared[f.name] != f.dataType
        ]
        filled = [f.name for f in target.fields if f.name not in declared]
        cast_meta[v] = (",".join(widened), ",".join(filled))

    def _ddl(schema) -> str:
        return ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )

    # STATIC-across-batches expression tree, built once at sink
    # construction (r16, guide §4's boundary at plan-build time): the
    # version registry, target contract, and line column are fixed for
    # the sink's lifetime, so per-batch reconstruction of the ~40-expr
    # per-version cast lists was pure py4j chatter (~1.3 s/batch of the
    # t25 harness's driver gap). Columns bind lazily; reuse is
    # semantics-free.
    tagged_cols = [
        F.col(line_col).alias("__raw"),
        F.substring_index(line_col, ",", 1).try_cast("int").alias("__ver"),
        F.expr(
            f"substring({line_col}, instr({line_col}, ',') + 1)"
        ).alias("__payload"),
    ]
    ver_flt: dict[int, Column] = {}
    ver_parse_cols: dict[int, list[Column]] = {}
    ver_cast_cols: dict[int, list[Column]] = {}
    for v in versions:
        sch = FS._with_corrupt_field(schemas[v])
        declared = set(schemas[v].fieldNames())
        ver_flt[v] = F.col("__ver") == v
        ver_parse_cols[v] = [
            F.col("__raw"),
            F.col("__ver"),
            F.from_csv(
                "__payload",
                _ddl(sch),
                {
                    "mode": "PERMISSIVE",
                    "columnNameOfCorruptRecord": CORRUPT_COL,
                },
            ).alias("r"),
        ]
        ver_cast_cols[v] = [
            F.col("__raw"),
            F.col("__ver"),
            F.col(f"r.{CORRUPT_COL}").alias(CORRUPT_COL),
            *[
                (
                    F.col(f"r.{f.name}").cast(f.dataType)
                    if f.name in declared
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in target.fields
            ],
        ]
    unknown_flt = F.col("__ver").isNull() | ~F.col("__ver").isin(versions)
    unknown_cols = [
        F.col("__raw"),
        F.col("__ver"),
        F.col("__raw").alias(CORRUPT_COL),
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in target.fields],
    ]
    clean_flt = F.col(CORRUPT_COL).isNull()
    clean_cols = [
        F.col("__ver").alias(version_col),
        *[f.name for f in target.fields],
    ]
    quar_flt = F.col(CORRUPT_COL).isNotNull()
    quar_cols = [
        F.col("__ver").alias(version_col),
        F.col("__raw").alias(line_col),
    ]
    acct_key = F.col("__ver").alias(version_col)
    acct_aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.col(CORRUPT_COL)).alias("n_quarantined"),
    ]
    widened_map = F.create_map(
        *[x for v in versions for x in (F.lit(v), F.lit(cast_meta[v][0]))]
    )
    filled_map = F.create_map(
        *[x for v in versions for x in (F.lit(v), F.lit(cast_meta[v][1]))]
    )
    acct_cols = [
        version_col,
        "n_rows",
        "n_quarantined",
        F.coalesce(widened_map[F.col(version_col)], F.lit("")).alias(
            "widened_cols"
        ),
        F.coalesce(filled_map[F.col(version_col)], F.lit("")).alias(
            "null_filled_cols"
        ),
    ]

    def _write(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        batch = batch.localCheckpoint(eager=True)  # one parse, N sinks
        tagged = batch.select(*tagged_cols)
        per_ver = [
            tagged.filter(ver_flt[v])
            .select(*ver_parse_cols[v])
            .select(*ver_cast_cols[v])
            for v in versions
        ]
        # unregistered / untagged lines: whole-row conflicts
        unknown = tagged.filter(unknown_flt).select(*unknown_cols)
        union = reduce(DataFrame.unionByName, per_ver + [unknown])
        clean = union.filter(clean_flt).select(*clean_cols)
        quar = union.filter(quar_flt).select(*quar_cols)
        write_clean(clean, epoch_id)
        write_quar(quar, epoch_id, skip_empty_probe=True)
        if write_acct is not None:
            acct = (
                union.groupBy(acct_key).agg(*acct_aggs).select(*acct_cols)
            )
            write_acct(acct, epoch_id, skip_empty_probe=True)

    return _apply_trigger(
        stream.writeStream.foreachBatch(_write)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        trigger,
    )


def resolve_prev_snapshot(snap_dir: str, batch_id: int) -> str | None:
    """Resolve the path of snapshot ``v{batch_id-1}`` for a
    copy-on-write epoch MERGE, with the missing-snapshot case made
    LOUD instead of silent. Returns ``None`` only for the genuine
    cold start (``batch_id == 0``). For ``batch_id > 0`` the previous
    snapshot MUST exist: the COW chain is v0 → v1 → … and batch N's
    merge is defined as "v{N-1} minus touched keys, plus this batch".
    If v{N-1} is absent (snapshot directory cleaned while the stream
    checkpoint survived, or any non-contiguous batch-id situation),
    falling through to ``merged = batch_df`` would silently drop
    every key NOT touched by this batch — update-mode batches carry
    only touched keys — which is silent data loss in the component
    advertised as the replay-safe production sink. Raising forces the
    operator to either restore the snapshot or restart the stream
    with a fresh checkpoint (a clean, complete rebuild)."""
    import os

    if batch_id == 0:
        return None
    prev = f"{snap_dir}/v{batch_id - 1}"
    if not os.path.isdir(prev):
        raise RuntimeError(
            f"snapshot MERGE: batch_id={batch_id} but previous snapshot "
            f"{prev!r} is missing — refusing to merge (update-mode "
            "batches carry only touched keys; merging without v"
            f"{batch_id - 1} would silently drop all untouched state). "
            "Restore the snapshot chain or restart the stream with a "
            "fresh checkpoint to rebuild from scratch."
        )
    return prev


def snapshot_merge_sink(spark, snap_dir: str):
    """foreachBatch sink factory: copy-on-write snapshot MERGE of
    per-key streaming-agg state (t15b; r7 verdict #4). Batch N reads
    snapshot ``v{N-1}``, anti-joins the keys this batch touched (the
    update-mode rows carry the full merged state per touched key —
    streaming-agg state is cumulative), unions the fresh rows, and
    OVERWRITES ``v{N}``. Replay safety is structural: a retried batch
    N re-reads the untouched ``v{N-1}`` and deterministically rewrites
    its own ``v{N}`` — the epoch pattern a lakehouse MERGE
    (Delta/Iceberg) implements at file granularity; with raw parquet
    the whole-snapshot copy-on-write is the honest equivalent, and at
    100 TB the rewrite narrows to affected key-bucket partitions via
    dynamic partition overwrite (the K1 sink's layout) or a table
    format's MERGE. The first column of the batch DataFrame is the
    key. Factored out of the t15b harness so the replay contract is
    directly unit-testable (tests/test_streaming.py). A missing
    v{N-1} at batch_id>0 RAISES via ``resolve_prev_snapshot`` rather
    than silently restarting state from this batch's touched keys.

    Scope (r14): use this chain ONLY where the per-batch merge is
    genuinely non-idempotent (CDC last-writer-wins upserts — t15b/d5,
    where batch N's state depends on v{N-1}). State that folds under a
    commutative idempotent monoid (HLL register-max, KMV bottom-k)
    belongs on the APPEND-ONLY ``epoch_idempotent_writer`` store
    instead — no read-modify-write per batch, no chain resolution;
    t27/t18 are the worked examples."""
    from pyspark.sql import functions as F

    def merge(batch_df, batch_id: int) -> None:
        key = batch_df.columns[0]
        prev = resolve_prev_snapshot(snap_dir, batch_id)
        if prev is not None:
            old = spark.read.parquet(prev)
            merged = old.join(
                F.broadcast(batch_df.select(key)), key, "left_anti"
            ).unionByName(batch_df)
        else:
            merged = batch_df
        merged.write.mode("overwrite").parquet(f"{snap_dir}/v{batch_id}")

    return merge


def compact_warehouse(
    spark: SparkSession,
    src_path: str,
    dest_path: str,
    partition_by: Sequence[str] = (),
    epoch_col: str = "epoch_id",
    target_files: int = 8,
    predicate: str | Column | None = None,
) -> int:
    """Fold the per-epoch partition directories the idempotent sink
    accumulates back into plain ``partition_by`` layout: read the
    warehouse, drop the epoch column, rewrite coalesced to ``dest_path``
    (must differ from ``src_path`` — Spark cannot safely overwrite a
    path it is reading; the caller swaps directories after the job, the
    same two-step every file-format compaction uses without a
    transactional table layer). Returns the row count written.

    ``predicate`` scopes the compaction — e.g.
    ``F.col("date_bucket") < today`` — and is how the intended
    workflow is actually expressed: compact ONLY buckets that are
    closed (can no longer receive epochs), then swap ONLY those
    buckets' directories. Compacting the whole warehouse while the
    sink is live races with in-flight epochs: any epoch committed
    between the snapshot read and the swap would exist only in the
    replaced directory and the checkpoint will not replay it. The
    epoch dirs are what makes retried epochs idempotent, but
    thousands of small per-epoch files degrade listing and scan
    startup — once a bucket is closed, its epochs are pure overhead.
    """
    if os.path.abspath(dest_path) == os.path.abspath(src_path):
        raise ValueError("compact_warehouse needs dest_path != src_path")
    df = spark.read.parquet(src_path)
    if predicate is not None:
        df = df.filter(predicate)  # partition-prunes on bucket columns
    if epoch_col in df.columns:
        df = df.drop(epoch_col)
    # actually merge the small epoch files: bound output files to
    # ``target_files`` per partition-key hash (keyed repartition keeps
    # each output dir's rows in few tasks) or globally when unpartitioned
    if partition_by:
        df = df.repartition(target_files, *[F.col(c) for c in partition_by])
    else:
        df = df.coalesce(target_files)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(dest_path)
    return spark.read.parquet(dest_path).count()


def jdbc_append_sink(
    stream: DataFrame,
    url: str,
    table: str,
    checkpoint_dir: str,
    properties: dict[str, str] | None = None,
    trigger: dict | None = None,
):
    """K1 (reference-exact variant): foreachBatch JDBC append — kept as
    an optional connector for MariaDB/MySQL targets."""

    def _write(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        batch.write.jdbc(url=url, table=table, mode="append", properties=properties or {})

    return _apply_trigger(
        stream.writeStream.foreachBatch(_write)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir),
        trigger,
    )


# largest PRECEDING frame in the indicator suite: 19 rows (MA20 /
# Bollinger); largest LEAD: 15 rows (up2/down2 targets)
MAX_PRECEDING = 19
MAX_LEAD = 15


def read_warehouse_tail(
    spark: SparkSession,
    path: str,
    order_col: str,
    n_rows: int,
    partition_col: str | None = None,
    partition_floor=None,
) -> DataFrame:
    """Bounded tail read of the materialized warehouse.

    With ``partition_col``/``partition_floor`` the scan is
    PARTITION-PRUNED: the predicate lands on the parquet partition
    directories, so only tail partitions are read — asserted in the
    tests via ``input_file_name()`` over the executed rows (NOT
    ``inputFiles()``, which lists the pre-planning FileIndex and
    ignores pushed filters; see ``scan_partition_pruned``) — the
    difference between O(tail) and O(warehouse) per micro-batch.
    Without it, the read degrades to a full scan + global sort (the r2
    scale hazard this replaces).
    """
    wh = spark.read.parquet(path)
    if partition_col is not None and partition_floor is not None:
        wh = wh.filter(F.col(partition_col) >= F.lit(partition_floor))
    return wh.orderBy(F.desc(order_col)).limit(n_rows)


def incremental_indicators(
    warehouse_path: str,
    tail_rows: int = 64,
    order_col: str = "deep_ts",
    partition_col: str | None = None,
    partition_lookback: int = 1,
) -> Callable[[DataFrame, int], None]:
    """T9 — the post-batch hook: recompute W1-W8 over a bounded tail of
    the materialized warehouse and write the indicator snapshot —
    incremental materialization of the reference's MariaDB views
    (SURVEY.md §3.2) with none of its full-view re-evaluation.

    Frame correctness (the r2 edge defect, fixed): the hook reads
    ``tail_rows + MAX_PRECEDING`` rows and drops the warm-up head after
    computing the suite, so every snapshot row's trailing windows
    (MA20/Bollinger/ATR/stochastic) see their full frame and equal a
    full-warehouse batch recompute exactly (asserted in tests). The
    last ``MAX_LEAD`` rows carry ``targets_complete = false``: their
    LEAD targets match a batch recompute *today* but are not final —
    they will change as new bars arrive, so training readers must
    filter on the flag.

    ``partition_col`` should be the sink's ``partition_by`` bucket —
    integer, DATE, or TIMESTAMP (``partition_lookback`` counts buckets
    for integers and DAYS for date/timestamp; other types raise); the
    hook derives the newest bucket from the in-memory micro-batch
    (no warehouse scan) and prunes the read to the last
    ``partition_lookback + 1`` buckets. If those buckets turn out to
    hold fewer than ``tail_rows + MAX_PRECEDING`` rows (sparse
    buckets: weekend gaps, thin early history), the hook falls back
    to an unpruned tail read for that epoch rather than silently
    computing indicators over truncated warm-up frames — the
    fallback costs one bounded count per epoch on the pruned read.
    """
    import datetime

    from financial_market_data_analysis_spark.operators.windows import indicator_suite

    def _hook(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        floor = None
        if partition_col is not None:
            newest = batch.agg(F.max(partition_col)).first()[0]
            if newest is None:
                return
            if isinstance(newest, datetime.date):  # incl. datetime
                floor = newest - datetime.timedelta(days=partition_lookback)
            elif isinstance(newest, int) and not isinstance(newest, bool):
                floor = newest - partition_lookback
            else:
                raise TypeError(
                    f"partition_col {partition_col!r} has unsupported bucket "
                    f"type {type(newest).__name__}; use an integer or "
                    "date/timestamp bucket column"
                )
        need = tail_rows + MAX_PRECEDING
        ext = read_warehouse_tail(
            spark, warehouse_path, order_col, need, partition_col, floor,
        )
        if floor is not None and ext.count() < need:
            ext = read_warehouse_tail(spark, warehouse_path, order_col, need)
        ext = ext.orderBy(order_col)
        out = indicator_suite(ext, [order_col])
        rn_desc = F.row_number().over(Window.orderBy(F.desc(order_col)))
        out = (
            out.withColumn("__rn_desc", rn_desc)
            .filter(F.col("__rn_desc") <= tail_rows)
            .withColumn("targets_complete", F.col("__rn_desc") > MAX_LEAD)
            .drop("__rn_desc")
        )
        out.write.mode("overwrite").parquet(
            os.path.join(warehouse_path + "_indicators")
        )

    return _hook


def stateful_moving_average(
    stream: DataFrame,
    key_cols: Sequence[str] = ("symbol",),
    ts_col: str = "ts",
    value_col: str = "close",
    period: int = 20,
    out_col: str | None = None,
) -> DataFrame:
    """T9 option (b) — a TRUE single-pass streaming indicator: per-key
    moving average via ``applyInPandasWithState``, keeping only the last
    ``period − 1`` values as state. No warehouse re-read per batch (the
    foreachBatch materialization path), no second engine (the
    reference's MariaDB views): each row is emitted exactly once with
    its MA, state is O(period) per key.

    Semantics match the batch ``moving_average`` (growing head frames,
    ``period``-row trailing window) for in-order arrival per key; rows
    inside a micro-batch are sorted by event time before folding.
    Arrow-batched pandas — the one place Python executes, and it is
    per-group vectorized, not per-row.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    out_name = out_col or f"{value_col}_MA{period}"
    key_fields = [stream.schema[k] for k in key_cols]
    out_schema = StructType(
        key_fields
        + [
            stream.schema[ts_col],
            StructField(value_col, DoubleType()),
            StructField(out_name, DoubleType()),
        ]
    )
    state_schema = StructType([StructField("tail", ArrayType(DoubleType()))])
    col_order = list(key_cols) + [ts_col, value_col, out_name]

    def fn(key, pdf_iter, state):
        tail = list(state.get[0]) if state.exists else []
        rows = pd.concat(list(pdf_iter)).sort_values(ts_col)
        vals = [float(v) for v in rows[value_col]]
        hist = list(tail)
        mas = []
        for v in vals:
            hist.append(v)
            win = hist[-period:]
            mas.append(sum(win) / len(win))
        state.update((hist[-(period - 1):] if period > 1 else [],))
        out = pd.DataFrame({ts_col: rows[ts_col].values, value_col: vals, out_name: mas})
        for i, k in enumerate(key_cols):
            out[k] = key[i]
        yield out[col_order]

    return stream.groupBy(*[F.col(k) for k in key_cols]).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stateful_indicator_suite(
    stream: DataFrame,
    key_cols: Sequence[str] = ("symbol",),
    ts_col: str = "ts",
    close_col: str = "close",
    high_col: str = "high",
    low_col: str = "low",
    volume_col: str = "volume",
) -> DataFrame:
    """T9 option (b), generalized from the single moving average to the
    FULL W1-W8 suite: one ``applyInPandasWithState`` pass emits every
    indicator the batch ``indicator_suite`` computes — vol_MA6/20,
    price_MA20, Bollinger distances (stddev_pop), stochastic, price
    change, ATR, and the four LEAD targets — with O(period) state per
    key and no warehouse re-read per batch.

    State is two bounded buffers per key:

    - ``tail``: the last 19 (close, high, low, volume) tuples — enough
      for the largest trailing frame (20 rows: MA20/Bollinger; the
      15-row stochastic/ATR frames are suffixes of it);
    - ``pending``: up to 15 rows whose trailing indicators are already
      final but whose LEAD targets await future closes. A row is
      emitted exactly once, when its 15-ahead close exists — so every
      emitted row is FINAL (the foreachBatch materialization path
      instead emits provisional rows with a ``targets_complete``
      flag; this path trades a 15-row emission delay for finality).

    Semantics match the batch suite row for row on in-order per-key
    arrival (growing head frames, NULL stoch on a flat window, NULL
    price_change on the first row); the parity test joins the emitted
    rows against ``indicator_suite`` output and compares all 12
    indicator columns.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    MAX_TAIL = 19  # 20-row frames keep 19 predecessors
    LEAD1, LEAD2 = 8, 15
    N1, N2 = 1.5, 3.0

    ind_cols = [
        "vol_MA6", "vol_MA20", "price_MA20",
        "upper_BB_dist", "lower_BB_dist", "stoch", "price_change", "ATR",
    ]
    key_fields = [stream.schema[k] for k in key_cols]
    out_schema = StructType(
        key_fields
        + [stream.schema[ts_col]]
        + [StructField(c, DoubleType()) for c in (close_col, high_col, low_col, volume_col)]
        + [StructField(c, DoubleType()) for c in ind_cols]
        + [StructField(c, IntegerType()) for c in ("up1", "down1", "up2", "down2")]
    )
    # tail rows: [close, high, low, volume]; pending rows: [ts_us, close,
    # high, low, volume, *indicators] (None-able for stoch/price_change)
    state_schema = StructType(
        [
            StructField("tail", ArrayType(ArrayType(DoubleType()))),
            StructField("pending", ArrayType(ArrayType(DoubleType()))),
        ]
    )
    col_order = (
        list(key_cols)
        + [ts_col, close_col, high_col, low_col, volume_col]
        + ind_cols
        + ["up1", "down1", "up2", "down2"]
    )

    def fn(key, pdf_iter, state):
        if state.exists:
            tail, pending = [list(r) for r in state.get[0]], [list(r) for r in state.get[1]]
        else:
            tail, pending = [], []
        rows = pd.concat(list(pdf_iter)).sort_values(ts_col)
        ts_us = (rows[ts_col].astype("datetime64[us]").astype("int64")).tolist()
        closes = [float(v) for v in rows[close_col]]
        highs = [float(v) for v in rows[high_col]]
        lows = [float(v) for v in rows[low_col]]
        vols = [float(v) for v in rows[volume_col]]

        emitted = []
        for t, c, h, lo, v in zip(ts_us, closes, highs, lows, vols):
            prev_close = tail[-1][0] if tail else None
            tail.append([c, h, lo, v])
            if len(tail) > MAX_TAIL + 1:
                tail.pop(0)
            w20 = tail[-20:]
            w15 = tail[-15:]
            w6 = tail[-6:]
            c20 = [r[0] for r in w20]
            m20 = sum(c20) / len(c20)
            var = sum((x - m20) ** 2 for x in c20) / len(c20)
            sd = math.sqrt(var)
            lo15 = min(r[0] for r in w15)
            hi15 = max(r[0] for r in w15)
            pending.append([
                float(t), c, h, lo, v,
                sum(r[3] for r in w6) / len(w6),            # vol_MA6
                sum(r[3] for r in w20) / len(w20),          # vol_MA20
                m20,                                        # price_MA20
                (m20 + 2.0 * sd) - c,                       # upper_BB_dist
                c - (m20 - 2.0 * sd),                       # lower_BB_dist
                (c - lo15) / (hi15 - lo15) if hi15 != lo15 else None,  # stoch
                c - prev_close if prev_close is not None else None,    # price_change
                sum(r[1] - r[2] for r in w15) / len(w15),   # ATR
            ])
            # finalize every pending row whose 15-ahead close arrived:
            # pending[i] has len(pending) - 1 - i rows after it
            while len(pending) > LEAD2:
                p = pending.pop(0)
                pc, atr = p[1], p[12]
                lead8 = pending[LEAD1 - 1][1]
                lead15 = pending[LEAD2 - 1][1]
                emitted.append(
                    p
                    + [
                        1 if lead8 >= pc + N1 * atr else 0,
                        1 if lead8 <= pc - N1 * atr else 0,
                        1 if lead15 >= pc + N2 * atr else 0,
                        1 if lead15 <= pc - N2 * atr else 0,
                    ]
                )
        state.update((tail[-MAX_TAIL:], pending))
        out = pd.DataFrame(
            emitted,
            columns=[ts_col, close_col, high_col, low_col, volume_col]
            + ind_cols
            + ["up1", "down1", "up2", "down2"],
        )
        out[ts_col] = pd.to_datetime(out[ts_col], unit="us")
        for c in ("up1", "down1", "up2", "down2"):
            out[c] = out[c].astype("int32")
        # None folds to NaN in float columns; emit true NULLs (object
        # dtype survives Arrow as null) so the stream matches the batch
        # suite's NULL stoch/price_change exactly, not NaN-vs-NULL
        for c in ("stoch", "price_change"):
            out[c] = out[c].astype(object).where(pd.notna(out[c]), None)
        for i, k in enumerate(key_cols):
            out[k] = key[i]
        yield out[col_order]

    return stream.groupBy(*[F.col(k) for k in key_cols]).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stateful_momentum_suite(
    stream: DataFrame,
    key_cols: Sequence[str] = ("symbol",),
    ts_col: str = "ts",
    close_col: str = "close",
    volume_col: str = "volume",
    rsi_period: int = 14,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
) -> DataFrame:
    """The W15-W17 momentum family as ONE stateful streaming pass —
    the t9 design applied to the round's indicators: RSI (Cutler's
    simple-average form), fixed-point OBV, and MACD(12,26,9) from
    truncated renormalized EWMAs, per key, with O(slow + signal)
    state. Unlike W8's LEAD targets these are trailing-only, so every
    row is FINAL on arrival — no pending buffer, no emission delay.

    State per key: the last ``slow + signal − 1`` closes (34 at the
    defaults — enough to recompute the ``signal`` most recent MACD
    lines, each needing ``slow`` closes), the exact integer OBV
    accumulator, the previous close, and the rows-seen counter that
    gates the warm-up NULLs. Per-row work is O(slow + signal) float
    ops — constant, no history re-read: the signal fold consumes the
    ``signal`` most recent MACD lines carried incrementally (each was
    the ``line`` of its own row; across a batch boundary they are
    re-derived once from the carried close tail, bit-identically).

    Semantics match the batch operators value-for-value on in-order
    per-key arrival: the same oldest-first weighted folds as
    ``rolling_ewma`` (identical float accumulation order), the same
    flat-frame-50 / all-gain-100 RSI branches, the same HALF-UP
    volume-micro rounding as ``F.round``; the t11 harness
    value-hashes the emitted rows against the per-symbol batch SQL.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    # sized by EVERY consumer: the MACD signal recomputation needs
    # slow + signal − 1 closes, the RSI deltas need rsi_period + 1 —
    # sizing from MACD alone would let a large rsi_period silently
    # wrap Python's negative indices into the wrong end of the buffer
    # (r6 review)
    max_tail = max(slow + signal - 1, rsi_period + 1)
    dec_f = 1.0 - 2.0 / (fast + 1)
    dec_s = 1.0 - 2.0 / (slow + 1)
    dec_g = 1.0 - 2.0 / (signal + 1)
    den_f = float(sum(dec_f**k for k in range(fast)))
    den_s = float(sum(dec_s**k for k in range(slow)))
    den_g = float(sum(dec_g**k for k in range(signal)))
    # weight tables, one pow per weight instead of one per element per
    # row: w[i] = decay^(period-1-i) is exactly the factor the fold
    # multiplied inline, so every product (and hence the whole fold) is
    # bit-identical — pow of identical operands is deterministic
    w_f = [dec_f ** (fast - 1 - i) for i in range(fast)]
    w_s = [dec_s ** (slow - 1 - i) for i in range(slow)]
    w_g = [dec_g ** (signal - 1 - i) for i in range(signal)]

    def ewma(closes: list, period: int, w: list, den: float) -> float:
        # oldest-first fold, weight w[i] = decay^(period-1-i) — the
        # exact accumulation order of rolling_ewma's
        # transform+aggregate (zip pairs frame[i] with w[i] for short
        # head frames too, matching the inline-pow form)
        acc = 0.0
        for x, wi in zip(closes[-period:], w):
            acc += x * wi
        return acc / den

    def half_up_micro(v: float) -> int:
        # F.round / DuckDB round are HALF-AWAY-FROM-ZERO; python
        # round() is banker's — match the engines, not python
        x = v * 1_000_000.0
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    key_fields = [stream.schema[k] for k in key_cols]
    out_schema = StructType(
        key_fields
        + [stream.schema[ts_col]]
        + [
            StructField(close_col, DoubleType()),
            StructField("rsi14", DoubleType()),
            StructField("obv_micro", LongType()),
            StructField("macd_line", DoubleType()),
            StructField("macd_signal", DoubleType()),
            StructField("macd_hist", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("tail", ArrayType(DoubleType())),
            StructField("obv", LongType()),
            StructField("n_seen", LongType()),
        ]
    )
    col_order = list(key_cols) + [
        ts_col, close_col, "rsi14", "obv_micro",
        "macd_line", "macd_signal", "macd_hist",
    ]

    def fn(key, pdf_iter, state):
        if state.exists:
            tail, obv, n_seen = list(state.get[0]), int(state.get[1]), int(state.get[2])
        else:
            tail, obv, n_seen = [], 0, 0
        # Incremental MACD-line history: the `signal` most recent lines
        # the per-row signal fold needs are exactly the `line` values of
        # the `signal` most recent rows (a line j rows back is the fold
        # over closes ending j back — the same closes, weights and
        # order whether computed then or re-sliced now), so carry them
        # forward per row instead of recomputing signal×2 folds per
        # row. Across a batch boundary the carried `tail` holds the
        # slow+signal−1 closes every pre-batch line needs; re-derive
        # those lines once per batch here, bit-identically.
        line_hist: list = []
        n_pre = min(signal - 1, max(0, n_seen - slow + 1))
        for jj in range(n_pre - 1, -1, -1):
            seg = tail[: len(tail) - jj]
            line_hist.append(
                ewma(seg, fast, w_f, den_f) - ewma(seg, slow, w_s, den_s)
            )
        rows = pd.concat(list(pdf_iter)).sort_values(ts_col)
        ts_us = (rows[ts_col].astype("datetime64[us]").astype("int64")).tolist()
        emitted = []
        for t, c, v in zip(
            ts_us,
            (float(x) for x in rows[close_col]),
            (float(x) for x in rows[volume_col]),
        ):
            prev = tail[-1] if tail else None
            vm = half_up_micro(v)
            if prev is not None and c > prev:
                obv += vm
            elif prev is not None and c < prev:
                obv -= vm
            tail.append(c)
            if len(tail) > max_tail:
                tail.pop(0)
            n_seen += 1

            rsi = None
            if n_seen >= rsi_period + 1:
                deltas = [
                    tail[i] - tail[i - 1]
                    for i in range(len(tail) - rsi_period, len(tail))
                ]
                avg_gain = sum(d if d > 0 else 0.0 for d in deltas) / rsi_period
                avg_loss = sum(-d if d < 0 else 0.0 for d in deltas) / rsi_period
                if avg_gain == 0.0 and avg_loss == 0.0:
                    rsi = 50.0
                elif avg_loss == 0.0:
                    rsi = 100.0
                else:
                    rsi = 100.0 - 100.0 / (1.0 + avg_gain / avg_loss)

            line = sig = hist = None
            if n_seen >= slow:
                line = ewma(tail, fast, w_f, den_f) - ewma(
                    tail, slow, w_s, den_s
                )
                line_hist.append(line)
                if len(line_hist) > signal:
                    line_hist.pop(0)
                if n_seen >= slow + signal - 1:
                    # the `signal` most recent lines, oldest first —
                    # carried per row (+ the per-batch re-derivation
                    # above), never recomputed from the close tail
                    if len(line_hist) != signal:
                        raise RuntimeError(
                            f"macd line history holds {len(line_hist)} "
                            f"lines, expected {signal}"
                        )
                    acc = 0.0
                    for i, x in enumerate(line_hist):
                        acc += x * w_g[i]
                    sig = acc / den_g
                    hist = line - sig
            emitted.append([t, c, rsi, obv, line, sig, hist])
        state.update((tail, obv, n_seen))
        out = pd.DataFrame(
            emitted,
            columns=[ts_col, close_col, "rsi14", "obv_micro",
                     "macd_line", "macd_signal", "macd_hist"],
        )
        out[ts_col] = pd.to_datetime(out[ts_col], unit="us")
        out["obv_micro"] = out["obv_micro"].astype("int64")
        for c in ("rsi14", "macd_line", "macd_signal", "macd_hist"):
            out[c] = out[c].astype(object).where(pd.notna(out[c]), None)
        for i, k in enumerate(key_cols):
            out[k] = key[i]
        yield out[col_order]

    return stream.groupBy(*[F.col(k) for k in key_cols]).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def compose_hooks(
    *hooks: Callable[[DataFrame, int], None],
) -> Callable[[DataFrame, int], None]:
    """Chain post-batch hooks (e.g. indicator materialization, then
    inference over the fresh snapshot) — the engine's analog of the
    reference running spark_consumer + predict.py as separate processes
    stitched by a Kafka signal and a 15 s sleep (predict.py:141)."""

    def _hook(batch: DataFrame, epoch_id: int) -> None:
        for h in hooks:
            h(batch, epoch_id)

    return _hook


def streaming_predictions(
    model,
    indicators_path: str,
    predictions_path: str,
    order_col: str = "deep_ts",
    feature_cols: Sequence[str] = (),
    keep_cols: Sequence[str] = (),
    max_staleness_seconds: float | None = None,
    now_ts=None,
) -> Callable[[DataFrame, int], None]:
    """The predict.py analog (predict.py:124-197): per micro-batch,
    score the freshly materialized indicator snapshot with a fitted
    MLlib PipelineModel and append the prediction signal.

    What the reference does with a Kafka trigger topic, a 15 s
    MySQL-visibility sleep, a point lookup, saved norm-params and a
    torch forward pass collapses here into one transactional hook:
    the snapshot is already consistent (written by the preceding hook
    in the same epoch), normalization lives inside the PipelineModel
    (MinMaxScaler stage — predict.py:121-122's saved params), and the
    emitted (key, prediction) rows are the 'prediction' topic payload
    (a Kafka sink variant would just add to_json + kafka format, K2).

    ``max_staleness_seconds`` is the P5 serve-side drop-stale policy
    (predict.py:135-137: a trigger older than 4 minutes — 240 s — is
    discarded instead of scored, because a late signal is worse than
    none). A trigger row whose ``order_col`` lags the serving clock by
    more than the bound is filtered out BEFORE scoring. ``now_ts``
    pins the serving clock (a Column or python datetime) for
    deterministic tests; None means ``current_timestamp()``.

    Only rows belonging to the CURRENT batch are scored (semi-join on
    the batch keys), mirroring the reference's score-the-new-point
    semantics. foreachBatch hooks run at-least-once, so the sink is
    partitioned by ``epoch_id`` and written with dynamic partition
    overwrite: a retried epoch REPLACES its own partition instead of
    appending duplicate prediction rows — idempotent per epoch.
    """

    write = epoch_idempotent_writer(predictions_path)

    def _hook(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        keys = batch.select(order_col).distinct()
        if max_staleness_seconds is not None:
            now = F.current_timestamp() if now_ts is None else F.lit(now_ts)
            # timestamp → double is fractional epoch-seconds: exact
            # sub-second staleness arithmetic without interval literals
            keys = keys.filter(
                F.col(order_col).cast("timestamp").cast("double")
                >= now.cast("timestamp").cast("double")
                - F.lit(float(max_staleness_seconds))
            )
        snap = spark.read.parquet(indicators_path)
        if feature_cols:
            snap = snap.na.drop(subset=list(feature_cols))
        scored = model.transform(snap)
        fresh = scored.join(keys, order_col, "left_semi")
        out = fresh.select(
            order_col, *keep_cols,
            F.col("prediction").cast("double").alias("prediction"),
        )
        write(out, epoch_id, skip_empty_probe=True)

    return _hook


# max rows buffered before stateful_gap_fill yields a chunk: bounds the
# per-call memory of a long outage (a year at step=300 is ~105k
# synthetic rows) to a fixed-size pandas frame instead of one list.
_GAP_FILL_CHUNK = 8192


def stateful_gap_fill(
    stream: DataFrame,
    key_cols: Sequence[str] = ("symbol",),
    bucket_col: str = "bucket_start",
    step: int = 300,
    locf_col: str = "close",
    zero_col: str = "volume",
) -> DataFrame:
    """Streaming twin of ``operators.windows.gap_fill_locf`` — bar-
    series regularization as a TRUE single-pass stateful operator:
    per-key state is just ``(last_bucket, last_locf_value)``; when a
    bar arrives, every missing ``step``-spaced bucket since the key's
    previous bar is synthesized FIRST (``is_gap = 1``, ``locf_col``
    carried forward, ``zero_col`` = 0.0 — no trades IS zero volume),
    then the real bar is emitted (``is_gap = 0``). The spine starts at
    each key's first observed bar, exactly like the batch operator, so
    for in-order arrival the emitted rows equal the batch
    ``gap_fill_locf`` output row for row — INCLUDING gaps that span a
    micro-batch boundary, which only exist if the carry-forward state
    survives the batch (the cross-batch proof t24 adjudicates).

    Null parity with the batch twin (r12 advice): a PRESENT row whose
    ``locf_col`` is null/NaN is emitted with the carried value —
    exactly ``last(col, ignorenulls=True)`` — and a null ``zero_col``
    emits 0.0 (``coalesce(col, 0)``), so a null close mid-feed cannot
    diverge stream-vs-batch. A null before any observation emits null,
    as the batch window does.

    O(1) state per key; Arrow-batched pandas; rows inside a batch are
    sorted by bucket before folding (same in-order contract as the
    stateful indicator suite). Output is YIELDED in bounded chunks
    (``_GAP_FILL_CHUNK`` rows), so one pathological multi-year gap
    synthesizes rows through a fixed-size buffer instead of one
    unbounded per-batch list — the streaming answer to the batch
    operator's chunked spine."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    key_fields = [stream.schema[k] for k in key_cols]
    out_schema = StructType(
        key_fields
        + [
            StructField(bucket_col, LongType()),
            StructField(locf_col, DoubleType()),
            StructField(zero_col, DoubleType()),
            StructField("is_gap", IntegerType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_bucket", LongType()),
            StructField("last_val", DoubleType()),
        ]
    )
    col_order = list(key_cols) + [bucket_col, locf_col, zero_col, "is_gap"]

    def _is_null(v) -> bool:
        return v is None or v != v  # None, pd.NA-free NaN, or NaN

    def fn(key, pdf_iter, state):
        last_b, last_v = (state.get if state.exists else (None, None))
        rows = pd.concat(list(pdf_iter)).sort_values(bucket_col)
        out_b, out_l, out_z, out_g = [], [], [], []

        def _flush():
            out = pd.DataFrame(
                {
                    bucket_col: out_b,
                    # nullable Float64 so a pre-first-observation carry
                    # is a true NULL (batch parity), not a NaN
                    locf_col: pd.array(out_l, dtype="Float64"),
                    zero_col: pd.array(out_z, dtype="Float64"),
                    "is_gap": out_g,
                }
            )
            for i, k in enumerate(key_cols):
                out[k] = key[i]
            out_b.clear(), out_l.clear(), out_z.clear(), out_g.clear()
            return out[col_order]

        for b, lv, zv in zip(
            rows[bucket_col], rows[locf_col], rows[zero_col]
        ):
            b = int(b)
            if last_b is not None:
                for gap_b in range(last_b + step, b, step):
                    out_b.append(gap_b)
                    out_l.append(last_v)
                    out_z.append(0.0)
                    out_g.append(1)
                    if len(out_b) >= _GAP_FILL_CHUNK:
                        yield _flush()
            out_b.append(b)
            # last(ignorenulls) parity: a present-but-null value emits
            # the carry (null only before the first observation) and
            # never enters the carry state; zero_col nulls emit 0.0.
            if _is_null(lv):
                out_l.append(last_v)
            else:
                last_v = float(lv)
                out_l.append(last_v)
            out_z.append(0.0 if _is_null(zv) else float(zv))
            out_g.append(0)
            last_b = b
            if len(out_b) >= _GAP_FILL_CHUNK:
                yield _flush()
        state.update((last_b, last_v))
        if out_b:
            yield _flush()

    return stream.groupBy(*[F.col(k) for k in key_cols]).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stateful_sessionize(
    stream: DataFrame,
    gap_us: int,
    key_cols: Sequence[str] = ("user_id",),
    ts_col: str = "ts_us",
) -> DataFrame:
    """Streaming twin of a19's gaps-and-islands sessionization as a
    TRUE single-pass stateful operator (r13 verdict #7 candidate; the
    t24 pattern applied to sessions): per-key state is just
    ``(sess_start, last_ts, n_events)``; a session is emitted exactly
    when the key's NEXT event arrives with an inactivity gap of at
    least ``gap_us`` — data-driven close, no watermark wait, no
    timeout. The key's final session stays open in state and is never
    emitted, so for in-order arrival the emitted rows equal the batch
    gaps-and-islands sessions MINUS each key's last session — a set an
    oracle expresses exactly (``sess_id < max(sess_id) OVER key``),
    with no watermark-trim approximation. A session that STRADDLES a
    micro-batch cut can only be emitted correctly from carried state
    (start and count live in batch N, the closing event in batch N+1)
    — the cross-batch merge law t28 adjudicates, the same way t24
    proved gap-fill carry state and t4b proved the built-in
    ``session_window``.

    This is what the built-in cannot do: ``session_window`` holds
    every open session's FULL aggregation buffer in the state store
    and emits only after the watermark passes; here state is O(1)
    per key (three longs), emission is deterministic on the data
    alone, and the operator composes with any downstream batch-mode
    rollup. Equal-timestamp events share a session whichever order
    they fold in (gap 0 < gap_us), so the in-batch sort needs no tie
    column. Arrow-batched pandas; one state round-trip per key per
    batch."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    key_fields = [stream.schema[k] for k in key_cols]
    out_schema = StructType(
        key_fields
        + [
            StructField("start_us", LongType()),
            StructField("n_events", LongType()),
            StructField("dur_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("sess_start", LongType()),
            StructField("last_ts", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    col_order = list(key_cols) + ["start_us", "n_events", "dur_us"]

    def fn(key, pdf_iter, state):
        start, last, n = state.get if state.exists else (None, None, None)
        rows = pd.concat(list(pdf_iter)).sort_values(ts_col)
        out_s, out_n, out_d = [], [], []
        for t in rows[ts_col]:
            t = int(t)
            if start is None:
                start, last, n = t, t, 1
            elif t - last >= gap_us:
                out_s.append(start)
                out_n.append(n)
                out_d.append(last - start)
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        state.update((start, last, n))
        if out_s:
            out = pd.DataFrame(
                {"start_us": out_s, "n_events": out_n, "dur_us": out_d}
            )
            for i, k in enumerate(key_cols):
                out[k] = key[i]
            yield out[col_order]

    return stream.groupBy(*[F.col(k) for k in key_cols]).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
