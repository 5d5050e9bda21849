"""Structured Streaming jobs: the stream twins of the batch queries.

The reference has no streaming at all (SURVEY.md §2.3 — tokio-stream
is a dead dependency, src never imports it); this is the Spark-native
stream surface. A twin shares its transformation code with the batch
query it must reproduce and reads with ``readStream`` instead of
``read``. With ``availableNow`` a twin is an incremental batch — how a
100 TB backfill and the live stream share one code path.

Every feed is read through ``_source``; the memory-sink twins drain
through ``_drain``; every ``foreachBatch`` fold runs through ``_fold``,
which keeps this versioned-state contract:

- Layout: micro-batch ``k`` writes each of its state tables to
  ``{state_dir}/v{k}/<name>`` (``v3/sketch``, ``v3/counts``, ...).
- ``v{k}`` is computed from ``v{k-1}`` and batch ``k`` alone. Batch 0
  starts from nothing, or from the ``v-1`` seed tables a fold writes
  before the stream starts (a history fingerprint store, a zero
  carried token offset).
- Retry: a micro-batch that fails before its checkpoint commit is
  re-run under the same id over the same files, and overwrites its own
  ``v{k}`` from the unchanged ``v{k-1}``. So the state is idempotent
  under at-least-once retry: exactly-once state
  (tests/test_streaming_faults.py injects the failure).
- Final read: the versions up to the last batch that fired in this
  run, or every landed version when none fired (an availableNow resume
  with nothing new). A state-shaped fold presents the last of them; a
  log-shaped fold (per-batch verdicts, pairs, manifests) presents their
  union. Versions a previous run left above the last fired batch are
  stale and never read. With nothing landed (an empty feed into a fresh
  state dir) the answer is empty, with the normal run's columns.

Scale: per micro-batch a fold reads one state version plus its delta,
so its cost follows |state| + |batch|, never the stream's history.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ds_mapreduce_spark.functions.temporal import epoch_sec, epoch_us
from ds_mapreduce_spark.sources.catalog import normalize_events_ts


def existing_state_versions(spark: SparkSession, state_dir: str) -> list[int]:
    """Batch ids with landed state under ``state_dir`` (dirs named
    ``v{int}``, the ``v-1`` seed included), via the Hadoop FS API so any
    scheme (local, HDFS, S3A) works."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(state_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith("v"):
            try:
                out.append(int(name[1:]))
            except ValueError:
                pass
    return sorted(out)


def _source(
    spark: SparkSession,
    path: str,
    *,
    per_file: bool = False,
    schema=None,
    options: dict | None = None,
    fmt: str = "parquet",
) -> DataFrame:
    """The one streaming reader: ``path``, a directory or a single file,
    as a stream.

    The events encoding conf is set for every feed, before the schema
    probe: it only changes how INT64-nanos columns read, and
    ``load_table`` pins the session to UTC anyway. The stream then goes
    through ``normalize_events_ts``, a no-op without an events ``ts``.
    ``per_file`` makes each file one micro-batch (every fold).
    FileStreamSource only lists directories, so a path whose last
    component has an extension is narrowed to that file."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if schema is None:
        schema = spark.read.format(fmt).load(path).schema
    reader = spark.readStream.schema(schema).options(**(options or {}))
    if per_file:
        reader = reader.option("maxFilesPerTrigger", "1")
    base, _, name = path.rpartition("/")
    if "." in name:
        reader = reader.option("pathGlobFilter", name)
        path = base
    return normalize_events_ts(reader.format(fmt).load(path))


def _drain(out: DataFrame, sink_table: str, mode: str = "append") -> DataFrame:
    """Drain ``out`` (availableNow) into the memory sink ``sink_table``
    and return the sink's contents."""
    out.writeStream.format("memory").queryName(sink_table).outputMode(
        mode
    ).trigger(availableNow=True).start().awaitTermination()
    return out.sparkSession.table(sink_table)


def _read(spark: SparkSession, state_dir: str, versions: list[int], name: str) -> DataFrame:
    """The union of state table ``name`` over ``versions``."""
    return spark.read.parquet(*[f"{state_dir}/v{v}/{name}" for v in versions])


def _fold(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    step: Callable,
    seed: dict[str, DataFrame] | None = None,
) -> list[int]:
    """Drain ``stream`` through the versioned-state fold of the module
    docstring; return the versions the final read may use, oldest first
    (empty when nothing landed).

    ``step(batch_df, prev)`` returns the batch's state tables as
    ``{name: table}``, written in that order to ``v{k}/<name>``. A
    table may instead be a function of ``cur``, the reader of the
    version being written: it is called once the tables before it have
    landed, so a fold that aggregates a table it just wrote reads it
    back instead of recomputing it. ``prev(name)`` reads a table of
    ``v{k-1}``; ``prev`` is None on batch 0 unless ``seed`` tables were
    written to ``v-1``."""
    spark = stream.sparkSession
    for name, table in (seed or {}).items():
        table.write.mode("overwrite").parquet(f"{state_dir}/v-1/{name}")
    fired = -1

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal fired
        sess = batch_df.sparkSession
        prev = None
        if batch_id > 0 or seed:
            prev = partial(_read, sess, state_dir, [batch_id - 1])
        cur = partial(_read, sess, state_dir, [batch_id])
        for name, table in step(batch_df, prev).items():
            if callable(table):
                table = table(cur)
            table.write.mode("overwrite").parquet(f"{state_dir}/v{batch_id}/{name}")
        fired = max(fired, batch_id)

    stream.writeStream.foreachBatch(sink).outputMode("append").trigger(
        availableNow=True
    ).option("checkpointLocation", checkpoint_dir).start().awaitTermination()
    landed = [v for v in existing_state_versions(spark, state_dir) if v >= 0]
    return [v for v in landed if fired < 0 or v <= fired]


def _last(stream: DataFrame, state_dir: str, versions: list[int], step: Callable):
    """Reader of a state-shaped fold's final state: the last of
    ``versions``, or, when nothing landed, the tables ``step`` makes from
    an empty batch, so an empty feed presents an empty answer with the
    normal columns."""
    spark = stream.sparkSession
    if versions:
        return partial(_read, spark, state_dir, versions[-1:])
    return step(spark.createDataFrame([], stream.schema), None).__getitem__


def _union(
    spark: SparkSession, state_dir: str, versions: list[int], name: str, schema: str
) -> DataFrame:
    """The union of table ``name`` over ``versions`` (a log-shaped fold's
    answer), or an empty ``schema`` table when nothing landed."""
    if not versions:
        return spark.createDataFrame([], schema)
    return _read(spark, state_dir, versions, name)


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """The shared batch/stream transformation (event-time tumbling agg).
    The windowed aggregation keeps state per (window, type) in the state
    store; the watermark bounds it by evicting windows older than
    max(event_time) - delay."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 4).alias(
                "sum_value"
            ),
        )
        .select(
            epoch_sec(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_agg(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """The shared batch/stream transformation for NATIVE session windows
    (F.session_window): merge-on-overlap inside the aggregation. In
    streaming the state store merges overlapping per-key windows across
    micro-batches and the watermark closes sessions; in batch the same
    plan is a single merging aggregation. Used by the graded batch query
    (plans/stream_queries.py events_native_session_window) and
    run_streaming_session_window."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(
            "user_id",
            epoch_sec(F.col("w.start")).alias("session_start"),
            epoch_sec(F.col("w.end")).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def run_streaming_session_window(
    spark: SparkSession, events_dir: str, sink_table: str = "stream_session_windows"
) -> DataFrame:
    """Native session windows as a stream (availableNow drain → memory
    sink). Append mode + watermark: the state store emits each merged
    session once its close is final — sessions still extendable within
    the watermark of max event time stay in state, exactly like the
    applyInPandasWithState twin's open sessions."""
    return _drain(session_window_agg(_source(spark, events_dir)), sink_table)


def run_streaming_wordcount(
    spark: SparkSession, text_path: str, sink_table: str = "stream_wordcount"
) -> DataFrame:
    """The reference's flagship job as a LIVE stream: word counts over a
    text directory, updated incrementally per micro-batch (running
    aggregation state per word — Spark's state store is the global,
    fault-tolerant version of the reference's in-memory per-chunk
    HashMap). availableNow drains what exists and stops; the identical
    query tails a growing directory in production.
    """
    lines = _source(spark, text_path, fmt="text")
    counts = (
        lines.select(F.explode(F.split(F.col("value"), r"\s+")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return _drain(counts, sink_table, "complete")


def run_streaming_dedup(
    spark: SparkSession,
    src_dir: str,
    schema,
    key_cols: list[str],
    watermark: tuple[str, str] | None = None,
    sink_table: str = "stream_dedup",
) -> DataFrame:
    """Incremental exact dedup: ``dropDuplicates(key_cols)`` on a stream
    keeps first-seen rows per key across micro-batches (state = one
    entry per distinct key). Unbounded by default — pass
    ``watermark=(ts_col, delay)`` to use dropDuplicatesWithinWatermark
    semantics where late re-occurrences outside the delay are allowed
    through and state is evicted: the 100 TB configuration, since an
    unbounded distinct-key state store eventually IS the corpus.
    """
    stream = _source(spark, src_dir, schema=schema)
    if watermark is not None:
        ts_col, delay = watermark
        stream = stream.withWatermark(ts_col, delay)
        deduped = stream.dropDuplicatesWithinWatermark(key_cols)
    else:
        deduped = stream.dropDuplicates(key_cols)
    return _drain(deduped, sink_table)


def attribution_join(clicks: DataFrame, purchases: DataFrame, horizon: str = "2 hours") -> DataFrame:
    """The shared batch/stream transformation: each purchase joined to
    every click by the same user in the preceding ``horizon`` —
    the classic attribution (stream-stream interval) join.

    Streaming: both sides carry watermarks, so the state store can
    discard clicks older than the horizon and the join is bounded;
    batch: the identical range predicate. One shuffle of each side on
    user_id either way.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", horizon)
        p = p.withWatermark("purchase_ts", "0 seconds")
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}")),
    )
    return joined.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        epoch_us("purchase_ts").alias("purchase_us"),
        epoch_us("click_ts").alias("click_us"),
    )


def run_streaming_attribution_join(
    spark: SparkSession, events_dir: str, horizon: str = "2 hours",
    sink_table: str = "stream_attrib",
) -> DataFrame:
    """Stream-stream interval join over the events parquet with an
    availableNow trigger; returns the joined rows from the memory sink."""
    stream = _source(spark, events_dir)
    clicks = stream.where(F.col("event_type") == "click")
    purchases = stream.where(F.col("event_type") == "purchase")
    return _drain(attribution_join(clicks, purchases, horizon), sink_table)


def run_streaming_tumbling_window(
    spark: SparkSession, events_dir: str, sink_table: str = "stream_windows"
) -> DataFrame:
    """Run the windowed agg as a stream over a parquet directory with an
    availableNow trigger (process-everything-then-stop), landing in an
    in-memory sink; returns the sink contents as a DataFrame.
    """
    return _drain(windowed_counts(_source(spark, events_dir)), sink_table, "complete")


def run_streaming_cdc_merge(
    spark: SparkSession, orders_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming CDC upsert: the change feed arrives as micro-batches
    and each batch MERGES into the landed state via ``foreachBatch`` —
    the latest-wins reduction is the same ``latest_wins_merge`` the
    batch query (``cdc_latest_wins_merge``) runs in one plan. Returns
    the final merged state (versioned-state contract: module docstring).
    100 TB: each micro-batch shuffles only |state ∩ batch keys| +
    |batch| rows; a bucketed state table drops the state side of that
    shuffle entirely, and compaction of the version chain is the same
    incremental-compaction plan as batch.
    """
    from ds_mapreduce_spark.operators.relational import (
        cdc_change_rows,
        latest_wins_merge,
    )

    feed = cdc_change_rows(_source(spark, orders_dir, per_file=True))

    def step(batch: DataFrame, prev) -> dict:
        rows = batch if prev is None else prev("latest").unionByName(batch)
        return {"latest": latest_wins_merge(rows, ["o_orderkey"], "version")}

    versions = _fold(feed, state_dir, checkpoint_dir, step)
    return _last(feed, state_dir, versions, step)("latest")


def run_streaming_pii_scrub(
    spark: SparkSession, docs_dir: str, sink_table: str = "stream_pii"
) -> DataFrame:
    """PII scrubbing as a stream: the batch transformation
    (``plans.text_queries.pii_scrub_rows`` — stateless column
    expressions) applied unchanged to a ``readStream`` over the
    documents parquet, landing per-row redacted records in a memory
    sink (append mode — a scrub emits rows as they arrive, no state,
    no watermark). 100 TB: this is the always-on ingest scrubber; each
    micro-batch is map-only, so throughput is scan-bound and the job
    scales by adding executors."""
    from ds_mapreduce_spark.plans.text_queries import pii_scrub_rows

    return _drain(pii_scrub_rows(_source(spark, docs_dir)), sink_table)


def run_streaming_incremental_dedup(
    spark: SparkSession,
    batch_dir: str,
    history: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming ingest dedup: documents arrive as micro-batches and
    each batch is classified against the ACCUMULATED fingerprint store
    (the ``v-1`` seed = the history corpus's fingerprints) with the same
    ``incremental_dedup`` reduction the batch query grades; hashes of
    this batch's 'new' docs are appended to the store for the next
    batch. The answer is the union of the per-batch verdict logs.

    Semantics note vs the one-shot batch run: a duplicate pair split
    across micro-batches classifies as dup_of_history (the store saw it
    first) rather than dup_in_batch — but the KEPT SET (one owner per
    hash, smallest id wins when arrival order is id-ordered) is
    identical however the feed is chunked, which is the invariant
    ``tests/test_streaming.py`` pins. 100 TB: the store is fingerprints
    only (append-only, bucketed by hash); a day's batch never joins more
    than |store ∩ batch| + |batch| rows.
    """
    from ds_mapreduce_spark.functions.text import portable_fingerprint

    hist_fp = (
        history.select(portable_fingerprint(F.col("text")).alias("text_md5"))
        .distinct()
    )
    stream = _source(spark, batch_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        store = prev("fps")
        # same reduction as operators.dedup.incremental_dedup, but the
        # history side is already a fingerprint store (hashes, not text)
        b = batch.select(
            "doc_id", portable_fingerprint(F.col("text")).alias("text_md5")
        )
        w = Window.partitionBy("text_md5")
        b = b.withColumn("batch_keep", F.min("doc_id").over(w))
        joined = b.join(
            store.withColumn("__seen", F.lit(1)), "text_md5", "left"
        )
        verdict = (
            F.when(F.col("__seen").isNotNull(), "dup_of_history")
            .when(F.col("doc_id") != F.col("batch_keep"), "dup_in_batch")
            .otherwise("new")
        )
        out = joined.select("doc_id", "text_md5", verdict.alias("verdict"))
        new_hashes = out.where(F.col("verdict") == "new").select("text_md5")
        return {
            "verdicts": out,
            "fps": store.select("text_md5").unionByName(new_hashes).distinct(),
        }

    versions = _fold(stream, state_dir, checkpoint_dir, step, seed={"fps": hist_fp})
    return _union(
        spark, state_dir, versions, "verdicts",
        "doc_id bigint, text_md5 string, verdict string",
    )


def run_streaming_shard_plan(
    spark: SparkSession,
    batch_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    budget: int = 2000,
) -> DataFrame:
    """Streaming ingest shard planning: documents arrive as micro-batches
    and each batch's docs are packed into token-budget shards CONTINUING
    from the accumulated token total — the ingest-time twin of the batch
    ``corpus_shard_plan`` query. Within a batch the assignment is the
    same ``prefix_sum_over_total_order`` operator (md5 order); the
    carried offset is a 1-row state table seeded with 0, and the answer
    is the union of the per-batch assignment logs. When arrival chunks
    respect the global md5 order, assignments equal the one-shot batch
    plan exactly — the invariant tests/test_streaming.py pins.

    100 TB: per-batch work is one range exchange over the BATCH (not the
    corpus); state is a single row; the shard manifest appends forever.
    """
    from ds_mapreduce_spark.functions.temporal import idiv_floor
    from ds_mapreduce_spark.functions.text import tokens
    from ds_mapreduce_spark.operators.relational import prefix_sum_over_total_order

    stream = _source(spark, batch_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        carried = prev("carried")
        base = batch.select(
            "doc_id",
            F.md5(F.col("doc_id").cast("string")).alias("__key"),
            F.size(tokens(F.col("text"))).cast("bigint").alias("n_tok"),
        )
        cum = prefix_sum_over_total_order(
            base, [F.col("__key"), F.col("doc_id")], F.col("n_tok"), "cum_local"
        )
        assigned = (
            cum.crossJoin(F.broadcast(carried))
            .withColumn("cum", F.col("cum_local") + F.col("carried"))
            .withColumn(
                "shard_id", idiv_floor(F.col("cum") - F.col("n_tok"), budget)
            )
            .select("doc_id", "n_tok", "shard_id")
        )

        def total(cur) -> DataFrame:
            return (
                cur("assign")
                .agg((F.sum("n_tok")).cast("bigint").alias("b"))
                .crossJoin(F.broadcast(carried))
                .select((F.col("carried") + F.coalesce(F.col("b"), F.lit(0))).alias("carried"))
            )

        return {"assign": assigned, "carried": total}

    seed = {"carried": spark.createDataFrame([(0,)], "carried bigint")}
    versions = _fold(stream, state_dir, checkpoint_dir, step, seed=seed)
    return _union(
        spark, state_dir, versions, "assign",
        "doc_id bigint, n_tok bigint, shard_id bigint",
    )


def run_streaming_mv_maintenance(
    spark: SparkSession, orders_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming aggregate-MV maintenance: the orders feed arrives as
    micro-batches and each batch's partials MERGE into the landed MV via
    ``foreachBatch`` — the same ``mv_partial``/``mv_merge`` the batch
    query (``incremental_agg_maintenance``) composes in one plan, so the
    maintained state converges to the batch answer under ANY chunking of
    the feed (associative DECIMAL partials). Returns the final MV
    through the shared ``mv_present`` projection. 100 TB: each
    micro-batch scans ONLY its delta and shuffles |groups| partial rows;
    the state store is group-cardinality-sized — the continuous-
    aggregate contract."""
    from ds_mapreduce_spark.operators.relational import mv_merge, mv_partial, mv_present

    stream = _source(spark, orders_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        part = mv_partial(batch, ["o_orderpriority"], "o_totalprice")
        return {"mv": mv_merge(prev("mv"), part) if prev else mv_merge(part)}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    return mv_present(_last(stream, state_dir, versions, step)("mv"))


def run_streaming_scd2(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """SCD2 dimension maintenance as a stream: the purchase change feed
    arrives in micro-batches; each batch MERGES into a keyed state of
    one row per (user, instant) via ``foreachBatch``, and the versioned
    history is derived from that state with the SAME ``scd2_versions``
    the batch query runs — so late-arriving changes (an earlier instant
    landing in a later micro-batch) re-version exactly instead of
    corrupting history, which a compressed-state design could not do
    (dropping a compressed row is only safe if nothing ever lands
    between it and its predecessor).

    The per-batch reduction (groupBy MAX per (user, s)) is associative
    and commutative, so any micro-batching of the input converges to
    the same state. 100 TB: each micro-batch shuffles |state ∩ batch
    keys| + |batch| rows once bucketed by user_id; re-versioning
    touches only keys present in the delta (join state on batch keys);
    state size is |distinct change instants|, the minimum any exact
    late-data-correct SCD2 can hold.
    """
    from ds_mapreduce_spark.operators.relational import (
        purchase_change_rows,
        scd2_versions,
    )

    feed = purchase_change_rows(_source(spark, events_dir, per_file=True))

    def step(batch: DataFrame, prev) -> dict:
        rows = batch if prev is None else prev("instants").unionByName(batch)
        return {"instants": rows.groupBy("user_id", "s").agg(F.max("cents").alias("cents"))}

    versions = _fold(feed, state_dir, checkpoint_dir, step)
    state = _last(feed, state_dir, versions, step)("instants")
    return scd2_versions(state, "user_id", "s", "cents")


def run_streaming_hourly_resample(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming forward-fill resample: the events feed arrives as
    micro-batches; each batch's per-(user, hour) partials (count +
    exact cents sum — ``hourly_cents_rollup``, shared with the batch
    query ``events_hourly_resample``) MERGE into a keyed rollup state
    by summation, and the dense-grid forward fill
    (``resample_forward_fill``, also shared) derives the presentation
    from the final state. Because the fill runs on the maintained
    rollup — never on raw events — a late event for an hour already
    emitted simply adjusts that hour's partials and the re-derived fill
    is exact, which an emit-as-you-go design could not do (a carried-
    forward value may change retroactively).

    (n, sum_cents) merge is associative+commutative, so any chunking of
    the feed converges to the batch rollup. 100 TB: each micro-batch
    shuffles |batch| rows into |users × active hours| state — the
    continuous-aggregate contract; the fill's window partitions stay
    bounded by span hours, never event volume."""
    from ds_mapreduce_spark.operators.temporal import (
        hourly_cents_rollup,
        resample_forward_fill,
    )

    stream = _source(spark, events_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        part = hourly_cents_rollup(batch)
        if prev:
            part = (
                prev("rollup")
                .unionByName(part)
                .groupBy("user_id", "h")
                .agg(
                    F.sum("n").cast("bigint").alias("n"),
                    F.sum("sum_cents").cast("bigint").alias("sum_cents"),
                )
            )
        return {"rollup": part}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    return resample_forward_fill(_last(stream, state_dir, versions, step)("rollup"))


def run_streaming_heavy_hitters(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming heavy-hitter maintenance: the events feed arrives as
    micro-batches and each batch's per-key partial counts MERGE into a
    landed (key, n_events) state table via ``foreachBatch`` — the same
    ``keycount_partial``/``keycount_merge`` the batch profile
    (``events_heavy_hitter_profile``) composes in one plan, so the
    maintained state converges to the batch answer under ANY chunking
    of the feed (counts are associative). Returns the final top-10
    through the shared ``heavy_hitter_present`` projection. 100 TB: each
    micro-batch scans only its delta and shuffles |keys-in-batch|
    partial rows; the state store is key-cardinality-sized — the skew
    monitor you leave running NEXT to the pipeline it tunes."""
    from ds_mapreduce_spark.operators.skew import (
        heavy_hitter_present,
        keycount_merge,
        keycount_partial,
    )

    stream = _source(spark, events_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        part = keycount_partial(batch)
        return {"counts": keycount_merge(prev("counts"), part) if prev else keycount_merge(part)}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    return heavy_hitter_present(_last(stream, state_dir, versions, step)("counts"))


def run_streaming_cms_sketch(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming Count-Min sketch maintenance: each micro-batch is
    sketched by the SAME ``cms_counters`` the batch query uses and the
    partial sketches MERGE into a landed (j, bucket, c) counter table
    via ``cms_merge`` — elementwise addition, the mergeable-summary
    property that is the entire point of the sketch (Cormode/
    Muthukrishnan): the landed state is BIT-IDENTICAL to the one-pass
    sketch under ANY chunking or arrival order of the feed, and it is
    CONSTANT-SIZE (depth x width = 1024 counters) however long the
    stream runs — the state-bounded alternative the pipeline keeps
    when the exact profile's per-key store
    (``run_streaming_heavy_hitters``) outgrows memory. A second landed
    table maintains the exact per-key counts through the shared
    ``keycount_partial``/``keycount_merge`` — the same exact profile
    the batch query probes with, kept here so the twin reproduces the
    batch answer (exact, estimate, overcount) end-to-end; a real
    deployment reads its probe keys from whatever candidate tracker it
    runs beside the sketch. The final answer derives ENTIRELY from
    landed state through the shared ``cms_probe_estimates`` scoring
    tail. 100 TB: each micro-batch shuffles at most 1024 sketch
    partial rows plus |keys-in-batch| count partials; the sketch merge
    cost is a constant regardless of stream size."""
    from ds_mapreduce_spark.operators.skew import (
        keycount_merge,
        keycount_partial,
    )
    from ds_mapreduce_spark.plans.stream_queries import (
        cms_counters,
        cms_merge,
        cms_probe_estimates,
    )

    stream = _source(spark, events_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        sketch = cms_counters(batch, depth=4, width=256)
        counts = keycount_partial(batch)
        if prev is None:
            return {"sketch": cms_merge(sketch), "counts": keycount_merge(counts)}
        return {
            "sketch": cms_merge(prev("sketch"), sketch),
            "counts": keycount_merge(prev("counts"), counts),
        }

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    state = _last(stream, state_dir, versions, step)
    sketch = state("sketch")
    top = state("counts").orderBy(F.col("n_events").desc(), "user_id").limit(10)
    return cms_probe_estimates(sketch, top, depth=4, width=256)


def run_streaming_quantile_sketch(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming quantile-sketch maintenance — the rank member of the
    sketch-store family beside the Count-Min twin: each micro-batch is
    bucketed by the SAME ``qsketch_counters`` the batch query uses and
    the partial sketches MERGE into a landed (event_type, bucket, c)
    counter table via ``qsketch_merge`` — elementwise addition, so the
    landed state is BIT-IDENTICAL to the one-pass sketch under ANY
    chunking or arrival order of the feed, and CONSTANT-SIZE per type
    (<= 64 buckets per octave) however long the stream runs. This is
    exactly why the deterministic log-bucket design was chosen over
    KLL/t-digest (randomized / merge-order-dependent — see
    operators/sketch.py). A second landed table maintains the exact
    per-(type, cents) count state (associative, the evaluation side —
    same trick as ``run_streaming_robust_outliers``) so the twin
    reproduces the batch answer (estimate bounds, exact value,
    containment guarantee) end-to-end through the shared
    ``qsketch_estimates_from_state`` tail. 100 TB: each micro-batch
    shuffles at most |buckets-in-batch| sketch partials plus the
    batch's distinct (type, cents) pairs; the sketch merge cost is a
    per-type constant regardless of stream size."""
    from ds_mapreduce_spark.operators.sketch import (
        qsketch_counters,
        qsketch_estimates_from_state,
        qsketch_merge,
        type_cents_counts,
        type_cents_merge,
    )

    stream = _source(spark, events_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        sketch = qsketch_counters(batch)
        vcounts = type_cents_counts(batch)
        if prev is None:
            return {"sketch": qsketch_merge(sketch), "vcounts": type_cents_merge(vcounts)}
        return {
            "sketch": qsketch_merge(prev("sketch"), sketch),
            "vcounts": type_cents_merge(prev("vcounts"), vcounts),
        }

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    state = _last(stream, state_dir, versions, step)
    return qsketch_estimates_from_state(state("sketch"), state("vcounts"))


def run_streaming_hll_rollup(
    spark: SparkSession, orders_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming sketch-store maintenance — the daily-sketch-store
    pattern the batch ``approx_distinct_rollup`` docstring describes,
    actually run: orders arrive as micro-batches and each batch's
    per-(priority, status) Datasketches-HLL partials MERGE into a
    landed sketch store via the shared ``hll_pgs_partial``/
    ``hll_pgs_merge`` (register-wise MAX union + count SUM — both
    associative, so the landed store is chunking-invariant: the twin's
    equivalence test pins the full batch answer, booleans included,
    proving the unioned sketches estimate IDENTICALLY to the one-pass
    sketches). Three landed tables: the (priority, status) sketch
    store, the per-priority direct sketch (same union merge), and the
    exact (priority, custkey) pair set the error-bound boolean needs
    (key-cardinality-sized — the evaluation side, not the production
    state). The final answer derives entirely from landed state through
    the shared ``hll_rollup_from_pgs``/``hll_rollup_present`` tail.
    100 TB: per batch the work is the batch's group partials plus a
    group-cardinality-sized sketch union — the fact table is never
    re-read; a year of dailies rolls up by unioning 365 sketch rows
    per group."""
    from ds_mapreduce_spark.plans.relational_queries import (
        hll_pgs_merge,
        hll_pgs_partial,
        hll_rollup_from_pgs,
        hll_rollup_present,
    )

    stream = _source(spark, orders_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        pgs = hll_pgs_partial(batch)
        pri = batch.groupBy("o_orderpriority").agg(
            F.hll_sketch_agg("o_custkey").alias("sk")
        )
        custs = batch.select("o_orderpriority", "o_custkey").distinct()
        if prev is None:
            return {"pgs": hll_pgs_merge(pgs), "pri": pri, "custs": custs}
        return {
            "pgs": hll_pgs_merge(prev("pgs"), pgs),
            "pri": prev("pri")
            .unionByName(pri)
            .groupBy("o_orderpriority")
            .agg(F.hll_union_agg("sk").alias("sk")),
            "custs": prev("custs").unionByName(custs).distinct(),
        }

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    state = _last(stream, state_dir, versions, step)
    rolled = hll_rollup_from_pgs(state("pgs"))
    direct = (
        state("pri")
        .groupBy("o_orderpriority")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__direct"))
        .join(
            state("custs")
            .groupBy("o_orderpriority")
            .agg(
                F.countDistinct("o_custkey").cast("bigint").alias("exact_custs")
            ),
            "o_orderpriority",
        )
    )
    return hll_rollup_present(rolled, direct)


def run_streaming_priority_sample(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming weighted sampling without replacement — priority
    sampling (Duffield/Lund/Thorup) as a one-pass O(k) stream state:
    documents arrive as micro-batches, each batch scores through the
    SAME deterministic ``priority_scores`` the batch query uses, and
    the landed state is just the CURRENT TOP-k (50 rows, constant
    size), merged per batch by re-taking the top-k of (landed ∪ batch
    top-k) — exact because top_k(A ∪ B) = top_k(top_k(A) ∪ top_k(B))
    and the md5-derived priorities depend only on the row (the
    deterministic-reproducibility contract the batch query documents).
    This is THE way to keep a weighted sub-corpus cut warm while a
    100 TB crawl lands: per batch the work is one map-side scoring
    pass + a TakeOrdered(k); state never exceeds k rows no matter how
    long the stream runs — the sampling sibling of the CMS twin's
    constant-size sketch. The final answer derives from landed state
    through the shared ``priority_sample_present`` tail."""
    from ds_mapreduce_spark.plans.text_queries import (
        priority_sample_present,
        priority_scores,
        priority_top_k,
    )

    stream = _source(spark, docs_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        top = priority_top_k(priority_scores(batch), 50)
        if prev:
            top = priority_top_k(prev("sample").unionByName(top), 50)
        return {"sample": top}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    return priority_sample_present(_last(stream, state_dir, versions, step)("sample"))


def run_streaming_bm25_index(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming search-index maintenance (VERDICT r6 #3): documents
    arrive as micro-batches and each batch's index partials MERGE into
    a landed inverted index via ``foreachBatch`` — four state tables,
    all associative (the MV/heavy-hitters contract):

      postings (doc_id, tok, tf)  append (docs are atomic rows, so a
                                  slice never splits a document);
      dl       (doc_id, dl)       append;
      dfreq    (tok, dft)         merge by per-token SUM;
      stats    (d, sum_dl) 1-row  merge by SUM.

    The final answer is derived ENTIRELY from the maintained state by
    ``operators.search.bm25_scores_from_index`` — the same arithmetic
    the batch ``bm25_search`` runs (shared SCORE_EXPR/IDF_EXPR/needle
    selection), but with tf probed from the postings table instead of
    re-tokenizing the corpus: the always-on search tier, where a query
    touches the needle terms' posting lists, never the documents.
    Because every state merge is an associative BIGINT partial and the
    scorer is a pure function of the final state, ANY chunking or
    arrival order of the feed converges to the batch answer exactly —
    the invariant tests/test_streaming.py pins (chunked + shuffled
    feed vs the batch bm25_search top-20).

    100 TB: each micro-batch tokenizes only its delta and shuffles
    |delta postings| rows; postings/dfreq state is bucketed by token in
    a real deployment so the merge is shuffle-free; the per-query probe
    cost is posting-list-sized."""
    from ds_mapreduce_spark.operators.search import (
        bm25_corpus_stats_partial,
        bm25_dfreq_partial,
        bm25_docstats_partial,
        bm25_postings_partial,
        bm25_scores_from_index,
    )

    stream = _source(spark, docs_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        post = bm25_postings_partial(batch)
        dl = bm25_docstats_partial(batch)
        dfreq = bm25_dfreq_partial(post)
        stats = bm25_corpus_stats_partial(dl)
        if prev:
            post = prev("postings").unionByName(post)
            dl = prev("dl").unionByName(dl)
            dfreq = (
                prev("dfreq")
                .unionByName(dfreq)
                .groupBy("tok")
                .agg(F.sum("dft").cast("bigint").alias("dft"))
            )
            stats = (
                prev("stats")
                .unionByName(stats)
                .agg(
                    F.sum("d").cast("bigint").alias("d"),
                    F.sum("sum_dl").cast("bigint").alias("sum_dl"),
                )
            )
        return {"postings": post, "dl": dl, "dfreq": dfreq, "stats": stats}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    state = _last(stream, state_dir, versions, step)
    agg = bm25_scores_from_index(
        state("postings"), state("dl"), state("dfreq"), state("stats")
    )
    # same bounded presentation as the batch query: TakeOrdered(20)
    # first, rank window on <=20 rows
    top = agg.orderBy(F.col("bm25_scaled").desc(), "doc_id").limit(20)
    w = Window.orderBy(F.col("bm25_scaled").desc(), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


def run_streaming_robust_outliers(
    spark: SparkSession, events_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming robust-outlier census — the EXACT causal twin of the
    batch ``events_robust_outliers`` (VERDICT r6 #7, the stronger
    option chosen over a lossy sketch: see operators/robust.py for the
    design argument). The median is not associative, but the
    per-(user, cents) count table IS: each micro-batch's histogram
    partial merges into versioned state by per-key summation, and the
    final exact median/MAD/outlier derivation
    (``robust_census_from_counts``) is a pure function of that state —
    so ANY chunking or arrival order of the feed reproduces the batch
    answer bit-for-bit, which the equivalence test pins. 100 TB: per
    batch, |delta histogram| rows shuffle; state is Σ per-user distinct
    cents — bounded by the value domain (money quantized to cents), the
    explicit trade against an O(1)-state approximate sketch."""
    from ds_mapreduce_spark.operators.robust import (
        robust_census_from_counts,
        user_cents_counts,
    )

    stream = _source(spark, events_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        part = user_cents_counts(batch)
        if prev:
            part = (
                prev("counts")
                .unionByName(part)
                .groupBy("user_id", "cents")
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            )
        return {"counts": part}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    return robust_census_from_counts(_last(stream, state_dir, versions, step)("counts"))


def run_streaming_minhash_lsh(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Near-dedup AT INGEST: documents arrive as micro-batches and each
    batch is LSH-probed against the accumulated band index — the
    production shape of MinHash dedup for a training-data pipeline,
    where you cannot re-run the corpus-wide self-join per arriving
    shard. State is the banded signature index (doc_id, band,
    band_key): n_bands fixed-size rows per document, APPEND-ONLY (the
    signature computation ``minhash_signatures`` is per-doc map-only,
    so any slicing of the feed produces identical index rows — shared
    with the batch query via ``operators.dedup.lsh_bands``).

    Per batch, the discovered pairs are exactly the batch docs' bucket
    collisions: within-batch bucket pairs (``lsh_band_pairs`` on the
    batch signatures) plus batch x landed-index joins on (band,
    band_key). A pair (a, b) is found when its LATER member arrives —
    so the UNION of per-batch pair logs over any chunking equals the
    one-shot batch ``dedup_minhash_lsh`` pair set exactly, the
    invariant the equivalence test pins (normalized doc_a < doc_b,
    distinct at the final read).

    100 TB: per batch the work is |batch bands| map-side rows plus a
    join keyed on (band, band_key) against the index — posting-list
    sized, never corpus-sized; the hot-bucket guard (max_shingle_df in
    the batch family) applies unchanged; the index is bucketed by
    band_key in a real deployment so the probe is shuffle-free."""
    from ds_mapreduce_spark.operators.dedup import (
        lsh_bands,
        lsh_bucket_pairs,
        minhash_signatures,
    )

    num_hashes, band_size = 8, 2
    stream = _source(spark, docs_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        sig = minhash_signatures(batch, k=3, num_hashes=num_hashes)
        bands_new = lsh_bands(sig, num_hashes, band_size).localCheckpoint(eager=True)
        # within-batch pairs from the SAME checkpointed band table that
        # appends into the index: one signature pipeline per batch
        within = lsh_bucket_pairs(bands_new)
        if prev is None:
            return {"pairs": within, "index": bands_new}
        index = prev("index")
        hit = bands_new.join(
            index.withColumnRenamed("doc_id", "doc_old"), ["band", "band_key"]
        )
        cross = hit.select(
            F.least("doc_id", "doc_old").alias("doc_a"),
            F.greatest("doc_id", "doc_old").alias("doc_b"),
        )
        return {
            "pairs": within.unionByName(cross).distinct(),
            "index": index.unionByName(bands_new),
        }

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    return _union(
        spark, state_dir, versions, "pairs", "doc_a bigint, doc_b bigint"
    ).distinct()


def run_streaming_connected_components(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Incremental dedup-cluster maintenance: documents arrive as
    micro-batches and the CLUSTER PARTITION (connected components of
    the Jaccard-verified MinHash-LSH pair graph — the batch
    ``dedup_connected_components``) is maintained against each batch,
    so keep/drop representatives are always current while the crawl
    lands, instead of re-clustering the corpus per shard.

    Three landed state tables:

      bands    (doc_id, band, band_key)   append-only LSH index (the
                                          ``run_streaming_minhash_lsh``
                                          state, shared ``lsh_bands``);
      profiles (doc_id, sh, n_shingles)   append-only shingle profiles
                                          (shared ``shingle_profiles``)
                                          — verification always scores
                                          the two docs' full shingle
                                          sets, so arrival order cannot
                                          change a verdict;
      labels   (id, comp)                 the maintained partition,
                                          comp = min doc_id.

    Per batch: candidate pairs are the batch docs' bucket collisions
    (within-batch + batch x landed index, found when the LATER member
    arrives — union over any chunking = the one-shot LSH pair set),
    verified through the shared ``jaccard_verify_pairs`` arithmetic
    against the profiles just landed, and folded into the partition
    COMPONENT-LOCALLY: only components touched by a new edge endpoint
    are re-solved (their landed labels re-enter as star edges id->comp,
    which preserve node sets, connectivity, and min-id canonicality),
    untouched components pass through unread. CC(star(CC(E1)) u E2) =
    CC(E1 u E2) — the associativity that makes min-id labels a
    mergeable state, pinned by the equivalence test under a
    4-way-chunked feed.

    100 TB: per batch the work is |batch bands| probe rows against a
    band_key-bucketed index, a posting-list-sized verify join, and a
    CC re-solve bounded by the TOUCHED components' star edges plus the
    new edges — never the corpus, and never the untouched partition
    (dedup clusters are tiny and dense, so the touched subgraph is a
    few star edges per new pair). The bands/profiles stores append to
    one bucketed table in a real deployment; the versioned rewrite
    here is the test-scale stand-in."""
    from ds_mapreduce_spark.operators.dedup import (
        cc_fold,
        jaccard_verify_pairs,
        lsh_bands,
        lsh_bucket_pairs,
        minhash_signatures,
        shingle_profiles,
    )

    k, num_hashes, band_size, threshold = 3, 8, 2, 0.8
    stream = _source(spark, docs_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        sig = minhash_signatures(batch, k=k, num_hashes=num_hashes)
        bands_new = lsh_bands(sig, num_hashes, band_size).localCheckpoint(eager=True)
        prof_new = shingle_profiles(batch, k).select("doc_id", "sh", "n_shingles")
        within = lsh_bucket_pairs(bands_new)
        if prev is None:
            pairs, bands, profiles = within, bands_new, prof_new
            prev_labels = batch.sparkSession.createDataFrame([], "id bigint, comp bigint")
        else:
            index = prev("bands")
            hit = bands_new.join(
                index.withColumnRenamed("doc_id", "doc_old"), ["band", "band_key"]
            )
            cross = hit.select(
                F.least("doc_id", "doc_old").alias("doc_a"),
                F.greatest("doc_id", "doc_old").alias("doc_b"),
            )
            pairs = within.unionByName(cross).distinct()
            bands = index.unionByName(bands_new)
            profiles = prev("profiles").unionByName(prof_new)
            prev_labels = prev("labels")

        def labels(cur) -> DataFrame:
            edges = (
                jaccard_verify_pairs(pairs, cur("profiles"), threshold)
                .select("doc_a", "doc_b")
                .localCheckpoint(eager=True)
            )
            # component-local fold: re-solve ONLY components a new edge
            # touches; untouched labels pass through unread (cc_fold —
            # the algebra is property-tested against union-find)
            return cc_fold(prev_labels, edges)

        return {"bands": bands, "profiles": profiles, "labels": labels}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    return _union(
        spark, state_dir, versions[-1:], "labels", "id bigint, comp bigint"
    ).select(F.col("id").alias("doc_id"), F.col("comp").alias("comp_id"))


def run_streaming_pmi_counts(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Collocation-statistics maintenance: documents arrive as
    micro-batches and each batch's unigram and adjacent-bigram count
    partials MERGE into two landed state tables — the corpus
    statistics a tokenizer/phrase miner keeps warm while the crawl
    lands, instead of re-censusing the corpus per shard. Counts are
    associative, so the merged tables converge to the one-shot batch
    censuses under ANY chunking of the feed; the top-k is then
    recomputed from the merged counts through the SAME scoring tail
    the registered `collocation_pmi_topk` query uses
    (`pmi_topk_from_counts` — support floor applied only here, never
    to the partials: a pair seen 3 + 2 times across two batches must
    clear the floor after the merge).

    100 TB: each micro-batch scans only its delta and shuffles
    vocab/bigram-vocab-sized partials (hot tokens absorbed map-side);
    the state tables are key-cardinality-sized (Heaps' law), and the
    scoring tail is vocab-sized work done once at read."""
    from ds_mapreduce_spark.operators.colloc import (
        pmi_bigram_merge,
        pmi_bigram_partial,
        pmi_topk_from_counts,
        pmi_unigram_merge,
        pmi_unigram_partial,
    )

    stream = _source(spark, docs_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        uni = pmi_unigram_partial(batch)
        big = pmi_bigram_partial(batch)
        if prev is None:
            return {"uni": pmi_unigram_merge(uni), "big": pmi_bigram_merge(big)}
        return {
            "uni": pmi_unigram_merge(prev("uni"), uni),
            "big": pmi_bigram_merge(prev("big"), big),
        }

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    state = _last(stream, state_dir, versions, step)
    return pmi_topk_from_counts(state("uni"), state("big"))


def run_streaming_winnow_screen(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    L: int = 20,
    k: int = 3,
) -> DataFrame:
    """Winnowing PRESCREEN at ingest: each arriving micro-batch is
    fingerprinted (`winnowing_fingerprints`, the same map-only
    selection the batch screen uses via `winnow_flagged_docs`) and
    probed against the accumulated (doc_id, fp) index — the
    production shape for deciding, as shards land, WHICH docs get the
    expensive exact-L excision pass, without re-running a corpus-wide
    fingerprint census per shard.

    State is the fingerprint index itself: distinct (doc_id, fp)
    rows, APPEND-ONLY (fingerprinting is per-doc map-only, so any
    chunking of the feed produces identical index rows). Per batch,
    newly discovered collisions are (a) fps shared by >= 2 docs
    WITHIN the batch and (b) batch fps hitting the landed index —
    and a hit flags BOTH members, retro-flagging the earlier doc the
    way `run_streaming_minhash_lsh` emits a pair when its LATER
    member arrives. The union of per-batch flag logs over any
    chunking therefore equals the one-shot batch screen
    (`winnow_flagged_docs`: fp census count >= 2) EXACTLY — the
    invariant `tests/test_streaming.py` pins.

    100 TB: per batch the work is |batch| map-side fingerprinting at
    winnowing's ~2/(w+1) density plus one join keyed on the 8-byte fp
    against the index — posting-list sized, never corpus-sized; in a
    real deployment the index is bucketed by fp so the probe is
    shuffle-free, and the flagged log is the work queue the exact-L
    excision pass consumes incrementally."""
    from ds_mapreduce_spark.operators.dedup import winnowing_fingerprints

    w = L - k + 1
    stream = _source(spark, docs_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        fps_new = winnowing_fingerprints(batch, k=k, w=w).localCheckpoint(
            eager=True
        )
        # within-batch collisions: distinct (doc, fp) rows, so a count
        # >= 2 is >= 2 distinct docs — same census as the batch screen
        dup_fp = (
            fps_new.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= 2)
        )
        within = fps_new.join(dup_fp.select("fp"), "fp", "left_semi").select(
            "doc_id"
        )
        if prev is None:
            return {"flagged": within.distinct(), "index": fps_new}
        index = prev("index")
        hit = fps_new.join(index.withColumnRenamed("doc_id", "doc_old"), "fp")
        flagged = (
            within.unionByName(hit.select("doc_id"))
            .unionByName(hit.select(F.col("doc_old").alias("doc_id")))
            .distinct()
        )
        return {"flagged": flagged, "index": index.unionByName(fps_new)}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    return _union(spark, state_dir, versions, "flagged", "doc_id bigint").distinct()


def run_streaming_ingest_manifest(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    budget: int = 2000,
    quality_threshold: int = 0,
) -> DataFrame:
    """The ingest admission pipeline as an always-on stream — the
    composed twin of ``ingest_manifest_pipeline``: every arriving
    micro-batch is scrubbed, quality-gated, deduped against the
    accumulated kept-fingerprint store, and its kept docs are routed
    into token-budget shards continuing from the carried offset. Two
    state tables (kept fps; 1-row carried token total, both seeded in
    ``v-1``), one appended manifest log — the decision record per
    document, written once.

    Shared code: the per-doc stage is ``operators.ingest.scored_rows``
    verbatim (map-only, slice-able); ownership and routing both walk
    the (okey = md5(doc_id), doc_id) total order, so when arrival
    chunks respect that order the streamed manifest equals the
    one-shot batch manifest EXACTLY (the corpus_shard_plan
    convergence contract — first-arrival-wins ownership coincides
    with the batch min-(okey, doc_id) rule); under arbitrary arrival
    the kept SET per fingerprint is still one doc and shard fills
    remain budget-bounded, only ownership/routing identity shifts
    with arrival (documented, same as the incremental-dedup twin's
    dup_of_history note). 100 TB: per batch the work is |batch|
    map-only rows, one |batch fp| probe of the store, and a
    batch-local prefix sum — the corpus is never rescanned."""
    from ds_mapreduce_spark.operators.ingest import scored_rows
    from ds_mapreduce_spark.operators.relational import prefix_sum_over_total_order

    stream = _source(spark, docs_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        store = prev("fps")
        carried = prev("carried")

        scored = scored_rows(batch).localCheckpoint(eager=True)
        qual = scored.where(F.col("q") >= F.lit(quality_threshold))
        fresh = qual.join(store, "fp", "left_anti")
        wfp = Window.partitionBy("fp").orderBy("okey", "doc_id")
        ranked = fresh.withColumn("__rn", F.row_number().over(wfp))
        owner = ranked.where(F.col("__rn") == 1).select("doc_id", "okey", "n_tok", "fp")
        kept = (
            prefix_sum_over_total_order(
                owner.select("doc_id", "okey", "n_tok"),
                [F.col("okey"), F.col("doc_id")],
                F.col("n_tok"),
                "cum_local",
            )
            .crossJoin(F.broadcast(carried))
            .select(
                "doc_id",
                F.expr(f"(cum_local + carried - n_tok) DIV {budget}").alias("__shard"),
                "n_tok",
            )
        )
        manifest = (
            scored.join(kept.select("doc_id", "__shard"), "doc_id", "left")
            .select(
                "doc_id",
                F.when(
                    F.col("q") < F.lit(quality_threshold), F.lit("low_quality")
                )
                .when(F.col("__shard").isNotNull(), F.lit("kept"))
                .otherwise(F.lit("dup"))
                .alias("verdict"),
                "n_tok",
                F.coalesce(F.col("__shard"), F.lit(-1))
                .cast("bigint")
                .alias("shard_id"),
            )
        )

        def total(cur) -> DataFrame:
            return (
                cur("manifest")
                .where(F.col("verdict") == "kept")
                .agg(F.sum("n_tok").cast("bigint").alias("b"))
                .crossJoin(F.broadcast(carried))
                .select(
                    (F.col("carried") + F.coalesce(F.col("b"), F.lit(0))).alias("carried")
                )
            )

        return {
            "manifest": manifest,
            "fps": store.unionByName(owner.select("fp")).distinct(),
            "carried": total,
        }

    seed = {
        "carried": spark.createDataFrame([(0,)], "carried bigint"),
        "fps": spark.createDataFrame([], "fp string"),
    }
    versions = _fold(stream, state_dir, checkpoint_dir, step, seed=seed)
    return _union(
        spark, state_dir, versions, "manifest",
        "doc_id bigint, verdict string, n_tok bigint, shard_id bigint",
    )


def run_streaming_ivf_index(
    spark: SparkSession,
    emb_dir: str,
    centroids: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    n_queries: int = 20,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Dense-ANN index maintenance — the third member of the ingest
    trio (sparse search: run_streaming_bm25_index; near-dup:
    run_streaming_minhash_lsh; dense: this). Embeddings arrive as
    micro-batches; each batch is assigned to its nearest FIXED
    centroid (``centroids`` is an offline artifact, passed in like the
    incremental-dedup history — per-batch assignment is a broadcast
    map + batch-local argmax groupBy, shared verbatim with batch via
    ``operators.similarity.assign_to_centroids``) and APPENDED to the
    versioned inverted-index state (vec_id, embedding, centroid_id).
    The final answer probes the maintained index with the SAME
    ``ivf_topk`` probe the batch ``knn_ivf`` runs (assigned= the
    state), so any chunking of the feed reproduces the batch top-k
    exactly — assignment is per-vector against fixed centroids, so
    order cannot matter; the equivalence test pins it. 100 TB: per
    batch the work is |batch| x |centroids| broadcast scores; the index
    is bucketed by centroid_id in a real deployment so a query touches
    nprobe posting lists, never the corpus."""
    from ds_mapreduce_spark.operators.similarity import (
        assign_to_centroids,
        ivf_topk,
    )

    stream = _source(spark, emb_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        part = assign_to_centroids(batch, centroids)
        return {"index": prev("index").unionByName(part) if prev else part}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    index = _last(stream, state_dir, versions, step)("index")
    queries = index.where(F.col("vec_id") < n_queries).select("vec_id", "embedding")
    return ivf_topk(
        corpus=index, queries=queries, centroids=centroids,
        k=k, nprobe=nprobe, assigned=index,
    ).select(
        "query_id", "neighbor_id", "score", F.col("rnk").cast("bigint").alias("rnk")
    )


def run_streaming_dsir_selection(
    spark: SparkSession, docs_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming DSIR selection-state maintenance: documents arrive as
    micro-batches and each batch's importance-state partials MERGE into
    landed state via ``foreachBatch`` — two state tables, both
    associative (the MV/heavy-hitters/BM25-index contract):

      bucketw (bucket, t_cnt, r_cnt)     merge by per-bucket SUM
      docprof (doc_id, lang, bucket, n)  append (docs are atomic rows)

    The selection is derived ENTIRELY from the maintained state by
    ``operators.importance.dsir_select_from_state`` — the same
    fixed-point weight arithmetic and rank presentation the batch
    ``dsir_importance_select`` uses (shared module), but with per-doc
    token-bucket counts probed from the profile table instead of
    re-tokenizing the corpus: sum-over-tokens(w) == sum-over-buckets
    (n·w), so ANY chunking or arrival order of the feed converges to
    the batch answer exactly (pinned by tests/test_streaming.py).
    This is the continuously-learning selection tier: new target/raw
    text re-weights EVERY landed document's importance with zero
    corpus re-reads — re-scoring touches the profile sketch and a
    <=1024-row broadcast only.

    100 TB: each micro-batch tokenizes only its delta; the weight table
    stays <=1024 rows at any scale; docprof is bucketed by doc_id in a
    real deployment so the append is shuffle-free."""
    from ds_mapreduce_spark.operators.importance import (
        dsir_bucket_merge,
        dsir_bucket_partial,
        dsir_docprof_partial,
        dsir_select_from_state,
        dsir_token_buckets,
    )

    stream = _source(spark, docs_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        tb = dsir_token_buckets(batch)
        bucketw = dsir_bucket_partial(tb)
        prof = dsir_docprof_partial(tb)
        if prev:
            bucketw = dsir_bucket_merge(prev("bucketw").unionByName(bucketw))
            prof = prev("docprof").unionByName(prof)
        return {"bucketw": bucketw, "docprof": prof}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    state = _last(stream, state_dir, versions, step)
    return dsir_select_from_state(state("docprof"), state("bucketw"))


def run_streaming_pca_gramian(
    spark: SparkSession, emb_dir: str, state_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming embedding-spectrum maintenance: embedding slices
    arrive as micro-batches and each batch's exact-integer Gramian
    partial MERGES into landed state via ``foreachBatch`` — one state
    table, (pi, pj, g), associative by construction (the Gramian is a
    sum of per-row outer products, the textbook mergeable second-moment
    statistic). The top principal direction is derived ENTIRELY from
    the maintained dim^2-row state by
    ``operators.similarity.pca_power_from_gramian`` — the same
    fixed-point power iteration the batch ``embedding_pca_power`` runs
    (shared function), so ANY chunking or arrival order of the feed
    converges to the batch answer exactly. This is the
    embedding-telemetry-at-ingest tier: anisotropy drift shows up per
    micro-batch without ever rescanning landed vectors, at dim^2 state
    whatever the corpus size."""
    from ds_mapreduce_spark.operators.similarity import (
        pca_gramian_merge,
        pca_gramian_partial,
        pca_power_from_gramian,
    )

    stream = _source(spark, emb_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        gram = pca_gramian_partial(batch)
        if prev:
            gram = pca_gramian_merge(prev("gram").unionByName(gram))
        return {"gram": gram}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    return pca_power_from_gramian(_last(stream, state_dir, versions, step)("gram"))


def run_streaming_kmeans_centroids(
    spark: SparkSession,
    emb_dir: str,
    seeds: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    quant: int = 10_000,
) -> DataFrame:
    """One Lloyd refinement step maintained incrementally (r8):
    embeddings arrive as micro-batches; each batch is argmin-assigned
    to the FROZEN ``seeds`` (an offline artifact passed in like the
    IVF twin's centroids — a stream cannot "take the first k") and its
    per-(cid, dim) component-sum/count partial MERGES into versioned
    state via ``foreachBatch``. The partial is associative and
    commutative (``operators.similarity.lloyd_step_partial`` /
    ``lloyd_step_merge`` — the SAME functions each
    ``lloyd_centroids`` batch iteration composes), so ANY chunking of
    the feed converges to the batch answer, and the final read folds
    state into next-iteration centroids with the shared
    ``lloyd_step_centroids`` — bit-equal to ``lloyd_centroids(emb, k,
    iters=1)`` on the union of all batches (the equivalence test
    pins it). This is how k-means actually trains on a 100 TB corpus:
    per-pass state is k×dim rows whatever the corpus size, each
    micro-batch scans only its delta, and successive passes re-run
    the stream with the previous pass's output as the new seeds."""
    from ds_mapreduce_spark.operators.similarity import (
        lloyd_step_centroids,
        lloyd_step_merge,
        lloyd_step_partial,
        quantize_embeddings,
    )

    stream = _source(spark, emb_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        part = lloyd_step_partial(quantize_embeddings(batch, quant), seeds)
        # batch 0: the partial IS the state — lloyd_step_partial already
        # ends in the same groupBy(cid, i) aggregate lloyd_step_merge
        # would re-apply, so no merge wrapper is needed
        return {"lloyd": lloyd_step_merge(prev("lloyd"), part) if prev else part}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    return lloyd_step_centroids(_last(stream, state_dir, versions, step)("lloyd"))


def run_streaming_bpe_encode(
    spark: SparkSession,
    docs_dir: str,
    rules,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Tokenizer APPLY as a stream (r9): documents arrive as
    micro-batches and are encoded against FROZEN merge ``rules``
    learned offline (the IVF-centroid / kmeans-seed pattern — a stream
    cannot re-train; rules are the artifact training exists to
    produce). Rule application is deterministic per word and
    corpus-independent (``operators.bpe.segment_words_with_rules``,
    the same ``_merge_pair`` fold training applies), so each batch's
    per-doc census — computed by the SAME ``encode_census_rows`` tail
    the batch query uses — is independent of every other batch, and
    the union of the per-batch logs over any chunking of the feed is
    bit-equal to the batch ``bpe_encode_census`` whose training
    produced the rules (the equivalence test pins it). Per batch:
    distinct-word segmentation (batch-vocab-sized, map-only fold) + one
    word join + one doc agg. 100 TB: this is the always-on ingest
    tokenizer — throughput is scan-bound, state is zero (rules are
    broadcast-sized and frozen), and a vocabulary drift large enough to
    matter ships as NEW rules through the same offline loop."""
    from ds_mapreduce_spark.operators.bpe import (
        encode_census_rows,
        segment_words_with_rules,
    )
    from ds_mapreduce_spark.plans.text_queries import _BPE_PATTERN

    stream = _source(spark, docs_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        words = (
            batch.select(
                F.explode(
                    F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 1)
                ).alias("w")
            )
            .where(~F.col("w").contains("\x1f"))
            .distinct()
        )
        seg = segment_words_with_rules(words, rules)
        return {"census": encode_census_rows(batch, _BPE_PATTERN, seg)}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    return _union(
        spark, state_dir, versions, "census",
        "doc_id bigint, lang string, n_words bigint, "
        "n_char_tokens bigint, n_bpe_tokens bigint, saved_bp bigint",
    )


def run_streaming_media_features(
    spark: SparkSession,
    docs_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Media decode as a stream (r9): the codec tier in an always-on
    ingest pipeline. Documents arrive as micro-batches; each batch is
    synthesized into JPEG payloads and decoded back through the SAME
    real codec chain the batch ``multimodal_jpeg_roundtrip`` query
    uses (``JPEG_CHAIN``: synth -> encode -> decode in one
    ``mapInPandas`` — full JFIF container, fixed-point IDCT), landing
    per-doc features in a per-batch log. The decode is a deterministic
    per-row map, so per-doc rows are independent of batching and the
    union over ANY chunking of the feed is bit-equal to the batch
    query — the
    stateless-twin pattern run_streaming_bpe_encode established, with
    zero state by design. 100 TB: this is how a multimodal ingest
    actually runs — payloads decoded once at arrival, features written
    columnar so downstream reads prune the payload bytes away,
    throughput scan-bound and embarrassingly parallel (no shuffle in
    the per-batch plan)."""
    from ds_mapreduce_spark.operators.jpeg import JPEG_CHAIN
    from ds_mapreduce_spark.operators.multimodal import map_stages

    stream = _source(spark, docs_dir, per_file=True)

    def step(batch: DataFrame, prev) -> dict:
        return {"features": map_stages(batch.select("doc_id"), *JPEG_CHAIN)}

    versions = _fold(stream, state_dir, checkpoint_dir, step)
    return _union(
        spark, state_dir, versions, "features",
        "doc_id bigint, width bigint, height bigint, n_blocks bigint, "
        "sum_v bigint, sum_sq bigint",
    )


#: The streaming-twin census (VERDICT r7 #6): one row per streaming
#: job, naming the batch query whose results it must reproduce, the
#: state contract it maintains across micro-batches, and the
#: equivalence test that proves it. QUERIES.md's "Streaming twins"
#: section is GENERATED from this table (scripts/gen_queries_md.py);
#: tests/test_streaming_census.py asserts it is complete (every
#: run_streaming_* function appears) and truthful (every batch query
#: is registered, every test exists). ``fn`` names the callable in
#: THIS module unless ``module`` says otherwise.
TWINS: tuple[dict, ...] = (
    dict(fn="run_streaming_wordcount", batch="wordcount",
         state="running per-word counts in the state store (update mode)",
         test="test_streaming_wordcount_matches_batch"),
    dict(fn="run_streaming_tumbling_window", batch="events_tumbling_window",
         state="windowed counts + watermark; append emits closed windows",
         test="test_streaming_tumbling_window_matches_batch"),
    dict(fn="run_streaming_session_window",
         batch="events_native_session_window",
         state="native session-window store; merged session emitted once "
               "its close clears the watermark",
         test="test_streaming_native_session_window_matches_batch"),
    dict(fn="run_streaming_sessionize", module="sessionize",
         batch="events_sessionization",
         state="per-user open-session state (applyInPandasWithState); "
               "emits CLOSED sessions, open ones stay in the store",
         test="test_streaming_sessionize_matches_batch"),
    dict(fn="run_streaming_dedup", batch="dedup_exact",
         state="dropDuplicates first-seen key set (watermark-boundable)",
         test="test_streaming_dedup_keeps_one_per_key"),
    dict(fn="run_streaming_attribution_join", batch="events_attribution_join",
         state="stream-stream interval-join buffers bounded by "
               "watermark + horizon",
         test="test_streaming_attribution_join_matches_batch"),
    dict(fn="run_streaming_cdc_merge", batch="cdc_latest_wins_merge",
         state="landed latest-version table, latest_wins_merge per batch "
               "(foreachBatch, versioned parquet)",
         test="test_streaming_cdc_merge_matches_batch"),
    dict(fn="run_streaming_pii_scrub", batch="pii_redaction",
         state="stateless — the batch pii_scrub_rows expressions applied "
               "per arriving row",
         test="test_streaming_pii_scrub_matches_batch"),
    dict(fn="run_streaming_incremental_dedup", batch="dedup_incremental",
         state="accumulated (md5 fingerprint -> keep_id) store, "
               "incremental_dedup reduction per batch",
         test="test_streaming_incremental_dedup_kept_set_is_chunking_invariant"),
    dict(fn="run_streaming_shard_plan", batch="corpus_shard_plan",
         state="running token total; batches pack into shards continuing "
               "from the accumulated cursor",
         test="test_streaming_shard_plan_matches_batch"),
    dict(fn="run_streaming_mv_maintenance", batch="incremental_agg_maintenance",
         state="landed aggregate-MV partials, mv_partial/mv_merge per batch",
         test="test_streaming_mv_maintenance_matches_batch"),
    dict(fn="run_streaming_scd2", batch="scd2_user_value_history",
         state="keyed (user, instant) version rows; validity intervals "
               "re-derived after each merge (late data safe)",
         test="test_streaming_scd2_matches_batch_with_late_data"),
    dict(fn="run_streaming_hourly_resample", batch="events_hourly_resample",
         state="per-(user, hour) count + exact-cents partials "
               "(hourly_cents_rollup, shared with the batch query)",
         test="test_streaming_hourly_resample_matches_batch_with_late_data"),
    dict(fn="run_streaming_heavy_hitters", batch="events_heavy_hitter_profile",
         state="landed (key, n_events) counts, keycount partial/merge",
         test="test_streaming_heavy_hitters_matches_batch"),
    dict(fn="run_streaming_cms_sketch", batch="cms_heavy_hitter_estimates",
         state="landed constant-size (j, bucket, c) Count-Min counter "
               "table merged elementwise per batch (bit-identical to the "
               "one-pass sketch under any chunking) + the shared exact "
               "keycount profile; estimates recomputed from landed state "
               "through the shared cms_probe_estimates tail",
         test="test_streaming_cms_sketch_matches_batch"),
    dict(fn="run_streaming_quantile_sketch", batch="quantile_sketch_estimates",
         state="landed constant-size-per-type (event_type, bucket, c) "
               "log-bucket quantile sketch merged elementwise per batch "
               "(bit-identical to the one-pass sketch under any chunking; "
               "deterministic DDSketch-style buckets, chosen over "
               "KLL/t-digest for exactly this) + the exact per-(type, "
               "cents) count state the graded comparison needs; "
               "estimates recomputed from landed state through the "
               "shared qsketch_estimates_from_state tail",
         test="test_streaming_quantile_sketch_matches_batch"),
    dict(fn="run_streaming_priority_sample", batch="weighted_priority_sample",
         state="the current top-50 by deterministic md5 priority — an "
               "O(k) constant-size landed sample, exact under any "
               "chunking because top_k(A u B) = top_k(top_k(A) u "
               "top_k(B)) and priorities depend only on the row",
         test="test_streaming_priority_sample_matches_batch"),
    dict(fn="run_streaming_hll_rollup", batch="approx_distinct_rollup",
         state="landed re-aggregatable HLL sketch store (per-group "
               "Datasketches sketches unioned register-wise per batch — "
               "the daily-sketch-store pattern) + the exact pair set the "
               "error-bound booleans need; rollup recomputed from landed "
               "state through the shared partial/merge/present helpers",
         test="test_streaming_hll_rollup_matches_batch"),
    dict(fn="run_streaming_bm25_index", batch="bm25_search",
         state="four associative index tables (postings, doc stats, "
               "doc-frequency, corpus stats) merged per batch",
         test="test_streaming_bm25_index_matches_batch"),
    dict(fn="run_streaming_robust_outliers", batch="events_robust_outliers",
         state="mergeable exact per-user value-count state; median/MAD "
               "recomputed from counts (exact causal twin, not a sketch)",
         test="test_streaming_robust_outliers_matches_batch"),
    dict(fn="run_streaming_minhash_lsh", batch="dedup_minhash_lsh",
         state="accumulated LSH band index; each batch probed against it "
               "(near-dedup at ingest)",
         test="test_streaming_minhash_lsh_matches_batch"),
    dict(fn="run_streaming_connected_components",
         batch="dedup_connected_components",
         state="three landed tables — append-only LSH band index + "
               "shingle profiles (shared candidate/verify operators) and "
               "the maintained (id, comp) partition; each batch's "
               "verified edges fold in COMPONENT-LOCALLY (only touched "
               "components re-solve, their labels re-entering as star "
               "edges; untouched components pass through unread)",
         test="test_streaming_connected_components_matches_batch"),
    dict(fn="run_streaming_pmi_counts", batch="collocation_pmi_topk",
         state="two landed associative count tables (unigram, adjacent "
               "bigram) merged per batch; PMI top-k recomputed from the "
               "merged counts through the shared scoring tail",
         test="test_streaming_pmi_counts_matches_batch"),
    dict(fn="run_streaming_winnow_screen", batch="dedup_span_winnow_screen",
         state="accumulated (doc_id, fp) winnowing-fingerprint index; "
               "each batch probed against it, collisions retro-flag the "
               "landed member (excision prescreen at ingest)",
         test="test_streaming_winnow_screen_matches_batch"),
    dict(fn="run_streaming_ingest_manifest", batch="ingest_manifest_pipeline",
         state="kept-fingerprint store + running manifest cumsum "
               "(scrub -> gate -> dedup -> shard, composed)",
         test="test_streaming_ingest_manifest_matches_batch"),
    dict(fn="run_streaming_ivf_index", batch="knn_ivf",
         state="landed IVF posting lists (centroid assignment per batch)",
         test="test_streaming_ivf_index_matches_batch"),
    dict(fn="run_streaming_dsir_selection", batch="dsir_importance_select",
         state="two associative tables (hashed-unigram bucket counts for "
               "target and raw profiles) merged per batch",
         test="test_streaming_dsir_selection_matches_batch"),
    dict(fn="run_streaming_pca_gramian", batch="embedding_pca_power",
         state="(pi, pj, g) exact-integer Gramian partial merged per batch; "
               "power iteration re-run from landed state",
         test="test_streaming_pca_gramian_matches_batch"),
    dict(fn="run_streaming_kmeans_centroids", batch="kmeans_lloyd_refine",
         state="(cid, dim, sum, count) Lloyd-step partial against frozen "
               "seeds merged per batch; next centroids folded from state "
               "(shared lloyd_step_* functions)",
         test="test_streaming_kmeans_centroids_matches_batch"),
    dict(fn="run_streaming_bpe_encode", batch="bpe_encode_census",
         state="zero state — frozen offline-trained merge rules applied "
               "per batch (shared segment_words_with_rules / "
               "encode_census_rows); per-doc results land append-only "
               "in versioned parquet, idempotent per batch id",
         test="test_streaming_bpe_encode_matches_batch"),
    dict(fn="run_streaming_media_features", batch="multimodal_jpeg_roundtrip",
         state="zero state — the real JPEG codec chain (shared "
               "synth/encode/decode operators) applied per batch; "
               "per-doc features land append-only in versioned parquet, "
               "idempotent per batch id",
         test="test_streaming_media_features_matches_batch"),
)
