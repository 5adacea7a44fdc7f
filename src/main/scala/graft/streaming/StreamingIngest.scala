package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, StructType, TimestampType}

import graft.pipeline.MergeTable

/** Typed event row for stateful sessionization. (Top-level classes:
  * object-nested case classes break Catalyst encoder codegen.)
  */
final case class SessionEvent(user_id: Long, event_id: Long,
                              ts: java.sql.Timestamp, value: Double)

/** Emitted when a session closes (gap exceeded or watermark timeout). */
final case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                               session_end: java.sql.Timestamp,
                               n_events: Long, total_value: Double)

final case class SessionState(start: Long, end: Long, n: Long, total: Double)

/** Typed event row for the stateful streaming funnel. */
final case class FunnelEvent(user_id: Long, event_id: Long,
                             event_type: String, ts: java.sql.Timestamp)

/** Emitted the moment a user advances to funnel step `step` (1-based). */
final case class FunnelStep(user_id: Long, step: Int, event_type: String,
                            step_ts: java.sql.Timestamp)

/** Per-user funnel progress: event-time micros of each reached step. */
final case class FunnelProgress(times: Seq[Long])

/** Typed event row for the stateful streaming debounce. */
final case class DebounceEvent(user_id: Long, event_type: String,
                               event_id: Long, ts: java.sql.Timestamp,
                               value: Double)

/** Last raw event time (micros) of the open burst per (user, type). */
final case class DebounceState(lastUs: Long)

/** Streaming ingestion (SURVEY.md §2 #23-24): the Spark-native
  * counterpart of the reference's Autoloader-style streaming readers
  * and foreachBatch merge writers (ingest-framework readers/
  * streaming_readers.py:52-66, writers/writer.py:753-754,973 —
  * `trigger(availableNow=True)` file replay into a MERGE).
  *
  * Scale notes: the watermark bounds dedup/agg state; each
  * micro-batch merge is made idempotent and arrival-order-safe by
  * scd1Merge's order guard (a late file can never regress the
  * table), so checkpoint replay after failure is harmless.
  */
object StreamingIngest {

  /** Streaming file-source read with the same ingest control columns
    * as the batch readers (file path/mtime from the `_metadata`
    * hidden column — stays inside the scan, no RDD hop).
    */
  def readStream(spark: SparkSession, format: String, path: String,
                 schema: StructType,
                 options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.format(format).schema(schema).options(options)
      .load(path)
      .withColumn("row_creation_time", current_timestamp())
      .withColumn("file_modification_time", col("_metadata.file_modification_time"))
      .withColumn("file_path", col("_metadata.file_path"))
      .withColumn("start_time", lit(null).cast(TimestampType))
      .withColumn("end_time", lit(null).cast(TimestampType))
      .withColumn("is_current", lit(null).cast(IntegerType))
      .withColumn("delete_time", lit(null).cast(TimestampType))

  /** Streaming read with schema INFERRED from a batch `limit(0)`
    * read of the same path (the reference's create_streaming_reader
    * does exactly this — streaming_readers.py:40-48 — because file
    * streams require an explicit schema), plus the reference's
    * column-name sanitization (`/` → `_`, SAP-style paths).
    */
  def readStreamInferred(spark: SparkSession, format: String, path: String,
                         options: Map[String, String] = Map.empty): DataFrame = {
    // The inference read MUST see the same files the stream will read
    // (same options, e.g. csv header/delimiter, and no extra
    // recursiveFileLookup the stream doesn't use) or the inferred
    // schema describes a different dataset than the one ingested.
    val schema = spark.read.format(format).options(options)
      .load(path).limit(0).schema
    val df = readStream(spark, format, path, schema, options)
    df.select(df.columns.map(c => col(s"`$c`").alias(c.replace("/", "_")))
      .toIndexedSeq: _*)
  }

  /** Plain streaming append sink (reference
    * streaming_write_table_append, streaming_writers.py): availableNow
    * replay into an append-mode file sink. For merge semantics use
    * mergeSink; this is the bronze-landing shape.
    */
  def appendSink(source: DataFrame, path: String, checkpoint: String,
                 format: String = "parquet"): StreamingQuery =
    source.writeStream.format(format)
      .option("checkpointLocation", checkpoint)
      .option("path", path)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Config-driven STREAMING run: the same `IngestConfig` the batch
    * `IngestJob` executes, run as an availableNow file stream —
    * inferred-schema read with the batch readers' control columns,
    * the config's transform chain (every step of the algebra is a
    * stateless projection/filter, including the multimodal
    * resize/resample planners, so one config serves both modes),
    * then each write as its streaming sink: `append` →
    * [[appendSink]], `merge` → [[mergeSink]] with the config's
    * keys / table format / partitioning and per-micro-batch DQ.
    * Blocks until all pending files replay (the reference's
    * availableNow job shape); re-running with the same
    * `checkpointDir` processes only NEW files — the medallion
    * incremental contract.
    */
  def runConfig(spark: SparkSession, cfg: graft.pipeline.IngestConfig,
                checkpointDir: String): Unit = {
    val src = readStreamInferred(spark, cfg.source.format,
      cfg.source.path, cfg.source.options)
    val transformed = graft.pipeline.Pipeline(cfg.transforms)(src)
    val queries = cfg.writes.zipWithIndex.map { case (w, i) =>
      val ck = s"$checkpointDir/w$i"
      w.mode match {
        case "append" => appendSink(transformed, w.path, ck, w.format)
        case "merge" => mergeSink(transformed, w.path, ck, w.keys,
          w.orderBy, dqRules = cfg.dqRules, fmt = cfg.tableFormat,
          partitionBy = w.partitionBy,
          optimizeEvery = if (w.optimizeAfter || w.clusterBy.nonEmpty ||
            w.zorderBy.nonEmpty) 1 else 0,
          clusterBy = w.clusterBy, zorderBy = w.zorderBy)
        case other => throw new IllegalArgumentException(
          s"streaming write supports append|merge, got '$other' — " +
            "overwrite is a batch-only mode")
      }
    }
    queries.foreach(_.awaitTermination())
  }

  /** Watermarked dedup: bounded state (the reference's streaming
    * dedup has no state bound at all). `eventTimeCol` drives the
    * watermark; duplicates of `keys` arriving within `delay` are
    * dropped.
    */
  def dedupWithinWatermark(df: DataFrame, eventTimeCol: String,
                           delay: String, keys: Seq[String]): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Micro-batch SCD1 merge sink: every micro-batch runs the same
    * tagged merge plan the batch path uses (one code path for both
    * modes), with `Trigger.AvailableNow` replaying all pending files
    * then stopping — the reference's availableNow semantics.
    *
    * `fmt` picks the table format (the same seam as the batch
    * writers). With `partitionBy` set the sink runs partition-PRUNED
    * merges: a micro-batch typically lands in one or two hot
    * partitions, so each commit rewrites only those — at 100 TB the
    * difference between a per-batch full-table rewrite and a
    * per-batch hot-partition touch. Incremental semantics only (a
    * micro-batch is by nature not a full extract). `optimizeEvery`
    * compacts the target every that-many micro-batches (0 = off).
    */
  def mergeSink(source: DataFrame, tablePath: String, checkpoint: String,
                keys: Seq[String], orderBy: String,
                compareExclude: Seq[String] = graft.sources.Sources.controlColumns,
                dqRules: Seq[graft.dq.DqRule] = Nil,
                dqResultsPath: Option[String] = None,
                fmt: graft.pipeline.TableFormat =
                  graft.pipeline.SnapshotTableFormat,
                partitionBy: Seq[String] = Nil,
                optimizeEvery: Int = 0,
                clusterBy: Option[String] = None,
                zorderBy: Seq[String] = Nil)
      : StreamingQuery = {
    require(clusterBy.isEmpty || zorderBy.isEmpty,
      "clusterBy and zorderBy are mutually exclusive layouts")
    require((clusterBy.isEmpty && zorderBy.isEmpty) ||
        fmt == graft.pipeline.DeltaLogTableFormat,
      "clusterBy/zorderBy need file-stats clustering — the delta-log format")
    // validate the partitionBy/fmt pairing NOW, not inside
    // foreachBatch: the same require there would only fire on the
    // first non-empty micro-batch — failing a RUNNING stream at an
    // arbitrary later point for a misconfiguration that was knowable
    // before start() (mirrors ConfigHandler's parse-time check)
    require(partitionBy.size <= 1 ||
        fmt == graft.pipeline.DeltaLogTableFormat,
      "snapshot format prunes a single partition column — use the " +
        "delta-log format for multi-column partitionBy")
    source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // per-micro-batch DQ (reference streams DQ results to a log
          // table per batch): a violating batch is skipped, not
          // merged — the checkpoint will not re-deliver it, so the
          // violation record is the operational signal.
          val violations =
            if (dqRules.isEmpty) Nil
            else {
              // one row per rule: collecting them IS the DQ pass
              val dq = graft.dq.DataQuality.evaluate(batch, dqRules)
                .withColumn("batch_id", lit(batchId))
              val rows = dqResultsPath.fold(dq.collect())(
                graft.pipeline.Audit.append(dq, _))
              rows.filterNot(_.getAs[Boolean]("passed"))
                .map(_.getAs[String]("rule_name")).toSeq
            }
          if (violations.isEmpty) {
            val spark = batch.sparkSession
            if (partitionBy.nonEmpty) fmt match {
              case graft.pipeline.DeltaLogTableFormat =>
                graft.pipeline.DeltaLogTableFormat.scd1MergePruned(spark,
                  tablePath, batch, keys, orderBy, partitionBy,
                  compareExclude)
              case _ =>
                require(partitionBy.size == 1,
                  "snapshot format prunes a single partition column")
                MergeTable.scd1MergePruned(spark, tablePath, batch,
                  keys, orderBy, partitionBy.head, compareExclude)
            } else
              fmt.scd1Merge(spark, tablePath, batch, keys, orderBy,
                compareExclude = compareExclude)
          }
          ()
        }
        // periodic compaction: every micro-batch merge lands its own
        // small files, and a long-running stream accumulates them
        // without bound — the reference optimizes after its Delta
        // merges for the same reason. dataChange=false commits, so
        // downstream gold-hop consumers skip them without a diff
        // scan. The cadence check runs OUTSIDE the empty/DQ gates: an
        // empty or skipped batch landing on a cadence point must not
        // defer compaction a whole cycle.
        if (optimizeEvery > 0 && (batchId + 1) % optimizeEvery == 0 &&
            fmt.exists(tablePath)) {
          // clusterBy/zorderBy upgrade the cadence compaction to the
          // layout rewrite, mirroring the batch IngestJob dispatch
          val spark = batch.sparkSession
          if (zorderBy.nonEmpty)
            graft.pipeline.DeltaLogTableFormat
              .optimizeZorder(spark, tablePath, zorderBy)
          else clusterBy match {
            case Some(c) => graft.pipeline.DeltaLogTableFormat
              .optimizeClustered(spark, tablePath, c)
            case None => fmt.optimize(spark, tablePath)
          }
          ()
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Custom-state streaming sessionization via flatMapGroupsWithState
    * (#25's streaming form): per-user session state lives in the
    * state store, closes on a gap or event-time timeout, and only
    * CLOSED sessions are emitted (append mode). The state per key is
    * one small tuple — bounded by user cardinality, not event volume.
    *
    * Events inside a micro-batch are sorted per key (micro-batch
    * group iterators carry no order guarantee); late cross-batch
    * events are bounded by the watermark.
    */
  // java.sql.Timestamp.getTime is ms-precision; state math runs in
  // MICROSECONDS so closed sessions are bit-identical to the batch
  // operator's unix_micros arithmetic.
  private def toMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos % 1000000L) / 1000L
  private def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def sessionizeStateful(events: Dataset[SessionEvent], gapSec: Long)
      : Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapSec * 1000000L
    events
      .withWatermark("ts", s"${math.max(gapSec, 3600L)} seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent],
         state: GroupState[SessionState]) =>
          def close(s: SessionState) = ClosedSession(userId,
            fromMicros(s.start), fromMicros(s.end), s.n, s.total)
          if (state.hasTimedOut) {
            val out = state.getOption.map(close)
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
            val closed = Seq.newBuilder[ClosedSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = toMicros(e.ts)
              cur match {
                case Some(s) if t - s.end <= gapUs =>
                  cur = Some(SessionState(s.start, math.max(s.end, t),
                    s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += close(s)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(
                Math.floorDiv(s.end + gapUs, 1000L)) // timeout API is ms
            }
            closed.result().iterator
          }
      }
  }

  /** Stateful streaming funnel (#26b's streaming form): per-user
    * progress through the ordered `steps` lives in the state store,
    * and a [[FunnelStep]] row is emitted the moment a user advances —
    * aggregating emitted rows by step reproduces
    * [[graft.operators.Events.funnel]]'s counts when micro-batches
    * arrive in event-time order. State per user is at most |steps|
    * longs — bounded by user cardinality, never event volume, the
    * same state-store contract as [[sessionizeStateful]].
    *
    * Batch-vs-stream skew contract: within a micro-batch events are
    * sorted (group iterators carry no order), so a batch replay is
    * bit-identical; ACROSS batches a late qualifying event that would
    * have advanced a step EARLIER than the recorded time keeps the
    * recorded (later) time — append mode cannot retract an emitted
    * advancement. Bounded by the watermark, identical to every
    * append-mode stateful operator here. State never times out: a
    * user's funnel position stays valid for the stream's lifetime
    * (it is |steps| longs; expiry would RE-EMIT steps on a user's
    * return, double-counting conversions).
    */
  def funnelStateful(events: Dataset[FunnelEvent], steps: Seq[String])
      : Dataset[FunnelStep] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelStep](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[FunnelEvent],
         state: GroupState[FunnelProgress]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
          var times = state.getOption.map(_.times).getOrElse(Seq.empty)
          val out = Seq.newBuilder[FunnelStep]
          sorted.foreach { e =>
            val next = times.length
            if (next < steps.length && e.event_type == steps(next) &&
                (next == 0 || toMicros(e.ts) > times(next - 1))) {
              times = times :+ toMicros(e.ts)
              out += FunnelStep(userId, next + 1, steps(next), e.ts)
            }
          }
          if (times.nonEmpty) state.update(FunnelProgress(times))
          out.result().iterator
      }
  }

  /** Stateful streaming debounce ([[graft.operators.Events.debounce]]'s
    * streaming form): burst LEADERS are emitted the moment they
    * arrive — a leader is recognizable immediately (its gap to the
    * previous raw event exceeds the threshold), so unlike the
    * session/burst AGGREGATES no close/timeout wait is needed and
    * append mode is exact. State per (user, type) is ONE long (the
    * last raw event time — chain semantics re-anchor on every raw
    * event, kept or suppressed), bounded by key cardinality.
    *
    * The emitted rows equal the batch operator's leaders (batch also
    * reports burst_size; a stream cannot know it at emission time —
    * count it downstream from the suppressed/raw ratio if needed).
    * Same micro-batch contract as [[funnelStateful]]: in-batch rows
    * sort per key, cross-batch order is the file order (spec-proven
    * equal to batch on an ordered availableNow replay), late data
    * bounded by the watermark. State never times out: one long per
    * key, and expiry would re-emit a mid-burst event as a false
    * leader on the key's return.
    */
  def debounceStateful(events: Dataset[DebounceEvent], gapSec: Long)
      : Dataset[DebounceEvent] = {
    import events.sparkSession.implicits._
    val gapUs = gapSec * 1000000L
    // the suppression horizon must cover the chain gap: an event
    // arriving later than the watermark is dropped by the stream but
    // counted by the batch twin, so tie the watermark to gapSec
    // (floor 1h for ordinary out-of-orderness at small gaps)
    events
      .withWatermark("ts", s"${math.max(gapSec, 3600L)} seconds")
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[DebounceState, DebounceEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Long, String), rows: Iterator[DebounceEvent],
         state: GroupState[DebounceState]) =>
          val sorted = rows.toSeq.sortBy(e => (toMicros(e.ts), e.event_id))
          val out = Seq.newBuilder[DebounceEvent]
          var last = state.getOption.map(_.lastUs)
          sorted.foreach { e =>
            val t = toMicros(e.ts)
            if (last.forall(l => t - l > gapUs)) out += e
            last = Some(last.fold(t)(math.max(t, _)))
          }
          last.foreach(l => state.update(DebounceState(l)))
          out.result().iterator
      }
  }

  /** Streaming tumbling-window aggregation with watermark (#24) —
    * the same shape as Events.windowedAgg so batch and stream
    * results are comparable. A tumbling window IS a sliding window
    * whose slide equals its length; delegating keeps the two
    * aggregation bodies from drifting apart.
    */
  def windowedAgg(df: DataFrame, eventTimeCol: String, delay: String,
                  windowLen: String): DataFrame =
    slidingAgg(df, eventTimeCol, delay, windowLen, windowLen)

  /** Streaming sliding-window aggregation with watermark — the same
    * shape as Events.slidingAgg. Spark expands each row into its
    * len/slide windows inside codegen before one aggregate shuffle;
    * watermark bounds the open-window state.
    */
  def slidingAgg(df: DataFrame, eventTimeCol: String, delay: String,
                 windowLen: String, slide: String): DataFrame =
    df.withWatermark(eventTimeCol, delay)
      .groupBy(window(col(eventTimeCol), windowLen, slide).as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Watermarked stream-stream interval join: each left row pairs
    * with right rows of the same key whose event time falls in
    * [left ts - lookback, left ts]. Both sides carry watermarks and
    * the join condition time-bounds BOTH event times, so Spark can
    * evict state — the only stream-stream join shape that doesn't
    * grow state forever. Columns are prefix-renamed (`l_`/`r_`)
    * before the join so the output is unambiguous.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTsCol: String, rightTsCol: String,
                   delay: String, lookback: String): DataFrame = {
    val l = left.columns.foldLeft(left)((d, c) => d.withColumnRenamed(c, s"l_$c"))
      .withWatermark(s"l_$leftTsCol", delay)
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
      .withWatermark(s"r_$rightTsCol", delay)
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$rightTsCol") >= col(s"l_$leftTsCol") - expr(s"INTERVAL $lookback") &&
        col(s"r_$rightTsCol") <= col(s"l_$leftTsCol"))
  }
}
