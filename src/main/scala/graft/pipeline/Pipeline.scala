package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources

/** Declarative pipeline: source → transform chain → (optional) DQ →
  * write. The Spark-first counterpart of the reference's
  * `PipelineBuilder` (ingest-framework/framework/src/sparkbuilder/
  * builder/engine.py:17-141): instead of imperatively stepping a
  * queue, the whole chain is composed into a single lazy plan and
  * Catalyst optimizes across step boundaries (filter pushdown
  * through renames, column pruning through selects, etc.).
  */
final case class Pipeline(transforms: Seq[Transform]) {
  def apply(df: DataFrame): DataFrame = transforms.foldLeft(df)((d, t) => t(d))
}

object Pipeline {
  def of(transforms: Transform*): Pipeline = new Pipeline(transforms.toSeq)
}

/** End-to-end ingestion job config (reference's JSON config dict,
  * typed). `source` reads with control-column stamping; `writes`
  * supports multiple targets (medallion layers).
  */
final case class SourceConfig(
    format: String,
    path: String,
    options: Map[String, String] = Map.empty)

final case class WriteConfig(
    path: String,
    mode: String = "append", // overwrite | append | merge
    keys: Seq[String] = Nil,
    scdType: Int = 1,
    orderBy: String = "file_modification_time",
    format: String = "parquet",
    medallionLayer: String = "",
    /** "ie" = incremental extract (absent keys untouched);
      * "fe" = full extract (absent keys deleted/closed) — the
      * reference's IE/FE write dispatch (writers/writer.py:787,933).
      */
    extractMode: String = "ie",
    /** Compact the target's small files after a merge write — the
      * reference runs `optimize {target_table}` after its Delta
      * merges (writers/writer.py:280,690). A no-op on formats with
      * nothing to compact (snapshot).
      */
    optimizeAfter: Boolean = false,
    /** Partition the target by these columns (the reference's
      * list-valued `partitionBy` write option). Merge writes route to
      * the partition-PRUNED merge (only touched partitions rewrite);
      * append/overwrite writes partition the plain Spark write.
      * Incremental extracts only — `fe` needs global key visibility,
      * which pruning by definition hides (rejected at parse).
      */
    partitionBy: Seq[String] = Nil,
    /** After a merge write, rewrite the target clustered on this
      * column (`OPTIMIZE ... ZORDER BY`'s 1-D form): files get
      * disjoint value ranges so stats-pruned point/range reads open
      * ~one file. Implies the post-merge optimize; delta-log format
      * only (rejected at parse otherwise).
      */
    clusterBy: Option[String] = None,
    /** The ≥2-column form: rewrite Z-ORDERED on these columns after a
      * merge write, so file stats stay narrow on every listed column
      * at once (multi-column lookup workloads). Numeric columns only
      * — [[DeltaLogTableFormat.optimizeZorder]]. Mutually exclusive
      * with clusterBy; delta-log + merge mode only (parse-checked).
      */
    zorderBy: Seq[String] = Nil)

final case class IngestConfig(
    source: SourceConfig,
    transforms: Seq[Transform] = Nil,
    writes: Seq[WriteConfig] = Nil,
    dqRules: Seq[graft.dq.DqRule] = Nil,
    auditTablePath: Option[String] = None,
    failOnDqViolation: Boolean = false,
    /** Validate merge keys are non-null before any merge write
      * (reference primary-key validation) — null keys corrupt
      * latest-per-key compaction silently.
      */
    validateKeys: Boolean = true,
    /** Transactional-table layer for merge-mode writes: the bundled
      * snapshot format, or the delta-log protocol implementation
      * (`"tableFormat": "delta-log"` in JSON config).
      */
    tableFormat: TableFormat = SnapshotTableFormat)

/** Thrown when `failOnDqViolation` is set and any rule fails. */
final class DqViolationException(val failed: Seq[String])
  extends RuntimeException(s"DQ rules violated: ${failed.mkString(", ")}")

/** Inclusive range predicate on one column — the medallion silver
  * read's data-skipping hook: on a delta-log bronze table the silver
  * phase plans its scan from the transaction log's file stats
  * (readRange) instead of listing every file.
  */
final case class RangeFilter(column: String, lo: Any, hi: Any)

/** Runs an IngestConfig end-to-end (batch). Streaming ingestion with
  * identical merge semantics lives in graft.streaming.StreamingIngest.
  */
object IngestJob {
  def read(spark: SparkSession, cfg: IngestConfig): DataFrame =
    Sources.read(spark, cfg.source.format, cfg.source.path, cfg.source.options)

  def transform(df: DataFrame, cfg: IngestConfig): DataFrame =
    Pipeline(cfg.transforms)(df)

  /** Full run: read → transform → dq → write(s) → audit. */
  def run(spark: SparkSession, cfg: IngestConfig): DataFrame = {
    val startedAt = System.currentTimeMillis()
    val runId = java.util.UUID.randomUUID().toString
    def finishRecord(status: String): Unit = cfg.auditTablePath.foreach { p =>
      Audit.append(Audit.runRecord(spark, cfg.source.path, runId, startedAt,
        System.currentTimeMillis(), cfg.writes.length, status), s"$p/run_log")
    }
    val out = recordingFailure(finishRecord)(runInner(spark, cfg))
    finishRecord("success")
    out
  }

  /** Run `body`; if it throws, record the failure with `finish` and
    * rethrow the ORIGINAL exception — a failing record (unwritable
    * audit path, full disk) rides along as a suppressed exception
    * instead of replacing the error that failed the run.
    */
  private def recordingFailure[A](finish: String => Unit)(body: => A): A =
    try body
    catch { case e: Throwable =>
      try finish(s"failed: ${e.getClass.getSimpleName}")
      catch { case f: Throwable => e.addSuppressed(f) }
      throw e
    }

  /** Evaluate DQ rules, append the result rows to the audit table,
    * then — only when `failHard` and a rule failed — throw. The
    * ordering is the contract (reference dq/dq.py:148 appends the
    * dq_log table unconditionally): soft-fail leaves the audit
    * trail and continues; hard-fail leaves the SAME trail and then
    * gates. `layer` stamps which medallion step evaluated the rules.
    *
    * The same aggregate pass counts nulls in each of `mergeKeys` (the
    * key sets of the merge targets about to be written), so a null
    * key fails the run with an IllegalArgumentException after the
    * DQ trail and gate but before ANY target is written, and costs no
    * scan of its own.
    *
    * Migration note: the `layer` column was added in round 6 — an
    * audit dir with older dq_results part files needs
    * `spark.read.option("mergeSchema", true)` to surface it across
    * the mixed footers.
    */
  private[pipeline] def applyDq(df: DataFrame,
                                rules: Seq[graft.dq.DqRule],
                                auditTablePath: Option[String],
                                failHard: Boolean,
                                layer: String,
                                mergeKeys: Seq[Seq[String]] = Nil): Unit = {
    val keyRules = mergeKeys.filter(_.nonEmpty).distinct.map(graft.dq.NullKeys)
    if (rules.nonEmpty || keyRules.nonEmpty) {
      import org.apache.spark.sql.functions.lit
      // one row per rule, in rule order: collecting them IS the pass;
      // violations gate the write when configured, matching the
      // reference DQ layer's fail-the-pipeline surface
      val dq = graft.dq.DataQuality.evaluate(df, rules ++ keyRules)
        .withColumn("layer", lit(layer))
      val (ruleRows, keyRows) = dq.collect().toSeq.splitAt(rules.size)
      if (rules.nonEmpty) auditTablePath.foreach { p =>
        Audit.append(df.sparkSession, ruleRows, dq.schema, s"$p/dq_results")
      }
      val failed = ruleRows.filterNot(_.getAs[Boolean]("passed"))
        .map(_.getAs[String]("rule_name"))
      if (failHard && failed.nonEmpty)
        throw new DqViolationException(failed)
      keyRules.zip(keyRows).collectFirst {
        case (k, r) if !r.getAs[Boolean]("passed") => k.keys
      }.foreach(ks => throw new IllegalArgumentException(
        s"null merge keys present (${ks.mkString(",")})"))
    }
  }

  /** Key sets whose nulls the DQ pass must count before `writes`. */
  private def mergeKeysOf(cfg: IngestConfig, writes: Seq[WriteConfig]): Seq[Seq[String]] =
    if (cfg.validateKeys) writes.filter(_.mode == "merge").map(_.keys) else Nil

  private def runInner(spark: SparkSession, cfg: IngestConfig): DataFrame = {
    val df = transform(read(spark, cfg), cfg)
    // the DQ pass is job-level (one evaluation of the transformed
    // frame), so its label is the set of layers this job writes —
    // "" for plain jobs, "bronze" for a medallion bronze config
    applyDq(df, cfg.dqRules, cfg.auditTablePath, cfg.failOnDqViolation,
      layer = cfg.writes.map(_.medallionLayer).filter(_.nonEmpty)
        .distinct.mkString(","), mergeKeysOf(cfg, cfg.writes))
    writeTargets(spark, cfg, df, cfg.writes)
    df
  }

  /** One write loop for every layer: format-routed merge and
    * audit_log rows apply identically whether the frame is a bronze
    * ingest or a medallion silver product (the DQ pass before it has
    * already validated every merge target's keys).
    */
  private def writeTargets(spark: SparkSession, cfg: IngestConfig,
                           df: DataFrame, writes: Seq[WriteConfig]): Unit =
    writes.foreach { wc =>
      val deleteMissing = wc.extractMode == "fe"
      val stats = wc.mode match {
        case "merge" if wc.partitionBy.nonEmpty =>
          // ConfigHandler already rejected fe + partitionBy and
          // multi-column partitionBy on the snapshot format
          require(!deleteMissing,
            "pruned merge cannot honor a full extract")
          cfg.tableFormat match {
            case DeltaLogTableFormat =>
              if (wc.scdType == 2)
                DeltaLogTableFormat.scd2MergePruned(spark, wc.path, df,
                  wc.keys, wc.orderBy, wc.partitionBy,
                  Sources.controlColumns)
              else
                DeltaLogTableFormat.scd1MergePruned(spark, wc.path, df,
                  wc.keys, wc.orderBy, wc.partitionBy,
                  Sources.controlColumns)
            case _ =>
              if (wc.scdType == 2)
                MergeTable.scd2MergePruned(spark, wc.path, df,
                  wc.keys, wc.orderBy, wc.partitionBy.head)
              else
                MergeTable.scd1MergePruned(spark, wc.path, df,
                  wc.keys, wc.orderBy, wc.partitionBy.head)
          }
        case "merge" =>
          if (wc.scdType == 2)
            cfg.tableFormat.scd2Merge(spark, wc.path, df, wc.keys, wc.orderBy, deleteMissing)
          else
            cfg.tableFormat.scd1Merge(spark, wc.path, df, wc.keys, wc.orderBy, deleteMissing)
        case m =>
          val w = df.write.mode(m).format(wc.format)
          (if (wc.partitionBy.nonEmpty) w.partitionBy(wc.partitionBy: _*)
           else w).save(wc.path)
          MergeStats(inserted = -1, updated = -1, deleted = -1)
      }
      cfg.auditTablePath.foreach { p =>
        Audit.append(Audit.log(spark, wc.path, wc.mode, stats), s"$p/audit_log")
      }
      if (wc.mode == "merge" && (wc.optimizeAfter || wc.clusterBy.nonEmpty ||
          wc.zorderBy.nonEmpty)) {
        // clusterBy/zorderBy imply the post-merge optimize, upgraded
        // to the clustered rewrite (delta-log only; parse-validated)
        val result =
          if (wc.zorderBy.nonEmpty)
            DeltaLogTableFormat.optimizeZorder(spark, wc.path, wc.zorderBy)
          else wc.clusterBy match {
            case Some(cc) => DeltaLogTableFormat.optimizeClustered(spark, wc.path, cc)
            case None     => cfg.tableFormat.optimize(spark, wc.path)
          }
        result.foreach { os =>
          // audit the maintenance commit like the reference does
          // (writer.py:690 audit_log(operation="optimize")):
          // inserted = files written, deleted = files compacted away
          cfg.auditTablePath.foreach { p =>
            Audit.append(Audit.log(spark, wc.path, "optimize",
              MergeStats(inserted = os.written, updated = 0,
                deleted = os.compacted)), s"$p/audit_log")
          }
        }
      }
    }

  /** Medallion orchestration (reference `run_medallion` =
    * `_run_bronze` + `_run_silver`, builder/engine.py:162-226): run
    * the bronze ingest, then read the bronze table back, apply the
    * silver transforms (control columns dropped — silver is the
    * business-facing layer), run the silver DQ rules (the reference
    * checks DQ on the transformed frame before the silver write),
    * and write the silver targets. Returns (bronze, silver) frames.
    *
    * Failure semantics (ConfigSpec "medallion DQ failure matrix"):
    * bronze DQ rules ride `bronze.dqRules` inside `run` — a bronze
    * hard-fail gates BEFORE silver ever reads; `silverDqRules` gate
    * after the bronze write but before any silver write. In both
    * layers the DQ result rows land in `dq_results` (stamped with a
    * `layer` column) BEFORE the gate throws, and
    * `bronze.failOnDqViolation` picks soft (log + continue) vs hard
    * (log + throw) for both.
    */
  def runMedallion(spark: SparkSession, bronze: IngestConfig,
                   silverTransforms: Seq[Transform],
                   silverWrites: Seq[WriteConfig],
                   silverDqRules: Seq[graft.dq.DqRule] = Nil,
                   silverRange: Option[RangeFilter] = None)
      : (DataFrame, DataFrame) = {
    require(bronze.writes.nonEmpty, "medallion bronze config needs a write target")
    val bronzeDf = run(spark, bronze)
    // silver reads bronze back through the range predicate when one is
    // configured: on a delta-log bronze the scan is planned from the
    // log's file stats (readRange — untouched files are pruned on the
    // driver before listing); other formats apply the same filter on
    // the full read, so semantics never depend on the format
    val bronzeHead = bronze.writes.head
    val bronzeBack = (bronzeHead.mode, silverRange, bronze.tableFormat) match {
      case ("merge", Some(rf), DeltaLogTableFormat) =>
        DeltaLogTableFormat.readRange(spark, bronzeHead.path,
          rf.column, rf.lo, rf.hi)
      case ("merge", Some(rf), fmt) =>
        import org.apache.spark.sql.functions.{col, lit}
        fmt.read(spark, bronzeHead.path)
          .filter(col(rf.column).between(lit(rf.lo), lit(rf.hi)))
      case ("merge", None, fmt) => fmt.read(spark, bronzeHead.path)
      case (_, rfOpt, _) =>
        import org.apache.spark.sql.functions.{col, lit}
        val base = spark.read.format(bronzeHead.format).load(bronzeHead.path)
        rfOpt.fold(base)(rf =>
          base.filter(col(rf.column).between(lit(rf.lo), lit(rf.hi))))
    }
    val silverDf = Pipeline(silverTransforms)(
      graft.sources.Sources.dropControlColumns(bronzeBack))
    // the silver phase gets its own run_log bracket: a silver DQ
    // hard-fail or merge failure must be recorded, not vanish behind
    // the bronze run's success row
    val startedAt = System.currentTimeMillis()
    val runId = java.util.UUID.randomUUID().toString
    def finishRecord(status: String): Unit = bronze.auditTablePath.foreach { p =>
      Audit.append(Audit.runRecord(spark, s"silver:${bronze.writes.head.path}",
        runId, startedAt, System.currentTimeMillis(), silverWrites.length,
        status), s"$p/run_log")
    }
    recordingFailure(finishRecord) {
      // same DQ pass and write loop as the bronze ingest: silver
      // merges get the identical key validation and audit_log rows
      applyDq(silverDf, silverDqRules, bronze.auditTablePath,
        bronze.failOnDqViolation, layer = "silver",
        mergeKeysOf(bronze, silverWrites))
      writeTargets(spark, bronze, silverDf, silverWrites)
    }
    finishRecord("success")
    (bronzeDf, silverDf)
  }
}
