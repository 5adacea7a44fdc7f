package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, current_timestamp, lit, sum, when}
import org.apache.spark.sql.types.MapType

import graft.cdc.Cdc
import graft.sources.Sources

final case class MergeStats(inserted: Long, updated: Long, deleted: Long)

/** Snapshot-versioned parquet table with MERGE semantics.
  *
  * Plays the role the reference delegates to Delta Lake MERGE INTO
  * (ingest-framework/framework/src/sparkbuilder/writers/
  * batch_writers.py:59-163): each merge writes a new immutable
  * snapshot directory `v=N` and atomically swaps a `_CURRENT`
  * pointer file, so readers never see partial writes and failed
  * merges leave the previous version intact. On a cluster the same
  * Cdc.scd1MergeTagged/scd2MergeTagged plans back onto Delta/Iceberg
  * copy-on-write; this keeps the engine dependency-free.
  *
  * Scale note: a full-snapshot rewrite per merge is the worst case;
  * partition the table (`partitionBy`) so only partitions containing
  * changed keys rewrite, and rely on AQE to size the shuffle.
  */
object MergeTable {

  /** Version the `_CURRENT` pointer names, if the table exists. */
  def currentVersion(path: String): Option[Int] = {
    val p = Paths.get(path, "_CURRENT")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toInt)
    else None
  }

  def exists(path: String): Boolean = currentVersion(path).isDefined

  def read(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(path).getOrElse(
      throw new IllegalStateException(s"no current version at $path"))
    graft.ParquetRead(spark, s"$path/v=$v")
  }

  /** Time travel: read a specific snapshot version (fails if it has
    * been vacuumed).
    */
  def readVersion(spark: SparkSession, path: String, version: Int): DataFrame = {
    val dir = java.nio.file.Paths.get(path, s"v=$version")
    if (!Files.exists(dir)) throw new IllegalStateException(
      s"version $version does not exist at $path (vacuumed?)")
    graft.ParquetRead(spark, dir.toString)
  }

  /** List snapshot versions present on disk (ascending). */
  def versions(path: String): Seq[Int] = {
    val dir = java.nio.file.Paths.get(path)
    if (!Files.exists(dir)) Nil
    else {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(java.nio.file.Files.list(dir))(
        _.iterator().asScala
          .map(_.getFileName.toString)
          .collect { case s if s.startsWith("v=") => s.drop(2).toInt }
          .toSeq.sorted)
    }
  }

  /** Drop all snapshot versions older than the newest `keepVersions`
    * (the current version is always kept) — the VACUUM every
    * copy-on-write table needs or storage grows with every merge.
    * Returns the versions removed.
    */
  def vacuum(path: String, keepVersions: Int = 2): Seq[Int] = {
    require(keepVersions >= 1, "must keep at least the current version")
    val cur = currentVersion(path).getOrElse(return Nil)
    val all = versions(path)
    val drop = all.filter(_ <= cur).dropRight(keepVersions)
      .filterNot(_ == cur)
    import scala.jdk.CollectionConverters._
    drop.foreach { v =>
      val dir = java.nio.file.Paths.get(path, s"v=$v")
      scala.util.Using.resource(java.nio.file.Files.walk(dir))(
        _.iterator().asScala.toSeq.reverse)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    drop
  }

  /** Write a new snapshot version and atomically swap the pointer. */
  def writeSnapshot(df: DataFrame, path: String,
                    partitionBy: Seq[String] = Nil): Int = {
    val next = currentVersion(path).getOrElse(-1) + 1
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$path/v=$next")
    val tmp = Paths.get(path, "_CURRENT.tmp")
    Files.write(tmp, next.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path, "_CURRENT"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    next
  }

  /** Deterministic "latest" ordering: the order column descending,
    * then EVERY other orderable column descending (sorted by name).
    * The keys are the window's partition columns, so they can never
    * break ties; tiebreaking on row content gives a total order where
    * the only remaining ties are fully identical rows — for which the
    * winner is immaterial. Re-running the same merge always produces
    * the same table, regardless of partitioning.
    */
  private[pipeline] def deterministicOrd(updates: DataFrame, keys: Seq[String],
                                         orderBy: String): Seq[Column] = {
    val tiebreak = updates.schema.fields
      .filterNot(f => f.dataType.isInstanceOf[MapType]) // maps are unorderable
      .map(_.name)
      .filterNot(c => keys.contains(c) || c == orderBy)
      .sorted
    col(orderBy).desc +: tiebreak.map(col(_).desc).toSeq
  }

  private def actionCount(a: String): Column =
    sum(when(col("_action") === a, 1L).otherwise(0L)).as(a)

  /** Run the write with `observe()` metrics: stats come out of the
    * SAME job that writes the snapshot — zero extra passes (the
    * round-1 version ran 3-4 extra join/count jobs per merge, which
    * at 100 TB means 3-4 redundant full scans).
    */
  private def writeTagged(tagged: DataFrame, path: String,
                          dropActions: Seq[String]): MergeStats =
    observedWrite(tagged, dropActions)(out => { writeSnapshot(out, path); () })

  /** Format-independent half of `writeTagged`: meter the tagged
    * frame, strip the tag, and hand the final frame to whatever
    * commit mechanism the table format uses (snapshot dir swap here,
    * log-commit in [[DeltaLogTableFormat]]).
    */
  private[pipeline] def observedWrite(tagged: DataFrame,
                                      dropActions: Seq[String])(
                                      write: DataFrame => Unit): MergeStats = {
    val obs = Observation()
    val observed = tagged.observe(obs,
      actionCount("insert"), actionCount("update"), actionCount("close"),
      actionCount("delete"))
    val out = if (dropActions.isEmpty) observed
      else observed.filter(!col("_action").isin(dropActions: _*))
    write(out.drop("_action"))
    val m = obs.get
    def g(k: String): Long = m.get(k).map(_.asInstanceOf[Long]).getOrElse(0L)
    MergeStats(inserted = g("insert"), updated = g("update") + g("close"),
      deleted = g("delete"))
  }

  /** Tag rows of `target` whose keys appear in `delKeys` as
    * `delete`, everything else `unchanged` — the shared plan of both
    * formats' keyed hard delete. `delKeys` is key-projected and
    * deduplicated so a noisy feed can never fan a target row out;
    * rows with a NULL key never match (standard equi-join null
    * semantics) — a null-keyed tombstone is a feed bug to surface
    * upstream, not a silent mass delete.
    */
  private[pipeline] def deleteTagged(target: DataFrame, delKeys: DataFrame,
                                     keys: Seq[String]): DataFrame = {
    val dk = delKeys.select(keys.map(col): _*).distinct()
      .withColumn("_del", lit(1))
    target.join(dk, keys, "left_outer")
      .withColumn("_action",
        when(col("_del").isNotNull, lit("delete")).otherwise(lit("unchanged")))
      .drop("_del")
  }

  /** Keyed hard delete: commit a new version without the rows whose
    * keys appear in `delKeys` — the DELETE FROM ... WHERE key IN
    * (...) a gold-hop consumer needs when an upstream row stops
    * qualifying (gate flip) or the delete feed reports hard deletes.
    * Deleting an absent key is a no-op (idempotent under replay,
    * like the merges). One anti-join-shaped pass; stats ride the
    * write job's observe() like every merge here.
    */
  def deleteKeys(spark: SparkSession, path: String, delKeys: DataFrame,
                 keys: Seq[String]): MergeStats = {
    require(exists(path), s"no merge table at $path")
    writeTagged(deleteTagged(read(spark, path), delKeys, keys), path,
      dropActions = Seq("delete"))
  }

  /** Widen the target with any columns the updates carry that the
    * table lacks (as nulls on historical rows) — additive schema
    * evolution, the only safe automatic kind. Without this a new
    * upstream column would be silently DROPPED by the merge
    * projection. Removed/renamed source columns still require an
    * explicit migration.
    */
  private[pipeline] def evolveTarget(target: DataFrame, updates: DataFrame,
                                     allow: Boolean): DataFrame =
    if (!allow) target
    else updates.schema.fields
      .filterNot(f => target.columns.contains(f.name))
      .foldLeft(target)((t, f) =>
        t.withColumn(f.name, lit(null).cast(f.dataType)))

  /** SCD1 merge into the table (creates it on first write). Ingest
    * control columns are excluded from change detection so re-running
    * an identical extract is a no-op merge (all rows `unchanged`).
    * New source columns are added to the table automatically
    * (`schemaEvolution`, additive-only).
    */
  def scd1Merge(spark: SparkSession, path: String, updates: DataFrame,
                keys: Seq[String], orderBy: String,
                deleteMissing: Boolean = false,
                compareExclude: Seq[String] = Sources.controlColumns,
                schemaEvolution: Boolean = true): MergeStats = {
    val ord = deterministicOrd(updates, keys, orderBy)
    if (!exists(path)) {
      val obs = Observation()
      val first = Cdc.latestPerKey(updates, keys, ord)
        .observe(obs, count(lit(1)).as("n"))
      writeSnapshot(first, path)
      MergeStats(inserted = obs.get("n").asInstanceOf[Long], updated = 0, deleted = 0)
    } else {
      val target = evolveTarget(read(spark, path), updates, schemaEvolution)
      val tagged = Cdc.scd1MergeTagged(target,
        updates.select(target.columns.map(col).toIndexedSeq: _*),
        keys, ord, deleteMissing, compareExclude, orderGuard = Some(orderBy))
      writeTagged(tagged, path, dropActions = Seq("delete"))
    }
  }

  /** Partition-pruned SCD1 merge: only partitions of `partitionCol`
    * that the updates actually touch are merged and rewritten; every
    * other partition's files are carried into the new snapshot
    * version as straight file copies (the copy-on-write shape Delta/
    * Iceberg implement with manifests — here with version dirs). At
    * 100 TB with date-partitioned tables this turns a full-table
    * rewrite into a rewrite of the hot partitions only.
    *
    * Requires `updates` to carry `partitionCol`. Incremental extracts
    * only: `deleteMissing` needs global key visibility, so full
    * extracts must use the unpruned scd1Merge.
    */
  def scd1MergePruned(spark: SparkSession, path: String, updates: DataFrame,
                      keys: Seq[String], orderBy: String, partitionCol: String,
                      compareExclude: Seq[String] = Sources.controlColumns)
      : MergeStats =
    mergePruned(spark, path, updates, keys, orderBy, partitionCol,
      scdType = 1, compareExclude)

  /** SCD2 form of the pruned merge: affected partitions carry their
    * history rows through the rewrite (scd2MergeTagged keeps them);
    * untouched partitions — current AND history — are file-copied.
    * Requires the partition column to be stable per key (a key that
    * moved partitions would exist in two).
    */
  def scd2MergePruned(spark: SparkSession, path: String, updates: DataFrame,
                      keys: Seq[String], orderBy: String, partitionCol: String,
                      compareExclude: Seq[String] = Sources.controlColumns)
      : MergeStats =
    mergePruned(spark, path, updates, keys, orderBy, partitionCol,
      scdType = 2, compareExclude)

  private def mergePruned(spark: SparkSession, path: String, updates: DataFrame,
                          keys: Seq[String], orderBy: String,
                          partitionCol: String, scdType: Int,
                          compareExclude: Seq[String]): MergeStats = {
    require(updates.columns.contains(partitionCol),
      s"updates must carry partition column $partitionCol")
    val ord = deterministicOrd(updates, keys, orderBy)
    if (!exists(path)) {
      val obs = Observation()
      val base = Cdc.latestPerKey(updates, keys, ord)
      val first = (if (scdType == 2)
        base.withColumn("is_current", lit(1))
          .withColumn("start_time", current_timestamp())
          .withColumn("end_time", lit(null).cast("timestamp"))
          .withColumn("delete_time", lit(null).cast("timestamp"))
      else base).observe(obs, count(lit(1)).as("n"))
      writeSnapshot(first, path, partitionBy = Seq(partitionCol))
      return MergeStats(obs.get("n").asInstanceOf[Long], 0, 0)
    }
    val prevVersion = currentVersion(path).get
    val affected = updates.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    // A null partition value would bypass the isin() pruning filter
    // (its target rows would never merge) AND land in a
    // __HIVE_DEFAULT_PARTITION__ directory the value-based carry
    // logic can't name — reject instead of corrupting silently.
    require(!affected.contains(null),
      s"pruned merge: updates carry null $partitionCol values; " +
        "null partitions cannot be pruned — use the unpruned merge")
    val target = read(spark, path)
    val affectedTarget = target.filter(col(partitionCol).isin(affected: _*))
    val tagged =
      if (scdType == 2)
        Cdc.scd2MergeTagged(affectedTarget, updates, keys, ord, orderBy,
          deleteMissing = false, compareExclude)
      else
        Cdc.scd1MergeTagged(affectedTarget,
          updates.select(affectedTarget.columns.map(col).toIndexedSeq: _*),
          keys, ord, deleteMissing = false, compareExclude,
          orderGuard = Some(orderBy))

    // write ONLY affected partitions, then hard-carry the rest
    val next = prevVersion + 1
    val obs = Observation()
    val observed = tagged.observe(obs,
      actionCount("insert"), actionCount("update"), actionCount("close"),
      actionCount("delete"))
    observed.drop("_action").write.mode("overwrite")
      .partitionBy(partitionCol).parquet(s"$path/v=$next")
    // Carry every previous-version partition directory the merge did
    // NOT rewrite. Affected dirs are identified by DIFFING against
    // what Spark actually wrote into v=next — never by rendering
    // values to directory names ourselves, which breaks the moment
    // Spark URL-escapes a special character or formats a timestamp
    // (the merged output of an affected partition would then be
    // silently duplicated by a carried copy of its old files).
    // Sound because a pruned merge never drops rows (the pruned path
    // has no deleteMissing), so every affected partition appears in
    // v=next.
    import scala.jdk.CollectionConverters._
    // Files.list streams hold a directory handle until closed — a
    // long-lived driver running many pruned merges would otherwise
    // leak one per call (eventual 'too many open files')
    def listDir(dir: java.nio.file.Path): Seq[java.nio.file.Path] =
      scala.util.Using.resource(java.nio.file.Files.list(dir))(
        _.iterator().asScala.toSeq)
    val writtenDirs = listDir(java.nio.file.Paths.get(path, s"v=$next"))
      .map(_.getFileName.toString)
      .filter(_.startsWith(s"$partitionCol=")).toSet
    val prevDir = java.nio.file.Paths.get(path, s"v=$prevVersion")
    // Build the (src, dst) copy list from directory METADATA only
    // (driver-cheap even with 10^5 partitions), then run the byte
    // copies as a DISTRIBUTED job: on an object store each file copy
    // is a remote round-trip, and a driver-side loop over them is the
    // classic hidden serial bottleneck of copy-on-write carries.
    val copies = listDir(prevDir).flatMap { p =>
      val name = p.getFileName.toString
      if (name.startsWith(s"$partitionCol=") && !writtenDirs.contains(name)) {
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(path, s"v=$next", name))
        // data files only: hidden sidecars (.crc etc.) are an artifact
        // of the local checksum FS and are regenerated by the copy
        // scheme-qualify: executors resolve bare paths against
        // fs.defaultFS, which need not be the local FS these
        // java.nio-listed files live on
        listDir(p).filterNot { f =>
          val n = f.getFileName.toString
          n.startsWith(".") || n.startsWith("_")
        }.map(f => (f.toUri,
          java.nio.file.Paths.get(path, s"v=$next", name,
            f.getFileName.toString).toUri))
      } else Nil
    }
    distributedCopy(spark, copies)
    val tmp = java.nio.file.Paths.get(path, "_CURRENT.tmp")
    java.nio.file.Files.write(tmp,
      next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path, "_CURRENT"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val m = obs.get
    def g(k: String): Long = m.get(k).map(_.asInstanceOf[Long]).getOrElse(0L)
    MergeStats(g("insert"), g("update") + g("close"), g("delete"))
  }

  /** Copy files executor-side through the Hadoop FileSystem API (so
    * the same code paths work on HDFS/S3A as on local disk). Copies
    * are independent, so slices = min(#files, defaultParallelism);
    * an empty list short-circuits without scheduling a job.
    *
    * Paths travel as `java.net.URI` OBJECTS and become Hadoop Paths
    * via the URI constructor: a URI rendered `.toString` and reparsed
    * through `new Path(String)` double-escapes any literal `%` in a
    * Spark-escaped partition directory (`bucket=with%3Acolon` →
    * `%253A`), and Hadoop's string constructor never decodes it —
    * the executor-side copy then FileNotFounds.
    */
  private def distributedCopy(spark: SparkSession,
                              copies: Seq[(java.net.URI, java.net.URI)]): Unit = {
    if (copies.isEmpty) return
    val sc = spark.sparkContext
    val conf = new org.apache.spark.util.SerializableConfiguration(
      sc.hadoopConfiguration)
    val slices = math.min(copies.size, sc.defaultParallelism)
    sc.parallelize(copies, slices).foreachPartition { it =>
      val c = conf.value
      it.foreach { case (src, dst) =>
        val srcPath = new org.apache.hadoop.fs.Path(src)
        val dstPath = new org.apache.hadoop.fs.Path(dst)
        val srcFs = srcPath.getFileSystem(c)
        val dstFs = dstPath.getFileSystem(c)
        org.apache.hadoop.fs.FileUtil.copy(srcFs, srcPath, dstFs, dstPath,
          false, true, c)
      }
    }
  }

  /** Replay a multi-file extract in file-modification order
    * (reference `get_base_file_path_list_from_table` +
    * per-file apply, writers/writer.py:158-212,292-297): when one
    * batch spans several CDC extract files, each file's rows must
    * merge in mtime order or an older file could win inside the
    * batch. The loop is over FILES (driver-side, tiny); each merge is
    * a full distributed plan. Requires the Sources control columns
    * (`file_path`, `file_modification_time`).
    *
    * `deleteMissing` (full-extract semantics) is applied ONCE at the
    * end against the union of ALL files' keys — never per file:
    * per-file deletes would successively drop every key present only
    * in earlier files, leaving roughly the last file's keys. The
    * final element of the returned stats is the delete phase.
    */
  def mergeOrderedByFile(spark: SparkSession, path: String, updates: DataFrame,
                         keys: Seq[String], orderBy: String, scdType: Int = 1,
                         deleteMissing: Boolean = false): Seq[MergeStats] = {
    val files = updates.select(col("file_path"), col("file_modification_time"))
      .distinct()
      .orderBy(col("file_modification_time").asc, col("file_path").asc)
      .collect().map(_.getString(0))
    val upserts = files.toSeq.map { f =>
      val part = updates.filter(col("file_path") === f)
      if (scdType == 2)
        scd2Merge(spark, path, part, keys, orderBy, deleteMissing = false)
      else
        scd1Merge(spark, path, part, keys, orderBy, deleteMissing = false)
    }
    if (!deleteMissing) upserts
    else upserts :+ deleteKeysMissingFrom(spark, path, updates, keys, scdType)
  }

  /** Delete-phase of a full extract: drop (SCD1) or soft-delete
    * (SCD2) every target key absent from `present`. One left join on
    * the distinct source keys; stats from the same writing job.
    */
  private def deleteKeysMissingFrom(spark: SparkSession, path: String,
                                    present: DataFrame, keys: Seq[String],
                                    scdType: Int): MergeStats = {
    val presentKeys = present.select(keys.map(col): _*).distinct()
      .withColumn("_present", lit(1))
    val target = read(spark, path)
    val joined = target.join(presentKeys, keys, "left")
    val tagged =
      if (scdType == 2) {
        val isDel = col("_present").isNull && col("is_current") === 1
        val now = current_timestamp()
        joined
          .withColumn("_action", when(isDel, "delete").otherwise("keep"))
          .withColumn("is_current", when(isDel, lit(0)).otherwise(col("is_current")))
          .withColumn("end_time", when(isDel, now).otherwise(col("end_time")))
          .withColumn("delete_time", when(isDel, now).otherwise(col("delete_time")))
          .drop("_present")
      } else
        joined
          .withColumn("_action",
            when(col("_present").isNull, "delete").otherwise("keep"))
          .drop("_present")
    writeTagged(tagged, path,
      dropActions = if (scdType == 2) Nil else Seq("delete"))
  }

  /** SCD2 merge into the table (creates it with history columns). */
  def scd2Merge(spark: SparkSession, path: String, updates: DataFrame,
                keys: Seq[String], orderBy: String,
                deleteMissing: Boolean = false,
                compareExclude: Seq[String] = Sources.controlColumns,
                schemaEvolution: Boolean = true): MergeStats = {
    val ord = deterministicOrd(updates, keys, orderBy)
    if (!exists(path)) {
      val obs = Observation()
      val first = Cdc.latestPerKey(updates, keys, ord)
        .withColumn("is_current", lit(1))
        .withColumn("start_time", current_timestamp())
        .withColumn("end_time", lit(null).cast("timestamp"))
        .withColumn("delete_time", lit(null).cast("timestamp"))
        .observe(obs, count(lit(1)).as("n"))
      writeSnapshot(first, path)
      MergeStats(inserted = obs.get("n").asInstanceOf[Long], updated = 0, deleted = 0)
    } else {
      val target = evolveTarget(read(spark, path), updates, schemaEvolution)
      val tagged = Cdc.scd2MergeTagged(target, updates, keys, ord, orderBy,
        deleteMissing, compareExclude)
      writeTagged(tagged, path, dropActions = Nil)
    }
  }
}
