package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Sources

/** Deployment seam for the transactional-table layer.
  *
  * The reference registers Delta tables in a metastore and leans on
  * `MERGE INTO` + ACID for its upserts (ingest-framework/framework/
  * src/sparkbuilder/writers/writer.py:34-116 Delta upserts,
  * writer.py:122 `_create_external_table_from_df`). Graft's pipeline
  * operators program against THIS trait instead of a concrete
  * format, so a deployment can swap the bundled snapshot-versioned
  * parquet implementation for Delta or Iceberg by providing one
  * object — the merge PLANS (Cdc.scd1MergeTagged/scd2MergeTagged)
  * are format-independent; only commit/read mechanics differ:
  *
  *  - Delta: `read` = `spark.read.format("delta")`, merges via
  *    `DeltaTable.merge`, `vacuum` via `VACUUM`, `readVersion` via
  *    `versionAsOf`.
  *  - Iceberg: reads by table identifier, merges via `MERGE INTO`,
  *    `vacuum` = `expire_snapshots`, `readVersion` via
  *    `snapshot-id`.
  *
  * The bundled [[SnapshotTableFormat]] keeps the engine
  * dependency-free (immutable `v=N` snapshot dirs + an atomically
  * swapped `_CURRENT` pointer).
  */
trait TableFormat {

  /** Does a table exist at `path`? */
  def exists(path: String): Boolean

  /** Read the current table state. */
  def read(spark: SparkSession, path: String): DataFrame

  /** Time travel: read a specific committed version. */
  def readVersion(spark: SparkSession, path: String, version: Int): DataFrame

  /** Committed versions, ascending. */
  def versions(path: String): Seq[Int]

  /** Current committed version, if the table exists. */
  def currentVersion(path: String): Option[Int]

  /** SCD1 upsert (latest row per key wins; optional delete-missing
    * for full extracts). Creates the table on first write.
    */
  def scd1Merge(spark: SparkSession, path: String, updates: DataFrame,
                keys: Seq[String], orderBy: String,
                deleteMissing: Boolean = false,
                compareExclude: Seq[String] = Sources.controlColumns,
                schemaEvolution: Boolean = true): MergeStats

  /** SCD2 merge (history rows with is_current/start/end/delete_time).
    * Creates the table on first write.
    */
  def scd2Merge(spark: SparkSession, path: String, updates: DataFrame,
                keys: Seq[String], orderBy: String,
                deleteMissing: Boolean = false,
                compareExclude: Seq[String] = Sources.controlColumns,
                schemaEvolution: Boolean = true): MergeStats

  /** Keyed hard delete: commit a new version without the rows whose
    * keys appear in `delKeys` (DELETE FROM ... WHERE key IN feed).
    * Deleting an absent key is a no-op, so replays are idempotent —
    * the same contract as the merges. The table must exist.
    */
  def deleteKeys(spark: SparkSession, path: String, delKeys: DataFrame,
                 keys: Seq[String]): MergeStats

  /** SCD1 upsert that also removes the rows whose `keys` appear in
    * `removeKeys`, as ONE commit: the target is filtered by the
    * removals, then merged with `updates` through the same
    * `Cdc.scd1MergeTagged` plan as [[scd1Merge]]. A key in both sets
    * is removed, then upserted. Removing an absent key is a no-op;
    * null-keyed removals never match. Creates the table on first
    * write (the removals then have nothing to remove). `deleted`
    * does not count removed rows: metering them would take a second
    * pass over the target.
    */
  def scd1MergeRemoving(spark: SparkSession, path: String, updates: DataFrame,
                        removeKeys: DataFrame, keys: Seq[String],
                        orderBy: String,
                        compareExclude: Seq[String] = Sources.controlColumns,
                        schemaEvolution: Boolean = true): MergeStats

  /** Drop versions beyond the retention window. Returns dropped
    * version ids.
    */
  def vacuum(path: String, keepVersions: Int = 2): Seq[Int]

  /** Does committed `version` change table DATA, as opposed to a
    * pure file-layout commit (OPTIMIZE)? Streaming consumers use this
    * to skip layout-only versions WITHOUT running a change-diff scan
    * — the rows are identical by construction, and at scale the
    * avoided no-op diff is two full-table scans. Default true: the
    * snapshot format's commits are always rewrites of data state.
    */
  def isDataChange(path: String, version: Int): Boolean = true

  /** The subset of `versions(path)` whose data files are all still
    * present — i.e. the versions a consumer can actually read after
    * vacuum. The default probes each version with a read plan
    * (O(versions) state loads); formats with a cheaper answer
    * override — the streaming consumer calls this once per poll.
    */
  def readableVersions(spark: SparkSession, path: String): Seq[Int] =
    versions(path).filter(v =>
      scala.util.Try(readVersion(spark, path, v)).isSuccess)

  /** Compact small live data files into fewer, larger ones without
    * changing rows — Delta's OPTIMIZE, which the reference runs after
    * every merge (writers/writer.py:280,690 `optimize {target_table}`
    * + audit log). Default: nothing to compact — the snapshot format's
    * commits are whole-table rewrites, so its file layout is already
    * one write's worth. Manifest formats (delta-log) override.
    */
  def optimize(spark: SparkSession, path: String,
               smallFileBytes: Long = 128L << 20): Option[OptimizeStats] = None

  /** A directory whose parquet listing IS the current version's live
    * file set, if the format can name one — the precondition for a
    * plain `CREATE TABLE … USING parquet LOCATION` registration.
    * None when the table doesn't exist or the live set is not a
    * whole directory (e.g. a manifest format after a file-pruned
    * commit left live and removed files interleaved). Default None:
    * a format that doesn't opt in simply can't be registered via the
    * trait default (registerTable fails with its remediation
    * message) — third-party implementors keep compiling, matching
    * the other optional extension points ([[optimize]]).
    */
  def registrableLocation(spark: SparkSession, path: String): Option[String] =
    None

  /** Register the table in the session catalog under `name` so any
    * downstream SQL client can `SELECT … FROM name` — the reference
    * creates an external metastore table after each load
    * (ingest-framework writers/writer.py:122
    * `_create_external_table_from_df`, :142). The registration pins
    * the CURRENT version's physical location; re-register after a
    * merge, exactly as the reference re-creates its external table
    * per load. DROP of the previous registration never deletes data
    * (external table: the catalog holds a pointer, the format owns
    * the files). Works against whatever catalog the session is
    * configured with (in-memory, Hive metastore via
    * `spark.sql.catalogImplementation=hive`) — the SQL is catalog-
    * agnostic. Fails fast with the remediation (compact via
    * [[optimize]], or use the snapshot format) when the current
    * layout is not expressible as one directory.
    */
  def registerTable(spark: SparkSession, path: String, name: String): Unit = {
    val loc = registrableLocation(spark, path).getOrElse(throw
      new IllegalStateException(
        s"table at $path has no directory-registrable current version " +
          "(missing table, or live files interleave with removed ones " +
          "after a pruned commit) — run optimize() to compact, then " +
          "re-register"))
    val qName = TableFormat.quoteIdent(name)
    spark.sql(s"DROP TABLE IF EXISTS $qName")
    spark.sql(s"CREATE TABLE $qName USING parquet " +
      s"LOCATION '${loc.replace("'", "''")}'")
    ()
  }
}

object TableFormat {
  /** Backtick-quote a caller-supplied table name for SQL
    * interpolation (the location string is already escaped; the name
    * was not — a name with spaces or quotes failed or resolved to an
    * unintended identifier). Dotted names quote each part so
    * `db.table` still addresses database `db`.
    */
  def quoteIdent(name: String): String =
    name.split('.').map(p => "`" + p.replace("`", "``") + "`").mkString(".")
}

/** Result of a [[TableFormat.optimize]] compaction commit. */
final case class OptimizeStats(version: Int, compacted: Int, written: Int)

/** The bundled implementation: [[MergeTable]]'s snapshot-versioned
  * parquet with an atomic `_CURRENT` pointer swap.
  */
object SnapshotTableFormat extends TableFormat {
  override def exists(path: String): Boolean = MergeTable.exists(path)

  override def read(spark: SparkSession, path: String): DataFrame =
    MergeTable.read(spark, path)

  override def readVersion(spark: SparkSession, path: String,
                           version: Int): DataFrame =
    MergeTable.readVersion(spark, path, version)

  override def versions(path: String): Seq[Int] = MergeTable.versions(path)

  override def currentVersion(path: String): Option[Int] =
    MergeTable.currentVersion(path)

  override def scd1Merge(spark: SparkSession, path: String, updates: DataFrame,
                         keys: Seq[String], orderBy: String,
                         deleteMissing: Boolean,
                         compareExclude: Seq[String],
                         schemaEvolution: Boolean): MergeStats =
    MergeTable.scd1Merge(spark, path, updates, keys, orderBy, deleteMissing,
      compareExclude, schemaEvolution)

  override def scd1MergeRemoving(spark: SparkSession, path: String,
                                 updates: DataFrame, removeKeys: DataFrame,
                                 keys: Seq[String], orderBy: String,
                                 compareExclude: Seq[String],
                                 schemaEvolution: Boolean): MergeStats =
    MergeTable.scd1Merge(spark, path, updates, keys, orderBy,
      deleteMissing = false, compareExclude, schemaEvolution,
      removeKeys = Some(removeKeys))

  override def scd2Merge(spark: SparkSession, path: String, updates: DataFrame,
                         keys: Seq[String], orderBy: String,
                         deleteMissing: Boolean,
                         compareExclude: Seq[String],
                         schemaEvolution: Boolean): MergeStats =
    MergeTable.scd2Merge(spark, path, updates, keys, orderBy, deleteMissing,
      compareExclude, schemaEvolution)

  override def deleteKeys(spark: SparkSession, path: String,
                          delKeys: DataFrame, keys: Seq[String]): MergeStats =
    MergeTable.deleteKeys(spark, path, delKeys, keys)

  override def vacuum(path: String, keepVersions: Int): Seq[Int] =
    MergeTable.vacuum(path, keepVersions)

  /** Snapshot vacuum deletes whole `v=N` dirs, so every listed
    * version is readable by construction — no probing needed.
    */
  override def readableVersions(spark: SparkSession,
                                path: String): Seq[Int] = versions(path)

  /** A snapshot version IS a directory (`v=N`) — but the trait
    * contract promises a location safe for a BARE `LOCATION`
    * registration, which a partitioned layout is not (the catalog
    * table would read zero rows). Partitioned snapshots return None
    * here; [[registerTable]] below still registers them, with
    * declared partition columns + MSCK.
    */
  override def registrableLocation(spark: SparkSession,
                                   path: String): Option[String] =
    currentVersionDir(path).filter(loc =>
      partitionColumnsOf(java.nio.file.Paths.get(loc)).isEmpty)

  private def currentVersionDir(path: String): Option[String] =
    MergeTable.currentVersion(path).map(v => s"$path/v=$v")

  /** Partition columns, outermost first: `col=value` directory
    * levels under the version dir (written by Spark's partitionBy,
    * so the layout is uniform — one column per level).
    */
  private def partitionColumnsOf(dir: java.nio.file.Path): Vector[String] = {
    def descend(d: java.nio.file.Path, acc: Vector[String]): Vector[String] = {
      val sub = scala.util.Using.resource(java.nio.file.Files.list(d))(
        _.iterator().asScala.toSeq).filter(java.nio.file.Files.isDirectory(_))
        .find(_.getFileName.toString.contains("="))
      sub match {
        case Some(p) =>
          descend(p, acc :+ p.getFileName.toString.takeWhile(_ != '='))
        case None => acc
      }
    }
    descend(dir, Vector.empty)
  }

  /** Partitioned snapshots (pruned merges write real `col=value`
    * dirs, Spark-style: the column lives in the directory name, not
    * the data files) need the partition columns DECLARED and their
    * directories recovered — a bare `LOCATION` catalog table lists
    * only the root and reads zero rows. The declared schema comes
    * from the same partition discovery `MergeTable.read` performs,
    * so the registered table's schema (partition columns last,
    * inferred types) matches the format's own reader exactly;
    * `MSCK REPAIR TABLE` then registers every partition directory.
    */
  override def registerTable(spark: SparkSession, path: String,
                             name: String): Unit = {
    val loc = currentVersionDir(path).getOrElse(throw
      new IllegalStateException(s"no current version at $path to register"))
    val parts = partitionColumnsOf(java.nio.file.Paths.get(loc))
    val escLoc = loc.replace("'", "''")
    val qName = TableFormat.quoteIdent(name)
    spark.sql(s"DROP TABLE IF EXISTS $qName")
    if (parts.isEmpty)
      spark.sql(s"CREATE TABLE $qName USING parquet LOCATION '$escLoc'")
    else {
      val schemaDdl = read(spark, path).schema.toDDL
      val partDdl = parts.map(c => s"`$c`").mkString(", ")
      spark.sql(s"CREATE TABLE $qName ($schemaDdl) USING parquet " +
        s"PARTITIONED BY ($partDdl) LOCATION '$escLoc'")
      spark.sql(s"MSCK REPAIR TABLE $qName")
    }
    ()
  }
}
