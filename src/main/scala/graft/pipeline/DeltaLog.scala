package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.cdc.Cdc
import graft.sources.Sources

/** [[TableFormat]] backed by a minimal implementation of the OPEN
  * Delta Lake transaction-log protocol (the published PROTOCOL.md of
  * delta-io/delta; no Delta library involved): data lives in plain
  * parquet files, and table state is the replay of newline-delimited
  * JSON action files `_delta_log/<20-digit version>.json` — each
  * commit lists `add`/`remove` file actions, version 0 additionally
  * carries `protocol` and `metaData` (schema, partition columns),
  * and later commits re-emit `metaData` when the schema evolves.
  *
  * Commit atomicity is the protocol's: a commit exists iff its
  * version file exists, and the version file appears atomically
  * (write-temp + atomic move with no overwrite). Two writers racing
  * the same version → exactly one wins, the loser gets
  * FileAlreadyExistsException and must re-read state and retry —
  * optimistic concurrency, the same contract real Delta implements
  * over object stores.
  *
  * Merges reuse the exact same tagged merge PLANS as the snapshot
  * format (Cdc.scd1MergeTagged/scd2MergeTagged via
  * MergeTable.observedWrite) — only the commit mechanics differ.
  * Every merge here is a full-rewrite commit (adds the complete new
  * state, removes every previous live file): the copy-on-write worst
  * case, same as MergeTable.writeSnapshot. A partition-pruned
  * variant would emit add/remove for touched partitions only — the
  * protocol supports it (that is precisely what manifests are for);
  * the bundled pruned path lives in MergeTable.scd1MergePruned.
  *
  * Parquet checkpoints (`<v>.checkpoint.parquet` + `_last_checkpoint`)
  * are written every [[checkpointInterval]] commits so state load is
  * O(checkpoint + JSON tail), not O(all commits). Divergence from the
  * full protocol, documented: the JSON log is never truncated —
  * `vacuum` deletes unreferenced DATA files but keeps every commit's
  * JSON (tiny, it doubles as an audit trail, and it serves time
  * travel to versions older than the checkpoint). Real Delta
  * truncates the log after checkpointing; a reader sees identical
  * state either way.
  */
// checkpoint row shape: one action per row, exactly one of the struct
// columns non-null — the protocol's checkpoint schema, restricted to
// the actions this implementation emits. Top-level (not nested in the
// object) because Spark's encoder codegen cannot instantiate
// object-nested case classes and would fall back to interpreted mode.
private[pipeline] case class CpAdd(path: String,
                                   partitionValues: Map[String, String],
                                   size: Long, stats: Option[String])
private[pipeline] case class CpMeta(id: String, schemaString: String)
private[pipeline] case class CpProtocol(minReaderVersion: Int,
                                        minWriterVersion: Int)
private[pipeline] case class CpRow(ord: Long, add: Option[CpAdd],
                                   metaData: Option[CpMeta],
                                   protocol: Option[CpProtocol])

/** A delta-log write gave up after losing the version race
  * `maxAttempts` times in a row — genuine sustained contention, not a
  * transient collision (those are retried internally).
  */
final class ConcurrentWriteException(what: String, cause: Throwable)
  extends RuntimeException(
    s"$what lost the commit race repeatedly — sustained concurrent " +
      "writers on this table; serialize them or shard the table", cause)

object DeltaLogTableFormat extends TableFormat {

  private val mapper = new ObjectMapper()

  private def logDir(path: String): Path = Paths.get(path, "_delta_log")

  private def logFile(path: String, v: Int): Path =
    logDir(path).resolve(f"$v%020d.json")

  override def versions(path: String): Seq[Int] = {
    val d = logDir(path)
    if (!Files.isDirectory(d)) Nil
    else scala.util.Using.resource(Files.list(d))(
      _.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.matches("\\d{20}\\.json") =>
          s.stripSuffix(".json").toInt }
        .toSeq.sorted)
  }

  override def currentVersion(path: String): Option[Int] =
    versions(path).lastOption

  override def exists(path: String): Boolean = currentVersion(path).isDefined

  /** A live file's log-recorded metadata. `stats` is the protocol's
    * per-file JSON stats string (numRecords/minValues/maxValues/
    * nullCount) when the writer recorded one.
    */
  private case class FileEntry(pv: Map[String, String], size: Long,
                               stats: Option[String] = None)

  /** Replayed table state at a version: live files (in add order,
    * each with its recorded partitionValues and size) plus the
    * last-seen metaData (table id, schema json).
    */
  private case class State(liveMap: mutable.LinkedHashMap[String, FileEntry],
                           var tableId: Option[String],
                           var schemaJson: Option[String]) {
    def live: Seq[String] = liveMap.keys.toSeq
  }

  private def emptyState = State(mutable.LinkedHashMap.empty, None, None)

  /** Pure-JSON replay from version 0 — always correct (the log is
    * never truncated) but O(commits); Spark-having call sites go
    * through [[replayState]], which starts from the latest parquet
    * checkpoint instead.
    */
  private def replay(path: String, upTo: Int): State =
    applyLog(emptyState, path, from = 0, upTo = upTo)

  /** Apply the JSON commits in [from, upTo] to `st`, mutating it. */
  private def applyLog(st: State, path: String, from: Int, upTo: Int): State = {
    versions(path).filter(v => v >= from && v <= upTo)
      .foreach(applyOneVersion(st, path, _))
    st
  }

  /** Apply one commit's JSON action file to `st`, mutating it.
    * A corrupt commit makes every LATER state unknowable — skipping
    * it would silently reconstruct wrong data — so the parse error
    * surfaces as the canonical unreadable-version failure (a
    * checkpoint at or past the corrupt version skips the replay and
    * keeps the table readable; see replayState).
    */
  private def applyOneVersion(st: State, path: String, v: Int): Unit =
    Files.readAllLines(logFile(path, v), StandardCharsets.UTF_8)
      .asScala.filter(_.nonEmpty).foreach { line =>
        val node =
          try mapper.readTree(line)
          catch {
            case scala.util.control.NonFatal(e) =>
              throw new IllegalStateException(
                s"corrupt commit JSON at $path version $v — state at " +
                  s"this and later versions is unreconstructible " +
                  s"without a covering checkpoint", e)
          }
        if (node.has("add")) {
          val add = node.get("add")
          val pv = Option(add.get("partitionValues"))
            .map(n => n.fieldNames().asScala
              .map(k => k -> n.get(k).asText()).toMap)
            .getOrElse(Map.empty[String, String])
          val size = Option(add.get("size")).map(_.asLong()).getOrElse(0L)
          val stats = Option(add.get("stats")).map(_.asText()).filter(_.nonEmpty)
          st.liveMap += add.get("path").asText() -> FileEntry(pv, size, stats)
        }
        if (node.has("remove"))
          st.liveMap -= node.get("remove").get("path").asText()
        if (node.has("metaData")) {
          st.tableId = Some(node.get("metaData").get("id").asText())
          st.schemaJson = Some(node.get("metaData").get("schemaString").asText())
        }
      }

  // ---- parquet checkpoints -------------------------------------------
  //
  // Every `checkpointInterval` commits the writer also materializes the
  // replayed state as `_delta_log/<v>.checkpoint.parquet` and advances
  // the `_last_checkpoint` pointer — the protocol's own mechanism for
  // making state load O(checkpoint + tail) instead of O(all commits).
  // At 100 TB a hot table accumulates tens of thousands of commits;
  // without checkpoints every merge and read re-parses the full JSON
  // history on the driver. The JSON log is still never truncated (it
  // doubles as the audit trail and serves time travel to versions
  // older than the checkpoint), so the checkpoint is purely an
  // accelerator: if it is missing or unreadable, replay falls back to
  // JSON-from-0 and nothing is lost.

  /** Commits between parquet checkpoints (the protocol's default). */
  private[graft] val checkpointInterval = 10

  private def checkpointFile(path: String, v: Int): Path =
    logDir(path).resolve(f"$v%020d.checkpoint.parquet")

  /** Latest usable checkpoint version: the `_last_checkpoint` pointer,
    * verified against the parquet file actually existing. A missing,
    * empty, truncated, or otherwise unparseable pointer — like a
    * manually deleted checkpoint parquet — degrades to JSON replay,
    * never an error: the checkpoint is an accelerator, and the intact
    * JSON log can always serve the read.
    */
  private[graft] def lastCheckpoint(path: String): Option[Int] = {
    val p = logDir(path).resolve("_last_checkpoint")
    if (!Files.exists(p)) None
    else scala.util.Try(
        mapper.readTree(Files.readAllBytes(p)).get("version").asInt())
      .toOption
      .filter(v => Files.exists(checkpointFile(path, v)))
  }

  /** Materialize the current version's replayed state as a parquet
    * checkpoint and advance `_last_checkpoint`. Returns the
    * checkpointed version. Idempotent; safe to call at any time.
    */
  private[graft] def checkpointNow(spark: SparkSession, path: String): Int = {
    val v = currentVersion(path).getOrElse(
      throw new IllegalStateException(s"no delta log at $path"))
    val st = replayState(spark, path, v)
    import spark.implicits._
    val rows: Seq[CpRow] =
      CpRow(0L, None, None, Some(CpProtocol(1, 2))) +:
      CpRow(1L, None,
        Some(CpMeta(st.tableId.getOrElse(""), st.schemaJson.getOrElse(""))),
        None) +:
      st.liveMap.toSeq.zipWithIndex.map { case ((p, fe), i) =>
        CpRow(i + 2L, Some(CpAdd(p, fe.pv, fe.size, fe.stats)), None, None)
      }
    // write through a dot-prefixed temp dir inside _delta_log (the
    // versions() regex and vacuum walks never match it), then move the
    // single part file into place; the pointer advances only after the
    // parquet is complete, so a crash mid-checkpoint leaves the old
    // pointer valid
    val tmpDir = logDir(path).resolve(
      s".cp-$v-${java.util.UUID.randomUUID().toString.take(8)}")
    spark.createDataset(rows).coalesce(1)
      .write.mode("overwrite").parquet(tmpDir.toString)
    val part = scala.util.Using.resource(Files.list(tmpDir))(
      _.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"checkpoint write produced no parquet under $tmpDir")))
    Files.move(part, checkpointFile(path, v),
      StandardCopyOption.REPLACE_EXISTING)
    scala.util.Using.resource(Files.walk(tmpDir))(
      _.iterator().asScala.toSeq.reverse).foreach(Files.deleteIfExists(_))
    val ptr = mapper.createObjectNode()
    ptr.put("version", v)
    ptr.put("size", rows.size)
    val tmp = logDir(path).resolve(
      s"._last_checkpoint-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp, mapper.writeValueAsString(ptr)
      .getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, logDir(path).resolve("_last_checkpoint"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    cleanupCheckpointArtifacts(path)
    v
  }

  /** Reclaim checkpoint debris that neither `vacuum` (log-walking,
    * checkpoints are in no log entry) nor `vacuumOrphans` (table-root
    * `files-*` dirs only) ever touches: superseded
    * `<v>.checkpoint.parquet` files beyond the newest two, and
    * crash-leaked `.cp-*` temp dirs / `._last_checkpoint-*.tmp` files.
    * Without this a crash between writing a `.cp-*` temp dir and its
    * cleanup leaks a full table-state copy under `_delta_log` forever,
    * and superseded checkpoints accumulate unboundedly on hot tables.
    *
    * The newest TWO checkpoints are kept (not one): a reader that
    * loaded the `_last_checkpoint` pointer just before it advanced may
    * still be opening the previous checkpoint. Temp artifacts are only
    * removed past `olderThanMs` so an in-flight checkpointer's
    * not-yet-moved temp dir is never deleted from under it — the same
    * retention-threshold defense [[vacuumOrphans]] uses.
    */
  private[graft] def cleanupCheckpointArtifacts(
      path: String, olderThanMs: Long = 3600L * 1000): Unit = {
    val d = logDir(path)
    if (!Files.isDirectory(d)) return
    val entries = scala.util.Using.resource(Files.list(d))(
      _.iterator().asScala.toSeq)
    val cpVersions = entries.map(_.getFileName.toString)
      .collect { case n if n.matches("\\d{20}\\.checkpoint\\.parquet") =>
        n.stripSuffix(".checkpoint.parquet").toInt }.sorted
    val keep = cpVersions.takeRight(2).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    entries.foreach { f =>
      val n = f.getFileName.toString
      val superseded =
        n.matches("\\d{20}\\.checkpoint\\.parquet") &&
          !keep.contains(n.stripSuffix(".checkpoint.parquet").toInt)
      val staleTmp =
        (n.startsWith(".cp-") || n.matches("\\._last_checkpoint-.*\\.tmp")) &&
          (try Files.getLastModifiedTime(f).toMillis < cutoff
           catch { case _: java.io.IOException => false })
      if (superseded || staleTmp) {
        if (Files.isDirectory(f))
          scala.util.Using.resource(Files.walk(f))(
            _.iterator().asScala.toSeq.reverse).foreach(Files.deleteIfExists(_))
        else Files.deleteIfExists(f)
      }
    }
  }

  /** Checkpoint-aware state load: start from the newest checkpoint at
    * or below `upTo` and apply only the JSON tail, falling back to
    * full JSON replay when no checkpoint qualifies (cold tables, or
    * time travel to versions older than the checkpoint).
    */
  private def replayState(spark: SparkSession, path: String,
                          upTo: Int): State =
    lastCheckpoint(path).filter(_ <= upTo) match {
      case Some(cp) =>
        // a corrupt/unreadable checkpoint parquet falls back to full
        // JSON replay — same degrade-not-fail contract as a corrupt
        // pointer (the JSON log is never truncated, so nothing is lost)
        val fromCheckpoint = scala.util.Try {
          val st = emptyState
          // the checkpoint's schema is CpRow's by construction: read
          // with it rather than start an inference job per state load
          spark.read.schema(Encoders.product[CpRow].schema)
            .parquet(checkpointFile(path, cp).toString)
            .orderBy("ord").collect().foreach { r =>
              val addIdx = r.fieldIndex("add")
              if (!r.isNullAt(addIdx)) {
                val a = r.getStruct(addIdx)
                st.liveMap += a.getAs[String]("path") -> FileEntry(
                  a.getAs[Map[String, String]]("partitionValues"),
                  a.getAs[Long]("size"),
                  Option(a.getAs[String]("stats")))
              }
              val mdIdx = r.fieldIndex("metaData")
              if (!r.isNullAt(mdIdx)) {
                val m = r.getStruct(mdIdx)
                st.tableId = Some(m.getAs[String]("id")).filter(_.nonEmpty)
                st.schemaJson =
                  Some(m.getAs[String]("schemaString")).filter(_.nonEmpty)
              }
            }
          st
        }
        fromCheckpoint match {
          case scala.util.Success(st) =>
            applyLog(st, path, from = cp + 1, upTo = upTo)
          case scala.util.Failure(e) =>
            System.err.println(
              s"delta-log checkpoint at $path v$cp unreadable, falling " +
                s"back to JSON replay: $e")
            replay(path, upTo)
        }
      case None => replay(path, upTo)
    }

  override def read(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path, currentVersion(path).getOrElse(
      throw new IllegalStateException(s"no delta log at $path")))

  override def readVersion(spark: SparkSession, path: String,
                           version: Int): DataFrame = {
    if (!Files.exists(logFile(path, version)))
      throw new IllegalStateException(
        s"version $version does not exist at $path")
    val st = replayState(spark, path, version)
    val missing = st.live.filterNot(f => Files.exists(Paths.get(path, f)))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"version $version at $path references vacuumed files: " +
        missing.take(3).mkString(", "))
    val schema = st.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
    if (st.live.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        schema.getOrElse(new StructType()))
    else
      // read with the log-recorded schema, not footer inference: after
      // additive evolution a pruned merge leaves pre-evolution files
      // live, and inferring from one of THOSE would drop the new
      // columns from every row of the scan
      schema.fold(spark.read)(spark.read.schema(_))
        .parquet(st.live.map(f => s"$path/$f"): _*)
  }

  /** One pass over the whole log instead of one state replay per
    * version: walk the commits in order, check each ADDED file's
    * existence exactly once, and keep a running set of missing-but-
    * live files — a version is readable iff that set is empty when
    * its commit has been applied. A lagging consumer probing N
    * pending versions pays O(log actions) filesystem stats total,
    * not O(N) full state loads.
    */
  override def readableVersions(spark: SparkSession,
                                path: String): Seq[Int] = {
    val missingLive = mutable.Set.empty[String]
    var poisoned = false
    versions(path).filter { v =>
      // a corrupt/unparseable commit makes the live set unknowable
      // from there on: mark it and every later version unreadable
      // (the old per-version read probe skipped them the same way)
      // instead of crashing the consumer's poll
      try {
        Files.readAllLines(logFile(path, v), StandardCharsets.UTF_8)
          .asScala.filter(_.nonEmpty).foreach { line =>
            val n = mapper.readTree(line)
            if (n.has("add")) {
              val p = n.get("add").get("path").asText()
              if (!Files.exists(Paths.get(path, p))) missingLive += p
              else missingLive -= p
            }
            if (n.has("remove"))
              missingLive -= n.get("remove").get("path").asText()
          }
      } catch { case scala.util.control.NonFatal(_) => poisoned = true }
      !poisoned && missingLive.isEmpty
    }
  }

  /** Registrable iff the current live set is exactly the parquet
    * listing of ONE commit subdir: true after any full-rewrite merge
    * (every scd1/scd2 merge here — one `files-<v>-<uuid>` dir),
    * false once a pruned commit (deleteKeysPruned, optimize over a
    * partial window) interleaves live files across subdirs or leaves
    * removed-but-unvacuumed files next to live ones — a plain
    * `LOCATION` scan would read those stale rows, so refuse instead.
    * Partitioned layouts also refuse: the physical `__pv<i>=` dirs
    * would partition-discover as phantom columns on a raw parquet
    * read (the format's own reader recovers the real columns from
    * the data files).
    */
  override def registrableLocation(spark: SparkSession,
                                   path: String): Option[String] = {
    val live = currentVersion(path)
      .map(v => replayState(spark, path, v).live).getOrElse(Nil)
    val partitioned = live.exists(_.split('/').drop(1).exists(_.contains("=")))
    if (partitioned) None else wholeSubdirLive(path, live)
  }

  /** The current live set's single commit subdir, if the live files
    * are exactly one subdir's complete parquet listing — the
    * precondition for registering that directory without reading
    * stale rows. Partition-layout-agnostic: [[registrableLocation]]
    * additionally refuses partitioned layouts (bare-LOCATION
    * contract), while [[registerTable]] accepts them here via
    * recursiveFileLookup.
    */
  private def wholeSubdirLive(path: String,
                              live: Seq[String]): Option[String] = {
    val tops = live.map(_.takeWhile(_ != '/')).distinct
    if (live.isEmpty || tops.size != 1) None
    else {
      val top = Paths.get(path, tops.head)
      // a subdir removed out-of-band (manual cleanup, partial
      // restore) means "not registrable", not an escaping IO
      // exception — the caller's remediation message must surface
      val onDisk = scala.util.Try(
        scala.util.Using.resource(Files.walk(top))(
          _.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(f => s"${tops.head}/${top.relativize(f)}").toSet))
        .getOrElse(Set.empty[String])
      if (onDisk.nonEmpty && onDisk == live.toSet)
        Some(s"$path/${tops.head}")
      else None
    }
  }

  /** Net (added, removed) live-file sets over the window (fromV, toV]
    * from the log's add/remove actions — the accounting both feed
    * variants share. None when any commit in the window is unreadable
    * or unparseable: the window's accounting is then unknown, and the
    * feed callers degrade (full-snapshot delivery) exactly as they do
    * for a vacuumed file. Scope of that no-crash contract: the
    * FILE-ACCOUNTING layer only. When a corrupt commit poisons state
    * reconstruction itself (corrupt at or before `toV`, no covering
    * checkpoint), no route can deliver correct rows and the callers
    * fail with applyOneVersion's canonical error — loud, by design.
    */
  private def windowFileDiff(path: String, fromV: Int,
                             toV: Int): Option[(Seq[String], Seq[String])] = {
    val added = mutable.LinkedHashSet.empty[String]
    val removed = mutable.LinkedHashSet.empty[String]
    val parsed = versions(path).filter(v => v > fromV && v <= toV).forall {
      v =>
        scala.util.Try {
          Files.readAllLines(logFile(path, v), StandardCharsets.UTF_8)
            .asScala.filter(_.nonEmpty).foreach { line =>
              val n = mapper.readTree(line)
              if (n.has("add")) {
                val p = n.get("add").get("path").asText()
                // re-adding a path removed earlier in the window
                // restores a file live at fromV — net zero, drop from
                // both sets
                if (removed.contains(p)) removed -= p else added += p
              }
              if (n.has("remove")) {
                val p = n.get("remove").get("path").asText()
                if (added.contains(p)) added -= p else removed += p
              }
            }
        }.isSuccess
    }
    if (parsed) Some((added.toSeq, removed.toSeq)) else None
  }

  /** Read `fs` with the given log-recorded schema (empty frame with
    * that schema for an empty list).
    */
  private def readFileSet(spark: SparkSession, path: String,
                          schema: Option[StructType],
                          fs: Seq[String]): DataFrame =
    if (fs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        schema.getOrElse(new StructType()))
    else
      schema.fold(spark.read)(spark.read.schema(_))
        .parquet(fs.map(f => s"$path/$f"): _*)

  /** Schema at `upTo` — one state replay, shared by both feed sides
    * and by consumers that need the schema WITHOUT planning a scan
    * over the version's full file list.
    */
  private[graft] def schemaAt(spark: SparkSession, path: String,
                              upTo: Int): Option[StructType] =
    replayState(spark, path, upTo).schemaJson
      .map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Change rows of the window (fromV, toV], computed from the log's
    * file accounting instead of diffing two full snapshots: with
    * A = files live at toV but not at fromV and R = files live at
    * fromV but not at toV, the to-state is (from − R) + A file-wise,
    * so `to.exceptAll(from)` ≡ `rows(A).exceptAll(rows(R))` EXACTLY
    * (untouched files contribute equally to both sides of the full
    * diff and cancel; the per-row multiset algebra is
    * max(0, a−r) either way). After a one-partition pruned merge A
    * and R are just that partition's files — the gold hop reads only
    * touched bytes, the same reliance the reference places on Delta's
    * change feed (readers/streaming_readers.py:14-19). OPTIMIZE
    * commits inside the window add their rewrites to both A and R,
    * which cancel — correct, merely not free.
    *
    * Both sides read with toV's log-recorded schema (columns added by
    * in-window evolution surface as null on pre-evolution R files —
    * the same null-fill the full-snapshot diff aligns to). Returns
    * None when any needed file has been vacuumed (the caller falls
    * back to full-snapshot delivery) — and the caller must also fall
    * back for map-typed schemas, which exceptAll rejects.
    */
  private[graft] def fileChanges(spark: SparkSession, path: String,
                                 fromV: Int, toV: Int): Option[DataFrame] =
    windowFileDiff(path, fromV, toV).flatMap { case (added, removed) =>
      if ((added.iterator ++ removed.iterator)
            .exists(f => !Files.exists(Paths.get(path, f)))) None
      else
        // a schema replay poisoned by a corrupt pre-window commit
        // degrades this helper to None — the caller's generic path
        // then raises the canonical error (or succeeds off a
        // checkpoint), instead of a parse stack from the fast path
        scala.util.Try(schemaAt(spark, path, toV)).toOption.map { schema =>
          readFileSet(spark, path, schema, added)
            .exceptAll(readFileSet(spark, path, schema, removed))
        }
    }

  /** Delete feed from the same file accounting: keys with rows in
    * removed files and none in added files were dropped in the window
    * (`keys(R) anti-join keys(A)`). Exact under the pruned-merge
    * contracts the tables are built with — one live row per key
    * (SCD1) and a key never moves partitions — because any surviving
    * row of a rewritten key must land in an added file. Returns None
    * when a needed file was vacuumed (caller falls back to the
    * full-version diff).
    */
  private[graft] def fileDeletedKeys(spark: SparkSession, path: String,
                                     fromV: Int, toV: Int,
                                     keys: Seq[String]): Option[DataFrame] =
    windowFileDiff(path, fromV, toV).flatMap { case (added, removed) =>
      if ((added.iterator ++ removed.iterator)
            .exists(f => !Files.exists(Paths.get(path, f)))) None
      else
        // same degrade as fileChanges: schema-replay failure -> None
        scala.util.Try(schemaAt(spark, path, toV)).toOption.map { schema =>
          val a = readFileSet(spark, path, schema, added)
            .select(keys.map(col): _*).distinct()
          val r = readFileSet(spark, path, schema, removed)
            .select(keys.map(col): _*).distinct()
          r.join(a, keys, "left_anti")
        }
    }

  /** A version is a data change iff any of its add/remove actions
    * says so — OPTIMIZE commits write `dataChange: false` on every
    * action, exactly so consumers can tell rows-changed from
    * layout-changed without diffing.
    */
  override def isDataChange(path: String, version: Int): Boolean = {
    val f = logFile(path, version)
    if (!Files.exists(f)) return true // unknown -> safe: let the consumer look
    Files.readAllLines(f, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map(mapper.readTree).exists { n =>
        Seq("add", "remove").exists(k => n.has(k) &&
          Option(n.get(k).get("dataChange")).forall(_.asBoolean()))
      }
  }

  /** Data-skipping scan: read only the live files whose log-recorded
    * stats admit rows with `column` in `[lo, hi]` (inclusive), then
    * apply the exact filter on top — semantically identical to
    * `read(...).filter(col between lo and hi)` but the pruning
    * happens on the DRIVER from the transaction log, before a single
    * data file is listed or opened. At 100 TB this is the difference
    * between planning a scan over every file and planning one over
    * the handful a selective predicate touches; partition-homogeneous
    * files (the `__pv` write layout keeps the partition column in the
    * data) carry min == max for the partition column, so partition
    * pruning falls out of the same stats path. Files with no recorded
    * stats for `column` are always read — omission can only cost
    * speed, never rows.
    */
  def readRange(spark: SparkSession, path: String, column: String,
                lo: Any, hi: Any): DataFrame = {
    val head = currentVersion(path).getOrElse(
      throw new IllegalStateException(s"no delta log at $path"))
    val st = replayState(spark, path, head)
    val selected = st.liveMap.toSeq.collect {
      case (f, fe) if statsAdmit(fe.stats, column, lo, hi) => f
    }
    val schema = st.schemaJson.map(DataType.fromJson(_).asInstanceOf[StructType])
    val base =
      if (selected.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          schema.getOrElse(new StructType()))
      else
        schema.fold(spark.read)(spark.read.schema(_))
          .parquet(selected.map(f => s"$path/$f"): _*)
    base.filter(col(column).between(lit(lo), lit(hi)))
  }

  /** Stats-pruned point lookup — see [[readRange]]. */
  def readEqual(spark: SparkSession, path: String, column: String,
                value: Any): DataFrame =
    readRange(spark, path, column, value, value)

  /** Can a file whose stats are `statsJson` contain a row with
    * `column` in [lo, hi]? Errs on true: missing stats, missing
    * column, unparseable JSON, or incomparable types all admit.
    * The one definite exclusion besides a disjoint range is an
    * all-null column (nullCount == numRecords): a between-filter can
    * never match a null.
    */
  private def statsAdmit(statsJson: Option[String], column: String,
                         lo: Any, hi: Any): Boolean =
    statsJson.forall { s =>
      try statsAdmitParsed(mapper.readTree(s), column, lo, hi)
      catch { case scala.util.control.NonFatal(_) => true }
    }

  /** [[statsAdmit]] over a PRE-PARSED stats node — the shape for
    * callers that test one file against many bounds (the pruned
    * delete's key feed): parse once per file, compare cheaply per
    * bound, instead of a JSON parse per (file, bound) pair.
    */
  private def statsAdmitParsed(n: com.fasterxml.jackson.databind.JsonNode,
                               column: String, lo: Any, hi: Any): Boolean =
    try {
        def field(obj: String) =
          Option(n.get(obj)).flatMap(o => Option(o.get(column)))
        (field("minValues"), field("maxValues")) match {
          case (Some(mn), Some(mx)) =>
            // String bounds are only trusted from statsVersion >= 2:
            // earlier stats could carry wrong-ORDER string min/max
            // (signed cross-row-group merge, see FooterStats), and a
            // wrong bound prunes silently — admit instead. Numeric
            // orders were never affected, so those still prune.
            val stringBound = lo.isInstanceOf[String] || hi.isInstanceOf[String]
            val ver = Option(n.get("statsVersion")).map(_.asInt()).getOrElse(1)
            if (stringBound && ver < 2) true
            else !cmp(mx, lo).exists(_ < 0) && !cmp(mn, hi).exists(_ > 0)
          case _ =>
            val allNull = (field("nullCount"), Option(n.get("numRecords"))) match {
              case (Some(nc), Some(nr)) =>
                nc.isNumber && nr.isNumber && nc.asLong() == nr.asLong()
              case _ => false
            }
            !allNull
        }
      } catch { case scala.util.control.NonFatal(_) => true }

  /** Compare a stats JSON node with a predicate bound; None when the
    * pair is not confidently comparable (then the file is admitted).
    */
  private def cmp(node: com.fasterxml.jackson.databind.JsonNode,
                  bound: Any): Option[Int] = (node, bound) match {
    // integral-vs-integral compares as long: a double round-trip
    // loses precision above 2^53 and could wrongly exclude a file
    case (n, b: java.lang.Long) if n.isIntegralNumber =>
      Some(java.lang.Long.compare(n.asLong(), b.longValue()))
    case (n, b: java.lang.Integer) if n.isIntegralNumber =>
      Some(java.lang.Long.compare(n.asLong(), b.longValue()))
    case (n, b: Number) if n.isNumber =>
      Some(java.lang.Double.compare(n.asDouble(), b.doubleValue()))
    // parquet selects string min/max in unsigned UTF-8 byte order
    // (= code-point order); String.compareTo is UTF-16 code-unit
    // order, and the two disagree around supplementary characters vs
    // U+E000..U+FFFF — a mismatched comparator here would wrongly
    // exclude files whose rows DO match. Compare the bound the same
    // way the stats were selected.
    case (n, b: String) if n.isTextual =>
      Some(java.util.Arrays.compareUnsigned(
        n.asText().getBytes(StandardCharsets.UTF_8),
        b.getBytes(StandardCharsets.UTF_8)))
    case (n, b: java.lang.Boolean) if n.isBoolean =>
      Some(java.lang.Boolean.compare(n.asBoolean(), b))
    case _ => None
  }

  /** Full-rewrite commit: write `df` as the complete next-version
    * state (computed against version `basedOn`) and append the
    * add/remove action file. Returns the committed version.
    */
  private def commitRewrite(path: String, df: DataFrame,
                            basedOn: Option[Int]): Int =
    commitFiles(path, df, partitionBy = Nil,
      removeOf = (prev, _) => prev.live, basedOn = basedOn)

  /** Write `df`'s files as the next commit's adds and emit removes
    * for `removeOf(previous state)`. `partitionBy` duplicates each
    * named column into a positional `__pv<i>` write-partitioning
    * column, so the real columns STAY in the data files (reads never
    * reconstruct them from dir names, and parquet footer stats prune
    * whole partition-homogeneous files on partition filters); each
    * Spark-written `__pv<i>=` dir fragment is recorded under its
    * column's name in the file's partitionValues entry. The fragment
    * is an OPAQUE token — never rendered by us, always by Spark's own
    * path escaping — so matching recorded tokens against the tokens
    * of a later write of the same values is exact (the lesson of the
    * round-4 double-escaping bug: diff what Spark wrote, don't render
    * names). Single-column tables written before multi-column support
    * used a bare `__pv=` fragment; recorded tokens are name-agnostic,
    * so both generations intermix freely in one table.
    */
  private def commitFiles(path: String, df: DataFrame,
                          partitionBy: Seq[String],
                          removeOf: (State, Seq[(String, Map[String, String])])
                            => Seq[String],
                          basedOn: Option[Int],
                          dataChange: Boolean = true,
                          operation: Option[String] = None,
                          onePerTuple: Boolean = false): Int = {
    // optimistic concurrency, pinned correctly: the commit version is
    // basedOn + 1 — the version the CALLER'S PLAN actually read — not
    // currentVersion()+1 at commit time. If another writer lands
    // basedOn+1 between the caller's state read and this publish, the
    // hard-link primitive throws and withCommitRetry recomputes the
    // whole plan; deriving `next` from currentVersion here would let
    // that interloper's commit be silently overwritten (its files
    // removed, its rows absent from the rewrite) with no collision
    // ever raised.
    val next = basedOn.map(_ + 1).getOrElse(0)
    val prev = basedOn.map(replayState(df.sparkSession, path, _))
      .getOrElse(emptyState)
    // unique per ATTEMPT, not per version: two writers racing the
    // same version must not clobber each other's data files before
    // the log move picks the winner (the loser's dir is orphaned
    // garbage, never referenced by any commit)
    val subdir = f"files-$next%05d-${java.util.UUID.randomUUID().toString.take(8)}"
    if (partitionBy.nonEmpty) {
      val withPv = partitionBy.zipWithIndex.foldLeft(df) {
        case (d, (pc, i)) => d.withColumn(s"__pv$i", col(pc))
      }
      // onePerTuple: hash-shuffle the output one-task-per-partition-
      // tuple so each tuple writes ONE file. Without it every write
      // task emits a file per tuple it holds — fine for few-tuple
      // date batches (N tasks × few dates), but a hash-bucketed
      // layout's N buckets × N tasks multiplied into tens of
      // thousands of KB-sized files per commit (measured: 16k files
      // in a 3-commit gold table at the sf10 probe, and every later
      // read paying the per-file open cost). Buckets are uniform by
      // construction, so one task per tuple is the right
      // parallelism; low-cardinality layouts keep the default.
      val shaped =
        if (onePerTuple)
          withPv.repartition(partitionBy.indices.map(i => col(s"__pv$i")): _*)
        else withPv
      shaped.write.mode("overwrite")
        .partitionBy(partitionBy.indices.map(i => s"__pv$i"): _*)
        .parquet(s"$path/$subdir")
    } else
      df.write.mode("overwrite").parquet(s"$path/$subdir")
    val now = System.currentTimeMillis()
    val written: Seq[(String, Map[String, String])] =
      scala.util.Using.resource(Files.walk(Paths.get(path, subdir)))(
        _.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map { f =>
            val rel = Paths.get(path, subdir).relativize(f).toString
            val segs = rel.split('/')
            val pv = partitionBy.zipWithIndex.flatMap { case (pc, i) =>
              segs.find(_.startsWith(s"__pv$i="))
                .map(seg => pc -> seg.stripPrefix(s"__pv$i="))
            }.toMap
            (s"$subdir/$rel", pv)
          }.toSeq)
    // Footer stats task-side once the commit has enough files to
    // matter: a 100 TB pruned merge can touch thousands of files, and
    // opening every footer serially on the driver would put O(files)
    // sequential metadata IO on the commit path. Small commits stay on
    // the driver (job launch costs more than the footer reads), with
    // one shared Hadoop Configuration either way.
    val statsByPath: Map[String, String] =
      if (written.size >= statsJobThreshold)
        df.sparkSession.sparkContext
          .parallelize(written.map { case (rel, _) => s"$path/$rel" },
            math.min(written.size, 32))
          .mapPartitions { it =>
            val conf = new org.apache.hadoop.conf.Configuration()
            it.flatMap(f => FooterStats.statsJson(f, conf).map(f -> _))
          }.collect().toMap
      else {
        val conf = new org.apache.hadoop.conf.Configuration()
        written.flatMap { case (rel, _) =>
          FooterStats.statsJson(s"$path/$rel", conf).map(s"$path/$rel" -> _)
        }.toMap
      }
    val adds = written.map { case (p, pv) =>
      val a = mapper.createObjectNode()
      val add = a.putObject("add")
      add.put("path", p)
      val pvNode = add.putObject("partitionValues")
      pv.foreach { case (k, v) => pvNode.put(k, v) }
      statsByPath.get(s"$path/$p").foreach(add.put("stats", _))
      add.put("size", Files.size(Paths.get(path, p)))
      add.put("modificationTime",
        Files.getLastModifiedTime(Paths.get(path, p)).toMillis)
      add.put("dataChange", dataChange)
      a
    }
    val removes = removeOf(prev, written).map { p =>
      val r = mapper.createObjectNode()
      val rm = r.putObject("remove")
      rm.put("path", p)
      rm.put("deletionTimestamp", now)
      rm.put("dataChange", dataChange)
      r
    }
    val header = mutable.Buffer.empty[ObjectNode]
    if (next == 0) {
      val pr = mapper.createObjectNode()
      val proto = pr.putObject("protocol")
      proto.put("minReaderVersion", 1)
      proto.put("minWriterVersion", 2)
      header += pr
    }
    val schemaJson = df.schema.json
    if (next == 0 || !prev.schemaJson.contains(schemaJson)) {
      val md = mapper.createObjectNode()
      val meta = md.putObject("metaData")
      meta.put("id", prev.tableId.getOrElse(
        java.util.UUID.randomUUID().toString))
      val fmt = meta.putObject("format")
      fmt.put("provider", "parquet")
      fmt.putObject("options")
      meta.put("schemaString", schemaJson)
      meta.putArray("partitionColumns")
      meta.putObject("configuration")
      meta.put("createdTime", now)
      header += md
    }
    val ci = mapper.createObjectNode()
    val info = ci.putObject("commitInfo")
    info.put("timestamp", now)
    info.put("operation",
      operation.getOrElse(if (next == 0) "WRITE" else "MERGE"))
    val lines = (header.toSeq ++ removes ++ adds :+ ci)
      .map(mapper.writeValueAsString).mkString("", "\n", "\n")
    Files.createDirectories(logDir(path))
    val tmp = logDir(path).resolve(
      f".$next%020d-${java.util.UUID.randomUUID().toString.take(8)}.json.tmp")
    Files.write(tmp, lines.getBytes(StandardCharsets.UTF_8))
    publishCommit(tmp, logFile(path, next))
    // checkpoint cadence: an accelerator, never a durability step —
    // the commit above is already published, so a checkpoint failure
    // must not fail the write (the stale pointer just means the next
    // reader replays a longer JSON tail)
    if (next > 0 && next % checkpointInterval == 0)
      try checkpointNow(df.sparkSession, path)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"delta-log checkpoint at $path v$next failed (commit is " +
              s"durable; replay falls back to JSON): $e")
      }
    next
  }

  /** Commits with at least this many written files collect footer
    * stats in a Spark job instead of serially on the driver — below
    * it the job-launch overhead exceeds the footer reads themselves.
    */
  private[graft] val statsJobThreshold = 8

  /** Optimistic concurrency: run `attempt` (read state → compute
    * merge → commit); when the commit loses the version race
    * ([[publishCommit]]'s FileAlreadyExistsException), re-run the
    * WHOLE attempt so the merge recomputes against the winner's new
    * head — re-committing the stale output would silently drop the
    * winner's rows. This is the same loop real Delta runs on
    * ConcurrentAppendException. The loser's orphaned attempt dir is
    * reclaimed by [[vacuumOrphans]].
    */
  private def withCommitRetry[T](what: String, maxAttempts: Int = 5)
                                (attempt: => T): T = {
    var n = 0
    while (true) {
      try return attempt
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          n += 1
          if (n >= maxAttempts) throw new ConcurrentWriteException(what, e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Atomic put-if-absent of a commit file. POSIX rename REPLACES an
    * existing target even under ATOMIC_MOVE, so a plain move would
    * let a version-race loser silently clobber the winner; hard-link
    * creation is the filesystem primitive that is both atomic and
    * fails (FileAlreadyExistsException) when the target exists —
    * the loser gets the exception and must re-read table state and
    * retry (optimistic concurrency). Object-store deployments swap
    * this for their conditional-put.
    */
  private[graft] def publishCommit(tmp: Path, target: Path): Unit = {
    try Files.createLink(target, tmp)
    catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
    Files.deleteIfExists(tmp)
  }

  override def scd1Merge(spark: SparkSession, path: String, updates: DataFrame,
                         keys: Seq[String], orderBy: String,
                         deleteMissing: Boolean = false,
                         compareExclude: Seq[String] = Sources.controlColumns,
                         schemaEvolution: Boolean = true): MergeStats =
    withCommitRetry(s"scd1Merge($path)") {
      val ord = MergeTable.deterministicOrd(updates, keys, orderBy)
      val head = currentVersion(path) // pinned: plan and commit agree
      head match {
        case None =>
          val obs = Observation()
          val first = Cdc.latestPerKey(updates, keys, ord)
            .observe(obs, count(lit(1)).as("n"))
          commitRewrite(path, first, basedOn = None)
          MergeStats(inserted = obs.get("n").asInstanceOf[Long], updated = 0,
            deleted = 0)
        case Some(h) =>
          val target = MergeTable.evolveTarget(
            readVersion(spark, path, h), updates, schemaEvolution)
          val tagged = Cdc.scd1MergeTagged(target,
            updates.select(target.columns.map(col).toIndexedSeq: _*),
            keys, ord, deleteMissing, compareExclude, orderGuard = Some(orderBy))
          MergeTable.observedWrite(tagged, dropActions = Seq("delete"))(
            out => { commitRewrite(path, out, basedOn = head); () })
      }
    }

  /** Keyed hard delete as a full-rewrite commit (the same shape as
    * this format's merges). [[deleteKeysPruned]] is the scale path:
    * rewrite only the files whose stats admit a delete key.
    *
    * A table whose live files all share one partition-token layout
    * rewrites UNDER THAT LAYOUT — a delete must not strip the
    * tokens later pruned merges match files by (they require every
    * live file to carry them).
    */
  override def deleteKeys(spark: SparkSession, path: String,
                          delKeys: DataFrame, keys: Seq[String]): MergeStats =
    deleteKeysRewrite(spark, path, delKeys, keys, onePerTuple = false)

  private def deleteKeysRewrite(spark: SparkSession, path: String,
                                delKeys: DataFrame, keys: Seq[String],
                                onePerTuple: Boolean,
                                preAttempt: () => Unit = () => ()): MergeStats =
    withCommitRetry(s"deleteKeys($path)") {
      preAttempt()
      val head = currentVersion(path).getOrElse(
        throw new IllegalArgumentException(s"no delta-log table at $path"))
      val tagged = MergeTable.deleteTagged(
        readVersion(spark, path, head), delKeys, keys)
      val partitionCols = consistentLayout(spark, path, head).getOrElse(Nil)
      MergeTable.observedWrite(tagged, dropActions = Seq("delete"))(out => {
        commitFiles(path, out, partitionCols,
          removeOf = (prev, _) => prev.live, basedOn = Some(head),
          operation = Some("DELETE"), onePerTuple = onePerTuple)
        ()
      })
    }

  /** The one partition-column layout shared by every live file, if
    * any: `Some(Nil)` = consistently unpartitioned, `None` = MIXED
    * generations (not reproducible by a single partitioned write).
    */
  private def consistentLayout(spark: SparkSession, path: String,
                               head: Int): Option[Seq[String]] = {
    val layouts = replayState(spark, path, head)
      .liveMap.values.map(_.pv.keys.toSet).toSet
    if (layouts.size > 1) None
    else Some(layouts.headOption.getOrElse(Set.empty).toSeq.sorted)
  }

  /** File-pruned keyed delete — Delta's data-skipping DELETE. The
    * delete keys (driver-collected up to `maxKeys`, the model-sized
    * collect pattern) are tested against every live file's
    * log-recorded stats; only files that can possibly HOLD a delete
    * key are read and rewritten, every other file stays live in the
    * new commit untouched. At 100 TB a narrow tombstone feed turns
    * a whole-table rewrite into a few hot files plus one JSON
    * commit. Falls back to the full-rewrite [[deleteKeys]] when the
    * feed exceeds `maxKeys` (pruning a million keys driver-side
    * costs more than it saves) or when the table mixes
    * partition-token generations (a pruned commit must reproduce
    * its files' token layout exactly). Partitioned tables keep
    * their tokens: kept rows rewrite under the same partitionBy, so
    * later pruned merges still match every live file.
    */
  def deleteKeysPruned(spark: SparkSession, path: String,
                       delKeys: DataFrame, keys: Seq[String],
                       maxKeys: Int = 100000,
                       onePerTuple: Boolean = false,
                       preAttempt: () => Unit = () => ()): MergeStats = {
    // existence first: an empty tombstone batch against a mistyped
    // path must fail like every other call, not silently no-op
    require(exists(path), s"no delta-log table at $path")
    // null-keyed tombstones never match (deleteTagged's contract) —
    // drop them before the driver collect so they can't eat the cap
    val dk = delKeys.select(keys.map(col): _*).distinct()
      .filter(keys.map(col(_).isNotNull).reduce(_ && _))
    val tuples = dk.limit(maxKeys + 1).collect()
    if (tuples.length > maxKeys)
      return deleteKeysRewrite(spark, path, delKeys, keys, onePerTuple,
        preAttempt)
    if (tuples.isEmpty) return MergeStats(0, 0, 0)
    // per-key bounds over the WHOLE feed: one range check per
    // (file, key) rejects most files before the per-tuple loop —
    // O(files·keys) instead of O(files·keys·tuples) on the miss
    // path. Unrankable key types get no pre-check (admit through).
    def boundsOf(i: Int): Option[(Any, Any)] = {
      val vs = tuples.map(_.get(i))
      vs.head match {
        case _: java.lang.Long | _: java.lang.Integer =>
          val ls = vs.map(_.asInstanceOf[Number].longValue())
          Some((Long.box(ls.min), Long.box(ls.max)))
        case _: Number =>
          val ds = vs.map(_.asInstanceOf[Number].doubleValue())
          Some((Double.box(ds.min), Double.box(ds.max)))
        case _: String =>
          implicit val utf8: Ordering[String] = (a, b) =>
            java.util.Arrays.compareUnsigned(
              a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
              b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val ss = vs.map(_.asInstanceOf[String])
          Some((ss.min, ss.max))
        case _ => None
      }
    }
    val keyBounds = keys.indices.map(boundsOf)
    withCommitRetry(s"deleteKeysPruned($path)") {
      preAttempt()
      val head = currentVersion(path).getOrElse(
        throw new IllegalArgumentException(s"no delta-log table at $path"))
      val st = replayState(spark, path, head)
      // a file is touched iff its stats admit SOME delete tuple on
      // EVERY key column (missing stats admit — rewrite is safe,
      // skipping is not). Stats parse ONCE per file; the feed-wide
      // range pre-check rejects cheap before the tuple loop.
      val touched = st.liveMap.toSeq.collect {
        case (f, fe) if fe.stats.forall { s =>
          try {
            val n = mapper.readTree(s)
            keys.zipWithIndex.forall { case (k, i) =>
              keyBounds(i).forall { case (lo, hi) =>
                statsAdmitParsed(n, k, lo, hi) }
            } &&
            tuples.exists(t => keys.zipWithIndex.forall { case (k, i) =>
              statsAdmitParsed(n, k, t.get(i), t.get(i)) })
          } catch { case scala.util.control.NonFatal(_) => true }
        } => f
      }
      val layout = consistentLayout(spark, path, head)
      if (layout.isEmpty)
        deleteKeysRewrite(spark, path, delKeys, keys, onePerTuple)
      else if (touched.isEmpty) MergeStats(0, 0, 0)
      else {
        val schema = st.schemaJson
          .map(DataType.fromJson(_).asInstanceOf[StructType])
        val target = schema.fold(spark.read)(spark.read.schema(_))
          .parquet(touched.map(f => s"$path/$f"): _*)
        val tagged = MergeTable.deleteTagged(target, dk, keys)
        MergeTable.observedWrite(tagged, dropActions = Seq("delete")) { out =>
          commitFiles(path, out, layout.get,
            removeOf = (_, _) => touched, basedOn = Some(head),
            operation = Some("DELETE"), onePerTuple = onePerTuple)
          ()
        }
      }
    }
  }

  override def scd2Merge(spark: SparkSession, path: String, updates: DataFrame,
                         keys: Seq[String], orderBy: String,
                         deleteMissing: Boolean = false,
                         compareExclude: Seq[String] = Sources.controlColumns,
                         schemaEvolution: Boolean = true): MergeStats =
    withCommitRetry(s"scd2Merge($path)") {
      val ord = MergeTable.deterministicOrd(updates, keys, orderBy)
      val head = currentVersion(path) // pinned: plan and commit agree
      head match {
        case None =>
          val obs = Observation()
          val first = Cdc.latestPerKey(updates, keys, ord)
            .withColumn("is_current", lit(1))
            .withColumn("start_time", current_timestamp())
            .withColumn("end_time", lit(null).cast("timestamp"))
            .withColumn("delete_time", lit(null).cast("timestamp"))
            .observe(obs, count(lit(1)).as("n"))
          commitRewrite(path, first, basedOn = None)
          MergeStats(inserted = obs.get("n").asInstanceOf[Long], updated = 0,
            deleted = 0)
        case Some(h) =>
          val target = MergeTable.evolveTarget(
            readVersion(spark, path, h), updates, schemaEvolution)
          val tagged = Cdc.scd2MergeTagged(target, updates, keys, ord, orderBy,
            deleteMissing, compareExclude)
          MergeTable.observedWrite(tagged, dropActions = Nil)(
            out => { commitRewrite(path, out, basedOn = head); () })
      }
    }

  /** Partition-pruned SCD1 merge: rewrite ONLY the partitions the
    * updates touch; every other partition's files stay live from
    * their original commits with ZERO copying — the manifest
    * advantage over the snapshot format, whose pruned merge must
    * still copy untouched partitions into each new version dir
    * (`MergeTable.distributedCopy`). At 100 TB with date-partitioned
    * tables a merge commit costs the hot partitions' rewrite plus
    * one JSON file.
    *
    * Same contract as `MergeTable.scd1MergePruned`: updates must
    * carry `partitionCol`, null partition values are rejected,
    * incremental extracts only (no deleteMissing — it needs global
    * key visibility), and a key must not move partitions.
    */
  def scd1MergePruned(spark: SparkSession, path: String, updates: DataFrame,
                      keys: Seq[String], orderBy: String, partitionCol: String,
                      compareExclude: Seq[String] = Sources.controlColumns)
      : MergeStats =
    mergePruned(spark, path, updates, keys, orderBy, Seq(partitionCol),
      scdType = 1, compareExclude)

  /** Partition-pruned SCD2 merge — see [[scd1MergePruned]]. */
  def scd2MergePruned(spark: SparkSession, path: String, updates: DataFrame,
                      keys: Seq[String], orderBy: String, partitionCol: String,
                      compareExclude: Seq[String] = Sources.controlColumns)
      : MergeStats =
    mergePruned(spark, path, updates, keys, orderBy, Seq(partitionCol),
      scdType = 2, compareExclude)

  /** Multi-column pruned SCD1 merge: partitions are the distinct
    * TUPLES of `partitionCols` (e.g. region × date), matching the
    * reference's list-valued write-partitioning configs. Touched
    * tuples rewrite; every other tuple's files stay live with zero
    * copying.
    */
  def scd1MergePruned(spark: SparkSession, path: String, updates: DataFrame,
                      keys: Seq[String], orderBy: String,
                      partitionCols: Seq[String],
                      compareExclude: Seq[String]): MergeStats =
    mergePruned(spark, path, updates, keys, orderBy, partitionCols,
      scdType = 1, compareExclude)

  /** Multi-column pruned SCD2 merge — see the multi-column
    * [[scd1MergePruned]] overload.
    */
  def scd2MergePruned(spark: SparkSession, path: String, updates: DataFrame,
                      keys: Seq[String], orderBy: String,
                      partitionCols: Seq[String],
                      compareExclude: Seq[String]): MergeStats =
    mergePruned(spark, path, updates, keys, orderBy, partitionCols,
      scdType = 2, compareExclude)

  /** `preAttempt` runs at the start of EVERY commit attempt,
    * including retries after a version-race loss. Decorators whose
    * validity can be revoked by a concurrent commit (the bucketed
    * layout guard: a relayout that lands mid-merge changes where
    * every key hashes) re-check their invariants here — a
    * once-before-the-call check is check-then-act: the losing
    * attempt would otherwise replan against the winner's state while
    * its updates still carry columns computed under the old layout.
    * Any conflicting commit bumps the version, so the loser is
    * GUARANTEED to re-enter this hook before it can publish.
    */
  private[pipeline] def mergePruned(spark: SparkSession, path: String,
                          updates: DataFrame,
                          keys: Seq[String], orderBy: String,
                          partitionCols: Seq[String], scdType: Int,
                          compareExclude: Seq[String],
                          onePerTuple: Boolean = false,
                          preAttempt: () => Unit = () => ()): MergeStats =
    withCommitRetry(s"mergePruned($path)") {
      preAttempt()
      mergePrunedOnce(spark, path, updates, keys, orderBy, partitionCols,
        scdType, compareExclude, onePerTuple)
    }

  private def mergePrunedOnce(spark: SparkSession, path: String,
                              updates: DataFrame,
                              keys: Seq[String], orderBy: String,
                              partitionCols: Seq[String], scdType: Int,
                              compareExclude: Seq[String],
                              onePerTuple: Boolean): MergeStats = {
    require(partitionCols.nonEmpty, "pruned merge needs a partition column")
    partitionCols.foreach(pc => require(updates.columns.contains(pc),
      s"updates must carry partition column $pc"))
    val ord = MergeTable.deterministicOrd(updates, keys, orderBy)
    val head = currentVersion(path) // pinned: plan and commit agree
    if (head.isEmpty) {
      val obs = Observation()
      val base = Cdc.latestPerKey(updates, keys, ord)
      val first = (if (scdType == 2)
        base.withColumn("is_current", lit(1))
          .withColumn("start_time", current_timestamp())
          .withColumn("end_time", lit(null).cast("timestamp"))
          .withColumn("delete_time", lit(null).cast("timestamp"))
      else base).observe(obs, count(lit(1)).as("n"))
      commitFiles(path, first, partitionCols, (_, _) => Nil,
        basedOn = None, onePerTuple = onePerTuple)
      return MergeStats(obs.get("n").asInstanceOf[Long], 0, 0)
    }
    val affected: Seq[Seq[Any]] = updates
      .select(partitionCols.map(col): _*).distinct()
      .collect().map(r => partitionCols.indices.map(r.get)).toSeq
    // empty updates touch no partitions: commit nothing (the tuple
    // filter below would otherwise .reduce over an empty Seq)
    if (affected.isEmpty) return MergeStats(0, 0, 0)
    // same rejection as MergeTable.mergePruned: a null partition
    // value bypasses predicate pruning AND has no stable token
    require(!affected.exists(_.contains(null)),
      s"pruned merge: updates carry null ${partitionCols.mkString(",")} " +
        "values; null partitions cannot be pruned — use the unpruned merge")
    // every live file must carry a recorded token for every partition
    // column: mixing pruned merges into a table built by full-rewrite
    // (or fewer-column) commits would leave old files unmatchable by
    // the remove targeting below (stale rows would survive as dupes)
    val prevState = replayState(spark, path, head.get)
    require(prevState.liveMap.values.forall(
      fe => partitionCols.forall(fe.pv.contains)),
      s"pruned merge: table at $path has live files without recorded " +
        s"'${partitionCols.mkString(",")}' partitionValues (written by a " +
        "differently-partitioned commit) — run a partitioned full merge first")
    // Plan the target scan over the AFFECTED partitions' files only,
    // selected driver-side from the log's per-file stats (the __pv
    // layout keeps partition columns in the data, so affected files
    // carry min == max == value). Exclusion is provably safe: stats
    // are true bounds, so an excluded file has no affected-value rows
    // — and therefore a different partition token, which the remove
    // targeting below never names. Files without usable stats admit
    // by default. At 100 TB this turns the merge's scan plan from
    // every-live-file (footer IO + plan size) into the hot partitions'
    // file list. The exact tuple filter still applies on top.
    val affectedFiles = prevState.liveMap.toSeq.collect {
      case (f, fe) if affected.exists(t =>
        partitionCols.zip(t).forall { case (pc, v) =>
          statsAdmit(fe.stats, pc, v, v) }) => f
    }
    val schema = prevState.schemaJson
      .map(DataType.fromJson(_).asInstanceOf[StructType])
    val target =
      if (affectedFiles.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          schema.getOrElse(new StructType()))
      else
        schema.fold(spark.read)(spark.read.schema(_))
          .parquet(affectedFiles.map(f => s"$path/$f"): _*)
    val affectedCond = affected.map(t =>
      partitionCols.zip(t).map { case (pc, v) => col(pc) === lit(v) }
        .reduce(_ && _)).reduce(_ || _)
    val affectedTarget = target.filter(affectedCond)
    val tagged =
      if (scdType == 2)
        Cdc.scd2MergeTagged(affectedTarget, updates, keys, ord, orderBy,
          deleteMissing = false, compareExclude)
      else
        Cdc.scd1MergeTagged(affectedTarget,
          updates.select(affectedTarget.columns.map(col).toIndexedSeq: _*),
          keys, ord, deleteMissing = false, compareExclude,
          orderGuard = Some(orderBy))
    MergeTable.observedWrite(tagged,
      dropActions = if (scdType == 2) Nil else Seq("delete")) { out =>
      commitPruned(path, out, partitionCols, basedOn = head,
        onePerTuple = onePerTuple); ()
    }
  }

  /** Commit `df` (the rewritten affected partitions) and remove the
    * previous live files of exactly those partition TUPLES —
    * identified by matching their recorded token tuples against the
    * tokens Spark just wrote for this commit (a pruned merge never
    * drops rows, so every affected partition appears in the output).
    */
  private def commitPruned(path: String, df: DataFrame,
                           partitionCols: Seq[String],
                           basedOn: Option[Int],
                           onePerTuple: Boolean = false): Unit = {
    commitFiles(path, df, partitionCols, onePerTuple = onePerTuple,
      removeOf = (prev, written) => {
      def tupleOf(pv: Map[String, String]): Option[Seq[String]] = {
        val t = partitionCols.flatMap(pv.get)
        if (t.size == partitionCols.size) Some(t) else None
      }
      val rewritten = written.flatMap(w => tupleOf(w._2)).toSet
      prev.liveMap.collect {
        case (p, fe) if tupleOf(fe.pv).exists(rewritten.contains) => p
      }.toSeq
    }, basedOn = basedOn)
    ()
  }

  /** Bin-pack small live files into fewer, larger ones — Delta's
    * OPTIMIZE. Pruned merges rewrite each hot partition with as many
    * files as shuffle tasks held its rows, so a frequently-merged
    * partition accumulates small files that tax every subsequent
    * scan's task scheduling; compaction is the standard
    * countermeasure. Commits with `dataChange=false` on every add and
    * remove (rows are identical before and after): readers see the
    * same table, time travel to pre-optimize versions still works
    * until `vacuum`, and the streaming gold hop's full-row diff over
    * an OPTIMIZE commit is empty — nothing is re-delivered.
    *
    * Only partitions (or the unpartitioned whole) holding ≥2 files
    * under `smallFileBytes` are rewritten; everything else stays live
    * untouched. Returns None when there is nothing to compact.
    */
  override def optimize(spark: SparkSession, path: String,
                        smallFileBytes: Long = 128L << 20)
      : Option[OptimizeStats] =
    // a lost race means the head moved mid-compaction; the retry
    // re-enters the whole body so the target set recomputes against
    // the winner's head (re-publishing the stale rewrite could remove
    // files the winner already removed, or miss its new ones).
    // Plain Option flow, no non-local returns: a `return` inside the
    // by-name retry block rides on NonLocalReturnControl, which only
    // works while the retry's catch stays narrow — and is deprecated.
    withCommitRetry(s"optimize($path)") {
      currentVersion(path).flatMap { head =>
        val st = replayState(spark, path, head)
        val keySets = st.liveMap.values.map(_.pv.keySet).toSet
        require(keySets.size <= 1,
          s"optimize: table at $path mixes partitioned and unpartitioned " +
            "live files — run a partitioned full merge first")
        val partitionCols = keySets.headOption.map(_.toSeq.sorted).getOrElse(Nil)
        val targets = st.liveMap.toSeq.groupBy(_._2.pv).valuesIterator
          .flatMap { fs =>
            val small = fs.filter(_._2.size < smallFileBytes)
            if (small.size >= 2) small else Nil
          }.toSeq
        if (targets.isEmpty) None
        else {
          // table schema, not footer inference — see readVersion
          val df0 = st.schemaJson
            .map(s => spark.read.schema(
              DataType.fromJson(s).asInstanceOf[StructType]))
            .getOrElse(spark.read)
            .parquet(targets.map(f => s"$path/${f._1}"): _*)
          val df =
            // one output file per partition tuple: tasks write one
            // file per tuple they hold, and the hash repartition gives
            // each tuple to exactly one task
            if (partitionCols.nonEmpty)
              df0.repartition(partitionCols.map(col): _*)
            else {
              val total = targets.map(_._2.size).sum
              df0.coalesce(math.max(1,
                math.ceil(total.toDouble / smallFileBytes).toInt))
            }
          val targetPaths = targets.map(_._1)
          val v = commitFiles(path, df, partitionBy = partitionCols,
            removeOf = (_, _) => targetPaths, basedOn = Some(head),
            dataChange = false, operation = Some("OPTIMIZE"))
          val written = Files.readAllLines(logFile(path, v),
            StandardCharsets.UTF_8)
            .asScala.count(l => l.nonEmpty && mapper.readTree(l).has("add"))
          Some(OptimizeStats(v, compacted = targetPaths.size,
            written = written))
        }
      }
    }

  /** Rewrite the ENTIRE live set into one fresh commit
    * (`dataChange = false` — rows identical, only layout changed):
    * after it, the live set is exactly one commit subdir's whole
    * parquet listing, which is the precondition for a directory
    * registration. Keeps the table's partition layout (a pruned
    * merge after the compact still matches its partition tokens).
    * Returns None on an empty table.
    */
  def compactFull(spark: SparkSession, path: String,
                  targetFileBytes: Long = 128L << 20): Option[OptimizeStats] =
    withCommitRetry(s"compactFull($path)") {
      currentVersion(path).flatMap { head =>
        val st = replayState(spark, path, head)
        if (st.liveMap.isEmpty) None
        else {
          val keySets = st.liveMap.values.map(_.pv.keySet).toSet
          require(keySets.size <= 1,
            s"compactFull: table at $path mixes partitioned and " +
              "unpartitioned live files — run a partitioned full merge first")
          val partitionCols =
            keySets.headOption.map(_.toSeq.sorted).getOrElse(Nil)
          val df0 = st.schemaJson
            .map(s => spark.read.schema(
              DataType.fromJson(s).asInstanceOf[StructType]))
            .getOrElse(spark.read)
            .parquet(st.live.map(f => s"$path/$f"): _*)
          val df =
            if (partitionCols.nonEmpty)
              // one file per partition tuple (the optimize() rule)
              df0.repartition(partitionCols.map(col): _*)
            else {
              val totalBytes = st.liveMap.values.map(_.size).sum
              df0.coalesce(math.max(1,
                math.ceil(totalBytes.toDouble / targetFileBytes).toInt))
            }
          val previous = st.live
          val v = commitFiles(path, df, partitionBy = partitionCols,
            removeOf = (_, _) => previous, basedOn = Some(head),
            dataChange = false, operation = Some("OPTIMIZE"))
          val written = Files.readAllLines(logFile(path, v),
            StandardCharsets.UTF_8)
            .asScala.count(l => l.nonEmpty && mapper.readTree(l).has("add"))
          Some(OptimizeStats(v, compacted = previous.size, written = written))
        }
      }
    }

  /** The live files' log-recorded partitionValues, driver-side from
    * the log alone (no data scan) — lets layout decorators sanity-
    * check a table's recorded partition tokens cheaply.
    */
  private[pipeline] def livePartitionValues(spark: SparkSession,
      path: String): Seq[Map[String, String]] =
    currentVersion(path).map(v =>
      replayState(spark, path, v).liveMap.values.map(_.pv).toSeq)
      .getOrElse(Nil)

  /** Full-rewrite RELAYOUT commit: read the whole live set, apply
    * `transform` — which may rewrite layout columns, the one commit
    * shape allowed to move a key between partitions because it
    * replaces every live file in a single atomic commit — and write
    * back partitioned by `partitionCols`, one file per tuple.
    * User-visible rows must be unchanged (`dataChange = false`, like
    * OPTIMIZE: change-feed readers skip it). The explicit re-bucket
    * commit `BucketedTableFormat.relayout` rides on this. Returns the
    * committed version; the current head unchanged when the live set
    * is empty; None when the table does not exist.
    */
  private[pipeline] def relayoutFull(spark: SparkSession, path: String,
      transform: DataFrame => DataFrame,
      partitionCols: Seq[String]): Option[Int] =
    withCommitRetry(s"relayoutFull($path)") {
      currentVersion(path).map { head =>
        val st = replayState(spark, path, head)
        if (st.liveMap.isEmpty) head
        else {
          val df0 = st.schemaJson
            .map(s => spark.read.schema(
              DataType.fromJson(s).asInstanceOf[StructType]))
            .getOrElse(spark.read)
            .parquet(st.live.map(f => s"$path/$f"): _*)
          val df = transform(df0)
          commitFiles(path, df, partitionBy = partitionCols,
            removeOf = (_, _) => st.live, basedOn = Some(head),
            dataChange = false, operation = Some("RELAYOUT"),
            onePerTuple = true)
        }
      }
    }

  /** Catalog registration for EVERY current layout — the delta-log
    * answer to the reference's per-load external tables. A
    * single-subdir unpartitioned live set registers as a plain
    * `LOCATION` table (the trait default's shape). Every other
    * layout — pruned commits interleaving live/stale files,
    * `__pv<i>=` write-partitioned dirs that would partition-discover
    * as phantom columns — first runs [[compactFull]] (rows
    * identical, `dataChange = false`, time travel intact until
    * vacuum), then registers the fresh commit subdir with the
    * DECLARED table schema and `recursiveFileLookup` — the
    * documented switch that lists every data file under the location
    * and DISABLES partition-directory inference. The `__pv` layout
    * keeps every partition column's value IN the data files, so the
    * registered table reads full, correct rows while the physical
    * `__pv` dir names stay invisible. Stats-based pruning on the
    * partition column still applies — compacted files are
    * partition-homogeneous (min == max) — so the registration loses
    * no skipping power a parquet reader can use.
    */
  override def registerTable(spark: SparkSession, path: String,
                             name: String): Unit =
    registerTableAs(spark, path, name, read(spark, path).schema)

  /** [[registerTable]] with a caller-declared schema — parquet reads
    * columns by name, so a decorator that adds internal layout
    * columns ([[BucketedTableFormat]]'s `__kbucket`) can register
    * the USER schema and keep the layout invisible to SQL clients.
    */
  private[pipeline] def registerTableAs(spark: SparkSession, path: String,
                                        name: String,
                                        schema: org.apache.spark.sql.types
                                          .StructType): Unit = {
    val qName = TableFormat.quoteIdent(name)
    def alreadyCompact: Option[String] = currentVersion(path)
      .flatMap(v => wholeSubdirLive(path, replayState(spark, path, v).live))
    val (loc, recursive) = registrableLocation(spark, path) match {
      case Some(l) => (l, false)
      // a partitioned layout whose live set is ALREADY exactly one
      // commit subdir's complete listing (fresh partitioned write,
      // prior compactFull, re-registration with no intervening
      // merges) registers directly — compacting again would rewrite
      // the entire live set per register call for nothing
      case None => alreadyCompact match {
        case Some(l) => (l, true)
        case None =>
          require(compactFull(spark, path).nonEmpty,
            s"no live data at $path to register")
          val head = currentVersion(path).getOrElse(
            throw new IllegalStateException(s"no delta log at $path"))
          val st = replayState(spark, path, head)
          val tops = st.live.map(_.takeWhile(_ != '/')).distinct
          require(tops.size == 1,
            s"compactFull left a multi-subdir live set at $path — " +
              "concurrent writer mid-registration; retry")
          (s"$path/${tops.head}", true)
      }
    }
    val escLoc = loc.replace("'", "''")
    val schemaDdl = schema.toDDL
    val opts =
      if (recursive) " OPTIONS (recursiveFileLookup 'true')" else ""
    spark.sql(s"DROP TABLE IF EXISTS $qName")
    spark.sql(s"CREATE TABLE $qName ($schemaDdl) USING parquet$opts " +
      s"LOCATION '$escLoc'")
    ()
  }

  /** OPTIMIZE with 1-D clustering — the single-column form of Delta's
    * `OPTIMIZE ... ZORDER BY`: rewrite ALL live files with rows
    * range-partitioned (and sorted within files) by `clusterCol`, so
    * each output file covers a disjoint value range. File-level stats
    * then make [[readRange]] prune a point lookup to ~one file
    * instead of every file — the log-level complement of parquet's
    * row-group skipping. Like [[optimize]] the commit is
    * `dataChange=false`: rows are identical, only layout changed.
    *
    * `targetFileBytes` sizes the output: ceil(live bytes / target)
    * range buckets. Partitioned tables range-partition on
    * (partitionCol, clusterCol) so each partition's files still get
    * disjoint cluster ranges. Returns None on an empty table.
    */
  def optimizeClustered(spark: SparkSession, path: String,
                        clusterCol: String,
                        targetFileBytes: Long = 128L << 20)
      : Option[OptimizeStats] =
    // Option flow instead of non-local returns — see optimize()
    withCommitRetry(s"optimizeClustered($path)") {
      currentVersion(path).flatMap { head =>
        val st = replayState(spark, path, head)
        if (st.liveMap.isEmpty) None
        else {
          val keySets = st.liveMap.values.map(_.pv.keySet).toSet
          require(keySets.size <= 1,
            s"optimizeClustered: table at $path mixes partitioned and " +
              "unpartitioned live files — run a partitioned full merge first")
          val partitionCols =
            keySets.headOption.map(_.toSeq.sorted).getOrElse(Nil)
          val totalBytes = st.liveMap.values.map(_.size).sum
          val buckets = math.max(1,
            math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
          val df0 = st.schemaJson
            .map(s => spark.read.schema(
              DataType.fromJson(s).asInstanceOf[StructType]))
            .getOrElse(spark.read)
            .parquet(st.live.map(f => s"$path/$f"): _*)
          val rangeCols = partitionCols.map(col) :+ col(clusterCol)
          val df = df0
            .repartitionByRange(buckets, rangeCols: _*)
            .sortWithinPartitions(partitionCols :+ clusterCol map col: _*)
          val previous = st.live
          val v = commitFiles(path, df, partitionBy = partitionCols,
            removeOf = (_, _) => previous, basedOn = Some(head),
            dataChange = false, operation = Some("OPTIMIZE"))
          val written = Files.readAllLines(logFile(path, v),
            StandardCharsets.UTF_8)
            .asScala.count(l => l.nonEmpty && mapper.readTree(l).has("add"))
          Some(OptimizeStats(v, compacted = previous.size, written = written))
        }
      }
    }

  /** OPTIMIZE with multi-column Z-ORDER clustering — the full form of
    * Delta's `OPTIMIZE ... ZORDER BY (a, b, ...)`: rewrite all live
    * files ordered by the bit-interleaved rank of the cluster
    * columns, so file-level min/max stats stay narrow on EVERY
    * cluster column at once and [[readRange]] prunes multi-column
    * workloads 1-D clustering can't serve (a layout clustered on `a`
    * alone leaves `b`'s per-file ranges full-width — `b` lookups
    * scan everything; the Z-curve gives each file a ~hypercube of
    * the value space, so a point lookup on any one of k columns
    * admits ~files^((k-1)/k)).
    *
    * Rank normalization: each column maps to a [0, 2^bitsPerCol)
    * bucket id via its own approximate quantile boundaries (one
    * `approxQuantile` pass for ALL columns; the driver holds
    * 2^bitsPerCol doubles per column — bounded, never data-sized),
    * which makes the interleave robust to skew and scale differences
    * between columns. Bucketing + interleave + range partition +
    * in-file sort are all codegen'd column expressions; like
    * [[optimize]] the commit is `dataChange = false` (rows
    * identical, only layout changed). Numeric cluster columns only
    * (quantile ranking; strings would need a collation-aware rank).
    * Nulls bucket to 0 — they cluster together at the curve origin.
    * Returns None on an empty table.
    */
  def optimizeZorder(spark: SparkSession, path: String,
                     clusterCols: Seq[String],
                     targetFileBytes: Long = 128L << 20,
                     bitsPerCol: Int = 8)
      : Option[OptimizeStats] = {
    require(clusterCols.size >= 2,
      "zorder needs >= 2 columns; use optimizeClustered for one")
    require(bitsPerCol >= 1 && bitsPerCol * clusterCols.size <= 62,
      s"bitsPerCol * columns must fit a long, got $bitsPerCol * ${clusterCols.size}")
    // Option flow instead of non-local returns — see optimize()
    withCommitRetry(s"optimizeZorder($path)") {
      currentVersion(path).flatMap { head =>
        val st = replayState(spark, path, head)
        if (st.liveMap.isEmpty) None
        else {
          val keySets = st.liveMap.values.map(_.pv.keySet).toSet
          require(keySets.size <= 1,
            s"optimizeZorder: table at $path mixes partitioned and " +
              "unpartitioned live files — run a partitioned full merge first")
          val partitionCols =
            keySets.headOption.map(_.toSeq.sorted).getOrElse(Nil)
          val totalBytes = st.liveMap.values.map(_.size).sum
          val nFiles = math.max(1,
            math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
          val df0 = st.schemaJson
            .map(s => spark.read.schema(
              DataType.fromJson(s).asInstanceOf[StructType]))
            .getOrElse(spark.read)
            .parquet(st.live.map(f => s"$path/$f"): _*)
          clusterCols.foreach { c =>
            require(df0.schema(c).dataType.isInstanceOf[
                org.apache.spark.sql.types.NumericType],
              s"optimizeZorder: numeric cluster columns only, $c is " +
                df0.schema(c).dataType.simpleString)
          }
          val nBuckets = 1 << bitsPerCol
          // one pass over the data for every column's boundaries;
          // probabilities exclude 0 and 1 -> 2^bits - 1 cut points
          val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
          val cast = clusterCols.map(c => col(c).cast("double")
            .as(s"_zq_$c"))
          val bounds = df0.select(cast: _*)
            .stat.approxQuantile(
              clusterCols.map(c => s"_zq_$c").toArray, probs, 0.001)
          // bucket id = #boundaries <= value (codegen'd filter over a
          // literal array; a null value fails every <= and lands in
          // bucket 0)
          val bucketIds = clusterCols.zip(bounds).map { case (c, bs) =>
            // empty boundaries (all-null or zero-row column): every
            // row buckets to 0 — the column contributes nothing
            val cuts = if (bs.isEmpty) Array(Double.MaxValue)
              else bs.distinct.sorted
            size(filter(array(cuts.map(lit(_)): _*),
              b => b <= col(c).cast("double"))).cast("long")
          }
          // interleave: bit i of column c lands at position
          // i * nCols + c (column 0 holds the most significant slot
          // of each group — leading column still dominates ties)
          val nCols = clusterCols.size
          val zval = (0 until bitsPerCol).flatMap { i =>
            bucketIds.zipWithIndex.map { case (b, c) =>
              shiftleft(shiftright(b, i).bitwiseAND(lit(1L)),
                i * nCols + (nCols - 1 - c))
            }
          }.reduce(_.bitwiseOR(_))
          val rangeCols = partitionCols.map(col) :+ col("_zval")
          val df = df0.withColumn("_zval", zval)
            .repartitionByRange(nFiles, rangeCols: _*)
            .sortWithinPartitions(rangeCols: _*)
            .drop("_zval")
          val previous = st.live
          val v = commitFiles(path, df, partitionBy = partitionCols,
            removeOf = (_, _) => previous, basedOn = Some(head),
            dataChange = false, operation = Some("OPTIMIZE"))
          val written = Files.readAllLines(logFile(path, v),
            StandardCharsets.UTF_8)
            .asScala.count(l => l.nonEmpty && mapper.readTree(l).has("add"))
          Some(OptimizeStats(v, compacted = previous.size, written = written))
        }
      }
    }
  }

  /** Delete data files referenced ONLY by versions older than the
    * newest `keepVersions` commits. The JSON log is never truncated
    * (see class doc); a dropped version's log entry remains but
    * `readVersion` on it fails with a clear vacuumed-files error.
    */
  override def vacuum(path: String, keepVersions: Int = 2): Seq[Int] = {
    require(keepVersions >= 1, "must keep at least the current version")
    val all = versions(path)
    if (all.isEmpty) return Nil
    val dropped = all.dropRight(keepVersions)
    if (dropped.isEmpty) return Nil
    val droppedSet = dropped.toSet
    // one pass over the log: accumulate each version's live set into
    // the dropped or kept pool as the replay walks forward (replaying
    // from 0 once per version would be O(commits²) JSON parses on a
    // long-lived table)
    val st = emptyState
    val keepFiles = mutable.Set.empty[String]
    val dropFiles = mutable.Set.empty[String]
    all.foreach { v =>
      applyOneVersion(st, path, v)
      (if (droppedSet.contains(v)) dropFiles else keepFiles) ++= st.live
    }
    val droppedFiles = dropFiles.toSet.diff(keepFiles)
    droppedFiles.foreach { f =>
      Files.deleteIfExists(Paths.get(path, f))
      dropCommitDirIfOnlySidecars(Paths.get(path, f).getParent)
    }
    cleanupCheckpointArtifacts(path)
    dropped
  }

  /** Remove a per-commit data dir once only write sidecars remain —
    * Hadoop's local committer leaves `_SUCCESS` plus `.`-prefixed
    * `.crc` shadows behind, neither ever referenced by the log.
    */
  private def dropCommitDirIfOnlySidecars(dir: Path): Unit = {
    def sidecar(n: String) = n.startsWith("_") || n.startsWith(".")
    if (Files.isDirectory(dir) &&
        scala.util.Using.resource(Files.list(dir))(
          _.iterator().asScala.forall(p => sidecar(p.getFileName.toString)))) {
      scala.util.Using.resource(Files.list(dir))(
        _.iterator().asScala.toSeq).foreach(Files.deleteIfExists(_))
      Files.deleteIfExists(dir)
    }
  }

  /** Reclaim data directories no commit references: a writer that
    * died between writing its `files-*` attempt dir and publishing
    * the version file — or that lost the version race — leaves a
    * complete rewrite's worth of parquet behind that `vacuum` can
    * never name (it walks the log, and these dirs are in no log
    * entry). Only dirs last modified more than `olderThanMs` ago are
    * touched so an IN-FLIGHT writer's not-yet-committed attempt is
    * never deleted from under it — the same retention-threshold
    * defense real Delta's VACUUM uses. Returns the removed dirs.
    */
  def vacuumOrphans(path: String,
                    olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val root = Paths.get(path)
    if (!Files.isDirectory(root)) return Nil
    val referenced = versions(path)
      .flatMap { v =>
        Files.readAllLines(logFile(path, v), StandardCharsets.UTF_8)
          .asScala.filter(_.nonEmpty).flatMap { line =>
            val node = mapper.readTree(line)
            Seq("add", "remove").flatMap(k =>
              if (node.has(k)) Some(node.get(k).get("path").asText()) else None)
          }
      }
      .map(p => p.split('/').head).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = scala.util.Using.resource(Files.list(root))(
      _.iterator().asScala
        .filter(d => Files.isDirectory(d) &&
          d.getFileName.toString.startsWith("files-") &&
          !referenced.contains(d.getFileName.toString) &&
          Files.getLastModifiedTime(d).toMillis < cutoff)
        .toSeq)
    orphans.foreach { d =>
      scala.util.Using.resource(Files.walk(d))(
        _.iterator().asScala.toSeq.reverse).foreach(Files.deleteIfExists(_))
    }
    orphans.map(_.getFileName.toString)
  }
}

/** Per-file column stats as the protocol's `add.stats` JSON string
  * (`{"numRecords":N,"minValues":{...},"maxValues":{...},
  * "nullCount":{...}}`), assembled from the parquet footer the write
  * just produced. Isolated in a small Serializable object so a commit
  * can collect stats for many files task-side in a Spark job (the
  * same placement Delta's writer uses) instead of opening every
  * footer serially on the driver.
  *
  * Only plainly-comparable types are recorded (ints, longs, floats,
  * doubles, booleans, UTF8 strings ≤64 chars); annotated physical
  * types whose comparison order differs from their logical order
  * (decimals as unscaled longs, timestamps, dates) are skipped so
  * stats-pruned reads can never prune on a misleading order. A column
  * missing from the stats is simply never pruned — omission is
  * always safe.
  */
private[pipeline] object FooterStats extends Serializable {

  private val mapper = new ObjectMapper()

  /** Unsigned lexicographic order for binary/UTF8 stats — the order
    * parquet itself selects min/max in. `Binary.compareTo` is the
    * legacy SIGNED order; merging row groups with it could record a
    * file max BELOW the true max (or a min above the true min) for
    * values with high-bit bytes (any non-ASCII string), and a
    * stats-pruned read would then skip files whose rows DO match.
    */
  private def statCmp(a: Comparable[Any], b: Comparable[Any]): Int =
    ((a: Any), (b: Any)) match {
      case (x: org.apache.parquet.io.api.Binary,
            y: org.apache.parquet.io.api.Binary) =>
        java.util.Arrays.compareUnsigned(x.getBytes, y.getBytes)
      case _ => a.compareTo(b)
    }

  def statsJson(absFile: String,
                conf: org.apache.hadoop.conf.Configuration)
      : Option[String] = try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation, StringLogicalTypeAnnotation}
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(Paths.get(absFile).toUri), conf)
    scala.util.Using.resource(ParquetFileReader.open(in)) { r =>
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val numRecords = blocks.map(_.getRowCount).sum
      // per top-level column: (min, max, nullCount), or None once any
      // row group lacks usable stats for it
      val agg = mutable.LinkedHashMap
        .empty[String, Option[(Comparable[Any], Comparable[Any], Long)]]
      blocks.foreach(_.getColumns.asScala.foreach { c =>
        val name = c.getPath.toDotString
        if (!name.contains('.')) {
          val logical = c.getPrimitiveType.getLogicalTypeAnnotation
          val comparable = logical == null ||
            logical.isInstanceOf[IntLogicalTypeAnnotation] ||
            logical.isInstanceOf[StringLogicalTypeAnnotation]
          val s = c.getStatistics
          val usable = comparable && s != null && s.isNumNullsSet &&
            (s.hasNonNullValue || s.getNumNulls == c.getValueCount)
          val cur = agg.getOrElse(name,
            Some((null: Comparable[Any], null: Comparable[Any], 0L)))
          agg(name) = cur.filter(_ => usable).map { case (mn, mx, nu) =>
            val bmn = if (s.hasNonNullValue)
              s.genericGetMin.asInstanceOf[Comparable[Any]] else null
            val bmx = if (s.hasNonNullValue)
              s.genericGetMax.asInstanceOf[Comparable[Any]] else null
            (if (mn == null || (bmn != null && statCmp(bmn, mn) < 0)) bmn else mn,
             if (mx == null || (bmx != null && statCmp(bmx, mx) > 0)) bmx else mx,
             nu + s.getNumNulls)
          }
        }
      })
      val root = mapper.createObjectNode()
      // Stats format version. v2 = string min/max merged across row
      // groups in UNSIGNED byte order (statCmp). Stats lacking the
      // marker may predate that fix — written with the signed
      // Binary.compareTo merge, which could record a max BELOW the
      // true max for non-ASCII strings in multi-row-group files — so
      // the reader only trusts STRING bounds from v2+ stats
      // (statsAdmit); numeric orders were never affected. OPTIMIZE
      // rewrites files and regenerates their stats, which upgrades a
      // pre-v2 table in place.
      root.put("statsVersion", 2)
      root.put("numRecords", numRecords)
      val minN = root.putObject("minValues")
      val maxN = root.putObject("maxValues")
      val nullN = root.putObject("nullCount")
      def putVal(o: ObjectNode, k: String, v: Any): Boolean = v match {
        case null                => true // all-null column: nullCount alone
        case i: java.lang.Integer => o.put(k, i.intValue()); true
        case l: java.lang.Long    => o.put(k, l.longValue()); true
        case f: java.lang.Float   => o.put(k, f.floatValue()); true
        case d: java.lang.Double  => o.put(k, d.doubleValue()); true
        case b: java.lang.Boolean => o.put(k, b.booleanValue()); true
        case b: Binary =>
          val str = b.toStringUsingUTF8
          if (str.length <= 64) { o.put(k, str); true } else false
        case _ => false
      }
      agg.foreach {
        case (name, Some((mn, mx, nulls))) =>
          if (putVal(minN, name, mn) && putVal(maxN, name, mx))
            nullN.put(name, nulls)
          else { minN.remove(name); maxN.remove(name) }
        case _ => ()
      }
      Some(mapper.writeValueAsString(root))
    }
  } catch { case scala.util.control.NonFatal(_) => None }
}
