package graft

import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.pipeline._

/** The medallion write path's per-batch fixed cost: one commit per
  * table per batch (the minhash fold's state and gold tables through
  * [[TableFormat.scd1MergeRemoving]]), audit appends that start no
  * Spark job, merge-key validation inside the DQ pass, and a failed
  * run whose audit row cannot hide its error.
  */
class WritePathSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private val formats: Seq[(String, TableFormat)] = Seq(
    "delta-log" -> DeltaLogTableFormat,
    "snapshot" -> SnapshotTableFormat,
    "bucketed" -> BucketedTableFormat(buckets = 8))

  for ((label, fmt) <- formats)
    test(s"scd1MergeRemoving removes and upserts in one commit ($label)") {
      val path = tmp("graft_mr") + "/t"
      fmt.scd1Merge(spark, path,
        Seq((1L, "a", 0L), (2L, "b", 0L), (3L, "c", 0L), (5L, "e", 0L))
          .toDF("id", "v", "_ord"), Seq("id"), "_ord", compareExclude = Nil)
      val before = fmt.currentVersion(path).get
      // 1 and 3 leave; 2 is both removed and upserted (it stays, with
      // the new row); 4 is new; 9 is absent (a no-op removal)
      fmt.scd1MergeRemoving(spark, path,
        Seq((2L, "b2", 1L), (4L, "d", 1L)).toDF("id", "v", "_ord"),
        Seq(1L, 2L, 3L, 9L).toDF("id"), Seq("id"), "_ord",
        compareExclude = Nil)
      assert(fmt.currentVersion(path).get == before + 1)
      val rows = fmt.read(spark, path).select("id", "v").as[(Long, String)]
        .collect().sorted.toSeq
      assert(rows == Seq((2L, "b2"), (4L, "d"), (5L, "e")), rows.mkString("; "))
      assert(fmt.read(spark, path).columns.toSeq == Seq("id", "v", "_ord"))
    }

  test("a bucketed removal that empties a bucket leaves none of its rows live") {
    val fmt = BucketedTableFormat(buckets = 8)
    def bucket(id: Long): Long = spark.range(1)
      .select(pmod(xxhash64(lit(id)), lit(8L))).head.getLong(0)
    val ids = (1L to 40L).toSeq
    val upsert = 100L
    // every key of one bucket the upsert does not touch: the commit
    // writes nothing for that bucket, and its old file must still go
    val emptied = ids.filter(i => bucket(i) == (bucket(upsert) + 1) % 8)
    assert(emptied.nonEmpty)
    val path = tmp("graft_mr_empty") + "/t"
    fmt.scd1Merge(spark, path, ids.map(i => (i, s"v$i", 0L)).toDF("id", "v", "_ord"),
      Seq("id"), "_ord", compareExclude = Nil)
    fmt.scd1MergeRemoving(spark, path, Seq((upsert, "new", 1L)).toDF("id", "v", "_ord"),
      emptied.toDF("id"), Seq("id"), "_ord", compareExclude = Nil)
    val got = fmt.read(spark, path).select("id").as[Long].collect().sorted.toSeq
    assert(got == (ids.filterNot(emptied.contains) :+ upsert).sorted)
  }

  /** A minhash fold over fresh state and gold, tracking the corpus it
    * should equal.
    */
  private class FoldRun(fmt: TableFormat) {
    val stateDir = tmp("graft_fold_state")
    val gold = tmp("graft_fold_gold") + "/t"
    private val P = (3, 16, 4, 0.5) // n, numPerm, bands, threshold
    private var corpus = Map.empty[Long, String]
    val tables = Seq("docs", "groups", "bands").map(t => s"$stateDir/$t") :+ gold
    def versions: Seq[Int] = tables.map(t => fmt.currentVersion(t).get)

    def fold(ord: Long, rows: Seq[(Long, String)],
             deletes: Seq[Long] = Nil): Unit = {
      corpus = corpus ++ rows.toMap -- deletes -- rows.filter(_._2 == null).map(_._1)
      Dedup.minhashLshStatsIncremental(spark, rows.toDF("doc_id", "text"),
        "doc_id", "text", stateDir, gold, batchOrd = ord, n = P._1,
        numPerm = P._2, bands = P._3, threshold = P._4,
        deletes = if (deletes.isEmpty) None else Some(deletes.toDF("doc_id")),
        fmt = fmt)
    }

    /** Gold equals the batch operator over the corpus, and no group
      * without a member is left in `groups` or `bands`.
      */
    def check(): Unit = {
      val truth = Dedup.minhashLshStats(corpus.toSeq.toDF("doc_id", "text"),
          "doc_id", "text", n = P._1, numPerm = P._2, bands = P._3,
          threshold = P._4)
        .select("doc_id", "n_candidates", "n_near").as[(Long, Long, Long)]
        .collect().sorted.toSeq
      val got = fmt.read(spark, gold).select("id", "n_candidates", "n_near")
        .as[(Long, Long, Long)].collect().sorted.toSeq
      assert(got == truth, s"gold ${got.mkString("; ")} vs batch ${truth.mkString("; ")}")
      val live = fmt.read(spark, s"$stateDir/docs").select("chash").distinct()
      assert(fmt.read(spark, s"$stateDir/groups").select("chash")
        .except(live).count() == 0)
      assert(fmt.read(spark, s"$stateDir/bands").select("chash").distinct()
        .except(live).count() == 0)
    }

    def advancedSince(before: Seq[Int]): Seq[Int] =
      versions.zip(before).map { case (a, b) => a - b }
  }

  private val dup = "alpha beta gamma delta epsilon zeta eta theta"
  private val firstBatch: Seq[(Long, String)] = (1L, dup) +: (2L, dup + " iota") +:
    (3L to 12L).map(i => (i, s"filler words number $i distinct piece"))

  for ((label, fmt) <- formats)
    test(s"minhash fold: an update batch commits docs, groups, bands and gold once each ($label)") {
      val run = new FoldRun(fmt)
      run.fold(0L, firstBatch)
      val before = run.versions
      // updates re-key docs 3 and 4 (their old groups lose their last
      // member: the orphan sweep), doc 5 is hard-deleted, 13 is new
      run.fold(1L, Seq((3L, dup), (4L, "brand new content for four"),
        (13L, dup + " kappa")), deletes = Seq(5L))
      val moved = run.advancedSince(before)
      assert(moved == Seq(1, 1, 1, 1), s"versions advanced by $moved")
      run.check()
    }

  for ((label, fmt) <- formats)
    test(s"minhash fold: a batch with no live doc sweeps a lone doc's group ($label)") {
      val run = new FoldRun(fmt)
      run.fold(0L, firstBatch)
      // deletes only: doc 7 is alone in its group, which must leave
      // groups and bands
      val before = run.versions
      run.fold(1L, Seq.empty, deletes = Seq(7L))
      val moved = run.advancedSince(before)
      assert(moved == Seq(1, 1, 1, 1), s"versions advanced by $moved")
      run.check()
      // an update to null text retracts like a delete: doc 8 is alone too
      run.fold(2L, Seq((8L, null: String)))
      run.check()
    }

  /** `pq.read_table` of a parquet directory: schema with field
    * nullability and footer metadata, then the rows.
    */
  private def pyarrowDump(dir: String): Option[String] = {
    val py =
      """import sys, pyarrow.parquet as pq
        |t = pq.read_table(sys.argv[1])
        |md = {k.decode(): v.decode() for k, v in (t.schema.metadata or {}).items()}
        |print([(f.name, str(f.type), f.nullable) for f in t.schema])
        |print(sorted(md.items()))
        |print(sorted(map(repr, t.to_pylist())))""".stripMargin
    scala.util.Try(Seq("python3", "-c", py, dir).!!(ProcessLogger(_ => ()))).toOption
  }

  test("an audit append starts no Spark job and reads back as df.write's file does") {
    val ts = java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456")
    val frames: Seq[(String, DataFrame)] = Seq(
      "audit_log" -> Audit.log(spark, "t", "merge", MergeStats(1, 2, 3), "job"),
      "run_log" -> Audit.runRecord(spark, "job", "run", 1000L, 2500L, 2, "success"),
      // every column type the audit tables carry, with fixed values
      "fixed" -> Seq(("a", 1L, 2, 1.5, true, ts), ("b", -1L, 0, 0.0, false, ts))
        .toDF("s", "l", "i", "d", "b", "ts"))
    for ((name, df) <- frames) {
      val viaWrite = tmp(s"graft_aw_$name")
      df.write.mode("append").parquet(viaWrite)
      val viaAppend = tmp(s"graft_aa_$name") + "/t"
      assert(jobsDuring { Audit.append(df, viaAppend); () } == 0, name)
      val files = Files.list(Paths.get(viaAppend)).toArray.map(_.toString)
      assert(files.count(_.endsWith(".parquet")) == 1 &&
        files.exists(_.endsWith("_SUCCESS")), files.mkString(", "))
      val w = spark.read.parquet(viaWrite)
      val a = spark.read.parquet(viaAppend)
      assert(a.schema == w.schema, name)
      // the records stamp the wall clock per evaluation; compare the
      // rest of each row
      val stable = w.columns.filterNot(Set("audit_timestamp", "audit_user"))
      assert(a.select(stable.map(col): _*).collect().map(_.toString).sorted
        .sameElements(w.select(stable.map(col): _*).collect().map(_.toString).sorted), name)
      if (name == "fixed") {
        val (pw, pa) = (pyarrowDump(viaWrite), pyarrowDump(viaAppend))
        assume(pw.isDefined, "python3 with pyarrow is not available")
        assert(pa == pw, s"pyarrow: ${pa.getOrElse("")} vs ${pw.getOrElse("")}")
      } else {
        // schema and footer lines only: the wall-clock values differ
        def head2(s: Option[String]) = s.map(_.linesIterator.take(2).toList)
        assert(head2(pyarrowDump(viaAppend)) == head2(pyarrowDump(viaWrite)), name)
      }
    }
  }

  test("dq_results rows written from the driver read back as df.write's file does") {
    // the DQ frame's collect IS the DQ pass; its rows are then written
    // on the driver under the frame's schema
    val dq = graft.dq.DataQuality.evaluate(
        Seq((1L, -2.0), (2L, 3.0)).toDF("id", "amount"),
        Seq(graft.dq.NotNull("id"), graft.dq.InRange("amount", 0.0, 1e12)))
      .withColumn("layer", lit("bronze"))
    val viaWrite = tmp("graft_dqw")
    dq.write.mode("append").parquet(viaWrite)
    val viaAppend = tmp("graft_dqa") + "/t"
    Audit.append(spark, dq.collect().toSeq, dq.schema, viaAppend)
    assert(spark.read.parquet(viaAppend).schema == spark.read.parquet(viaWrite).schema)
    val (pw, pa) = (pyarrowDump(viaWrite), pyarrowDump(viaAppend))
    assume(pw.isDefined, "python3 with pyarrow is not available")
    assert(pa == pw, s"pyarrow: ${pa.getOrElse("")} vs ${pw.getOrElse("")}")
  }

  test("a null key on the second merge target fails before the first target's merge commits") {
    val dir = tmp("graft_nullkey2")
    Seq((1L, Some(10L)), (2L, None)).toDF("id", "k2").write.parquet(s"$dir/src")
    val cfg = IngestConfig(
      source = SourceConfig("parquet", s"$dir/src"),
      writes = Seq(
        WriteConfig(s"$dir/t1", mode = "merge", keys = Seq("id")),
        WriteConfig(s"$dir/t2", mode = "merge", keys = Seq("k2"))),
      auditTablePath = Some(s"$dir/audit"))
    val e = intercept[IllegalArgumentException](IngestJob.run(spark, cfg))
    assert(e.getMessage.contains("null merge keys present (k2)"), e.getMessage)
    assert(!MergeTable.exists(s"$dir/t1") && !MergeTable.exists(s"$dir/t2"))
    assert(spark.read.parquet(s"$dir/audit/run_log").head.getAs[String]("status")
      .startsWith("failed: IllegalArgument"))
  }

  test("a failed run's audit row cannot hide its error") {
    val dir = tmp("graft_masking")
    Seq((Some(1L), "a"), (None, "b")).toDF("id", "v").write.parquet(s"$dir/src")
    // run_log cannot be appended to: it is a regular file
    Files.createDirectories(Paths.get(s"$dir/audit"))
    Files.write(Paths.get(s"$dir/audit/run_log"), "not a directory".getBytes)
    val cfg = IngestConfig(
      source = SourceConfig("parquet", s"$dir/src"),
      writes = Seq(WriteConfig(s"$dir/t", mode = "merge", keys = Seq("id"))),
      auditTablePath = Some(s"$dir/audit"))
    val e = intercept[IllegalArgumentException](IngestJob.run(spark, cfg))
    assert(e.getMessage.contains("null merge keys"), e.getMessage)
    assert(e.getSuppressed.length == 1, e.getSuppressed.mkString("; "))
  }
}
