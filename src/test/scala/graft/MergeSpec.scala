package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.pipeline.{MergeTable, SnapshotTableFormat, TableFormat}

class MergeSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_merge").toString

  private def tableHash(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    df.select(md5(concat_ws("", cols.map(_.cast("string")): _*)).as("h"))
      .agg(sum(conv(substring(col("h"), 1, 8), 16, 10).cast("long")).as("s"))
      .collect()(0).getLong(0).toString
  }

  private def updates1 = Seq(
    (1L, "a", 10.0, 1), (2L, "b", 20.0, 1), (3L, "c", 30.0, 1),
    // duplicate key 3 with SAME ord → tiebreak must be deterministic
    (3L, "c2", 31.0, 1)
  ).toDF("id", "name", "val", "ord")

  private def updates2 = Seq(
    (2L, "b9", 21.0, 2), (4L, "d", 40.0, 2)
  ).toDF("id", "name", "val", "ord")

  test("scd1 merge is deterministic across re-runs (equal-ord ties)") {
    val hashes = (1 to 3).map { _ =>
      val p = tmp()
      MergeTable.scd1Merge(spark, p, updates1.repartition(7), Seq("id"), "ord")
      MergeTable.scd1Merge(spark, p, updates2.repartition(3), Seq("id"), "ord")
      tableHash(MergeTable.read(spark, p))
    }
    assert(hashes.distinct.size == 1, s"non-deterministic merges: $hashes")
  }

  test("scd1 merge stats are computed from the write job itself") {
    val p = tmp()
    val s0 = MergeTable.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    assert(s0.inserted == 3 && s0.updated == 0 && s0.deleted == 0)
    val s1 = MergeTable.scd1Merge(spark, p, updates2, Seq("id"), "ord")
    assert(s1.inserted == 1, s"expected 1 insert (key 4), got $s1")
    assert(s1.updated == 1, s"expected 1 update (key 2), got $s1")
    assert(s1.deleted == 0)
    // re-merging identical data must be a no-op (0 updates)
    val s2 = MergeTable.scd1Merge(spark, p, updates2, Seq("id"), "ord")
    assert(s2.inserted == 0 && s2.updated == 0, s"re-merge not a no-op: $s2")
    assert(MergeTable.read(spark, p).count() == 4)
  }

  test("scd1 deleteMissing drops absent keys and counts them") {
    val p = tmp()
    MergeTable.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    val s = MergeTable.scd1Merge(spark, p, updates2, Seq("id"), "ord",
      deleteMissing = true)
    assert(s.deleted == 2, s"keys 1,3 should be deleted: $s")
    assert(MergeTable.read(spark, p).select("id").as[Long].collect().sorted
      .sameElements(Array(2L, 4L)))
  }

  test("scd2 merge versions changed rows and keeps history") {
    val p = tmp()
    MergeTable.scd2Merge(spark, p, updates1, Seq("id"), "ord")
    val s = MergeTable.scd2Merge(spark, p, updates2, Seq("id"), "ord")
    assert(s.inserted == 2, s"new version for key 2 + new key 4: $s")
    assert(s.updated == 1, s"closed old version of key 2: $s")
    val t = MergeTable.read(spark, p)
    assert(t.filter(col("is_current") === 1).count() == 4)
    assert(t.filter(col("id") === 2).count() == 2) // old + new version
    assert(t.filter(col("id") === 2 && col("is_current") === 0 &&
      col("end_time").isNotNull).count() == 1)
  }

  test("scd2 change detection ignores compare-excluded control columns") {
    val p = tmp()
    val withCtrl = updates1.withColumn("row_creation_time", current_timestamp())
    MergeTable.scd2Merge(spark, p, withCtrl, Seq("id"), "ord")
    // same business data, new wall-clock control column → no new versions
    val again = updates1.withColumn("row_creation_time",
      current_timestamp() + expr("INTERVAL 1 HOUR"))
    val s = MergeTable.scd2Merge(spark, p, again, Seq("id"), "ord")
    assert(s.inserted == 0 && s.updated == 0,
      s"control-column churn created spurious history: $s")
  }

  test("partition-pruned merge rewrites only touched partitions") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val p = tmp()
    val base = Seq(
      (1L, "a", 1, 0L), (2L, "b", 1, 0L),   // bucket 0
      (3L, "c", 1, 1L), (4L, "d", 1, 1L)    // bucket 1
    ).toDF("id", "v", "ord", "bucket")
    MergeTable.scd1MergePruned(spark, p, base, Seq("id"), "ord", "bucket",
      compareExclude = Nil)
    val filesBefore = JFiles.list(Paths.get(p, "v=0", "bucket=0"))
      .iterator().asScala.map(_.getFileName.toString).toSet

    // updates touch ONLY bucket 1
    val upd = Seq((3L, "c9", 2, 1L), (5L, "e", 2, 1L))
      .toDF("id", "v", "ord", "bucket")
    val s = MergeTable.scd1MergePruned(spark, p, upd, Seq("id"), "ord", "bucket",
      compareExclude = Nil)
    assert(s.inserted == 1 && s.updated == 1, s"$s")

    val rows = MergeTable.read(spark, p)
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(rows.sameElements(Array((1L, "a"), (2L, "b"), (3L, "c9"),
      (4L, "d"), (5L, "e"))), rows.mkString(","))

    // untouched bucket 0 files were carried over byte-for-byte
    val filesAfter = JFiles.list(Paths.get(p, "v=1", "bucket=0"))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(filesAfter == filesBefore,
      s"untouched partition must be copied, not rewritten: $filesBefore vs $filesAfter")
  }

  test("scd2 pruned merge versions touched partitions, copies the rest") {
    import java.nio.file.{Files => JFiles, Paths}
    import scala.jdk.CollectionConverters._
    val p = tmp()
    val base = Seq(
      (1L, "a", 1, 0L), (2L, "b", 1, 0L),
      (3L, "c", 1, 1L), (4L, "d", 1, 1L)
    ).toDF("id", "v", "ord", "bucket")
    MergeTable.scd2MergePruned(spark, p, base, Seq("id"), "ord", "bucket",
      compareExclude = Nil)
    val before = JFiles.list(Paths.get(p, "v=0", "bucket=0"))
      .iterator().asScala.map(_.getFileName.toString).toSet

    val upd = Seq((3L, "c9", 2, 1L)).toDF("id", "v", "ord", "bucket")
    val s = MergeTable.scd2MergePruned(spark, p, upd, Seq("id"), "ord", "bucket",
      compareExclude = Nil)
    assert(s.inserted == 1 && s.updated == 1, s"$s")

    val t = MergeTable.read(spark, p)
    assert(t.count() == 5, "4 current + 1 closed version")
    assert(t.filter(col("id") === 3 && col("is_current") === 0).count() == 1)
    assert(t.filter(col("is_current") === 1).count() == 4)
    val after = JFiles.list(Paths.get(p, "v=1", "bucket=0"))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(after == before, "untouched partition must be copied")
  }

  test("additive schema evolution: new source columns widen the table") {
    val p = tmp()
    MergeTable.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    val widened = Seq((2L, "b9", 21.0, 2, "extra-b"), (9L, "z", 90.0, 2, "extra-z"))
      .toDF("id", "name", "val", "ord", "note")
    val s = MergeTable.scd1Merge(spark, p, widened, Seq("id"), "ord")
    assert(s.inserted == 1 && s.updated == 1, s"$s")
    val t = MergeTable.read(spark, p)
    assert(t.columns.contains("note"))
    val notes = t.select("id", "note").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(notes(2L).contains("extra-b") && notes(9L).contains("extra-z"))
    assert(notes(1L).isEmpty && notes(3L).isEmpty,
      "historical rows carry null for evolved columns")
  }

  test("time travel reads old versions; vacuum drops them") {
    val p = tmp()
    MergeTable.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    MergeTable.scd1Merge(spark, p, updates2, Seq("id"), "ord")
    val s3 = Seq((6L, "f", 60.0, 3)).toDF("id", "name", "val", "ord")
    MergeTable.scd1Merge(spark, p, s3, Seq("id"), "ord")
    assert(MergeTable.versions(p) == Seq(0, 1, 2))
    assert(MergeTable.readVersion(spark, p, 0).count() == 3)
    assert(MergeTable.readVersion(spark, p, 2).count() == 5)
    val dropped = MergeTable.vacuum(p, keepVersions = 1)
    assert(dropped == Seq(0, 1), dropped.mkString(","))
    assert(MergeTable.versions(p) == Seq(2))
    assert(MergeTable.read(spark, p).count() == 5) // current unaffected
    intercept[IllegalStateException](MergeTable.readVersion(spark, p, 0))
  }

  test("requireNonNullKeys is a no-op on an empty updates frame") {
    val empty = updates1.filter(col("id") < 0)
    Cdc.requireNonNullKeys(empty, Seq("id")) // must not throw
    val withNull = Seq((Some(1L), "a"), (None, "b")).toDF("id", "v")
    intercept[IllegalArgumentException](
      Cdc.requireNonNullKeys(withNull, Seq("id")))
  }

  test("empty updates frame is a no-op merge, not a crash") {
    val p = tmp()
    MergeTable.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    val s = MergeTable.scd1Merge(spark, p, updates1.filter(col("id") < 0),
      Seq("id"), "ord")
    assert(s.inserted == 0 && s.updated == 0 && s.deleted == 0, s"$s")
    assert(MergeTable.read(spark, p).count() == 3)
  }

  test("mergeOrderedByFile applies deleteMissing once over ALL files") {
    val p = tmp()
    val base = Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 1), (9L, "gone", 1))
      .toDF("id", "v", "ord")
    MergeTable.scd1Merge(spark, p, base, Seq("id"), "ord")
    // full extract split across two files: keys 1,2 in f1; key 3 in f2.
    // Per-file deleteMissing would drop 1,2 while merging f2; the
    // single end-phase delete must only drop key 9.
    val ts1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:01")
    val ts2 = java.sql.Timestamp.valueOf("2026-01-01 00:00:02")
    val multi = Seq(
      (1L, "a2", 2, "f1", ts1), (2L, "b2", 2, "f1", ts1),
      (3L, "c2", 2, "f2", ts2)
    ).toDF("id", "v", "ord", "file_path", "file_modification_time")
    val stats = MergeTable.mergeOrderedByFile(spark, p,
      multi, Seq("id"), "ord", scdType = 1, deleteMissing = true)
    assert(stats.last.deleted == 1, s"only key 9 deleted: ${stats.last}")
    val ids = MergeTable.read(spark, p).select("id").as[Long].collect().sorted
    assert(ids.sameElements(Array(1L, 2L, 3L)), ids.mkString(","))
  }

  test("pruned merge carries escaped partition directories exactly once") {
    // partition values with characters Spark URL-escapes in directory
    // names (space, colon) — value-based dir matching would duplicate
    // the rewritten partition's rows with a stale carried copy
    val p = tmp()
    val base = Seq(
      (1L, "a", 1, "with space"), (2L, "b", 1, "with:colon"),
      (3L, "c", 1, "plain")
    ).toDF("id", "v", "ord", "bucket")
    MergeTable.scd1MergePruned(spark, p, base, Seq("id"), "ord", "bucket",
      compareExclude = Nil)
    val upd = Seq((1L, "a9", 2, "with space")).toDF("id", "v", "ord", "bucket")
    val s = MergeTable.scd1MergePruned(spark, p, upd, Seq("id"), "ord", "bucket",
      compareExclude = Nil)
    assert(s.updated == 1, s"$s")
    val t = MergeTable.read(spark, p)
    assert(t.count() == 3, s"duplicated rows after carry: ${t.count()}")
    assert(t.filter(col("id") === 1).select("v").as[String].collect()
      .sameElements(Array("a9")))
  }

  test("pruned merge rejects null partition values") {
    val p = tmp()
    val base = Seq((1L, "a", 1, Some("x"))).toDF("id", "v", "ord", "bucket")
    MergeTable.scd1MergePruned(spark, p, base, Seq("id"), "ord", "bucket",
      compareExclude = Nil)
    val nullPart = Seq((2L, "b", 2, Option.empty[String]))
      .toDF("id", "v", "ord", "bucket")
    intercept[IllegalArgumentException](
      MergeTable.scd1MergePruned(spark, p, nullPart, Seq("id"), "ord", "bucket",
        compareExclude = Nil))
  }

  test("TableFormat seam: pipeline code written to the trait round-trips") {
    // a consumer programs against TableFormat; the bundled snapshot
    // implementation must behave exactly like direct MergeTable use
    val fmt: TableFormat = SnapshotTableFormat
    val p = tmp()
    assert(!fmt.exists(p) && fmt.currentVersion(p).isEmpty)
    fmt.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    fmt.scd1Merge(spark, p, updates2, Seq("id"), "ord")
    assert(fmt.exists(p) && fmt.currentVersion(p).contains(1))
    assert(fmt.versions(p) == Seq(0, 1))
    assert(tableHash(fmt.read(spark, p)) == tableHash(MergeTable.read(spark, p)))
    assert(fmt.readVersion(spark, p, 0).count() == 3)
    val s = fmt.scd2Merge(spark, tmp(), updates1, Seq("id"), "ord")
    assert(s.inserted == 3)
    fmt.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    assert(fmt.vacuum(p, keepVersions = 2) == Seq(0))
  }

  test("catalog registration: merge → register → spark.table reads the current version") {
    // the reference creates an external metastore table after each
    // load (writers/writer.py:122) so downstream SQL users query by
    // name; registerTable is that shim for both bundled formats
    for ((fmt, tag) <- Seq(
        (SnapshotTableFormat: TableFormat, "snap"),
        (graft.pipeline.DeltaLogTableFormat: TableFormat, "delta"))) {
      val p = tmp()
      val name = s"graft_reg_${tag}_${System.nanoTime()}"
      fmt.scd1Merge(spark, p, updates1, Seq("id"), "ord")
      fmt.registerTable(spark, p, name)
      assert(tableHash(spark.table(name)) == tableHash(fmt.read(spark, p)),
        s"$tag: registered table must read the current version")
      // a later merge lands a NEW version; re-register — exactly as
      // the reference re-creates its external table per load — and
      // the catalog name follows
      fmt.scd1Merge(spark, p, updates2, Seq("id"), "ord")
      fmt.registerTable(spark, p, name)
      assert(tableHash(spark.table(name)) == tableHash(fmt.read(spark, p)),
        s"$tag: re-registration must pick up the merged version")
      assert(spark.table(name).count() == 4)
      // the engine's own by-name read path resolves it too
      assert(tableHash(graft.sources.Sources.readTable(spark, name)) ==
        tableHash(fmt.read(spark, p)))
      // DROP removes only the catalog pointer (external semantics);
      // the format still owns its files
      spark.sql(s"DROP TABLE $name")
      assert(fmt.read(spark, p).count() == 4, s"$tag: data must survive DROP")
    }
  }

  test("registration compacts-then-registers layouts a LOCATION scan would misread") {
    // delta-log + write-partitioning: the physical __pv dirs would
    // partition-discover as phantom columns on a raw parquet scan,
    // and a pruned commit interleaves live/stale files — so a bare
    // LOCATION is still refused (registrableLocation None), but
    // registerTable now runs an eager compactFull (dataChange=false)
    // and registers the fresh single-subdir commit with the DECLARED
    // schema: full correct rows, no phantom partition columns
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    val base = (1 to 40).map(i => (i.toLong, s"v$i", 1,
      if (i <= 20) "lo" else "hi")).toDF("id", "v", "ord", "bucket")
    fmt.scd1MergePruned(spark, p, base, Seq("id"), "ord", "bucket")
    // make the layout genuinely pruned: a second merge touching only
    // one partition interleaves live files across commit subdirs
    fmt.scd1MergePruned(spark, p,
      Seq((1L, "v1b", 2, "lo")).toDF("id", "v", "ord", "bucket"),
      Seq("id"), "ord", "bucket")
    assert(fmt.registrableLocation(spark, p).isEmpty,
      "a pruned partitioned layout must never register as a bare LOCATION")
    val name = s"graft_reg_pruned_${System.nanoTime()}"
    fmt.registerTable(spark, p, name)
    assert(spark.table(name).columns.sameElements(
      fmt.read(spark, p).columns),
      "registered schema must be the declared one — no phantom __pv columns")
    assert(tableHash(spark.table(name)) == tableHash(fmt.read(spark, p)),
      "registered table must read the exact current rows")
    assert(spark.table(name).count() == 40)
    // the compact preserved history: time travel still reaches the
    // pre-registration version (dataChange=false commit)
    assert(fmt.read(spark, p).filter(col("id") === 1L)
      .head.getString(1) == "v1b")
    // a later pruned merge + re-register follows the new version —
    // the reference's re-create-external-table-per-load contract
    fmt.scd1MergePruned(spark, p,
      Seq((40L, "v40b", 3, "hi")).toDF("id", "v", "ord", "bucket"),
      Seq("id"), "ord", "bucket")
    fmt.registerTable(spark, p, name)
    assert(tableHash(spark.table(name)) == tableHash(fmt.read(spark, p)),
      "re-registration must pick up the newly merged version")
    // RE-registration with NO intervening writes must NOT re-compact:
    // the live set is already exactly one commit subdir's complete
    // listing (the prior registration's compactFull), so register
    // reuses it directly — compact-per-register-call was a
    // full-table rewrite per call at 100 TB
    val vAfter = fmt.currentVersion(p).get
    fmt.registerTable(spark, p, name)
    assert(fmt.currentVersion(p).contains(vAfter),
      "idempotent re-registration must not commit another compactFull")
    assert(tableHash(spark.table(name)) == tableHash(fmt.read(spark, p)))
    spark.sql(s"DROP TABLE `$name`")
    // ...and a FRESH partitioned table (one partitioned write — live
    // set already one whole subdir) registers with no compact at all
    val fresh = tmp()
    fmt.scd1MergePruned(spark, fresh, base, Seq("id"), "ord", "bucket")
    val v0 = fmt.currentVersion(fresh).get
    val fname = s"graft_reg_fresh_${System.nanoTime()}"
    fmt.registerTable(spark, fresh, fname)
    assert(fmt.currentVersion(fresh).contains(v0),
      "a fresh partitioned write is already one whole subdir — no compact")
    assert(tableHash(spark.table(fname)) == tableHash(fmt.read(spark, fresh)))
    assert(spark.table(fname).count() == 40)
    spark.sql(s"DROP TABLE `$fname`")
    // the SNAPSHOT format registers the same partitioned shape fine:
    // its version IS a directory, and LOCATION v=N runs the exact
    // partition discovery MergeTable.read performs
    val sp = tmp()
    MergeTable.scd1MergePruned(spark, sp, base, Seq("id"), "ord", "bucket",
      compareExclude = Nil)
    val snapName = s"graft_reg_part_${System.nanoTime()}"
    SnapshotTableFormat.registerTable(spark, sp, snapName)
    assert(tableHash(spark.table(snapName)) ==
      tableHash(MergeTable.read(spark, sp)))
    spark.sql(s"DROP TABLE $snapName")
  }

  test("bucketed format: same seam contract, layout invisible, deleteMissing refused") {
    // the key-hash-bucketed decorator behaves as any TableFormat at
    // the seam: identical result sets to the other formats, scd2
    // history through the same trait, the __kbucket layout column
    // never visible via read/readVersion/registration, the stats-
    // pruned delete, and the documented deleteMissing refusal
    val fmt: TableFormat = graft.pipeline.BucketedTableFormat(buckets = 4)
    val p = tmp()
    fmt.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    fmt.scd1Merge(spark, p, updates2, Seq("id"), "ord")
    val sp = tmp()
    SnapshotTableFormat.scd1Merge(spark, sp, updates1, Seq("id"), "ord")
    SnapshotTableFormat.scd1Merge(spark, sp, updates2, Seq("id"), "ord")
    assert(tableHash(fmt.read(spark, p)) ==
      tableHash(SnapshotTableFormat.read(spark, sp)))
    assert(!fmt.read(spark, p).columns.contains("__kbucket") &&
      !fmt.readVersion(spark, p, 0).columns.contains("__kbucket"))
    // one file per touched bucket per commit (the onePerTuple write)
    val files0 = graft.pipeline.DeltaLogTableFormat
      .readVersion(spark, p, 0).inputFiles.length
    assert(files0 <= 4, s"v0 must hold at most one file per bucket: $files0")
    // scd2 through the same trait equals the delta-log scd2
    fmt.scd2Merge(spark, p + "_h", updates1, Seq("id"), "ord")
    fmt.scd2Merge(spark, p + "_h", updates2, Seq("id"), "ord")
    assert(fmt.read(spark, p + "_h")
      .filter(col("is_current") === 1).count() == 4)
    assert(!fmt.read(spark, p + "_h").columns.contains("__kbucket"))
    // keyed delete routes through the stats-pruned path
    fmt.deleteKeys(spark, p, Seq((2L, "x", 9)).toDF("id", "v", "ord")
      .select("id"), Seq("id"))
    assert(fmt.read(spark, p).filter(col("id") === 2L).count() == 0)
    // registration exposes the USER schema — no layout column
    val name = s"graft_reg_bkt_${System.nanoTime()}"
    fmt.registerTable(spark, p, name)
    assert(!spark.table(name).columns.contains("__kbucket"),
      spark.table(name).columns.mkString(","))
    assert(tableHash(spark.table(name)) == tableHash(fmt.read(spark, p)))
    spark.sql(s"DROP TABLE `$name`")
    // contract refusals: deleteMissing and the reserved column
    intercept[IllegalArgumentException] {
      fmt.scd1Merge(spark, p, updates1, Seq("id"), "ord",
        deleteMissing = true)
    }
    intercept[IllegalArgumentException] {
      fmt.scd1Merge(spark, p,
        updates1.withColumn("__kbucket", lit(1)), Seq("id"), "ord")
    }
  }

  test("bucketed format: stamped spec fails fast on count/key drift; relayout re-buckets atomically") {
    import graft.pipeline.BucketedTableFormat
    // the r16-verdict hazard: __kbucket is recomputed from the
    // constructor N on every merge, so changing N (config edit, typo,
    // two jobs sharing a state dir) sends the same key to a different
    // bucket — an upsert would INSERT there while the old row stays
    // live. The spec sidecar must refuse exactly that, and the
    // explicit relayout commit must be the sanctioned escape hatch.
    val p = tmp()
    BucketedTableFormat(buckets = 4).scd1Merge(
      spark, p, updates1, Seq("id"), "ord")
    assert(BucketedTableFormat.readSpec(p).contains((4, Seq("id"))))
    // a different count is refused naming both counts
    val eN = intercept[IllegalArgumentException] {
      BucketedTableFormat(buckets = 8).scd1Merge(
        spark, p, updates2, Seq("id"), "ord")
    }
    assert(eN.getMessage.contains("buckets=4") &&
      eN.getMessage.contains("buckets=8"), eN.getMessage)
    // different merge keys are refused too (xxhash64 is
    // position-sensitive, so key identity AND order are part of the
    // layout spec)
    intercept[IllegalArgumentException] {
      BucketedTableFormat(buckets = 4).scd1Merge(
        spark, p, updates2, Seq("id", "ord"), "ord")
    }
    // deleteKeys runs the same guard
    intercept[IllegalArgumentException] {
      BucketedTableFormat(buckets = 8).deleteKeys(
        spark, p, updates2.select("id"), Seq("id"))
    }
    // and the table is untouched by every refusal
    assert(BucketedTableFormat(4).read(spark, p).count() == 3)
    // explicit relayout to 8: rows identical, spec restamped, merges
    // at the new count proceed and stay correct (no duplicate keys —
    // the corruption the guard exists to prevent)
    val before = tableHash(BucketedTableFormat(4).read(spark, p))
    assert(BucketedTableFormat(buckets = 8).relayout(spark, p).nonEmpty)
    assert(BucketedTableFormat.readSpec(p).contains((8, Seq("id"))))
    assert(tableHash(BucketedTableFormat(8).read(spark, p)) == before)
    BucketedTableFormat(buckets = 8).scd1Merge(
      spark, p, updates2, Seq("id"), "ord")
    val after = BucketedTableFormat(8).read(spark, p)
    assert(after.count() == 4)
    assert(after.groupBy(col("id")).count()
      .filter(col("count") > 1).count() == 0, "duplicate keys after relayout")
    val sp = tmp()
    SnapshotTableFormat.scd1Merge(spark, sp, updates1, Seq("id"), "ord")
    SnapshotTableFormat.scd1Merge(spark, sp, updates2, Seq("id"), "ord")
    assert(tableHash(after) == tableHash(SnapshotTableFormat.read(spark, sp)))
    // old-count merges stay refused after the relayout
    intercept[IllegalArgumentException] {
      BucketedTableFormat(buckets = 4).scd1Merge(
        spark, p, updates2, Seq("id"), "ord")
    }
    // a crashed relayout (marker present, spec/data possibly
    // disagreeing) refuses merges until relayout re-runs to completion
    val marker = java.nio.file.Paths.get(p, "_delta_log",
      "_graft_buckets.relayout")
    java.nio.file.Files.write(marker, "{\"from\":8,\"to\":16}".getBytes)
    val eM = intercept[IllegalArgumentException] {
      BucketedTableFormat(buckets = 8).scd1Merge(
        spark, p, updates2, Seq("id"), "ord")
    }
    assert(eM.getMessage.contains("relayout"), eM.getMessage)
    assert(BucketedTableFormat(buckets = 16).relayout(spark, p).nonEmpty)
    assert(!java.nio.file.Files.exists(marker))
    assert(BucketedTableFormat.readSpec(p).contains((16, Seq("id"))))
    assert(tableHash(BucketedTableFormat(16).read(spark, p)) ==
      tableHash(SnapshotTableFormat.read(spark, sp)))
  }

  test("bucketed format: layout guard holds inside commit retries; adoption and orphan-spec hardening") {
    import graft.pipeline.{BucketedTableFormat, DeltaLogTableFormat}
    // (1) the check-then-act window: validateOrStamp runs once before
    // the merge, but the commit retries — a relayout landing mid-merge
    // must refuse the retry, not let it replay stale __kbucket values.
    // revalidate is the per-attempt hook; pin its three verdicts
    // against real on-disk states, then pin that the inner merges
    // actually run their preAttempt hook inside every attempt.
    val p = tmp()
    BucketedTableFormat(buckets = 4).scd1Merge(
      spark, p, updates1, Seq("id"), "ord")
    BucketedTableFormat(4).revalidate(p, Seq("id")) // clean: passes
    // relayout completed after this merge's pre-check → spec mismatch
    assert(BucketedTableFormat(buckets = 8).relayout(spark, p).nonEmpty)
    val eSpec = intercept[IllegalArgumentException] {
      BucketedTableFormat(4).revalidate(p, Seq("id"))
    }
    assert(eSpec.getMessage.contains("mid-merge"), eSpec.getMessage)
    // relayout in flight (or crashed) → marker refusal
    val marker = java.nio.file.Paths.get(p, "_delta_log",
      "_graft_buckets.relayout")
    Files.write(marker, "{\"from\":8,\"to\":16}".getBytes)
    val eMark = intercept[IllegalArgumentException] {
      BucketedTableFormat(8).revalidate(p, Seq("id"))
    }
    assert(eMark.getMessage.contains("relayout"), eMark.getMessage)
    Files.delete(marker)
    BucketedTableFormat(8).revalidate(p, Seq("id"))
    // the hook is invoked INSIDE the attempt: a preAttempt that
    // throws must abort the commit, leaving the table version
    // untouched (deleteKeysPruned is the public seam carrying it)
    var calls = 0
    val vBefore = DeltaLogTableFormat.currentVersion(p)
    intercept[IllegalStateException] {
      DeltaLogTableFormat.deleteKeysPruned(spark, p,
        updates1.select("id"), Seq("id"),
        preAttempt = () => { calls += 1; throw new IllegalStateException("no") })
    }
    assert(calls == 1 && DeltaLogTableFormat.currentVersion(p) == vBefore)
    // and a passing hook runs exactly once on the conflict-free path
    calls = 0
    DeltaLogTableFormat.deleteKeysPruned(spark, p,
      updates1.select("id").limit(1), Seq("id"),
      preAttempt = () => calls += 1)
    assert(calls == 1)

    // (2) adopting a table whose live files carry NO bucket token
    // (written unbucketed) must refuse instead of stamping a spec the
    // data does not satisfy (the pre-fix check passed vacuously)
    val up = tmp()
    DeltaLogTableFormat.scd1Merge(spark, up, updates1, Seq("id"), "ord")
    val eAdopt = intercept[IllegalArgumentException] {
      BucketedTableFormat(4).scd1Merge(spark, up, updates2, Seq("id"), "ord")
    }
    assert(eAdopt.getMessage.contains("no __kbucket"), eAdopt.getMessage)
    assert(BucketedTableFormat.readSpec(up).isEmpty, "refusal must not stamp")

    // (3) an ORPHANED spec (first writer stamped, then failed before
    // its first commit) must not permanently refuse a later first
    // writer with a different legitimate spec
    val op = tmp()
    intercept[Exception] {
      BucketedTableFormat(4).scd1Merge(spark, op,
        updates1.withColumn("name",
          raise_error(lit("injected first-write failure"))),
        Seq("id"), "ord")
    }
    assert(BucketedTableFormat.readSpec(op).contains((4, Seq("id"))),
      "the abandoned writer left its stamp")
    assert(!DeltaLogTableFormat.exists(op), "no commit ever landed")
    BucketedTableFormat(8).scd1Merge(spark, op, updates1, Seq("id"), "ord")
    assert(BucketedTableFormat.readSpec(op).contains((8, Seq("id"))))
    assert(BucketedTableFormat(8).read(spark, op).count() == 3)
    // but once a table EXISTS, a mismatched spec stays refused
    intercept[IllegalArgumentException] {
      BucketedTableFormat(16).scd1Merge(spark, op, updates2, Seq("id"), "ord")
    }
  }

  test("delta-log format: same seam contract, protocol-shaped log") {
    val fmt: TableFormat = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    assert(!fmt.exists(p) && fmt.currentVersion(p).isEmpty)
    val s0 = fmt.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    assert(s0.inserted == 3)
    fmt.scd1Merge(spark, p, updates2, Seq("id"), "ord")
    assert(fmt.exists(p) && fmt.currentVersion(p).contains(1))
    assert(fmt.versions(p) == Seq(0, 1))
    // result set identical to the snapshot format running the same merges
    val sp = tmp()
    SnapshotTableFormat.scd1Merge(spark, sp, updates1, Seq("id"), "ord")
    SnapshotTableFormat.scd1Merge(spark, sp, updates2, Seq("id"), "ord")
    assert(tableHash(fmt.read(spark, p)) ==
      tableHash(SnapshotTableFormat.read(spark, sp)))
    assert(fmt.readVersion(spark, p, 0).count() == 3)
    // the log is protocol-shaped: v0 carries protocol+metaData, v1
    // removes v0's live files and adds the rewrite
    import scala.jdk.CollectionConverters._
    def actions(v: Int) = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(p, "_delta_log", f"$v%020d.json")).asScala
      .filter(_.nonEmpty).map(l => new com.fasterxml.jackson.databind
        .ObjectMapper().readTree(l))
    val v0 = actions(0)
    assert(v0.exists(_.has("protocol")) && v0.exists(_.has("metaData")))
    val v0adds = v0.count(_.has("add"))
    assert(v0adds > 0 && v0.count(_.has("remove")) == 0)
    val v1 = actions(1)
    assert(v1.count(_.has("remove")) == v0adds,
      "rewrite commit must remove every previous live file")
    assert(v1.count(_.has("add")) > 0)
    val schemaStr = v0.find(_.has("metaData")).get
      .get("metaData").get("schemaString").asText()
    assert(org.apache.spark.sql.types.DataType.fromJson(schemaStr)
      .isInstanceOf[org.apache.spark.sql.types.StructType])
    // scd2 + vacuum through the same trait
    fmt.scd2Merge(spark, p + "_h", updates1, Seq("id"), "ord")
    fmt.scd2Merge(spark, p + "_h", updates2, Seq("id"), "ord")
    assert(fmt.read(spark, p + "_h").filter(col("is_current") === 1).count() == 4)
    fmt.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    assert(fmt.vacuum(p, keepVersions = 2) == Seq(0))
    intercept[IllegalStateException](fmt.readVersion(spark, p, 0))
    assert(fmt.read(spark, p).count() == 4, "current version survives vacuum")
    // a racing writer loses the version file atomically, not silently
    // (POSIX rename would REPLACE; the commit primitive must refuse)
    val clash = java.nio.file.Paths.get(p, "_delta_log",
      f"${fmt.currentVersion(p).get}%020d.json")
    assert(java.nio.file.Files.exists(clash))
    val before = java.nio.file.Files.readAllBytes(clash)
    val raceTmp = java.nio.file.Files.write(
      java.nio.file.Paths.get(p, "_delta_log", ".race.tmp"), "{}".getBytes)
    intercept[java.nio.file.FileAlreadyExistsException] {
      graft.pipeline.DeltaLogTableFormat.publishCommit(raceTmp, clash)
    }
    assert(java.util.Arrays.equals(before,
      java.nio.file.Files.readAllBytes(clash)),
      "loser must not clobber the winner's commit")
    assert(!java.nio.file.Files.exists(raceTmp), "loser's temp cleaned up")
  }

  test("delta-log vacuum removes sidecar-only commit dirs and orphaned attempts") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import scala.jdk.CollectionConverters._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    fmt.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    fmt.scd1Merge(spark, p, updates2, Seq("id"), "ord")
    fmt.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    def commitDirs = scala.util.Using.resource(JFiles.list(JPaths.get(p)))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("files-")).toSeq.sorted)
    assert(commitDirs.size == 3)
    // an orphaned attempt: a writer that died before publishing
    val orphan = JPaths.get(p, "files-99999-deadbeef")
    JFiles.createDirectories(orphan)
    JFiles.write(orphan.resolve("part-orphan.parquet"), Array[Byte](1, 2, 3))
    assert(fmt.vacuum(p, keepVersions = 2) == Seq(0))
    // v0's dir is gone entirely — including _SUCCESS and .crc sidecars
    assert(commitDirs.size == 3, s"v0 dir must be fully removed: $commitDirs")
    assert(commitDirs.exists(_.startsWith("files-99999")))
    // orphan too old -> reclaimed; fresh orphans (in-flight writers) kept
    assert(fmt.vacuumOrphans(p, olderThanMs = Long.MaxValue).isEmpty)
    assert(fmt.vacuumOrphans(p, olderThanMs = -1000) ==
      Seq("files-99999-deadbeef"))
    assert(commitDirs.size == 2, s"after orphan vacuum: $commitDirs")
    assert(fmt.read(spark, p).count() == 4, "live data untouched")
  }

  test("delta-log pruned merge rewrites only touched partitions, copies nothing") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    // three partitions, one with a path-hostile value (the r4 lesson)
    val base = Seq(
      (1L, "a", 1, "2024-01-01"), (2L, "b", 1, "2024-01-02"),
      (3L, "c", 1, "with:colon"), (4L, "d", 1, "2024-01-02"))
      .toDF("id", "v", "ord", "bucket")
    fmt.scd1MergePruned(spark, p, base, Seq("id"), "ord", "bucket")
    val v0Live = liveFilesOf(p)
    assert(v0Live.keySet.flatMap(v0Live(_).get("bucket")).size == 3,
      s"3 partition tokens expected: $v0Live")
    // touch ONE partition
    val upd = Seq((2L, "b9", 2, "2024-01-02"), (5L, "e", 2, "2024-01-02"))
      .toDF("id", "v", "ord", "bucket")
    val stats = fmt.scd1MergePruned(spark, p, upd, Seq("id"), "ord", "bucket")
    assert(stats.inserted == 1 && stats.updated == 1)
    val v1Live = liveFilesOf(p)
    // untouched partitions' PHYSICAL files are still live — same
    // paths, zero copies (vs snapshot-format distributedCopy)
    val keptPaths = v0Live.collect {
      case (f, pv) if !pv("bucket").contains("01-02") => f }.toSet
    assert(keptPaths.subsetOf(v1Live.keySet),
      s"untouched partition files must stay live: $keptPaths vs ${v1Live.keySet}")
    // touched partition's old files are gone from the live set
    val oldTouched = v0Live.collect {
      case (f, pv) if pv("bucket").contains("01-02") => f }.toSet
    assert(oldTouched.intersect(v1Live.keySet).isEmpty,
      "rewritten partition's old files must be removed")
    // content equals an unpruned merge of the same feed
    val want = Seq((1L, "a"), (2L, "b9"), (3L, "c"), (4L, "d"), (5L, "e"))
    val got = fmt.read(spark, p).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.sameElements(want), got.mkString(","))
    // the colon partition survived intact (escaped token round-trip)
    assert(fmt.read(spark, p).filter(col("bucket") === "with:colon")
      .count() == 1)
    // time travel to v0 still works (its files are all still on disk)
    assert(fmt.readVersion(spark, p, 0).count() == 4)
    // guard: pruned merge over a table with unpartitioned commits
    val p2 = tmp()
    fmt.scd1Merge(spark, p2, base, Seq("id"), "ord")
    val e = intercept[IllegalArgumentException](
      fmt.scd1MergePruned(spark, p2, upd, Seq("id"), "ord", "bucket"))
    assert(e.getMessage.contains("partitionValues"))
    // null partition value rejected
    val nullUpd = Seq((9L, "x", 3, null.asInstanceOf[String]))
      .toDF("id", "v", "ord", "bucket")
    val e2 = intercept[IllegalArgumentException](
      fmt.scd1MergePruned(spark, p, nullUpd, Seq("id"), "ord", "bucket"))
    assert(e2.getMessage.contains("null"))
  }

  /** Live (path -> partitionValues) of the current delta-log version,
    * read back through the log JSON itself.
    */
  private def liveFilesOf(p: String): Map[String, Map[String, String]] = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val live = scala.collection.mutable.LinkedHashMap
      .empty[String, Map[String, String]]
    val logDir = java.nio.file.Paths.get(p, "_delta_log")
    val logs = scala.util.Using.resource(java.nio.file.Files.list(logDir))(
      _.iterator().asScala.map(_.toString)
        .filter(_.matches(".*/\\d{20}\\.json")).toSeq.sorted)
    logs.foreach { lf =>
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(lf))
        .asScala.filter(_.nonEmpty).foreach { line =>
          val n = mapper.readTree(line)
          if (n.has("add")) {
            val a = n.get("add")
            val pvn = a.get("partitionValues")
            live += a.get("path").asText() ->
              pvn.fieldNames().asScala.map(k => k -> pvn.get(k).asText()).toMap
          }
          if (n.has("remove")) live -= n.get("remove").get("path").asText()
        }
    }
    live.toMap
  }

  test("delta-log and snapshot formats agree on random merge sequences") {
    import SparkSpec.spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 2).foreach { trial =>
      val pS = tmp(); val pD = tmp()
      (1 to 4).foreach { step =>
        val rows = (1 to 30).map { _ =>
          (rnd.nextInt(20).toLong,
            rnd.alphanumeric.take(4).mkString, step) }
        val df = rows.toDF("id", "v", "ord")
        val delMiss = rnd.nextBoolean()
        val sS = SnapshotTableFormat.scd1Merge(spark, pS, df, Seq("id"), "ord",
          deleteMissing = delMiss)
        val sD = graft.pipeline.DeltaLogTableFormat.scd1Merge(spark, pD, df,
          Seq("id"), "ord", deleteMissing = delMiss)
        assert(sS == sD, s"trial $trial step $step stats: $sS vs $sD")
        assert(tableHash(SnapshotTableFormat.read(spark, pS)) ==
          tableHash(graft.pipeline.DeltaLogTableFormat.read(spark, pD)),
          s"trial $trial step $step (deleteMissing=$delMiss) diverged")
      }
      // and every historical version agrees too
      (0 to 3).foreach { v =>
        assert(tableHash(SnapshotTableFormat.readVersion(spark, pS, v)) ==
          tableHash(graft.pipeline.DeltaLogTableFormat.readVersion(spark, pD, v)),
          s"trial $trial version $v diverged")
      }
    }
  }

  test("delta-log format: full-delete leaves a readable empty table") {
    val fmt: TableFormat = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    fmt.scd1Merge(spark, p, updates1, Seq("id"), "ord")
    // full extract with no surviving keys deletes everything
    val none = updates1.filter(col("id") < 0)
    fmt.scd1Merge(spark, p, none, Seq("id"), "ord", deleteMissing = true)
    val out = fmt.read(spark, p)
    assert(out.count() == 0)
    assert(out.columns.contains("id"), "schema survives an empty state")
  }

  test("delta-log checkpoint: head reads come from the parquet checkpoint") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    // 11 commits -> versions 0..10; the cadence fires at v10
    (1 to 11).foreach { i =>
      fmt.scd1Merge(spark, p,
        Seq((i.toLong, s"v$i", i)).toDF("id", "v", "ord"), Seq("id"), "ord")
    }
    assert(fmt.currentVersion(p).contains(10))
    assert(fmt.lastCheckpoint(p).contains(10))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      p, "_delta_log", f"${10}%020d.checkpoint.parquet")))
    assert(fmt.read(spark, p).count() == 11)
    // time travel below the checkpoint replays JSON as before
    assert(fmt.readVersion(spark, p, 3).count() == 4)
    // corrupt the earliest commit's JSON: state loads at or after the
    // checkpoint must not even parse it — proof the checkpoint is
    // load-bearing, not decorative
    val v0 = java.nio.file.Paths.get(p, "_delta_log", f"${0}%020d.json")
    java.nio.file.Files.write(v0, "not json".getBytes)
    assert(fmt.read(spark, p).count() == 11,
      "head read must come from the checkpoint")
    fmt.scd1Merge(spark, p,
      Seq((99L, "z", 99)).toDF("id", "v", "ord"), Seq("id"), "ord")
    assert(fmt.read(spark, p).count() == 12,
      "merges must replay previous state from the checkpoint")
    // pre-checkpoint time travel is the one path that still needs the
    // full JSON history
    intercept[Exception](fmt.readVersion(spark, p, 3))
  }

  test("delta-log optimize compacts small files without changing rows") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevConf = spark.conf.get(coalesceKey)
    // seed with AQE coalescing off so each shuffle task writes its own
    // file — the many-small-files layout real cluster parallelism
    // produces, which local AQE would fold into one file
    try {
      spark.conf.set(coalesceKey, "false")
      val base = (1 to 40).map(i => (i.toLong, s"v$i", 1,
        if (i % 2 == 0) "even" else "odd")).toDF("id", "v", "ord", "bucket")
      fmt.scd1MergePruned(spark, p, base, Seq("id"), "ord", "bucket")
      val upd = (2 to 40 by 2).map(i => (i.toLong, s"w$i", 2, "even"))
        .toDF("id", "v", "ord", "bucket")
      fmt.scd1MergePruned(spark, p, upd, Seq("id"), "ord", "bucket")
    } finally spark.conf.set(coalesceKey, prevConf)
    val before = liveFilesOf(p)
    assert(before.size > 2, s"seed layout must be multi-file: ${before.size}")
    val hashBefore = tableHash(fmt.read(spark, p))
    val preVersion = fmt.currentVersion(p).get
    val stats = fmt.optimize(spark, p).get
    assert(stats.version == preVersion + 1)
    assert(stats.compacted == before.size, "every small file compacts")
    val after = liveFilesOf(p)
    assert(after.size == 2, s"one file per partition after optimize: $after")
    assert(stats.written == after.size)
    assert(tableHash(fmt.read(spark, p)) == hashBefore, "rows unchanged")
    // time travel to the pre-optimize version still works: its files
    // stay on disk until vacuum
    assert(tableHash(fmt.readVersion(spark, p, preVersion)) == hashBefore)
    // protocol shape: OPTIMIZE operation, dataChange=false everywhere
    import scala.jdk.CollectionConverters._
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val acts = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      p, "_delta_log", f"${stats.version}%020d.json")).asScala
      .filter(_.nonEmpty).map(m.readTree)
    assert(acts.filter(_.has("add")).forall(
      !_.get("add").get("dataChange").asBoolean()))
    assert(acts.filter(_.has("remove")).forall(
      !_.get("remove").get("dataChange").asBoolean()))
    assert(acts.find(_.has("commitInfo")).get.get("commitInfo")
      .get("operation").asText() == "OPTIMIZE")
    // idempotent: nothing left to compact
    assert(fmt.optimize(spark, p).isEmpty)
    // pruned merges keep working on the compacted layout (optimize
    // records partitionValues for everything it writes)
    val s2 = fmt.scd1MergePruned(spark, p,
      Seq((1L, "z1", 3, "odd")).toDF("id", "v", "ord", "bucket"),
      Seq("id"), "ord", "bucket")
    assert(s2.updated == 1)
    assert(fmt.read(spark, p).filter(col("v") === "z1").count() == 1)
    // vacuum reclaims the compacted originals
    fmt.vacuum(p, keepVersions = 1)
    assert(fmt.read(spark, p).count() == 40)
  }

  test("delta-log file stats drive data-skipping reads") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    val base = (1 to 40).map(i => (i.toLong, s"v$i", 1,
      if (i % 2 == 0) "even" else "odd")).toDF("id", "v", "ord", "bucket")
    fmt.scd1MergePruned(spark, p, base, Seq("id"), "ord", "bucket")
    // every add action carries protocol-shaped stats
    import scala.jdk.CollectionConverters._
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val adds = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      p, "_delta_log", f"${0}%020d.json")).asScala
      .filter(_.nonEmpty).map(m.readTree).filter(_.has("add")).toSeq
    assert(adds.nonEmpty)
    adds.foreach { a =>
      val st = m.readTree(a.get("add").get("stats").asText())
      assert(st.get("numRecords").asLong() > 0)
      assert(st.get("minValues").has("id") && st.get("maxValues").has("id"))
      assert(st.get("minValues").has("bucket"), "string stats recorded")
      assert(st.get("nullCount").get("id").asLong() == 0)
    }
    val full = fmt.read(spark, p)
    // range predicate: identical rows to filter-on-full-read
    val want = full.filter(col("id").between(5, 9)).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val got = fmt.readRange(spark, p, "id", 5L, 9L).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.sameElements(want), got.mkString(","))
    // equality on the partition column prunes to that partition's
    // files (partition-homogeneous files have min == max)
    val even = fmt.readEqual(spark, p, "bucket", "even")
    assert(even.count() == 20)
    assert(even.inputFiles.length < full.inputFiles.length,
      s"bucket=even must scan fewer files: ${even.inputFiles.length} " +
        s"vs ${full.inputFiles.length}")
    // a range no file admits plans an empty scan — zero files opened
    val none = fmt.readRange(spark, p, "id", 1000L, 2000L)
    assert(none.inputFiles.isEmpty && none.count() == 0)
    // stats-stripped files (older writers, unsupported types) are
    // always read — skipping can only cost speed, never rows
    val logF = java.nio.file.Paths.get(p, "_delta_log", f"${0}%020d.json")
    val stripped = java.nio.file.Files.readAllLines(logF).asScala
      .filter(_.nonEmpty).map { l =>
        val n = m.readTree(l)
        if (n.has("add"))
          n.get("add").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            .remove("stats")
        m.writeValueAsString(n)
      }.mkString("", "\n", "\n")
    java.nio.file.Files.write(logF, stripped.getBytes)
    val unpruned = fmt.readRange(spark, p, "id", 1000L, 2000L)
    assert(unpruned.inputFiles.length == full.inputFiles.length,
      "no stats -> every file admitted")
    assert(unpruned.count() == 0, "exact filter still applies on top")
  }

  test("unversioned string stats are admitted, numeric ones still prune") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    val base = (1 to 40).map(i => (i.toLong, s"v$i", 1,
      if (i % 2 == 0) "even" else "odd")).toDF("id", "v", "ord", "bucket")
    fmt.scd1MergePruned(spark, p, base, Seq("id"), "ord", "bucket")
    val full = fmt.read(spark, p)
    assert(fmt.readEqual(spark, p, "bucket", "even").inputFiles.length <
      full.inputFiles.length, "versioned string stats prune")
    // simulate stats from a pre-statsVersion writer (whose signed
    // cross-row-group merge could record wrong-ORDER string bounds):
    // strip the marker from every add action's stats JSON
    import scala.jdk.CollectionConverters._
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val logF = java.nio.file.Paths.get(p, "_delta_log", f"${0}%020d.json")
    val doctored = java.nio.file.Files.readAllLines(logF).asScala
      .filter(_.nonEmpty).map { l =>
        val n = m.readTree(l)
        if (n.has("add") && n.get("add").has("stats")) {
          val add = n.get("add")
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          val st = m.readTree(add.get("stats").asText())
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          st.remove("statsVersion")
          add.put("stats", m.writeValueAsString(st))
        }
        m.writeValueAsString(n)
      }.mkString("", "\n", "\n")
    java.nio.file.Files.write(logF, doctored.getBytes)
    // string bounds can no longer be trusted (a wrong-order max could
    // prune a matching file silently) -> every file admitted, rows
    // still correct via the exact filter on top
    val admitted = fmt.readEqual(spark, p, "bucket", "even")
    assert(admitted.inputFiles.length == full.inputFiles.length,
      s"pre-v2 string stats must admit every file: " +
        s"${admitted.inputFiles.length} vs ${full.inputFiles.length}")
    assert(admitted.count() == 20, "exact filter still applies")
    // numeric orders were never affected by the signed merge: pre-v2
    // numeric bounds still prune to an empty scan
    assert(fmt.readRange(spark, p, "id", 1000L, 2000L).inputFiles.isEmpty,
      "numeric stats still prune without the version marker")
  }

  test("delta-log clustered optimize: disjoint ranges turn lookups into one-file scans") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    // shuffled ids: every seed file spans nearly the whole id range,
    // so stats admit (almost) every file for any predicate
    val rnd = new scala.util.Random(7)
    val ids = rnd.shuffle((1 to 400).toList)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevConf = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      fmt.scd1Merge(spark, p,
        ids.map(i => (i.toLong, s"v$i", 1)).toDF("id", "v", "ord"),
        Seq("id"), "ord")
    } finally spark.conf.set(coalesceKey, prevConf)
    val full = fmt.read(spark, p)
    val hash = tableHash(full)
    assert(full.inputFiles.length > 2, "seed must be multi-file")
    val prePoint = fmt.readEqual(spark, p, "id", 250L)
    assert(prePoint.inputFiles.length > 1,
      "unclustered layout: a point lookup touches many files")
    val stats = fmt.optimizeClustered(spark, p, "id",
      targetFileBytes = 4096).get
    assert(stats.compacted == full.inputFiles.length)
    assert(tableHash(fmt.read(spark, p)) == hash, "rows unchanged")
    val clusteredFiles = fmt.read(spark, p).inputFiles.length
    assert(clusteredFiles > 1, "multiple range buckets expected")
    // ranges are disjoint and ids unique: exactly one file can admit
    // a point value
    val point = fmt.readEqual(spark, p, "id", 250L)
    assert(point.count() == 1)
    assert(point.inputFiles.length == 1,
      s"clustered point lookup must scan one file, got ${point.inputFiles.length}")
    // a narrow range overlaps at most two adjacent buckets
    val narrow = fmt.readRange(spark, p, "id", 100L, 110L)
    assert(narrow.count() == 11)
    assert(narrow.inputFiles.length <= 2,
      s"narrow range must stay within adjacent buckets: ${narrow.inputFiles.length}")
  }

  test("delta-log zorder optimize: both cluster columns prune, 1-D clustering doesn't") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val pZ = tmp()
    val pC = tmp()
    // 20x20 grid: x and y are independent, so any 1-D layout that
    // narrows x-ranges leaves every file's y-range full-width
    val rnd = new scala.util.Random(11)
    val rows = rnd.shuffle((0 until 400).toList)
      .map(i => (i.toLong, (i % 20).toLong, (i / 20).toLong, s"v$i"))
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevConf = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      Seq(pZ, pC).foreach { p =>
        fmt.scd1Merge(spark, p, rows.toDF("id", "x", "y", "v"),
          Seq("id"), "id")
      }
    } finally spark.conf.set(coalesceKey, prevConf)
    val hash = tableHash(fmt.read(spark, pZ))
    assert(fmt.read(spark, pZ).inputFiles.length > 2, "multi-file seed")

    // small target: enough z-range files that each covers a ~square
    // block of the grid (coarse ranges can't fix the y bit at all)
    fmt.optimizeZorder(spark, pZ, Seq("x", "y"), targetFileBytes = 1024).get
    val zFiles = fmt.read(spark, pZ).inputFiles.length
    assert(zFiles >= 8, s"want enough z-range files, got $zFiles")
    assert(tableHash(fmt.read(spark, pZ)) == hash, "rows unchanged")
    // a point lookup on EITHER column prunes: each file covers a
    // ~square block of the grid, so one x (or y) value intersects
    // only the blocks in its row/column of the curve
    val xScan = fmt.readEqual(spark, pZ, "x", 10L)
    val yScan = fmt.readEqual(spark, pZ, "y", 10L)
    assert(xScan.count() == 20 && yScan.count() == 20)
    assert(xScan.inputFiles.length < zFiles,
      s"x lookup must prune: ${xScan.inputFiles.length} of $zFiles")
    assert(yScan.inputFiles.length < zFiles,
      s"y lookup must prune: ${yScan.inputFiles.length} of $zFiles")

    // contrast: 1-D clustering on x leaves y-lookups scanning all
    fmt.optimizeClustered(spark, pC, "x", targetFileBytes = 2048).get
    val cFiles = fmt.read(spark, pC).inputFiles.length
    val yOnC = fmt.readEqual(spark, pC, "y", 10L)
    assert(yOnC.inputFiles.length == cFiles,
      s"x-clustered layout can't prune y: ${yOnC.inputFiles.length} vs $cFiles")
    // zorder wants >= 2 numeric columns, loudly
    intercept[IllegalArgumentException] {
      fmt.optimizeZorder(spark, pZ, Seq("x"))
    }
    intercept[IllegalArgumentException] {
      fmt.optimizeZorder(spark, pZ, Seq("x", "v"))
    }
  }

  test("delta-log concurrent writers: loser recomputes against the new head") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    // two writers with disjoint keys race the same (new) table; the
    // hard-link commit primitive picks a v0 winner, the loser's retry
    // MERGES into the winner's state instead of clobbering it — the
    // final table must hold both key sets whatever the interleaving
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val dfA = Seq((1L, "a", 1), (2L, "b", 1)).toDF("id", "v", "ord")
    val dfB = Seq((3L, "c", 1), (4L, "d", 1)).toDF("id", "v", "ord")
    val fa = scala.concurrent.Future(
      fmt.scd1Merge(spark, p, dfA, Seq("id"), "ord"))
    val fb = scala.concurrent.Future(
      fmt.scd1Merge(spark, p, dfB, Seq("id"), "ord"))
    import scala.concurrent.duration._
    scala.concurrent.Await.result(fa, 3.minutes)
    scala.concurrent.Await.result(fb, 3.minutes)
    pool.shutdown()
    assert(fmt.versions(p) == Seq(0, 1),
      s"exactly one winner and one retried commit: ${fmt.versions(p)}")
    val got = fmt.read(spark, p).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(got.sameElements(
      Array((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))), got.mkString(","))
    // the loser's abandoned attempt dir (if the race actually
    // collided) is orphaned garbage that vacuumOrphans can reclaim
    val orphans = fmt.vacuumOrphans(p, olderThanMs = -1000)
    assert(fmt.read(spark, p).count() == 4,
      s"reclaiming orphans (${orphans.size}) must not touch live data")
  }

  test("delta-log degrades to JSON replay on corrupt checkpoint artifacts") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    (1 to 11).foreach { i =>
      fmt.scd1Merge(spark, p,
        Seq((i.toLong, s"v$i", i)).toDF("id", "v", "ord"), Seq("id"), "ord")
    }
    assert(fmt.lastCheckpoint(p).contains(10))
    val ptr = java.nio.file.Paths.get(p, "_delta_log", "_last_checkpoint")
    val ptrBytes = java.nio.file.Files.readAllBytes(ptr)
    // corrupt pointer (garbage JSON) -> checkpoint ignored, JSON replay
    java.nio.file.Files.write(ptr, "not json".getBytes)
    assert(fmt.lastCheckpoint(p).isEmpty)
    assert(fmt.read(spark, p).count() == 11)
    // empty pointer (crashed writer) -> same degrade
    java.nio.file.Files.write(ptr, Array.empty[Byte])
    assert(fmt.lastCheckpoint(p).isEmpty)
    assert(fmt.read(spark, p).count() == 11)
    // intact pointer but corrupt checkpoint PARQUET -> fall back to
    // JSON replay mid-load, not an error
    java.nio.file.Files.write(ptr, ptrBytes)
    val cp = java.nio.file.Paths.get(
      p, "_delta_log", f"${10}%020d.checkpoint.parquet")
    java.nio.file.Files.write(cp, "garbage".getBytes)
    assert(fmt.lastCheckpoint(p).contains(10), "pointer itself is valid")
    assert(fmt.read(spark, p).count() == 11,
      "unreadable checkpoint parquet must degrade to JSON replay")
    // and merges on top of the degraded state still work
    fmt.scd1Merge(spark, p,
      Seq((99L, "z", 99)).toDF("id", "v", "ord"), Seq("id"), "ord")
    assert(fmt.read(spark, p).count() == 12)
  }

  test("delta-log string stats prune in UTF-8 code-point order") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    // one file holding a supplementary character (UTF-8 max of the
    // file) together with a BMP value in U+E000..U+FFFF: UTF-16
    // code-unit comparison says max("😀") < "�" and
    // would stats-prune the file, silently dropping a matching row
    val df = Seq((1L, "😀", 1), (2L, "�", 1),
      (3L, "apple", 1)).toDF("id", "s", "ord")
    fmt.scd1Merge(spark, p, df, Seq("id"), "ord")
    assert(fmt.readEqual(spark, p, "s", "�").count() == 1,
      "file containing the value must never be stats-pruned")
    assert(fmt.readEqual(spark, p, "s", "😀").count() == 1)
    assert(fmt.readEqual(spark, p, "s", "apple").count() == 1)
    assert(fmt.readRange(spark, p, "s", "", "￿").count() == 1)
  }

  test("delta-log checkpoint cleanup bounds superseded artifacts") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    (1 to 31).foreach { i =>
      fmt.scd1Merge(spark, p,
        Seq((i.toLong, s"v$i", i)).toDF("id", "v", "ord"), Seq("id"), "ord")
    }
    // checkpoints fired at v10, v20, v30; cleanup keeps the newest two
    assert(fmt.lastCheckpoint(p).contains(30))
    import scala.jdk.CollectionConverters._
    val logDir = java.nio.file.Paths.get(p, "_delta_log")
    def cps = scala.util.Using.resource(java.nio.file.Files.list(logDir))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".checkpoint.parquet")).toSeq.sorted)
    assert(cps == Seq(f"${20}%020d.checkpoint.parquet",
      f"${30}%020d.checkpoint.parquet"),
      s"keep newest two checkpoints, got $cps")
    // crash-leaked temp artifacts are reclaimed once past the age guard
    val deadDir = logDir.resolve(".cp-5-deadbeef")
    java.nio.file.Files.createDirectories(deadDir)
    java.nio.file.Files.write(deadDir.resolve("part-0.parquet"),
      "leak".getBytes)
    val deadTmp = logDir.resolve("._last_checkpoint-deadbeef.tmp")
    java.nio.file.Files.write(deadTmp, "leak".getBytes)
    fmt.cleanupCheckpointArtifacts(p, olderThanMs = 3600L * 1000)
    assert(java.nio.file.Files.exists(deadDir),
      "age guard protects an in-flight checkpointer's temp dir")
    // negative age => cutoff in the future: "everything is stale"
    // without racing the just-created artifact's own mtime
    fmt.cleanupCheckpointArtifacts(p, olderThanMs = -60000)
    assert(!java.nio.file.Files.exists(deadDir) &&
      !java.nio.file.Files.exists(deadTmp),
      "stale temp artifacts are reclaimed")
    assert(fmt.read(spark, p).count() == 31, "cleanup never touches state")
  }

  test("delta-log multi-file commit records stats for every file") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val shuffleKey = "spark.sql.shuffle.partitions"
    val prevConf = spark.conf.get(coalesceKey)
    val prevShuffle = spark.conf.get(shuffleKey)
    // enough files to cross statsJobThreshold: stats collect in a
    // Spark job (task-side, like Delta's writer), not serially on the
    // driver — shape and pruning behavior must be identical. The merge
    // write's file count tracks shuffle partitions, so raise them past
    // the threshold for this one commit.
    try {
      spark.conf.set(coalesceKey, "false")
      spark.conf.set(shuffleKey, "12")
      fmt.scd1Merge(spark, p,
        (1 to 400).map(i => (i.toLong, s"v$i", 1)).toDF("id", "v", "ord"),
        Seq("id"), "ord")
    } finally {
      spark.conf.set(coalesceKey, prevConf)
      spark.conf.set(shuffleKey, prevShuffle)
    }
    import scala.jdk.CollectionConverters._
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val adds = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      p, "_delta_log", f"${0}%020d.json")).asScala
      .filter(_.nonEmpty).map(m.readTree).filter(_.has("add")).toSeq
    assert(adds.size >= fmt.statsJobThreshold,
      s"commit must exercise the task-side stats path: ${adds.size} files")
    adds.foreach { a =>
      val st = m.readTree(a.get("add").get("stats").asText())
      assert(st.get("numRecords").asLong() > 0)
      assert(st.get("minValues").has("id") && st.get("maxValues").has("id"))
    }
    // and the stats actually prune: a point lookup opens fewer files
    val full = fmt.read(spark, p)
    val point = fmt.readEqual(spark, p, "id", 7L)
    assert(point.count() == 1)
    assert(point.inputFiles.length < full.inputFiles.length)
  }

  test("delta-log pruned merge on two partition columns rewrites one tuple") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    val base = (for {
      region <- Seq("east", "west"); day <- 1 to 3; i <- 1 to 5
    } yield (s"$region-$day-$i", s"v$i", 1, region, day))
      .toDF("id", "v", "ord", "region", "day")
    fmt.scd1MergePruned(spark, p, base, Seq("id"), "ord",
      Seq("region", "day"), graft.sources.Sources.controlColumns)
    val before = liveFilesOf(p)
    assert(before.values.forall(pv =>
      pv.contains("region") && pv.contains("day")),
      "every file records both partition columns")
    // touch exactly the (east, 2) tuple
    val upd = Seq(("east-2-1", "z", 2, "east", 2))
      .toDF("id", "v", "ord", "region", "day")
    val s = fmt.scd1MergePruned(spark, p, upd, Seq("id"), "ord",
      Seq("region", "day"), graft.sources.Sources.controlColumns)
    assert(s.updated == 1 && s.inserted == 0)
    val after = liveFilesOf(p)
    val untouchedBefore = before.filterNot(
      _._2 == Map("region" -> "east", "day" -> "2"))
    // full-TUPLE matching: (east,3) and (west,2) files survive byte-
    // identically; only the (east,2) files were replaced
    untouchedBefore.foreach { case (f, pv) =>
      assert(after.contains(f), s"untouched tuple $pv lost file $f")
    }
    assert(before.keySet.diff(after.keySet).forall(f =>
      before(f) == Map("region" -> "east", "day" -> "2")))
    val out = fmt.read(spark, p)
    assert(out.count() == 30)
    assert(out.filter(col("id") === "east-2-1").select("v")
      .collect()(0).getString(0) == "z")
    // stats still prune on either partition column
    val east = fmt.readEqual(spark, p, "region", "east")
    assert(east.count() == 15)
    assert(east.inputFiles.length < out.inputFiles.length)
    // optimize keeps the 2-column layout intact
    fmt.optimize(spark, p, smallFileBytes = 128L << 20)
    assert(fmt.read(spark, p).count() == 30)
    assert(liveFilesOf(p).values.forall(pv =>
      pv.contains("region") && pv.contains("day")))
  }

  test("pruned merge with empty updates commits nothing") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    val base = Seq((1L, "a", 1, "b0"), (2L, "b", 1, "b1"))
      .toDF("id", "v", "ord", "bucket")
    fmt.scd1MergePruned(spark, p, base, Seq("id"), "ord", "bucket")
    val before = fmt.currentVersion(p)
    // an incremental run with zero new rows (or a DQ-emptied
    // micro-batch) must be a clean no-op, not an empty-reduce crash
    val s = fmt.scd1MergePruned(spark, p,
      base.filter(col("id") < 0), Seq("id"), "ord", "bucket")
    assert(s == graft.pipeline.MergeStats(0, 0, 0))
    assert(fmt.currentVersion(p) == before, "no version committed")
    assert(fmt.read(spark, p).count() == 2)
  }

  test("pruned merge plans its target scan over affected files only") {
    import SparkSpec.spark.implicits._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = tmp()
    val pad = "y" * 200
    val base = (for (b <- 0 until 8; i <- 0 until 400)
      yield (s"$b-$i", s"v$i-$pad", 1, s"b$b")).toDF("id", "v", "ord", "bucket")
    fmt.scd1MergePruned(spark, p, base, Seq("id"), "ord", "bucket")
    def bytesReadDuring[T](body: => T): Long = {
      val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) bytes.addAndGet(m.inputMetrics.bytesRead); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        var prev = -1L; var cur = bytes.get(); var spins = 0
        while (cur != prev && spins < 50) {
          Thread.sleep(100); prev = cur; cur = bytes.get(); spins += 1
        }
        cur
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val fullBytes = bytesReadDuring {
      fmt.read(spark, p).queryExecution.toRdd.count()
    }
    val mergeBytes = bytesReadDuring {
      fmt.scd1MergePruned(spark, p,
        Seq(("5-1", s"w-$pad", 2, "b5")).toDF("id", "v", "ord", "bucket"),
        Seq("id"), "ord", "bucket")
    }
    // the merge reads + rewrites one bucket (and writes it back);
    // the log-stats file selection must keep it well under a full
    // scan even including the write-side read
    assert(fullBytes > 0 && mergeBytes < fullBytes,
      s"pruned merge scan must be file-pruned: merge=$mergeBytes full=$fullBytes")
    assert(fmt.read(spark, p).count() == 3200)
    assert(fmt.read(spark, p).filter(col("id") === "5-1")
      .select("v").collect()(0).getString(0) == s"w-$pad")
  }

  test("fuzz: 2-col pruned merges + optimize agree with full merges and the change feed") {
    import SparkSpec.spark.implicits._
    import graft.streaming.MergeTableStream
    val fmt = graft.pipeline.DeltaLogTableFormat
    val rnd = new scala.util.Random(1234)
    val regions = Seq("r0", "r1", "r2")
    val days = Seq(1, 2)
    (1 to 2).foreach { trial =>
      val pD = tmp(); val pS = tmp(); val gold = tmp()
      val ck = Files.createTempDirectory("graft_fuzz_ck").toString
      (1 to 5).foreach { step =>
        // random updates over a random subset of (region, day) tuples
        val tuples = rnd.shuffle(
          for (r <- regions; d <- days) yield (r, d)).take(1 + rnd.nextInt(5))
        val rows = tuples.flatMap { case (r, d) =>
          (1 to 1 + rnd.nextInt(8)).map { _ =>
            val k = rnd.nextInt(15)
            (s"$r-$d-$k", rnd.alphanumeric.take(4).mkString, step, r, d)
          }
        }
        val df = rows.toDF("id", "v", "ord", "region", "day")
        fmt.scd1MergePruned(spark, pD, df, Seq("id"), "ord",
          Seq("region", "day"), graft.sources.Sources.controlColumns)
        // model: the same updates through plain full-rewrite merges
        SnapshotTableFormat.scd1Merge(spark, pS, df, Seq("id"), "ord")
        // random maintenance between data commits: plain bin-pack,
        // range-clustered rewrite (over both partition columns plus
        // the cluster key), or vacuum of pre-consumed versions — the
        // consumer below has already committed offsets up to the
        // previous step, so retention down to 2 never outruns it
        rnd.nextInt(4) match {
          case 0 => fmt.optimize(spark, pD, smallFileBytes = 1L << 20)
          case 1 => fmt.optimizeClustered(spark, pD, "id",
            targetFileBytes = 1L << 20)
          case 2 => fmt.vacuum(pD, keepVersions = 2)
          case _ => ()
        }
        // silver state must match the model at every step
        assert(tableHash(fmt.read(spark, pD)) ==
          tableHash(SnapshotTableFormat.read(spark, pS)),
          s"trial $trial step $step: pruned-merge state diverged from model")
        // and the gold hop (file-level change feed) must reconstruct it
        MergeTableStream.processAvailable(spark, pD, ck, fmt) { (chg, _) =>
          MergeTable.scd1Merge(spark, gold, chg, Seq("id"), "ord"); ()
        }
        assert(tableHash(MergeTable.read(spark, gold)) ==
          tableHash(fmt.read(spark, pD)),
          s"trial $trial step $step: change-feed gold diverged from silver")
      }
    }
  }

  test("deleteKeys removes exactly the keyed rows on both formats, idempotently") {
    Seq(SnapshotTableFormat: TableFormat,
        graft.pipeline.DeltaLogTableFormat: TableFormat).foreach { fmt =>
      val p = Files.createTempDirectory("graft_delkeys").toString
      fmt.scd1Merge(spark, p,
        Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 1), (4L, "d", 1))
          .toDF("id", "v", "ord"),
        Seq("id"), "ord", compareExclude = Nil)
      val v0 = fmt.currentVersion(p).get
      // a noisy feed: duplicate tombstones, an absent key, a null key
      val feed = Seq(Some(2L), Some(2L), Some(4L), Some(99L), None)
        .toDF("id")
      val s = fmt.deleteKeys(spark, p, feed, Seq("id"))
      assert(s.deleted == 2 && s.inserted == 0 && s.updated == 0,
        s"$fmt: $s")
      assert(fmt.currentVersion(p).get == v0 + 1, s"$fmt must commit a version")
      val rows = fmt.read(spark, p).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.sameElements(Array((1L, "a"), (3L, "c"))), s"$fmt: ${rows.mkString}")
      // replay is a no-op delete (idempotent), and history time-travels
      val s2 = fmt.deleteKeys(spark, p, feed, Seq("id"))
      assert(s2.deleted == 0, s"$fmt replay: $s2")
      assert(fmt.readVersion(spark, p, v0).count() == 4,
        s"$fmt: pre-delete version must still read")
      // the delete flows through the change feeds: deletedKeys
      // reports exactly {2, 4} for the delete commit's window
      val dk = graft.streaming.MergeTableStream.deletedKeys(spark, p,
        v0, v0 + 1, Seq("id"), fmt).collect().map(_.getLong(0)).sorted
      assert(dk.sameElements(Array(2L, 4L)), s"$fmt: ${dk.mkString}")
    }
  }

  test("deleteKeysPruned rewrites only the files whose stats admit a delete key") {
    import scala.jdk.CollectionConverters._
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = Files.createTempDirectory("graft_delprune").toString
    // partitioned table with DISJOINT id ranges per bucket file:
    // stats are min/max ranges, so pruning excludes a file only when
    // its whole key range misses the delete keys
    val base = (1 to 40).map(i => (i.toLong, s"v$i", 1,
      if (i <= 20) "lo" else "hi")).toDF("id", "v", "ord", "bucket")
    fmt.scd1MergePruned(spark, p, base, Seq("id"), "ord", "bucket")
    val v0 = fmt.currentVersion(p).get
    // hi-bucket files from the LOG (the bucket filter can't prune
    // the scan's file list — partition values live in the data)
    val m0 = new com.fasterxml.jackson.databind.ObjectMapper()
    def addsOf(v: Int) = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(p, "_delta_log", f"$v%020d.json")).asScala
      .filter(_.nonEmpty).map(m0.readTree).filter(_.has("add"))
      .map(_.get("add")).toSeq
    val hiFilesBefore = addsOf(v0).filter(
      _.get("partitionValues").get("bucket").asText().contains("hi"))
      .map(_.get("path").asText()).toSet
    assert(hiFilesBefore.nonEmpty)

    // delete two low ids — the hi bucket's files (ids 21-40) cannot
    // hold them and must not rewrite
    val s = fmt.deleteKeysPruned(spark, p,
      Seq(2L, 4L).toDF("id"), Seq("id"))
    assert(s.deleted == 2, s.toString)
    val rows = fmt.read(spark, p).select("id").collect()
      .map(_.getLong(0)).sorted
    assert(rows.sameElements((1L to 40L).filterNot(Set(2L, 4L))),
      rows.mkString(","))
    // file-level proof: the delete commit's removes name NO odd file
    val commit = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      p, "_delta_log", f"${v0 + 1}%020d.json")).asScala
      .filter(_.nonEmpty).map(m0.readTree).toSeq
    val removed = commit.filter(_.has("remove"))
      .map(_.get("remove").get("path").asText())
    assert(removed.nonEmpty)
    assert(!removed.exists(hiFilesBefore.contains),
      s"hi-bucket files must stay live: removed=${removed.mkString(",")}")
    // and the hi rows still read (served by the carried files)
    assert(fmt.read(spark, p).filter(col("bucket") === "hi").count() == 20)
    // rewritten adds keep their partition tokens (later pruned
    // merges must still match every live file)
    val adds = commit.filter(_.has("add")).map(_.get("add"))
    assert(adds.nonEmpty)
    adds.foreach(a => assert(a.get("partitionValues").has("bucket"),
      "rewritten files must keep partition tokens"))
    fmt.scd1MergePruned(spark, p,
      Seq((2L, "back", 2, "lo")).toDF("id", "v", "ord", "bucket"),
      Seq("id"), "ord", "bucket")
    assert(fmt.read(spark, p).filter(col("id") === 2L).count() == 1)

    // a no-match delete commits NOTHING (no empty version churn)
    val headBefore = fmt.currentVersion(p).get
    val s0 = fmt.deleteKeysPruned(spark, p,
      Seq(5000L).toDF("id"), Seq("id"))
    assert(s0.deleted == 0 && fmt.currentVersion(p).get == headBefore,
      "stats-excluded delete must not commit a version")
    // cap fallback: tiny maxKeys degrades to the full rewrite, same rows
    val s2 = fmt.deleteKeysPruned(spark, p,
      Seq(6L, 8L).toDF("id"), Seq("id"), maxKeys = 1)
    assert(s2.deleted == 2, s2.toString)
    assert(fmt.read(spark, p).filter(col("id").isin(6L, 8L)).count() == 0)
    // the fallback's full rewrite must PRESERVE partition tokens —
    // a later pruned merge still matches every live file (an
    // oversized tombstone feed must never brick pruned merging)
    fmt.scd1MergePruned(spark, p,
      Seq((6L, "again", 3, "lo")).toDF("id", "v", "ord", "bucket"),
      Seq("id"), "ord", "bucket")
    assert(fmt.read(spark, p).filter(col("id") === 6L).count() == 1,
      "pruned merge must still work after a cap-fallback delete")
    // an empty tombstone batch against a missing path fails loudly
    intercept[IllegalArgumentException] {
      fmt.deleteKeysPruned(spark, p + "_nope",
        spark.emptyDataFrame.withColumn("id", lit(0L)).limit(0), Seq("id"))
    }
  }

  test("cdc applyOps: latest op wins, deletes remove") {
    val target = Seq((1L, "a", 1), (2L, "b", 1)).toDF("id", "v", "ord")
    val feed = Seq(
      (1L, "a2", "update", 2), (2L, "x", "delete", 2),
      (3L, "c", "insert", 2), (3L, "c2", "update", 3)
    ).toDF("id", "v", "op", "ord")
    val out = Cdc.applyOps(target, feed, Seq("id"), "op",
      Seq(col("ord").desc, col("v").desc))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.sameElements(Array((1L, "a2"), (3L, "c2"))))
  }

  test("scd2 order guard: an older source row neither closes nor replaces the current version") {
    // the SCD1 merge's order guard, on the SCD2 path of both formats:
    // a late row (ord 5 after ord 10) must leave 'a' current and add
    // no history row
    for (fmt <- Seq[TableFormat](SnapshotTableFormat,
        graft.pipeline.DeltaLogTableFormat)) {
      val p = tmp()
      fmt.scd2Merge(spark, p, Seq((1L, "a", 10)).toDF("k", "v", "ord"),
        Seq("k"), "ord")
      val s = fmt.scd2Merge(spark, p, Seq((1L, "b", 5)).toDF("k", "v", "ord"),
        Seq("k"), "ord")
      val rows = fmt.read(spark, p)
        .select("k", "v", "ord", "is_current").orderBy("v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
      assert(rows == Seq((1L, "a", 10, 1)), s"$fmt: $rows")
      assert(s.inserted == 0 && s.updated == 0, s"$fmt: stale row counted: $s")
      // a newer row still versions the key
      fmt.scd2Merge(spark, p, Seq((1L, "c", 11)).toDF("k", "v", "ord"),
        Seq("k"), "ord")
      val after = fmt.read(spark, p).select("v", "is_current").orderBy("v")
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      assert(after == Seq(("a", 0), ("c", 1)), s"$fmt: $after")
    }
  }

  test("cdc splitOps partitions a feed by operation") {
    val feed = Seq((1L, "insert"), (2L, "update"), (3L, "delete"),
      (4L, "insert"), (5L, "upsert")).toDF("id", "op")
    val (ins, upd, del) = Cdc.splitOps(feed, "op")
    def ids(df: DataFrame) = df.select("id").as[Long].collect().sorted.toSeq
    assert(ids(ins) == Seq(1L, 4L) && ids(upd) == Seq(2L) && ids(del) == Seq(3L))
    val (i2, u2, d2) = Cdc.splitOps(feed, "op", insertVal = "upsert")
    assert(ids(i2) == Seq(5L) && ids(u2) == Seq(2L) && ids(d2) == Seq(3L))
  }

  test("cdc isValidPrimaryKey: no null and no duplicate keys") {
    val ok = Seq((1L, "a"), (2L, "a"), (1L, "b")).toDF("id", "part")
    assert(Cdc.isValidPrimaryKey(ok, Seq("id", "part")))
    assert(!Cdc.isValidPrimaryKey(ok, Seq("id")), "duplicate id 1")
    val withNull = Seq((Some(1L), "a"), (None, "b")).toDF("id", "part")
    assert(!Cdc.isValidPrimaryKey(withNull, Seq("id", "part")), "null key")
    assert(Cdc.isValidPrimaryKey(ok.limit(0), Seq("id")), "empty frame is valid")
  }
}
