package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.parquet.ParquetSchemaBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.MergeTable
import graft.sources.Sources

/** `ParquetRead` resolves on the driver exactly the schema Spark's
  * inference job would, and the engine's reads start no job of their
  * own before the query's action.
  */
class ParquetReadSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_pqread").toString

  /** The driver-resolved read must present the schema plain
    * `spark.read.parquet` infers; `resolved` says whether the helper
    * resolved it itself or left inference to Spark.
    */
  private def assertSameSchema(path: String, resolved: Boolean = true,
                               options: Map[String, String] = Map.empty): Unit = {
    val inferred = spark.read.options(options).parquet(path).schema
    assert(ParquetRead(spark, path, options).schema == inferred,
      s"$path: ${ParquetRead(spark, path, options).schema.treeString} vs " +
        inferred.treeString)
    assert(ParquetSchemaBridge.read(spark, path, options).isDefined == resolved,
      s"$path: expected resolved = $resolved")
  }

  private def firstPart(dir: String): java.nio.file.Path =
    scala.util.Using.resource(Files.list(Paths.get(dir)))(_.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.minBy(_.toString))

  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    ListenerBridge.drain(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try { body; ListenerBridge.drain(sc); n.get }
    finally sc.removeSparkListener(l)
  }

  test("every board table resolves to the inferred schema") {
    for (t <- Tables.names) {
      // Tables.load reads events under nanosAsLong; compare under it
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      assertSameSchema(s"$sf/$t.parquet")
    }
  }

  test("the three events.ts encodings resolve to the inferred schema") {
    val us = Seq(1709296496789123L, 1709296500000000L, 0L)
    val base = us.zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("event_id", "us")
    for (ts <- Seq(col("us") * 1000, // int64 ns, read as a long
        timestamp_micros(col("us")).cast(TimestampNTZType),
        timestamp_micros(col("us")))) {
      val dir = tmp()
      base.select(col("event_id"), ts.as("ts"))
        .coalesce(1).write.parquet(s"$dir/events.parquet")
      assertSameSchema(s"$dir/events.parquet")
    }
  }

  test("a Spark-written footer: row metadata, nested types, field metadata") {
    val dir = tmp() + "/t"
    val meta = new MetadataBuilder().putString("comment", "kept").build()
    Seq((1L, "a", Seq(1, 2), Map("k" -> 1.5), BigDecimal("12.34")))
      .toDF("id", "s", "arr", "m", "dec")
      .select(col("id"), col("s").as("s", meta), col("arr"), col("m"),
        col("dec").cast(DecimalType(10, 2)).as("dec"),
        struct(col("id").as("inner"), col("s").as("label")).as("nested"))
      .write.parquet(dir)
    val kv = scala.util.Using.resource(ParquetFileReader.open(HadoopInputFile
        .fromPath(new Path(firstPart(dir).toString), spark.sessionState.newHadoopConf())))(
      _.getFooter.getFileMetaData.getKeyValueMetaData.asScala)
    assert(kv.contains("org.apache.spark.sql.parquet.row.metadata"))
    assertSameSchema(dir)
    assert(ParquetRead(spark, dir).schema("s").metadata.getString("comment") == "kept")
  }

  test("partitioned directories and snapshot versions resolve to the inferred schema") {
    val dir = tmp() + "/p"
    Seq((1L, "a", 1, "x"), (2L, "b", 2, "y")).toDF("id", "v", "p", "q")
      .write.partitionBy("p", "q").parquet(dir)
    assertSameSchema(dir)
    // snapshot v=N: a plain version and a partition-pruned one
    val snap = tmp()
    MergeTable.scd1Merge(spark, snap, Seq((1L, "a", 1)).toDF("id", "v", "ord"),
      Seq("id"), "ord")
    MergeTable.scd1Merge(spark, snap, Seq((2L, "b", 2)).toDF("id", "v", "ord"),
      Seq("id"), "ord")
    assertSameSchema(s"$snap/v=1")
    val pruned = tmp()
    val rows = Seq((1L, "a", 1, 0L), (2L, "b", 1, 1L)).toDF("id", "v", "ord", "bucket")
    MergeTable.scd1MergePruned(spark, pruned, rows, Seq("id"), "ord", "bucket")
    MergeTable.scd1MergePruned(spark, pruned,
      Seq((3L, "c", 2, 1L)).toDF("id", "v", "ord", "bucket"), Seq("id"), "ord", "bucket")
    assertSameSchema(s"$pruned/v=${MergeTable.currentVersion(pruned).get}")
    assert(MergeTable.read(spark, pruned).schema ==
      spark.read.parquet(s"$pruned/v=${MergeTable.currentVersion(pruned).get}").schema)
  }

  test("the footer chosen is the one inference reads: summary files, then the first data file") {
    val dir = tmp() + "/t"
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.parquet(dir)
    val other = tmp() + "/o"
    Seq((1.5, true)).toDF("x", "flag").coalesce(1).write.parquet(other)
    val wide = tmp() + "/w"
    Seq((1L, "a", 2)).toDF("id", "v", "extra").coalesce(1).write.parquet(wide)
    // a second data file that sorts before the first, with more columns
    Files.copy(firstPart(wide), Paths.get(dir, "part-0.parquet"))
    assertSameSchema(dir)
    assert(ParquetRead(spark, dir).columns.toSeq == Seq("id", "v", "extra"))
    // a summary file wins over every data file: _metadata, then
    // _common_metadata
    Files.copy(firstPart(other), Paths.get(dir, "_metadata"))
    assertSameSchema(dir)
    Files.copy(firstPart(wide), Paths.get(dir, "_common_metadata"),
      StandardCopyOption.REPLACE_EXISTING)
    assertSameSchema(dir)
    assert(ParquetRead(spark, dir).columns.toSeq == Seq("id", "v", "extra"))
  }

  test("schema merging is left to Spark's inference; every listing layout is resolved") {
    val dir = tmp() + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/k=1")
    Seq((2L, 3)).toDF("id", "w").write.parquet(s"$dir/k=2")
    assertSameSchema(dir, resolved = false, options = Map("mergeSchema" -> "true"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assertSameSchema(dir, resolved = false)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assertSameSchema(dir)
    // globs and listing options go through Spark's own path checks and
    // file index
    assertSameSchema(s"$dir/k=*")
    assertSameSchema(s"$dir/k=2", options = Map("basePath" -> dir))
    assertSameSchema(dir, options = Map("recursiveFileLookup" -> "true"))
    // more partition directories than Spark lists without a job
    val wide = tmp() + "/wide"
    for (i <- 0 to 32) {
      Files.createDirectories(Paths.get(wide, s"k=$i"))
      Files.copy(firstPart(s"$dir/k=1"), Paths.get(wide, s"k=$i", "part-0.parquet"))
    }
    assertSameSchema(wide)
    // a data column named like a partition key
    val clash = tmp() + "/c"
    Seq((1L, 7)).toDF("id", "k").write.parquet(s"$clash/k=1")
    assertSameSchema(clash)
    // an empty directory and a missing path fail exactly as before
    for (bad <- Seq(tmp(), tmp() + "/absent")) {
      val e1 = intercept[Exception](spark.read.parquet(bad))
      val e2 = intercept[Exception](ParquetRead(spark, bad))
      assert(e1.getClass == e2.getClass && e1.getMessage == e2.getMessage)
    }
  }

  test("engine reads start no Spark job before the query's action") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val loads = jobsDuring(Tables.names.foreach(Tables.load(spark, sf, _)))
    assert(loads == 0, s"Tables.load started $loads jobs")
    val src = tmp() + "/src"
    Seq((1L, "a")).toDF("id", "v").write.parquet(src)
    assert(jobsDuring(Sources.readParquet(spark, src)) == 0)
    val snap = tmp()
    MergeTable.scd1Merge(spark, snap, Seq((1L, "a", 1)).toDF("id", "v", "ord"),
      Seq("id"), "ord")
    assert(jobsDuring(MergeTable.read(spark, snap)) == 0)
    assert(jobsDuring(MergeTable.readVersion(spark, snap, 0)) == 0)
    // the loaded frame still reads its rows
    assert(MergeTable.read(spark, snap).collect().toSeq == Seq(Row(1L, "a", 1)))
  }
}
