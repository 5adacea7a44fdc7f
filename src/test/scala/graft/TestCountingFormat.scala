package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.cdc.Cdc
import graft.operators.Events
import graft.pipeline.MergeTable
import graft.streaming.StreamingIngest

/** Read-counting TableFormat wrapper the append-only fast-path
  * tests use to prove which state tables each fold touches (r22:
  * hoisted from StreamingIncrementalDedupSpec when that suite split
  * for test-JVM sharding).
  */
private[graft] class CountingFormat(inner: graft.pipeline.TableFormat)
    extends graft.pipeline.TableFormat {
  val reads = scala.collection.mutable.Map.empty[String, Int]
  def readsOf(path: String): Int = reads.synchronized {
    reads.filter(_._1.startsWith(path)).values.sum
  }
  override def exists(path: String): Boolean = inner.exists(path)
  override def read(spark: org.apache.spark.sql.SparkSession,
                    path: String): org.apache.spark.sql.DataFrame = {
    reads.synchronized { reads(path) = reads.getOrElse(path, 0) + 1 }
    inner.read(spark, path)
  }
  override def readVersion(spark: org.apache.spark.sql.SparkSession,
                           path: String, version: Int) =
    inner.readVersion(spark, path, version)
  override def versions(path: String): Seq[Int] = inner.versions(path)
  override def currentVersion(path: String): Option[Int] =
    inner.currentVersion(path)
  override def scd1Merge(spark: org.apache.spark.sql.SparkSession,
                         path: String,
                         updates: org.apache.spark.sql.DataFrame,
                         keys: Seq[String], orderBy: String,
                         deleteMissing: Boolean,
                         compareExclude: Seq[String],
                         schemaEvolution: Boolean) =
    inner.scd1Merge(spark, path, updates, keys, orderBy, deleteMissing,
      compareExclude, schemaEvolution)
  override def scd2Merge(spark: org.apache.spark.sql.SparkSession,
                         path: String,
                         updates: org.apache.spark.sql.DataFrame,
                         keys: Seq[String], orderBy: String,
                         deleteMissing: Boolean,
                         compareExclude: Seq[String],
                         schemaEvolution: Boolean) =
    inner.scd2Merge(spark, path, updates, keys, orderBy, deleteMissing,
      compareExclude, schemaEvolution)
  override def scd1MergeRemoving(spark: org.apache.spark.sql.SparkSession,
                                 path: String,
                                 updates: org.apache.spark.sql.DataFrame,
                                 removeKeys: org.apache.spark.sql.DataFrame,
                                 keys: Seq[String], orderBy: String,
                                 compareExclude: Seq[String],
                                 schemaEvolution: Boolean) =
    inner.scd1MergeRemoving(spark, path, updates, removeKeys, keys, orderBy,
      compareExclude, schemaEvolution)
  override def deleteKeys(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          delKeys: org.apache.spark.sql.DataFrame,
                          keys: Seq[String]) =
    inner.deleteKeys(spark, path, delKeys, keys)
  override def vacuum(path: String, keepVersions: Int): Seq[Int] =
    inner.vacuum(path, keepVersions)
  override def registrableLocation(spark: org.apache.spark.sql.SparkSession,
                                   path: String): Option[String] =
    inner.registrableLocation(spark, path)
}

