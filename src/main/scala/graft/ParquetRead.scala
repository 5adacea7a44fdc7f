package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetSchemaBridge

/** Parquet reads whose schema is resolved on the driver.
  *
  * `spark.read.parquet(path)` without a schema runs a Spark job
  * (`mergeSchemasInParallel`) to read ONE footer: `_common_metadata`,
  * else `_metadata`, else the first data file in listing order. On a
  * sub-second board query that job is a large share of the fixed
  * cost, and it runs again on every load. This builds the same
  * relation from one listing of the path, reading that footer on the
  * driver with Spark's own conversion, so the schema equals what
  * inference would give and the query's own action is the first job.
  * Schema merging, a streaming sink's output and unreadable footers
  * are left to plain `spark.read.parquet`. Nothing is cached: every
  * call lists and reads the footer afresh, so a rewrite of the path
  * is seen exactly as Spark's own inference would see it.
  */
object ParquetRead {

  /** `spark.read.options(options).parquet(path)`, schema resolved on
    * the driver where `ParquetSchemaBridge.read` can.
    */
  def apply(spark: SparkSession, path: String,
            options: Map[String, String] = Map.empty): DataFrame =
    ParquetSchemaBridge.read(spark, path, options)
      .getOrElse(spark.read.options(options).parquet(path))
}
