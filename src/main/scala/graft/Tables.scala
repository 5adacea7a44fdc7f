package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Test-table loader: one parquet file per TPC-H-ish table under a
  * scale-factor directory (see TESTDATA.md).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` has shipped in several parquet encodings across
    * testdata generations: TIMESTAMP(NANOS) (which Spark 4 rejects by
    * default — we read it as a long and truncate ns→µs with exact
    * integer division, bit-identical to DuckDB's scan-time
    * truncation; double division would lose precision since
    * ns-epoch ≈ 1.7e18 > 2^53), plain `timestamp[us]` without a
    * timezone (TIMESTAMP_NTZ in Spark), and µs-with-UTC
    * (TimestampType). Branch on the dataType actually read so a
    * testdata regeneration can't silently break every events query.
    */
  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    if (table == "events") {
      // Set-and-leave (always the same value) — a set/restore dance
      // would race with concurrent loads on a shared session. The flag
      // only affects TIMESTAMP(NANOS) columns, which exist nowhere
      // else in the test tables, so leaving it on is inert.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = ParquetRead(spark, path)
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          // Session TZ is UTC (GraftSession), so NTZ→TZ is value-preserving.
          df.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType => df
        case other =>
          // fail HERE, not downstream: a fourth encoding must surface
          // as one clear error at load, not as a confusing analysis
          // failure in whichever events query runs first
          throw new IllegalStateException(
            s"events.ts arrived as unsupported type $other — teach " +
              "Tables.load (and TablesSpec) the new encoding")
      }
    } else ParquetRead(spark, path)
  }
}
