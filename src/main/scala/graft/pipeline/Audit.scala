package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetDriverWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Audit-log records for write operations (capability counterpart of
  * ingest-framework/framework/src/sparkbuilder/audit/auditlogs.py:
  * one row per operation with table, op, timestamp, user, and a JSON
  * metrics payload).
  */
object Audit {

  /** Append a small frame (audit, run and DQ rows) to the parquet
    * table at `dir` as one file written on the driver, and return its
    * rows. The frame is collected — the records below are local
    * relations, which collect without a Spark job — and written with
    * Spark's own parquet writer ([[ParquetDriverWriter]]), so the
    * directory reads back as `df.write.mode("append").parquet(dir)`
    * would have left it.
    */
  def append(df: DataFrame, dir: String): Array[Row] = {
    val rows = df.collect()
    append(df.sparkSession, rows.toSeq, df.schema, dir)
    rows
  }

  /** [[append]] for rows already on the driver. */
  def append(spark: SparkSession, rows: Seq[Row], schema: StructType,
             dir: String): Unit =
    ParquetDriverWriter.write(spark, rows, schema, dir)

  def log(spark: SparkSession, tableName: String, operation: String,
          stats: MergeStats, jobId: String = ""): DataFrame = {
    import spark.implicits._
    Seq((tableName, operation, stats.inserted, stats.updated, stats.deleted, jobId))
      .toDF("table_name", "audit_operation", "num_inserted", "num_updated",
        "num_deleted", "job_id")
      .withColumn("audit_timestamp", current_timestamp())
      .withColumn("audit_user", expr("current_user()"))
      .withColumn("audit_info",
        to_json(struct(col("num_inserted"), col("num_updated"), col("num_deleted"))))
  }

  /** Run-level audit record (reference audit/utils.py job/run
    * metadata capture): one row per job run with identity, timing,
    * and outcome.
    */
  def runRecord(spark: SparkSession, jobName: String, runId: String,
                startedAtMs: Long, finishedAtMs: Long,
                nWrites: Int, status: String): DataFrame = {
    import spark.implicits._
    Seq((jobName, runId, new java.sql.Timestamp(startedAtMs),
      new java.sql.Timestamp(finishedAtMs),
      (finishedAtMs - startedAtMs) / 1000.0, nWrites, status))
      .toDF("job_name", "run_id", "started_at", "finished_at",
        "duration_sec", "n_writes", "status")
      .withColumn("audit_user", expr("current_user()"))
  }

  /** Streaming-run audit record with STATE-STORE metrics (the
    * reference's audit `metrics` JSON captures per-run Spark metrics
    * — audit/auditlogs.py; for a stateful stream the operational
    * signal is the state store): one row per stateful operator of the
    * query's most recent progress that carried state, with rows
    * held/updated/evicted and memory, plus the full progress JSON for
    * anything else an operator needs. A stateless query yields one
    * row with a null operator so the run itself is still recorded.
    *
    * State growth across runs is THE early-warning signal of a
    * watermark bug (state that never evicts ends in executor OOM
    * weeks later) — recording `num_rows_total` per run makes it a
    * one-query dashboard.
    */
  def streamingRunRecord(spark: SparkSession, jobName: String,
                         query: org.apache.spark.sql.streaming.StreamingQuery)
      : DataFrame = {
    import spark.implicits._
    val progress = query.recentProgress
      .filter(_.stateOperators.nonEmpty).lastOption
      .orElse(Option(query.lastProgress))
    val base = progress match {
      case Some(p) if p.stateOperators.nonEmpty =>
        p.stateOperators.toSeq.map { so =>
          (jobName, query.id.toString, query.runId.toString, p.batchId,
            p.numInputRows, Option(so.operatorName),
            Some(so.numRowsTotal), Some(so.numRowsUpdated),
            Some(so.numRowsRemoved), Some(so.memoryUsedBytes), p.json)
        }
      case Some(p) =>
        Seq((jobName, query.id.toString, query.runId.toString, p.batchId,
          p.numInputRows, Option.empty[String], Option.empty[Long],
          Option.empty[Long], Option.empty[Long], Option.empty[Long], p.json))
      case None =>
        Seq((jobName, query.id.toString, query.runId.toString, -1L, 0L,
          Option.empty[String], Option.empty[Long], Option.empty[Long],
          Option.empty[Long], Option.empty[Long], "{}"))
    }
    base.toDF("job_name", "query_id", "run_id", "batch_id", "num_input_rows",
      "operator_name", "state_rows_total", "state_rows_updated",
      "state_rows_removed", "state_memory_bytes", "progress_json")
      .withColumn("audit_timestamp", current_timestamp())
  }

  /** Deterministic merge-shape statistics for a prospective SCD1
    * merge as a single-join PLAN (no driver actions, no wall-clock,
    * oracle-able): matched keys count as `num_matched`, source-only
    * keys as `num_inserted`, target-only keys as `num_untouched`
    * (keys the merge would not touch — NOT "matched but unchanged").
    */
  def mergeShape(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val tKeys = target.select(keys.map(col): _*).distinct()
      .withColumn("_t", lit(1))
    val uKeys = updates.select(keys.map(col): _*).distinct()
      .withColumn("_u", lit(1))
    tKeys.join(uKeys, keys, "full_outer").agg(
      sum(when(col("_t").isNotNull && col("_u").isNotNull, 1L).otherwise(0L)).as("num_matched"),
      sum(when(col("_t").isNull, 1L).otherwise(0L)).as("num_inserted"),
      sum(when(col("_u").isNull, 1L).otherwise(0L)).as("num_untouched"))
  }
}
