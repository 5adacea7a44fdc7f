package org.apache.spark.sql.execution.datasources.parquet

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType

/** One parquet file written on the driver with Spark's own writer.
  *
  * `df.write.mode("append").parquet(dir)` plans a job for even a
  * one-row frame: a task ships, deserializes the Hadoop configuration
  * and writes one file through the output committer. [[write]] takes
  * the writer factory that job would use
  * (`ParquetFileFormat.prepareWrite`, so compression, timestamp type,
  * rebase modes and the footer's Spark schema metadata follow the
  * session conf exactly as there) and writes the rows in the calling
  * thread. The file is written under a hidden name, renamed to a
  * `part-` name when complete, and `_SUCCESS` is touched, as the
  * committer leaves it. Same pattern as
  * [[ParquetSchemaBridge]]: `sessionState` is what needs this package.
  */
object ParquetDriverWriter {

  /** Append `rows` (of `schema`) to the parquet directory `dir` as one
    * new file.
    */
  def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
            dir: String): Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("driver", 0), TaskType.MAP, 0), 0))
    val out = new Path(dir)
    val fs = out.getFileSystem(job.getConfiguration)
    if (!fs.mkdirs(out)) throw new IOException(s"cannot create directory $dir")
    val name = s"part-00000-${UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val hidden = new Path(out, s".$name")
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    val writer = factory.newInstance(hidden.toString, schema, ctx)
    try {
      try rows.foreach(r => writer.write(toInternal(r).asInstanceOf[InternalRow]))
      finally writer.close()
    } catch { case e: Throwable => fs.delete(hidden, false); throw e }
    val file = new Path(out, name)
    if (!fs.rename(hidden, file)) {
      fs.delete(hidden, false)
      throw new IOException(s"cannot rename $hidden to $file")
    }
    fs.create(new Path(out, "_SUCCESS"), true).close()
  }
}
