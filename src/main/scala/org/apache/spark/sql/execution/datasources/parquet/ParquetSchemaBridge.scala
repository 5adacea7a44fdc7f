package org.apache.spark.sql.execution.datasources.parquet

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{DataSource, DataSourceUtils, FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Spark's own parquet relation, built without the schema-inference
  * job.
  *
  * `spark.read.parquet(path)` resolves to `DataSource.resolveRelation`:
  * it lists the path into an `InMemoryFileIndex`, then runs a Spark
  * job (`mergeSchemasInParallel`) to read ONE footer —
  * `_common_metadata`, else `_metadata`, else the first data file in
  * path order — and builds a `HadoopFsRelation` from that index, its
  * partition schema and the footer's schema. [[read]] takes the same
  * steps with Spark's own pieces, and reads that footer on the driver
  * with `ParquetFileFormat.readSchema` (`private[parquet]`, hence this
  * package). Same pattern as
  * [[org.apache.spark.sql.graftbridge.ColumnBridge]]: a one-file
  * re-export, no Spark internals modified or shadowed.
  */
object ParquetSchemaBridge {

  /** `spark.read.options(options).parquet(path)` with the footer read
    * on the driver; None where the relation is left to Spark: schema
    * merging (option or conf), a streaming sink's output directory
    * (read through its metadata log), no data file, or a footer the
    * driver cannot read (Spark raises, or skips it under
    * `ignoreCorruptFiles`, as before).
    */
  def read(spark: SparkSession, path: String,
           options: Map[String, String]): Option[DataFrame] = {
    // what the reader hands DataSource: the options plus the path
    val opts = options + ("path" -> path)
    val caseless = CaseInsensitiveMap(opts)
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(opts)
    if (new ParquetOptions(caseless, conf).mergeSchema ||
        FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf)) None
    else {
      val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
        checkEmptyGlobPath = true, checkFilesExist = true,
        enableGlobbing = caseless.get(DataSource.GLOB_PATHS_KEY).forall(_ == "true"))
      val index = new InMemoryFileIndex(spark, roots, opts, None,
        FileStatusCache.getOrCreate(spark))
      val files = index.allFiles().sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      named("_common_metadata").orElse(named("_metadata"))
        .orElse(files.find(f => !Set("_common_metadata", "_metadata")(f.getPath.getName)))
        .flatMap(f => Try(footerSchema(spark, f, hadoopConf)).toOption.flatten)
        .map { dataSchema =>
          val relation = HadoopFsRelation(index, index.partitionSchema,
            dataSchema.asNullable, None, new ParquetFileFormat, caseless)(spark)
          val caseSensitive = conf.caseSensitiveAnalysis
          SchemaUtils.checkSchemaColumnNameDuplication(relation.dataSchema, caseSensitive)
          SchemaUtils.checkSchemaColumnNameDuplication(relation.partitionSchema, caseSensitive)
          DataSourceUtils.verifySchema(relation.fileFormat, relation.dataSchema)
          spark.baseRelationToDataFrame(relation)
        }
    }
  }

  /** The schema inference derives from this one file's footer. */
  private def footerSchema(spark: SparkSession, file: FileStatus,
                           conf: Configuration): Option[StructType] = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark)
  }
}
