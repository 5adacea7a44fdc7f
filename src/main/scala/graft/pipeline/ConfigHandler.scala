package graft.pipeline

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.dq._

/** JSON config parsing + validation: the "config-driven" entry point
  * (capability counterpart of the reference's
  * utils/config_handler.py:1-172, which validates JSON dicts and
  * resolves control-table indirection). A config file fully drives
  * read -> transforms -> DQ -> writes without touching Scala code.
  *
  * Parsing uses jackson-databind (already on Spark's classpath — no
  * new dependency) and fails fast with the offending path in the
  * error message.
  */
object ConfigHandler {

  private val mapper = new ObjectMapper()

  final class ConfigError(path: String, msg: String)
    extends IllegalArgumentException(s"config error at $path: $msg")

  def load(path: String): IngestConfig =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))

  /** Control-table indirection (reference `_read_table_configs`):
    * a small table holds one JSON config per source; every enabled
    * row becomes an IngestConfig — the pattern that lets ONE generic
    * job ingest a whole fleet of sources, adding sources by inserting
    * rows instead of deploying code. Config tables are inherently
    * small (one row per source), so the collect is a few KB.
    */
  def fromControlTable(configs: org.apache.spark.sql.DataFrame,
                       jsonCol: String = "config_json",
                       enabledCol: Option[String] = Some("enabled"))
      : Seq[(String, IngestConfig)] = {
    import org.apache.spark.sql.functions.col
    val active = enabledCol match {
      case Some(c) if configs.columns.contains(c) => configs.filter(col(c))
      case _                                      => configs
    }
    active.select(col(jsonCol)).collect().toSeq.map { r =>
      val json = r.getString(0)
      val cfg = parse(json)
      cfg.source.path -> cfg
    }
  }

  /** Run every enabled config from a control table in sequence,
    * returning per-source outcomes (the generic foreach-ingestion
    * job). A failure in one source does not stop the rest.
    */
  def runAll(spark: org.apache.spark.sql.SparkSession,
             configs: org.apache.spark.sql.DataFrame,
             jsonCol: String = "config_json")
      : Seq[(String, Either[Throwable, Long])] =
    fromControlTable(configs, jsonCol).map { case (name, cfg) =>
      name -> (try Right(IngestJob.run(spark, cfg).count())
      catch { case e: Throwable => Left(e) })
    }

  def parse(json: String): IngestConfig = {
    val root = mapper.readTree(json)
    if (root == null || !root.isObject)
      throw new ConfigError("$", "config must be a JSON object")
    IngestConfig(
      source = parseSource(need(root, "source", "$")),
      transforms = arr(root, "transforms").zipWithIndex
        .map { case (n, i) => parseTransform(n, s"$$.transforms[$i]") },
      writes = arr(root, "writes").zipWithIndex
        .map { case (n, i) => parseWrite(n, s"$$.writes[$i]") },
      dqRules = arr(root, "dqRules").zipWithIndex
        .map { case (n, i) => parseDqRule(n, s"$$.dqRules[$i]") },
      auditTablePath = opt(root, "auditTablePath").map(_.asText),
      failOnDqViolation = opt(root, "failOnDqViolation").exists(_.asBoolean),
      tableFormat = formatOf(opt(root, "tableFormat").map(_.asText),
        "$.tableFormat"))
  } match { case cfg =>
    // cross-field checks that need both the writes and the format
    cfg.writes.zipWithIndex.foreach { case (w, i) =>
      val at = s"$$.writes[$i]"
      if ((w.clusterBy.nonEmpty || w.zorderBy.nonEmpty) &&
          cfg.tableFormat != DeltaLogTableFormat)
        throw new ConfigError(at,
          "clusterBy/zorderBy need file-stats clustering — tableFormat 'delta-log'")
      // the clustered optimize only runs after merge writes; accepting
      // it on append/overwrite would silently never cluster
      if ((w.clusterBy.nonEmpty || w.zorderBy.nonEmpty) && w.mode != "merge")
        throw new ConfigError(at,
          s"clusterBy/zorderBy run after merge writes only, not mode '${w.mode}'")
      if (w.clusterBy.nonEmpty && w.zorderBy.nonEmpty)
        throw new ConfigError(at,
          "clusterBy and zorderBy are mutually exclusive layouts")
      if (w.zorderBy.nonEmpty && w.zorderBy.size < 2)
        throw new ConfigError(at,
          "zorderBy needs >= 2 columns; use clusterBy for one")
      if (w.mode == "merge" && w.partitionBy.size > 1 &&
          cfg.tableFormat != DeltaLogTableFormat)
        throw new ConfigError(at, "multi-column partitionBy merges need " +
          "tableFormat 'delta-log' (snapshot prunes a single column)")
    }
    cfg
  }

  /** Config block for the INCREMENTAL dedup family (SURVEY.md §2
    * #27-31 streaming members) — the declaration that lets a
    * medallion job maintain near-dup/exact-dup/ANN gold tables from
    * a silver change feed like any other write, instead of hand-
    * wiring [[graft.streaming.MergeTableStream]] + the member call.
    * Executed by [[graft.streaming.IncrementalDedupJob.run]].
    *
    * `contentCol` is the text column for text members and the
    * embedding column for `embedding`/`ivf`. `params` carries the
    * member's tuning knobs by name (validated against the member's
    * real parameter list — unknown keys fail fast, they are silent
    * no-ops otherwise). `stateFormat` picks the state/gold layout:
    * `bucketed[:N]` is the 100 TB path (key-hash bucketed delta-log
    * pruned merges — see [[BucketedTableFormat]]).
    */
  final case class IncrementalDedupConfig(
      member: String,
      silverPath: String,
      checkpoint: String,
      stateDir: String,
      goldPath: String,
      idCol: String,
      contentCol: String,
      appendOnly: Boolean = false,
      silverFormat: TableFormat = SnapshotTableFormat,
      stateFormat: TableFormat = SnapshotTableFormat,
      params: Map[String, String] = Map.empty,
      retainVersions: Option[Int] = None)

  private[graft] def formatOf(name: Option[String], at: String,
                              allowBucketed: Boolean = false): TableFormat =
    name match {
      case None | Some("snapshot") => SnapshotTableFormat
      case Some("delta-log")       => DeltaLogTableFormat
      case Some("bucketed") if allowBucketed => BucketedTableFormat()
      case Some(s) if allowBucketed && s.startsWith("bucketed:") &&
          s.stripPrefix("bucketed:").nonEmpty &&
          s.stripPrefix("bucketed:").forall(_.isDigit) =>
        // config-layer validation owns BOTH failure shapes here: an
        // Int-overflowing digit string (toInt would throw
        // NumberFormatException) and a sub-minimum count
        // (BucketedTableFormat's require would throw
        // IllegalArgumentException) must surface as ConfigError at
        // this path like every other config validation
        val n = s.stripPrefix("bucketed:")
        scala.util.Try(n.toInt).toOption.filter(_ >= 2) match {
          case Some(b) => BucketedTableFormat(b)
          case None => throw new ConfigError(at,
            s"bucketed:N needs an integer bucket count >= 2, got '$n'")
        }
      case Some(other) => throw new ConfigError(at,
        s"unknown table format '$other' (snapshot | delta-log" +
          (if (allowBucketed) " | bucketed[:N])" else ")"))
    }

  def parseIncrementalDedup(json: String): IncrementalDedupConfig = {
    val root = mapper.readTree(json)
    if (root == null || !root.isObject)
      throw new ConfigError("$", "config must be a JSON object")
    IncrementalDedupConfig(
      member = need(root, "member", "$").asText,
      silverPath = need(root, "silverPath", "$").asText,
      checkpoint = need(root, "checkpoint", "$").asText,
      stateDir = need(root, "stateDir", "$").asText,
      goldPath = need(root, "goldPath", "$").asText,
      idCol = need(root, "idCol", "$").asText,
      contentCol = need(root, "contentCol", "$").asText,
      appendOnly = opt(root, "appendOnly").exists(_.asBoolean),
      // silver is a merge-table the feed diffs — bucketed works there
      // too (it is a TableFormat), so both accept the full menu
      silverFormat = formatOf(opt(root, "silverFormat").map(_.asText),
        "$.silverFormat", allowBucketed = true),
      stateFormat = formatOf(opt(root, "stateFormat").map(_.asText),
        "$.stateFormat", allowBucketed = true),
      params = opt(root, "params").map(p => strMap(p).toMap)
        .getOrElse(Map.empty),
      // without retention the state/gold dirs keep every fold's
      // superseded files forever — at daily folds over 100 TB state
      // that is the next disk-space killer; opt-in because vacuuming
      // gold truncates how far behind a downstream feed consumer may
      // lag before it degrades to a full-snapshot re-delivery
      retainVersions = opt(root, "retainVersions").map(_.asInt)) match {
      case c =>
        c.retainVersions.foreach(k => if (k < 2)
          throw new ConfigError("$.retainVersions",
            s"must keep >= 2 versions (crash replay needs the previous " +
              s"commit), got $k"))
        c
    }
  }

  private def need(n: JsonNode, field: String, at: String): JsonNode = {
    val v = n.get(field)
    if (v == null || v.isNull) throw new ConfigError(at, s"missing required field '$field'")
    v
  }
  private def opt(n: JsonNode, field: String): Option[JsonNode] =
    Option(n.get(field)).filterNot(_.isNull)
  private def arr(n: JsonNode, field: String): Seq[JsonNode] =
    opt(n, field).map(_.elements.asScala.toSeq).getOrElse(Nil)
  private def strSeq(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
  private def strMap(n: JsonNode): Seq[(String, String)] =
    n.properties.asScala.toSeq.map(e => e.getKey -> e.getValue.asText)

  private def parseSource(n: JsonNode): SourceConfig =
    SourceConfig(
      format = need(n, "format", "$.source").asText,
      path = need(n, "path", "$.source").asText,
      options = opt(n, "options").map(o => strMap(o).toMap).getOrElse(Map.empty))

  private def parseWrite(n: JsonNode, at: String): WriteConfig = {
    val mode = opt(n, "mode").map(_.asText).getOrElse("append")
    if (!Seq("append", "overwrite", "merge").contains(mode))
      throw new ConfigError(at, s"unknown write mode '$mode'")
    val extract = opt(n, "extractMode").map(_.asText).getOrElse("ie")
    if (!Seq("ie", "fe").contains(extract))
      throw new ConfigError(at, s"extractMode must be 'ie' or 'fe', got '$extract'")
    val w = WriteConfig(
      path = need(n, "path", at).asText,
      mode = mode,
      keys = opt(n, "keys").map(strSeq).getOrElse(Nil),
      scdType = opt(n, "scdType").map(_.asInt).getOrElse(1),
      orderBy = opt(n, "orderBy").map(_.asText).getOrElse("file_modification_time"),
      format = opt(n, "format").map(_.asText).getOrElse("parquet"),
      medallionLayer = opt(n, "medallionLayer").map(_.asText).getOrElse(""),
      extractMode = extract,
      optimizeAfter = opt(n, "optimizeAfter").exists(_.asBoolean),
      partitionBy = opt(n, "partitionBy").map(strSeq).getOrElse(Nil),
      clusterBy = opt(n, "clusterBy").map(_.asText),
      zorderBy = opt(n, "zorderBy").map(strSeq).getOrElse(Nil))
    if (w.mode == "merge" && w.keys.isEmpty)
      throw new ConfigError(at, "merge mode requires non-empty 'keys'")
    if (w.mode == "merge" && w.partitionBy.nonEmpty && w.extractMode == "fe")
      throw new ConfigError(at, "partitionBy merges are pruned to touched " +
        "partitions, which cannot see a full extract's deletes — use " +
        "extractMode 'ie' or drop partitionBy")
    w
  }

  private def parseTransform(n: JsonNode, at: String): Transform =
    need(n, "type", at).asText match {
      case "where"  => Where(need(n, "condition", at).asText)
      case "select" => Select(strSeq(need(n, "columns", at)))
      case "drop"   => Drop(strSeq(need(n, "columns", at)))
      case "rename" => Rename(strMap(need(n, "mapping", at)))
      case "cast"   => Cast(strMap(need(n, "mapping", at)))
      case "rename_and_cast" =>
        RenameAndCast(arr(n, "specs").map(s => (
          need(s, "from", at).asText, need(s, "to", at).asText,
          need(s, "type", at).asText)))
      case "with_column" =>
        WithColumnExpr(need(n, "name", at).asText, need(n, "expr", at).asText)
      case "normalize_cols" => NormalizeCols
      case "lowercase_cols" => LowercaseCols
      case "sql" =>
        SqlTransform(need(n, "query", at).asText,
          opt(n, "substitutions").map(s => strMap(s).toMap).getOrElse(Map.empty))
      case "resize_plan" =>
        ResizePlan(need(n, "max_width", at).asInt,
          need(n, "max_height", at).asInt)
      case "resample_plan" =>
        ResamplePlan(need(n, "target_rate", at).asInt)
      case other => throw new ConfigError(at, s"unknown transform type '$other'")
    }

  private def parseDqRule(n: JsonNode, at: String): DqRule =
    need(n, "type", at).asText match {
      case "not_null" => NotNull(need(n, "column", at).asText)
      case "unique"   => Unique(need(n, "column", at).asText)
      case "in_range" => InRange(need(n, "column", at).asText,
        need(n, "min", at).asDouble, need(n, "max", at).asDouble)
      case "in_set" => InSet(need(n, "column", at).asText,
        strSeq(need(n, "values", at)))
      case "matches_regex" => MatchesRegex(need(n, "column", at).asText,
        need(n, "pattern", at).asText)
      case "custom" => CustomPredicate(need(n, "name", at).asText,
        need(n, "predicate", at).asText)
      case other => throw new ConfigError(at, s"unknown dq rule type '$other'")
    }
}
