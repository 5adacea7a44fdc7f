package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.pipeline.ConfigHandler.IncrementalDedupConfig

/** Config-driven driver for the eighteen-member incremental dedup family
  * — the reference's whole operating model is JSON-config → pipeline
  * (ingest-framework builder/engine.py), and until r16 the
  * incremental members were library-only: spec-verified, but a
  * 100 TB medallion job had to hand-wire the version walk + member
  * call. This runner dispatches a [[IncrementalDedupConfig]] block
  * the way `IngestJob.run` dispatches an ingest config:
  *
  *   silver change feed ([[MergeTableStream.processAvailableWithDeletes]])
  *     → member fold per committed version (batchOrd = version)
  *       → keyed state + gold under `stateFormat`
  *
  * `appendOnly = true` declares an insert-only corpus and switches to
  * the cheaper no-delete walk ([[MergeTableStream.processAvailable]])
  * plus the members' append-only fast path. The general path feeds
  * each window's hard-delete keys and honors `fullResync` on
  * vacuumed-gap re-entry — both exactly the contracts the members
  * document.
  *
  * Member params are validated against the member's REAL parameter
  * list: an unknown key fails fast (a typo'd `"treshold"` must not
  * silently run with the default).
  */
object IncrementalDedupJob {

  private val memberParams: Map[String, Set[String]] = Map(
    "exact" -> Set.empty,
    "minhash" -> Set("n", "numPerm", "bands", "threshold", "maxBucket",
      "minBands"),
    "simhash" -> Set("maxHamming", "maxBucket"),
    "jaccard" -> Set("n", "maxDf", "threshold"),
    "containment" -> Set("n", "maxDf", "threshold"),
    "winnow" -> Set("k", "w", "maxDf", "threshold", "prodHash"),
    "span" -> Set("k", "w", "minSpan", "prodHash"),
    "resolve" -> Set("n", "numPerm", "bands", "threshold", "maxBucket",
      "minBands"),
    "segment" -> Set("segWords", "minDocs"),
    "embedding" -> Set("threshold", "planes", "seed", "maxBucket"),
    "ivf" -> Set("k", "nlist", "nprobe"),
    "lmfamiliarity" -> Set("refWhere"),
    "ccnet" -> Set("refWhere"),
    "dsir" -> Set("targetWhere", "buckets"),
    "decontaminate" -> Set("benchWhere", "n"),
    "langid" -> Set("refWhere", "langExpr", "maxOrder", "k"),
    "bpe" -> Set("trainWhere", "merges"),
    "phash" -> Set("method", "maxHamming", "maxBucket"))

  /** Walk every unprocessed silver version through the configured
    * member. Returns the versions folded this call (empty = caught
    * up) — the same contract as the underlying feed.
    */
  def run(spark: SparkSession, cfg: IncrementalDedupConfig): Seq[Int] = {
    val known = memberParams.getOrElse(cfg.member,
      throw new IllegalArgumentException(
        s"unknown incremental dedup member '${cfg.member}' " +
          s"(${memberParams.keys.toSeq.sorted.mkString(" | ")})"))
    val unknown = cfg.params.keySet -- known
    require(unknown.isEmpty,
      s"unknown params for member '${cfg.member}': " +
        s"${unknown.toSeq.sorted.mkString(", ")} (accepted: " +
        s"${known.toSeq.sorted.mkString(", ")})")
    require(cfg.member != "resolve" || !cfg.appendOnly,
      "the resolve member has no append-only fast path — drop appendOnly")
    require(cfg.member != "embedding" || cfg.params.contains("planes"),
      "the embedding member requires explicit 'planes' (state needs ONE " +
        "fixed plane count across every batch)")
    require(cfg.member != "lmfamiliarity" || cfg.params.contains("refWhere"),
      "the lmfamiliarity member requires 'refWhere' (a SQL predicate over " +
        "the silver row naming the reference corpus, e.g. " +
        "\"source = 'src0'\")")
    require(cfg.member != "ccnet" || cfg.params.contains("refWhere"),
      "the ccnet member requires 'refWhere' (a SQL predicate over the " +
        "silver row naming the reference corpus, e.g. \"source = 'src0'\")")
    require(cfg.member != "dsir" || cfg.params.contains("targetWhere"),
      "the dsir member requires 'targetWhere' (a SQL predicate over the " +
        "silver row naming the target slice, e.g. \"source = 'src0'\")")
    require(cfg.member != "decontaminate" || cfg.params.contains("benchWhere"),
      "the decontaminate member requires 'benchWhere' (a SQL predicate " +
        "over the silver row naming the benchmark slice, e.g. " +
        "\"source = 'src0'\")")
    require(cfg.member != "langid" || cfg.params.contains("refWhere"),
      "the langid member requires 'refWhere' (a SQL predicate over the " +
        "silver row naming the labeled reference slice, e.g. " +
        "\"source = 'src0'\"); 'langExpr' names the label column or " +
        "expression (default \"lang\")")
    require(cfg.member != "bpe" || cfg.params.contains("trainWhere"),
      "the bpe member requires 'trainWhere' (a SQL predicate over the " +
        "silver row naming the tokenizer training slice, e.g. " +
        "\"source = 'src0'\")")
    // validate the method VALUE at dispatch time: the kernel's own
    // require only fires inside a fold, so a caught-up checkpoint
    // would accept a typo'd method silently until the next version
    require(cfg.member != "phash" ||
      Set("dhash", "ahash")(cfg.params.getOrElse("method", "dhash")),
      "the phash member's 'method' must be dhash | ahash")

    val p = cfg.params
    def int(k: String, d: Int): Int = p.get(k).map(_.toInt).getOrElse(d)
    def dbl(k: String, d: Double): Double =
      p.get(k).map(_.toDouble).getOrElse(d)

    def fold(feed: DataFrame, feedDels: Option[DataFrame], v: Int,
             resync: Boolean): Unit = {
      val (chg, dels) = liveChanges(feed, feedDels, cfg.idCol)
      val batch = chg.select(col(cfg.idCol), col(cfg.contentCol))
      val ord = v.toLong
      cfg.member match {
        case "lmfamiliarity" =>
          // refWhere evaluates over the FULL silver row, so this
          // member receives the unprojected change batch
          TextAnalysis.lmFamiliarityIncremental(spark, chg,
            cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
            org.apache.spark.sql.functions.expr(p("refWhere")),
            deletes = dels, fullResync = resync,
            appendOnly = cfg.appendOnly, fmt = cfg.stateFormat)
        case "ccnet" =>
          // refWhere over the full silver row, like lmfamiliarity
          TextAnalysis.ccnetBucketsIncremental(spark, chg,
            cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
            org.apache.spark.sql.functions.expr(p("refWhere")),
            deletes = dels, fullResync = resync,
            appendOnly = cfg.appendOnly, fmt = cfg.stateFormat)
        case "dsir" =>
          // targetWhere evaluates over the FULL silver row — the
          // same unprojected-batch contract as lmfamiliarity
          TextAnalysis.dsirIncremental(spark, chg,
            cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
            org.apache.spark.sql.functions.expr(p("targetWhere")),
            buckets = int("buckets", 1024),
            deletes = dels, fullResync = resync,
            appendOnly = cfg.appendOnly, fmt = cfg.stateFormat)
        case "decontaminate" =>
          // benchWhere over the full silver row, like lmfamiliarity
          Dedup.decontaminateIncremental(spark, chg,
            cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
            org.apache.spark.sql.functions.expr(p("benchWhere")),
            n = int("n", 13),
            deletes = dels, fullResync = resync,
            appendOnly = cfg.appendOnly, fmt = cfg.stateFormat)
        case "langid" =>
          // refWhere + langExpr over the full silver row
          TextAnalysis.langIdIncremental(spark, chg,
            cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
            org.apache.spark.sql.functions.expr(p("refWhere")),
            org.apache.spark.sql.functions.expr(
              p.getOrElse("langExpr", "lang")),
            maxOrder = int("maxOrder", 3), k = int("k", 300),
            deletes = dels, fullResync = resync,
            appendOnly = cfg.appendOnly, fmt = cfg.stateFormat)
        case "bpe" =>
          // trainWhere over the full silver row, like lmfamiliarity
          TextAnalysis.bpeTokenCountsIncremental(spark, chg,
            cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
            org.apache.spark.sql.functions.expr(p("trainWhere")),
            merges = int("merges", 40),
            deletes = dels, fullResync = resync,
            appendOnly = cfg.appendOnly, fmt = cfg.stateFormat)
        case "exact" => Dedup.exactDedupIncremental(spark, batch,
          cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
          deletes = dels, fullResync = resync, appendOnly = cfg.appendOnly,
          fmt = cfg.stateFormat)
        case "minhash" => Dedup.minhashLshStatsIncremental(spark, batch,
          cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
          n = int("n", 5), numPerm = int("numPerm", 64),
          bands = int("bands", 16), threshold = dbl("threshold", 0.1),
          maxBucket = int("maxBucket", 10000), minBands = int("minBands", 1),
          deletes = dels, fullResync = resync, appendOnly = cfg.appendOnly,
          fmt = cfg.stateFormat)
        case "phash" =>
          // the binary-asset sibling of the simhash member: expects
          // a single-asset-type feed (one control row per media
          // type), contentCol names the payload column
          Dedup.phashStatsIncremental(spark, batch,
            cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
            method = p.getOrElse("method", "dhash"),
            maxHamming = int("maxHamming", 8),
            maxBucket = int("maxBucket", 10000),
            deletes = dels, fullResync = resync,
            appendOnly = cfg.appendOnly, fmt = cfg.stateFormat)
        case "simhash" => Dedup.simhashStatsIncremental(spark, batch,
          cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
          maxHamming = int("maxHamming", 8),
          maxBucket = int("maxBucket", 10000),
          deletes = dels, fullResync = resync, appendOnly = cfg.appendOnly,
          fmt = cfg.stateFormat)
        case "jaccard" => Dedup.jaccardStatsIncremental(spark, batch,
          cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
          n = int("n", 5), maxDf = int("maxDf", 20),
          threshold = dbl("threshold", 0.1),
          deletes = dels, fullResync = resync, appendOnly = cfg.appendOnly,
          fmt = cfg.stateFormat)
        case "containment" => Dedup.containmentStatsIncremental(spark, batch,
          cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
          n = int("n", 5), maxDf = int("maxDf", 20),
          threshold = dbl("threshold", 0.5),
          deletes = dels, fullResync = resync, appendOnly = cfg.appendOnly,
          fmt = cfg.stateFormat)
        case "winnow" => Dedup.winnowStatsIncremental(spark, batch,
          cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
          k = int("k", 8), w = int("w", 4), maxDf = int("maxDf", 20),
          threshold = dbl("threshold", 0.5),
          prodHash = p.get("prodHash").exists(_.toBoolean),
          deletes = dels, fullResync = resync, appendOnly = cfg.appendOnly,
          fmt = cfg.stateFormat)
        case "span" => TextAnalysis.spanStatsIncremental(spark, batch,
          cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
          k = int("k", 8), w = int("w", 4), minSpan = int("minSpan", 30),
          prodHash = p.get("prodHash").exists(_.toBoolean),
          deletes = dels, fullResync = resync, appendOnly = cfg.appendOnly,
          fmt = cfg.stateFormat)
        case "resolve" => Dedup.dedupResolveIncremental(spark, batch,
          cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
          n = int("n", 5), numPerm = int("numPerm", 64),
          bands = int("bands", 16), threshold = dbl("threshold", 0.1),
          maxBucket = int("maxBucket", 10000), minBands = int("minBands", 1),
          fmt = cfg.stateFormat)
        case "segment" => TextAnalysis.segmentDedupIncremental(spark, batch,
          cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
          segWords = int("segWords", 5), minDocs = int("minDocs", 3),
          deletes = dels, fullResync = resync, appendOnly = cfg.appendOnly,
          fmt = cfg.stateFormat)
        case "embedding" => Dedup.embeddingStatsLshIncremental(spark, batch,
          cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
          threshold = dbl("threshold", 0.4), planes = int("planes", -1),
          seed = p.get("seed").map(_.toLong).getOrElse(42L),
          maxBucket = int("maxBucket", 10000),
          deletes = dels, fullResync = resync, appendOnly = cfg.appendOnly,
          fmt = cfg.stateFormat)
        case "ivf" => Similarity.annIvfIncremental(spark, batch,
          cfg.idCol, cfg.contentCol, cfg.stateDir, cfg.goldPath, ord,
          k = int("k", 5), nlist = int("nlist", 64),
          nprobe = int("nprobe", 4),
          deletes = dels, fullResync = resync, appendOnly = cfg.appendOnly,
          fmt = cfg.stateFormat)
      }
    }

    val folded = runFolds(spark, cfg, fold)
    // opt-in retention: drop state/gold versions past the window so
    // per-fold superseded files don't accumulate forever (the members
    // themselves never vacuum — a library call can't know the job's
    // downstream-lag tolerance; the config can declare it)
    cfg.retainVersions.foreach { keep =>
      if (folded.nonEmpty) vacuumAll(cfg.stateFormat, cfg.stateDir,
        cfg.goldPath, keep)
    }
    folded
  }

  private def vacuumAll(fmt: graft.pipeline.TableFormat, stateDir: String,
                        goldPath: String, keep: Int): Unit = {
    import scala.jdk.CollectionConverters._
    def tryVacuum(p: String): Unit =
      if (fmt.exists(p)) { fmt.vacuum(p, keep); () }
    // single-table members use stateDir AS the table; multi-table
    // members nest docs/groups/bands (etc.) one level below it
    tryVacuum(stateDir)
    val d = java.nio.file.Paths.get(stateDir)
    if (java.nio.file.Files.isDirectory(d))
      scala.util.Using.resource(java.nio.file.Files.list(d))(
        _.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
          .foreach(c => tryVacuum(c.toString)))
    tryVacuum(goldPath)
  }

  /** Control-table fleet runner — the incremental-dedup analogue of
    * [[graft.pipeline.ConfigHandler.runAll]]: every enabled row's
    * JSON block runs in sequence, one source's failure never stops
    * the rest, and the per-source outcome (versions folded or the
    * error) comes back for the caller's run log. This is the
    * reference's whole operating model (one generic job + a config
    * table; add a corpus by inserting a row) applied to near-dup
    * state maintenance.
    */
  def runAll(spark: SparkSession,
             configs: org.apache.spark.sql.DataFrame,
             jsonCol: String = "config_json")
      : Seq[(String, Either[Throwable, Seq[Int]])] = {
    import org.apache.spark.sql.functions.col
    val active =
      if (configs.columns.contains("enabled")) configs.filter(col("enabled"))
      else configs
    active.select(col(jsonCol)).collect().toSeq.map { r =>
      val json = r.getString(0)
      // parse and run fail separately so the outcome key names the
      // member when the config parsed but the fold failed
      scala.util.Try(
        graft.pipeline.ConfigHandler.parseIncrementalDedup(json)) match {
        case scala.util.Failure(e) =>
          s"<unparsed:${json.take(40)}>" -> Left(e)
        case scala.util.Success(cfg) =>
          s"${cfg.member}:${cfg.silverPath}" ->
            (try Right(run(spark, cfg))
            catch { case e: Throwable => Left(e) })
      }
    }
  }

  /** An SCD2 silver (one carrying `is_current` and `delete_time`)
    * keeps every closed version: its change feed holds each closed
    * row next to its successor under the same id, and a soft delete
    * is a close with `delete_time` set and no successor. Fold only
    * the rows that are not closed, and send ids whose only change is
    * a soft delete to the delete feed. Other silvers pass through.
    */
  private def liveChanges(chg: DataFrame, dels: Option[DataFrame],
                          idCol: String): (DataFrame, Option[DataFrame]) =
    if (!Seq("is_current", "delete_time").forall(chg.columns.contains))
      (chg, dels)
    else {
      val live = chg.filter(!(col("is_current") <=> lit(0)))
      val softDeleted = chg
        .filter(col("is_current") === 0 && col("delete_time").isNotNull)
        .select(col(idCol))
        .join(live.select(col(idCol)), Seq(idCol), "left_anti")
      (live, dels.map(_.unionByName(softDeleted)))
    }

  private def runFolds(spark: SparkSession, cfg: IncrementalDedupConfig,
                       fold: (DataFrame, Option[DataFrame], Int, Boolean)
                         => Unit): Seq[Int] = {
    if (cfg.appendOnly)
      // insert-only corpus: no delete accounting, no gold read —
      // the members' append-only fast path end to end
      MergeTableStream.processAvailable(spark, cfg.silverPath,
        cfg.checkpoint, cfg.silverFormat) { (chg, v) =>
        fold(chg, None, v, false)
      }
    else if (cfg.member == "resolve")
      // resolve maintains cluster labels from the change feed only
      // (no delete/fullResync contract on the member)
      MergeTableStream.processAvailable(spark, cfg.silverPath,
        cfg.checkpoint, cfg.silverFormat) { (chg, v) =>
        fold(chg, None, v, false)
      }
    else
      MergeTableStream.processAvailableWithDeletes(spark, cfg.silverPath,
        cfg.checkpoint, Seq(cfg.idCol), cfg.silverFormat) {
        (chg, dels, v, resync) => fold(chg, Some(dels), v, resync)
      }
  }
}
