package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline._
import graft.streaming.IncrementalDedupJob

class ConfigSpec extends SparkSpec {

  private def stageSource(): String = {
    val dir = Files.createTempDirectory("graft_cfg_src").toString + "/orders"
    Tables.load(spark, sf, "orders").write.parquet(dir)
    dir
  }

  test("JSON config drives a full ingest: read, transform, dq, merge, audit") {
    val src = stageSource()
    val table = Files.createTempDirectory("graft_cfg_tbl").toString
    val audit = Files.createTempDirectory("graft_cfg_audit").toString
    val cfg = ConfigHandler.parse(
      s"""{
         |  "source": {"format": "parquet", "path": "$src"},
         |  "transforms": [
         |    {"type": "where", "condition": "o_totalprice > 1000"},
         |    {"type": "with_column", "name": "price_band",
         |     "expr": "CAST(o_totalprice / 10000 AS INT)"},
         |    {"type": "lowercase_cols"}
         |  ],
         |  "dqRules": [
         |    {"type": "not_null", "column": "o_orderkey"},
         |    {"type": "unique", "column": "o_orderkey"}
         |  ],
         |  "writes": [{"path": "$table", "mode": "merge",
         |              "keys": ["o_orderkey"], "scdType": 1,
         |              "orderBy": "file_modification_time"}],
         |  "auditTablePath": "$audit",
         |  "failOnDqViolation": true
         |}""".stripMargin)
    val df = IngestJob.run(spark, cfg)
    assert(df.columns.contains("price_band"))
    val t = MergeTable.read(spark, table)
    assert(t.count() > 0 && t.count() == df.count())
    assert(spark.read.parquet(s"$audit/dq_results").count() == 2)
    assert(spark.read.parquet(s"$audit/audit_log").count() == 1)
  }

  test("JSON config drives the incremental minhash member end to end: fold, gold equals batch, deletes") {
    // the incremental dedup family's config surface (r16): a
    // medallion job declares a member + state dirs + knobs as JSON
    // and IncrementalDedupJob walks the silver change feed through
    // it — no hand-wired MergeTableStream plumbing. Gold must equal
    // the batch recompute after every fold (including a fold the
    // config's non-default threshold changes), and the delete feed
    // must flow through.
    import SparkSpec.spark.implicits._
    val silver = Files.createTempDirectory("graft_cfg_inc_silver").toString
    val work = Files.createTempDirectory("graft_cfg_inc").toString
    val cfg = ConfigHandler.parseIncrementalDedup(
      s"""{
         |  "member": "minhash",
         |  "silverPath": "$silver",
         |  "checkpoint": "$work/ck",
         |  "stateDir": "$work/state",
         |  "goldPath": "$work/gold",
         |  "idCol": "doc_id",
         |  "contentCol": "text",
         |  "silverFormat": "delta-log",
         |  "stateFormat": "bucketed:8",
         |  "params": {"n": "3", "numPerm": "16", "bands": "4",
         |             "threshold": "0.5", "maxBucket": "10"},
         |  "retainVersions": 2
         |}""".stripMargin)
    assert(cfg.stateFormat == graft.pipeline.BucketedTableFormat(8))
    val sfmt = graft.pipeline.DeltaLogTableFormat
    val dupText = "alpha beta gamma delta epsilon zeta eta theta"
    def checkGold(label: String): Unit = {
      val truth = graft.operators.Dedup.minhashLshStats(
        sfmt.read(spark, silver).select("doc_id", "text")
          .filter(col("text").isNotNull), "doc_id", "text",
        n = 3, numPerm = 16, bands = 4, threshold = 0.5, maxBucket = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      val got = cfg.stateFormat.read(spark, cfg.goldPath)
        .select(col("id"), col("n_candidates"), col("n_near"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      assert(got == truth, s"$label: $got vs $truth")
    }
    // batch 1: a duplicate pair + an unrelated doc
    sfmt.scd1Merge(spark, silver, Seq(
        (1L, dupText, 0), (2L, dupText, 0),
        (3L, "one two three four five six seven", 0))
      .toDF("doc_id", "text", "ord"), Seq("doc_id"), "ord",
      compareExclude = Nil)
    assert(IncrementalDedupJob.run(spark, cfg).nonEmpty)
    checkGold("after batch 1")
    // batch 2: doc 4 joins the family; caught-up run folds nothing
    sfmt.scd1Merge(spark, silver,
      Seq((4L, dupText, 1)).toDF("doc_id", "text", "ord"),
      Seq("doc_id"), "ord", compareExclude = Nil)
    assert(IncrementalDedupJob.run(spark, cfg).nonEmpty)
    checkGold("after batch 2")
    assert(IncrementalDedupJob.run(spark, cfg).isEmpty)
    // hard delete flows through the feed into the member
    sfmt.deleteKeys(spark, silver, Seq(2L).toDF("doc_id"), Seq("doc_id"))
    assert(IncrementalDedupJob.run(spark, cfg).nonEmpty)
    checkGold("after hard delete")
    assert(cfg.stateFormat.read(spark, cfg.goldPath)
      .filter(col("id") === 2L).count() == 0)
    // retainVersions: after three folded versions the state/gold dirs
    // hold only the configured window (every fold's superseded files
    // would otherwise accumulate forever)
    for (t <- Seq(s"${cfg.stateDir}/docs", s"${cfg.stateDir}/groups",
        s"${cfg.stateDir}/bands", cfg.goldPath)) {
      // the delta-log never truncates its LOG: retention is visible
      // as readable (data-complete) versions, not logged ones
      val readable = cfg.stateFormat.readableVersions(spark, t)
      assert(readable.isEmpty || readable.length <= 2,
        s"$t must retain <= 2 readable versions, has ${readable.mkString(",")}")
    }
    assert(cfg.stateFormat.versions(s"${cfg.stateDir}/docs").length >
      cfg.stateFormat.readableVersions(spark, s"${cfg.stateDir}/docs").length,
      "vacuum must actually have dropped an old docs version")
    intercept[ConfigHandler.ConfigError] {
      ConfigHandler.parseIncrementalDedup(
        """{"member":"minhash","silverPath":"x","checkpoint":"c",
          |"stateDir":"s","goldPath":"g","idCol":"i","contentCol":"t",
          |"retainVersions": 1}""".stripMargin)
    }
    // appendOnly config path: a fresh insert-only pipeline through
    // the cheaper no-delete walk + the member's append-only fast
    // path, gold still equals batch after a second increment
    val aoSilver = Files.createTempDirectory("graft_cfg_ao_silver").toString
    val aoWork = Files.createTempDirectory("graft_cfg_ao").toString
    val aoCfg = cfg.copy(appendOnly = true, silverPath = aoSilver,
      checkpoint = s"$aoWork/ck", stateDir = s"$aoWork/state",
      goldPath = s"$aoWork/gold")
    sfmt.scd1Merge(spark, aoSilver, Seq(
        (1L, dupText, 0), (2L, dupText, 0))
      .toDF("doc_id", "text", "ord"), Seq("doc_id"), "ord",
      compareExclude = Nil)
    assert(IncrementalDedupJob.run(spark, aoCfg).nonEmpty)
    sfmt.scd1Merge(spark, aoSilver,
      Seq((5L, dupText, 1)).toDF("doc_id", "text", "ord"),
      Seq("doc_id"), "ord", compareExclude = Nil)
    assert(IncrementalDedupJob.run(spark, aoCfg).nonEmpty)
    val aoTruth = graft.operators.Dedup.minhashLshStats(
      sfmt.read(spark, aoSilver).select("doc_id", "text"), "doc_id",
      "text", n = 3, numPerm = 16, bands = 4, threshold = 0.5,
      maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq.sortBy(_._1)
    val aoGold = aoCfg.stateFormat.read(spark, aoCfg.goldPath)
      .select(col("id"), col("n_near"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(aoGold == aoTruth, s"appendOnly: $aoGold vs $aoTruth")
    // the lmfamiliarity member dispatches through the runner (its
    // exactness contract is pinned in StreamingSpec): refWhere
    // evaluates over the full silver row, the frozen-epoch model
    // folds every version, deleted docs leave gold
    val lmWork = Files.createTempDirectory("graft_cfg_lm").toString
    val lmCfg = cfg.copy(member = "lmfamiliarity",
      checkpoint = s"$lmWork/ck", stateDir = s"$lmWork/state",
      goldPath = s"$lmWork/gold",
      params = Map("refWhere" -> "doc_id <= 2"))
    assert(IncrementalDedupJob.run(spark, lmCfg).nonEmpty)
    val lmGold = lmCfg.stateFormat.read(spark, lmCfg.goldPath)
    assert(lmGold.filter(col("id") === 2L).count() == 0,
      "hard-deleted doc must leave lm gold")
    assert(lmGold.filter(col("familiarity").isNotNull).count() ==
      sfmt.read(spark, silver).filter(col("text").isNotNull).count())
    intercept[IllegalArgumentException] {
      IncrementalDedupJob.run(spark, lmCfg.copy(params = Map.empty))
    }
    // the winnow member (the 11th) dispatches through the runner:
    // the JSON knobs (k/w/threshold) reach the fold, and gold equals
    // the batch MOSS verdict over silver-current (its fold-by-fold
    // exactness contract is pinned in StreamingSpec)
    val wnWork = Files.createTempDirectory("graft_cfg_wn").toString
    val wnCfg = cfg.copy(member = "winnow",
      checkpoint = s"$wnWork/ck", stateDir = s"$wnWork/state",
      goldPath = s"$wnWork/gold",
      params = Map("k" -> "4", "w" -> "3", "threshold" -> "0.5"))
    assert(IncrementalDedupJob.run(spark, wnCfg).nonEmpty)
    val wnTruth = graft.operators.Dedup.winnowOverlapStats(
        sfmt.read(spark, silver).filter(col("text").isNotNull)
          .select("doc_id", "text"), "doc_id", "text", k = 4, w = 3)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("n_overlapping")))
      .toSeq.sortBy(_._1)
    val wnGold = wnCfg.stateFormat.read(spark, wnCfg.goldPath)
      .select(col("id"), col("n_overlapping"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(wnGold == wnTruth, s"winnow via runner: $wnGold vs $wnTruth")
    // the span member (the 12th) dispatches too: JSON knobs reach the
    // fold and gold equals the batch span stats over silver-current
    val spWork = Files.createTempDirectory("graft_cfg_sp").toString
    val spCfg = cfg.copy(member = "span",
      checkpoint = s"$spWork/ck", stateDir = s"$spWork/state",
      goldPath = s"$spWork/gold",
      params = Map("k" -> "4", "w" -> "3", "minSpan" -> "10"))
    assert(IncrementalDedupJob.run(spark, spCfg).nonEmpty)
    val spTruth = graft.operators.TextAnalysis.spanDedupStats(
        sfmt.read(spark, silver).filter(col("text").isNotNull)
          .select("doc_id", "text"), "doc_id", "text",
        k = 4, w = 3, minSpan = 10)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("n_dup_spans")))
      .toSeq.sortBy(_._1)
    val spGold = spCfg.stateFormat.read(spark, spCfg.goldPath)
      .select(col("id"), col("n_dup_spans"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(spGold == spTruth, s"span via runner: $spGold vs $spTruth")
    // the dsir member (the 13th) dispatches through the runner:
    // targetWhere evaluates over the full silver row, the buckets
    // knob reaches the fold, every live non-null doc scores against
    // the frozen-epoch model, deleted docs leave gold (fold-by-fold
    // exactness is pinned in StreamingSpec)
    val dsWork = Files.createTempDirectory("graft_cfg_ds").toString
    val dsCfg = cfg.copy(member = "dsir",
      checkpoint = s"$dsWork/ck", stateDir = s"$dsWork/state",
      goldPath = s"$dsWork/gold",
      params = Map("targetWhere" -> "doc_id <= 2", "buckets" -> "256"))
    assert(IncrementalDedupJob.run(spark, dsCfg).nonEmpty)
    val dsGold = dsCfg.stateFormat.read(spark, dsCfg.goldPath)
    assert(dsGold.filter(col("id") === 2L).count() == 0,
      "hard-deleted doc must leave dsir gold")
    assert(dsGold.filter(col("dsir_weight").isNotNull).count() ==
      sfmt.read(spark, silver).filter(col("text").isNotNull).count())
    intercept[IllegalArgumentException] {
      IncrementalDedupJob.run(spark, dsCfg.copy(params = Map.empty))
    }
    // the ccnet member (the 14th) dispatches through the runner:
    // frozen-threshold buckets land on every live scoreable doc
    // (fold-by-fold exactness is pinned in StreamingSpec)
    val ccWork = Files.createTempDirectory("graft_cfg_cc").toString
    val ccCfg = cfg.copy(member = "ccnet",
      checkpoint = s"$ccWork/ck", stateDir = s"$ccWork/state",
      goldPath = s"$ccWork/gold",
      params = Map("refWhere" -> "doc_id <= 2"))
    assert(IncrementalDedupJob.run(spark, ccCfg).nonEmpty)
    val ccGold = ccCfg.stateFormat.read(spark, ccCfg.goldPath)
    assert(ccGold.filter(col("id") === 2L).count() == 0,
      "hard-deleted doc must leave ccnet gold")
    assert(ccGold.filter(col("bucket").isin("head", "middle", "tail"))
        .count() == ccGold.filter(col("familiarity").isNotNull).count(),
      "every scored doc must carry a tercile bucket")
    intercept[IllegalArgumentException] {
      IncrementalDedupJob.run(spark, ccCfg.copy(params = Map.empty))
    }
    // the decontaminate member (the 15th) dispatches through the
    // runner: benchWhere evaluates over the full silver row, the
    // benchmark set freezes from the first matching fold, benchmark
    // docs never enter gold (fold-by-fold exactness is pinned in
    // StreamingSpec). Silver here: docs 1,2 = dupText (benchmark),
    // 3 = unrelated (clean), 4 = dupText (fully contaminated),
    // 2 hard-deleted
    val dcWork = Files.createTempDirectory("graft_cfg_dc").toString
    val dcCfg = cfg.copy(member = "decontaminate",
      checkpoint = s"$dcWork/ck", stateDir = s"$dcWork/state",
      goldPath = s"$dcWork/gold",
      params = Map("benchWhere" -> "doc_id <= 2", "n" -> "13"))
    assert(IncrementalDedupJob.run(spark, dcCfg).nonEmpty)
    val dcGold = dcCfg.stateFormat.read(spark, dcCfg.goldPath)
      .select(col("id"), col("n_hits"), col("contaminated"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(dcGold.keySet == Set(3L, 4L),
      s"gold must hold exactly the non-benchmark docs: $dcGold")
    assert(dcGold(3L) == ((0L, false)) && dcGold(4L)._1 > 0L &&
      dcGold(4L)._2, s"contamination verdicts: $dcGold")
    intercept[IllegalArgumentException] {
      IncrementalDedupJob.run(spark, dcCfg.copy(params = Map.empty))
    }
    // the langid member (the 16th) dispatches through the runner:
    // refWhere + langExpr evaluate over the full silver row (the
    // silver has no label column, so the label is an expression —
    // exactly the production "labels ride a projection" case);
    // profiles freeze from the matching fold, every live non-null
    // doc classifies, deleted docs leave gold (fold-by-fold
    // exactness is pinned in StreamingSpec)
    val liWork = Files.createTempDirectory("graft_cfg_li").toString
    val liCfg = cfg.copy(member = "langid",
      checkpoint = s"$liWork/ck", stateDir = s"$liWork/state",
      goldPath = s"$liWork/gold",
      params = Map("refWhere" -> "doc_id <= 2",
        "langExpr" -> "CASE WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END",
        "k" -> "100"))
    assert(IncrementalDedupJob.run(spark, liCfg).nonEmpty)
    val liGold = liCfg.stateFormat.read(spark, liCfg.goldPath)
    assert(liGold.filter(col("id") === 2L).count() == 0,
      "hard-deleted doc must leave langid gold")
    assert(liGold.filter(col("lang_guess").isin("even", "odd")).count() ==
      sfmt.read(spark, silver).filter(col("text").isNotNull).count(),
      "every live doc must carry a language verdict")
    intercept[IllegalArgumentException] {
      IncrementalDedupJob.run(spark, liCfg.copy(params = Map.empty))
    }
    // the bpe member (the 17th) dispatches through the runner:
    // trainWhere over the full silver row, the merge table freezes
    // from the first matching fold, every live non-null doc carries
    // a token count under the frozen table, deleted docs leave gold
    // (fold-by-fold exactness is pinned in StreamingSpec)
    val bpWork = Files.createTempDirectory("graft_cfg_bp").toString
    val bpCfg = cfg.copy(member = "bpe",
      checkpoint = s"$bpWork/ck", stateDir = s"$bpWork/state",
      goldPath = s"$bpWork/gold",
      params = Map("trainWhere" -> "doc_id <= 2", "merges" -> "3"))
    assert(IncrementalDedupJob.run(spark, bpCfg).nonEmpty)
    val bpGold = bpCfg.stateFormat.read(spark, bpCfg.goldPath)
    assert(bpGold.filter(col("id") === 2L).count() == 0,
      "hard-deleted doc must leave bpe gold")
    val bpTruth = graft.operators.TextAnalysis.bpeTokenCountsFrozen(
        sfmt.read(spark, silver).filter(col("text").isNotNull)
          .select("doc_id", "text"), "doc_id", "text",
        bpCfg.stateFormat.read(spark, s"${bpCfg.stateDir}/model")
          .select("merge_rank", "lhs", "rhs"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    val bpRows = bpGold.select(col("id"), col("n_bpe_tokens"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(bpRows == bpTruth, s"bpe via runner: $bpRows vs $bpTruth")
    intercept[IllegalArgumentException] {
      IncrementalDedupJob.run(spark, bpCfg.copy(params = Map.empty))
    }
    // the phash member (the 18th) dispatches through the runner:
    // contentCol names the payload column (a string casts to binary
    // — the md5 degradation path on this text silver), pairing is
    // the simhash member's shared machinery (fold-by-fold exactness
    // is pinned in StreamingSpec)
    val phWork = Files.createTempDirectory("graft_cfg_ph").toString
    val phCfg = cfg.copy(member = "phash",
      checkpoint = s"$phWork/ck", stateDir = s"$phWork/state",
      goldPath = s"$phWork/gold",
      params = Map("method" -> "dhash", "maxHamming" -> "8"))
    assert(IncrementalDedupJob.run(spark, phCfg).nonEmpty)
    val phGold = phCfg.stateFormat.read(spark, phCfg.goldPath)
    assert(phGold.filter(col("id") === 2L).count() == 0,
      "hard-deleted doc must leave phash gold")
    // docs 1 and 4 carry identical bytes (dupText): md5 twins pair
    // at Hamming 0; the unrelated doc 3 pairs with nothing
    assert(phGold.filter(col("id").isin(1L, 4L)).collect()
      .forall(_.getAs[Long]("n_near") == 1L), "byte twins must pair")
    assert(phGold.filter(col("id") === 3L)
      .head.getAs[Long]("n_near") == 0L)
    intercept[IllegalArgumentException] {
      IncrementalDedupJob.run(spark, phCfg.copy(
        params = Map("method" -> "sift")))
    }
    // validation: unknown member, typo'd param, resolve+appendOnly
    intercept[IllegalArgumentException] {
      IncrementalDedupJob.run(spark, cfg.copy(member = "fuzzy"))
    }
    val err = intercept[IllegalArgumentException] {
      IncrementalDedupJob.run(spark,
        cfg.copy(params = Map("treshold" -> "0.5")))
    }
    assert(err.getMessage.contains("treshold"))
    intercept[IllegalArgumentException] {
      IncrementalDedupJob.run(spark,
        cfg.copy(member = "resolve", appendOnly = true))
    }
    intercept[ConfigHandler.ConfigError] {
      ConfigHandler.parseIncrementalDedup(
        """{"member":"minhash","silverPath":"x","checkpoint":"c",
          |"stateDir":"s","goldPath":"g","idCol":"i","contentCol":"t",
          |"stateFormat":"bucketed:abc"}""".stripMargin)
    }
    // every bucketed:N failure shape surfaces as ConfigError at the
    // field's path — an Int-overflowing digit string must not escape
    // as NumberFormatException, nor a sub-minimum count as the
    // format's bare require
    for (bad <- Seq("bucketed:99999999999", "bucketed:1", "bucketed:0")) {
      val e = intercept[ConfigHandler.ConfigError] {
        ConfigHandler.parseIncrementalDedup(
          s"""{"member":"minhash","silverPath":"x","checkpoint":"c",
             |"stateDir":"s","goldPath":"g","idCol":"i","contentCol":"t",
             |"stateFormat":"$bad"}""".stripMargin)
      }
      assert(e.getMessage.contains("stateFormat"), e.getMessage)
    }
    // control-table fleet: a healthy config and a broken one — the
    // failure is reported per-source and never stops the fleet
    val fleetWork = Files.createTempDirectory("graft_cfg_fleet").toString
    val goodJson =
      s"""{"member": "exact", "silverPath": "$silver",
         |"checkpoint": "$fleetWork/ck", "stateDir": "$fleetWork/state",
         |"goldPath": "$fleetWork/gold", "idCol": "doc_id",
         |"contentCol": "text", "silverFormat": "delta-log"}"""
        .stripMargin.replace("\n", " ")
    val control = Seq(
      (goodJson, true),
      ("""{"member": "fuzzy"}""", true),
      ("""{"member": "never-runs"}""", false))
      .toDF("config_json", "enabled")
    val outcomes = IncrementalDedupJob.runAll(spark, control)
    assert(outcomes.length == 2, "disabled rows never run")
    val good = outcomes.find(_._1.startsWith("exact:")).get
    val bad = outcomes.find(_._1.startsWith("<unparsed:")).get
    assert(good._2.toOption.exists(_.nonEmpty),
      s"healthy config must fold: $good")
    assert(bad._2.isLeft, "broken config reports its error")
    assert(IncrementalDedupJob.run(spark, ConfigHandler
        .parseIncrementalDedup(goodJson)).isEmpty,
      "caught-up fleet member folds nothing on re-run")
  }

  test("failOnDqViolation gates the write") {
    val src = stageSource()
    val table = Files.createTempDirectory("graft_cfg_fail").toString
    val cfg = ConfigHandler.parse(
      s"""{
         |  "source": {"format": "parquet", "path": "$src"},
         |  "dqRules": [{"type": "in_range", "column": "o_totalprice",
         |               "min": 0, "max": 1}],
         |  "writes": [{"path": "$table", "mode": "merge", "keys": ["o_orderkey"]}],
         |  "failOnDqViolation": true
         |}""".stripMargin)
    intercept[DqViolationException](IngestJob.run(spark, cfg))
    assert(!MergeTable.exists(table), "violating write must not land")
  }

  test("config validation fails fast with the offending path") {
    val bad = intercept[IllegalArgumentException](ConfigHandler.parse(
      """{"source": {"format": "parquet", "path": "/x"},
        |"writes": [{"path": "/y", "mode": "merge"}]}""".stripMargin))
    assert(bad.getMessage.contains("$.writes[0]") &&
      bad.getMessage.contains("keys"))
    val badMode = intercept[IllegalArgumentException](ConfigHandler.parse(
      """{"source": {"format": "parquet", "path": "/x"},
        |"writes": [{"path": "/y", "mode": "sideways"}]}""".stripMargin))
    assert(badMode.getMessage.contains("sideways"))
  }

  test("fe extract mode deletes keys missing from the source") {
    import SparkSpec.spark.implicits._
    val dir = Files.createTempDirectory("graft_fe").toString
    val table = s"$dir/table"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.parquet(s"$dir/full1")
    Seq((1L, "a2")).toDF("id", "v").write.parquet(s"$dir/full2")
    def cfg(src: String) = ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"writes": [{"path": "$table", "mode": "merge", "keys": ["id"],
         |            "orderBy": "file_modification_time",
         |            "extractMode": "fe"}]}""".stripMargin)
    IngestJob.run(spark, cfg(s"$dir/full1"))
    IngestJob.run(spark, cfg(s"$dir/full2"))
    val ids = MergeTable.read(spark, table).select("id").as[Long].collect()
    assert(ids.sameElements(Array(1L)), s"fe must drop id 2: ${ids.mkString}")
  }

  test("null merge keys are rejected before the write") {
    import SparkSpec.spark.implicits._
    val dir = Files.createTempDirectory("graft_nullkey").toString
    Seq((Some(1L), "a"), (None, "b")).toDF("id", "v")
      .write.parquet(s"$dir/src")
    val cfg = ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$dir/src"},
         |"writes": [{"path": "$dir/tbl", "mode": "merge", "keys": ["id"]}]}""".stripMargin)
    val e = intercept[IllegalArgumentException](IngestJob.run(spark, cfg))
    assert(e.getMessage.contains("null merge keys"))
    assert(!MergeTable.exists(s"$dir/tbl"))
  }

  test("run records capture job outcome and timing") {
    val src = stageSource()
    val dir = Files.createTempDirectory("graft_runlog").toString
    val cfg = ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"writes": [{"path": "$dir/tbl", "mode": "merge", "keys": ["o_orderkey"]}],
         |"auditTablePath": "$dir/audit"}""".stripMargin)
    IngestJob.run(spark, cfg)
    val log = spark.read.parquet(s"$dir/audit/run_log")
    assert(log.count() == 1)
    val r = log.collect()(0)
    assert(r.getAs[String]("status") == "success")
    assert(r.getAs[Double]("duration_sec") >= 0.0)
  }

  test("control-table indirection runs a fleet of configs") {
    import SparkSpec.spark.implicits._
    val src = stageSource()
    val dir = Files.createTempDirectory("graft_fleet").toString
    def cfgJson(i: Int, where: String) =
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"transforms": [{"type": "where", "condition": "$where"}],
         |"writes": [{"path": "$dir/t$i", "mode": "merge", "keys": ["o_orderkey"]}]}"""
        .stripMargin.replace("\n", " ")
    val control = Seq(
      (cfgJson(1, "o_totalprice > 1000"), true),
      (cfgJson(2, "o_orderstatus = 'O'"), true),
      (cfgJson(3, "1 = 1"), false) // disabled: must not run
    ).toDF("config_json", "enabled")
    val results = ConfigHandler.runAll(spark, control)
    assert(results.length == 2)
    assert(results.forall(_._2.isRight), results.mkString("; "))
    assert(MergeTable.exists(s"$dir/t1") && MergeTable.exists(s"$dir/t2"))
    assert(!MergeTable.exists(s"$dir/t3"), "disabled config must not run")
  }

  test("medallion bronze to silver chaining") {
    val src = stageSource()
    val dir = Files.createTempDirectory("graft_medallion").toString
    val bronze = ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"writes": [{"path": "$dir/bronze", "mode": "merge",
         |            "keys": ["o_orderkey"], "medallionLayer": "bronze"}]}""".stripMargin)
    val (_, silver) = IngestJob.runMedallion(spark, bronze,
      silverTransforms = Seq(
        Where("o_orderstatus = 'O'"),
        Select(Seq("o_orderkey", "o_custkey", "o_totalprice"))),
      silverWrites = Seq(WriteConfig(path = s"$dir/silver", mode = "merge",
        keys = Seq("o_orderkey"), orderBy = "o_orderkey",
        medallionLayer = "silver")))
    val s = MergeTable.read(spark, s"$dir/silver")
    assert(s.columns.sorted.sameElements(
      Array("o_custkey", "o_orderkey", "o_totalprice")))
    assert(s.count() == silver.count() && s.count() > 0)
    assert(!s.columns.contains("file_path"), "silver must drop control columns")
  }

  test("tableFormat config key routes merges through the delta-log format") {
    val src = stageSource()
    val dir = Files.createTempDirectory("graft_cfg_delta").toString
    val cfg = ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"writes": [{"path": "$dir/tbl", "mode": "merge", "keys": ["o_orderkey"]}],
         |"tableFormat": "delta-log"}""".stripMargin)
    IngestJob.run(spark, cfg)
    IngestJob.run(spark, cfg) // idempotent re-run commits a second version
    val fmt = graft.pipeline.DeltaLogTableFormat
    assert(fmt.exists(s"$dir/tbl") && fmt.versions(s"$dir/tbl") == Seq(0, 1))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/tbl/_delta_log")))
    assert(!MergeTable.exists(s"$dir/tbl"), "snapshot pointer must not exist")
    assert(fmt.read(spark, s"$dir/tbl").count() ==
      spark.read.parquet(src).select("o_orderkey").distinct().count())
    intercept[graft.pipeline.ConfigHandler.ConfigError](ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"tableFormat": "iceberg"}""".stripMargin))
  }

  test("optimizeAfter config compacts the delta-log target and audits it") {
    val src = stageSource()
    val dir = Files.createTempDirectory("graft_cfg_opt").toString
    val cfg = ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"writes": [{"path": "$dir/tbl", "mode": "merge",
         |  "keys": ["o_orderkey"], "optimizeAfter": true}],
         |"auditTablePath": "$dir/audit",
         |"tableFormat": "delta-log"}""".stripMargin)
    // seed with AQE coalescing off so the merge lands as multiple
    // small files — the layout real cluster parallelism produces
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevConf = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      IngestJob.run(spark, cfg)
    } finally spark.conf.set(coalesceKey, prevConf)
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = s"$dir/tbl"
    // merge at v0, then the post-merge OPTIMIZE commit at v1
    assert(fmt.versions(p) == Seq(0, 1))
    assert(fmt.read(spark, p).count() ==
      spark.read.parquet(src).select("o_orderkey").distinct().count())
    val audits = spark.read.parquet(s"$dir/audit/audit_log")
      .select("audit_operation").collect().map(_.getString(0)).sorted
    assert(audits.sameElements(Array("merge", "optimize")), audits.mkString(","))
    // and the same config against the snapshot format is a harmless
    // no-op (nothing to compact in whole-rewrite commits)
    val cfgSnap = ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"writes": [{"path": "$dir/tbl2", "mode": "merge",
         |  "keys": ["o_orderkey"], "optimizeAfter": true}]}""".stripMargin)
    IngestJob.run(spark, cfgSnap)
    assert(MergeTable.read(spark, s"$dir/tbl2").count() > 0)
  }

  test("medallion DQ failure matrix: layer x soft/hard, log lands before the gate") {
    val src = stageSource()
    // always-fails at any SF (no order is that cheap) vs always-passes
    val failing = graft.dq.InRange("o_totalprice", 0, 1)
    val passing = graft.dq.NotNull("o_orderkey")
    def bronzeCfg(dir: String, rules: Seq[graft.dq.DqRule], hard: Boolean) =
      IngestConfig(
        source = SourceConfig("parquet", src),
        dqRules = rules,
        writes = Seq(WriteConfig(path = s"$dir/bronze", mode = "merge",
          keys = Seq("o_orderkey"), medallionLayer = "bronze")),
        auditTablePath = Some(s"$dir/audit"),
        failOnDqViolation = hard)
    def silverWrites(dir: String) = Seq(WriteConfig(path = s"$dir/silver",
      mode = "merge", keys = Seq("o_orderkey"), orderBy = "o_orderkey",
      medallionLayer = "silver"))
    def dqRows(dir: String) = spark.read.parquet(s"$dir/audit/dq_results")
      .collect().map(r => (r.getAs[String]("layer"),
        r.getAs[Boolean]("passed"))).sorted.toSeq

    // 1. bronze soft-fail: log + continue all the way to silver
    val d1 = Files.createTempDirectory("graft_mx_bs").toString
    IngestJob.runMedallion(spark, bronzeCfg(d1, Seq(failing), hard = false),
      Nil, silverWrites(d1))
    assert(MergeTable.exists(s"$d1/bronze") && MergeTable.exists(s"$d1/silver"))
    assert(dqRows(d1) == Seq(("bronze", false)))

    // 2. bronze hard-fail: log row lands, then the gate throws before
    //    ANY write — no bronze, no silver
    val d2 = Files.createTempDirectory("graft_mx_bh").toString
    intercept[DqViolationException](
      IngestJob.runMedallion(spark, bronzeCfg(d2, Seq(failing), hard = true),
        Nil, silverWrites(d2)))
    assert(dqRows(d2) == Seq(("bronze", false)),
      "hard-fail must still write the DQ log row before throwing")
    assert(!MergeTable.exists(s"$d2/bronze") && !MergeTable.exists(s"$d2/silver"))
    val runLog = spark.read.parquet(s"$d2/audit/run_log").collect()
    assert(runLog.length == 1 &&
      runLog(0).getAs[String]("status").startsWith("failed: DqViolation"))

    // 3. silver soft-fail: both layers logged, silver still written
    val d3 = Files.createTempDirectory("graft_mx_ss").toString
    IngestJob.runMedallion(spark, bronzeCfg(d3, Seq(passing), hard = false),
      Nil, silverWrites(d3), silverDqRules = Seq(failing))
    assert(MergeTable.exists(s"$d3/silver"))
    assert(dqRows(d3) == Seq(("bronze", true), ("silver", false)))

    // 4. silver hard-fail: bronze landed, silver log row landed, the
    //    gate stopped the silver write
    val d4 = Files.createTempDirectory("graft_mx_sh").toString
    intercept[DqViolationException](
      IngestJob.runMedallion(spark, bronzeCfg(d4, Seq(passing), hard = true),
        Nil, silverWrites(d4), silverDqRules = Seq(failing)))
    assert(MergeTable.exists(s"$d4/bronze"), "bronze write precedes the silver gate")
    assert(!MergeTable.exists(s"$d4/silver"))
    assert(dqRows(d4) == Seq(("bronze", true), ("silver", false)))
    // the silver failure is recorded in run_log, not hidden behind
    // the bronze run's success row
    val statuses = spark.read.parquet(s"$d4/audit/run_log")
      .collect().map(_.getAs[String]("status")).sorted
    assert(statuses.length == 2 && statuses(0).startsWith("failed: DqViolation")
      && statuses(1) == "success", statuses.mkString("; "))
  }

  test("silver merge writes get key validation and audit_log rows") {
    import SparkSpec.spark.implicits._
    val src = stageSource()
    val dir = Files.createTempDirectory("graft_silver_guard").toString
    val bronze = IngestConfig(
      source = SourceConfig("parquet", src),
      writes = Seq(WriteConfig(path = s"$dir/bronze", mode = "merge",
        keys = Seq("o_orderkey"), medallionLayer = "bronze")),
      auditTablePath = Some(s"$dir/audit"))
    // a silver transform that nulls the merge key must be caught by
    // the same requireNonNullKeys guard the bronze path runs
    val e = intercept[IllegalArgumentException](
      IngestJob.runMedallion(spark, bronze,
        silverTransforms = Seq(WithColumnExpr("o_orderkey",
          "CAST(NULL AS BIGINT)")),
        silverWrites = Seq(WriteConfig(path = s"$dir/silver", mode = "merge",
          keys = Seq("o_orderkey"), orderBy = "o_custkey",
          medallionLayer = "silver"))))
    assert(e.getMessage.contains("null merge keys"))
    assert(!MergeTable.exists(s"$dir/silver"))
    // healthy medallion: silver merge contributes its own audit_log row
    IngestJob.runMedallion(spark, bronze, Nil,
      Seq(WriteConfig(path = s"$dir/silver2", mode = "merge",
        keys = Seq("o_orderkey"), orderBy = "o_orderkey",
        medallionLayer = "silver")))
    val audits = spark.read.parquet(s"$dir/audit/audit_log")
      .select("table_name").collect().map(_.getString(0))
    assert(audits.count(_.endsWith("/silver2")) == 1,
      s"silver merge must land an audit_log row: ${audits.mkString(",")}")
  }

  test("per-file ordered apply replays extracts in mtime order") {
    import SparkSpec.spark.implicits._
    import java.nio.file.attribute.FileTime
    import java.nio.file.Paths
    val dir = Files.createTempDirectory("graft_ordered").toString
    // two extract files, same key, older mtime carries newer-looking ord
    Seq((1L, "old", 5)).toDF("id", "v", "ord")
      .coalesce(1).write.parquet(s"$dir/f1")
    Seq((1L, "new", 5)).toDF("id", "v", "ord")
      .coalesce(1).write.parquet(s"$dir/f2")
    def stamp(sub: String, t: Long): Unit =
      Files.list(Paths.get(s"$dir/$sub")).filter(_.toString.endsWith(".parquet"))
        .forEach(p => Files.setLastModifiedTime(p, FileTime.fromMillis(t)))
    stamp("f1", 1700000000000L); stamp("f2", 1700000060000L)
    val updates = graft.sources.Sources.readParquet(spark,
      s"$dir/{f1,f2}/*.parquet")
    val table = s"$dir/table"
    val stats = MergeTable.mergeOrderedByFile(spark, table, updates,
      Seq("id"), "ord")
    assert(stats.length == 2)
    val v = MergeTable.read(spark, table)
      .filter(col("id") === 1).select("v").as[String].collect()
    assert(v.sameElements(Array("new")),
      s"later-mtime file must win equal-ord rows: ${v.mkString}")
  }

  test("partitionBy + clusterBy config routes pruned merge and clustered optimize") {
    val src = stageSource()
    val dir = Files.createTempDirectory("graft_cfg_part").toString
    val cfg = ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"writes": [{"path": "$dir/tbl", "mode": "merge",
         |  "keys": ["o_orderkey"], "orderBy": "o_orderkey",
         |  "partitionBy": ["o_orderstatus", "o_orderpriority"],
         |  "clusterBy": "o_orderkey"}],
         |"auditTablePath": "$dir/audit",
         |"tableFormat": "delta-log"}""".stripMargin)
    IngestJob.run(spark, cfg)
    val fmt = graft.pipeline.DeltaLogTableFormat
    val p = s"$dir/tbl"
    // pruned first merge at v0, clustered OPTIMIZE commit at v1
    assert(fmt.versions(p) == Seq(0, 1))
    val expected = spark.read.parquet(src)
      .select("o_orderkey").distinct().count()
    assert(fmt.read(spark, p).count() == expected)
    val audits = spark.read.parquet(s"$dir/audit/audit_log")
      .select("audit_operation").collect().map(_.getString(0)).sorted
    assert(audits.sameElements(Array("merge", "optimize")),
      audits.mkString(","))
    // a second run exercises the incremental pruned-merge path and
    // keeps both partition columns recorded on every live file
    IngestJob.run(spark, cfg)
    assert(fmt.versions(p) == Seq(0, 1, 2, 3))
    assert(fmt.read(spark, p).count() == expected)
    // stats-pruned reads work against the config-built layout
    val one = fmt.read(spark, p).select("o_orderkey").limit(1)
      .collect()(0).getLong(0)
    assert(fmt.readEqual(spark, p, "o_orderkey", one).count() == 1)
  }

  test("medallion silverRange drives a stats-pruned silver read") {
    val src = stageSource()
    val dir = Files.createTempDirectory("graft_cfg_range").toString
    val bronze = ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"writes": [{"path": "$dir/bronze", "mode": "merge",
         |  "keys": ["o_orderkey"], "orderBy": "o_orderkey",
         |  "medallionLayer": "bronze", "clusterBy": "o_orderkey"}],
         |"tableFormat": "delta-log"}""".stripMargin)
    val (_, silverDf) = IngestJob.runMedallion(spark, bronze,
      silverTransforms = Nil,
      silverWrites = Seq(WriteConfig(path = s"$dir/silver", mode = "merge",
        keys = Seq("o_orderkey"), orderBy = "o_orderkey",
        medallionLayer = "silver")),
      silverRange = Some(graft.pipeline.RangeFilter("o_orderkey", 1L, 512L)))
    val fmt = graft.pipeline.DeltaLogTableFormat
    val want = fmt.read(spark, s"$dir/bronze")
      .filter(col("o_orderkey").between(1L, 512L)).count()
    assert(want > 0 && silverDf.count() == want)
    // silver inherits the bronze config's table format (delta-log)
    assert(fmt.read(spark, s"$dir/silver").count() == want)
    // the clustered bronze layout makes the range read open fewer
    // files than the full table holds
    val pruned = fmt.readRange(spark, s"$dir/bronze", "o_orderkey", 1L, 512L)
    val all = fmt.read(spark, s"$dir/bronze")
    assert(pruned.inputFiles.length <= all.inputFiles.length)
  }

  test("versionAsOf source option time-travels a table-format source") {
    val src = stageSource()
    val dir = Files.createTempDirectory("graft_cfg_tt").toString
    val fmt = graft.pipeline.DeltaLogTableFormat
    // v0: full orders; v1: a one-row update
    IngestJob.run(spark, ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"writes": [{"path": "$dir/t", "mode": "merge",
         |  "keys": ["o_orderkey"]}],
         |"tableFormat": "delta-log"}""".stripMargin))
    val v0Count = fmt.read(spark, s"$dir/t").count()
    import SparkSpec.spark.implicits._
    // the update carries the stored control columns (equal ord passes
    // the order guard); only the status changes
    fmt.scd1Merge(spark, s"$dir/t",
      fmt.read(spark, s"$dir/t").limit(1)
        .withColumn("o_orderstatus", lit("TRAVELLED")),
      Seq("o_orderkey"), "file_modification_time")
    assert(fmt.versions(s"$dir/t") == Seq(0, 1))
    // a downstream config reprocesses the v0 STATE of the table
    IngestJob.run(spark, ConfigHandler.parse(
      s"""{"source": {"format": "delta-log", "path": "$dir/t",
         |  "options": {"versionAsOf": "0"}},
         |"writes": [{"path": "$dir/replay", "mode": "overwrite"}]}""".stripMargin))
    val replay = spark.read.parquet(s"$dir/replay")
    assert(replay.count() == v0Count)
    assert(replay.filter(col("o_orderstatus") === "TRAVELLED").count() == 0,
      "v0 read must not see the v1 update")
    // current read still sees it
    assert(fmt.read(spark, s"$dir/t")
      .filter(col("o_orderstatus") === "TRAVELLED").count() == 1)
  }

  test("table-format sources chain one pipeline's target into the next") {
    val src = stageSource()
    val dir = Files.createTempDirectory("graft_cfg_chain").toString
    // pipeline 1: files -> delta-log table
    IngestJob.run(spark, ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"writes": [{"path": "$dir/first", "mode": "merge",
         |  "keys": ["o_orderkey"]}],
         |"tableFormat": "delta-log"}""".stripMargin))
    // pipeline 2: that delta-log table AS SOURCE -> snapshot table
    // (control columns come through stored, not re-stamped)
    IngestJob.run(spark, ConfigHandler.parse(
      s"""{"source": {"format": "delta-log", "path": "$dir/first"},
         |"writes": [{"path": "$dir/second", "mode": "merge",
         |  "keys": ["o_orderkey"]}]}""".stripMargin))
    val first = graft.pipeline.DeltaLogTableFormat.read(spark, s"$dir/first")
    val second = MergeTable.read(spark, s"$dir/second")
    assert(second.count() == first.count() && second.count() > 0)
    assert(second.columns.sorted.sameElements(first.columns.sorted),
      "chained read must carry the stored control columns once")
    // snapshot tables chain the same way
    IngestJob.run(spark, ConfigHandler.parse(
      s"""{"source": {"format": "snapshot", "path": "$dir/second"},
         |"writes": [{"path": "$dir/third", "mode": "merge",
         |  "keys": ["o_orderkey"]}]}""".stripMargin))
    assert(MergeTable.read(spark, s"$dir/third").count() == first.count())
  }

  test("config rejects unsupported partitionBy/clusterBy combinations") {
    def base(writes: String, fmtLine: String = "") =
      s"""{"source": {"format": "parquet", "path": "/tmp/x"},
         |"writes": [$writes]$fmtLine}""".stripMargin
    // clusterBy without the delta-log format has no stats to cluster
    intercept[ConfigHandler.ConfigError](ConfigHandler.parse(base(
      """{"path": "/tmp/t", "mode": "merge", "keys": ["k"],
        | "clusterBy": "k"}""".stripMargin)))
    // multi-column pruned merges need the delta-log manifest
    intercept[ConfigHandler.ConfigError](ConfigHandler.parse(base(
      """{"path": "/tmp/t", "mode": "merge", "keys": ["k"],
        | "partitionBy": ["a", "b"]}""".stripMargin)))
    // a full extract cannot be pruned to touched partitions
    intercept[ConfigHandler.ConfigError](ConfigHandler.parse(base(
      """{"path": "/tmp/t", "mode": "merge", "keys": ["k"],
        | "partitionBy": ["a"], "extractMode": "fe"}""".stripMargin,
      fmtLine = """, "tableFormat": "delta-log"""")))
    // clusterBy only ever runs after a merge — reject it elsewhere
    // instead of silently never clustering
    intercept[ConfigHandler.ConfigError](ConfigHandler.parse(base(
      """{"path": "/tmp/t", "mode": "append", "clusterBy": "k"}""",
      fmtLine = """, "tableFormat": "delta-log"""")))
    // and the happy single-column snapshot case still parses
    val ok = ConfigHandler.parse(base(
      """{"path": "/tmp/t", "mode": "merge", "keys": ["k"],
        | "partitionBy": ["a"]}""".stripMargin))
    assert(ok.writes.head.partitionBy == Seq("a"))
    // zorderBy: same format/mode rules as clusterBy, plus >= 2 columns
    // and exclusivity with clusterBy
    intercept[ConfigHandler.ConfigError](ConfigHandler.parse(base(
      """{"path": "/tmp/t", "mode": "merge", "keys": ["k"],
        | "zorderBy": ["a", "b"]}""".stripMargin)))
    intercept[ConfigHandler.ConfigError](ConfigHandler.parse(base(
      """{"path": "/tmp/t", "mode": "merge", "keys": ["k"],
        | "zorderBy": ["a"]}""".stripMargin,
      fmtLine = """, "tableFormat": "delta-log"""")))
    intercept[ConfigHandler.ConfigError](ConfigHandler.parse(base(
      """{"path": "/tmp/t", "mode": "merge", "keys": ["k"],
        | "clusterBy": "a", "zorderBy": ["a", "b"]}""".stripMargin,
      fmtLine = """, "tableFormat": "delta-log"""")))
    val okZ = ConfigHandler.parse(base(
      """{"path": "/tmp/t", "mode": "merge", "keys": ["k"],
        | "zorderBy": ["a", "b"]}""".stripMargin,
      fmtLine = """, "tableFormat": "delta-log""""))
    assert(okZ.writes.head.zorderBy == Seq("a", "b"))
  }

  test("config-driven zorder layout runs after the merge and audits it") {
    val src = stageSource()
    val p = Files.createTempDirectory("graft_cfg_z").toString + "/t"
    val audit = Files.createTempDirectory("graft_cfg_zaud").toString
    val cfg = ConfigHandler.parse(
      s"""{"source": {"format": "parquet", "path": "$src"},
         |"writes": [{"path": "$p", "mode": "merge",
         |  "keys": ["o_orderkey"], "orderBy": "o_orderkey",
         |  "zorderBy": ["o_orderkey", "o_custkey"]}],
         |"auditTablePath": "$audit",
         |"tableFormat": "delta-log"}""".stripMargin)
    IngestJob.run(spark, cfg)
    val fmt = graft.pipeline.DeltaLogTableFormat
    // merge commit + zorder OPTIMIZE commit
    assert(fmt.versions(p) == Seq(0, 1))
    val want = Tables.load(spark, sf, "orders").count()
    assert(fmt.read(spark, p).count() == want)
    val audits = spark.read.parquet(s"$audit/audit_log")
      .select("audit_operation").collect().map(_.getString(0)).sorted
    assert(audits.sameElements(Array("merge", "optimize")),
      audits.mkString(","))
    // the layout still serves stats-pruned point reads on both columns
    val one = fmt.read(spark, p).select("o_orderkey").limit(1)
      .collect()(0).getLong(0)
    assert(fmt.readEqual(spark, p, "o_orderkey", one).count() == 1)
  }

  test("streaming config run drives the multimodal planners through the medallion sinks") {
    // the resize/resample planners as CONFIG steps, executed by the
    // STREAMING runner: JSON round-trips the new transform types, an
    // availableNow file stream replays the staged assets through the
    // planner projection into an append sink (resize) and a keyed
    // merge table (resample), and both outputs equal the batch
    // planner over the same files. A second runConfig with the same
    // checkpoints after new files land processes ONLY the new files
    // — the medallion incremental contract, config-driven.
    import graft.multimodal.Multimodal
    import graft.streaming.StreamingIngest
    val srcDir = Files.createTempDirectory("graft_cfgmm_src").toString + "/assets"
    val assets = Multimodal.assetsFromDocuments(
      Tables.load(spark, sf, "documents"))
    assets.filter(col("asset_id") % 2 === 0).write.parquet(srcDir)
    val outResize = Files.createTempDirectory("graft_cfgmm_rz").toString + "/t"
    val tblResample = Files.createTempDirectory("graft_cfgmm_rs").toString + "/t"
    val ckA = Files.createTempDirectory("graft_cfgmm_ckA").toString
    val ckB = Files.createTempDirectory("graft_cfgmm_ckB").toString

    val cfgResize = ConfigHandler.parse(
      s"""{
         |  "source": {"format": "parquet", "path": "$srcDir"},
         |  "transforms": [
         |    {"type": "resize_plan", "max_width": 256, "max_height": 256}
         |  ],
         |  "writes": [{"path": "$outResize", "mode": "append"}]
         |}""".stripMargin)
    assert(cfgResize.transforms == Seq(ResizePlan(256, 256)),
      "resize_plan must round-trip through JSON")
    val cfgResample = ConfigHandler.parse(
      s"""{
         |  "source": {"format": "parquet", "path": "$srcDir"},
         |  "transforms": [{"type": "resample_plan", "target_rate": 8000}],
         |  "writes": [{"path": "$tblResample", "mode": "merge",
         |              "keys": ["asset_id"], "orderBy": "asset_id"}]
         |}""".stripMargin)
    assert(cfgResample.transforms == Seq(ResamplePlan(8000)),
      "resample_plan must round-trip through JSON")

    StreamingIngest.runConfig(spark, cfgResize, ckA)
    StreamingIngest.runConfig(spark, cfgResample, ckB)

    def rzRows(df: org.apache.spark.sql.DataFrame) =
      df.select("asset_id", "media_type", "width", "height", "target_w",
        "target_h", "resized", "est_bytes_out")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])
    def rsRows(df: org.apache.spark.sql.DataFrame) =
      df.select("asset_id", "media_type", "sample_rate", "n_samples_in",
        "target_rate", "resampled", "est_samples_out", "est_bytes_out")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])

    val batchSrc = spark.read.parquet(srcDir)
    assert(rzRows(spark.read.parquet(outResize)) ==
      rzRows(Multimodal.resizePlan(batchSrc, 256, 256)),
      "streamed resize plan must equal the batch planner")
    assert(rsRows(MergeTable.read(spark, tblResample)) ==
      rsRows(Multimodal.resamplePlan(batchSrc, 8000)),
      "streamed resample plan must equal the batch planner")

    // new files land; the same checkpoints replay only them
    assets.filter(col("asset_id") % 2 === 1).write.mode("append").parquet(srcDir)
    StreamingIngest.runConfig(spark, cfgResample, ckB)
    assert(rsRows(MergeTable.read(spark, tblResample)) ==
      rsRows(Multimodal.resamplePlan(spark.read.parquet(srcDir), 8000)),
      "incremental re-run must fold the new files into the merge table")

    // overwrite is a batch-only write mode — rejected before start()
    val bad = cfgResize.copy(writes = Seq(cfgResize.writes.head.copy(
      mode = "overwrite")))
    intercept[IllegalArgumentException] {
      StreamingIngest.runConfig(spark, bad,
        Files.createTempDirectory("graft_cfgmm_ckC").toString)
    }
  }

  test("incremental minhash over an SCD2 silver folds current rows; soft deletes leave gold") {
    // an SCD2 silver keeps every closed version, and its change feed
    // carries each closed row next to its successor under the same
    // id: the fold must take only current rows (gold equals the batch
    // operator over silver's current rows), and a soft delete — a
    // close with delete_time set and no successor — must reach the
    // member's delete feed
    import SparkSpec.spark.implicits._
    val silver = Files.createTempDirectory("graft_cfg_scd2_silver").toString
    val work = Files.createTempDirectory("graft_cfg_scd2").toString
    val sfmt = graft.pipeline.DeltaLogTableFormat
    val cfg = ConfigHandler.IncrementalDedupConfig(member = "minhash",
      silverPath = silver, checkpoint = s"$work/ck",
      stateDir = s"$work/state", goldPath = s"$work/gold",
      idCol = "doc_id", contentCol = "text", silverFormat = sfmt,
      stateFormat = sfmt, params = Map("n" -> "3", "numPerm" -> "16",
        "bands" -> "4", "threshold" -> "0.5", "maxBucket" -> "10"))
    val dupText = "alpha beta gamma delta epsilon zeta eta theta"
    val other = "one two three four five six seven eight"
    def checkGold(label: String): Unit = {
      val current = sfmt.read(spark, silver).filter(col("is_current") === 1)
        .select("doc_id", "text")
      val truth = graft.operators.Dedup.minhashLshStats(current, "doc_id",
        "text", n = 3, numPerm = 16, bands = 4, threshold = 0.5, maxBucket = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      val got = sfmt.read(spark, cfg.goldPath)
        .select(col("id"), col("n_candidates"), col("n_near"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      assert(got == truth, s"$label: $got vs $truth")
    }
    sfmt.scd2Merge(spark, silver, Seq((1L, dupText, 0), (2L, dupText, 0),
        (3L, other, 0), (4L, "red green blue cyan magenta yellow", 0))
      .toDF("doc_id", "text", "ord"), Seq("doc_id"), "ord")
    assert(IncrementalDedupJob.run(spark, cfg).nonEmpty)
    checkGold("after batch 1")
    // updates: doc 3 joins the duplicate family, doc 1 leaves it; the
    // closed versions of both stay in silver as history
    sfmt.scd2Merge(spark, silver, Seq((1L, other + " nine", 1),
        (3L, dupText, 1)).toDF("doc_id", "text", "ord"), Seq("doc_id"), "ord")
    assert(IncrementalDedupJob.run(spark, cfg).nonEmpty)
    checkGold("after batch 2")
    // a full-snapshot merge without doc 2 soft-deletes it
    sfmt.scd2Merge(spark, silver, Seq((1L, other + " nine", 1),
        (3L, dupText, 1), (4L, "red green blue cyan magenta yellow", 0))
      .toDF("doc_id", "text", "ord"), Seq("doc_id"), "ord", deleteMissing = true)
    assert(IncrementalDedupJob.run(spark, cfg).nonEmpty)
    checkGold("after soft delete")
    assert(sfmt.read(spark, cfg.goldPath).filter(col("id") === 2L).count() == 0)
  }
}
