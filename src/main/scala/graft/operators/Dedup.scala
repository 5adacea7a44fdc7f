package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{BloomFunctions, HashFunctions, VectorFunctions}

/** Deduplication operators for LLM training-data pipelines
  * (SURVEY.md §2 #27-31): exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup.
  *
  * Scale shape (the point of every design choice here): no operator
  * ever joins on raw text or compares all pairs. Candidates come from
  * equi-joins on small keys (rare shingles, LSH band hashes, SimHash
  * chunks, SRP buckets); only candidate pairs are verified against
  * the full sets. Shuffles carry (id, small-key) projections, never
  * documents.
  */
object Dedup {

  /** Distinct character n-gram shingles per document: (id, shingle).
    * Generated inside codegen (sequence+transform+explode — no UDF);
    * the projection drops the text before anything shuffles.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // explode_OUTER + output-null filter everywhere a same-stage
    // computed array is exploded (here and in the decontamination /
    // text operators): plain explode lets InferFiltersFromGenerate +
    // pushdown inline the whole array expression into a size/isnotnull
    // filter — 3× the kernel per row on sessions without
    // GraftSession's rule exclusion. The filter on the GENERATOR
    // OUTPUT column cannot be pushed below the Generate. Semantics
    // note: the only rows this shape drops that inner explode kept
    // are NULL elements — here a null-text document's [null] shingle
    // row, which no downstream equi-join or count ever matched.
    df.select(col(idCol).as("id"),
      explode_outer(array_distinct(transform(
        sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1))),
        i => col(textCol).substr(i, lit(n))))).as("shingle"))
      .filter(col("shingle").isNotNull)

  /** Deterministic one-row-per-id reduction of a direct-API batch (a
    * change feed already carries one row per key; a hand-built frame
    * might not, and two texts for one id would land the doc in TWO
    * state groups): non-null rows first (a real-text row must win
    * over a null row for the same id, never be shadowed by it), then
    * by value hash so the window comparator works on 8-byte keys
    * instead of full document bodies, with the raw column as the
    * collision-breaking tail. Thin wrapper over the CDC compaction
    * kernel.
    */
  private[operators] def oneRowPerId(df: DataFrame, idCol: String,
                                     tieCols: Seq[String]): DataFrame =
    graft.cdc.Cdc.latestPerKey(
      // a null id can never be keyed, merged, or retracted (every
      // key join is non-null-safe) — admitting one would insert an
      // unretractable state row, so drop such rows up front
      df.filter(col(idCol).isNotNull), Seq(idCol),
      tieCols.map(c => col(c).isNull.asc) ++
        tieCols.map(c => xxhash64(col(c)).asc) ++
        tieCols.map(c => col(c).asc_nulls_last))

  /** The effective hard-delete id set of one incremental-dedup fold:
    * the silver delete feed (`deletes`, input column `inCol`, aliased
    * to `outCol`) plus — under `fullResync` — every CURRENT state id
    * the batch does not carry. A resync window's batch is the full
    * silver snapshot (the streaming driver re-entered past a vacuumed
    * gap, or a fresh checkpoint runs over pre-existing state): keys
    * hard-deleted inside the unreadable gap appear in no delete feed
    * ever again, so the only sound reconciliation is
    * state-minus-snapshot — the contract of
    * [[graft.streaming.MergeTableStream.processAvailableWithDeletes]]'s
    * `fullResync` flag. `batchIds` must be the batch's id set as one
    * column named `outCol`; the state table's id column must also be
    * `outCol`. Materialized EAGERLY: the resync anti-join reads the
    * very state table the caller mutates immediately after.
    */
  private[operators] def combinedDeletes(spark: SparkSession,
      deletes: Option[DataFrame], inCol: String, outCol: String,
      fullResync: Boolean, statePath: String, batchIds: DataFrame,
      fmt: graft.pipeline.TableFormat): Option[DataFrame] = {
    val explicit = deletes.map(_.select(col(inCol).as(outCol)).distinct())
    val resync =
      if (fullResync && fmt.exists(statePath))
        Some(fmt.read(spark, statePath).select(col(outCol)).distinct()
          .join(batchIds, Seq(outCol), "left_anti"))
      else None
    Seq(explicit, resync).flatten
      .reduceOption(_.unionByName(_))
      .map(d => graft.Materialize.eager(d.distinct()))
  }

  /** Distinct shingle HASHES per document as one `array<long>` row:
    * (id, shash), via the codegen'd ShingleHashes64 expression (byte
    * n-grams — identical to character n-grams on ASCII corpora).
    * The workhorse projection of the near-dup operators: text becomes
    * 8-byte hashes inside the scan, set sizes and intersections are
    * per-row array ops, and nothing string-typed ever shuffles.
    * (64-bit hashing makes set equality probabilistic: collision odds
    * are ~|shingles|^2/2^64 per doc pair — negligible against a 0.1
    * Jaccard threshold at any realistic corpus size.)
    */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      HashFunctions.shingleHashes(col(textCol), n).as("shash"))

  /** #27 Exact dedup: hash-groupBy keep-min-id. The shuffle carries
    * (md5, id) pairs only.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Per-source exact-dedup ROI rollup — the report every dedup
    * pipeline publishes before anyone approves the compute spend:
    * per source, how many documents are exact duplicates and how
    * many bytes deduplication would reclaim. A duplicate is any doc
    * that is not its hash group's keeper (min id — the [[exact]]
    * rule), so `bytes_saved` is the byte sum of non-keeper rows:
    * exactly the storage delta of keep-one dedup. Scoped
    * WITHIN-source: cross-source duplicate attribution is a policy
    * choice (whose copy is canonical?) that the global [[exact]]
    * groups answer; this rollup charges each source for its own
    * redundancy. ONE aggregation
    * over (source, hash) — the shuffle carries 16-byte hashes,
    * counts, and byte sums, never text — then a |sources|-row
    * rollup; `dup_rate` divides exact longs once. UTF-8 byte length
    * (octet_length) on both engines.
    *
    * Output per source: (source, n_docs, n_unique, n_dup,
    * bytes_total, bytes_saved, dup_rate).
    */
  def dedupSavings(df: DataFrame, idCol: String, textCol: String,
                   sourceCol: String): DataFrame =
    df.groupBy(col(sourceCol).as("source"), md5(col(textCol)).as("_h"))
      .agg(count(lit(1)).as("_n"),
        sum(octet_length(col(textCol)).cast("long")).as("_bytes"),
        // the keeper's bytes: all group members share one text, so
        // any member's length is the keeper's — bytes/n is exact
        min(octet_length(col(textCol)).cast("long")).as("_keep_bytes"))
      .groupBy(col("source"))
      .agg(sum(col("_n")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(col("_n") - 1L).as("n_dup"),
        sum(col("_bytes")).as("bytes_total"),
        sum(col("_bytes") - col("_keep_bytes")).as("bytes_saved"))
      .withColumn("dup_rate",
        col("n_dup").cast("double") / col("n_docs").cast("double"))

  /** Dedup-robust text normalization (the CCNet/Gopher-style
    * pre-hash cleanup): lowercase, strip everything but `[a-z0-9]`
    * and whitespace, collapse whitespace runs to one space, trim.
    * Whole chain is built-in codegen'd string expressions — it runs
    * inside the scan stage, and only the 16-byte hash of the result
    * ever shuffles (see [[exactNormalized]]). Kept ASCII-literal
    * (`\s`, `[^a-z0-9\s]`) so an external SQL engine reproduces it
    * exactly — the oracle-parity property of the whole dedup family.
    */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9\\s]", ""),
      "\\s+", " "))

  /** Normalized-exact dedup: [[exact]] over [[normalizeText]], so
    * casing/punctuation/whitespace variants of one document collapse
    * into a single group. `n_raw_variants` counts the distinct RAW
    * texts a group absorbed — groups with n_raw_variants > 1 are
    * exactly the near-misses plain exact dedup leaves behind.
    */
  def exactNormalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(normalizeText(col(textCol))).as("norm_hash"))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("n_copies"),
        // distinct over md5(text), not the raw text: the distinct
        // expand shuffles (norm_hash, distinct-key) rows, and full
        // document strings there cost KBs per row where the hash is
        // 32 B (the sf10 probe: 36 GB of aggregate spill for rows
        // the md5 form moves in ~100 MB). md5-equality is the same
        // text-equality contract `exact` already keys on.
        countDistinct(md5(col(textCol))).as("n_raw_variants"))

  /** Incremental [[exact]] for the medallion gold hop — the third
    * member of the incremental-dedup family next to
    * [[minhashLshStatsIncremental]] and
    * [[TextAnalysis.segmentDedupIncremental]], and the simplest
    * instance of the shared design: keyed pair STATE + per-group XOR
    * signature staleness against CURRENT state, so crashes between
    * the state and gold merges and at-least-once redelivery
    * self-heal (a before/after group diff would lose the signal).
    *
    * State = (text_hash, id) pairs of all current documents,
    * delete-then-merge per batch (an UPDATE moves its doc between
    * hash groups; replays converge). Gold = one row per hash group —
    * (text_hash, keep_doc_id, n_copies), the batch operator's exact
    * output — plus `_grp_sig`, the XOR of the group's member hashes
    * at write time. Per batch the re-aggregated groups are the
    * batch's own hashes plus gold rows whose stored signature
    * disagrees with current state; a group whose last member moved
    * away yields no current row and is DELETED from gold.
    *
    * `deletes` is the silver hard-delete feed
    * ([[graft.streaming.MergeTableStream.deletedKeys]]): their state
    * pairs are removed, and the signature comparison re-aggregates
    * every group they shrank. `fullResync` marks a full-snapshot
    * window (the driver re-entered past a vacuumed gap, or a fresh
    * checkpoint runs over pre-existing state): state ids the batch
    * does not carry are implied hard deletes — [[combinedDeletes]]
    * reconciles state-minus-snapshot, because gap deletions appear
    * in no delete feed ever again. NULL-text documents are excluded from
    * state and gold (documented deviation from the batch operator's
    * one null-hash group: a keyed merge table cannot hold a null
    * key, and every downstream equi-join would drop it silently —
    * better no row than a permanently diverging one); an update TO
    * null still RETRACTS the doc's old pair — the retraction set is
    * every id the batch mentions, not the filtered rows. A batch
    * carrying several rows for one id keeps the real-text row first,
    * then the smallest hash (deterministic; a change feed never
    * duplicates).
    *
    * `appendOnly` declares an INSERT-ONLY corpus (the dominant
    * crawl-ingest regime: ids never re-appear with different text,
    * nothing is ever deleted) and switches to a fast path whose
    * per-batch cost is O(batch), not O(state): no retraction
    * deletes (a redelivered identical row upserts onto its own
    * (text_hash, id) key), no gold read, no full-state signature
    * aggregation — only the hash groups the batch touched are
    * re-aggregated, because append-only no OTHER group's membership
    * (hence signature, keep id, or count) can change. Provably
    * equivalent to the general path under that contract; replays
    * converge the same way (state upserts are idempotent, touched
    * groups re-aggregate from current state). A delete feed
    * contradicts the declaration and throws; a `fullResync` window
    * (vacuumed gap / fresh checkpoint) silently degrades to the
    * general path for that one window — the state-minus-snapshot
    * reconcile is exactly what such a window needs. An UPDATE
    * slipped into an appendOnly stream corrupts state (its old pair
    * is never retracted) — that is the contract, not a bug.
    */
  def exactDedupIncremental(spark: SparkSession, batch: DataFrame,
                            idCol: String, textCol: String,
                            statePath: String, goldPath: String,
                            batchOrd: Long,
                            deletes: Option[DataFrame] = None,
                            fullResync: Boolean = false,
                            appendOnly: Boolean = false,
                            fmt: graft.pipeline.TableFormat =
                              graft.pipeline.SnapshotTableFormat): Unit = {
    require(!(appendOnly && deletes.nonEmpty),
      "appendOnly declares an insert-only corpus; a delete feed " +
        "contradicts it — drop the flag and use the general path")
    // the RETRACTION set is every id the batch mentions — an update
    // TO null text must still delete the doc's old state pair (only
    // the filtered rows insert anything); filtering before retraction
    // would leave the old pair live forever with no sig change to
    // ever flag it
    val batchAll = graft.Materialize.eager(
      oneRowPerId(batch.select(col(idCol).as("id"),
        md5(col(textCol)).as("text_hash")), "id", Seq("text_hash")))
    val batchH = batchAll.filter(col("text_hash").isNotNull)
    if (appendOnly && !fullResync) {
      // insert-only fast path: merge the batch pairs, then
      // re-aggregate ONLY the touched hash groups straight from
      // state (semi-joined map-side — the groupBy shuffles batch
      // groups, never the corpus). No group can vanish and no
      // untouched group's stored row or signature can go stale.
      if (batchH.isEmpty) return
      fmt.scd1Merge(spark, statePath,
        batchH.withColumn("_ord", lit(batchOrd)),
        Seq("text_hash", "id"), "_ord", compareExclude = Nil)
      val grpTouched = graft.Materialize.eager(
        fmt.read(spark, statePath)
          .join(batchH.select(col("text_hash")).distinct(),
            Seq("text_hash"), "left_semi")
          .groupBy(col("text_hash"))
          .agg(min(col("id")).as("keep_doc_id"),
            count(lit(1)).as("n_copies"),
            expr("bit_xor(xxhash64(id))").as("_sig_now")))
      val liveFast = grpTouched.select(col("text_hash"), col("keep_doc_id"),
        col("n_copies"), lit(batchOrd).as("_ord"),
        col("_sig_now").as("_grp_sig"))
      if (!liveFast.isEmpty)
        fmt.scd1Merge(spark, goldPath, liveFast, Seq("text_hash"), "_ord",
          compareExclude = Nil)
      return
    }
    val delIds = combinedDeletes(spark, deletes, idCol, "id", fullResync,
      statePath, batchAll.select(col("id")), fmt)
    if (!batchAll.isEmpty) {
      if (fmt.exists(statePath))
        fmt.deleteKeys(spark, statePath,
          batchAll.select(col("id")).distinct(), Seq("id"))
      if (!batchH.isEmpty)
        fmt.scd1Merge(spark, statePath,
          batchH.withColumn("_ord", lit(batchOrd)),
          Seq("text_hash", "id"), "_ord", compareExclude = Nil)
    }
    delIds.foreach { d =>
      if (fmt.exists(statePath) && !d.isEmpty)
        fmt.deleteKeys(spark, statePath, d, Seq("id"))
    }
    if (!fmt.exists(statePath)) return // empty first batch

    // current per-group truth + XOR member signature (bit_xor: see
    // minhashLshStatsIncremental — overflow-free, order-independent;
    // members distinct within a group so no structural cancellation)
    val grp = graft.Materialize.eager(
      fmt.read(spark, statePath).groupBy(col("text_hash"))
        .agg(min(col("id")).as("keep_doc_id"),
          count(lit(1)).as("n_copies"),
          expr("bit_xor(xxhash64(id))").as("_sig_now")))

    val affected = graft.Materialize.eager(
      if (fmt.exists(goldPath)) {
        val goldDf = fmt.read(spark, goldPath)
        // pre-signature gold: re-aggregate every group once
        val withSig =
          if (goldDf.columns.contains("_grp_sig")) goldDf
          else goldDf.withColumn("_grp_sig", lit(null).cast("long"))
        withSig.select(col("text_hash"), col("_grp_sig"))
          .join(grp.select(col("text_hash"), col("_sig_now")),
            Seq("text_hash"), "left_outer")
          // a null STORED sig (pre-signature gold) is always stale —
          // without the isNull arm, a pre-signature row whose group
          // has vanished reads null<=>null and would persist forever
          .filter(col("_grp_sig").isNull ||
            !(col("_grp_sig") <=> col("_sig_now")))
          .select(col("text_hash"))
          .unionByName(batchH.select(col("text_hash"))).distinct()
      } else batchH.select(col("text_hash")).distinct())

    val rows = graft.Materialize.eager(
      affected.join(grp, Seq("text_hash"), "left_outer"))
    val live = rows.filter(col("_sig_now").isNotNull)
      .select(col("text_hash"), col("keep_doc_id"), col("n_copies"),
        lit(batchOrd).as("_ord"), col("_sig_now").as("_grp_sig"))
    if (!live.isEmpty)
      fmt.scd1Merge(spark, goldPath, live, Seq("text_hash"), "_ord",
        compareExclude = Nil)
    // groups whose last member moved away no longer exist in state —
    // their gold rows must go (deleting an absent key is a no-op)
    val vanished = rows.filter(col("_sig_now").isNull).select(col("text_hash"))
    if (fmt.exists(goldPath) && !vanished.isEmpty)
      fmt.deleteKeys(spark, goldPath, vanished, Seq("text_hash"))
    ()
  }

  /** Verify candidate pairs against full shingle-hash sets and
    * aggregate per-document stats. Shared tail of the Jaccard-style
    * near-dup operators: candidates (ida < idb) join the per-doc hash
    * arrays, Jaccard = |intersect| / |union| as per-row array math
    * (no shingle-level join), then per-doc (n_candidates, n_near,
    * max_jaccard) left-joined back so every document reports.
    */
  /** True Jaccard for candidate pairs from per-doc hash arrays.
    * The hash arrays are sorted (ShingleHashes64 contract), so the
    * intersection is a codegen'd linear merge — no per-pair hash-set
    * allocation.
    */
  private def pairJaccard(docsH: DataFrame, cand: DataFrame): DataFrame =
    pairJaccardTwo(docsH, docsH, cand)

  /** pairJaccard generalized to candidates whose two sides come from
    * DIFFERENT hash frames (cross-corpus verification).
    */
  private def pairJaccardTwo(docsHa: DataFrame, docsHb: DataFrame,
                             cand: DataFrame): DataFrame =
    cand
      .join(docsHa.as("da"), col("da.id") === col("ida"))
      .join(docsHb.as("db"), col("db.id") === col("idb"))
      .withColumn("_shared",
        HashFunctions.sortedIntersectCount(col("da.shash"), col("db.shash")))
      .select(col("ida"), col("idb"),
        (col("_shared").cast("double") /
          (size(col("da.shash")) + size(col("db.shash")) - col("_shared")))
          .as("jaccard"))

  private def jaccardPairStats(df: DataFrame, idCol: String, docsH: DataFrame,
                               cand: DataFrame, threshold: Double): DataFrame = {
    // checkpoint before mirroring: the union references jac twice and
    // would otherwise run the whole candidate+verify pipeline twice
    val jac = pairJaccard(docsH, cand).transform(graft.Materialize.eager)
    val both = jac.select(col("ida").as("id"), col("jaccard"))
      .unionByName(jac.select(col("idb").as("id"), col("jaccard")))
    val per = both.groupBy("id").agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col("jaccard") >= threshold, 1L).otherwise(0L)).as("n_near"),
      max(col("jaccard")).as("max_jaccard"))
    df.select(col(idCol).as("id")).join(per, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("max_jaccard"))
  }

  /** Unordered candidate pairs from (id, bucketKey...) rows WITHOUT a
    * self-join: group ids per bucket, then a double explode emits the
    * in-bucket pairs. The expensive upstream frame is computed ONCE
    * (a self-join would recompute it on both sides) and the shuffle
    * carries only (bucketKey, id).
    *
    * `maxBucket` guards the m²/2 explosion of degenerate buckets: a
    * template flood (one boilerplate page × 1M copies) puts 10^6 ids
    * in one LSH bucket → 5·10^11 pairs from a single key. Buckets
    * beyond the cap carry no discriminative signal (exact-dedup
    * catches identical floods far cheaper) and are dropped from
    * CANDIDATE GENERATION only. The default is a FINITE 10k (≤ ~50M
    * pairs from one key — survivable) precisely because the dangerous
    * corpus is the one nobody anticipated; oracle callers that need
    * bit-parity with an uncapped SQL oracle pass `Int.MaxValue`
    * explicitly.
    *
    * `minHits` pre-filters pairs that collide in fewer than that many
    * buckets (for banded MinHash: matching-band count). A pair at
    * Jaccard s matches a band with prob s^r, so at a high resolution
    * threshold the expected matching-band count b·s^r is far above 1
    * and single-band collisions are almost surely below-threshold
    * noise — dropping them before the exact-Jaccard verify join cuts
    * its input without touching verified semantics. Default 1 = off.
    */
  private def bucketPairs(rows: DataFrame, bucketCols: Seq[String],
                          maxBucket: Int = 10000,
                          minHits: Int = 1): DataFrame =
    rows.groupBy(bucketCols.map(col): _*)
      .agg(collect_set(col("id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(explode(col("ids")).as("ida"), col("ids"))
      .select(col("ida"), explode(col("ids")).as("idb"))
      .filter(col("ida") < col("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
      .select(col("ida"), col("idb"))

  /** #28 N-gram Jaccard near-dup. Candidates = pairs sharing at least
    * one RARE shingle (document frequency <= maxDf): frequent
    * shingles carry no discriminative signal and would make the
    * bucket pairing quadratic in the corpus size, so they are
    * excluded from candidate generation (not from verification).
    *
    * PRECONDITION (shared with [[ngramContainmentStats]]): one row
    * per doc id. Duplicate ids would double-count document frequency
    * in the candidate qualifier and duplicate verify pairs. Keyed
    * tables satisfy it by construction; hand-built frames can run
    * the change-feed reduction (one row per key) first. Violations
    * FAIL LOUDLY: both entry points run a cheap id-only uniqueness
    * guard (skippable via `-Dgraft.dedup.skipIdCheck=true`).
    */
  def ngramJaccardStats(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, maxDf: Int = 20,
                        threshold: Double = 0.1): DataFrame = {
    // materialize once: the hash arrays feed candidate generation AND
    // both sides of the verify join (3 evaluations otherwise)
    val docsH = shingleHashes(df, idCol, textCol, n).transform(graft.Materialize.eager)
    requireUniqueIds(docsH, "ngramJaccardStats")
    jaccardPairStats(df, idCol, docsH,
      rareShingleCandidates(docsH, maxDf), threshold)
  }

  /** Candidate pairs sharing at least one RARE shingle (document
    * frequency ≤ maxDf). Shared by the Jaccard and containment
    * verifiers: frequent shingles carry no discriminative signal and
    * would make the pairing quadratic in corpus size, so they are
    * excluded from candidate generation (never from verification).
    */
  /** Fail-loud guard for the one-row-per-doc-id PRECONDITION the
    * shingle candidate index counts on (document frequency =
    * count(1) over the posting expansion — a duplicated id would
    * silently inflate df and flip the 2 ≤ df ≤ maxDf qualifier).
    * One id-only aggregate over the already-materialized hash frame
    * (map-side combinable longs — far cheaper than the
    * countDistinct posting shuffle the precondition replaces, and a
    * fixed small fraction of the verify join that follows). Callers
    * that guarantee keyed input can skip it with
    * `-Dgraft.dedup.skipIdCheck=true`.
    */
  private[operators] def requireUniqueIds(docsH: DataFrame, op: String): Unit =
    if (!java.lang.Boolean.getBoolean("graft.dedup.skipIdCheck")) {
      val dup = docsH.groupBy(col("id")).agg(count(lit(1)).as("_n"))
        .filter(col("_n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"$op requires one row per doc id, but id ${dup.head.get(0)} " +
          s"appears ${dup.head.getLong(1)} times — document frequency " +
          "and candidate qualification would silently skew. Reduce to " +
          "one row per key first (e.g. Cdc.latestPerKey), or set " +
          "-Dgraft.dedup.skipIdCheck=true when uniqueness is guaranteed " +
          "upstream.")
    }

  private def rareShingleCandidates(docsH: DataFrame, maxDf: Int): DataFrame = {
    val sh = docsH.select(col("id"), explode(col("shash")).as("h"))
    // two-phase (r14): count document frequency FIRST (map-side
    // combinable longs — tiny shuffle), qualify 2 ≤ df ≤ maxDf, and
    // only THEN collect ids for qualifying shingles (bounded lists,
    // ≤ maxDf each). The one-phase collect_set collected EVERY
    // shingle's full posting list before filtering — on a
    // duplicate-heavy corpus the common shingles' lists are
    // corpus-sized and the aggregate spilled GBs at the sf10 probe
    // (4.8 GB memory spill) for lists the filter then threw away.
    // count(lit(1)) counts DOCS here because shingle hashes are
    // distinct WITHIN a doc (array-distinct upstream) and the
    // operators require unique doc ids (documented precondition on
    // the jaccard/containment entry points — their callers either
    // read keyed tables or run the change-feed one-row-per-id
    // reduction). countDistinct(id) would be robust to duplicate ids
    // but shuffles the full (h, id) posting expansion — measured
    // 3.6x on the sf0.1 bench, exactly the cost the two-phase
    // candidate index exists to avoid.
    val rare = sh.groupBy("h").agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf && col("_df") > 1)
      .select(col("h"))
    sh.join(rare, Seq("h"), "left_semi")
      .groupBy("h").agg(collect_set(col("id")).as("ids"))
      .select(explode(col("ids")).as("ida"), col("ids"))
      .select(col("ida"), explode(col("ids")).as("idb"))
      .filter(col("ida") < col("idb"))
      .distinct()
  }

  /** N-gram CONTAINMENT near-dup — the asymmetric sibling of
    * [[ngramJaccardStats]]: containment(a→b) = |Sa ∩ Sb| / |Sa|.
    * Jaccard misses partial copies (a paragraph quoted inside a much
    * longer page scores near 0 because the union is dominated by the
    * long side); containment scores the quoted side near 1 — the
    * metric suffix-array/quotation decontamination pipelines use for
    * subset duplication (Broder 1997's "containment", public).
    *
    * Same scale shape as the Jaccard operator: rare-shingle candidate
    * buckets (ids-only shuffle), one verify join over the sorted hash
    * arrays, per-pair BOTH directions computed from one intersection
    * count. Per document: candidate count, partners at ≥ threshold,
    * and the max containment of ITS shingle set in any partner (high
    * ⇒ this document is substantially contained elsewhere).
    */
  def ngramContainmentStats(df: DataFrame, idCol: String, textCol: String,
                            n: Int = 5, maxDf: Int = 20,
                            threshold: Double = 0.5): DataFrame = {
    val docsH = shingleHashes(df, idCol, textCol, n).transform(graft.Materialize.eager)
    requireUniqueIds(docsH, "ngramContainmentStats")
    containmentPerDoc(df, idCol, docsH, maxDf, threshold,
      "n_contained", "max_containment")
  }

  /** Shared verdict tail of [[ngramContainmentStats]] and
    * [[winnowOverlapStats]] — the two operators differ only in WHAT
    * the per-doc hash set contains (all shingle hashes vs the sparse
    * winnow-selected prints); the rare-element candidate index, the
    * one-intersection-per-pair verify join, and the per-doc rollup
    * are identical. `docsH` must carry (id, shash sorted-distinct
    * array) with unique ids.
    */
  private def containmentPerDoc(df: DataFrame, idCol: String,
                                docsH: DataFrame, maxDf: Int,
                                threshold: Double, nearName: String,
                                maxName: String): DataFrame = {
    val cand = rareShingleCandidates(docsH, maxDf)
    // one intersection per pair, both directional ratios from it;
    // materialized because the union mirror references it twice
    val pairs = cand
      .join(docsH.as("da"), col("da.id") === col("ida"))
      .join(docsH.as("db"), col("db.id") === col("idb"))
      .withColumn("_shared",
        HashFunctions.sortedIntersectCount(col("da.shash"), col("db.shash")))
      .select(col("ida"), col("idb"),
        (col("_shared").cast("double") / size(col("da.shash"))).as("cont_a"),
        (col("_shared").cast("double") / size(col("db.shash"))).as("cont_b"))
      .transform(graft.Materialize.eager)
    val both = pairs.select(col("ida").as("id"), col("cont_a").as("containment"))
      .unionByName(pairs.select(col("idb").as("id"), col("cont_b").as("containment")))
    val per = both.groupBy("id").agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col("containment") >= threshold, 1L).otherwise(0L))
        .as(nearName),
      max(col("containment")).as(maxName))
    df.select(col(idCol).as("id")).join(per, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col(nearName), lit(0L)).as(nearName),
        col(maxName))
  }

  /** WINNOW OVERLAP — the pairing consumer of
    * [[TextAnalysis.winnowFingerprints]]: the MOSS verdict (Schleimer
    * et al. 2003 §4, public) that turns per-document fingerprint sets
    * into directional overlap scores. Two documents sharing any
    * substring of length ≥ w + k − 1 share at least one print
    * (winnowing's guarantee), so shared prints anchor partial-copy
    * candidates that whole-doc hashing and even shingle Jaccard miss;
    * the score |shared prints| / |own prints| is the containment
    * metric over print sets — near 1 for a document substantially
    * duplicated inside a partner, regardless of how much LARGER the
    * partner is.
    *
    * Scale shape = [[ngramContainmentStats]] with the posting index
    * built over the ~2n/(w+1)-sparse print sets instead of ALL
    * shingles — candidate generation pairs only docs sharing a
    * discriminative print (2 ≤ df ≤ maxDf; flood prints — boilerplate
    * every doc carries — generate no pairs), and verification is one
    * sorted-intersection per candidate pair. Never all-pairs, and the
    * per-doc state is the sparse print set, ~10× smaller than the
    * shingle set the containment operator carries.
    *
    * PRECONDITION (shared with the shingle operators, same fail-loud
    * guard): one row per doc id.
    *
    * `prodHash` selects the xxhash64 gram hash
    * ([[TextAnalysis.winnowFingerprints]]'s production variant);
    * default md5 keeps the operator SQL-oracle-replayable.
    *
    * Output per document: (idCol, n_candidates, n_overlapping,
    * max_overlap) — docs shorter than k + w − 1 chars emit no prints
    * and report 0 candidates / null max, the algorithm's domain.
    */
  def winnowOverlapStats(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4, maxDf: Int = 20,
                         threshold: Double = 0.5,
                         prodHash: Boolean = false): DataFrame = {
    requireUniqueIds(df.select(col(idCol).as("id")), "winnowOverlapStats")
    // r22 (guide §2.4): build the per-doc print SET in ONE exchange —
    // winnowFingerprints is anchor kernel + DISTINCT on (id, print)
    // (an exchange) and the per-doc array needed a second exchange on
    // id; sort_array(collect_set(...)) over the positional kernel's
    // output dedups INSIDE the id-keyed aggregate, so the distinct
    // exchange disappears and the prints shuffle once. Value-exact:
    // sort_array ∘ collect_set == sort_array ∘ collect_list ∘ distinct
    // per id (same element set, one canonical order).
    val docsH = TextAnalysis
      .winnowAnchorPositions(df, idCol, textCol, k, w, prodHash)
      .select(col(idCol).as("id"), col("fingerprint"))
      .groupBy("id")
      .agg(sort_array(collect_set(col("fingerprint"))).as("shash"))
      .transform(graft.Materialize.eager)
    containmentPerDoc(df, idCol, docsH, maxDf, threshold,
      "n_overlapping", "max_overlap")
  }

  /** Incremental [[ngramContainmentStats]] — the CONTAINMENT member
    * of the incremental gold-hop family (siblings:
    * [[exactDedupIncremental]], [[minhashLshStatsIncremental]],
    * [[simhashStatsIncremental]], [[embeddingStatsLshIncremental]],
    * [[dedupResolveIncremental]], [[jaccardStatsIncremental]] and
    * [[winnowStatsIncremental]] — which share THIS member's posting
    * state and implementation, differing only in the pair score and
    * the per-doc hash set —
    * [[TextAnalysis.segmentDedupIncremental]], `annIvfIncremental`;
    * same keyed-state + XOR-signature-staleness design; same n /
    * maxDf / threshold across calls).
    *
    * Structure maps onto the MinHash member with the LSH band bucket
    * replaced by the RARE-SHINGLE bucket: the bucket key is the
    * shingle hash itself and qualification is 2 ≤ df ≤ maxDf (the
    * batch operator's candidate rule — frequent shingles carry no
    * discriminative signal). State is GROUP-KEYED (r15, the
    * exact-duplicate collapse): `docs` = (id, chash) membership;
    * `groups` = (chash, shash) one representative hash array per
    * distinct content; `shingles` = (h, chash) posting rows keyed on
    * both — an incremental inverted index over DISTINCT contents,
    * O(shingles per distinct content) instead of per doc. Document
    * frequency is the summed group size; the qualification bound
    * means buckets past maxDf still store members (df can shrink
    * back under deletes) but never generate pairs or signatures. A
    * pre-r15 doc-level state dir fails fast with the rebuild
    * remediation.
    *
    * Staleness: per qualifying bucket an order-independent member
    * XOR of xxhash64(h, chash, gsize); per GROUP the XOR over its
    * qualifying buckets; per doc its group's value, stored in gold
    * as `_shingle_sig`. The chash fold propagates a mate's content
    * rewrite (a changed shingle SET moves the directional containment
    * of both sides of every shared bucket's pairs); the gsize fold
    * propagates duplicate arrivals/departures even when bucket
    * membership is unchanged. Qualification flips (df crossing maxDf
    * either way) change member signatures for the same reason
    * membership changes do.
    *
    * `appendOnly` switches the per-batch cost from
    * O(|posting state|) to O(batch neighborhood): on an insert-only
    * corpus a doc's stats change only when a batch doc lands in (or
    * newly disqualifies) one of its buckets, so the re-verify set is
    * the members of batch-touched buckets and every aggregation runs
    * over the two-hop neighborhood. Contract and degrade semantics
    * as the siblings: a delete feed throws under `appendOnly`;
    * `fullResync` runs the general path.
    *
    * Gold rows: (id, n_candidates, n_contained, max_containment,
    * _ord, _shingle_sig) — stats columns identical to the batch
    * operator, spec-proven equal to its recompute over every
    * document seen.
    */
  def containmentStatsIncremental(spark: SparkSession, batch: DataFrame,
                                  idCol: String, textCol: String,
                                  stateDir: String, goldPath: String,
                                  batchOrd: Long,
                                  n: Int = 5, maxDf: Int = 20,
                                  threshold: Double = 0.5,
                                  deletes: Option[DataFrame] = None,
                                  fullResync: Boolean = false,
                                  appendOnly: Boolean = false,
                                  fmt: graft.pipeline.TableFormat =
                                    graft.pipeline.SnapshotTableFormat): Unit =
    postingStatsIncremental(spark, batch, idCol, textCol, stateDir, goldPath,
      batchOrd, maxDf, threshold, deletes, fullResync, appendOnly, fmt,
      jaccard = false, hashOf = shingleHashes(_, "id", "text", n),
      nearName = "n_contained", maxName = "max_containment")

  /** Incremental [[ngramJaccardStats]] — the symmetric JACCARD
    * member of the incremental family, completing the pairing with
    * [[containmentStatsIncremental]] the way the batch operators
    * pair: both are verdicts over the SAME rare-shingle candidate
    * index, differing only in the per-pair score (Jaccard
    * |∩|/|∪| vs directional containment |∩|/|Sa|). The posting
    * state, bucket qualification (2 ≤ df ≤ maxDf), XOR-signature
    * staleness, append-only fast path, and delete/null-retraction
    * contracts are IDENTICAL — one shared implementation serves
    * both, so any state dir built by one member is readable by the
    * other (same `docs` + `shingles` tables; only the gold stats
    * columns differ: n_near/max_jaccard here, spec-proven equal to
    * the batch operator's recompute after every fold).
    */
  def jaccardStatsIncremental(spark: SparkSession, batch: DataFrame,
                              idCol: String, textCol: String,
                              stateDir: String, goldPath: String,
                              batchOrd: Long,
                              n: Int = 5, maxDf: Int = 20,
                              threshold: Double = 0.1,
                              deletes: Option[DataFrame] = None,
                              fullResync: Boolean = false,
                              appendOnly: Boolean = false,
                              fmt: graft.pipeline.TableFormat =
                                graft.pipeline.SnapshotTableFormat): Unit =
    postingStatsIncremental(spark, batch, idCol, textCol, stateDir, goldPath,
      batchOrd, maxDf, threshold, deletes, fullResync, appendOnly, fmt,
      jaccard = true, hashOf = shingleHashes(_, "id", "text", n),
      nearName = "n_near", maxName = "max_jaccard")

  /** Incremental [[winnowOverlapStats]] — the WINNOW member of the
    * incremental family, the MOSS overlap verdict maintained across
    * micro-batches. It IS the containment member with the per-doc
    * hash set swapped: the posting index is built over the
    * ~2n/(w+1)-sparse winnow-selected prints instead of ALL shingle
    * hashes, so the `shingles` posting table is ~10× smaller per
    * distinct content while the partial-copy guarantee (any shared
    * substring ≥ w + k − 1 chars shares a print) is preserved. The
    * state layout (`docs`/`groups`/`shingles` group-keyed tables),
    * 2 ≤ df ≤ maxDf bucket qualification, XOR-signature staleness,
    * append-only fast path, and delete/null-retraction/fullResync
    * contracts are the shared implementation's, proven by the
    * containment member's crash-replay spec; the winnow spec pins
    * what is NEW — print-set state, printless short docs (an empty
    * print set: a gold row with 0 candidates / null max, matching
    * the batch operator's domain), and batch equality.
    *
    * `prodHash` selects the xxhash64 gram hash (the production
    * variant — see [[TextAnalysis.winnowFingerprints]]); a state dir
    * is bound to ONE variant (the prints ARE the posting keys), so
    * changing it requires a state rebuild, same as changing k or w.
    *
    * Gold rows: (id, n_candidates, n_overlapping, max_overlap, _ord,
    * _shingle_sig) — stats columns identical to the batch operator,
    * spec-proven equal to its recompute over every document seen.
    */
  def winnowStatsIncremental(spark: SparkSession, batch: DataFrame,
                             idCol: String, textCol: String,
                             stateDir: String, goldPath: String,
                             batchOrd: Long,
                             k: Int = 8, w: Int = 4, maxDf: Int = 20,
                             threshold: Double = 0.5,
                             prodHash: Boolean = false,
                             deletes: Option[DataFrame] = None,
                             fullResync: Boolean = false,
                             appendOnly: Boolean = false,
                             fmt: graft.pipeline.TableFormat =
                               graft.pipeline.SnapshotTableFormat): Unit =
    postingStatsIncremental(spark, batch, idCol, textCol, stateDir, goldPath,
      batchOrd, maxDf, threshold, deletes, fullResync, appendOnly, fmt,
      jaccard = false, hashOf = winnowHashFrame(_, k, w, prodHash),
      nearName = "n_overlapping", maxName = "max_overlap")

  /** (id, shash) frame for the winnow member: the sorted-distinct
    * print set per document, with an explicit EMPTY array for docs
    * shorter than k + w − 1 chars (they emit no prints — the
    * algorithm's domain — but must still hold a state row so their
    * gold row exists and retracts like any other).
    */
  private def winnowHashFrame(docs: DataFrame, k: Int, w: Int,
                              prodHash: Boolean): DataFrame = {
    val prints = TextAnalysis.winnowFingerprints(docs, "id", "text", k, w,
        prodHash)
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("fingerprint"))).as("_sh"))
    docs.select(col("id"))
      .join(prints, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("_sh"), array().cast("array<long>")).as("shash"))
  }

  private def postingStatsIncremental(spark: SparkSession, batch: DataFrame,
                                      idCol: String, textCol: String,
                                      stateDir: String, goldPath: String,
                                      batchOrd: Long, maxDf: Int,
                                      threshold: Double,
                                      deletes: Option[DataFrame],
                                      fullResync: Boolean, appendOnly: Boolean,
                                      fmt: graft.pipeline.TableFormat,
                                      jaccard: Boolean,
                                      hashOf: DataFrame => DataFrame,
                                      nearName: String,
                                      maxName: String): Unit = {
    require(!(appendOnly && deletes.nonEmpty),
      "appendOnly declares an insert-only corpus; a delete feed " +
        "contradicts it — drop the flag and use the general path")
    val docsPath = s"$stateDir/docs"       // membership (id, chash)
    val groupsPath = s"$stateDir/groups"   // (chash, shash) representatives
    val postPath = s"$stateDir/shingles"   // (h, chash) group posting rows
    requireGroupKeyedState(spark, docsPath, fmt, legacyCol = "shash")

    // EXACT-DUPLICATE COLLAPSE (r15): the posting state is an
    // inverted index over DISTINCT contents — O(shingles per distinct
    // content) rows instead of per doc — and all qualification, pair,
    // signature, and verify work runs per group. Value-exact by the
    // batch argument: identical shingle SETS make every posting
    // bucket group-closed, document frequency is the summed group
    // size, within-group pairs score exactly 1 (identical sets), and
    // every cross-group doc pair shares precisely its group pair's
    // qualifying shingles and score.
    def bucketAgg(postIn: DataFrame, gsizes: DataFrame): DataFrame =
      postIn.join(gsizes, Seq("chash"))
        .groupBy(col("h"))
        .agg(sum(col("gsize")).as("_df"),
          expr("bit_xor(xxhash64(h, chash, gsize))").as("_bsig"))
        .withColumn("_q", col("_df") >= 2 && col("_df") <= maxDf)
    def groupSig(postIn: DataFrame, buckets: DataFrame): DataFrame =
      postIn.join(buckets, Seq("h"))
        .groupBy(col("chash"))
        .agg(bit_xor(when(col("_q"), col("_bsig")).otherwise(lit(0L)))
          .as("_gsig"))

    // shared verify tail: per-GROUP stats for the affected groups,
    // cross pairs scored once per group pair on the representative
    // arrays (directional containment from the affected side),
    // expanded to affected docs through the membership table
    def refresh(members: DataFrame, groupsT: DataFrame, postT: DataFrame,
                gsizes: DataFrame, buckets: DataFrame,
                affectedDocs: DataFrame, affectedGroups: DataFrame,
                sigNowDoc: DataFrame, drops: Option[DataFrame]): Unit = {
      val qb = buckets.filter(col("_q")).select(col("h"))
      val aSide = postT.join(affectedGroups, Seq("chash"), "left_semi")
        .join(qb, Seq("h"), "left_semi")
        .select(col("h"), col("chash").as("ga"))
      val mSide = postT.join(qb, Seq("h"), "left_semi")
        .select(col("h"), col("chash").as("gb"))
      val pairs = aSide.join(mSide, Seq("h"))
        .filter(col("ga") =!= col("gb"))
        .select(col("ga"), col("gb")).distinct()
      val score =
        if (jaccard)
          col("_shared").cast("double") /
            (size(col("da.shash")) + size(col("db.shash")) - col("_shared"))
        else col("_shared").cast("double") / size(col("da.shash"))
      val scored = graft.Materialize.eager(pairs
        .join(groupsT.as("da"), col("da.chash") === col("ga"))
        .join(groupsT.as("db"), col("db.chash") === col("gb"))
        .withColumn("_shared", HashFunctions.sortedIntersectCount(
          col("da.shash"), col("db.shash")))
        .select(col("ga"), col("gb"), score.as("_score")))
      val crossAgg = scored
        .join(gsizes.select(col("chash").as("gb"), col("gsize").as("osize")),
          Seq("gb"))
        .groupBy(col("ga")).agg(
          sum(col("osize")).as("_cross_cand"),
          sum(when(col("_score") >= threshold, col("osize")).otherwise(0L))
            .as("_cross_near"),
          max(col("_score")).as("_cross_max"))
        .withColumnRenamed("ga", "chash")
      val keptQ = postT.join(qb, Seq("h"), "left_semi")
        .select(col("chash")).distinct().withColumn("_kept", lit(true))
      val withinPairs = col("_kept") && col("gsize") >= 2L
      // identical sets score exactly 1 (both flavors); empty arrays
      // would score 0/0 = null at doc level — mirror (the bundled
      // shingler never emits one; guards custom hash frames)
      val withinScored = withinPairs && col("_nonempty")
      val gstats = affectedGroups
        .join(gsizes, Seq("chash"))
        .join(groupsT.select(col("chash"),
          (size(col("shash")) > 0).as("_nonempty")), Seq("chash"))
        .join(keptQ, Seq("chash"), "left")
        .join(crossAgg, Seq("chash"), "left")
        .select(col("chash"),
          (when(withinPairs, col("gsize") - 1L).otherwise(0L) +
            coalesce(col("_cross_cand"), lit(0L))).as("n_candidates"),
          (when(withinScored && lit(1.0 >= threshold), col("gsize") - 1L)
            .otherwise(0L) +
            coalesce(col("_cross_near"), lit(0L))).as(nearName),
          greatest(when(withinScored, lit(1.0)), col("_cross_max"))
            .as(maxName))
      val statsRows = affectedDocs
        .join(members, Seq("id"), "left")
        .join(gstats, Seq("chash"), "left")
        .join(sigNowDoc, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col(nearName), lit(0L)).as(nearName),
          col(maxName), lit(batchOrd).as("_ord"),
          coalesce(col("_sig_now"), lit(0L)).as("_shingle_sig"))
      if (!statsRows.isEmpty)
        fmt.scd1Merge(spark, goldPath, statsRows, Seq("id"), "_ord",
          compareExclude = Nil)
      drops.foreach { d =>
        if (fmt.exists(goldPath) && !d.isEmpty)
          fmt.deleteKeys(spark, goldPath, d, Seq("id"))
      }
    }
    def mergeState(batchH: DataFrame): Unit = {
      fmt.scd1Merge(spark, docsPath,
        batchH.select(col("id"), col("chash"))
          .withColumn("_ord", lit(batchOrd)),
        Seq("id"), "_ord", compareExclude = Nil)
      val batchGroups = graft.Materialize.eager(
        batchH.groupBy(col("chash")).agg(first(col("shash")).as("shash")))
      fmt.scd1Merge(spark, groupsPath,
        batchGroups.withColumn("_ord", lit(batchOrd)),
        Seq("chash"), "_ord", compareExclude = Nil)
      fmt.scd1Merge(spark, postPath,
        batchGroups.select(col("chash"), explode(col("shash")).as("h"))
          .withColumn("_ord", lit(batchOrd)),
        Seq("h", "chash"), "_ord", compareExclude = Nil)
    }

    // null-text handling: the batch operator's documented deviation
    // (see minhashLshStatsIncremental) — null docs never enter
    // state/gold, an update TO null retracts like a delete
    val batchAll = graft.Materialize.eager(
      oneRowPerId(batch.select(col(idCol).as("id"), col(textCol).as("text")),
        "id", Seq("text")))
    val batchDocs = batchAll.filter(col("text").isNotNull)
    if (appendOnly && !fullResync) {
      if (batchDocs.isEmpty) return
      val batchH = graft.Materialize.eager(
        hashOf(batchDocs).withColumn("chash", xxhash64(col("shash"))))
      mergeState(batchH)
      val members = fmt.read(spark, docsPath).select(col("id"), col("chash"))
      val groupsT = fmt.read(spark, groupsPath)
        .select(col("chash"), col("shash"))
      val postT = fmt.read(spark, postPath).select(col("chash"), col("h"))
      // re-verify set: GROUPS sharing a posting bucket with the
      // batch's groups — the only groups whose qualification,
      // document frequency, or signature can change on an insert-only
      // corpus — and the two-hop posting neighborhood as the slice
      val touched = batchH.select(col("chash"), explode(col("shash")).as("h"))
        .select(col("h")).distinct()
      // union the batch's own groups: a group with an EMPTY hash set
      // (a printless winnow doc) touches no bucket yet still needs
      // its gold row written this fold
      val affectedGroups = graft.Materialize.eager(
        postT.join(touched, Seq("h"), "left_semi")
          .select(col("chash"))
          .unionByName(batchH.select(col("chash")))
          .distinct())
      val affBuckets = postT.join(affectedGroups, Seq("chash"), "left_semi")
        .select(col("h")).distinct()
      val nbrPost = graft.Materialize.eager(
        postT.join(affBuckets, Seq("h"), "left_semi"))
      val gsizes = graft.Materialize.eager(
        members.join(nbrPost.select(col("chash")).distinct(),
            Seq("chash"), "left_semi")
          .groupBy(col("chash")).agg(count(lit(1)).as("gsize")))
      val buckets = graft.Materialize.eager(bucketAgg(nbrPost, gsizes))
      val gsig = graft.Materialize.eager(groupSig(
        nbrPost.join(affectedGroups, Seq("chash"), "left_semi"), buckets))
      val affectedDocs = graft.Materialize.eager(
        members.join(affectedGroups, Seq("chash"), "left_semi")
          .select(col("id")))
      val sigNowDoc = members.join(gsig, Seq("chash"))
        .select(col("id"), col("_gsig").as("_sig_now"))
      refresh(members, groupsT, nbrPost, gsizes, buckets,
        affectedDocs, affectedGroups, sigNowDoc, None)
      return
    }
    val delIds = combinedDeletes(spark, deletes, idCol, "id", fullResync,
      docsPath, batchAll.select(col("id")), fmt)
    val drops = graft.Materialize.eager(
      delIds.fold(batchAll.filter(col("text").isNull).select(col("id")))(
        _.unionByName(batchAll.filter(col("text").isNull).select(col("id"))))
        .distinct())
    // orphan-sweep scope: groups the retractions can leave, read
    // BEFORE any state mutation
    val retIds = graft.Materialize.eager(
      batchAll.select(col("id")).unionByName(drops).distinct())
    val touchedOld: Option[DataFrame] =
      if (fmt.exists(docsPath) && !retIds.isEmpty)
        Some(graft.Materialize.eager(
          fmt.read(spark, docsPath)
            .join(retIds, Seq("id"), "left_semi")
            .select(col("chash")).distinct()))
      else None
    if (!batchAll.isEmpty) {
      if (fmt.exists(docsPath))
        fmt.deleteKeys(spark, docsPath,
          batchAll.select(col("id")).distinct(), Seq("id"))
      if (!batchDocs.isEmpty) {
        val batchH = graft.Materialize.eager(
          hashOf(batchDocs).withColumn("chash", xxhash64(col("shash"))))
        mergeState(batchH)
      }
    }
    delIds.foreach { d =>
      if (fmt.exists(docsPath) && !d.isEmpty)
        fmt.deleteKeys(spark, docsPath, d, Seq("id"))
    }
    // orphan sweep: a group whose LAST member left must leave the
    // groups/postings tables — its posting rows would otherwise keep
    // counting toward document frequencies and signatures forever
    touchedOld.foreach { t =>
      val orphans = graft.Materialize.eager(
        t.join(fmt.read(spark, docsPath).select(col("chash")),
          Seq("chash"), "left_anti"))
      if (!orphans.isEmpty) {
        if (fmt.exists(groupsPath))
          fmt.deleteKeys(spark, groupsPath, orphans, Seq("chash"))
        if (fmt.exists(postPath))
          fmt.deleteKeys(spark, postPath, orphans, Seq("chash"))
      }
    }
    if (!fmt.exists(docsPath)) return // empty first batch

    val members = graft.Materialize.eager(
      fmt.read(spark, docsPath).select(col("id"), col("chash")))
    val groupsT = fmt.read(spark, groupsPath).select(col("chash"), col("shash"))
    val postT = fmt.read(spark, postPath).select(col("chash"), col("h"))
    val gsizes = graft.Materialize.eager(
      members.groupBy(col("chash")).agg(count(lit(1)).as("gsize")))
    val buckets = graft.Materialize.eager(bucketAgg(postT, gsizes))
    val gsig = graft.Materialize.eager(groupSig(postT, buckets))
    val sigNowDoc = graft.Materialize.eager(
      members.join(gsig, Seq("chash"))
        .select(col("id"), col("_gsig").as("_sig_now")))

    val affectedAll =
      if (fmt.exists(goldPath)) {
        val goldDf = fmt.read(spark, goldPath)
        val withSig =
          if (goldDf.columns.contains("_shingle_sig")) goldDf
          else goldDf.withColumn("_shingle_sig", lit(null).cast("long"))
        withSig
          .join(sigNowDoc, Seq("id"), "left_outer")
          .filter(!(col("_shingle_sig") <=> coalesce(col("_sig_now"), lit(0L))))
          .select(col("id"))
          .unionByName(batchDocs.select(col("id"))).distinct()
      } else batchDocs.select(col("id")).distinct()
    val affected = graft.Materialize.eager(
      if (drops.isEmpty) affectedAll
      else affectedAll.join(drops, Seq("id"), "left_anti"))
    val affectedGroups = graft.Materialize.eager(
      members.join(affected, Seq("id"), "left_semi")
        .select(col("chash")).distinct())
    refresh(members, groupsT, postT, gsizes, buckets, affected,
      affectedGroups, sigNowDoc, if (drops.isEmpty) None else Some(drops))
  }

  /** #29 MinHash+LSH near-dup: numPerm permutations approximated by
    * re-hashing each shingle hash with a per-permutation seed, min
    * per seed — all computed INSIDE the row with transform/array_min
    * (no explode, no groupBy: the signature stage shuffles nothing).
    * Band hashes become LSH bucket keys; the only shuffle carries
    * (band, bandHash, group); band-collision pairs are verified with
    * true Jaccard over the hash sets.
    *
    * EXACT-DUPLICATE COLLAPSE (r14): all LSH work runs on DISTINCT
    * shingle-hash arrays, one representative per content group, and
    * per-doc stats expand afterwards by group size. This is
    * value-EXACT, not an approximation: identical arrays give
    * identical band rows, so every bucket is group-closed (it holds
    * all of a group's docs or none), the flood-cap decision on the
    * summed doc count matches the doc-level bucket size, every
    * cross-group doc pair shares exactly the buckets its group pair
    * shares, and within-group pairs all score Jaccard 1. A
    * mass-duplicated corpus — the regime this operator exists for —
    * otherwise pays pair cost quadratic in the duplication factor
    * UNDER the flood cap (the 100×-duplicated sf10 probe: every
    * bucket ~100×-degenerate yet below maxBucket, 153 GB of
    * aggregate spill, job death); collapsed, the pair stage is
    * quadratic in DISTINCT contents only. Group identity is
    * xxhash64 of the sorted hash array (two distinct contents
    * colliding ≈ 2⁻⁶⁴, deterministic, and the value-exact oracle
    * would surface it — the decontaminate-oracle argument).
    */
  def minhashLshStats(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 5, numPerm: Int = 64, bands: Int = 16,
                      threshold: Double = 0.1,
                      maxBucket: Int = 10000): DataFrame = {
    val docsH = shingleHashes(df, idCol, textCol, n)
      .transform(graft.Materialize.eager)
    val members = docsH
      .select(col("id"), xxhash64(col("shash")).as("chash"))
    // one representative array per content group (all members'
    // arrays are identical by construction, so `first` is exact)
    val groups = docsH
      .groupBy(xxhash64(col("shash")).as("chash"))
      .agg(count(lit(1)).as("gsize"), first(col("shash")).as("shash"))
      .transform(graft.Materialize.eager)
    val gFrame = groups.select(col("chash").as("id"), col("shash"))
    val bandRows = bandRowsFromHashes(gFrame, numPerm, bands)
      .join(groups.select(col("chash").as("id"), col("gsize")), Seq("id"))
    // group-level buckets; the cap applies to the DOC count (sum of
    // group sizes — the doc-level bucket size), so flood semantics
    // are unchanged. Group pairs include the SELF pair (ga == gb)
    // when the group has ≥ 2 docs: those are the within-group doc
    // pairs, kept iff some bucket holding the group survives the cap
    // — exactly when the doc-level formulation kept them.
    val pairs = bandRows.groupBy("band", "bhash")
      .agg(collect_set(struct(col("id"), col("gsize"))).as("gs"),
        sum(col("gsize")).as("_total"))
      .filter(col("_total") > 1 && col("_total") <= maxBucket)
      .select(explode(col("gs")).as("a"), col("gs"))
      .select(col("a"), explode(col("gs")).as("b"))
      .filter(col("a.id") < col("b.id") ||
        (col("a.id") === col("b.id") && col("a.gsize") >= 2))
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
      .distinct()
      .transform(graft.Materialize.eager)
    // cross-group pairs verify ONCE per group pair on the reps
    val jac = pairJaccardTwo(gFrame, gFrame,
      pairs.filter(col("ida") =!= col("idb")))
    val both = jac.select(col("ida").as("chash"), col("idb").as("other"),
        col("jaccard"))
      .unionByName(jac.select(col("idb").as("chash"),
        col("ida").as("other"), col("jaccard")))
    val crossAgg = both
      .join(groups.select(col("chash").as("other"), col("gsize").as("osize")),
        Seq("other"))
      .groupBy("chash").agg(
        sum(col("osize")).as("_cross_cand"),
        sum(when(col("jaccard") >= threshold, col("osize")).otherwise(0L))
          .as("_cross_near"),
        max(col("jaccard")).as("_cross_max"))
    val selfGroups = pairs.filter(col("ida") === col("idb"))
      .select(col("ida").as("chash")).withColumn("_self", lit(true))
    // defensive null contract: an EMPTY hash array's within-pairs
    // would score 0/0 = NULL at doc level (a candidate, never near,
    // never a max) — mirror that rather than awarding Jaccard 1.
    // The bundled shingler never emits an empty array (it truncates
    // short text to one shingle), so this guards custom hash frames.
    val withinScored = col("_self") && size(col("shash")) > 0
    val gstats = groups
      .join(selfGroups, Seq("chash"), "left")
      .join(crossAgg, Seq("chash"), "left")
      .select(col("chash"),
        (when(col("_self"), col("gsize") - 1L).otherwise(0L) +
          coalesce(col("_cross_cand"), lit(0L))).as("n_candidates"),
        (when(withinScored && lit(1.0 >= threshold), col("gsize") - 1L)
          .otherwise(0L) +
          coalesce(col("_cross_near"), lit(0L))).as("n_near"),
        // greatest ignores nulls: 1.0 for a duplicated group with a
        // kept bucket, the best cross score otherwise, null if none
        greatest(when(withinScored, lit(1.0)), col("_cross_max"))
          .as("max_jaccard"))
    df.select(col(idCol).as("id"))
      .join(members.join(gstats, Seq("chash")).drop("chash"),
        Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("max_jaccard"))
  }

  /** The pre-collapse doc-level formulation of [[minhashLshStats]] —
    * kept package-private as the equivalence REFERENCE: DedupSpec
    * proves the collapsed operator equal to this on duplicate-heavy
    * corpora across flood regimes. Do not use at scale (pair cost
    * quadratic in the duplication factor under the cap).
    */
  private[graft] def minhashLshStatsUncollapsed(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.1, maxBucket: Int = 10000): DataFrame = {
    val (docsH, cand) =
      minhashCandidates(df, idCol, textCol, n, numPerm, bands, maxBucket)
    jaccardPairStats(df, idCol, docsH, cand, threshold)
  }

  /** Incremental [[minhashLshStats]] for the medallion gold hop — the
    * near-dup sibling of
    * [[TextAnalysis.segmentDedupIncremental]]: fold one micro-batch
    * of (possibly updated) documents into persistent MinHash state
    * and a gold stats table that always equals the batch operator's
    * recompute over every document seen so far (same n / numPerm /
    * bands / threshold / maxBucket / minBands across calls — the
    * state encodes them implicitly).
    *
    * State (under `stateDir`) is GROUP-KEYED (r15 — the incremental
    * carry of the batch operator's exact-duplicate collapse): `docs`
    * = (id, chash) doc→content-group membership; `groups` = (chash,
    * shash) one representative hash array per distinct content; and
    * `bands` = (chash, band, bhash) LSH bucket rows per GROUP, chash
    * = xxhash64 of the hash array. All keyed merge tables, each
    * committed ONCE per batch by a merge that also removes keys
    * ([[graft.pipeline.TableFormat.scd1MergeRemoving]]): the `docs`
    * commit retracts the batch's and the deleted ids' old membership
    * rows and merges the new ones; the `bands` and `groups` commits
    * merge the batch's groups and sweep those whose last member left;
    * the gold commit merges the refreshed stats and drops deleted ids.
    * Replays converge — the pair-state argument of the segment-dedup
    * sibling. The collapse is value-EXACT by the
    * batch operator's argument (buckets are group-closed, the flood
    * cap applies to the SUMMED doc count, within-group pairs score
    * Jaccard 1), and it removes the duplication-factor quadratic the
    * doc-level state paid per fold: pair rows, posting rows, and the
    * signature aggregation all scale with DISTINCT contents, while
    * docs contribute one narrow membership row each. A state dir
    * written by the pre-r15 doc-level layout fails fast with a
    * rebuild remediation (fresh state dir + fullResync window).
    *
    * Staleness is again a SIGNATURE comparison against CURRENT state,
    * never a before/after diff (which an at-least-once redelivery
    * would lose): per qualifying bucket (2 ≤ Σgsize ≤ maxBucket) an
    * order-independent member hash-XOR over xxhash64(band, bhash,
    * chash, gsize); per GROUP the XOR over its qualifying buckets;
    * per doc its group's value, stored in gold as `_bucket_sig`.
    * Folding `gsize` is what makes duplicate arrivals sound: a new
    * member of an existing group changes no bucket MEMBERSHIP, but
    * it changes every mate's within/cross counts — the size fold
    * propagates that invalidation. Folding `chash` propagates a
    * mate's content rewrite exactly as the doc-level design did.
    *
    * Per batch only the batch is shingled; stale docs re-verify
    * against their bucket mates straight from state (group reps
    * verified once per group pair, stats expanded by group size).
    * The per-batch O(|groups| · bands + |docs|) signature aggregation
    * (narrow columns, map-side combinable) is the price of exact
    * update/retraction semantics.
    *
    * Gold rows: (id, n_candidates, n_near, max_jaccard, _ord,
    * _bucket_sig) — identical stats columns to the batch operator.
    * `deletes` is the silver hard-delete feed: state rows removed,
    * gold row deleted, mates re-verified via the signature change.
    * `fullResync` (a full-snapshot window — vacuumed gap or fresh
    * checkpoint) adds every state id the batch does not carry to
    * that set: see [[combinedDeletes]].
    *
    * `appendOnly` declares an insert-only corpus and switches the
    * per-batch cost from O(|bands state|) to O(batch neighborhood):
    * the re-verify set is the members of buckets the batch touched
    * (append-only, no other doc's bucket membership — hence
    * signature or stats — can change), and the signature/candidate
    * aggregations run over the TWO-HOP neighborhood only (the
    * touched buckets' members, plus those members' other buckets,
    * which the re-verified stats and signatures also fold). No
    * retraction deletes, no gold read. Contract and degrade
    * semantics as [[exactDedupIncremental]]: a delete feed throws,
    * a `fullResync` window runs the general path.
    */
  def minhashLshStatsIncremental(spark: SparkSession, batch: DataFrame,
                                 idCol: String, textCol: String,
                                 stateDir: String, goldPath: String,
                                 batchOrd: Long,
                                 n: Int = 5, numPerm: Int = 64,
                                 bands: Int = 16, threshold: Double = 0.1,
                                 maxBucket: Int = 10000, minBands: Int = 1,
                                 deletes: Option[DataFrame] = None,
                                 fullResync: Boolean = false,
                                 appendOnly: Boolean = false,
                                 fmt: graft.pipeline.TableFormat =
                                   graft.pipeline.SnapshotTableFormat): Unit = {
    require(numPerm % bands == 0, "numPerm must divide evenly into bands")
    require(!(appendOnly && deletes.nonEmpty),
      "appendOnly declares an insert-only corpus; a delete feed " +
        "contradicts it — drop the flag and use the general path")
    val docsPath = s"$stateDir/docs"
    val groupsPath = s"$stateDir/groups"
    val bandsPath = s"$stateDir/bands"
    requireGroupKeyedState(spark, docsPath, fmt, legacyCol = "shash")

    // bucket truth over a (neighborhood slice of the) bands table:
    // doc-level size = Σ member-group sizes; the member hash folds
    // band+bhash (structural distinctness — the doc-level lesson),
    // chash (content rewrites propagate to mates), and gsize
    // (duplicate arrivals/departures propagate even when bucket
    // MEMBERSHIP is unchanged)
    def bucketAgg(bandsIn: DataFrame, gsizes: DataFrame): DataFrame =
      bandsIn.join(gsizes, Seq("chash"))
        .groupBy(col("band"), col("bhash"))
        .agg(sum(col("gsize")).as("_total"),
          expr("bit_xor(xxhash64(band, bhash, chash, gsize))").as("_bsig"))
        .withColumn("_q", col("_total") >= 2 && col("_total") <= maxBucket)
    def groupSig(bandsIn: DataFrame, buckets: DataFrame): DataFrame =
      bandsIn.join(buckets, Seq("band", "bhash"))
        .groupBy(col("chash"))
        .agg(bit_xor(when(col("_q"), col("_bsig")).otherwise(lit(0L)))
          .as("_gsig"))

    // shared verify tail: per-GROUP stats for the affected groups
    // (cross pairs verified once per group pair on the representative
    // arrays; within-group terms from group size), expanded to the
    // affected docs through the membership table — the batch
    // operator's collapsed tail applied to state
    def refresh(members: DataFrame, groupsT: DataFrame, bandsT: DataFrame,
                gsizes: DataFrame, buckets: DataFrame,
                affectedDocs: DataFrame, affectedGroups: DataFrame,
                sigNowDoc: DataFrame, drops: Option[DataFrame]): Unit = {
      val qb = buckets.filter(col("_q")).select(col("band"), col("bhash"))
      val aSide = bandsT.join(affectedGroups, Seq("chash"), "left_semi")
        .join(qb, Seq("band", "bhash"), "left_semi")
        .select(col("band"), col("bhash"), col("chash").as("ga"))
      val mSide = bandsT.join(qb, Seq("band", "bhash"), "left_semi")
        .select(col("band"), col("bhash"), col("chash").as("gb"))
      // directed (affected-group, mate-group) pairs; ≥ minBands shared
      // qualifying buckets, exactly the doc-level collision rule
      val pairs = aSide.join(mSide, Seq("band", "bhash"))
        .filter(col("ga") =!= col("gb"))
        .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("_nh"))
        .filter(col("_nh") >= minBands)
        .select(col("ga").as("ida"), col("gb").as("idb"))
      val gFrame = groupsT.select(col("chash").as("id"), col("shash"))
      val jac = graft.Materialize.eager(pairJaccardTwo(gFrame, gFrame, pairs))
      val crossAgg = jac
        .join(gsizes.select(col("chash").as("idb"), col("gsize").as("osize")),
          Seq("idb"))
        .groupBy(col("ida")).agg(
          sum(col("osize")).as("_cross_cand"),
          sum(when(col("jaccard") >= threshold, col("osize")).otherwise(0L))
            .as("_cross_near"),
          max(col("jaccard")).as("_cross_max"))
        .withColumnRenamed("ida", "chash")
      // within-group terms exist when the group keeps ≥ minBands
      // qualifying own buckets (members share EVERY bucket, so the
      // group's self-pairs all collide in exactly those)
      val keptQ = bandsT.join(qb, Seq("band", "bhash"), "left_semi")
        .groupBy(col("chash")).agg(count(lit(1)).as("_nq"))
        .filter(col("_nq") >= minBands)
        .select(col("chash")).withColumn("_kept", lit(true))
      val withinPairs = col("_kept") && col("gsize") >= 2L
      // empty-array guard mirrors the batch tail: 0/0 scores null at
      // doc level — a candidate, never near, never a max
      val withinScored = withinPairs && col("_nonempty")
      val gstats = affectedGroups
        .join(gsizes, Seq("chash"))
        .join(groupsT.select(col("chash"),
          (size(col("shash")) > 0).as("_nonempty")), Seq("chash"))
        .join(keptQ, Seq("chash"), "left")
        .join(crossAgg, Seq("chash"), "left")
        .select(col("chash"),
          (when(withinPairs, col("gsize") - 1L).otherwise(0L) +
            coalesce(col("_cross_cand"), lit(0L))).as("n_candidates"),
          (when(withinScored && lit(1.0 >= threshold), col("gsize") - 1L)
            .otherwise(0L) +
            coalesce(col("_cross_near"), lit(0L))).as("n_near"),
          greatest(when(withinScored, lit(1.0)), col("_cross_max"))
            .as("max_jaccard"))
      val statsRows = affectedDocs
        .join(members, Seq("id"), "left")
        .join(gstats, Seq("chash"), "left")
        .join(sigNowDoc, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          col("max_jaccard"), lit(batchOrd).as("_ord"),
          coalesce(col("_sig_now"), lit(0L)).as("_bucket_sig"))
      // materialized once: the emptiness probe and the gold commit
      // read the same rows instead of each evaluating the plan
      val stats = Some(graft.Materialize.eager(statsRows)).filterNot(_.isEmpty)
      if (stats.nonEmpty || fmt.exists(goldPath))
        mergeRemoving(spark, fmt, goldPath, stats, drops, Seq("id"))
    }

    // null-text docs are excluded from state/gold (documented
    // deviation from the batch operator, which reports them with
    // empty stats: their null band hashes group in an aggregation
    // but drop from every equi-join, so they could never re-verify
    // consistently). An update TO null text retracts like a delete —
    // the retraction set is every id the batch mentions, not the
    // filtered rows, or the old content would haunt its mates
    // forever with no signature change to flag it.
    val batchAll = graft.Materialize.eager(
      oneRowPerId(batch.select(col(idCol).as("id"), col(textCol).as("text")),
        "id", Seq("text")))
    val batchDocs = batchAll.filter(col("text").isNotNull)
    if (appendOnly && !fullResync) {
      if (batchDocs.isEmpty) return
      val batchH = graft.Materialize.eager(
        shingleHashes(batchDocs, "id", "text", n)
          .withColumn("chash", xxhash64(col("shash"))))
      mergeMinhashGroupState(spark, Some(batchH), docsPath, groupsPath,
        bandsPath, batchOrd, numPerm, bands, fmt)
      val members = fmt.read(spark, docsPath).select(col("id"), col("chash"))
      val groupsT = fmt.read(spark, groupsPath)
        .select(col("chash"), col("shash"))
      val bandsT = fmt.read(spark, bandsPath)
        .select(col("chash"), col("band"), col("bhash"))
      // re-verify set: GROUPS sharing a bucket with the batch's
      // groups (includes those groups themselves) — the only groups
      // whose bucket totals, membership, or signatures can change on
      // an insert-only corpus — and their members as the doc set
      val batchBuckets = bandRowsFromHashes(
          batchH.select(col("chash").as("id"), col("shash")).distinct(),
          numPerm, bands)
        .select(col("band"), col("bhash")).distinct()
      val affectedGroups = graft.Materialize.eager(
        bandsT.join(batchBuckets, Seq("band", "bhash"), "left_semi")
          .select(col("chash")).distinct())
      // ...and their whole neighborhoods: every bucket an affected
      // group belongs to, with full membership — both the signature
      // fold and the candidate mates need those buckets exactly
      val affBuckets = bandsT.join(affectedGroups, Seq("chash"), "left_semi")
        .select(col("band"), col("bhash")).distinct()
      val nbrBands = graft.Materialize.eager(
        bandsT.join(affBuckets, Seq("band", "bhash"), "left_semi"))
      val gsizes = graft.Materialize.eager(
        members.join(nbrBands.select(col("chash")).distinct(),
            Seq("chash"), "left_semi")
          .groupBy(col("chash")).agg(count(lit(1)).as("gsize")))
      val buckets = graft.Materialize.eager(bucketAgg(nbrBands, gsizes))
      val gsig = graft.Materialize.eager(groupSig(
        nbrBands.join(affectedGroups, Seq("chash"), "left_semi"), buckets))
      val affectedDocs = graft.Materialize.eager(
        members.join(affectedGroups, Seq("chash"), "left_semi")
          .select(col("id")))
      val sigNowDoc = members.join(gsig, Seq("chash"))
        .select(col("id"), col("_gsig").as("_sig_now"))
      refresh(members, groupsT, nbrBands, gsizes, buckets,
        affectedDocs, affectedGroups, sigNowDoc, None)
      return
    }
    val delIds = combinedDeletes(spark, deletes, idCol, "id", fullResync,
      docsPath, batchAll.select(col("id")), fmt)
    // ids leaving gold entirely: hard deletes + update-to-null docs,
    // probed for emptiness once (without deletes, a filter of the
    // materialized batch)
    val nulled = batchAll.filter(col("text").isNull).select(col("id"))
    val drops = Some(delIds.fold(nulled)(d =>
      graft.Materialize.eager(d.unionByName(nulled).distinct())))
      .filterNot(_.isEmpty)
    // every id whose old membership row this fold retracts (re-keyed,
    // nulled or deleted), and the groups those rows LEAVE — the
    // orphan-sweep scope, read BEFORE any state mutation
    val retIds = drops.fold(batchAll.select(col("id")))(d =>
      graft.Materialize.eager(batchAll.select(col("id")).unionByName(d).distinct()))
    val touchedOld: Option[DataFrame] =
      if (fmt.exists(docsPath) && !retIds.isEmpty)
        Some(graft.Materialize.eager(
          fmt.read(spark, docsPath)
            .join(retIds, Seq("id"), "left_semi")
            .select(col("chash")).distinct()))
      else None
    // a hard-deleted id leaves even when the batch also carries it
    val liveDocs = drops.fold(batchDocs)(d => batchDocs.join(d, Seq("id"), "left_anti"))
    // orphan sweep: a group whose LAST member left must leave the
    // groups/bands tables too — its band rows would otherwise keep
    // counting toward bucket totals and signatures forever. Known only
    // once the docs commit has landed.
    def orphans(): Option[DataFrame] = touchedOld.map(t =>
      graft.Materialize.eager(
        t.join(fmt.read(spark, docsPath).select(col("chash")),
          Seq("chash"), "left_anti"))).filterNot(_.isEmpty)
    // each state table commits once: docs (retraction + membership),
    // then bands and groups (new groups + orphan sweep); a batch with
    // no live doc only retracts and sweeps
    val batchH = Some(liveDocs).filterNot(_.isEmpty).map(l =>
      graft.Materialize.eager(shingleHashes(l, "id", "text", n)
        .withColumn("chash", xxhash64(col("shash")))))
    if (batchH.nonEmpty || touchedOld.nonEmpty)
      mergeMinhashGroupState(spark, batchH, docsPath, groupsPath, bandsPath,
        batchOrd, numPerm, bands, fmt, touchedOld.map(_ => retIds), orphans)
    if (!fmt.exists(docsPath)) return // empty first batch

    val members = graft.Materialize.eager(
      fmt.read(spark, docsPath).select(col("id"), col("chash")))
    val groupsT = fmt.read(spark, groupsPath).select(col("chash"), col("shash"))
    val bandsT = fmt.read(spark, bandsPath)
      .select(col("chash"), col("band"), col("bhash"))
    // group sizes from the membership table: one narrow map-side-
    // combinable aggregation — the only per-fold pass over the
    // O(docs) table; everything downstream is groups-sized
    val gsizes = graft.Materialize.eager(
      members.groupBy(col("chash")).agg(count(lit(1)).as("gsize")))
    val buckets = graft.Materialize.eager(bucketAgg(bandsT, gsizes))
    val gsig = graft.Materialize.eager(groupSig(bandsT, buckets))
    val sigNowDoc = graft.Materialize.eager(
      members.join(gsig, Seq("chash"))
        .select(col("id"), col("_gsig").as("_sig_now")))

    // re-verify set = the batch ∪ gold docs whose stored signature
    // disagrees with current state (pure function of state + gold ⇒
    // crash between the state and gold merges self-heals on replay);
    // DELETED docs are excluded — their sig mismatch would otherwise
    // re-add them with empty stats — and their gold rows removed below
    val affectedAll =
      if (fmt.exists(goldPath)) {
        val goldDf = fmt.read(spark, goldPath)
        // pre-signature gold: re-verify every doc once (evolution
        // adds the column on write, so the read can't assume it)
        val withSig =
          if (goldDf.columns.contains("_bucket_sig")) goldDf
          else goldDf.withColumn("_bucket_sig", lit(null).cast("long"))
        withSig
          .join(sigNowDoc, Seq("id"), "left_outer")
          .filter(!(col("_bucket_sig") <=> coalesce(col("_sig_now"), lit(0L))))
          .select(col("id"))
          .unionByName(batchDocs.select(col("id"))).distinct()
      } else batchDocs.select(col("id")).distinct()
    val affected = graft.Materialize.eager(
      drops.fold(affectedAll)(d => affectedAll.join(d, Seq("id"), "left_anti")))
    val affectedGroups = graft.Materialize.eager(
      members.join(affected, Seq("id"), "left_semi")
        .select(col("chash")).distinct())
    refresh(members, groupsT, bandsT, gsizes, buckets, affected,
      affectedGroups, sigNowDoc, drops)
  }

  /** At most one commit: SCD1-upsert `rows` into `path` (ordered by
    * `_ord`), removing the keys in `remove`; with no rows, only the
    * removal; with neither, nothing.
    */
  private def mergeRemoving(spark: SparkSession,
                            fmt: graft.pipeline.TableFormat, path: String,
                            rows: Option[DataFrame], remove: Option[DataFrame],
                            keys: Seq[String]): Unit =
    (rows, remove) match {
      case (Some(u), Some(r)) =>
        fmt.scd1MergeRemoving(spark, path, u, r, keys, "_ord",
          compareExclude = Nil)
      case (Some(u), None) =>
        fmt.scd1Merge(spark, path, u, keys, "_ord", compareExclude = Nil)
      case (None, Some(r)) => fmt.deleteKeys(spark, path, r, keys)
      case (None, None) => ()
    }

  /** Merge one batch's group-keyed MinHash state (batchH = (id,
    * shash, chash), None when the batch has no live doc): membership
    * keyed on id, representative arrays keyed on chash, band rows
    * keyed (band, bhash, chash), at most one commit per table.
    * `retract` names ids whose old membership rows the docs commit
    * removes; `orphans`, asked after that commit, names the groups it
    * left memberless, which the bands and groups commits remove.
    * Group and band rows for an EXISTING chash merge idempotently
    * (identical content by construction), so replays converge.
    */
  private def mergeMinhashGroupState(spark: SparkSession,
      batchH: Option[DataFrame],
      docsPath: String, groupsPath: String, bandsPath: String,
      batchOrd: Long, numPerm: Int, bands: Int,
      fmt: graft.pipeline.TableFormat,
      retract: Option[DataFrame] = None,
      orphans: () => Option[DataFrame] = () => None): Unit = {
    mergeRemoving(spark, fmt, docsPath,
      batchH.map(_.select(col("id"), col("chash"))
        .withColumn("_ord", lit(batchOrd))),
      retract, Seq("id"))
    val gone = orphans()
    // one representative array per batch group (`first` exact: all
    // members' arrays are identical by construction)
    val batchGroups = batchH.map(h => graft.Materialize.eager(
      h.groupBy(col("chash")).agg(first(col("shash")).as("shash"))))
    def bandRows(groups: DataFrame): DataFrame =
      bandRowsFromHashes(groups.select(col("chash").as("id"), col("shash")),
          numPerm, bands)
        .select(col("id").as("chash"), col("band"), col("bhash"))
    // an orphan's band rows are its array's bands, named with the full
    // key from the groups table before the groups commit removes it
    mergeRemoving(spark, fmt, bandsPath,
      batchGroups.map(g => bandRows(g).withColumn("_ord", lit(batchOrd))),
      gone.map(o => bandRows(
        fmt.read(spark, groupsPath).join(o, Seq("chash"), "left_semi"))),
      Seq("band", "bhash", "chash"))
    mergeRemoving(spark, fmt, groupsPath,
      batchGroups.map(_.withColumn("_ord", lit(batchOrd))), gone, Seq("chash"))
  }

  /** Fail fast when a state dir written by the pre-r15 DOC-level
    * layout is fed to a group-keyed fold (the membership table used
    * to carry per-doc `shash` arrays / band rows): a silent misread
    * is worse than a rebuild. Remediation = fresh state dir + a
    * fullResync snapshot window (the documented bootstrap path).
    */
  private def requireGroupKeyedState(spark: SparkSession, docsPath: String,
      fmt: graft.pipeline.TableFormat, legacyCol: String): Unit =
    if (fmt.exists(docsPath) &&
        fmt.read(spark, docsPath).columns.contains(legacyCol))
      throw new IllegalStateException(
        s"$docsPath holds the pre-group-keyed doc-level state layout " +
          s"(column '$legacyCol' present) — rebuild from a fresh state " +
          "dir + a fullResync snapshot window")

  /** MinHash band buckets -> (per-doc hash arrays, candidate pairs).
    * `maxBucket` caps degenerate bucket sizes and `minBands` drops
    * pairs colliding in fewer bands (see bucketPairs).
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, numPerm: Int = 64, bands: Int = 16,
                        maxBucket: Int = 10000, minBands: Int = 1)
      : (DataFrame, DataFrame) = {
    val (docsH, bandRows) = minhashBandRows(df, idCol, textCol, n,
      numPerm, bands)
    (docsH, bucketPairs(bandRows, Seq("band", "bhash"), maxBucket, minBands))
  }

  /** (per-doc hash arrays, (id, band, bhash) LSH bucket rows) — the
    * shared front of the within-corpus and cross-corpus MinHash
    * paths. The hash arrays are materialized once: they feed the
    * signature projection and the verify join's side(s).
    */
  private def minhashBandRows(df: DataFrame, idCol: String, textCol: String,
                              n: Int, numPerm: Int, bands: Int)
      : (DataFrame, DataFrame) = {
    val docsH = shingleHashes(df, idCol, textCol, n).transform(graft.Materialize.eager)
    (docsH, bandRowsFromHashes(docsH, numPerm, bands))
  }

  /** (id[, chash], band, bhash) LSH band rows from an (id, shash)
    * frame. `withChash` adds xxhash64 of the full hash array — the
    * content fingerprint the incremental path stores with each band
    * row so a document UPDATE invalidates every bucket that contains
    * it (a near-identical update can keep a band's bhash stable
    * while changing the exact Jaccard against every mate).
    */
  private def bandRowsFromHashes(docsH: DataFrame, numPerm: Int, bands: Int,
                                 withChash: Boolean = false): DataFrame = {
    require(numPerm % bands == 0, "numPerm must divide evenly into bands")
    val r = numPerm / bands
    val sig = HashFunctions.minhashSignature(col("shash"), numPerm)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("_sig"), b * r + 1, r)).as("bhash"))
    }
    val keep = if (withChash) Seq(col("id"), col("chash")) else Seq(col("id"))
    val base =
      if (withChash)
        docsH.select(col("id"), xxhash64(col("shash")).as("chash"), sig.as("_sig"))
      else docsH.select(col("id"), sig.as("_sig"))
    base
      // _outer: a bands-element CreateArray is never null/empty, so
      // inner and outer are row-identical — but inner would invite an
      // inferred filter that re-derives the signature per conjunct on
      // sessions without the rule exclusion (see shingles)
      .select(keep :+ explode_outer(array(bandStructs: _*)).as("bb"): _*)
      .select(keep ++ Seq(col("bb.band").as("band"),
        col("bb.bhash").as("bhash")): _*)
  }

  /** Cross-corpus near-dup: flag corpus documents near-duplicating
    * ANY document of a reference corpus — "dedup the new crawl
    * against the existing training set". Unlike [[decontaminate]]
    * (which broadcasts a small benchmark's shingle set), BOTH sides
    * here scale: each computes in-row MinHash band keys and the only
    * shuffle is the (band, bhash) equi-join between them — no
    * broadcast, no cross product. Band-collision candidates (≥
    * `minBands` matching bands) are verified with exact Jaccard over
    * the full shingle-hash arrays. `maxBucket` caps template-flood
    * buckets on EACH side independently (a boilerplate page shared by
    * both corpora would otherwise emit |corpus bucket| × |ref bucket|
    * pairs from one key).
    *
    * Output: one row per corpus document — (id, n_ref_candidates,
    * max_ref_jaccard, is_dup_of_ref = max ≥ threshold).
    */
  def dedupAgainstStats(corpus: DataFrame, reference: DataFrame,
                        idCol: String, textCol: String,
                        n: Int = 5, numPerm: Int = 64, bands: Int = 16,
                        threshold: Double = 0.1,
                        maxBucket: Int = 10000, minBands: Int = 1)
      : DataFrame = {
    // EXACT-DUPLICATE COLLAPSE (r14), two-sided: both corpora group
    // by distinct shingle-hash array; candidates and verification
    // run group-to-group, and expansion is trivial here because the
    // per-corpus-doc stats don't depend on the CORPUS group's size —
    // every copy shares its group's (n_ref_candidates,
    // max_ref_jaccard), and candidate counts multiply by the REF
    // group's size only. The per-side bucket caps apply to the
    // summed doc counts, exactly the doc-level bucket sizes.
    // the corpus side materializes its hash frame (it feeds BOTH the
    // groupBy and the members projection); the reference side's hash
    // frame has exactly one consumer — checkpointing it would write
    // the pipeline's widest intermediate once for nothing
    def groupsOf(h: DataFrame): DataFrame =
      h.groupBy(xxhash64(col("shash")).as("chash"))
        .agg(count(lit(1)).as("gsize"), first(col("shash")).as("shash"))
        .transform(graft.Materialize.eager)
    val cH = shingleHashes(corpus, idCol, textCol, n)
      .transform(graft.Materialize.eager)
    val cMembers = cH.select(col("id"), xxhash64(col("shash")).as("chash"))
    val cGroups = groupsOf(cH)
    val rGroups = groupsOf(shingleHashes(reference, idCol, textCol, n))
    def bandRowsOf(g: DataFrame): DataFrame =
      bandRowsFromHashes(g.select(col("chash").as("id"), col("shash")),
        numPerm, bands)
        .join(g.select(col("chash").as("id"), col("gsize")), Seq("id"))
    val ca = bandRowsOf(cGroups).groupBy("band", "bhash")
      .agg(collect_set(col("id")).as("ca"), sum(col("gsize")).as("_ct"))
      .filter(col("_ct") <= maxBucket)
    val rb = bandRowsOf(rGroups).groupBy("band", "bhash")
      .agg(collect_set(col("id")).as("rb"), sum(col("gsize")).as("_rt"))
      .filter(col("_rt") <= maxBucket)
    val cand = ca.join(rb, Seq("band", "bhash"))
      .select(explode(col("ca")).as("ida"), col("rb"))
      .select(col("ida"), explode(col("rb")).as("idb"))
      .groupBy("ida", "idb").agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minBands)
      .select(col("ida"), col("idb"))
    val perGroup = pairJaccardTwo(
        cGroups.select(col("chash").as("id"), col("shash")),
        rGroups.select(col("chash").as("id"), col("shash")), cand)
      .join(rGroups.select(col("chash").as("idb"), col("gsize").as("rsize")),
        Seq("idb"))
      .groupBy(col("ida").as("chash")).agg(
        sum(col("rsize")).as("n_ref_candidates"),
        max(col("jaccard")).as("max_ref_jaccard"))
    corpus.select(col(idCol).as("id"))
      .join(cMembers.join(perGroup, Seq("chash")).drop("chash"),
        Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_ref_candidates"), lit(0L)).as("n_ref_candidates"),
        col("max_ref_jaccard"),
        (coalesce(col("max_ref_jaccard"), lit(0.0)) >= threshold)
          .as("is_dup_of_ref"))
  }

  /** End-to-end near-dup resolution: MinHash-LSH candidates, verified
    * at `threshold`, clustered, one canonical survivor per cluster.
    * Output: (id, canonical, is_dup) for every document.
    *
    * `minBands` is the matching-band pre-filter (see bucketPairs): at
    * a resolution threshold like 0.8 with r = numPerm/bands = 4 rows
    * per band, a true pair matches each band with prob 0.8^4 ≈ 0.41
    * (expected ~6.5 of 16 bands), so requiring ≥2 matching bands
    * drops ~99% of single-collision noise pairs from the exact-verify
    * join while missing a true threshold pair with prob < 0.3%.
    */
  /** NEAR-dup ROI — the bytes a keep-canonical-only pass would save,
    * from [[dedupResolve]] clusters: the fuzzy sibling of
    * [[dedupSavings]] (which prices exact duplicates only), and the
    * number that justifies running near-dup at all. Per cluster the
    * keeper is the canonical (the true doc-id minimum), so
    * bytes_saved = Σ bytes − canonical's bytes; all integer
    * aggregates over the cluster frame plus one IEEE division to
    * each rate — no pair or text shuffle beyond what resolution
    * already did. Output ONE row: (n_docs, n_clusters, n_dup,
    * bytes_total, bytes_saved, dup_rate, bytes_saved_rate).
    */
  def dedupClusterSavings(df: DataFrame, idCol: String, textCol: String,
                          n: Int = 5, numPerm: Int = 64, bands: Int = 16,
                          threshold: Double = 0.1,
                          maxBucket: Int = 10000,
                          minBands: Int = 1): DataFrame = {
    val clusters = dedupResolve(df, idCol, textCol, n = n,
      numPerm = numPerm, bands = bands, threshold = threshold,
      maxBucket = maxBucket, minBands = minBands)
    val sized = clusters.join(
      df.select(col(idCol),
        octet_length(col(textCol)).cast("long").as("_bytes")), Seq(idCol))
    sized.groupBy(col("canonical"))
      .agg(count(lit(1)).as("_n"), sum(col("_bytes")).as("_b"),
        sum(when(col(idCol) === col("canonical"), col("_bytes"))
          .otherwise(0L)).as("_keep"))
      .agg(sum(col("_n")).as("n_docs"),
        count(lit(1)).as("n_clusters"),
        sum(col("_n") - 1L).as("n_dup"),
        sum(col("_b")).as("bytes_total"),
        sum(col("_b") - col("_keep")).as("bytes_saved"))
      .select(col("n_docs"), col("n_clusters"), col("n_dup"),
        col("bytes_total"), col("bytes_saved"),
        when(col("n_docs") === 0L, lit(null).cast("double"))
          .otherwise(col("n_dup").cast("double") /
            col("n_docs").cast("double")).as("dup_rate"),
        when(col("bytes_total") === 0L, lit(null).cast("double"))
          .otherwise(col("bytes_saved").cast("double") /
            col("bytes_total").cast("double")).as("bytes_saved_rate"))
  }

  /** Candidate GROUP pairs of a (chash, gsize, shash) group frame:
    * per-group MinHash band rows, bucket collect with the summed-doc
    * flood cap, in-bucket pair explode, minBands qualification —
    * [[dedupResolve]]'s candidate generation, extracted (r22) so the
    * phase probe (tools.ResolveProbe) measures exactly the pipeline
    * the operator runs.
    */
  private[graft] def groupBandPairs(groups: DataFrame, numPerm: Int,
                                    bands: Int, maxBucket: Int,
                                    minBands: Int): DataFrame = {
    val gFrame = groups.select(col("chash").as("id"), col("shash"))
    val bandRows = bandRowsFromHashes(gFrame, numPerm, bands)
      .join(groups.select(col("chash").as("id"), col("gsize")), Seq("id"))
    bandRows.groupBy("band", "bhash")
      .agg(collect_set(struct(col("id"), col("gsize"))).as("gs"),
        sum(col("gsize")).as("_total"))
      .filter(col("_total") > 1 && col("_total") <= maxBucket)
      .select(explode(col("gs")).as("a"), col("gs"))
      .select(col("a"), explode(col("gs")).as("b"))
      .filter(col("a.id") < col("b.id") ||
        (col("a.id") === col("b.id") && col("a.gsize") >= 2))
      .groupBy(col("a.id").as("ida"), col("b.id").as("idb"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minBands)
  }

  def dedupResolve(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 5, numPerm: Int = 64, bands: Int = 16,
                   threshold: Double = 0.1,
                   maxBucket: Int = 10000, minBands: Int = 1,
                   saltBuckets: Int = 1): DataFrame = {
    // EXACT-DUPLICATE COLLAPSE (r14, the minhashLshStats design
    // carried into resolution): the near-dup GRAPH is built over
    // distinct contents — one node per shingle-hash-array group,
    // node id = the group's MIN doc id (unique across groups, so
    // cluster canonicals are true doc-id minima) — and membership
    // expands afterwards. Value-exact: a group whose kept-bucket
    // count passes minBands has ALL its copies pairwise connected
    // at Jaccard 1 at doc level (any kept bucket holds every copy),
    // so the group collapses to one node; a group that keeps no
    // qualifying bucket has NO doc-level edges at all (cross-pair
    // band hits are bounded by its own kept-bucket count), so its
    // members resolve as singletons. Without the collapse the edge
    // set is quadratic in the duplication factor below the flood
    // cap — the sf10 probe's 100x-duplicated corpus spilled 291 GB
    // and died here.
    val docsH = shingleHashes(df, idCol, textCol, n)
      .transform(graft.Materialize.eager)
    val members = docsH.select(col("id"), xxhash64(col("shash")).as("chash"))
    // r22 NOTE (measured, then reverted): the group collapse and the
    // per-group MinHash signatures run on the checkpoint's stored
    // partitioning — 1-4 partitions at test SF (single-row-group
    // scans + AQE-coalesced aggregates), so a scale-adaptive
    // repartition-to-parallelism (identity on frames already at >=
    // default-parallelism partitions, i.e. any real cluster) was
    // tried on both seams to spread the CPU over the machine. Both
    // variants measured SLOWER (dedup_clusters 2.3 -> 3.0 s,
    // data_split_audit 3.4 -> 4.2 s): the repartition moves the full
    // shingle-hash arrays an extra time, and that serialization
    // outweighs the kernel parallelism at this SF. At cluster scale
    // the frames carry many partitions natively, so there is nothing
    // to fix there either.
    val groups = docsH
      .groupBy(xxhash64(col("shash")).as("chash"))
      .agg(count(lit(1)).as("gsize"), min(col("id")).as("gmin"),
        first(col("shash")).as("shash"))
      .transform(graft.Materialize.eager)
    val gFrame = groups.select(col("chash").as("id"), col("shash"))
    val gpairs = groupBandPairs(groups, numPerm, bands, maxBucket, minBands)
      .transform(graft.Materialize.eager)
    val intra = gpairs.filter(col("ida") === col("idb"))
      .select(col("ida").as("chash")).withColumn("_intra", lit(true))
    val near = pairJaccardTwo(gFrame, gFrame,
        gpairs.filter(col("ida") =!= col("idb")).select("ida", "idb"))
      .filter(col("jaccard") >= threshold)
    // _scored: defensive twin of minhashLshStats's withinScored —
    // an EMPTY hash array's within-pairs would verify to NULL
    // Jaccard (0/0) and fail the threshold, so such copies must
    // resolve as singletons. The bundled shingler never emits an
    // empty array; this pins the contract for custom hash frames.
    val gm = groups.select(col("chash"), col("gmin"), col("gsize"),
      (size(col("shash")) > 0).as("_scored"))
    val gEdges = near
      .join(gm.select(col("chash").as("ida"), col("gmin").as("ga")),
        Seq("ida"))
      .join(gm.select(col("chash").as("idb"), col("gmin").as("gb")),
        Seq("idb"))
      .select(col("ga").as("ida"), col("gb").as("idb"))
    val resolved = resolveClusters(
      groups.select(col("gmin").as("id")), gEdges,
      saltBuckets = saltBuckets)
    members
      .join(gm, Seq("chash"))
      .join(intra, Seq("chash"), "left")
      .join(resolved.select(col("id").as("gmin"), col("canonical").as("_gc")),
        Seq("gmin"), "left")
      .select(col("id").as(idCol),
        when(col("gsize") === 1L || (col("_intra") && col("_scored")),
          coalesce(col("_gc"), col("gmin")))
          .otherwise(col("id")).as("canonical"))
      .withColumn("is_dup", col(idCol) =!= col("canonical"))
  }

  /** [[dedupResolve]] with a per-cluster CAP instead of keep-one:
    * every document gets its cluster's canonical id, a deterministic
    * rank within the cluster (id asc — the canonical is always rank
    * 1, since it is the cluster minimum), and a `kept` verdict
    * `cluster_rank ≤ maxPerCluster`. The policy real pipelines
    * apply when limited duplication is wanted (near-dups carry
    * signal; unbounded floods don't): cap, don't erase. Cost over
    * resolve is one window on the cluster key — cluster-sized
    * partitions, no new corpus shuffle.
    *
    * This self-contained form re-runs the full resolve (candidate
    * generation + iterative propagation). A real pipeline should
    * materialize [[dedupResolve]]'s output ONCE and hand it to the
    * pre-resolved overload below — the cluster map and the cap are
    * then two cheap reads of one resolution instead of two full
    * propagations (they were the two heaviest entries of the bench
    * board when run independently).
    */
  def dedupClusterCap(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, maxPerCluster: Int,
                      maxBucket: Int = 10000,
                      minBands: Int = 1): DataFrame =
    dedupClusterCap(
      dedupResolve(df, idCol, textCol, threshold = threshold,
        maxBucket = maxBucket, minBands = minBands),
      idCol, maxPerCluster)

  /** The cap window over an ALREADY-RESOLVED cluster frame
    * ([[dedupResolve]] output: one row per document with its
    * `canonical` cluster id). Use this overload when the resolution
    * is materialized and shared — it adds exactly one window on the
    * cluster key and nothing else.
    */
  def dedupClusterCap(resolved: DataFrame, idCol: String,
                      maxPerCluster: Int): DataFrame = {
    require(maxPerCluster >= 1, "maxPerCluster must be positive")
    val w = Window.partitionBy(col("canonical")).orderBy(col(idCol).asc)
    resolved.withColumn("cluster_rank", row_number().over(w))
      .withColumn("kept", col("cluster_rank") <= maxPerCluster)
  }

  /** Incremental [[dedupResolve]] — near-dup CLUSTER maintenance
    * across micro-batches on an INSERT-ONLY corpus, the resolution
    * counterpart of the incremental stats family.
    *
    * The design hinges on one fact: with a LABELS table as state, a
    * new edge merges clusters at the LABEL level, so historic edges
    * never need storing. Per batch: only the batch is shingled; its
    * candidate mates come from the touched buckets' full membership
    * (append-only, two old docs' shared-bucket count never changes,
    * so every old-old pair was already processed when its second
    * endpoint arrived — only batch-involving pairs are new, and
    * their `minBands` collision count over CURRENT buckets is
    * complete); verified edges project through the labels table to
    * distinct (canonicalA, canonicalB) CLUSTER pairs — a graph
    * bounded by the batch's touched clusters, not the corpus — and
    * [[resolveClusters]] over that tiny graph yields the relabel
    * map. Only rows of merged clusters rewrite (broadcast remap
    * join, keyed merge); the labels table at `goldPath` IS the
    * output: (id, canonical), `is_dup = id != canonical` derived on
    * read.
    *
    * GROUP-KEYED (r15, the family's exact-duplicate collapse): state
    * is (id, chash) membership + (chash, shash) representatives +
    * per-group band rows (the minhash member's layout — a pre-r15
    * doc-level state dir fails fast); candidate pairs and Jaccard
    * verifications run once per DISTINCT content pair, and the
    * doc-level edge set is replaced by a connectivity-equivalent
    * star per touched group plus one anchor edge per verified group
    * pair — edge cost linear in members, quadratic only in distinct
    * contents (buckets are group-closed, so the components — and
    * hence the min-label canonicals — are identical).
    *
    * Equality with the batch recompute: canonical = component
    * minimum propagates through label-level unions exactly (min is
    * associative across merge order). Two documented
    * time-of-arrival deviations, both inherent to incrementality:
    * a bucket crossing `maxBucket` stops generating NEW pairs but
    * cannot retract edges already verified (the batch recompute
    * drops the whole bucket), and with `minBands > 1` collision
    * counts are as-of each pair's first evaluation. Under buckets
    * that stay below the cap — the operating regime the cap is FOR
    * — gold equals [[dedupResolve]] exactly (spec-proven).
    *
    * Insert-only by contract: a DELETE can split a cluster, which
    * no label-level operation can express — that is a rebuild
    * (re-run [[dedupResolve]]), not an increment. Replay-safe: a
    * redelivered batch re-inits its docs' self-labels only when its
    * `batchOrd` is not older than the stored row (the merge-order
    * guard), then re-derives the same merges from current state.
    * NULL-text docs are excluded (family rule).
    */
  def dedupResolveIncremental(spark: SparkSession, batch: DataFrame,
                              idCol: String, textCol: String,
                              stateDir: String, goldPath: String,
                              batchOrd: Long,
                              n: Int = 5, numPerm: Int = 64,
                              bands: Int = 16, threshold: Double = 0.1,
                              maxBucket: Int = 10000, minBands: Int = 1,
                              fmt: graft.pipeline.TableFormat =
                                graft.pipeline.SnapshotTableFormat): Unit = {
    require(numPerm % bands == 0, "numPerm must divide evenly into bands")
    val docsPath = s"$stateDir/docs"     // membership (id, chash)
    val groupsPath = s"$stateDir/groups" // (chash, shash) representatives
    val bandsPath = s"$stateDir/bands"   // (chash, band, bhash)
    requireGroupKeyedState(spark, docsPath, fmt, legacyCol = "shash")
    val batchAll = graft.Materialize.eager(
      oneRowPerId(batch.select(col(idCol).as("id"), col(textCol).as("text")),
        "id", Seq("text")))
    val batchDocs = batchAll.filter(col("text").isNotNull)
    if (batchDocs.isEmpty) return
    val batchH = graft.Materialize.eager(
      shingleHashes(batchDocs, "id", "text", n)
        .withColumn("chash", xxhash64(col("shash"))))
    mergeMinhashGroupState(spark, Some(batchH), docsPath, groupsPath,
      bandsPath, batchOrd, numPerm, bands, fmt)
    // self-labels for the batch BEFORE edge projection, ord-guarded:
    // a replayed old batch cannot regress a label a later batch set
    fmt.scd1Merge(spark, goldPath,
      batchDocs.select(col("id"), col("id").as("canonical"),
        lit(batchOrd).as("_ord")),
      Seq("id"), "_ord", compareExclude = Nil)

    val members = fmt.read(spark, docsPath).select(col("id"), col("chash"))
    val groupsT = fmt.read(spark, groupsPath).select(col("chash"), col("shash"))
    val bandsT = fmt.read(spark, bandsPath)
      .select(col("chash"), col("band"), col("bhash"))
    // EXACT-DUPLICATE COLLAPSE (r15): candidate generation and
    // verification run per DISTINCT content — one Jaccard per group
    // pair — and the doc-level edge set is replaced by a STAR per
    // touched group (anchor = group min member) plus one anchor edge
    // per verified group pair. Connectivity — all min-label
    // propagation needs — is identical to the doc-level pair set
    // (buckets are group-closed: a cross pair in a qualifying bucket
    // connects every member of both groups at this fold; a batch doc
    // landing in a kept group connects all its members at Jaccard 1),
    // so gold still equals the batch resolve under below-cap buckets,
    // while edge/verify cost is linear in members + quadratic only in
    // distinct contents. Arrival-time cap semantics unchanged (the
    // documented incremental deviation): qualification is the summed
    // doc count of the bucket NOW.
    val batchBuckets = bandRowsFromHashes(
        batchH.select(col("chash").as("id"), col("shash")).distinct(),
        numPerm, bands)
      .select(col("band"), col("bhash")).distinct()
    val nbrBands = graft.Materialize.eager(
      bandsT.join(batchBuckets, Seq("band", "bhash"), "left_semi"))
    val gsizes = graft.Materialize.eager(
      members.join(nbrBands.select(col("chash")).distinct(),
          Seq("chash"), "left_semi")
        .groupBy(col("chash")).agg(count(lit(1)).as("gsize")))
    val qb = nbrBands.join(gsizes, Seq("chash"))
      .groupBy(col("band"), col("bhash"))
      .agg(sum(col("gsize")).as("_sz"))
      .filter(col("_sz") >= 2 && col("_sz") <= maxBucket)
      .select(col("band"), col("bhash"))
    val batchGroups = batchH.select(col("chash")).distinct()
    val aSide = nbrBands.join(batchGroups, Seq("chash"), "left_semi")
      .join(qb, Seq("band", "bhash"), "left_semi")
      .select(col("band"), col("bhash"), col("chash").as("ga"))
    val mSide = nbrBands.join(qb, Seq("band", "bhash"), "left_semi")
      .select(col("band"), col("bhash"), col("chash").as("gb"))
    val gpairs = aSide.join(mSide, Seq("band", "bhash"))
      .filter(col("ga") =!= col("gb"))
      .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("_nh"))
      .filter(col("_nh") >= minBands)
      // batch-batch group pairs arrive in both directions — normalize
      .select(least(col("ga"), col("gb")).as("ida"),
        greatest(col("ga"), col("gb")).as("idb"))
      .distinct()
    val gFrame = groupsT.select(col("chash").as("id"), col("shash"))
    val gedges = graft.Materialize.eager(
      pairJaccardTwo(gFrame, gFrame, gpairs)
        .filter(col("jaccard") >= threshold)
        .select(col("ida"), col("idb")))
    // within-group merges: a batch group with ≥ minBands qualifying
    // own buckets and ≥ 2 members — its members are pairwise mates
    // at exactly Jaccard 1 in the doc-level formulation (empty hash
    // arrays score 0/0 = null there, so they never self-merge)
    val selfGroups =
      if (1.0 >= threshold)
        nbrBands.join(batchGroups, Seq("chash"), "left_semi")
          .join(qb, Seq("band", "bhash"), "left_semi")
          .groupBy(col("chash")).agg(count(lit(1)).as("_nq"))
          .filter(col("_nq") >= minBands)
          .join(gsizes, Seq("chash")).filter(col("gsize") >= 2)
          .join(groupsT.filter(size(col("shash")) > 0)
            .select(col("chash")), Seq("chash"), "left_semi")
          .select(col("chash"))
      else batchGroups.limit(0).select(col("chash"))
    val touchedGroups = gedges.select(col("ida").as("chash"))
      .unionByName(gedges.select(col("idb").as("chash")))
      .unionByName(selfGroups).distinct()
    val anchors = graft.Materialize.eager(
      members.join(touchedGroups, Seq("chash"), "left_semi")
        .groupBy(col("chash")).agg(min(col("id")).as("_anchor")))
    val starEdges = members.join(anchors, Seq("chash"))
      .filter(col("id") =!= col("_anchor"))
      .select(col("_anchor").as("ida"), col("id").as("idb"))
    val anchorEdges = gedges
      .join(anchors.select(col("chash").as("ida"), col("_anchor").as("_aa")),
        Seq("ida"))
      .join(anchors.select(col("chash").as("idb"), col("_anchor").as("_ab")),
        Seq("idb"))
      .select(col("_aa").as("ida"), col("_ab").as("idb"))
    val edges = graft.Materialize.eager(
      starEdges.unionByName(anchorEdges))
    if (edges.isEmpty) return

    // project edges to CLUSTER pairs through current labels; the
    // resulting graph is touched-clusters-sized
    val labels = fmt.read(spark, goldPath)
    val lp = graft.Materialize.eager(
      edges
        .join(labels.select(col("id").as("ida"),
          col("canonical").as("_ca")), Seq("ida"))
        .join(labels.select(col("id").as("idb"),
          col("canonical").as("_cb")), Seq("idb"))
        .filter(col("_ca") =!= col("_cb"))
        .select(col("_ca").as("ida"), col("_cb").as("idb")).distinct())
    if (lp.isEmpty) return
    val touchedCans = lp.select(col("ida").as("id"))
      .unionByName(lp.select(col("idb").as("id"))).distinct()
    val remap = graft.Materialize.eager(
      resolveClusters(touchedCans, lp)
        .filter(col("id") =!= col("canonical"))
        .select(col("id").as("_oldCan"), col("canonical").as("_newCan")))
    // rewrite ONLY merged clusters' rows (broadcast remap, keyed merge)
    val updated = labels
      .join(broadcast(remap), col("canonical") === col("_oldCan"))
      .select(col("id"), col("_newCan").as("canonical"),
        lit(batchOrd).as("_ord"))
    if (!updated.isEmpty)
      fmt.scd1Merge(spark, goldPath, updated, Seq("id"), "_ord",
        compareExclude = Nil)
    ()
  }

  /** #30 SimHash near-dup: 64-bit SimHash (custom codegen'd Catalyst
    * expression) bucketed on its four 16-bit chunks — by pigeonhole,
    * any pair within Hamming distance 3 shares a chunk; candidates
    * are verified with bit_count(xor).
    *
    * `maxBucket` caps degenerate chunk buckets, the same flood guard
    * every other bucketed candidate generator here carries: a corpus
    * with a hot 16-bit chunk value (mass-duplicated boilerplate —
    * identical docs share ALL four chunks) would otherwise emit m²/2
    * in-bucket pairs from one key. Over-cap buckets are dropped from
    * candidate generation only (their docs still get a stats row,
    * reporting no candidates — a recall trade, not a crash); the
    * chunk-id space is 4 × 2¹⁶ so the flood set is a broadcast
    * anti-join, no extra shuffle of the chunk rows.
    */
  def simhashStats(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 8, maxBucket: Int = 10000): DataFrame = {
    // materialize once: `chunks` self-joins below and `hashed` is read
    // again for the final left join — without the checkpoint the scan
    // and the SimHash64 kernel would evaluate three times
    val hashed = df.select(col(idCol).as("id"),
      HashFunctions.simhash64(split(col(textCol), " ")).as("simhash"))
      .transform(graft.Materialize.eager)
    hammingNearDupFromHashes(hashed, idCol, maxHamming, maxBucket)
  }

  /** The 64-bit-Hamming near-dup machinery [[simhashStats]] runs
    * over its text SimHashes, extracted (r20) so any OTHER 64-bit
    * perceptual signature — the multimodal dHash family — pairs
    * through the identical chunk-bucket/flood-cap/exact-collapse
    * pipeline instead of reimplementing it. `hashed` is an already-
    * MATERIALIZED (id, simhash) frame (callers own the Materialize
    * seam because they own how the hash is produced); output is one
    * row per input row: (idCol, simhash, n_candidates, n_near,
    * min_hamming).
    */
  private[graft] def hammingNearDupFromHashes(
      hashed: DataFrame, idCol: String,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    // EXACT-DUPLICATE COLLAPSE (r14, the minhashLshStats design):
    // the verification metric (bit_count of the XOR) depends ONLY on
    // the two simhash values, so all bucket/pair work runs per
    // DISTINCT simhash with a group size, and per-doc stats expand
    // afterwards. Buckets are group-closed (equal hashes share all
    // four chunks), the flood cap applies to the SUMMED doc count,
    // within-group doc pairs all sit at Hamming 0 — value-exact,
    // spec-pinned against the doc-level reference. The sf10 probe's
    // 100x-duplicated corpus killed the doc-level form (every chunk
    // bucket 100x-degenerate under the cap); collapsed, pair cost is
    // quadratic in distinct hashes only.
    val groups = hashed.groupBy(col("simhash"))
      .agg(count(lit(1)).as("gsize"))
      .transform(graft.Materialize.eager)
    val allChunks = simhashChunkRows(
        groups.select(col("simhash").as("id"), col("simhash")))
      .join(groups.select(col("simhash"), col("gsize")), Seq("simhash"))
    // the flood set is DRIVER-COLLECTED with a STRUCTURAL bound, not
    // an assumed one: cval is a 16-bit slice, so each chunk's flood
    // set holds at most 2¹⁶ values and the whole collect at most
    // 4·65536 = 262144 (chunk, cval) rows — ≈4 MB of driver memory /
    // task-serialized InSet payload at the adversarial worst case
    // (EVERY bucket over cap), independent of corpus size. A
    // duplicate-heavy corpus saturates, never exceeds, that space.
    // The sanity require pins the invariant the comment relies on.
    // Embedded as literals the set serves BOTH the candidate
    // exclusion (a map-side filter replacing the anti-join) and the
    // first-chunk pair dedup below.
    val floodSets: Array[Set[Long]] =
      if (maxBucket == Int.MaxValue) Array.fill(4)(Set.empty[Long])
      else {
        val f = allChunks.groupBy("chunk", "cval")
          .agg(sum(col("gsize")).as("_n"))
          .filter(col("_n") > maxBucket).select("chunk", "cval").collect()
        require(f.length <= 4 * 65536,
          s"simhash flood set ${f.length} exceeds the 16-bit chunk-value " +
            "space — cval is no longer a 16-bit slice")
        Array.tabulate(4)(c =>
          f.filter(_.getInt(0) == c).map(_.getLong(1)).toSet)
      }
    def inFlood(chunkNo: Column, v: Column): Column =
      (0 until 4).map { c =>
        if (floodSets(c).isEmpty) lit(false)
        else chunkNo === c && v.isInCollection(floodSets(c))
      }.reduce(_ || _)
    val chunks = allChunks.filter(!inFlood(col("chunk"), col("cval")))
    // pair dedup is MAP-SIDE, not an exchange: a pair colliding in
    // several chunks must count once, and "is this the pair's FIRST
    // surviving colliding chunk?" is decidable from the two simhashes
    // plus the literal flood sets — an earlier chunk collides iff its
    // 16-bit XOR slice is zero, and an earlier COLLIDING bucket holds
    // both members (size ≥ 2), so it can only have been dropped by
    // the flood cap, which the filter consults. The old
    // distinct-on-(ida, idb) formulation was the bench's ONLY
    // spilling exchange on the duplicate-heavy 10x corpus (every
    // duplicate family's pairs arrived 4x into one hash aggregate);
    // this filter drops the 3/4 multiplicity before anything
    // shuffles and removes the aggregation entirely.
    val xorH = col("a.simhash").bitwiseXOR(col("b.simhash"))
    def xorChunk(c: Int): Column =
      shiftrightunsigned(xorH, c * 16).bitwiseAND(lit(0xffffL))
    def aChunk(c: Int): Column =
      shiftrightunsigned(col("a.simhash"), c * 16).bitwiseAND(lit(0xffffL))
    def earlierOk(c: Int): Column =
      xorChunk(c) =!= 0L ||
        (if (floodSets(c).isEmpty) lit(false)
         else aChunk(c).isInCollection(floodSets(c)))
    val firstChunk = (0 until 4).map { c =>
      col("a.chunk") === c &&
        (0 until c).map(earlierOk).foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    val cand = chunks.as("a").join(chunks.as("b"),
      col("a.chunk") === col("b.chunk") && col("a.cval") === col("b.cval") &&
        col("a.id") < col("b.id"))
      .filter(firstChunk)
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .transform(graft.Materialize.eager) // mirrored below: avoid double evaluation
    // expansion: cross-group doc pairs multiply by the OTHER group's
    // size; within-group pairs ((gsize-1) per doc, Hamming 0) exist
    // iff the group kept at least one unflooded chunk bucket —
    // exactly when the doc-level formulation would have paired them
    val both = cand.select(col("ida").as("simhash"),
        col("idb").as("other"), col("hamming"))
      .unionByName(cand.select(col("idb").as("simhash"),
        col("ida").as("other"), col("hamming")))
    val crossAgg = both
      .join(groups.select(col("simhash").as("other"),
        col("gsize").as("osize")), Seq("other"))
      .groupBy("simhash").agg(
        sum(col("osize")).as("_cross_cand"),
        sum(when(col("hamming") <= maxHamming, col("osize")).otherwise(0L))
          .as("_cross_near"),
        min(col("hamming")).as("_cross_min"))
    val keptGroups = chunks.select(col("id").as("simhash")).distinct()
      .withColumn("_kept", lit(true))
    val withinPairs = col("_kept") && col("gsize") >= 2L
    val gstats = groups
      .join(keptGroups, Seq("simhash"), "left")
      .join(crossAgg, Seq("simhash"), "left")
      .select(col("simhash"),
        (when(withinPairs, col("gsize") - 1L).otherwise(0L) +
          coalesce(col("_cross_cand"), lit(0L))).as("n_candidates"),
        (when(withinPairs && lit(0 <= maxHamming), col("gsize") - 1L)
          .otherwise(0L) +
          coalesce(col("_cross_near"), lit(0L))).as("n_near"),
        // least skips nulls: 0 for a duplicated group with a kept
        // bucket, else the best cross Hamming, null if no pairs
        least(when(withinPairs, lit(0)), col("_cross_min"))
          .as("min_hamming"))
    hashed.join(gstats, Seq("simhash"), "left")
      .select(col("id").as(idCol), col("simhash"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("min_hamming"))
  }

  /** KEY-SCOPED [[hammingNearDupFromHashes]] (r22): one invocation
    * over a frame carrying a STRING scope key (`keyCol`, e.g.
    * media_type), value-identical per key to running the unkeyed
    * machinery on each key's slice and unioning — pairs form only
    * within a key, groups/buckets/flood caps are keyed, and the
    * first-chunk map-side pair dedup consults the key's own flood
    * sets. multimodal_near_dedup previously ran THREE unkeyed
    * invocations (3× eager group materializations + 3 flood-set
    * collects + 3 candidate checkpoints = 9 sequential driver-
    * synchronized jobs overlapped by inParallel, still 3 passes over
    * the hash frame and the round's most unstable entry); this is
    * ONE chain of 3 jobs and one pass. Equivalence is spec-pinned
    * (KeyedHammingSpec: keyed == per-key union on adversarial
    * fixtures — shared hashes across keys, flooded buckets in one
    * key only) and the query stays oracle-green.
    *
    * Driver bound for the flood collect: each key contributes at
    * most 4·2¹⁶ (chunk, cval) rows (the 16-bit slice space), and a
    * key needs > maxBucket member docs to flood ANY bucket, so the
    * collect is ≤ 4·65536 · min(|keys|, corpus/maxBucket) rows —
    * the unkeyed operator's structural bound times the number of
    * flood-capable keys, never corpus-sized.
    *
    * A NULL key scopes nothing: every join on the key is null-unsafe
    * equality, so a null-keyed row never pairs — not with another
    * null-keyed row, not even with an identical hash — and is
    * reported with `n_candidates = 0`, `n_near = 0` and a null
    * `min_hamming`. No check enforces non-null keys (it would cost a
    * job); a caller that wants such rows compared gives them a key.
    */
  private[graft] def hammingNearDupFromHashesKeyed(
      hashed: DataFrame, idCol: String, keyCol: String,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    val groups = hashed.groupBy(col(keyCol).as("_key"), col("simhash"))
      .agg(count(lit(1)).as("gsize"))
      .transform(graft.Materialize.eager)
    val chunkCols = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("simhash"), c * 16)
          .bitwiseAND(lit(0xffffL)).as("cval"))
    }
    // _outer: a 4-element CreateArray is never null/empty (the
    // simhashChunkRows reasoning, inlined to carry the key column)
    val allChunks = groups
      .select(col("_key"), col("simhash"), col("gsize"),
        explode_outer(array(chunkCols: _*)).as("cc"))
      .select(col("_key"), col("simhash"), col("gsize"),
        col("cc.chunk").as("chunk"), col("cc.cval").as("cval"))
    // keyed flood sets: (key, chunk) -> over-cap cval set, embedded
    // as literals exactly like the unkeyed operator (serves both the
    // candidate exclusion and the first-chunk pair dedup)
    val floodSets: Map[(String, Int), Set[Long]] =
      if (maxBucket == Int.MaxValue) Map.empty
      else {
        val f = allChunks.groupBy("_key", "chunk", "cval")
          .agg(sum(col("gsize")).as("_n"))
          .filter(col("_n") > maxBucket)
          .select("_key", "chunk", "cval").collect()
        require(f.length <= 4 * 65536 * 64,
          s"keyed simhash flood set ${f.length} exceeds the bound — " +
            "either cval is no longer a 16-bit slice or the key " +
            "cardinality of flood-capable keys exploded; lower the " +
            "key grain or raise maxBucket")
        f.groupBy(r => (r.getString(0), r.getInt(1)))
          .map { case (k, rows) => k -> rows.map(_.getLong(2)).toSet }
      }
    def inFlood(keyC: Column, chunkNo: Column, v: Column): Column =
      if (floodSets.isEmpty) lit(false)
      else floodSets.map { case ((k, c), s) =>
        keyC === lit(k) && chunkNo === c && v.isInCollection(s)
      }.reduce(_ || _)
    val chunks = allChunks
      .filter(!inFlood(col("_key"), col("chunk"), col("cval")))
    val xorH = col("a.simhash").bitwiseXOR(col("b.simhash"))
    def xorChunk(c: Int): Column =
      shiftrightunsigned(xorH, c * 16).bitwiseAND(lit(0xffffL))
    def aChunk(c: Int): Column =
      shiftrightunsigned(col("a.simhash"), c * 16).bitwiseAND(lit(0xffffL))
    // an earlier chunk cannot have paired (a, b) iff its XOR slice is
    // nonzero (no collision) or ITS OWN KEY's bucket was flood-capped
    def earlierOk(c: Int): Column = {
      val keyFloods = floodSets.collect { case ((k, `c`), s) =>
        col("a._key") === lit(k) && aChunk(c).isInCollection(s) }
      keyFloods.foldLeft(xorChunk(c) =!= 0L)(_ || _)
    }
    val firstChunk = (0 until 4).map { c =>
      col("a.chunk") === c &&
        (0 until c).map(earlierOk).foldLeft(lit(true))(_ && _)
    }.reduce(_ || _)
    val cand = chunks.as("a").join(chunks.as("b"),
      col("a._key") === col("b._key") &&
        col("a.chunk") === col("b.chunk") &&
        col("a.cval") === col("b.cval") &&
        col("a.simhash") < col("b.simhash"))
      .filter(firstChunk)
      .select(col("a._key").as("_key"),
        col("a.simhash").as("ida"), col("b.simhash").as("idb"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .transform(graft.Materialize.eager) // the union mirror reads it twice
    val both = cand.select(col("_key"), col("ida").as("simhash"),
        col("idb").as("other"), col("hamming"))
      .unionByName(cand.select(col("_key"), col("idb").as("simhash"),
        col("ida").as("other"), col("hamming")))
    val crossAgg = both
      .join(groups.select(col("_key"), col("simhash").as("other"),
        col("gsize").as("osize")), Seq("_key", "other"))
      .groupBy("_key", "simhash").agg(
        sum(col("osize")).as("_cross_cand"),
        sum(when(col("hamming") <= maxHamming, col("osize")).otherwise(0L))
          .as("_cross_near"),
        min(col("hamming")).as("_cross_min"))
    val keptGroups = chunks.select(col("_key"), col("simhash")).distinct()
      .withColumn("_kept", lit(true))
    val withinPairs = col("_kept") && col("gsize") >= 2L
    val gstats = groups
      .join(keptGroups, Seq("_key", "simhash"), "left")
      .join(crossAgg, Seq("_key", "simhash"), "left")
      .select(col("_key"), col("simhash"),
        (when(withinPairs, col("gsize") - 1L).otherwise(0L) +
          coalesce(col("_cross_cand"), lit(0L))).as("n_candidates"),
        (when(withinPairs && lit(0 <= maxHamming), col("gsize") - 1L)
          .otherwise(0L) +
          coalesce(col("_cross_near"), lit(0L))).as("n_near"),
        least(when(withinPairs, lit(0)), col("_cross_min"))
          .as("min_hamming"))
    hashed.join(gstats.withColumnRenamed("_key", keyCol),
        Seq(keyCol, "simhash"), "left")
      .select(col("id").as(idCol), col(keyCol), col("simhash"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("min_hamming"))
  }

  /** The 16-bit chunk rows of a (id, simhash) frame — the SimHash
    * bucket projection shared by [[simhashStats]] and the
    * incremental member (both sides MUST bucket identically or the
    * incremental state diverges from the batch truth): pure column
    * arithmetic, derivable from the single state table at any time
    * with no extra storage.
    */
  private def simhashChunkRows(hashed: DataFrame): DataFrame = {
    val chunkCols = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftrightunsigned(col("simhash"), c * 16)
          .bitwiseAND(lit(0xffffL)).as("cval"))
    }
    hashed
      // _outer: a 4-element CreateArray is never null/empty — same
      // inferred-filter reasoning as the band rows
      .select(col("id"), col("simhash"),
        explode_outer(array(chunkCols: _*)).as("cc"))
      .select(col("id"), col("simhash"), col("cc.chunk").as("chunk"),
        col("cc.cval").as("cval"))
  }

  /** Incremental [[simhashStats]] — the SIMHASH member of the
    * incremental-dedup family, completing the five-member set next
    * to [[exactDedupIncremental]], [[minhashLshStatsIncremental]],
    * [[embeddingStatsLshIncremental]], and
    * [[TextAnalysis.segmentDedupIncremental]] (same keyed-state +
    * XOR-signature-vs-current-state design; same maxHamming /
    * maxBucket across calls).
    *
    * The simplest near-dup member: state is ONE merge table —
    * (id, simhash) keyed on id, delete-then-merge per batch — because
    * the chunk bucket rows derive from it by pure projection
    * ([[simhashChunkRows]]), and the simhash doubles as the content
    * fingerprint (an update changes it, which changes the member
    * hash in every bucket the group occupies — mates re-verify with
    * no separate chash column). Every DERIVED structure is
    * exact-duplicate-COLLAPSED (r15, the batch operator's r14
    * design): chunk rows, bucket totals, signatures, and verify
    * pairs are per DISTINCT simhash with a group size, so the
    * per-fold pair/signature cost scales with distinct hashes, not
    * docs — the duplication-factor quadratic the sf10 probe killed
    * on the batch side cannot recur here. Qualifying buckets are
    * 2 ≤ Σgsize ≤ `maxBucket` (the batch operator's flood cap
    * applied to the summed DOC count: over-cap buckets leave
    * candidate generation, their members keep empty-stats rows); a
    * bucket crossing the cap — or a group's size changing, which
    * folds into every bucket signature — re-verifies exactly the
    * groups whose stats can move. Gold: (id, simhash,
    * n_candidates, n_near, min_hamming, _ord, _bucket_sig) — the
    * batch stats columns. NULL-text docs are excluded from state and
    * gold (documented family deviation; the batch operator reports
    * them with empty stats), and an update TO null retracts like a
    * delete. `fullResync` reconciles state-minus-snapshot
    * ([[combinedDeletes]]); `appendOnly` declares an insert-only
    * corpus and re-verifies only the two-hop neighborhood of buckets
    * the batch touched — no retraction deletes, no gold read, no
    * full-state signature aggregation (contract as the family: a
    * delete feed under the flag throws, a resync window runs the
    * general path).
    */
  def simhashStatsIncremental(spark: SparkSession, batch: DataFrame,
                              idCol: String, textCol: String,
                              statePath: String, goldPath: String,
                              batchOrd: Long,
                              maxHamming: Int = 8, maxBucket: Int = 10000,
                              deletes: Option[DataFrame] = None,
                              fullResync: Boolean = false,
                              appendOnly: Boolean = false,
                              fmt: graft.pipeline.TableFormat =
                                graft.pipeline.SnapshotTableFormat): Unit =
    hammingStatsIncrementalImpl(spark,
      batch.select(col(idCol).as("id"), col(textCol).as("text")),
      df => df.select(col("id"),
        HashFunctions.simhash64(split(col("text"), " ")).as("simhash")),
      idCol, statePath, goldPath, batchOrd, maxHamming, maxBucket,
      deletes, fullResync, appendOnly, fmt)

  /** Incremental 64-bit-Hamming near-dup over PERCEPTUAL hashes —
    * the 18th member of the incremental family and the streaming
    * sibling of `multimodal_near_dedup`: state is (id, signature)
    * where the signature is [[graft.multimodal.Multimodal
    * .perceptualHash64]]'s dHash/aHash for decodable images and the
    * MD5-prefix degradation otherwise; pairing/verify/affected-set
    * maintenance is [[simhashStatsIncremental]]'s machinery verbatim
    * (shared impl — the two members CANNOT drift). Expects a
    * SINGLE-ASSET-TYPE feed (one control-table row per media type,
    * each with its own state dir — the fleet pattern; cross-type
    * pairs are coincidence, not duplication, per the
    * multimodal_dedup scoping rule). Gold schema matches the simhash
    * member's: the `simhash` column carries the 64-bit signature.
    */
  def phashStatsIncremental(spark: SparkSession, batch: DataFrame,
                            idCol: String, payloadCol: String,
                            statePath: String, goldPath: String,
                            batchOrd: Long, method: String = "dhash",
                            maxHamming: Int = 8, maxBucket: Int = 10000,
                            deletes: Option[DataFrame] = None,
                            fullResync: Boolean = false,
                            appendOnly: Boolean = false,
                            fmt: graft.pipeline.TableFormat =
                              graft.pipeline.SnapshotTableFormat): Unit =
    hammingStatsIncrementalImpl(spark,
      batch.select(col(idCol).as("id"),
        col(payloadCol).cast("binary").as("text")),
      df => graft.multimodal.Multimodal.perceptualHash64(
        df, "id", "text", method).withColumnRenamed("phash", "simhash"),
      idCol, statePath, goldPath, batchOrd, maxHamming, maxBucket,
      deletes, fullResync, appendOnly, fmt)

  /** The shared fold behind [[simhashStatsIncremental]] and
    * [[phashStatsIncremental]]: `batchAll0` is the (id, text) change
    * batch where `text` is the hashable content in ANY type (string
    * tokens, binary payload — null means retraction), and
    * `hashBatch` maps a non-null (id, text) frame to (id, simhash).
    * Everything below the hash is signature-generic.
    */
  private def hammingStatsIncrementalImpl(
      spark: SparkSession, batchAll0: DataFrame,
      hashBatch: DataFrame => DataFrame, idCol: String,
      statePath: String, goldPath: String, batchOrd: Long,
      maxHamming: Int, maxBucket: Int,
      deletes: Option[DataFrame], fullResync: Boolean,
      appendOnly: Boolean, fmt: graft.pipeline.TableFormat): Unit = {
    require(!(appendOnly && deletes.nonEmpty),
      "appendOnly declares an insert-only corpus; a delete feed " +
        "contradicts it — drop the flag and use the general path")
    val batchAll = graft.Materialize.eager(
      oneRowPerId(batchAll0, "id", Seq("text")))
    val batchDocs = batchAll.filter(col("text").isNotNull)

    // EXACT-DUPLICATE COLLAPSE (r15, carrying the batch operator's
    // r14 design into the fold): the state stays (id, simhash) — the
    // simhash doubles as the content-group key — but every DERIVED
    // structure is per DISTINCT simhash with a group size. Chunk
    // rows, bucket totals, signatures, and verify pairs all scale
    // with distinct hashes; docs contribute one narrow state row
    // each. Value-exact by the batch argument (equal hashes share
    // all four chunks ⇒ buckets are group-closed; the flood cap
    // applies to the summed doc count; within-group pairs sit at
    // Hamming 0).
    def groupSizes(state: DataFrame): DataFrame =
      state.groupBy(col("simhash")).agg(count(lit(1)).as("gsize"))
    def groupChunks(gsizes: DataFrame): DataFrame =
      simhashChunkRows(gsizes.select(col("simhash").as("id"), col("simhash")))
        .select(col("simhash"), col("chunk"), col("cval"))
    // member hash folds chunk+cval (structural distinctness), the
    // simhash (the content key), and gsize (duplicate arrivals
    // propagate to mates even when bucket membership is unchanged)
    def bucketAgg(chunkRows: DataFrame, gsizes: DataFrame): DataFrame =
      chunkRows.join(gsizes, Seq("simhash"))
        .groupBy(col("chunk"), col("cval"))
        .agg(sum(col("gsize")).as("_total"),
          expr("bit_xor(xxhash64(chunk, cval, simhash, gsize))").as("_bsig"))
        .withColumn("_q", col("_total") >= 2 && col("_total") <= maxBucket)
    def groupSig(chunkRows: DataFrame, buckets: DataFrame): DataFrame =
      chunkRows.join(buckets, Seq("chunk", "cval"))
        .groupBy(col("simhash"))
        .agg(bit_xor(when(col("_q"), col("_bsig")).otherwise(lit(0L)))
          .as("_gsig"))

    // shared verify tail: per-GROUP stats for affected groups, cross
    // pairs verified once per distinct-simhash pair, expanded to the
    // affected docs through the state table
    def refresh(state: DataFrame, chunkRows: DataFrame, gsizes: DataFrame,
                buckets: DataFrame, affectedDocs: DataFrame,
                affectedGroups: DataFrame, sigNowDoc: DataFrame,
                drops: Option[DataFrame]): Unit = {
      val qb = buckets.filter(col("_q")).select(col("chunk"), col("cval"))
      val aSide = chunkRows.join(affectedGroups, Seq("simhash"), "left_semi")
        .join(qb, Seq("chunk", "cval"), "left_semi")
        .select(col("chunk"), col("cval"), col("simhash").as("ga"))
      val mSide = chunkRows.join(qb, Seq("chunk", "cval"), "left_semi")
        .select(col("chunk"), col("cval"), col("simhash").as("gb"))
      val pairs = aSide.join(mSide, Seq("chunk", "cval"))
        .filter(col("ga") =!= col("gb"))
        .select(col("ga"), col("gb"),
          bit_count(col("ga").bitwiseXOR(col("gb"))).as("hamming"))
        .distinct()
      val crossAgg = pairs
        .join(gsizes.select(col("simhash").as("gb"), col("gsize").as("osize")),
          Seq("gb"))
        .groupBy(col("ga")).agg(
          sum(col("osize")).as("_cross_cand"),
          sum(when(col("hamming") <= maxHamming, col("osize")).otherwise(0L))
            .as("_cross_near"),
          min(col("hamming")).as("_cross_min"))
        .withColumnRenamed("ga", "simhash")
      val keptQ = chunkRows.join(qb, Seq("chunk", "cval"), "left_semi")
        .select(col("simhash")).distinct().withColumn("_kept", lit(true))
      val withinPairs = col("_kept") && col("gsize") >= 2L
      val gstats = affectedGroups
        .join(gsizes, Seq("simhash"))
        .join(keptQ, Seq("simhash"), "left")
        .join(crossAgg, Seq("simhash"), "left")
        .select(col("simhash"),
          (when(withinPairs, col("gsize") - 1L).otherwise(0L) +
            coalesce(col("_cross_cand"), lit(0L))).as("n_candidates"),
          (when(withinPairs && lit(0 <= maxHamming), col("gsize") - 1L)
            .otherwise(0L) +
            coalesce(col("_cross_near"), lit(0L))).as("n_near"),
          least(when(withinPairs, lit(0)), col("_cross_min"))
            .as("min_hamming"))
      val statsRows = affectedDocs
        .join(state.select(col("id"), col("simhash")), Seq("id"), "left")
        .join(gstats, Seq("simhash"), "left")
        .join(sigNowDoc, Seq("id"), "left_outer")
        .select(col("id"), col("simhash"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          col("min_hamming"), lit(batchOrd).as("_ord"),
          coalesce(col("_sig_now"), lit(0L)).as("_bucket_sig"))
      if (!statsRows.isEmpty)
        fmt.scd1Merge(spark, goldPath, statsRows, Seq("id"), "_ord",
          compareExclude = Nil)
      drops.foreach { d =>
        if (fmt.exists(goldPath) && !d.isEmpty)
          fmt.deleteKeys(spark, goldPath, d, Seq("id"))
      }
    }

    if (appendOnly && !fullResync) {
      if (batchDocs.isEmpty) return
      val batchH = graft.Materialize.eager(hashBatch(batchDocs))
      fmt.scd1Merge(spark, statePath,
        batchH.withColumn("_ord", lit(batchOrd)),
        Seq("id"), "_ord", compareExclude = Nil)
      val state = fmt.read(spark, statePath)
      // re-verify set: GROUPS sharing a chunk bucket with the batch's
      // hashes (includes those hashes' own groups), their members as
      // the doc set, and the two-hop bucket neighborhood as the slice
      val touched = simhashChunkRows(
          batchH.select(col("simhash").as("id"), col("simhash")).distinct())
        .select(col("chunk"), col("cval")).distinct()
      val allGsizes = graft.Materialize.eager(groupSizes(state))
      val allChunks = groupChunks(allGsizes)
      val affectedGroups = graft.Materialize.eager(
        allChunks.join(touched, Seq("chunk", "cval"), "left_semi")
          .select(col("simhash")).distinct())
      val affBuckets = allChunks
        .join(affectedGroups, Seq("simhash"), "left_semi")
        .select(col("chunk"), col("cval")).distinct()
      val nbrChunks = graft.Materialize.eager(
        allChunks.join(affBuckets, Seq("chunk", "cval"), "left_semi"))
      val gsizes = graft.Materialize.eager(
        allGsizes.join(nbrChunks.select(col("simhash")).distinct(),
          Seq("simhash"), "left_semi"))
      val buckets = graft.Materialize.eager(bucketAgg(nbrChunks, gsizes))
      val gsig = graft.Materialize.eager(groupSig(
        nbrChunks.join(affectedGroups, Seq("simhash"), "left_semi"), buckets))
      val affectedDocs = graft.Materialize.eager(
        state.join(affectedGroups, Seq("simhash"), "left_semi")
          .select(col("id")))
      val sigNowDoc = state.join(gsig, Seq("simhash"))
        .select(col("id"), col("_gsig").as("_sig_now"))
      refresh(state, nbrChunks, gsizes, buckets, affectedDocs,
        affectedGroups, sigNowDoc, None)
      return
    }

    val delIds = combinedDeletes(spark, deletes, idCol, "id", fullResync,
      statePath, batchAll.select(col("id")), fmt)
    val drops = graft.Materialize.eager(
      delIds.fold(batchAll.filter(col("text").isNull).select(col("id")))(
        _.unionByName(batchAll.filter(col("text").isNull).select(col("id"))))
        .distinct())
    if (!batchAll.isEmpty) {
      if (fmt.exists(statePath))
        fmt.deleteKeys(spark, statePath,
          batchAll.select(col("id")).distinct(), Seq("id"))
      if (!batchDocs.isEmpty)
        fmt.scd1Merge(spark, statePath,
          hashBatch(batchDocs).withColumn("_ord", lit(batchOrd)),
          Seq("id"), "_ord", compareExclude = Nil)
    }
    delIds.foreach { d =>
      if (fmt.exists(statePath) && !d.isEmpty)
        fmt.deleteKeys(spark, statePath, d, Seq("id"))
    }
    if (!fmt.exists(statePath)) return // empty first batch

    val state = graft.Materialize.eager(fmt.read(spark, statePath))
    val gsizes = graft.Materialize.eager(groupSizes(state))
    val chunkRows = graft.Materialize.eager(groupChunks(gsizes))
    val buckets = graft.Materialize.eager(bucketAgg(chunkRows, gsizes))
    val gsig = graft.Materialize.eager(groupSig(chunkRows, buckets))
    val sigNowDoc = graft.Materialize.eager(
      state.join(gsig, Seq("simhash"))
        .select(col("id"), col("_gsig").as("_sig_now")))
    val affectedAll =
      if (fmt.exists(goldPath)) {
        val goldDf = fmt.read(spark, goldPath)
        val withSig =
          if (goldDf.columns.contains("_bucket_sig")) goldDf
          else goldDf.withColumn("_bucket_sig", lit(null).cast("long"))
        withSig
          .join(sigNowDoc, Seq("id"), "left_outer")
          .filter(!(col("_bucket_sig") <=> coalesce(col("_sig_now"), lit(0L))))
          .select(col("id"))
          .unionByName(batchDocs.select(col("id"))).distinct()
      } else batchDocs.select(col("id")).distinct()
    val affected = graft.Materialize.eager(
      if (drops.isEmpty) affectedAll
      else affectedAll.join(drops, Seq("id"), "left_anti"))
    val affectedGroups = graft.Materialize.eager(
      state.join(affected, Seq("id"), "left_semi")
        .select(col("simhash")).distinct())
    refresh(state, chunkRows, gsizes, buckets, affected, affectedGroups,
      sigNowDoc, if (drops.isEmpty) None else Some(drops))
  }

  /** Resolve near-dup candidate pairs into clusters: iterative
    * min-label propagation (each id adopts the smallest id reachable
    * through its neighbors) until fixpoint — the dataframe form of
    * connected components. Each iteration is one join+aggregate;
    * convergence is bounded by the cluster diameter, which for
    * near-dup graphs is tiny (dup clusters are near-cliques), so
    * `maxIter` of ~10 covers 100 TB corpora. Returns (id, canonical)
    * for EVERY id in `ids` (singletons map to themselves) — the
    * keep/drop decision is `id != canonical`. `saltBuckets > 1`
    * switches the per-round neighbor join to a skew-salted join for
    * corpora with viral clusters (one key = a large share of the
    * edges) that AQE cannot split through the per-round checkpoint.
    */
  def resolveClusters(ids: DataFrame, pairs: DataFrame,
                      maxIter: Int = 10, saltBuckets: Int = 1): DataFrame = {
    // materialize (Materialize seam, default localCheckpoint) each
    // iteration: without the lineage cut every round's plan embeds
    // all previous rounds' plans and the lineage explodes (OOM at
    // plan stringification long before any data is big)
    val p = pairs.transform(graft.Materialize.eager) // evaluate the pair pipeline ONCE
    // r22 NOTE (measured, kept as-is): dropping the edges/labels
    // eager seams to save 2 blocking jobs per resolve was A/B'd both
    // ways and LOST — un-materialized, round 1 references labels
    // twice (own-label branch + neighbor join) so its distinct
    // exchange ran twice, and the edge union re-evaluated per round;
    // the family measured ~0.3-0.5 s/query slower either way. The
    // per-call job overhead is cheaper than re-derivation here.
    val edges = p.select(col("ida"), col("idb"))
      .unionByName(p.select(col("idb").as("ida"), col("ida").as("idb")))
      .transform(graft.Materialize.eager)
    // Propagate over the ACTIVE subgraph only — nodes that appear in
    // at least one pair. Singletons can never change label, and at
    // corpus scale they dominate (the near-dup graph is a sliver of
    // 100 TB): iterating over all ids would shuffle the whole corpus
    // once per round for no information.
    var labels = edges.select(col("ida").as("id")).distinct()
      .withColumn("canonical", col("id"))
      .transform(graft.Materialize.eager)
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      // Viral-cluster skew: one doc near-identical to 10^6 others puts
      // 10^6 edge rows on a single join key per round, and the
      // per-round eager checkpoint materializes BEFORE AQE's final
      // stage could re-split it. `saltBuckets > 1` spreads each hot
      // key over that many composite (id, salt) keys via
      // Bucketing.saltedJoin (edge side salted on the high-cardinality
      // ida, label side replicated) — identical result set, and the
      // hot key's rows spread over the salts instead of one straggler
      // task (DedupSpec "salted cluster resolution": 1e5-edge star
      // graph, salted == unsalted output, max per-task shuffle read
      // a fraction of the unsalted straggler's). The trade: every
      // round shuffles `saltBuckets` copies of the label frame, so
      // salting only pays when shuffle partitions >> saltBuckets
      // (any real cluster) AND one key truly dominates; leave it at
      // 1 unless a straggler is observed.
      val e = edges.select(col("ida"), col("idb").as("id"))
      val viaNeighbor = (if (saltBuckets > 1)
        Bucketing.saltedJoin(e, labels, Seq("id"), saltBy = "ida", salts = saltBuckets)
      else e.join(labels, Seq("id")))
        .select(col("ida").as("id"), col("canonical"), lit(0).as("_own"))
      // ONE job per iteration: the convergence check rides the
      // materializing count as an observe() metric (own-label rows are
      // tagged, so "did any label strictly decrease" is visible inside
      // the same aggregation) instead of a second join+count job —
      // iteration cost at corpus scale is dominated by per-job
      // overhead on the tiny active subgraph
      val obs = org.apache.spark.sql.Observation()
      val next = labels.select(col("id"), col("canonical"), lit(1).as("_own"))
        .unionByName(viaNeighbor)
        .groupBy("id").agg(min(col("canonical")).as("canonical"),
          min(when(col("_own") === 1, col("canonical"))).as("_prev"))
        .observe(obs,
          sum(when(col("canonical") < col("_prev"), 1L).otherwise(0L))
            .as("changed"))
        .select(col("id"), col("canonical"))
        // EAGER: the metric must accumulate before the action event
        // fires (a lazy checkpoint fires it at plan time, observing
        // nothing, and the loop would stop after one round)
        .transform(graft.Materialize.eager)
      labels = next
      // sum() over an empty subgraph observes null — that's converged
      val changed = obs.get("changed")
      converged = changed == null || changed.asInstanceOf[Long] == 0L
      i += 1
    }
    // singletons (no edges) map to themselves via the left join
    ids.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("canonical"), col("id")).as("canonical"))
  }

  /** Benchmark decontamination: flag corpus documents that share any
    * `n`-gram with a benchmark/eval set (the standard n=13 exact-
    * overlap decontamination pass of LLM training pipelines). The
    * benchmark side reduces to a DISTINCT set of shingle hashes —
    * eval sets are small by definition, so it is broadcast and the
    * corpus-side scan never shuffles: each doc's hash array explodes,
    * probes the broadcast set, and aggregates back to one row.
    * `n_hits` = how many distinct n-grams of the document appear in
    * the benchmark; `contaminated` = n_hits > 0.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 13): DataFrame =
    decontaminateScore(corpus, benchHashSet(benchmark, idCol, textCol, n),
      idCol, textCol, n)

  /** The benchmark side of [[decontaminate]] as a reusable frame:
    * the DISTINCT n-gram hash set — the trainable state the
    * incremental member freezes and the batch operator derives
    * inline. Output: (h), one row per distinct benchmark shingle.
    */
  private[operators] def benchHashSet(benchmark: DataFrame, idCol: String,
                                      textCol: String, n: Int): DataFrame =
    shingleHashes(benchmark, idCol, textCol, n)
      .select(explode_outer(col("shash")).as("h"))
      .filter(col("h").isNotNull).distinct()

  /** Score `corpus` against a benchmark hash-set frame — ONE
    * implementation for the batch operator and the incremental
    * member (the lmScore single-kernel contract: scores cannot
    * drift by a bit).
    */
  private[operators] def decontaminateScore(corpus: DataFrame,
                                            b: DataFrame, idCol: String,
                                            textCol: String,
                                            n: Int): DataFrame = {
    val c = shingleHashes(corpus, idCol, textCol, n)
      .select(col("id"), explode_outer(col("shash")).as("h"))
      .filter(col("h").isNotNull) // see shingles: outer+filter defense
    val hits = c.join(broadcast(b), "h")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol).as("id")).join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** [[decontaminate]] for benchmark sets too large to broadcast as
    * an exact hash set: a driver-built Bloom filter (~10 bits per
    * n-gram at fpp=0.01 — 10-100x smaller than the set itself)
    * screens the corpus-side shingle stream IN the scan stage, and
    * only the surviving ~fpp fraction plus the true hits enter the
    * exact shuffle join that removes the false positives. Same
    * output, bit for bit — Bloom filters have no false negatives, so
    * the prefilter drops only rows the exact join would drop anyway;
    * the final join is deliberately NOT broadcast (the premise is
    * that the benchmark side doesn't fit), but its shuffle carries
    * the screened sliver of the corpus, not the corpus.
    */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String, n: Int = 13,
                         fpp: Double = 0.01): DataFrame = {
    val b = shingleHashes(benchmark, idCol, textCol, n)
      .select(explode_outer(col("shash")).as("h"))
      .filter(col("h").isNotNull).distinct() // see shingles
      .transform(graft.Materialize.eager)
    val bloom = b.stat.bloomFilter("h", math.max(b.count(), 1L), fpp)
    val cand = shingleHashes(corpus, idCol, textCol, n)
      .select(col("id"), explode_outer(col("shash")).as("h"))
      .filter(col("h").isNotNull &&
        BloomFunctions.mightContainLong(col("h"), bloom))
    val hits = cand.join(b, "h")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    corpus.select(col(idCol).as("id")).join(hits, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Incremental [[decontaminate]] — the 15th member of the
    * incremental family, a FROZEN-EPOCH member (the
    * lmFamiliarityIncremental contract): benchmark sets change
    * rarely, so the benchmark's distinct 13-gram hash set freezes
    * from the FIRST fold whose rows match `benchFilter` (exists-
    * guarded, ONE state table — no two-table crash window; a crash
    * mid-merge is resolved by the format's atomicity and the replay
    * converges by merge idempotence). Every fold then probes its own
    * batch against the frozen set: O(batch · |bench set|) work, the
    * deployment shape decontamination actually runs at scale —
    * benchmark uploaded once, every new crawl screened against it.
    * Benchmark rows arriving in LATER folds do NOT grow the set —
    * the documented epoch semantics (a benchmark refresh is a new
    * state dir), spec-pinned.
    *
    * Gold holds one row per NON-benchmark document: (id, n_hits,
    * contaminated, _ord) — score columns bit-identical to the batch
    * operator against the same frozen benchmark (shared
    * [[decontaminateScore]] kernel). Benchmark docs never enter gold
    * (the batch operator's corpus/benchmark partition), and a doc
    * UPDATED into the benchmark slice retracts from gold like an
    * update-to-null. The n-gram width stamps into the state
    * (`n_shingle`) and a fold configured with a different `n`
    * refuses fast — the dsir bucket-guard philosophy: a silent
    * width change would probe a different shingle space.
    */
  def decontaminateIncremental(spark: SparkSession, batch: DataFrame,
                               idCol: String, textCol: String,
                               stateDir: String, goldPath: String,
                               batchOrd: Long, benchFilter: Column,
                               n: Int = 13,
                               deletes: Option[DataFrame] = None,
                               fullResync: Boolean = false,
                               appendOnly: Boolean = false,
                               fmt: graft.pipeline.TableFormat =
                                 graft.pipeline.SnapshotTableFormat): Unit = {
    require(!(appendOnly && deletes.nonEmpty),
      "appendOnly declares an insert-only corpus; a delete feed " +
        "contradicts it — drop the flag and use the general path")
    val benchPath = s"$stateDir/bench"
    val batchAll = graft.Materialize.eager(oneRowPerId(
      batch.select(col(idCol).as("id"), col(textCol).as("text"),
        benchFilter.as("_bench")), "id", Seq("text", "_bench")))
    if (!fmt.exists(benchPath)) {
      val benchDocs = batchAll
        .filter((col("_bench") <=> true) && col("text").isNotNull)
      if (benchDocs.isEmpty) return
      // the DERIVED set can be empty even when benchDocs is not
      // (every bench text shorter than n chars yields zero
      // shingles); merging the empty frame would still create the
      // state table, whose NULL max(n_shingle) stamp then NPEs this
      // and every later fold — an opaque, unrecoverable crash where
      // the contract is "wait for a usable benchmark slice"
      val derived = graft.Materialize.eager(
        benchHashSet(benchDocs, "id", "text", n))
      if (derived.isEmpty) return
      fmt.scd1Merge(spark, benchPath,
        derived
          .withColumn("n_shingle", lit(n))
          .withColumn("_ord", lit(batchOrd)),
        Seq("h"), "_ord", compareExclude = Nil)
    }
    val persisted = fmt.read(spark, benchPath)
    // null-safe stamp read: a state table that exists but is EMPTY
    // (pre-r20 versions could create one from a zero-shingle epoch)
    // must refuse with a recoverable message, not NPE on getInt
    val stampRow = persisted.select(max(col("n_shingle"))).head
    require(!stampRow.isNullAt(0),
      s"state at $benchPath exists but holds no benchmark shingles " +
        "(an empty epoch merge, pre-r20) — delete the state dir and " +
        "retrain on a fold with a usable benchmark slice")
    val storedN = stampRow.getInt(0)
    require(storedN == n,
      s"state at $benchPath was frozen with n=$storedN; this fold is " +
        s"configured with n=$n — the shingle spaces differ. Use the " +
        "stored value or retrain in a new state dir.")
    val scores = decontaminateScore(
        batchAll.filter(col("text").isNotNull && !(col("_bench") <=> true))
          .select(col("id"), col("text")),
        persisted.select(col("h")), "id", "text", n)
      .withColumn("_ord", lit(batchOrd))
    if (!scores.isEmpty)
      fmt.scd1Merge(spark, goldPath, scores, Seq("id"), "_ord",
        compareExclude = Nil)
    if (!appendOnly) {
      // gold's id universe is the NON-benchmark slice, so the
      // resync snapshot and the retraction set both exclude it:
      // update-to-null retracts, update-into-benchmark retracts
      val delIds = combinedDeletes(spark, deletes, idCol, "id",
        fullResync, goldPath,
        batchAll.filter(col("text").isNotNull &&
          !(col("_bench") <=> true)).select(col("id")), fmt)
      val retracted = batchAll
        .filter(col("text").isNull || (col("_bench") <=> true))
        .select(col("id"))
      val drops = graft.Materialize.eager(
        delIds.fold(retracted)(_.unionByName(retracted)).distinct())
      if (fmt.exists(goldPath) && !drops.isEmpty)
        fmt.deleteKeys(spark, goldPath, drops, Seq("id"))
    }
  }

  /** #31 Embedding-cosine near-dup, brute-force all-pairs baseline
    * (the correctness oracle for the LSH path — see
    * Similarity.annLsh for the shape that survives 100 TB).
    *
    * `maxCorpusRows` fail-fasts the O(N²) non-equi self-join before
    * it launches: the check scans at most cap+1 rows (`limit`, not a
    * full count), so at-or-under the cap costs one short scan and
    * over it raises immediately instead of BNLJ-ing a corpus whose
    * pair count can't finish. Same idiom as
    * Similarity.annBruteForce: `Int.MaxValue` means "explicitly
    * uncapped". The default (100k rows → ≤5·10⁹ pairs) is the edge
    * of what a deliberate baseline run should ever need.
    */
  def embeddingStats(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.4,
                     maxCorpusRows: Int = 100000): DataFrame = {
    require(maxCorpusRows > 0, "maxCorpusRows must be positive")
    if (maxCorpusRows != Int.MaxValue) {
      require(df.limit(maxCorpusRows + 1).count() <= maxCorpusRows,
        s"embeddingStats is the exact O(N^2) all-pairs baseline; the corpus " +
          s"exceeds maxCorpusRows=$maxCorpusRows here. Use the bucketed " +
          s"scale path Dedup.embeddingStatsLsh (SRP-bucket equi-join) " +
          s"instead, or raise the cap explicitly for a deliberate " +
          s"baseline run.")
    }
    // norms precomputed per vector: the N² pair loop runs one dot
    // accumulation instead of three (bit-identical doubles — same
    // elements, same order per sum)
    // materialize once: `e` feeds both sides of the self-join plus the
    // final left join — three scans of the fact table otherwise
    val e = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.selfNorm(col(vecCol)).as("nn"))
      .transform(graft.Materialize.eager)
    val pairs = e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        Similarity.cosFromParts(
          VectorFunctions.dotProduct(col("a.v"), col("b.v")),
          col("a.nn"), col("b.nn")).as("cos"))
      .transform(graft.Materialize.eager) // mirrored below: avoid double evaluation
    val both = pairs.select(col("ida").as("id"), col("cos"))
      .unionByName(pairs.select(col("idb").as("id"), col("cos")))
    val per = both.groupBy("id").agg(
      sum(when(col("cos") >= threshold, 1L).otherwise(0L)).as("n_near"),
      max(col("cos")).as("max_cos"))
    e.select(col("id")).join(per, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_near"), lit(0L)).as("n_near"), col("max_cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication — k-means clusters as the candidate buckets,
    * exact cosine within each cluster, greedy min-id keep decision.
    * The published recipe for embedding-level corpus dedup at LLM
    * pretraining scale, and the third candidate-generation strategy
    * next to SRP buckets ([[embeddingStatsLsh]]) and the brute-force
    * baseline ([[embeddingStats]]): clusters adapt to the corpus
    * geometry where hyperplanes are data-oblivious, so recall
    * concentrates where the density is.
    *
    * Built on [[Similarity.kmeansFit]]'s reproducible Lloyd, the
    * whole operator is engine-exact: the DuckDB oracle replays the
    * unrolled fit, the assignment, and the in-cluster cosines
    * bit-for-bit. Scale shape: fit is iters+1 corpus passes, the
    * pair join is an EQUI-join on cluster id, and `maxCluster`
    * drops degenerate flood clusters from pair generation (their
    * vectors report n_near = 0 — the same recall-only cap as every
    * other candidate generator here). Raise k so expected cluster
    * size stays under the cap at corpus scale.
    *
    * Output per vector: cluster, within-cluster near-dup stats, and
    * `keep` (no near-duplicate with a smaller id — apply
    * `filter(col("keep"))` for the deduplicated corpus).
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               threshold: Double = 0.4, k: Int = 8, iters: Int = 2,
               maxCluster: Int = 10000): DataFrame = {
    val cents = Similarity.kmeansFit(df, idCol, vecCol, k, iters)
    // materialize once: `e` feeds the flood count, both sides of the
    // self-join, plus the final left join
    val e = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        VectorFunctions.selfNorm(col(vecCol)).as("nn"),
        VectorFunctions.nearestCentroidIdx(col(vecCol), cents).as("cluster"))
      .transform(graft.Materialize.eager)
    val kept = Similarity.capFloodBuckets(e, maxCluster, "cluster")
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        Similarity.cosFromParts(
          VectorFunctions.dotProduct(col("a.v"), col("b.v")),
          col("a.nn"), col("b.nn")).as("cos"))
      .transform(graft.Materialize.eager) // mirrored below: avoid double evaluation
    val both = pairs.select(col("ida").as("id"), col("idb").as("nid"), col("cos"))
      .unionByName(pairs.select(col("idb").as("id"), col("ida").as("nid"), col("cos")))
    val per = both.groupBy("id").agg(
      sum(when(col("cos") >= threshold, 1L).otherwise(0L)).as("n_near"),
      max(col("cos")).as("max_cos"),
      sum(when(col("cos") >= threshold && col("nid") < col("id"), 1L)
        .otherwise(0L)).as("n_smaller"))
    e.select(col("id"), col("cluster")).join(per, Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        coalesce(col("n_near"), lit(0L)).as("n_near"), col("max_cos"),
        (coalesce(col("n_smaller"), lit(0L)) === 0L).as("keep"))
  }

  /** Cross-corpus SemDeDup: flag corpus vectors whose embedding
    * near-duplicates a REFERENCE vector — "dedup the new crawl
    * against the training set" in embedding space, the semantic
    * analog of [[dedupAgainstStats]]. The k-means quantizer fits on
    * the REFERENCE side (the stable corpus defines the geometry;
    * re-fitting per crawl would move cluster boundaries under the
    * comparison), both sides assign against the same plan-embedded
    * centroids, and candidates are ONE cluster equi-join — both
    * sides scale, no broadcast of either corpus, per-side flood
    * caps like every bucketed generator here.
    *
    * Output per corpus vector: (id, cluster, n_ref_near,
    * max_ref_cos, is_dup_of_ref = max ≥ threshold).
    */
  def semDedupAgainst(corpus: DataFrame, reference: DataFrame,
                      idCol: String, vecCol: String,
                      threshold: Double = 0.4, k: Int = 8, iters: Int = 2,
                      maxCluster: Int = 10000): DataFrame = {
    val cents = Similarity.kmeansFit(reference, idCol, vecCol, k, iters)
    def prep(df: DataFrame): DataFrame = df
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        VectorFunctions.selfNorm(col(vecCol)).as("nn"),
        VectorFunctions.nearestCentroidIdx(col(vecCol), cents).as("cluster"))
    // materialize each side once: both feed a flood count + the join
    // (and the corpus side the final left join too)
    val ce = prep(corpus).transform(graft.Materialize.eager)
    val re = prep(reference).transform(graft.Materialize.eager)
    val ck = Similarity.capFloodBuckets(ce, maxCluster, "cluster")
    val rk = Similarity.capFloodBuckets(re, maxCluster, "cluster")
    val pairs = ck.as("a").join(rk.as("b"),
        col("a.cluster") === col("b.cluster"))
      .select(col("a.id").as("id"),
        Similarity.cosFromParts(
          VectorFunctions.dotProduct(col("a.v"), col("b.v")),
          col("a.nn"), col("b.nn")).as("cos"))
    val per = pairs.groupBy("id").agg(
      sum(when(col("cos") >= threshold, 1L).otherwise(0L)).as("n_ref_near"),
      max(col("cos")).as("max_ref_cos"))
    ce.select(col("id"), col("cluster")).join(per, Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"),
        coalesce(col("n_ref_near"), lit(0L)).as("n_ref_near"),
        col("max_ref_cos"),
        (coalesce(col("max_ref_cos"), lit(0.0)) >= threshold)
          .as("is_dup_of_ref"))
  }

  /** #31 at scale: the same per-vector near-dup stats computed over
    * SRP-bucketed candidate pairs only — the join becomes an
    * equi-join on the hyperplane bucket id (one hash shuffle AQE can
    * size), so cost is sum of in-bucket pair counts, not N². Vectors
    * whose near-dups land across a hyperplane are missed — recall,
    * not precision, is traded (every reported cosine is exact);
    * `planes` tunes bucket size vs recall exactly as in
    * Similarity.annLsh, and `maxBucket` drops degenerate flood
    * buckets from candidate generation (their vectors report
    * n_near=0 — the same recall-only cap as annLsh and
    * bucketPairs) instead of letting one bucket go quadratic.
    */
  def embeddingStatsLsh(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.4, planes: Int = 0,
                        seed: Long = 42L,
                        maxBucket: Int = 10000): DataFrame = {
    // planes = 0 auto-sizes the SRP bucket space to the corpus (the
    // r14 annLsh rule — smallest p in [6, 24] with N ≤ 512·2^p,
    // mirrored in the SQL oracle, = 6 at every verify SF): fixed
    // planes leave in-bucket pair cost ≈ N²/2^planes growing with
    // the corpus (142 s at the sf10 probe). The INCREMENTAL member
    // requires one fixed plane count across calls — pass it
    // explicitly there.
    val pl = Similarity.resolvePlanes(planes, df)
    // materialize once: `e` feeds the flood count, both sides of the
    // self-join, plus the final left join (see embeddingStats)
    val e = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.selfNorm(col(vecCol)).as("nn"),
      VectorFunctions.srpBucket(col(vecCol), pl, seed).as("bucket"))
      .transform(graft.Materialize.eager)
    val kept = Similarity.capFloodBuckets(e, maxBucket)
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        Similarity.cosFromParts(
          VectorFunctions.dotProduct(col("a.v"), col("b.v")),
          col("a.nn"), col("b.nn")).as("cos"))
      .transform(graft.Materialize.eager) // mirrored below: avoid double evaluation
    val both = pairs.select(col("ida").as("id"), col("cos"))
      .unionByName(pairs.select(col("idb").as("id"), col("cos")))
    val per = both.groupBy("id").agg(
      sum(when(col("cos") >= threshold, 1L).otherwise(0L)).as("n_near"),
      max(col("cos")).as("max_cos"))
    e.select(col("id")).join(per, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_near"), lit(0L)).as("n_near"), col("max_cos"))
  }

  /** Incremental [[embeddingStatsLsh]] — the EMBEDDING member of the
    * incremental-dedup family (same replay-proof design as
    * [[exactDedupIncremental]] / [[minhashLshStatsIncremental]] /
    * [[TextAnalysis.segmentDedupIncremental]]; same n / planes /
    * seed / threshold / maxBucket across calls).
    *
    * State = one row per vector: (id, v, nn, bucket, vhash) keyed on
    * id — `vhash` is the content fingerprint STORED at write time so
    * the per-batch signature aggregation reads only (id, bucket,
    * vhash) and column pruning skips the vector data entirely. Each
    * vector owns exactly ONE SRP bucket, so the per-doc signature is
    * its bucket's member XOR (bucket key folded into the member hash
    * — the family rule) when the bucket qualifies (2 ≤ size ≤
    * `maxBucket`), else 0. A vector UPDATE changes `vhash`, which
    * invalidates every mate in the bucket — including mates whose
    * own bucket assignment didn't move. NULL vectors are excluded
    * from state/gold (the batch operator reports them with empty
    * stats; a null bucket drops from every equi-join), and an update
    * TO null retracts like a delete. Gold: (id, n_near, max_cos,
    * _ord, _bucket_sig) — the batch operator's stats columns.
    * `fullResync` (a full-snapshot window — vacuumed gap or fresh
    * checkpoint) treats every state id the batch does not carry as
    * hard-deleted: see [[combinedDeletes]].
    *
    * `appendOnly` declares an insert-only corpus and drops the
    * per-batch cost from O(state) to O(batch neighborhood): each
    * vector owns exactly ONE SRP bucket, so the only docs whose
    * stats or stored signature can change are the members of
    * buckets the batch landed in — a ONE-hop neighborhood (unlike
    * the MinHash sibling's two hops). The bucket aggregation,
    * signatures, and cosine pairs all run over those buckets'
    * members only. No retraction deletes, no gold read. Contract
    * and degrade semantics as [[exactDedupIncremental]]: a delete
    * feed throws, a `fullResync` window runs the general path.
    */
  def embeddingStatsLshIncremental(spark: SparkSession, batch: DataFrame,
                                   idCol: String, vecCol: String,
                                   statePath: String, goldPath: String,
                                   batchOrd: Long,
                                   // planes has NO default on purpose
                                   // (unlike the batch member's
                                   // corpus-sized auto): the state
                                   // requires ONE fixed plane count
                                   // across every batch, and a
                                   // default that silently diverged
                                   // from the batch member's auto
                                   // value would break the
                                   // gold-equals-recompute audit
                                   threshold: Double = 0.4, planes: Int,
                                   seed: Long = 42L, maxBucket: Int = 10000,
                                   deletes: Option[DataFrame] = None,
                                   fullResync: Boolean = false,
                                   appendOnly: Boolean = false,
                                   fmt: graft.pipeline.TableFormat =
                                     graft.pipeline.SnapshotTableFormat): Unit = {
    require(!(appendOnly && deletes.nonEmpty),
      "appendOnly declares an insert-only corpus; a delete feed " +
        "contradicts it — drop the flag and use the general path")
    val batchAll = graft.Materialize.eager(
      oneRowPerId(batch.select(col(idCol).as("id"), col(vecCol).as("v")),
        "id", Seq("v")))
    val batchVecs = batchAll.filter(col("v").isNotNull)
    if (appendOnly && !fullResync) {
      if (batchVecs.isEmpty) return
      val batchState = graft.Materialize.eager(
        batchVecs.select(col("id"), col("v"),
          VectorFunctions.selfNorm(col("v")).as("nn"),
          VectorFunctions.srpBucket(col("v"), planes, seed).as("bucket"),
          xxhash64(col("v")).as("vhash")))
      fmt.scd1Merge(spark, statePath,
        batchState.withColumn("_ord", lit(batchOrd)),
        Seq("id"), "_ord", compareExclude = Nil)
      // one bucket per vector: the touched buckets' members ARE the
      // whole affected neighborhood — aggregate only those
      val nbr = graft.Materialize.eager(
        fmt.read(spark, statePath)
          .join(batchState.select(col("bucket")).distinct(),
            Seq("bucket"), "left_semi"))
      val buckets = graft.Materialize.eager(
        nbr.groupBy(col("bucket"))
          .agg(count(lit(1)).as("_sz"),
            expr("bit_xor(xxhash64(bucket, id, vhash))").as("_bsig"))
          .withColumn("_q", col("_sz") >= 2 && col("_sz") <= maxBucket))
      val sigNow = nbr.select(col("id"), col("bucket"))
        .join(buckets, Seq("bucket"))
        .select(col("id"),
          when(col("_q"), col("_bsig")).otherwise(lit(0L)).as("_sig_now"))
      val qb = buckets.filter(col("_q")).select(col("bucket"))
      val aSide = nbr.join(qb, Seq("bucket"), "left_semi")
        .select(col("bucket"), col("id").as("ida"),
          col("v").as("va"), col("nn").as("na"))
      val mSide = nbr.join(qb, Seq("bucket"), "left_semi")
        .select(col("bucket"), col("id").as("idb"),
          col("v").as("vb"), col("nn").as("nb"))
      val cosPairs = aSide.join(mSide, Seq("bucket"))
        .filter(col("ida") =!= col("idb"))
        .select(col("ida"), Similarity.cosFromParts(
          VectorFunctions.dotProduct(col("va"), col("vb")),
          col("na"), col("nb")).as("cos"))
      val per = cosPairs.groupBy(col("ida")).agg(
        sum(when(col("cos") >= threshold, 1L).otherwise(0L)).as("n_near"),
        max(col("cos")).as("max_cos"))
      val statsRows = nbr.select(col("id"))
        .join(per, col("id") === col("ida"), "left_outer")
        .join(sigNow, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("n_near"), lit(0L)).as("n_near"),
          col("max_cos"), lit(batchOrd).as("_ord"),
          coalesce(col("_sig_now"), lit(0L)).as("_bucket_sig"))
      if (!statsRows.isEmpty)
        fmt.scd1Merge(spark, goldPath, statsRows, Seq("id"), "_ord",
          compareExclude = Nil)
      return
    }
    val delIds = combinedDeletes(spark, deletes, idCol, "id", fullResync,
      statePath, batchAll.select(col("id")), fmt)
    val drops = graft.Materialize.eager(
      delIds.fold(batchAll.filter(col("v").isNull).select(col("id")))(
        _.unionByName(batchAll.filter(col("v").isNull).select(col("id"))))
        .distinct())
    if (!batchAll.isEmpty) {
      if (fmt.exists(statePath))
        fmt.deleteKeys(spark, statePath,
          batchAll.select(col("id")).distinct(), Seq("id"))
      if (!batchVecs.isEmpty)
        fmt.scd1Merge(spark, statePath,
          batchVecs.select(col("id"), col("v"),
            VectorFunctions.selfNorm(col("v")).as("nn"),
            VectorFunctions.srpBucket(col("v"), planes, seed).as("bucket"),
            xxhash64(col("v")).as("vhash"),
            lit(batchOrd).as("_ord")),
          Seq("id"), "_ord", compareExclude = Nil)
    }
    // only HARD deletes need a second state pass (update-to-null ids
    // were removed by the batchAll retraction and never re-merged)
    delIds.foreach { d =>
      if (fmt.exists(statePath) && !d.isEmpty)
        fmt.deleteKeys(spark, statePath, d, Seq("id"))
    }
    if (!fmt.exists(statePath)) return // empty first batch

    val state = fmt.read(spark, statePath)
    // materialized: feeds both sigNow and `qb` (see the MinHash
    // sibling) — one bucket aggregation per batch, not two
    val buckets = graft.Materialize.eager(
      state.groupBy(col("bucket"))
        .agg(count(lit(1)).as("_sz"),
          expr("bit_xor(xxhash64(bucket, id, vhash))").as("_bsig"))
        .withColumn("_q", col("_sz") >= 2 && col("_sz") <= maxBucket))
    val sigNow = graft.Materialize.eager(
      state.select(col("id"), col("bucket"))
        .join(buckets, Seq("bucket"))
        .select(col("id"),
          when(col("_q"), col("_bsig")).otherwise(lit(0L)).as("_sig_now")))

    val affectedAll =
      if (fmt.exists(goldPath)) {
        val goldDf = fmt.read(spark, goldPath)
        val withSig =
          if (goldDf.columns.contains("_bucket_sig")) goldDf
          else goldDf.withColumn("_bucket_sig", lit(null).cast("long"))
        withSig
          .join(sigNow, Seq("id"), "left_outer")
          .filter(!(col("_bucket_sig") <=> coalesce(col("_sig_now"), lit(0L))))
          .select(col("id"))
          .unionByName(batchVecs.select(col("id"))).distinct()
      } else batchVecs.select(col("id")).distinct()
    val affected = graft.Materialize.eager(
      if (drops.isEmpty) affectedAll
      else affectedAll.join(drops, Seq("id"), "left_anti"))

    val qb = buckets.filter(col("_q")).select(col("bucket"))
    val aSide = state.join(affected, Seq("id"), "left_semi")
      .join(qb, Seq("bucket"), "left_semi")
      .select(col("bucket"), col("id").as("ida"),
        col("v").as("va"), col("nn").as("na"))
    val mSide = state.join(qb, Seq("bucket"), "left_semi")
      .select(col("bucket"), col("id").as("idb"),
        col("v").as("vb"), col("nn").as("nb"))
    val cosPairs = aSide.join(mSide, Seq("bucket"))
      .filter(col("ida") =!= col("idb"))
      .select(col("ida"), Similarity.cosFromParts(
        VectorFunctions.dotProduct(col("va"), col("vb")),
        col("na"), col("nb")).as("cos"))
    val per = cosPairs.groupBy(col("ida")).agg(
      sum(when(col("cos") >= threshold, 1L).otherwise(0L)).as("n_near"),
      max(col("cos")).as("max_cos"))
    val statsRows = affected
      .join(per, col("id") === col("ida"), "left_outer")
      .join(sigNow, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("max_cos"), lit(batchOrd).as("_ord"),
        coalesce(col("_sig_now"), lit(0L)).as("_bucket_sig"))
    if (!statsRows.isEmpty)
      fmt.scd1Merge(spark, goldPath, statsRows, Seq("id"), "_ord",
        compareExclude = Nil)
    if (fmt.exists(goldPath) && !drops.isEmpty)
      fmt.deleteKeys(spark, goldPath, drops, Seq("id"))
    ()
  }
}
