package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC primitives: latest-per-key compaction, op-splits, and pure
  * (no-IO) SCD merge plans.
  *
  * Capability counterpart of the reference's CDC model and merge SQL
  * (ingest-framework/framework/src/sparkbuilder/transformations/cdc/
  * common.py and writers/batch_writers.py:59-163) — re-expressed as
  * composable DataFrame plans instead of string-built MERGE
  * statements, so Catalyst sees one optimizable tree and the same
  * code path serves batch and foreachBatch streaming.
  */
object Cdc {

  /** Deterministic "latest" ordering: the order column descending,
    * then tiebreak columns descending. Every CDC compaction must be
    * deterministic or re-runs produce different tables.
    */
  private def latestWindow(keys: Seq[String], orderBy: Seq[Column]) =
    Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)

  /** Last-writer-wins compaction: one row per key (reference's
    * `ROW_NUMBER() OVER (PARTITION BY keys ORDER BY ord DESC) = 1`
    * preprocessing). Single hash shuffle on the keys.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame =
    df.withColumn("_rn", row_number().over(latestWindow(keys, orderBy)))
      .filter(col("_rn") === 1)
      .drop("_rn")

  /** Split a CDC feed by operation (reference CDCTransactionDataFrame
    * get_inserts/get_updates/get_deletes).
    */
  def splitOps(df: DataFrame, opCol: String,
               insertVal: String = "insert", updateVal: String = "update",
               deleteVal: String = "delete"): (DataFrame, DataFrame, DataFrame) =
    (df.filter(col(opCol) === insertVal),
      df.filter(col(opCol) === updateVal),
      df.filter(col(opCol) === deleteVal))

  /** Primary-key validity: no nulls, no duplicates (reference
    * MergeDataFrame.is_valid_primary_key) — one aggregate pass. An
    * empty frame is valid.
    */
  def isValidPrimaryKey(df: DataFrame, keys: Seq[String]): Boolean = {
    val anyNull = keys.map(col(_).isNull).reduce(_ || _)
    val row = df.agg(
      count(when(anyNull, lit(1))).as("nulls"),
      count(lit(1)).as("n"),
      count_distinct(struct(keys.map(col): _*)).as("nd")).collect()(0)
    row.getLong(0) == 0 && row.getLong(1) == row.getLong(2)
  }

  /** Throw if any merge-key column is null: null keys silently
    * collapse into one latestPerKey group and join as non-matches,
    * corrupting merges downstream. `filter(...).limit(1)` short-
    * circuits the scan at the first offending row (and, unlike
    * `sum(when(...))`, is a no-op on an EMPTY updates frame — an
    * empty incremental extract must be a no-op merge, not a crash).
    */
  def requireNonNullKeys(df: DataFrame, keys: Seq[String]): Unit = {
    val anyNull = keys.map(col(_).isNull).reduce(_ || _)
    if (df.filter(anyNull).limit(1).count() > 0)
      throw new IllegalArgumentException(
        s"null merge keys present (${keys.mkString(",")})")
  }

  /** Order guard over a target joined to `_new_`-renamed source
    * columns: a matched source row only wins if it is at least as new
    * as the target row (src ord >= tgt ord). Makes merges idempotent
    * AND arrival-order independent: replaying an old extract (or a
    * late/out-of-order streaming micro-batch) can never regress the
    * table — the foundation of the foreachBatch streaming path's
    * batch-equivalence.
    */
  private def srcNewEnough(orderGuard: Option[String], dataCols: Seq[String]): Column =
    orderGuard match {
      // only data columns are renamed to _new_: a guard on a key
      // column is vacuous (matched rows are equal on every key by
      // construction), and on an SCD2 state column it has no source
      // side to compare
      case Some(ord) if dataCols.contains(ord) =>
        col(ord).isNull || col(s"_new_$ord") >= col(ord)
      case _ => lit(true)
    }

  /** SCD type-1 merge as a pure plan, with per-row `_action` tags
    * (`insert` / `update` / `unchanged` / `delete` / `keep`) so the
    * caller can aggregate merge statistics with `observe()` in the
    * same job — no extra passes. ONE full-outer shuffle join on the
    * keys (vs the naive anti-join + union which reads the target
    * twice). `compareExclude` columns (ingest control columns) are
    * carried but ignored by change detection, mirroring the
    * reference's hash-of-business-columns update condition
    * (ingest-framework writers/batch_writers.py:59-163) — without it
    * every re-ingest of identical data would count as an update
    * because `row_creation_time` always differs.
    */
  def scd1MergeTagged(target: DataFrame, updates: DataFrame, keys: Seq[String],
                      orderBy: Seq[Column], deleteMissing: Boolean = false,
                      compareExclude: Seq[String] = Nil,
                      orderGuard: Option[String] = None): DataFrame = {
    val dataCols = target.columns.filterNot(keys.contains).toSeq
    val compareCols = dataCols.filterNot(compareExclude.contains)
    val latest = latestPerKey(updates, keys, orderBy)
      .select(target.columns.map(col).toIndexedSeq: _*)
    val snap = dataCols.foldLeft(latest) { (d, c) => d.withColumnRenamed(c, s"_new_$c") }
      .withColumn("_src_present", lit(1))
    val joined = target.withColumn("_tgt_present", lit(1))
      .join(snap, keys, "full_outer")
    val changed = compareCols.map(c => !(col(c) <=> col(s"_new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val action = when(col("_tgt_present").isNull, "insert")
      .when(col("_src_present").isNull, if (deleteMissing) "delete" else "keep")
      .when(changed && srcNewEnough(orderGuard, dataCols), "update")
      .when(changed, "stale")
      .otherwise("unchanged")
    val takeNew = col("_action").isin("insert", "update")
    joined
      .withColumn("_action", action)
      .select(keys.map(col) ++ dataCols.map(c =>
        when(takeNew, col(s"_new_$c")).otherwise(col(c)).as(c)) :+ col("_action"): _*)
  }

  /** SCD type-1 merge (untagged): the final upserted table.
    * `deleteMissing` drops target keys absent from the source (the
    * reference's full-snapshot "NOT MATCHED BY SOURCE → DELETE").
    */
  def scd1Merge(target: DataFrame, updates: DataFrame, keys: Seq[String],
                orderBy: Seq[Column], deleteMissing: Boolean = false,
                compareExclude: Seq[String] = Nil,
                orderGuard: Option[String] = None): DataFrame =
    scd1MergeTagged(target, updates, keys, orderBy, deleteMissing,
      compareExclude, orderGuard)
      .filter(col("_action") =!= "delete")
      .drop("_action")

  /** Apply a CDC op feed to a target: inserts+updates upsert, deletes
    * remove (delete wins over earlier ops for the same key only if it
    * is the latest op — op precedence is by the order columns).
    */
  def applyOps(target: DataFrame, feed: DataFrame, keys: Seq[String],
               opCol: String, orderBy: Seq[Column],
               deleteVal: String = "delete"): DataFrame = {
    val latest = latestPerKey(feed, keys, orderBy)
    val upserts = latest.filter(col(opCol) =!= deleteVal)
      .select(target.columns.map(col).toIndexedSeq: _*)
    val deletes = latest.filter(col(opCol) === deleteVal).select(keys.map(col): _*)
    target
      .join(latest.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .unionByName(upserts)
      .join(deletes, keys, "left_anti")
  }

  /** Out-of-order delete guard: a delete for a key the target has
    * never seen is an out-of-order arrival (the delete outran its
    * insert across extracts) — drop it from the FEED rather than
    * tombstone a phantom row. Same intent as the reference's
    * `handle_out_of_order_deletes` (transformations/cdc/common.py:
    * 67-76) but a deliberately different mechanism: the reference
    * left-anti-joins the TARGET against the updates and rewrites the
    * target table; filtering the (much smaller) feed reaches the same
    * end state without a target rewrite. One left_semi against the
    * target keys; everything else passes through untouched.
    */
  def dropUnmatchedDeletes(feed: DataFrame, target: DataFrame,
                           keys: Seq[String], opCol: String,
                           deleteVal: String = "delete"): DataFrame = {
    val deletes = feed.filter(col(opCol) === deleteVal)
      .join(target.select(keys.map(col): _*).distinct(), keys, "left_semi")
    feed.filter(col(opCol) =!= deleteVal).unionByName(deletes)
  }

  /** SCD type-2 history from an event/version feed using event time:
    * each version row gets [start_time, end_time) from its own
    * timestamp and the next version's (lead window), latest row is
    * current. Deterministic — no wall-clock.
    */
  def scd2History(versions: DataFrame, keys: Seq[String], tsCol: String,
                  tiebreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc +: tiebreak: _*)
    versions
      .withColumn("start_time", col(tsCol))
      .withColumn("end_time", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", when(col("end_time").isNull, 1).otherwise(0))
  }

  /** SCD type-2 merge as a pure plan (wall-clock variant used by the
    * writer), with per-row `_action` tags (`history` / `close` /
    * `unchanged` / `insert` / `delete` / `keep`) for observe()-based
    * stats. Close changed current rows, insert new versions, keep
    * history; optionally soft-delete keys missing from the source.
    * Target must carry is_current/start_time/end_time/delete_time.
    * `compareExclude` columns are carried but not compared (see
    * scd1MergeTagged — prevents unbounded spurious history from
    * ingest-control timestamps). `orderGuard` names the source's
    * order column: a matched row older than the current version is
    * tagged `stale` and changes nothing (the scd1MergeTagged guard).
    */
  def scd2MergeTagged(target: DataFrame, updates: DataFrame, keys: Seq[String],
                      orderBy: Seq[Column], orderGuard: String,
                      deleteMissing: Boolean = false,
                      compareExclude: Seq[String] = Nil): DataFrame = {
    val now = current_timestamp()
    val dataCols = target.columns
      .filterNot(keys.contains)
      .filterNot(Seq("is_current", "start_time", "end_time", "delete_time").contains)
    val compareCols = dataCols.filterNot(compareExclude.contains)
    val latest = latestPerKey(updates, keys, orderBy)
      .select((keys ++ dataCols).map(col): _*)

    val current = target.filter(col("is_current") === 1)
    val history = target.filter(col("is_current") =!= 1 || col("is_current").isNull)
      .withColumn("_action", lit("history"))

    val snap = dataCols.foldLeft(latest) { (d, c) => d.withColumnRenamed(c, s"_new_$c") }
    val joined = current.join(snap.withColumn("_matched", lit(1)), keys, "full_outer")
    val changed = compareCols.map(c => !(col(c) <=> col(s"_new_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    // order guard, as in scd1MergeTagged: a matched source row older
    // than the current version is stale — it neither closes the
    // current row nor becomes a version of its own
    val advance = changed && srcNewEnough(Some(orderGuard), dataCols)

    // matched + changed (and new enough) → closed old row
    val closedChanged = joined
      .filter(col("_matched") === 1 && col("is_current") === 1 && advance)
      .select(current.columns.map(col).toIndexedSeq: _*)
      .withColumn("is_current", lit(0))
      .withColumn("end_time", now)
      .withColumn("_action", lit("close"))
    // matched + unchanged (or stale) → untouched current row
    val unchanged = joined
      .filter(col("_matched") === 1 && col("is_current") === 1 && !advance)
      .select(current.columns.map(col).toIndexedSeq :+
        when(changed, "stale").otherwise("unchanged").as("_action"): _*)
    // new or changed key → fresh current version
    val inserted = joined
      .filter(col("_matched") === 1 && (col("is_current").isNull || advance))
      .select(keys.map(col) ++ dataCols.map(c => col(s"_new_$c").as(c)): _*)
      .withColumn("is_current", lit(1))
      .withColumn("start_time", now)
      .withColumn("end_time", lit(null).cast("timestamp"))
      .withColumn("delete_time", lit(null).cast("timestamp"))
      .select(current.columns.map(col).toIndexedSeq: _*)
      .withColumn("_action", lit("insert"))
    // missing from source → soft delete (or keep when not full-snapshot)
    val missing = joined.filter(col("_matched").isNull && col("is_current") === 1)
      .select(current.columns.map(col).toIndexedSeq: _*)
    val missingOut =
      if (deleteMissing)
        missing.withColumn("is_current", lit(0))
          .withColumn("end_time", now)
          .withColumn("delete_time", now)
          .withColumn("_action", lit("delete"))
      else missing.withColumn("_action", lit("keep"))

    history
      .unionByName(closedChanged)
      .unionByName(unchanged)
      .unionByName(inserted)
      .unionByName(missingOut)
  }
}
