package graft.dq

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative data-quality rules.
  *
  * Capability counterpart of the reference's rule-table-driven DQ
  * layer (ingest-framework/framework/src/sparkbuilder/dq/dq.py,
  * which evals cuallee `is_complete`/`is_unique`/custom-SQL strings).
  * Re-expressed as a typed rule ADT compiled into ONE aggregate pass:
  * evaluating N rules costs a single scan, not N table scans — the
  * difference between feasible and not at 100 TB.
  */
sealed trait DqRule {
  def name: String
  def column: String
  /** aggregate expression counting violating rows */
  def violations: Column
}

final case class NotNull(column: String) extends DqRule {
  val name = s"not_null($column)"
  def violations: Column = sum(when(col(column).isNull, 1L).otherwise(0L))
}

/** Uniqueness: violations = rows beyond the first per value. */
final case class Unique(column: String) extends DqRule {
  val name = s"unique($column)"
  def violations: Column =
    count(col(column)) - count_distinct(col(column))
}

final case class InRange(column: String, min: Double, max: Double) extends DqRule {
  val name = s"in_range($column,$min,$max)"
  def violations: Column =
    sum(when(col(column).isNull || col(column) < min || col(column) > max, 1L).otherwise(0L))
}

final case class InSet(column: String, values: Seq[String]) extends DqRule {
  val name = s"in_set($column)"
  def violations: Column =
    sum(when(!col(column).isin(values: _*) || col(column).isNull, 1L).otherwise(0L))
}

final case class MatchesRegex(column: String, pattern: String) extends DqRule {
  val name = s"matches_regex($column)"
  def violations: Column =
    sum(when(col(column).isNull || !col(column).rlike(pattern), 1L).otherwise(0L))
}

/** Merge-key completeness: rows with a null in ANY of `keys`. The
  * ingest job adds one per distinct key set of its merge targets to
  * the DQ pass it already runs, so the check costs no scan of its
  * own; it is never written to `dq_results`.
  */
private[graft] final case class NullKeys(keys: Seq[String]) extends DqRule {
  val name = s"null_keys(${keys.mkString(",")})"
  val column = keys.mkString(",")
  def violations: Column =
    sum(when(keys.map(col(_).isNull).reduce(_ || _), 1L).otherwise(0L))
}

/** Custom violation predicate (reference custom_sql: a query that
  * must return zero rows; here, a predicate that must match zero rows).
  */
final case class CustomPredicate(name: String, predicateSql: String) extends DqRule {
  val column = ""
  def violations: Column = sum(when(expr(predicateSql), 1L).otherwise(0L))
}

object DataQuality {

  /** Evaluate all rules in a single aggregate pass. Output: one row
    * per rule (rule_name, column_name, n_rows, violations, passed).
    */
  def evaluate(df: DataFrame, rules: Seq[DqRule]): DataFrame = {
    require(rules.nonEmpty, "at least one DQ rule required")
    val aggs = count(lit(1)).as("_n_rows") +:
      rules.zipWithIndex.map { case (r, i) => r.violations.cast("long").as(s"_v_$i") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = rules.zipWithIndex.map { case (r, i) =>
      struct(
        lit(r.name).as("rule_name"),
        lit(r.column).as("column_name"),
        col("_n_rows").as("n_rows"),
        coalesce(col(s"_v_$i"), lit(0L)).as("violations"),
        (coalesce(col(s"_v_$i"), lit(0L)) === 0L).as("passed"))
    }
    one.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }


  /** Leading-digit profile (Benford screening): the distribution of
    * first digits of a positive numeric column — fabricated or
    * unit-mixed data shows up as a first-digit distribution that
    * drifts from the column's established profile (and from
    * Benford's curve for naturally-spanning magnitudes; the expected
    * curve needs log10, so the comparison happens offline — this
    * operator reports the exact observed profile). The digit is the
    * first SIGNIFICANT digit: the value is normalized into [1, 10)
    * by a fixed-depth chain of power-of-10 multiply/divide steps
    * (binary exponent decomposition, 9 up + 9 down steps covering
    * the whole double range incl. subnormals and > 2^63) — every
    * step is one IEEE-754 op on engine-identical literals, so the
    * result is bit-identical cross-engine where float formatting
    * and log10-based extraction are not. Fractional values in (0,1)
    * therefore profile correctly (0.00123 → digit 1), as do values
    * beyond long range — the two holes of the naive
    * floor-then-string form. Caveat: a value whose mantissa sits
    * within a few ulp of a digit boundary (9.99999999999999…eN) can
    * bin to the neighboring digit — the chain's rounding is
    * deterministic and engine-identical, so the profile stays
    * bit-reproducible, but boundary-straddling inputs are counted by
    * their post-rounding digit (KernelPropertySpec pins correctness
    * off-boundary across the whole double range). One aggregate
    * pass; shares divide exact longs once.
    *
    * Output: (digit, n, share) for digits 1-9 present in the data.
    */
  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    // descending powers of two: one conditional scale per step puts
    // any positive finite double into [1, 10) after 18 cheap column
    // projections (chained withColumn, so Catalyst keeps each step
    // named instead of exploding the expression tree 3^18-fold)
    val pows = Seq(256, 128, 64, 32, 16, 8, 4, 2, 1)
    val base = df
      .filter(col(valueCol) > 0 && !isnan(col(valueCol).cast("double")) &&
        col(valueCol).cast("double") <= lit(Double.MaxValue))
      .select(col(valueCol).cast("double").as("_v"))
    val up = pows.foldLeft(base) { (d, p) =>
      // v < 10^(1-p)  ⇒  v·10^p still < 10
      d.withColumn("_v",
        when(col("_v") < lit(s"1e${1 - p}".toDouble),
          col("_v") * lit(s"1e$p".toDouble)).otherwise(col("_v")))
    }
    val normed = pows.foldLeft(up) { (d, p) =>
      d.withColumn("_v",
        when(col("_v") >= lit(s"1e$p".toDouble),
          col("_v") / lit(s"1e$p".toDouble)).otherwise(col("_v")))
    }
    val digits = normed
      .select(substring(floor(col("_v")).cast("long").cast("string"), 1, 1)
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    // the unpartitioned total window runs over the AGGREGATED frame —
    // at most 9 rows by construction, never the corpus
    digits
      .select(col("digit"), col("n"),
        (col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy()).cast("double")).as("share"))
  }

  /** Functional-dependency profiler: for each candidate determinant →
    * dependent pair, does every determinant value map to exactly one
    * dependent value? Exactly the check a schema-inference /
    * normalization pass runs before declaring a lookup table. The
    * test is pure counting — FD holds iff
    * |distinct det| = |distinct (det, dep)| — and `strength`
    * (their ratio, ≤ 1, one IEEE division) grades near-dependencies.
    *
    * ONE aggregate pass for all pairs via the multi-distinct expand
    * (the q6 family): the scan expands 2·|pairs| ways before the
    * shuffle, so keep the pair list bounded (profiling cardinality,
    * not a per-row operator); the shuffle itself carries only
    * distinct values. Rows with a NULL in a pair's columns are
    * skipped by both engines' distinct-count semantics — run on
    * NOT-NULL-gated columns for exact FD claims.
    *
    * Output: (determinant, dependent, n_det, n_pairs, fd_holds,
    * strength) per pair.
    */
  def functionalDependencies(df: DataFrame,
                             pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "at least one candidate pair required")
    val aggs = pairs.zipWithIndex.flatMap { case ((det, dep), i) =>
      Seq(countDistinct(col(det)).as(s"_d$i"),
        countDistinct(col(det), col(dep)).as(s"_p$i"))
    }
    val m = df.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.zipWithIndex.map { case ((det, dep), i) =>
      struct(lit(det).as("determinant"), lit(dep).as("dependent"),
        col(s"_d$i").as("n_det"), col(s"_p$i").as("n_pairs"),
        (col(s"_d$i") === col(s"_p$i")).as("fd_holds"),
        (col(s"_d$i").cast("double") / col(s"_p$i").cast("double"))
          .as("strength"))
    }
    m.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Exact Pearson correlation for the given column pairs in ONE
    * aggregate pass (the [[evaluate]] shape: all moments in a single
    * scan, then a struct explode fans the scalar row out to one row
    * per pair). The five moments per pair — Σx, Σy, Σxy, Σx², Σy² —
    * accumulate as EXACT decimals (associative, immune to partition
    * order), and only the final closed form
    * `(n·Σxy − ΣxΣy) / (√(n·Σx² − (Σx)²) · √(n·Σy² − (Σy)²))`
    * runs in doubles — every op there (*, −, /, IEEE sqrt) is
    * correctly rounded, so the result is bit-identical across
    * engines. Built-in `corr()` uses a streaming update with
    * merge-order-dependent float error; this formulation is the
    * oracle-comparable one.
    *
    * Columns must be non-null (moments and n must count the same
    * rows); a zero-variance column yields NaN (0/0), same on both
    * engines. CARDINALITY BOUND: the decimal product sums hold
    * |Σxy| < 10^34 at scale 4 — at 100 TB of money-scale values
    * that is not approached; values beyond ~10^9 per row should be
    * rescaled first.
    *
    * Output: (col_x, col_y, n, corr) per pair.
    */
  def correlationMatrix(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "at least one column pair required")
    import org.apache.spark.sql.types.DecimalType
    def d(c: String): Column = col(c).cast(DecimalType(18, 2))
    val aggs = count(lit(1)).as("_n") +: pairs.zipWithIndex.flatMap {
      case ((x, y), i) => Seq(
        sum(d(x)).as(s"_sx$i"), sum(d(y)).as(s"_sy$i"),
        sum(d(x) * d(y)).as(s"_sxy$i"),
        sum(d(x) * d(x)).as(s"_sxx$i"), sum(d(y) * d(y)).as(s"_syy$i"))
    }
    val m = df.agg(aggs.head, aggs.tail: _*)
    val rows = pairs.zipWithIndex.map { case ((x, y), i) =>
      val n = col("_n").cast("double")
      val sx = col(s"_sx$i").cast("double"); val sy = col(s"_sy$i").cast("double")
      val sxy = col(s"_sxy$i").cast("double")
      val sxx = col(s"_sxx$i").cast("double"); val syy = col(s"_syy$i").cast("double")
      struct(lit(x).as("col_x"), lit(y).as("col_y"), col("_n").as("n"),
        ((n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))).as("corr"))
    }
    m.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Equi-width histogram of a numeric column — the distribution
    * profile next to [[profile]]'s completeness/cardinality. Two
    * aggregate passes by construction (bounds, then bins — the
    * classic profiling shape); binning itself is one codegen'd
    * `floor((x − lo)/w)` projection with the top edge clamped into
    * the last bin, and a constant column (w = 0) degenerates to one
    * bin instead of NaN bins. Engine-exact: bounds are exact
    * min/max, bin edges are the same double chain on both engines.
    * Bounds and bins are two separate jobs over a frame assumed
    * STATIC between them (the batch contract); both edges clamp
    * into the boundary bins, so a row mutated out of [lo, hi]
    * between the passes lands in bin 0 / bins-1 rather than
    * fabricating a bin outside the profile.
    * Output: (bin, bin_lo, bin_hi, n) for non-empty bins.
    */
  def histogram(df: DataFrame, valueCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 1, "bins must be positive")
    val v = col(valueCol).cast("double")
    val mm = scorable(df, v)
      .agg(min(v).as("lo"), max(v).as("hi")).head()
    require(!mm.isNullAt(0),
      s"histogram needs at least one non-null, non-NaN $valueCol")
    val lo = mm.getDouble(0)
    val hi = mm.getDouble(1)
    val w = (hi - lo) / bins
    val bin =
      if (w == 0.0) lit(0)
      else least(lit(bins - 1),
        greatest(lit(0), floor((v - lit(lo)) / lit(w)).cast("int")))
    scorable(df, v)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"),
        (lit(lo) + col("bin") * lit(w)).as("bin_lo"),
        (lit(lo) + (col("bin") + 1) * lit(w)).as("bin_hi"),
        col("n"))
  }

  /** Distribution drift between two snapshots of a column — the DQ
    * check a recurring pipeline runs before trusting a new window of
    * data against a reference window. Both sides bin into `bins`
    * FIXED equi-width buckets over [lo, hi) (caller-pinned bounds:
    * data-derived bounds would move between runs and fake drift;
    * values outside clamp to the edge bins, so tail escape still
    * shows up as edge-bin growth). Per bin: counts, shares (an exact
    * long divided by an exact long, once — same IEEE op on any
    * engine), and |ref_share − cur_share|; the total-variation
    * distance is half that column's sum. The share-difference form is
    * deliberately NOT PSI: PSI's ln(p/q) is not correctly rounded
    * across engines and explodes on empty bins, while TV distance is
    * bounded, empty-bin-safe, and bit-reproducible.
    *
    * Scale shape: one corpus pass per side collapsing to ≤ bins rows
    * with map-side partial aggregation, then a bins-row broadcast
    * join. Nothing else shuffles at any corpus size.
    *
    * Output: (bin, bin_lo, bin_hi, ref_n, cur_n, ref_share,
    * cur_share, share_diff), every bin present on either side.
    * Contract: both sides must hold ≥1 scorable row — an empty side
    * makes its shares 0/0, which engines render differently (Spark
    * NaN, DuckDB NULL), so the comparison is only meaningful (and
    * only oracle-stable) on non-empty windows.
    */
  def distributionDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
                        lo: Double, hi: Double, bins: Int = 10): DataFrame = {
    require(bins >= 1, "bins must be positive")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val w = (hi - lo) / bins
    def binned(df: DataFrame, n: String): DataFrame = {
      val v = col(valueCol).cast("double")
      val bin = least(lit(bins - 1),
        greatest(lit(0), floor((v - lit(lo)) / lit(w)).cast("int")))
      scorable(df, v).groupBy(bin.as("bin")).agg(count(lit(1)).as(n))
    }
    val r = binned(ref, "ref_n")
    val c = binned(cur, "cur_n")
    val joined = r.join(c, Seq("bin"), "full_outer")
      .select(col("bin"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    // totals from the tiny binned frames, not another corpus pass
    joined
      .withColumn("ref_total", sum(col("ref_n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("cur_total", sum(col("cur_n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("bin"),
        (lit(lo) + col("bin") * lit(w)).as("bin_lo"),
        (lit(lo) + (col("bin") + 1) * lit(w)).as("bin_hi"),
        col("ref_n"), col("cur_n"),
        (col("ref_n").cast("double") / col("ref_total")).as("ref_share"),
        (col("cur_n").cast("double") / col("cur_total")).as("cur_share"))
      .withColumn("share_diff",
        abs(col("ref_share") - col("cur_share")))
  }

  /** Equi-DEPTH histogram: `buckets` quantile buckets of (roughly)
    * equal row count — the distribution profile that stays readable
    * under skew, where the equi-width [[histogram]] collapses into
    * one hot bin. Boundaries are the discrete rank-selected values
    * at rank `(n·i + B−1) div B` (pure INTEGER math — bit-exact on
    * any engine, no float ceil), and the per-bucket counts come from
    * the SAME cumulative frame, so the whole profile costs ONE
    * shuffle of the distinct values. A value spanning multiple
    * quantiles yields empty follow-up buckets (lo == hi, n = 0) —
    * the honest rendering of a massive duplicate. An empty (or
    * all-null/all-NaN) column yields an EMPTY profile, matching
    * [[histogram]] — not `buckets` phantom all-null rows.
    *
    * Scale note: like [[discretePercentiles]], the cumulative window
    * sorts the distinct-value set in one task — bounded-cardinality
    * columns only; for continuous columns at corpus scale take the
    * boundaries from [[sketchPercentiles]] with qs = i/B (the KLL
    * path — estimates, partial-agg shape).
    * Output: (bucket, lo, hi, n); lo is null for bucket 1.
    */
  def equiDepthHistogram(df: DataFrame, valueCol: String,
                         buckets: Int = 10): DataFrame =
    equiDepthProfile(df, Nil, valueCol, buckets)

  /** Per-group [[equiDepthHistogram]]: one quantile-bucket profile
    * per group over the SAME shared cumulative frame — the window
    * partitions by group, so each group's distinct-value sort is its
    * own task (the bounded-cardinality caveat applies per group, not
    * to the union). Output: (group, bucket, lo, hi, n).
    */
  def equiDepthHistogramByGroup(df: DataFrame, groupCol: String,
                                valueCol: String,
                                buckets: Int = 10): DataFrame =
    equiDepthProfile(df, Seq(groupCol), valueCol, buckets)

  /** KLL-boundary [[equiDepthHistogram]] — the continuous-column
    * scale path, mirroring [[iqrOutliersSketch]] vs [[iqrOutliers]]:
    * bucket BOUNDARIES are rank estimates from one mergeable
    * [[graft.functions.KllSketch]] pass (partial-agg shape — no
    * distinct-value shuffle, no single-task sort), and the
    * per-bucket COUNTS are exact, from one codegen'd binning pass
    * against those boundaries. Same output schema as the exact
    * variant; `hi` values are estimates within the sketch's pinned
    * rank-error bound, counts are true counts of the estimated
    * buckets. Empty/all-unscoreable input yields an empty profile.
    */
  def equiDepthHistogramSketch(df: DataFrame, valueCol: String,
                               buckets: Int = 10,
                               sketchK: Int = 200): DataFrame = {
    require(buckets >= 1, "buckets must be positive")
    import graft.functions.Kll
    val spark = df.sparkSession
    val v = col(valueCol).cast("double")
    val qs = (1 to buckets).map(i => i.toDouble / buckets)
    val skRow = scorable(df, v).agg(Kll.kllSketch(v, sketchK).as("_sk"))
      .select(Kll.kllQuantiles(col("_sk"), qs).as("_qs")).head()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("lo",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("hi",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = false)))
    // an empty sketch yields an array of NULL elements (Kll contract)
    if (skRow.isNullAt(0) || skRow.getSeq[Any](0).exists(_ == null))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val bounds = skRow.getSeq[Double](0)
    // bucket = smallest i with v <= hi_i; the top boundary is the
    // sketch's q(1.0) = exact max, so the chain is exhaustive
    val assign = (1 until buckets).foldRight(lit(buckets): Column) {
      case (i, acc) => when(v <= bounds(i - 1), lit(i)).otherwise(acc)
    }
    val counts = scorable(df, v).groupBy(assign.as("bucket"))
      .agg(count(lit(1)).as("n"))
    val shell = spark.range(1, buckets + 1)
      .select(col("id").cast("int").as("bucket"))
    shell.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        when(col("bucket") === 1, lit(null).cast("double"))
          .otherwise(element_at(lit(bounds.toArray), col("bucket") - 1))
          .as("lo"),
        element_at(lit(bounds.toArray), col("bucket")).as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Shared bucket-selection body of the equi-depth profiles —
    * the same keep-it-in-one-place rule as [[cumulativeValueCounts]]:
    * the rank formula and the lo/hi/n derivation must stay
    * bit-identical between the global and grouped variants or their
    * oracles fork.
    */
  private def equiDepthProfile(df: DataFrame, groupCols: Seq[String],
                               valueCol: String, buckets: Int): DataFrame = {
    require(buckets >= 1, "buckets must be positive")
    val gs = groupCols.map(col)
    val cum = cumulativeValueCounts(df, col(valueCol).cast("double"), gs)
    val aggs = (1 to buckets).flatMap { i =>
      val rank = expr(s"(_n * $i + ${buckets - 1}) DIV $buckets")
      Seq(min(when(col("_cum") >= rank, col("_v"))).as(s"_b$i"),
        min(when(col("_cum") >= rank, col("_cum"))).as(s"_c$i"))
    }
    val one =
      if (gs.isEmpty) cum.agg(aggs.head, aggs.tail: _*)
      else cum.groupBy(gs: _*).agg(aggs.head, aggs.tail: _*)
    val rows = (1 to buckets).map { i =>
      struct(lit(i).as("bucket"),
        (if (i == 1) lit(null).cast("double") else col(s"_b${i - 1}")).as("lo"),
        col(s"_b$i").as("hi"),
        (col(s"_c$i") -
          (if (i == 1) lit(0L) else col(s"_c${i - 1}"))).as("n"))
    }
    one.select(gs :+ explode(array(rows: _*)).as("r"): _*)
      .select(gs ++ Seq(col("r.bucket"), col("r.lo"), col("r.hi"),
        col("r.n")): _*)
      // the global variant's empty-input agg row is all-null; hi is
      // never null on data (rank ≤ n always selects), so this drops
      // exactly the phantoms (grouped: vacuous — no empty-group rows)
      .filter(col("hi").isNotNull)
  }

  /** Cross-table referential-integrity check — the rule the
    * single-pass [[DqRule]] ADT cannot express (it needs a join):
    * every child key must resolve to a parent key. One row out:
    * child row count, null-key child rows (visible separately — a
    * null FK is not an SQL orphan but a DQ layer must surface it),
    * orphan child ROWS (weighted by multiplicity, not distinct
    * keys), non-null parent key count, null parent keys (the same
    * surface-don't-hide stance as null FKs — a null PK is a
    * parent-side defect, not an "unreferenced key"), and
    * unreferenced parent keys (informational; does not fail the
    * check).
    *
    * Plan shape: child keys collapse to (key, count) with partial
    * aggregation before the join — the join carries distinct keys,
    * never child rows — and the parent side is its distinct key
    * set; one full-outer key join answers both directions at once.
    */
  def referentialIntegrity(child: DataFrame, childKey: String,
                           parent: DataFrame, parentKey: String): DataFrame = {
    val c = child.select(col(childKey).as("_k"))
      .groupBy(col("_k")).agg(count(lit(1)).as("_cn"))
    val p = parent.select(col(parentKey).as("_k")).distinct()
      .withColumn("_p", lit(true))
    c.join(p, Seq("_k"), "full_outer")
      .agg(
        coalesce(sum(col("_cn")), lit(0L)).as("n_child_rows"),
        coalesce(sum(when(col("_k").isNull, col("_cn"))), lit(0L))
          .as("n_null_keys"),
        coalesce(sum(when(col("_k").isNotNull && col("_p").isNull,
          col("_cn"))), lit(0L)).as("n_orphans"),
        count(when(col("_p").isNotNull && col("_k").isNotNull, lit(1)))
          .as("n_parent_keys"),
        count(when(col("_p").isNotNull && col("_k").isNull, lit(1)))
          .as("n_null_parent_keys"),
        count(when(col("_p").isNotNull && col("_k").isNotNull &&
          col("_cn").isNull, lit(1))).as("n_unreferenced_parents"))
      .withColumn("passed",
        col("n_orphans") === 0L && col("n_null_keys") === 0L)
  }

  /** Distinct-value cumulative frame shared by the exact
    * rank-selection profilers ([[discretePercentiles]],
    * [[equiDepthHistogram]]): per optional group, one row per
    * distinct `_v` with its count `_cnt`, running total `_cum` in
    * value order, and group total `_n` — ONE shuffle of the distinct
    * values. This is the engine-exactness-critical kernel (every
    * oracle replays it verbatim); keep it in exactly one place.
    *
    * CARDINALITY BOUND (applies to every caller): the cumulative
    * window sorts each partition's distinct-value set in ONE task —
    * the whole column's when ungrouped. Right for bounded-cardinality
    * columns (status flags, gridded prices, enumerations — the DQ
    * profiling targets); a straggler/OOM on a continuous near-unique
    * column at corpus scale. Every exact caller has a KLL sketch
    * companion with partial-agg shape for that case
    * ([[iqrOutliersSketch]], [[equiDepthHistogramSketch]],
    * [[sketchPercentiles]]) — those are the 100-TB defaults.
    */
  private def cumulativeValueCounts(df: DataFrame, v: Column,
                                    groupCols: Seq[Column]): DataFrame = {
    val counts = scorable(df, v)
      .groupBy(groupCols :+ v.as("_v"): _*).agg(count(lit(1)).as("_cnt"))
    val w = Window.partitionBy(groupCols: _*).orderBy(col("_v").asc)
    val cw = Window.partitionBy(groupCols: _*)
    counts.withColumn("_cum", sum(col("_cnt")).over(w))
      .withColumn("_n", sum(col("_cnt")).over(cw))
  }

  /** Rows of `df` with a usable `valueCol`: non-null AND non-NaN —
    * a NaN would poison min/max/quantile selection into silently
    * wrong profiles (NaN passes isNotNull, wins every max, and
    * turns bin widths into NaN), so both profiling operators
    * exclude it the way they exclude null.
    */
  private def scorable(df: DataFrame, v: Column): DataFrame =
    df.filter(v.isNotNull && !isnan(v.cast("double")))

  /** Discrete (data-valued) per-group percentiles: the value at
    * 1-based rank ceil(q·n) of the sorted group, computed over
    * per-VALUE counts (one shuffle of the distinct values, then a
    * cumulative window) — the engine-exact rank-selection block
    * shared by [[iqrOutliers]] and CoreQueries#q11
    * (interpolating quantiles are not bit-comparable across
    * engines; rank-selected data values are). Output: one row per
    * group with one column per requested (alias, q).
    * [[cumulativeValueCounts]]'s cardinality bound applies per
    * group; [[sketchPercentiles]] is the continuous-column
    * companion.
    */
  private[graft] def discretePercentiles(df: DataFrame, groupCol: String,
                                         valueCol: String,
                                         qs: Seq[(String, Double)]): DataFrame = {
    val cum = cumulativeValueCounts(df, col(valueCol), Seq(col(groupCol)))
    val aggs = qs.map { case (alias, q) =>
      min(when(col("_cum") >= ceil(col("_n") * q), col("_v"))).as(alias)
    }
    cum.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group IQR outlier accounting: discrete quartiles via
    * [[discretePercentiles]], then Tukey fences
    * `[q1 − k·iqr, q3 + k·iqr]` in plain double arithmetic and one
    * counting pass. Two passes over the column total; the fence
    * frame is group-cardinality-sized and broadcasts back with a
    * NULL-SAFE group join, so a null group — exactly the data a DQ
    * layer exists to surface — gets its own fences and its own row
    * instead of silently vanishing. NaN values are excluded like
    * nulls (see [[scorable]]).
    *
    * SCALE NOTE: the exact quartile block sorts each group's
    * distinct-value set in one task — right for bounded-cardinality
    * columns (flags, prices on a grid), a straggler/OOM on a
    * continuous near-unique column at corpus scale. For that case use
    * [[iqrOutliersSketch]]: mergeable KLL summaries, partial-agg
    * shape, no per-group sort — the 100-TB path.
    * Output: (group, q1, q3, lo, hi, n, n_outliers).
    */
  def iqrOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 1.5): DataFrame =
    tukeyCount(df, groupCol, valueCol, k,
      discretePercentiles(df, groupCol, valueCol,
        Seq("_q1" -> 0.25, "_q3" -> 0.75)))

  /** Sketch companion of [[iqrOutliers]] — quartile fences from
    * mergeable per-group KLL summaries
    * ([[graft.functions.KllSketch]]) instead of the exact
    * distinct-value sort. Same two-pass shape and identical output
    * schema; fences are rank estimates with the sketch's
    * deterministic error bound (pinned vs the exact block in
    * QuantileSketchSpec). This is the variant that survives a
    * continuous column at 100 TB: each partition folds into one
    * O(k·log n) buffer and only buffers shuffle — no per-group
    * single-task sort anywhere in the plan.
    */
  def iqrOutliersSketch(df: DataFrame, groupCol: String, valueCol: String,
                        k: Double = 1.5, sketchK: Int = 200): DataFrame =
    tukeyCount(df, groupCol, valueCol, k,
      sketchPercentiles(df, groupCol, valueCol,
        Seq("_q1" -> 0.25, "_q3" -> 0.75), sketchK))

  /** Shared fence-join-count block: quartile frame in, Tukey
    * accounting out (see [[iqrOutliers]] for the join rationale).
    * `quartiles` must carry (groupCol, _q1, _q3).
    */
  private def tukeyCount(df: DataFrame, groupCol: String, valueCol: String,
                         k: Double, quartiles: DataFrame): DataFrame = {
    val v = col(valueCol)
    val fences = quartiles
      .select(col(groupCol).as("_g"),
        col("_q1").cast("double").as("_fq1"),
        col("_q3").cast("double").as("_fq3"))
      .withColumn("_flo", col("_fq1") - lit(k) * (col("_fq3") - col("_fq1")))
      .withColumn("_fhi", col("_fq3") + lit(k) * (col("_fq3") - col("_fq1")))
    scorable(df, v)
      .join(broadcast(fences), col(groupCol) <=> col("_g"))
      .groupBy(col(groupCol), col("_fq1"), col("_fq3"),
        col("_flo"), col("_fhi"))
      .agg(count(lit(1)).as("n"),
        sum(when(v.cast("double") < col("_flo") ||
          v.cast("double") > col("_fhi"), 1L).otherwise(0L)).as("n_outliers"))
      .select(col(groupCol), col("_fq1").as("q1"), col("_fq3").as("q3"),
        col("_flo").as("lo"), col("_fhi").as("hi"),
        col("n"), col("n_outliers"))
  }

  /** Per-group percentile ESTIMATES from one KLL sketch pass — the
    * partial-aggregable scale path next to the exact
    * [[discretePercentiles]] (same `ceil(q·n)` rank rule, same
    * output shape, values are rank estimates within the sketch
    * bound). One shuffle of O(k·log n) sketch buffers, never of
    * values.
    */
  def sketchPercentiles(df: DataFrame, groupCol: String, valueCol: String,
                        qs: Seq[(String, Double)],
                        sketchK: Int = 200): DataFrame = {
    import graft.functions.Kll
    val v = col(valueCol).cast("double")
    val sk = scorable(df, v).groupBy(col(groupCol))
      .agg(Kll.kllSketch(v, sketchK).as("_sk"))
      .withColumn("_qs", Kll.kllQuantiles(col("_sk"), qs.map(_._2)))
    sk.select(col(groupCol) +: qs.zipWithIndex.map { case ((alias, _), i) =>
      col("_qs").getItem(i).as(alias)
    }: _*)
  }

  /** Incremental-profiling WRITE side: one KLL sketch row per
    * (group, batch) — emit this at ingest time and append it to a
    * profile table. The sketch binary is the column; history never
    * re-scans.
    */
  def profileSketch(df: DataFrame, groupCol: String, valueCol: String,
                    sketchK: Int = 200): DataFrame = {
    import graft.functions.Kll
    val v = col(valueCol).cast("double")
    scorable(df, v).groupBy(col(groupCol))
      .agg(Kll.kllSketch(v, sketchK).as("sketch"))
  }

  /** Incremental-profiling READ side: fold stored per-batch sketch
    * rows ([[profileSketch]] output) into per-group percentile
    * estimates — [[graft.functions.KllMerge]] over the binary
    * column, no re-scan of the profiled data.
    */
  def mergeProfileSketches(sketches: DataFrame, groupCol: String,
                           qs: Seq[(String, Double)],
                           sketchK: Int = 200): DataFrame = {
    import graft.functions.Kll
    val merged = sketches.groupBy(col(groupCol))
      .agg(Kll.kllMerge(col("sketch"), sketchK).as("_sk"))
      .withColumn("_qs", Kll.kllQuantiles(col("_sk"), qs.map(_._2)))
    merged.select(col(groupCol) +: qs.zipWithIndex.map { case ((alias, _), i) =>
      col("_qs").getItem(i).as(alias)
    }: _*)
  }

  /** Per-column profile: completeness + cardinality in one pass.
    *
    * SCALE NOTE: each exact `count_distinct` column EXPANDs the
    * input (one duplicated row stream per distinct-counted column),
    * so profiling a wide schema multiplies the shuffle by the
    * column count. [[profileApprox]] is the wide-schema/100-TB
    * companion: HLL sketches are one partial-aggregable pass with
    * no expand, at a bounded relative error.
    */
  def profile(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("_n") +: columns.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_null_$c"),
        count_distinct(col(c)).as(s"_nd_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = columns.map { c =>
      struct(lit(c).as("column_name"), col("_n").as("n_rows"),
        col(s"_null_$c").as("n_null"), col(s"_nd_$c").as("n_distinct"))
    }
    one.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Sketch companion of [[profile]] (the q6_approx pattern):
    * HyperLogLog++ cardinalities via `approx_count_distinct` — no
    * expand, one register set per column per partition, the profile
    * that stays a single cheap pass however wide the schema. Same
    * output shape with `n_distinct_approx`; estimates are
    * engine-specific (rows-only driver check), the observed error
    * is pinned vs the exact profile in spec.
    */
  def profileApprox(df: DataFrame, columns: Seq[String],
                    rsd: Double = 0.02): DataFrame = {
    val aggs = count(lit(1)).as("_n") +: columns.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_null_$c"),
        approx_count_distinct(col(c), rsd).as(s"_nd_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = columns.map { c =>
      struct(lit(c).as("column_name"), col("_n").as("n_rows"),
        col(s"_null_$c").as("n_null"), col(s"_nd_$c").as("n_distinct_approx"))
    }
    one.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
  }

  /** Chi-square CONTINGENCY cells for two categorical columns — the
    * association/drift test the numeric dq family (histograms,
    * Benford, correlation) lacks: "did the language mix shift per
    * source", "is quality_pass independent of domain". Emits one row
    * per (a, b) cell of the FULL cross grid — including cells the
    * data never hits, whose expected count still contributes —
    * with observed, expected = row·col/N, and the cell's χ²
    * contribution (o−e)²/e.
    *
    * Deliberately PER-CELL: each value is a fixed tree of exact
    * integer counts and correctly-rounded IEEE ops (order-free, so
    * cross-engine hash-exact), whereas the summed statistic would
    * depend on float summation order. Consumers sum `contribution`
    * and compare against the χ² quantile for (|A|−1)(|B|−1) dof; the
    * spec pins the planted-table statistic.
    *
    * Scale shape: three count aggregates (cells, row marginals,
    * column marginals — each map-side combinable to the category
    * cardinality), the full grid built by a constant-key broadcast
    * join of the two marginal frames (the q15 pmod shape, never a
    * cartesian), one broadcast of the observed cells onto it. Null
    * categories are excluded (a null level is a completeness finding
    * for [[metrics]], not an association level).
    */
  def chiSquareCells(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
    val o = base.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("observed"))
    val ra = base.groupBy(col(aCol)).agg(count(lit(1)).as("_ra"))
      .withColumn("_k", pmod(col("_ra"), lit(1)).cast("int"))
    val cb = base.groupBy(col(bCol)).agg(count(lit(1)).as("_cb"))
      .withColumn("_k", pmod(col("_cb"), lit(1)).cast("int"))
    val n = base.agg(count(lit(1)).as("_n"))
      .withColumn("_k", pmod(col("_n"), lit(1)).cast("int"))
    val e = (col("_ra") * col("_cb")).cast("double") /
      col("_n").cast("double")
    ra.join(broadcast(cb), Seq("_k"))
      .join(broadcast(n), Seq("_k"))
      .join(broadcast(o), Seq(aCol, bCol), "left")
      .select(col(aCol), col(bCol),
        coalesce(col("observed"), lit(0L)).as("observed"),
        col("_ra").as("row_total"), col("_cb").as("col_total"),
        e.as("expected"))
      .withColumn("contribution", {
        // computed from the post-select frame's own output columns
        // (no pre-select alias dependence); diff*diff, not pow, to
        // stay bit-identical with the oracle's (o−e)*(o−e)
        val d = col("observed").cast("double") - col("expected")
        d * d / col("expected")
      })
  }

  /** Two-sample KOLMOGOROV–SMIRNOV statistic — the dq family's
    * distribution-drift test for NUMERIC columns (chi-square covers
    * categorical): D = sup over observed values of |F_a(x) − F_b(x)|
    * between the empirical CDFs of groups `a` and `b`. "Did this
    * source's price distribution shift", "do the two shards draw the
    * same score distribution" — the standard nonparametric answer.
    * Output ONE row: (n_a, n_b, ks_d, ks_at) where `ks_at` is the
    * smallest value attaining the supremum (deterministic tiebreak);
    * an empty selection yields an empty frame.
    *
    * Exactness: per-value counts are exact BIGINTs; each CDF point
    * is ONE IEEE division, the statistic one subtraction + abs —
    * a fixed tree, cross-engine exact (the lm-familiarity
    * discipline); the argmax is an orderBy(ks_d desc, v asc) limit 1
    * (TakeOrderedAndProject, never a global sort).
    *
    * Scale shape — the distributed EXACT prefix sum: the naive
    * formulation windows the whole distinct-value frame on ONE
    * partition. Instead the value space splits into `buckets`
    * EQUI-DEPTH range buckets — split points are KLL sketch
    * quantiles of the DISTINCT-value frame ([[graft.functions.Kll]],
    * each distinct value weight 1), assigned per row by a codegen'd
    * binary search, so every per-bucket frame holds ≈|distinct|/
    * buckets values NO MATTER how the values are distributed. (The
    * r19 equi-width form took bounds from one min/max pass: a single
    * far outlier — a 9e18 sentinel — stretched the range until
    * virtually all distinct values collapsed into ONE bucket, whose
    * within-bucket cumsum then ran as one task over a near-corpus-
    * sized frame, exactly the shape this design exists to kill. The
    * sketch bounds only ROUTE; every count stays exact.) Per-bucket
    * totals fold map-side to ≤`buckets` rows whose running offsets
    * cost one BOUNDED window (≤`buckets` rows — the events-family
    * bounded-frame class, never corpus-sized), broadcast back, and
    * the within-bucket cumsum windows partition BY bucket — every
    * corpus-sized exchange is hash-partitioned, nothing funnels to
    * one task. (The DuckDB oracle replays the plain single window —
    * same values, different physical plan.)
    *
    * A selection where either group is EMPTY yields an empty frame
    * (like the both-empty case): one-sample drift against nothing is
    * not a statistic, and the NULL-division row Spark would emit
    * diverges from IEEE engines (DuckDB: inf/NaN).
    */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
             a: String, b: String, buckets: Int = 1024): DataFrame = {
    require(buckets >= 1, "buckets must be positive")
    val base = df
      .filter(col(groupCol).isin(a, b) && col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("_v"),
        col(groupCol).as("_g"))
    val c = base.groupBy(col("_v"))
      .agg(sum(when(col("_g") === a, 1L).otherwise(0L)).as("_ca"),
        sum(when(col("_g") === b, 1L).otherwise(0L)).as("_cb"))
    val qs: Seq[Double] = (1 until buckets).map(_.toDouble / buckets)
    val mm = c.agg(sum(col("_ca")).as("_na"), sum(col("_cb")).as("_nb"),
        graft.functions.Kll.kllSketch(col("_v")).as("_sk"))
      .withColumn("_splits",
        if (qs.isEmpty) array().cast("array<double>")
        else graft.functions.Kll.kllQuantiles(col("_sk"), qs))
      .drop("_sk")
      .withColumn("_k", pmod(col("_na") + col("_nb"), lit(1)).cast("int"))
    val withB = c
      .withColumn("_k", pmod(col("_ca") + col("_cb"), lit(1)).cast("int"))
      .join(broadcast(mm), Seq("_k"))
      .filter(col("_na") > 0 && col("_nb") > 0)
      .withColumn("_bkt", graft.functions.HashFunctions
        .sortedUpperBound(col("_splits"), col("_v")))
      .drop("_splits")
    val wB = Window.orderBy(col("_bkt").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = withB.groupBy(col("_bkt"))
      .agg(sum(col("_ca")).as("_ta"), sum(col("_cb")).as("_tb"))
      .withColumn("_oa", sum(col("_ta")).over(wB) - col("_ta"))
      .withColumn("_ob", sum(col("_tb")).over(wB) - col("_tb"))
      .select(col("_bkt"), col("_oa"), col("_ob"))
    val wV = Window.partitionBy(col("_bkt")).orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    withB.join(broadcast(offs), Seq("_bkt"))
      .withColumn("_cca", sum(col("_ca")).over(wV) + col("_oa"))
      .withColumn("_ccb", sum(col("_cb")).over(wV) + col("_ob"))
      .select(col("_na").as("n_a"), col("_nb").as("n_b"),
        abs(col("_cca").cast("double") / col("_na").cast("double") -
          col("_ccb").cast("double") / col("_nb").cast("double"))
          .as("ks_d"),
        col("_v").as("ks_at"))
      .orderBy(col("ks_d").desc, col("ks_at").asc)
      .limit(1)
  }
}
