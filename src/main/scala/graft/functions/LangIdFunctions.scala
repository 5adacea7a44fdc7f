package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Driver-built Cavnar–Trenkle rank-profile model for IN-ROW scoring
  * (r22). The model is structurally tiny (≤ |langs|·k rows — the
  * langIdModel contract: "model-sized, broadcastable, never
  * corpus-sized"), and the out-of-place distance of a document
  * depends only on ITS OWN ≤k-gram profile plus the model, so the
  * declarative grid (explode profile → ×|langs| constant-key
  * broadcast → per-(doc, lang) hash aggregate → per-doc ranking
  * window, i.e. two corpus-sized exchanges) is replaced by one
  * projection: each row scans its profile once against a hash map of
  * the model and takes the argmin in-row.
  *
  * Arithmetic is bit-identical to the join form:
  * dist_ℓ = Σ over profile grams of (|drank − lrank_ℓ| if ℓ's
  * profile has the gram else k), computed as k·n + Σ_present
  * (|d − l| − k) in exact longs; argmin ties break lang-ascending in
  * BINARY string order — the same order the window's `lang asc`
  * sorts (UTF8String.binaryCompare, both engines' collation).
  * LangIdKernelSpec pins kernel == join-form on the corpus fixture
  * and on tie-adversarial synthetics; the three langid oracle
  * queries replay the declarative SQL and stay green.
  */
final class CtModel private (
    private val langs: Array[UTF8String],
    private val packed: java.util.HashMap[UTF8String, Array[Long]],
    private val k: Int) extends Serializable {

  /** Score a (gram, drank) profile array: returns (bestLang,
    * bestDist) with the contract above, or ("und", null) for an
    * empty profile (0-gram documents classify as 'und' with NULL
    * distance — the langIdScore contract).
    */
  def score(profile: ArrayData): InternalRow = {
    val n = profile.numElements()
    if (n == 0)
      return new GenericInternalRow(Array[Any](CtModel.Und, null))
    val dist = new Array[Long](langs.length)
    val base = k.toLong * n
    var li = 0
    while (li < langs.length) { dist(li) = base; li += 1 }
    var i = 0
    while (i < n) {
      val row = profile.getStruct(i, 2)
      val g = row.getUTF8String(0)
      val drank = row.getInt(1)
      val hits = packed.get(g)
      if (hits != null) {
        var j = 0
        while (j < hits.length) {
          val p = hits(j)
          val idx = (p >>> 32).toInt
          val lrank = (p & 0xffffffffL).toInt
          dist(idx) += math.abs(drank.toLong - lrank) - k
          j += 1
        }
      }
      i += 1
    }
    var best = 0
    li = 1
    while (li < langs.length) {
      if (dist(li) < dist(best)) best = li
      li += 1
    }
    new GenericInternalRow(Array[Any](langs(best), dist(best)))
  }
}

object CtModel {
  private[functions] val Und = UTF8String.fromString("und")

  /** Build from collected (lang, gram, lrank) model rows. Langs are
    * sorted binary-ascending so that index order IS the tiebreak
    * order of the reference window's `lang asc`.
    */
  def apply(rows: Array[(UTF8String, UTF8String, Int)], k: Int): CtModel = {
    val langs = rows.map(_._1).distinct.sortWith(_.binaryCompare(_) < 0)
    val idx = langs.zipWithIndex.toMap
    val m = new java.util.HashMap[UTF8String, Array[Long]](rows.length * 2)
    rows.groupBy(_._2).foreach { case (g, rs) =>
      m.put(g, rs.map(r => (idx(r._1).toLong << 32) | r._3.toLong))
    }
    new CtModel(langs, m, k)
  }
}

/** `ct_oop_score(profile)`: in-row Cavnar–Trenkle out-of-place argmin
  * against a broadcast [[CtModel]] — struct(_guess, _dist).
  */
case class CtOopScore(child: Expression, model: Broadcast[CtModel])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("_guess", StringType, nullable = false),
    StructField("_dist", LongType, nullable = true)))
  override def prettyName: String = "ct_oop_score"

  override protected def nullSafeEval(profile: Any): Any =
    model.value.score(profile.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ctModel", model,
      classOf[Broadcast[CtModel]].getName)
    defineCodeGen(ctx, ev, t =>
      s"((graft.functions.CtModel)$ref.value()).score($t)")
  }

  override protected def withNewChildInternal(newChild: Expression): CtOopScore =
    copy(child = newChild)
}

object LangIdFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def ctOopScore(profile: Column, model: Broadcast[CtModel]): Column =
    ColumnBridge.column(CtOopScore(ColumnBridge.expression(profile), model))
}
