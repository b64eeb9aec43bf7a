package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types._

/** `mmr_picks(cands, sims)` — the per-query Maximal-Marginal-Relevance
  * greedy selection of [[graft.operators.Similarity.mmrRerank]], run
  * ROW-LOCALLY over one query's collected candidates.
  *
  * Exists for a measured r19 reason (guide §"job count"): the greedy
  * pick r depends on picks 1..r−1 BY DEFINITION, so the r18 spelling
  * ran k−1 driver-sequenced checkpoint rounds (anti-join + argmax +
  * union each) over relations that are ≤ m rows per query — a job profile
  * measured 40 jobs / no stage over 0.3 s: pure scheduling latency at
  * sf0.1, and k−1 cluster-wide barriers at 100 TB. Both inputs are
  * bounded by the LITERAL m (top-m candidates, m·(m−1) pair sims),
  * never by the corpus, so the local fold is the principled
  * distributed plan — the corpus-sized work (scoring + top-m) stays in
  * the map-side TopK aggregate upstream.
  *
  * Exactness contract (the oracle pins every pick):
  *  - round-1 pick maximizes (rel, −cid); its score is
  *    `λ·rel / 100` with Catalyst's Int→Double coercion order;
  *  - round r ≥ 2 maximizes (score, rel, −cid) over unpicked
  *    candidates, score = `(λ·rel − (100−λ)·msim) / 100`, msim = max
  *    pair sim to the already-picked set — sims arrive COLLECTED from
  *    the same DotProductExpression rows the r18 plan aggregated,
  *    never recomputed;
  *  - double comparisons replicate Catalyst's total order
  *    (`SQLOrderingUtil.compareDoubles`: IEEE `==` first — so
  *    −0.0 ties 0.0 — then `java.lang.Double.compare`, NaN greatest).
  *
  * `sims` is NULL for a single-candidate query (no pairs survive the
  * self-join) — treated as empty; selection then stops after pick 1
  * exactly as the r18 inner msim join produced no round-2 row.
  */
object MmrGreedyUtil {
  /** Catalyst's double total order (SQLOrderingUtil.compareDoubles). */
  @inline def cmpD(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  def picks(cands: ArrayData, sims: ArrayData, k: Int, lambdaPct: Int): ArrayData = {
    val n = cands.numElements()
    val cids = new Array[Long](n)
    val rels = new Array[Double](n)
    var i = 0
    while (i < n) {
      val r = cands.getStruct(i, 2)
      cids(i) = r.getLong(0)
      rels(i) = r.getDouble(1)
      i += 1
    }
    val simMap = new java.util.HashMap[(Long, Long), java.lang.Double]()
    if (sims != null) {
      var j = 0
      while (j < sims.numElements()) {
        val r = sims.getStruct(j, 3)
        simMap.put((r.getLong(0), r.getLong(1)), r.getDouble(2))
        j += 1
      }
    }
    val used = new Array[Boolean](n)
    val out = new Array[Any](math.min(k, n))
    var rank = 0
    val lam = lambdaPct.toDouble
    val oneMinusLam = (100 - lambdaPct).toDouble
    val selected = new Array[Int](math.min(k, n))
    while (rank < k) {
      var best = -1
      var bestScore = 0.0
      i = 0
      while (i < n) {
        if (!used(i)) {
          val score =
            if (rank == 0) lam * rels(i) / 100.0
            else {
              // msim = max over picked of the collected pair sim; every
              // (candidate, picked) pair exists by construction when
              // n >= 2, and rank >= 1 implies n >= 1 picked
              var msim = Double.NaN
              var first = true
              var p = 0
              while (p < rank) {
                val s = simMap.get((cids(i), cids(selected(p))))
                if (s != null) {
                  val sv = s.doubleValue()
                  if (first || cmpD(sv, msim) > 0) { msim = sv; first = false }
                }
                p += 1
              }
              if (first) Double.NaN // unreachable: pairs are complete
              else (lam * rels(i) - oneMinusLam * msim) / 100.0
            }
          val take =
            if (best < 0) true
            else {
              val c1 = cmpD(score, bestScore)
              if (c1 != 0) c1 > 0
              else {
                val c2 = cmpD(rels(i), rels(best))
                if (c2 != 0) c2 > 0 else cids(i) < cids(best)
              }
            }
          if (take) { best = i; bestScore = score }
        }
        i += 1
      }
      if (best < 0) {
        // fewer than k candidates: stop, exactly as the r18 rounds
        // produced no pick row once the anti-join emptied
        val trimmed = new Array[Any](rank)
        System.arraycopy(out, 0, trimmed, 0, rank)
        return new GenericArrayData(trimmed)
      }
      used(best) = true
      selected(rank) = best
      out(rank) = new GenericInternalRow(
        Array[Any](rank + 1, cids(best), rels(best), bestScore))
      rank += 1
    }
    new GenericArrayData(out)
  }
}

case class MmrGreedyExpression(
    left: Expression, right: Expression, k: Int, lambdaPct: Int)
    extends BinaryExpression with CodegenFallback {

  require(k >= 1, s"mmr_picks needs k >= 1, got $k")
  require(lambdaPct >= 0 && lambdaPct <= 100, s"lambdaPct ($lambdaPct) is a percent")

  override def checkInputDataTypes(): TypeCheckResult = {
    val candOk = left.dataType match {
      case ArrayType(StructType(Array(a, b)), _)
        if a.dataType == LongType && b.dataType == DoubleType => true
      case _ => false
    }
    val simOk = right.dataType match {
      case ArrayType(StructType(Array(a, b, c)), _)
        if a.dataType == LongType && b.dataType == LongType &&
          c.dataType == DoubleType => true
      case _ => false
    }
    if (candOk && simOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "mmr_picks expects (array<struct<bigint,double>>, " +
        s"array<struct<bigint,bigint,double>>), got (${left.dataType.sql}, " +
        s"${right.dataType.sql})")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("mmr_rank", IntegerType, nullable = false),
    StructField("cid", LongType, nullable = false),
    StructField("rel", DoubleType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)

  override def nullable: Boolean = left.nullable

  // custom eval, NOT nullSafeEval: a single-candidate query arrives
  // with a NULL sims array (left join) and must still produce pick 1
  override def eval(input: InternalRow): Any = {
    val c = left.eval(input)
    if (c == null) return null
    val s = right.eval(input)
    MmrGreedyUtil.picks(
      c.asInstanceOf[ArrayData],
      if (s == null) null else s.asInstanceOf[ArrayData],
      k, lambdaPct)
  }

  override def prettyName: String = "mmr_picks"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MmrGreedyExpression =
    copy(left = newLeft, right = newRight)
}

object MmrGreedy {
  /** The greedy MMR pick list as a two-column function — see
    * [[MmrGreedyExpression]] for the exactness contract.
    */
  def mmrPicks(k: Int, lambdaPct: Int): (Column, Column) => Column =
    (cands, sims) => shim.column(
      MmrGreedyExpression(shim.expression(cands), shim.expression(sims), k, lambdaPct))
}
