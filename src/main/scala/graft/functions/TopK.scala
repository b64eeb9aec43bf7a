package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.shim
import org.apache.spark.sql.types._

/** Bounded top-k accumulator: the best `k` (= `sims.length`) entries
  * seen so far, kept sorted by (sim desc, cid asc). `n` is the filled
  * prefix length of the arrays.
  *
  * Ordering contract (must match the DuckDB oracles' `ORDER BY sim
  * DESC, cid`): higher sim first; IEEE `==` equality (so 0.0 and -0.0
  * tie, as in both engines' SQL comparisons) breaks ties by lower cid.
  * Dot products never produce NaN here (inputs are finite floats).
  */
final case class TopKBuf(sims: Array[Double], cids: Array[Long], var n: Int) {

  /** Insert one entry, keeping the buffer sorted; O(k) shift only when
    * the entry beats the current worst, O(1) reject otherwise — the
    * common case once the buffer is warm.
    */
  def insert(sim: Double, cid: Long): TopKBuf = {
    val k = sims.length
    if (n < k || TopKBuf.better(sim, cid, sims(n - 1), cids(n - 1))) {
      var i = math.min(n, k - 1) // insertion slot, walking left
      while (i > 0 && TopKBuf.better(sim, cid, sims(i - 1), cids(i - 1))) {
        sims(i) = sims(i - 1); cids(i) = cids(i - 1); i -= 1
      }
      sims(i) = sim; cids(i) = cid
      if (n < k) n += 1
    }
    this
  }

  /** Merge with another sorted buffer of the same `k` — the classic
    * two-pointer merge, bounded at k (runs once per (group, map
    * partition) at the final aggregate).
    */
  def merge(other: TopKBuf): TopKBuf = {
    if (other.n == 0) return this
    if (n == 0) return other
    val out = TopKBuf.empty(sims.length)
    var i = 0; var j = 0
    while (out.n < sims.length && (i < n || j < other.n)) {
      val takeLeft = j >= other.n ||
        (i < n && TopKBuf.better(sims(i), cids(i), other.sims(j), other.cids(j)))
      if (takeLeft) { out.sims(out.n) = sims(i); out.cids(out.n) = cids(i); i += 1 }
      else { out.sims(out.n) = other.sims(j); out.cids(out.n) = other.cids(j); j += 1 }
      out.n += 1
    }
    out
  }
}

object TopKBuf {
  def empty(k: Int): TopKBuf = TopKBuf(new Array[Double](k), new Array[Long](k), 0)

  /** a strictly better than b under (sim desc, cid asc)? */
  @inline def better(aSim: Double, aCid: Long, bSim: Double, bCid: Long): Boolean =
    if (aSim == bSim) aCid < bCid else aSim > bSim
}

/** Map-side bounded top-k per group — the scale-safe spelling of
  * "rank per query, keep the first k" — as a native
  * `TypedImperativeAggregate` over the primitive-array [[TopKBuf]].
  *
  * A `row_number` window over the scored stream shuffles EVERY scored
  * pair by qid before any row is discarded: for brute-force similarity
  * that is an n·m-row exchange that dwarfs everything else at 100×
  * scale. As an aggregate the accumulator is a k-bounded sorted buffer,
  * Spark runs it in partial mode BEFORE the exchange
  * (ObjectHashAggregate partial → shuffle → final merge), and the
  * exchange carries at most |queries|·k rows per map partition instead
  * of the full scored stream.
  *
  * Native rather than a `udaf(Aggregator)` for a measured r18 reason:
  * the wrapper (ScalaAggregator) pays an encoder round-trip PER INPUT
  * ROW — on the 400k-pair sf0.1 brute-force expansion the top-k partial
  * aggregation cost ~0.5 s wall / ~15 s CPU over 32 cores (~30 µs/row)
  * against ~0.2 s for the identical expansion folding through a
  * built-in sum; this expression's update is two bound-reference reads
  * + the O(1) reject/O(k) insert, with serialization only at the
  * per-(group, partition) shuffle boundary. The aggregation sits under
  * EVERY ANN/top-k query (presentTopK/rankedTopK — the x5 family, the
  * PQ/IVF family, BM25, trending keys). Result shape:
  * `struct<entries: array<struct<sim, cid>>>`, sorted best-first.
  */
case class TopKExpression(
    left: Expression,
    right: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKBuf] with BinaryLike[Expression] {

  require(k > 0, s"top-k requires k > 0, got $k")

  override def createAggregationBuffer(): TopKBuf = TopKBuf.empty(k)

  override def update(b: TopKBuf, input: InternalRow): TopKBuf = {
    val s = left.eval(input)
    val c = right.eval(input)
    if (s == null || c == null) return b // null-ignoring, the SQL agg norm
    b.insert(s.asInstanceOf[Double], c.asInstanceOf[Long])
  }

  override def merge(b1: TopKBuf, b2: TopKBuf): TopKBuf = b1.merge(b2)

  override def eval(b: TopKBuf): Any = {
    val entries = new Array[Any](b.n)
    var i = 0
    while (i < b.n) {
      entries(i) = new GenericInternalRow(Array[Any](b.sims(i), b.cids(i)))
      i += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(entries)))
  }

  override def serialize(b: TopKBuf): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(4 + b.n * 16)
    buf.putInt(b.n)
    var i = 0
    while (i < b.n) { buf.putDouble(b.sims(i)); buf.putLong(b.cids(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuf = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val n = buf.getInt
    val out = createAggregationBuffer()
    var i = 0
    while (i < n) { out.sims(i) = buf.getDouble; out.cids(i) = buf.getLong; i += 1 }
    out.n = n
    out
  }

  override def dataType: DataType = TopKExpression.resultType
  override def nullable: Boolean = false
  override def prettyName: String = "topk"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (DoubleType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"topk expects (double, bigint), got (${l.sql}, ${r.sql})")
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKExpression =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKExpression =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKExpression =
    copy(left = newLeft, right = newRight)
}

object TopKExpression {
  /** Downstream code reads `nb.entries` and the per-entry `sim`/`cid`. */
  val resultType: StructType = StructType(Seq(
    StructField("entries", ArrayType(StructType(Seq(
      StructField("sim", DoubleType, nullable = false),
      StructField("cid", LongType, nullable = false))),
      containsNull = false), nullable = false)))
}

object TopK {
  /** The aggregate as a two-column function: `topk(k)(sim, cid)` returns
    * `struct<entries: array<struct<sim, cid>>>` sorted best-first. Backed
    * by the native [[TopKExpression]] (r18); inputs are coerced to
    * (double, bigint) exactly as the previous udaf's input encoder did.
    */
  def topk(k: Int): (Column, Column) => Column = (sim, cid) =>
    shim.column(TopKExpression(
      shim.expression(sim.cast("double")), shim.expression(cid.cast("long")),
      k).toAggregateExpression())
}
