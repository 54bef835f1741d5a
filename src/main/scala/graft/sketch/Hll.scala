package graft.sketch

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.types._

/** HyperLogLog distinct-count sketch as a native Catalyst aggregate
  * (Flajolet et al. 2007), the fixed-size companion to the KMV sketch
  * ([[Kmv]]): where KMV keeps the k smallest hashes (variable content,
  * supports Jaccard), HLL keeps `m = 2^p` one-byte registers (fixed
  * 2 KiB state at p = 11 regardless of cardinality) — the shape used for
  * per-partition / per-source distinct-document and distinct-token
  * accounting across a 100 TB corpus, where millions of group sketches
  * must stay resident and mergeable.
  *
  * Scale properties (same contract as [[KmvSketchAgg]]):
  *  - bounded state: the aggregation buffer is exactly `m` bytes, so
  *    map-side partial aggregation ships 2 KiB per group per partition;
  *  - order-independent: registers are per-slot maxima, so any
  *    partitioning / merge order yields BIT-IDENTICAL registers (an
  *    engine-portable value, unlike e.g. reservoir samples);
  *  - mergeable: elementwise max of two register arrays IS the sketch of
  *    the union — [[Hll.mergeSketches]] re-aggregates stored register
  *    arrays without touching raw data (the q73 rollup pattern);
  *  - streaming-capable: the byte buffer serializes into the state store
  *    like any TypedImperativeAggregate.
  *
  * Portability contract: input hashes are the md5-60 convention
  * ([[Kmv.hash60]], domain [0, 2^60)). With `p` index bits the register
  * index is the TOP p bits (`h >> (60-p)`) and rho is the position of the
  * most-significant 1 in the remaining `w = 60-p` bits (1-based; all-zero
  * suffix gives rho = w+1). Both are pure integer functions of the hash,
  * so another engine replays the registers exactly: DuckDB computes the
  * index as `h // 2^(60-p)` and rho as `(w+1) - length(format('{:b}',
  * suffix))` (q109). The estimator is then deterministic double
  * arithmetic over exact integer register summaries (see
  * [[Hll.harmonicSum]]), valid to compare after rounding.
  *
  * Reference surface parity note: the reference engine has no sketch
  * surface; this is part of the beyond-the-reference LLM-pipeline mandate
  * (SURVEY §2.13, L70).
  */
object Hll {

  /** Max meaningful rho for `p` index bits over the 60-bit domain. */
  def maxRho(p: Int): Int = 60 - p + 1

  /** Sketch aggregate over md5-60 long hashes (or array<long> of them);
    * result is the register array as array<int> of length 2^p.
    */
  def sketch(hashes: Column, p: Int): Column =
    toCol(HllSketchAgg(toExpr(hashes), p).toAggregateExpression())

  /** Merge aggregate over stored register arrays (array<int>): elementwise
    * max — the sketch of the union of the underlying sets. Feeding
    * per-group sketches through this equals sketching the raw union
    * (spec-verified), so corpus-wide rollups never re-scan raw data.
    */
  def mergeSketches(registers: Column, p: Int): Column =
    toCol(HllMergeAgg(toExpr(registers), p).toAggregateExpression())

  /** Count of zero registers (the linear-counting input V). */
  def zeroCount(reg: Column): Column =
    size(filter(reg, r => r === 0))

  /** Exact-integer harmonic-sum summary: S = sum_j 2^(maxRho - M_j), a
    * LONG (every term a power of two <= 2^maxRho; at p=11 the sum is
    * bounded by 2^61). The true harmonic sum is S / 2^maxRho; keeping S
    * integral makes the register summary engine-portable with NO
    * floating-point accumulation-order concerns.
    */
  def harmonicSum(reg: Column, p: Int): Column =
    aggregate(reg, lit(0L), (acc, r) => acc +
      // functions.shiftleft only takes a literal shift — build the
      // ShiftLeft expression directly for the column-valued amount
      toCol(org.apache.spark.sql.catalyst.expressions.ShiftLeft(
        toExpr(lit(1L)), toExpr(lit(maxRho(p)) - r))))

  /** Order-independent integer register checksum: sum_j (j+1) * M_j —
    * pins the full register CONTENT in the oracle without emitting 2^p
    * columns.
    */
  def checksum(reg: Column): Column =
    aggregate(zip_with(reg, sequence(lit(1), size(reg)), (r, i) => r.cast("long") * i),
      lit(0L), (acc, x) => acc + x)

  /** alpha_m bias constant (Flajolet et al. 2007 Fig. 3). Computed with a
    * fixed operation order so an oracle writing the same literal formula
    * gets the identical double.
    */
  def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1 + 1.079 / m.toDouble)
  }

  /** Cardinality estimate from the register array: raw estimator
    * alpha * m^2 * 2^maxRho / S (deterministic double division of exact
    * integers), with the standard small-range linear-counting branch
    * m * ln(m / V) when V > 0 and the raw estimate is <= 2.5 m. The
    * 2^32 large-range correction does not apply over the 2^60 hash
    * domain and is omitted.
    */
  def estimate(reg: Column, p: Int): Column = {
    val m = 1 << p
    val s = harmonicSum(reg, p)
    val v = zeroCount(reg)
    // alpha * m^2 * 2^maxRho as ONE scala-side double with the same
    // left-assoc op order the oracle SQL writes out
    val num = alpha(m) * m * m * math.pow(2.0, maxRho(p))
    val raw = lit(num) / s.cast("double")
    when(isnull(reg), lit(null).cast("double"))
      .when(v > 0 && raw <= lit(2.5 * m), lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double")))
      .otherwise(raw)
  }

  /** [[estimate]] as ONE compiled scalar kernel
    * ([[graft.functions.Kernels.hllEstimate]]) — the SQL-surface route
    * (`graft_hll_estimate`); bit-identical to the builtin composition
    * (spec-enforced).
    */
  def estimateCompiled(reg: Column, p: Int): Column =
    graft.functions.Kernels.hllEstimate(reg, p)

  /** JVM twin of [[estimate]]'s arithmetic for the compiled kernel:
    * IDENTICAL operation order (alpha * m * m * 2^maxRho, then one
    * double division of the exact integer harmonic sum), so compiled
    * and builtin-composed estimates agree bit-for-bit. Register values
    * outside [0, maxRho] get the same Java shift semantics the builtin
    * ShiftLeft applies; a NULL element nulls the whole estimate, like
    * the builtin aggregate's null propagation.
    */
  def estimateFromRegisters(arr: ArrayData, p: Int): java.lang.Double = {
    if (arr == null) return null
    val m = 1 << p
    val cap = maxRho(p)
    var s = 0L
    var v = 0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val r = arr.getInt(i)
      if (r == 0) v += 1
      s += 1L << (cap - r)
      i += 1
    }
    val num = alpha(m) * m * m * math.pow(2.0, cap)
    val raw = num / s.toDouble
    if (v > 0 && raw <= 2.5 * m) m.toDouble * math.log(m.toDouble / v)
    else raw
  }
}

/** Fixed-size register buffer: m bytes, slot-max semantics. */
final class HllBuffer(val p: Int) {
  val reg = new Array[Byte](1 << p)
  private val wBits = 60 - p
  private val idxMask = (1 << p) - 1
  private val wMask = (1L << wBits) - 1

  /** Add an md5-60 hash. Hashes outside [0, 2^60) are masked into the
    * domain (cannot occur via [[Kmv.hash60]]; the mask keeps a stray
    * value from indexing out of bounds).
    */
  def add(h: Long): Unit = {
    val idx = ((h >>> wBits) & idxMask).toInt
    val w = h & wMask
    val rho = if (w == 0L) wBits + 1 else wBits + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
    if (rho > reg(idx)) reg(idx) = rho.toByte
  }

  def setMax(idx: Int, r: Int): Unit =
    if (r > reg(idx)) reg(idx) = r.toByte

  def mergeIn(o: HllBuffer): Unit = {
    var i = 0
    while (i < reg.length) { if (o.reg(i) > reg(i)) reg(i) = o.reg(i); i += 1 }
  }

  def toIntArray: Array[Int] = {
    val out = new Array[Int](reg.length)
    var i = 0
    while (i < reg.length) { out(i) = reg(i).toInt; i += 1 }
    out
  }
}

/** The Catalyst aggregate behind [[Hll.sketch]]: buffer is an
  * [[HllBuffer]] serialized as the raw m-byte register block. Accepts a
  * LONG child (one hash per row) or ARRAY<LONG> (all elements added, null
  * elements skipped); output is the register array as array<int>.
  */
case class HllSketchAgg(
    child: Expression,
    p: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllBuffer] with UnaryLike[Expression] {

  require(p >= 4 && p <= 16, s"precision must be in [4, 16], got $p")

  @transient private lazy val arrayInput: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint or array<bigint> column, got $t")
  }

  override def createAggregationBuffer(): HllBuffer = new HllBuffer(p)

  override def update(buffer: HllBuffer, input: InternalRow): HllBuffer = {
    val v = child.eval(input)
    if (v != null) {
      if (arrayInput) {
        val arr = v.asInstanceOf[ArrayData]
        var i = 0
        val n = arr.numElements()
        while (i < n) {
          if (!arr.isNullAt(i)) buffer.add(arr.getLong(i))
          i += 1
        }
      } else buffer.add(v.asInstanceOf[Long])
    }
    buffer
  }

  override def merge(buffer: HllBuffer, input: HllBuffer): HllBuffer = {
    buffer.mergeIn(input)
    buffer
  }

  override def eval(buffer: HllBuffer): Any = new GenericArrayData(buffer.toIntArray)

  override def serialize(buffer: HllBuffer): Array[Byte] = buffer.reg.clone()

  override def deserialize(bytes: Array[Byte]): HllBuffer = {
    val buf = new HllBuffer(p)
    System.arraycopy(bytes, 0, buf.reg, 0, bytes.length)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hll_sketch"
  override protected def withNewChildInternal(newChild: Expression): HllSketchAgg =
    copy(child = newChild)
}

/** Register-merge aggregate behind [[Hll.mergeSketches]]: child is an
  * ARRAY<INT> register array of length 2^p; the result is the elementwise
  * max — the union sketch. Null rows are skipped; register values are
  * clamped into [0, maxRho] (values above cannot arise from
  * [[HllSketchAgg]]).
  */
case class HllMergeAgg(
    child: Expression,
    p: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HllBuffer] with UnaryLike[Expression] {

  require(p >= 4 && p <= 16, s"precision must be in [4, 16], got $p")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<int> register column, got $t")
  }

  override def createAggregationBuffer(): HllBuffer = new HllBuffer(p)

  override def update(buffer: HllBuffer, input: InternalRow): HllBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(arr.numElements(), 1 << p)
      val cap = Hll.maxRho(p)
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val r = arr.getInt(i)
          buffer.setMax(i, math.min(math.max(r, 0), cap))
        }
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: HllBuffer, input: HllBuffer): HllBuffer = {
    buffer.mergeIn(input)
    buffer
  }

  override def eval(buffer: HllBuffer): Any = new GenericArrayData(buffer.toIntArray)

  override def serialize(buffer: HllBuffer): Array[Byte] = buffer.reg.clone()

  override def deserialize(bytes: Array[Byte]): HllBuffer = {
    val buf = new HllBuffer(p)
    System.arraycopy(bytes, 0, buf.reg, 0, bytes.length)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hll_merge"
  override protected def withNewChildInternal(newChild: Expression): HllMergeAgg =
    copy(child = newChild)
}
