package graft.sketch

import java.nio.ByteBuffer

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

/** KMV (k-minimum-values) distinct-value sketch as a native Catalyst
  * aggregate — the corpus-overlap primitive a 100 TB pipeline needs:
  * per-source distinct-element estimates AND pairwise source overlap
  * (Jaccard / intersection) from ONE scan, with no join of the raw data.
  *
  * The sketch of a group is the `k` smallest DISTINCT hash values seen
  * (Bar-Yossef et al. 2002; Beyer et al. 2007 "Distinct-value synopses").
  * Properties that make it the right shape for Spark:
  *
  *  - bounded state: the aggregation buffer is at most `k` longs, so
  *    map-side partial aggregation ships <= k values per group per
  *    partition — never the raw stream;
  *  - order-independent: "k smallest distinct" is a pure set function, so
  *    the result is identical under any partitioning / merge order (unlike
  *    reservoir sampling, whose output depends on merge order);
  *  - mergeable/composable: union of two sketches' values, re-trimmed to
  *    k, IS the sketch of the union — cross-group estimates need only the
  *    tiny aggregated result, and because the aggregate also accepts
  *    array<long> input, `sketch(sketchCol, k)` over per-group sketches
  *    rolls them up exactly (spec-verified equal to sketching the raw
  *    union), giving hierarchical source -> corpus rollups for free;
  *  - streaming-capable: the bounded buffer serializes into the state
  *    store like any TypedImperativeAggregate, so the same expression
  *    tracks per-key distinct estimates across micro-batches
  *    (spec-verified under update mode);
  *  - portable: over the md5-60 hash convention shared with the portable
  *    dedup twins (TextAlgo.md5Hash60 / `CAST(concat('0x',
  *    substr(md5(x),1,15)) AS BIGINT)`), any engine replays the sketch
  *    bit-for-bit — the whole pipeline is DuckDB-oracle-checkable (q70).
  *
  * Estimators (computed as plain codegen'd Column math over the sketch
  * arrays, [[Kmv.distinctEstimate]] / [[Kmv.jaccardEstimate]]):
  *  - distinct count: sketch smaller than k is exhaustive (exact count);
  *    otherwise (k-1) * 2^60 / h_(k), the classic KMV estimator over the
  *    [0, 2^60) hash domain;
  *  - Jaccard: U = k smallest of A union B; |U ∩ A ∩ B| / |U| (the merged
  *    sketch is a uniform sample of the union, so the fraction that lands
  *    in both sets estimates J with stderr ~ 1/sqrt(k)).
  *
  * Reference surface parity note: the reference engine has no sketch
  * surface; this is part of the beyond-the-reference LLM-pipeline mandate
  * (SURVEY §2.13).
  */
object Kmv {

  /** Sketch aggregate over a long hash column, or over array<long> (each
    * element added — lets callers feed per-document shingle-hash SETS
    * without an explode in the plan).
    */
  def sketch(hashes: Column, k: Int): Column =
    toCol(KmvSketchAgg(toExpr(hashes), k).toAggregateExpression())

  /** Portable 60-bit hash of a string column: first 15 hex chars of md5 —
    * the same [0, 2^60) convention as the portable dedup twins, so
    * sketches are engine-replayable.
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct-count estimate from a sketch array: exact when the sketch is
    * exhaustive (fewer than k distinct values existed), else the KMV
    * estimator (k-1) * 2^60 / h_(k). Plain codegen'd arithmetic.
    */
  def distinctEstimate(sk: Column, k: Int): Column =
    // NULL sketch (e.g. after an outer join) -> NULL, not the -1.0 that
    // size(null) would otherwise route into the "exact" branch.
    when(isnull(sk), lit(null).cast("double"))
      .when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(math.pow(2, 60)) /
        element_at(sk, k).cast("double"))

  /** Jaccard-similarity estimate between two sketch arrays (k smallest of
    * the union, fraction present in both); 0 when both sketches are empty.
    */
  def jaccardEstimate(a: Column, b: Column, k: Int): Column = {
    val u = slice(array_sort(array_distinct(concat(a, b))), 1, k)
    // NULL sketch -> NULL, like distinctEstimate: under legacy size
    // semantics size(null) = -1 would otherwise route an outer-join hole
    // into -1/-1 = perfect similarity
    when(isnull(a) || isnull(b), lit(null).cast("double"))
      .when(size(u) === 0, lit(0.0))
      .otherwise(size(array_intersect(array_intersect(u, a), b)).cast("double") /
        size(u).cast("double"))
  }

  /** Intersection-size estimate: J * |A union B|, with the union size
    * itself estimated from the merged sketch (built once and shared by
    * both factors).
    */
  def intersectionEstimate(a: Column, b: Column, k: Int): Column = {
    val u = slice(array_sort(array_distinct(concat(a, b))), 1, k)
    val frac = when(size(u) === 0, lit(0.0))
      .otherwise(size(array_intersect(array_intersect(u, a), b)).cast("double") /
        size(u).cast("double"))
    frac * distinctEstimate(u, k)
  }
}

/** Bounded k-smallest-distinct buffer: a TreeSet trimmed to `k`. Mutation
  * is add-only; the candidate is rejected in O(log k) when it is >= the
  * current k-th smallest.
  */
final class KmvBuffer(val k: Int) {
  private[sketch] val set = new java.util.TreeSet[java.lang.Long]()

  def add(v: Long): Unit = {
    if (set.size < k) { set.add(v); () }
    else if (v < set.last) { if (set.add(v)) { set.pollLast(); () } }
  }

  def mergeIn(o: KmvBuffer): Unit = {
    val it = o.set.iterator()
    while (it.hasNext) add(it.next())
  }

  def toSortedArray: Array[Long] = {
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    out
  }
}

/** The Catalyst aggregate function behind [[Kmv.sketch]]: a
  * TypedImperativeAggregate whose buffer is a [[KmvBuffer]], serialized as
  * length-prefixed longs for shuffle-side partial merge. Accepts a LONG
  * child (one hash per row) or ARRAY<LONG> (all elements added, null
  * elements skipped); output is the sorted sketch as array<long>.
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer] with UnaryLike[Expression] {

  require(k > 0, s"sketch size must be positive, got $k")

  // lazy: the child is unresolved (no dataType yet) when the analyzer
  // copies this node during resolution
  @transient private lazy val arrayInput: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a bigint or array<bigint> column, got $t")
  }

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buffer: KmvBuffer, input: InternalRow): KmvBuffer = {
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

  override def merge(buffer: KmvBuffer, input: KmvBuffer): KmvBuffer = {
    buffer.mergeIn(input)
    buffer
  }

  override def eval(buffer: KmvBuffer): Any = new GenericArrayData(buffer.toSortedArray)

  override def serialize(buffer: KmvBuffer): Array[Byte] = {
    val arr = buffer.toSortedArray
    val bb = ByteBuffer.allocate(4 + 8 * arr.length)
    bb.putInt(arr.length)
    var i = 0
    while (i < arr.length) { bb.putLong(arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new KmvBuffer(k)
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmv_sketch"
  override protected def withNewChildInternal(newChild: Expression): KmvSketchAgg =
    copy(child = newChild)
}
