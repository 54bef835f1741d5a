package graft.sql

import graft.functions._
import graft.sketch.KmvSketchAgg
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayIntersect, CaseWhen, Cast, Concat, CreateArray, Divide, ElementAt, EqualTo, Expression, ExpressionInfo, IsNull, LessThan, Literal, Multiply, Or, Size, Slice, SortArray}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for the graft function library: every compiled Catalyst
  * expression (and the KMV sketch aggregate) registered as a named SQL
  * function, so `spark.sql("SELECT graft_cosine_sim(a, b) ...")` works
  * with zero Scala imports — the route a SQL-first lakehouse user or a
  * JDBC/Thrift client takes.
  *
  * Two equivalent activation paths:
  *  - config: `spark.sql.extensions=graft.sql.GraftExtensions` at session
  *    build time (the standard [[SparkSessionExtensions]] contract);
  *  - runtime: [[GraftFunctions.register]] on an existing session.
  *
  * All names carry a `graft_` prefix so no current or future Spark
  * builtin can collide. Scalar-parameter arguments (shingle size, hash
  * counts, seeds) must be foldable integer literals — they parameterize
  * compiled kernels, not per-row values — and builders fail fast with
  * the function name when misused.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

object GraftFunctions {
  import SqlLiterals.{int, string}

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Register every graft SQL function on a live session (idempotent:
    * re-registration replaces the same name).
    */
  def register(spark: SparkSession): Unit =
    all.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }

  // ---- builder plumbing ---------------------------------------------------

  private def expectArity(fn: String, args: Seq[Expression], n: Int): Unit =
    if (args.length != n)
      throw new IllegalArgumentException(s"$fn expects $n argument(s), got ${args.length}")

  private def fd(name: String, clazz: Class[_], arity: Int)(
      builder: Seq[Expression] => Expression): FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, null, name),
      (args: Seq[Expression]) => { expectArity(name, args, arity); builder(args) })

  /** A kernel's SQL function: its columns, then each parameter SQL does
    * not fix, read from a literal.
    */
  private def kernelFunction(k: Kernel, name: String): FunctionDescription = {
    val nIn = k.inputs.length
    val sqlParams = k.params.count(_.sqlValue.isEmpty)
    fd(name, classOf[KernelExpr], nIn + sqlParams) { a =>
      var pos = nIn - 1
      val values = k.params.map(p => p.sqlValue.getOrElse {
        pos += 1
        p.fromSql.get(name, a, pos)
      })
      k.expr(a.take(nIn) ++ values: _*)
    }
  }

  // ---- the registry -------------------------------------------------------

  val all: Seq[FunctionDescription] =
    Kernels.all.flatMap(k => k.sqlName.map(kernelFunction(k, _))) ++ Seq(
      fd("graft_word_bigrams", classOf[KernelExpr], 1)(a =>
        Kernels.wordNgramStream.expr(a(0), 2, false)),
      // aggregate: the analyzer wraps a returned AggregateFunction in an
      // AggregateExpression itself (the same path every builtin SQL
      // aggregate takes through FunctionRegistry)
      fd("graft_kmv_sketch", classOf[KmvSketchAgg], 2)(a =>
        KmvSketchAgg(a(0), int("graft_kmv_sketch", a, 1))),
      // estimators: expand to the same composed builtin-expression tree as
      // the Column API builds (an inlined SQL macro — nothing new to
      // execute; constructed from catalyst nodes directly because a
      // Column->Expression bridge would leave unresolved ColumnNode
      // wrappers the analyzer never revisits inside a function builder)
      fd("graft_kmv_distinct_estimate", classOf[KmvSketchAgg], 2)(a =>
        kmvDistinctEstimateExpr(a(0), int("graft_kmv_distinct_estimate", a, 1))),
      fd("graft_kmv_jaccard_estimate", classOf[KmvSketchAgg], 3)(a =>
        kmvJaccardEstimateExpr(a(0), a(1), int("graft_kmv_jaccard_estimate", a, 2))),
      fd("graft_vec_pool", classOf[graft.similarity.VecPoolAgg], 2)(a =>
        graft.similarity.VecPoolAgg(a(0),
          graft.similarity.VecPoolAgg.modeOf(string("graft_vec_pool", a, 1)))),
      fd("graft_hll_sketch", classOf[graft.sketch.HllSketchAgg], 2)(a =>
        graft.sketch.HllSketchAgg(a(0), int("graft_hll_sketch", a, 1))),
      fd("graft_hll_merge", classOf[graft.sketch.HllMergeAgg], 2)(a =>
        graft.sketch.HllMergeAgg(a(0), int("graft_hll_merge", a, 1))))

  /** Catalyst twin of [[graft.sketch.Kmv.distinctEstimate]] — keep the two
    * in lockstep (KmvSpec asserts SQL/Column parity).
    */
  private def kmvDistinctEstimateExpr(sk: Expression, k: Int): Expression =
    CaseWhen(
      Seq(
        // NULL sketch -> NULL (size(null) is -1 and would hit the < k arm)
        (IsNull(sk), Literal(null, DoubleType)),
        (LessThan(Size(sk), Literal(k)), Cast(Size(sk), DoubleType))),
      Some(Divide(
        Multiply(Literal((k - 1).toDouble), Literal(math.pow(2, 60))),
        Cast(ElementAt(sk, Literal(k)), DoubleType))))

  /** Catalyst twin of [[graft.sketch.Kmv.jaccardEstimate]]. */
  private def kmvJaccardEstimateExpr(a: Expression, b: Expression, k: Int): Expression = {
    def union = Slice(new SortArray(ArrayDistinct(Concat(Seq(a, b)))),
      Literal(1), Literal(k))
    CaseWhen(
      Seq(
        // NULL sketch -> NULL, mirroring kmvDistinctEstimateExpr: under
        // legacy size semantics an outer-join hole would otherwise score
        // -1/-1 = perfect similarity
        (Or(IsNull(a), IsNull(b)), Literal(null, DoubleType)),
        (EqualTo(Size(union), Literal(0)), Literal(0.0))),
      Some(Divide(
        Cast(Size(ArrayIntersect(ArrayIntersect(union, a), b)), DoubleType),
        Cast(Size(union), DoubleType))))
  }
}

/** Readers of the literal arguments that parameterize graft SQL functions
  * (shingle sizes, hash counts, seeds, pattern lists): compiled-kernel
  * parameters, not per-row values, so anything but a literal fails fast
  * with the function name and the argument position.
  */
private[graft] object SqlLiterals {

  private def fail(fn: String, pos: Int, what: String, got: Expression): Nothing =
    throw new IllegalArgumentException(s"$fn: argument ${pos + 1} must be $what, got $got")

  def int(fn: String, args: Seq[Expression], pos: Int): Int =
    args(pos) match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) if v.isValidInt => v.toInt
      case other => fail(fn, pos, "an integer literal", other)
    }

  def long(fn: String, args: Seq[Expression], pos: Int): Long =
    args(pos) match {
      case Literal(v: Int, _) => v.toLong
      case Literal(v: Long, _) => v
      case other => fail(fn, pos, "an integer literal", other)
    }

  def string(fn: String, args: Seq[Expression], pos: Int): String =
    args(pos) match {
      case Literal(v: UTF8String, _) => v.toString
      case other => fail(fn, pos, "a string literal", other)
    }

  def strings(fn: String, args: Seq[Expression], pos: Int): Seq[String] =
    args(pos) match {
      // array('a', 'b') arrives as CreateArray of string literals
      case CreateArray(items, _) if items.forall {
            case Literal(_: UTF8String, _) => true
            case _ => false
          } =>
        items.map { case Literal(v: UTF8String, _) => v.toString }
      // a folded/pre-evaluated literal array
      case Literal(v: ArrayData, ArrayType(t, _)) if t.isInstanceOf[StringType] =>
        v.toObjectArray(t).toSeq.map(_.asInstanceOf[UTF8String].toString)
      case other => fail(fn, pos, "an array of string literals", other)
    }

  def bool(fn: String, args: Seq[Expression], pos: Int): Boolean =
    args(pos) match {
      case Literal(v: Boolean, _) => v
      case other => fail(fn, pos, "a boolean literal", other)
    }
}
