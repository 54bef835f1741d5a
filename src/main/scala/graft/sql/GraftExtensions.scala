package graft.sql

import graft.functions._
import graft.sketch.KmvSketchAgg
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ArrayIntersect, CaseWhen, Cast, Concat, Divide, ElementAt, EqualTo, Expression, ExpressionInfo, IsNull, LessThan, Literal, Multiply, Or, Size, Slice, SortArray}
import org.apache.spark.sql.types.DoubleType

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

  private def intLit(fn: String, args: Seq[Expression], pos: Int): Int =
    args(pos) match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) if v.isValidInt => v.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be an integer literal, got $other")
    }

  private def longLit(fn: String, args: Seq[Expression], pos: Int): Long =
    args(pos) match {
      case Literal(v: Int, _) => v.toLong
      case Literal(v: Long, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be an integer literal, got $other")
    }

  private def strLit(fn: String, args: Seq[Expression], pos: Int): String =
    args(pos) match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be a string literal, got $other")
    }

  private def strArrayLit(fn: String, args: Seq[Expression], pos: Int): Seq[String] =
    args(pos) match {
      // array('a', 'b') arrives as CreateArray of string literals
      case org.apache.spark.sql.catalyst.expressions.CreateArray(items, _)
          if items.forall {
            case Literal(_: org.apache.spark.unsafe.types.UTF8String, _) => true
            case _ => false
          } =>
        items.map { case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString }
      // a folded/pre-evaluated literal array
      case Literal(v: org.apache.spark.sql.catalyst.util.ArrayData,
          org.apache.spark.sql.types.ArrayType(t, _)) if t.isInstanceOf[org.apache.spark.sql.types.StringType] =>
        v.toObjectArray(t).toSeq.map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be an array of string literals, got $other")
    }

  private def boolLit(fn: String, args: Seq[Expression], pos: Int): Boolean =
    args(pos) match {
      case Literal(v: Boolean, _) => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be a boolean literal, got $other")
    }

  private def fd(name: String, clazz: Class[_], arity: Int)(
      builder: Seq[Expression] => Expression): FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, null, name),
      (args: Seq[Expression]) => { expectArity(name, args, arity); builder(args) })

  // ---- the registry -------------------------------------------------------

  val all: Seq[FunctionDescription] = Seq(
    fd("graft_minhash_sig", classOf[MinHashSigExpr], 4)(a =>
      MinHashSigExpr(a(0), intLit("graft_minhash_sig", a, 1),
        intLit("graft_minhash_sig", a, 2), longLit("graft_minhash_sig", a, 3))),
    fd("graft_minhash_portable_sig", classOf[MinhashPortableSigExpr], 4)(a =>
      MinhashPortableSigExpr(a(0), intLit("graft_minhash_portable_sig", a, 1),
        intLit("graft_minhash_portable_sig", a, 2), longLit("graft_minhash_portable_sig", a, 3))),
    fd("graft_shingle_hash_set", classOf[ShingleHashSetExpr], 2)(a =>
      ShingleHashSetExpr(a(0), intLit("graft_shingle_hash_set", a, 1))),
    fd("graft_shingle_hash_set_portable", classOf[ShingleHashSetPortableExpr], 2)(a =>
      ShingleHashSetPortableExpr(a(0), intLit("graft_shingle_hash_set_portable", a, 1))),
    fd("graft_jaccard_sorted", classOf[JaccardSortedExpr], 2)(a =>
      JaccardSortedExpr(a(0), a(1))),
    fd("graft_simhash64", classOf[SimHash64Expr], 1)(a => SimHash64Expr(a(0))),
    fd("graft_simhash60_portable", classOf[SimHash60PortableExpr], 1)(a =>
      SimHash60PortableExpr(a(0))),
    fd("graft_winnowing", classOf[WinnowingExpr], 3)(a =>
      WinnowingExpr(a(0), intLit("graft_winnowing", a, 1), intLit("graft_winnowing", a, 2))),
    fd("graft_winnowing_portable", classOf[WinnowingPortableExpr], 3)(a =>
      WinnowingPortableExpr(a(0), intLit("graft_winnowing_portable", a, 1),
        intLit("graft_winnowing_portable", a, 2))),
    fd("graft_dup_ngram_fraction", classOf[DupNgramFractionExpr], 2)(a =>
      DupNgramFractionExpr(a(0), intLit("graft_dup_ngram_fraction", a, 1))),
    fd("graft_word_ngrams", classOf[WordNgramsExpr], 2)(a =>
      WordNgramsExpr(a(0), intLit("graft_word_ngrams", a, 1))),
    fd("graft_word_chunks", classOf[WordChunksExpr], 2)(a =>
      WordChunksExpr(a(0), intLit("graft_word_chunks", a, 1))),
    fd("graft_ascii_tokens", classOf[AsciiTokensExpr], 1)(a => AsciiTokensExpr(a(0))),
    fd("graft_word_bigrams", classOf[WordNgramStreamExpr], 1)(a => WordNgramStreamExpr(a(0), 2)),
    fd("graft_word_ngram_stream", classOf[WordNgramStreamExpr], 2)(a =>
      WordNgramStreamExpr(a(0), intLit("graft_word_ngram_stream", a, 1))),
    fd("graft_ngram_hash_pairs", classOf[NgramHashPairsExpr], 2)(a =>
      NgramHashPairsExpr(a(0), intLit("graft_ngram_hash_pairs", a, 1))),
    fd("graft_case_fold_simple", classOf[CaseFoldSimpleExpr], 1)(a =>
      CaseFoldSimpleExpr(a(0))),
    fd("graft_lang_guess", classOf[LangGuessExpr], 1)(a =>
      LangGuessExpr(a(0), TextFunctions.defaultLangMarkers)),
    fd("graft_dot_product", classOf[DotProductExpr], 2)(a => DotProductExpr(a(0), a(1))),
    fd("graft_cosine_sim", classOf[CosineSimExpr], 2)(a => CosineSimExpr(a(0), a(1))),
    fd("graft_dist2", classOf[Dist2Expr], 2)(a => Dist2Expr(a(0), a(1))),
    fd("graft_vec_max_abs", classOf[VecMaxAbsExpr], 1)(a => VecMaxAbsExpr(a(0))),
    fd("graft_quantize_int8", classOf[QuantizeInt8Expr], 1)(a => QuantizeInt8Expr(a(0))),
    fd("graft_quant_sum_int8", classOf[QuantSumInt8Expr], 1)(a => QuantSumInt8Expr(a(0))),
    // aggregate: the analyzer wraps a returned AggregateFunction in an
    // AggregateExpression itself (the same path every builtin SQL
    // aggregate takes through FunctionRegistry)
    fd("graft_kmv_sketch", classOf[KmvSketchAgg], 2)(a =>
      KmvSketchAgg(a(0), intLit("graft_kmv_sketch", a, 1))),
    // estimators: expand to the same composed builtin-expression tree as
    // the Column API builds (an inlined SQL macro — nothing new to
    // execute; constructed from catalyst nodes directly because a
    // Column->Expression bridge would leave unresolved ColumnNode
    // wrappers the analyzer never revisits inside a function builder)
    fd("graft_kmv_distinct_estimate", classOf[KmvSketchAgg], 2)(a =>
      kmvDistinctEstimateExpr(a(0), intLit("graft_kmv_distinct_estimate", a, 1))),
    fd("graft_kmv_jaccard_estimate", classOf[KmvSketchAgg], 3)(a =>
      kmvJaccardEstimateExpr(a(0), a(1), intLit("graft_kmv_jaccard_estimate", a, 2))),
    fd("graft_vec_pool", classOf[graft.similarity.VecPoolAgg], 2)(a =>
      graft.similarity.VecPoolAgg(a(0),
        graft.similarity.VecPoolAgg.modeOf(strLit("graft_vec_pool", a, 1)))),
    fd("graft_remove_spans", classOf[RemoveSpansExpr], 2)(a =>
      RemoveSpansExpr(a(0), a(1))),
    // round-7 additions: the multilingual tokenization tier and the
    // MinHash jaccard-estimate numerator
    fd("graft_unicode_tokens", classOf[UnicodeTokensExpr], 1)(a =>
      UnicodeTokensExpr(a(0))),
    fd("graft_sig_match_count", classOf[SigMatchCountExpr], 2)(a =>
      SigMatchCountExpr(a(0), a(1))),
    // round-8 additions: C4 line retention and NFC canonical composition
    fd("graft_c4_keep_lines", classOf[C4KeepLinesExpr], 2)(a =>
      C4KeepLinesExpr(a(0), intLit("graft_c4_keep_lines", a, 1))),
    fd("graft_nfc_normalize", classOf[NfcNormalizeExpr], 1)(a =>
      NfcNormalizeExpr(a(0))),
    // round-8 late additions: the HLL sketch surface and perceptual
    // image hashing (dedup over binary payloads straight from SQL)
    fd("graft_hll_sketch", classOf[graft.sketch.HllSketchAgg], 2)(a =>
      graft.sketch.HllSketchAgg(a(0), intLit("graft_hll_sketch", a, 1))),
    fd("graft_hll_merge", classOf[graft.sketch.HllMergeAgg], 2)(a =>
      graft.sketch.HllMergeAgg(a(0), intLit("graft_hll_merge", a, 1))),
    fd("graft_hll_estimate", classOf[graft.sketch.HllEstimateExpr], 2)(a =>
      graft.sketch.HllEstimateExpr(a(0), intLit("graft_hll_estimate", a, 1))),
    fd("graft_image_dhash64", classOf[graft.multimodal.DHash64Expr], 1)(a =>
      graft.multimodal.DHash64Expr(a(0))),
    fd("graft_blocklist_hits", classOf[BlocklistHitsExpr], 3)(a =>
      BlocklistHitsExpr(a(0), strArrayLit("graft_blocklist_hits", a, 1),
        boolLit("graft_blocklist_hits", a, 2))),
    fd("graft_strip_lines_by_fp", classOf[graft.dedup.StripLinesByFpExpr], 2)(a =>
      graft.dedup.StripLinesByFpExpr(a(0), a(1))))

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
