package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native Catalyst expressions wrapping the [[TextAlgo]] kernels.
  *
  * Each generates a single static call in whole-stage codegen (`doGenCode`),
  * so the surrounding filter/project stage stays fused: no UDF
  * serialization boundary, no interpreted higher-order-function fallback.
  * These exist because the semantics (k-shingling + multi-hash min, SimHash
  * bit voting) are not expressible as a constant number of built-in
  * codegen'd Column functions — SURVEY §2.11 note: the reference itself
  * needs none of this; it is part of the training-data-pipeline surface.
  */

/** MinHash signature of a string column: array<long> of length `numHashes`;
  * empty array when the normalized text has no k-shingle.
  */
case class MinHashSigExpr(child: Expression, k: Int, numHashes: Int, seed: Long)
    extends UnaryExpression {
  require(k > 0 && numHashes > 0)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.minhashSigData(input.asInstanceOf[UTF8String], k, numHashes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextAlgo.minhashSigData($c, $k, $numHashes, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** Sorted distinct 64-bit shingle hashes of a string column (set
  * representation for exact Jaccard via [[JaccardSortedExpr]]).
  */
case class ShingleHashSetExpr(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash_set"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.shingleHashSetData(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.shingleHashSetData($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashSetExpr =
    copy(child = newChild)
}

/** Portable MinHash signature (md5-base + affine permutations mod 2^31-1)
  * — oracle-checkable twin of MinhashSigExpr; see
  * TextAlgo.minhashPortableSig.
  */
case class MinhashPortableSigExpr(child: Expression, k: Int, numHashes: Int, seed: Long)
    extends UnaryExpression {
  require(k > 0 && numHashes > 0)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_portable_signature"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.minhashPortableSigData(input.asInstanceOf[UTF8String], k, numHashes, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.minhashPortableSigData($c, $k, $numHashes, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): MinhashPortableSigExpr =
    copy(child = newChild)
}

/** Sorted distinct md5-60 shingle hashes — portable twin of
  * ShingleHashSetExpr.
  */
case class ShingleHashSetPortableExpr(child: Expression, k: Int)
    extends UnaryExpression {
  require(k > 0)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hash_set_portable"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.shingleHashSetPortableData(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.shingleHashSetPortableData($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashSetPortableExpr =
    copy(child = newChild)
}

/** Portable 60-bit SimHash (md5 token hashes) — oracle-checkable twin of
  * SimHash64Expr; see TextAlgo.simhash60Portable.
  */
case class SimHash60PortableExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // token-less text has no sketch
  override def prettyName: String = "simhash60_portable"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.simhash60PortableStr(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { c =>
      val boxed = ctx.freshName("boxedSim")
      s"""
         |java.lang.Long $boxed = graft.functions.TextAlgo.simhash60PortableStr($c);
         |if ($boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $boxed.longValue();
         |}
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): SimHash60PortableExpr =
    copy(child = newChild)
}

/** Exact Jaccard similarity of two sorted distinct array<long> columns. */
/** MinHash signature agreement count (positions where two equal-length
  * long arrays match) — the jaccard-ESTIMATE numerator for the banded
  * join's candidate prefilter; see [[TextAlgo.sigMatchCount]].
  */
case class SigMatchCountExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match { case ArrayType(LongType, _) => true; case _ => false }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<bigint> inputs")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sig_match_count"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextAlgo.sigMatchCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextAlgo.sigMatchCount($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigMatchCountExpr =
    copy(left = newLeft, right = newRight)
}

case class JaccardSortedExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match { case ArrayType(LongType, _) => true; case _ => false }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<bigint> inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextAlgo.jaccardSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextAlgo.jaccardSorted($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSortedExpr =
    copy(left = newLeft, right = newRight)
}

/** Token-span removal: drop the `[start,end)` token-index ranges of
  * `spans` from the text and rejoin with single spaces (whitespace-
  * normalizing) — the compiled cleaning kernel behind
  * `SpanDedup.stripSpans`. Single-pass per row; spans may overlap.
  */
case class RemoveSpansExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (_: StringType, ArrayType(st: StructType, _))
        if st.fields.length == 2 && st.fields.forall(_.dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, array<struct<bigint,bigint>>) inputs, got ($l, $r)")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "remove_spans"
  override protected def nullSafeEval(t: Any, sp: Any): Any =
    TextAlgo.removeSpans(t.asInstanceOf[UTF8String], sp.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, sp) => s"graft.functions.TextAlgo.removeSpans($t, $sp)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveSpansExpr =
    copy(left = newLeft, right = newRight)
}

/** BPE tokenization against a trained merge table — greedy lowest-rank
  * pair merging per `\s+`-run word ([[graft.text.Bpe]]); the rank map
  * rides the plan as a codegen reference object, so encoding stays a
  * zero-shuffle map stage inside whole-stage codegen.
  */
case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    merges.zipWithIndex.foreach { case ((l, r), i) => m.put(l + " " + r, i) }
    m
  }
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.bpeEncode(input.asInstanceOf[UTF8String], ranks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.bpeEncode($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpr =
    copy(child = newChild)
}

/** 64-bit SimHash of a string column (whitespace tokens, bit voting). */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.simhash64Str(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.simhash64Str($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

/** Winnowing (MOSS) fingerprint set of a string column: sorted distinct
  * window-min shingle hashes ([[TextAlgo.winnowing]]).
  */
case class WinnowingExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k > 0 && w > 0)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnowing_fingerprints"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.winnowingData(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.winnowingData($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowingExpr =
    copy(child = newChild)
}

/** Portable-hash winnowing fingerprints (md5-derived 60-bit shingle
  * hashes, same selection as [[WinnowingExpr]]) — oracle-checkable
  * variant; see TextAlgo.winnowingPortable.
  */
case class WinnowingPortableExpr(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k > 0 && w > 0)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnowing_fingerprints_portable"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.winnowingPortableData(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.winnowingPortableData($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowingPortableExpr =
    copy(child = newChild)
}

/** Duplicate word-n-gram fraction of a string column (intra-document
  * repetition signal); 0 for documents with fewer than n tokens.
  */
case class DupNgramFractionExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dup_ngram_fraction"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.dupNgramFraction(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.dupNgramFraction($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): DupNgramFractionExpr =
    copy(child = newChild)
}

/** Distinct word-n-grams of a string column as array<string> (exact
  * strings, oracle-replayable) — pairs with built-in codegen'd
  * array_intersect/array_union for exact set-similarity baselines.
  */
case class WordNgramsExpr(child: Expression, n: Int, unicode: Boolean = false)
    extends UnaryExpression {
  require(n > 0)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.wordNgrams(input.asInstanceOf[UTF8String], n, unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.wordNgrams($c, $n, $unicode)")
  override protected def withNewChildInternal(newChild: Expression): WordNgramsExpr =
    copy(child = newChild)
}

/** Non-overlapping n-word chunks of a string column as array<string> (in
  * order, last chunk short) — the explode unit for chunk-granular exact
  * substring dedup.
  */
case class WordChunksExpr(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_chunks"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.wordChunks(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.wordChunks($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordChunksExpr =
    copy(child = newChild)
}

/** Lowercased-alnum tokens of a string column as array<string> (in order,
  * non-distinct) — the SAME tokenization as [[WordNgramStreamExpr]], so
  * vocabulary counts and n-gram streams can never disagree.
  */
case class AsciiTokensExpr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ascii_tokens"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.asciiTokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.asciiTokens($c)")
  override protected def withNewChildInternal(newChild: Expression): AsciiTokensExpr =
    copy(child = newChild)
}

/** Unicode-tier tokens as array<string> (in order, non-distinct): maximal
  * runs of letter/mark/number codepoints, CJK codepoints as single
  * tokens, ASCII-only case folding — see the tier comment in
  * [[TextAlgo]]. The multilingual opt-in beside [[AsciiTokensExpr]].
  */
case class UnicodeTokensExpr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unicode_tokens"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.unicodeTokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.unicodeTokens($c)")
  override protected def withNewChildInternal(newChild: Expression): UnicodeTokensExpr =
    copy(child = newChild)
}

/** Hashed (gram, prefix) 64-bit pairs per consecutive word n-gram —
  * the fixed-width LM counting stream; see [[TextAlgo.ngramHashPairs]].
  */
case class NgramHashPairsExpr(child: Expression, n: Int, unicode: Boolean = false)
    extends UnaryExpression {
  require(n >= 2, s"n must be >= 2 (the prefix must be non-empty), got $n")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("g", LongType, nullable = false),
    StructField("p", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "ngram_hash_pairs"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.ngramHashPairs(input.asInstanceOf[UTF8String], n, unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.ngramHashPairs($c, $n, $unicode)")
  override protected def withNewChildInternal(newChild: Expression): NgramHashPairsExpr =
    copy(child = newChild)
}

/** All consecutive space-joined word n-grams as array<string> (in
  * order, non-distinct — the LM occurrence stream; [[WordNgramsExpr]]
  * is the distinct-set sibling); see [[TextAlgo.wordNgramStream]].
  */
case class WordNgramStreamExpr(child: Expression, n: Int, unicode: Boolean = false)
    extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngram_stream"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.wordNgramStream(input.asInstanceOf[UTF8String], n, unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.wordNgramStream($c, $n, $unicode)")
  override protected def withNewChildInternal(newChild: Expression): WordNgramStreamExpr =
    copy(child = newChild)
}

/** Overlapping passage chunks as array<struct<n_tokens, chunk_text>> in
  * chunk order — one compiled pass per document; see
  * [[TextAlgo.passageChunks]].
  */
case class PassageChunksExpr(child: Expression, window: Int, stride: Int,
    unicode: Boolean = false)
    extends UnaryExpression {
  require(window > 0, s"window must be positive, got $window")
  require(stride > 0 && stride <= window,
    s"stride must be in [1, window], got $stride")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("chunk_text", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "passage_chunks"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.passageChunks(input.asInstanceOf[UTF8String], window, stride, unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextAlgo.passageChunks($c, $window, $stride, $unicode)")
  override protected def withNewChildInternal(newChild: Expression): PassageChunksExpr =
    copy(child = newChild)
}

/** DSIR hashed feature-bucket stream (md5-60 mod numBuckets over unigrams
  * then bigrams) — one compiled pass per document; see
  * [[TextAlgo.dsirBuckets]].
  */
case class DsirBucketsExpr(child: Expression, numBuckets: Int)
    extends UnaryExpression {
  require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dsir_buckets"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.dsirBuckets(input.asInstanceOf[UTF8String], numBuckets)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.dsirBuckets($c, $numBuckets)")
  override protected def withNewChildInternal(newChild: Expression): DsirBucketsExpr =
    copy(child = newChild)
}

/** Compiled left-to-right fold of `ratios(bucket)` over a bucket array —
  * the DSIR scoring pass with the ratio table shipped as a reference
  * object instead of a numBuckets-element array literal.
  */
case class DsirScoreExpr(child: Expression, ratios: Seq[Double])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> column, got $t")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dsir_score"
  @transient private lazy val ratioArr: Array[Double] = ratios.toArray
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.dsirScore(input.asInstanceOf[ArrayData], ratioArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dsirRatios", ratioArr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.dsirScore($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): DsirScoreExpr =
    copy(child = newChild)
}

/** Packed (matches << 32 | tokens) counts of lowercased whitespace tokens
  * that belong to a fixed word set — the fused kernel behind stopwordRatio.
  */
case class TokenSetStatsExpr(child: Expression, words: Seq[String])
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "token_set_stats"
  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(w => s.add(w.toLowerCase))
    s
  }
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.tokenSetStats(input.asInstanceOf[UTF8String], set)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.tokenSetStats($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): TokenSetStatsExpr =
    copy(child = newChild)
}

/** Single-pass marker-set language ID: argmax of per-language hit counts in
  * declaration order, 'und' when nothing matches.
  */
case class LangGuessExpr(child: Expression, markers: Seq[(String, Seq[String])],
    unicode: Boolean = false)
    extends UnaryExpression {
  require(markers.nonEmpty)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_guess"
  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    markers.map { case (_, ws) =>
      val s = new java.util.HashSet[String]()
      ws.foreach(w => s.add(w.toLowerCase))
      s
    }.toArray
  @transient private lazy val codes: Array[UTF8String] =
    markers.map { case (c, _) => UTF8String.fromString(c) }.toArray
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.langGuess(input.asInstanceOf[UTF8String], sets, codes, unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setsRef = ctx.addReferenceObj("langSets", sets, "java.util.HashSet[]")
    val codesRef = ctx.addReferenceObj("langCodes", codes, "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.langGuess($c, $setsRef, $codesRef, $unicode)")
  }
  override protected def withNewChildInternal(newChild: Expression): LangGuessExpr =
    copy(child = newChild)
}

/** Dense dot product of two array<double> columns. */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match { case ArrayType(DoubleType, _) => true; case _ => false }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double> inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextAlgo.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextAlgo.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** Squared Euclidean distance of two array<double> columns (compiled —
  * the SMOTE/ADASYN kNN re-rank runs this per candidate pair).
  */
case class Dist2Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match { case ArrayType(DoubleType, _) => true; case _ => false }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double> inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dist2"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextAlgo.dist2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextAlgo.dist2($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dist2Expr =
    copy(left = newLeft, right = newRight)
}

/** Query-directed multi-probe bucket array ([[TextAlgo.hyperplaneProbes]]):
  * the base sign-sketch bucket plus the `probes` lowest-|margin| single-bit
  * flips. Same plane layout as [[HyperplaneBucketExpr]].
  */
case class HyperplaneProbesExpr(child: Expression, planes: Seq[Double], dim: Int, probes: Int)
    extends UnaryExpression {
  require(dim > 0 && planes.nonEmpty && planes.length % dim == 0 && probes >= 0)
  // bit b of the bucket is 1L << b: more than 64 planes would silently
  // wrap the shift and collide distinct planes onto the same bit
  require(planes.length / dim <= 64, s"numBits ${planes.length / dim} exceeds the 64-bit bucket")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<double> column")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_probes"
  @transient private lazy val planeArr: Array[Double] = planes.toArray
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.hyperplaneProbes(input.asInstanceOf[ArrayData], planeArr, dim, probes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planeArr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.hyperplaneProbes($c, $ref, $dim, $probes)")
  }
  override protected def withNewChildInternal(newChild: Expression): HyperplaneProbesExpr =
    copy(child = newChild)
}

/** Random-hyperplane sign-sketch bucket of an array<double> column: bit i is
  * the sign of the dot product with seeded plane i. `planes` is row-major
  * (numBits x dim), generated deterministically by the caller.
  */
case class HyperplaneBucketExpr(child: Expression, planes: Seq[Double], dim: Int)
    extends UnaryExpression {
  require(dim > 0 && planes.nonEmpty && planes.length % dim == 0)
  require(planes.length / dim <= 64, s"numBits ${planes.length / dim} exceeds the 64-bit bucket")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<double> column")
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_bucket"
  @transient private lazy val planeArr: Array[Double] = planes.toArray
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.hyperplaneBucket(input.asInstanceOf[ArrayData], planeArr, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planeArr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.hyperplaneBucket($c, $ref, $dim)")
  }
  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpr =
    copy(child = newChild)
}

/** Largest |x| of an array<double> vector — the symmetric-quantization
  * scale divisor. 0 for empty/zero vectors.
  */
case class VecMaxAbsExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<double> column")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_max_abs"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.vecMaxAbs(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.vecMaxAbs($c)")
  override protected def withNewChildInternal(newChild: Expression): VecMaxAbsExpr =
    copy(child = newChild)
}

/** Symmetric int8 quantization of an array<double> vector:
  * floor(x * 127 / maxAbs) per element as array<byte> (index-compression
  * for embedding stores; floor for engine-portable semantics — see
  * TextAlgo.quantizeInt8).
  */
case class QuantizeInt8Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<double> column")
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "quantize_int8"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.quantizeInt8(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.quantizeInt8($c)")
  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8Expr =
    copy(child = newChild)
}

/** Sum of the int8-quantized elements — scalar parity fingerprint of the
  * quantized vector.
  */
case class QuantSumInt8Expr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<double> column")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "quant_sum_int8"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.quantSumInt8(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.quantSumInt8($c)")
  override protected def withNewChildInternal(newChild: Expression): QuantSumInt8Expr =
    copy(child = newChild)
}

/** Indexes (as array<long>) of the nProbe nearest centroids to an
  * array<double> vector column — the IVF assignment/probe primitive.
  * `centroids` is row-major (nLists x dim), held as a codegen reference
  * object.
  */
case class NearestCentroidsExpr(child: Expression, centroids: Seq[Double], dim: Int, nProbe: Int)
    extends UnaryExpression {
  require(dim > 0 && centroids.nonEmpty && centroids.length % dim == 0 && nProbe > 0)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<double> column")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_centroids"
  @transient private lazy val centArr: Array[Double] = centroids.toArray
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.nearestCentroids(input.asInstanceOf[ArrayData], centArr, dim, nProbe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centArr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.nearestCentroids($c, $ref, $dim, $nProbe)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroidsExpr =
    copy(child = newChild)
}

/** Euclidean distance to the nearest of the reference centroids (same
  * argmin scan as [[NearestCentroidsExpr]]) — per-row cluster-quality term
  * for KMeans cluster profiling.
  */
case class NearestCentroidDistExpr(child: Expression, centroids: Seq[Double], dim: Int)
    extends UnaryExpression {
  require(dim > 0 && centroids.nonEmpty && centroids.length % dim == 0)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<double> column")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "nearest_centroid_dist"
  @transient private lazy val centArr: Array[Double] = centroids.toArray
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.nearestCentroidDist(input.asInstanceOf[ArrayData], centArr, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centArr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.nearestCentroidDist($c, $ref, $dim)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroidDistExpr =
    copy(child = newChild)
}

/** ADC distance array for PQ codes against Q precomputed query tables —
  * see [[TextAlgo.pqAdcDists]]. Tables ship as a codegen reference
  * object (Q x m x ksub doubles — bounded by the query batch).
  */
case class PqAdcDistsExpr(child: Expression, tables: Seq[Double], m: Int, ksub: Int)
    extends UnaryExpression {
  require(m > 0 && ksub > 0 && tables.nonEmpty && tables.length % (m * ksub) == 0,
    s"tables must hold Q x $m x $ksub distances, got ${tables.length}")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(LongType, _) => true; case _ => false })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<bigint> code column")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_adc_dists"
  @transient private lazy val tabArr: Array[Double] = tables.toArray
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.pqAdcDists(input.asInstanceOf[ArrayData], tabArr, m, ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqTables", tabArr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.pqAdcDists($c, $ref, $m, $ksub)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqAdcDistsExpr =
    copy(child = newChild)
}

/** Single ADC distance for PQ codes against table `idx` of a packed
  * (P x m x ksub) table block — see [[TextAlgo.pqAdcDistAt]]. The index
  * is a COLUMN (it arrives via the broadcast probe-pair join of residual
  * IVF+PQ), so each joined row pays exactly m lookups into its own
  * (query, probed-cell) table instead of scoring every table as
  * [[PqAdcDistsExpr]] does.
  */
case class PqAdcDistAtExpr(codes: Expression, idx: Expression,
    tables: Seq[Double], m: Int, ksub: Int) extends BinaryExpression {
  require(m > 0 && ksub > 0 && tables.nonEmpty && tables.length % (m * ksub) == 0,
    s"tables must hold P x $m x $ksub distances, got ${tables.length}")
  override def left: Expression = codes
  override def right: Expression = idx
  override def checkInputDataTypes(): TypeCheckResult =
    if ((codes.dataType match { case ArrayType(LongType, _) => true; case _ => false })
        && idx.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint> codes, bigint index)")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_dist_at"
  @transient private lazy val tabArr: Array[Double] = tables.toArray
  override protected def nullSafeEval(c: Any, i: Any): Any =
    TextAlgo.pqAdcDistAt(c.asInstanceOf[ArrayData], tabArr, m, ksub, i.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqTables", tabArr, "double[]")
    defineCodeGen(ctx, ev, (c, i) => s"graft.functions.TextAlgo.pqAdcDistAt($c, $ref, $m, $ksub, $i)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcDistAtExpr =
    copy(codes = newLeft, idx = newRight)
}

/** GPT-2 pre-tokens of a string column (contractions, optional-space
  * letter/number/punct runs, whitespace donation — see
  * [[TextAlgo.gpt2Pretokens]]): the byte-level BPE word boundary, and
  * the word-frequency key its trainer aggregates on.
  */
/** SentencePiece unigram-LM pieces of a string column under a trained
  * vocabulary (Viterbi segmentation per whitespace word, '▁' prefix
  * convention, char-fallback) — one compiled zero-shuffle pass; the
  * vocabulary rides the plan as one codegen reference object. See
  * [[TextAlgo.spEncodePieces]].
  */
case class SpEncodePiecesExpr(child: Expression, tables: SpTables)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "sp_encode_pieces"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.spEncodePieces(input.asInstanceOf[UTF8String], tables)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("spTables", tables, "graft.functions.SpTables")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.spEncodePieces($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): SpEncodePiecesExpr =
    copy(child = newChild)
}

/** Language-ID character n-grams of a string column (compiled, one
  * pass): ASCII-folded letter/mark/number normalization with non-word
  * runs collapsed to one space, then all codepoint n-grams. See
  * [[TextAlgo.charNgramsLid]].
  */
case class CharNgramsLidExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams_lid"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.charNgramsLid(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.charNgramsLid($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): CharNgramsLidExpr =
    copy(child = newChild)
}

case class Gpt2PretokensExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "gpt2_pretokens"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.gpt2Pretokens(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.gpt2Pretokens($c)")
  override protected def withNewChildInternal(newChild: Expression): Gpt2PretokensExpr =
    copy(child = newChild)
}

/** Byte-level BPE token ids of a string column under a trained model
  * (GPT-2 family: byte alphabet so no UNK, specials atomic) — one
  * compiled zero-shuffle pass; the model tables ride the plan as one
  * codegen reference object. See [[TextAlgo.byteBpeEncodeIds]].
  */
case class ByteBpeEncodeIdsExpr(child: Expression, tables: ByteBpeTables)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "byte_bpe_encode_ids"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.byteBpeEncodeIds(input.asInstanceOf[UTF8String], tables)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("byteBpeTables", tables, "graft.functions.ByteBpeTables")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.byteBpeEncodeIds($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): ByteBpeEncodeIdsExpr =
    copy(child = newChild)
}

/** v R over a row-major (dim x dim) matrix reference object — the OPQ
  * rotation applied as one compiled map-side pass; see
  * [[TextAlgo.matVec]].
  */
case class MatVecExpr(child: Expression, matrix: Seq[Double], dim: Int)
    extends UnaryExpression {
  require(dim > 0 && matrix.length == dim * dim,
    s"matrix must be row-major $dim x $dim, got ${matrix.length} values")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires an array<double> column")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "mat_vec"
  @transient private lazy val matArr: Array[Double] = matrix.toArray
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.matVec(input.asInstanceOf[ArrayData], matArr, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("matrix", matArr, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.matVec($c, $ref, $dim)")
  }
  override protected def withNewChildInternal(newChild: Expression): MatVecExpr =
    copy(child = newChild)
}

/** vec - centroids[cell] over a row-major (nLists x dim) centroid
  * reference block — the IVF residual-encoding primitive; see
  * [[TextAlgo.centroidResidual]]. `cell` is a column (the row's coarse
  * assignment, computed once by [[NearestCentroidsExpr]]), so the
  * residual costs O(dim) with no second argmin scan.
  */
case class CentroidResidualExpr(vec: Expression, cell: Expression,
    centroids: Seq[Double], dim: Int) extends BinaryExpression {
  require(dim > 0 && centroids.nonEmpty && centroids.length % dim == 0)
  override def left: Expression = vec
  override def right: Expression = cell
  override def checkInputDataTypes(): TypeCheckResult =
    if ((vec.dataType match { case ArrayType(DoubleType, _) => true; case _ => false })
        && cell.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double> vec, bigint cell)")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "centroid_residual"
  @transient private lazy val centArr: Array[Double] = centroids.toArray
  override protected def nullSafeEval(v: Any, c: Any): Any =
    TextAlgo.centroidResidual(v.asInstanceOf[ArrayData], c.asInstanceOf[Long], centArr, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centArr, "double[]")
    defineCodeGen(ctx, ev, (v, c) => s"graft.functions.TextAlgo.centroidResidual($v, $c, $ref, $dim)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidResidualExpr =
    copy(vec = newLeft, cell = newRight)
}

/** Unicode simple case folding of a string column — the dedup-key fold
  * tier; see [[TextAlgo.caseFoldSimple]].
  */
case class CaseFoldSimpleExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "case_fold_simple"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.caseFoldSimple(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.caseFoldSimple($c)")
  override protected def withNewChildInternal(newChild: Expression): CaseFoldSimpleExpr =
    copy(child = newChild)
}

/** Cosine similarity of two array<double> columns; 0 for zero-norm inputs. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match { case ArrayType(DoubleType, _) => true; case _ => false }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double> inputs")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextAlgo.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.TextAlgo.cosine($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

/** Raw counters for the Gopher rule-based quality gate as array<long>
  * (see [[TextAlgo.gopherCounters]] for the slot layout) — one compiled
  * pass per document; rule thresholds stay cheap Column arithmetic.
  */
case class GopherCountersExpr(child: Expression, unicode: Boolean = false)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gopher_counters"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.gopherCounters(input.asInstanceOf[UTF8String], unicode)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.gopherCounters($c, $unicode)")
  override protected def withNewChildInternal(newChild: Expression): GopherCountersExpr =
    copy(child = newChild)
}

/** Unicode NFC normalization ([[TextAlgo.nfc]]): canonical composition so
  * byte-distinct but visually identical text maps to one dedup key.
  */
case class NfcNormalizeExpr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNormalizeExpr =
    copy(child = newChild)
}

/** C4 line retention (terminal end mark + minimum words + no-javascript,
  * evaluated on line-whitespace-stripped lines) — one compiled pass per
  * document; the page-level C4 rules stay cheap Column predicates.
  * See [[TextAlgo.c4KeepLines]] for the exact rule set and citations.
  */
case class C4KeepLinesExpr(child: Expression, minWords: Int = 5)
    extends UnaryExpression {
  require(minWords >= 1, s"minWords must be >= 1, got $minWords")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "c4_keep_lines"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.c4KeepLines(input.asInstanceOf[UTF8String], minWords)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.c4KeepLines($c, $minWords)")
  override protected def withNewChildInternal(newChild: Expression): C4KeepLinesExpr =
    copy(child = newChild)
}

/** Order-preserving within-document repeated-line removal (exact equality,
  * first occurrence wins) — map-side boilerplate stripping.
  */
case class DedupLinesExpr(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string column, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "dedup_lines"
  override protected def nullSafeEval(input: Any): Any =
    TextAlgo.dedupLines(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextAlgo.dedupLines($c)")
  override protected def withNewChildInternal(newChild: Expression): DedupLinesExpr =
    copy(child = newChild)
}
