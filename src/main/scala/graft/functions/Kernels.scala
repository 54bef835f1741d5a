package graft.functions

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sql.SqlLiterals

/** Every compiled scalar kernel, each declared once: SQL-facing name,
  * output type, entry point and argument slots in the entry point's
  * order. A declaration is the kernel's Column function (`apply`: the
  * columns, then the parameters) and, when it names one, its `graft_*`
  * SQL function ([[graft.sql.GraftFunctions]]); the public Column
  * functions in [[TextFunctions]] and the operators forward here.
  *
  * These exist because the semantics (k-shingling + multi-hash min,
  * SimHash bit voting, Aho-Corasick, ...) are not expressible as a
  * constant number of built-in codegen'd Column functions. Each runs as
  * one static call inside whole-stage codegen ([[KernelExpr]]), so the
  * surrounding filter/project stage stays fused: no UDF serialization
  * boundary, no interpreted higher-order-function fallback.
  */
object Kernels {

  private val declared = scala.collection.mutable.ArrayBuffer.empty[Kernel]

  /** Declares a kernel whose entry point is the static `method` of the
    * Scala object `on`, or the `method` of the first parameter's object
    * when `on` is that parameter's [[Param]].
    */
  private def kernel(name: String, out: DataType, on: AnyRef, method: String,
      sql: String = null, orNull: Boolean = false,
      requires: PartialFunction[Seq[Any], Unit] = PartialFunction.empty)(slots: Slot*): Kernel = {
    val (owner, receiver): (Option[Class[_]], Option[Param]) = on match {
      case p: Param => (None, Some(p))
      case o => (Some(Class.forName(o.getClass.getName.stripSuffix("$"))), None)
    }
    val k = new Kernel(name, out, owner, receiver, method.split('|').toSeq, slots, orNull,
      requires, Option(sql))
    require(k.sqlName.isEmpty || k.params.forall(p => p.fromSql.isDefined || p.sqlValue.isDefined),
      s"$name: a SQL function needs every parameter readable from a literal or fixed")
    declared += k
    k
  }

  // ---- argument slots -----------------------------------------------------

  private def arrayOf(t: DataType): DataType => Boolean = {
    case ArrayType(e, _) => e == t
    case _ => false
  }
  private val str = In("a string column", _.isInstanceOf[StringType])
  private val binary = In("a binary column", _ == BinaryType)
  private val strOrBinary = In("a string or binary column",
    t => t.isInstanceOf[StringType] || t == BinaryType)
  private val bigint = In("a bigint column", _ == LongType)
  private val longs = In("an array<bigint> column", arrayOf(LongType))
  private val doubles = In("an array<double> column", arrayOf(DoubleType))
  private val ints = In("an array<int> column", arrayOf(IntegerType))
  private val spans = In("an array<struct<bigint,bigint>> column", {
    case ArrayType(st: StructType, _) => st.fields.length == 2 && st.fields.forall(_.dataType == LongType)
    case _ => false
  })

  private val int = Param.primitive(Integer.TYPE, SqlLiterals.int) { case v: Int => v }
  private val long = Param.primitive(java.lang.Long.TYPE, SqlLiterals.long) {
    case v: Long => v
    case v: Int => v.toLong
  }
  private val bool = Param.primitive(java.lang.Boolean.TYPE, SqlLiterals.bool) { case v: Boolean => v }
  /** The multilingual tokenization tier switch; SQL uses the default tier. */
  private val unicode = bool.inSql(false)
  /** A `Seq[Double]` parameter (centroids, planes, tables) as a `double[]`. */
  private val doubleArray = Param.ref[Seq[Double], Array[Double]](_.toArray)

  private def lowerSet(words: Seq[String]): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(w => s.add(w.toLowerCase))
    s
  }

  private val LongArr = ArrayType(LongType, containsNull = false)
  private val StrArr = ArrayType(StringType, containsNull = false)
  private val DoubleArr = ArrayType(DoubleType, containsNull = false)

  // ---- near-duplicate sketches --------------------------------------------

  /** MinHash signature (k-char shingles, `numHashes` seeded hashes); empty
    * when the normalized text has no k-shingle.
    */
  val minhashSig: Kernel = kernel("minhash_sig", LongArr, TextAlgo, "minhashSigData",
      sql = "graft_minhash_sig", requires = { case Seq(k: Int, n: Int, _) => require(k > 0 && n > 0) })(
    str, int, int, long)

  /** Portable MinHash (md5 base + affine permutations mod 2^31-1): the
    * oracle-checkable twin of [[minhashSig]].
    */
  val minhashPortableSig: Kernel = kernel("minhash_portable_signature", LongArr, TextAlgo,
      "minhashPortableSigData", sql = "graft_minhash_portable_sig",
      requires = { case Seq(k: Int, n: Int, _) => require(k > 0 && n > 0) })(
    str, int, int, long)

  /** Sorted distinct 64-bit shingle hashes: the set for [[jaccardSorted]]. */
  val shingleHashSet: Kernel = kernel("shingle_hash_set", LongArr, TextAlgo, "shingleHashSetData",
      sql = "graft_shingle_hash_set", requires = { case Seq(k: Int) => require(k > 0) })(
    str, int)

  /** Sorted distinct md5-60 shingle hashes (portable twin). */
  val shingleHashSetPortable: Kernel = kernel("shingle_hash_set_portable", LongArr, TextAlgo,
      "shingleHashSetPortableData", sql = "graft_shingle_hash_set_portable",
      requires = { case Seq(k: Int) => require(k > 0) })(
    str, int)

  /** Exact Jaccard similarity of two sorted distinct array<long> sets. */
  val jaccardSorted: Kernel = kernel("jaccard_sorted", DoubleType, TextAlgo, "jaccardSorted",
      sql = "graft_jaccard_sorted")(longs, longs)

  /** MinHash signature agreement count: the Jaccard-estimate numerator of
    * the banded join's candidate prefilter.
    */
  val sigMatchCount: Kernel = kernel("sig_match_count", IntegerType, TextAlgo, "sigMatchCount",
      sql = "graft_sig_match_count")(longs, longs)

  /** 64-bit SimHash over whitespace tokens (bit voting). */
  val simhash64: Kernel = kernel("simhash64", LongType, TextAlgo, "simhash64Str",
      sql = "graft_simhash64")(str)

  /** Portable 60-bit SimHash (md5 token hashes); null for token-less text. */
  val simhash60Portable: Kernel = kernel("simhash60_portable", LongType, TextAlgo,
      "simhash60PortableStr", sql = "graft_simhash60_portable", orNull = true)(str)

  /** Winnowing (MOSS) fingerprints: sorted distinct window-min shingle hashes. */
  val winnowing: Kernel = kernel("winnowing_fingerprints", LongArr, TextAlgo, "winnowingData",
      sql = "graft_winnowing", requires = { case Seq(k: Int, w: Int) => require(k > 0 && w > 0) })(
    str, int, int)

  /** Winnowing over md5-derived 60-bit shingle hashes (oracle-checkable). */
  val winnowingPortable: Kernel = kernel("winnowing_fingerprints_portable", LongArr, TextAlgo,
      "winnowingPortableData", sql = "graft_winnowing_portable",
      requires = { case Seq(k: Int, w: Int) => require(k > 0 && w > 0) })(
    str, int, int)

  // ---- tokens, n-grams, chunks --------------------------------------------

  /** Duplicate word-n-gram fraction; 0 below n tokens. */
  val dupNgramFraction: Kernel = kernel("dup_ngram_fraction", DoubleType, TextAlgo,
      "dupNgramFraction", sql = "graft_dup_ngram_fraction",
      requires = { case Seq(n: Int) => require(n > 0) })(str, int)

  /** Distinct word-n-grams as exact strings. */
  val wordNgrams: Kernel = kernel("word_ngrams", StrArr, TextAlgo, "wordNgrams",
      sql = "graft_word_ngrams", requires = { case Seq(n: Int, _) => require(n > 0) })(
    str, int, unicode)

  /** Non-overlapping n-word chunks in order, the last one short. */
  val wordChunks: Kernel = kernel("word_chunks", StrArr, TextAlgo, "wordChunks",
      sql = "graft_word_chunks", requires = { case Seq(n: Int) => require(n > 0) })(str, int)

  /** Lowercased-alnum tokens in order (the [[wordNgramStream]] tokenization). */
  val asciiTokens: Kernel = kernel("ascii_tokens", StrArr, TextAlgo, "asciiTokens",
      sql = "graft_ascii_tokens")(str)

  /** Unicode-tier tokens in order: letter/mark/number runs, CJK singles. */
  val unicodeTokens: Kernel = kernel("unicode_tokens", StrArr, TextAlgo, "unicodeTokens",
      sql = "graft_unicode_tokens")(str)

  /** Hashed (gram, prefix) pairs per consecutive word n-gram: the hashed
    * LM counting stream.
    */
  val ngramHashPairs: Kernel = kernel("ngram_hash_pairs",
      ArrayType(StructType(Seq(
        StructField("g", LongType, nullable = false),
        StructField("p", LongType, nullable = false))), containsNull = false),
      TextAlgo, "ngramHashPairs", sql = "graft_ngram_hash_pairs",
      requires = { case Seq(n: Int, _) =>
        require(n >= 2, s"n must be >= 2 (the prefix must be non-empty), got $n") })(
    str, int, unicode)

  /** Every consecutive space-joined word n-gram in order (the LM stream). */
  val wordNgramStream: Kernel = kernel("word_ngram_stream", StrArr, TextAlgo, "wordNgramStream",
      sql = "graft_word_ngram_stream",
      requires = { case Seq(n: Int, _) => require(n >= 1, s"n must be >= 1, got $n") })(
    str, int, unicode)

  /** Overlapping passage chunks as array<struct<n_tokens, chunk_text>>. */
  val passageChunks: Kernel = kernel("passage_chunks",
      ArrayType(StructType(Seq(
        StructField("n_tokens", LongType, nullable = false),
        StructField("chunk_text", StringType, nullable = false))), containsNull = false),
      TextAlgo, "passageChunks", requires = { case Seq(window: Int, stride: Int, _) =>
        require(window > 0, s"window must be positive, got $window")
        require(stride > 0 && stride <= window, s"stride must be in [1, window], got $stride") })(
    str, int, int, bool)

  /** Language-ID character n-grams over ASCII-folded letter runs. */
  val charNgramsLid: Kernel = kernel("char_ngrams_lid", StrArr, TextAlgo, "charNgramsLid",
      requires = { case Seq(n: Int) => require(n >= 1, s"n must be >= 1, got $n") })(str, int)

  /** GPT-2 pre-tokens: the byte-level BPE word boundary. */
  val gpt2Pretokens: Kernel = kernel("gpt2_pretokens", StrArr, TextAlgo, "gpt2Pretokens")(str)

  /** BPE tokens under a trained merge table (rank map as a reference). */
  val bpeEncode: Kernel = kernel("bpe_encode", StrArr, TextAlgo, "bpeEncode")(
    str, Param.ref[Seq[(String, String)], java.util.HashMap[String, Integer]] { merges =>
      val m = new java.util.HashMap[String, Integer](merges.length * 2)
      merges.zipWithIndex.foreach { case ((l, r), i) => m.put(l + " " + r, i) }
      m
    })

  /** Byte-level BPE token ids under a trained model. */
  val byteBpeEncodeIds: Kernel = kernel("byte_bpe_encode_ids", LongArr, TextAlgo,
      "byteBpeEncodeIds")(str, Param.ref[ByteBpeTables, ByteBpeTables](identity))

  /** SentencePiece unigram-LM pieces under a trained vocabulary. */
  val spEncodePieces: Kernel = kernel("sp_encode_pieces", StrArr, TextAlgo, "spEncodePieces")(
    str, Param.ref[SpTables, SpTables](identity))

  // ---- cleaning and quality -----------------------------------------------

  /** Drop `[start,end)` token spans and rejoin with single spaces. */
  val removeSpans: Kernel = kernel("remove_spans", StringType, TextAlgo, "removeSpans",
      sql = "graft_remove_spans")(str, spans)

  /** Unicode simple case folding (the dedup-key fold tier). */
  val caseFoldSimple: Kernel = kernel("case_fold_simple", StringType, TextAlgo, "caseFoldSimple",
      sql = "graft_case_fold_simple")(str)

  /** Unicode NFC canonical composition. */
  val nfcNormalize: Kernel = kernel("nfc_normalize", StringType, TextAlgo, "nfc",
      sql = "graft_nfc_normalize")(str)

  /** C4 line retention: the kept lines, stripped and '\n'-joined. */
  val c4KeepLines: Kernel = kernel("c4_keep_lines", StringType, TextAlgo, "c4KeepLines",
      sql = "graft_c4_keep_lines",
      requires = { case Seq(m: Int) => require(m >= 1, s"minWords must be >= 1, got $m") })(str, int)

  /** Order-preserving within-document repeated-line removal. */
  val dedupLines: Kernel = kernel("dedup_lines", StringType, TextAlgo, "dedupLines")(str)

  /** Raw Gopher quality-gate counters (slot layout in TextAlgo.gopherCounters). */
  val gopherCounters: Kernel = kernel("gopher_counters", LongArr, TextAlgo, "gopherCounters")(
    str, bool)

  /** Packed (matches << 32 | tokens) counts of lowercased tokens in a word set. */
  val tokenSetStats: Kernel = kernel("token_set_stats", LongType, TextAlgo, "tokenSetStats")(
    str, Param.ref[Seq[String], java.util.HashSet[String]](lowerSet))

  /** Marker-set language ID: argmax of per-language hits in declaration
    * order, 'und' when nothing matches. Parameters: the marker word sets,
    * their language codes, the tokenization tier; SQL uses
    * [[TextFunctions.defaultLangMarkers]].
    */
  val langGuess: Kernel = kernel("lang_guess", StringType, TextAlgo, "langGuess",
      sql = "graft_lang_guess", requires = { case Seq(sets: Seq[_], codes: Seq[_], _) =>
        require(sets.nonEmpty && sets.length == codes.length) })(
    str,
    Param.ref[Seq[Seq[String]], Array[java.util.HashSet[String]]](_.map(lowerSet).toArray)
      .inSql(TextFunctions.defaultLangMarkers.map(_._2)),
    Param.ref[Seq[String], Array[UTF8String]](_.map(UTF8String.fromString).toArray)
      .inSql(TextFunctions.defaultLangMarkers.map(_._1)),
    unicode)

  /** Aho-Corasick blocklist occurrence count (`hits > 0` is containment). */
  val blocklistHits: Kernel = kernel("blocklist_hits", IntegerType,
      Param.ref[Seq[String], AcAutomaton](AcAutomaton.build, Some(SqlLiterals.strings)),
      "countHits", sql = "graft_blocklist_hits", requires = { case Seq(ps: Seq[_], _) =>
        require(ps.nonEmpty, "blocklist must contain at least one pattern") })(
    str, bool)

  /** Data-selection (DSIR) hashed feature buckets: unigrams then bigrams. */
  val dsirBuckets: Kernel = kernel("dsir_buckets", LongArr, TextAlgo, "dsirBuckets",
      requires = { case Seq(b: Int) => require(b > 0, s"numBuckets must be positive, got $b") })(
    str, int)

  /** Left-to-right sum of `ratios(bucket)` over a bucket array. */
  val dsirScore: Kernel = kernel("dsir_score", DoubleType, TextAlgo, "dsirScore")(
    longs, doubleArray)

  // ---- vectors ------------------------------------------------------------

  val dotProduct: Kernel = kernel("dot_product", DoubleType, TextAlgo, "dot",
      sql = "graft_dot_product")(doubles, doubles)

  /** Squared Euclidean distance. */
  val dist2: Kernel = kernel("dist2", DoubleType, TextAlgo, "dist2", sql = "graft_dist2")(
    doubles, doubles)

  /** Cosine similarity; 0 for zero-norm inputs. */
  val cosineSim: Kernel = kernel("cosine_sim", DoubleType, TextAlgo, "cosine",
      sql = "graft_cosine_sim")(doubles, doubles)

  /** Largest |x| of a vector: the int8 quantization scale. */
  val vecMaxAbs: Kernel = kernel("vec_max_abs", DoubleType, TextAlgo, "vecMaxAbs",
      sql = "graft_vec_max_abs")(doubles)

  /** Symmetric int8 quantization, floor(x * 127 / maxAbs) per element. */
  val quantizeInt8: Kernel = kernel("quantize_int8", ArrayType(ByteType, containsNull = false),
      TextAlgo, "quantizeInt8", sql = "graft_quantize_int8")(doubles)

  /** Sum of the int8-quantized elements. */
  val quantSumInt8: Kernel = kernel("quant_sum_int8", IntegerType, TextAlgo, "quantSumInt8",
      sql = "graft_quant_sum_int8")(doubles)

  private val planes: PartialFunction[Seq[Any], Unit] = {
    case Seq(p: Seq[_], dim: Int, rest @ _*) =>
      require(dim > 0 && p.nonEmpty && p.length % dim == 0 &&
        rest.forall { case probes: Int => probes >= 0 })
      // bit b of the bucket is 1L << b: more than 64 planes would wrap
      // the shift and collide distinct planes onto the same bit
      require(p.length / dim <= 64, s"numBits ${p.length / dim} exceeds the 64-bit bucket")
  }

  /** Random-hyperplane sign-sketch bucket against row-major (numBits x dim) planes. */
  val hyperplaneBucket: Kernel = kernel("hyperplane_bucket", LongType, TextAlgo,
      "hyperplaneBucket", requires = planes)(doubles, doubleArray, int)

  /** The sign-sketch bucket plus the `probes` lowest-|margin| single-bit flips. */
  val hyperplaneProbes: Kernel = kernel("hyperplane_probes", LongArr, TextAlgo,
      "hyperplaneProbes", requires = planes)(doubles, doubleArray, int, int)

  private val centroids: PartialFunction[Seq[Any], Unit] = {
    case Seq(c: Seq[_], dim: Int, rest @ _*) =>
      require(dim > 0 && c.nonEmpty && c.length % dim == 0 &&
        rest.forall { case nProbe: Int => nProbe > 0 })
  }

  /** Indexes of the nProbe nearest of row-major (nLists x dim) centroids. */
  val nearestCentroids: Kernel = kernel("nearest_centroids", LongArr, TextAlgo,
      "nearestCentroids", requires = centroids)(doubles, doubleArray, int, int)

  /** Euclidean distance to the nearest centroid. */
  val nearestCentroidDist: Kernel = kernel("nearest_centroid_dist", DoubleType, TextAlgo,
      "nearestCentroidDist", requires = centroids)(doubles, doubleArray, int)

  /** `vec - centroids[cell]`: the IVF residual for a row's assigned cell. */
  val centroidResidual: Kernel = kernel("centroid_residual", DoubleArr, TextAlgo,
      "centroidResidual", requires = centroids)(doubles, bigint, doubleArray, int)

  /** `v R` over a row-major (dim x dim) matrix: the OPQ rotation. */
  val matVec: Kernel = kernel("mat_vec", DoubleArr, TextAlgo, "matVec",
      requires = { case Seq(r: Seq[_], dim: Int) => require(dim > 0 && r.length == dim * dim,
        s"matrix must be row-major $dim x $dim, got ${r.length} values") })(
    doubles, doubleArray, int)

  private def pqTables(what: String): PartialFunction[Seq[Any], Unit] = {
    case Seq(t: Seq[_], m: Int, ksub: Int) =>
      require(m > 0 && ksub > 0 && t.nonEmpty && t.length % (m * ksub) == 0,
        s"tables must hold $what x $m x $ksub distances, got ${t.length}")
  }

  /** ADC distances of PQ codes against Q packed (m x ksub) query tables. */
  val pqAdcDists: Kernel = kernel("pq_adc_dists", DoubleArr, TextAlgo, "pqAdcDists",
      requires = pqTables("Q"))(longs, doubleArray, int, int)

  /** One ADC distance against table `idx` (a column) of a packed block. */
  val pqAdcDistAt: Kernel = kernel("pq_adc_dist_at", DoubleType, TextAlgo, "pqAdcDistAt",
      requires = pqTables("P"))(longs, doubleArray, int, int, bigint)

  // ---- web, binary and sketch payloads ------------------------------------

  /** Lowercased URL host; null when the value has none. */
  val urlHost: Kernel = kernel("url_host", StringType, UrlAlgo, "host", orNull = true)(str)

  /** Public-suffix registrable domain of a host (longest-match rule walk). */
  val registrableDomainOfHost: Kernel = kernel("registrable_domain_of_host", StringType,
      UrlAlgo, "registrableDomain", orNull = true, requires = { case Seq(s: Seq[String] @unchecked) =>
        require(s.nonEmpty, "suffix list must be non-empty")
        Url.splitRules(s) // throws on malformed rules, like the ladder twin
      })(str, Param.ref[Seq[String], UrlAlgo.PslRules](new UrlAlgo.PslRules(_)))

  /** GZIP bytes of a string or binary column. */
  val gzip: Kernel = kernel("gzip", BinaryType, Gzip, "compress|compressStr")(strOrBinary)

  /** Decompressed bytes; null on malformed, truncated or over-`maxBytes` input. */
  val gunzip: Kernel = kernel("gunzip", BinaryType, Gzip, "decompress", orNull = true,
      requires = { case Seq(m: Int) => require(m > 0, s"maxBytes must be positive, got $m") })(
    binary, int)

  /** Parsed WARC records of a string or binary cell (valid prefix). */
  val warcParse: Kernel = kernel("warc_parse",
      ArrayType(graft.data.Warc.recordType, containsNull = false),
      graft.data.Warc, "parse|parseStr")(strOrBinary)

  /** Per-domain boilerplate removal by sorted line fingerprints:
    * struct(cleaned, n_lines, n_removed).
    */
  val stripLinesByFp: Kernel = kernel("strip_lines_by_fp",
      StructType(Seq(
        StructField("cleaned", StringType, nullable = false),
        StructField("n_lines", IntegerType, nullable = false),
        StructField("n_removed", IntegerType, nullable = false))),
      graft.dedup.Boilerplate, "stripByFp", sql = "graft_strip_lines_by_fp")(str, longs)

  /** dHash of an image payload; null when it does not decode to 9x8 or more. */
  val imageDhash64: Kernel = kernel("image_dhash64", LongType, graft.multimodal.ImageHash,
      "dhash64Java", sql = "graft_image_dhash64", orNull = true)(binary)

  /** DCT pHash of an image payload; null when it does not decode. */
  val imagePhash64: Kernel = kernel("image_phash64", LongType, graft.multimodal.ImageHash,
      "phash64Java", orNull = true)(binary)

  /** HyperLogLog estimate from a register array; null for a null register. */
  val hllEstimate: Kernel = kernel("hll_estimate", DoubleType, graft.sketch.Hll,
      "estimateFromRegisters", sql = "graft_hll_estimate", orNull = true,
      requires = { case Seq(p: Int) => require(p >= 4 && p <= 16, s"precision must be in [4, 16], got $p") })(
    ints, int)

  /** Every declaration, in declaration order. */
  val all: Seq[Kernel] = declared.toSeq
}
