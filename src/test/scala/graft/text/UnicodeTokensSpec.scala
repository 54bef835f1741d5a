package graft.text

import graft.SparkSpec
import graft.functions.{TextAlgo, TextFunctions}
import org.apache.spark.sql.functions._

/** The multilingual tokenization tier (round-7 verdict task #1): runs of
  * Unicode letter/mark/number codepoints, CJK codepoints as single
  * tokens, ASCII-only case folding. The expected token lists below were
  * cross-checked against the DuckDB replay formula
  * (regexp_replace CJK spacing + regexp_extract_all('[\p{L}\p{M}\p{N}]+'))
  * before being committed — q98 pins the same agreement at corpus scale.
  */
class UnicodeTokensSpec extends SparkSpec {
  import spark.implicits._

  private def toks(s: String): Seq[String] = {
    val r = Seq(s).toDF("t")
      .select(TextFunctions.unicodeTokens(col("t")).as("x")).collect()(0)
    r.getSeq[String](0)
  }

  test("CJK codepoints become single tokens; Latin runs fold ASCII case") {
    assert(toks("Hello, 世界! This is 日本語のテスト text.") ===
      Seq("hello", "世", "界", "this", "is", "日", "本", "語", "の", "テ", "ス", "ト", "text"))
    assert(toks("한국어 텍스트 123 mixed WITH English") ===
      Seq("한", "국", "어", "텍", "스", "트", "123", "mixed", "with", "english"))
  }

  test("non-ASCII case is left alone; combining marks stay inside words") {
    assert(toks("Résumé naïve café ĉi-tio") ===
      Seq("résumé", "naïve", "café", "ĉi", "tio"))
    // Greek/Cyrillic capitals are NOT folded (ASCII-only folding)
    assert(toks("Ελληνικά και Русский") === Seq("Ελληνικά", "και", "Русский"))
    // Devanagari matras are \p{M} — Hindi words must not shatter
    assert(toks("हिन्दी में लिखा गया") === Seq("हिन्दी", "में", "लिखा", "गया"))
  }

  test("fullwidth forms are one letter/number run (not in the CJK ranges)") {
    assert(toks("ＦＵＬＬＷＩＤＴＨ１２３") === Seq("ＦＵＬＬＷＩＤＴＨ１２３"))
  }

  test("supplementary-plane CJK (Ext B) is a single token via codepoints") {
    val extB = new String(Character.toChars(0x20000))
    assert(toks(s"ab${extB}cd") === Seq("ab", extB, "cd"))
  }

  test("punctuation-only, empty, and emoji-only strings yield no tokens") {
    assert(toks("") === Seq.empty)
    assert(toks("....!!! ---") === Seq.empty)
    assert(toks("😀 🎉") === Seq.empty) // So = separator
  }

  test("ASCII parity: on lowercase-alnum-and-space text, unicode == ascii tokens") {
    val texts = Seq("the quick brown fox 42", "a b c", "x9 zz 000", "")
    val df = texts.toDF("t").select(
      TextFunctions.unicodeTokens(col("t")).as("u"),
      TextFunctions.asciiTokens(col("t")).as("a"))
    df.collect().foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("driver-side tokenize agrees with the compiled expression") {
    for (s <- Seq("Hello, 世界!", "Résumé 123", "한국어", "", "a.b"))
      assert(TextAlgo.unicodeTokenize(s).toSeq === toks(s))
  }

  test("wordNgrams unicode tier: CJK documents contribute real n-grams") {
    val df = Seq("机器学习很有趣").toDF("t")
    val grams = df.select(TextFunctions.wordNgrams(col("t"), 2, unicode = true))
      .collect()(0).getSeq[String](0)
    assert(grams === Seq("机 器", "器 学", "学 习", "习 很", "很 有", "有 趣"))
    // ascii tier unchanged: one giant "word", no 2-grams
    val ascii = df.select(TextFunctions.wordNgrams(col("t"), 2))
      .collect()(0).getSeq[String](0)
    assert(ascii === Seq.empty)
  }

  test("gopherFlags unicode tier: a CJK document is gated on real word stats") {
    val cjkDoc = ("深度学习模型需要大量的训练数据 " * 10).trim
    val df = Seq(cjkDoc).toDF("t")
    // ascii tier: the whole doc is ~10 giant "words" -> fail_words at min 50
    val asciiRow = df.select(TextFunctions.gopherFlags(col("t"), minWords = 50).as("g"))
      .select("g.fail_words", "g.fail_alpha").collect()(0)
    assert(asciiRow.getBoolean(0), "ascii tier should fail the word-count rule")
    // unicode tier: 150 single-ideograph words, every one a letter
    val uRow = df.select(
        TextFunctions.gopherFlags(col("t"), minWords = 50, unicode = true).as("g"))
      .select("g.fail_words", "g.fail_alpha").collect()(0)
    assert(!uRow.getBoolean(0), "unicode tier should pass the word-count rule")
    assert(!uRow.getBoolean(1), "ideograph words are letters under \\p{L}")
  }

  test("chunker unicode tier: a CJK doc is many tokens, not one") {
    val df = Seq((1L, "机器学习系统处理大规模数据集合")).toDF("doc_id", "text")
    val ascii = Chunker.chunkPassages(df, "doc_id", "text", 4, 4).collect()
    assert(ascii.length === 1) // one giant \s-token -> one chunk
    val uni = Chunker.chunkPassages(df, "doc_id", "text", 4, 4, unicode = true).collect()
    assert(uni.length === 4) // 15 cjk tokens: ceil(15/4)
    assert(uni(0).getAs[String]("chunk_text") === "机 器 学 习")
    assert(uni(3).getAs[Long]("n_tokens") === 3L)
  }

  test("bm25 unicode tier: CJK terms retrieve; ascii tier returns nothing") {
    val df = Seq(
      (1L, "机器学习是人工智能的分支"),
      (2L, "深度学习需要数据"),
      (3L, "completely unrelated english text")).toDF("doc_id", "text")
    val hits = Search.bm25TopK(df, "doc_id", "text", Seq("学", "习"), k = 5, unicode = true)
      .collect()
    assert(hits.map(_.getLong(0)).toSet === Set(1L, 2L))
    // both docs contain both terms; doc 2 is shorter -> higher bm25
    assert(hits.head.getLong(0) === 2L)
    // ascii tokenization cannot see CJK terms at all (fail-loud contract:
    // the CJK term is not an [a-z0-9]+ token)
    intercept[IllegalArgumentException] {
      Search.bm25TopK(df, "doc_id", "text", Seq("学"), k = 5)
    }
  }

  test("tf-idf unicode tier: CJK corpora get terms; ascii tier gets none") {
    val df = Seq(
      (1L, "机器学习很重要 机器学习"),
      (2L, "深度学习和数据"),
      (3L, "完全不同的内容在这里")).toDF("doc_id", "text")
    val ascii = TfIdf.topTerms(df, "doc_id", "text", k = 2).collect()
    assert(ascii.isEmpty, "ascii tier should see zero [a-z0-9] terms")
    val uni = TfIdf.topTerms(df, "doc_id", "text", k = 2, unicode = true).collect()
    assert(uni.nonEmpty)
    // '机' appears twice in doc 1 only (maxDf excludes corpus-wide terms)
    val d1 = uni.filter(_.getLong(0) == 1L).map(_.getString(2)).toSet
    assert(d1.contains("机"), s"expected 机 among doc-1 top terms, got $d1")
  }

  test("unigram/bigram LM unicode tier scores CJK documents") {
    val df = Seq(
      (1L, "机器学习机器学习机器学习"), // repetitive -> low xent
      (2L, "深度数据模型完全不同内容")).toDF("doc_id", "text")
    val uni = UnigramLm.crossEntropy(df, "doc_id", "text", unicode = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(1L) < uni(2L), s"repetitive doc must score lower xent: $uni")
    val bi = UnigramLm.ngramCrossEntropy(df, "doc_id", "text", n = 2, unicode = true)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(bi(1L) < bi(2L), s"repetitive doc must score lower bigram xent: $bi")
    // ascii tier: zero tokens -> empty results, silently (the documented
    // degeneration the tier exists to fix)
    assert(UnigramLm.crossEntropy(df, "doc_id", "text").collect().isEmpty)
  }

  test("decontamination unicode tier catches CJK benchmark overlap") {
    val bench = Seq((1L, "机器学习是人工智能的一个分支领域")).toDF("doc_id", "text")
    val train = Seq(
      (10L, "前言 机器学习是人工智能的一个分支领域 后记"), // contains the bench span
      (11L, "完全无关的训练文本内容在这里出现")).toDF("doc_id", "text")
    val asciiHits = Decontaminate.overlapReport(train, bench, "doc_id", "text", n = 5)
      .collect()
    assert(asciiHits.isEmpty, "ascii tier cannot see CJK n-grams at all")
    val uniHits = Decontaminate.overlapReport(train, bench, "doc_id", "text", n = 5,
        unicode = true).collect().map(_.getLong(0)).toSet
    assert(uniHits === Set(10L))
    val kept = Decontaminate.removeContaminated(train, bench, "doc_id", "text", n = 5,
        unicode = true).collect().map(_.getLong(0)).toSet
    assert(kept === Set(11L))
  }

  test("langGuess unicode tier classifies non-Latin scripts; ascii tier says 'und'") {
    val samples = Seq(
      "这是一个的测试文本和数据了" -> "zh",
      "日本語のテストでこれはをにが" -> "ja",
      "이 문서의 내용은 한국어를 가지고 있다" -> "ko",
      "и в не на что он как это" -> "ru",
      "και το να της με που την" -> "el",
      "के है में की और से को का" -> "hi",
      "the quick and of to is you that it" -> "en",
      "12345 !!! ---" -> "und")
    samples.foreach { case (text, expect) =>
      val got = Seq(text).toDF("t")
        .select(graft.functions.TextFunctions.langGuess(col("t"), unicode = true))
        .collect()(0).getString(0)
      assert(got === expect, s"'$text'")
      // the ascii tier cannot see any non-Latin marker
      if (expect != "en" && expect != "und") {
        val ascii = Seq(text).toDF("t")
          .select(graft.functions.TextFunctions.langGuess(col("t")))
          .collect()(0).getString(0)
        assert(ascii === "und" || ascii != expect,
          s"ascii tier unexpectedly classified '$text' as $ascii")
      }
    }
  }

  test("matchAll unicode tier honors the AND gate across scripts") {
    val df = Seq(
      (1L, "机器学习 neural systems"),
      (2L, "机器 without the other term"),
      (3L, "neural only")).toDF("doc_id", "text")
    val hits = Search.matchAll(df, "doc_id", "text", Seq("机", "neural"), unicode = true)
      .collect().map(_.getLong(0)).toSet
    assert(hits === Set(1L))
  }
}
