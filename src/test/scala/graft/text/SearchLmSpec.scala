package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SearchLmSpec extends SparkSpec {

  test("matchAll: AND semantics, case folding, tf scoring") {
    import spark.implicits._
    val docs = Seq(
      (0L, "Alpha beta GAMMA alpha"),
      (1L, "alpha beta"),
      (2L, "alpha gamma gamma"),
      (3L, "delta")
    ).toDF("id", "body")
    val out = Search.matchAll(docs, "id", "body", Seq("alpha", "gamma"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 0: alpha x2 + gamma x1 = 3 hits; doc 2: 1 + 2 = 3; docs 1/3 miss a term
    assert(out === Map(0L -> 3L, 2L -> 3L))
  }

  test("matchAll: posting filter happens before the exchange") {
    import spark.implicits._
    val docs = Seq((0L, "a b c")).toDF("id", "body")
    val plan = Search.matchAll(docs, "id", "body", Seq("a"))
      .queryExecution.executedPlan
    // the isin filter must sit below the first shuffle: find every
    // ShuffleExchange (through the AQE wrapper) and check its subtree
    // already contains the Filter
    val exchanges = graft.tools.PlanWalk.collectDeep(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val hasFilter = graft.tools.PlanWalk.collectDeep(e.child) {
        case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("term") => f
      }.nonEmpty
      assert(hasFilter, "query-term filter must be pushed below the shuffle")
    }
  }

  test("bm25TopK: hand-computed scores, OR semantics, ordering") {
    import spark.implicits._
    val docs = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana banana banana banana"),
      (3L, "cherry date egg fig")
    ).toDF("id", "body")
    val out = Search.bm25TopK(docs, "id", "body", Seq("apple", "banana"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // N=4, dl = 3,2,4,4 -> avgdl = 13/4; df(apple)=df(banana)=2
    val avgdl = 13.0 / 4
    val idf = math.log(1.0 + (4 - 2 + 0.5) / (2 + 0.5))
    def contrib(tf: Long, dl: Long): Double =
      idf * tf * 2.2 / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Map(
      0L -> (2L, r6(contrib(2, 3) + contrib(1, 3))),
      1L -> (1L, r6(contrib(1, 2))),
      2L -> (1L, r6(contrib(4, 4))))
    assert(out.map(_._1).toSet === Set(0L, 1L, 2L), "doc 3 matches no term")
    out.foreach { case (id, nTerms, score) =>
      assert(nTerms === want(id)._1)
      assert(math.abs(score - want(id)._2) < 1e-9, s"doc $id: $score vs ${want(id)._2}")
    }
    // two-term doc 0 must outrank both single-term docs; output is ranked
    assert(out.head._1 === 0L)
    assert(out.map(_._3).sliding(2).forall(p => p.head >= p.last))
    // top-k cut respects k
    assert(Search.bm25TopK(docs, "id", "body", Seq("apple", "banana"), k = 2)
      .count() === 2L)
  }

  test("bm25TopK: rare term outranks common term at equal tf") {
    import spark.implicits._
    // "zebra" in 1 of 12 docs, "the" in all 12; equal tf/dl -> idf decides
    val docs = ((0 until 11).map(i => (i.toLong, "the filler words here")) :+
      (11L, "zebra filler words here")).toDF("id", "body")
    val out = Search.bm25TopK(docs, "id", "body", Seq("zebra", "the"), k = 12)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(11L) > out(0L), "rare-term doc must score above common-term doc")
  }

  test("bm25TopK: term filter below the shuffle, top-k is TakeOrdered") {
    import spark.implicits._
    val docs = Seq((0L, "a b c"), (1L, "a a d")).toDF("id", "body")
    val plan = Search.bm25TopK(docs, "id", "body", Seq("a"), k = 5)
      .queryExecution.executedPlan
    val exchanges = graft.tools.PlanWalk.collectDeep(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val hasFilter = graft.tools.PlanWalk.collectDeep(e.child) {
        case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("term") => f
      }.nonEmpty
      assert(hasFilter, "query-term filter must be pushed below the shuffle")
    }
    val takeOrdered = graft.tools.PlanWalk.collectDeep(plan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(takeOrdered.nonEmpty, "global top-k must be TakeOrderedAndProject")
  }

  test("unigram cross-entropy: hand-computed add-one smoothing") {
    import spark.implicits._
    // corpus: a a b -> T=3, V=2; p(a)=(2+1)/5=0.6, p(b)=(1+1)/5=0.4
    val docs = Seq((0L, "a a"), (1L, "b")).toDF("id", "body")
    val out = UnigramLm.crossEntropy(docs, "id", "body")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(0L)._1 === 2L)
    assert(math.abs(out(0L)._2 - -math.log(0.6)) < 1e-12)
    assert(out(1L)._1 === 1L)
    assert(math.abs(out(1L)._2 - -math.log(0.4)) < 1e-12)
  }

  test("bigram cross-entropy: hand-computed add-one smoothing") {
    import spark.implicits._
    // corpus bigrams: doc0 "a b a b" -> (a,b) x2, (b,a) x1; doc1 "a b"
    // -> (a,b). c2(a,b)=3, c2(b,a)=1; c1(a)=3, c1(b)=1; V=2 (vocab {a,b})
    // p(b|a) = (3+1)/(3+2) = 0.8; p(a|b) = (1+1)/(1+2) = 2/3
    val docs = Seq((0L, "a b a b"), (1L, "a b")).toDF("id", "body")
    val out = UnigramLm.ngramCrossEntropy(docs, "id", "body", n = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(0L)._1 === 3L)
    val want0 = (2 * -math.log(0.8) + 1 * -math.log(2.0 / 3)) / 3
    assert(math.abs(out(0L)._2 - want0) < 1e-12)
    assert(out(1L)._1 === 1L)
    assert(math.abs(out(1L)._2 - -math.log(0.8)) < 1e-12)
  }

  test("trigram cross-entropy: hand-computed add-one smoothing") {
    import spark.implicits._
    // doc0 "a b a b a" -> trigrams (a,b,a) x2, (b,a,b) x1; doc1 "a b a"
    // -> (a,b,a). c3(aba)=3, c3(bab)=1; cp(a b)=3, cp(b a)=1; V=2
    // p(a|a b) = (3+1)/(3+2) = 0.8; p(b|b a) = (1+1)/(1+2) = 2/3
    val docs = Seq((0L, "a b a b a"), (1L, "a b a")).toDF("id", "body")
    val out = UnigramLm.ngramCrossEntropy(docs, "id", "body", n = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(0L)._1 === 3L)
    val want0 = (2 * -math.log(0.8) + 1 * -math.log(2.0 / 3)) / 3
    assert(math.abs(out(0L)._2 - want0) < 1e-12)
    assert(out(1L)._1 === 1L)
    assert(math.abs(out(1L)._2 - -math.log(0.8)) < 1e-12)
    // a doc with fewer than 3 tokens carries no trigram score
    val short = UnigramLm.ngramCrossEntropy(
      Seq((0L, "a b a"), (1L, "a b")).toDF("id", "body"), "id", "body", n = 3)
    assert(short.collect().map(_.getLong(0)).toSet === Set(0L))
  }

  test("hashed n-gram tier equals the exact-string tier (n=2, 3 and 4)") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val vocab = ('a' to 'p').map(_.toString)
    val docs = (0 until 60).map { i =>
      (i.toLong, (0 until 3 + rng.nextInt(30))
        .map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("id", "body")
    def rounded(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("n_ngrams"), round(col("xent"), 9).as("x"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    Seq(3, 2, 4).foreach { n =>
      val exact = rounded(UnigramLm.ngramCrossEntropy(docs, "id", "body", n))
      val hashed = rounded(UnigramLm.ngramCrossEntropyHashed(docs, "id", "body", n))
      assert(exact.nonEmpty, s"n=$n")
      assert(hashed === exact, s"n=$n")
    }
  }

  test("pre-trained-model scoring: full model reproduces the hashed tier; pruning floors unseen") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val vocab = ('a' to 'k').map(_.toString)
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 5 + rng.nextInt(20))
        .map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("id", "body")
    // full (unpruned) model over the same corpus == corpus-trained tier
    val full = UnigramLm.trainNgramModelHashed(docs, "body", n = 3, maxGrams = 1000000)
    val scored = UnigramLm.scoreNgramsWithModel(docs, "id", "body", full, n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val direct = UnigramLm.ngramCrossEntropyHashed(docs, "id", "body", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(scored.keySet === direct.keySet)
    scored.foreach { case (id, (nn, x)) =>
      assert(nn === direct(id)._1)
      assert(math.abs(x - direct(id)._2) < 1e-9, s"doc $id")
    }
    // a 1-gram model floors everything else at the unseen prob: scores
    // stay finite and docs with no modeled gram land at -ln(unseen)
    val tiny = UnigramLm.trainNgramModelHashed(docs, "body", n = 3, maxGrams = 1)
    val floor = -math.log(tiny.select(col("unseen_prob")).first().getDouble(0))
    val prunedMax = UnigramLm.scoreNgramsWithModel(docs, "id", "body", tiny, n = 3)
      .agg(max(col("xent"))).first().getDouble(0)
    assert(prunedMax <= floor + 1e-9)
  }

  test("captured-gram trainer equals the plain hashed trainer; strings match their hashes") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val vocab = ('a' to 'm').map(_.toString)
    val docs = (0 until 50).map { i =>
      (i.toLong, (0 until 4 + rng.nextInt(25))
        .map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("id", "body")
    val plain = UnigramLm.trainNgramModelHashed(docs, "body", n = 3, maxGrams = 64)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val captured = UnigramLm.trainNgramModelHashedCaptured(docs, "body", n = 3, maxGrams = 64)
    assert(captured.columns.toSeq === Seq("g", "gram", "prob", "unseen_prob"))
    val capRows = captured.collect()
    assert(capRows.map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSet === plain)
    // every captured string is a 3-token gram, distinct, and its hash
    // column is the stream kernel's hash of exactly that gram: scoring
    // via the hash join and replaying via the string join agree
    assert(capRows.map(_.getString(1)).distinct.length === capRows.length)
    assert(capRows.forall(_.getString(1).split(" ").length === 3))
    val rehash = captured.select(
        explode(graft.functions.TextFunctions.ngramHashPairs(col("gram"), 3, unicode = false)).as("gp"),
        col("g"), col("gram"))
      .collect()
    assert(rehash.forall(r => r.getStruct(0).getLong(0) == r.getLong(1)),
      "captured gram string must re-hash to its model hash")
  }

  test("perplexity buckets on the hashed LM tier equal the exact tier") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val vocab = ('a' to 'j').map(_.toString)
    val docs = (0 until 80).map { i =>
      (i.toLong, (0 until 4 + rng.nextInt(25))
        .map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "),
        Seq("en", "fr", "de")(i % 3))
    }.toDF("id", "body", "lang")
    def buckets(hashed: Boolean) = graft.text.PerplexityBuckets
      .partition(docs, "id", "body", "lang", ngramOrder = 3, hashedLm = hashed)
      .select(col("doc_id"), col("bucket")).as[(Long, Int)].collect().toMap
    assert(buckets(hashed = true) === buckets(hashed = false))
    // the pre-trained-model tier with the FULL (unpruned) table of the
    // same corpus is the same distribution — buckets pin identical
    val full = UnigramLm.trainNgramModelHashed(docs, "body", n = 3, maxGrams = 1000000)
    val viaModel = graft.text.PerplexityBuckets
      .partition(docs, "id", "body", "lang", ngramOrder = 3, model = Some(full))
      .select(col("doc_id"), col("bucket")).as[(Long, Int)].collect().toMap
    assert(viaModel === buckets(hashed = false))
  }

  test("hashed 5-gram tier equals a driver-side add-one replay") {
    import spark.implicits._
    val rng = new scala.util.Random(37)
    val vocab = ('a' to 'h').map(_.toString)
    val raw = (0 until 40).map { i =>
      (i.toLong, (0 until 6 + rng.nextInt(25))
        .map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val docs = raw.toDF("id", "body")
    val got = UnigramLm.ngramCrossEntropyHashed(docs, "id", "body", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // driver replay: 5-gram counts, prefix counts from them, V over
    // distinct tokens, add-one P(w5 | w1..w4), per-doc mean -ln
    val toks = raw.map { case (id, s) => id -> s.split("[^a-z0-9]+").filter(_.nonEmpty) }
    val grams = toks.flatMap { case (id, ts) => ts.sliding(5).filter(_.length == 5)
      .map(g => (id, g.mkString(" "))) }
    val c5 = grams.groupBy(_._2).map { case (g, o) => g -> o.size.toLong }
    val cp = c5.groupBy(_._1.split(" ").take(4).mkString(" "))
      .map { case (p, m) => p -> m.values.sum }
    val v = toks.flatMap(_._2).distinct.size.toLong
    val want = grams.groupBy(_._1).map { case (id, gs) =>
      val xs = gs.map { case (_, g) =>
        val prob = (c5(g) + 1).toDouble / (cp(g.split(" ").take(4).mkString(" ")) + v).toDouble
        -math.log(prob)
      }
      id -> ((gs.size.toLong, xs.sum / xs.size))
    }
    assert(got.keySet === want.keySet)
    got.foreach { case (id, (nn, x)) =>
      assert(nn === want(id)._1, s"doc $id gram count")
      assert(math.abs(x - want(id)._2) < 1e-9, s"doc $id xent")
    }
    // docs shorter than 5 tokens carry no row
    val short = UnigramLm.ngramCrossEntropyHashed(
      Seq((0L, "a b c d"), (1L, "a b c d e")).toDF("id", "body"), "id", "body", n = 5)
    assert(short.collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("trainSliceModel scores identically to training on the explicit slice") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    val vocab = ('a' to 'j').map(_.toString)
    val docs = (0 until 60).map { i =>
      (i.toLong, (0 until 5 + rng.nextInt(20))
        .map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("id", "body")
    val viaHelper = UnigramLm.scoreNgramsWithModel(docs, "id", "body",
        UnigramLm.trainSliceModel(docs, "id", "body", n = 3, sliceMod = 5), n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val explicit = UnigramLm.scoreNgramsWithModel(docs, "id", "body",
        UnigramLm.trainNgramModelHashed(docs.where(col("id") % 5 === 0),
          "body", n = 3, maxGrams = 1 << 20), n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(viaHelper === explicit)
  }

  test("partition rejects contradictory LM-tier requests") {
    import spark.implicits._
    val docs = Seq((0L, "a b c d", "en")).toDF("id", "body", "lang")
    intercept[IllegalArgumentException] {
      graft.text.PerplexityBuckets.partition(docs, "id", "body", "lang",
        ngramOrder = 1, hashedLm = true)
    }
    intercept[IllegalArgumentException] {
      graft.text.PerplexityBuckets.partition(docs, "id", "body", "lang",
        ngramOrder = 1, model = Some(docs))
    }
    intercept[IllegalArgumentException] {
      graft.text.PerplexityBuckets.partition(docs, "id", "body", "lang",
        ngramOrder = 5)
    }
  }

  test("word n-gram stream at n=2 equals the bigram kernel") {
    import spark.implicits._
    val texts = Seq("The quick brown-fox; jumps", "", "one", "a b c d")
    val got = texts.toDF("t").select(
        graft.functions.TextFunctions.wordNgramStream(col("t"), 2).as("s"),
        graft.functions.TextFunctions.asciiTokens(col("t")).as("toks"))
      .collect()
    // the bigram kernel IS the n = 2 stream: consecutive token pairs of
    // the shared tokenization
    got.foreach { r =>
      val pairs = r.getSeq[String](1).sliding(2).collect {
        case Seq(a, b) => s"$a $b"
      }.toSeq
      assert(r.getSeq[String](0) === pairs)
    }
  }

  test("bigram cross-entropy separates templated transitions from shuffled noise") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val vocab = ('a' to 'j').map(_.toString)
    val template = (0 until 40).map(i => vocab(i % 4)).mkString(" ")
    val docs = (0 until 20).map(i => (i.toLong, template)) :+
      (99L, (0 until 40).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
    val out = UnigramLm.ngramCrossEntropy(docs.toDF("id", "body"), "id", "body", n = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(99L) > out(0L) * 2,
      s"shuffled doc ${out(99L)} should far exceed templated ${out(0L)}")
  }

  test("unigram cross-entropy ranks rare-token docs above boilerplate") {
    import spark.implicits._
    val docs = (0 until 50).map(i => (i.toLong, "the common words again and again")) :+
      (99L, "xylophone quixotic zephyr")
    val out = UnigramLm.crossEntropy(docs.toDF("id", "body"), "id", "body")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(99L) > out(0L), "rare-token doc must have higher cross-entropy")
  }

  private def phraseRows(docs: Seq[(Long, String)], phrases: Seq[String],
      unicode: Boolean = false): Map[(Long, Long), Int] = {
    import spark.implicits._
    Search.phraseMatches(docs.toDF("id", "body"), "id", "body", phrases, unicode)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(3)).toMap
  }

  test("phraseMatches: adjacency, overlap counting, repeated terms") {
    val docs = Seq(
      (0L, "new york times reports new york weather"), // 2x "new york", 1x 3-gram
      (1L, "york new times"),                          // all words, wrong order
      (2L, "new shiny york"),                          // not adjacent
      (3L, "a a a a"),                                 // overlapping repeats
      (4L, "New York!"),                               // case/punct folding
      (5L, "nothing relevant"))
    val out = phraseRows(docs,
      Seq("new york", "new york times", "a a"))
    assert(out === Map(
      (0L, 0L) -> 2, (0L, 4L) -> 1,  // "new york" in docs 0 and 4
      (1L, 0L) -> 1,                 // "new york times" in doc 0
      (2L, 3L) -> 3))                // "a a" in doc 3 overlaps: starts 0,1,2
  }

  test("phraseMatches: phrase longer than doc, and single-token phrase") {
    val docs = Seq((0L, "x y"), (1L, "x"), (2L, "z x z x"))
    val out = phraseRows(docs, Seq("x y z", "x"))
    assert(out === Map((1L, 0L) -> 1, (1L, 1L) -> 1, (1L, 2L) -> 2))
  }

  test("phraseMatches: unicode tier matches CJK adjacency") {
    // CJK codepoints tokenize as single tokens in the unicode tier, so a
    // two-ideograph phrase is an adjacency test
    val docs = Seq((0L, "訓練 データ を 読む"), (1L, "データ 訓練"))
    val out = phraseRows(docs, Seq("訓練 データ"), unicode = true)
    assert(out.keySet === Set((0L, 0L)))
  }

  test("phraseMatches: invalid phrase terms fail loud") {
    import spark.implicits._
    val docs = Seq((0L, "a b")).toDF("id", "body")
    intercept[IllegalArgumentException] {
      Search.phraseMatches(docs, "id", "body", Seq("  !! "))
    }
  }

  test("phraseMatches: posting filter happens before the exchange") {
    import spark.implicits._
    val docs = Seq((0L, "a b c")).toDF("id", "body")
    val plan = Search.phraseMatches(docs, "id", "body", Seq("a b"))
      .queryExecution.executedPlan
    val exchanges = graft.tools.PlanWalk.collectDeep(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      // the pushed-down filter references the pre-rename generate output
      // (col#N IN (a,b)), so match on the isin shape, not the column name
      val hasFilter = graft.tools.PlanWalk.collectDeep(e.child) {
        case f: org.apache.spark.sql.execution.FilterExec
          if f.condition.toString.contains("IN (a,b)") => f
      }.nonEmpty
      assert(hasFilter, "phrase-term filter must be pushed below the shuffle")
    }
    val broadcasts = graft.tools.PlanWalk.collectDeep(plan) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(broadcasts.nonEmpty, "slot table must broadcast")
  }
}
