package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram language-model scoring — the CCNet-style quality signal: score
  * each document by its per-token cross-entropy under the corpus's own
  * add-one-smoothed unigram distribution. Boilerplate/templated text
  * scores low (tokens the corpus sees constantly), lorem-ipsum noise
  * scores high; cleaning pipelines threshold both tails.
  *
  * Plan: (doc, term) tf first [shuffle on the UNIFORM (doc, term) key] ->
  * per-term corpus counts from tf [map-side combined] -> join tf x probs
  * on term -> weighted per-doc average. Joining tf (not raw tokens)
  * against the prob table cuts the hot-term rows by the average tf
  * factor; the prob side is one row per term, so AQE turns the join into
  * a broadcast when the vocabulary fits. Corpus totals (T tokens, V
  * vocab) are the only driver scalars.
  */
object UnigramLm {

  /** (doc_id, n_tokens, xent): per-token cross-entropy
    * `sum(tf * -ln((c+1)/(T+V))) / sum(tf)`, natural log.
    */
  def crossEntropy(df: DataFrame, idCol: String, textCol: String,
      unicode: Boolean = false): DataFrame = {
    // unicode tier: multilingual tokens (CJK singles) instead of
    // [a-z0-9] runs — a CJK corpus otherwise has zero tokens
    val tokens =
      if (unicode) graft.functions.TextFunctions.unicodeTokens(col(textCol))
      else split(lower(col(textCol)), "[^a-z0-9]+")
    val toks = df.select(col(idCol).as("doc_id"),
        explode(tokens).as("term"))
      .where(col("term") =!= "")
    // persisted (tracked — graft.etl.CacheTracker.unpersistCaches): tf
    // feeds BOTH the T/V scalar collect below and the probs join in the
    // returned plan — two separate ACTIONS, which exchange reuse (a
    // per-plan mechanism) cannot bridge, so without the cache the
    // tokenize+explode corpus scan and the (doc, term) shuffle ran twice
    // per query (measured r12 on q115: the T/V job and the scored-frame
    // job were twin ~2 s tokenize passes). The cached rows are the slim
    // (doc_id, term, tf) aggregate — token-TYPE cardinality per doc, no
    // raw text; at corpus scale it spills to disk, still cheaper than a
    // second regex pass over the full text.
    val tf = graft.etl.CacheTracker.checkpointTracked(
      toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val termCounts = tf.groupBy(col("term")).agg(sum(col("tf")).as("c"))
    // T and V in ONE collect over termCounts (sum(c) == sum over tf
    // exactly — integer sums associate): they were two separate actions,
    // each re-running the tokenize+explode scan (r11). An in-plan
    // crossJoin(broadcast) scalar was measured SLOWER on the n>=2 tiers
    // (the extra broadcast gate cost more than the saved action), so the
    // scalars stay driver literals. sum over an EMPTY stream is NULL (a
    // token-less corpus); the fetch must not throw, and t=0 flows to an
    // empty (not wrong) result.
    val tvRow = termCounts.agg(sum(col("c")), count(lit(1))).collect()(0)
    val t = if (tvRow.isNullAt(0)) 0L else tvRow.getLong(0)
    val v = tvRow.getLong(1)
    val probs = termCounts.withColumn("prob",
      (col("c") + lit(1)).cast("double") / lit((t + v).toDouble))
    tf.join(probs.select(col("term"), col("prob")), "term")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        (sum(col("tf") * -log(col("prob"))) / sum(col("tf"))).as("xent"))
  }

  /** (doc_id, n_ngrams, xent): per-n-gram cross-entropy under the
    * corpus's add-one-smoothed order-`n` model (n >= 2),
    * `P(w_n | w_1..w_{n-1}) = (c(w_1..w_n) + 1) / (c(w_1..w_{n-1} ·) + V)`
    * — n = 2 is the bigram tier (q68), n = 3 the trigram tier (q117), a
    * step toward the 5-gram KenLM the CCNet recipe scores with (Wenzek
    * et al. 2020). Repetitive/templated text collapses toward its own
    * transitions and scores near zero; shuffled-word noise scores near
    * ln(V). Exact integer counts and a replayable double expression are
    * what the oracles replay.
    *
    * Plan: compiled map-side n-gram kernel
    * ([[graft.functions.Kernels.wordNgramStream]] — the first bigram cut
    * shuffled the whole token stream through a per-doc lead window just
    * to pair neighbors) -> n-gram tf [shuffle on the uniform (doc, gram)
    * key] -> corpus n-gram counts -> PREFIX counts aggregated from the
    * n-gram counts (one row per distinct gram — `c(w_1..w_{n-1} ·)` is a
    * sum over w_n, never a second corpus pass) -> probs join back. Only
    * V reaches the driver. Tokens never contain spaces, so the first
    * n-1 space-joined labels ARE the conditioning prefix.
    */
  def ngramCrossEntropy(df: DataFrame, idCol: String, textCol: String,
      n: Int, unicode: Boolean = false): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val grams = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.TextFunctions.wordNgramStream(col(textCol), n, unicode)).as("g"))
    val tfn = grams.groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("tf"))
    val cn = tfn.groupBy(col("g")).agg(sum(col("tf")).as("cn"))
    val cp = cn.groupBy(substring_index(col("g"), " ", n - 1).as("p"))
      .agg(sum(col("cn")).as("cp"))
    val v = vocabularySize(df, textCol, unicode)
    val probs = cn.withColumn("p", substring_index(col("g"), " ", n - 1))
      .join(cp, "p")
      .select(col("g"),
        ((col("cn") + lit(1)).cast("double") / (col("cp") + lit(v)).cast("double")).as("prob"))
    tfn.join(probs, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_ngrams"),
        (sum(col("tf") * -log(col("prob"))) / sum(col("tf"))).as("xent"))
  }

  /** V, the distinct-token count every order-n tier smooths with —
    * counted with the SAME compiled tokenizer as the n-gram streams (a
    * lower()+regex V could disagree with the kernels on characters whose
    * Unicode lowercase is ASCII alnum, e.g. the Kelvin sign).
    * Deliberately a SEPARATE action: folding V into the plan as a
    * crossJoin(broadcast) scalar was measured slower at sf1 (r11 — the
    * broadcast gate delayed the probs join more than the action cost).
    */
  private def vocabularySize(df: DataFrame, textCol: String, unicode: Boolean): Long =
    df.select(
        explode(
          if (unicode) graft.functions.TextFunctions.unicodeTokens(col(textCol))
          else graft.functions.TextFunctions.asciiTokens(col(textCol))).as("term"))
      .distinct().count()

  /** The HASHED production tier of order-n cross-entropy (n >= 2): the
    * same add-one-smoothed `P(w_n | w_1..w_{n-1})` arithmetic as
    * [[ngramCrossEntropy]], but every exchange
    * carries fixed-width 64-bit (gram, prefix) hashes instead of
    * space-joined strings ([[graft.functions.Kernels.ngramHashPairs]] —
    * the prefix hash is the chain state after n-1 tokens, emitted
    * map-side, so the prefix is never re-derived from a string).
    * Measured at n=3: the exact-string tier went 14.4 s -> 306.8 s per
    * 10x data at 500k -> 5M docs (three string-keyed exchanges, spill);
    * this tier is the scale path, and its values equal the exact
    * tier's wherever the 64-bit hashes are injective on the observed
    * grams/prefixes/vocab (collisions ~ m^2/2^65 — vanishing at any
    * real vocabulary; `SearchLmSpec` proves equality on randomized
    * corpora, q117 oracle-verifies the arithmetic, and the q120 golden
    * VALUES pin this tier's own outputs per scale).
    *
    * Output schema matches the exact tier: (doc_id, n_ngrams, xent).
    */
  def ngramCrossEntropyHashed(df: DataFrame, idCol: String, textCol: String,
      n: Int, unicode: Boolean = false): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val pairs = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.TextFunctions.ngramHashPairs(col(textCol), n, unicode)).as("gp"))
    val tfn = pairs.groupBy(col("doc_id"), col("gp.g").as("g"))
      .agg(count(lit(1)).as("tf"), first(col("gp.p")).as("p"))
    // p is a pure function of g (same gram -> same prefix chain state),
    // so first() is deterministic here
    val cn = tfn.groupBy(col("g")).agg(sum(col("tf")).as("cn"), first(col("p")).as("p"))
    val cp = cn.groupBy(col("p")).agg(sum(col("cn")).as("cp"))
    // V from the exact tokenizer, so the smoothing denominator is
    // identical to the exact tier's
    val v = vocabularySize(df, textCol, unicode)
    val probs = cn.join(cp, "p")
      .select(col("g"),
        ((col("cn") + lit(1)).cast("double") / (col("cp") + lit(v)).cast("double")).as("prob"))
    tfn.join(probs, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_ngrams"),
        (sum(col("tf") * -log(col("prob"))) / sum(col("tf"))).as("xent"))
  }

  /** Train a bounded hashed n-gram model: the top `maxGrams` grams by
    * count (ties broken on the gram hash for determinism) with their
    * add-one-smoothed conditional probabilities — the artifact
    * [[scoreNgramsWithModel]] broadcasts. Output: (g, prob), plus the
    * smoothing floor for unseen grams as every row's `unseen_prob`
    * (constant column — cheap, keeps the artifact self-contained).
    *
    * This is the CCNet shape proper (Wenzek et al. 2020 score with a
    * PRE-TRAINED KenLM, not a model re-estimated over the scoring
    * corpus): at 100 TB the corpus-trained tiers above re-estimate
    * per run and pay corpus-sized model joins; a model trained once
    * (on a sample or reference corpus) is VOCABULARY-bounded, so
    * scoring is a broadcast hash join — no wide exchange ever.
    */
  def trainNgramModelHashed(df: DataFrame, textCol: String, n: Int,
      maxGrams: Int, unicode: Boolean = false): DataFrame =
    trainNgramModelImpl(df, textCol, n, maxGrams, unicode, capture = false)
      .select(col("g"), col("prob"), col("unseen_prob"))

  /** [[trainNgramModelHashed]] carrying each model gram's STRING form
    * alongside its 64-bit hash — output (g, gram, prob, unseen_prob).
    * The gram strings make the bounded artifact ORACLE-CAPTURABLE (an
    * engine with no access to the JVM hash chain replays scoring by
    * joining the captured (gram, prob) VALUES on the string form — the
    * q124 pattern) and human-auditable. The string column rides only
    * the TRAINING slice's exchanges (bounded by construction), so the
    * scale shape is unchanged; [[scoreNgramsWithModel]] ignores it.
    */
  def trainNgramModelHashedCaptured(df: DataFrame, textCol: String, n: Int,
      maxGrams: Int, unicode: Boolean = false): DataFrame =
    trainNgramModelImpl(df, textCol, n, maxGrams, unicode, capture = true)

  private def trainNgramModelImpl(df: DataFrame, textCol: String, n: Int,
      maxGrams: Int, unicode: Boolean, capture: Boolean): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    require(maxGrams >= 1, s"maxGrams must be >= 1, got $maxGrams")
    // with capture: zip the hash-pair stream with the string n-gram
    // stream — both kernels walk the same token stream emitting one
    // entry per n-gram start, so position i of each is the same gram
    val pairs =
      if (capture)
        df.select(explode(arrays_zip(
            graft.functions.TextFunctions.ngramHashPairs(col(textCol), n, unicode),
            graft.functions.TextFunctions.wordNgramStream(col(textCol), n, unicode))).as("z"))
          .select(col("z.0").as("gp"), col("z.1").as("gram"))
      else
        df.select(
            explode(graft.functions.TextFunctions.ngramHashPairs(col(textCol), n, unicode)).as("gp"))
          .withColumn("gram", lit(null).cast("string"))
    val cn = pairs.groupBy(col("gp.g").as("g"))
      .agg(count(lit(1)).as("cn"), first(col("gp.p")).as("p"),
        first(col("gram")).as("gram"))
    // p (and gram) are pure functions of g (same gram -> same prefix
    // chain state / same string), so first() is deterministic here
    val cp = cn.groupBy(col("p")).agg(sum(col("cn")).as("cp"))
    val v = vocabularySize(df, textCol, unicode)
    // unseen floor: an unobserved gram under an unobserved prefix —
    // the add-one model's 1 / V (prefix count 0)
    val unseen = 1.0 / v
    cn.join(cp, "p")
      .select(col("g"), col("gram"), col("cn"),
        ((col("cn") + lit(1)).cast("double") / (col("cp") + lit(v)).cast("double")).as("prob"))
      .orderBy(col("cn").desc, col("g"))
      .limit(maxGrams)
      .select(col("g"), col("gram"), col("prob"), lit(unseen).as("unseen_prob"))
  }

  /** Convenience for the corpus-scale default: train the bounded
    * hashed model on the deterministic `idCol % sliceMod == 0` slice of
    * the SAME frame and return it ready for [[scoreNgramsWithModel]] /
    * `PerplexityBuckets.partition(model = Some(...))`. One call puts a
    * caller on the 2.0x/decade scoring path instead of the 12-21x
    * corpus-trained tiers; for CCNet-faithful runs train on a separate
    * reference corpus instead (the slice still re-trains per run).
    */
  def trainSliceModel(df: DataFrame, idCol: String, textCol: String, n: Int,
      sliceMod: Int = 7, maxGrams: Int = 1 << 20, unicode: Boolean = false): DataFrame = {
    require(sliceMod >= 1, s"sliceMod must be >= 1, got $sliceMod")
    trainNgramModelHashed(df.where(col(idCol) % sliceMod === 0),
      textCol, n, maxGrams, unicode)
  }

  /** [[trainSliceModel]] with a FIXED training bound: the reference set
    * is `idCol < refRows` — CONSTANT rows at every corpus size, where
    * the modulus slice GROWS with the corpus (a `% 7` slice of a 10x
    * corpus is a 10x training set, so the measured decade of a
    * slice-model query blends the superlinear trainer with the
    * 2.0x/decade scoring leg). With a fixed bound the training cost is
    * a constant and the query's decade IS the scoring leg — the number
    * a per-crawl production run actually sees. This is also the
    * CCNet-faithful shape (Wenzek et al. 2020 score against a model
    * trained once on a fixed reference corpus, not on the crawl).
    * Train once, persist via [[graft.model.ModelState.saveLmModel]],
    * and every later crawl scores against the loaded artifact.
    */
  def trainFixedRefModel(df: DataFrame, idCol: String, textCol: String, n: Int,
      refRows: Long = 400, maxGrams: Int = 1 << 20, unicode: Boolean = false): DataFrame = {
    require(refRows >= 1, s"refRows must be >= 1, got $refRows")
    trainNgramModelHashed(df.where(col(idCol) < refRows),
      textCol, n, maxGrams, unicode)
  }

  /** Score documents against a PRE-TRAINED bounded model
    * ([[trainNgramModelHashed]]'s artifact, or any (g, prob,
    * unseen_prob) frame): per-doc cross-entropy with grams missing
    * from the model scored at the model's unseen floor. The model
    * BROADCASTS (bounded by construction), so the only exchange is
    * the per-doc aggregation — the map-side scoring shape a 100 TB
    * corpus needs. With the model = the full (unpruned) table of the
    * same corpus, values equal [[ngramCrossEntropyHashed]]
    * (spec-pinned).
    */
  def scoreNgramsWithModel(df: DataFrame, idCol: String, textCol: String,
      model: DataFrame, n: Int, unicode: Boolean = false): DataFrame = {
    val pairs = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.TextFunctions.ngramHashPairs(col(textCol), n, unicode)).as("gp"))
      .select(col("doc_id"), col("gp.g").as("g"))
    val unseenRow = model.select(max(col("unseen_prob")).as("u"))
    pairs
      .join(broadcast(model.select(col("g"), col("prob"))), Seq("g"), "left")
      .crossJoin(broadcast(unseenRow))
      .select(col("doc_id"), coalesce(col("prob"), col("u")).as("prob"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_ngrams"),
        (sum(-log(col("prob"))) / count(lit(1))).as("xent"))
  }
}
