package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Language-model queries: exact and hashed n-gram cross-entropy,
  * pre-trained model scoring, perplexity buckets, DSIR weights and trained
  * language identification.
  */
object LmQueries {

  val all: Seq[Query] = Seq(
    // q57: unigram LM cross-entropy (graft.text.UnigramLm) — the CCNet-
    // style quality score; oracle replays add-one smoothing and the
    // weighted average in SQL
    Query.fixed("q57_unigram_xent", (s, dir) =>
      graft.text.UnigramLm.crossEntropy(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text")
        .select(col("doc_id"), col("n_tokens"), round(col("xent"), 6).as("xent"))
        .orderBy(col("doc_id")),
      """WITH tok AS (
        |  SELECT doc_id, t.term
        |  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
        |  WHERE t.term <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t, count(DISTINCT term) AS v FROM tf),
        |p AS (SELECT term,
        |    CAST(sum(tf) + 1 AS DOUBLE) / CAST((SELECT t + v FROM tot) AS DOUBLE) AS prob
        |  FROM tf GROUP BY term)
        |SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |  round(sum(tf.tf * -ln(p.prob)) / sum(tf.tf), 6) AS xent
        |FROM tf JOIN p USING (term)
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin),

    // q68: bigram-LM cross-entropy (SURVEY+ L32) — one conditioning level
    // beyond q57: P(w2|w1) add-one smoothed from corpus bigram counts
    // (UnigramLm.ngramCrossEntropy at n = 2).
    Query.fixed("q68_bigram_xent", (s, dir) =>
      graft.text.UnigramLm.ngramCrossEntropy(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text", n = 2)
        .select(col("doc_id"), col("n_ngrams").as("n_bigrams"),
          round(col("xent"), 6).as("xent"))
        .orderBy(col("doc_id")),
      """WITH raw AS (SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS a FROM documents),
        |tok AS (SELECT doc_id, unnest(a) AS term, generate_subscripts(a, 1) AS pos FROM raw),
        |tk AS (SELECT doc_id, term, pos FROM tok WHERE term <> ''),
        |bg AS (SELECT doc_id, term AS w1,
        |    lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM tk),
        |b AS (SELECT doc_id, w1, w2 FROM bg WHERE w2 IS NOT NULL),
        |tf2 AS (SELECT doc_id, w1, w2, count(*) AS tf FROM b GROUP BY 1, 2, 3),
        |c2 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c2 FROM tf2 GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        |v AS (SELECT count(DISTINCT term) AS v FROM tk),
        |p AS (SELECT c2.w1, c2.w2,
        |    CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + (SELECT v FROM v) AS DOUBLE) AS prob
        |  FROM c2 JOIN c1 USING (w1))
        |SELECT tf2.doc_id, CAST(sum(tf2.tf) AS BIGINT) AS n_bigrams,
        |  round(sum(tf2.tf * -ln(p.prob)) / sum(tf2.tf), 6) AS xent
        |FROM tf2 JOIN p ON tf2.w1 = p.w1 AND tf2.w2 = p.w2
        |GROUP BY tf2.doc_id ORDER BY tf2.doc_id""".stripMargin),

    // q82: DSIR importance weights (graft.text.Dsir, SURVEY+ L47) —
    // hashed unigram+bigram log-likelihood-ratio scores of every doc
    // against the lang='en' target distribution. Pass 1 ships only
    // (bucket, bool) ints into a 1024-group agg; pass 2 is a pure map
    // stage folding a 1024-double plan literal over each doc's own
    // feature array. 6-dp rounding absorbs summation-order noise (the
    // q77 precedent).
    Query.fixed("q82_dsir_weights", (s, dir) =>
      graft.text.Dsir.importanceWeights(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
        targetPred = col("lang") === "en", numBuckets = 1024),
      // DSIR replay: md5-60 buckets mod 1024, add-1 smoothed log ratio in
      // the exact double-op order of Dsir.importanceWeights; round(6)
      // absorbs summation-order noise (q77 precedent)
      """WITH tk AS (SELECT doc_id, lang,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
        |  FROM documents),
        |f AS (SELECT doc_id, lang,
        |  list_concat(t, [t[i] || ' ' || t[i + 1] for i in range(1, greatest(len(t), 1))]) AS fs
        |  FROM tk),
        |e AS (SELECT doc_id, lang = 'en' AS tgt,
        |  CAST(concat('0x', substr(md5(u.feat), 1, 15)) AS BIGINT) % 1024 AS b
        |  FROM f, unnest(fs) AS u(feat)),
        |g AS (SELECT b, count(*) AS rb,
        |  sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tb FROM e GROUP BY 1),
        |tot AS (SELECT sum(rb) AS r, sum(tb) AS t FROM g),
        |ratio AS (SELECT b,
        |  ln((CAST(tb + 1 AS DOUBLE) / (t + 1024)) / (CAST(rb + 1 AS DOUBLE) / (r + 1024))) AS lr
        |  FROM g CROSS JOIN tot),
        |d AS (SELECT doc_id, b, count(*) AS c FROM e GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_features,
        |  round(sum(c * lr), 6) AS dsir_logw
        |FROM d JOIN ratio USING (b) GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // q115: CCNet perplexity bucketing (SURVEY+ L76) — per-language
    // head/middle/tail terciles of the q57 cross-entropy score. Bucket
    // assignment is RANK-based (round(xent,6), doc_id total order +
    // exact integer NTILE arithmetic), never cut-value-based — float
    // cuts are knife-edged across engines. The oracle replays the q57
    // score chain then a plain ntile(3) window; the Spark side uses the
    // scalable grouped-ntile (global range-split rank + broadcast
    // per-language extents), a completely different plan.
    Query.fixed("q115_perplexity_buckets", (s, dir) => {
      graft.text.PerplexityBuckets.partition(
          t(s, dir, "documents"), "doc_id", "text", "lang")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("xent"),
          when(col("bucket") === 1, "head")
            .when(col("bucket") === 2, "middle")
            .otherwise("tail").as("ppl_bucket"))
        .orderBy(col("doc_id"))
    },
      // q115: the q57 score chain + a plain per-language ntile window
      """WITH tok AS (
        |  SELECT doc_id, t.term
        |  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
        |  WHERE t.term <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t, count(DISTINCT term) AS v FROM tf),
        |p AS (SELECT term,
        |    CAST(sum(tf) + 1 AS DOUBLE) / CAST((SELECT t + v FROM tot) AS DOUBLE) AS prob
        |  FROM tf GROUP BY term),
        |x AS (SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |    round(sum(tf.tf * -ln(p.prob)) / sum(tf.tf), 6) AS xent
        |  FROM tf JOIN p USING (term) GROUP BY tf.doc_id),
        |s AS (SELECT x.doc_id, d.lang, x.n_tokens, x.xent
        |  FROM x JOIN documents d ON x.doc_id = d.doc_id),
        |b AS (SELECT s.*, ntile(3) OVER (PARTITION BY lang ORDER BY xent, doc_id) AS bkt
        |  FROM s)
        |SELECT doc_id, lang, n_tokens, xent,
        |  CASE bkt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
        |FROM b ORDER BY doc_id""".stripMargin),

    // q117: TRIGRAM cross-entropy (SURVEY+ L77) — q68's operator one
    // conditioning level up (UnigramLm.ngramCrossEntropy at n = 3):
    // P(w3|w1 w2) with add-one smoothing, prefix counts c(w1 w2 ·)
    // aggregated FROM the trigram counts, V from the same compiled
    // tokenizer. Oracle replays the full double arithmetic (q68 pattern:
    // exact-integer counts, identical cast/op order, round 6).
    Query.fixed("q117_trigram_xent", (s, dir) =>
      graft.text.UnigramLm.ngramCrossEntropy(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text", n = 3)
        .select(col("doc_id"), col("n_ngrams").as("n_trigrams"),
          round(col("xent"), 6).as("xent"))
        .orderBy(col("doc_id")),
      // q117: trigram LM replay — the q68 CTE chain with a second lead();
      // prefix counts summed from the trigram counts exactly like the
      // Spark plan, identical double cast/op order, round 6
      """WITH raw AS (SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS a FROM documents),
        |tok AS (SELECT doc_id, unnest(a) AS term, generate_subscripts(a, 1) AS pos FROM raw),
        |tk AS (SELECT doc_id, term, pos FROM tok WHERE term <> ''),
        |tg AS (SELECT doc_id, term AS w1,
        |    lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |    lead(term, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        |  FROM tk),
        |g AS (SELECT doc_id, w1, w2, w3 FROM tg WHERE w3 IS NOT NULL),
        |tf3 AS (SELECT doc_id, w1, w2, w3, count(*) AS tf FROM g GROUP BY 1, 2, 3, 4),
        |c3 AS (SELECT w1, w2, w3, CAST(sum(tf) AS BIGINT) AS c3 FROM tf3 GROUP BY 1, 2, 3),
        |cp AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS cp FROM c3 GROUP BY 1, 2),
        |v AS (SELECT count(DISTINCT term) AS v FROM tk),
        |p AS (SELECT c3.w1, c3.w2, c3.w3,
        |    CAST(c3.c3 + 1 AS DOUBLE) / CAST(cp.cp + (SELECT v FROM v) AS DOUBLE) AS prob
        |  FROM c3 JOIN cp USING (w1, w2))
        |SELECT tf3.doc_id, CAST(sum(tf3.tf) AS BIGINT) AS n_trigrams,
        |  round(sum(tf3.tf * -ln(p.prob)) / sum(tf3.tf), 6) AS xent
        |FROM tf3 JOIN p ON tf3.w1 = p.w1 AND tf3.w2 = p.w2 AND tf3.w3 = p.w3
        |GROUP BY tf3.doc_id ORDER BY tf3.doc_id""".stripMargin),

    // q118: the q115 bucketing on the TRIGRAM score (ngramOrder = 3) —
    // same rank-based tercile machinery, sharper LM (closer to CCNet's
    // 5-gram KenLM); oracle = the q117 scoring CTEs + the q115 window
    // ntile, a different plan end to end.
    Query.fixed("q118_perplexity_buckets_trigram", (s, dir) => {
      graft.text.PerplexityBuckets.partition(
          t(s, dir, "documents"), "doc_id", "text", "lang", ngramOrder = 3)
        .select(col("doc_id"), col("lang"),
          col("n_tokens").as("n_trigrams"), col("xent"),
          when(col("bucket") === 1, "head")
            .when(col("bucket") === 2, "middle")
            .otherwise("tail").as("ppl_bucket"))
        .orderBy(col("doc_id"))
    },
      // q118: q117's trigram score feeding q115's plain window ntile
      """WITH raw AS (SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS a FROM documents),
        |tok AS (SELECT doc_id, unnest(a) AS term, generate_subscripts(a, 1) AS pos FROM raw),
        |tk AS (SELECT doc_id, term, pos FROM tok WHERE term <> ''),
        |tg AS (SELECT doc_id, term AS w1,
        |    lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
        |    lead(term, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        |  FROM tk),
        |g AS (SELECT doc_id, w1, w2, w3 FROM tg WHERE w3 IS NOT NULL),
        |tf3 AS (SELECT doc_id, w1, w2, w3, count(*) AS tf FROM g GROUP BY 1, 2, 3, 4),
        |c3 AS (SELECT w1, w2, w3, CAST(sum(tf) AS BIGINT) AS c3 FROM tf3 GROUP BY 1, 2, 3),
        |cp AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS cp FROM c3 GROUP BY 1, 2),
        |v AS (SELECT count(DISTINCT term) AS v FROM tk),
        |p AS (SELECT c3.w1, c3.w2, c3.w3,
        |    CAST(c3.c3 + 1 AS DOUBLE) / CAST(cp.cp + (SELECT v FROM v) AS DOUBLE) AS prob
        |  FROM c3 JOIN cp USING (w1, w2)),
        |x AS (SELECT tf3.doc_id, CAST(sum(tf3.tf) AS BIGINT) AS n_trigrams,
        |    round(sum(tf3.tf * -ln(p.prob)) / sum(tf3.tf), 6) AS xent
        |  FROM tf3 JOIN p ON tf3.w1 = p.w1 AND tf3.w2 = p.w2 AND tf3.w3 = p.w3
        |  GROUP BY tf3.doc_id),
        |s AS (SELECT x.doc_id, d.lang, x.n_trigrams, x.xent
        |  FROM x JOIN documents d ON x.doc_id = d.doc_id),
        |b AS (SELECT s.*, ntile(3) OVER (PARTITION BY lang ORDER BY xent, doc_id) AS bkt
        |  FROM s)
        |SELECT doc_id, lang, n_trigrams, xent,
        |  CASE bkt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
        |FROM b ORDER BY doc_id""".stripMargin),

    // q120: the HASHED production tier of the trigram LM (L77's scale
    // path) — identical smoothing arithmetic, but every exchange
    // carries fixed-width (gram, prefix) 64-bit hashes instead of
    // strings (the exact tier q117 went 21x/decade at 500k -> 5M docs).
    // JVM-hash-specific output -> committed golden VALUES oracle (the
    // q23/q24/q38 pattern); the arithmetic is oracle-verified via q117
    // and SearchLmSpec proves hashed == exact on randomized corpora.
    Query.golden("q120_trigram_xent_hashed", (s, dir) =>
      graft.text.UnigramLm.ngramCrossEntropyHashed(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text", n = 3)
        .select(col("doc_id"), col("n_ngrams").as("n_trigrams"),
          round(col("xent"), 6).as("xent"))
        .orderBy(col("doc_id"))),

    // q125: the hashed LM tier at ORDER 5 — CCNet proper scores with a
    // 5-gram KenLM (Wenzek et al. 2020); the q120 machinery accepts any
    // n >= 2, this declares the canonical order. Same fixed-width
    // (gram, prefix) hash exchanges; golden VALUES oracle per scale
    // (JVM-hash-specific output, the q120 pattern), arithmetic
    // spec-verified by a driver-side add-one 5-gram replay.
    Query.golden("q125_5gram_xent_hashed", (s, dir) =>
      graft.text.UnigramLm.ngramCrossEntropyHashed(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text", n = 5)
        .select(col("doc_id"), col("n_ngrams").as("n_5grams"),
          round(col("xent"), 6).as("xent"))
        .orderBy(col("doc_id"))),

    // q133: LM MODEL-ARTIFACT round trip + FIXED-REFERENCE-SET training
    // (SURVEY+ L87) — the train-once/score-many contract: a bounded
    // hashed trigram model trains on a CONSTANT reference set
    // (doc_id < 400 — the same 400 documents at every corpus size,
    // where q124's doc_id % 7 slice GROWS with the corpus and blends
    // the trainer into the measured decade), persists through the
    // schema-pinned param-stamped parquet artifact
    // (ModelState.saveLmModel / loadLmModel — the q119 DedupState
    // pattern), and the LOADED artifact broadcast-scores the full
    // corpus. The oracle replays the TRAINED model's captured (gram,
    // prob) VALUES — so artifact-round-trip fidelity is itself
    // oracle-gated: any double the parquet trip changed would break
    // the hash match.
    Query("q133_lm_artifact_scoring", (s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.where(col("doc_id") < 400)
      val lm = trainCapturedLm(s, ref, "text", n = 3, maxGrams = 2048, "q133 reference set")
      val stateDir = Scratch.dir().toString
      graft.model.ModelState.saveLmModel(lm.frame, n = 3, unicode = false, path = stateDir)
      val loaded = graft.model.ModelState.loadLmModel(s, stateDir, n = 3)
      val frame = graft.text.UnigramLm.scoreNgramsWithModel(docs, "doc_id", "text", loaded, n = 3)
        .select(col("doc_id"), col("n_ngrams").as("n_trigrams"),
          round(col("xent"), 6).as("xent"))
        .orderBy(col("doc_id"))
      Built(frame, Some(ngramModelOracleSql(3, lm.grams, lm.unseen, "n_trigrams")))
    }),

    // q135: TRAINED language identification (SURVEY+ L89) — the
    // fastText-shape LID that opens the CCNet chain (hashing-trick
    // char-trigram features -> multinomial LR; Joulin et al. 2016 /
    // Wenzek et al. 2020), one tier above the q103 marker heuristic.
    // A planted multilingual corpus (8 scripts/languages, per-doc
    // deterministic word sampling) trains on the bounded doc_id < 2000
    // seed; the trained model exports as a bounded captured (gram,
    // lang, w) table (the q124 pattern — margins are linear in n-gram
    // occurrences, so a string-join replay IS the model) and
    // broadcast-scores every document map-side; prediction is the
    // rank-based argmax over 6dp-rounded margins. The oracle rebuilds
    // the planted text, replays the n-gram normalization (the q98
    // translate+regexp formula, codepoint substr windows) and the
    // margin sum/argmax from the captured VALUES.
    Query("q135_lid_trained", (s, dir) => {
      val li = (col("doc_id") % LidPools.length).cast("int")
      val langArr = typedlit(LidPools.map(_._1))
      val poolArr = typedlit(LidPools.map(_._2))
      val words = (0 until 9).map { k =>
        val widx = (expr(s"doc_id div ${LidPools.length}") + lit(3 * k + k * k)) % 14
        element_at(element_at(poolArr, li + 1), (widx + 1).cast("int"))
      }
      val synth = t(s, dir, "documents")
        .select(col("doc_id"),
          element_at(langArr, li + 1).as("lang"),
          concat_ws(" ", words: _*).as("t"))
      val seed = synth.where(col("doc_id") < 2000)
      val model = graft.text.LanguageId.train(seed, "t", "lang",
        n = 3, numFeatures = 1 << 16, maxIter = 50)
      val bounded = graft.text.LanguageId.exportBounded(model, seed, "t", maxGrams = 300)
      val oracle = q135OracleSql(bounded.collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq)
      val frame = graft.text.LanguageId.scoreBounded(synth, "doc_id", "t", bounded, n = 3)
        .orderBy(col("doc_id"))
      Built(frame, Some(oracle))
    }),

    // q124: PRE-TRAINED-MODEL LM scoring — THE 100 TB CCNet path
    // (Wenzek et al. 2020 score with a pre-trained KenLM, not a model
    // re-estimated over the scoring corpus), now a DECLARED query: a
    // bounded hashed trigram model trains once on a fixed slice
    // (doc_id % 7 == 0 — the "reference corpus"), BROADCASTS, and
    // map-side-scores the whole corpus — no corpus-sized model
    // exchange, 2.0x/decade measured vs 12-21x for the corpus-trained
    // tiers. The captured-gram trainer carries each model gram's
    // string form, so the oracle replays scoring engine-independently:
    // captured (gram, prob) VALUES left-joined onto the q117 trigram
    // stream, unseen floor for the rest.
    Query("q124_lm_model_scoring", (s, dir) => {
      val docs = t(s, dir, "documents")
      val slice = docs.where(col("doc_id") % 7 === 0)
      val lm = trainCapturedLm(s, slice, "text", n = 3, maxGrams = 2048, "q124 training slice")
      val frame = graft.text.UnigramLm.scoreNgramsWithModel(docs, "doc_id", "text", lm.frame, n = 3)
        .select(col("doc_id"), col("n_ngrams").as("n_trigrams"),
          round(col("xent"), 6).as("xent"))
        .orderBy(col("doc_id"))
      Built(frame, Some(q124OracleSql(lm.grams, lm.unseen)))
    }),

    // q131: the 5-GRAM model tier — CCNet proper is a 5-gram KenLM,
    // and q125 measured the corpus-trained 5-gram at 22x/decade (every
    // 5-gram occurrence nearly distinct -> the gram exchanges approach
    // the token stream). THIS is how order-5 runs at 100 TB: bounded
    // hashed 5-gram model off the fixed slice, broadcast, one map-side
    // scoring pass (the q124 shape at n = 5, same captured-model
    // oracle machinery).
    Query("q131_lm5_model_scoring", (s, dir) => {
      val docs = t(s, dir, "documents")
      val slice = docs.where(col("doc_id") % 7 === 0)
      val lm = trainCapturedLm(s, slice, "text", n = 5, maxGrams = 4096, "q131 training slice")
      val frame = graft.text.UnigramLm.scoreNgramsWithModel(docs, "doc_id", "text", lm.frame, n = 5)
        .select(col("doc_id"), col("n_ngrams").as("n_5grams"),
          round(col("xent"), 6).as("xent"))
        .orderBy(col("doc_id"))
      Built(frame, Some(ngramModelOracleSql(5, lm.grams, lm.unseen, "n_5grams")))
    }))

  /** q135's planted LID corpus: per-language word pools (8 languages,
    * 5 scripts, 14 words each — all pre-normalized lowercase so the
    * fixture is transparent to the n-gram normalization both engines
    * replay). Shared by the Spark query and the generated oracle SQL,
    * so both sides use byte-identical strings.
    */
  private val LidPools: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "wald", "und", "über", "schnell", "nicht", "zeitung",
      "straße", "ein", "können", "haus", "für", "wichtig", "zwischen"),
    "el" -> Seq("και", "το", "πόλη", "να", "θάλασσα", "της", "με", "γρήγορα",
      "που", "βιβλίο", "την", "από", "σημαντικό", "άνθρωπος"),
    "en" -> Seq("the", "forest", "and", "quickly", "newspaper", "not",
      "street", "a", "can", "house", "for", "important", "between", "people"),
    "es" -> Seq("el", "bosque", "y", "rápido", "periódico", "no", "calle",
      "una", "puede", "casa", "por", "importante", "entre", "gente"),
    "fr" -> Seq("le", "forêt", "et", "rapidement", "journal", "pas", "rue",
      "une", "peut", "maison", "pour", "important", "entre", "gens"),
    "hi" -> Seq("के", "जंगल", "और", "जल्दी", "अख़बार", "नहीं", "सड़क",
      "एक", "सकता", "घर", "लिए", "महत्वपूर्ण", "बीच", "लोग"),
    "ru" -> Seq("и", "лес", "быстро", "газета", "не", "улица", "один",
      "может", "дом", "для", "важно", "между", "люди", "город"),
    "zh" -> Seq("的", "森林", "和", "快速", "报纸", "不", "街道", "一个",
      "可以", "房子", "为了", "重要", "之间", "人们"))

  /** DuckDB replica of the q135 trained-LID pipeline: rebuild the
    * planted corpus from the shared [[LidPools]] constants, replay the
    * LID n-gram normalization (ASCII translate fold + the
    * letter/mark/number replace — Unicode lower() is engine-divergent,
    * which is exactly why the kernel folds ASCII only) with codepoint
    * substr windows, join the captured bounded (gram, lang, w) VALUES
    * on the STRING gram, and replay margin = round(intercept +
    * sum(w), 6) + the (margin DESC, lang ASC) argmax.
    */
  private def q135OracleSql(model: Seq[(String, String, Double)]): String = {
    val esc = (s: String) => s.replace("'", "''")
    val nLang = LidPools.length
    val poolSql = LidPools.map { case (_, ws) =>
      ws.map(w => s"'${esc(w)}'").mkString("[", ", ", "]")
    }.mkString("[\n    ", ",\n    ", "\n  ]")
    val wordTerms = (0 until 9).map { k =>
      s"pl.p[CAST(d.doc_id % $nLang AS INT) + 1]" +
        s"[CAST((d.doc_id // $nLang + ${3 * k + k * k}) % 14 AS INT) + 1]"
    }.mkString(",\n    ")
    val weightRows = model.filter(_._1.nonEmpty)
      .map { case (g, l, w) => s"('${esc(g)}', '${esc(l)}', ${java.lang.Double.toString(w)})" }
      .mkString(",\n  ")
    val interRows = model.filter(_._1.isEmpty)
      .map { case (_, l, b) => s"('${esc(l)}', ${java.lang.Double.toString(b)})" }
      .mkString(",\n  ")
    s"""WITH pl AS (SELECT $poolSql AS p),
       |synth AS (SELECT d.doc_id, concat_ws(' ',
       |    $wordTerms) AS t
       |  FROM documents d CROSS JOIN pl),
       |norm AS (SELECT doc_id,
       |    trim(regexp_replace(
       |      translate(t, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
       |      '[^\\p{L}\\p{M}\\p{N}]+', ' ', 'g')) AS nt
       |  FROM synth),
       |grams AS (SELECT doc_id,
       |    unnest(list_transform(range(1, length(nt) - 1), i -> substr(nt, i, 3))) AS gram
       |  FROM norm),
       |model0(gram, lang, w0) AS (VALUES
       |  $weightRows),
       |model AS (SELECT gram, lang, CAST(w0 AS DOUBLE) AS w FROM model0),
       |inter0(lang, b0) AS (VALUES
       |  $interRows),
       |inter AS (SELECT lang, CAST(b0 AS DOUBLE) AS b FROM inter0),
       |occ AS (SELECT g.doc_id, m.lang, sum(m.w) AS gw
       |  FROM grams g JOIN model m ON g.gram = m.gram GROUP BY 1, 2),
       |margins AS (SELECT d.doc_id, i.lang,
       |    round(coalesce(o.gw, CAST(0.0 AS DOUBLE)) + i.b, 6) AS margin
       |  FROM documents d CROSS JOIN inter i
       |  LEFT JOIN occ o ON o.doc_id = d.doc_id AND o.lang = i.lang),
       |rk AS (SELECT doc_id, lang, margin,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY margin DESC, lang) AS rk
       |  FROM margins)
       |SELECT doc_id, lang AS lang_pred, margin FROM rk WHERE rk = 1 ORDER BY doc_id""".stripMargin
  }

  /** DuckDB replica of the q124 pre-trained-model LM scoring: the
    * captured bounded model as (gram, prob) VALUES — the string form
    * carried by [[graft.text.UnigramLm.trainNgramModelHashedCaptured]]
    * — left-joined onto the q117 trigram stream over the FULL corpus;
    * grams missing from the model score at the captured unseen floor.
    * Engine-independent: no JVM hash ever appears; the hashed Spark
    * join and the string DuckDB join agree wherever the 64-bit gram
    * hash is injective on the observed grams (the q120 argument).
    */
  private def q124OracleSql(model: Seq[(String, Double)], unseen: Double): String =
    ngramModelOracleSql(3, model, unseen, "n_trigrams")

  /** The captured-model scoring replay at any order: the q117-style
    * lead() n-gram stream over the FULL corpus, space-joined grams
    * left-joined against the captured (gram, prob) VALUES, unseen floor
    * for the rest. Shared by q124 (n=3) and q131 (n=5).
    */
  private def ngramModelOracleSql(n: Int, model: Seq[(String, Double)],
      unseen: Double, nCol: String): String = {
    val modelRows = model
      .map { case (g, p) => s"('$g', ${java.lang.Double.toString(p)})" }
      .mkString(",\n  ")
    val leads = (2 to n)
      .map(i => s"    lead(term, ${i - 1}) OVER (PARTITION BY doc_id ORDER BY pos) AS w$i")
      .mkString(",\n")
    val ws = (1 to n).map(i => s"w$i").mkString(", ")
    val gram = (1 to n).map(i => s"g.w$i").mkString(" || ' ' || ")
    s"""WITH raw AS (SELECT doc_id, string_split_regex(lower(text), '[^a-z0-9]+') AS a FROM documents),
       |tok AS (SELECT doc_id, unnest(a) AS term, generate_subscripts(a, 1) AS pos FROM raw),
       |tk AS (SELECT doc_id, term, pos FROM tok WHERE term <> ''),
       |tg AS (SELECT doc_id, term AS w1,
       |$leads
       |  FROM tk),
       |g AS (SELECT doc_id, $ws FROM tg WHERE w$n IS NOT NULL),
       |model(gram, prob) AS (VALUES
       |  $modelRows),
       |sc AS (SELECT g.doc_id, coalesce(m.prob, ${java.lang.Double.toString(unseen)}) AS prob
       |  FROM g LEFT JOIN model m ON ($gram) = m.gram)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS $nCol,
       |  round(sum(-ln(prob)) / count(*), 6) AS xent
       |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }
}
