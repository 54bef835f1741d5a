package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.TextFunctions

import Shared._

/** Text queries: statistics, language and quality signals, tokenizers
  * (BPE, byte BPE, SentencePiece, unicode), filters, sentence splitting,
  * search and ranking.
  */
object TextQueries {

  val all: Seq[Query] = Seq(
    // q20: text statistics — token counts, punctuation ratio (SURVEY+: text)
    Query.fixed("q20_text_stats", (s, dir) =>
      t(s, dir, "documents").repartitionByRange(col("doc_id")).select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_computed"),
        round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TextFunctions.stopwordRatio(col("text")), 6).as("stopword_ratio"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) AS n_tokens,
        |  length(text) AS n_chars_computed,
        |  round(CASE WHEN length(text) = 0 THEN 0
        |    ELSE (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1.0 / length(text) END, 6) AS punct_ratio,
        |  round(CASE WHEN len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) = 0 THEN 0
        |    ELSE len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) * 1.0
        |      / len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) END, 6) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // q21: language-ID heuristic vs the labeled lang column — confusion counts
    Query.fixed("q21_lang_confusion", (s, dir) =>
      t(s, dir, "documents")
        .withColumn("guess", TextFunctions.langGuess(col("text")))
        .groupBy(col("lang"), col("guess")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("guess")),
      """WITH g AS (SELECT lang,
        |  len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), t -> t IN ('the','and','of','to','is','you','that','it'))) AS en,
        |  len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), t -> t IN ('der','die','das','und','ist','nicht','ein','ich'))) AS de,
        |  len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), t -> t IN ('le','la','les','et','est','vous','que','pas'))) AS fr,
        |  len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), t -> t IN ('el','los','las','es','y','que','por','una'))) AS es
        |  FROM documents),
        |c AS (SELECT lang, CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
        |  WHEN en = greatest(en, de, fr, es) THEN 'en'
        |  WHEN de = greatest(en, de, fr, es) THEN 'de'
        |  WHEN fr = greatest(en, de, fr, es) THEN 'fr'
        |  ELSE 'es' END AS guess FROM g)
        |SELECT lang, guess, count(*) AS n FROM c GROUP BY lang, guess ORDER BY lang, guess""".stripMargin),

    // q22: document quality scoring (SURVEY+: text quality)
    Query.fixed("q22_quality_scores", (s, dir) =>
      t(s, dir, "documents")
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .groupBy(col("source"), col("quality")).agg(count(lit(1)).as("n"))
        .orderBy(col("source"), col("quality")),
      """WITH s AS (SELECT source,
        |  len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) AS n_tok,
        |  CASE WHEN length(text) = 0 THEN 0
        |    ELSE (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1.0 / length(text) END AS punct,
        |  CASE WHEN len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) = 0 THEN 0
        |    ELSE len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) * 1.0
        |      / len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) END AS stop_r
        |  FROM documents)
        |SELECT source,
        |  round(CAST((CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
        |    + (CASE WHEN punct < 0.2 THEN 0.3 ELSE 0.0 END)
        |    + (CASE WHEN stop_r > 0.01 THEN 0.3 ELSE 0.0 END) AS DOUBLE), 2) AS quality,
        |  count(*) AS n
        |FROM s GROUP BY source, quality ORDER BY source, quality""".stripMargin),

    // q30: BPE-ish subword token counting per language (SURVEY+: text)
    Query.fixed("q30_bpe_tokens", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.bpeishTokenCount(col("text"))).as("total_bpe_tokens"))
        .orderBy(col("lang")),
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[!-/:-@\[-`{-~]'))) AS BIGINT) AS total_bpe_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // q36: composed corpus-cleaning pipeline — quality filter + language
    // agreement + exact dedup, per-source stats. The end-to-end shape of a
    // training-data prep job, every stage individually oracle-verified
    Query.fixed("q36_corpus_clean", (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .withColumn("guess", TextFunctions.langGuess(col("text")))
        .where(col("quality") >= 0.7 && col("guess") === col("lang"))
      Dedup.exact(d, "text", "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text"))).as("total_tokens"))
        .orderBy(col("source"))
    },
      """WITH f AS (SELECT source, doc_id, lang, text,
        |  len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) AS n_tok,
        |  CASE WHEN length(text) = 0 THEN 0
        |    ELSE (length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))) * 1.0 / length(text) END AS punct,
        |  CASE WHEN len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) = 0 THEN 0
        |    ELSE len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'),
        |      t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) * 1.0
        |      / len(list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '')) END AS stop_r,
        |  len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), t -> t IN ('the','and','of','to','is','you','that','it'))) AS en,
        |  len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), t -> t IN ('der','die','das','und','ist','nicht','ein','ich'))) AS de,
        |  len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), t -> t IN ('le','la','les','et','est','vous','que','pas'))) AS fr,
        |  len(list_filter(string_split_regex(lower(text), '[\s\x0b]+'), t -> t IN ('el','los','las','es','y','que','por','una'))) AS es
        |  FROM documents),
        |scored AS (SELECT *,
        |  round(CAST((CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
        |    + (CASE WHEN punct < 0.2 THEN 0.3 ELSE 0.0 END)
        |    + (CASE WHEN stop_r > 0.01 THEN 0.3 ELSE 0.0 END) AS DOUBLE), 2) AS quality,
        |  CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
        |    WHEN en = greatest(en, de, fr, es) THEN 'en'
        |    WHEN de = greatest(en, de, fr, es) THEN 'de'
        |    WHEN fr = greatest(en, de, fr, es) THEN 'fr'
        |    ELSE 'es' END AS guess
        |  FROM f),
        |filt AS (SELECT * FROM scored WHERE quality >= 0.7 AND guess = lang),
        |keep AS (SELECT *, row_number() OVER (
        |    PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
        |    ORDER BY doc_id) AS rn
        |  FROM filt)
        |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
        |FROM keep WHERE rn = 1 GROUP BY source ORDER BY source""".stripMargin),

    // q40: intra-document repetition — duplicate word-n-gram fraction, the
    // quality signal corpus cleaning thresholds on (compiled kernel;
    // DuckDB replays the exact n-gram construction via list comprehension)
    Query.fixed("q40_repetition", (s, dir) =>
      t(s, dir, "documents").repartitionByRange(col("doc_id")).select(
        col("doc_id"),
        round(TextFunctions.dupNgramFraction(col("text"), 3), 6).as("dup3"),
        round(TextFunctions.dupNgramFraction(col("text"), 5), 6).as("dup5"))
        .orderBy(col("doc_id")),
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '[\s\x0b]+'), w -> w <> '') AS w
        |  FROM documents),
        |g AS (SELECT doc_id,
        |  len(w) - 2 AS t3,
        |  len(list_distinct([array_to_string(list_slice(w, i, i + 2), ' ')
        |    for i in range(1, greatest(len(w) - 1, 1))])) AS d3,
        |  len(w) - 4 AS t5,
        |  len(list_distinct([array_to_string(list_slice(w, i, i + 4), ' ')
        |    for i in range(1, greatest(len(w) - 3, 1))])) AS d5
        |  FROM w)
        |SELECT doc_id,
        |  round(CASE WHEN t3 <= 0 THEN 0.0 ELSE 1.0 - CAST(d3 AS DOUBLE) / t3 END, 6) AS dup3,
        |  round(CASE WHEN t5 <= 0 THEN 0.0 ELSE 1.0 - CAST(d5 AS DOUBLE) / t5 END, 6) AS dup5
        |FROM g ORDER BY doc_id""".stripMargin),

    // q42: per-language top-k tokens (heavy hitters) — aggregate FIRST
    // (token counts per lang are vocabulary-bounded), then a window over
    // the tiny aggregate; deterministic tie-break on the token
    Query.fixed("q42_top_tokens", (s, dir) => {
      val counts = t(s, dir, "documents")
        .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
      counts
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("n").desc, col("token"))))
        .where(col("rank") <= 5)
        .select(col("lang"), col("rank"), col("token"), col("n"))
        .orderBy(col("lang"), col("rank"))
    },
      """WITH t AS (SELECT lang, unnest(string_split_regex(text, '[\s\x0b]+')) AS token FROM documents),
        |c AS (SELECT lang, token, count(*) AS n FROM t WHERE length(token) > 0 GROUP BY 1, 2),
        |r AS (SELECT lang, token, n,
        |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, token) AS rank FROM c)
        |SELECT lang, rank, token, n FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin),

    // q43: lexical diversity per language — total/distinct tokens and
    // type-token ratio, the corpus-analytics cut of the token pipeline
    Query.fixed("q43_lexical_diversity", (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .where(length(col("token")) > 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("token")).as("n_types"),
          round(countDistinct(col("token")).cast("double") / count(lit(1)).cast("double"), 6)
            .as("type_token_ratio"))
        .orderBy(col("lang")),
      """WITH t AS (SELECT lang, unnest(string_split_regex(text, '[\s\x0b]+')) AS token FROM documents)
        |SELECT lang, count(*) AS n_tokens, count(DISTINCT token) AS n_types,
        |  round(CAST(count(DISTINCT token) AS DOUBLE) / count(*), 6) AS type_token_ratio
        |FROM t WHERE length(token) > 0 GROUP BY lang ORDER BY lang""".stripMargin),

    // q49: PII scrubbing (LLM-pipeline corpus cleaning) — synthetic PII is
    // injected deterministically from doc_id so every row exercises the
    // redaction; patterns are Java-regex/RE2-portable and md5 of the
    // redacted text is byte-checked against DuckDB's identical pipeline
    Query.fixed("q49_pii_redaction", (s, dir) => {
      val textExpr = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com node 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7 call 555-123-4567"))
      val withText = t(s, dir, "documents").repartitionByRange(col("doc_id"))
        .select(col("doc_id"), textExpr.as("txt"))
      val (ne, ni, np) = TextFunctions.piiCounts(col("txt"))
      withText.select(col("doc_id"),
        ne.as("n_email"), ni.as("n_ip"), np.as("n_phone"),
        md5(TextFunctions.redactPii(col("txt"))).as("redacted_md5"))
        .orderBy(col("doc_id"))
    },
      """WITH t AS (SELECT doc_id,
        |  concat(text, ' contact user', CAST(doc_id AS VARCHAR),
        |         '@example.com node 10.0.', CAST(doc_id % 256 AS VARCHAR),
        |         '.7 call 555-123-4567') AS txt
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
        |  CAST(len(regexp_extract_all(txt, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INTEGER) AS n_ip,
        |  CAST(len(regexp_extract_all(txt, '\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b')) AS INTEGER) AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(txt,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
        |      '\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\b', '<PHONE>', 'g')) AS redacted_md5
        |FROM t ORDER BY doc_id""".stripMargin),

    // q51: sequence packing (LLM training export) — concat-and-chunk
    // assignment of documents to fixed 4096-char training sequences via a
    // scale-safe global running total (graft.etl.Packing); oracle = the
    // naive single-window cumsum DuckDB can afford at sf scale
    Query.fixed("q51_sequence_packing", (s, dir) => {
      graft.etl.Packing.assignSequences(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        orderCols = Seq(col("doc_id")), weightCol = "n_chars", budget = 4096L)
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("seq_id"))
    },
      """WITH c AS (SELECT doc_id, n_chars,
        |  sum(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    - n_chars AS before
        |  FROM documents)
        |SELECT CAST(floor(before / 4096.0) AS BIGINT) AS seq_id,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin),

    // q52: corpus TF-IDF top terms per document (graft.text.TfIdf) —
    // sklearn-smoothed idf, max_df stop-term cutoff doubling as the
    // term-join skew guard; oracle replays the identical pipeline in SQL
    Query.fixed("q52_tfidf_top_terms", (s, dir) =>
      graft.text.TfIdf.topTerms(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
        k = 3, maxDfFraction = 0.9)
        .select(col("doc_id"), col("rank"), col("term"),
          col("tf"), col("df"), round(col("tfidf"), 6).as("tfidf"))
        .orderBy(col("doc_id"), col("rank")),
      """WITH tok AS (
        |  SELECT doc_id, t.term
        |  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
        |  WHERE t.term <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    tf.tf * (ln(CAST(n.n + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE)) + 1.0) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |  WHERE dfreq.df <= 0.9 * n.n),
        |r AS (SELECT doc_id, term, tf, df, tfidf,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  round(tfidf, 6) AS tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // q56: inverted-index AND search (graft.text.Search) — postings are
    // filtered to the query terms BEFORE any shuffle; AND = distinct
    // matched-term count equals the query size
    Query.fixed("q56_keyword_search", (s, dir) =>
      graft.text.Search.matchAll(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
        terms = Seq("window", "merge", "stream"))
        .orderBy(col("doc_id")),
      """WITH tok AS (
        |  SELECT doc_id, t.term
        |  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
        |  WHERE t.term IN ('window', 'merge', 'stream'))
        |SELECT doc_id, count(*) AS n_hits
        |FROM tok GROUP BY doc_id
        |HAVING count(DISTINCT term) = 3
        |ORDER BY doc_id""".stripMargin),

    // q74: Gopher rule-based quality gate (SURVEY+ L7 family) — per-source
    // counts of each rule failure plus the combined pass, all from ONE
    // compiled single-pass counter kernel per document. The word-count
    // window uses the paper's [50, 100k]; the fixture straddles it, so
    // every rule column carries real signal.
    Query.fixed("q74_gopher_rules", (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), TextFunctions.gopherFlags(col("text"), 50L, 100000L).as("f"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("f.fail_words").cast("long")).as("n_fail_words"),
          sum(col("f.fail_word_len").cast("long")).as("n_fail_word_len"),
          sum(col("f.fail_symbol").cast("long")).as("n_fail_symbol"),
          sum(col("f.fail_bullet").cast("long")).as("n_fail_bullet"),
          sum(col("f.fail_ellipsis").cast("long")).as("n_fail_ellipsis"),
          sum(col("f.fail_alpha").cast("long")).as("n_fail_alpha"),
          sum(col("f.fail_stopword").cast("long")).as("n_fail_stopword"),
          sum(col("f.pass").cast("long")).as("n_pass"))
        .orderBy(col("source")),
      // Gopher counters replayed with list functions; every definition
      // mirrors the kernel: \s-run tokens, code-point lengths, space-only
      // line trims, non-overlapping "..." runs, distinct-stopword presence
      """WITH c AS (SELECT source,
        |  list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '') AS toks,
        |  list_filter(string_split(text, chr(10)), l -> trim(l, ' ') <> '') AS nls,
        |  length(text) - length(replace(text, '#', '')) AS n_hash,
        |  (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell3,
        |  length(text) - length(replace(text, '…', '')) AS n_ellu
        |  FROM documents),
        |g AS (SELECT source,
        |  len(toks) AS n_w,
        |  coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS sum_len,
        |  len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        |  n_hash + n_ell3 + n_ellu AS n_sym,
        |  len(nls) AS n_lines,
        |  len(list_filter(nls, l -> substr(ltrim(l, ' '), 1, 1) IN ('-', '*', '•'))) AS n_bullet,
        |  len(list_filter(nls, l -> ends_with(rtrim(l, ' '), '...') OR ends_with(rtrim(l, ' '), '…'))) AS n_ellend,
        |  len(list_filter(['the','be','to','of','and','that','have','with'],
        |    sw -> list_contains(list_transform(toks, x -> lower(x)), sw))) AS n_stop
        |  FROM c),
        |f AS (SELECT source,
        |  (n_w < 50 OR n_w > 100000) AS f_words,
        |  (n_w = 0 OR sum_len * 1.0 / n_w < 3.0 OR sum_len * 1.0 / n_w > 10.0) AS f_wlen,
        |  (n_w > 0 AND n_sym * 1.0 / n_w > 0.1) AS f_sym,
        |  (n_lines > 0 AND n_bullet * 1.0 / n_lines > 0.9) AS f_bul,
        |  (n_lines > 0 AND n_ellend * 1.0 / n_lines > 0.3) AS f_ell,
        |  (n_w = 0 OR n_alpha * 1.0 / n_w < 0.8) AS f_alpha,
        |  (n_stop < 2) AS f_stop
        |  FROM g)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN f_words THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_words,
        |  CAST(sum(CASE WHEN f_wlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_word_len,
        |  CAST(sum(CASE WHEN f_sym THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_symbol,
        |  CAST(sum(CASE WHEN f_bul THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_bullet,
        |  CAST(sum(CASE WHEN f_ell THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_ellipsis,
        |  CAST(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha,
        |  CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stopword,
        |  CAST(sum(CASE WHEN NOT (f_words OR f_wlen OR f_sym OR f_bul OR f_ell OR f_alpha OR f_stop)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM f GROUP BY source ORDER BY source""".stripMargin),

    // q77: BM25 top-k retrieval (graft.text.Search.bm25TopK) — OR-semantics
    // ranked search with Lucene idf; "dup" is the rare high-idf term, the
    // others are corpus-common. One posting shuffle (filtered to the query
    // terms map-side), dl rides the grouping key, |Q|-row broadcast df,
    // TakeOrderedAndProject top-k. Oracle replays the identical double
    // arithmetic in DuckDB (explicit DOUBLE casts keep it out of DECIMAL).
    Query.fixed("q77_bm25_topk", (s, dir) =>
      graft.text.Search.bm25TopK(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
        terms = Seq("dup", "window", "stream"), k = 20),
      // first-occurrence line filter: (x, i) lambda index vs list_position
      // (first match, 1-based) replays LinkedHashSet order exactly
      // BM25 replay: every arithmetic step casts into DOUBLE before any
      // DECIMAL op can happen, and the expression shapes (association order)
      // mirror Search.bm25TopK exactly; 1.2+1.0 == 2.2 exactly in binary64,
      // so the literal 2.2 numerator is the same double on both engines
      """WITH dl AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')) AS dl
        |  FROM documents),
        |s AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, t.term
        |  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
        |  WHERE t.term IN ('dup', 'window', 'stream')),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |f AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (SELECT tf.doc_id,
        |    ln(1 + (s.n - f.df + CAST(0.5 AS DOUBLE)) / (f.df + CAST(0.5 AS DOUBLE)))
        |      * tf.tf * CAST(2.2 AS DOUBLE)
        |      / (tf.tf + CAST(1.2 AS DOUBLE)
        |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |            + CAST(0.75 AS DOUBLE) * dl.dl / s.avgdl)) AS contrib
        |  FROM tf JOIN f USING (term) JOIN dl USING (doc_id) CROSS JOIN s)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  round(sum(contrib), 6) AS bm25
        |FROM scored GROUP BY doc_id
        |ORDER BY round(sum(contrib), 6) DESC, doc_id LIMIT 20""".stripMargin),

    // q78: corpus top-k bigram stats (graft.text.NgramStats) — two-level
    // hash-agg (map-side combined), TakeOrderedAndProject top-k; ties at
    // the cut break on the bigram string (ASCII, binary-collation-stable)
    Query.fixed("q78_top_bigrams", (s, dir) =>
      graft.text.NgramStats.topBigrams(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text", k = 30),
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS w
        |  FROM documents),
        |b AS (SELECT doc_id,
        |  [w[i] || ' ' || w[i + 1] for i in range(1, greatest(len(w), 1))] AS bgs
        |  FROM w),
        |e AS (SELECT doc_id, unnest(bgs) AS bigram FROM b),
        |d AS (SELECT doc_id, bigram, count(*) AS c FROM e GROUP BY 1, 2)
        |SELECT bigram, CAST(sum(c) AS BIGINT) AS n_occurrences,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM d GROUP BY bigram
        |ORDER BY sum(c) DESC, bigram LIMIT 30""".stripMargin),

    // q80: overlapping passage chunking (graft.text.Chunker, SURVEY+ L45)
    // — the RAG/embedding-corpus splitter. Pure map stage: tokenize,
    // arithmetic chunk count, explode+slice+join; zero shuffles before
    // the output ordering. window=16/stride=12 gives ~4 chunks per
    // fixture doc (~50 tokens), exercising the overlap and the short
    // final chunk.
    Query.fixed("q80_passage_chunks", (s, dir) =>
      graft.text.Chunker.chunkPassages(
        t(s, dir, "documents"), idCol = "doc_id", textCol = "text",
        windowTokens = 16, strideTokens = 12)
        .orderBy(col("doc_id"), col("chunk_idx")),
      // chunk replay: same `\s+`-run tokens, 1 + ceil((n-16)/12) chunks,
      // inclusive list_slice mirrors Spark's slice(start, length=16)
      """WITH tkn AS (SELECT doc_id,
        |  list_filter(string_split_regex(text, '[\s\x0b]+'), x -> x <> '') AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t, len(t) AS n FROM tkn),
        |c AS (SELECT doc_id, t, n,
        |  CASE WHEN n = 0 THEN 0 WHEN n <= 16 THEN 1
        |       ELSE 1 + CAST(ceil((n - 16) / 12.0) AS INT) END AS nc
        |  FROM n),
        |e AS (SELECT doc_id, t, n, unnest(range(0, nc)) AS i FROM c)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |  CAST(least(16, n - i * 12) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(t, i * 12 + 1, i * 12 + 16), ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin),

    // q86: BPE tokenizer training (graft.text.Bpe, SURVEY+ L50) — the
    // first 6 learned merge rules over the documents corpus. The only
    // distributed work is ONE word-frequency agg (BPE training is a pure
    // function of the word-count table); the driver merge loop is
    // replayed in DuckDB as 6 generated CTE rounds (argmax with the
    // (count DESC, left, right) code-point tie-break + boundary-wrapped
    // replace, which is exactly left-to-right non-overlapping like the
    // trainer). maxVocabWords is far above the fixture vocabulary, so
    // the cap provably does not bite.
    Query.fixed("q86_bpe_merges", (s, dir) => {
      val merges = graft.text.Bpe.train(
        t(s, dir, "documents"), "text", numMerges = 6,
        minCount = 1L, maxVocabWords = 100000)
      graft.text.Bpe.mergesTable(s, merges).orderBy(col("rank"))
    },
      // BPE trainer replay: 6 generated CTE rounds (see bpeMergesOracleSql)
      bpeMergesOracleSql(6)),

    // q92: BATCH BM25 retrieval (Search.bm25TopKBatch, SURVEY+ L41) —
    // three queries scored against the corpus in ONE plan: postings
    // filtered by a broadcast semi-join on the union of query terms,
    // query-independent tf/df aggregation, broadcast query fan-out,
    // per-query top-10 via a map-side WindowGroupLimit. The oracle
    // generalizes the q77 double-arithmetic replay with a VALUES query
    // table.
    Query.fixed("q92_bm25_batch", (s, dir) => {
      import s.implicits._
      val queries = Seq(
        ("qa", "dup"), ("qa", "window"),
        ("qb", "stream"), ("qb", "spark"), ("qb", "merge"),
        ("qc", "line")).toDF("query_id", "term")
      graft.text.Search.bm25TopKBatch(
          t(s, dir, "documents"), "doc_id", "text",
          queries, "query_id", "term", k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
      // batch-BM25 replay: q77's arithmetic with a VALUES query table;
      // same double-casting discipline and 6-dp rounding before the
      // per-query rank cut
      """WITH q AS (SELECT * FROM (VALUES
        |    ('qa', 'dup'), ('qa', 'window'),
        |    ('qb', 'stream'), ('qb', 'spark'), ('qb', 'merge'),
        |    ('qc', 'line')) AS t(query_id, term)),
        |dl AS (SELECT doc_id,
        |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')) AS dl
        |  FROM documents),
        |s AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, t.term
        |  FROM documents, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(term)
        |  WHERE t.term IN (SELECT DISTINCT term FROM q)),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |f AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (SELECT tf.doc_id, tf.term,
        |    ln(1 + (s.n - f.df + CAST(0.5 AS DOUBLE)) / (f.df + CAST(0.5 AS DOUBLE)))
        |      * tf.tf * CAST(2.2 AS DOUBLE)
        |      / (tf.tf + CAST(1.2 AS DOUBLE)
        |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |            + CAST(0.75 AS DOUBLE) * dl.dl / s.avgdl)) AS contrib
        |  FROM tf JOIN f USING (term) JOIN dl USING (doc_id) CROSS JOIN s),
        |aggq AS (SELECT q.query_id, scored.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_terms,
        |    round(sum(contrib), 6) AS bm25
        |  FROM scored JOIN q USING (term)
        |  GROUP BY q.query_id, scored.doc_id),
        |r AS (SELECT *, row_number() OVER
        |    (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rk
        |  FROM aggq)
        |SELECT query_id, doc_id, n_terms, bm25, CAST(rk AS BIGINT) AS rank
        |FROM r WHERE rk <= 10 ORDER BY query_id, rank""".stripMargin),

    // q95: sentence segmentation (TextFunctions.sentences, SURVEY+ L59)
    // — deterministic-tier sentence splitting over punctuation-decorated
    // documents (the synthetic corpus has no terminators, so each doc is
    // wrapped with seeded '.'/'!'/'?' decorations first). Per-doc
    // sentence count, first sentence, and mean sentence character
    // length; the oracle replays the decoration AND the segmentation.
    Query.fixed("q95_sentences", (s, dir) => {
      val id = col("doc_id")
      val decorated = concat(
        lit("Dr intro here"),
        element_at(array(lit(". "), lit("! "), lit("? ")), (id % 3 + 1).cast("int")),
        col("text"),
        element_at(array(lit("."), lit("!"), lit("?")), (id % 3 + 1).cast("int")),
        lit(" Tail claim"),
        when(id % 2 === 0, lit(".")).otherwise(lit("")))
      val sent = graft.functions.TextFunctions.sentences(decorated)
      t(s, dir, "documents")
        .where(col("text").isNotNull)
        .repartitionByRange(col("doc_id"))
        .select(col("doc_id"), sent.as("s"))
        .select(col("doc_id"),
          size(col("s")).as("n_sentences"),
          element_at(col("s"), 1).as("first_sentence"),
          // length-of-concatenation == sum of lengths (no null elements);
          // `aggregate` is a CodegenFallback higher-order function — see
          // the q101 note (r11)
          round(length(concat_ws("", col("s"))).cast("double") /
            greatest(size(col("s")), lit(1)), 4).as("avg_chars"))
        .orderBy(col("doc_id"))
    },
      // sentence-segmentation replay: same decoration, same piece regex,
      // same explicit-class trim, same empty-drop
      """WITH d AS (SELECT doc_id,
        |  'Dr intro here' || ['. ','! ','? '][CAST(doc_id % 3 + 1 AS INT)] ||
        |  text || ['.','!','?'][CAST(doc_id % 3 + 1 AS INT)] || ' Tail claim' ||
        |  CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END AS t
        |  FROM documents WHERE text IS NOT NULL),
        |p AS (SELECT doc_id,
        |  list_filter(
        |    list_transform(regexp_extract_all(t, '[^.!?]+[.!?]+["'')\]]*|[^.!?]+$'),
        |      x -> regexp_replace(x, '^[ \t\n\f\r]+|[ \t\n\f\r]+$', '', 'g')),
        |    x -> x <> '') AS s
        |  FROM d)
        |SELECT doc_id,
        |  CAST(len(s) AS INT) AS n_sentences,
        |  s[1] AS first_sentence,
        |  round(CAST(list_sum(list_transform(s, x -> length(x))) AS DOUBLE)
        |    / greatest(len(s), 1), 4) AS avg_chars
        |FROM p ORDER BY doc_id""".stripMargin),

    // q101: sentence segmentation with the ABBREVIATION-GUARD tier
    // (TextFunctions.sentencesAbbrevGuard, round-7 verdict task #7) —
    // the q95 decoration extended with title/latinism abbreviations
    // whose periods must NOT break sentences. The oracle replays the
    // mask (same regexes, same order, same U+E000 sentinel) then the
    // q95 segmentation then the restore.
    Query.fixed("q101_sentences_abbrev", (s, dir) => {
      val id = col("doc_id")
      val decorated = concat(
        element_at(array(
          lit("Dr. Smith arrived at 5 p.m. sharp"),
          lit("See e.g. the appendix"),
          lit("Prof. Lee et al. wrote this")), (id % 3 + 1).cast("int")),
        element_at(array(lit(". "), lit("! "), lit("? ")), (id % 3 + 1).cast("int")),
        col("text"),
        element_at(array(lit("."), lit("!"), lit("?")), (id % 3 + 1).cast("int")),
        lit(" The U.S. case closed"),
        when(id % 2 === 0, lit(".")).otherwise(lit("")))
      val sent = graft.functions.TextFunctions.sentencesAbbrevGuard(decorated)
      t(s, dir, "documents")
        .where(col("text").isNotNull)
        .repartitionByRange(col("doc_id"))
        .select(col("doc_id"), sent.as("s"))
        .select(col("doc_id"),
          size(col("s")).as("n_sentences"),
          element_at(col("s"), 1).as("first_sentence"),
          element_at(col("s"), -1).as("last_sentence"),
          // sum of sentence lengths == length of the concatenation (the
          // kernel never emits null elements, which concat_ws would skip
          // and aggregate would poison): `aggregate` is a higher-order
          // function and CodegenFallback — it forced this projection to
          // interpreted eval (guide §4.1: prefer built-ins; r11)
          round(length(concat_ws("", col("s"))).cast("double") /
            greatest(size(col("s")), lit(1)), 4).as("avg_chars"))
        .orderBy(col("doc_id"))
    },
      // abbreviation-guard replay: decoration, the generated mask fold
      // (same list/order/sentinel as production), the q95 segmentation,
      // then the sentinel restore
      ("""WITH d AS (SELECT doc_id,
        |  ['Dr. Smith arrived at 5 p.m. sharp','See e.g. the appendix','Prof. Lee et al. wrote this'][CAST(doc_id % 3 + 1 AS INT)] ||
        |  ['. ','! ','? '][CAST(doc_id % 3 + 1 AS INT)] || text ||
        |  ['.','!','?'][CAST(doc_id % 3 + 1 AS INT)] || ' The U.S. case closed' ||
        |  CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END AS t
        |  FROM documents WHERE text IS NOT NULL),
        |m AS (SELECT doc_id, """.stripMargin +
        abbrevMaskSql("t") + " AS mt FROM d),\n" +
        """p AS (SELECT doc_id,
        |  list_transform(
        |    list_filter(
        |      list_transform(regexp_extract_all(mt, '[^.!?]+[.!?]+["'')\]]*|[^.!?]+$'),
        |        x -> regexp_replace(x, '^[ \t\n\f\r]+|[ \t\n\f\r]+$', '', 'g')),
        |      x -> x <> ''),
        |    x -> replace(x, '""".stripMargin + "\uE000" + """', '.')) AS s
        |  FROM m)
        |SELECT doc_id,
        |  CAST(len(s) AS INT) AS n_sentences,
        |  s[1] AS first_sentence,
        |  s[-1] AS last_sentence,
        |  round(CAST(list_sum(list_transform(s, x -> length(x))) AS DOUBLE)
        |    / greatest(len(s), 1), 4) AS avg_chars
        |FROM p ORDER BY doc_id""".stripMargin)),

    // q103: multilingual language-ID (TextFunctions.langGuess
    // unicode=true, the L7 lang-ID heuristic extended to non-Latin
    // scripts) — eight per-doc_id samples (zh/ja/ko/ru/el/hi/en and a
    // marker-free digits row) classified through the unicode tier;
    // under \s tokenization every CJK sample is one giant "word" and
    // classifies 'und'. Oracle replays tokens + per-language marker
    // hit counts + the kernel's first-strict-max argmax as a generated
    // CASE ladder.
    Query.fixed("q103_lang_guess_multilingual", (s, dir) => {
      val id = col("doc_id")
      val sample = element_at(array(
        lit("这是一个的测试文本和数据了很好"),
        lit("日本語のテストでこれはをにが書いた"),
        lit("이 문서의 내용은 한국어 텍스트를 가지고 있다"),
        lit("и в не на что он как это текст"),
        lit("και το να της με που την ελληνικά"),
        lit("के है में की और से को का पाठ"),
        lit("the quick and of to is you that it"),
        lit("12345 67890 --- !!!")), (id % 8 + 1).cast("int"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.langGuess(sample, unicode = true).as("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_id"))
        .orderBy(col("lang"))
    },
      // multilingual lang-ID replay: unicode tokens over the eight
      // samples, generated marker-hit counts, generated argmax ladder
      ("WITH d AS (SELECT doc_id,\n" +
        "  ['这是一个的测试文本和数据了很好','日本語のテストでこれはをにが書いた'," +
        "'이 문서의 내용은 한국어 텍스트를 가지고 있다','и в не на что он как это текст'," +
        "'και το να της με που την ελληνικά','के है में की और से को का पाठ'," +
        "'the quick and of to is you that it','12345 67890 --- !!!']" +
        "[CAST(doc_id % 8 + 1 AS INT)] AS sample\n  FROM documents),\n" +
        "tk AS (SELECT doc_id, " + unicodeToksSql("sample") + " AS toks FROM d),\n" +
        "hits AS (SELECT doc_id,\n  " + langGuessHitsSql + "\n  FROM tk),\n" +
        "lg AS (SELECT doc_id,\n  " + langGuessCaseSql + " AS lang\n  FROM hits)\n" +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_id\n" +
        "FROM lg GROUP BY lang ORDER BY lang")),

    // q104: C4 line-level cleaning (TextFunctions.c4Flags, SURVEY+ L65) —
    // the Raffel et al. 2020 §2.2 rule set: keep lines ending in a
    // terminal mark with >= 5 words and no "javascript"; drop pages with
    // "lorem ipsum", '{', a blocklist term, or < 3 kept lines. The
    // decoration plants every rule's trigger (short line, no-end-mark
    // line, JavaScript line, Lorem Ipsum line on doc_id%5, brace line on
    // %7, blocklist term on %11, padded line exercising the whitespace
    // strip). One compiled kernel + builtin page predicates = pure map
    // stage; the oracle replays line rules with list_filter and the
    // ASCII translate fold.
    Query.fixed("q104_c4_filter", (s, dir) => {
      val id = col("doc_id")
      val page = concat_ws("\n",
        lit("This line ends with a period and has enough words."),
        concat(lit("Body "), col("text"), lit(" tail words end here.")),
        lit("Too short."),
        lit("No terminal punctuation on this line at all"),
        when(id % 3 === 0, lit("Please enable JavaScript to view comments."))
          .otherwise(lit("A perfectly ordinary fifth line goes here.")),
        when(id % 5 === 0, lit("Lorem Ipsum dolor sit amet consectetur adipiscing elit."))
          .otherwise(lit("Another normal sentence with plenty of words present.")),
        when(id % 7 === 0, lit("if (x) { return y; } // code"))
          .otherwise(lit("Closing body sentence wraps the page nicely.")),
        lit("   Padded line has exactly seven words total.   "),
        when(id % 11 === 0, lit("This sentence mentions BadWord99 unfortunately today."))
          .otherwise(lit("This sentence mentions nothing objectionable at all.")))
      t(s, dir, "documents").where(col("text").isNotNull)
        .repartitionByRange(col("doc_id"))
        .select(col("doc_id"),
          TextFunctions.c4Flags(page, minWords = 5, minKeptLines = 3,
            blocklist = Seq("badword99")).as("f"))
        .select(col("doc_id"),
          col("f.n_lines").as("n_lines"),
          col("f.n_kept").as("n_kept"),
          length(col("f.kept_text")).cast("long").as("kept_chars"),
          col("f.has_lorem").as("has_lorem"),
          col("f.has_brace").as("has_brace"),
          col("f.has_blocked").as("has_blocked"),
          col("f.pass").as("pass"))
        .orderBy(col("doc_id"))
    },
      // C4 replay: same decoration, line rules via list_filter over the
      // stripped lines (explicit [ \t\x0B\f\r] class — NOT trim()), word
      // count via ws-run split, javascript/lorem/blocklist via the ASCII
      // translate fold (Unicode lower() is engine-divergent)
      """WITH d AS (SELECT doc_id,
        |  'This line ends with a period and has enough words.' || chr(10) ||
        |  'Body ' || text || ' tail words end here.' || chr(10) ||
        |  'Too short.' || chr(10) ||
        |  'No terminal punctuation on this line at all' || chr(10) ||
        |  CASE WHEN doc_id % 3 = 0 THEN 'Please enable JavaScript to view comments.'
        |    ELSE 'A perfectly ordinary fifth line goes here.' END || chr(10) ||
        |  CASE WHEN doc_id % 5 = 0 THEN 'Lorem Ipsum dolor sit amet consectetur adipiscing elit.'
        |    ELSE 'Another normal sentence with plenty of words present.' END || chr(10) ||
        |  CASE WHEN doc_id % 7 = 0 THEN 'if (x) { return y; } // code'
        |    ELSE 'Closing body sentence wraps the page nicely.' END || chr(10) ||
        |  '   Padded line has exactly seven words total.   ' || chr(10) ||
        |  CASE WHEN doc_id % 11 = 0 THEN 'This sentence mentions BadWord99 unfortunately today.'
        |    ELSE 'This sentence mentions nothing objectionable at all.' END AS page
        |  FROM documents WHERE text IS NOT NULL),
        |tl AS (SELECT doc_id, page,
        |  list_transform(string_split(page, chr(10)), l ->
        |    regexp_replace(regexp_replace(l, '^[ \t\x0B\f\r]+', ''), '[ \t\x0B\f\r]+$', '')) AS st
        |  FROM d),
        |kp AS (SELECT doc_id, page,
        |  list_filter(st, l ->
        |    regexp_matches(l, '[.?!"]$')
        |    AND len(list_filter(string_split_regex(l, '[ \t\x0B\f\r]+'), x -> x <> '')) >= 5
        |    AND NOT contains(translate(l, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), 'javascript')) AS kept
        |  FROM tl),
        |f AS (SELECT doc_id,
        |  CAST(len(string_split(page, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(coalesce(length(array_to_string(kept, chr(10))), 0) AS BIGINT) AS kept_chars,
        |  contains(translate(page, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), 'lorem ipsum') AS has_lorem,
        |  contains(page, '{') AS has_brace,
        |  contains(translate(page, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), 'badword99') AS has_blocked
        |  FROM kp)
        |SELECT doc_id, n_lines, n_kept, kept_chars, has_lorem, has_brace, has_blocked,
        |  (NOT has_lorem AND NOT has_brace AND NOT has_blocked AND n_kept >= 3) AS pass
        |FROM f ORDER BY doc_id""".stripMargin),

    // q110: positional phrase search (SURVEY+ L71) — exact consecutive
    // token sequences over the inverted-index-with-positions shape: the
    // corpus shuffles ONLY query-term postings (isin prefilter at the
    // scan), slots broadcast, occurrences = an array_intersect fold of
    // offset-shifted position arrays. Covers a repeated-term phrase
    // ("table table") and 2-/3-gram phrases. The oracle is the direct
    // definition: a windowed adjacency scan over the same tokenization
    // (regexp_extract_all + list_filter over start positions) — two
    // completely different plans, same rows.
    Query.fixed("q110_phrase_search", (s, dir) => {
      graft.text.Search.phraseMatches(
        t(s, dir, "documents"), "doc_id", "text", q110Phrases)
        .orderBy(col("query_id"), col("doc_id"))
    },
      // q110: the direct phrase definition — for each start position i,
      // does every phrase slot match tk[i + offset]? Generated per phrase
      // (slot count differs), same tokenization as the Spark side's
      // compiled asciiTokens kernel. The Spark plan (filtered positional
      // postings + broadcast slots + array_intersect fold) shares nothing
      // with this scan except the answer.
      {
      val blocks = q110Phrases.zipWithIndex.map { case (p, qi) =>
        val ts = p.split(" ").toSeq
        val conds = ts.zipWithIndex
          .map { case (t, o) => s"tk[i + $o] = '$t'" }.mkString(" AND ")
        s"""SELECT $qi AS query_id, '$p' AS phrase, doc_id,
           |  len(list_filter(range(1, len(tk) - ${ts.length - 2}), i -> $conds)) AS n_occ
           |FROM toks""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH toks AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents)
         |SELECT query_id, phrase, doc_id, n_occ FROM (
         |$blocks
         |) WHERE n_occ > 0 ORDER BY query_id, doc_id""".stripMargin
    }),

    // q112: blocklist filtering (SURVEY+ L73) — the C4-style "page
    // contains a listed word" gate as ONE compiled Aho-Corasick pass
    // over the whole pattern set (vs K contains/regexp scans). Patterns
    // here are single alnum words under the word-bounded convention, so
    // the oracle replays the EXACT semantics as token equality: fold
    // A-Z, extract [a-z0-9]+ runs, join against a pattern VALUES table
    // — a completely different plan (explode + join vs automaton scan),
    // same counts. Phrase/substring modes are spec-pinned JVM-side
    // (BlocklistSpec randomized naive-reference sweep).
    Query.fixed("q112_blocklist_filter", (s, dir) => {
      t(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.TextFunctions.blocklistHits(
            col("text"), q112Patterns, wordBounded = true).as("n_hits"))
        .withColumn("blocked", (col("n_hits") > 0).cast("int"))
        .orderBy(col("doc_id"))
    },
      // unicode-tokenizer replay: same decoration, the codepoint-class
      // formula (CJK spacing + ASCII translate + \p{L}\p{M}\p{N} runs)
      // standing in for the compiled kernel, same CJK class constant
      // q112: word-bounded single-word blocklist hits == token-equality
      // counts (the matched span must be non-alnum-bounded on both sides,
      // i.e. it IS a full [a-z0-9]+ token after the ASCII fold) — a
      // different plan (explode + join) than the automaton scan.
      ("WITH pats(p) AS (VALUES " +
        q112Patterns.map(p => s"('$p')").mkString(", ") + "),\n" +
        "tok AS (SELECT d.doc_id, t.w\n" +
        "  FROM documents d,\n" +
        "    unnest(regexp_extract_all(translate(d.text,\n" +
        "      'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),\n" +
        "      '[a-z0-9]+')) AS t(w)\n" +
        "  WHERE d.text IS NOT NULL),\n" +
        "h AS (SELECT tok.doc_id, count(*) AS n\n" +
        "  FROM tok JOIN pats ON tok.w = pats.p GROUP BY tok.doc_id)\n" +
        "SELECT d.doc_id, CAST(coalesce(h.n, 0) AS INTEGER) AS n_hits,\n" +
        "  CAST(CASE WHEN coalesce(h.n, 0) > 0 THEN 1 ELSE 0 END AS INTEGER) AS blocked\n" +
        "FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id\n" +
        "WHERE d.text IS NOT NULL\n" +
        "ORDER BY d.doc_id")),

    // q113: per-domain boilerplate line removal (SURVEY+ L74) — lines
    // recurring in >= minFrac of a domain's pages are site chrome and
    // get stripped. Fixture decorates every doc with a universal nav
    // line + copyright footer (frac 1.0 -> removed), a 1/3-frequency
    // banner (kept at minFrac 0.5), the doc body and a unique line
    // (kept). Counting shuffles only (domain, md5-60 fp, id); removal
    // is one compiled kernel pass against the broadcast per-domain
    // sorted fp array. The oracle replays the whole contract (strip
    // class, fp convention, inclusive frac, minDocs floor, blank-line
    // immunity) via list_filter + list_contains — explode/join-free on
    // the removal side, a different plan shape than the Spark join.
    Query.fixed("q113_domain_boilerplate", (s, dir) => {
      val id = col("doc_id")
      val dom = concat(lit("dom"), id % 7)
      val decorated = concat(
        lit("Home | About | Contact - "), dom, lit("\n"),
        when(id % 3 === 0, concat(lit("Subscribe banner "), dom, lit("\n")))
          .otherwise(lit("")),
        col("text"), lit("\n"),
        lit("unique doc line "), id, lit("\n"),
        lit("(c) copyright "), dom, lit(" all rights reserved"))
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
        .select(id, dom.as("domain"), decorated.as("text"))
      graft.dedup.Boilerplate.stripDomainBoilerplate(
          docs, "text", "domain", "doc_id", minFrac = 0.5, minDocs = 2)
        .select(col("doc_id"), col("domain"), col("cleaned"),
          col("n_lines"), col("n_removed"))
        .orderBy(col("doc_id"))
    },
      // q113: the strip regex is built with plain-string escapes so the
      // SQL carries literal backslash classes (Java/RE2-shared syntax)
      {
      val strip = (x: String) =>
        "regexp_replace(regexp_replace(" + x +
          ", '^[ \\t\\x0B\\f\\r]+', ''), '[ \\t\\x0B\\f\\r]+$', '')"
      val fp = (x: String) =>
        "CAST(concat('0x', substr(md5(" + x + "), 1, 15)) AS BIGINT)"
      "WITH d AS (SELECT doc_id, 'dom' || (doc_id % 7) AS domain,\n" +
        "    'Home | About | Contact - dom' || (doc_id % 7) || chr(10) ||\n" +
        "    CASE WHEN doc_id % 3 = 0 THEN 'Subscribe banner dom' || (doc_id % 7) || chr(10) ELSE '' END ||\n" +
        "    text || chr(10) ||\n" +
        "    'unique doc line ' || doc_id || chr(10) ||\n" +
        "    '(c) copyright dom' || (doc_id % 7) || ' all rights reserved' AS t\n" +
        "  FROM documents WHERE text IS NOT NULL),\n" +
        "votes AS (SELECT DISTINCT domain, doc_id, " + fp("u.sl") + " AS f\n" +
        "  FROM (SELECT doc_id, domain, list_transform(string_split(t, chr(10)), l -> " +
        strip("l") + ") AS sls FROM d), unnest(sls) AS u(sl)\n" +
        "  WHERE u.sl <> ''),\n" +
        "freq AS (SELECT domain, f, count(*) AS df FROM votes GROUP BY 1, 2),\n" +
        "nd AS (SELECT domain, count(*) AS n FROM d GROUP BY 1),\n" +
        "boiler AS (SELECT freq.domain, list(freq.f) AS bf\n" +
        "  FROM freq JOIN nd ON freq.domain = nd.domain\n" +
        "  WHERE df >= 2 AND CAST(df AS DOUBLE) >= 0.5 * n\n" +
        "  GROUP BY freq.domain),\n" +
        "res AS (SELECT d.doc_id, d.domain,\n" +
        "    list_filter(string_split(d.t, chr(10)), l ->\n" +
        "      " + strip("l") + " = ''\n" +
        "      OR NOT list_contains(coalesce(b.bf, []), " + fp(strip("l")) + ")) AS kept,\n" +
        "    len(string_split(d.t, chr(10))) AS nl\n" +
        "  FROM d LEFT JOIN boiler b ON d.domain = b.domain)\n" +
        "SELECT doc_id, domain, coalesce(array_to_string(kept, chr(10)), '') AS cleaned,\n" +
        "  CAST(nl AS INTEGER) AS n_lines, CAST(nl - len(kept) AS INTEGER) AS n_removed\n" +
        "FROM res ORDER BY doc_id"
    }),

    // q127: BYTE-LEVEL BPE training (SURVEY+ L83, the GPT-2/tiktoken
    // family — graft.text.ByteBpe): first 32 merges over the corpus's
    // GPT-2 pre-token frequencies, symbols in the public
    // bytes_to_unicode alphabet ('Ġ' = space). One distributed agg;
    // driver merge loop reused from q86. The pre-tokenizer's lookahead
    // has no RE2 form, so the oracle pins scale-keyed golden VALUES
    // (q120 pattern); the algorithm is spec-verified (ByteBpeSpec:
    // byte-table facts, hand merges, round-trip, monotonicity).
    Query.golden("q127_byte_bpe_merges", (s, dir) => {
      val model = graft.text.ByteBpe.train(
        t(s, dir, "documents").where(col("text").isNotNull), "text", numMerges = 32)
      graft.text.ByteBpe.mergesTable(s, model).orderBy(col("rank"))
    }),

    // q128: byte-level BPE ENCODING under the q127 vocabulary + an
    // atomic <|endoftext|> special (id 256+32, the GPT-2 layout):
    // per-doc token count and the first three ids — the token-budget
    // arithmetic (L26/L16/L29) counted the way the target model
    // tokenizes. Compiled zero-shuffle encode; golden VALUES oracle.
    Query.golden("q128_byte_bpe_tokens", (s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val model = graft.text.ByteBpe.train(docs, "text", numMerges = 32,
        specials = Seq("<|endoftext|>"))
      docs.repartitionByRange(col("doc_id")).select(col("doc_id"),
          graft.text.ByteBpe.encodeIds(
            concat(col("text"), lit("<|endoftext|>")), model).as("ids"))
        .select(col("doc_id"), size(col("ids")).as("n_tokens"),
          try_element_at(col("ids"), lit(1)).as("id1"),
          try_element_at(col("ids"), lit(2)).as("id2"),
          try_element_at(col("ids"), lit(3)).as("id3"))
        .orderBy(col("doc_id"))
    }),

    // q136: SentencePiece UNIGRAM-LM tokenization (SURVEY+ L90, Kudo
    // 2018 — the sentencepiece model_type=unigram family behind
    // T5/Gemma/LLaMA exports): EM-trained piece vocabulary over the
    // FIXED doc_id < 400 reference slice (constant training cost at
    // every scale, the q133 discipline), Viterbi encoding of the full
    // corpus in one compiled zero-shuffle pass. Per-doc piece count +
    // first three pieces. EM float math has no cross-engine replay
    // (like the q127/q128 merge loop), so the declared oracle pins
    // scale-keyed golden VALUES; the algorithm itself is spec-verified
    // (hand-computed Viterbi goldens, tie-break, char-fallback,
    // round-trip, determinism — SentencePieceSpec).
    Query.golden("q136_sp_unigram_tokens", (s, dir) => {
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      val model = graft.text.SentencePiece.train(
        docs.where(col("doc_id") < 400), "text", vocabSize = 400)
      docs.repartitionByRange(col("doc_id")).select(col("doc_id"),
          graft.text.SentencePiece.encodePieces(col("text"), model).as("p"))
        .select(col("doc_id"), size(col("p")).as("n_pieces"),
          try_element_at(col("p"), lit(1)).as("p1"),
          try_element_at(col("p"), lit(2)).as("p2"),
          try_element_at(col("p"), lit(3)).as("p3"))
        .orderBy(col("doc_id"))
    }),

    // q98: the UNICODE tokenization tier (TextFunctions.unicodeTokens,
    // round-7 verdict task #1) over a multilingual decorated corpus —
    // CJK/Hangul/Devanagari/Greek/Cyrillic/accent-Latin snippets keyed
    // by doc_id. Per-doc token count, CJK-single count, ascii-run count
    // and head/tail tokens; the oracle replays the tokenizer as the
    // codepoint-class regexp formula (CJK spacing + \p{L}\p{M}\p{N}
    // extraction + ASCII translate) over the same decoration.
    Query.fixed("q98_unicode_tokens", (s, dir) => {
      val id = col("doc_id")
      val decorated = concat(multilingualSnippet(id), lit(" "),
        col("text"), lit(" 終了 end"))
      val cjkFull = "^" + graft.functions.TextAlgo.CjkClass + "$"
      t(s, dir, "documents")
        .where(col("text").isNotNull)
        .repartitionByRange(col("doc_id"))
        .select(col("doc_id"),
          graft.functions.TextFunctions.unicodeTokens(decorated).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(filter(col("toks"), x => x.rlike(cjkFull))).as("n_cjk"),
          size(filter(col("toks"), x => x.rlike("^[a-z0-9]+$"))).as("n_ascii"),
          concat_ws(" ", slice(col("toks"), 1, 10)).as("head_tokens"),
          element_at(col("toks"), -1).as("last_token"))
        .orderBy(col("doc_id"))
    },
      ("WITH d AS (SELECT doc_id, " + MultilingualSnippetSql +
        " || ' ' || text || ' 終了 end' AS t\n" +
        "  FROM documents WHERE text IS NOT NULL),\n" +
        "tk AS (SELECT doc_id, " + unicodeToksSql("t") + " AS toks FROM d)\n" +
        "SELECT doc_id,\n" +
        "  CAST(len(toks) AS INT) AS n_tokens,\n" +
        "  CAST(len(list_filter(toks, x -> regexp_full_match(x, '" +
        graft.functions.TextAlgo.CjkClass + "'))) AS INT) AS n_cjk,\n" +
        "  CAST(len(list_filter(toks, x -> regexp_full_match(x, '[a-z0-9]+'))) AS INT) AS n_ascii,\n" +
        "  array_to_string(toks[1:10], ' ') AS head_tokens,\n" +
        "  toks[-1] AS last_token\n" +
        "FROM tk ORDER BY doc_id")),

    // q99: BM25 retrieval THROUGH the unicode tier (Search.bm25TopK
    // unicode=true) — single-ideograph/Hangul-syllable/accented terms
    // against the q98 decorated corpus, proving the threading end to
    // end: same arithmetic replay as q77, tokenization swapped for the
    // q98 formula. On the ascii tier these terms are unmatchable.
    Query.fixed("q99_bm25_unicode", (s, dir) => {
      val id = col("doc_id")
      val decorated = concat(multilingualSnippet(id), lit(" "),
        col("text"), lit(" 終了 end"))
      val corpus = t(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), decorated.as("t"))
      graft.text.Search.bm25TopK(corpus, "doc_id", "t",
        Seq("学", "テ", "텍", "naïve", "machine"), k = 15, unicode = true)
    },
      // unicode BM25 replay: the q77 arithmetic verbatim with the q98
      // tokenization swapped in (decorated corpus, multilingual terms)
      ("WITH d AS (SELECT doc_id, " + MultilingualSnippetSql +
        " || ' ' || text || ' 終了 end' AS t\n" +
        "  FROM documents WHERE text IS NOT NULL),\n" +
        "tk AS (SELECT doc_id, " + unicodeToksSql("t") + " AS toks FROM d),\n" +
        """dl AS (SELECT doc_id, len(toks) AS dl FROM tk),
        |s AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |tok AS (SELECT doc_id, t.term
        |  FROM tk, unnest(toks) AS t(term)
        |  WHERE t.term IN ('学', 'テ', '텍', 'naïve', 'machine')),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |f AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (SELECT tf.doc_id,
        |    ln(1 + (s.n - f.df + CAST(0.5 AS DOUBLE)) / (f.df + CAST(0.5 AS DOUBLE)))
        |      * tf.tf * CAST(2.2 AS DOUBLE)
        |      / (tf.tf + CAST(1.2 AS DOUBLE)
        |         * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |            + CAST(0.75 AS DOUBLE) * dl.dl / s.avgdl)) AS contrib
        |  FROM tf JOIN f USING (term) JOIN dl USING (doc_id) CROSS JOIN s)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
        |  round(sum(contrib), 6) AS bm25
        |FROM scored GROUP BY doc_id
        |ORDER BY round(sum(contrib), 6) DESC, doc_id LIMIT 15""".stripMargin)))

  /** DuckDB replay of the multilingual [[graft.functions.TextFunctions.langGuess]]:
    * per-language marker hit counts over the unicode-tier tokens (same
    * marker table, quoted), then the kernel's argmax — FIRST language
    * with a strictly-greater running max wins, i.e. lang_i needs
    * h_i > 0, h_i > h_j for every earlier j, h_i >= h_j for every
    * later j; 'und' otherwise. Generated from the production table so
    * they cannot drift.
    */
  private def langGuessCaseSql: String = {
    val ms = graft.functions.TextFunctions.multilingualLangMarkers
    ms.indices.map { i =>
      val conds = (Seq(s"h$i > 0") ++
        (0 until i).map(j => s"h$i > h$j") ++
        (i + 1 until ms.length).map(j => s"h$i >= h$j")).mkString(" AND ")
      s"WHEN $conds THEN '${ms(i)._1}'"
    }.mkString("CASE ", "\n    ", "\n    ELSE 'und' END")
  }

  private def langGuessHitsSql: String =
    graft.functions.TextFunctions.multilingualLangMarkers.zipWithIndex.map {
      case ((_, words), i) =>
        val list = words.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(toks, t -> list_contains([$list], lower(t)))) AS h$i"
    }.mkString(",\n  ")

  /** Multilingual decoration shared by q98/q99: a script-diverse snippet
    * keyed by doc_id (CJK, Hangul, accented Latin, Devanagari,
    * Greek/Cyrillic, mixed English+CJK), prepended to the document text.
    * The synthetic corpus is pure ASCII, so this is what makes the
    * unicode-tier queries actually exercise non-Latin scripts.
    */
  private def multilingualSnippet(id: Column): Column =
    element_at(array(
      lit("世界の日本語テスト"),
      lit("한국어 텍스트 처리 시험"),
      lit("Résumé naïve café façade"),
      lit("हिन्दी में लिखा गया पाठ"),
      lit("Ελληνικά και Русский текст"),
      lit("machine learning 机器学习系统")), (id % 6 + 1).cast("int"))

  /** The same six snippets as a DuckDB array-index expression. */
  private val MultilingualSnippetSql: String =
    "['世界の日本語テスト','한국어 텍스트 처리 시험','Résumé naïve café façade'," +
      "'हिन्दी में लिखा गया पाठ','Ελληνικά και Русский текст'," +
      "'machine learning 机器学习系统'][CAST(doc_id % 6 + 1 AS INT)]"

  /** Iterative-algorithm replays (BPE merge loop, k-center rounds) come
    * from the SHARED generators in [[graft.tools.ReplaySql]] — the same
    * SQL the differential fuzz harness runs, so the q-gate and the fuzz
    * gate can never drift onto different replay semantics.
    */
  private def bpeMergesOracleSql(numMerges: Int): String =
    graft.tools.ReplaySql.bpeMerges("documents", "text", numMerges) + "\nORDER BY rank"

  /** q110 phrase set, shared by the Spark query and the generated oracle:
    * 2-grams, 3-grams and a repeated-term phrase over the corpus
    * vocabulary.
    */
  private val q110Phrases: Seq[String] = Seq(
    "fast table", "table table", "batch part value",
    "spark order data", "the line sort", "scan query big")

  /** q112's blocklist: single alnum words (so the oracle's token-equality
    * replay is EXACT — see the q112 comment), mixing corpus-frequent
    * terms, a mid-frequency term, and one absent term.
    */
  private val q112Patterns: Seq[String] = Seq(
    "customer", "data", "vector", "stream", "zzznotpresent")
}
