package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale training-data pipelines.
  *
  * All are pure Column expressions (whole-stage-codegen'd, no UDFs): at
  * 100 TB the difference between a codegen'd expression and a black-box
  * closure is the difference between a scan-speed pass and a serialization
  * bottleneck. Regexes use explicit ASCII classes so the semantics are
  * portable across engines (Java regex here, RE2 elsewhere).
  */
object TextFunctions {

  /** Whitespace-separated token count; 0 for empty/blank strings.
    *
    * A token is a maximal run of non-`\s` characters — the same contract
    * as the compiled kernels' shared scanner (TextAlgo.wsTokens), so the
    * whole token family agrees on edge whitespace. The old
    * `split(trim(c))` form disagreed with the kernels on strings edged
    * with control whitespace ("\t" counted 2 tokens: SQL trim strips
    * 0x20 only, and split emits empty edge tokens) — found by the
    * FuzzDiff differential harness, round 5.
    */
  def tokenCount(c: Column): Column = {
    val t = regexp_replace(c, "^\\s+|\\s+$", "")
    when(length(t) === 0, lit(0)).otherwise(size(split(t, "\\s+")))
  }

  /** Tokens matching a BPE-ish word/number/punctuation segmentation —
    * approximates subword tokenizer pre-splitting: runs of letters, runs of
    * digits, and single punctuation marks each count as one token.
    */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[!-/:-@\\[-`{-~]"), lit(0)))

  /** Fraction of characters that are ASCII punctuation; 0 for empty. */
  def punctRatio(c: Column): Column = {
    val len = length(c)
    val noPunct = length(regexp_replace(c, "[!-/:-@\\[-`{-~]", ""))
    when(len === 0, lit(0.0)).otherwise((len - noPunct).cast("double") / len.cast("double"))
  }

  /** Duplicate word-n-gram fraction (intra-document repetition signal, the
    * filter LLM-corpus cleaning thresholds on) — one compiled pass
    * ([[Kernels.dupNgramFraction]]).
    */
  def dupNgramFraction(c: Column, n: Int): Column =
    Kernels.dupNgramFraction(c, n)

  /** Distinct word-n-grams (exact strings) — one compiled pass
    * ([[Kernels.wordNgrams]]); combine with array_intersect/array_union for
    * exact set similarity. `unicode = true` opts into the multilingual
    * tokenization tier (codepoint-class runs, CJK singles — see
    * [[unicodeTokens]]); the default keeps the engine-wide `\s+`-run
    * convention byte-unchanged.
    */
  def wordNgrams(c: Column, n: Int, unicode: Boolean = false): Column =
    Kernels.wordNgrams(c, n, unicode)

  /** Non-overlapping word-n-chunks in document order (one compiled pass,
    * [[Kernels.wordChunks]]) — the explode unit for chunk-granular exact
    * substring dedup ([[graft.dedup.ChunkDedup]]).
    */
  def wordChunks(c: Column, n: Int): Column =
    Kernels.wordChunks(c, n)

  /** All consecutive space-joined word n-grams IN ORDER, non-distinct
    * ([[Kernels.wordNgramStream]]; [[asciiTokens]] tokenization, or
    * [[unicodeTokens]] with `unicode = true` — CJK bigram LMs need real
    * token pairs; n = 2 is the bigram stream; [[wordNgrams]] is the
    * distinct-set sibling) — the map-side stream for order-n LM
    * estimation.
    */
  def wordNgramStream(c: Column, n: Int, unicode: Boolean = false): Column =
    Kernels.wordNgramStream(c, n, unicode)

  /** Hashed (gram, prefix) pairs per consecutive word n-gram
    * ([[Kernels.ngramHashPairs]]) — the fixed-width stream behind the
    * hashed LM tier ([[graft.text.UnigramLm.ngramCrossEntropyHashed]]).
    */
  def ngramHashPairs(c: Column, n: Int, unicode: Boolean = false): Column =
    Kernels.ngramHashPairs(c, n, unicode)

  /** Sentence array of a text column — the RAG-chunking companion to
    * [[graft.text.Chunker]]'s token windows. The simple-and-DETERMINISTIC
    * tier of sentence segmentation (the htmlToText philosophy, not a
    * trained punkt model): a sentence is a maximal run of
    * non-terminators followed by a `[.!?]` run (closing quotes/brackets
    * included), or the trailing remainder; each piece is trimmed with
    * the engine-wide explicit whitespace class and empties drop. All
    * codegen'd builtins (`regexp_extract_all` + array ops) over
    * Java/RE2-shared syntax, so any engine replays segmentation
    * byte-for-byte (q95). Abbreviation handling ("Dr. Smith") is out of
    * scope for the deterministic tier — documented, not hidden.
    */
  def sentences(c: Column): Column = {
    val pieces = regexp_extract_all(c,
      lit("""[^.!?]+[.!?]+["')\]]*|[^.!?]+$"""), lit(0))
    filter(
      transform(pieces, p =>
        regexp_replace(p, "^[ \t\n\f\r]+|[ \t\n\f\r]+$", "")),
      p => p =!= "")
  }

  /** Curated non-breaking abbreviations for [[sentencesAbbrevGuard]] —
    * written WITHOUT the trailing dot; internal dots (e.g, i.e, U.S)
    * are masked too. Case-sensitive, applied in list order (order is
    * part of the replayable contract).
    */
  val DefaultAbbreviations: Seq[String] = Seq(
    "Dr", "Mr", "Mrs", "Ms", "Prof", "St", "Jr", "Sr", "Rev", "Gen",
    "vs", "etc", "e.g", "i.e", "cf", "al", "Fig", "No", "Vol", "pp",
    "U.S", "U.K", "a.m", "p.m")

  /** The abbreviation-guard tier of [[sentences]] (round-7 verdict task
    * #7): periods belonging to listed abbreviations do not end
    * sentences. Mechanism — deterministic and lookaround-free, so it
    * replays on RE2 engines (which have no lookbehind): each
    * abbreviation's dot(s) are MASKED to a private-use sentinel
    * (U+E000) behind a left boundary `(^|[^A-Za-z0-9])`, the masked
    * text runs through the exact [[sentences]] segmentation, and the
    * sentinel is restored to '.' per piece. One codegen'd
    * regexp_replace per abbreviation (the opt-in tier's cost — the
    * default tier stays one extraction pass).
    *
    * Documented limitation: a listed abbreviation at TRUE sentence end
    * ("...saw the Dr.") does not break there either — the standard
    * list-guard trade-off, pinned by spec.
    */
  /** The mask steps behind [[sentencesAbbrevGuard]] as (pattern,
    * java replacement, duckdb replacement) triples \u2014 the SINGLE source
    * of truth the Spark fold AND the DuckDB oracle generator both
    * consume, so they cannot drift.
    *
    * Plain (dot-free) abbreviations collapse into ONE alternation pass
    * (longest-first \u2014 a prefix entry like `Mr` can never shadow `Mrs`
    * because both require the terminating `[.]`, and leftmost-first
    * alternation is identical in Java and RE2): 19 single passes became
    * one, taking the q101 gate query from 7.2s to ~2s at sf0.1. Dotted
    * entries (e.g, U.S) keep per-entry passes \u2014 their internal dots
    * need entry-specific replacements.
    */
  private[graft] def abbrevMaskSteps(abbrevs: Seq[String]): Seq[(String, String, String)] = {
    require(abbrevs.nonEmpty, "abbreviation list must be non-empty")
    require(abbrevs.forall(a => a.matches("[A-Za-z]+([.][A-Za-z]+)*")),
      s"abbreviations must be dotted letter groups without the trailing dot, got $abbrevs")
    val s = "\uE000"
    val (dotted, plain) = abbrevs.partition(_.contains("."))
    val plainStep =
      if (plain.isEmpty) Seq.empty
      else {
        val alt = plain.distinct.sortBy(a => (-a.length, abbrevs.indexOf(a))).mkString("|")
        Seq(("(^|[^A-Za-z0-9])(" + alt + ")[.]", "$1$2" + s, "\\1\\2" + s))
      }
    plainStep ++ dotted.map { a =>
      ("(^|[^A-Za-z0-9])" + a.replace(".", "[.]") + "[.]",
        "$1" + a.replace(".", s) + s,
        "\\1" + a.replace(".", s) + s)
    }
  }

  def sentencesAbbrevGuard(c: Column,
      abbrevs: Seq[String] = DefaultAbbreviations): Column = {
    val s = "\uE000"
    val masked = abbrevMaskSteps(abbrevs).foldLeft(c) { case (acc, (pat, rep, _)) =>
      regexp_replace(acc, pat, rep)
    }
    transform(sentences(masked), p => replace(p, lit(s), lit(".")))
  }

  /** Lowercased-alnum tokens (same tokenization as [[wordNgramStream]]). */
  def asciiTokens(c: Column): Column =
    Kernels.asciiTokens(c)

  /** Unicode-tier tokens — the multilingual opt-in beside
    * [[asciiTokens]]: maximal runs of Unicode letter/mark/number
    * codepoints, CJK codepoints as single tokens (the standard
    * CC-pipeline compromise — no dictionary segmentation), ASCII-only
    * case folding (full Unicode lowercasing is engine-divergent). One
    * compiled pass ([[Kernels.unicodeTokens]]); engine-independent replay is
    * `regexp_extract_all(translate(regexp_replace(text, '(CJK)', ' \1 ',
    * 'g'), 'A..Z', 'a..z'), '[\p{L}\p{M}\p{N}]+')` with
    * [[TextAlgo.CjkClass]] (q98). On `[a-z0-9 ]`-only text this equals
    * [[asciiTokens]]; on CJK text, where `\s`/`[a-z0-9]` tokenization
    * yields one giant word or nothing, it yields real tokens.
    */
  def unicodeTokens(c: Column): Column =
    Kernels.unicodeTokens(c)

  /** Fraction of tokens that are (lowercased) English stopwords — one
    * compiled pass ([[Kernels.tokenSetStats]]): match count and token count in
    * a single tokenization, no interpreted array filter.
    */
  def stopwordRatio(c: Column, stopwords: Seq[String] = defaultStopwords): Column = {
    val packed = Kernels.tokenSetStats(c, stopwords)
    val matches = shiftrightunsigned(packed, 32).cast("double")
    val tokens = packed.bitwiseAND(lit(0xFFFFFFFFL)).cast("double")
    when(tokens === 0, lit(0.0)).otherwise(matches / tokens)
  }

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as")

  /** Heuristic document-quality score in [0,1]: combines length band,
    * punctuation moderation and stopword presence — the standard cheap
    * pre-filter shape for web-scale corpora (C4-style). Deterministic and
    * portable; weights are fixed.
    */
  def qualityScore(c: Column, unicode: Boolean = false): Column = {
    // unicode tier: the length band counts multilingual-tier tokens (a
    // CJK doc is otherwise 1-5 giant \s-"words" and auto-fails the
    // band). The stopword component stays English — CJK docs top out at
    // 0.7 (length + punct), which a 0.7 gate admits; documented bias,
    // not hidden.
    val nTok = if (unicode) size(unicodeTokens(c)) else tokenCount(c)
    val lengthOk = when(nTok.between(10, 100000), lit(0.4)).otherwise(lit(0.0))
    val punctOk = when(punctRatio(c) < 0.2, lit(0.3)).otherwise(lit(0.0))
    val stopOk = when(stopwordRatio(c) > 0.01, lit(0.3)).otherwise(lit(0.0))
    round(lengthOk + punctOk + stopOk, 2)
  }

  /** N-gram-free language-ID heuristic: counts marker-stopword hits per
    * language over whitespace tokens and returns the argmax language code,
    * 'und' when nothing matches. Markers are frequent function words —
    * the classic fastText/langid fallback for short texts, expressed as a
    * single codegen'd expression (no shuffle, no UDF).
    */
  def langGuess(c: Column, unicode: Boolean = false): Column = {
    // single compiled pass over the tokens; argmax ties break in
    // declaration order, 'und' when nothing matches — identical to the
    // when-ladder this replaces ([[Kernels.langGuess]]). unicode = true
    // uses the multilingual tier (CJK-single tokens — ideograph and
    // Hangul markers are unmatchable under \s tokenization) and the
    // extended marker table.
    val markers = if (unicode) multilingualLangMarkers else defaultLangMarkers
    Kernels.langGuess(c, markers.map(_._2), markers.map(_._1), unicode)
  }

  /** Default marker-word table for [[langGuess]] — public so the SQL
    * registration ([[graft.sql.GraftFunctions]]) exposes the identical
    * classifier.
    */
  val defaultLangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "you", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "ich"),
    "fr" -> Seq("le", "la", "les", "et", "est", "vous", "que", "pas"),
    "es" -> Seq("el", "los", "las", "es", "y", "que", "por", "una"))

  /** Extended marker table for the unicode tier of [[langGuess]]: the
    * Latin four plus CJK/Hangul single-token function characters and
    * Cyrillic/Greek/Devanagari function words — matchable only under
    * the multilingual tokenization (under `\s` tokens a CJK document
    * is one giant "word" and every marker misses). Declaration order
    * is the tie-break, so the higher-precision Latin word markers come
    * first.
    */
  val multilingualLangMarkers: Seq[(String, Seq[String])] = defaultLangMarkers ++ Seq(
    "zh" -> Seq("的", "是", "在", "了", "不", "和", "有", "这"),
    // CJK/Hangul markers must be SINGLE codepoints — the tier tokenizes
    // those scripts to single-char tokens, so a multi-char marker (です)
    // could never match
    "ja" -> Seq("の", "は", "を", "に", "が", "で", "た", "も"),
    "ko" -> Seq("이", "의", "는", "을", "가", "에", "한", "다"),
    "ru" -> Seq("и", "в", "не", "на", "что", "он", "как", "это"),
    "el" -> Seq("και", "το", "να", "της", "με", "που", "την", "από"),
    "hi" -> Seq("के", "है", "में", "की", "और", "से", "को", "का"))

  /** Canonical document fingerprint: md5 of the lowercased text with all
    * non-alphanumeric characters removed. Whitespace/punctuation-insensitive
    * exact-duplicate key.
    *
    * `unicode = true` keeps letter/mark/number codepoints of EVERY
    * script (the joined multilingual-tier tokens) instead of `[a-z0-9]`
    * — the ascii normalization maps every CJK document to the EMPTY
    * string, declaring a whole corpus one giant duplicate group (found
    * by the round-7 CurateCorpus --unicode spec).
    */
  def fingerprint(c: Column, unicode: Boolean = false, nfc: Boolean = false,
      caseFold: Boolean = false): Column = {
    // nfc = true: canonical-compose FIRST ([[nfcNormalize]]), so
    // composed and decomposed encodings of the same visible text get ONE
    // key — NFD text would otherwise split (ascii tier: the base letter
    // survives the strip only in decomposed form; unicode tier: \p{M}
    // marks keep decomposed sequences byte-distinct).
    // caseFold = true: Unicode SIMPLE case folding after NFC
    // ([[caseFoldSimple]]) — CAFE/cafe-class corpora in any script and
    // final-vs-medial sigma share a key; engine-divergent by nature
    // (no SQL twin), so the fold tier is spec-verified, not
    // oracle-replayed (the documented L61 trade, one tier up)
    val nfcd = if (nfc) nfcNormalize(c) else c
    val base = if (caseFold) caseFoldSimple(nfcd) else nfcd
    if (unicode) md5(array_join(unicodeTokens(base), ""))
    else md5(regexp_replace(lower(base), "[^a-z0-9]", ""))
  }

  /** Unicode simple case folding ([[Kernels.caseFoldSimple]], compiled) —
    * the dedup-key fold tier above the ASCII-only tokenizer fold.
    */
  def caseFoldSimple(c: Column): Column =
    Kernels.caseFoldSimple(c)

  /** Unicode NFC canonical composition ([[Kernels.nfcNormalize]], compiled;
    * no-op fast path for already-normalized text).
    */
  def nfcNormalize(c: Column): Column =
    Kernels.nfcNormalize(c)

  /** Raw counters for the Gopher rule-based quality gate (one compiled
    * pass, [[Kernels.gopherCounters]]; slot layout in
    * [[TextAlgo.gopherCounters]]). Use [[gopherFlags]] for the thresholded
    * verdicts.
    */
  def gopherCounters(c: Column, unicode: Boolean = false): Column =
    Kernels.gopherCounters(c, unicode)

  /** Gopher rule-based quality verdicts (Rae et al. 2021, app. A1.1) as a
    * struct of per-rule failure booleans plus the combined `pass`:
    *
    *   fail_words     word count outside [minWords, maxWords]
    *   fail_word_len  mean word length outside [3, 10] (code points)
    *   fail_symbol    ('#' + "..." + '…') / words  > 0.1
    *   fail_bullet    bullet-led lines / nonempty lines  > 0.9
    *   fail_ellipsis  "..."/'…'-ended lines / nonempty lines  > 0.3
    *   fail_alpha     words containing an ASCII letter / words  < 0.8
    *   fail_stopword  fewer than 2 distinct [[TextAlgo.GopherStopwords]]
    *
    * All thresholds are ratios of the single-pass counters, so the gate is
    * one codegen'd map stage — filter 100 TB before anything shuffles.
    */
  def gopherFlags(c: Column, minWords: Long = 50L, maxWords: Long = 100000L,
      unicode: Boolean = false): Column = {
    // unicode = true: "words" are the multilingual-tier tokens and the
    // alpha rule tests any \p{L}, so CJK/Cyrillic documents are gated on
    // their real statistics instead of auto-failing fail_words/fail_alpha
    val g = gopherCounters(c, unicode)
    val nW = element_at(g, 1); val sumLen = element_at(g, 2)
    val nAlpha = element_at(g, 3)
    val nSym = element_at(g, 4) + element_at(g, 5) + element_at(g, 6)
    val nLines = element_at(g, 7); val nBullet = element_at(g, 8)
    val nEllEnd = element_at(g, 9); val nStop = element_at(g, 10)
    val d = (x: Column) => x.cast("double")
    // ratios are branch-guarded (CaseWhen evaluates only the taken arm):
    // a bare `nW === 0 || x/nW < 3` still EVALUATES the division on
    // zero-word docs and throws DIVIDE_BY_ZERO under ANSI mode — found by
    // the FuzzDiff empty/whitespace-only corpus, invisible to fixtures
    val ratio = (num: Column, den: Column) =>
      when(den > 0, d(num) / d(den)).otherwise(lit(0.0))
    val mwl = ratio(sumLen, nW)
    val fWords = nW < minWords || nW > maxWords
    val fWordLen = nW === 0 || mwl < 3.0 || mwl > 10.0
    val fSymbol = nW > 0 && ratio(nSym, nW) > 0.1
    val fBullet = nLines > 0 && ratio(nBullet, nLines) > 0.9
    val fEllipsis = nLines > 0 && ratio(nEllEnd, nLines) > 0.3
    val fAlpha = nW === 0 || ratio(nAlpha, nW) < 0.8
    val fStop = nStop < 2
    struct(
      fWords.as("fail_words"), fWordLen.as("fail_word_len"),
      fSymbol.as("fail_symbol"), fBullet.as("fail_bullet"),
      fEllipsis.as("fail_ellipsis"), fAlpha.as("fail_alpha"),
      fStop.as("fail_stopword"),
      (!fWords && !fWordLen && !fSymbol && !fBullet && !fEllipsis && !fAlpha && !fStop).as("pass"))
  }

  /** Blocklist occurrence count ([[Kernels.blocklistHits]], compiled, zero
    * shuffle): one Aho-Corasick pass over ALL patterns — the C4-style
    * "page contains a listed word" gate without K text scans. See
    * [[AcAutomaton]] for the fold/boundary conventions; `hits > 0` is
    * exact containment.
    */
  def blocklistHits(c: Column, patterns: Seq[String],
      wordBounded: Boolean = true): Column =
    Kernels.blocklistHits(c, patterns, wordBounded)

  /** C4 line retention ([[Kernels.c4KeepLines]], compiled, zero shuffle): the
    * kept lines of the page, stripped and rejoined with '\n'. See
    * [[TextAlgo.c4KeepLines]] for the rule set.
    */
  def c4KeepLines(c: Column, minWords: Int = 5): Column =
    Kernels.c4KeepLines(c, minWords)

  private val AsciiUpper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
  private val AsciiLower = "abcdefghijklmnopqrstuvwxyz"

  /** The C4 cleaning verdict (Raffel et al. 2020 §2.2) as a struct:
    *
    *   kept_text   lines surviving [[c4KeepLines]] (stripped, '\n'-joined)
    *   n_lines     lines in the input page
    *   n_kept      surviving lines
    *   has_lorem   page contains "lorem ipsum" (ASCII case fold)
    *   has_brace   page contains '{' (the C4 "no code" heuristic)
    *   has_blocked page contains a `blocklist` term (ASCII case fold;
    *               C4's dirty-word list is caller data, not engine data)
    *   pass        none of the above and n_kept >= minKeptLines (the
    *               paper's >= 3 sentence floor, at line granularity)
    *
    * The line rules run in one compiled kernel; the page rules are
    * builtin predicates over an ASCII `translate` fold (full Unicode
    * lowering is engine-divergent — same discipline as the unicode
    * tokenization tier). Everything is a map stage: at 100 TB the gate
    * filters before anything shuffles.
    */
  def c4Flags(c: Column, minWords: Int = 5, minKeptLines: Int = 3,
      blocklist: Seq[String] = Nil): Column = {
    require(blocklist.forall(t => t.nonEmpty && t == t.toLowerCase(java.util.Locale.ROOT)),
      "blocklist terms must be non-empty and lowercase (matching is an ASCII case fold)")
    val kept = c4KeepLines(c, minWords)
    val folded = translate(c, AsciiUpper, AsciiLower)
    val nLines = size(split(c, "\n", -1)).cast("long")
    val nKept = when(kept === "", lit(0L))
      .otherwise(size(split(kept, "\n", -1)).cast("long"))
    val hasLorem = folded.contains("lorem ipsum")
    val hasBrace = c.contains("{")
    val hasBlocked = blocklist.foldLeft(lit(false))((acc, t) => acc || folded.contains(t))
    struct(
      kept.as("kept_text"), nLines.as("n_lines"), nKept.as("n_kept"),
      hasLorem.as("has_lorem"), hasBrace.as("has_brace"),
      hasBlocked.as("has_blocked"),
      (!hasLorem && !hasBrace && !hasBlocked && nKept >= minKeptLines).as("pass"))
  }

  /** Order-preserving removal of repeated lines within each document
    * (exact equality, first occurrence wins; [[Kernels.dedupLines]], compiled,
    * zero shuffle) — CCNet/RefinedWeb-style boilerplate stripping. The
    * corpus-level sibling is `dedup/ChunkDedup`.
    */
  def dedupLines(c: Column): Column =
    Kernels.dedupLines(c)

  /** Remove `[start,end)` token-index spans from the text and rejoin the
    * kept tokens with single spaces ([[Kernels.removeSpans]], compiled, zero
    * shuffle) — the cleaning half of `dedup/SpanDedup`. `spans` is an
    * `array<struct<bigint,bigint>>` column; the output is whitespace-
    * normalized (see the kernel scaladoc).
    */
  def removeSpans(text: Column, spans: Column): Column =
    Kernels.removeSpans(text, spans)

  // --- HTML extraction -----------------------------------------------------
  // Like the PII patterns below: regex syntax restricted to what Java's
  // engine and RE2 share (lazy .*?, the (?s) flag, explicit classes —
  // NOT \s, whose class differs between the engines on \x0B, and NOT
  // (?i), which RE2 applies with Unicode simple case folding (U+017F
  // 'long s' folds to 's') while Java's is ASCII-only: tag names use
  // explicit [sS]-style classes instead), so an engine-independent
  // oracle replays extraction byte-for-byte.

  /** Plain text from an HTML fragment — the web-corpus ingestion step
    * (the simple-and-deterministic tier of trafilatura-style extraction):
    * script/style/comment blocks removed whole, every remaining tag
    * becomes a space (so adjacent text runs never fuse), the five core
    * entities plus `&nbsp;` decoded (`&amp;` LAST, the standard order
    * that never double-decodes), whitespace collapsed and trimmed. A
    * codegen'd regexp/replace chain — no UDF, no custom kernel needed.
    * Unterminated `<` stays literal (matches both engines' `<[^>]*>`).
    */
  def htmlToText(c: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(
        regexp_replace(c,
          "(?s)<[sS][cC][rR][iI][pP][tT][^>]*>.*?</[sS][cC][rR][iI][pP][tT]>", " "),
        "(?s)<[sS][tT][yY][lL][eE][^>]*>.*?</[sS][tT][yY][lL][eE]>", " "),
      "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noBlocks, "(?s)<[^>]*>", " ")
    val decoded =
      replace(
        replace(
          replace(
            replace(
              replace(
                replace(noTags, lit("&nbsp;"), lit(" ")),
                lit("&lt;"), lit("<")),
              lit("&gt;"), lit(">")),
            lit("&quot;"), lit("\"")),
          lit("&#39;"), lit("'")),
        lit("&amp;"), lit("&"))
    trim(regexp_replace(decoded, "[ \\t\\r\\n\\f]+", " "))
  }

  // --- PII scrubbing -------------------------------------------------------
  // Patterns deliberately restricted to regex syntax shared by Java's
  // engine and RE2 (character classes, bounded repeats, \b; no lookarounds)
  // so an engine-independent oracle can replay redaction byte-for-byte.
  // All three are codegen'd regexp_replace/regexp_count — no UDFs.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhonePattern = "\\b[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}\\b"

  /** Redact emails, IPv4 addresses and dashed phone numbers with typed
    * placeholder tags. Replacement order matters: emails first (their
    * local/domain parts contain the dots and digit runs the other patterns
    * could partially claim), then IPs, then phones.
    */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailPattern, "<EMAIL>"),
        Ipv4Pattern, "<IP>"),
      PhonePattern, "<PHONE>")

  /** Per-pattern match counts on the ORIGINAL text (each pattern counted
    * independently, so counts are insensitive to replacement order).
    */
  def piiCounts(c: Column): (Column, Column, Column) =
    (regexp_count(c, lit(EmailPattern)),
     regexp_count(c, lit(Ipv4Pattern)),
     regexp_count(c, lit(PhonePattern)))

  /** Character shingles (n-grams) of the normalized text, as an array.
    * Empty array when the text is shorter than k.
    */
  def charShingles(c: Column, k: Int): Column = {
    val norm = regexp_replace(lower(c), "[^a-z0-9 ]", "")
    val nShingles = greatest(length(norm) - (k - 1), lit(0))
    when(nShingles === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), nShingles), i => norm.substr(i, lit(k))))
  }

  /** Word shingles (n-grams over whitespace tokens). */
  def wordShingles(c: Column, k: Int): Column = {
    val toks = split(trim(lower(regexp_replace(c, "[^A-Za-z0-9 ]", ""))), "\\s+")
    val n = size(toks)
    when(n < k, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), n - k), i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** MinHash signature of the text column's k-char shingles: array<long> of
    * length `numHashes` (empty when the normalized text is shorter than k).
    * Native codegen'd expression — one pass per document, rolling shingle
    * hashes ([[Kernels.minhashSig]], [[TextAlgo.minhashSig]]). Seeded,
    * deterministic.
    */
  def minhashSignature(text: Column, shingleSize: Int, numHashes: Int, seed: Long = 42L): Column =
    Kernels.minhashSig(text, shingleSize, numHashes, seed)

  /** Sorted distinct 64-bit shingle hashes — the set representation for
    * exact Jaccard verification via [[jaccardSorted]].
    */
  def shingleHashSet(text: Column, shingleSize: Int): Column =
    Kernels.shingleHashSet(text, shingleSize)

  /** Exact Jaccard similarity of two [[shingleHashSet]] columns. */
  def jaccardSorted(a: Column, b: Column): Column =
    Kernels.jaccardSorted(a, b)

  /** Winnowing (MOSS) document fingerprints: sorted distinct window-min
    * rolling shingle hashes — any shared substring of length >=
    * shingleSize + window - 1 produces a shared fingerprint
    * ([[Kernels.winnowing]], [[TextAlgo.winnowing]]).
    */
  def winnowingFingerprints(text: Column, shingleSize: Int = 5, window: Int = 4): Column =
    Kernels.winnowing(text, shingleSize, window)

  /** Oracle-checkable winnowing (md5-derived hashes, same selection);
    * ~10x the hashing cost — see TextAlgo.winnowingPortable.
    */
  def winnowingFingerprintsPortable(text: Column, shingleSize: Int = 5, window: Int = 4): Column =
    Kernels.winnowingPortable(text, shingleSize, window)

  /** Oracle-checkable MinHash signature (md5-base + affine permutations
    * mod 2^31-1) — see TextAlgo.minhashPortableSig.
    */
  def minhashPortableSignature(text: Column, shingleSize: Int, numHashes: Int, seed: Long = 42L): Column =
    Kernels.minhashPortableSig(text, shingleSize, numHashes, seed)

  /** Oracle-checkable shingle hash set (md5-60) for exact-Jaccard verify. */
  def shingleHashSetPortable(text: Column, shingleSize: Int): Column =
    Kernels.shingleHashSetPortable(text, shingleSize)

  /** Oracle-checkable 60-bit SimHash (md5 token hashes) — see
    * TextAlgo.simhash60Portable.
    */
  def simhash60Portable(c: Column): Column = Kernels.simhash60Portable(c)

  /** 64-bit SimHash over whitespace tokens: bit b of the output is the sign
    * of sum over tokens of (bit b of the token hash ? +1 : -1). Native
    * codegen'd expression ([[Kernels.simhash64]], [[TextAlgo.simhash64]]).
    */
  def simhash64(c: Column): Column = Kernels.simhash64(c)
}
