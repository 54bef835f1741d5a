package graft.tools

import graft.functions.{TextAlgo, TextFunctions}
import graft.etl.Mixing
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

/** Randomized differential fuzz harness vs the DuckDB oracle.
  *
  * The round-4 hardening campaign found its bugs by manual review; the
  * residual risk class is the FIXTURE-BLIND oracle-parity divergence —
  * the U+3000 whitespace, NULL-stratum, epoch-rounding edge case no
  * hand-written fixture exercises. This harness closes that class
  * mechanically: from one seed it generates
  *
  *  - an EDGE-VALUE corpus (`fuzz_docs`, `fuzz_vecs`: NULLs, empty and
  *    whitespace-only strings, exotic unicode whitespace, CJK/emoji,
  *    Long extremes, ±huge/denormal doubles, zero and NULL vectors),
  *    written as parquet so both engines read byte-identical inputs; and
  *  - hundreds of SEEDED RANDOM QUERY CASES — filters, aggregates,
  *    joins, windows, string ops over the TPC-H-ish tables, plus every
  *    portable `graft_*` kernel (token stats, n-grams, fingerprints,
  *    simhash/minhash/winnowing, jaccard, lang-ID, vector math, KMV,
  *    hash-mix/split/cap machinery) parameterized with random shingle
  *    sizes, hash counts, seeds, fractions and thresholds —
  *
  * each paired with semantically-equivalent DuckDB SQL (the same macro
  * bodies the 73-query oracle gate already proved, generalized over the
  * fuzz parameters). Results are dumped Verify-style and compared by
  * `tools/oracle_check.py` (column-sorted, row-sorted, cell-by-cell):
  *
  *   Test/runMain graft.tools.FuzzDiff [sfDir] [outDir] [seed] [nCases]
  *   python3 tools/oracle_check.py <sfDir> <outDir>
  *
  * Scope contracts (deliberate, documented — not silent):
  *  - Case-folding kernels (fingerprint / simhash / minhash / winnowing
  *    / alnum tokenization) run on the printable-ASCII twin column `sa`:
  *    the JVM kernels fold A-Z only (engine-portable by design, see the
  *    q58 scaladoc), while DuckDB `lower()` is unicode-aware (İ→i,
  *    ẞ→ß), so non-ASCII folding is out of the parity contract.
  *  - Whitespace-tokenization kernels run on the raw unicode `s` —
  *    exotic whitespace IS in contract there. The oracles split on the
  *    explicit `[\s\x0b]` class, NOT bare `\s`: RE2's `\s` omits \x0B
  *    (vertical tab) while Java's includes it, and the corpus carries
  *    VT-bearing rows precisely to keep that divergence covered.
  *  - No NaN in the corpus (NaN breaks cell equality in any checker);
  *    ±Infinity appears only where no arithmetic can produce NaN.
  */
object FuzzDiff {

  final case class FuzzCase(name: String, duckSql: String, build: SparkSession => DataFrame)

  // ---- edge-value corpus --------------------------------------------------

  private val edgeStrings: Seq[String] = Seq(
    null, "", " ", "  ", "\t", "\n", "\r\n", "　", " ", "​",
    "a", "A", "z9", "hello world", "Hello, World!",
    "the quick brown fox jumps over the lazy dog",
    "dup dup dup dup dup", "the the the and and of",
    "!!! ??? ;;; ((( )))", "12345 67890", "abc123!@# def456$%^",
    "你好世界", "こんにちは 世界",
    "Привет мир",
    "naïve café résumé", "emoji 😀 🎉 test",
    "tab\tsep\tvals", "line1\nline2\nline3", "trail space ", " lead space",
    "CamelCase MixedCASE", "UPPER LOWER Upper", "a b", "ab",
    " the start", "mid　gap word", "der die das und ist",
    "le la les et est", "el los las es y", "the and of to is you that it",
    "ẞ ß İ ı Σσς",
    "it's \"quoted\" and \\escaped\\ text",
    "contact bob@example.com at 10.0.0.7 call 555-123-4567",
    "x" * 500,
    // vertical tab IS whitespace to Java's \s but NOT to RE2's — the
    // oracles pin the explicit [\s\x0b] class; these rows exercise it
    "vt\u000Bsep words", "a\u000Bb c a\u000Bb",
    (0 until 150).map(i => s"w$i").mkString(" "))

  private val vocab: Seq[String] = Seq(
    "the", "a", "and", "of", "to", "in", "is", "it", "that", "for", "on", "with",
    "der", "die", "das", "und", "ist", "le", "la", "les", "et", "el", "los", "es",
    "fox", "jump", "data", "spark", "query", "alpha", "beta", "gamma", "delta",
    "token", "window", "merge", "stream", "12345", "999", "x1", "!!", "?,", "...",
    "Mixed", "CASE", "café", "你好", "😀")

  private val separators: Seq[String] =
    Seq(" ", " ", " ", " ", " ", " ", "\t", "\n", "  ", "　", " ")

  private val edgeLongs: Seq[java.lang.Long] = Seq(
    null, 0L, 1L, -1L, 42L, 2147483647L, -2147483648L,
    Long.MaxValue, Long.MinValue, 1000000007L, -999983L).map {
    case null => null
    case v: Long => java.lang.Long.valueOf(v)
  }

  private val edgeDoubles: Seq[java.lang.Double] = Seq(
    null, 0.0, -0.0, 1.0, -1.0, 0.5, -0.5, 1e300, -1e300, 5e-324, 1e-9,
    123.456789012345, -98765.4321, 2.5, 0.1).map {
    case null => null
    case v: Double => java.lang.Double.valueOf(v)
  }

  /** Printable-ASCII twin: chars outside 0x20-0x7E become '_' (so the
    * case-folding contract above holds on this column by construction).
    */
  private def asciiTwin(s: String): String =
    if (s == null) null
    else s.map(c => if (c >= 0x20 && c <= 0x7e) c else '_')

  private def randomString(rng: Random): String = {
    val n = rng.nextInt(25)
    if (n == 0) ""
    else {
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(separators(rng.nextInt(separators.length)))
        sb.append(vocab(rng.nextInt(vocab.length)))
        i += 1
      }
      sb.toString
    }
  }

  val docsRows = 300
  val vecsRows = 120
  val vecDim = 8

  def corpusDocs(spark: SparkSession, seed: Long): DataFrame = {
    val rng = new Random(seed)
    val grps: Seq[String] = Seq("g0", "g1", "g2", null)
    val rows = (0 until docsRows).map { idx =>
      val s: String =
        if (idx < edgeStrings.length) edgeStrings(idx)
        else if (rng.nextInt(20) == 0) null
        else randomString(rng)
      val i: java.lang.Long =
        if (idx < edgeLongs.length) edgeLongs(idx)
        else if (rng.nextInt(15) == 0) null
        else java.lang.Long.valueOf(rng.nextLong() % 1000000L)
      val d: java.lang.Double =
        if (idx < edgeDoubles.length) edgeDoubles(idx)
        else if (rng.nextInt(15) == 0) null
        else java.lang.Double.valueOf(rng.nextGaussian() * 100.0)
      Row(idx.toLong, grps(rng.nextInt(grps.length)), s, asciiTwin(s), i, d)
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("grp", StringType, nullable = true),
      StructField("s", StringType, nullable = true),
      StructField("sa", StringType, nullable = true),
      StructField("i", LongType, nullable = true),
      StructField("d", DoubleType, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  def corpusVecs(spark: SparkSession, seed: Long): DataFrame = {
    val rng = new Random(seed + 1)
    val rows = (0 until vecsRows).map { idx =>
      val v: Seq[Double] =
        if (idx == 0) null
        else if (idx == 1) Seq.fill(vecDim)(0.0)
        else if (idx == 2) Seq.tabulate(vecDim)(j => if (j == 0) 1.0 else 0.0)
        else if (idx == 3) Seq.fill(vecDim)(1e150)
        else if (idx == 4) Seq.fill(vecDim)(1e-150)
        else if (rng.nextInt(25) == 0) null
        else Seq.fill(vecDim)(rng.nextGaussian())
      Row(idx.toLong, v)
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", ArrayType(DoubleType, containsNull = false), nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  // ---- duckdb macro bodies (generalized from the proven q-oracle SQL) -----

  /** q40/q41's whitespace word array (unicode column): \s-run tokens —
    * the same contract as the kernels' shared scanner (TextAlgo.wsTokens).
    */
  /** Java-`\s`-class word split: RE2's `\s` omits `\x0b` (vertical tab),
    * Java's includes it — the explicit union class replays Spark's
    * `split(text, "\\s+")` byte-for-byte even on VT-bearing input.
    */
  private def duckWords(col: String): String =
    s"list_filter(string_split_regex($col, '[\\s\\x0b]+'), fw -> fw <> '')"

  /** q41-style raw (non-distinct) word n-gram list. */
  private def duckNgrams(w: String, n: Int): String =
    s"""[array_to_string(list_slice($w, i, i + ${n - 1}), ' ')
       |  for i in range(1, greatest(len($w) - ${n - 2}, 1))]""".stripMargin

  /** q59's md5-60 normalized-shingle hash (ASCII column). */
  private def duckShingleHashes(tcol: String, k: Int): String =
    s"""list_transform(range(1, greatest(len($tcol) - ${k - 2}, 1)),
       |  pos -> CAST(concat('0x', substr(md5(substr($tcol, CAST(pos AS INTEGER), $k)), 1, 15)) AS BIGINT))""".stripMargin

  /** q50/q53/q72's portable md5-u32 of an expr + constant salt. */
  private def duckHashU32(expr: String, salt: String): String =
    s"CAST(concat('0x', substr(md5(concat(CAST($expr AS VARCHAR), '$salt')), 1, 8)) AS BIGINT)"

  private def sparkHashU32Sql(expr: String, salt: String): String =
    s"CAST(conv(substring(md5(concat(CAST($expr AS STRING), '$salt')), 1, 8), 16, 10) AS BIGINT)"

  // ---- template pool ------------------------------------------------------

  private def sql(q: String): SparkSession => DataFrame = s => s.sql(q)

  /** Each template: rng => (suffix, sparkBuild, duckSql). Deterministic
    * for a given rng state. `weight` = relative share of the case budget.
    */
  private final case class Template(key: String, weight: Int, gen: Random => (SparkSession => DataFrame, String))

  /** DuckDB string literal: quote-doubled, newlines via chr(10) (DuckDB
    * standard literals do no backslash processing, so tabs etc. embed raw).
    */
  private def sqlStr(s: String): String =
    "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  private val numCols = Map(
    "lineitem" -> Seq(("l_quantity", 1.0, 51.0), ("l_extendedprice", 900.0, 105000.0),
      ("l_discount", 0.0, 0.1), ("l_tax", 0.0, 0.08)),
    "orders" -> Seq(("o_totalprice", 800.0, 600000.0)),
    "customer" -> Seq(("c_acctbal", -1000.0, 10000.0)),
    "part" -> Seq(("p_retailprice", 900.0, 2100.0), ("p_size", 1.0, 50.0)))

  private val grpCols = Map(
    "lineitem" -> Seq("l_returnflag", "l_linestatus"),
    "orders" -> Seq("o_orderstatus", "o_orderpriority"),
    "customer" -> Seq("c_mktsegment", "c_nationkey"),
    "part" -> Seq("p_brand", "p_type"))

  private val pkCols = Map(
    "lineitem" -> "l_orderkey", "orders" -> "o_orderkey",
    "customer" -> "c_custkey", "part" -> "p_partkey")

  private def pickNum(rng: Random, t: String): (String, Double) = {
    val (c, lo, hi) = numCols(t)(rng.nextInt(numCols(t).length))
    (c, lo + rng.nextDouble() * (hi - lo))
  }

  private def cmpOp(rng: Random): String = Seq("<", "<=", ">", ">=")(rng.nextInt(4))

  private def templates: Seq[Template] = Seq(

    Template("li_filter_agg", 22, { rng =>
      val t = Seq("lineitem", "orders", "customer", "part")(rng.nextInt(4))
      val (c, v) = pickNum(rng, t)
      val op = cmpOp(rng)
      val q =
        s"""SELECT count(*) AS n, round(min($c), 6) AS mn, round(max($c), 6) AS mx,
           |  round(sum($c), 2) AS sm
           |FROM $t WHERE $c $op $v""".stripMargin
      (sql(q), q)
    }),

    Template("group_agg", 22, { rng =>
      val t = Seq("lineitem", "orders", "customer", "part")(rng.nextInt(4))
      val g = grpCols(t)(rng.nextInt(grpCols(t).length))
      val (c, v) = pickNum(rng, t)
      val q =
        s"""SELECT $g, count(*) AS n, round(sum($c), 2) AS sm
           |FROM $t WHERE $c ${cmpOp(rng)} $v GROUP BY $g""".stripMargin
      (sql(q), q)
    }),

    Template("join_agg", 18, { rng =>
      val variant = rng.nextInt(3)
      val q = variant match {
        case 0 =>
          val v = -1000.0 + rng.nextDouble() * 11000.0
          s"""SELECT n_name, count(*) AS n, round(sum(c_acctbal), 2) AS sm
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |WHERE c_acctbal ${cmpOp(rng)} $v GROUP BY n_name""".stripMargin
        case 1 =>
          val v = 800.0 + rng.nextDouble() * 400000.0
          s"""SELECT c_mktsegment, count(*) AS n, round(sum(o_totalprice), 2) AS sm
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE o_totalprice ${cmpOp(rng)} $v GROUP BY c_mktsegment""".stripMargin
        case _ =>
          val v = 1 + rng.nextInt(50)
          s"""SELECT p_brand, count(*) AS n, round(sum(l_quantity), 2) AS sm
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |WHERE p_size ${cmpOp(rng)} $v GROUP BY p_brand""".stripMargin
      }
      (sql(q), q)
    }),

    Template("window_topk", 16, { rng =>
      val t = Seq("lineitem", "orders", "customer", "part")(rng.nextInt(4))
      val g = grpCols(t)(rng.nextInt(grpCols(t).length))
      val (c, _) = pickNum(rng, t)
      val pk = pkCols(t)
      val dir = if (rng.nextBoolean()) "DESC" else "ASC"
      val k = 1 + rng.nextInt(5)
      val q =
        s"""WITH r AS (SELECT $g, $pk, $c,
           |  row_number() OVER (PARTITION BY $g ORDER BY $c $dir, $pk) AS rk
           |  FROM $t)
           |SELECT $g, rk, $pk FROM r WHERE rk <= $k""".stripMargin
      (sql(q), q)
    }),

    Template("distinct_vals", 8, { rng =>
      val t = Seq("lineitem", "orders", "customer", "part")(rng.nextInt(4))
      val gs = grpCols(t)
      val a = gs(rng.nextInt(gs.length))
      val b = gs((gs.indexOf(a) + 1) % gs.length)
      val (c, v) = pickNum(rng, t)
      val q = s"SELECT DISTINCT $a, $b FROM $t WHERE $c ${cmpOp(rng)} $v"
      (sql(q), q)
    }),

    Template("case_bucket", 10, { rng =>
      val t = Seq("lineitem", "orders", "customer", "part")(rng.nextInt(4))
      val (c, lo, hi) = numCols(t)(rng.nextInt(numCols(t).length))
      val e1 = lo + rng.nextDouble() * (hi - lo) * 0.5
      val e2 = e1 + rng.nextDouble() * (hi - e1)
      val q =
        s"""SELECT CASE WHEN $c < $e1 THEN 'lo' WHEN $c < $e2 THEN 'mid' ELSE 'hi' END AS bucket,
           |  count(*) AS n FROM $t GROUP BY 1""".stripMargin
      (sql(q), q)
    }),

    Template("exists_anti", 6, { rng =>
      val st = Seq("F", "O", "P")(rng.nextInt(3))
      val neg = if (rng.nextBoolean()) "NOT " else ""
      val q =
        s"""SELECT c_custkey FROM customer
           |WHERE ${neg}EXISTS (SELECT 1 FROM orders
           |  WHERE o_custkey = c_custkey AND o_orderstatus = '$st')""".stripMargin
      (sql(q), q)
    }),

    Template("having", 6, { rng =>
      val t = Seq("lineitem", "orders", "customer", "part")(rng.nextInt(4))
      val g = grpCols(t)(rng.nextInt(grpCols(t).length))
      val k = 2 + rng.nextInt(500)
      val q = s"SELECT $g, count(*) AS n FROM $t GROUP BY $g HAVING count(*) ${cmpOp(rng)} $k"
      (sql(q), q)
    }),

    // ---- edge-corpus relational ----

    Template("fz_group", 8, { _ =>
      val q =
        """SELECT grp, count(*) AS n, count(s) AS n_s, count(i) AS n_i,
          |  min(i) AS mn_i, max(i) AS mx_i, min(d) AS mn_d, max(d) AS mx_d
          |FROM fuzz_docs GROUP BY grp""".stripMargin
      (sql(q), q)
    }),

    Template("fz_len_filter", 10, { rng =>
      val k = rng.nextInt(40)
      val op = cmpOp(rng)
      val q = s"SELECT id, length(s) AS ln FROM fuzz_docs WHERE s IS NOT NULL AND length(s) $op $k"
      (sql(q), q)
    }),

    Template("fz_str_pred", 10, { rng =>
      val w = Seq("the", "a", "x", "he", "data", "12", "!", "w")(rng.nextInt(8))
      val pred = rng.nextInt(4) match {
        case 0 => "s = ''"
        case 1 => s"s LIKE '$w%'"
        case 2 => s"s LIKE '%$w%'"
        case _ => s"s IS NOT NULL AND s <> '' AND s LIKE '%$w%'"
      }
      val q = s"SELECT id, grp FROM fuzz_docs WHERE $pred"
      (sql(q), q)
    }),

    Template("fz_substr_concat", 10, { rng =>
      val p = 1 + rng.nextInt(6)
      val n = 1 + rng.nextInt(10)
      val q =
        s"""SELECT id, substr(s, $p, $n) AS sub, s || '#tail' AS cat
           |FROM fuzz_docs WHERE s IS NOT NULL""".stripMargin
      (sql(q), q)
    }),

    Template("fz_minmax_str", 5, { _ =>
      val q = "SELECT grp, min(s) AS mn, max(s) AS mx, count(s) AS n FROM fuzz_docs GROUP BY grp"
      (sql(q), q)
    }),

    Template("fz_ntile", 8, { rng =>
      val k = 2 + rng.nextInt(6)
      val q =
        s"""WITH b AS (SELECT id, ntile($k) OVER (ORDER BY d ASC NULLS FIRST, id) AS bk
           |  FROM fuzz_docs)
           |SELECT bk, count(*) AS n, min(id) AS mn_id, max(id) AS mx_id FROM b GROUP BY bk""".stripMargin
      (sql(q), q)
    }),

    // ---- portable hash-mix machinery (library API vs md5 twin) ----

    Template("fz_hash_sample", 10, { rng =>
      val frac = rng.nextInt(20) / 20.0
      val salt = s"s${rng.nextInt(1000)}"
      val thr = java.lang.Double.toString(frac * 4294967296.0)
      val build: SparkSession => DataFrame = s =>
        Mixing.sampleFraction(s.table("fuzz_docs"), "id", frac, salt)
          .groupBy(col("grp")).agg(count(lit(1)).as("n"), min(col("id")).as("mn"))
      val duck =
        s"""SELECT grp, count(*) AS n, min(id) AS mn FROM fuzz_docs
           |WHERE CAST(${duckHashU32("id", salt)} AS DOUBLE) < CAST('$thr' AS DOUBLE)
           |GROUP BY grp""".stripMargin
      (build, duck)
    }),

    Template("fz_split_assign", 8, { rng =>
      val pool = Seq(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
        Seq("a" -> 0.5, "b" -> 0.5),
        Seq("a" -> 0.25, "b" -> 0.25, "c" -> 0.5),
        Seq("x" -> 0.7, "y" -> 0.2, "z" -> 0.1))
      val splits = pool(rng.nextInt(pool.length))
      val salt = s"sp${rng.nextInt(1000)}"
      val cums = splits.scanLeft(0.0)(_ + _._2).tail
      val build: SparkSession => DataFrame = s =>
        Mixing.assignSplit(s.table("fuzz_docs"), "id", splits, salt)
          .groupBy(col("grp"), col("split")).agg(count(lit(1)).as("n"))
      val arms = splits.init.zipWithIndex.map { case ((nm, _), ix) =>
        s"WHEN u < CAST('${java.lang.Double.toString(cums(ix))}' AS DOUBLE) THEN '$nm'"
      }.mkString("\n       ")
      val duck =
        s"""WITH u AS (SELECT grp,
           |  CAST(${duckHashU32("id", salt)} AS DOUBLE) / 4294967296.0 AS u
           |  FROM fuzz_docs),
           |s AS (SELECT grp,
           |  CASE $arms
           |       ELSE '${splits.last._1}' END AS split FROM u)
           |SELECT grp, split, count(*) AS n FROM s GROUP BY grp, split""".stripMargin
      (build, duck)
    }),

    Template("fz_cap_group", 8, { rng =>
      val cap = 1 + rng.nextInt(20)
      val salt = s"cp${rng.nextInt(1000)}"
      val build: SparkSession => DataFrame = s =>
        Mixing.capPerGroup(s.table("fuzz_docs"), "grp", "id", cap, salt).select(col("grp"), col("id"))
      val duck =
        s"""WITH r AS (SELECT grp, id,
           |  row_number() OVER (PARTITION BY grp
           |    ORDER BY ${duckHashU32("id", salt)}, id) AS rk
           |  FROM fuzz_docs)
           |SELECT grp, id FROM r WHERE rk <= $cap""".stripMargin
      (build, duck)
    }),

    // ---- graft text kernels: whitespace tokenization (unicode column) ----

    Template("fz_text_stats", 10, { _ =>
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(
          col("id"),
          TextFunctions.tokenCount(col("s")).as("n_tokens"),
          length(col("s")).as("n_chars"),
          round(TextFunctions.punctRatio(col("s")), 6).as("punct_ratio"),
          round(TextFunctions.stopwordRatio(col("s")), 6).as("stopword_ratio"))
          .where(col("s").isNotNull)
      val duck =
        """SELECT id,
          |  len(list_filter(string_split_regex(s, '[\s\x0b]+'), w -> w <> '')) AS n_tokens,
          |  length(s) AS n_chars,
          |  round(CASE WHEN length(s) = 0 THEN 0
          |    ELSE (length(s) - length(regexp_replace(s, '[!-/:-@\[-`{-~]', '', 'g'))) * 1.0 / length(s) END, 6) AS punct_ratio,
          |  round(CASE WHEN len(list_filter(string_split_regex(s, '[\s\x0b]+'), w -> w <> '')) = 0 THEN 0
          |    ELSE len(list_filter(string_split_regex(lower(s), '[\s\x0b]+'),
          |      t -> t IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as'))) * 1.0
          |      / len(list_filter(string_split_regex(s, '[\s\x0b]+'), w -> w <> '')) END, 6) AS stopword_ratio
          |FROM fuzz_docs WHERE s IS NOT NULL""".stripMargin
      (build, duck)
    }),

    Template("fz_gopher", 10, { rng =>
      // random word-count window so the threshold arms all get exercised;
      // stopword equality is parity-safe on raw unicode (no codepoint
      // lowers into a distinct ASCII stopword spelling — see kernel doc)
      val minW = rng.nextInt(8)
      val maxW = 10 + rng.nextInt(200)
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(col("id"),
          TextFunctions.gopherFlags(col("s"), minW, maxW).as("f"))
          .where(col("s").isNotNull)
          .select(col("id"), col("f.fail_words"), col("f.fail_word_len"),
            col("f.fail_symbol"), col("f.fail_bullet"), col("f.fail_ellipsis"),
            col("f.fail_alpha"), col("f.fail_stopword"), col("f.pass"))
      val duck =
        s"""WITH c AS (SELECT id,
           |  list_filter(string_split_regex(s, '[\\s\\x0b]+'), x -> x <> '') AS toks,
           |  list_filter(string_split(s, chr(10)), l -> trim(l, ' ') <> '') AS nls,
           |  length(s) - length(replace(s, '#', '')) AS n_hash,
           |  (length(s) - length(replace(s, '...', ''))) // 3 AS n_ell3,
           |  length(s) - length(replace(s, '…', '')) AS n_ellu
           |  FROM fuzz_docs WHERE s IS NOT NULL),
           |g AS (SELECT id, len(toks) AS n_w,
           |  coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS sum_len,
           |  len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
           |  n_hash + n_ell3 + n_ellu AS n_sym, len(nls) AS n_lines,
           |  len(list_filter(nls, l -> substr(ltrim(l, ' '), 1, 1) IN ('-', '*', '•'))) AS n_bullet,
           |  len(list_filter(nls, l -> ends_with(rtrim(l, ' '), '...') OR ends_with(rtrim(l, ' '), '…'))) AS n_ellend,
           |  len(list_filter(['the','be','to','of','and','that','have','with'],
           |    sw -> list_contains(list_transform(toks, x -> lower(x)), sw))) AS n_stop
           |  FROM c)
           |SELECT id,
           |  (n_w < $minW OR n_w > $maxW) AS fail_words,
           |  (n_w = 0 OR sum_len * 1.0 / n_w < 3.0 OR sum_len * 1.0 / n_w > 10.0) AS fail_word_len,
           |  (n_w > 0 AND n_sym * 1.0 / n_w > 0.1) AS fail_symbol,
           |  (n_lines > 0 AND n_bullet * 1.0 / n_lines > 0.9) AS fail_bullet,
           |  (n_lines > 0 AND n_ellend * 1.0 / n_lines > 0.3) AS fail_ellipsis,
           |  (n_w = 0 OR n_alpha * 1.0 / n_w < 0.8) AS fail_alpha,
           |  (n_stop < 2) AS fail_stopword,
           |  NOT ((n_w < $minW OR n_w > $maxW)
           |    OR (n_w = 0 OR sum_len * 1.0 / n_w < 3.0 OR sum_len * 1.0 / n_w > 10.0)
           |    OR (n_w > 0 AND n_sym * 1.0 / n_w > 0.1)
           |    OR (n_lines > 0 AND n_bullet * 1.0 / n_lines > 0.9)
           |    OR (n_lines > 0 AND n_ellend * 1.0 / n_lines > 0.3)
           |    OR (n_w = 0 OR n_alpha * 1.0 / n_w < 0.8)
           |    OR (n_stop < 2)) AS pass
           |FROM g""".stripMargin
      (build, duck)
    }),

    Template("fz_dedup_lines", 6, { _ =>
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(col("id"),
          TextFunctions.dedupLines(col("s")).as("clean"))
          .where(col("s").isNotNull)
      val duck =
        """WITH l AS (SELECT id, string_split(s, chr(10)) AS ls FROM fuzz_docs WHERE s IS NOT NULL)
          |SELECT id, array_to_string(list_filter(ls, (x, i) -> list_position(ls, x) = i), chr(10)) AS clean
          |FROM l""".stripMargin
      (build, duck)
    }),

    Template("fz_word_ngrams", 10, { rng =>
      val n = 2 + rng.nextInt(4)
      // the kernel returns distinct n-grams in first-occurrence order;
      // DuckDB's list_distinct order is unspecified — compare SORTED
      // (set equality is the contract the q41/q61/q69 consumers rely on)
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(col("id"),
          array_sort(TextFunctions.wordNgrams(col("s"), n)).as("ng")).where(col("s").isNotNull)
      val duck =
        s"""WITH w AS (SELECT id, ${duckWords("s")} AS w FROM fuzz_docs WHERE s IS NOT NULL)
           |SELECT id, CASE WHEN len(w) < $n THEN []::VARCHAR[]
           |  ELSE list_sort(list_distinct(${duckNgrams("w", n)})) END AS ng
           |FROM w""".stripMargin
      (build, duck)
    }),

    Template("fz_ngram_stream", 8, { rng =>
      // the LM occurrence stream: non-distinct, IN ORDER, over the
      // lowercased-alnum tokenization — on the ASCII column (the
      // fz_bigrams/fz_alnum_tokens convention: the kernel's ASCII fold
      // vs SQL lower() agree only off the unicode edge cases, which
      // fz_alnum_tokens documents); order is part of the contract, so
      // no sorting on either side
      val n = 2 + rng.nextInt(3)
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(col("id"),
          TextFunctions.wordNgramStream(col("sa"), n).as("ng")).where(col("sa").isNotNull)
      val duck =
        s"""WITH w AS (SELECT id,
           |  list_filter(string_split_regex(lower(sa), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM fuzz_docs WHERE sa IS NOT NULL)
           |SELECT id, CASE WHEN len(w) < $n THEN []::VARCHAR[]
           |  ELSE ${duckNgrams("w", n)} END AS ng
           |FROM w""".stripMargin
      (build, duck)
    }),

    Template("fz_dup_ngram", 10, { rng =>
      val n = 2 + rng.nextInt(4)
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(col("id"),
          round(TextFunctions.dupNgramFraction(col("s"), n), 6).as("frac"))
          .where(col("s").isNotNull)
      val duck =
        s"""WITH w AS (SELECT id, ${duckWords("s")} AS w FROM fuzz_docs WHERE s IS NOT NULL),
           |g AS (SELECT id, len(w) - ${n - 1} AS t,
           |  len(list_distinct(${duckNgrams("w", n)})) AS d
           |  FROM w)
           |SELECT id, round(CASE WHEN t <= 0 THEN 0.0 ELSE 1.0 - CAST(d AS DOUBLE) / t END, 6) AS frac
           |FROM g""".stripMargin
      (build, duck)
    }),

    Template("fz_word_chunks", 8, { rng =>
      val n = 3 + rng.nextInt(8)
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(col("id"),
          TextFunctions.wordChunks(col("s"), n).as("chunks")).where(col("s").isNotNull)
      val duck =
        s"""WITH w AS (SELECT id, ${duckWords("s")} AS w FROM fuzz_docs WHERE s IS NOT NULL)
           |SELECT id, [array_to_string(list_slice(w, i, i + ${n - 1}), ' ')
           |  for i in range(1, len(w) + 1, $n)] AS chunks
           |FROM w""".stripMargin
      (build, duck)
    }),

    Template("fz_lang_guess", 8, { _ =>
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(col("id"),
          TextFunctions.langGuess(col("s")).as("guess")).where(col("s").isNotNull)
      val duck =
        """WITH g AS (SELECT id,
          |  len(list_filter(string_split_regex(lower(s), '[\s\x0b]+'), t -> t IN ('the','and','of','to','is','you','that','it'))) AS en,
          |  len(list_filter(string_split_regex(lower(s), '[\s\x0b]+'), t -> t IN ('der','die','das','und','ist','nicht','ein','ich'))) AS de,
          |  len(list_filter(string_split_regex(lower(s), '[\s\x0b]+'), t -> t IN ('le','la','les','et','est','vous','que','pas'))) AS fr,
          |  len(list_filter(string_split_regex(lower(s), '[\s\x0b]+'), t -> t IN ('el','los','las','es','y','que','por','una'))) AS es
          |  FROM fuzz_docs WHERE s IS NOT NULL)
          |SELECT id, CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
          |  WHEN en = greatest(en, de, fr, es) THEN 'en'
          |  WHEN de = greatest(en, de, fr, es) THEN 'de'
          |  WHEN fr = greatest(en, de, fr, es) THEN 'fr'
          |  ELSE 'es' END AS guess FROM g""".stripMargin
      (build, duck)
    }),

    Template("fz_bpe_tokens", 8, { _ =>
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(col("id"),
          TextFunctions.bpeishTokenCount(col("s")).as("n_bpe")).where(col("s").isNotNull)
      val duck =
        """SELECT id, len(regexp_extract_all(s, '[A-Za-z]+|[0-9]+|[!-/:-@\[-`{-~]')) AS n_bpe
          |FROM fuzz_docs WHERE s IS NOT NULL""".stripMargin
      (build, duck)
    }),

    // ---- graft case-folding kernels (printable-ASCII column `sa`) ----

    Template("fz_fingerprint", 8, { _ =>
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(col("id"),
          TextFunctions.fingerprint(col("sa")).as("fp")).where(col("sa").isNotNull)
      val duck =
        """SELECT id, md5(regexp_replace(lower(sa), '[^a-z0-9]', '', 'g')) AS fp
          |FROM fuzz_docs WHERE sa IS NOT NULL""".stripMargin
      (build, duck)
    }),

    Template("fz_alnum_tokens", 8, { _ =>
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(col("id"),
          TextFunctions.asciiTokens(col("sa")).as("toks")).where(col("sa").isNotNull)
      val duck =
        """SELECT id, list_filter(string_split_regex(lower(sa), '[^a-z0-9]+'), t -> t <> '') AS toks
          |FROM fuzz_docs WHERE sa IS NOT NULL""".stripMargin
      (build, duck)
    }),

    Template("fz_simhash", 8, { _ =>
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(col("id"),
          TextFunctions.simhash60Portable(col("sa")).as("sim")).where(col("sa").isNotNull)
      val duck =
        """WITH tok AS (
          |  SELECT id, t.term
          |  FROM fuzz_docs, unnest(string_split_regex(lower(sa), '[\s\x0b]+')) AS t(term)
          |  WHERE sa IS NOT NULL AND t.term <> ''),
          |th AS (SELECT id, CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h FROM tok),
          |bits AS (SELECT id, b.b,
          |    sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
          |  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) b
          |  GROUP BY id, b.b),
          |sh AS (SELECT id,
          |    CAST(sum(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sim
          |  FROM bits GROUP BY id)
          |SELECT d.id, sh.sim AS sim
          |FROM fuzz_docs d LEFT JOIN sh ON d.id = sh.id
          |WHERE d.sa IS NOT NULL""".stripMargin
      (build, duck)
    }),

    Template("fz_shingle_jaccard", 8, { rng =>
      val k = 3 + rng.nextInt(5)
      val off = 1 + rng.nextInt(7)
      val build: SparkSession => DataFrame = s => {
        val d = s.table("fuzz_docs")
          .select(col("id"), TextFunctions.shingleHashSetPortable(col("sa"), k).as("sh"))
          .where(col("sh").isNotNull && size(col("sh")) > 0)
        val a = d.select(col("id").as("id_a"), col("sh").as("sha"))
        val b = d.select(col("id").as("id_b"), col("sh").as("shb"))
        a.join(b, col("id_b") === col("id_a") + lit(off))
          .select(col("id_a"), col("id_b"),
            round(TextFunctions.jaccardSorted(col("sha"), col("shb")), 6).as("jac"))
      }
      val duck =
        s"""WITH norm AS (SELECT id, regexp_replace(lower(sa), '[^a-z0-9 ]', '', 'g') AS t
           |  FROM fuzz_docs WHERE sa IS NOT NULL),
           |sets AS (SELECT id, list_sort(list_distinct(${duckShingleHashes("t", k)})) AS sh
           |  FROM norm),
           |ne AS (SELECT id, sh FROM sets WHERE len(sh) > 0)
           |SELECT a.id AS id_a, b.id AS id_b,
           |  round(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
           |    ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |      / len(list_distinct(list_concat(a.sh, b.sh))) END, 6) AS jac
           |FROM ne a JOIN ne b ON b.id = a.id + $off""".stripMargin
      (build, duck)
    }),

    Template("fz_minhash_sig", 6, { rng =>
      val k = 4 + rng.nextInt(3)
      val nh = Seq(8, 16, 32)(rng.nextInt(3))
      val seed = rng.nextInt(1000).toLong
      val (as, bs) = TextAlgo.minhashPortableConsts(nh, seed)
      val constRows = (0 until nh).map(i => s"($i, ${as(i)}, ${bs(i)})").mkString(",\n  ")
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs")
          .select(col("id"), TextFunctions.minhashPortableSignature(col("sa"), k, nh, seed).as("sig"))
          .where(col("sig").isNotNull && size(col("sig")) > 0)
      val duck =
        s"""WITH norm AS (SELECT id, regexp_replace(lower(sa), '[^a-z0-9 ]', '', 'g') AS t
           |  FROM fuzz_docs WHERE sa IS NOT NULL),
           |h AS (SELECT id,
           |    CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), $k)), 1, 15)) AS BIGINT) % 2147483647 AS hp
           |  FROM (SELECT id, t, unnest(range(1, len(t) - ${k - 2})) AS pos FROM norm) q),
           |consts(i, a, b) AS (VALUES
           |  $constRows),
           |sig AS (SELECT h.id, c.i, min((c.a * h.hp + c.b) % 2147483647) AS mh
           |  FROM h CROSS JOIN consts c GROUP BY h.id, c.i)
           |SELECT id, list(mh ORDER BY i) AS sig FROM sig GROUP BY id""".stripMargin
      (build, duck)
    }),

    Template("fz_winnowing", 6, { rng =>
      val k = 5 + rng.nextInt(5)
      val w = 3 + rng.nextInt(4)
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").select(col("id"),
          explode(TextFunctions.winnowingFingerprintsPortable(col("sa"), k, w)).as("fp"))
      val duck =
        s"""WITH norm AS (SELECT id, regexp_replace(lower(sa), '[^a-z0-9 ]', '', 'g') AS t
           |  FROM fuzz_docs WHERE sa IS NOT NULL),
           |h AS (SELECT id, pos,
           |    CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), $k)), 1, 15)) AS BIGINT) AS h
           |  FROM (SELECT id, t, unnest(range(1, len(t) - ${k - 2})) AS pos FROM norm) q),
           |stats AS (SELECT id, count(*) AS cnt FROM h GROUP BY 1),
           |win AS (SELECT id, pos, min(h) OVER (PARTITION BY id ORDER BY pos
           |    ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mh FROM h),
           |fps AS (
           |  SELECT DISTINCT w.id, w.mh AS fp
           |  FROM win w JOIN stats USING (id)
           |  WHERE stats.cnt > $w AND w.pos <= stats.cnt - ${w - 1}
           |  UNION
           |  SELECT h.id, min(h.h) AS fp FROM h JOIN stats USING (id)
           |  WHERE stats.cnt <= $w GROUP BY h.id)
           |SELECT id, fp FROM fps""".stripMargin
      (build, duck)
    }),

    // ---- vector kernels ----

    Template("fz_vec_norms", 8, { _ =>
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_vecs").select(col("id"),
          round(graft.similarity.Similarity.l2Norm(col("v")), 6).as("l2"),
          round(col("v")(0) * col("v")(0), 6).as("sq0"))
          .where(col("v").isNotNull)
      val duck =
        """SELECT id, round(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS l2,
          |  round(v[1] * v[1], 6) AS sq0
          |FROM fuzz_vecs WHERE v IS NOT NULL""".stripMargin
      (build, duck)
    }),

    Template("fz_vec_pairs", 10, { rng =>
      val off = 1 + rng.nextInt(9)
      val build: SparkSession => DataFrame = s => {
        val d = s.table("fuzz_vecs").where(col("v").isNotNull)
        val a = d.select(col("id").as("id_a"), col("v").as("va"))
        val b = d.select(col("id").as("id_b"), col("v").as("vb"))
        a.join(b, col("id_b") === col("id_a") + lit(off))
          .select(col("id_a"), col("id_b"),
            round(graft.similarity.Similarity.dot(col("va"), col("vb")), 6).as("dp"))
      }
      // MATERIALIZED: DuckDB 1.0 evaluates list_dot_product eagerly over
      // the scan batch BEFORE the NULL filter (even a CASE guard fails) —
      // materializing the filtered CTE is the only ordering that works
      val duck =
        s"""WITH m AS MATERIALIZED (SELECT id, v FROM fuzz_vecs WHERE v IS NOT NULL)
           |SELECT a.id AS id_a, b.id AS id_b, round(list_dot_product(a.v, b.v), 6) AS dp
           |FROM m a JOIN m b ON b.id = a.id + $off""".stripMargin
      (build, duck)
    }),

    Template("fz_banded_pairs", 8, { rng =>
      // banded sign-LSH near-dup over the edge vectors (zero, 1e150,
      // denormal, NULL): replays the exact plane stream the operator
      // consumes. Threshold > 0 keeps the zero-vector contract aligned
      // (kernel cosine -> 0.0, DuckDB 0/0 -> NULL; both fail >= t).
      val bits = 2 + rng.nextInt(3)
      val bands = 1 + rng.nextInt(3)
      val seed = 42L + rng.nextInt(5)
      val thr = Seq(0.1, 0.3, 0.5)(rng.nextInt(3))
      val build: SparkSession => DataFrame = s =>
        graft.similarity.Similarity.bandedCosineNearDupPairs(
          s.table("fuzz_vecs").where(col("v").isNotNull), "id", "v",
          threshold = thr, dim = 8, numBits = bits, numBands = bands, seed = seed)
          .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
      val prng = new Random(seed)
      val all = Seq.fill(bands * bits * 8)(prng.nextGaussian())
      val ladders = (0 until bands).map { b =>
        val lits = all.slice(b * bits * 8, (b + 1) * bits * 8).grouped(8)
          .map(_.map(d => java.lang.Double.toString(d)).mkString("[", ", ", "]")).toSeq
        (0 until bits).map(i =>
          s"(CASE WHEN list_dot_product(v, ${lits(i)}) >= 0 THEN ${1L << i} ELSE 0 END)")
          .mkString("    ", "\n  + ", s" AS b$b")
      }.mkString(",\n")
      val unions = (0 until bands).map(b =>
        s"SELECT a.id AS ia, c.id AS ib FROM b a JOIN b c ON a.b$b = c.b$b AND a.id < c.id")
        .mkString("\n  UNION\n  ")
      val duck =
        s"""WITH m AS MATERIALIZED (SELECT id, v FROM fuzz_vecs WHERE v IS NOT NULL),
           |b AS (SELECT id, v,
           |$ladders
           |  FROM m),
           |cand AS (
           |  $unions
           |)
           |SELECT ia AS id_a, ib AS id_b,
           |  round(list_dot_product(x.v, y.v) /
           |    (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine
           |FROM cand JOIN m x ON ia = x.id JOIN m y ON ib = y.id
           |WHERE list_dot_product(x.v, y.v) /
           |  (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= ${java.lang.Double.toString(thr)}""".stripMargin
      (build, duck)
    }),

    Template("fz_vec_quantize", 6, { _ =>
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_vecs").select(col("id"),
          round(graft.similarity.Similarity.vecMaxAbs(col("v")), 6).as("max_abs"),
          graft.similarity.Similarity.quantSumInt8(col("v")).as("q_sum"))
          .where(col("v").isNotNull)
      val duck =
        """WITH m AS (SELECT id, v, list_aggregate(list_transform(v, x -> abs(x)), 'max') AS ma
          |  FROM fuzz_vecs WHERE v IS NOT NULL)
          |SELECT id,
          |  round(CASE WHEN ma IS NULL THEN 0.0 ELSE ma END, 6) AS max_abs,
          |  CAST(CASE WHEN ma IS NULL OR ma = 0 THEN 0
          |       ELSE list_sum(list_transform(v, x -> CAST(floor(x * 127.0 / ma) AS INTEGER))) END
          |    AS INTEGER) AS q_sum
          |FROM m""".stripMargin
      (build, duck)
    }),

    // ---- KMV sketch (portable md5-60 hashes) ----

    Template("fz_kmv", 6, { rng =>
      val k = Seq(16, 64, 128)(rng.nextInt(3))
      val build: SparkSession => DataFrame = s => {
        import graft.sketch.Kmv
        val sh = s.table("fuzz_docs").select(col("grp"),
          TextFunctions.shingleHashSetPortable(col("sa"), 5).as("hs"))
        sh.groupBy(col("grp")).agg(Kmv.sketch(col("hs"), k).as("sk"))
          .select(col("grp"), size(col("sk")).as("sketch_size"),
            round(Kmv.distinctEstimate(col("sk"), k), 4).as("est"))
      }
      val duck =
        s"""WITH norm AS (SELECT grp, regexp_replace(lower(sa), '[^a-z0-9 ]', '', 'g') AS t
           |  FROM fuzz_docs WHERE sa IS NOT NULL),
           |h AS (SELECT grp,
           |    CAST(concat('0x', substr(md5(substr(t, CAST(pos AS INTEGER), 5)), 1, 15)) AS BIGINT) AS h
           |  FROM (SELECT grp, t, unnest(range(1, len(t) - 3)) AS pos FROM norm) q),
           |gall AS (SELECT DISTINCT grp FROM fuzz_docs),
           |sk AS (SELECT grp, list_slice(list_sort(list(DISTINCT h)), 1, $k) AS sk FROM h GROUP BY grp)
           |SELECT gall.grp,
           |  CAST(coalesce(len(sk.sk), 0) AS INTEGER) AS sketch_size,
           |  round(CASE WHEN sk.sk IS NULL THEN 0.0
           |        WHEN len(sk.sk) < $k THEN CAST(len(sk.sk) AS DOUBLE)
           |        ELSE ${(k - 1).toDouble} * 1152921504606846976.0 / CAST(sk.sk[$k] AS DOUBLE) END, 4) AS est
           |FROM gall LEFT JOIN sk ON gall.grp IS NOT DISTINCT FROM sk.grp""".stripMargin
      (build, duck)
    }),

    // ---- round-5 additions: BM25, bigram stats, JSONL roundtrip ----

    Template("fz_bm25", 8, { rng =>
      // randomized k1/b/terms/k; alnum tokenization -> ASCII column `sa`.
      // Constants flow into both engines via Double.toString (the q53
      // pattern), so the replay is the same binary64 on both sides.
      val pool = Seq("the", "a", "and", "of", "data", "fox", "x1", "12345",
        "999", "hello", "world", "dup", "mixed", "case", "w1", "w7")
      val nt = 1 + rng.nextInt(3)
      val terms = Seq.fill(nt)(pool(rng.nextInt(pool.length))).distinct
      val k1 = Seq(0.9, 1.2, 1.5, 2.0)(rng.nextInt(4))
      val b = Seq(0.0, 0.4, 0.75, 1.0)(rng.nextInt(4))
      val k = 5 + rng.nextInt(30)
      def ds(d: Double) = s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"
      val build: SparkSession => DataFrame = s =>
        graft.text.Search.bm25TopK(
          s.table("fuzz_docs").withColumnRenamed("sa", "body"),
          "id", "body", terms, k = k, k1 = k1, b = b)
      val inList = terms.map(t => s"'$t'").mkString(", ")
      val duck =
        s"""WITH dl AS (SELECT id,
           |  len(list_filter(string_split_regex(lower(sa), '[^a-z0-9]+'), w -> w <> '')) AS dl
           |  FROM fuzz_docs),
           |st AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
           |tok AS (SELECT id, t.term
           |  FROM fuzz_docs, unnest(string_split_regex(lower(sa), '[^a-z0-9]+')) AS t(term)
           |  WHERE t.term IN ($inList)),
           |tf AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
           |f AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |scored AS (SELECT tf.id,
           |    ln(1 + (st.n - f.df + CAST(0.5 AS DOUBLE)) / (f.df + CAST(0.5 AS DOUBLE)))
           |      * tf.tf * ${ds(k1 + 1.0)}
           |      / (tf.tf + ${ds(k1)}
           |         * (CAST(1.0 AS DOUBLE) - ${ds(b)}
           |            + ${ds(b)} * dl.dl / st.avgdl)) AS contrib
           |  FROM tf JOIN f USING (term) JOIN dl USING (id) CROSS JOIN st)
           |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           |  round(sum(contrib), 6) AS bm25
           |FROM scored GROUP BY id
           |ORDER BY round(sum(contrib), 6) DESC, id LIMIT $k""".stripMargin
      (build, duck)
    }),

    Template("fz_bigrams", 6, { rng =>
      val k = 10 + rng.nextInt(60)
      val build: SparkSession => DataFrame = s =>
        graft.text.NgramStats.topBigrams(
          s.table("fuzz_docs").withColumnRenamed("sa", "body"), "id", "body", k = k)
      val duck =
        s"""WITH w AS (SELECT id,
           |  list_filter(string_split_regex(lower(sa), '[^a-z0-9]+'), x -> x <> '') AS w
           |  FROM fuzz_docs),
           |b AS (SELECT id, ${duckNgrams("w", 2)} AS bgs
           |  FROM w),
           |e AS (SELECT id, unnest(bgs) AS bigram FROM b),
           |d AS (SELECT id, bigram, count(*) AS c FROM e GROUP BY 1, 2)
           |SELECT bigram, CAST(sum(c) AS BIGINT) AS n_occurrences,
           |  CAST(count(*) AS BIGINT) AS n_docs
           |FROM d GROUP BY bigram
           |ORDER BY sum(c) DESC, bigram LIMIT $k""".stripMargin
      (build, duck)
    }),

    Template("fz_jsonl", 5, { rng =>
      // full edge-corpus JSONL roundtrip: exotic unicode, control chars,
      // NULLs, Long extremes, denormal/huge doubles must all survive the
      // boundary format byte-exactly (oracle = the source table itself)
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_fz_jsonl_${rng.nextInt(1 << 30)}").getAbsolutePath
      val build: SparkSession => DataFrame = s => {
        val src = s.table("fuzz_docs")
        graft.data.JsonLines.writeSharded(src, dir, partitionCols = Seq.empty,
          orderCols = Seq(col("id")), maxRecordsPerFile = 64)
        val schema = StructType(Seq(
          StructField("id", LongType), StructField("grp", StringType),
          StructField("s", StringType), StructField("sa", StringType),
          StructField("i", LongType), StructField("d", DoubleType)))
        graft.data.JsonLines.read(s, dir, schema)
          .where(col("_corrupt_line").isNull)
          .select(col("id"), col("grp"), col("s"), col("sa"), col("i"), col("d"))
      }
      val duck = "SELECT id, grp, s, sa, i, d FROM fuzz_docs"
      (build, duck)
    }),

    Template("fz_chunker", 8, { rng =>
      // random window/stride over the raw-unicode column (whitespace
      // tokenization is in contract there); replays the exact chunk-count
      // arithmetic and inclusive list_slice of the q80 oracle
      val w = 2 + rng.nextInt(11)
      val st = 1 + rng.nextInt(w)
      val build: SparkSession => DataFrame = s =>
        graft.text.Chunker.chunkPassages(
          s.table("fuzz_docs"), "id", "s", windowTokens = w, strideTokens = st)
      val duck =
        s"""WITH tkn AS (SELECT id,
           |  list_filter(string_split_regex(s, '[\\s\\x0b]+'), x -> x <> '') AS t
           |  FROM fuzz_docs WHERE s IS NOT NULL),
           |n AS (SELECT id, t, len(t) AS n FROM tkn),
           |c AS (SELECT id, t, n,
           |  CASE WHEN n = 0 THEN 0 WHEN n <= $w THEN 1
           |       ELSE 1 + CAST(ceil((n - $w) / CAST($st AS DOUBLE)) AS INT) END AS nc
           |  FROM n),
           |e AS (SELECT id, t, n, unnest(range(0, nc)) AS i FROM c)
           |SELECT id AS doc_id, CAST(i AS BIGINT) AS chunk_idx,
           |  CAST(least($w, n - i * $st) AS BIGINT) AS n_tokens,
           |  array_to_string(list_slice(t, i * $st + 1, i * $st + $w), ' ') AS chunk_text
           |FROM e""".stripMargin
      (build, duck)
    }),

    Template("fz_space_saving", 8, { rng =>
      // exact (no-eviction) regime: capacity far above the fuzz corpus
      // vocabulary, so the sketch must replay the exact per-group token
      // ranking; the eviction/merge-bound regime is SpaceSavingSpec's job
      // (approximation bounds aren't oracle-comparable by nature).
      // alnum tokenization -> case folding -> ascii twin column.
      val k = 3 + rng.nextInt(13)
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs")
          .groupBy(col("grp"))
          .agg(graft.sketch.SpaceSaving.summary(
            TextFunctions.asciiTokens(col("sa")), 4096).as("sk"))
          .select(col("grp"),
            posexplode(graft.sketch.SpaceSaving.topK(col("sk"), k)))
          .select(col("grp"), (col("pos") + 1).cast("long").as("rank"),
            col("col.term").as("term"), col("col.count").as("est_count"),
            col("col.err").as("err"))
      val duck =
        s"""WITH tok AS (SELECT grp,
           |  unnest(list_filter(string_split_regex(lower(sa), '[^a-z0-9]+'), x -> x <> '')) AS term
           |  FROM fuzz_docs WHERE sa IS NOT NULL),
           |c AS (SELECT grp, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
           |r AS (SELECT grp, term, cnt,
           |  row_number() OVER (PARTITION BY grp ORDER BY cnt DESC, term) AS rank
           |  FROM c)
           |SELECT grp, CAST(rank AS BIGINT) AS rank, term,
           |  CAST(cnt AS BIGINT) AS est_count, CAST(0 AS BIGINT) AS err
           |FROM r WHERE rank <= $k""".stripMargin
      (build, duck)
    }),

    Template("fz_dsir", 6, { rng =>
      // random bucket count and target group over the ascii twin (alnum
      // tokenization folds case); NULL grp docs are raw-only on both
      // engines (grp = 'gX' is NULL -> counted as non-target)
      val b = Seq(64, 256, 1024)(rng.nextInt(3))
      val tgt = Seq("g0", "g1", "g2")(rng.nextInt(3))
      val build: SparkSession => DataFrame = s =>
        graft.text.Dsir.importanceWeights(
          s.table("fuzz_docs"), "id", "sa",
          targetPred = col("grp") === tgt, numBuckets = b)
      val duck =
        s"""WITH tk AS (SELECT id, grp,
           |  list_filter(string_split_regex(lower(sa), '[^a-z0-9]+'), x -> x <> '') AS t
           |  FROM fuzz_docs WHERE sa IS NOT NULL),
           |f AS (SELECT id, grp,
           |  list_concat(t, [t[i] || ' ' || t[i + 1] for i in range(1, greatest(len(t), 1))]) AS fs
           |  FROM tk),
           |e AS (SELECT id, grp = '$tgt' AS tgt,
           |  CAST(concat('0x', substr(md5(u.feat), 1, 15)) AS BIGINT) % $b AS bkt
           |  FROM f, unnest(fs) AS u(feat)),
           |g AS (SELECT bkt, count(*) AS rb,
           |  sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tb FROM e GROUP BY 1),
           |tot AS (SELECT sum(rb) AS r, sum(tb) AS t FROM g),
           |ratio AS (SELECT bkt,
           |  ln((CAST(tb + 1 AS DOUBLE) / (t + $b)) / (CAST(rb + 1 AS DOUBLE) / (r + $b))) AS lr
           |  FROM g CROSS JOIN tot),
           |d AS (SELECT id, bkt, count(*) AS c FROM e GROUP BY 1, 2)
           |SELECT id AS doc_id, CAST(sum(c) AS BIGINT) AS n_features,
           |  round(sum(c * lr), 6) AS dsir_logw
           |FROM d JOIN ratio USING (bkt) GROUP BY id""".stripMargin
      (build, duck)
    }),

    Template("fz_vec_pool", 8, { rng =>
      // mean over clamp-rounded (integral) elements is exact in any
      // accumulation order; max/min over the RAW edge doubles (1e150,
      // denormals, zero vectors) are order-independent bit-exact
      val k = 2 + rng.nextInt(4)
      val build: SparkSession => DataFrame = s => {
        val q = transform(col("v"),
          x => round(least(greatest(x, lit(-1e6)), lit(1e6)), 0))
        s.table("fuzz_vecs")
          .select((col("id") % k).as("g"), col("v"), q.as("qv"))
          .groupBy("g")
          .agg(count(col("v")).as("n"),
            graft.similarity.Pooling.meanPool(col("qv")).as("mean_q"),
            graft.similarity.Pooling.maxPool(col("v")).as("mx"),
            graft.similarity.Pooling.minPool(col("v")).as("mn"))
      }
      val duck =
        s"""WITH base AS (SELECT id % $k AS g, v,
           |  list_transform(v, x -> round(least(greatest(x, -1000000.0), 1000000.0), 0)) AS qv
           |  FROM fuzz_vecs),
           |u AS (SELECT g, unnest(qv) AS q, unnest(v) AS raw,
           |  unnest(range(1, len(v) + 1)) AS i FROM base WHERE v IS NOT NULL),
           |a AS (SELECT g, i, sum(q) / count(q) AS mq, max(raw) AS mxe, min(raw) AS mne
           |  FROM u GROUP BY g, i),
           |c AS (SELECT g, count(v) AS n FROM base GROUP BY g)
           |SELECT c.g, c.n,
           |  (SELECT list(mq ORDER BY i) FROM a WHERE a.g = c.g) AS mean_q,
           |  (SELECT list(mxe ORDER BY i) FROM a WHERE a.g = c.g) AS mx,
           |  (SELECT list(mne ORDER BY i) FROM a WHERE a.g = c.g) AS mn
           |FROM c""".stripMargin
      (build, duck)
    }),

    Template("fz_dup_spans", 8, { rng =>
      // cross-doc duplicated spans over the edge corpus (NULLs, empties,
      // exotic whitespace): small n so the limited fuzz vocabulary
      // actually collides; md5-60 portable hash replays in DuckDB
      val n = 2 + rng.nextInt(3)
      val minDocs = 2 + rng.nextInt(2)
      val build: SparkSession => DataFrame = s =>
        graft.dedup.SpanDedup.duplicatedSpans(
          s.table("fuzz_docs"), "id", "s", n = n, minDocs = minDocs,
          hash = graft.dedup.SpanDedup.portableHash60)
      val duck =
        s"""WITH w AS (SELECT id,
           |  list_filter(string_split_regex(s, '[\\s\\x0b]+'), x -> x <> '') AS w
           |  FROM fuzz_docs),
           |gr AS (SELECT id, i - 1 AS pos,
           |  CAST(concat('0x', substr(md5(array_to_string(list_slice(w, i, i + ${n - 1}), ' ')), 1, 15)) AS BIGINT) AS g
           |  FROM (SELECT id, w, unnest(range(1, greatest(len(w) - ${n - 2}, 1))) AS i FROM w) sq),
           |d AS (SELECT g FROM (SELECT DISTINCT g, id FROM gr) t
           |  GROUP BY g HAVING count(*) >= $minDocs),
           |p AS (SELECT gr.id, gr.pos FROM gr JOIN d USING (g)),
           |m AS (SELECT id, pos,
           |  CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > $n
           |       THEN 1 ELSE 0 END AS brk FROM p),
           |isl AS (SELECT id, pos,
           |  sum(brk) OVER (PARTITION BY id ORDER BY pos) AS island FROM m)
           |SELECT id, CAST(min(pos) AS BIGINT) AS span_start,
           |  CAST(max(pos) + $n AS BIGINT) AS span_end
           |FROM isl GROUP BY id, island""".stripMargin
      (build, duck)
    }),

    Template("fz_strip_spans", 6, { rng =>
      // end-to-end span removal: duplicated spans cut out and the kept
      // tokens rejoined — byte-exact string compare on the edge corpus
      val n = 2 + rng.nextInt(3)
      val build: SparkSession => DataFrame = s => {
        val docs = s.table("fuzz_docs")
        val spans = graft.dedup.SpanDedup.duplicatedSpans(
          docs, "id", "s", n = n, minDocs = 2,
          hash = graft.dedup.SpanDedup.portableHash60)
        graft.dedup.SpanDedup.stripSpans(
            docs.select(col("id"), col("s")), "id", "s", spans)
          .select(col("id"), col("clean_text"))
      }
      val duck =
        s"""WITH w AS (SELECT id,
           |  list_filter(string_split_regex(s, '[\\s\\x0b]+'), x -> x <> '') AS w
           |  FROM fuzz_docs),
           |gr AS (SELECT id, i - 1 AS pos,
           |  CAST(concat('0x', substr(md5(array_to_string(list_slice(w, i, i + ${n - 1}), ' ')), 1, 15)) AS BIGINT) AS g
           |  FROM (SELECT id, w, unnest(range(1, greatest(len(w) - ${n - 2}, 1))) AS i FROM w) sq),
           |d AS (SELECT g FROM (SELECT DISTINCT g, id FROM gr) t
           |  GROUP BY g HAVING count(*) >= 2),
           |p AS (SELECT gr.id, gr.pos FROM gr JOIN d USING (g)),
           |m AS (SELECT id, pos,
           |  CASE WHEN pos - lag(pos) OVER (PARTITION BY id ORDER BY pos) > $n
           |       THEN 1 ELSE 0 END AS brk FROM p),
           |isl AS (SELECT id, pos,
           |  sum(brk) OVER (PARTITION BY id ORDER BY pos) AS island FROM m),
           |spn AS (SELECT id, min(pos) AS st, max(pos) + $n AS e
           |  FROM isl GROUP BY id, island),
           |sl AS (SELECT id, list({'s': st, 'e': e}) AS sp FROM spn GROUP BY id)
           |SELECT w.id,
           |  CASE WHEN w.w IS NULL THEN NULL
           |       ELSE coalesce(array_to_string([w.w[i] for i in range(1, len(w.w) + 1)
           |         if sl.sp IS NULL OR len(list_filter(sl.sp, r -> r.s <= i - 1 AND i - 1 < r.e)) = 0],
           |         ' '), '') END AS clean_text
           |FROM w LEFT JOIN sl USING (id)""".stripMargin
      (build, duck)
    }),

    Template("fz_bpe_merges", 6, { rng =>
      // BPE trainer replay over the edge corpus (unicode, emoji, NBSP
      // words, VT separators): the SAME generated rounds as the q86
      // oracle (ReplaySql.bpeMerges — one load-bearing copy)
      val k = 2 + rng.nextInt(5)
      val build: SparkSession => DataFrame = s => {
        val merges = graft.text.Bpe.train(
          s.table("fuzz_docs"), "s", numMerges = k,
          minCount = 1L, maxVocabWords = 100000)
        graft.text.Bpe.mergesTable(s, merges)
      }
      (build, ReplaySql.bpeMerges("fuzz_docs", "s", k))
    }),

    Template("fz_sentences", 4, { _ =>
      // sentence segmentation over the edge corpus (unicode, newlines,
      // punctuation storms like '!!! ??? ;;;'): identical piece regex,
      // trim class and empty-drop on both engines. The coalesce below
      // pins a caught divergence: DuckDB's array_to_string(EMPTY) is
      // NULL where Spark's array_join(EMPTY) is ''
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").where(col("s").isNotNull)
          .select(col("id"),
            graft.functions.TextFunctions.sentences(col("s")).as("sent"))
          // joined on a control char (the checker compares scalar cells,
          // not list cells — the q83 precedent)
          .select(col("id"), array_join(col("sent"), "\u001f").as("joined"),
            size(col("sent")).as("n"))
      val duck =
        """WITH p AS (SELECT id,
          |  list_filter(
          |    list_transform(regexp_extract_all(s, '[^.!?]+[.!?]+["'')\]]*|[^.!?]+$'),
          |      x -> regexp_replace(x, '^[ \t\n\f\r]+|[ \t\n\f\r]+$', '', 'g')),
          |    x -> x <> '') AS sent
          |  FROM fuzz_docs WHERE s IS NOT NULL)
          |SELECT id,
          |  coalesce(array_to_string(sent, chr(31)), '') AS joined,
          |  CAST(len(sent) AS INT) AS n
          |FROM p""".stripMargin
      (build, duck)
    }),

    Template("fz_url", 4, { _ =>
      // URL parse over ARBITRARY edge strings (garbage, unicode,
      // newlines, 500-char runs): both engines run the same shared-
      // syntax regexes, so parts must agree byte-for-byte — including
      // all the NULL-vs-'' edges on non-URLs
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").where(col("s").isNotNull)
          .select(col("id"), graft.functions.Url.urlParts(col("s")).as("u"))
          .select(col("id"), col("u.scheme").as("scheme"), col("u.host").as("host"),
            col("u.port").as("port"), col("u.query").as("query"),
            col("u.domain").as("domain"))
      val duck =
        """WITH a AS (SELECT id, s,
          |  regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#\r\n]*)', 1) AS auth_raw
          |  FROM fuzz_docs WHERE s IS NOT NULL),
          |n AS (SELECT id, s, auth_raw,
          |  regexp_extract(auth_raw, '(?:[^@]*@)?([^@]*)$', 1) AS no_user FROM a),
          |h AS (SELECT id, s, auth_raw,
          |  nullif(lower(CASE WHEN starts_with(no_user, '[')
          |    THEN regexp_extract(no_user, '^(\[[^\]]*\])', 1)
          |    ELSE regexp_extract(no_user, '^([^:]*)', 1) END), '') AS host
          |  FROM n)
          |SELECT id,
          |  nullif(lower(regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)), '') AS scheme,
          |  host,
          |  CAST(nullif(regexp_extract(nullif(auth_raw, ''), ':([0-9]+)$', 1), '') AS INT) AS port,
          |  CASE WHEN nullif(auth_raw, '') IS NOT NULL
          |    THEN nullif(regexp_extract(s, '^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\?([^#]*)', 1), '') END AS query,
          |  CASE WHEN NOT starts_with(host, '[')
          |    THEN nullif(regexp_extract(host, '([^.]+[.][^.]+)$', 1), '') END AS domain
          |FROM h""".stripMargin
      (build, duck)
    }),

    Template("fz_unicode_tokens", 4, { _ =>
      // the multilingual tokenization tier over the edge corpus (CJK,
      // Hiragana, Cyrillic, emoji, ZWSP, NBSP, ideographic space,
      // combining-case chars ẞ/İ/ς): the compiled kernel's JDK category
      // tables vs DuckDB/RE2's \p{L}\p{M}\p{N} + the CJK spacing formula
      // — a single category disagreement on any corpus codepoint breaks
      // the joined-token compare
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").where(col("s").isNotNull)
          .select(col("id"),
            graft.functions.TextFunctions.unicodeTokens(col("s")).as("t"))
          .select(col("id"), array_join(col("t"), "\u001f").as("joined"),
            size(col("t")).as("n"))
      val duck =
        "WITH t AS (SELECT id, " + graft.queries.Shared.unicodeToksSql("s") +
          " AS toks FROM fuzz_docs WHERE s IS NOT NULL)\n" +
          """SELECT id,
            |  coalesce(array_to_string(toks, chr(31)), '') AS joined,
            |  CAST(len(toks) AS INT) AS n
            |FROM t""".stripMargin
      (build, duck)
    }),

    Template("fz_abbrev_sentences", 4, { _ =>
      // the abbreviation-guard sentence tier over the edge corpus: the
      // mask fold (generated from the SAME production abbreviation list
      // the Spark side folds over), the q95 segmentation, the sentinel
      // restore — list order, boundary class and U+E000 sentinel all
      // pinned by the compare
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").where(col("s").isNotNull)
          .select(col("id"),
            graft.functions.TextFunctions.sentencesAbbrevGuard(col("s")).as("sent"))
          .select(col("id"), array_join(col("sent"), "\u001f").as("joined"),
            size(col("sent")).as("n"))
      val duck =
        "WITH m AS (SELECT id, " + graft.queries.Shared.abbrevMaskSql("s") +
          " AS mt FROM fuzz_docs WHERE s IS NOT NULL),\n" +
          """p AS (SELECT id,
            |  list_transform(
            |    list_filter(
            |      list_transform(regexp_extract_all(mt, '[^.!?]+[.!?]+["'')\]]*|[^.!?]+$'),
            |        x -> regexp_replace(x, '^[ \t\n\f\r]+|[ \t\n\f\r]+$', '', 'g')),
            |      x -> x <> ''),
            |    x -> replace(x, '""".stripMargin + "\uE000" + """', '.')) AS sent
            |  FROM m)
            |SELECT id,
            |  coalesce(array_to_string(sent, chr(31)), '') AS joined,
            |  CAST(len(sent) AS INT) AS n
            |FROM p""".stripMargin
      (build, duck)
    }),

    Template("fz_etld1", 4, { rng =>
      // the public-suffix ladder over hosts synthesized from ARBITRARY
      // edge strings (whitespace runs to dots, a rotating suffix tail —
      // including none): empty labels, dot runs, emoji labels, 500-char
      // labels; the IN-list ladder must agree with the Spark InSet
      // ladder on every row
      val sfx = Seq(".co.uk", ".com", ".github.io", ".s3.amazonaws.com", "")(rng.nextInt(5))
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").where(col("s").isNotNull)
          .select(col("id"),
            lower(concat(regexp_replace(col("s"), "[ \\t\\n\\r\\x0B]+", "."),
              lit(sfx))).as("host"))
          .select(col("id"),
            graft.functions.Url.registrableDomainOfHost(col("host")).as("etld1"))
      val duck =
        raw"""WITH h AS (SELECT id,
           |  lower(regexp_replace(s, '[ \t\n\r\x0b]+', '.', 'g') || '$sfx') AS host
           |  FROM fuzz_docs WHERE s IS NOT NULL)
           |SELECT id,
           |""".stripMargin +
          graft.queries.Shared.etld1OracleSql("host") + " AS etld1\nFROM h"
      (build, duck)
    }),

    Template("fz_url_canonical", 4, { rng =>
      // canonicalization over URLs synthesized from ARBITRARY edge
      // strings: garbage paths/params (unicode, emoji, '&&' runs,
      // tracking params injected), rotating ports and schemes. The
      // param sort is bytewise in BOTH engines (UTF8String compareTo
      // and DuckDB VARCHAR are both memcmp over UTF-8), so even emoji
      // params must order identically.
      val port = Seq(":80", ":443", ":8080", "")(rng.nextInt(4))
      val scheme = Seq("http", "HTTPS", "ftp")(rng.nextInt(3))
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").where(col("s").isNotNull)
          .select(col("id"),
            concat(lit(s"$scheme://h"), col("id"), lit(s".example.com$port/p?a=1&utm_src=x&"),
              regexp_replace(col("s"), "[#?]", "."), lit("&gclid=Z&b=2")).as("u"))
          .select(col("id"), graft.functions.Url.canonicalize(col("u")).as("canonical"))
      val duck =
        raw"""WITH u AS (SELECT id,
           |  '$scheme://h' || id || '.example.com$port/p?a=1&utm_src=x&' ||
           |  regexp_replace(s, '[#?]', '.', 'g') || '&gclid=Z&b=2' AS url
           |  FROM fuzz_docs WHERE s IS NOT NULL),
           |a AS (SELECT id, url,
           |  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#\r\n]*)', 1) AS auth_raw
           |  FROM u),
           |h AS (SELECT id, url,
           |  nullif(lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)), '') AS scheme,
           |  nullif(lower(regexp_extract(regexp_extract(auth_raw, '(?:[^@]*@)?([^@]*)$$', 1), '^([^:]*)', 1)), '') AS host,
           |  CAST(nullif(regexp_extract(nullif(auth_raw, ''), ':([0-9]+)$$', 1), '') AS INT) AS port,
           |  CASE WHEN nullif(auth_raw, '') IS NOT NULL
           |    THEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#\r\n]*([^?#]*)', 1) END AS path,
           |  CASE WHEN nullif(auth_raw, '') IS NOT NULL
           |    THEN nullif(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^?#]*\?([^#]*)', 1), '') END AS query
           |  FROM a),
           |sq AS (SELECT id, scheme, host, port, path, query,
           |  array_to_string(list_sort(string_split(
           |    regexp_replace(regexp_replace(regexp_replace(query,
           |      '""".stripMargin +
          graft.functions.Url.TrackingStripRe + raw"""', '\1', 'g'),
           |      '&&+', '&', 'g'),
           |      '^&+|&+$$', '', 'g'), '&')), '&') AS sortedq
           |  FROM h)
           |SELECT id,
           |  CASE WHEN scheme IS NOT NULL AND host IS NOT NULL THEN
           |    scheme || '://' || host ||
           |    CASE WHEN port IS NOT NULL
           |      AND NOT (scheme = 'http' AND port = 80)
           |      AND NOT (scheme = 'https' AND port = 443)
           |      THEN ':' || port ELSE '' END ||
           |    CASE WHEN path = '' THEN '/' ELSE path END ||
           |    CASE WHEN query IS NOT NULL AND sortedq <> '' THEN '?' || sortedq ELSE '' END
           |  END AS canonical
           |FROM sq""".stripMargin
      (build, duck)
    }),

    Template("fz_c4_lines", 5, { rng =>
      // C4 line retention over the edge corpus (multi-line strings, CRLF,
      // VT, exotic unicode whitespace, 500-char runs): kept_text is a
      // BYTE compare, so the strip class, the end-mark set, the word
      // count and the ascii-fold javascript scan must all agree
      val minWords = 1 + rng.nextInt(5)
      val fold = "translate(%s, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')"
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").where(col("s").isNotNull)
          .select(col("id"),
            graft.functions.TextFunctions.c4Flags(col("s"),
              minWords = minWords, minKeptLines = 1).as("f"))
          .select(col("id"), col("f.kept_text"), col("f.n_lines"),
            col("f.n_kept"), col("f.has_lorem"), col("f.has_brace"), col("f.pass"))
      val duck =
        s"""WITH tl AS (SELECT id, s,
           |  list_transform(string_split(s, chr(10)), l ->
           |    regexp_replace(regexp_replace(l, '^[ \\t\\x0B\\f\\r]+', ''), '[ \\t\\x0B\\f\\r]+$$', '')) AS st
           |  FROM fuzz_docs WHERE s IS NOT NULL),
           |kp AS (SELECT id, s,
           |  list_filter(st, l ->
           |    regexp_matches(l, '[.?!"]$$')
           |    AND len(list_filter(string_split_regex(l, '[ \\t\\x0B\\f\\r]+'), x -> x <> '')) >= $minWords
           |    AND NOT contains(${fold.format("l")}, 'javascript')) AS kept
           |  FROM tl)
           |SELECT id, coalesce(array_to_string(kept, chr(10)), '') AS kept_text,
           |  CAST(len(string_split(s, chr(10))) AS BIGINT) AS n_lines,
           |  CAST(len(kept) AS BIGINT) AS n_kept,
           |  contains(${fold.format("s")}, 'lorem ipsum') AS has_lorem,
           |  contains(s, '{') AS has_brace,
           |  (NOT contains(${fold.format("s")}, 'lorem ipsum') AND NOT contains(s, '{')
           |    AND len(kept) >= 1) AS pass
           |FROM kp""".stripMargin
      (build, duck)
    }),

    Template("fz_blocklist", 5, { rng =>
      // word-bounded blocklist hits over the edge corpus: the automaton's
      // byte conventions (ASCII fold, [a-z0-9] word boundary) must agree
      // with the oracle's token-equality replay across CRLF/VT/unicode
      // garbage; patterns are single alnum words so the replay is exact
      val pool = Seq("data", "the", "a", "x1", "scan", "query",
        "value", "0", "zzzabsent")
      val pats = rng.shuffle(pool).take(2 + rng.nextInt(4))
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").where(col("s").isNotNull)
          .select(col("id"),
            graft.functions.TextFunctions.blocklistHits(
              col("s"), pats, wordBounded = true).as("n_hits"))
      val duck =
        s"""WITH pats(p) AS (VALUES ${pats.map(p => s"('$p')").mkString(", ")}),
           |tok AS (SELECT id, t.w
           |  FROM fuzz_docs, unnest(regexp_extract_all(
           |    translate(s, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'),
           |    '[a-z0-9]+')) AS t(w)
           |  WHERE s IS NOT NULL),
           |h AS (SELECT id, count(*) AS n FROM tok JOIN pats ON tok.w = pats.p GROUP BY id)
           |SELECT d.id, CAST(coalesce(h.n, 0) AS INTEGER) AS n_hits
           |FROM fuzz_docs d LEFT JOIN h ON d.id = h.id
           |WHERE d.s IS NOT NULL""".stripMargin
      (build, duck)
    }),

    Template("fz_boiler_strip", 4, { rng =>
      // boilerplate strip kernel over the edge corpus decorated with
      // planted bait lines: the fp convention (md5-60 of the ASCII-
      // stripped line) is recomputed INDEPENDENTLY on the DuckDB side
      // from the bait strings, so strip class, fp derivation, blank-line
      // immunity and the count contract must all agree byte-for-byte
      val baitPool = Seq("data", "the end.", "x 1", "  padded bait\t", "zz")
      val bait = rng.shuffle(baitPool).take(1 + rng.nextInt(3))
      val fps = bait.map(b => graft.dedup.Boilerplate.lineFp60(
        graft.dedup.Boilerplate.stripAscii(b))).sorted
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").where(col("s").isNotNull)
          .select(col("id"),
            graft.dedup.Boilerplate.stripLinesByFp(
              concat(lit(bait.head + "\n"), col("s"), lit("\n" + bait.last)),
              lit(fps.toArray)).as("r"))
          .select(col("id"), col("r.cleaned"), col("r.n_lines"), col("r.n_removed"))
      val strip = (x: String) =>
        "regexp_replace(regexp_replace(" + x +
          ", '^[ \\t\\x0B\\f\\r]+', ''), '[ \\t\\x0B\\f\\r]+$', '')"
      val baitSql = bait.map(b =>
        "CAST(concat('0x', substr(md5(" + strip(sqlStr(b)) + "), 1, 15)) AS BIGINT)")
        .mkString("[", ", ", "]")
      val duck =
        "WITH d AS (SELECT id, " + sqlStr(bait.head + "\n") + " || s || " +
          sqlStr("\n" + bait.last) + " AS t FROM fuzz_docs WHERE s IS NOT NULL),\n" +
          "res AS (SELECT id,\n" +
          "    list_filter(string_split(t, chr(10)), l ->\n" +
          "      " + strip("l") + " = ''\n" +
          "      OR NOT list_contains(" + baitSql + ",\n" +
          "        CAST(concat('0x', substr(md5(" + strip("l") + "), 1, 15)) AS BIGINT))) AS kept,\n" +
          "    len(string_split(t, chr(10))) AS nl FROM d)\n" +
          "SELECT id, coalesce(array_to_string(kept, chr(10)), '') AS cleaned,\n" +
          "  CAST(nl AS INTEGER) AS n_lines, CAST(nl - len(kept) AS INTEGER) AS n_removed\n" +
          "FROM res"
      (build, duck)
    }),

    Template("fz_nfc_fp", 4, { _ =>
      // NFC normalization + nfc-keyed unicode fingerprint over the edge
      // corpus DECORATED with a decomposed suffix (the corpus itself is
      // composed): both the raw NFC bytes and the md5 key must agree —
      // JDK Normalizer vs DuckDB utf8proc, same UAX #15 contract
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").where(col("s").isNotNull)
          .select(col("id"),
            graft.functions.TextFunctions.nfcNormalize(
              concat(col("s"), lit(" " + graft.queries.Shared.NfcDecomposedPrefix))).as("nfc"),
            graft.functions.TextFunctions.fingerprint(
              concat(col("s"), lit(" " + graft.queries.Shared.NfcDecomposedPrefix)),
              unicode = true, nfc = true).as("fp"))
      val dec = " " + graft.queries.Shared.NfcDecomposedPrefix
      val duck =
        s"SELECT id, nfc_normalize(s || '$dec') AS nfc,\n" +
          "  md5(array_to_string(" +
          graft.queries.Shared.unicodeToksSql(s"nfc_normalize(s || '$dec')") +
          ", '')) AS fp\nFROM fuzz_docs WHERE s IS NOT NULL"
      (build, duck)
    }),

    Template("fz_gzip", 5, { _ =>
      // gzip compress->decompress roundtrip over the edge corpus
      // (unicode, emoji, NBSP, VT, 500-char runs): the oracle is the
      // identity on the text — one wrong byte in either codec breaks it
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").where(col("s").isNotNull)
          .select(col("id"),
            graft.functions.Gzip.gunzipText(
              graft.functions.Gzip.gzip(col("s"))).as("rt"))
      (build, "SELECT id, s AS rt FROM fuzz_docs WHERE s IS NOT NULL")
    }),

    Template("fz_bpe_merges_deep", 2, { rng =>
      // DEEP BPE replay: 50+ merge rounds over the edge corpus — the
      // incremental trainer's pair-count delta updates and lazy-deletion
      // heap must track the full-rescan semantics across long merge
      // chains (stale heap entries, re-created pairs, exhaustion: both
      // sides emit the same prefix when pairs run out before k rounds)
      val k = 50 + rng.nextInt(11)
      val build: SparkSession => DataFrame = s => {
        val merges = graft.text.Bpe.train(
          s.table("fuzz_docs"), "s", numMerges = k,
          minCount = 1L, maxVocabWords = 100000)
        graft.text.Bpe.mergesTable(s, merges)
      }
      (build, ReplaySql.bpeMerges("fuzz_docs", "s", k))
    }),

    Template("fz_kcenter", 6, { rng =>
      // greedy k-center over the edge vectors (zero, 1e150, denormal,
      // NULL, duplicates): the SAME generated rounds as the q87 oracle
      // (ReplaySql.kCenter); ties at d=0 stay deterministic via id
      val k = 2 + rng.nextInt(5)
      val build: SparkSession => DataFrame = s =>
        graft.similarity.Similarity.kCenterSelect(
          s.table("fuzz_vecs"), "id", "v", k)
      (build, ReplaySql.kCenter("fuzz_vecs", "id", "v", k))
    }),

    Template("fz_warc", 5, { _ =>
      // WARC synth+parse roundtrip over the edge corpus: payloads with
      // emoji/multi-byte chars (octet Content-Length), embedded CRLF
      // blank lines, 500-char runs — the oracle is the identity
      val build: SparkSession => DataFrame = s => {
        val blob = concat(
          lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://example.org/f/"),
          col("id"), lit("\r\nContent-Length: "), octet_length(col("s")),
          lit("\r\n\r\n"), col("s"), lit("\r\n\r\n"))
        s.table("fuzz_docs").where(col("s").isNotNull)
          .select(col("id"),
            explode(graft.data.Warc.parseRecords(blob)).as("r"))
          .select(col("id"), col("r.target_uri"),
            col("r.content_length"), col("r.payload"))
      }
      val duck =
        """SELECT id, 'https://example.org/f/' || id AS target_uri,
          |  CAST(strlen(s) AS BIGINT) AS content_length, s AS payload
          |FROM fuzz_docs WHERE s IS NOT NULL""".stripMargin
      (build, duck)
    }),

    Template("fz_wet", 5, { _ =>
      // WET filter roundtrip: a warcinfo record FOLLOWED by a
      // conversion record per doc — Wet.docs must SKIP the warcinfo
      // and hand back the exact payload (octet Content-Length framing
      // over the emoji/CRLF/500-char edge corpus)
      val info = lit("WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
        "WARC-Filename: f.warc.wet.gz\r\nContent-Length: 16\r\n\r\n" +
        "format: WET 1.0\n\r\n\r\n")
      val blob = concat(info,
        lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: https://example.org/w/"),
        col("id"), lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
        octet_length(col("s")), lit("\r\n\r\n"), col("s"), lit("\r\n\r\n"))
      val build: SparkSession => DataFrame = s =>
        graft.data.Wet.docs(
            s.table("fuzz_docs").where(col("s").isNotNull)
              .select(col("id"), blob.as("blob")))
          .select(
            regexp_extract(col("target_uri"), "w/([0-9]+)", 1).cast("bigint").as("id"),
            col("target_uri"), col("n_chars"), col("text"))
      val duck =
        """SELECT id, 'https://example.org/w/' || id AS target_uri,
          |  CAST(length(s) AS INT) AS n_chars, s AS text
          |FROM fuzz_docs WHERE s IS NOT NULL""".stripMargin
      (build, duck)
    }),

    Template("fz_warc_corrupt", 6, { rng =>
      // adversarial WARC mutation: two VALID records followed by a
      // corrupt region; the strict-prefix fail-stop contract says the
      // parser emits exactly the valid prefix and never resyncs or
      // invents records. The oracle reconstructs that expected prefix
      // independently. The corrupt tail is built from `sa` (the ascii
      // twin: printable-ASCII only — control chars become '_'), so no
      // corpus value can smuggle a CRLF or a header line into the
      // mutated region and change which prefix is valid.
      val mutation = rng.nextInt(5)
      def rec(path: String, payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
        lit(s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://example.org/$path/"),
        col("id"), lit("\r\nContent-Length: "), octet_length(payload),
        lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
      val decoyTail = "\r\n\r\nWARC/1.0\r\nContent-Length: 3\r\n\r\nxyz"
      val corrupt: org.apache.spark.sql.Column = mutation match {
        case 0 => // truncated payload: Content-Length overshoots the bytes left
          concat(lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://example.org/c/"),
            col("id"), lit("\r\nContent-Length: "), octet_length(col("sa")) + lit(100),
            lit("\r\n\r\n"), col("sa"))
        case 1 => // off-by-one: CL swallows one byte of the record separator;
                  // the record IS emitted (CL is authoritative) with that
                  // byte, then parsing fail-stops on the broken separator
          concat(lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://example.org/c/"),
            col("id"), lit("\r\nContent-Length: "), octet_length(col("sa")) + lit(1),
            lit("\r\n\r\n"), col("sa"), lit("\r\n\r\n"))
        case 2 => // LF-only line endings: no CRLF anywhere in the record —
                  // the version line never terminates, nothing emits
          concat(lit("WARC/1.0\nWARC-Type: response\nContent-Length: "),
            octet_length(col("sa")), lit("\n\n"), col("sa"))
        case 3 => // garbage between records: a fully VALID record follows the
                  // noise, but strict-prefix means no resync — it is lost
          concat(lit("x55aa "), col("sa"), lit("\r\n"), rec("c", col("sa")))
        case _ => // a complete fake record EMBEDDED in a declared payload:
                  // CL consumes it whole; the parser must not resync inside
          rec("c", concat(col("sa"), lit(decoyTail)))
      }
      val blob = concat(rec("a", col("s")), rec("b", col("sa")), corrupt)
      val build: SparkSession => DataFrame = s =>
        s.table("fuzz_docs").where(col("s").isNotNull && col("sa").isNotNull)
          .select(col("id"), posexplode(graft.data.Warc.parseRecords(blob)))
          .select(col("id"), (col("pos") + 1).cast("long").as("rec"),
            col("col.target_uri"), col("col.content_length"), col("col.payload"))
      val base =
        """SELECT id, CAST(1 AS BIGINT) AS rec,
          |  'https://example.org/a/' || id AS target_uri,
          |  CAST(strlen(s) AS BIGINT) AS content_length, s AS payload
          |FROM fuzz_docs WHERE s IS NOT NULL AND sa IS NOT NULL
          |UNION ALL
          |SELECT id, CAST(2 AS BIGINT), 'https://example.org/b/' || id,
          |  CAST(strlen(sa) AS BIGINT), sa
          |FROM fuzz_docs WHERE s IS NOT NULL AND sa IS NOT NULL""".stripMargin
      val third = mutation match {
        case 1 =>
          """
            |UNION ALL
            |SELECT id, CAST(3 AS BIGINT), 'https://example.org/c/' || id,
            |  CAST(strlen(sa) + 1 AS BIGINT), sa || chr(13)
            |FROM fuzz_docs WHERE s IS NOT NULL AND sa IS NOT NULL""".stripMargin
        case 4 =>
          """
            |UNION ALL
            |SELECT id, CAST(3 AS BIGINT), 'https://example.org/c/' || id,
            |  CAST(strlen(sa || e'\r\n\r\nWARC/1.0\r\nContent-Length: 3\r\n\r\nxyz') AS BIGINT),
            |  sa || e'\r\n\r\nWARC/1.0\r\nContent-Length: 3\r\n\r\nxyz'
            |FROM fuzz_docs WHERE s IS NOT NULL AND sa IS NOT NULL""".stripMargin
        case _ => ""
      }
      (build, base + third)
    }),

    Template("fz_html_text", 6, { rng =>
      // HTML extraction over the edge corpus — raw strings (entity and
      // collapse paths, unicode, unterminated '<') or wrapped into a
      // page (block removal, tag->space)
      val wrap = rng.nextBoolean()
      val build: SparkSession => DataFrame = s => {
        val in =
          if (wrap) concat(lit("<div id=\"x\"> <b>"), col("s"),
            lit("</b></div><script>var a = '&amp;';</script>"))
          else col("s")
        s.table("fuzz_docs").select(col("id"),
          graft.functions.TextFunctions.htmlToText(in).as("txt"))
      }
      val inSql =
        if (wrap) """'<div id="x"> <b>' || s || '</b></div><script>var a = ''&amp;'';</script>'"""
        else "s"
      val duck =
        s"""WITH s1 AS (SELECT id,
           |  regexp_replace(regexp_replace(regexp_replace($inSql,
           |    '(?s)<[sS][cC][rR][iI][pP][tT][^>]*>.*?</[sS][cC][rR][iI][pP][tT]>', ' ', 'g'),
           |    '(?s)<[sS][tT][yY][lL][eE][^>]*>.*?</[sS][tT][yY][lL][eE]>', ' ', 'g'),
           |    '(?s)<!--.*?-->', ' ', 'g') AS t FROM fuzz_docs),
           |s2 AS (SELECT id, regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM s1),
           |s3 AS (SELECT id,
           |  replace(replace(replace(replace(replace(replace(t,
           |    '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
           |    '&#39;', chr(39)), '&amp;', '&') AS t FROM s2)
           |SELECT id, trim(regexp_replace(t, '[ \t\r\n\f]+', ' ', 'g'), ' ') AS txt
           |FROM s3""".stripMargin
      (build, duck)
    }))

  // ---- harness ------------------------------------------------------------

  def registerViews(spark: SparkSession, sfDir: String, seed: Long, outDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    val tdir = s"$outDir/_tables"
    val docs = corpusDocs(spark, seed)
    docs.coalesce(1).write.mode("overwrite").parquet(s"$tdir/fuzz_docs.parquet")
    val vecs = corpusVecs(spark, seed)
    vecs.coalesce(1).write.mode("overwrite").parquet(s"$tdir/fuzz_vecs.parquet")
    // read BACK the parquet so Spark and DuckDB see byte-identical inputs
    spark.read.parquet(s"$tdir/fuzz_docs.parquet").createOrReplaceTempView("fuzz_docs")
    spark.read.parquet(s"$tdir/fuzz_vecs.parquet").createOrReplaceTempView("fuzz_vecs")
  }

  /** Deterministic case list for (seed, nCases): templates are drawn in
    * a weighted round-robin so every family appears even at small n.
    */
  def cases(seed: Long, nCases: Int): Seq[FuzzCase] = {
    val rng = new Random(seed + 7)
    val pool = templates
    val totalWeight = pool.map(_.weight).sum
    val out = Seq.newBuilder[FuzzCase]
    var produced = 0
    var round = 0
    // shares are ROUNDED, so their sum can land under nCases for some
    // (templates, nCases) pairs — once a full pass adds nothing, fill the
    // remainder uncapped round-robin instead of stalling
    var uncapped = false
    while (produced < nCases) {
      val before = produced
      pool.foreach { t =>
        // weight w => ~w * nCases / totalWeight instances across the run
        val share = math.max(1, math.round(t.weight.toDouble * nCases / totalWeight).toInt)
        if (produced < nCases && (uncapped || round < share)) {
          val (build, duck) = t.gen(rng)
          produced += 1
          out += FuzzCase(f"fz$produced%03d_${t.key}", duck, build)
        }
      }
      if (produced == before) uncapped = true
      round += 1
      if (round > 2 * nCases) throw new IllegalStateException("case generation stalled")
    }
    out.result()
  }

  /** Runs every case, dumps Verify-style parquet + oracle_sql.json into
    * outDir. Returns (nOk, failures) where failures are cases whose SPARK
    * side threw (the DuckDB side is judged later by oracle_check.py).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String, seed: Long, nCases: Int): (Int, Seq[(String, String)]) = {
    registerViews(spark, sfDir, seed, outDir)
    val cs = cases(seed, nCases)
    val outcomes = graft.Harness.eachQuery(cs.map(c => c.name -> c)) { (_, c) =>
      c.build(spark).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${c.name}")
    }
    val failures = outcomes.collect { case (name, Left(e)) => (name, e.toString.take(500)) }
    val json = cs.map(c =>
        s""""${c.name}": ${com.fasterxml.jackson.databind.json.JsonMapper.builder().build().writeValueAsString(c.duckSql)}""")
      .mkString("{\n", ",\n", "\n}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (outcomes.size - failures.size, failures)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/fuzz_out"
    val seed = if (args.length > 2) args(2).toLong else 42L
    val n = if (args.length > 3) args(3).toInt else 520
    val spark = graft.Harness.session()
    graft.sql.GraftFunctions.register(spark)
    val (ok, failures) = run(spark, sfDir, outDir, seed, n)
    println(s"FUZZDIFF: $ok/${ok + failures.length} spark-side ok; outDir=$outDir")
    failures.foreach { case (n2, e) => println(s"SPARK-FAIL $n2: $e") }
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
