package graft.sql

import graft.SparkSpec
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.ExtensionsBridge

/** The SQL registration surface: every graft function callable from
  * `spark.sql` text, with results identical to the Column API, through
  * BOTH activation paths (runtime registry + the SparkSessionExtensions
  * injection the `spark.sql.extensions` config runs at session build).
  */
class GraftSqlSpec extends SparkSpec {

  // isolated session state: registrations here must not leak into the
  // other suites' shared session
  private lazy val sql = {
    val s = spark.newSession()
    GraftFunctions.register(s)
    s
  }

  test("scalar functions evaluate from SQL text and match the Column API") {
    val r = sql.sql(
      """SELECT
        |  graft_cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos_same,
        |  graft_dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
        |  graft_dist2(array(1.0D, 2.0D), array(4.0D, 6.0D)) AS d2,
        |  graft_simhash64('the quick brown fox') AS sh,
        |  graft_lang_guess('the cat and the hat is you') AS lang,
        |  graft_word_ngrams('a b c d', 3) AS ng,
        |  graft_jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS jac,
        |  graft_remove_spans('a  b c d', array(named_struct('s', 1L, 'e', 3L))) AS rs
        |""".stripMargin).collect()(0)
    assert(r.getAs[Double]("cos_same") === 1.0)
    assert(r.getAs[Double]("dot") === 11.0)
    assert(r.getAs[Double]("d2") === 25.0)
    assert(r.getAs[String]("lang") === "en")
    assert(r.getAs[String]("rs") === "a d")
    assert(r.getAs[scala.collection.Seq[String]]("ng") === Seq("a b c", "b c d"))
    assert(math.abs(r.getAs[Double]("jac") - 0.5) < 1e-12)
    // parity with the Column API on the same input
    import org.apache.spark.sql.functions._
    import sql.implicits._
    val viaCol = Seq("the quick brown fox").toDF("t")
      .select(graft.functions.TextFunctions.simhash64(col("t"))).collect()(0).getLong(0)
    assert(r.getAs[Long]("sh") === viaCol)
  }

  test("round-9 scalar functions: n-gram stream and hash pairs from SQL") {
    val r = sql.sql(
      """SELECT
        |  graft_word_ngram_stream('A b a b', 2) AS st,
        |  graft_word_bigrams('A b a b') AS wb,
        |  graft_ngram_hash_pairs('a b a b', 3) AS hp,
        |  graft_case_fold_simple('CAF\u00C9 stra\u00DFe \u03A3') AS cf
        |""".stripMargin).collect()(0)
    assert(r.getAs[scala.collection.Seq[String]]("st") === Seq("a b", "b a", "a b"))
    assert(r.getAs[scala.collection.Seq[String]]("wb") === Seq("a b", "b a", "a b"))
    assert(r.getAs[String]("cf") === "caf\u00E9 stra\u00DFe \u03C3")
    val hp = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("hp")
    assert(hp.length === 2)
    // identical grams hash identically; distinct grams differ
    val viaCol = {
      import org.apache.spark.sql.functions._
      import sql.implicits._
      Seq("a b a b").toDF("t")
        .select(graft.functions.TextFunctions.ngramHashPairs(col("t"), 3).as("hp"))
        .collect()(0).getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0)
    }
    assert(hp === viaCol)
  }

  test("round-7 scalar functions: unicode tokens and sig match count from SQL") {
    val r = sql.sql(
      """SELECT
        |  graft_unicode_tokens('Hello, 世界! This is 日本語 text.') AS ut,
        |  graft_sig_match_count(array(1L, 2L, 3L, 4L), array(1L, 9L, 3L, 4L)) AS m
        |""".stripMargin).collect()(0)
    assert(r.getAs[scala.collection.Seq[String]]("ut") ===
      Seq("hello", "世", "界", "this", "is", "日", "本", "語", "text"))
    assert(r.getAs[Int]("m") === 3)
  }

  test("round-8 scalar functions: c4 line retention and nfc from SQL") {
    val r = sql.sql(
      "SELECT\n" +
        "  graft_c4_keep_lines('A good line with five words.\\nshort.', 5) AS c4,\n" +
        "  graft_nfc_normalize('Cafe\u0301') AS n\n").collect()(0)
    assert(r.getAs[String]("c4") === "A good line with five words.")
    assert(r.getAs[String]("n") === "Caf\u00E9")
  }

  test("kmv sketch aggregate works in SQL GROUP BY") {
    import sql.implicits._
    Seq((1L, "a"), (2L, "a"), (2L, "a"), (9L, "b"))
      .toDF("h", "g").createOrReplaceTempView("kmv_in")
    val rows = sql.sql(
      "SELECT g, graft_kmv_sketch(h, 4) AS sk FROM kmv_in GROUP BY g ORDER BY g")
      .collect()
    assert(rows(0).getAs[scala.collection.Seq[Long]]("sk") === Seq(1L, 2L))
    assert(rows(1).getAs[scala.collection.Seq[Long]]("sk") === Seq(9L))
  }

  test("vec_pool aggregate works in SQL GROUP BY and matches the Column API") {
    import sql.implicits._
    val df = Seq((1, Seq(1.0, 2.0)), (1, Seq(3.0, 4.0)), (2, Seq(5.0, 6.0)))
      .toDF("g", "v")
    df.createOrReplaceTempView("pool_in")
    val rows = sql.sql(
      """SELECT g, graft_vec_pool(v, 'mean') AS m, graft_vec_pool(v, 'max') AS x
        |FROM pool_in GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(rows(0).getAs[scala.collection.Seq[Double]]("m") === Seq(2.0, 3.0))
    assert(rows(0).getAs[scala.collection.Seq[Double]]("x") === Seq(3.0, 4.0))
    assert(rows(1).getAs[scala.collection.Seq[Double]]("m") === Seq(5.0, 6.0))
    import org.apache.spark.sql.functions._
    val viaCol = df.groupBy("g")
      .agg(graft.similarity.Pooling.meanPool(col("v")).as("m"))
      .orderBy("g").collect()(0).getAs[scala.collection.Seq[Double]]("m")
    assert(rows(0).getAs[scala.collection.Seq[Double]]("m") === viaCol)
    val bad = intercept[Exception] {
      sql.sql("SELECT graft_vec_pool(v, 'median') FROM pool_in").collect()
    }
    assert(bad.getMessage.contains("sum|mean|max|min") ||
      Option(bad.getCause).exists(_.getMessage.contains("sum|mean|max|min")))
  }

  test("kmv estimators expand as SQL macros over sketch arrays") {
    val r = sql.sql(
      """SELECT
        |  graft_kmv_distinct_estimate(array(100L, 200L, 400L), 3) AS d,
        |  graft_kmv_jaccard_estimate(array(1L, 2L, 3L), array(2L, 3L, 4L), 4) AS j
        |""".stripMargin).collect()(0)
    assert(r.getAs[Double]("d") === 2.0 * math.pow(2, 60) / 400.0)
    assert(r.getAs[Double]("j") === 0.5)
  }

  test("round-8 late: hll sketch/merge/estimate and image dhash from SQL") {
    import sql.implicits._
    (0 until 600).map(i => (s"src${i % 3}", s"val-${i % 150}"))
      .toDF("source", "s").createOrReplaceTempView("hll_in")
    // per-source sketches in SQL, rolled up by the merge aggregate; the
    // estimate must equal the Column-API composition bit-for-bit
    val sqlRows = sql.sql(
      """SELECT graft_hll_estimate(graft_hll_merge(reg, 11), 11) AS est
        |FROM (SELECT source,
        |        graft_hll_sketch(CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT), 11) AS reg
        |      FROM hll_in GROUP BY source)""".stripMargin).collect()
    val colRow = sql.table("hll_in")
      .select(graft.sketch.Kmv.hash60(col("s")).as("h"))
      .agg(graft.sketch.Hll.estimate(
        graft.sketch.Hll.sketch(col("h"), 11), 11).as("est")).collect()(0)
    assert(sqlRows.length === 1)
    assert(sqlRows(0).getAs[Double]("est") === colRow.getAs[Double]("est"))
    // image dhash: the SQL function and the Column API agree on the
    // synthetic fixture (PGM and PNG variants both decode)
    graft.multimodal.ImageHash.syntheticImages(
        sql.range(0, 12).select(col("id").as("doc_id")))
      .createOrReplaceTempView("dhash_in")
    val pairs = sql.sql(
      "SELECT doc_id, graft_image_dhash64(bytes) AS h FROM dhash_in ORDER BY doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val colPairs = sql.table("dhash_in")
      .select(col("doc_id"), graft.multimodal.ImageHash.dhash64(col("bytes")).as("h"))
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(pairs.nonEmpty)
    assert(pairs === colPairs)
  }

  test("README quick-start SQL: sketch + estimator compose in GROUP BY") {
    import sql.implicits._
    (0 until 200).map(i => (s"src${i % 4}", s"document body text $i"))
      .toDF("source", "text").createOrReplaceTempView("docs_readme")
    val rows = sql.sql(
      """SELECT source, graft_kmv_distinct_estimate(
        |         graft_kmv_sketch(h, 256), 256) AS est_distinct
        |FROM (SELECT source, CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT) AS h
        |      FROM docs_readme)
        |GROUP BY source ORDER BY source""".stripMargin).collect()
    assert(rows.length === 4)
    // 50 distinct texts per source, all under k => exact counts
    assert(rows.forall(_.getDouble(1) === 50.0))
  }

  test("non-literal scalar parameters fail fast with the function name") {
    val e = intercept[Exception] {
      sql.sql("SELECT graft_word_ngrams('a b c', length('xx'))").collect()
    }
    assert(e.getMessage.contains("graft_word_ngrams"))
    val a = intercept[Exception] {
      sql.sql("SELECT graft_simhash64('a', 'b')").collect()
    }
    assert(a.getMessage.contains("graft_simhash64"))
  }

  test("the SparkSessionExtensions injection path registers every function") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val s2 = spark.newSession()
    ExtensionsBridge.applyInjectedFunctions(ext, s2.sessionState.functionRegistry)
    val got = s2.sql("SELECT graft_quant_sum_int8(array(2.0D, -1.0D, 0.5D, 0.0D)) AS s")
      .collect()(0).getInt(0)
    assert(got === 127 - 64 + 31)
    // and the parent session did NOT get the registration (isolation)
    intercept[Exception] {
      spark.sql("SELECT graft_quant_sum_int8(array(1.0D))").collect()
    }
  }

  test("codegen: SQL-registered expressions stay inside whole-stage codegen") {
    // range => a real scan (a local Seq collapses to LocalTableScan with
    // the projection constant-folded away)
    sql.range(100).createOrReplaceTempView("docs_sql")
    val plan = sql.sql(
      """SELECT graft_simhash64(concat('text number ', id)) AS h,
        |  graft_dup_ngram_fraction(concat('w w ', id), 2) AS d FROM docs_sql""".stripMargin)
      .queryExecution.executedPlan
    val hasWsc = graft.tools.PlanWalk.collectAll(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
    assert(hasWsc, s"expected WholeStageCodegen, plan:\n$plan")
  }
}
