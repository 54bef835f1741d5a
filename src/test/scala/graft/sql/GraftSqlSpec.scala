package graft.sql

import graft.SparkSpec
import graft.functions.{ByteBpeTables, Kernel, KernelExpr, Kernels, SpTables}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, expr, lit}
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

  // every declared kernel on sample inputs (SQL expressions over `id`)
  // and parameters: the parity, type-check and codegen tests below run
  // each one, so a new declaration must add its sample here
  private val text = "concat('The quick brown fox and the lazy dog. It is what it is ', id)"
  private val vec = "array(CAST(id AS DOUBLE), 1.0D, -2.0D)"
  private val ones = "array(1.0D, 1.0D, 1.0D)"
  private val sorted = "array(1L, 2L, id + 3)"
  private val bytes = "CAST(concat('payload ', id) AS BINARY)"
  private val cents = Seq(0.0, 0.0, 0.0, 1.0, 1.0, 1.0)
  private lazy val samples: Seq[(Kernel, Seq[String], Seq[Any])] = {
    import Kernels._
    val markers = graft.functions.TextFunctions.defaultLangMarkers
    Seq(
      (minhashSig, Seq(text), Seq[Any](5, 8, 42L)),
      (minhashPortableSig, Seq(text), Seq[Any](5, 8, 42L)),
      (shingleHashSet, Seq(text), Seq(5)),
      (shingleHashSetPortable, Seq(text), Seq(5)),
      (jaccardSorted, Seq(sorted, "array(2L, 3L)"), Nil),
      (sigMatchCount, Seq(sorted, "array(1L, 9L, 3L)"), Nil),
      (simhash64, Seq(text), Nil),
      (simhash60Portable, Seq(text), Nil),
      (winnowing, Seq(text), Seq(5, 4)),
      (winnowingPortable, Seq(text), Seq(5, 4)),
      (dupNgramFraction, Seq(text), Seq(2)),
      (wordNgrams, Seq(text), Seq(3, false)),
      (wordChunks, Seq(text), Seq(3)),
      (asciiTokens, Seq(text), Nil),
      (unicodeTokens, Seq(text), Nil),
      (ngramHashPairs, Seq(text), Seq(3, false)),
      (wordNgramStream, Seq(text), Seq(2, false)),
      (passageChunks, Seq(text), Seq(4, 2, false)),
      (charNgramsLid, Seq(text), Seq(3)),
      (gpt2Pretokens, Seq(text), Nil),
      (bpeEncode, Seq(text), Seq(Seq(("t", "h"), ("th", "e")))),
      (byteBpeEncodeIds, Seq(text), Seq(new ByteBpeTables(Nil,
        graft.text.ByteBpe.Model(Nil, Nil).vocabEntries, Array.empty, Array.empty))),
      (spEncodePieces, Seq(text), Seq(new SpTables(Array("\u2581the", "t"), Array(-1.0, -2.0), -10.0))),
      (removeSpans, Seq(text, "array(named_struct('s', 1L, 'e', 3L))"), Nil),
      (caseFoldSimple, Seq(text), Nil),
      (nfcNormalize, Seq(text), Nil),
      (c4KeepLines, Seq(text), Seq(5)),
      (dedupLines, Seq(text), Nil),
      (gopherCounters, Seq(text), Seq(false)),
      (tokenSetStats, Seq(text), Seq(Seq("the", "a"))),
      (langGuess, Seq(text), Seq(markers.map(_._2), markers.map(_._1), false)),
      (blocklistHits, Seq(text), Seq(Seq("fox", "lazy dog"), true)),
      (dsirBuckets, Seq(text), Seq(16)),
      (dsirScore, Seq("array(id % 4, 1L)"), Seq(Seq(0.5, 1.0, 1.5, 2.0))),
      (dotProduct, Seq(vec, ones), Nil),
      (dist2, Seq(vec, ones), Nil),
      (cosineSim, Seq(vec, ones), Nil),
      (vecMaxAbs, Seq(vec), Nil),
      (quantizeInt8, Seq(vec), Nil),
      (quantSumInt8, Seq(vec), Nil),
      (hyperplaneBucket, Seq(vec), Seq(Seq(1.0, 0.0, -1.0, 0.5, 0.5, 0.5), 3)),
      (hyperplaneProbes, Seq(vec), Seq(Seq(1.0, 0.0, -1.0, 0.5, 0.5, 0.5), 3, 1)),
      (nearestCentroids, Seq(vec), Seq(cents, 3, 1)),
      (nearestCentroidDist, Seq(vec), Seq(cents, 3)),
      (centroidResidual, Seq(vec, "id % 2"), Seq(cents, 3)),
      (matVec, Seq(vec), Seq(Seq(1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0), 3)),
      (pqAdcDists, Seq("array(id % 2, 1L)"), Seq(Seq(0.1, 0.2, 0.3, 0.4), 2, 2)),
      (pqAdcDistAt, Seq("array(id % 2, 1L)", "id % 1"), Seq(Seq(0.1, 0.2, 0.3, 0.4), 2, 2)),
      (urlHost, Seq("concat('https://User@Example.com:8080/p', id)"), Nil),
      (registrableDomainOfHost, Seq("concat('a.b', id, '.example.co.uk')"), Seq(Seq("co.uk", "uk"))),
      (gzip, Seq(text), Nil),
      (gunzip, Seq(bytes), Seq(1024)),
      (warcParse, Seq(text), Nil),
      (stripLinesByFp, Seq(text, "array(1L, 2L)"), Nil),
      (imageDhash64, Seq(bytes), Nil),
      (imagePhash64, Seq(bytes), Nil),
      (hllEstimate, Seq("array_repeat(CAST(id AS INT), 16)"), Seq(4)))
  }

  private def applied(k: Kernel, inputs: Seq[String], params: Seq[Any]): DataFrame =
    sql.range(3).select(k(inputs.map(expr) ++ params: _*).as("r"))

  /** A kernel's SQL call: its inputs, then each parameter SQL does not fix. */
  private def sqlCall(name: String, k: Kernel, inputs: Seq[String], params: Seq[Any]): String = {
    val lits = k.params.zip(params).collect { case (p, v) if p.sqlValue.isEmpty => v match {
      case l: Long => s"${l}L"
      case ss: Seq[_] => ss.map(x => s"'$x'").mkString("array(", ", ", ")")
      case other => other.toString
    } }
    s"$name(${(inputs ++ lits).mkString(", ")})"
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
    // every SQL-registered kernel: the SQL text and the Column API agree
    val sqlKernels = samples.filter(_._1.sqlName.isDefined)
    assert(sqlKernels.length === Kernels.all.count(_.sqlName.isDefined))
    sqlKernels.foreach { case (k, inputs, params) =>
      val viaSql = sql.sql(s"SELECT ${sqlCall(k.sqlName.get, k, inputs, params)} AS r FROM range(3)")
      val fixed = k.params.zip(params).map { case (p, v) => p.sqlValue.getOrElse(v) }
      assert(viaSql.collect().toSeq === applied(k, inputs, fixed).collect().toSeq, k.name)
    }
  }

  test("every declared kernel has a sample; a wrong-typed first input fails analysis naming it") {
    assert(samples.map(_._1).toSet === Kernels.all.toSet)
    assert(Kernels.all.map(_.name).distinct.length === Kernels.all.length)
    samples.foreach { case (k, inputs, params) =>
      val e = intercept[AnalysisException](applied(k, "true" +: inputs.tail, params).collect())
      assert(e.getMessage.contains(k.name), s"${k.name}: ${e.getMessage}")
      k.sqlName.foreach { n =>
        val s = intercept[AnalysisException](
          sql.sql(s"SELECT ${sqlCall(n, k, "true" +: inputs.tail, params)} FROM range(1)").collect())
        assert(s.getMessage.contains(k.name), s"$n: ${s.getMessage}")
      }
    }
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
    // the registered names and arities (builders reject any other count)
    val arities = GraftFunctions.all.map { case (id, _, build) =>
      id.funcName -> (0 to 5).filterNot { n =>
        try { build(Seq.fill(n)(org.apache.spark.sql.catalyst.expressions.Literal(1))); false }
        catch {
          case a: IllegalArgumentException => a.getMessage.contains("argument(s)")
          case _: Exception => false
        }
      }
    }.sortBy(_._1)
    assert(arities === Seq(
      "graft_ascii_tokens" -> Seq(1), "graft_blocklist_hits" -> Seq(3),
      "graft_c4_keep_lines" -> Seq(2), "graft_case_fold_simple" -> Seq(1),
      "graft_cosine_sim" -> Seq(2), "graft_dist2" -> Seq(2), "graft_dot_product" -> Seq(2),
      "graft_dup_ngram_fraction" -> Seq(2), "graft_hll_estimate" -> Seq(2),
      "graft_hll_merge" -> Seq(2), "graft_hll_sketch" -> Seq(2),
      "graft_image_dhash64" -> Seq(1), "graft_jaccard_sorted" -> Seq(2),
      "graft_kmv_distinct_estimate" -> Seq(2), "graft_kmv_jaccard_estimate" -> Seq(3),
      "graft_kmv_sketch" -> Seq(2), "graft_lang_guess" -> Seq(1),
      "graft_minhash_portable_sig" -> Seq(4), "graft_minhash_sig" -> Seq(4),
      "graft_nfc_normalize" -> Seq(1), "graft_ngram_hash_pairs" -> Seq(2),
      "graft_quant_sum_int8" -> Seq(1), "graft_quantize_int8" -> Seq(1),
      "graft_remove_spans" -> Seq(2), "graft_shingle_hash_set" -> Seq(2),
      "graft_shingle_hash_set_portable" -> Seq(2), "graft_sig_match_count" -> Seq(2),
      "graft_simhash60_portable" -> Seq(1), "graft_simhash64" -> Seq(1),
      "graft_strip_lines_by_fp" -> Seq(2), "graft_unicode_tokens" -> Seq(1),
      "graft_vec_max_abs" -> Seq(1), "graft_vec_pool" -> Seq(2),
      "graft_winnowing" -> Seq(3), "graft_winnowing_portable" -> Seq(3),
      "graft_word_bigrams" -> Seq(1), "graft_word_chunks" -> Seq(2),
      "graft_word_ngram_stream" -> Seq(2), "graft_word_ngrams" -> Seq(2)))
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
    // every declared kernel: one direct call of its entry point in the
    // stage's generated source, and the same values interpreted
    samples.foreach { case (k, inputs, params) =>
      val df = applied(k, inputs, params)
      val compiled = df.collect().toSeq
      val stages = graft.tools.PlanWalk.collectDeep(df.queryExecution.executedPlan) {
        case w: WholeStageCodegenExec => w
      }
      assert(stages.nonEmpty, s"${k.name} left whole-stage codegen:\n${df.queryExecution.executedPlan}")
      val entry = df.queryExecution.analyzed.expressions.flatMap(_.collect {
        case e: KernelExpr => e.entryPoint
      }).head
      val call =
        if (java.lang.reflect.Modifier.isStatic(entry.getModifiers))
          s"${entry.getDeclaringClass.getName}.${entry.getName}("
        else s".${entry.getName}("
      assert(stages.exists(_.doCodeGen()._2.body.contains(call)), s"${k.name}: no $call")
      val interpreted = withInterpretedEval(applied(k, inputs, params).collect().toSeq)
      assert(interpreted === compiled, k.name)
    }
  }

  private def withInterpretedEval[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    keys.foreach { case (key, v) => sql.conf.set(key, v) }
    try body finally keys.foreach { case (key, _) => sql.conf.unset(key) }
  }
}
