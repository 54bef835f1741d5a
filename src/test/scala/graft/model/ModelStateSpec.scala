package graft.model

import graft.SparkSpec
import graft.text.{ByteBpe, UnigramLm}
import org.apache.spark.sql.functions._

/** The trained-model artifact contract: save -> load round-trips every
  * double/long/string BIT-IDENTICALLY and in pinned order, and a load
  * with mismatched hyper-parameters REFUSES loudly (the DedupState
  * fail-fast convention extended to PQ/OPQ/byte-BPE/LM models).
  */
class ModelStateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    tempDir(s"graft_modelstate_$name").toString + "/artifact"
  }

  // ---- LM ----

  private lazy val lmModel = Seq(
    (42L, 1.0 / 3.0, 1.0 / 97.0),
    (7L, 2.0 / 7.0, 1.0 / 97.0),
    (-9L, math.Pi / 11.0, 1.0 / 97.0))
    .toDF("g", "prob", "unseen_prob")

  test("LM artifact round-trips bit-identically") {
    val path = tmp("lm")
    ModelState.saveLmModel(lmModel, n = 3, unicode = false, path)
    val loaded = ModelState.loadLmModel(spark, path, n = 3)
    val got = loaded.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    val want = lmModel.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    // exact double equality — parquet stores IEEE doubles verbatim
    assert(got.toSeq === want.toSeq)
  }

  test("LM artifact refuses a mismatched order or tokenizer tier") {
    val path = tmp("lm_mismatch")
    ModelState.saveLmModel(lmModel, n = 3, unicode = false, path)
    val e1 = intercept[IllegalArgumentException](ModelState.loadLmModel(spark, path, n = 5))
    assert(e1.getMessage.contains("different order/tier"))
    val e2 = intercept[IllegalArgumentException](
      ModelState.loadLmModel(spark, path, n = 3, unicode = true))
    assert(e2.getMessage.contains("different order/tier"))
  }

  test("LM artifact refuses a frame that is not an LM artifact") {
    val path = tmp("lm_wrong_schema")
    Seq((1L, "x")).toDF("g", "gram").write.parquet(path)
    val e = intercept[IllegalArgumentException](ModelState.loadLmModel(spark, path, n = 3))
    assert(e.getMessage.contains("schema mismatch"))
  }

  test("save -> load -> score equals train -> score bit-identically") {
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox naps under the warm sun every single day"),
      (2L, "completely unrelated gibberish tokens zxq vbn mmk ploy wert"))
      .toDF("doc_id", "text")
    val trained = UnigramLm.trainNgramModelHashed(docs, "text", n = 3, maxGrams = 64)
    val path = tmp("lm_score")
    ModelState.saveLmModel(trained, n = 3, unicode = false, path)
    val loaded = ModelState.loadLmModel(spark, path, n = 3)
    def scores(m: org.apache.spark.sql.DataFrame) =
      UnigramLm.scoreNgramsWithModel(docs, "doc_id", "text", m, n = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(scores(loaded) === scores(trained))
  }

  // ---- PQ ----

  private val dim = 8
  private val pqCent: Seq[Double] = (0 until 2 * dim).map(i => math.sqrt(i + 2.0))
  private val pqCbs: Seq[Seq[Double]] = Seq(
    (0 until 3 * 4).map(i => 1.0 / (i + 3)),
    (0 until 3 * 4).map(i => math.Pi * (i + 1) / 7.0))

  test("PQ artifact round-trips centroids and codebooks bit-identically") {
    val path = tmp("pq")
    ModelState.savePqModel(spark, path, pqCent, pqCbs, dim)
    val (cent, cbs) = ModelState.loadPqModel(spark, path, dim, m = 2, ksub = 3)
    assert(cent === pqCent)
    assert(cbs === pqCbs)
  }

  test("PQ artifact supports flat PQ (no coarse quantizer)") {
    val path = tmp("pq_flat")
    ModelState.savePqModel(spark, path, Seq.empty, pqCbs, dim)
    val (cent, cbs) = ModelState.loadPqModel(spark, path, dim, m = 2, ksub = 3)
    assert(cent.isEmpty)
    assert(cbs === pqCbs)
  }

  test("PQ artifact refuses mismatched geometry") {
    val path = tmp("pq_mismatch")
    ModelState.savePqModel(spark, path, pqCent, pqCbs, dim)
    val e = intercept[IllegalArgumentException](
      ModelState.loadPqModel(spark, path, dim, m = 4, ksub = 3))
    assert(e.getMessage.contains("different (dim, m, ksub)"))
    val e2 = intercept[IllegalArgumentException](
      ModelState.loadPqModel(spark, path, dim = 16, m = 2, ksub = 3))
    assert(e2.getMessage.contains("different (dim, m, ksub)"))
  }

  // ---- rotation ----

  test("rotation artifact round-trips bit-identically and refuses a wrong dim") {
    val r: Seq[Double] = (0 until dim * dim).map(i => math.cos(i * 0.37))
    val path = tmp("rot")
    ModelState.saveRotation(spark, path, r, dim)
    assert(ModelState.loadRotation(spark, path, dim) === r)
    val e = intercept[IllegalArgumentException](ModelState.loadRotation(spark, path, 16))
    assert(e.getMessage.contains("different dim"))
    val e2 = intercept[IllegalArgumentException](
      ModelState.saveRotation(spark, tmp("rot_bad"), r.tail, dim))
    assert(e2.getMessage.contains("row-major"))
  }

  // ---- byte BPE ----

  test("byte-BPE artifact reconstructs the identical model (ids, encode, decode)") {
    val docs = Seq.tabulate(8)(i => s"hello world hello there world peace $i").toDF("text")
    val model = ByteBpe.train(docs, "text", numMerges = 12,
      specials = Seq("<|endoftext|>", "<|pad|>"))
    val path = tmp("bpe")
    ModelState.saveByteBpe(spark, path, model)
    val loaded = ModelState.loadByteBpe(spark, path)
    assert(loaded.merges === model.merges)
    assert(loaded.specials === model.specials)
    assert(loaded.vocabEntries === model.vocabEntries)
    val text = "hello world<|endoftext|>and more"
    val idsOf = (m: ByteBpe.Model) => Seq(text).toDF("text")
      .select(ByteBpe.encodeIds(col("text"), m).as("ids"))
      .collect()(0).getSeq[Long](0)
    assert(idsOf(loaded) === idsOf(model))
    assert(ByteBpe.decode(idsOf(loaded), loaded) === text)
  }

  test("byte-BPE artifact refuses a non-artifact frame") {
    val path = tmp("bpe_wrong")
    Seq((0, "a", "b")).toDF("rank", "left", "right").write.parquet(path)
    val e = intercept[IllegalArgumentException](ModelState.loadByteBpe(spark, path))
    assert(e.getMessage.contains("schema mismatch"))
  }
}
