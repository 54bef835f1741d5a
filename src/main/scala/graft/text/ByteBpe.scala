package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{ByteBpeTables, Kernels, TextAlgo}

/** BYTE-LEVEL byte-pair encoding — the GPT-2 / tiktoken tokenizer
  * family (Radford et al. 2019) every production LLM export actually
  * ships, where [[Bpe]] is the word-frequency construction of Sennrich
  * 2016. The differences that matter for a training-data pipeline:
  *
  *  - **byte alphabet, no UNK**: symbols start as the 256 UTF-8 bytes
  *    (mapped to printable chars by the public `bytes_to_unicode`
  *    table, [[TextAlgo.Gpt2ByteToChar]] — space is 'Ġ', newline 'Ċ'),
  *    so EVERY string encodes and decodes losslessly; token-budget
  *    selection (L26), packing (L16) and mixing (L29) count tokens the
  *    way the target model will see them;
  *  - **GPT-2 pre-tokenization**: contractions split, a word carries
  *    its leading space (`\p{L}`/`\p{N}`/punct runs with an optional
  *    space prefix, whitespace donates its last space to the next
  *    word) — [[TextAlgo.gpt2Pretokens]], compiled;
  *  - **special tokens**: reserved strings (e.g. `<|endoftext|>`)
  *    matched atomically before pre-tokenization, assigned the ids
  *    AFTER the merge vocabulary — GPT-2's own layout (256 bytes +
  *    50000 merges + 1 special = 50257).
  *
  * Training reuses [[Bpe.trainOnWordCounts]]'s incremental merge loop
  * verbatim — a pre-token's byte-char form is a sequence of single BMP
  * code points, exactly the symbol model the loop already handles. The
  * distributed work stays ONE map-side-combined word-frequency agg
  * (over compiled GPT-2 pre-tokens); the driver never sees a document.
  *
  * Id layout: 0..255 the byte alphabet ordered by mapped code point
  * (so '!' is id 0, as in GPT-2's encoder.json), 256+i for merge rank
  * i (token = left+right), then specials.
  *
  * Oracle note: the pre-tokenizer's `\s+(?!\S)` lookahead has no RE2
  * (DuckDB) form, so the declared queries pin scale-keyed golden
  * VALUES (the q120 pattern); the algorithm itself is spec-verified
  * against the public GPT-2 byte-table facts, hand-computed merges,
  * and the lossless round-trip property.
  */
object ByteBpe {

  /** A trained byte-level vocabulary: ordered merges + reserved
    * specials, with the derived token -> id table.
    */
  final case class Model(merges: Seq[(String, String)], specials: Seq[String]) {
    require(specials.distinct.length == specials.length, "duplicate special tokens")
    /** (token in byte-char form, id); specials in their literal form. */
    lazy val vocabEntries: Seq[(String, Int)] = {
      val base = (0 until 256).map(b => TextAlgo.Gpt2ByteToChar(b))
        .sorted.zipWithIndex.map { case (c, i) => (String.valueOf(c), i) }
      val merged = merges.zipWithIndex.map { case ((l, r), i) => (l + r, 256 + i) }
      val spec = specials.zipWithIndex.map { case (s, j) => (s, 256 + merges.length + j) }
      base ++ merged ++ spec
    }
    def vocabSize: Int = 256 + merges.length + specials.length
    lazy val idToToken: Map[Int, String] = vocabEntries.map(_.swap).toMap
    private[text] lazy val tables: ByteBpeTables = new ByteBpeTables(
      merges, vocabEntries, specials.toArray,
      specials.indices.map(j => (256 + merges.length + j).toLong).toArray)
  }

  /** Learn `numMerges` byte-level merges. Pre-token frequencies are the
    * only distributed work (one agg + a TakeOrdered cap); the capped
    * table maps to byte-char form on the driver and feeds
    * [[Bpe.trainOnWordCounts]]. Specials are reserved ids only — they
    * do not participate in training (the GPT-2 convention).
    */
  def train(
      df: DataFrame,
      textCol: String,
      numMerges: Int,
      minCount: Long = 1L,
      maxVocabWords: Int = 1000000,
      specials: Seq[String] = Seq.empty): Model = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(maxVocabWords > 0, s"maxVocabWords must be positive, got $maxVocabWords")
    val words = df
      .select(explode(Kernels.gpt2Pretokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount)
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxVocabWords)
      .collect()
      .map(r => (TextAlgo.gpt2ByteForm(r.getString(0)), r.getLong(1)))
    Model(Bpe.trainOnWordCounts(words, numMerges), specials)
  }

  /** Token ids of the text under the trained model (compiled, zero
    * shuffle): array<long>, specials atomic, never an UNK.
    */
  def encodeIds(text: Column, model: Model): Column =
    Kernels.byteBpeEncodeIds(text, model.tables)

  /** Token count under the trained model. */
  def tokenCount(text: Column, model: Model): Column =
    size(encodeIds(text, model))

  /** Lossless inverse of [[encodeIds]] (driver-side — the round-trip
    * verifier and the detokenization path for bounded samples).
    */
  def decode(ids: Seq[Long], model: Model): String = {
    val specialSet = model.specials.toSet
    val bytes = new scala.collection.mutable.ArrayBuffer[Byte]()
    ids.foreach { id =>
      val tok = model.idToToken.getOrElse(id.toInt,
        throw new IllegalArgumentException(s"id $id is not in the vocabulary"))
      if (specialSet.contains(tok))
        bytes ++= tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      else bytes ++= TextAlgo.gpt2BytesOf(tok)
    }
    new String(bytes.toArray, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** The merges as a (rank, left, right) DataFrame in byte-char form —
    * the persistable vocabulary artifact (the [[Bpe.mergesTable]]
    * shape).
    */
  def mergesTable(spark: org.apache.spark.sql.SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
  }
}
