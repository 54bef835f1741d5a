package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Kernels

/** Overlapping passage chunking — the RAG / retrieval-corpus shape: split
  * each document into token windows of `windowTokens` advancing by
  * `strideTokens` (overlap = window - stride), rejoined with single
  * spaces. Every embedding-index and context-window-bounded training
  * pipeline needs exactly this operator between "clean corpus" and
  * "embed/pack".
  *
  * Chunk layout (the LangChain/LlamaIndex-standard fixed-token splitter,
  * made deterministic):
  *  - tokens are the engine-wide `\s+`-run convention (same class as
  *    [[graft.functions.TextFunctions.tokenCount]] and the q74 Gopher
  *    kernel — Java `\s`, fuzz-proven to agree with DuckDB's
  *    `string_split_regex('\s+')`);
  *  - chunk `i` covers tokens `[i*stride, i*stride + window)`;
  *  - the chunk count for an n-token doc is `1 + ceil((n-window)/stride)`
  *    (1 when `0 < n <= window`, 0 when the doc has no tokens) — i.e.
  *    generation stops with the first chunk that reaches the end of the
  *    document, so no trailing chunk is a strict suffix-subset of its
  *    predecessor;
  *  - the final chunk may be shorter than `window` (its `n_tokens` says
  *    so); joining with a single space canonicalizes intra-chunk
  *    whitespace, which is what embedding tokenizers want anyway.
  *
  * Plan shape / 100 TB: a pure map stage — ONE compiled pass per document
  * ([[graft.functions.Kernels.passageChunks]]: tokenize, arithmetic chunk
  * count, build every chunk) followed by a `posexplode`. Zero shuffles,
  * zero UDFs, no interpreted higher-order functions, and the scan prunes
  * to (id, text). Output row count is ~n/stride per doc —
  * the caller-chosen fan-out — and each output row carries only its own
  * chunk text, so downstream exchanges never see the full document again.
  * Cost is O(tokens * window/stride) per doc (each token is copied into
  * window/stride chunks — the inherent overlap cost, not a plan artifact).
  *
  * Reference surface parity note: the reference engine has no chunking
  * surface; this is part of the beyond-the-reference LLM-pipeline mandate
  * (SURVEY §2.13).
  */
object Chunker {

  /** (doc_id, chunk_idx, n_tokens, chunk_text) for every window; see
    * object doc for the exact layout contract.
    */
  def chunkPassages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      windowTokens: Int,
      strideTokens: Int,
      unicode: Boolean = false): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    require(strideTokens > 0 && strideTokens <= windowTokens,
      s"strideTokens must be in [1, windowTokens], got $strideTokens")
    // one compiled pass per document (Kernels.passageChunks); posexplode's
    // position IS the chunk index, so the kernel carries no redundant
    // index field. Null/token-less docs yield null/empty arrays -> no rows.
    // unicode = true swaps the `\s+`-run token unit for the multilingual
    // tier (codepoint-class runs, CJK singles) so windowTokens budgets
    // the same thing on every script — a CJK doc is no longer "one token".
    val chunks = Kernels.passageChunks(col(textCol), windowTokens, strideTokens, unicode)
    df.select(col(idCol).as("doc_id"),
        posexplode(chunks).as(Seq("chunk_idx", "__c")))
      .select(
        col("doc_id"),
        col("chunk_idx").cast("long").as("chunk_idx"),
        col("__c.n_tokens").as("n_tokens"),
        col("__c.chunk_text").as("chunk_text"))
  }
}
