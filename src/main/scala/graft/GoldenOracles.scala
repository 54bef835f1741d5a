package graft

/** Committed-golden VALUES oracles for the nine queries whose outputs are
  * JVM-hash-specific (xxhash64 / splitmix64 / rolling-poly / seeded binary
  * payloads) and therefore have no engine-independent SQL reformulation.
  * The ALGORITHMS behind them are independently oracle-verified through the
  * portable md5 twins (q58/q59/q60) and the MultimodalSpec golden decodes;
  * these literals close the last `no_oracle` gap in the driver gate by
  * pinning the exact outputs, byte-for-byte, as DuckDB-runnable SQL.
  *
  * The pinned outputs are SCALE-SPECIFIC, so they live in per-scale
  * resource files (`golden/<scale>/<query>.sql`, regenerated with
  * tools/make_golden_sql.py after any intentional kernel change — the
  * point is that the kernels never change). Resources rather than string
  * literals because the sf0.1 winnowing set exceeds the JVM's 64 KB
  * string-constant limit. [[forDir]] keys on the data directory's
  * basename; at a scale with no committed goldens a golden query builds
  * with no oracle, so Verify omits it and the checker records an honest
  * rows-only result instead of a wrong-scale value mismatch.
  */
object GoldenOracles {

  /** The golden-oracle query names (stable across scales). */
  val queries: Seq[String] = Seq(
    "q23_minhash_neardup", "q24_simhash_neardup",
    "q32_media_features", "q38_winnowing_pairs",
    "q120_trigram_xent_hashed", "q125_5gram_xent_hashed",
    "q127_byte_bpe_merges", "q128_byte_bpe_tokens",
    "q136_sp_unigram_tokens")

  private def load(scale: String, q: String): Option[String] = {
    val in = getClass.getResourceAsStream(s"/golden/$scale/$q.sql")
    if (in == null) None
    else
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
  }

  /** The golden oracle of `query` selected by the data directory's
    * basename, or None when none is committed for that scale. The in-repo
    * scale-up dirs are named `testdata-sf1`/`testdata-sf10` (the driver's
    * are plain `sf0.01`/`sf0.1`); the prefix is stripped so both naming
    * schemes key the same `golden/<scale>/` resources.
    */
  def forDir(sfDir: String, query: String): Option[String] =
    load(new java.io.File(sfDir).getName.stripPrefix("testdata-"), query)

  /** Every golden oracle committed for the data directory's scale. */
  def forDir(sfDir: String): Map[String, String] =
    queries.flatMap(q => forDir(sfDir, q).map(q -> _)).toMap
}
