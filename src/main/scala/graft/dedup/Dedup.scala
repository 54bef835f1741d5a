package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Kernels, TextFunctions}
import graft.functions.Columns.quoted

/** Document deduplication at corpus scale.
  *
  * Four families, in increasing fuzziness:
  *  - exact (content hash) — one shuffle on the hash key;
  *  - near-dup via MinHash + LSH banding — the standard web-corpus design
  *    (shingle -> minhash signature -> band keys -> bucket self-join):
  *    candidate generation shuffles on BAND KEYS, never compares all pairs;
  *  - SimHash (Hamming-ball near-dup) — bucket by rotated prefixes;
  *  - embedding cosine near-dup — see [[graft.similarity.Similarity]].
  *
  * Scale notes: every method is a constant number of shuffles independent of
  * corpus size; candidate verification joins carry only (id, signature), the
  * full text/row is re-attached at the end by id — at 100 TB you never
  * shuffle document bodies, only ids and fixed-width sketches.
  */
object Dedup {

  /** The candidate join of every LSH-style blocking here: `df` (an `id`
    * column plus the blocking `keys`) joined with itself on equal `keys`
    * and `l.id < r.id`, the two sides aliased `l` and `r`, after dropping
    * the rows whose `keys` tuple occurs more than `cap` times.
    *
    * That skew guard's hot-key set is a partial-aggregated groupBy
    * (map-side combined, and tiny by construction: a key survives only if
    * > cap rows share it — pathological boilerplate, rare by definition)
    * broadcast LEFT ANTI against the stream. The round-2 version counted
    * via `count().over(Window.partitionBy(keys))`, which re-shuffled the
    * FULL exploded (id, fingerprint) stream once more before the
    * candidate join; the anti-join adds no shuffle of the stream, and the
    * two self-join sides still collapse into one ReusedExchange
    * downstream. The count projects the keys only, so a payload column
    * (a signature) never enters the occupancy aggregate's shuffle.
    */
  private def guardedSelfJoin(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val hot = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") > cap)
      .select(keys.map(col): _*)
    val trimmed = df.join(broadcast(hot), keys, "left_anti")
    trimmed.alias("l").join(trimmed.alias("r"),
      keys.map(k => col(s"l.$k") === col(s"r.$k")).reduce(_ && _) && col("l.id") < col("r.id"))
  }

  /** The LSH band keys of a `sig` column of `bands * rowsPerBand`
    * minhashes, to explode: one struct(band, bucket) per band, bucket =
    * `xxhash64` of the band's slice of the signature and the band index.
    * [[bandBucket]] is its JVM twin.
    */
  private[dedup] def bandKeys(bands: Int, rowsPerBand: Int): Column =
    explode(transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b).as("bucket"))))

  /** JVM twin of the Catalyst band key [[bandKeys]],
    * `xxhash64(slice(sig, band*rowsPerBand+1, rowsPerBand), band)`:
    * XXH64-fold the band's signature rows from Catalyst's fixed seed 42,
    * then fold the band index as an int — byte-identical to
    * `XxHash64(Seq(array<bigint>, int))` interpretation/codegen, which
    * hashes children left-to-right chaining the accumulator as the seed
    * (array elements first, element-wise). Lockstep is spec-enforced
    * (`DedupSpec` "bandBucket lockstep"); drift would silently drop
    * canonical-band emissions.
    */
  private[dedup] def bandBucket(sig: Seq[Long], band: Int, rowsPerBand: Int): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    var h = 42L
    var i = band * rowsPerBand
    val end = math.min(i + rowsPerBand, sig.length)
    while (i < end) { h = XXH64.hashLong(sig(i), h); i += 1 }
    XXH64.hashInt(band, h)
  }

  /** Exact dedup on a normalized content fingerprint; keeps the row with the
    * smallest `idCol` per duplicate set. Single hash-aggregate shuffle on
    * the fingerprint — no skew (hashes are uniform).
    *
    * NULL texts are NOT duplicates of each other — each passes through
    * (the partition key falls back to the row id). Texts that normalize to
    * the same string (including punctuation-only docs collapsing to "")
    * ARE duplicates: identical normalized content is the definition here.
    */
  def exact(df: DataFrame, textCol: String, idCol: String,
      unicode: Boolean = false, nfc: Boolean = false,
      caseFold: Boolean = false): DataFrame = {
    // unicode = true: the fingerprint keeps letters of every script —
    // the ascii normalization maps ALL CJK docs to "" (one giant
    // duplicate group); see TextFunctions.fingerprint
    // nfc = true: canonical-compose before fingerprinting, so composed
    // and decomposed encodings of the same visible text dedupe together
    // caseFold = true: Unicode simple case folding after NFC — case
    // variants in ANY script (and final-vs-medial sigma) dedupe
    // together; spec-verified tier (engine-divergent, no SQL twin)
    val fp = TextFunctions.fingerprint(quoted(textCol), unicode, nfc, caseFold)
    val key = coalesce(fp, concat(lit("__graft_null__:"), quoted(idCol).cast("string")))
    // min_by over the whole row, NOT a row_number window (r12): the
    // aggregate partial-merges duplicate groups MAP-SIDE, so the
    // exchange carries one candidate row per (fingerprint, map
    // partition) instead of every duplicate, and the per-partition sort
    // a window needs disappears (guide §2.3 "aggregate before you
    // shuffle"). Keep-smallest-id, nulls last: min_by skips rows whose
    // ordering is NULL, so a bare idCol ordering would reduce a group
    // whose ids are all null to one all-null row; the never-null
    // (isnull(id), id) struct keeps a real row there and still picks
    // the smallest non-null id everywhere else.
    val cols = df.columns.toSeq
    df.groupBy(key.as("__graft_fp"))
      .agg(min_by(struct(cols.map(quoted): _*),
        struct(isnull(quoted(idCol)), quoted(idCol))).as("__graft_row"))
      .select(cols.map(c => col("__graft_row").getField(c).as(c)): _*)
  }

  /** Duplicate-set sizes by fingerprint: (fingerprint, n_docs, min_id). */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** Streaming exact dedup: drop any document whose normalized fingerprint
    * was already seen within the event-time watermark — the incremental
    * twin of [[exact]] for continuous ingestion. State is one fingerprint
    * per kept document, evicted once the watermark passes `delay`, so state
    * size follows the dedup horizon, not the stream length. In batch
    * execution the same call degrades to a plain fingerprint dropDuplicates
    * (first-seen arbitrary — batch has no arrival order).
    */
  def streamingExactDedup(
      df: DataFrame,
      textCol: String,
      eventTimeCol: String,
      delay: String): DataFrame =
    streamingExactDedup(df, textCol, eventTimeCol, delay, priorState = None)

  /** [[streamingExactDedup]] against PRIOR-CRAWL state: documents whose
    * fingerprint appears in `priorState` (a [[DedupState]] fingerprint
    * artifact — typically `DedupState.loadFingerprintState`) are dropped
    * BEFORE the watermark dedup, as a stream-static LEFT ANTI join (the
    * static side re-reads per micro-batch; a parquet-backed state frame
    * is scan-pruned to the one fingerprint column). The cross-crawl
    * incremental shape: the stream dedups against everything crawls
    * 1..N ever kept without rescanning them, and within itself inside
    * the watermark. NULL texts still pass through un-deduped.
    */
  def streamingExactDedup(
      df: DataFrame,
      textCol: String,
      eventTimeCol: String,
      delay: String,
      priorState: Option[DataFrame]): DataFrame = {
    priorState.foreach(st =>
      require(st.columns.toSeq == Seq("fingerprint"),
        s"prior state must be a (fingerprint) frame, got ${st.columns.mkString(",")}"))
    val withFp0 = df.withColumn("__graft_fp", TextFunctions.fingerprint(col(textCol)))
    val withFp = priorState match {
      case None => withFp0
      case Some(st) =>
        // null fps never match the anti-join key (and the state holds no
        // nulls by the DedupState contract), so LEFT ANTI keeps them —
        // they reach the null pass-through below unchanged
        withFp0.join(st.select(col("fingerprint").as("__graft_fp")),
          Seq("__graft_fp"), "left_anti")
    }
    // NULL fingerprints (null text) pass through un-deduped: they are not
    // duplicates of each other, and dropDuplicates treats null keys as
    // equal. The pass-through branch is stateless, so it needs no
    // watermark of its own.
    val nullFp = withFp.where(col("__graft_fp").isNull)
    val deduped =
      if (df.isStreaming)
        withFp.where(col("__graft_fp").isNotNull)
          .withWatermark(eventTimeCol, delay)
          .dropDuplicatesWithinWatermark("__graft_fp")
      else withFp.where(col("__graft_fp").isNotNull).dropDuplicates("__graft_fp")
    deduped.union(nullFp).drop("__graft_fp")
  }

  /** MinHash-LSH candidate pairs: ids (a, b), a < b, that share at least one
    * LSH band. `bands * rowsPerBand` hash functions; two documents with
    * Jaccard similarity s collide in some band with prob
    * 1 - (1 - s^rowsPerBand)^bands.
    *
    * Plan shape: project (id, signature) -> explode to (bandKey, id) ->
    * self-join on bandKey -> distinct pairs. The explode carries
    * `bands` rows of (long, id) per document; the join shuffles on uniform
    * hash keys. Giant buckets (all-identical boilerplate docs) are the one
    * skew risk — `maxBucketSize` drops pathological buckets, the standard
    * web-dedup mitigation.
    */
  def minhashCandidatePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 5,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sig = TextFunctions.minhashSignature(col(textCol), shingleSize, numHashes, seed)
    val withSig = df.select(col(idCol).as("id"), sig.as("sig"))
      .where(size(col("sig")) > 0)
    val buckets = withSig.select(col("id"), bandKeys(bands, rowsPerBand).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket"))
    guardedSelfJoin(buckets, Seq("band", "bucket"), maxBucketSize)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
  }

  /** Near-duplicate pairs: MinHash-LSH candidates verified by exact n-gram
    * Jaccard similarity >= `threshold`. Verification re-joins shingle SETS
    * by id (ids only in the shuffle) and computes
    * |A intersect B| / |A union B| with set expressions.
    *
    * SCALE SHAPE (reworked after the round-7 sf100 campaign, where 5M
    * docs produced 113M banded candidates and the verify joins shuffled
    * candidate×set products past local scratch):
    *  - the full SIGNATURE rides the banded self-join (fixed 8·numHashes
    *    bytes per row — the join input stays a bounded-width shuffle),
    *    so the MinHash jaccard ESTIMATE (matching-component fraction,
    *    compiled [[graft.functions.Kernels.sigMatchCount]]) is computable
    *    IN-STAGE on every candidate row before anything wide exists;
    *  - `estFloor` (default threshold·5/8) drops candidates whose
    *    estimate can't plausibly reach `threshold`: for a TRUE pair at
    *    jaccard=t the estimate is Binomial(numHashes, t)/numHashes, so
    *    P(est < 5t/8) at t=0.8, 32 hashes is ~3e-5 — statistically
    *    invisible, while the moderate-similarity false candidates
    *    (est ≈ their true jaccard << t) die here, typically >99% of the
    *    banded output;
    *  - only est-survivors are distinct'd and verified, and the
    *    multi-KB shingle-SET arrays attach to exactly those ids (the
    *    candidate-id list broadcasts; the sets scan filters map-side).
    * Set `estFloor = 0.0` to disable the prefilter (exact legacy plan).
    * Registers the candidate checkpoint with [[graft.etl.CacheTracker]].
    */
  def nearDuplicatePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.8,
      shingleSize: Int = 5,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      seed: Long = 42L,
      estFloor: Double = -1.0,
      maxBucketSize: Int = 1000): DataFrame =
    minhashPairs(df, idCol,
      TextFunctions.minhashSignature(col(textCol), shingleSize, bands * rowsPerBand, seed),
      TextFunctions.shingleHashSet(col(textCol), shingleSize),
      threshold, bands, rowsPerBand, estFloor, maxBucketSize)

  /** The MinHash-LSH engine behind [[nearDuplicatePairs]], over ANY
    * signature column and shingle-set column — the way [[hammingPairs64]]
    * takes any 64-bit hash column — so the md5-derived portable kernels
    * (q59) run the same banding, hot-bucket guard, estimate prefilter,
    * candidate checkpoint, id prune and exact-Jaccard verify as the
    * splitmix64 production kernels. `sig` is an array<long> of
    * `bands * rowsPerBand` minhashes (rows with an empty signature drop
    * out); `shingles` is the sorted distinct long set
    * [[TextFunctions.jaccardSorted]] reads. Output (id_a, id_b, jaccard).
    */
  private[graft] def minhashPairs(
      df: DataFrame,
      idCol: String,
      sig: Column,
      shingles: Column,
      threshold: Double,
      bands: Int,
      rowsPerBand: Int,
      estFloor: Double,
      maxBucketSize: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val floor = if (estFloor < 0) threshold * 5.0 / 8.0 else estFloor
    val minMatches = math.ceil(floor * numHashes).toInt
    val withSig = df.select(col(idCol).as("id"), sig.as("sig"))
      .where(size(col("sig")) > 0)
    val buckets = withSig.select(col("id"), col("sig"), bandKeys(bands, rowsPerBand).as("bk"))
      .select(col("id"), col("sig"), col("bk.band"), col("bk.bucket"))
    // checkpointed (tracked — see CacheTracker.unpersistCaches): the
    // candidate-id prune reads the survivors twice. Without it (Bench,
    // best of 2, local[4] on 4 cores, 5 alternating pairs) q23 took
    // 2.72 s against 2.47 s at sf0.1 (1/5 pairs faster) and 7.36 s
    // against 6.64 s on a 10x ScaleUp of its documents (0/5); q59 tied
    val cands = graft.etl.CacheTracker.checkpointTracked(
      guardedSelfJoin(buckets, Seq("band", "bucket"), maxBucketSize)
        .where(Kernels.sigMatchCount(col("l.sig"), col("r.sig")) >= minMatches)
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
        .distinct())
    val candIds = broadcast(
      cands.select(col("id_a").as("id"))
        .union(cands.select(col("id_b").as("id"))).distinct())
    // sorted-distinct 64-bit shingle hashes: exact Jaccard by compiled
    // merge-intersect — candidate rows carry fixed-width hash arrays, never
    // the document text
    val shingleSets = df.select(col(idCol).as("id"), shingles.as("sh"))
      .join(candIds, Seq("id"))
    // sort-merge on the first verify join: when the candidate list is
    // small enough to broadcast, AQE otherwise streams the shingle-set
    // projection through a many-matches-per-id hash join, and codegen
    // defers the set kernel into the match loop — recomputed once per
    // CANDIDATE instead of once per doc (measured on q59 at sf0.1: a
    // 13.5 s single-task stage; the merge join's shuffle materializes
    // each set once)
    val a = shingleSets.alias("sa").hint("merge")
    val b = shingleSets.alias("sb")
    cands
      .join(a, col("id_a") === col("sa.id"))
      .join(b, col("id_b") === col("sb.id"))
      .withColumn("jaccard", TextFunctions.jaccardSorted(col("sa.sh"), col("sb.sh")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact n-gram Jaccard similarity for ALL pairs of a (small) candidate
    * set, or via an equi-join key. For full-corpus use, prefer
    * [[nearDuplicatePairs]] (LSH-pruned).
    */
  def jaccardOfPair(df: DataFrame, textCol: String, idCol: String, shingleSize: Int = 5): DataFrame = {
    val sets = df.select(col(idCol).as("id"),
      TextFunctions.shingleHashSet(col(textCol), shingleSize).as("sh"))
    val a = sets.alias("ja")
    val b = sets.alias("jb")
    a.join(b, col("ja.id") < col("jb.id"))
      .select(col("ja.id").as("id_a"), col("jb.id").as("id_b"),
        TextFunctions.jaccardSorted(col("ja.sh"), col("jb.sh")).as("jaccard"))
  }

  /** Winnowing-fingerprint candidate pairs: documents sharing at least
    * `minShared` MOSS fingerprints (any common substring of length >=
    * shingleSize + window - 1 guarantees a shared fingerprint). Plan:
    * explode (id, fingerprint) -> self-join on the fingerprint ->
    * group-count pairs — ids and 8-byte hashes in the shuffle, never text.
    */
  def winnowingCandidatePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleSize: Int = 5,
      window: Int = 4,
      minShared: Int = 2,
      maxBucketSize: Int = 1000): DataFrame = {
    val fps = df.select(col(idCol).as("id"),
      explode(TextFunctions.winnowingFingerprints(col(textCol), shingleSize, window)).as("fp"))
    guardedSelfJoin(fps, Seq("fp"), maxBucketSize)
      .groupBy(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .where(col("shared_fingerprints") >= minShared)
  }

  /** SimHash near-dup buckets: documents whose 64-bit SimHash agrees on a
    * 16-bit block under each of 4 rotations land in the same bucket — any
    * pair within Hamming distance 3 shares at least one block (pigeonhole).
    * Returns (id_a, id_b, hamming) pairs with hamming <= `maxHamming`.
    */
  def simhashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    val sh = df.select(col(idCol).as("id"), TextFunctions.simhash64(col(textCol)).as("sim"))
    hammingPairs64(sh, "id", "sim", maxHamming, maxBucketSize)
  }

  /** Hamming-ball pair join over ANY 64-bit signature column — the
    * blocking engine behind [[simhashPairs]], shared with perceptual
    * image hashing (graft.multimodal L72). Input: (idCol, hashCol long).
    * Output: (id_a, id_b, hamming <= maxHamming) distinct pairs.
    *
    * Two complete blocking schemes, occupancy-routed:
    *  - `block4`: four 16-bit blocks as LSH join keys; any pair within
    *    Hamming distance 3 shares at least one block (pigeonhole).
    *    Cheapest explode (4x), but candidate volume grows as
    *    ~4*n^2/2^16 once n >> 65k — the birthday regime every
    *    corpus-scale run of ~uniform hashes hits.
    *  - `combo20`: six ~11-bit blocks, keyed on every C(6,3)=20
    *    3-block combination (~32-bit keys) — the multi-table design of
    *    Manku/Jain/Sarma, "Detecting Near-Duplicates for Web Crawling"
    *    (WWW 2007). d <= 3 differing bits dirty at most 3 of 6 blocks,
    *    so some keyed triple is clean on both sides: complete for
    *    maxHamming <= 3. Spurious candidates ~20*n^2/2^32 — four
    *    orders of magnitude below block4 at the cost of a 5x wider
    *    explode of (id, 8-byte hash) rows.
    *
    * `blockScheme`: "block4" | "combo20" | "auto". Auto persists the
    * (id, hash) projection (8+8 bytes/row — tracked, see
    * [[graft.etl.CacheTracker.unpersistCaches]]), counts it, and routes
    * to combo20 at n >= max(2^18, 4096 * maxBucketSize). The binding constraint is
    * RECALL, not wall-clock: block4's spurious candidates are in-stage
    * integer compares (the hamming filter sits below the distinct), so
    * it stays FASTER than combo20's 5x-wider explode well past 5M rows
    * (measured 20 s vs 53 s at 5M) — but its 16-bit buckets fill as
    * n/2^16, and once the occupancy tail crosses `maxBucketSize` the
    * skew guard starts dropping whole buckets (measured: 29 of 1.67M
    * planted pairs lost at 5M with cap 1000; at ~65M rows EVERY bucket
    * would be over a 1000-cap and recall collapses entirely), while
    * combo20's ~32-bit keys keep buckets near-empty at any plausible
    * corpus size (lossless at every measured scale). The 4096 factor
    * switches when expected occupancy n/2^16 is within 16x of the cap
    * — before the non-uniform tail (dHash bits are correlated) reaches
    * it; the 2^18 floor keeps tiny-cap calls from paying the explode
    * overhead at trivial n. maxHamming > 3 always takes block4, where
    * the block join is a recall-bearing prefilter (same contract as
    * banded MinHash); combo20 is complete only to d = 3 and refuses
    * larger radii.
    */
  def hammingPairs64(
      hashed: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      blockScheme: String = "auto"): DataFrame = {
    require(Set("auto", "block4", "combo20")(blockScheme),
      s"blockScheme must be auto|block4|combo20, got $blockScheme")
    require(blockScheme != "combo20" || maxHamming <= 3,
      s"combo20 blocking is complete only for maxHamming <= 3, got $maxHamming")
    val sh0 = hashed.select(col(idCol).as("id"), col(hashCol).as("sim"))
    val (sh, scheme) = blockScheme match {
      case "auto" if maxHamming > 3 => (sh0, "block4")
      case "auto" =>
        // persist, not checkpoint (r12 A/B: the eager checkpoint
        // measured ~0.2 s SLOWER on q111/q129 — the hash frame is read
        // exactly twice and the columnar cache read beats the row-format
        // checkpoint blocks)
        val p = graft.etl.CacheTracker.persistTracked(sh0)
        val comboThreshold = math.max(1L << 18, 4096L * maxBucketSize)
        (p, if (p.count() >= comboThreshold) "combo20" else "block4")
      case s => (sh0, s)
    }
    val keyed =
      if (scheme == "block4") {
        // four 16-bit blocks as LSH join keys
        sh.select(col("id"), col("sim"),
          explode(array((0 until 4).map { i =>
            struct(lit(i).as("blk"),
              shiftrightunsigned(col("sim"), i * 16)
                .bitwiseAND(lit(0xFFFFL)).as("key"))
          }: _*)).as("bk"))
          .select(col("id"), col("sim"), col("bk.blk"), col("bk.key"))
      } else {
        // six blocks (11,11,11,11,10,10 bits, low to high), keyed on
        // every 3-block combination packed into 11-bit slots
        val widths = Seq(11, 11, 11, 11, 10, 10)
        val offsets = widths.scanLeft(0)(_ + _).init
        val block = (i: Int) => shiftrightunsigned(col("sim"), offsets(i))
          .bitwiseAND(lit((1L << widths(i)) - 1))
        val combos = for {
          i <- 0 until 6; j <- (i + 1) until 6; k <- (j + 1) until 6
        } yield (i, j, k)
        sh.select(col("id"), col("sim"),
          explode(array(combos.zipWithIndex.map { case ((i, j, k), idx) =>
            struct(lit(idx).as("blk"),
              (shiftleft(block(i), 22)
                .bitwiseOR(shiftleft(block(j), 11))
                .bitwiseOR(block(k))).as("key"))
          }: _*)).as("bk"))
          .select(col("id"), col("sim"), col("bk.blk"), col("bk.key"))
      }
    // skew guard: templated corpora can put thousands of docs in one
    // block bucket -> quadratic pair blowup; cap like minhash LSH
    guardedSelfJoin(keyed, Seq("blk", "key"), maxBucketSize)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        bit_count(col("l.sim").bitwiseXOR(col("r.sim"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Streaming MinHash-LSH near-duplicate pairs within an event-time
    * horizon — the incremental twin of [[minhashCandidatePairs]] for
    * continuous ingestion: every arriving document is compared against the
    * documents that shared one of its LSH band buckets within the
    * watermark, and a pair is emitted when the SIGNATURE-AGREEMENT Jaccard
    * estimate (matching minhash positions / numHashes — the standard
    * streaming proxy; exact shingle verification would mean keeping full
    * texts in state) reaches `threshold`.
    *
    * State shape: one group per (band, bucket) holding at most
    * `maxBucketState` (id, signature, ts) entries inside the horizon —
    * fixed-width sketches only, watermark-evicted via event-time timeouts,
    * so state size follows bucket occupancy within the horizon, never the
    * stream length; `maxBucketState` is the boilerplate-bucket skew guard
    * (the streaming analogue of the batch path's hot-key anti-join). A
    * pair sharing several bands is emitted ONCE, by the lowest-indexed
    * band whose bucket keys collide (canonical-band emission): each band
    * group holds both full signatures, so it can recompute every band's
    * bucket key via [[bandBucket]] — the JVM twin of the Catalyst key —
    * and stay silent unless it is the first collision. Identical docs
    * collide in every band; without this an Append-mode sink would carry
    * `bands` duplicate rows per pair that no downstream stream can
    * cheaply dedup (Spark does not allow a second stateful dedup after
    * flatMapGroupsWithState). The gate is EXACT (once per pair, no loss)
    * wherever bucket occupancy stays within `maxBucketState`. In a bucket
    * over the cap, the canonical band may have evicted the older doc and
    * emitted nothing while a later band stays silent — a recall loss
    * confined to exactly the hot/boilerplate buckets where recall is
    * already deliberately capped by `maxBucketState` (exact-once with
    * full recall under per-band state eviction would require cross-band
    * coordination no single group has). Batch jobs needing full recall
    * over hot buckets should use [[minhashCandidatePairs]]. In batch
    * execution the same call degrades to per-bucket within-batch pairing
    * (no state, no timeouts).
    */
  def streamingNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      eventTimeCol: String,
      delayMs: Long,
      threshold: Double = 0.8,
      shingleSize: Int = 5,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      seed: Long = 42L,
      maxBucketState: Int = 256): org.apache.spark.sql.Dataset[StreamNearDupPair] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = df.sparkSession
    import spark.implicits._
    val numHashes = bands * rowsPerBand
    val sig = TextFunctions.minhashSignature(col(textCol), shingleSize, numHashes, seed)
    val withSig = df
      .select(col(idCol).cast("long").as("id"), sig.as("sig"), col(eventTimeCol).as("__et"))
      .where(size(col("sig")) > 0)
      .withWatermark("__et", s"$delayMs milliseconds")
    val exploded = withSig
      .select(col("id"), col("sig"), unix_millis(col("__et")).as("ts_ms"),
        bandKeys(bands, rowsPerBand).as("bk"), col("__et"))
      .select(col("id"), col("sig"), col("ts_ms"),
        col("bk.band").as("band"), col("bk.bucket").as("bucket"), col("__et"))
      .as[(Long, Seq[Long], Long, Int, Long, java.sql.Timestamp)]
    val streaming = df.isStreaming
    exploded
      .groupByKey(r => (r._4, r._5))
      .flatMapGroupsWithState[MinhashBucketState, StreamNearDupPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case ((thisBand, _), rows, state: GroupState[MinhashBucketState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MinValue
            var entries = state.getOption.map(_.entries).getOrElse(Nil)
              .filter(_.tsMs >= wm)
            val out = scala.collection.mutable.ArrayBuffer.empty[StreamNearDupPair]
            rows.toSeq.sortBy(r => (r._3, r._1)).foreach { case (id, s, ts, _, _, _) =>
              entries.foreach { e =>
                if (e.id != id) {
                  var m = 0
                  var i = 0
                  val n = math.min(e.sig.length, s.length)
                  while (i < n) { if (e.sig(i) == s(i)) m += 1; i += 1 }
                  val est = if (numHashes == 0) 0.0 else m.toDouble / numHashes
                  // canonical-band gate: stay silent unless this band is
                  // the pair's FIRST bucket collision (see scaladoc)
                  if (est >= threshold) {
                    var first = -1
                    var b = 0
                    while (first < 0 && b < thisBand) {
                      if (bandBucket(e.sig, b, rowsPerBand) ==
                          bandBucket(s, b, rowsPerBand)) first = b
                      b += 1
                    }
                    if (first < 0)
                      out += StreamNearDupPair(math.min(e.id, id), math.max(e.id, id),
                        est, math.max(e.tsMs, ts))
                  }
                }
              }
              entries = (MinhashBucketEntry(id, s, ts) :: entries).take(maxBucketState)
            }
            if (entries.nonEmpty) {
              state.update(MinhashBucketState(entries))
              if (streaming) {
                val horizon = entries.map(_.tsMs).max + delayMs
                state.setTimeoutTimestamp(math.max(horizon, wm + 1))
              }
            } else if (state.exists) state.remove()
            out.iterator
          }
      }
  }

  /** Exact word-n-gram JACCARD near-dup pairs with exact-string blocking
    * (the q41/L3 operator, on the [[blockedNgramCandidates]] engine, so
    * the block-cap recall ladder can measure it at different caps).
    *
    * `blockCap` keeps the `blockCap` SMALLEST ids per block (a map-side
    * WindowGroupLimit): a boilerplate blockN-gram shared by a g-doc
    * group otherwise emits g²/2 rows per gram (the sf100
    * identical-copy lesson: 41×/decade from exactly this). The
    * documented recall trade — a pair whose EVERY shared block-gram
    * overflows the cap is missed — is MEASURED by
    * `BlockCapRecallSpec`'s planted ladder (see BENCHNOTES).
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      blockN: Int = 8,
      blockCap: Int = 64,
      minJaccard: Double = 0.2): DataFrame = {
    val inter = size(array_intersect(col("__nga"), col("__ngb")))
    val union = size(array_union(col("__nga"), col("__ngb")))
    blockedNgramCandidates(df, idCol, textCol, n, blockN, blockCap)
      .select(col("id_a"), col("id_b"),
        when(union === 0, lit(0.0))
          .otherwise(round(inter.cast("double") / union.cast("double"), 6)).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
  }

  /** N-gram CONTAINMENT pairs — Broder's second resemblance measure
    * (1997, "On the resemblance and containment of documents"):
    * `C(a in b) = |grams(a) ∩ grams(b)| / |grams(a)|`. The asymmetric
    * axis symmetric Jaccard (q41/L3) is blind to: a short document
    * quoted whole inside a long one scores near-zero Jaccard (the union
    * is huge) but containment ~1 — the quoted-boilerplate /
    * doc-inside-doc modality of exact-substring dedup, at SET rather
    * than SPAN granularity (the span sibling is L49).
    *
    * Same [[blockedNgramCandidates]] engine as [[jaccardPairs]]. Output:
    * both containment directions plus Jaccard, pairs where EITHER
    * direction clears `minContainment`.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      blockN: Int = 8,
      blockCap: Int = 64,
      minContainment: Double = 0.5): DataFrame = {
    // candidates share a blockN-gram and blockN >= n, so both sets are
    // non-empty by construction — the divisions are safe
    val inter = size(array_intersect(col("__nga"), col("__ngb"))).cast("double")
    val contA = inter / size(col("__nga")).cast("double")
    val contB = inter / size(col("__ngb")).cast("double")
    val union = size(array_union(col("__nga"), col("__ngb"))).cast("double")
    blockedNgramCandidates(df, idCol, textCol, n, blockN, blockCap)
      .select(col("id_a"), col("id_b"),
        round(contA, 6).as("cont_a_in_b"),
        round(contB, 6).as("cont_b_in_a"),
        round(inter / union, 6).as("jaccard"))
      .where(col("cont_a_in_b") >= minContainment ||
        col("cont_b_in_a") >= minContainment)
  }

  /** Candidate pairs `id_a < id_b`, with their distinct word-`n`-gram
    * sets `__nga` and `__ngb`, of documents sharing at least one
    * word-`blockN`-gram — rare across
    * unrelated docs, dense inside near-duplicates — so the pair count
    * follows block occupancy, not n². The blocking join and its dedup shuffle IDS +
    * 8-byte xxhash64 values only (a 2^-64 collision can only add a
    * spurious candidate, which the caller's exact score rejects); n-gram
    * sets re-attach to the few survivors and the set ops stay codegen'd
    * builtins. `blockCap` keeps the smallest ids per block.
    */
  private def blockedNgramCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      blockN: Int,
      blockCap: Int): DataFrame = {
    require(n >= 1 && blockN >= n,
      s"need blockN >= n >= 1 (blockN is the minimum shared run), got n=$n blockN=$blockN")
    require(blockCap >= 2, s"blockCap must be >= 2, got $blockCap")
    val d = df.select(col(idCol),
      TextFunctions.wordNgrams(col(textCol), n).as("__ng"),
      TextFunctions.wordNgrams(col(textCol), blockN).as("__blk"))
    val wb = Window.partitionBy(col("__b8")).orderBy(col(idCol))
    val ex = d.select(col(idCol), explode(col("__blk")).as("__b8s"))
      .select(col(idCol), xxhash64(col("__b8s")).as("__b8"))
      .withColumn("__rk", row_number().over(wb))
      .where(col("__rk") <= blockCap).drop("__rk")
    // checkpointed (tracked — see CacheTracker.unpersistCaches): the
    // candidate-id prune below reads the candidate set twice (the
    // blocking self-join is the expensive half). Without it (Bench, best
    // of 2, local[4] on 4 cores, 5 alternating pairs) q41 took 2.18 s
    // against 1.89 s and q69 2.88 s against 2.60 s at sf0.1; q96 tied,
    // and all three tied on a 10x ScaleUp of the documents
    val cand = graft.etl.CacheTracker.checkpointTracked(ex.alias("ja")
      .join(ex.alias("jb"),
        col("ja.__b8") === col("jb.__b8") &&
          col(s"ja.$idCol") < col(s"jb.$idCol"))
      .select(col(s"ja.$idCol").as("id_a"), col(s"jb.$idCol").as("id_b"))
      .distinct())
    // candidate-id prune (the round-7 sf100 disk finding, worst here: the
    // n-gram SET arrays are exact strings, the biggest per-doc payload of
    // the dedup family): the id list is bounded by the block cap
    // (blockCap²/2 pairs per block), so it broadcasts and the sets scan
    // filters map-side — only candidate sets ever reach an exchange
    val candIds = broadcast(
      cand.select(col("id_a").as(idCol))
        .union(cand.select(col("id_b").as(idCol))).distinct())
    val sets = d.select(col(idCol), col("__ng")).join(candIds, Seq(idCol))
    cand
      .join(sets.select(col(idCol).as("id_a"), col("__ng").as("__nga")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("__ng").as("__ngb")), Seq("id_b"))
  }
}

/** One (id, minhash signature, event-time ms) resident in a band bucket. */
case class MinhashBucketEntry(id: Long, sig: Seq[Long], tsMs: Long)

/** Per-(band, bucket) streaming dedup state: in-horizon sketch entries. */
case class MinhashBucketState(entries: List[MinhashBucketEntry])

/** Emitted near-dup candidate: normalized pair + estimated Jaccard. */
case class StreamNearDupPair(id_a: Long, id_b: Long, est_jaccard: Double, ts_ms: Long)
