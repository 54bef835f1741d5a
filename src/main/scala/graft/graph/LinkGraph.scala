package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{PublicSuffix, Url}

/** Hyperlink extraction and domain-level PageRank — the link-popularity
  * quality signal of web-corpus curation (crawl frontiers prioritize by
  * it; curation pipelines use it as a per-domain prior alongside the
  * content gates).
  *
  * Spark-first shape, three bounded pieces:
  *  - [[extractHrefs]]: codegen'd `regexp_extract_all` over the raw HTML
  *    (double-quoted `href` attributes of `<a>` tags — the dominant form;
  *    single-quoted/unquoted attributes are out of scope and documented);
  *  - [[domainEdges]]: hrefs resolve to eTLD+1 registrable domains via
  *    [[Url.registrableDomain]] (absolute `scheme://` links only —
  *    relative links stay on the page's own domain and carry no
  *    cross-domain signal), self-loops dropped, one hash-aggregate
  *    shuffle to weighted edges;
  *  - [[pageRank]]: fixed-iteration PageRank in SCALED-INTEGER
  *    arithmetic. All mass is `Long` units of `scaleTotal`; every
  *    division is integral (`div`). Long sums are order-independent, so
  *    the result is bit-identical across partitionings and replays
  *    exactly in any engine with 64-bit integer arithmetic — unlike
  *    double-precision PageRank, whose cross-partition sum order would
  *    break a value-hash oracle.
  *
  * Scale notes: each iteration is two shuffles (contributions by dst,
  * ranks by node) over an edges exchange that Catalyst reuses across
  * iterations; nothing is quadratic and no driver loop touches data
  * rows. Overflow bound: `rank * w` must stay under 2^63 — with the
  * default `scaleTotal` = 1e12 that allows per-edge weights up to ~9e6,
  * far above any real per-domain link multiplicity after the edge
  * aggregation; callers with heavier edges lower `scaleTotal`.
  * Dangling-node mass (domains with no out-links) is dropped rather than
  * redistributed — the standard simplification; ranks remain comparable
  * as relative scores.
  */
object LinkGraph {

  /** `href` values of `<a>` tags (double-quoted). Explicit `[Aa]`-style
    * classes keep the pattern in the Java/RE2-shared syntax (no `(?i)`),
    * so the oracle replays it verbatim.
    */
  val HrefRe: String =
    "<[Aa][ \t\r\n][^>]*[Hh][Rr][Ee][Ff][ \t\r\n]*=[ \t\r\n]*\"([^\"]*)\""

  /** All link targets of one HTML page, in document order. */
  def extractHrefs(html: Column): Column =
    regexp_extract_all(html, lit(HrefRe), lit(1))

  /** `<a href="...">anchor</a>` pairs: href + the immediate anchor text
    * (no nested markup — `[^<]*` stops at the first inner tag, the
    * documented trade for staying inside one shared-syntax regexp).
    * Both capture groups come from the SAME pattern, so the two
    * `regexp_extract_all` passes yield aligned sequences and
    * `arrays_zip` pairs them exactly.
    */
  val AnchorRe: String = HrefRe + "[^>]*>([^<]*)</[Aa]>"

  def anchorPairs(html: Column): Column =
    arrays_zip(
      regexp_extract_all(html, lit(AnchorRe), lit(1)).as("href"),
      regexp_extract_all(html, lit(AnchorRe), lit(2)).as("anchor"))

  /** Per-target-domain anchor-term profile — the classic off-page
    * relevance/quality signal (what the web CALLS a page, vs what the
    * page says about itself): for each eTLD+1 destination, the top-`k`
    * anchor terms by incoming-link count. Terms are the multilingual
    * tokenization tier ([[graft.functions.TextFunctions.unicodeTokens]]).
    * Ties break bytewise on the term, so the profile is deterministic.
    *
    * Plan: extraction/resolution map-side, one (domain, term) hash
    * aggregate, then a map-side WindowGroupLimit keeps <= k rows per
    * domain per task before the final exchange.
    */
  def anchorTermProfile(
      df: DataFrame,
      htmlCol: String,
      suffixes: Seq[String] = PublicSuffix.Snapshot,
      k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val pairs = df.select(explode(anchorPairs(col(htmlCol))).as("p"))
      .select(Url.urlHost(col("p.href")).as("__dst_host"), col("p.anchor").as("__anchor"))
    val terms = pairs
      .select(Url.registrableDomainOfHost(col("__dst_host"), suffixes).as("domain"),
        explode(graft.functions.TextFunctions.unicodeTokens(col("__anchor"))).as("term"))
      .where(col("domain").isNotNull)
    val counts = terms.groupBy(col("domain"), col("term"))
      .agg(count(lit(1)).as("n_links"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col("n_links").desc, col("term"))
    counts.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Weighted domain-level edge list `(src, dst, n_links)`: the page's
    * registrable domain links to each absolute href's registrable domain.
    * Hrefs that are not absolute URLs (relative paths, fragments,
    * `mailto:`) and hosts without a registrable domain resolve to NULL
    * and drop; so do self-loops. One exchange: the group-by on
    * (src, dst) — extraction and domain resolution are map-side.
    */
  def domainEdges(
      df: DataFrame,
      pageUrlCol: String,
      htmlCol: String,
      suffixes: Seq[String] = PublicSuffix.Snapshot): DataFrame = {
    // hosts materialize in their own projection so the suffix ladder
    // references an attribute, not an inlined URL parse (codegen size —
    // see Url.registrableDomainOfHost)
    val hosts = df
      .select(Url.urlHost(col(pageUrlCol)).as("__src_host"),
        explode(extractHrefs(col(htmlCol))).as("__href"))
      .select(col("__src_host"), Url.urlHost(col("__href")).as("__dst_host"))
    hosts
      .select(
        Url.registrableDomainOfHost(col("__src_host"), suffixes).as("src"),
        Url.registrableDomainOfHost(col("__dst_host"), suffixes).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_links"))
  }

  /** Fixed-iteration PageRank over a weighted edge list, in scaled-integer
    * arithmetic (see the object scaladoc for why). Per iteration:
    *
    *   contrib(s -> d) = (rank(s) * w) div out_w(s)
    *   rank'(d)        = base + (dampNum * sum(contrib)) div dampDen
    *   base            = ((scaleTotal * (dampDen - dampNum)) div dampDen) div n
    *
    * with `n` = node count (a scalar aggregate broadcast into the plan,
    * never a driver-side collect). Returns `(node, rank)` with ranks in
    * units of `scaleTotal` total initial mass.
    *
    * Registers two iteration-input caches with
    * [[graft.etl.CacheTracker]] — long-lived sessions should call
    * `CacheTracker.unpersistCaches()` after materializing the result.
    *
    * The loop re-embeds the rank subplan each iteration, so every
    * `checkpointEvery` iterations the rank frame is `localCheckpoint`ed
    * (the [[graft.similarity.Similarity.kCenterSelect]] pattern): plan
    * depth — and hence analysis + codegen cost, which would otherwise
    * dominate long runs — stays bounded regardless of `iters`. Ranks
    * are integers, so checkpointing cannot perturb values (and
    * [[LinkGraphSpec]] proves bit-identity across cadences). Measured
    * at iters=20 (BENCHNOTES.md round 9, sf10-derived graph): no
    * checkpoint 47.8 s, every 10 28.0 s, every 5 ~21 s — that fixture
    * is plan-overhead-dominated, so smaller cadences keep winning
    * there; on a BILLION-node graph each checkpoint materializes the
    * rank frame, which argues against very small cadences. 5 is the
    * middle default.
    *
    * FAULT-TOLERANCE TRADE (cluster callers, read this): a
    * `localCheckpoint` stores blocks on executors, NOT on reliable
    * storage — after a checkpoint, the lineage needed to recompute
    * those blocks is gone, so losing an executor mid-run FAILS the job
    * instead of recomputing (the price of truncation; Spark's own
    * scaladoc carries the same warning). On local[...] this cannot
    * happen; on a real cluster with long runs either accept the
    * retry-the-job cost (ranks are deterministic — a rerun converges
    * identically), set `checkpointEvery = Int.MaxValue` to opt out, or
    * set a `sparkContext.setCheckpointDir` and swap in reliable
    * `checkpoint()` for runs where executor loss is likely.
    *
    * `redistributeDangling = true` adds the classic dangling-mass
    * correction: each iteration, the rank mass sitting on nodes with no
    * out-edges is shared uniformly (integer div) across all nodes
    * inside the damped term, so total mass is conserved up to div
    * truncation instead of leaking. Off by default — the q105 oracle
    * replays the plain variant — and exact-integer like everything
    * else: rank'(d) = base + (dampNum * (inc(d) + dangMass div n)) div
    * dampDen. Costs one extra scalar aggregate per iteration (the
    * dangling ids are precomputed once).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "n_links",
      iters: Int = 5,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      scaleTotal: Long = 1000000000000L,
      checkpointEvery: Int = 5,
      redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"need 0 <= dampNum <= dampDen, got $dampNum/$dampDen")
    val e = edges.select(
      col(srcCol).as("__src"), col(dstCol).as("__dst"),
      col(weightCol).cast("long").as("__w"))
    val outW = e.groupBy(col("__src")).agg(sum(col("__w")).as("__out_w"))
    // persisted (tracked — graft.etl.CacheTracker.unpersistCaches): the edge
    // derivation feeds EVERY iteration; without the cache each
    // iteration's subplan re-embeds it, which both recomputes upstream
    // work past what exchange-reuse covers and inflates the unrolled
    // plan (analysis + codegen of k copies dominates small-graph runs).
    // Caching the iteration inputs is the standard shape for iterative
    // graph algorithms (GraphX does the same with its graph).
    // cache PARTITIONED BY the iteration join key: InMemoryRelation
    // preserves outputPartitioning, so every iteration's ranks-x-eOut
    // join reuses this layout instead of re-exchanging the edge side
    // (guide §2.4 — two operations keyed the same way share one
    // exchange; ranks is the small side that still moves)
    val eOut = graft.etl.CacheTracker.checkpointTracked(
      e.join(outW, "__src").repartition(col("__src")))
    // nodes derive from the CACHED eOut, not the raw edges: a separate
    // cache-fill plan cannot share exchanges with eOut's, so reading `e`
    // here would recompute the whole upstream edge derivation a second
    // time (measured 1.3x slower at sf100 when it did)
    val nodes = eOut.select(col("__src").as("node"))
      .union(eOut.select(col("__dst"))).distinct()
    val nRow = nodes.agg(count(lit(1)).as("__n"))
    // scalar broadcast: base and the initial rank are per-node constants
    // partitioned by node: the per-iteration left join against incoming
    // (hashed on __dst = node domain) then needs only the incoming side
    // exchanged, and the distinct above already hashed by node
    val nodesBase = nodes.crossJoin(broadcast(nRow))
      .select(col("node"),
        expr(s"(($scaleTotal * ${dampDen - dampNum}) div $dampDen) div __n").as("__base"),
        expr(s"$scaleTotal div __n").as("__r0"))
      .repartition(col("node")).transform(graft.etl.CacheTracker.checkpointTracked)
    // dangling nodes (no out-edges) — only materialized for the
    // redistribution variant; anti-join against the cached eOut
    lazy val danglingIds = graft.etl.CacheTracker.persistTracked(
      nodesBase.select(col("node"))
        .join(eOut.select(col("__src").as("node")).distinct(), Seq("node"), "left_anti"))
    var ranks = nodesBase.select(col("node"), col("__r0").as("rank"))
    var i = 0
    while (i < iters) {
      val contribs = ranks
        .join(eOut, ranks("node") === eOut("__src"))
        .select(col("__dst"), expr("(rank * __w) div __out_w").as("__c"))
      val incoming = contribs.groupBy(col("__dst")).agg(sum(col("__c")).as("__inc"))
      val updated = nodesBase
        .join(incoming, nodesBase("node") === incoming("__dst"), "left")
      ranks =
        if (!redistributeDangling)
          updated.select(col("node"),
            (col("__base") + expr(s"($dampNum * coalesce(__inc, 0L)) div $dampDen")).as("rank"))
        else {
          // per-node dangling share as a 1-row scalar broadcast:
          // (sum of dangling rank) div n, exact integer arithmetic
          val ds = ranks.join(danglingIds, Seq("node"))
            .agg(coalesce(sum(col("rank")), lit(0L)).as("__dm"))
            .crossJoin(broadcast(nRow))
            .select(expr("__dm div __n").as("__ds"))
          updated.crossJoin(broadcast(ds))
            .select(col("node"),
              (col("__base") +
                expr(s"($dampNum * (coalesce(__inc, 0L) + __ds)) div $dampDen")).as("rank"))
        }
      i += 1
      // truncate lineage before the plan grows past ~checkpointEvery
      // iterations of join/agg nesting; eager (the default) so the
      // checkpoint materializes here, not lazily inside a deeper plan
      if (i % checkpointEvery == 0 && i < iters)
        ranks = graft.etl.CacheTracker.checkpointTracked(ranks)
    }
    ranks
  }
}
