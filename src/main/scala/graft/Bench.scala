package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_BENCH_ONLY: comma-separated query-name subset, for runs
    // against partial data dirs (e.g. the sf10 pair-finding decade, where
    // only documents+embeddings exist at that scale)
    val onlySet = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // warmup: JVM/codegen/parquet-footer caches out of the timed loop
    // (documents always exists; lineitem may be absent in a partial dir)
    if (new java.io.File(s"$sfDir/lineitem.parquet").exists())
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    spark.read.parquet(s"$sfDir/documents.parquet").count()
    // q35 is the documented exact all-pairs baseline: O(n^2) BY DESIGN, kept
    // for correctness (Verify still oracle-checks it) and as the recall
    // yardstick for its bucketed sibling q39, which IS timed. A quadratic
    // plan has no business in a throughput contract meant to extrapolate to
    // 100 TB — see BENCHNOTES.md "q35 (exact all-pairs) vs q39
    // (LSH-bucketed) cosine near-dup crossover" for the measured crossover.
    // q109v is q109's exact-distinct accuracy yardstick: a corpus-wide
    // exploded count_distinct, valid only at gate/validation scale —
    // timing it would measure exactly the cost the HLL sketch avoids.
    val timedQueries = (SparkEntry.queries
        - "q35_cosine_neardup_exact" - "q109v_hll_accuracy")
      .filter { case (name, _) => onlySet.forall(_.contains(name)) }
    require(timedQueries.nonEmpty, "SPARK_GRAFT_BENCH_ONLY matched no queries")
    // Best-of-N (default 2) per query: a single pass can record a host
    // stall (hypervisor steal, GC roaming across queries — see
    // BENCHNOTES.md round 3) as a 30x query time. The min over passes is
    // the plan-level signal; a stall would have to land on the SAME query
    // in EVERY pass to survive. Passes alternate over the whole set so
    // back-to-back timings of one query never share a transient stall.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    require(passes >= 1, s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got $passes")
    def timeOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop sink materializes every column (count() would let Spark
      // prune the projection and under-measure the real work)
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case t: Throwable =>
          // -1 sentinel: a broken query must not masquerade as a fast one
          System.err.println(s"BENCH FAIL $name: $t")
          t.printStackTrace()
          -1.0
      } finally {
        // Drop operator-internal caches BETWEEN queries (CacheTracker's
        // documented long-lived-session contract): without this, pass 2
        // of every caching query resolves against pass 1's still-live
        // cache (CacheManager matches the identical re-built plan), so
        // best-of-N records a warm in-memory read instead of the cold
        // plan, and dozens of MEMORY_AND_DISK caches accumulate across
        // the session (r11 measurement-integrity finding). Outside the
        // timed window: cleanup is not the query's cost.
        graft.etl.CacheTracker.unpersistCaches(blocking = true)
      }
    }
    val ordered = timedQueries.toSeq.sortBy(_._1)
    val byPass = (1 to passes).map { _ =>
      ordered.map { case (name, fn) => timeOne(name, fn) }
    }
    val results = ordered.zipWithIndex.map { case ((name, _), i) =>
      val ts = byPass.map(_(i))
      // any failed pass poisons the query: report the sentinel, not a min
      name -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    // 3-decimal per-query times: ms precision is all the best-of-N signal
    // carries, and it keeps the JSON line short enough that the summary
    // fields below survive a tail-capture of the run's last ~2000 chars
    val qs = results.map { case (k, v) =>
        s"\"" + k + "\":" + (if (v < 0) "-1.0"
          else "%.3f".formatLocal(java.util.Locale.ROOT, v))
      }.mkString("{", ",", "}")
    // a failed query must poison the TOTAL too — summing the -1 sentinels
    // would make a broken suite look FASTER than a green one
    val total =
      if (results.exists(_._2 < 0)) -1.0 else results.map(_._2).sum
    // "queries" FIRST, headline metric/value LAST: harnesses that keep only
    // the tail of the output still see the totals even when the per-query
    // map is longer than their capture window
    println(s"""{"queries":$qs,"n_queries":${results.size},"sf":"$sfDir","metric":"total","unit":"sec","value":$total}""")
    spark.stop()
  }
}
