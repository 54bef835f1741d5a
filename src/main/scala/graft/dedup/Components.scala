package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Connected components over a pair list — the step that turns near-dup
  * PAIRS (minhash/simhash/cosine candidates) into duplicate CLUSTERS so a
  * pipeline can keep one representative per cluster. Without it, "a~b,
  * b~c" keeps both a and c even though they are transitive duplicates.
  *
  * Algorithm: iterated min-label propagation with pointer jumping — each
  * round a vertex takes the smallest of its own label, its neighbors'
  * labels, and its LABEL'S label (path compression via a labels self-join,
  * the doubling trick that turns O(diameter) rounds into O(log diameter);
  * a bare neighbor propagation walks one hop per round and times out on
  * long path components). Each round is two equi-joins + one
  * min-aggregate, all plain shuffles on uniform vertex ids. The label frame is `localCheckpoint`ed each
  * round: iterative plans MUST truncate lineage, or the logical plan
  * nests one union+join deeper per round and explain/codegen blow up
  * exponentially (cache alone does not cut the logical plan). Use a
  * reliable `checkpoint` dir in production if executor loss matters, and
  * consider the large-star/small-star variant (Kiveris et al.) if
  * components can be deep.
  *
  * The component id is the smallest vertex id in the component — a pure
  * function of the graph, so results are engine-portable (q55's oracle
  * recomputes them with a recursive CTE in DuckDB).
  *
  * ADAPTIVE: when the pair list is small enough to hold on the driver
  * (`driverEdgeThreshold`, default 1M edges — the common case: dedup
  * pairs are a sliver of the corpus), exact union-find runs there and one
  * broadcast join labels the vertex set; only genuinely huge pair graphs
  * pay the iterative shuffles. Both paths produce identical labels
  * (spec-asserted); the driver path requires long ids.
  */
object Components {

  /** (id, component) for every vertex, component = min reachable id.
    * `vertices` supplies the full vertex set (isolated vertices become
    * their own component); `pairs` is undirected (either orientation).
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      vertices: DataFrame,
      idCol: String,
      maxIter: Int = 25,
      driverEdgeThreshold: Long = 1000000L): DataFrame = {
    // ADAPTIVE SMALL-GRAPH PATH: near-dup pair lists are usually a
    // vanishingly small fraction of the corpus (that is the point of
    // dedup), and the iterative path pays ~3 jobs per round regardless of
    // size. When the EDGE list (not the corpus) fits the driver, exact
    // union-find there + one broadcast join beats log-diameter rounds of
    // shuffles; the distributed path remains for genuinely huge graphs.
    // Counting pairs costs one cheap job and decides the plan at runtime
    // — the same adaptivity argument as AQE, one level up.
    val longIds = Seq(pairs.schema(aCol).dataType, pairs.schema(bCol).dataType,
        vertices.schema(idCol).dataType)
      .forall(_ == org.apache.spark.sql.types.LongType)
    // ONE probe job decides the plan AND supplies the edges: collecting
    // limit(threshold+1) rows is the same bounded driver footprint as the
    // small path's own collect, and avoids running the (typically
    // expensive) candidate-pair plan twice — once for a count, once for
    // the real collect.
    val probe: Array[(Long, Long)] =
      if (longIds && driverEdgeThreshold > 0 && driverEdgeThreshold < Int.MaxValue) {
        // typed collect deserializes straight to primitives — no
        // transient Array[Row] alongside the tuple array when the probe
        // comes back full on a large graph
        val sp = pairs.sparkSession
        import sp.implicits._
        pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
          .limit((driverEdgeThreshold + 1).toInt)
          .as[(Long, Long)]
          .collect()
      } else null
    if (probe != null && probe.length <= driverEdgeThreshold) {
      val edgeArr = probe
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edgeArr.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
      }
      // min-id canonical labels for every non-singleton vertex
      val labelMap: Map[Long, Long] =
        edgeArr.flatMap(e => Seq(e._1, e._2)).distinct.map(v => v -> find(v)).toMap
      val spark = pairs.sparkSession
      import spark.implicits._
      val lm = broadcast(labelMap.toSeq.toDF("id", "__cc"))
      return vertices.select(col(idCol).cast("long").as("id")).distinct()
        .join(lm, Seq("id"), "left")
        .select(col("id"), coalesce(col("__cc"), col("id")).as("component"))
    }

    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .transform(graft.etl.CacheTracker.persistTracked)
    try {
    var labels = vertices.select(col(idCol).as("id")).distinct()
      .withColumn("component", col("id"))
      .transform(graft.etl.CacheTracker.checkpointTracked)
    // Convergence check by LABEL SUM, not a next-vs-old join: labels are
    // monotonically non-increasing per vertex (min over a set containing
    // the old label), so the sum strictly decreases until fixpoint and an
    // unchanged sum proves convergence — one narrow aggregate per round
    // instead of a shuffle join. Decimal(38) so huge id sums can't wrap.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("component").cast(DecimalType(38, 0)))).collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(edges("dst").as("id"), col("component"))
      // round 0 labels are identities, so label-of-label == label — the
      // jump join is provably a no-op there; skip its join + shuffle
      val contributions =
        if (iter == 0) labels.select(col("id"), col("component")).union(prop)
        else {
          val jump = labels.alias("a")
            .join(labels.alias("b"), col("a.component") === col("b.id"))
            .select(col("a.id").as("id"), col("b.component").as("component"))
          labels.select(col("id"), col("component")).union(prop).union(jump)
        }
      val next = contributions
        .groupBy(col("id")).agg(min(col("component")).as("component"))
        .transform(graft.etl.CacheTracker.checkpointTracked)
      // the checkpoint is eager: nothing reads the superseded round again
      graft.etl.CacheTracker.free(labels)
      val curSum = labelSum(next)
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      labels = next
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    labels
    // free on every exit path — a non-convergence throw must not leave
    // the edge list pinned in the block manager
    } finally graft.etl.CacheTracker.free(edges)
  }

  /** Cluster summary: one row per component with its size and keeper
    * (smallest id — the usual keep-first dedup policy).
    */
  def clusterSummary(labels: DataFrame): DataFrame =
    labels.groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("keep_id"))
}
