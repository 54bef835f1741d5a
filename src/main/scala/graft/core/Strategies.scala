package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Legacy oversampling strategies (SURVEY §2.3): the replication package
  * drives `DEMV(strategy=...)` with `random | uniform | smote | adasyn`
  * (reference `generatemetrics.py:56-57,133`, `utils.py:218`; semantics from
  * the IP&M paper + imbalanced-learn). `random` duplicates existing rows
  * (the shipped demv 1.0.2 behavior, implemented by [[ExactSampler]]);
  * these synthesize NEW rows for the upsampled cells:
  *
  *  - `uniform`: each synthetic row draws every feature independently from
  *    the cell's empirical distribution. Distributed as two shuffles
  *    regardless of data size: rank cell rows once, explode (row, feature)
  *    pairs for upsampled cells only, equi-join synthetic pick indexes
  *    against ranks, pivot back to columns.
  *  - `smote`: k-NN interpolation (`x + u * (x' - x)` toward a random one
  *    of the k nearest same-cell neighbors). kNN runs on a bounded seeded
  *    sample per cell (`sampleCap`) on the driver — O(cells * cap^2) work
  *    independent of data size; the full-corpus LSH variant is the scale
  *    path if caps ever bind.
  *  - `adasyn`: SMOTE with density-weighted base selection (harder/sparser
  *    regions get more synthetics — approximation of ADASYN's
  *    majority-neighbor weighting, which needs cross-class neighbors the
  *    cell structure does not retain; documented deviation).
  *
  * All strategies require numeric feature columns (every reference dataset
  * is all-numeric after ETL — `getdataset.py` drops/encodes strings).
  */
object Strategies {

  /** Synthesize `extras(cellKey)` new rows per cell with independent
    * per-feature empirical sampling. Returns rows with `df`'s exact schema.
    */
  def synthesizeUniform(
      df: DataFrame,
      keyCols: Seq[String],
      extras: Map[Seq[Any], Long],
      seed: Long,
      knownCellSizes: Option[Map[Seq[Any], Long]] = None): DataFrame = {
    val spark = df.sparkSession
    val featureCols = df.columns.filterNot(keyCols.contains).toSeq
    requireNumeric(df, featureCols, "uniform")
    val needed = extras.filter(_._2 > 0)
    if (needed.isEmpty) return df.limit(0)

    // tiny driver table: (key..., extra count, cell size)
    val keySchema = df.select(keyCols.map(col): _*).schema
    val planSchema = StructType(keySchema.fields ++ Seq(
      StructField("__extra", LongType), StructField("__csize", LongType)))
    // DEMV already holds exact per-cell sizes from its planning pass —
    // take them instead of paying a full-table aggregation to recount;
    // standalone callers fall back to a count pruned to the needed cells
    val cellSizes: Map[Seq[Any], Long] = knownCellSizes.getOrElse {
      val neededKeys = spark.createDataFrame(
        spark.sparkContext.parallelize(needed.keys.toSeq.map(Row.fromSeq), 1), keySchema)
      df.join(broadcast(neededKeys), keyCols, "left_semi")
        .groupBy(keyCols.map(col): _*).count().collect()
        .map(r => (keyCols.indices.map(r.get): Seq[Any]) -> r.getLong(keyCols.length)).toMap
    }
    val planRows = needed.toSeq.map { case (k, m) =>
      Row.fromSeq(k ++ Seq[Any](m, cellSizes.getOrElse(k, 0L)))
    }
    val plan = spark.createDataFrame(spark.sparkContext.parallelize(planRows, 1), planSchema)

    // skeleton: one row per (cell, synthIdx, feature) with a random pick
    // index into the cell (extras are bounded by the stop budget, so the
    // explode fans out at most `stop` rows per cell)
    val nF = featureCols.length
    val skeleton = plan
      .withColumn("__synth", explode(expr("sequence(1, __extra)")))
      .withColumn("__feat", explode(expr(s"sequence(0, ${nF - 1})")))
      .withColumn("__pick", (rand(seed) * col("__csize")).cast("long") % col("__csize"))
      .select((keyCols.map(col) :+ col("__synth") :+ col("__feat") :+ col("__pick")): _*)

    // cell rows get a DENSE 0-based per-cell index, then explode to
    // (cell, rank, feature, value) — upsampled cells only. Pruning to the
    // needed cells happens BEFORE the window so untouched cells are never
    // ranked at all.
    val saltBuckets = 32
    val pruned = df
      .join(broadcast(plan.select(keyCols.map(col): _*)), keyCols, "left_semi")
    val ranked = denseCellIndex(pruned, keyCols, rand(seed + 1), saltBuckets,
      xxhash64(df.columns.map(col) :+ lit(seed + 2): _*), "__rn")
    val featStructs = featureCols.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("f"), col(c).cast("double").as("v"))
    }
    val exploded = ranked
      .select((keyCols.map(col) :+ col("__rn") :+ explode(array(featStructs: _*)).as("fv")): _*)
      .select((keyCols.map(col) :+ col("__rn") :+ col("fv.f").as("__feat") :+ col("fv.v").as("__val")): _*)

    // the pick index is part of the EQUI-join key (renamed to match):
    // joining on (cell, feat) alone and post-filtering pick = rn would
    // materialize |cell| rows per (synthetic, feature) before filtering —
    // an O(m * c * F) blowup the hash join avoids entirely
    // struct collect, not parallel collect_list(feat)/collect_list(val):
    // collect_list drops nulls, so a null feature value would desynchronize
    // the key/value arrays and fail deep inside MapData — structs keep the
    // pair intact and map_from_entries carries the null value through
    val joined = skeleton.join(
        exploded.withColumnRenamed("__rn", "__pick"),
        (keyCols :+ "__feat" :+ "__pick").map(identity),
        "inner")
      .groupBy((keyCols.map(col) :+ col("__synth")): _*)
      .agg(map_from_entries(collect_list(struct(col("__feat"), col("__val")))).as("__fm"))

    // back to the original schema, casting each feature to its input type
    val outCols = df.schema.fields.map { f =>
      if (keyCols.contains(f.name)) col(f.name)
      else element_at(col("__fm"), featureCols.indexOf(f.name)).cast(f.dataType).as(f.name)
    }
    joined.select(outCols.toSeq: _*)
  }

  /** SMOTE / ADASYN synthetic rows: `extras(cellKey)` interpolated rows per
    * cell, neighbors always drawn from the FULL cell.
    *
    * Adaptive per-cell path (same one-cheap-count pattern as
    * [[graft.dedup.Components]]): cells of at most `sampleCap` rows run the
    * exact driver kNN (the "sample" is the whole cell, so the old cap-bind
    * fidelity gap cannot occur by construction); larger cells run the
    * distributed hyperplane-LSH kNN ([[smoteLshKnn]]) — candidates from
    * multi-probe bucket equi-joins, exact squared-Euclidean re-rank, never
    * a pairwise scan and never an unbounded collect.
    */
  def synthesizeSmote(
      df: DataFrame,
      keyCols: Seq[String],
      extras: Map[Seq[Any], Long],
      seed: Long,
      k: Int = 5,
      sampleCap: Int = 1024,
      adasyn: Boolean = false,
      lshBits: Int = 10,
      bucketCap: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    val featureCols = df.columns.filterNot(keyCols.contains).toSeq
    requireNumeric(df, featureCols, if (adasyn) "adasyn" else "smote")
    val neededAll = extras.filter(_._2 > 0)
    if (neededAll.isEmpty) return df.limit(0)

    // one tiny aggregate routes each cell: |cell| <= sampleCap -> exact
    // driver kNN over the full cell; larger -> distributed LSH kNN
    val keySchemaAll = df.select(keyCols.map(col): _*).schema
    val needDfAll = spark.createDataFrame(
      spark.sparkContext.parallelize(neededAll.keys.toSeq.map(Row.fromSeq), 1), keySchemaAll)
    val cellSizes: Map[Seq[Any], Long] = df
      .join(broadcast(needDfAll), keyCols, "left_semi")
      .groupBy(keyCols.map(col): _*).count().collect()
      .map(r => (keyCols.indices.map(r.get): Seq[Any]) -> r.getLong(keyCols.length)).toMap
    neededAll.keys.find(!cellSizes.contains(_)).foreach { kv =>
      throw new IllegalStateException(s"no rows found for cell $kv")
    }
    val small = neededAll.filter { case (kv, _) => cellSizes(kv) <= sampleCap }
    val big = neededAll.filter { case (kv, _) => cellSizes(kv) > sampleCap }
    val parts = Seq(
      if (small.nonEmpty)
        Some(smoteDriverKnn(df, keyCols, small, seed, k, sampleCap, adasyn)) else None,
      if (big.nonEmpty)
        Some(smoteLshKnn(df, keyCols, big, cellSizes, seed, k, adasyn, lshBits, bucketCap))
      else None).flatten
    parts.reduce(_ unionAll _)
  }

  /** Exact full-cell kNN on the driver for cells bounded by `sampleCap` —
    * O(cells * cap^2) work independent of corpus size.
    */
  private def smoteDriverKnn(
      df: DataFrame,
      keyCols: Seq[String],
      needed: Map[Seq[Any], Long],
      seed: Long,
      k: Int,
      sampleCap: Int,
      adasyn: Boolean): DataFrame = {
    val spark = df.sparkSession
    val featureCols = df.columns.filterNot(keyCols.contains).toSeq

    // one distributed pass, pruned and salted: (1) left_semi against the
    // broadcast needed-cell keys so untouched cells are never scanned past
    // the join, (2) per-cell bounded sample = the `sampleCap` rows with the
    // smallest seeded hash, found with a two-level rank — per-(cell, salt)
    // top-cap first (every task bounded), then per-cell top-cap over the
    // <= saltBuckets * cap survivors (window input bounded regardless of
    // cell size; each true top-cap row is in its salt's top-cap, so the
    // survivor set is a superset). The old plan ranked EVERY cell through
    // one unsalted window task each and collected cap rows for cells that
    // needed no synthesis.
    val keySchema = df.select(keyCols.map(col): _*).schema
    val needDf = spark.createDataFrame(
      spark.sparkContext.parallelize(needed.keys.toSeq.map(Row.fromSeq), 1), keySchema)
    val saltBuckets = 32
    val saltCol = "__graft_ssalt"
    val hCol = "__graft_sh"
    val pruned = df
      .join(broadcast(needDf), keyCols, "left_semi")
      .withColumn(hCol, xxhash64(df.columns.map(col) :+ lit(seed): _*))
      .withColumn(saltCol, pmod(col(hCol), lit(saltBuckets)).cast("int"))
    val ranked = pruned
      .withColumn("__rn1", row_number().over(
        Window.partitionBy((keyCols.map(col) :+ col(saltCol)): _*).orderBy(col(hCol))))
      .where(col("__rn1") <= sampleCap)
      .withColumn("__rn2", row_number().over(
        Window.partitionBy(keyCols.map(col): _*).orderBy(col(hCol))))
      .where(col("__rn2") <= sampleCap)
      .drop(hCol, saltCol, "__rn1", "__rn2")
    val sampleRows = ranked.collect()
    val keyIdx = keyCols.map(df.columns.indexOf(_))
    val featIdx = featureCols.map(df.columns.indexOf(_))
    val byCell: Map[Seq[Any], Array[Array[Double]]] = sampleRows
      .groupBy(r => keyIdx.map(r.get): Seq[Any])
      .map { case (key, rows) =>
        key -> rows.map(r => featIdx.map(i => numAt(r, i)).toArray)
      }
    // invariant guard: the dispatcher routes cells larger than the cap to
    // the LSH path, so a driver-path sample can never exceed the cap; a
    // breach means neighbors came from a truncated sample
    val capped = byCell.collect { case (key, pts) if pts.length > sampleCap => key }
    if (capped.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"${if (adasyn) "adasyn" else "smote"}: kNN sample cap ($sampleCap) binds for " +
          s"cells ${capped.mkString("; ")} — interpolation neighbors are drawn from the " +
          s"seeded sample, not the full cell (imblearn uses the full cell)")

    val rng = new scala.util.Random(seed)
    val synth = scala.collection.mutable.ArrayBuffer.empty[Row]
    needed.toSeq.sortBy(_._1.map(_.toString).mkString(",")).foreach { case (key, m) =>
      val pts = byCell.getOrElse(key,
        throw new IllegalStateException(s"no rows found for cell $key"))
      val n = pts.length
      val kEff = math.min(k, n - 1)
      // pairwise kNN within the bounded sample
      val neighbors: Array[Array[Int]] =
        if (kEff <= 0) Array.fill(n)(Array.empty[Int])
        else pts.zipWithIndex.map { case (p, i) =>
          pts.zipWithIndex.filter(_._2 != i)
            .map { case (q, j) => (dist2(p, q), j) }
            .sortBy(_._1).take(kEff).map(_._2)
        }
      // adasyn: weight base rows by mean neighbor distance (sparser ->
      // more synthetics); smote: uniform base choice
      val weights: Array[Double] =
        if (!adasyn || kEff <= 0) Array.fill(n)(1.0)
        else pts.zipWithIndex.map { case (p, i) =>
          val ds = neighbors(i).map(j => math.sqrt(dist2(p, pts(j))))
          if (ds.isEmpty) 1.0 else ds.sum / ds.length + 1e-9
        }
      val cum = weights.scanLeft(0.0)(_ + _).tail
      val totalW = cum.last
      var s = 0L
      while (s < m) {
        val u = rng.nextDouble() * totalW
        val base = {
          val idx = java.util.Arrays.binarySearch(cum, u)
          math.min(if (idx < 0) -idx - 1 else idx, n - 1)
        }
        val p = pts(base)
        val vec =
          if (kEff <= 0) p // singleton cell: duplicate (imblearn raises; we degrade)
          else {
            val q = pts(neighbors(base)(rng.nextInt(kEff)))
            val t = rng.nextDouble()
            p.indices.map(i => p(i) + t * (q(i) - p(i))).toArray
          }
        synth += buildRow(df.schema, keyCols, key, featureCols, vec)
        s += 1
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(synth.toSeq, math.max(1, synth.length / 10000)), df.schema)
  }

  /** Distributed SMOTE/ADASYN for cells larger than the driver cap —
    * neighbors from the FULL cell via hyperplane-LSH candidates
    * (reusing [[graft.similarity.Similarity.hyperplaneBucket]]) with exact
    * squared-Euclidean re-rank. imblearn parity notes: interpolation is
    * `x + u * (x' - x)` toward a uniform choice among the k nearest, like
    * the driver path; the candidate set is approximate (multi-probe LSH
    * over CELL-CENTERED vectors — centering makes the angular sketch track
    * Euclidean proximity), and ADASYN's density weight is the mean
    * distance to the k nearest same-bucket rows.
    *
    * Scale shape: every shuffle is an equi-join on (cell, bucket) or
    * (cell, index); every window is partitioned by (cell, salt), (cell,
    * bucket, salt) or a per-row/per-synthetic group — no single-partition
    * windows, no pairwise cell scan (bucket occupancy is capped at
    * `bucketCap` by a salted two-level rank), and the only collects are
    * per-cell aggregates bounded by cell COUNT, not cell size.
    */
  private def smoteLshKnn(
      df: DataFrame,
      keyCols: Seq[String],
      needed: Map[Seq[Any], Long],
      cellSizes: Map[Seq[Any], Long],
      seed: Long,
      k: Int,
      adasyn: Boolean,
      lshBits: Int,
      bucketCap: Int): DataFrame = {
    import graft.similarity.Similarity
    val spark = df.sparkSession
    val featureCols = df.columns.filterNot(keyCols.contains).toSeq
    val nF = featureCols.length
    val kc = keyCols.map(col)
    val saltBuckets = 32

    val keySchema = df.select(kc: _*).schema
    val planSchema = StructType(keySchema.fields ++ Seq(
      StructField("__extra", LongType), StructField("__csize", LongType)))
    val planRows = needed.toSeq.map { case (kv, m) =>
      Row.fromSeq(kv ++ Seq[Any](m, cellSizes(kv)))
    }
    val plan = spark.createDataFrame(spark.sparkContext.parallelize(planRows, 1), planSchema)

    // cell rows + feature vector + bucket of the cell-centered vector
    // (per-cell means are a tiny agg, broadcast back)
    val pruned = df
      .join(broadcast(plan.select(kc: _*)), keyCols, "left_semi")
      .withColumn("__vec", array(featureCols.map(col(_).cast("double")): _*))
    val muAggs = featureCols.zipWithIndex.map { case (c, i) =>
      avg(col(c)).as(s"__mu_$i")
    }
    val means = pruned.groupBy(kc: _*).agg(muAggs.head, muAggs.tail: _*)
    val centered = pruned.join(broadcast(means), keyCols)
      .withColumn("__cv", array((0 until nF).map(i =>
        element_at(col("__vec"), i + 1) - col(s"__mu_$i").cast("double")): _*))
      .withColumn("__bkt", Similarity.hyperplaneBucket(col("__cv"), nF, lshBits, seed + 7))
      .drop((0 until nF).map(i => s"__mu_$i") :+ "__cv": _*)

    // dense 0-based per-cell index via the shared salted two-level rank:
    // the equi-join handle for base picks and self-exclusion
    val ordH = xxhash64(df.columns.map(col) :+ lit(seed + 3): _*)
    val indexed = denseCellIndex(centered, keyCols, ordH, saltBuckets,
      xxhash64(df.columns.map(col) :+ lit(seed + 2): _*), "__rn")

    // neighbor corpus: per-(cell, bucket) occupancy capped at `bucketCap`
    // by a salted two-level rank, so candidate fan-out per query is
    // bounded whatever the bucket skew
    val corpusAll = indexed.select(
      kc :+ col("__bkt") :+ col("__rn").as("__nrn") :+ col("__vec").as("__nv"): _*)
    val ch = xxhash64(col("__nrn"), lit(seed + 5))
    val corpus = corpusAll
      .withColumn("__cs", pmod(col("__nrn"), lit(saltBuckets)).cast("int"))
      .withColumn("__cr1", row_number().over(
        Window.partitionBy((kc :+ col("__bkt") :+ col("__cs")): _*).orderBy(ch, col("__nrn"))))
      .where(col("__cr1") <= bucketCap)
      .withColumn("__cr2", row_number().over(
        Window.partitionBy((kc :+ col("__bkt")): _*).orderBy(ch, col("__nrn"))))
      .where(col("__cr2") <= bucketCap)
      .drop("__cs", "__cr1", "__cr2")

    // base rows: (cell, __brn base index, __synth id, base vector, bucket)
    val base =
      if (!adasyn) {
        // SMOTE: exactly __extra uniform picks per cell, fetched by
        // equi-join on the dense index (like synthesizeUniform's skeleton)
        val skeleton = plan
          .withColumn("__synth", explode(expr("sequence(1, __extra)")))
          .withColumn("__pick",
            pmod((rand(seed + 11) * col("__csize")).cast("long"), col("__csize")))
          .select(kc :+ col("__synth") :+ col("__pick"): _*)
        skeleton
          .join(indexed.withColumnRenamed("__rn", "__pick"), keyCols :+ "__pick")
          .select(kc :+ col("__pick").as("__brn") :+ col("__synth") :+
            col("__vec").as("__bv") :+ col("__bkt").as("__b0"): _*)
      } else {
        // ADASYN: density weight w_i = mean distance to the k nearest
        // same-bucket rows; per-row synthetic counts are the exact
        // largest-remainder apportionment of __extra over w (same
        // allocation scheme as etl.Stratified, distributed the same way:
        // the remainder top-L is output-bounded, L <= __extra)
        val qSide = indexed.select(
          kc :+ col("__bkt") :+ col("__rn").as("__qrn") :+ col("__vec").as("__qv"): _*)
        val wgt = qSide.join(corpus, keyCols :+ "__bkt")
          .where(col("__nrn") =!= col("__qrn"))
          .withColumn("__d2", Similarity.dist2(col("__qv"), col("__nv")))
          .withColumn("__nrk", row_number().over(
            Window.partitionBy((kc :+ col("__qrn")): _*).orderBy(col("__d2"), col("__nrn"))))
          .where(col("__nrk") <= k)
          .groupBy(kc :+ col("__qrn"): _*)
          .agg((avg(sqrt(col("__d2"))) + lit(1e-9)).as("__w0"))
          .withColumnRenamed("__qrn", "__rn")
        // the kNN-weight join above (bucket equi-join + per-row rank
        // window) is the expensive part of this path and is consumed by
        // FOUR separate jobs: two collects inside the grouped running
        // total, the per-cell weight totals, and the output job —
        // materialize it once rather than re-running it per job (the
        // drain frees the checkpoint)
        val withW = graft.etl.CacheTracker.checkpointTracked(
          indexed.join(wgt, keyCols :+ "__rn", "left")
            .withColumn("__w", coalesce(col("__w0"), lit(1.0)))
            .drop("__w0")
            // fixed-point weights: exact long arithmetic downstream (>= 1
            // so every row keeps a nonzero share)
            .withColumn("__wl", greatest(lit(1L), round(col("__w") * (1L << 20)).cast("long"))))
        // exact-total apportionment WITHOUT a remainder pass: with C_i the
        // per-cell running weight total in __rn order,
        //   c_i = f(C_i) - f(C_i - w_i)   where f(C) = floor(C * m / W_cell)
        // telescopes to exactly m per cell (C_i - w_i == C_{i-1} exactly in
        // long arithmetic). The running total is graft.etl.Packing's
        // grouped range-split cumsum — no single-partition window, cells
        // are the (few) group keys. This also avoids re-joining an
        // aggregate of the same plan, which Spark 4's resolver rejects as
        // ambiguous hidden-output lineage.
        val cum = graft.etl.Packing.withGroupedRunningTotal(
          withW, keyCols, Seq(col("__rn")), "__wl", "__cum", seed = seed + 19)
        val wTotals: Map[Seq[Any], Long] = withW.groupBy(kc: _*)
          .agg(sum(col("__wl")).as("__WL")).collect()
          .map(r => (keyCols.indices.map(r.get): Seq[Any]) -> r.getLong(keyCols.length)).toMap
        val mwSchema = StructType(keySchema.fields ++ Seq(
          StructField("__extra", LongType), StructField("__WL", LongType)))
        val mw = spark.createDataFrame(
          spark.sparkContext.parallelize(
            needed.toSeq.map { case (kv, m) =>
              Row.fromSeq(kv ++ Seq[Any](m, wTotals(kv)))
            }, 1), mwSchema)
        // decimal arithmetic keeps f exact at the endpoint (f(W_cell) == m
        // bit-for-bit), which the telescoping-total argument relies on.
        // Columns are bound by dataset handle (exprId), not name: Spark 4's
        // single-pass resolver reports spurious AMBIGUOUS_REFERENCE for
        // by-name lookups through using-join hidden-output metadata.
        def fCum(c: Column) =
          floor(c.cast("decimal(38,0)") * mw("__extra") / mw("__WL")).cast("long")
        cum.join(broadcast(mw), keyCols)
          .withColumn("__cnt", fCum(cum("__cum")) - fCum(cum("__cum") - cum("__wl")))
          .where(col("__cnt") > 0)
          .withColumn("__synth", explode(expr("sequence(1, __cnt)")))
          .select(kc :+ col("__rn").as("__brn") :+ col("__synth") :+
            col("__vec").as("__bv") :+ col("__bkt").as("__b0"): _*)
      }

    // neighbor choice: multi-probe (own bucket + each bit flipped once)
    // expands only the query side; candidates re-rank by exact distance;
    // the random pick among the <= k nearest comes from the same seeded
    // rand stream family as the base picks
    val withRand = base
      .withColumn("__t", rand(seed + 17))
      .withColumn("__u", rand(seed + 13))
    val probed = withRand.withColumn("__bkt", explode(array((col("__b0") +:
        (0 until lshBits).map(b => col("__b0").bitwiseXOR(lit(1L << b)))): _*)))
    val grp = kc :+ col("__brn") :+ col("__synth")
    val cand = probed.join(corpus, keyCols :+ "__bkt")
      .where(col("__nrn") =!= col("__brn"))
      .select(grp :+ col("__u") :+ col("__bv") :+ col("__nrn") :+ col("__nv"): _*)
      .dropDuplicates(keyCols :+ "__brn" :+ "__synth" :+ "__nrn")
      .withColumn("__d2", Similarity.dist2(col("__bv"), col("__nv")))
    val rankW = Window.partitionBy(grp: _*).orderBy(col("__d2"), col("__nrn"))
    val cntW = Window.partitionBy(grp: _*)
    val chosen = cand
      .withColumn("__nrk", row_number().over(rankW))
      .where(col("__nrk") <= k)
      .withColumn("__kc", count(lit(1)).over(cntW))
      .where(col("__nrk") === (floor(col("__u") * col("__kc")) + 1).cast("int"))
      .select(grp :+ col("__nv"): _*)

    // a base with no candidate in any probed bucket degrades to a
    // duplicate (kEff<=0 driver-path behavior)
    val withN = withRand.join(chosen, keyCols :+ "__brn" :+ "__synth", "left")
      .withColumn("__nv2", coalesce(col("__nv"), col("__bv")))
    val outCols = df.schema.fields.map { f =>
      if (keyCols.contains(f.name)) col(f.name)
      else {
        val i = featureCols.indexOf(f.name) + 1
        val bv = element_at(col("__bv"), i)
        val nv = element_at(col("__nv2"), i)
        val interp = bv + col("__t") * (nv - bv)
        (f.dataType match {
          case DoubleType | FloatType | _: DecimalType => interp
          // integer dtypes round like buildRow's math.round =
          // floor(x + 0.5); Spark's round() is HALF_UP (away from zero)
          // and disagrees on negative halves (-2.5 -> -3 vs -2), which
          // would make the same logical cell synthesize different values
          // depending on which side of sampleCap its size falls
          case _ => floor(interp + lit(0.5))
        }).cast(f.dataType).as(f.name)
      }
    }
    withN.select(outCols.toSeq: _*)
  }

  /** Dense 0-based per-cell row index as `outCol`, via a SALTED two-level
    * rank: rank within (cell, salt bucket) ordered by `orderCol`, plus
    * per-bucket offsets from a tiny occupancy job. A plain
    * `Window.partitionBy(cell)` would funnel a huge cell — potentially
    * most of the table — through ONE task; the salt bounds every rank
    * task at ~cellSize/saltBuckets rows. `saltHash` must be a
    * deterministic function of the row (content hash) so the index
    * reproduces across jobs over the same data.
    */
  private def denseCellIndex(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: Column,
      saltBuckets: Int,
      saltHash: Column,
      outCol: String): DataFrame = {
    val spark = df.sparkSession
    val kc = keyCols.map(col)
    val keySchema = df.select(kc: _*).schema
    val withSalt = df.withColumn("__graft_dsalt",
      pmod(saltHash, lit(saltBuckets)).cast("int"))
    val occ = withSalt.groupBy(kc :+ col("__graft_dsalt"): _*).count().collect()
      .map(r => ((keyCols.indices.map(r.get): Seq[Any]), r.getInt(keyCols.length)) ->
        r.getLong(keyCols.length + 1)).toMap
    val offsetRows = occ.keys.groupBy(_._1).toSeq.flatMap { case (cell, ks) =>
      var acc = 0L
      ks.map(_._2).toSeq.sorted.map { s =>
        val r = Row.fromSeq(cell ++ Seq[Any](s, acc)); acc += occ((cell, s)); r
      }
    }
    val offsetSchema = StructType(keySchema.fields ++ Seq(
      StructField("__graft_dsalt", IntegerType),
      StructField("__graft_doff", LongType)))
    val offsetsDF = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows, 1), offsetSchema)
    withSalt
      .join(broadcast(offsetsDF), keyCols :+ "__graft_dsalt")
      .withColumn(outCol,
        (row_number().over(
          Window.partitionBy(kc :+ col("__graft_dsalt"): _*).orderBy(orderCol)) - 1)
          .cast("long") + col("__graft_doff"))
      .drop("__graft_dsalt", "__graft_doff")
  }

  private def requireNumeric(df: DataFrame, cols: Seq[String], strategy: String): Unit = {
    val bad = df.schema.fields.filter(f => cols.contains(f.name) && !f.dataType.isInstanceOf[NumericType])
    require(bad.isEmpty,
      s"strategy '$strategy' requires numeric feature columns; non-numeric: " +
        bad.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(", ") +
        " (the reference datasets are all-numeric after ETL)")
  }

  private def numAt(r: Row, i: Int): Double = r.get(i) match {
    case null => 0.0
    case n: Number => n.doubleValue()
    case b: Boolean => if (b) 1.0 else 0.0
    case other => throw new IllegalArgumentException(s"non-numeric value $other")
  }

  /** Rebuild a Row in the DataFrame's schema from cell-key values and the
    * synthesized feature vector (ints rounded, matching imblearn's
    * continuous output cast back by the dtype-preservation contract,
    * reference `demv/helpers.py:58`).
    */
  private def buildRow(
      schema: StructType,
      keyCols: Seq[String],
      keyVals: Seq[Any],
      featureCols: Seq[String],
      vec: Array[Double]): Row = {
    val keyMap = keyCols.zip(keyVals).toMap
    val featMap = featureCols.zipWithIndex.toMap
    Row.fromSeq(schema.fields.map { f =>
      keyMap.get(f.name) match {
        case Some(v) => v
        case None =>
          val v = vec(featMap(f.name))
          f.dataType match {
            case DoubleType => v
            case FloatType => v.toFloat
            case LongType => math.round(v)
            case IntegerType => math.round(v).toInt
            case ShortType => math.round(v).toShort
            case ByteType => math.round(v).toByte
            case _: DecimalType => BigDecimal(v)
            case other => throw new IllegalArgumentException(s"unsupported type $other")
          }
      }
    }.toSeq)
  }

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }
}
