package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.DEMV

import Shared._

/** Fairness queries over the DEMV-shaped orders x customer frame: DEMV
  * weights and balancing, cube marginals, post-processing and average odds.
  */
object FairnessQueries {

  val all: Seq[Query] = Seq(
    // q17: DEMV cell weights — the core algorithm's w_exp/w_obs arithmetic
    // (SURVEY §2.2). ONE scan: the (s1,s2,y) cell aggregate is tiny
    // (<= 2^n * L rows), so the combo/label/total marginals are windows
    // OVER THE CELLS, not re-scans of the base join — at 100 TB this is
    // one shuffle of 12 rows instead of three scans of the fact table.
    Query.fixed("q17_demv_weights", (s, dir) => {
      val cells = demvInput(s, dir)
        .groupBy(col("s1"), col("s2"), col("y")).agg(count(lit(1)).as("n"))
      val wCombo = Window.partitionBy(col("s1"), col("s2"))
      val wLabel = Window.partitionBy(col("y"))
      val nCombo = sum(col("n")).over(wCombo).cast("double")
      val nLabel = sum(col("n")).over(wLabel).cast("double")
      // grand total as a broadcast scalar, NOT an empty-partition window —
      // same single-row result without the "No Partition Defined" WindowExec
      val total = col("__total").cast("double")
      cells
        .crossJoin(broadcast(cells.agg(sum(col("n")).as("__total"))))
        .select(col("s1"), col("s2"), col("y"), col("n"),
          round((nCombo / total) * (nLabel / total), 8).as("w_exp"),
          round(col("n") / total, 8).as("w_obs"),
          round(((nCombo / total) * (nLabel / total)) / (col("n") / total), 4).as("disparity"))
        .orderBy(col("s1"), col("s2"), col("y"))
    },
      """WITH t AS (
        |  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS s1,
        |         CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END AS s2,
        |         o_orderstatus AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT s1, s2, y, count(*) AS n FROM t GROUP BY 1, 2, 3),
        |tot AS (SELECT count(*) AS nt FROM t),
        |sm AS (SELECT s1, s2, count(*) AS n_combo FROM t GROUP BY 1, 2),
        |lm AS (SELECT y, count(*) AS n_label FROM t GROUP BY 1)
        |SELECT c.s1, c.s2, c.y, c.n,
        |  round((sm.n_combo * 1.0 / tot.nt) * (lm.n_label * 1.0 / tot.nt), 8) AS w_exp,
        |  round(c.n * 1.0 / tot.nt, 8) AS w_obs,
        |  round(((sm.n_combo * 1.0 / tot.nt) * (lm.n_label * 1.0 / tot.nt)) / (c.n * 1.0 / tot.nt), 4) AS disparity
        |FROM cells c, tot JOIN sm ON c.s1 = sm.s1 AND c.s2 = sm.s2 JOIN lm ON c.y = lm.y
        |ORDER BY c.s1, c.s2, c.y""".stripMargin),

    // q18: full DEMV balancing — output = post-balance cell sizes, which are
    // deterministic (SURVEY §2.2: the ±1 loop is pure size arithmetic).
    // No SQL oracle: the convergence loop isn't SQL-expressible; correctness
    // is covered by ScalaTest replay tests against the reference semantics.
    Query.fixed("q18_demv_balance", (s, dir) => {
      val d = demvInput(s, dir).select("s1", "s2", "y")
      val balanced = new DEMV(Seq("s1", "s2"), shuffleOutput = false).fitTransform(d, "y")
      balanced.groupBy(col("s1"), col("s2"), col("y")).agg(count(lit(1)).as("n_after"))
        .orderBy(col("s1"), col("s2"), col("y"))
    },
      // q18 oracle: replay BalanceMath.balanceCell in SQL. With roundLevel=1,
      // pyRound(raw,1)==1.0 is EXACTLY the open double interval (0.95, 1.05):
      // neither boundary is representable and no double lies between the
      // boundary double and its decimal value, so the half-even tie rule never
      // fires. The +-1 walk's stopping size is the first series point past g0
      // (up) / below g0 (down) where the raw ratio enters the stop predicate;
      // overshoot -> parity of the remaining budget decides the oscillation.
      """WITH t AS (
        |  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS s1,
        |         CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END AS s2,
        |         o_orderstatus AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT s1, s2, y, count(*) AS g0 FROM t GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM t),
        |sm AS (SELECT s1, s2, count(*) AS n_combo FROM t GROUP BY 1, 2),
        |lm AS (SELECT y, count(*) AS n_label FROM t GROUP BY 1),
        |base AS (
        |  SELECT c.s1, c.s2, c.y, c.g0, tot.nt,
        |    (CAST(sm.n_combo AS DOUBLE) / tot.nt) * (CAST(lm.n_label AS DOUBLE) / tot.nt) AS wexp
        |  FROM cells c JOIN sm ON c.s1 = sm.s1 AND c.s2 = sm.s2 JOIN lm ON c.y = lm.y CROSS JOIN tot),
        |series AS (SELECT s FROM generate_series(1, 2000000) gs(s)),
        |walk AS (
        |  SELECT b.s1, b.s2, b.y, b.g0, series.s,
        |    b.wexp / (CAST(series.s AS DOUBLE) / b.nt) AS raw
        |  FROM base b JOIN series ON series.s <= b.g0 + 10000),
        |up_t AS (SELECT s1, s2, y, min(s) AS t FROM walk
        |         WHERE s > g0 AND raw < CAST(1.05 AS DOUBLE) GROUP BY 1, 2, 3),
        |dn_t AS (SELECT s1, s2, y, max(s) AS t FROM walk
        |         WHERE s < g0 AND raw > CAST(0.95 AS DOUBLE) GROUP BY 1, 2, 3),
        |fin AS (
        |  SELECT b.s1, b.s2, b.y,
        |    CASE
        |      WHEN b.wexp / (CAST(b.g0 AS DOUBLE) / b.nt) > CAST(0.95 AS DOUBLE)
        |       AND b.wexp / (CAST(b.g0 AS DOUBLE) / b.nt) < CAST(1.05 AS DOUBLE) THEN b.g0
        |      WHEN b.wexp / (CAST(b.g0 AS DOUBLE) / b.nt) > 1 THEN
        |        CASE
        |          WHEN u.t IS NULL THEN b.g0 + 10000
        |          WHEN b.wexp / (CAST(u.t AS DOUBLE) / b.nt) > CAST(0.95 AS DOUBLE) THEN u.t
        |          WHEN (10000 - (u.t - b.g0)) % 2 = 1 THEN u.t - 1
        |          ELSE u.t
        |        END
        |      ELSE
        |        CASE
        |          WHEN d.t IS NULL THEN (CASE WHEN 10000 <= b.g0 - 1 THEN b.g0 - 10000 ELSE 0 END)
        |          WHEN b.g0 - d.t > 10000 THEN b.g0 - 10000
        |          WHEN b.wexp / (CAST(d.t AS DOUBLE) / b.nt) < CAST(1.05 AS DOUBLE) THEN d.t
        |          WHEN (10000 - (b.g0 - d.t)) % 2 = 1 THEN d.t + 1
        |          ELSE d.t
        |        END
        |    END AS n_after
        |  FROM base b LEFT JOIN up_t u ON b.s1 = u.s1 AND b.s2 = u.s2 AND b.y = u.y
        |              LEFT JOIN dn_t d ON b.s1 = d.s1 AND b.s2 = d.s2 AND b.y = d.y)
        |SELECT s1, s2, y, CAST(n_after AS BIGINT) AS n_after
        |FROM fin WHERE n_after > 0 ORDER BY s1, s2, y""".stripMargin),

    // q28: cube / grouping sets — the one-pass marginal computation the
    // balancer's weight math wants (SURVEY A2)
    Query.fixed("q28_cube_marginals", (s, dir) =>
      demvInput(s, dir)
        .cube(col("s1"), col("s2"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy(col("s1").asc_nulls_first, col("s2").asc_nulls_first),
      """SELECT s1, s2, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM (
        |  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS s1,
        |         CASE WHEN c_acctbal >= 0 THEN 1 ELSE 0 END AS s2,
        |         o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |GROUP BY CUBE (s1, s2)
        |ORDER BY s1 NULLS FIRST, s2 NULLS FIRST""".stripMargin),

    // q31: post-processing prediction balancer — per-group predicted-class
    // distributions equalized exactly (graft.eval.PostProcess; rows-only:
    // the transport plan is driver arithmetic, verified in ScalaTest)
    Query.fixed("q31_postprocess_balance", (s, dir) => {
      val pred = demvInput(s, dir)
        .select(col("s1").as("g"), when(col("o_totalprice") > 100000, 1).otherwise(0).as("pred"))
      graft.eval.PostProcess.adjust(pred, "g", "pred", seed = 7)
        .groupBy(col("g"), col("pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("g"), col("pred"))
    },
      // q31 oracle: PostProcess.adjust transports every (group, class) cell to
      // its largest-remainder quota of the overall class distribution, so the
      // final counts ARE the quotas — pure arithmetic on (group, class) counts.
      // Float op order matches the Scala (classShare = n_class/total first,
      // then * gSize); rank ties break on the class string, as in adjust().
      """WITH t AS (
        |  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g,
        |         CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END AS pred
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cells AS (SELECT g, pred, count(*) AS n FROM t GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM t),
        |cls AS (SELECT pred, CAST(sum(n) AS DOUBLE) AS n_class FROM cells GROUP BY 1),
        |grp AS (SELECT g, sum(n) AS g_size FROM cells GROUP BY 1),
        |raw AS (SELECT grp.g, cls.pred, grp.g_size,
        |          (cls.n_class / tot.nt) * CAST(grp.g_size AS DOUBLE) AS x
        |        FROM grp CROSS JOIN cls CROSS JOIN tot),
        |fl AS (SELECT g, pred, g_size, CAST(trunc(x) AS BIGINT) AS fx, x - trunc(x) AS frac FROM raw),
        |rem AS (SELECT g, any_value(g_size) - sum(fx) AS r FROM fl GROUP BY g),
        |rk AS (SELECT fl.*, rem.r,
        |         row_number() OVER (PARTITION BY fl.g ORDER BY fl.frac DESC, CAST(fl.pred AS VARCHAR)) AS rn
        |       FROM fl JOIN rem ON fl.g = rem.g)
        |SELECT g, pred, CAST(fx + CASE WHEN rn <= r THEN 1 ELSE 0 END AS BIGINT) AS n
        |FROM rk WHERE fx + CASE WHEN rn <= r THEN 1 ELSE 0 END > 0
        |ORDER BY g, pred""".stripMargin),

    // q34: average odds difference (SURVEY M4) — per-class one-vs-rest
    // TPR/FPR vectors, reproducing the reference's missing-parens formula
    // (utils.py:113) — oracle-checked against the same arithmetic in SQL
    Query.fixed("q34_avg_odds", (s, dir) => {
      import graft.metrics.{FairnessMetrics, GroupCondition}
      val pred = demvInput(s, dir).select(
        col("s1"),
        col("y").as("y_true"),
        when(col("o_totalprice") > 100000, "F").otherwise("O").as("pred"))
      val aod = FairnessMetrics.averageOddsDifference(
        pred, GroupCondition(Map("s1" -> 1)), "pred", "y_true")
      import s.implicits._
      aod.toSeq.map { case (c, v) =>
        // a class absent from one group yields NaN rates (documented aodImpl
        // deviation) — emit NaN rather than crash in BigDecimal
        (c.toString,
          if (v.isNaN || v.isInfinite) v
          else BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toDF("class", "aod").orderBy(col("class"))
    },
      """WITH t AS (
        |  SELECT CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS u,
        |         o_orderstatus AS yt,
        |         CASE WHEN o_totalprice > 100000 THEN 'F' ELSE 'O' END AS yp
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cls AS (SELECT DISTINCT yt AS c FROM t UNION SELECT DISTINCT yp AS c FROM t),
        |r AS (SELECT c, u,
        |  CAST(sum(CASE WHEN yt = c AND yp = c THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
        |  CAST(sum(CASE WHEN yt = c AND yp <> c THEN 1 ELSE 0 END) AS DOUBLE) AS fn,
        |  CAST(sum(CASE WHEN yt <> c AND yp = c THEN 1 ELSE 0 END) AS DOUBLE) AS fp,
        |  CAST(sum(CASE WHEN yt <> c AND yp <> c THEN 1 ELSE 0 END) AS DOUBLE) AS tn
        |  FROM t CROSS JOIN cls GROUP BY c, u)
        |SELECT ru.c AS class,
        |  round((ru.fp / (ru.fp + ru.tn) - rp.fp / (rp.fp + rp.tn))
        |        + (ru.tp / (ru.tp + ru.fn) - rp.tp / (rp.tp + rp.fn)) / 2, 6) AS aod
        |FROM r ru JOIN r rp ON ru.c = rp.c AND ru.u = 1 AND rp.u = 0
        |ORDER BY class""".stripMargin))

  /** orders x customer with binary sensitive vars + label — the DEMV-shaped
    * predictions table derived from the relational testdata.
    */
  private def demvInput(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select(
        when(col("c_mktsegment") === "BUILDING", 1).otherwise(0).as("s1"),
        when(col("c_acctbal") >= 0, 1).otherwise(0).as("s2"),
        col("o_orderstatus").as("y"),
        col("o_orderkey"),
        col("o_totalprice"))
}
