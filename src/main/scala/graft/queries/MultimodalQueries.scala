package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Shared._

/** Multimodal queries: media features and dHash and pHash image
  * near-duplicates.
  */
object MultimodalQueries {

  val all: Seq[Query] = Seq(
    // q32: multimodal feature extraction — binary payload columns through
    // the batched decode plumbing. Images/audio decode for REAL (pure-JVM
    // PGM/WAV codecs); video exercises the stub fallback (rows-only: the
    // synthetic payload generation is seeded Scala, not SQL-replayable)
    Query.golden("q32_media_features", (s, dir) => {
      val media = graft.multimodal.Multimodal.synthetic(s, 500, seed = 11)
      graft.multimodal.Multimodal.extractFeatures(media)
        .groupBy(col("kind"), col("codec"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("brightness")), 6).as("avg_brightness"),
          sum(col("byte_len")).as("total_bytes"),
          max(col("width")).as("max_width"),
          max(col("sample_rate")).as("max_sample_rate"))
        .orderBy(col("kind"))
    }),

    // q111: perceptual image near-dup (SURVEY+ L72) — dHash (integer
    // box-average to 9x8 + adjacent-bucket comparisons, a pure integer
    // function of the pixels) over a deterministic 18x16 image fixture
    // keyed by doc_id (families of 3: base PGM, one-bucket-perturbed
    // GRAYSCALE PNG — so the planted pair's value rides the real
    // ImageIO decode path — and an unrelated image). Pair search is the
    // blocked Hamming join shared with SimHash (pigeonhole-complete at
    // d <= 3); the oracle recomputes pixels from the same formula in
    // DuckDB int math and compares ALL pairs via bit SETS — different
    // plan and different hash representation, same pairs.
    Query.fixed("q111_image_dhash_neardup", (s, dir) => {
      // fixture bounded to 3000 images at ANY scale: the oracle is an
      // all-pairs scan by design (different plan than the blocked join),
      // so an unbounded fixture would hand DuckDB 50k^2 pairs at the sf1
      // gate. Operator-level scale decades are measured separately on
      // the unbounded corpus (BENCHNOTES round 8).
      val imgs = graft.multimodal.ImageHash.syntheticImages(
        t(s, dir, "documents").select(col("doc_id")).where(col("doc_id") < 3000))
      // bucket cap effectively off: the oracle is an uncapped all-pairs
      // scan, and gate scales keep blocks far below any real skew guard
      graft.multimodal.ImageHash.nearDupPairs(imgs, "doc_id", "bytes",
        maxHamming = 3, maxBucketSize = 1 << 20)
        .orderBy(col("id_a"), col("id_b"))
    },
      // q111: pixel synthesis replayed from the shared fixture formula
      // (ImageHash.fixturePixel), box-average via grouped integer
      // division (x*9/18 == x//2 at the fixture size), dHash kept as a
      // SORTED BIT SET per doc, and an all-pairs scan with set-arithmetic
      // Hamming — deliberately nothing in common with the Spark plan
      // (packed 64-bit hashes, 16-bit-block LSH join) except the answer.
      """WITH xs AS (SELECT unnest(range(0, 18)) AS x),
        |ys AS (SELECT unnest(range(0, 16)) AS y),
        |px AS (SELECT d.doc_id, d.doc_id // 3 AS g, d.doc_id % 3 AS r, xs.x, ys.y
        |  FROM documents d, xs, ys WHERE d.doc_id < 3000),
        |vals AS (SELECT doc_id, x, y,
        |    CASE WHEN r = 0 THEN base
        |         WHEN r = 1 THEN least(base + CASE WHEN x < 2 AND y < 2 THEN 60 ELSE 0 END, 255)
        |         ELSE (base * 3 + x * y + 17) % 256 END AS v
        |  FROM (SELECT *, (g * 31 + (x * 7 + y * 11) * (1 + ((x + y + g) % 5))) % 256 AS base
        |        FROM px)),
        |bk AS (SELECT doc_id, y // 2 AS gy, x // 2 AS gx,
        |    CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS b
        |  FROM vals GROUP BY doc_id, y // 2, x // 2),
        |bits AS (SELECT l.doc_id, l.gy * 8 + l.gx AS bit
        |  FROM bk l JOIN bk rr ON l.doc_id = rr.doc_id AND l.gy = rr.gy AND rr.gx = l.gx + 1
        |  WHERE l.b < rr.b),
        |dh AS (SELECT d.doc_id,
        |    list_sort(list(b.bit) FILTER (WHERE b.bit IS NOT NULL)) AS bits
        |  FROM documents d LEFT JOIN bits b ON d.doc_id = b.doc_id
        |  WHERE d.doc_id < 3000 GROUP BY d.doc_id),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(coalesce(len(a.bits), 0) + coalesce(len(b.bits), 0)
        |      - 2 * coalesce(len(list_intersect(a.bits, b.bits)), 0) AS INTEGER) AS hamming
        |  FROM dh a JOIN dh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin),

    // q129: pHash image near-dup (SURVEY+ L84) — the DCT tier ABOVE
    // q111's dHash: integral 32x32 resize + fixed-point-cosine 8x8
    // low-frequency DCT block thresholded at its median (all integer
    // arithmetic — the 256 table literals ARE the algorithm, so the
    // oracle replays every bit). Fixture plants a TRUE RESCALE (3/2
    // nearest upscale) per family: the perturbation class dHash's
    // shifted grid breaks under (PhashSpec pins the dHash-fails/
    // pHash-survives case with JPEG recompress on top). Pair search is
    // the same blocked Hamming join; the oracle resynthesizes pixels,
    // replays resize + two DCT stages + median in DuckDB int math and
    // compares all pairs via bit sets.
    Query.fixed("q129_image_phash_neardup", (s, dir) => {
      // bounded fixture at any scale — the oracle is an all-pairs scan
      // by design (the q111 rationale)
      val imgs = graft.multimodal.ImageHash.syntheticImagesPhash(
        t(s, dir, "documents").select(col("doc_id")).where(col("doc_id") < 3000))
      graft.multimodal.ImageHash.phashNearDupPairs(imgs, "doc_id", "bytes",
        maxHamming = 3, maxBucketSize = 1 << 20)
        .orderBy(col("id_a"), col("id_b"))
    },
      // q129: the q111 all-pairs bit-set shape with the pHash pipeline
      // replayed in int math (resize buckets, fixed-point DCT stages,
      // division-free median)
      q129OracleSql))

  /** DuckDB replica of the q129 pHash pipeline: pixel synthesis from
    * the shared fixture formulas (ImageHash.phashFixturePixel), box
    * resize to 32x32 via grouped integer division, the TWO separable
    * DCT stages against the fixed-point cosine table literals
    * (ImageHash.DctTable — the constants are the algorithm), the
    * division-free median threshold (2c > sorted31 + sorted32), and an
    * all-pairs bit-set Hamming scan — nothing in common with the Spark
    * plan (packed longs, blocked LSH join) except the answer.
    */
  private def q129OracleSql: String = {
    val tRows = (0 until 8).flatMap { k =>
      (0 until 32).map(n => s"($k, $n, ${graft.multimodal.ImageHash.DctTable(k * 32 + n)})")
    }.mkString(",\n  ")
    s"""WITH x36 AS (SELECT unnest(range(0, 36)) AS x),
       |y32 AS (SELECT unnest(range(0, 32)) AS y),
       |x54 AS (SELECT unnest(range(0, 54)) AS x),
       |y48 AS (SELECT unnest(range(0, 48)) AS y),
       |ids AS (SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS r FROM documents WHERE doc_id < 3000),
       |b01 AS (SELECT i.doc_id, i.g, x36.x, y32.y, x36.x AS bx, y32.y AS by, 36 AS w, 32 AS h
       |    FROM ids i, x36, y32 WHERE i.r = 0
       |  UNION ALL
       |  SELECT i.doc_id, i.g, x54.x, y48.y,
       |      (x54.x * 36) // 54 AS bx, (y48.y * 32) // 48 AS by, 54 AS w, 48 AS h
       |    FROM ids i, x54, y48 WHERE i.r = 1),
       |vb AS (SELECT doc_id, x, y, w, h, 40 + (vv * vv) % 151 AS v
       |  FROM (SELECT *, g * 73 + (bx // 9) * 41 + (by // 9) * 59 AS vv FROM b01)),
       |v2 AS (SELECT doc_id, x, y, 36 AS w, 32 AS h,
       |    40 + (vv * vv + 13) % 151 + (x * 13 + y * 5 + 3 * g) % 7 AS v
       |  FROM (SELECT i.doc_id, i.g, x36.x, y32.y,
       |          i.g * 97 + (x36.x // 9) * 67 + (y32.y // 9) * 31 AS vv
       |        FROM ids i, x36, y32 WHERE i.r = 2)),
       |px AS (SELECT * FROM vb UNION ALL SELECT * FROM v2),
       |rz AS (SELECT doc_id, (x * 32) // w AS gx, (y * 32) // h AS gy,
       |    CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS v
       |  FROM px GROUP BY doc_id, (x * 32) // w, (y * 32) // h),
       |t(k, n, t) AS (VALUES
       |  $tRows),
       |rr AS (SELECT rz.doc_id, rz.gy, t.k AS u, CAST(sum(rz.v * t.t) AS BIGINT) AS rv
       |  FROM rz JOIN t ON t.n = rz.gx GROUP BY rz.doc_id, rz.gy, t.k),
       |cc AS (SELECT rr.doc_id, t.k AS vf, rr.u, CAST(sum(rr.rv * t.t) AS BIGINT) AS c
       |  FROM rr JOIN t ON t.n = rr.gy GROUP BY rr.doc_id, t.k, rr.u),
       |m AS (SELECT doc_id, c, row_number() OVER (PARTITION BY doc_id ORDER BY c) AS rn FROM cc),
       |med AS (SELECT doc_id, sum(CASE WHEN rn IN (32, 33) THEN c END) AS med2
       |  FROM m GROUP BY doc_id),
       |bits AS (SELECT cc.doc_id, cc.vf * 8 + cc.u AS bit
       |  FROM cc JOIN med ON cc.doc_id = med.doc_id WHERE 2 * cc.c > med.med2),
       |ph AS (SELECT i.doc_id,
       |    list_sort(list(b.bit) FILTER (WHERE b.bit IS NOT NULL)) AS bits
       |  FROM ids i LEFT JOIN bits b ON i.doc_id = b.doc_id GROUP BY i.doc_id),
       |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(coalesce(len(a.bits), 0) + coalesce(len(b.bits), 0)
       |      - 2 * coalesce(len(list_intersect(a.bits, b.bits)), 0) AS INTEGER) AS hamming
       |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM pr WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
  }
}
