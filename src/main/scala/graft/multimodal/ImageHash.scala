package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Perceptual image hashing + Hamming-ball image near-dup (SURVEY+ L72)
  * — the image-side analogue of SimHash text dedup, the dedup step of
  * LAION/DataComp-style multimodal curation: re-encoded, resized or
  * lightly edited copies of an image have byte-distinct payloads (exact
  * hash misses them) but nearly identical difference hashes.
  *
  * dHash (difference hash, the standard 64-bit perceptual baseline):
  * decode to grayscale -> integer box-average down to a 9x8 grid ->
  * bit (y*8 + x) set iff grid(y, x) < grid(y, x+1). All arithmetic is
  * integral (pixel sums, truncating division, comparisons), so the hash
  * is a pure integer function of the pixel matrix — an engine-portable
  * contract (the q111 oracle replays grid + bits in DuckDB int math
  * from the same deterministic pixel synthesis, through a completely
  * different plan: all-pairs over bit SETS vs blocked join over packed
  * longs).
  *
  * Decode paths (all base-JVM, no external libraries):
  *  - P5/P6 netpbm: direct byte walk (the [[Multimodal]] parser);
  *  - JPEG/PNG/GIF/BMP/TIFF: `javax.imageio`. Single-band images read
  *    raw raster samples (getRGB would route gray through sRGB color
  *    management — nonlinear and JDK-dependent); multi-band images use
  *    integer luma (299 r + 587 g + 114 b) / 1000.
  * RGB->gray and the box average happen per-pixel at decode — the only
  * full-resolution pass; everything downstream sees 64-bit hashes.
  *
  * Scale shape: decode+hash is a pure map stage over (id, bytes) —
  * payloads never shuffle; the pair search is [[graft.dedup.Dedup
  * .hammingPairs64]] (four 16-bit blocks as join keys,
  * pigeonhole-complete for Hamming distance <= 3), so the exchange
  * carries (id, hash) rows only. 100 TB of images reduces to 8 bytes
  * per image before anything wide happens.
  */
object ImageHash {

  private val GridW = 9
  private val GridH = 8

  // ImageIO's default stream cache is a TEMP FILE per decode call —
  // ImageIO.read(InputStream) wraps the in-memory byte stream in a
  // FileCacheImageInputStream when useCache = true (the JDK default),
  // costing a file create/write/delete per image and serializing on
  // tmpfs metadata under 32 concurrent decode threads (measured: the
  // 5M-image sf100 run spent most of its wall time here). Payloads are
  // already fully in memory; a disk cache can never help this engine.
  // JVM-global, set once at first use of any decode path.
  javax.imageio.ImageIO.setUseCache(false)

  /** Grayscale pixel matrix from an image payload: (w, h, row-major
    * gray values in [0, 255]). None when the payload is not a decodable
    * image.
    */
  def decodeGray(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 8) return None
    if (b(0) == 'P' && (b(1) == '5' || b(1) == '6')) return decodePnmGray(b)
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      if (w <= 0 || h <= 0) return None
      val g = new Array[Int](w * h)
      val raster = img.getRaster
      if (raster.getNumBands == 1 && img.getColorModel.getPixelSize == 8) {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { g(y * w + x) = raster.getSample(x, y, 0); x += 1 }
          y += 1
        }
      } else {
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            g(y * w + x) = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            x += 1
          }
          y += 1
        }
      }
      Some((w, h, g))
    } catch { case _: Exception => None }
  }

  /** P5 gray direct; P6 rgb via the same integer luma as the ImageIO
    * path. Mirrors [[Multimodal.decodePnm]]'s header handling.
    */
  private def decodePnmGray(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    // re-parse the header with the shared parser semantics: magic,
    // dimensions, maxval <= 255, single whitespace then raw samples
    Multimodal.pnmHeaderFor(b).flatMap { case (magic, w, h, _, off) =>
      val channels = if (magic == '5') 1 else 3
      val need = w.toLong * h * channels
      if (b.length - off < need) None
      else {
        val g = new Array[Int](w * h)
        var i = 0
        while (i < w * h) {
          val o = off + i * channels
          g(i) =
            if (channels == 1) b(o) & 0xFF
            else ((b(o) & 0xFF) * 299 + (b(o + 1) & 0xFF) * 587 + (b(o + 2) & 0xFF) * 114) / 1000
          i += 1
        }
        Some((w, h, g))
      }
    }
  }

  /** 64-bit dHash of a gray matrix: integer box-average to 9x8 (source
    * pixel (x, y) belongs to bucket (x*9/w, y*8/h); bucket value =
    * truncating mean), bit (gy*8 + gx) set iff bucket(gy, gx) <
    * bucket(gy, gx+1). Requires w >= 9 and h >= 8 (smaller images have
    * empty buckets — no meaningful hash).
    */
  def dHashOfGray(w: Int, h: Int, g: Array[Int]): Option[Long] = {
    if (w < GridW || h < GridH) return None
    val sum = new Array[Long](GridW * GridH)
    val cnt = new Array[Int](GridW * GridH)
    var y = 0
    while (y < h) {
      val gy = y * GridH / h
      var x = 0
      while (x < w) {
        val gx = x * GridW / w
        sum(gy * GridW + gx) += g(y * w + x)
        cnt(gy * GridW + gx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var gy = 0
    while (gy < GridH) {
      var gx = 0
      while (gx < GridW - 1) {
        val a = sum(gy * GridW + gx) / cnt(gy * GridW + gx)
        val b = sum(gy * GridW + gx + 1) / cnt(gy * GridW + gx + 1)
        if (a < b) hash |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    Some(hash)
  }

  // ------------------------------------------------------------------
  // pHash (DCT perceptual hash) — the tier ABOVE dHash: dHash's
  // adjacent-bucket comparisons break under rescale/recompress (grid
  // boundaries shift, JPEG noise flips near-tie comparisons); pHash
  // thresholds the 8x8 LOW-FREQUENCY block of a 32x32 DCT against its
  // median, and low frequencies are nearly invariant to resampling
  // while per-pixel noise attenuates by the 1024-pixel sum. The
  // LAION-style pipelines' image-dedup default.
  //
  // INTEGER contract (engine-portable, like the dHash int math): the
  // resize is integral (box-average buckets x*32/w for w >= 32, nearest
  // sample gx*w/32 for upscale), and the DCT uses a FIXED-POINT cosine
  // table T(k, n) = round(32768 * cos(pi * (2n+1) * k / 64)) — the 2D
  // coefficient is sum g * T(u, x) * T(v, y), exact in 64-bit ints
  // (max |C| ~ 2.8e14), so another engine replays every bit from the
  // 256 table literals. Median threshold: with the 64 coeffs sorted,
  // bit(v*8 + u) set iff 2*C(u, v) > sorted(31) + sorted(32) — strict,
  // division-free.
  // ------------------------------------------------------------------

  private val PHashN = 32

  /** The fixed-point DCT-II cosine table, row-major (8 frequencies x 32
    * samples). Exposed for the oracle generator (the constants ARE the
    * algorithm, like PQ codebooks).
    */
  val DctTable: Array[Long] = {
    val t = new Array[Long](8 * PHashN)
    var k = 0
    while (k < 8) {
      var n = 0
      while (n < PHashN) {
        t(k * PHashN + n) =
          math.round(32768.0 * math.cos(math.Pi * (2 * n + 1) * k / (2.0 * PHashN)))
        n += 1
      }
      k += 1
    }
    t
  }

  /** Integral resize of a gray matrix to 32x32: per axis, box-average
    * buckets (x*32/w) when the source is at least 32 wide (the dHash
    * grid convention), nearest sample (gx*w/32) when upscaling.
    */
  private[multimodal] def resizeTo32(w: Int, h: Int, g: Array[Int]): Array[Int] = {
    val out = new Array[Int](PHashN * PHashN)
    if (w >= PHashN && h >= PHashN) {
      val sum = new Array[Long](PHashN * PHashN)
      val cnt = new Array[Int](PHashN * PHashN)
      var y = 0
      while (y < h) {
        val gy = y * PHashN / h
        var x = 0
        while (x < w) {
          val gx = x * PHashN / w
          sum(gy * PHashN + gx) += g(y * w + x)
          cnt(gy * PHashN + gx) += 1
          x += 1
        }
        y += 1
      }
      var i = 0
      while (i < out.length) { out(i) = (sum(i) / cnt(i)).toInt; i += 1 }
    } else {
      // per-axis source indices: box bucket where downscaling, the
      // single nearest index where upscaling
      def axis(src: Int): Array[Array[Int]] =
        if (src >= PHashN)
          Array.tabulate(PHashN)(t => (0 until src).filter(i => i * PHashN / src == t).toArray)
        else Array.tabulate(PHashN)(t => Array(t * src / PHashN))
      val xs = axis(w)
      val ys = axis(h)
      var gy = 0
      while (gy < PHashN) {
        var gx = 0
        while (gx < PHashN) {
          var s = 0L
          var c = 0
          ys(gy).foreach(y => xs(gx).foreach { x => s += g(y * w + x); c += 1 })
          out(gy * PHashN + gx) = (s / c).toInt
          gx += 1
        }
        gy += 1
      }
    }
    out
  }

  /** 64-bit pHash of a gray matrix (any size >= 1x1): integral 32x32
    * resize, fixed-point 8x8 low-frequency DCT block, median threshold.
    */
  def pHashOfGray(w: Int, h: Int, g: Array[Int]): Option[Long] = {
    if (w < 1 || h < 1) return None
    val p = resizeTo32(w, h, g)
    // separable: R(y, u) = sum_x p(y, x) T(u, x); C(v, u) = sum_y R(y, u) T(v, y)
    val r = new Array[Long](PHashN * 8)
    var y = 0
    while (y < PHashN) {
      var u = 0
      while (u < 8) {
        var s = 0L
        var x = 0
        while (x < PHashN) { s += p(y * PHashN + x) * DctTable(u * PHashN + x); x += 1 }
        r(y * 8 + u) = s
        u += 1
      }
      y += 1
    }
    val c = new Array[Long](64)
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0L
        var yy = 0
        while (yy < PHashN) { s += r(yy * 8 + u) * DctTable(v * PHashN + yy); yy += 1 }
        c(v * 8 + u) = s
        u += 1
      }
      v += 1
    }
    val sorted = c.clone()
    java.util.Arrays.sort(sorted)
    val med2 = sorted(31) + sorted(32)
    var hash = 0L
    var i = 0
    while (i < 64) {
      if (2 * c(i) > med2) hash |= 1L << i
      i += 1
    }
    Some(hash)
  }

  /** Static entry for codegen: boxed Long, null when not decodable. */
  def phash64Java(b: Array[Byte]): java.lang.Long =
    decodeGray(b).flatMap { case (w, h, g) => pHashOfGray(w, h, g) } match {
      case Some(v) => java.lang.Long.valueOf(v)
      case None => null
    }

  /** pHash as a Column over a binary payload column; NULL for
    * undecodable payloads.
    */
  def phash64(c: Column): Column = graft.functions.Kernels.imagePhash64(c)

  /** Image near-dup pairs under pHash — the rescale/recompress-robust
    * tier; same blocked Hamming join as [[nearDupPairs]].
    */
  def phashNearDupPairs(
      df: DataFrame,
      idCol: String,
      bytesCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      blockScheme: String = "auto"): DataFrame = {
    val hashed = df.select(col(idCol).as("id"), phash64(col(bytesCol)).as("phash"))
      .where(col("phash").isNotNull)
    graft.dedup.Dedup.hammingPairs64(hashed, "id", "phash", maxHamming,
      maxBucketSize, blockScheme)
  }

  /** Static entry for codegen: boxed Long, null when not hashable. */
  def dhash64Java(b: Array[Byte]): java.lang.Long =
    decodeGray(b).flatMap { case (w, h, g) => dHashOfGray(w, h, g) } match {
      case Some(v) => java.lang.Long.valueOf(v)
      case None => null
    }

  /** dHash as a Column over a binary payload column; NULL for
    * undecodable / sub-9x8 payloads.
    */
  def dhash64(c: Column): Column = graft.functions.Kernels.imageDhash64(c)

  /** Image near-dup pairs: (id_a, id_b, hamming <= maxHamming) over the
    * dHashes of a (idCol, bytesCol) frame. Blocked Hamming join —
    * complete for maxHamming <= 3; `maxBucketSize` is the boilerplate
    * skew guard (uniform-color thumbnails can flood a block bucket).
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      bytesCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      blockScheme: String = "auto"): DataFrame = {
    val hashed = df.select(col(idCol).as("id"), dhash64(col(bytesCol)).as("dhash"))
      .where(col("dhash").isNotNull)
    graft.dedup.Dedup.hammingPairs64(hashed, "id", "dhash", maxHamming,
      maxBucketSize, blockScheme)
  }

  // ------------------------------------------------------------------
  // Deterministic image fixture (gate/spec use): 18x16 images keyed by
  // doc_id, planted near-dup structure. Shared contract with the q111
  // oracle's SQL pixel synthesis — keep formulas in sync.
  //   g = doc_id / 3 (image family), r = doc_id % 3 (variant):
  //     base(x,y) = (g*31 + (x*7 + y*11)*(1 + ((x+y+g) % 5))) % 256
  //     r=0: base, encoded P5 PGM
  //     r=1: base + 60 on the 2x2 top-left block (capped 255) — a
  //          one-bucket perturbation, so dHash differs in <= 1 bit
  //          from r=0 — encoded GRAYSCALE PNG (the pair's value then
  //          depends on the real ImageIO decode path)
  //     r=2: (base*3 + x*y + 17) % 256 — unrelated, P5 PGM
  // ------------------------------------------------------------------

  private[multimodal] val FixtureW = 18
  private[multimodal] val FixtureH = 16

  private[multimodal] def fixturePixel(docId: Long, x: Int, y: Int): Int = {
    val g = docId / 3
    val r = docId % 3
    val base = ((g * 31 + (x * 7 + y * 11) * (1 + ((x + y + g) % 5))) % 256).toInt
    r match {
      case 0 => base
      case 1 => math.min(base + (if (x < 2 && y < 2) 60 else 0), 255)
      case _ => ((base.toLong * 3 + x * y + 17) % 256).toInt
    }
  }

  private[multimodal] def fixtureBytes(docId: Long): Array[Byte] = {
    val w = FixtureW
    val h = FixtureH
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { px(y * w + x) = fixturePixel(docId, x, y); x += 1 }
      y += 1
    }
    // PNG-encode a third of the perturbed variants (id % 9 == 1 implies
    // id % 3 == 1): enough to keep the ImageIO decode path load-bearing
    // in every gate while ImageIO's ~ms-per-image ENCODE cost doesn't
    // dominate fixture synthesis at bench scale
    if (docId % 9 == 1) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var i = 0
      while (i < px.length) { raster.setSample(i % w, i / w, 0, px(i)); i += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    } else {
      val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + px.length)
      System.arraycopy(header, 0, out, 0, header.length)
      var i = 0
      while (i < px.length) { out(header.length + i) = px(i).toByte; i += 1 }
      out
    }
  }

  /** (doc_id) -> (doc_id, bytes) fixture frame: a distributed map stage
    * (the encoder is the test-side twin of the decode kernels, like
    * [[graft.data.WarcFiles]]).
    */
  def syntheticImages(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .map(id => (id, fixtureBytes(id)))
      .toDF("doc_id", "bytes")
  }

  // ------------------------------------------------------------------
  // pHash fixture (q129): smooth per-family gradients + small integer
  // noise, with a planted TRUE RESCALE — the perturbation class dHash's
  // shifted grid partitions see differently but pHash's low-frequency
  // DCT block survives. Shared contract with the q129 oracle's SQL
  // pixel synthesis — keep formulas in sync.
  //   g = doc_id / 3 (family), r = doc_id % 3 (variant). The base is a
  //   9x9-px BLOCK mosaic (i = x/9, j = y/9) — broad low-frequency
  //   energy, so all 64 DCT-block coefficients sit decisively off the
  //   median (a plain gradient concentrates energy in two coefficient
  //   rows and leaves the rest alias-decided; measured: 6-px blocks
  //   alias up to 8 bits under the 3/2 rescale, 9-px blocks 0):
  //     base(x,y)   = 40 + (g*73 + (x/9)*41 + (y/9)*59)^2 % 151  (36 x 32)
  //     (no per-pixel noise on r=0/r=1: the planted pair must be a
  //     PURE rescale so the <= 3-bit bound is about resampling alias,
  //     not noise; the noise-under-rescale story is spec-pinned in
  //     PhashSpec's dHash-fails/pHash-survives case)
  //     r=0: base, P5 PGM
  //     r=1: base NEAREST-UPSCALED 3/2 to 54 x 48 (pixel (x,y) samples
  //          base(x*36/54, y*32/48)) — a true rescale; grayscale PNG
  //          for doc_id % 9 == 1 (the q111 ImageIO-path convention)
  //     r=2: unrelated mosaic blk2 = 40 + ((g*97 + i*67 + j*31)^2 + 13)
  //          % 151 + (x*13 + y*5 + 3*g) % 7, P5 PGM
  // ------------------------------------------------------------------

  private[multimodal] val PFixW = 36
  private[multimodal] val PFixH = 32
  private[multimodal] val PFixW1 = 54
  private[multimodal] val PFixH1 = 48

  private[multimodal] def phashFixturePixel(docId: Long, x: Int, y: Int): Int = {
    val g = docId / 3
    val r = docId % 3
    def base(bx: Int, by: Int): Int = {
      val v = g * 73 + (bx / 9) * 41 + (by / 9) * 59
      (40 + (v * v) % 151).toInt
    }
    r match {
      case 0 => base(x, y)
      case 1 => base(x * PFixW / PFixW1, y * PFixH / PFixH1)
      case _ =>
        val v = g * 97 + (x / 9) * 67 + (y / 9) * 31
        (40 + (v * v + 13) % 151 + (x * 13 + y * 5 + 3 * g) % 7).toInt
    }
  }

  private[multimodal] def phashFixtureBytes(docId: Long): Array[Byte] = {
    val r = docId % 3
    val w = if (r == 1) PFixW1 else PFixW
    val h = if (r == 1) PFixH1 else PFixH
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { px(y * w + x) = phashFixturePixel(docId, x, y); x += 1 }
      y += 1
    }
    if (docId % 9 == 1) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var i = 0
      while (i < px.length) { raster.setSample(i % w, i / w, 0, px(i)); i += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    } else {
      val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + px.length)
      System.arraycopy(header, 0, out, 0, header.length)
      var i = 0
      while (i < px.length) { out(header.length + i) = px(i).toByte; i += 1 }
      out
    }
  }

  /** (doc_id) -> (doc_id, bytes) pHash fixture frame. */
  def syntheticImagesPhash(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.select(col("doc_id").cast("long")).as[Long]
      .map(id => (id, phashFixtureBytes(id)))
      .toDF("doc_id", "bytes")
  }
}
