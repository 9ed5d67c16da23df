package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video travel as opaque
  * `binary` columns plus typed metadata structs; all bucketing and
  * joining happens on the compact metadata, so shuffles carry payload
  * bytes only when a repartition explicitly asks for it.
  *
  * The image decode path is REAL: [[imageioDecode]] parses actual
  * PNG/JPEG/BMP/GIF bytes with the JDK's `javax.imageio` (no native
  * codecs required) inside the batched `mapPartitions` stage —
  * dimensions and pixel statistics come from the decoded raster, not
  * from byte-length arithmetic. The audio decode path is REAL too:
  * [[wavDecode]] parses WAV/PCM containers with the JDK's
  * `javax.sound.sampled` and computes exact integer sample energies,
  * and [[aHash64]] fingerprints clips for the shared banded-Hamming
  * near-dup join. [[stubDecode]] remains as the declared FALLBACK
  * for payloads with no JVM codec (video containers, compressed
  * audio) — same column contract, deterministic fake values — so the
  * plumbing stays testable on any payload.
  *
  * Scale notes: decode is map-only (no shuffle); per-partition codec
  * setup amortizes across the partition's rows, and the binary
  * column never leaves the executor.
  */
object Multimodal {

  /** STUB image decode for non-image payloads — deterministic fake
    * dimensions derived from the byte length, same shape as the real
    * decoder's output. Kept for payloads `javax.imageio` cannot read
    * (and as the engine-portable column form usable in pure SQL).
    */
  def decodeImageMeta(bytes: Column): Column = {
    val n = octet_length(bytes).cast("long")
    struct(
      n.as("n_bytes"),
      (pmod(n, lit(640L)) + 1).as("width"),
      (pmod(n * 7, lit(480L)) + 1).as("height"))
  }

  /** Partition-batched decode — the Scala twin of a `mapInPandas`
    * decode stage: rows stream through `mapPartitions` so the codec
    * amortizes per-batch setup across the partition, and the binary
    * payload never leaves the executor. The default decoder is the
    * REAL [[imageioDecode]]; pass [[stubDecode]] for non-image
    * payloads. Output schema = input + `decoded struct<n_bytes
    * bigint, width bigint, height bigint, px_mean bigint>`.
    */
  def decodeBatch(
      df: DataFrame,
      bytesCol: String)(
      decodeOne: Array[Byte] => (Long, Long, Long, Long) = imageioDecode): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("decoded", StructType(Seq(
        StructField("n_bytes", LongType, nullable = false),
        StructField("width", LongType, nullable = false),
        StructField("height", LongType, nullable = false),
        StructField("px_mean", LongType, nullable = false)))))
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      // per-partition setup for a heavier codec would go here
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        val (n, w, h, m) = decodeOne(bytes)
        Row.fromSeq(row.toSeq :+ Row(n, w, h, m))
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** REAL image decode via the JDK's `javax.imageio` — dimensions
    * read from the decoded image, `px_mean` = integer mean of the
    * red channel over the full raster (exact for constant-fill test
    * images; a cheap corruption/brightness screen for real ones).
    * Throws with a clear message on undecodable bytes — route known
    * non-image payloads through [[stubDecode]] instead.
    */
  def imageioDecode(bytes: Array[Byte]): (Long, Long, Long, Long) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null,
      "imageioDecode: bytes are not a JVM-decodable image (png/jpeg/bmp/gif) — " +
        "use stubDecode for non-image payloads")
    val w = img.getWidth
    val h = img.getHeight
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { sum += (img.getRGB(x, y) >>> 16) & 0xFF; x += 1 }
      y += 1
    }
    (bytes.length.toLong, w.toLong, h.toLong, sum / (w.toLong * h.toLong))
  }

  /** The deterministic fake decoder (mirrors [[decodeImageMeta]]) —
    * the declared fallback for payloads without a JVM codec.
    */
  def stubDecode(bytes: Array[Byte]): (Long, Long, Long, Long) = {
    val n = bytes.length.toLong
    (n, n % 640 + 1, (n * 7) % 480 + 1, (n * 13) % 256)
  }

  /** Encode one REAL grayscale PNG (`gray` ∈ 0..255 fills every
    * channel of every pixel) — the deterministic test-image
    * generator for the decode path: constant fill makes the decoded
    * `px_mean` exactly `gray`, so an external oracle can predict the
    * decoded values while the values themselves still come from
    * parsing genuine PNG bytes.
    */
  def encodePng(w: Int, h: Int, gray: Int): Array[Byte] = {
    require(w > 0 && h > 0, s"PNG dims must be positive, got ${w}x$h")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val c = ((gray & 0xFF) << 16) | ((gray & 0xFF) << 8) | (gray & 0xFF)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, c); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Attach a real PNG per row (`mapPartitions`, map-only), with
    * dimensions and fill taken from integer columns — test/bench
    * scaffolding for the decode path when the corpus has no image
    * payloads of its own.
    */
  def withTestPng(
      df: DataFrame,
      widthCol: String,
      heightCol: String,
      grayCol: String,
      out: String = "img"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(out, BinaryType))
    val wi = df.schema.fieldIndex(widthCol)
    val hi = df.schema.fieldIndex(heightCol)
    val gi = df.schema.fieldIndex(grayCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val png = encodePng(
          row.getAs[Number](wi).intValue(),
          row.getAs[Number](hi).intValue(),
          row.getAs[Number](gi).intValue())
        Row.fromSeq(row.toSeq :+ png)
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** Difference hash (dHash-64) over a decoded raster — the
    * perceptual near-dup signature for images, INTEGER-EXACT end to
    * end. The raster is box-mean downsampled onto an 8-row × 9-column
    * grid (every pixel lands in cell `(y*8/h, x*9/w)` — pure long
    * arithmetic, no resampling filter to vary by library), and bit
    * `(row, col)` is set iff the cell's mean gray exceeds its right
    * neighbor's. Means compare by cross-multiplication
    * (`sumL*cntR > sumR*cntL`), so there is no division and no
    * floating point anywhere: the same bytes hash identically on
    * every JVM. Gray = r+g+b (the common scale factor cancels in the
    * comparison). Robust to uniform brightness shifts (all
    * comparisons shift together) and to localized edits (one cell
    * touches ≤ 2 of the 64 bits); unrelated images land ~32 bits
    * apart.
    */
  def dHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = Array.ofDim[Long](8, 9)
    val cnts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val r = (y.toLong * 8 / h).toInt
      var x = 0
      while (x < w) {
        val c = (x.toLong * 9 / w).toInt
        val rgb = img.getRGB(x, y)
        sums(r)(c) += ((rgb >>> 16) & 0xFF) + ((rgb >>> 8) & 0xFF) + (rgb & 0xFF)
        cnts(r)(c) += 1
        x += 1
      }
      y += 1
    }
    var bits = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (sums(r)(c) * cnts(r)(c + 1) > sums(r)(c + 1) * cnts(r)(c))
          bits |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    bits
  }

  /** Perceptual hash (pHash-64): 32×32 integer box-mean downsample →
    * 2-D DCT-II → bit per low-frequency coefficient vs the median of
    * the 63 non-DC coefficients in the 8×8 block. The downsample is
    * the same exact integer walk as [[dHash64]]; only the DCT uses
    * doubles (deterministic within a JVM — fine for the rows-only
    * near-dup contract; [[dHash64]] is the cross-engine-exact
    * choice). More robust than dHash to global contrast warps, at
    * ~4× the per-image cost.
    */
  def pHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val n = 32
    val sums = Array.ofDim[Long](n, n)
    val cnts = Array.ofDim[Long](n, n)
    var y = 0
    while (y < h) {
      val r = (y.toLong * n / h).toInt
      var x = 0
      while (x < w) {
        val c = (x.toLong * n / w).toInt
        val rgb = img.getRGB(x, y)
        sums(r)(c) += ((rgb >>> 16) & 0xFF) + ((rgb >>> 8) & 0xFF) + (rgb & 0xFF)
        cnts(r)(c) += 1
        x += 1
      }
      y += 1
    }
    val px = Array.tabulate(n, n)((i, j) =>
      if (cnts(i)(j) == 0) 0.0 else sums(i)(j).toDouble / cnts(i)(j))
    // cos table for the 8 retained frequencies over 32 samples
    val cos = Array.tabulate(8, n)((u, x) =>
      math.cos((2 * x + 1) * u * math.Pi / (2.0 * n)))
    val f = Array.ofDim[Double](8, 8)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0.0
        var i = 0
        while (i < n) {
          var j = 0
          while (j < n) { acc += px(i)(j) * cos(u)(i) * cos(v)(j); j += 1 }
          i += 1
        }
        f(u)(v) = acc
        v += 1
      }
      u += 1
    }
    val ac = (for { i <- 0 until 8; j <- 0 until 8; if i != 0 || j != 0 }
      yield f(i)(j)).sorted
    val median = ac(ac.length / 2)
    var bits = 0L
    var k = 0
    while (k < 64) {
      if (f(k / 8)(k % 8) > median) bits |= 1L << k
      k += 1
    }
    bits
  }

  /** Decode + perceptual-hash in one batched `mapPartitions` pass —
    * output = input + `<out> bigint`. Map-only: the binary payload is
    * read once per row and never shuffled; only the 8-byte signature
    * travels to the candidate join.
    */
  def withImageHash(
      df: DataFrame,
      bytesCol: String,
      out: String = "dhash")(
      hashOne: java.awt.image.BufferedImage => Long = dHash64): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(out, LongType, nullable = false))
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        require(bytes != null, s"withImageHash: null $bytesCol cell — filter " +
          "null payloads out (or fill them) before hashing")
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null,
          "withImageHash: bytes are not a JVM-decodable image (png/jpeg/bmp/gif)")
        Row.fromSeq(row.toSeq :+ hashOne(img))
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** Image near-duplicate candidate pairs — the multimodal member of
    * the near-dup family: perceptual hash ([[dHash64]] by default)
    * per image, then the SAME banded-Hamming blocking as text SimHash
    * ([[Dedup.hamming64Candidates]]): 4×16-bit bands make the
    * candidate join a lossless equi-join at `maxHamming ≤ 3`, never
    * an all-pairs comparison. Output `(id_a, id_b, hamming)`.
    */
  def imageNearDup(
      df: DataFrame,
      idCol: String,
      bytesCol: String,
      maxHamming: Int = 3,
      hashOne: java.awt.image.BufferedImage => Long = dHash64): DataFrame =
    Dedup.hamming64Candidates(
      withImageHash(df.select(col(idCol), col(bytesCol)), bytesCol)(hashOne)
        .select(col(idCol).as("doc_id"), col("dhash").as("sig")),
      maxHamming)

  /** End-to-end image dedup: [[imageNearDup]] pairs →
    * [[Dedup.connectedComponents]] → keep each component's min-id
    * member — image corpora get the same keeper selection text
    * near-dup gets in [[Dedup.dropNearDuplicates]]. Transitive CHAINS
    * (A≈B, B≈C with A,C possibly farther than `maxHamming`) collapse
    * to ONE keeper, which pairwise filtering alone would not do.
    * Distribution shape is the candidates join's (banded equi-join,
    * no cartesian) + the CC label loop; the final keep is an
    * anti-join on the loser ids.
    */
  def dropNearDuplicateImages(
      df: DataFrame,
      idCol: String,
      bytesCol: String,
      maxHamming: Int = 3,
      hashOne: java.awt.image.BufferedImage => Long = dHash64): DataFrame = {
    val comp = Dedup.connectedComponents(
      imageNearDup(df, idCol, bytesCol, maxHamming, hashOne))
    val losers = comp.filter(col("id") =!= col("component")).select(col("id"))
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** Render one deterministic PATTERN PNG: an 8×9 grid of
    * constant-gray cells (grays = quantized splitmix64 of
    * `(seed, cell)`, so different seeds give structurally different
    * images), with two controlled perturbations for near-dup tests:
    * `delta` brightens every cell uniformly (dHash-invariant — all
    * comparisons shift together) and `flipCell ≥ 0` inverts one
    * cell's gray (flips ≤ 2 dHash bits). The cell grid aligns with
    * [[dHash64]]'s 8×9 box grid when `9 | w` and `8 | h`, making the
    * planted Hamming distances exact by construction.
    */
  def encodePatternPng(
      w: Int,
      h: Int,
      seed: Long,
      delta: Int = 0,
      flipCell: Int = -1): Array[Byte] = {
    require(w > 0 && h > 0, s"PNG dims must be positive, got ${w}x$h")
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def cellGray(cell: Int): Int = {
      // grays on a coarse 16-step lattice: small deltas can never
      // reorder two distinct cells, so only flipCell moves dHash bits
      val base = (java.lang.Long.remainderUnsigned(
        mix(seed * 73L + cell), 16L) * 16L).toInt
      val g = if (cell == flipCell) 240 - base else base + delta
      math.max(0, math.min(255, g))
    }
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val r = (y.toLong * 8 / h).toInt
      var x = 0
      while (x < w) {
        val c = (x.toLong * 9 / w).toInt
        val g = cellGray(r * 9 + c)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Attach a pattern PNG per row from (seed, delta, flipCell)
    * integer columns — the planted-corpus generator for
    * [[imageNearDup]] tests and queries.
    */
  def withPatternPng(
      df: DataFrame,
      seedCol: String,
      deltaCol: String,
      flipCol: String,
      w: Int = 36,
      h: Int = 32,
      out: String = "img"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(out, BinaryType))
    val si = df.schema.fieldIndex(seedCol)
    val di = df.schema.fieldIndex(deltaCol)
    val fi = df.schema.fieldIndex(flipCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val png = encodePatternPng(w, h,
          row.getAs[Number](si).longValue(),
          row.getAs[Number](di).intValue(),
          row.getAs[Number](fi).intValue())
        Row.fromSeq(row.toSeq :+ png)
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** REAL image resize — decode, NEAREST-NEIGHBOR resample to
    * `(w, h)`, re-encode PNG. The sampling map is pure integer
    * arithmetic (`src_x = x·sw/w`), so the resampled raster — and
    * the bytes — are deterministic on any JVM (AWT's filtered
    * scalers interpolate in floats and may not be; a training
    * pipeline's resize must be reproducible or every downstream
    * hash/feature drifts). Map-only `mapPartitions`, same contract
    * as [[withImageHash]].
    */
  def withResizedPng(
      df: DataFrame,
      bytesCol: String,
      w: Int,
      h: Int,
      out: String = "resized"): DataFrame = {
    require(w > 0 && h > 0, s"resize dims must be positive, got ${w}x$h")
    val outSchema = StructType(df.schema.fields :+ StructField(out, BinaryType))
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        require(bytes != null, s"withResizedPng: null $bytesCol cell")
        val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(src != null, "withResizedPng: bytes are not a JVM-decodable image")
        val dst = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val sw = src.getWidth
        val sh = src.getHeight
        var y = 0
        while (y < h) {
          val sy = (y.toLong * sh / h).toInt
          var x = 0
          while (x < w) {
            dst.setRGB(x, y, src.getRGB((x.toLong * sw / w).toInt, sy))
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(dst, "png", bos)
        Row.fromSeq(row.toSeq :+ bos.toByteArray)
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** Image FEATURE extraction — per-channel means plus an 8-bin
    * luminance histogram, all EXACT integers (sums and integer
    * division over the decoded raster; luminance = the integer Rec.
    * 601 approximation `(77R + 150G + 29B) >> 8`): the compact
    * per-image feature row a multimodal pipeline groups, filters,
    * and drift-monitors on without ever shuffling payload bytes.
    * Output struct: `<width, height, r_mean, g_mean, b_mean,
    * all bigint; hist array<bigint>[8]>` (histogram counts sum to
    * `width·height`).
    */
  def withImageFeatures(
      df: DataFrame,
      bytesCol: String,
      out: String = "feat"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(out, StructType(Seq(
        StructField("width", LongType, nullable = false),
        StructField("height", LongType, nullable = false),
        StructField("r_mean", LongType, nullable = false),
        StructField("g_mean", LongType, nullable = false),
        StructField("b_mean", LongType, nullable = false),
        StructField("hist", ArrayType(LongType, containsNull = false),
          nullable = false)))))
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        require(bytes != null, s"withImageFeatures: null $bytesCol cell")
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        require(img != null, "withImageFeatures: bytes are not a JVM-decodable image")
        val w = img.getWidth
        val h = img.getHeight
        var rs = 0L; var gs = 0L; var bs = 0L
        val hist = new Array[Long](8)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            val r = (p >>> 16) & 0xFF; val g = (p >>> 8) & 0xFF; val b = p & 0xFF
            rs += r; gs += g; bs += b
            hist(((77 * r + 150 * g + 29 * b) >> 8) >> 5) += 1
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        Row.fromSeq(row.toSeq :+ Row(w.toLong, h.toLong, rs / n, gs / n, bs / n,
          hist.toSeq))
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  // ==================== audio (REAL javax.sound decode) ====================

  /** Encode one REAL 16-bit mono PCM WAV (RIFF container, little-
    * endian) whose samples alternate `+amp, -amp` — a square tone.
    * Constant magnitude makes the decoded stats exactly predictable
    * (`n_samples`, `energy = n·amp²`) while the values themselves
    * still come from parsing genuine WAV bytes with the JDK decoder —
    * the audio twin of [[encodePng]]'s constant-fill contract.
    */
  def encodeToneWav(nSamples: Int, amp: Int, sampleRate: Int = 8000): Array[Byte] = {
    require(nSamples > 0, s"need at least one sample, got $nSamples")
    require(amp >= 0 && amp <= 32767, s"amp must fit signed 16-bit, got $amp")
    encodeWav(sampleRate, Array.tabulate(nSamples)(i =>
      (if (i % 2 == 0) amp else -amp).toShort))
  }

  /** Encode one deterministic PATTERN WAV: `frames` frames of
    * `frameLen` alternating-sign samples at a per-frame magnitude
    * from a coarse splitmix64 lattice (`(mix % 180)·16 + 256`, so
    * magnitudes live in [256, 3120] and small perturbations can
    * never collide two frames) — the audio twin of
    * [[encodePatternPng]], with two controlled perturbations for
    * near-dup tests: `gain` scales every sample uniformly
    * ([[aHash64]]-invariant — energies scale by exactly `gain²`
    * together) and `quietFrame ≥ 0` attenuates one frame's magnitude
    * by `>> 5` (lands in [8, 97] < 256, strictly below every
    * unperturbed frame → flips ≤ 2 of the 64 energy comparisons).
    */
  def encodePatternWav(
      seed: Long,
      frames: Int = 65,
      frameLen: Int = 32,
      sampleRate: Int = 8000,
      gain: Int = 1,
      quietFrame: Int = -1): Array[Byte] = {
    require(frames > 0 && frameLen > 0, "frames and frameLen must be positive")
    require(gain >= 1 && gain <= 8, s"gain must be in [1, 8], got $gain")
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val samples = new Array[Short](frames * frameLen)
    var k = 0
    while (k < frames) {
      val base = (java.lang.Long.remainderUnsigned(
        mix(seed * 131L + k), 180L) * 16L + 256L).toInt
      val amp = (if (k == quietFrame) base >> 5 else base) * gain
      var i = 0
      while (i < frameLen) {
        samples(k * frameLen + i) = (if (i % 2 == 0) amp else -amp).toShort
        i += 1
      }
      k += 1
    }
    encodeWav(sampleRate, samples)
  }

  /** Raw RIFF/WAVE writer: 44-byte canonical header + 16-bit LE PCM. */
  private def encodeWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                       // PCM
      .putShort(1)                       // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)            // byte rate
      .putShort(2)                       // block align
      .putShort(16)                      // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV/PCM —
    * no native codecs required): parses the actual RIFF container and
    * returns `(n_bytes, sample_rate, channels, n_samples, energy)`
    * where `energy = Σ s²` over all 16-bit samples (all channels) —
    * an EXACT integer, so downstream stats are engine-portable the
    * way [[imageioDecode]]'s integer pixel stats are. Payloads the
    * JDK cannot read (compressed codecs) fail with a clear message —
    * route those through [[stubDecode]]-style fakes.
    */
  def wavDecode(bytes: Array[Byte]): (Long, Long, Long, Long, Long) = {
    val in =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new IllegalArgumentException(
            "wavDecode: bytes are not a JVM-decodable audio stream (WAV/PCM)", e)
      }
    try {
      val f = in.getFormat
      require(f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          && f.getSampleSizeInBits == 16,
        s"wavDecode: need 16-bit signed PCM, got $f")
      val raw = in.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(raw).order(
        if (f.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      var energy = 0L
      while (bb.remaining() >= 2) {
        val s = bb.getShort.toLong
        energy += s * s
      }
      (bytes.length.toLong, f.getSampleRate.toLong, f.getChannels.toLong,
        raw.length / 2L / f.getChannels, energy)
    } finally in.close()
  }

  /** Partition-batched audio decode — [[decodeBatch]]'s audio twin:
    * map-only, codec amortized per partition, payload bytes never
    * shuffle. Output schema = input + `audio struct<n_bytes, sample_
    * rate, channels, n_samples, energy — all bigint>`.
    */
  def withAudioMeta(df: DataFrame, bytesCol: String, out: String = "audio"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(out, StructType(Seq(
        StructField("n_bytes", LongType, nullable = false),
        StructField("sample_rate", LongType, nullable = false),
        StructField("channels", LongType, nullable = false),
        StructField("n_samples", LongType, nullable = false),
        StructField("energy", LongType, nullable = false)))))
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        require(bytes != null, s"withAudioMeta: null $bytesCol cell — filter " +
          "null payloads out (or fill them) before decoding")
        val (nb, sr, ch, ns, e) = wavDecode(bytes)
        Row.fromSeq(row.toSeq :+ Row(nb, sr, ch, ns, e))
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** 64-bit audio fingerprint — the audio member of the perceptual-
    * hash family: the first 65 equal frames' energies (`Σ s²` per
    * frame — exact integers), bit `k` = `energy(k+1) > energy(k)`.
    * The energy-difference-sign construction mirrors [[dHash64]]'s
    * adjacent-mean comparisons: uniform GAIN scales every frame
    * energy by exactly `gain²`, so all 64 comparisons — and the hash
    * — are bit-for-bit invariant; one attenuated/dropped frame
    * touches ≤ 2 bits; unrelated material lands ~32 bits apart.
    * Short clips spread whatever samples exist across the 65 frames
    * (all-empty tail frames compare equal → 0 bits, still
    * deterministic).
    */
  def aHash64(bytes: Array[Byte]): Long = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val f = in.getFormat
      require(f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
          && f.getSampleSizeInBits == 16,
        s"aHash64: need 16-bit signed PCM, got $f")
      val raw = in.readAllBytes()
      val bb = java.nio.ByteBuffer.wrap(raw).order(
        if (f.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      val n = raw.length / 2
      val frameLen = math.max(n / 65, 1)
      val energies = new Array[Long](65)
      var i = 0
      while (i < n && bb.remaining() >= 2) {
        val s = bb.getShort.toLong
        val k = i / frameLen
        if (k < 65) energies(k) += s * s
        i += 1
      }
      var hash = 0L
      var k = 0
      while (k < 64) {
        if (energies(k + 1) > energies(k)) hash |= (1L << k)
        k += 1
      }
      hash
    } finally in.close()
  }

  /** Attach the audio fingerprint per row (`mapPartitions`, map-only
    * — decode and hash in ONE pass like [[withImageHash]]). */
  def withAudioHash(df: DataFrame, bytesCol: String, out: String = "ahash"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(out, LongType, nullable = false))
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        require(bytes != null, s"withAudioHash: null $bytesCol cell — filter " +
          "null payloads out (or fill them) before hashing")
        Row.fromSeq(row.toSeq :+ aHash64(bytes))
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** Audio near-duplicate candidate pairs: [[aHash64]] per clip, then
    * the SAME banded-Hamming equi-join as text SimHash and image
    * hashes ([[Dedup.hamming64Candidates]]) — never a cartesian.
    * Output `(id_a, id_b, hamming)`.
    */
  def audioNearDup(
      df: DataFrame,
      idCol: String,
      bytesCol: String,
      maxHamming: Int = 3): DataFrame =
    Dedup.hamming64Candidates(
      withAudioHash(df.select(col(idCol), col(bytesCol)), bytesCol)
        .select(col(idCol).as("doc_id"), col("ahash").as("sig")),
      maxHamming)

  /** Attach a synthetic pattern WAV per row — test/bench scaffolding
    * for the audio path ([[withPatternPng]]'s audio twin). */
  def withPatternWav(
      df: DataFrame,
      seedCol: String,
      gainCol: String,
      quietCol: String,
      out: String = "wav"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(out, BinaryType))
    val si = df.schema.fieldIndex(seedCol)
    val gi = df.schema.fieldIndex(gainCol)
    val qi = df.schema.fieldIndex(quietCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val wav = encodePatternWav(
          row.getAs[Number](si).longValue(),
          gain = row.getAs[Number](gi).intValue(),
          quietFrame = row.getAs[Number](qi).intValue())
        Row.fromSeq(row.toSeq :+ wav)
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** DuckDB CTE chain predicting [[aHash64]] closed-form for
    * [[withPatternWav]] clips — what makes `q_audio_neardup`
    * oracle-checkable without DuckDB ever decoding a WAV byte.
    *
    * Why a formula exists: a pattern clip's frame `k` is 32 samples of
    * constant magnitude `amp_k = base_k · gain` (quiet frame:
    * `(base_k >> 5) · gain`), so the decoded frame energy is exactly
    * `32 · amp_k²` and hash bit `k` reduces to `amp_{k+1} > amp_k`.
    * Uniform gain scales every energy by `gain²` and cancels out of
    * all 64 strict comparisons — the SQL therefore needs no gain
    * input at all (the invariance the fingerprint is FOR, stated as
    * algebra). What remains is `base_k =
    * (splitmix64(seed·131 + k) mod_u 180)·16 + 256`, pure integer
    * arithmetic.
    *
    * splitmix64 needs 64-bit wraparound ops DuckDB lacks natively, so
    * the chain emulates them on non-negative HUGEINTs in [0, 2^64):
    * xor via 32-bit halves (`xor` is BIGINT-only), multiply-mod-2^64
    * via the lo/hi split `(a_lo·c + ((a_hi·c) mod 2^32)·2^32) mod
    * 2^64` (every operand ≤ 2^97 < HUGEINT max), unsigned `>>> s` as
    * `// 2^s`. Verified ≡ `java.lang.Long` semantics on 100k random
    * inputs before being frozen here.
    *
    * `seedCteBody` must yield `(doc_id, seed HUGEINT, quiet)` — the
    * planted-corpus derivation stays with the query; this chain ends
    * at `{prefix}sigs (doc_id, sig BIGINT)`, ready for
    * [[Dedup.hamming64PairsDuckCtes]].
    */
  def aHashPatternDuckCtes(seedCteBody: String, prefix: String = "au_"): String =
    s"""${prefix}seed AS ($seedCteBody),
       |${prefix}z1 AS (
       |  SELECT doc_id, quiet, u.k,
       |    (seed * 131 + u.k + $mix64Golden::HUGEINT) % $mix64W64 AS z
       |  FROM ${prefix}seed, unnest(range(0, 65)) AS u(k)),
       |${mix64ChainDuckCtes(prefix, Seq("quiet"))},
       |${prefix}amp AS (
       |  SELECT doc_id, k,
       |    CASE WHEN k = quiet THEN ((z % 180) * 16 + 256) // 32
       |         ELSE (z % 180) * 16 + 256 END AS amp
       |  FROM ${prefix}z6),
       |${prefix}sigs AS (
       |  SELECT a.doc_id,
       |    CAST(SUM(CASE WHEN b.amp > a.amp
       |      THEN ${Dedup.pow2Signed64Array}[a.k + 1] ELSE 0 END) AS BIGINT) AS sig
       |  FROM ${prefix}amp a
       |  JOIN ${prefix}amp b ON b.doc_id = a.doc_id AND b.k = a.k + 1
       |  GROUP BY a.doc_id)""".stripMargin

  /** DuckDB CTE chain predicting [[dHash64]] closed-form for
    * [[withPatternPng]] images — `q_image_neardup`/`q_image_dedup`'s
    * oracle, with DuckDB never inflating a PNG byte.
    *
    * Why a formula exists: the pattern renderer assigns pixel grays by
    * the SAME `(y·8/h, x·9/w)` grid walk dHash downsamples with, so
    * every pixel of dHash cell `(r, c)` holds the identical gray
    * `g(r·9+c)` and the cross-multiplied mean comparison collapses to
    * `g(cell) > g(cell+1)` exactly (PNG is lossless, so decoded grays
    * are the rendered ones — pinned by the planted-pair specs). What
    * remains is `base = (splitmix64(seed·73 + cell) mod_u 16)·16` with
    * the flip/delta/clamp arithmetic, integer-exact in SQL.
    *
    * `seedCteBody` must yield `(doc_id, seed HUGEINT, delta, flip)`;
    * the chain ends at `{prefix}sigs (doc_id, sig BIGINT)` for
    * [[Dedup.hamming64PairsDuckCtes]]. Bit `(r, c)` of the sig is
    * assembled at index `r·8+c` over the 8×8 comparison grid, exactly
    * [[dHash64]]'s packing.
    */
  def dHashPatternDuckCtes(seedCteBody: String, prefix: String = "im_"): String =
    s"""${prefix}seed AS ($seedCteBody),
       |${prefix}z1 AS (
       |  SELECT doc_id, delta, flip, u.k,
       |    (seed * 73 + u.k + $mix64Golden::HUGEINT) % $mix64W64 AS z
       |  FROM ${prefix}seed, unnest(range(0, 72)) AS u(k)),
       |${mix64ChainDuckCtes(prefix, Seq("delta", "flip"))},
       |${prefix}gray AS (
       |  SELECT doc_id, k,
       |    GREATEST(0, LEAST(255,
       |      CASE WHEN k = flip THEN 240 - (z % 16) * 16
       |           ELSE (z % 16) * 16 + delta END)) AS g
       |  FROM ${prefix}z6),
       |${prefix}sigs AS (
       |  SELECT a.doc_id,
       |    CAST(SUM(CASE WHEN a.g > b.g
       |      THEN ${Dedup.pow2Signed64Array}[(a.k // 9) * 8 + (a.k % 9) + 1]
       |      ELSE 0 END) AS BIGINT) AS sig
       |  FROM ${prefix}gray a
       |  JOIN ${prefix}gray b ON b.doc_id = a.doc_id AND b.k = a.k + 1
       |    AND a.k % 9 < 8
       |  GROUP BY a.doc_id)""".stripMargin

  // ---- Video: sampled-frame fingerprints + shared-scene Jaccard ----
  //
  // The third modality through the near-dup discipline (round 11).
  // Image and audio fingerprint the WHOLE payload into one 64-bit sig
  // (banded-Hamming pairs); video near-dup has different semantics —
  // two videos are near-duplicates when they SHARE SCENES, at any
  // offset — so the unit of fingerprinting is the sampled frame and
  // the pair measure is exact Jaccard over each video's SET of frame
  // fingerprints ([[Dedup.setJaccardPairs]]' geometric double-block,
  // never all pairs). TWO demux paths exist: the REAL container path
  // ([[demuxMjpegAvi]], round 12 — a RIFF walk plus per-frame
  // `javax.imageio` JPEG decode, no native codec needed) and the
  // fixed-slice PATTERN path (frame slices behind an 8-byte magic —
  // the [[sampleFrameOffsets]] envelope), kept for formats with no
  // JVM codec. Both fingerprint with exact integer energies portable
  // to the SQL oracle; a production deployment handling other
  // containers swaps the demux and (optionally) the energy for
  // `xxhash64(frame)` — same plan shape, at the cost of the
  // hash-exact oracle (xxhash has no DuckDB twin).

  /** Encode one deterministic PATTERN VIDEO: an 8-byte `GRAFTVID`
    * magic then `frames` frames of `frameBytes` bytes, frame `k`'s
    * byte `i` = `(v_k + i·w_k) mod 256` where `(v_k, w_k)` derive
    * from `splitmix64(seed·173 + k)` (`v = z mod_u 256`,
    * `w = (z div_u 256) mod_u 255 + 1`) — a byte ramp whose exact
    * energy `Σ byte²` the oracle can replay without touching bytes.
    * Frames `[sharedFrom, sharedFrom + sharedCount)` derive from
    * `sharedSeed` (indexed from the run start) instead: two videos
    * given the same `(sharedSeed, sharedCount)` embed an identical
    * SCENE RUN — possibly at different offsets — which is exactly
    * what frame-set Jaccard detects and positional hashing would
    * miss.
    */
  def encodePatternVideo(
      seed: Long,
      frames: Int = 40,
      frameBytes: Int = 32,
      sharedSeed: Long = 0L,
      sharedFrom: Int = -1,
      sharedCount: Int = 0): Array[Byte] = {
    require(frames > 0 && frameBytes > 0, "frames and frameBytes must be positive")
    def mix(z0: Long): Long = splitmix64(z0)
    val out = new Array[Byte](8 + frames * frameBytes)
    System.arraycopy("GRAFTVID".getBytes("US-ASCII"), 0, out, 0, 8)
    var k = 0
    while (k < frames) {
      val z =
        if (k >= sharedFrom && k < sharedFrom + sharedCount)
          mix(sharedSeed * 173L + (k - sharedFrom))
        else mix(seed * 173L + k)
      val v = java.lang.Long.remainderUnsigned(z, 256L)
      val w = java.lang.Long.remainderUnsigned(
        java.lang.Long.divideUnsigned(z, 256L), 255L) + 1L
      var i = 0
      while (i < frameBytes) {
        out(8 + k * frameBytes + i) = ((v + i * w) % 256L).toByte
        i += 1
      }
      k += 1
    }
    out
  }

  /** Attach a synthetic pattern video per row ([[withPatternWav]]'s
    * video twin). `shFromCol < 0` or `shCountCol == 0` means no
    * shared run.
    */
  def withPatternVideo(
      df: DataFrame,
      seedCol: String,
      shSeedCol: String,
      shFromCol: String,
      shCountCol: String,
      out: String = "video"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(out, BinaryType))
    val si = df.schema.fieldIndex(seedCol)
    val ssi = df.schema.fieldIndex(shSeedCol)
    val sfi = df.schema.fieldIndex(shFromCol)
    val sci = df.schema.fieldIndex(shCountCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = encodePatternVideo(
          row.getAs[Number](si).longValue(),
          sharedSeed = row.getAs[Number](ssi).longValue(),
          sharedFrom = row.getAs[Number](sfi).intValue(),
          sharedCount = row.getAs[Number](sci).intValue())
        Row.fromSeq(row.toSeq :+ bytes)
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** Exact integer energies (`Σ byte²`, bytes unsigned) of every
    * `everyN`-th fixed-size frame slice behind `headerBytes` — the
    * per-frame fingerprint [[videoNearDup]] builds its sets from.
    * Trailing partial frames are ignored (a demuxer would not emit
    * them); payloads shorter than one frame yield an empty array.
    */
  def videoFrameEnergies(
      bytes: Array[Byte],
      headerBytes: Int,
      frameBytes: Int,
      everyN: Int): Array[Long] = {
    require(frameBytes > 0 && everyN > 0 && headerBytes >= 0,
      "frameBytes and everyN must be positive, headerBytes non-negative")
    val n = math.max((bytes.length - headerBytes) / frameBytes, 0)
    val out = new scala.collection.mutable.ArrayBuffer[Long]((n + everyN - 1) / math.max(everyN, 1))
    var k = 0
    while (k < n) {
      if (k % everyN == 0) {
        var e = 0L
        var i = 0
        while (i < frameBytes) {
          val b = (bytes(headerBytes + k * frameBytes + i) & 0xFF).toLong
          e += b * b
          i += 1
        }
        out += e
      }
      k += 1
    }
    out.toArray
  }

  /** Attach the sampled-frame energy array per row (`mapPartitions`,
    * map-only — slice and fingerprint in one pass; payload bytes
    * never shuffle, only the fixed-width energy array does).
    */
  def withFrameEnergies(
      df: DataFrame,
      bytesCol: String,
      headerBytes: Int = 8,
      frameBytes: Int = 32,
      everyN: Int = 2,
      out: String = "frames"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(out, ArrayType(LongType, containsNull = false), nullable = false))
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        require(bytes != null, s"withFrameEnergies: null $bytesCol cell — filter " +
          "null payloads out (or fill them) before fingerprinting")
        Row.fromSeq(row.toSeq :+
          videoFrameEnergies(bytes, headerBytes, frameBytes, everyN).toSeq)
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** Video near-duplicate pairs: shared-scene detection as exact
    * Jaccard ≥ `threshold` over each video's DISTINCT sampled-frame
    * fingerprint set ([[videoFrameEnergies]]), through
    * [[Dedup.setJaccardPairs]]' lossless geometric double-block —
    * positional-shift-invariant (a scene moved to a different offset
    * still matches) and never a cartesian. Output
    * `(id_a, id_b, jaccard)` at 4 dp.
    */
  def videoNearDup(
      df: DataFrame,
      idCol: String,
      bytesCol: String,
      headerBytes: Int = 8,
      frameBytes: Int = 32,
      everyN: Int = 2,
      threshold: Double = 0.5): DataFrame =
    Dedup.setJaccardPairs(
      withFrameEnergies(df.select(col(idCol), col(bytesCol)), bytesCol,
        headerBytes, frameBytes, everyN)
        .select(col(idCol).as("doc_id"),
          array_distinct(col("frames")).as("sh")),
      "doc_id", "sh", threshold)

  /** DuckDB CTE chain predicting the sampled-frame energy SETS of
    * [[withPatternVideo]] payloads closed-form — `q_video_neardup`'s
    * oracle root, with DuckDB never touching a payload byte: frame
    * `k`'s bytes are the ramp `(v + i·w) mod 256`, so its energy is
    * `Σ_{i<frameBytes} ((v + i·w) mod 256)²` with `(v, w)` from the
    * same emulated splitmix64 the audio/image oracles use.
    * `seedCteBody` must yield `(doc_id, seed HUGEINT, shseed HUGEINT,
    * shfrom, shcount)`; the chain samples every `everyN`-th of
    * `frames` frames and ends at `{prefix}fr (doc_id, e)` — the
    * DISTINCT fingerprint set, ready for the Jaccard block join.
    */
  def videoEnergyPatternDuckCtes(
      seedCteBody: String,
      frames: Int = 40,
      frameBytes: Int = 32,
      everyN: Int = 2,
      prefix: String = "vid_"): String =
    s"""${prefix}seed AS ($seedCteBody),
       |${prefix}z1 AS (
       |  SELECT doc_id, u.k,
       |    ((CASE WHEN u.k >= shfrom AND u.k < shfrom + shcount
       |           THEN shseed * 173 + (u.k - shfrom)
       |           ELSE seed * 173 + u.k END)
       |      + $mix64Golden::HUGEINT) % $mix64W64 AS z
       |  FROM ${prefix}seed, unnest(range(0, $frames)) AS u(k)
       |  WHERE u.k % $everyN = 0),
       |${mix64ChainDuckCtes(prefix, Seq.empty)},
       |${prefix}vw AS (
       |  SELECT doc_id, k, z % 256 AS v, (z // 256) % 255 + 1 AS w
       |  FROM ${prefix}z6),
       |${prefix}en AS (
       |  SELECT doc_id, k,
       |    CAST(SUM(((v + u.i * w) % 256) * ((v + u.i * w) % 256)) AS BIGINT) AS e
       |  FROM ${prefix}vw, unnest(range(0, $frameBytes)) AS u(i)
       |  GROUP BY 1, 2),
       |${prefix}fr AS (SELECT DISTINCT doc_id, e FROM ${prefix}en)""".stripMargin

  /** DuckDB CTE chain predicting the 64-bit HASH fingerprint sets of
    * [[videoNearDupHashed]] over pattern payloads — the oracle root
    * of `q_video_neardup_hashed`, closing the round-12 "production
    * form is oracle-exempt" gap. Same seed contract as
    * [[videoEnergyPatternDuckCtes]]; per sampled frame the chain
    * rebuilds the 32 closed-form pattern bytes `(v + i·w) mod 256`,
    * packs them into 4 little-endian HUGEINT words, and runs the
    * XXH64 emulation ([[Xxh64Duck.words32DuckCtes]] — spec-pinned to
    * Spark's `xxhash64` via its JVM model). Ends at `{prefix}fr
    * (doc_id, e)` with `e` the SIGNED 64-bit hash; `frameBytes` is
    * fixed at 32 (the one-stripe-no-tail XXH64 shape the emulation
    * covers — also [[videoNearDupHashed]]'s default slice).
    */
  def videoHashPatternDuckCtes(
      seedCteBody: String,
      frames: Int = 40,
      everyN: Int = 2,
      prefix: String = "vh_"): String = {
    // little-endian word j of the pattern frame: Σ_t byte(8j+t)·256^t,
    // each term < 256^8 and the 8-term sum < 2^64 — no mod needed.
    def word(j: Int): String =
      (0 until 8).map { t =>
        s"((v + ${8 * j + t} * w) % 256) * ${java.math.BigInteger.valueOf(256L).pow(t)}::HUGEINT"
      }.mkString("(", "\n      + ", s") AS w${j + 1}")
    s"""${prefix}seed AS ($seedCteBody),
       |${prefix}z1 AS (
       |  SELECT doc_id, u.k,
       |    ((CASE WHEN u.k >= shfrom AND u.k < shfrom + shcount
       |           THEN shseed * 173 + (u.k - shfrom)
       |           ELSE seed * 173 + u.k END)
       |      + $mix64Golden::HUGEINT) % $mix64W64 AS z
       |  FROM ${prefix}seed, unnest(range(0, $frames)) AS u(k)
       |  WHERE u.k % $everyN = 0),
       |${mix64ChainDuckCtes(prefix, Seq.empty)},
       |${prefix}vw AS (
       |  SELECT doc_id, k, z % 256 AS v, (z // 256) % 255 + 1 AS w
       |  FROM ${prefix}z6),
       |${prefix}wd AS (
       |  SELECT doc_id, k,
       |    ${(0 until 4).map(word).mkString(",\n    ")}
       |  FROM ${prefix}vw),
       |${Xxh64Duck.words32DuckCtes(s"${prefix}wd", s"${prefix}x")},
       |${prefix}fr AS (SELECT DISTINCT doc_id, h AS e FROM ${prefix}xxh)""".stripMargin
  }

  // ---- REAL MJPEG-in-AVI demux (round 12) ----
  //
  // Upgrades the video modality from the magic-header stub to an
  // actual container format: AVI is a RIFF chunk tree, so the demux
  // is a pure byte walk — find the 'movi' LIST, hand each
  // '..dc'/'..db' frame chunk (a complete baseline JPEG in an MJPEG
  // stream) to the JDK's `javax.imageio` — which keeps the
  // no-native-codec rule the PNG (image) and WAV (audio) paths
  // established. The per-frame fingerprint is the exact integer
  // energy Σ sample² over the DECODED raster (band 0). For the
  // oracle-paired fixtures every frame is one uniform gray, which
  // survives the JPEG round trip bit-exactly at quality 1.0
  // (flat 8×8 blocks are DC-only and the DC step is 1 — pinned for
  // ALL 256 gray values in `VideoSpec`), so DuckDB predicts decoded
  // energies closed-form (`width·height·g²`) without touching a
  // byte.

  private def fourCC(s: String): Array[Byte] = {
    require(s.length == 4, s"fourCC must be 4 bytes: '$s'")
    s.getBytes("US-ASCII")
  }

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >>> 8) & 0xFF).toByte,
      ((v >>> 16) & 0xFF).toByte, ((v >>> 24) & 0xFF).toByte)

  /** One RIFF chunk: fourcc + little-endian size + body, padded to an
    * even boundary (the declared size excludes the pad byte).
    */
  private def riffChunk(cc: String, body: Array[Byte]): Array[Byte] = {
    val pad = body.length % 2
    val out = new Array[Byte](8 + body.length + pad)
    System.arraycopy(fourCC(cc), 0, out, 0, 4)
    System.arraycopy(le32(body.length), 0, out, 4, 4)
    System.arraycopy(body, 0, out, 8, body.length)
    out
  }

  private def riffList(kind: String, body: Array[Byte]): Array[Byte] =
    riffChunk("LIST", fourCC(kind) ++ body)

  /** One uniform-gray baseline JPEG (TYPE_BYTE_GRAY, quality 1.0) —
    * the frame payload whose decode is bit-exact (see section note).
    */
  def encodeGrayJpeg(gray: Int, width: Int = 32, height: Int = 32): Array[Byte] = {
    require(gray >= 0 && gray <= 255, s"gray out of range: $gray")
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setSamples(0, 0, width, height, 0,
      Array.fill(width * height)(gray))
    val bos = new java.io.ByteArrayOutputStream()
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val p = w.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(1.0f)
    w.setOutput(new javax.imageio.stream.MemoryCacheImageOutputStream(bos))
    try w.write(null, new javax.imageio.IIOImage(img, null, null), p)
    finally w.dispose()
    bos.toByteArray
  }

  /** Mux JPEG frames into a standard MJPEG-in-AVI container:
    * `RIFF('AVI ' LIST('hdrl' avih LIST('strl' strh strf))
    * LIST('movi' '00dc'…))` with a real MainAVIHeader /
    * AVIStreamHeader('vids'/'MJPG') / BITMAPINFOHEADER — byte-walkable
    * by any AVI reader, not just [[demuxMjpegAvi]].
    */
  def muxMjpegAvi(
      frames: Seq[Array[Byte]],
      width: Int,
      height: Int,
      fps: Int = 10): Array[Byte] = {
    require(frames.nonEmpty, "muxMjpegAvi: no frames")
    require(fps > 0, "fps must be positive")
    val maxFrame = frames.map(_.length).max
    val avih = le32(1000000 / fps) ++ le32(maxFrame * fps) ++ le32(0) ++
      le32(0x10 /* AVIF_HASINDEX off, AVIF_WASCAPTUREFILE off; 0x10 = AVIF_ISINTERLEAVED */) ++
      le32(frames.length) ++ le32(0) ++ le32(1) ++ le32(maxFrame) ++
      le32(width) ++ le32(height) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val strh = fourCC("vids") ++ fourCC("MJPG") ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(1) /* scale */ ++ le32(fps) /* rate */ ++ le32(0) ++
      le32(frames.length) ++ le32(maxFrame) ++ le32(-1) /* quality */ ++
      le32(0) /* sampleSize */ ++
      // rcFrame: four little-endian shorts (left, top, right, bottom)
      Array[Byte](0, 0, 0, 0,
        (width & 0xFF).toByte, ((width >>> 8) & 0xFF).toByte,
        (height & 0xFF).toByte, ((height >>> 8) & 0xFF).toByte)
    val strf = le32(40) ++ le32(width) ++ le32(height) ++
      Array[Byte](1, 0, 24, 0) /* planes, bitcount */ ++ fourCC("MJPG") ++
      le32(width * height * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = riffList("hdrl",
      riffChunk("avih", avih) ++
        riffList("strl", riffChunk("strh", strh) ++ riffChunk("strf", strf)))
    val movi = riffList("movi",
      frames.iterator.map(f => riffChunk("00dc", f))
        .foldLeft(Array.emptyByteArray)(_ ++ _))
    riffChunk("RIFF", fourCC("AVI ") ++ hdrl ++ movi)
  }

  /** RIFF walk: the video-stream frame payloads (`..dc`/`..db`
    * chunks, anywhere under the tree — `rec ` interleave lists
    * included) of an AVI container, in file order. Throws on
    * non-RIFF/non-AVI bytes.
    */
  def demuxMjpegAvi(bytes: Array[Byte]): Array[Array[Byte]] = {
    def le(off: Int): Int =
      (bytes(off) & 0xFF) | ((bytes(off + 1) & 0xFF) << 8) |
        ((bytes(off + 2) & 0xFF) << 16) | ((bytes(off + 3) & 0xFF) << 24)
    def cc(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    require(bytes.length >= 12 && cc(0) == "RIFF" && cc(8) == "AVI ",
      "demuxMjpegAvi: not a RIFF/AVI container")
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def walk(start: Int, end: Int): Unit = {
      var off = start
      while (off + 8 <= end) {
        val id = cc(off)
        val size = le(off + 4)
        require(size >= 0 && off + 8 + size <= end,
          s"demuxMjpegAvi: chunk '$id' overruns its parent")
        if (id == "LIST") walk(off + 12, off + 8 + size)
        else if (size > 0 && id.length == 4 &&
            (id.substring(2) == "dc" || id.substring(2) == "db"))
          out += java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + size)
        off += 8 + size + (size % 2)
      }
    }
    walk(12, math.min(bytes.length, 8 + le(4)))
    out.toArray
  }

  /** Exact integer energies (Σ band-0 sample², i.e. Σ gray² for
    * grayscale frames) of every `everyN`-th DECODED frame of a real
    * AVI payload — [[videoFrameEnergies]]' real-container twin.
    */
  def aviFrameEnergies(bytes: Array[Byte], everyN: Int = 2): Array[Long] = {
    require(everyN > 0, "everyN must be positive")
    val frames = demuxMjpegAvi(bytes)
    val out = new scala.collection.mutable.ArrayBuffer[Long](
      (frames.length + everyN - 1) / everyN)
    var k = 0
    while (k < frames.length) {
      if (k % everyN == 0) {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(frames(k)))
        require(img != null, s"aviFrameEnergies: frame $k is not a decodable image")
        val r = img.getRaster
        var e = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val v = r.getSample(x, y, 0).toLong
            e += v * v
            x += 1
          }
          y += 1
        }
        out += e
      }
      k += 1
    }
    out.toArray
  }

  /** Attach the decoded sampled-frame energy array of a REAL AVI
    * payload per row ([[withFrameEnergies]]' real-demux twin —
    * map-only, payload bytes never shuffle).
    */
  def withAviFrameEnergies(
      df: DataFrame,
      bytesCol: String,
      everyN: Int = 2,
      out: String = "frames"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(out, ArrayType(LongType, containsNull = false), nullable = false))
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        require(bytes != null, s"withAviFrameEnergies: null $bytesCol cell — " +
          "filter null payloads out (or fill them) before fingerprinting")
        Row.fromSeq(row.toSeq :+ aviFrameEnergies(bytes, everyN).toSeq)
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** [[videoNearDup]] over REAL MJPEG-in-AVI payloads: shared-scene
    * Jaccard on decoded-frame energy sets, same lossless geometric
    * double-block, real demux + `javax.imageio` decode in the scan
    * stage.
    */
  def videoNearDupAvi(
      df: DataFrame,
      idCol: String,
      bytesCol: String,
      everyN: Int = 2,
      threshold: Double = 0.5): DataFrame =
    Dedup.setJaccardPairs(
      withAviFrameEnergies(df.select(col(idCol), col(bytesCol)), bytesCol, everyN)
        .select(col(idCol).as("doc_id"),
          array_distinct(col("frames")).as("sh")),
      "doc_id", "sh", threshold)

  /** Sampled RAW FRAME BYTES of an AVI payload (`array<binary>`,
    * map-only) — the input to hash fingerprinting.
    */
  def withAviFrames(
      df: DataFrame,
      bytesCol: String,
      everyN: Int = 2,
      out: String = "frames"): DataFrame = {
    require(everyN > 0, "everyN must be positive")
    val outSchema = StructType(df.schema.fields :+
      StructField(out, ArrayType(BinaryType, containsNull = false), nullable = false))
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val bytes = row.getAs[Array[Byte]](idx)
        require(bytes != null, s"withAviFrames: null $bytesCol cell")
        val fs = demuxMjpegAvi(bytes)
        Row.fromSeq(row.toSeq :+
          fs.indices.collect { case k if k % everyN == 0 => fs(k) }.toSeq)
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** [[videoNearDupAvi]] with 64-BIT HASH fingerprints — the
    * 100 TB-scale form. The exact-energy fingerprint is what makes
    * the driver oracle possible, but its value domain is bounded
    * (≤ pixelCount·255²): the round-12 scale probe measured the pair
    * join going collision-quadratic past ~10⁴ videos (400k sampled
    * frames into a ~2M-value domain → candidate pairs ∝ n²/domain).
    * `xxhash64` over the raw frame bytes has a 2⁶⁴ domain — collision
    * growth is negligible at any corpus size — at the documented cost
    * of the hash-exact oracle (no DuckDB xxhash64 twin; spec-pinned
    * instead). Hashing raw container bytes detects shared scenes
    * muxed from the SAME encode; re-encoded content needs the decoded
    * path ([[aviFrameEnergies]] or a perceptual per-frame hash).
    */
  def videoNearDupAviHashed(
      df: DataFrame,
      idCol: String,
      bytesCol: String,
      everyN: Int = 2,
      threshold: Double = 0.5): DataFrame =
    Dedup.setJaccardPairs(
      withAviFrames(df.select(col(idCol), col(bytesCol)), bytesCol, everyN)
        .select(col(idCol).as("doc_id"),
          array_distinct(transform(col("frames"), f => xxhash64(f))).as("sh")),
      "doc_id", "sh", threshold)

  /** [[videoNearDup]] (pattern envelope) with 64-bit hash
    * fingerprints — see [[videoNearDupAviHashed]] for why hashes are
    * the at-scale fingerprint. Slices every `everyN`-th fixed-size
    * frame behind `headerBytes` and hashes the raw slice in-plan
    * (`xxhash64` over a substring of the binary column — codegen'd,
    * no JVM row loop at all).
    */
  def videoNearDupHashed(
      df: DataFrame,
      idCol: String,
      bytesCol: String,
      headerBytes: Int = 8,
      frameBytes: Int = 32,
      everyN: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val b = col(bytesCol)
    val nFrames = greatest(
      ((octet_length(b) - headerBytes) / frameBytes).cast("long"), lit(0L))
    val sampled = when(nFrames > 0,
        sequence(lit(0L), nFrames - 1, lit(everyN.toLong)))
      .otherwise(array().cast("array<bigint>"))
    val hashes = transform(sampled, k =>
      xxhash64(substr(b, lit(headerBytes.toLong) + k * frameBytes + 1L,
        lit(frameBytes.toLong))))
    Dedup.setJaccardPairs(
      df.select(col(idCol).as("doc_id"), array_distinct(hashes).as("sh")),
      "doc_id", "sh", threshold)
  }

  /** Attach one REAL muxed MJPEG-in-AVI video per row: frame `k` is a
    * single uniform gray `g_k = splitmix64(seed·173 + k) mod_u 256`
    * (the same seed rule as [[encodePatternVideo]]'s `v_k`; frames in
    * `[shFrom, shFrom + shCount)` draw from `shSeed` indexed from the
    * run start). Uniform-gray JPEG frames decode bit-exactly (see
    * section note), so the fingerprint energies are the closed form
    * `width·height·g_k²` the oracle replays
    * ([[videoEnergyAviDuckCtes]]). Per-gray JPEG bytes are memoized
    * per partition — at most 256 encodes regardless of row count.
    */
  def withMjpegAviVideo(
      df: DataFrame,
      seedCol: String,
      shSeedCol: String,
      shFromCol: String,
      shCountCol: String,
      frames: Int = 40,
      width: Int = 32,
      height: Int = 32,
      out: String = "video"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(out, BinaryType))
    val si = df.schema.fieldIndex(seedCol)
    val ssi = df.schema.fieldIndex(shSeedCol)
    val sfi = df.schema.fieldIndex(shFromCol)
    val sci = df.schema.fieldIndex(shCountCol)
    df.mapPartitions { rows =>
      val jpegByGray = scala.collection.mutable.HashMap.empty[Int, Array[Byte]]
      def jpeg(g: Int): Array[Byte] =
        jpegByGray.getOrElseUpdate(g, encodeGrayJpeg(g, width, height))
      rows.map { row =>
        val seed = row.getAs[Number](si).longValue()
        val shSeed = row.getAs[Number](ssi).longValue()
        val shFrom = row.getAs[Number](sfi).intValue()
        val shCount = row.getAs[Number](sci).intValue()
        val fs = (0 until frames).map { k =>
          val z =
            if (k >= shFrom && k < shFrom + shCount)
              splitmix64(shSeed * 173L + (k - shFrom))
            else splitmix64(seed * 173L + k)
          jpeg(java.lang.Long.remainderUnsigned(z, 256L).toInt)
        }
        Row.fromSeq(row.toSeq :+ muxMjpegAvi(fs, width, height))
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** DuckDB CTE chain predicting the DECODED sampled-frame energy
    * sets of [[withMjpegAviVideo]] payloads closed-form —
    * `q_video_neardup_avi`'s oracle root. Same contract as
    * [[videoEnergyPatternDuckCtes]] (`seedCteBody` yields `(doc_id,
    * seed HUGEINT, shseed HUGEINT, shfrom, shcount)`; chain ends at
    * `{prefix}fr (doc_id, e)`), but the per-frame energy is the
    * uniform-gray closed form `width·height·g²` with
    * `g = splitmix64(...) mod_u 256` — valid because the uniform-gray
    * JPEG round trip is bit-exact (spec-pinned for all 256 grays).
    */
  def videoEnergyAviDuckCtes(
      seedCteBody: String,
      frames: Int = 40,
      everyN: Int = 2,
      width: Int = 32,
      height: Int = 32,
      prefix: String = "vav_"): String =
    s"""${prefix}seed AS ($seedCteBody),
       |${prefix}z1 AS (
       |  SELECT doc_id, u.k,
       |    ((CASE WHEN u.k >= shfrom AND u.k < shfrom + shcount
       |           THEN shseed * 173 + (u.k - shfrom)
       |           ELSE seed * 173 + u.k END)
       |      + $mix64Golden::HUGEINT) % $mix64W64 AS z
       |  FROM ${prefix}seed, unnest(range(0, $frames)) AS u(k)
       |  WHERE u.k % $everyN = 0),
       |${mix64ChainDuckCtes(prefix, Seq.empty)},
       |${prefix}en AS (
       |  SELECT doc_id, k,
       |    CAST((z % 256) * (z % 256) * ${width.toLong * height} AS BIGINT) AS e
       |  FROM ${prefix}z6),
       |${prefix}fr AS (SELECT DISTINCT doc_id, e FROM ${prefix}en)""".stripMargin

  /** The splitmix64 finalizer ([[encodePatternVideo]] /
    * [[withMjpegAviVideo]]'s shared frame-seed mix).
    */
  private[graft] def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val mix64W64 = "18446744073709551616::HUGEINT"
  private val mix64Golden = new java.math.BigInteger("9E3779B97F4A7C15", 16)

  /** The splitmix64 finalizer as staged DuckDB CTEs `{prefix}z2` …
    * `{prefix}z6` over `{prefix}z1 (doc_id, carry..., k, z)` — the
    * 64-bit wraparound emulation [[aHashPatternDuckCtes]] documents,
    * shared with [[dHashPatternDuckCtes]].
    */
  private def mix64ChainDuckCtes(prefix: String, carry: Seq[String]): String = {
    val w32 = "4294967296::HUGEINT"
    val cols = if (carry.isEmpty) "" else carry.mkString(", ") + ", "
    def xorStage(shift: Int): String = {
      val sh = s"${1L << shift}"
      s"""(xor(CAST(z // $w32 AS BIGINT),
         |         CAST((z // $sh) // $w32 AS BIGINT))::HUGEINT * $w32)
         |    + xor(CAST(z % $w32 AS BIGINT),
         |          CAST((z // $sh) % $w32 AS BIGINT))::HUGEINT AS z""".stripMargin
    }
    def mulStage(c: java.math.BigInteger): String =
      s"""((z % $w32) * $c::HUGEINT
         |      + (((z // $w32) * $c::HUGEINT) % $w32) * $w32) % $mix64W64 AS z""".stripMargin
    def u(hex: String) = new java.math.BigInteger(hex, 16)
    s"""${prefix}z2 AS (
       |  SELECT doc_id, ${cols}k, ${xorStage(30)}
       |  FROM ${prefix}z1),
       |${prefix}z3 AS (
       |  SELECT doc_id, ${cols}k, ${mulStage(u("BF58476D1CE4E5B9"))}
       |  FROM ${prefix}z2),
       |${prefix}z4 AS (
       |  SELECT doc_id, ${cols}k, ${xorStage(27)}
       |  FROM ${prefix}z3),
       |${prefix}z5 AS (
       |  SELECT doc_id, ${cols}k, ${mulStage(u("94D049BB133111EB"))}
       |  FROM ${prefix}z4),
       |${prefix}z6 AS (
       |  SELECT doc_id, ${cols}k, ${xorStage(31)}
       |  FROM ${prefix}z5)""".stripMargin
  }

  /** Attach a synthetic constant-magnitude tone WAV per row
    * ([[withTestPng]]'s audio twin — decoded stats exactly
    * predictable by an external oracle). */
  def withToneWav(
      df: DataFrame,
      nSamplesCol: String,
      ampCol: String,
      out: String = "wav"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(out, BinaryType))
    val ni = df.schema.fieldIndex(nSamplesCol)
    val ai = df.schema.fieldIndex(ampCol)
    df.mapPartitions { rows =>
      rows.map { row =>
        val wav = encodeToneWav(
          row.getAs[Number](ni).intValue(),
          row.getAs[Number](ai).intValue())
        Row.fromSeq(row.toSeq :+ wav)
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** STUB video frame-sample plan: byte offsets of every `everyN`-th
    * fake frame. Real implementation: container demux. Shape (one
    * array of offsets per row, computed in the scan stage) is what a
    * real frame sampler produces.
    */
  def sampleFrameOffsets(bytes: Column, frameBytes: Int, everyN: Int): Column = {
    val nFrames = greatest((octet_length(bytes) / frameBytes).cast("long"), lit(1L))
    transform(
      sequence(lit(0L), nFrames - 1, lit(everyN.toLong)),
      i => i * frameBytes)
  }

  /** Resize plan: output metadata for a target box preserving the
    * aspect ratio (integer math only — engine-portable).
    */
  def resizeMeta(meta: Column, maxSide: Int): Column = {
    val w = meta.getField("width")
    val h = meta.getField("height")
    val scaleNum = lit(maxSide)
    val longSide = greatest(w, h)
    struct(
      (w * scaleNum / longSide).cast("long").as("width"),
      (h * scaleNum / longSide).cast("long").as("height"))
  }
}
