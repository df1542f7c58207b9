package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal}

/** Image-corpus scale-rehearsal generator — the media twin of
  * [[ScaleGen]], for the m9/m10 banded-Hamming octave adjudication
  * (the d5 protocol applied to media).
  *
  * Corpus structure per CONTENT c: one 34×32 raster of 2×2-pixel
  * blocks, block gray = splitmix-style hash of (c, fineRow, fineCol) —
  * i.e. the 16×17 fine grid is EXACTLY block-aligned and every
  * content's 256 dHash gradient signs are i.i.d.-uniform. That makes
  * the corpus the BEST case for banded LSH (perfectly uniform band
  * keys, zero structural correlation): whatever saturation the octaves
  * measure is a LOWER bound on real image corpora, whose gradient
  * statistics are heavily correlated. Each content is rendered twice —
  * PNG (media_id = 2c) and BMP (2c + 1), lossless twins of one raster
  * — so the planted truth is exactly one Hamming-0 pair per content
  * and true output grows linearly while candidate work shows the band
  * occupancy curve.
  *
  * The 8×9 COARSE grid (the 64-bit m9 hash) reads the same rasters
  * with floor block boundaries (34/9 non-uniform) — its bits are
  * hashes of sums of fine blocks, still content-random.
  *
  * Usage: `runMain graft.MediaScaleGen <outDir> <nContents>` →
  * `<outDir>/media.parquet` with (media_id BIGINT, bytes BINARY),
  * 2·nContents rows. Deterministic; no RNG state.
  */
object MediaScaleGen {

  /** splitmix64 finalizer — deterministic per-(content, block) gray. */
  private[graft] def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** `px` = pixels per fine-block side (default 2 → 34×32 rasters);
    * larger px scales ONLY the pixel count (same 256 hash bits), for
    * the decode-CPU budget octaves (pixels-vs-rows split). */
  private[graft] def renderContent(c: Long, fmt: String, px: Int = 2): Array[Byte] = {
    import java.awt.image.BufferedImage
    val imgType = if (fmt == "png") BufferedImage.TYPE_INT_RGB
      else BufferedImage.TYPE_3BYTE_BGR
    val img = new BufferedImage(17 * px, 16 * px, imgType)
    var fr = 0
    while (fr < 16) {
      var fc = 0
      while (fc < 17) {
        val g = (mix(c * 1000003L + fr * 31L + fc) & 0xffL).toInt
        val rgb = (g << 16) | (g << 8) | g
        var dy = 0
        while (dy < px) {
          var dx = 0
          while (dx < px) {
            img.setRGB(fc * px + dx, fr * px + dy, rgb)
            dx += 1
          }
          dy += 1
        }
        fc += 1
      }
      fr += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nContents = args(1).toLong
    val px = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.localSession("media-scale-gen", cpus, cpus)
    import spark.implicits._
    spark.range(0, nContents, 1, cpus)
      .flatMap { c =>
        Seq((2 * c, MediaScaleGen.renderContent(c, "png", px)),
          (2 * c + 1, MediaScaleGen.renderContent(c, "bmp", px)))
      }
      .toDF("media_id", "bytes")
      .write.mode("overwrite").parquet(s"$outDir/media.parquet")
    spark.stop()
  }
}

/** Audio-corpus scale-rehearsal generator — [[MediaScaleGen]]'s twin
  * for the m16 energy-gradient octaves. Per CONTENT c: a 1,040-frame
  * (65 blocks × 16) PCM16-mono pseudo-noise clip (splitmix-derived
  * samples → i.i.d.-uniform gradient signs, the LSH best case — see
  * MediaScaleGen's lower-bound argument), rendered TWICE: full volume
  * (media_id 2c) and half volume (2c + 1) — the planted truth is
  * exactly one Hamming-0 pair per content.
  *
  * Usage: `runMain graft.AudioScaleGen <outDir> <nContents>` →
  * `<outDir>/media.parquet` (media_id BIGINT, bytes BINARY). */
object AudioScaleGen {

  private[graft] def renderClip(c: Long, amp: Int): Array[Byte] = {
    val n = 65 * 16
    val dataSize = n * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1)
      .putInt(16000).putInt(32000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    var j = 0
    while (j < n) {
      val z = MediaScaleGen.mix(c * 99991L + j)
      bb.putShort((((z & Long.MaxValue) % 2001L - 1000L) * amp).toShort)
      j += 1
    }
    bb.array()
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val nContents = args(1).toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.localSession("audio-scale-gen", cpus, cpus)
    import spark.implicits._
    spark.range(0, nContents, 1, cpus)
      .flatMap { c =>
        Seq((2 * c, AudioScaleGen.renderClip(c, 16)),
          (2 * c + 1, AudioScaleGen.renderClip(c, 8)))
      }
      .toDF("media_id", "bytes")
      .write.mode("overwrite").parquet(s"$outDir/media.parquet")
    spark.stop()
  }
}

/** Isolated measurement harness for the media octaves — one variant
  * per fresh JVM (the SCALE.md protocol). Prints ONE JSON line.
  *
  * Variants:
  *  - `m9`: the 64-bit 4×16-bit-band pair miner — wall + the band
  *    occupancy account (Σ C(occ,2) = candidate-pair slots, max occ,
  *    occupied buckets) that names the saturation mechanism.
  *  - `deep`: the 256-bit 8×32-bit-band miner — same account; the
  *    flat-occupancy contrast.
  *  - `decode`: the decode-CPU budget split — header-only
  *    `decodeImages` (m7's step) vs full-raster `perceptualHashes`
  *    (m9's step) over the same payloads, separately timed.
  *
  * Usage: `runMain graft.MediaScaleBench <mediaDir> <variant>`.
  */
object MediaScaleBench {

  private def bandAccount(bands: DataFrame): (Long, Long, Long) = {
    val r = bands.groupBy(col("_band"), col("_bk"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1) div 2")).as("slots"),
        max(col("n")).as("maxocc"), count(lit(1)).as("buckets"))
      .collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val variant = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Graft.localSession("media-scale-bench", cpus, cpus)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10m")
    val media = spark.read.parquet(s"$dir/media.parquet")
    val nimg = media.count()

    def emit(fields: (String, Any)*): Unit =
      println(fields.map { case (k, v) => s""""$k":$v""" }
        .mkString(s"""{"dir":"$dir","variant":"$variant","n_images":$nimg,""", ",", "}"))

    variant match {
      case "m9" | "deep" =>
        val t0 = System.nanoTime()
        val pairs =
          if (variant == "m9")
            Multimodal.perceptualNearDupPairs(media, maxHamming = 3).count()
          else
            Multimodal.perceptualNearDupPairsDeep(media, maxHamming = 7).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // the occupancy account, measured separately (not in the wall)
        val hs =
          if (variant == "m9")
            Multimodal.perceptualHashes(media).where(col("b0").isNotNull)
              .select(col("media_id"), posexplode(array(
                col("b0"), col("b1"), col("b2"), col("b3"))))
          else
            Multimodal.perceptualHashesDeep(media).where(col("b0").isNotNull)
              .select(col("media_id"), posexplode(array(
                (0 until 8).map(i => col(s"b$i")): _*)))
        val (slots, maxocc, buckets) = bandAccount(
          hs.withColumnRenamed("pos", "_band").withColumnRenamed("col", "_bk"))
        emit("wall_sec" -> f"$wall%.2f", "pairs" -> pairs,
          "cand_slots" -> slots, "max_occ" -> maxocc, "buckets" -> buckets)
      case "audio" =>
        val t0 = System.nanoTime()
        val pairs = Multimodal.audioNearDupPairs(media, maxHamming = 3).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val hs = Multimodal.audioPerceptualHashes(media)
          .where(col("b0").isNotNull)
          .select(col("media_id"), posexplode(array(
            col("b0"), col("b1"), col("b2"), col("b3"))))
        val (slots, maxocc, buckets) = bandAccount(
          hs.withColumnRenamed("pos", "_band").withColumnRenamed("col", "_bk"))
        emit("wall_sec" -> f"$wall%.2f", "pairs" -> pairs,
          "cand_slots" -> slots, "max_occ" -> maxocc, "buckets" -> buckets)
      case "audiodeep" =>
        val t0 = System.nanoTime()
        val pairs = Multimodal.audioNearDupPairsDeep(media, maxHamming = 7).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val hs = Multimodal.audioPerceptualHashesDeep(media)
          .where(col("b0").isNotNull)
          .select(col("media_id"), posexplode(array(
            (0 until 8).map(i => col(s"b$i")): _*)))
        val (slots, maxocc, buckets) = bandAccount(
          hs.withColumnRenamed("pos", "_band").withColumnRenamed("col", "_bk"))
        emit("wall_sec" -> f"$wall%.2f", "pairs" -> pairs,
          "cand_slots" -> slots, "max_occ" -> maxocc, "buckets" -> buckets)
      case "audiodecode" =>
        val t0 = System.nanoTime()
        val headers = Multimodal.decodeAudio(media)
          .where(col("codec").isNotNull).count()
        val tHeader = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val hashed = Multimodal.audioPerceptualHashes(media)
          .where(col("b0").isNotNull).count()
        val tSamples = (System.nanoTime() - t1) / 1e9
        emit("header_sec" -> f"$tHeader%.2f", "samples_sec" -> f"$tSamples%.2f",
          "decoded_headers" -> headers, "hashed_clips" -> hashed)
      case "decode" =>
        val t0 = System.nanoTime()
        val headers = Multimodal.decodeImages(media)
          .where(col("format").isNotNull).count()
        val tHeader = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val rasters = Multimodal.perceptualHashes(media)
          .where(col("b0").isNotNull).count()
        val tRaster = (System.nanoTime() - t1) / 1e9
        emit("header_sec" -> f"$tHeader%.2f", "raster_sec" -> f"$tRaster%.2f",
          "decoded_headers" -> headers, "hashed_rasters" -> rasters)
      case other => sys.error(s"unknown variant $other")
    }
    spark.stop()
  }
}
