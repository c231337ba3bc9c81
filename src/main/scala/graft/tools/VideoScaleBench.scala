package graft.tools

import graft.Harness

/** Measured throughput for the REAL-CODEC video near-dup path
  * (VERDICT r13 #4): q217's catalog row rides the identity frame stub
  * (the fixture corpus ships no real video), and `AviMjpegFrames` was
  * proven only on a spec-sized container — so "decode is one UDF at
  * the seam" was an argument, not a number. This tool synthesizes a
  * corpus of real RIFF/AVI MJPEG containers (JDK codec only — the same
  * synthesis recipe as MultimodalSpec's `aviMjpeg`, scaled up), plants
  * a 25% per-frame quality-85 re-encode near-dup rate, and times the
  * full decode→phash→band→verify→quorum pipeline
  * ([[graft.queries.Multimodal.videoPhashNeardup]] with
  * [[graft.multimodal.AviMjpegFrames]]) at 1× and every scale factor
  * (default 10× AND 30× — the catalog's SCALE.md discipline, VERDICT
  * r14 #4), next to the identity-stub arm on the same blobs so the
  * real-decode premium is read directly. Per-arm wall is the suite's
  * across-pass statistic ([[graft.Bench.stat]]: trimmed mean at ≥4
  * passes, true median below — ADVICE r14 #5: the previous min-over-2
  * is the minimum-basis statistic the Bench methodology rejects as
  * ~15% downward-biased) over SPARK_GRAFT_PASSES (default 3) passes,
  * with every per-pass wall recorded in the artifact. Output: one JSON
  * line → `BENCH_video.json`.
  *
  * Corpus shape: each video is 12 frames of 16×384 grayscale JPEG
  * (quality 0.9). A frame is 48 vertical 8-row blocks, each block
  * independently bright/dark from a seeded hash of
  * (video, frame, block) — one block per MediaPhash cell (6144 luma
  * bytes / 48 cells = 128 bytes = exactly one 16×8 block, aligned
  * with the JPEG 8×8 DCT grid so q85 re-encodes keep block means
  * crisp). That gives every fresh video an effectively uniform random
  * 48-bit per-frame signature: band collisions between unrelated
  * videos are birthday-rare and Hamming-verify rejects them
  * (E[ham] ≈ 24 vs the ≤ 8 gate), so found pairs ≡ planted pairs is
  * the correctness observable at both scales. Videos with
  * id % 4 == 3 are per-frame ImageIO re-decode→q85-re-encodes of
  * video id−1 (different bytes, same perceptual content — the
  * MultimodalSpec fixture at corpus scale).
  *
  * Generation is DISTRIBUTED (spark.range → map over ids, every blob
  * a pure function of its id) — the synthesis itself is the shape a
  * 100-TB media ingest has: no driver-side loops, no cross-row state.
  */
object VideoScaleBench {

  val FramesPerVideo = 12
  val FrameW = 16
  val FrameH = 384 // 48 blocks of 8 rows -> one block per phash cell

  private def jpegBytes(img: java.awt.image.BufferedImage,
                        quality: Float): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpeg").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    writer.dispose(); ios.close()
    out.toByteArray
  }

  /** Deterministic per-(video, frame, block) brightness bit — a
    * splitmix64-style scramble, so fresh videos carry independent
    * 48-bit per-frame signatures.
    */
  private def blockBit(id: Long, frame: Int, block: Int): Boolean = {
    var z = id * 0x9E3779B97F4A7C15L + frame * 0xBF58476D1CE4E5B9L +
      block * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) % 2 == 0
  }

  private def frameImg(id: Long, frame: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(FrameW, FrameH,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < FrameH) {
      val lvl = if (blockBit(id, frame, y / 8)) 220 else 40
      var x = 0
      while (x < FrameW) { raster.setSample(x, y, 0, lvl); x += 1 }
      y += 1
    }
    img
  }

  private def freshJpegs(id: Long): Seq[Array[Byte]] =
    (0 until FramesPerVideo).map(k => jpegBytes(frameImg(id, k), 0.9f))

  /** MultimodalSpec's container recipe: hdrl (skipped by the walker),
    * first frame bare in movi, an odd-sized audio chunk (word-align
    * pad), remaining frames in a 'rec ' sub-list, trailing JUNK.
    */
  private def aviMjpeg(frames: Seq[Array[Byte]]): Array[Byte] = {
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val pad = payload.length & 1
      val buf = java.nio.ByteBuffer.allocate(8 + payload.length + pad)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put(id.getBytes("US-ASCII")).putInt(payload.length).put(payload)
      if (pad == 1) buf.put(0.toByte)
      buf.array()
    }
    def list(listType: String, members: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ members)
    val hdrl = list("hdrl", chunk("avih", Array.fill[Byte](56)(0)))
    val audio = chunk("01wb", Array[Byte](1, 2, 3))
    val (head, tail) = frames.splitAt(1)
    val bare = head.map(f => chunk("00dc", f))
      .foldLeft(Array.empty[Byte])(_ ++ _)
    val rec =
      if (tail.isEmpty) Array.empty[Byte]
      else list("rec ", tail.map(f => chunk("00dc", f)).reduce(_ ++ _))
    val movi = list("movi", bare ++ audio ++ rec)
    val junk = chunk("JUNK", Array.fill[Byte](5)(0))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi ++ junk
    val buf = java.nio.ByteBuffer.allocate(8 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(body.length).put(body)
    buf.array()
  }

  /** Blob for one id: ids ≡ 3 (mod 4) are per-frame re-decode→q85
    * re-encodes of id−1 (id−1 is never itself a re-encode), everything
    * else a fresh seeded video.
    */
  def blobFor(id: Long): Array[Byte] =
    if (id % 4 == 3) {
      val reenc = freshJpegs(id - 1).map { j =>
        jpegBytes(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(j)), 0.85f)
      }
      aviMjpeg(reenc)
    } else aviMjpeg(freshJpegs(id))

  def main(args: Array[String]): Unit = {
    val baseN = if (args.length > 0) args(0).toLong else 200L
    val factors = (if (args.length > 1) args(1) else "10,30")
      .split(",").map(_.trim.toInt).toSeq
    val outJson = if (args.length > 2) args(2)
      else "/root/repo/BENCH_video.json"
    val passes = Harness.passes(3)
    val spark = Harness.session(32)
    import spark.implicits._

    def gen(n: Long, dir: java.nio.file.Path): Unit =
      spark.range(0L, n, 1L, 32)
        .map(id => (id.toLong, blobFor(id)))
        .toDF("doc_id", "media")
        .write.mode("overwrite").parquet(dir.toString)

    final case class Arm(videos: Long, planted: Long, walls: Seq[Double],
                         wallSec: Double, pairsFound: Long, decoder: String)
    def run(dir: java.nio.file.Path, n: Long, decoder: String): Arm = {
      val blobs = spark.read.parquet(dir.toString)
      val dec: graft.multimodal.FrameDecoder =
        if (decoder == "avi_mjpeg") graft.multimodal.AviMjpegFrames
        else graft.multimodal.IdentityFrames
      val walls = (1 to passes).map { _ =>
        Harness.clear(spark)
        val t0 = System.nanoTime()
        Harness.materialize(graft.queries.Multimodal.videoPhashNeardup(blobs, dec))
        (System.nanoTime() - t0) / 1e9
      }
      // the suite's across-pass statistic (ADVICE r14 #5): trimmed
      // mean at >=4 passes, true median below — never the min
      val wall = graft.Bench.stat(walls)
      graft.SessionCache.clear()
      val pairs =
        graft.queries.Multimodal.videoPhashNeardup(blobs, dec).count()
      graft.SessionCache.clear()
      val arm = Arm(n, n / 4, walls, wall, pairs, decoder)
      System.err.println(f"VIDEOBENCH $decoder n=$n wall=$wall%.2f s " +
        f"(passes ${walls.map(w => f"$w%.2f").mkString("/")}) " +
        f"pairs=$pairs (planted ${n / 4}) " +
        f"rate=${n / wall}%.0f videos/s")
      arm
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft-video")
    val baseDir = tmp.resolve("base")
    val factorDirs = factors.map(f => f -> tmp.resolve(s"x$f"))
    def arms(decoder: String): Seq[(String, Arm)] =
      (("base", run(baseDir, baseN, decoder)) +: factorDirs.map {
        case (f, dir) => s"x$f" -> run(dir, baseN * f, decoder)
      })

    val (genSec, armsReal, armsStub) = try {
      val tGen0 = System.nanoTime()
      gen(baseN, baseDir)
      factorDirs.foreach { case (f, dir) => gen(baseN * f, dir) }
      ((System.nanoTime() - tGen0) / 1e9, arms("avi_mjpeg"), arms("identity"))
    } finally Harness.deleteTree(tmp)
    spark.stop()

    import Harness.num
    def armJson(a: Arm): String =
      s"""{"videos":${a.videos},"planted_pairs":${a.planted},""" +
        s""""pairs_found":${a.pairsFound},"wall_s":${num(a.wallSec)},""" +
        s""""wall_passes":${a.walls.map(num).mkString("[", ",", "]")},""" +
        s""""videos_per_s":${num(a.videos / a.wallSec)}}"""
    // per-factor ratio vs base and per-unit (ratio/factor): sub-linear
    // per-unit < 1 is the scale observable
    def decoderJson(armSeq: Seq[(String, Arm)]): String = {
      val base = armSeq.head._2
      val entries = armSeq.map { case (k, a) => s""""$k":${armJson(a)}""" }
      val ratios = factors.zip(armSeq.tail).map { case (f, (k, a)) =>
        s""""$k":{"ratio":${num(a.wallSec / base.wallSec)},""" +
          s""""per_unit":${num(a.wallSec / base.wallSec / f)}}"""
      }
      (entries :+ s""""scaling":${ratios.mkString("{", ",", "}")}""")
        .mkString("{", ",", "}")
    }
    val line = s"""{"metric":"video_neardup_real_decode","passes":$passes,""" +
      s""""frames_per_video":$FramesPerVideo,"frame_px":"${FrameW}x$FrameH",""" +
      s""""gen_wall_s":${num(genSec)},""" +
      s""""real":${decoderJson(armsReal)},""" +
      s""""identity_stub":${decoderJson(armsStub)}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (line + "\n").getBytes("UTF-8"))
    println(line)
  }
}
