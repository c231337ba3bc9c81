package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{BinaryMedia, MediaRecord}

class MultimodalSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("media table carries opaque blob + typed prunable metadata") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val media = BinaryMedia.mediaTable(docs, "doc_id", "text")
    val schema = media.schema
    assert(schema("media").dataType.typeName == "binary")
    assert(schema("meta").dataType.typeName == "struct")
    val row = media.orderBy("id").limit(1).collect()(0)
    val meta = row.getStruct(row.fieldIndex("meta"))
    assert(meta.getAs[String]("format") == "text/plain")
    assert(meta.getAs[Int]("n_bytes") ==
      row.getAs[Array[Byte]]("media").length)
  }

  test("feature extraction: distributed, deterministic, batch-shaped") {
    val recs = (0L until 100L).map(i =>
      MediaRecord(i, s"payload number $i with bytes ${"x" * i.toInt}".getBytes("UTF-8"), "text/plain"))
    val ds = recs.toDS().repartition(4)
    val out = BinaryMedia.extractFeatures(ds, dim = 16).collect()
      .sortBy(_.id)
    assert(out.length == 100)
    // schema/shape: fixed-dim float vector, byte count preserved
    out.foreach { f =>
      assert(f.features.length == 16)
      assert(f.nBytes == recs(f.id.toInt).media.length)
      // L1-normalized histogram sums to ~1
      assert(math.abs(f.features.map(_.toDouble).sum - 1.0) < 1e-5)
    }
    // deterministic across runs and partitionings
    val again = BinaryMedia.extractFeatures(ds.repartition(7), dim = 16)
      .collect().sortBy(_.id)
    assert(out.zip(again).forall { case (a, b) =>
      a.features.sameElements(b.features) })
  }

  test("decode stub batches exactly like an inference client") {
    val recs = (0L until 70L).map(i => MediaRecord(i, Array[Byte](i.toByte), "b"))
    // grouped(32) on 70 records -> batches of 32, 32, 6
    val sizes = recs.grouped(BinaryMedia.DecodeBatchSize).map(_.size).toSeq
    assert(sizes == Seq(32, 32, 6))
    val feats = BinaryMedia.decodeStub(recs, dim = 8)
    assert(feats.map(_.id) == recs.map(_.id))
  }

  test("media shards: greedy byte-budget boundaries are exact and " +
    "id ranges are contiguous") {
    // the q144 characterization at byte granularity: cumulative bytes
    // through shard b must land in (b*B, (b+1)*B], and the id ranges
    // of consecutive shards must chain without gap or overlap
    val out = SparkEntry
      .queries("q155_media_shards")(TestSpark.spark, TestSpark.sf0001)
      .collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_items"),
        r.getAs[Long]("shard_bytes"), r.getAs[Long]("first_id"),
        r.getAs[Long]("last_id")))
      .sortBy(_._1)
    assert(out.length > 1, "fixture must span multiple shards")
    assert(out.map(_._1).toSeq == (0L until out.length))
    val b = graft.queries.Multimodal.MediaShardBytes
    var cum = 0L
    out.dropRight(1).foreach { case (shard, _, bytes, _, _) =>
      cum += bytes
      assert(cum > shard * b && cum <= (shard + 1) * b,
        s"shard $shard boundary broke the greedy invariant")
    }
    out.sliding(2).foreach { case Array(a, c) =>
      assert(a._5 < c._4, "shard id ranges must chain in order")
    }
    assert(out.forall(_._2 > 0))
  }

  test("q209 phash equals a sequential recompute; re-encoded copies pair, " +
    "unrelated blobs don't") {
    import graft.queries.Multimodal
    val c = Multimodal.PHashCells
    // sequential twin of mediaPhash on raw UTF-8 bytes
    def phashOf(text: String): Long = {
      val bytes = text.getBytes("UTF-8").map(b => (b & 0xff).toLong)
      val n = bytes.length.toLong
      require(n >= c)
      val cells = (0 until c).map { k =>
        val lo = math.floor(k * n / c.toDouble).toLong.toInt
        val hi = math.floor((k + 1) * n / c.toDouble).toLong.toInt
        bytes.slice(lo, hi).sum
      }
      val total = cells.sum
      (0 until c).foldLeft(0L) { (acc, k) =>
        if (cells(k) * c > total) acc | (1L << k) else acc
      }
    }
    val base = ("the quick brown fox jumps over the lazy dog " * 4).trim
    val corrupt = base.updated(10, 'X').updated(90, 'Y') // a "re-encode"
    // NOT a periodic repeat: a repeating pattern's cell sums are
    // near-uniform like the base's, and two near-uniform signatures
    // can land within the Hamming bar by construction
    val other = "Seventeen quiet librarians catalogued obscure " +
      "manuscripts beneath flickering halogen lamps while rain hammered " +
      "the museum roof and distant thunder rolled across the valley " +
      "floor for hours on end"
    val docs = Seq(1L -> base, 2L -> base, 3L -> corrupt, 4L -> other,
      5L -> "short").toDF("doc_id", "text")
    val got = Multimodal.mediaPhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    // blobs below the grid size carry no signature
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    for ((id, t) <- Seq(1L -> base, 2L -> base, 3L -> corrupt, 4L -> other))
      assert(got(id) == phashOf(t), s"doc $id phash diverged")
    // fixture pairing through the FULL band+verify pipeline: identical
    // blobs at hamming 0, the corrupted copy within the bar, the
    // unrelated blob absent
    val pairs = Multimodal.phashNeardup(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      s"re-encoded copy must pair with both originals: $pairs")
    assert(pairs((1L, 3L)) <= Multimodal.PHashMaxHam)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated blob must not pair")
    assert(java.lang.Long.bitCount(got(1L) ^ got(4L)) >
      Multimodal.PHashMaxHam)
    graft.SessionCache.clear()
  }

  /** Synthesize an uncompressed 24-bit bottom-up BMP; px(x, y) gives the
    * (r, g, b) of the TOP-DOWN pixel at (x, y).
    */
  private def bmp24(w: Int, h: Int,
                    px: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val off = 54
    val buf = java.nio.ByteBuffer.allocate(off + rowBytes * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte).putInt(off + rowBytes * h)
      .putShort(0).putShort(0).putInt(off)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowBytes * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    for (y <- h - 1 to 0 by -1) { // bottom-up row order
      for (x <- 0 until w) {
        val (r, g, b) = px(x, y)
        buf.put(b.toByte).put(g.toByte).put(r.toByte)
      }
      var pad = w * 3
      while (pad < rowBytes) { buf.put(0.toByte); pad += 1 }
    }
    buf.array()
  }

  test("BmpLuma decodes header/padding/bottom-up order to exact integer luma") {
    import graft.multimodal.BmpLuma
    // 2x2, distinct corner colors; 2*3=6 pixel bytes pad to 8 per row
    val colors = Map((0, 0) -> (255, 0, 0), (1, 0) -> (0, 255, 0),
      (0, 1) -> (0, 0, 255), (1, 1) -> (200, 100, 50))
    val img = bmp24(2, 2, (x, y) => colors((x, y)))
    val luma = BmpLuma.decode(img)
    def y(c: (Int, Int, Int)): Byte =
      ((77 * c._1 + 150 * c._2 + 29 * c._3) >> 8).toByte
    assert(luma.toSeq == Seq(y(colors((0, 0))), y(colors((1, 0))),
      y(colors((0, 1))), y(colors((1, 1)))))
    // malformed inputs throw, they don't corrupt
    intercept[IllegalArgumentException](BmpLuma.decode("not a bmp".getBytes))
  }

  test("q209 pipeline with a REAL format decoder: BMP re-encodes pair, " +
    "unrelated images don't (the decode seam is code, not comment)") {
    import graft.queries.Multimodal
    import graft.multimodal.BmpLuma
    val w = 16; val h = 8 // 128 luma bytes >= the 48-cell grid
    def grad(x: Int, y: Int) = (x * 16 + y * 24) % 256
    val original = bmp24(w, h, (x, y) => { val v = grad(x, y); (v, v, v) })
    // "re-encode": same image with slight level shifts at two pixels
    val reencoded = bmp24(w, h, (x, y) => {
      val v = grad(x, y)
      val v2 = if ((x, y) == (3, 2) || (x, y) == (12, 5)) math.min(255, v + 6) else v
      (v2, v2, v2)
    })
    val unrelated = bmp24(w, h, (x, y) => {
      val v = 255 - grad(x, y); (v, v, v) // inverted gradient
    })
    val blobs = Seq(1L -> original, 2L -> reencoded, 3L -> unrelated)
      .toDF("doc_id", "media")
    val pairs = Multimodal.phashNeardupBlobs(blobs, BmpLuma).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs.contains((1L, 2L)),
      s"re-encoded BMP must pair with its original: $pairs")
    assert(pairs((1L, 2L)) <= Multimodal.PHashMaxHam)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      s"inverted image must not pair: $pairs")
    // the decoder actually ran: phash over DECODED luma differs from
    // phash over the raw container bytes (header + padding included)
    val viaBmp = Multimodal.blobPhash(blobs, BmpLuma).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    val viaRaw = Multimodal.blobPhash(blobs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phash")).toMap
    assert(viaBmp(1L) != viaRaw(1L))
    // and it decoded to exactly the luma signal: phash(decode(blob))
    assert(viaBmp(1L) ==
      graft.expressions.MediaPhash.phash(BmpLuma.decode(original),
        Multimodal.PHashCells))
    graft.SessionCache.clear()
  }

  // ---- JDK-codec decoders (JpegLuma / PngLuma) ---------------------

  private def grayImage(w: Int, h: Int,
                        f: (Int, Int) => Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = f(x, y) & 0xff
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

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
    writer.dispose()
    ios.close()
    out.toByteArray
  }

  private def pngBytes(img: java.awt.image.BufferedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("q209 pipeline with the JDK JPEG codec: a quality-85 re-encode " +
    "pairs with its original, an unrelated image does not") {
    import graft.queries.Multimodal
    import graft.multimodal.JpegLuma
    // 32x24 gray image of six 16x8 regions (2x1 JPEG blocks each, so
    // the lossy re-encode only jitters levels by a few counts). Each
    // 48-grid cell is a 16-px half-row lying INSIDE one region, so
    // cell sums sit far from the mean on a region-determined side —
    // robust bits that all flip under inversion. (A plain checkerboard
    // fails here: every 16-px cell then holds one low and one high run,
    // all sums equal, phash 0 for original AND inverted.)
    val w = 32; val h = 24
    val regionLevels = Array(40, 220, 220, 40, 220, 40)
    def checker(x: Int, y: Int) = regionLevels((y / 8) * 2 + (x / 16))
    val srcImg = grayImage(w, h, checker)
    val original = jpegBytes(srcImg, 1.0f)
    // a REAL lossy re-encode: decode the original JPEG bytes, write
    // them back at quality 0.85 — the verdict-r11 "same image,
    // different quality" case, through an actual codec
    val decoded = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(original))
    val reencoded = jpegBytes(decoded, 0.85f)
    assert(!java.util.Arrays.equals(original, reencoded),
      "re-encode must produce different container bytes")
    val unrelated = jpegBytes(grayImage(w, h, (x, y) => 255 - checker(x, y)), 0.9f)
    val blobs = Seq(1L -> original, 2L -> reencoded, 3L -> unrelated)
      .toDF("doc_id", "media")
    val pairs = Multimodal.phashNeardupBlobs(blobs, JpegLuma).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs.contains((1L, 2L)),
      s"quality-85 JPEG re-encode must pair with its original: $pairs")
    assert(pairs((1L, 2L)) <= Multimodal.PHashMaxHam)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      s"inverted image must not pair: $pairs")
    // the seam is format-honest: a JPEG decoder refuses PNG bytes
    intercept[IllegalArgumentException](JpegLuma.decode(pngBytes(srcImg)))
    graft.SessionCache.clear()
  }

  test("PngLuma is lossless: same pixels through PNG and BMP decode " +
    "to identical luma and identical phash") {
    import graft.multimodal.{BmpLuma, PngLuma}
    import graft.queries.Multimodal
    val w = 16; val h = 8
    def grad(x: Int, y: Int) = (x * 16 + y * 24) % 256
    val viaPng = PngLuma.decode(pngBytes(grayImage(w, h, grad)))
    val viaBmp = BmpLuma.decode(bmp24(w, h, (x, y) => {
      val v = grad(x, y); (v, v, v)
    }))
    assert(viaPng.toSeq == viaBmp.toSeq,
      "PNG (lossless) and BMP of the same pixels must decode identically")
    assert(graft.expressions.MediaPhash.phash(viaPng, Multimodal.PHashCells)
      == graft.expressions.MediaPhash.phash(viaBmp, Multimodal.PHashCells))
    intercept[IllegalArgumentException](PngLuma.decode("not a png".getBytes))
  }

  /** s16le byte encoding of the given sample values. */
  private def s16le(samples: Seq[Int]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(s => buf.putShort(s.toShort))
    buf.array()
  }

  /** Synthesize a real RIFF/WAVE container around raw s16le PCM, with
    * an odd-sized LIST chunk before fmt (exercising chunk-walk skip +
    * word-align padding) and optionally the 0xFFFE extensible fmt
    * wrapper instead of plain PCM.
    */
  private def wav16(pcm: Array[Byte], extensible: Boolean = false): Array[Byte] = {
    val fmtSize = if (extensible) 40 else 16
    val listPayload = "abc".getBytes("US-ASCII") // odd size -> pad byte
    val size = 4 + (8 + listPayload.length + 1) + (8 + fmtSize) + (8 + pcm.length)
    val buf = java.nio.ByteBuffer.allocate(8 + size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes).putInt(size).put("WAVE".getBytes)
    buf.put("LIST".getBytes).putInt(listPayload.length)
      .put(listPayload).put(0.toByte)
    buf.put("fmt ".getBytes).putInt(fmtSize)
      .putShort(if (extensible) 0xfffe.toShort else 1)
      .putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
    if (extensible) {
      buf.putShort(22).putShort(16).putInt(0)
      buf.putShort(1) // sub-format GUID leads with the real tag (PCM)
      buf.put(Array.fill[Byte](14)(0))
    }
    buf.put("data".getBytes).putInt(pcm.length).put(pcm)
    buf.array()
  }

  /** Independent sequential fold mirroring the AudioStats contract. */
  private def audioFold(samples: Seq[Int]): Seq[Long] = {
    val peak = samples.map(v => math.abs(v.toLong)).max
    val sumSq = samples.map(v => v.toLong * v).sum
    val clipped = samples.count(v => math.abs(v.toLong) >= 32767).toLong
    val crossings = samples.sliding(2).count {
      case Seq(a, b) => (a < 0) != (b < 0)
      case _ => false
    }.toLong
    Seq(samples.length.toLong, peak, sumSq, clipped, crossings)
  }

  test("audio_stats: native expression equals an independent fold; " +
    "trailing odd byte ignored; full-scale rails count as clipped") {
    import graft.expressions.AudioStats
    val samples = Seq(0, 1000, -1000, 32767, -32768, 5, -5)
    val expected = audioFold(samples)
    def arr(b: Array[Byte]): Seq[Long] =
      AudioStats.stats(b).toLongArray().toSeq
    assert(arr(s16le(samples)) == expected)
    assert(expected(1) == 32768L, "|-32768| must be exact, not overflowed")
    assert(expected(3) == 2L, "32767 and -32768 both hit the rails")
    assert(expected(4) == 5L)
    // a trailing odd byte carries no complete sample
    assert(arr(s16le(samples) :+ 0x7f.toByte) == expected)
    // column API over a DataFrame matches the direct eval
    val df = Seq((1L, s16le(samples))).toDF("doc_id", "media")
    val viaCol = df.select(graft.functions.audio_stats($"media"))
      .collect()(0).getSeq[Long](0)
    assert(viaCol == expected)
  }

  test("WavPcm walks a real RIFF/WAVE container; malformed containers throw") {
    import graft.multimodal.WavPcm
    val pcm = s16le(Seq(3, -7, 32767, -32768, 0, 12000))
    assert(WavPcm.decode(wav16(pcm)).toSeq == pcm.toSeq)
    assert(WavPcm.decode(wav16(pcm, extensible = true)).toSeq == pcm.toSeq)
    // float PCM (format tag 3) is rejected, not misread
    val floatWav = wav16(pcm)
    floatWav(20 + 3 + 1 + 8) = 3 // fmt payload byte 0 (after LIST chunk)
    intercept[IllegalArgumentException](WavPcm.decode(floatWav))
    intercept[IllegalArgumentException](WavPcm.decode("RIFFxxxxJUNK".getBytes))
    // a chunk size overrunning the container is caught, not read past
    val truncated = wav16(pcm).dropRight(4)
    intercept[IllegalArgumentException](WavPcm.decode(truncated))
  }

  test("q213 pipeline with a REAL container decoder: WAV stats equal " +
    "identity stats over the raw PCM (the decode seam is code)") {
    import graft.queries.Multimodal
    import graft.multimodal.WavPcm
    val a = Seq(0, 1000, -1000, 32767, -32768, 5, -5, 250, -250)
    val b = Seq.tabulate(300)(i => ((i * 2311 + 17) % 65536) - 32768)
    val wavs = Seq(1L -> wav16(s16le(a)), 2L -> wav16(s16le(b), extensible = true))
      .toDF("doc_id", "media")
    val raws = Seq(1L -> s16le(a), 2L -> s16le(b)).toDF("doc_id", "media")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    val viaWav = rows(Multimodal.audioStats(wavs, WavPcm))
    assert(viaWav == rows(Multimodal.audioStats(raws)))
    // and both match the independent fold
    assert(viaWav.map(t => Seq(t._2, t._3, t._4, t._5, t._6))
      == Seq(audioFold(a), audioFold(b)))
  }

  test("luma_resize: box means are exact, constant under constant " +
    "signal, invariant under exact 2x duplication") {
    import graft.expressions.LumaResize
    val c = graft.queries.Multimodal.ResizeCells
    def resize(b: Array[Byte], cells: Int): Seq[Long] =
      LumaResize.resize(b, cells).toLongArray().toSeq
    assert(resize(Array.fill(64)(200.toByte), c) == Seq.fill(c)(200L))
    // independent fold on a deterministic pseudo-random signal
    val sig = Array.tabulate(100)(i => ((i * 131 + 7) % 256).toByte)
    val got = resize(sig, c)
    val want = (0 until c).map { k =>
      val st = k.toLong * sig.length / c
      val en = (k + 1).toLong * sig.length / c
      (st until en).map(p => (sig(p.toInt) & 0xff).toLong).sum / (en - st)
    }
    assert(got == want)
    // nb divisible by cells: duplicating every byte scales each window
    // exactly, so the box means are identical (alignment normalization)
    val exact = Array.tabulate(64)(i => ((i * 37 + 11) % 256).toByte)
    val doubled = exact.flatMap(b => Array(b, b))
    assert(resize(exact, c) == resize(doubled, c))
  }

  test("audio_phash: equals an independent fold and is EXACTLY " +
    "invariant under uniform gain") {
    import graft.expressions.AudioPhash
    val c = graft.queries.Multimodal.PHashCells
    // a deterministic pseudo-waveform, |v| <= 12000 so 2x gain is exact
    val samples = Seq.tabulate(300)(i =>
      (math.sin(i / 7.0) * 9000).toInt + ((i * 97) % 331) - 165)
    val fold = {
      val n = samples.length
      val energies = (0 until c).map { k =>
        val st = k.toLong * n / c
        val en = (k + 1).toLong * n / c
        (st until en).map(p => math.abs(samples(p.toInt).toLong)).sum
      }
      val total = energies.sum
      energies.zipWithIndex.foldLeft(0L) { case (acc, (e, k)) =>
        if (e * c > total) acc | (1L << k) else acc
      }
    }
    assert(AudioPhash.phash(s16le(samples), c) == fold)
    assert(AudioPhash.phash(s16le(samples.map(_ * 2)), c) == fold,
      "doubling every sample (uniform gain) must not move a single bit")
    assert(AudioPhash.phash(s16le(samples.map(v => -v)), c) == fold,
      "polarity inversion preserves the energy envelope")
  }

  test("q215 pipeline with a REAL container decoder: a gain-doubled WAV " +
    "re-encode pairs with its original, an unrelated waveform doesn't") {
    import graft.queries.Multimodal
    import graft.multimodal.WavPcm
    // 600 samples >= the 48-window grid; bounded so 2x gain stays exact
    def tone(i: Int): Int =
      (math.sin(i / 11.0) * 8000).toInt * (if ((i / 100) % 2 == 0) 1 else 0)
    val original = Seq.tabulate(600)(tone)
    val louder = original.map(_ * 2) // same recording, +6 dB re-encode
    val unrelated = Seq.tabulate(600)(i =>
      (math.sin(i / 11.0) * 8000).toInt * (if ((i / 100) % 2 == 0) 0 else 1))
    val blobs = Seq(
      1L -> wav16(s16le(original)),
      2L -> wav16(s16le(louder), extensible = true),
      3L -> wav16(s16le(unrelated)))
      .toDF("doc_id", "media")
    val pairs = Multimodal.audioPhashNeardup(blobs, WavPcm).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(pairs.get((1L, 2L)).contains(0L),
      s"gain-doubled WAV must pair at hamming 0: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      s"the phase-inverted envelope must not pair: $pairs")
    graft.SessionCache.clear()
  }

  test("audio_resample: signed window means equal an independent fold " +
    "(truncating division on negatives), WAV and raw PCM agree") {
    import graft.expressions.AudioResample
    import graft.queries.Multimodal
    import graft.multimodal.WavPcm
    val c = Multimodal.ResizeCells
    // negatives dominate some windows -> exercises sum/len below zero
    val samples = Seq.tabulate(100)(i => ((i * 1723 + 5) % 20001) - 10000)
    val got = AudioResample.resample(s16le(samples), c).toLongArray().toSeq
    val want = (0 until c).map { k =>
      val st = k.toLong * samples.length / c
      val en = (k + 1).toLong * samples.length / c
      (st until en).map(p => samples(p.toInt).toLong).sum / (en - st)
    }
    assert(got == want)
    assert(want.exists(_ < 0), "fixture must exercise negative means")
    // constant tone -> constant frames
    assert(AudioResample.resample(s16le(Seq.fill(64)(-123)), c)
      .toLongArray().toSeq == Seq.fill(c)(-123L))
    // the container decoder changes nothing about the kernel
    val viaWav = Multimodal.audioResample(
      Seq(1L -> wav16(s16le(samples))).toDF("doc_id", "media"), WavPcm)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(viaWav == want.indices.map(k => (k.toLong, want(k))))
  }

  /** Synthesize a real RIFF/AVI MJPEG container: hdrl list (walker
    * skips it), a movi list holding the first frame as a bare '00dc'
    * chunk, an odd-sized '01wb' audio chunk (skip + word-align pad),
    * and the remaining frames inside a 'rec ' grouping sub-list
    * (exercising the walker's recursion), then a trailing JUNK chunk.
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
    val audio = chunk("01wb", Array[Byte](1, 2, 3)) // odd size -> pad
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

  test("AviMjpegFrames walks a real RIFF/AVI container — rec sub-lists, " +
    "audio chunks, JUNK skipped; malformed containers throw") {
    import graft.multimodal.{AviMjpegFrames, JpegLuma}
    val imgs = (0 until 3).map(i =>
      jpegBytes(grayImage(32, 24, (x, y) => (x * 8 + y * 11 + i * 40) % 256), 0.9f))
    val frames = AviMjpegFrames.decodeFrames(aviMjpeg(imgs))
    assert(frames.length == 3, "one luma plane per 00dc chunk, in order")
    assert(frames.zip(imgs).forall { case (f, j) =>
      f.sameElements(JpegLuma.decode(j)) },
      "each frame must decode exactly as its standalone JPEG")
    // a WAVE file is not an AVI; a truncated AVI is caught, not read past
    intercept[IllegalArgumentException](
      AviMjpegFrames.decodeFrames("RIFFxxxxWAVEdata".getBytes))
    intercept[IllegalArgumentException](
      AviMjpegFrames.decodeFrames(aviMjpeg(imgs).dropRight(6)))
    // an AVI whose movi list holds no video chunks is rejected
    intercept[IllegalArgumentException](
      AviMjpegFrames.decodeFrames(aviMjpeg(Nil)))
  }

  test("AviMjpegFrames: pathological LIST nesting is rejected by the " +
    "depth bound (IllegalArgumentException, never a StackOverflowError)") {
    import graft.multimodal.AviMjpegFrames
    def le32(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    // 200 nested LISTs — over the 64-level bound but far below any
    // real stack limit, so only the explicit guard can fire
    var inner = Array.empty[Byte]
    for (_ <- 0 until 200) {
      val payload = "rec ".getBytes("US-ASCII") ++ inner
      inner = "LIST".getBytes("US-ASCII") ++ le32(payload.length) ++ payload
    }
    val body = "AVI ".getBytes("US-ASCII") ++ inner
    val blob = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    val e = intercept[IllegalArgumentException](
      AviMjpegFrames.decodeFrames(blob))
    assert(e.getMessage.contains("nesting"),
      s"the DEPTH guard must fire, got: ${e.getMessage}")
  }

  // ---- synthetic MJPEG-AVI video corpus ----------------------------

  private val FramesPerVideo = 12
  private val FrameW = 16
  private val FrameH = 384 // 48 blocks of 8 rows -> one block per phash cell

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

  /** Video `id`: 12 quality-0.9 JPEG frames, each 48 vertical 8-row
    * blocks that are independently bright or dark. One block is one
    * MediaPhash cell (6144 luma bytes / 48 cells), aligned with the
    * JPEG 8×8 DCT grid, so q85 re-encodes keep block means crisp, and
    * unrelated videos sit at E[ham] ≈ 24, far above the ≤ 8 gate.
    * Ids ≡ 3 (mod 4) are per-frame re-decode→q85 re-encodes of id−1:
    * different bytes, same perceptual content.
    */
  private def videoBlob(id: Long): Array[Byte] = {
    val src = if (id % 4 == 3) id - 1 else id
    val frames = (0 until FramesPerVideo).map(k => jpegBytes(
      grayImage(FrameW, FrameH, (_, y) => if (blockBit(src, k, y / 8)) 220 else 40), 0.9f))
    aviMjpeg(if (src == id) frames else frames.map(j => jpegBytes(
      javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(j)), 0.85f)))
  }

  test("synthetic MJPEG-AVIs decode; only the planted re-encode pairs survive") {
    import graft.multimodal.AviMjpegFrames
    // every blob decodes through the real walker to the declared frames
    val frames = AviMjpegFrames.decodeFrames(videoBlob(0L))
    assert(frames.length == FramesPerVideo)
    assert(frames.forall(_.length == FrameW * FrameH))
    // a re-encode (id%4==3) carries different bytes than its source
    assert(!java.util.Arrays.equals(videoBlob(3L), videoBlob(2L)))
    // at n=8 the planted pairs are exactly (2,3) and (6,7); fresh videos
    // carry independent seeded 48-bit signatures, so nothing else pairs
    val blobs = (0L until 8L).map(id => id -> videoBlob(id))
      .toDF("doc_id", "media")
    val pairs = graft.queries.Multimodal
      .videoPhashNeardup(blobs, AviMjpegFrames).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(pairs == Set((2L, 3L), (6L, 7L)), s"got $pairs")
    graft.SessionCache.clear()
  }

  test("q217 identity sampling: temporally-aligned sampled frames drive " +
    "the quorum; one corrupted sampled frame still pairs, three gate it out") {
    import graft.queries.Multimodal
    val nf = graft.multimodal.IdentityFrames.NumFrames
    val c = Multimodal.PHashCells
    // nb = nf * c -> the 8 proportional windows are exactly c bytes;
    // sampled indices 0, 2, 4, 6 under step 2
    val base = Array.tabulate[Byte](nf * c)(i => ((i * 131 + 7) % 256).toByte)
    def inverted(src: Array[Byte], frames: Int*): Array[Byte] = {
      val out = src.clone()
      frames.foreach(f =>
        (c * f until c * (f + 1)).foreach(i => out(i) = (~out(i)).toByte))
      out
    }
    val copy = inverted(base, 2, 6) // sampled frames 0 and 4 still match
    val near = inverted(base, 0, 4, 6) // only sampled frame 2 matches
    val blobs = Seq(1L -> base, 2L -> copy, 3L -> near)
      .toDF("doc_id", "media")
    val pairs = Multimodal.videoPhashNeardup(blobs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("n_frames_matched")).toMap
    assert(pairs.get((1L, 2L)).contains(2L),
      s"frames 0 and 4 align and match: $pairs")
    assert(!pairs.contains((1L, 3L)),
      s"a single matching frame sits below the quorum: $pairs")
    // copy vs near share ONLY the both-inverted frame 6 -> 1 < quorum
    assert(!pairs.contains((2L, 3L)),
      s"one agreeing sampled frame sits below the quorum: $pairs")
    // the identity stub's frame rule matches the decoder trait's
    val viaDecoder = graft.multimodal.IdentityFrames.decodeFrames(base)
    assert(viaDecoder.length == nf)
    assert(viaDecoder.zipWithIndex.forall { case (f, k) =>
      f.sameElements(base.slice(k * c, (k + 1) * c)) })
    graft.SessionCache.clear()
  }

  test("q217 pipeline with a REAL container decoder: a per-frame " +
    "quality-85 AVI re-encode pairs under the aligned-frame quorum, an " +
    "inverted video does not") {
    import graft.queries.Multimodal
    import graft.multimodal.AviMjpegFrames
    val w = 32; val h = 24
    // per-frame 16x8-region checker (the q209 JPEG-robust pattern),
    // pattern phase advancing with the frame index so frames differ
    def frameImg(k: Int, invert: Boolean) = grayImage(w, h, (x, y) => {
      val region = (y / 8) * 2 + (x / 16)
      val lvl = if ((region + k) % 2 == 0) 40 else 220
      if (invert) 255 - lvl else lvl
    })
    val n = 6 // sampled frames 0, 2, 4
    val origJpegs = (0 until n).map(k => jpegBytes(frameImg(k, invert = false), 1.0f))
    // a REAL per-frame re-encode: decode each JPEG, write back at q85
    val reencJpegs = origJpegs.map { j =>
      jpegBytes(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(j)), 0.85f)
    }
    val unrelJpegs = (0 until n).map(k => jpegBytes(frameImg(k, invert = true), 0.9f))
    assert(origJpegs.zip(reencJpegs).forall { case (a, b) =>
      !java.util.Arrays.equals(a, b) },
      "re-encode must produce different frame bytes")
    val blobs = Seq(1L -> aviMjpeg(origJpegs), 2L -> aviMjpeg(reencJpegs),
      3L -> aviMjpeg(unrelJpegs)).toDF("doc_id", "media")
    val pairs = Multimodal.videoPhashNeardup(blobs, AviMjpegFrames).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("n_frames_matched")).toMap
    assert(pairs.contains((1L, 2L)),
      s"re-encoded AVI must pair with its original: $pairs")
    assert(pairs((1L, 2L)) >= Multimodal.VideoQuorumFrames)
    assert(pairs((1L, 2L)) <= 3, "only the sampled frames (0,2,4) can match")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      s"the inverted video must not pair: $pairs")
    graft.SessionCache.clear()
  }

  test("q214 through BmpLuma: a constant-color image resizes to " +
    "constant luma cells through the real decoder") {
    import graft.queries.Multimodal
    import graft.multimodal.BmpLuma
    val (r, g, b) = (200, 100, 50)
    val lumaVal = ((77 * r + 150 * g + 29 * b) >> 8).toLong
    val img = bmp24(16, 8, (_, _) => (r, g, b))
    val blobs = Seq(1L -> img).toDF("doc_id", "media")
    val out = Multimodal.lumaResize(blobs, BmpLuma).collect()
      .map(row => (row.getAs[Long]("cell"), row.getAs[Long]("luma")))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == (0L until Multimodal.ResizeCells))
    assert(out.forall(_._2 == lumaVal), s"got ${out.toSeq}")
  }
}
