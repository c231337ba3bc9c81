package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.SessionCache
import graft.Tables._

/** Multimodal column modeling (north star; SURVEY.md §2.2): semi-
  * structured payloads as TYPED struct columns (not per-query string
  * poking), and opaque binary media columns with typed metadata.
  *
  * The deeper plumbing — batched decode-stub feature extraction over
  * binary blobs — lives in [[graft.multimodal.BinaryMedia]]; these are
  * the oracle-checkable catalog entries.
  */
object Multimodal {

  /** Declared schema for `events.props` — parsed ONCE into a struct
    * column; every field access afterwards is a typed struct access the
    * optimizer can prune, instead of q28's per-access string parse.
    */
  val PropsSchema: StructType = StructType(Seq(StructField("k", LongType)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // JSON payload -> typed struct, aggregated over struct fields.
    "q44_props_struct" -> ((s, d) => {
      events(s, d)
        .withColumn("p", from_json(col("props"), PropsSchema))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("p.k")).as("k_sum"),
          round(avg(col("p.k")), 6).as("k_avg"),
          min(col("p.k")).as("k_min"),
          max(col("p.k")).as("k_max"))
    }),

    // Cross-modal join: vectors to their source documents (doc_id ==
    // vec_id in the fixture). Each query doc's nearest same-bucket
    // neighbor is joined back to `documents` on BOTH ends to compare
    // text-side metadata — the embeddings-never-meet-documents gap
    // closed. Doc lookups join on the id key; vectors stay in the
    // bucketed ANN path.
    "q51_crossmodal_neighbors" -> ((s, d) => {
      val docs = documents(s, d).select(col("doc_id"), col("lang"))
      val top1 = Similarity.queries("q39_ann_buckets")(s, d)
        .filter(col("rn") === 1)
        .select(col("q_id"), col("neighbor_id"), col("cosine"))
      top1
        .join(docs.withColumnRenamed("doc_id", "q_id")
          .withColumnRenamed("lang", "q_lang"), Seq("q_id"))
        .join(docs.withColumnRenamed("doc_id", "neighbor_id")
          .withColumnRenamed("lang", "n_lang"), Seq("neighbor_id"))
        .select(col("q_id"), col("neighbor_id"), col("cosine"),
          col("q_lang"), col("n_lang"),
          (col("q_lang") === col("n_lang")).as("same_lang"))
    }),

    // Video frame sampling over typed media metadata: one sampled frame
    // every 2 s of duration plus the stream parameters to seek it —
    // the generator + arithmetic an extract-frames stage feeds to the
    // (stubbed) decoder. Metadata is synthesized deterministically from
    // fixture columns (duration from n_chars, fps from doc_id) since
    // the corpus ships no real video; the sampling operator itself is
    // the real thing: a per-row generator, no shuffle at all.
    "q63_frame_sample" -> ((s, d) => {
      val m = documents(s, d).select(col("doc_id"),
        (col("n_chars") * 40).cast("long").as("duration_ms"),
        (lit(24) + pmod(col("doc_id"), lit(6))).cast("long").as("fps"))
      m.filter(col("duration_ms") > 0)
        .select(col("doc_id"), col("duration_ms"), col("fps"),
          explode(sequence(lit(0L),
            expr("(duration_ms - 1) div 2000"))).as("s2"))
        .select(col("doc_id"), col("duration_ms"), col("fps"),
          (col("s2") * 2000).as("ts_ms"),
          (col("s2") * 2 * col("fps")).as("frame_idx"))
    }),

    // Opaque binary media column + typed metadata: the blob is the
    // UTF-8 bytes of `text` (the fixture ships no real media; the
    // byte-level plumbing — octet length, content fingerprint, magic
    // prefix — is exactly what runs over real image/audio blobs).
    "q48_binary_meta" -> ((s, d) => {
      documents(s, d)
        .withColumn("media", col("text").cast("binary"))
        .select(
          col("doc_id"),
          octet_length(col("media")).cast("long").as("n_bytes"),
          sha2(col("media"), 256).as("fingerprint"),
          substring(hex(col("media")), 1, 8).as("magic"))
    }),

    // Media shard packing — the WebDataset/tar-shard layout step every
    // multimodal training loader needs: opaque blobs packed into
    // ~fixed-BYTE shards in stable id order (q144's token packing, at
    // the byte granularity a media corpus is budgeted in). Shard id =
    // floor((cumulative_bytes - 1) / budget) via the chunker's
    // two-phase distributed prefix sum — only numPartitions rows ever
    // touch the driver, and a blob straddling a boundary lands wholly
    // in its cumulative-end shard, so shard_bytes < budget + max_blob
    // — both reported so packing efficiency is auditable.
    "q155_media_shards" -> ((s, d) => {
      val blobs = documents(s, d)
        .withColumn("media", col("text").cast("binary"))
        .select(col("doc_id"),
          octet_length(col("media")).cast("long").as("n_bytes"))
      graft.pipeline.Chunker
        .runningSum(blobs, "doc_id", "n_bytes", "cum_bytes")
        .select(col("doc_id"), col("n_bytes"),
          floor((col("cum_bytes") - 1) / MediaShardBytes).as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("n_bytes")).as("shard_bytes"),
          min(col("doc_id")).as("first_id"),
          max(col("doc_id")).as("last_id"))
    }),

    // Media NEAR-dup by perceptual hash — the multimodal member of the
    // dedup family (the other entries near-dup text/embeddings; a
    // media corpus dedups re-encoded copies by a perceptual signature,
    // not the q48 exact content fingerprint). Average-hash over the
    // stubbed decode ([[mediaPhash]]), then the standard LSH shape:
    // OR-banding the 48-bit signature into [[PHashBands]] exact-match
    // sub-signatures (a pair within [[PHashMaxHam]] bit flips misses
    // all bands only if every band catches a flip — the SimHash
    // pigeonhole), bucket-capped like every band join here, verified
    // by exact Hamming distance as one bit_count(XOR) on the packed
    // BIGINTs. Scale shape: phash is a pure projection (persisted —
    // three consumers), the candidate join shuffles on
    // (band_idx, band_sig) collision buckets, the verify runs on
    // candidate pairs only — never N².
    "q209_media_phash_neardup" -> ((s, d) => phashNeardup(documents(s, d))),

    // Audio feature extraction — the waveform member of the multimodal
    // family (images grid through q209's phash; audio folds through
    // the native AudioStats expression: one pass over s16le samples ->
    // n_samples, peak, sum_sq, clipping count, zero crossings — the
    // stats an audio curation pipeline gates on: silence = low
    // peak/sum_sq, hard-clipped = n_clipped/n_samples high, tonal vs
    // noisy = zero_cross rate). The decode seam is
    // [[graft.multimodal.PcmDecoder]] (identity stub over the fixture's
    // text bytes — the corpus ships no real audio; MultimodalSpec
    // drives a REAL RIFF/WAVE container through the same pipeline via
    // WavPcm). Pure per-row projection, no shuffle; everything
    // integer-exact so the DuckDB oracle mirrors it bit for bit.
    "q213_audio_stats" -> ((s, d) => audioStats(
      documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("media")))),

    // Audio perceptual near-dup — the dedup family's third modality
    // (text near-dups through MinHash bands, images through q209's
    // luma phash; audio through this energy-envelope phash). The
    // native AudioPhash expression sketches |sample| energy over 48
    // proportional windows and mean-thresholds them into one BIGINT —
    // EXACTLY invariant under uniform gain (a louder re-encode of the
    // same recording pairs with its original), then the standard q209
    // LSH tail: OR-banding, bucket caps, exact Hamming verify. Same
    // 100-TB shape: phash is a pure projection, candidates shuffle on
    // band-collision buckets, verify touches candidate pairs only.
    "q215_audio_phash_neardup" -> ((s, d) => audioPhashNeardup(
      documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("media")))),

    // Standalone resize — the remaining named stage of the multimodal
    // north star (decode / feature-extract / resize / frame-sample).
    // q209 embeds this grid and immediately thresholds it to sign
    // bits; here the box-filter resample IS the output: 16 integer
    // cell means per blob at proportional offsets, the
    // alignment-normalizing fixed-size vector a training loader packs
    // or a similarity stage consumes. Native LumaResize expression +
    // posexplode — a generator projection, no shuffle.
    "q214_luma_resize" -> ((s, d) => lumaResize(
      documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("media")))),

    // Audio resample — the rate-normalizing twin of q214's image
    // resize (every audio loader downsamples variable-duration clips
    // to a fixed frame count before batching). Native AudioResample
    // expression: 16 SIGNED window means over proportional sample
    // windows — keeps waveform shape where q215's hash keeps only the
    // envelope — then posexplode. Generator projection, no shuffle.
    "q216_audio_resample" -> ((s, d) => audioResample(
      documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("media")))),

    // Video perceptual near-dup — the FOURTH dedup modality (text
    // near-dups through MinHash bands, images through q209's luma
    // phash, audio through q215's energy phash; video through
    // temporally-aligned per-frame phashes). Frames enter through the
    // [[graft.multimodal.FrameDecoder]] seam: the catalog rides the
    // identity stub (8 uniform PROPORTIONAL byte windows read AS luma
    // planes — q63's across-duration sampling as a byte rule, which
    // keeps frame alignment stable between near-dup blobs of slightly
    // different length; `sequence` + binary `substring` + the codegen'd
    // MediaPhash, no UDF anywhere, DuckDB-mirrorable); MultimodalSpec
    // drives a REAL synthesized MJPEG-in-AVI container through the
    // SAME pipeline via AviMjpegFrames. Every [[VideoFrameStep]]-nd
    // frame is sampled (q63's sampling rule as a plan, not metadata),
    // each sampled frame grids through q209's hash, candidate VIDEO
    // pairs come from SAME-frame-index band collisions (a re-encode
    // keeps its frame sequence, so temporal alignment is a join key —
    // frames of a pair never cross-product), and a pair near-dups when
    // at least [[VideoQuorumFrames]] aligned frames verify within
    // PHashMaxHam. Scale shape: per-frame phash is a generator
    // projection; candidates shuffle on (frame_idx, band, sig)
    // collision buckets; verify touches aligned candidate frames only
    // — never N² over videos, never frames × frames within a pair.
    "q217_video_phash_neardup" -> ((s, d) => videoPhashNeardup(
      documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("media"))))
  )

  /** q209 body over any documents-shaped frame — see the catalog
    * entry's scaladoc; split out so the spec drives a planted
    * re-encoded-copy fixture through the full band+verify pipeline.
    */
  def phashNeardup(docs: DataFrame): DataFrame =
    phashNeardupBlobs(
      docs.select(col("doc_id"), col("text").cast("binary").as("media")))

  /** Documents-shaped convenience over [[blobPhash]] (specs + q209). */
  def mediaPhash(docs: DataFrame): DataFrame =
    blobPhash(docs.select(col("doc_id"), col("text").cast("binary").as("media")))

  /** q209 body over an already-binary media table `(doc_id, media)` with
    * a pluggable decode seam ([[graft.multimodal.LumaDecoder]]) — the
    * shape a real media corpus enters through (parquet blob column or
    * `binaryFile` scan). The catalog entry rides the identity decoder;
    * MultimodalSpec drives real uncompressed-BMP blobs through the SAME
    * band+verify pipeline via [[graft.multimodal.BmpLuma]].
    */
  def phashNeardupBlobs(
      blobs: DataFrame,
      decoder: graft.multimodal.LumaDecoder = graft.multimodal.IdentityLuma)
      : DataFrame =
    bandVerify(blobPhash(blobs, decoder))

  /** The shared LSH tail of perceptual near-dup, image (q209) and
    * audio (q215) alike: OR-band a 48-bit `(doc_id, phash)` signature
    * table into [[PHashBands]] exact-match sub-signatures, cap
    * degenerate buckets, self-join on collisions, verify candidate
    * pairs by exact Hamming distance as one bit_count(XOR) on the
    * packed BIGINTs. The signature table persists — banding and both
    * verify joins consume it.
    */
  def bandVerify(phashes: DataFrame): DataFrame = {
    val ph = phashes
      .transform(SessionCache.persist)
    val bands = ph.select(col("doc_id"),
        explode(sequence(lit(0), lit(PHashBands - 1))).as("band_idx"),
        col("phash"))
      .withColumn("band_sig", expr(
        s"shiftright(phash, band_idx * $PHashBandBits) & ${(1 << PHashBandBits) - 1}"))
      .select(col("doc_id"), col("band_idx"), col("band_sig"))
    val capped = Dedup.capBuckets(bands, Seq("band_idx", "band_sig"), "doc_id")
    capped.as("a").join(capped.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"))
      .join(ph.select(col("doc_id").as("doc_a"), col("phash").as("pa")), Seq("doc_a"))
      .join(ph.select(col("doc_id").as("doc_b"), col("phash").as("pb")), Seq("doc_b"))
      .withColumn("hamming", expr("CAST(bit_count(pa ^ pb) AS LONG)"))
      .filter(col("hamming") <= PHashMaxHam)
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"), col("hamming"))
  }

  /** The seam-to-column step shared by every multimodal operator: the
    * per-modality identity stub keeps the plan fully native (the
    * expression runs straight over the blob column — no UDF anywhere,
    * which is what makes the catalog entries DuckDB-mirrorable); any
    * real decoder interposes ONE binary→binary UDF for the codec,
    * marked nondeterministic so project-collapse/predicate-pushdown
    * cannot substitute it into both a downstream filter AND a
    * projection and decode each blob twice (ADVICE r11).
    */
  private def decodedSignal(
      blobs: DataFrame,
      decoder: graft.multimodal.BlobDecoder,
      identityStub: graft.multimodal.BlobDecoder,
      out: String): DataFrame =
    if (decoder == identityStub) blobs.withColumn(out, col("media"))
    else {
      val decodeUdf =
        udf((b: Array[Byte]) => decoder.decode(b)).asNondeterministic()
      blobs.withColumn(out, decodeUdf(col("media")))
    }

  /** q213 body over an already-binary media table `(doc_id, media)`
    * with a pluggable decode seam ([[graft.multimodal.PcmDecoder]]) —
    * the shape a real audio corpus enters through. The catalog entry
    * rides the identity decoder (blob bytes AS s16le PCM — fully
    * native, no UDF anywhere); MultimodalSpec drives real RIFF/WAVE
    * containers through the SAME stats pipeline via
    * [[graft.multimodal.WavPcm]]. Blobs below one complete sample are
    * excluded (documented contract — real audio is KBs+).
    */
  def audioStats(
      blobs: DataFrame,
      decoder: graft.multimodal.PcmDecoder = graft.multimodal.IdentityPcm)
      : DataFrame =
    decodedSignal(blobs, decoder, graft.multimodal.IdentityPcm, "pcm")
      .filter(octet_length(col("pcm")).cast("long") >= 2)
      .select(col("doc_id"), graft.functions.audio_stats(col("pcm")).as("st"))
      .select(col("doc_id"),
        element_at(col("st"), 1).as("n_samples"),
        element_at(col("st"), 2).as("peak"),
        element_at(col("st"), 3).as("sum_sq"),
        element_at(col("st"), 4).as("n_clipped"),
        element_at(col("st"), 5).as("zero_cross"))

  /** q216 body over an already-binary media table `(doc_id, media)`
    * with the [[graft.multimodal.PcmDecoder]] seam (identity for the
    * catalog fixture; the spec drives real WAV containers through the
    * same kernel via [[graft.multimodal.WavPcm]]). One native
    * AudioResample projection + posexplode — no shuffle.
    */
  def audioResample(
      blobs: DataFrame,
      decoder: graft.multimodal.PcmDecoder = graft.multimodal.IdentityPcm)
      : DataFrame =
    decodedSignal(blobs, decoder, graft.multimodal.IdentityPcm, "pcm")
      .filter(octet_length(col("pcm")).cast("long") >= 2L * ResizeCells)
      .select(col("doc_id"),
        posexplode(graft.functions.audio_resample(col("pcm"), ResizeCells)))
      .select(col("doc_id"),
        col("pos").cast("long").as("frame"),
        col("col").as("amp"))

  /** q215 body over an already-binary media table `(doc_id, media)`
    * with the [[graft.multimodal.PcmDecoder]] seam (identity for the
    * catalog fixture; MultimodalSpec drives real WAV containers and a
    * gain-doubled re-encode through the same pipeline via
    * [[graft.multimodal.WavPcm]]). Streams below one complete sample
    * per hash window carry no stable envelope and are excluded
    * (documented contract, mirroring q209's grid rule).
    */
  def audioPhashNeardup(
      blobs: DataFrame,
      decoder: graft.multimodal.PcmDecoder = graft.multimodal.IdentityPcm)
      : DataFrame =
    bandVerify(decodedSignal(blobs, decoder, graft.multimodal.IdentityPcm, "pcm")
      .filter(octet_length(col("pcm")).cast("long") >= 2L * PHashCells)
      .select(col("doc_id"),
        graft.functions.audio_phash(col("pcm"), PHashCells).as("phash")))

  /** q217 frame sampling stride (hash every 2nd frame — q63's
    * every-other-moment rule as a plan step) and the aligned-frame
    * quorum: a video pair is a near-dup when at least this many SAMPLED
    * frame pairs verify within [[PHashMaxHam]]. One matching frame is a
    * still-image coincidence; two temporally-aligned matches under
    * sampling span a stretch of the stream.
    */
  val VideoFrameStep = 2
  val VideoQuorumFrames = 2

  /** The frame seam-to-rows step of q217: one `(doc_id, frame_idx,
    * signal)` row per SAMPLED frame. The identity stub is fully native
    * — frame indices from `sequence` (already striding by
    * [[VideoFrameStep]], so unsampled frames are never materialized),
    * the proportional window by binary `substring`; blobs below one
    * grid per frame carry no stable per-frame signature and are
    * excluded (the q209 rule, per frame). A real decoder interposes
    * ONE blob→array<binary> UDF for the container+codec
    * (nondeterministic-marked like every decode seam, ADVICE r11) and
    * samples after posexplode.
    */
  private def decodedFrames(
      blobs: DataFrame,
      decoder: graft.multimodal.FrameDecoder): DataFrame = {
    val nf = graft.multimodal.IdentityFrames.NumFrames
    if (decoder == graft.multimodal.IdentityFrames)
      blobs
        .withColumn("nb", octet_length(col("media")).cast("long"))
        .filter(col("nb") >= nf.toLong * PHashCells)
        .select(col("doc_id"), col("media"), col("nb"),
          explode(sequence(lit(0L), lit(nf - 1L),
            lit(VideoFrameStep.toLong))).as("frame_idx"))
        .select(col("doc_id"), col("frame_idx"),
          expr(s"""substring(media,
                  |  cast(frame_idx * nb div $nf as int) + 1,
                  |  cast((frame_idx + 1) * nb div $nf
                  |       - frame_idx * nb div $nf as int))""".stripMargin)
            .as("signal"))
    else {
      val decodeUdf =
        udf((b: Array[Byte]) => decoder.decodeFrames(b).toArray)
          .asNondeterministic()
      blobs
        .select(col("doc_id"), posexplode(decodeUdf(col("media"))))
        .select(col("doc_id"), col("pos").cast("long").as("frame_idx"),
          col("col").as("signal"))
        .filter(pmod(col("frame_idx"), lit(VideoFrameStep.toLong)) === 0)
    }
  }

  /** q217 body over an already-binary media table `(doc_id, media)`
    * with the [[graft.multimodal.FrameDecoder]] seam — see the catalog
    * entry's scaladoc. Split out so the spec drives a synthesized real
    * AVI (and its re-encoded copy) through the full
    * sample→hash→band→verify→quorum pipeline via
    * [[graft.multimodal.AviMjpegFrames]].
    */
  def videoPhashNeardup(
      blobs: DataFrame,
      decoder: graft.multimodal.FrameDecoder = graft.multimodal.IdentityFrames)
      : DataFrame =
    frameBandVerify(decodedFrames(blobs, decoder)
      .filter(octet_length(col("signal")).cast("long") >= PHashCells)
      .select(col("doc_id"), col("frame_idx"),
        graft.functions.media_phash(col("signal"), PHashCells).as("phash")))

  /** The temporally-aligned variant of [[bandVerify]] for per-frame
    * signature tables `(doc_id, frame_idx, phash)`: banding and
    * bucket caps key on (frame_idx, band_idx, band_sig) — candidates
    * collide only at the SAME sampled frame index — verify is the same
    * exact Hamming bit_count(XOR), and the quorum aggregate counts
    * verified aligned frames per video pair. The signature table
    * persists: banding and both verify joins consume it.
    */
  def frameBandVerify(phashes: DataFrame): DataFrame = {
    val ph = phashes
      .transform(SessionCache.persist)
    val bands = ph.select(col("doc_id"), col("frame_idx"),
        explode(sequence(lit(0), lit(PHashBands - 1))).as("band_idx"),
        col("phash"))
      .withColumn("band_sig", expr(
        s"shiftright(phash, band_idx * $PHashBandBits) & ${(1 << PHashBandBits) - 1}"))
      .select(col("doc_id"), col("frame_idx"), col("band_idx"), col("band_sig"))
    val capped = Dedup.capBuckets(bands,
      Seq("frame_idx", "band_idx", "band_sig"), "doc_id")
    val candFrames = capped.as("a").join(capped.as("b"),
        col("a.frame_idx") === col("b.frame_idx") &&
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.frame_idx").as("frame_idx"))
      .distinct()
    candFrames
      .join(ph.select(col("doc_id").as("doc_a"), col("frame_idx"),
        col("phash").as("pa")), Seq("doc_a", "frame_idx"))
      .join(ph.select(col("doc_id").as("doc_b"), col("frame_idx"),
        col("phash").as("pb")), Seq("doc_b", "frame_idx"))
      .withColumn("hamming", expr("CAST(bit_count(pa ^ pb) AS LONG)"))
      .filter(col("hamming") <= PHashMaxHam)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_frames_matched"))
      .filter(col("n_frames_matched") >= VideoQuorumFrames)
  }

  /** q214 resize target: 16 cells — small enough that every fixture
    * blob (>= 16 bytes) resamples, wide enough to be a real thumbnail
    * vector (production tunes this per modality; the kernel is
    * cell-count-free).
    */
  val ResizeCells = 16

  /** q214 body over an already-binary media table `(doc_id, media)`
    * with the [[graft.multimodal.LumaDecoder]] seam (identity for the
    * catalog fixture; MultimodalSpec resizes real decoded BMP/PNG
    * pixels through the same kernel). One native LumaResize projection
    * + posexplode — no shuffle.
    */
  def lumaResize(
      blobs: DataFrame,
      decoder: graft.multimodal.LumaDecoder = graft.multimodal.IdentityLuma)
      : DataFrame =
    decodedSignal(blobs, decoder, graft.multimodal.IdentityLuma, "signal")
      .filter(octet_length(col("signal")).cast("long") >= ResizeCells)
      .select(col("doc_id"),
        posexplode(graft.functions.luma_resize(col("signal"), ResizeCells)))
      .select(col("doc_id"),
        col("pos").cast("long").as("cell"),
        col("col").as("luma"))

  /** q155 shard byte budget: ~32 fixture docs per shard, so every SF
    * yields a multi-shard, multi-item-per-shard layout (production
    * uses hundreds of MB; the packing arithmetic is scale-free).
    */
  val MediaShardBytes = 10000L

  /** q209 perceptual-hash grid (8x6 cells), OR-banding split, and the
    * Hamming acceptance bar. Blobs smaller than the grid carry no
    * stable signature and are excluded (documented contract — real
    * media is KBs+).
    */
  val PHashCells = 48
  val PHashBands = 4
  val PHashBandBits = 12
  val PHashMaxHam = 8

  /** q209 per-blob average-hash: (doc_id, phash BIGINT). The decode
    * seam is [[graft.multimodal.LumaDecoder]] (identity stub for the
    * fixture — see its scaladoc); everything downstream of it is the
    * real thing. The grid resample is [[PHashCells]] byte-sum cells at
    * proportional offsets (the alignment-normalizing "resize"), the bit
    * rule is cell*cells > total (exact integer compare against the
    * mean), and the bits pack into one BIGINT so the dedup stage joins
    * and XORs scalars, never strings. Pure per-row projection, no
    * shuffle — and on the identity path a single codegen'd native
    * expression ([[graft.expressions.MediaPhash]]; the r10 hex()+
    * substring HOF did ~2 string ops per input byte and was the
    * catalog's biggest line item). Non-identity decoders interpose one
    * binary->binary UDF for the codec only; the grid stays native.
    */
  def blobPhash(
      blobs: DataFrame,
      decoder: graft.multimodal.LumaDecoder = graft.multimodal.IdentityLuma)
      : DataFrame =
    decodedSignal(blobs, decoder, graft.multimodal.IdentityLuma, "signal")
      .filter(octet_length(col("signal")).cast("long") >= PHashCells)
      .select(col("doc_id"),
        graft.functions.media_phash(col("signal"), PHashCells).as("phash"))

  /** DuckDB twin of one [[mediaPhash]] byte parse: two uppercase hex
    * digits of `h` at 0-based byte offset `p` (the hashFractionSql
    * ascii-CASE pattern — DuckDB has no conv()).
    */
  private def hexByteSql(p: String): String = {
    def digit(off: Int): String = {
      val c = s"ascii(substring(h, CAST($p AS INT) * 2 + $off, 1))"
      s"CAST(CASE WHEN $c <= 57 THEN $c - 48 ELSE $c - 55 END AS BIGINT)"
    }
    s"(${digit(1)} * 16 + ${digit(2)})"
  }

  /** DuckDB twin of one s16le SAMPLE parse at 0-based sample index `i`
    * of hex string `h`: low byte first, high byte carries the sign —
    * the single source of the `>= 32768 → − 65536` rule for every
    * audio oracle (q213/q215/q216), exactly as
    * [[graft.expressions.AudioStats]] is the single Scala-side parse.
    */
  private def s16SampleSql(i: String): String = {
    val raw = s"(${hexByteSql(s"($i * 2)")} + 256 * ${hexByteSql(s"($i * 2 + 1)")})"
    s"""(CASE WHEN $raw >= 32768
       |      THEN $raw - 65536
       |      ELSE $raw END)""".stripMargin
  }

  /** The DuckDB mirror of [[bandVerify]]: given CTEs ending in
    * `ph(doc_id, phash)`, the shared OR-band + bucket-cap + Hamming
    * tail — one SQL body for both perceptual modalities, exactly as
    * one Spark body serves both catalog entries.
    */
  private def phashBandTailSql(phCtes: String): String =
    s"""WITH $phCtes,
       |bands AS (
       |  SELECT doc_id, bb.b AS band_idx,
       |    (phash >> (bb.b * $PHashBandBits)) & ${(1 << PHashBandBits) - 1}
       |      AS band_sig
       |  FROM ph CROSS JOIN (SELECT unnest(range(0, $PHashBands)) AS b) bb),
       |capped AS (
       |  SELECT doc_id, band_idx, band_sig FROM (
       |    SELECT doc_id, band_idx, band_sig,
       |      row_number() OVER (PARTITION BY band_idx, band_sig
       |        ORDER BY doc_id) AS brk
       |    FROM bands)
       |  WHERE brk <= ${Dedup.BandBucketCap}),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    count(*) AS n_shared_bands
       |  FROM capped a JOIN capped b
       |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT p.doc_a, p.doc_b, p.n_shared_bands,
       |  CAST(bit_count(xor(pa.phash, pb.phash)) AS BIGINT) AS hamming
       |FROM pairs p
       |JOIN ph pa ON pa.doc_id = p.doc_a
       |JOIN ph pb ON pb.doc_id = p.doc_b
       |WHERE bit_count(xor(pa.phash, pb.phash)) <= $PHashMaxHam""".stripMargin

  /** DuckDB twin of q209's signature stage (byte-sum grid cells +
    * mean-threshold pack), feeding [[phashBandTailSql]].
    */
  private def q209OracleSql: String = {
    val c = PHashCells
    phashBandTailSql(
      s"""m AS (
         |  SELECT doc_id, hex(encode(text)) AS h,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS nb
         |  FROM documents
         |  WHERE octet_length(encode(text)) >= $c),
         |pos AS (
         |  SELECT doc_id, t.k AS k,
         |    list_sum(list_transform(
         |      range(CAST(floor(CAST(t.k * nb AS DOUBLE) / $c.0) AS BIGINT),
         |        CAST(floor(CAST((t.k + 1) * nb AS DOUBLE) / $c.0) AS BIGINT)),
         |      p -> ${hexByteSql("p")})) AS s
         |  FROM m CROSS JOIN (SELECT unnest(range(0, $c)) AS k) t),
         |tot AS (SELECT doc_id, sum(s) AS tot FROM pos GROUP BY doc_id),
         |ph AS (
         |  SELECT p.doc_id, CAST(sum(
         |      CASE WHEN p.s * $c > t.tot
         |           THEN (CAST(1 AS BIGINT) << CAST(p.k AS INT)) ELSE 0 END)
         |    AS BIGINT) AS phash
         |  FROM pos p JOIN tot t USING (doc_id)
         |  GROUP BY p.doc_id)""".stripMargin)
  }

  /** DuckDB twin of q215's signature stage: the q213 s16le sample
    * parse inside q209's proportional-window fold — |sample| energy
    * per window, mean-threshold pack — feeding the same
    * [[phashBandTailSql]].
    */
  private def q215OracleSql: String = {
    val c = PHashCells
    val sampleAbs = s"abs(${s16SampleSql("i")})"
    phashBandTailSql(
      s"""m AS (
         |  SELECT doc_id, hex(encode(text)) AS h,
         |    CAST(octet_length(encode(text)) // 2 AS BIGINT) AS ns
         |  FROM documents
         |  WHERE octet_length(encode(text)) >= 2 * $c),
         |pos AS (
         |  SELECT doc_id, t.k AS k,
         |    list_sum(list_transform(
         |      range(CAST(floor(CAST(t.k * ns AS DOUBLE) / $c.0) AS BIGINT),
         |        CAST(floor(CAST((t.k + 1) * ns AS DOUBLE) / $c.0) AS BIGINT)),
         |      i -> $sampleAbs)) AS s
         |  FROM m CROSS JOIN (SELECT unnest(range(0, $c)) AS k) t),
         |tot AS (SELECT doc_id, sum(s) AS tot FROM pos GROUP BY doc_id),
         |ph AS (
         |  SELECT p.doc_id, CAST(sum(
         |      CASE WHEN p.s * $c > t.tot
         |           THEN (CAST(1 AS BIGINT) << CAST(p.k AS INT)) ELSE 0 END)
         |    AS BIGINT) AS phash
         |  FROM pos p JOIN tot t USING (doc_id)
         |  GROUP BY p.doc_id)""".stripMargin)
  }

  /** DuckDB twin of q217: the identity frame sampling
    * ([[graft.multimodal.IdentityFrames.NumFrames]] uniform
    * proportional windows of the blob hex, sampled every
    * [[VideoFrameStep]]), q209's grid+threshold per frame, then the
    * temporally-aligned band tail and the quorum aggregate, each stage
    * keyed (doc_id, frame_idx) exactly as [[frameBandVerify]].
    */
  private def q217OracleSql: String = {
    val nf = graft.multimodal.IdentityFrames.NumFrames
    val c = PHashCells
    s"""WITH m AS (
       |  SELECT doc_id, hex(encode(text)) AS hh,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS nb
       |  FROM documents
       |  WHERE octet_length(encode(text)) >= ${nf * c}),
       |fr AS (
       |  SELECT doc_id, unnest(range(0, $nf, $VideoFrameStep)) AS frame_idx,
       |    hh, nb
       |  FROM m),
       |fh AS (
       |  SELECT doc_id, frame_idx,
       |    substring(hh, CAST(frame_idx * nb // $nf AS INT) * 2 + 1,
       |      CAST((frame_idx + 1) * nb // $nf
       |           - frame_idx * nb // $nf AS INT) * 2) AS h,
       |    (frame_idx + 1) * nb // $nf - frame_idx * nb // $nf AS nbf
       |  FROM fr),
       |pos AS (
       |  SELECT doc_id, frame_idx, t.k AS k,
       |    list_sum(list_transform(
       |      range(t.k * nbf // $c, (t.k + 1) * nbf // $c),
       |      p -> ${hexByteSql("p")})) AS s
       |  FROM fh CROSS JOIN (SELECT unnest(range(0, $c)) AS k) t),
       |tot AS (SELECT doc_id, frame_idx, sum(s) AS tot
       |  FROM pos GROUP BY doc_id, frame_idx),
       |ph AS (
       |  SELECT p.doc_id, p.frame_idx, CAST(sum(
       |      CASE WHEN p.s * $c > t.tot
       |           THEN (CAST(1 AS BIGINT) << CAST(p.k AS INT)) ELSE 0 END)
       |    AS BIGINT) AS phash
       |  FROM pos p
       |  JOIN tot t ON t.doc_id = p.doc_id AND t.frame_idx = p.frame_idx
       |  GROUP BY p.doc_id, p.frame_idx),
       |bands AS (
       |  SELECT doc_id, frame_idx, bb.b AS band_idx,
       |    (phash >> (bb.b * $PHashBandBits)) & ${(1 << PHashBandBits) - 1}
       |      AS band_sig
       |  FROM ph CROSS JOIN (SELECT unnest(range(0, $PHashBands)) AS b) bb),
       |capped AS (
       |  SELECT doc_id, frame_idx, band_idx, band_sig FROM (
       |    SELECT doc_id, frame_idx, band_idx, band_sig,
       |      row_number() OVER (PARTITION BY frame_idx, band_idx, band_sig
       |        ORDER BY doc_id) AS brk
       |    FROM bands)
       |  WHERE brk <= ${Dedup.BandBucketCap}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.frame_idx AS frame_idx
       |  FROM capped a JOIN capped b
       |    ON a.frame_idx = b.frame_idx AND a.band_idx = b.band_idx
       |    AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)
       |SELECT c.doc_a, c.doc_b, count(*) AS n_frames_matched
       |FROM cand c
       |JOIN ph pa ON pa.doc_id = c.doc_a AND pa.frame_idx = c.frame_idx
       |JOIN ph pb ON pb.doc_id = c.doc_b AND pb.frame_idx = c.frame_idx
       |WHERE bit_count(xor(pa.phash, pb.phash)) <= $PHashMaxHam
       |GROUP BY 1, 2
       |HAVING count(*) >= $VideoQuorumFrames""".stripMargin
  }

  /** DuckDB twin of q216: q214's proportional windows over the q213
    * s16le sample parse, SIGNED means under truncating division
    * (DuckDB's integer `//` truncates toward zero exactly like
    * Scala's `/`).
    */
  private def q216OracleSql: String = {
    val c = ResizeCells
    val sample = s16SampleSql("i")
    s"""WITH m AS (
       |  SELECT doc_id, hex(encode(text)) AS h,
       |    CAST(octet_length(encode(text)) // 2 AS BIGINT) AS ns
       |  FROM documents
       |  WHERE octet_length(encode(text)) >= 2 * $c),
       |b AS (
       |  SELECT doc_id, h, t.k AS k,
       |    CAST(floor(CAST(t.k * ns AS DOUBLE) / $c.0) AS BIGINT) AS st,
       |    CAST(floor(CAST((t.k + 1) * ns AS DOUBLE) / $c.0) AS BIGINT) AS en
       |  FROM m CROSS JOIN (SELECT unnest(range(0, $c)) AS k) t)
       |SELECT doc_id, CAST(k AS BIGINT) AS frame,
       |  CAST(list_sum(list_transform(range(st, en),
       |      i -> $sample)) // (en - st) AS BIGINT) AS amp
       |FROM b""".stripMargin
  }

  /** DuckDB twin of q213: the same s16le parse (low byte + signed high
    * byte), one row per sample via per-doc unnest, zero crossings via
    * a lag window — all integer arithmetic, mirroring
    * [[graft.expressions.AudioStats]] bit for bit.
    */
  private def q213OracleSql: String =
    s"""WITH m AS (
       |  SELECT doc_id, hex(encode(text)) AS h,
       |    CAST(octet_length(encode(text)) // 2 AS BIGINT) AS ns
       |  FROM documents
       |  WHERE octet_length(encode(text)) >= 2),
       |pos AS (
       |  SELECT doc_id, h, ns, unnest(range(0, ns)) AS i FROM m),
       |sm AS (
       |  SELECT doc_id, ns, i, ${s16SampleSql("i")} AS v FROM pos),
       |w AS (
       |  SELECT doc_id, ns, v,
       |    lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
       |  FROM sm)
       |SELECT doc_id,
       |  max(ns) AS n_samples,
       |  CAST(max(abs(v)) AS BIGINT) AS peak,
       |  CAST(sum(v * v) AS BIGINT) AS sum_sq,
       |  CAST(sum(CASE WHEN abs(v) >= 32767 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_clipped,
       |  CAST(sum(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
       |    THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
       |FROM w GROUP BY doc_id""".stripMargin

  /** DuckDB twin of q214: the same proportional windows (float-floor
    * boundaries — identical to integer division for any k*nb < 2^53,
    * the q209 argument) and floor-division cell means.
    */
  private def q214OracleSql: String = {
    val c = ResizeCells
    s"""WITH m AS (
       |  SELECT doc_id, hex(encode(text)) AS h,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS nb
       |  FROM documents
       |  WHERE octet_length(encode(text)) >= $c),
       |b AS (
       |  SELECT doc_id, h, t.k AS k,
       |    CAST(floor(CAST(t.k * nb AS DOUBLE) / $c.0) AS BIGINT) AS st,
       |    CAST(floor(CAST((t.k + 1) * nb AS DOUBLE) / $c.0) AS BIGINT) AS en
       |  FROM m CROSS JOIN (SELECT unnest(range(0, $c)) AS k) t)
       |SELECT doc_id, CAST(k AS BIGINT) AS cell,
       |  CAST(list_sum(list_transform(range(st, en),
       |      p -> ${hexByteSql("p")})) // (en - st) AS BIGINT) AS luma
       |FROM b""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q209_media_phash_neardup" -> q209OracleSql,
    "q213_audio_stats" -> q213OracleSql,
    "q214_luma_resize" -> q214OracleSql,
    "q215_audio_phash_neardup" -> q215OracleSql,
    "q216_audio_resample" -> q216OracleSql,
    "q217_video_phash_neardup" -> q217OracleSql,

    "q44_props_struct" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS k_sum,
        |  round(avg(k), 6) AS k_avg,
        |  min(k) AS k_min, max(k) AS k_max
        |FROM (SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k FROM events)
        |GROUP BY event_type""".stripMargin,

    "q51_crossmodal_neighbors" ->
      s"""SELECT t.q_id, t.neighbor_id, t.cosine,
         |  dq.lang AS q_lang, dn.lang AS n_lang,
         |  (dq.lang = dn.lang) AS same_lang
         |FROM (${Similarity.oracles("q39_ann_buckets")}) t
         |JOIN documents dq ON dq.doc_id = t.q_id
         |JOIN documents dn ON dn.doc_id = t.neighbor_id
         |WHERE t.rn = 1""".stripMargin,

    "q63_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(n_chars * 40 AS BIGINT) AS duration_ms,
        |    CAST(24 + doc_id % 6 AS BIGINT) AS fps
        |  FROM documents)
        |SELECT doc_id, duration_ms, fps,
        |  CAST(s2 * 2000 AS BIGINT) AS ts_ms,
        |  CAST(s2 * 2 * fps AS BIGINT) AS frame_idx
        |FROM (
        |  SELECT doc_id, duration_ms, fps,
        |    unnest(range(0, (duration_ms - 1) // 2000 + 1)) AS s2
        |  FROM m WHERE duration_ms > 0)""".stripMargin,

    // sha256/hex run on the SAME UTF-8 bytes on both sides (DuckDB's
    // sha256 has no BLOB overload, so it hashes the varchar directly).
    "q48_binary_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text)) AS n_bytes,
        |  sha256(text) AS fingerprint,
        |  substring(hex(encode(text)), 1, 8) AS magic
        |FROM documents""".stripMargin,

    "q155_media_shards" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_bytes,
         |    sum(n_bytes) OVER (ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM b)
         |SELECT CAST(floor((cum - 1) / $MediaShardBytes) AS BIGINT)
         |    AS shard,
         |  count(*) AS n_items,
         |  CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
         |  min(doc_id) AS first_id, max(doc_id) AS last_id
         |FROM c GROUP BY 1""".stripMargin
  )
}
