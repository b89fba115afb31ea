package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal columns for a training-data pipeline: media as opaque BINARY
  * plus a typed metadata struct, with decode / feature-extract / resize /
  * frame-sample stages.
  *
  * The image/audio codec libraries are not in this container, so the decode
  * kernels are STUBS — `byteHistogram` below is a deterministic stand-in
  * for "decode then embed" — but everything Spark-side is real and tested:
  * the (id, media BINARY, meta STRUCT) schema, the per-partition batched
  * processing shape (mapPartitions over an iterator, exactly where a JNI
  * codec or ONNX session would be opened once per partition and amortized),
  * and the downstream feature schema (ARRAY<DOUBLE> compatible with
  * graft.ops.VectorOps similarity search).
  *
  * At 100 TB the media table is the heavy one: features are computed in one
  * narrow mapPartitions pass (no shuffle), and only the (id, feature) pairs
  * — a ~1000x reduction — flow into joins downstream.
  */
object MultimodalOps {

  val FEATURE_DIM = 16

  case class MediaRow(media_id: Long, media: Array[Byte], kind: String,
      width: Int, height: Int, duration_ms: Long)
  case class FeatureRow(media_id: Long, n_bytes: Int, feature: Array[Double])

  /** Deterministic synthetic media table derived from documents: the text
    * bytes stand in for an encoded image/audio payload, metadata derived
    * from doc properties. Replace with `spark.read.format("binaryFile")`
    * over an object store at production scale. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("media"),
      struct(
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("kind"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"),
        (col("n_chars") * 33L).as("duration_ms")).as("meta"))

  /** STUB decode+embed kernel: a 16-bin byte histogram, L1-normalized.
    * Deterministic, pure, and shaped exactly like a real embedding UDF —
    * swap the body for a codec + model call in production. */
  def byteHistogram(bytes: Array[Byte]): Array[Double] = {
    val h = new Array[Double](FEATURE_DIM)
    var i = 0
    while (i < bytes.length) { h((bytes(i) & 0xff) % FEATURE_DIM) += 1.0; i += 1 }
    if (bytes.length > 0) { var j = 0; while (j < FEATURE_DIM) { h(j) /= bytes.length; j += 1 } }
    h
  }

  /** Feature extraction as a per-partition batched pass (the mapPartitions
    * shape lets heavyweight decoder state be opened once per partition). */
  def extractFeatures(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select(col("media_id"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // production: open codec/model session here, once per partition
        it.map { case (id, bytes) => FeatureRow(id, bytes.length, byteHistogram(bytes)) }
      }
      .toDF()
  }

  /** STUB resize: truncate/pad the payload to `n` bytes (stands in for an
    * image resize that bounds per-row cost before decode). */
  def resizeStub(media: DataFrame, n: Int): DataFrame =
    media.withColumn("media",
      substring(col("media"), 1, n))

  /** STUB frame sampling: every stride-th 16-byte block as one "frame" —
    * the row-explosion plumbing (media_id, frame_no, frame) of a real video
    * frame sampler. */
  def frameSample(media: DataFrame, frameBytes: Int = 16, stride: Int = 4): DataFrame =
    media.select(col("media_id"),
      posexplode(filter(
        transform(
          sequence(lit(0),
            (length(col("media")).cast("int") / lit(frameBytes * stride)).cast("int")),
          i => substring(col("media"), (i * frameBytes * stride + 1).cast("int"), lit(frameBytes))),
        f => length(f) === frameBytes)).as(Seq("frame_no", "frame")))

  /** [no-oracle] declared query: metadata + stub features per media row,
    * exploded to scalar (media_id, n_bytes, bin, value) rows — declared
    * outputs never contain array cells (driver-comparator constraint).
    * Invariants (tests): histogram sums to ~1, n_bytes = n_chars. */
  def q_multimodal_features(s: SparkSession, d: String): DataFrame =
    extractFeatures(mediaTable(s, d))
      .select(col("media_id"), col("n_bytes"),
        posexplode(transform(col("feature"), x => round(x, 6))).as(Seq("bin", "value")))
      .orderBy("media_id", "bin")

  /** Deterministic per-media PCM samples: splitmix64 over (media_id, i) —
    * a pure function, no RNG object, so the synthetic audio table is
    * identical on any partitioning (the same determinism contract as
    * GraphGen). Sample count varies with the id so decode handles ragged
    * payload sizes. */
  private[graft] def synthSamples(id: Long, n: Int): Array[Short] = {
    val out = new Array[Short](n)
    var i = 0
    while (i < n) {
      var z = id * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      out(i) = (z & 0xFFFFL).toShort
      i += 1
    }
    out
  }

  case class AudioRow(media_id: Long, media: Array[Byte])
  case class AudioStats(media_id: Long, sample_rate: Int, n_channels: Int,
      n_samples: Long, rms: Double, peak: Double)

  /** Synthetic audio lake: one REAL PCM16 WAV payload per document id,
    * written by [[WavCodec.encodePcm16]] in a per-partition batched pass —
    * the `binaryFile`-scan stand-in, same shape as [[mediaTable]] but with
    * payloads an actual codec can decode. Mono, 8 kHz, 64–191 samples
    * (id-dependent length). */
  def audioTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          AudioRow(id, WavCodec.encodePcm16(
            synthSamples(id, 64 + (id % 128).toInt), 8000, 1))
        }
      }
      .toDF()
  }

  /** [no-oracle] Real audio decode end-to-end: the synthetic WAV lake runs
    * through [[WavCodec.decode]] — an actual RIFF/PCM parser, not a stub —
    * in one narrow mapPartitions pass (the once-per-partition spot where a
    * production decoder session would open), emitting per-media audio
    * stats: sample rate, channel count, frame count, RMS and peak of the
    * normalized signal. Rows that fail to parse are dropped (quarantine
    * semantics); on this table every row parses (invariant-tested, plus a
    * hand-built byte-level fixture in MultimodalSpec pinning exact sample
    * round-trips). Scale stance: decode is map-only — no shuffle until the
    * display sort; only the K-byte stats rows leave the scan. */
  def q_multimodal_audio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    audioTable(s, d).as[AudioRow]
      .mapPartitions { it =>
        it.flatMap { r =>
          WavCodec.decode(r.media).map { w =>
            var sum2 = 0.0
            var peak = 0.0
            var i = 0
            while (i < w.samples.length) {
              val x = w.samples(i) / 32768.0
              sum2 += x * x
              if (math.abs(x) > peak) peak = math.abs(x)
              i += 1
            }
            val n = math.max(w.samples.length, 1)
            AudioStats(r.media_id, w.sampleRate, w.channels,
              w.samples.length / w.channels,
              math.rint(math.sqrt(sum2 / n) * 1e6) / 1e6,
              math.rint(peak * 1e6) / 1e6)
          }
        }
      }
      .toDF()
      .orderBy("media_id")
      .limit(5000)
  }

  /** Deterministic per-media 0xRRGGBB pixels — same splitmix64 derivation
    * as [[synthSamples]], masked to 24 bits. */
  private[graft] def synthPixels(id: Long, n: Int): Array[Int] = {
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      var z = id * 0x9E3779B97F4A7C15L + (i + 7919) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^= z >>> 31
      out(i) = (z & 0xFFFFFFL).toInt
      i += 1
    }
    out
  }

  case class ImageRow(media_id: Long, media: Array[Byte])
  case class ImageStats(media_id: Long, width: Int, height: Int,
      n_pixels: Long, mean_r: Double, mean_g: Double, mean_b: Double)

  /** Synthetic image lake: one REAL 24-bit BMP payload per document id
    * ([[BmpCodec.encodeBmp24]], id-dependent dims 8–23 × 8–15), built in a
    * per-partition batched pass — the image counterpart of [[audioTable]]. */
  def imageTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val w = 8 + (id % 16).toInt
          val h = 8 + (id % 8).toInt
          ImageRow(id, BmpCodec.encodeBmp24(w, h, synthPixels(id, w * h)))
        }
      }
      .toDF()
  }

  /** [no-oracle] Real image decode end-to-end: the synthetic BMP lake runs
    * through [[BmpCodec.decode]] — an actual BITMAPINFOHEADER/BI_RGB
    * parser, bottom-up row order and 4-byte stride padding included — in
    * one narrow mapPartitions pass, emitting per-media dimensions and
    * exact per-channel means (integer channel sums / pixel count — one
    * deterministic double op sequence). Unparseable rows are dropped
    * (quarantine); on this table every row parses (invariant-tested, plus
    * hand-built fixtures in MultimodalSpec pinning exact pixel round-trips
    * through padding and row order). Map-only until the display sort. */
  def q_multimodal_image(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    imageTable(s, d).as[ImageRow]
      .mapPartitions { it =>
        it.flatMap { r =>
          BmpCodec.decode(r.media).map { img =>
            var sr = 0L; var sg = 0L; var sb = 0L
            var i = 0
            while (i < img.pixels.length) {
              val p = img.pixels(i)
              sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
              i += 1
            }
            val n = math.max(img.pixels.length, 1)
            def mean(s0: Long) = math.rint(s0 * 1e6 / n) / 1e6
            ImageStats(r.media_id, img.width, img.height, img.pixels.length,
              mean(sr), mean(sg), mean(sb))
          }
        }
      }
      .toDF()
      .orderBy("media_id")
      .limit(5000)
  }

  case class VideoRow(media_id: Long, media: Array[Byte])
  case class VideoStats(media_id: Long, width: Int, height: Int,
      n_frames: Long, n_sampled: Long, avg_frame_bytes: Double,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Family-keyed frame dims: a re-mux never changes pixel geometry, so
    * dims derive from the FAMILY, not the id. Width is forced ODD so the
    * DIB row stride carries 1-3 padding bytes — the byte-layout slack
    * that makes "pixel-identical, byte-different" re-encodes real. */
  private[graft] def videoDims(fam: Long): (Int, Int) =
    (17 + 2 * (fam % 8).toInt, 12 + (fam % 8).toInt)

  /** Deterministic frame PIXELS for frame `frame` of family `fam` —
    * the content a family's re-muxed copies share. */
  private[graft] def synthFramePixels(fam: Long, frame: Int, n: Int): Array[Int] =
    synthPixels(fam * 1009L + frame, n)

  /** One synthetic AVI: REAL container ([[AviCodec.encodeAvi]]) holding
    * REAL uncompressed 24-bit DIB frames whose pixels are family-keyed
    * while the row-padding garbage is ID-keyed — so family members carry
    * pixel-identical but byte-DIFFERENT frame payloads (the re-encode
    * shape that defeats raw-byte fingerprinting). Frame counts stay
    * id-dependent (4-11). */
  private[graft] def synthVideoRow(id: Long): VideoRow = {
    val fam = videoFamilyKey(id)
    val (w, h) = videoDims(fam)
    val nf = 4 + (id % 8).toInt
    VideoRow(id, AviCodec.encodeAvi(w, h,
      (0 until nf).map(f =>
        AviCodec.encodeDibFrame(w, h, synthFramePixels(fam, f, w * h),
          padSeed = id)),
      codec = AviCodec.DIB))
  }

  /** Media sharing a family key carry the SAME frame stream (re-muxed
    * copies: identical frames, different container metadata/frame counts)
    * — the structure [[q_multimodal_frame_dedup]] exists to find.
    * Consecutive-id groups of ~10, so family size is CORPUS-SIZE
    * INDEPENDENT: a modulus key would grow families with the table and
    * push every frame hash past the dedup blocking band at larger SFs
    * (the df-band blindness lesson from the text proposers, reproduced
    * here by the sf0.1 gate before this fix). */
  private[graft] def videoFamilyKey(id: Long): Long = id / 10

  /** Synthetic video lake: one REAL AVI container per document id with
    * REAL 24-bit DIB frame payloads ([[synthVideoRow]]) — container AND
    * frame codec both actually decode. Ids sharing [[videoFamilyKey]]
    * share frame PIXELS but not frame bytes (id-keyed padding) and not
    * frame counts, modeling the same source video re-encoded under
    * different ids. */
  def videoTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(synthVideoRow))
      .toDF()
  }

  /** 64-bit content fingerprint of one frame: for BI_RGB (DIB) streams
    * the hash runs over the DECODED top-down pixel sequence (dims folded
    * into the seed) — so re-encodes of the same pixels with different
    * byte layout (row padding, bottom-up vs re-padded re-mux) fingerprint
    * identically; for unknown codecs it falls back to the raw payload
    * bytes (still catches byte-identical re-muxes, the honest best
    * available without that codec — MultimodalSpec's non-DIB fixture
    * covers the fallback: re-muxed identical payloads pair, nothing is
    * quarantined). */
  private[graft] def frameFingerprint(v: AviCodec.Avi, f: Array[Byte]): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val pixels =
      if (v.compression == 0) AviCodec.decodeDibFrame(f, v.width, v.height)
      else None
    pixels match {
      case Some(px) =>
        var acc = XXH64.hashInt(v.width, XXH64.hashInt(v.height, 42L))
        var i = 0
        while (i < px.length) { acc = XXH64.hashInt(px(i), acc); i += 1 }
        acc
      case None =>
        XXH64.hashUnsafeBytes(f,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, f.length, 42L)
    }
  }

  /** [no-oracle] Frame-fingerprint video near-dup pairs: a re-muxed or
    * re-encoded copy of a video shares its frame CONTENT even when the
    * payload bytes differ (other fps, other frame count, re-padded rows,
    * extra metadata) — whole-payload hashing ([[q_multimodal_dedup]])
    * misses exactly those. Parse the container, fingerprint every frame's
    * decoded pixels ([[frameFingerprint]]), and pair media sharing ≥ 2
    * identical frames.
    *
    * Scale stance: the pair generator is the rare-shingle blocking shape
    * from TextOps — frame-hash groups with df ∈ [2, 20] (a hot frame
    * shared by millions of videos — black frames, title cards — would
    * otherwise fan out quadratically; a production pipeline treats such
    * frames like stopwords), bounded collect per hash, combinations
    * exploded in-plan, never an all-pairs self-join. Frame bytes never
    * shuffle: only (media_id, hash) pairs leave the parse. */
  def q_multimodal_frame_dedup(s: SparkSession, d: String): DataFrame =
    frameDedupPairs(videoTable(s, d))
      .orderBy("media_a", "media_b")
      .limit(5000)

  /** [no-oracle] The n_shared ≥ 1 EXISTENCE variant of
    * [[q_multimodal_frame_dedup]] — the scale-relevant drop-list shape:
    * skips the per-pair counting stream (at 10M media, the dominant cost
    * of the full query) and emits just the distinct pair set sharing any
    * blocked frame. Contract: ⊇ the full query's pairs projected to
    * (media_a, media_b). */
  def q_multimodal_frame_dedup_exists(s: SparkSession, d: String): DataFrame =
    frameDedupExistencePairs(videoTable(s, d))
      .orderBy("media_a", "media_b")
      .limit(5000)

  /** The blocked candidate-pair stream both dedup variants consume: one
    * exploded (media_a, media_b) row PER SHARED FRAME per pair, from
    * frame-hash groups inside the df ∈ [2, 20] blocking band.
    * Fingerprints are computed INSIDE the parse pass: frame bytes (let
    * alone pixels) never leave the mapPartitions — only 16-byte
    * (media_id, fh) rows enter the shuffle. xxhash64 LONG fingerprints,
    * not md5 strings: the hash is internal (nothing cross-engine reads
    * it), and an 8-byte key vs a 32-char string shrinks every shuffle in
    * the pipeline — measured 368 s → 322 s at 10M media. Collision exposure
    * differs per consumer: the n_shared >= 2 dedup pairs need 2+ collisions
    * onto the SAME media pair (negligible²), but
    * [[frameDedupExistencePairs]]'s n_shared >= 1 drop-list means a SINGLE
    * xxhash64 collision inside a blocking band creates one false dup pair —
    * still ~N_blocked_pairs/2^64 (harmless at any realistic band size;
    * widen the fingerprint if a drop-list consumer can't tolerate it). */
  private def framePairCandidates(videos: DataFrame): DataFrame = {
    val s = videos.sparkSession
    import s.implicits._
    val fdf = videos.as[VideoRow]
      .mapPartitions { it =>
        it.flatMap { r =>
          AviCodec.decode(r.media).toSeq.flatMap(v =>
            v.frames.map(f => (r.media_id, frameFingerprint(v, f))))
        }
      }
      .toDF("media_id", "fh").distinct()
    val shared = fdf.groupBy("fh").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 20))
      .select("fh")
    // shuffled-hash (the rareShinglePairRows lesson): skips the per-side
    // sort of the (media, fh) relation; build = the blocked fh key set
    fdf.join(shared.hint("shuffle_hash"), Seq("fh"))
      .groupBy("fh")
      .agg(sort_array(collect_set(col("media_id"))).as("ms"))
      .select(explode(
        flatten(transform(col("ms"), (a, i) =>
          transform(slice(col("ms"), i + lit(2), size(col("ms"))),
            b => struct(a.as("media_a"), b.as("media_b")))))).as("p"))
      .select(col("p.media_a").as("media_a"), col("p.media_b").as("media_b"))
  }

  /** The UNCAPPED frame-dedup pair pipeline over any (media_id, media
    * BINARY-of-AVI) frame — what a drop-list consumer or a scale run uses;
    * [[q_multimodal_frame_dedup]] adds only the display sort + limit. */
  private[graft] def frameDedupPairs(videos: DataFrame): DataFrame =
    framePairCandidates(videos)
      .groupBy("media_a", "media_b")
      .agg(count(lit(1)).as("n_shared_frames"))
      .filter(col("n_shared_frames") >= 2)

  /** The EXISTENCE pairs (n_shared ≥ 1, no count column): same blocked
    * candidate stream, finished with a map-side-collapsing distinct
    * instead of the per-pair counting aggregation — the cheap form for a
    * consumer that only asks "do these two share any frame at all".
    * Necessarily a SUPERSET of [[frameDedupPairs]] projected to its key
    * columns (invariant-tested), the difference being exactly the
    * single-shared-frame pairs the ≥ 2 rule treats as coincidence. */
  private[graft] def frameDedupExistencePairs(videos: DataFrame): DataFrame =
    framePairCandidates(videos).distinct()

  /** [no-oracle] Real video decode end-to-end: the synthetic AVI lake
    * runs through [[AviCodec.decode]] — an actual RIFF/AVI walker
    * recovering dimensions and every frame's byte range — then
    * frame-samples every 2nd frame (the pipeline stage container parsing
    * exists for: you sample frames WITHOUT decoding the ones you skip)
    * and DECODES each sampled frame's 24-bit DIB payload
    * ([[AviCodec.decodeDibFrame]]) for exact per-channel pixel means —
    * no stub left in the video path. Rows that fail either the container
    * parse or any sampled frame's pixel decode are dropped (quarantine);
    * on this table every row decodes. Map-only until the display sort;
    * only stats rows leave the scan. */
  def q_multimodal_video(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    videoTable(s, d).as[VideoRow]
      .mapPartitions { it =>
        it.flatMap { r =>
          AviCodec.decode(r.media).filter(_.compression == 0).flatMap { v =>
            val sampled = v.frames.indices.by(2).map(v.frames)
            val decoded = sampled.map(AviCodec.decodeDibFrame(_, v.width, v.height))
            if (decoded.exists(_.isEmpty)) None
            else {
              var sr = 0L; var sg = 0L; var sb = 0L; var n = 0L
              decoded.flatten.foreach { px =>
                var i = 0
                while (i < px.length) {
                  val p = px(i)
                  sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
                  i += 1
                }
                n += px.length
              }
              def mean(s0: Long) = math.rint(s0 * 1e6 / math.max(n, 1L)) / 1e6
              Some(VideoStats(r.media_id, v.width, v.height,
                v.frames.length, sampled.length,
                math.rint(v.frames.map(_.length.toLong).sum * 1e6 /
                  v.frames.length) / 1e6,
                mean(sr), mean(sg), mean(sb)))
            }
          }
        }
      }
      .toDF()
      .orderBy("media_id")
      .limit(5000)
  }

  /** Media-content dedup by payload hash, per modality — the first stage of
    * any media pipeline (the same asset re-crawled under different ids is
    * byte-identical far more often than text is). Hashing the BINARY column
    * never decodes anything, so this runs on the raw lake at full width.
    * Oracle-backed: the synthetic payload is the UTF-8 text bytes, so
    * DuckDB's md5(text) equals Spark's md5(media) — the one multimodal
    * query with an exact cross-engine check.
    *
    * Scale stance: one narrow hash projection + a partial-agg groupBy on a
    * 3-value modality key; the distinct-count shuffles (kind, hash) pairs
    * already collapsed map-side. */
  def q_multimodal_dedup(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .select(col("meta.kind").as("kind"), md5(col("media")).as("h"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_media"),
        countDistinct(col("h")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dups"))
      .orderBy("kind")
}
