package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Typed image-feature row computed from a REAL decoded raster
  * (multimodal column model: binary content + typed metadata). Mean is
  * milli-quantized with floor division so both engines compare integers.
  */
final case class MmFeature(
    doc_id: Long,
    width: Int,
    height: Int,
    n_px: Long,
    px_sum: Long,
    px_min: Int,
    px_max: Int,
    px_mean_milli: Long,
    format: String)

/** Multimodal-column plumbing: treat content as an opaque `binary` column
  * with typed feature extraction over it.
  *
  * The registered queries run REAL in-JDK `javax.imageio` codecs in the
  * typed `Dataset.mapPartitions` pipeline (the Scala analogue of
  * mapInPandas: one iterator per partition, streaming, no driver
  * involvement — the execution shape a codec call needs, since an
  * image/audio library call cannot be a Catalyst expression):
  * `mm_decode_png` (encode→decode round-trip), `mm_features` (decode →
  * raster feature card), `mm_resize_png` (decode → nearest-neighbor
  * resample), `mm_frames_gif` (multi-frame animated GIF via
  * writeToSequence → read(i)), `mm_decode_wav` (audio via
  * `javax.sound.sampled` WAVE). The container has no external media
  * libraries, so payloads are SYNTHESIZED on executors from
  * per-document properties with closed-form pixel patterns; every
  * reported value is read back from actually decoded data, so the
  * DuckDB oracle's closed forms verify that real parsing happened.
  *
  * `mm_frames` is the remaining codec-free demo: one-to-many BYTE-window
  * sums over the raw payload in two value-identical shapes — a codegen'd
  * frame-sum expression (registered) and the [[framesViaCodec]]
  * mapPartitions flatMap (MultimodalParitySpec) — the plan-shape
  * template for frame samplers whose codec this container lacks
  * (video/audio); its real-codec sibling is `mm_frames_gif`.
  */
object MultimodalOps {
  type Q = (SparkSession, String) => DataFrame

  private def payloadCol: Column = col("text").cast("binary")

  /** Feature extraction over a REAL decoded raster — the retired-stub
    * form of mm_features: the per-document pattern PNG
    * ([[PngResize.encodePattern]]'s (3x + 7y + docId) mod 251 gradient)
    * is pushed through the real PNG writer and reader, and every
    * reported feature (dims, pixel count/sum/min/max, milli-quantized
    * mean, band-derived format) is computed from the decoded
    * `BufferedImage`, never from the synthesis inputs — so a corrupted
    * encode, wrong stride, or misread bit depth diverges from the
    * oracle's closed forms. One partition-streaming pass, zero shuffle.
    */
  def rasterFeatures(docId: Long, img: java.awt.image.BufferedImage): MmFeature = {
    val (w, h) = (img.getWidth, img.getHeight)
    val r = img.getRaster
    var sum = 0L
    var min = Int.MaxValue
    var max = Int.MinValue
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = r.getSample(x, y, 0)
        sum += v
        if (v < min) min = v
        if (v > max) max = v
        x += 1
      }
      y += 1
    }
    val nPx = w.toLong * h
    MmFeature(docId, w, h, nPx, sum, min, max, sum * 1000L / nPx,
      r.getNumBands match { case 1 => "gray"; case 3 => "rgb"; case _ => "rgba" })
  }

  private val features: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nChars) =>
        val (w, h, _) = PngCodec.synthDims(id, nChars)
        rasterFeatures(id,
          PngCodec.readImage(id, PngResize.encodePattern(id, w, h)))
      })
      .toDF()
  }

  /** mm_pair_screen thresholds (shared with the oracle): minimum pixel
    * count, max aspect ratio, minimum pixel dynamic range, caption token
    * bounds, and the punctuation-soup cross-multiplication. */
  val MmPairMinPx = 64L
  val MmPairAspectMax = 4
  val MmPairMinRange = 16
  val MmPairMinTok = 5
  val MmPairMaxTok = 80
  val MmPairPunctMul = 5

  /** CROSS-MODAL PAIR SCREEN (LAION-style) — the keep decision for a
    * paired (image, caption) row, the one curation shape the modality ×
    * task matrix still lacked: REALLY-DECODED image features (the
    * [[features]] path — every pixel statistic read back from an
    * encoded→decoded PNG raster) joined per pair to the caption's
    * registered text signals (tx_quality's token/punctuation counts,
    * tx_langid's prediction), folded by an integer-exact precedence
    * rule: resolution floor → aspect bound → dynamic-range floor (flat
    * images carry no signal) → known language → caption length window →
    * punctuation-soup cross-multiplication. Every arm reuses a
    * REGISTERED definition verbatim (engine: the public query entries;
    * oracle: their SQL texts composed as CTEs), so the gate cannot
    * drift from the signals it reads — the pipe_ingest_gate composition
    * discipline applied across modalities.
    *
    * Scale shape: three doc_id-keyed equi joins over per-row computed
    * signal frames — image bytes never shuffle (decoded on the
    * partition iterator, only integer features flow), captions never
    * shuffle (per-row codegen signals). At 100 TB this is one zipped
    * pass over the pair table.
    */
  private val pairScreen: Q = (s, d) => {
    val img = features(s, d).select(col("doc_id"), col("width"),
      col("height"), col("n_px"),
      (col("px_max") - col("px_min")).as("px_range"))
    val cap = TextOps.queries("tx_quality")(s, d)
      .select(col("doc_id"), col("n_tokens"), col("punct_cnt"))
    val lng = TextOps.queries("tx_langid")(s, d)
      .select(col("doc_id"), col("lang_pred"))
    img.join(cap, Seq("doc_id")).join(lng, Seq("doc_id"))
      .withColumn("reason",
        when(col("n_px") < MmPairMinPx, "img_small")
          .when(greatest(col("width"), col("height")) >
            least(col("width"), col("height")) * MmPairAspectMax, "img_aspect")
          .when(col("px_range") < MmPairMinRange, "img_flat")
          .when(col("lang_pred") === "und", "cap_lang")
          .when(col("n_tokens") < MmPairMinTok ||
            col("n_tokens") > MmPairMaxTok, "cap_len")
          .when(col("punct_cnt") * MmPairPunctMul > col("n_tokens"), "cap_punct")
          .otherwise("kept"))
      .select(col("doc_id"), col("n_px"), col("px_range"), col("lang_pred"),
        col("n_tokens"), col("punct_cnt"),
        (col("reason") === "kept").as("keep"), col("reason"))
  }

  /** One frame-sample row (video/audio frame-extraction shape). */
  final case class MmFrame(doc_id: Long, frame_idx: Int, frame_bytes: Int, byte_sum: Long)

  /** STUB frame sampler: payload → up to 8 pseudo-frames of 256 bytes with
    * per-frame byte sums — the one-to-many (flatMap) decode shape a real
    * video frame-sampler has, with deterministic stub features.
    */
  def sampleFrames(docId: Long, payload: Array[Byte]): Iterator[MmFrame] = {
    val n = payload.length
    val nFrames = math.min(8, (n + 255) / 256)
    (0 until nFrames).iterator.map { f =>
      val start = f * 256
      val end = math.min(n, start + 256)
      var sum = 0L
      var i = start
      while (i < end) { sum += payload(i) & 0xff; i += 1 }
      MmFrame(docId, f, end - start, sum)
    }
  }

  /** Stub frames via one codegen'd frame-sum expression + posexplode —
    * value-identical to [[sampleFrames]] (MultimodalParitySpec). */
  private val frames: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), octet_length(payloadCol).as("nb"),
        posexplode(graft.functions.GraftFunctions.frame_byte_sums(payloadCol))
          .as(Seq("frame_idx", "byte_sum")))
      .select(col("doc_id"), col("frame_idx"),
        least(col("nb") - col("frame_idx") * 256, lit(256)).as("frame_bytes"),
        col("byte_sum"))

  /** Binary payloads → per-partition frame sampling (flatMap; the
    * real-codec execution shape).
    */
  def framesViaCodec(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), payloadCol.as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) => sampleFrames(id, bytes) })
      .toDF()
  }

  /** Decoded-PNG feature row: dimensions + gray-pixel sum, all read back
    * from REAL decoded image data.
    */
  final case class MmPng(doc_id: Long, width: Int, height: Int, px_sum: Long)

  /** One REAL codec in the family (no stub): `javax.imageio`'s PNG
    * reader/writer — in-JDK, pure Java, headless-safe. The container has
    * no external image libraries, so the PNG payloads are SYNTHESIZED on
    * the executors from per-document properties (closed-form dims and
    * gray level), then round-tripped through the real encoder and the
    * real decoder; the registered query returns only DECODED values
    * (header dims + raster pixel sum), so the DuckDB oracle's closed
    * forms verify that actual PNG parsing happened — a corrupted encode,
    * a wrong stride, or a misread bit depth all diverge from the oracle.
    * Runs in the same `mapPartitions` shape [[framesViaCodec]]
    * documents as the real-codec execution plan.
    */
  object PngCodec extends Serializable {
    /** In-memory ImageIO (no temp-file cache churn on executors). */
    @transient private lazy val init: Unit = javax.imageio.ImageIO.setUseCache(false)

    def synthDims(docId: Long, nChars: Long): (Int, Int, Int) =
      (1 + (docId % 31).toInt, 1 + (nChars % 29).toInt, (docId % 251).toInt)

    def encode(w: Int, h: Int, gray: Int): Array[Byte] = {
      init
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { r.setSample(x, y, 0, gray); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "png", bos), "no PNG writer")
      bos.toByteArray
    }

    /** Shared raster read: in-memory (init disables ImageIO's disk
      * cache — without it every read churns a /tmp cache file on the
      * hot decode path) + the fail-loudly null check. Every query that
      * decodes an image goes through here. */
    def readImage(docId: Long, bytes: Array[Byte]): java.awt.image.BufferedImage = {
      init
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      require(img != null, s"doc $docId: not a decodable image")
      img
    }

    def decode(docId: Long, png: Array[Byte]): MmPng = {
      val img = readImage(docId, png)
      val (w, h) = (img.getWidth, img.getHeight)
      val r = img.getRaster
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { sum += r.getSample(x, y, 0); x += 1 }
        y += 1
      }
      MmPng(docId, w, h, sum)
    }
  }

  /** Resized-image feature row: target dims + the RESIZED raster's pixel
    * sum, all computed from real decoded-then-resampled image data. */
  final case class MmResized(doc_id: Long, width: Int, height: Int, rpx_sum: Long)

  /** Resize target (fixed thumbnail geometry, the embedding-model
    * preprocessing shape). */
  val ResizeW = 8
  val ResizeH = 8

  object PngResize extends Serializable {
    /** Per-pixel closed form the oracle re-derives: f(x, y) =
      * (3x + 7y + docId) mod 251 — NON-uniform, so a resize that samples
      * the wrong source coordinates (off-by-one stride, transposed axes,
      * wrong rounding) changes the sum and fails the oracle row. */
    def pixel(docId: Long, x: Int, y: Int): Int =
      ((x * 3L + y * 7L + docId) % 251L).toInt

    def encodePattern(docId: Long, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { r.setSample(x, y, 0, pixel(docId, x, y)); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "png", bos), "no PNG writer")
      bos.toByteArray
    }

    /** Explicit nearest-neighbor resample — src(x·w/W, y·h/H) with floor
      * division, spelled the same way in the oracle (`//`). An
      * AffineTransformOp would resize too, but its rounding mode is an
      * implementation detail; the explicit loop IS the spec. */
    def resizeSum(img: java.awt.image.BufferedImage, tw: Int, th: Int): Long = {
      val (w, h) = (img.getWidth, img.getHeight)
      val r = img.getRaster
      var sum = 0L
      var y = 0
      while (y < th) {
        var x = 0
        while (x < tw) {
          sum += r.getSample(x * w / tw, y * h / th, 0)
          x += 1
        }
        y += 1
      }
      sum
    }
  }

  /** Decode → resize, the multimodal preprocessing step after
    * [[decodePng]]'s pure round-trip: synthesize a NON-uniform pattern
    * image, push it through the real PNG writer and reader, then
    * nearest-neighbor resample the decoded raster to a fixed thumbnail
    * and report the resized pixel sum. The oracle recomputes the sum
    * from the pattern's closed form at the sampled coordinates, so a
    * wrong stride/axis/rounding anywhere in encode, decode, or resize
    * diverges. Same zero-shuffle mapPartitions shape as the decode
    * query.
    */
  private val resizePng: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nChars) =>
        val (w, h, _) = PngCodec.synthDims(id, nChars)
        val img = PngCodec.readImage(id, PngResize.encodePattern(id, w, h))
        MmResized(id, ResizeW, ResizeH,
          PngResize.resizeSum(img, ResizeW, ResizeH))
      })
      .toDF()
  }

  /** Synthesize → encode (real PNG writer) → decode (real PNG reader) →
    * typed features, one partition-streaming pass, zero shuffle.
    */
  private val decodePng: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nChars) =>
        val (w, h, gray) = PngCodec.synthDims(id, nChars)
        PngCodec.decode(id, PngCodec.encode(w, h, gray))
      })
      .toDF()
  }

  /** Decoded-WAV feature row: frame count, rate, and unsigned-sample
    * moments, all read back from REAL decoded audio data. */
  final case class MmWav(
      doc_id: Long, n_frames: Long, sample_rate_hz: Int,
      byte_sum: Long, byte_min: Int, byte_max: Int)

  /** The REAL audio codec completing the modality set (image: PNG,
    * multi-frame: GIF, audio: here) — in-JDK `javax.sound.sampled`,
    * headless-safe: per-document PCM samples are synthesized from the
    * closed form (13i + docId) mod 251, written through the real WAVE
    * encoder (RIFF header, fmt/data chunks) and read back through the
    * real parser; the reported values come only from the DECODED stream
    * (format fields, frame length, sample moments), so a malformed
    * header, wrong frame math, or sample-width slip diverges from the
    * oracle. 8-bit mono PCM_UNSIGNED — the one WAV sample layout whose
    * bytes are the samples, keeping the oracle's integer forms exact.
    */
  object WavCodec extends Serializable {
    val SampleRate = 8000f
    /** Frame count from doc properties: 64 + n_chars mod 577 (bounded,
      * co-prime-ish with the pattern period). */
    def synthFrames(nChars: Long): Int = 64 + (nChars % 577).toInt
    def sample(docId: Long, i: Int): Int = ((i * 13L + docId) % 251L).toInt

    /** Samples per silence/voice burst in [[MultimodalOps.silenceSplit]]'s
      * synthesized pattern: 3 analysis windows, so silent and voiced runs
      * span whole windows and both run lengths vary per document. */
    val SplitBurst = 192

    /** The silence-split pattern: burst b of a document is SILENT
      * (constant 128 — centered zero) when (b + docId) mod 3 == 0, else
      * the voiced (13i + docId) mod 251 pattern. */
    def sampleSplit(docId: Long, i: Int): Int =
      if (((i / SplitBurst) + docId) % 3 == 0) 128 else sample(docId, i)

    def encode(docId: Long, n: Int): Array[Byte] =
      encodeWith(docId, n, sample)

    def encodeSplit(docId: Long, n: Int): Array[Byte] =
      encodeWith(docId, n, sampleSplit)

    private def encodeWith(docId: Long, n: Int,
        f: (Long, Int) => Int): Array[Byte] = {
      val data = new Array[Byte](n)
      var i = 0
      while (i < n) { data(i) = f(docId, i).toByte; i += 1 }
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
        SampleRate, 8, 1, 1, SampleRate, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    def decode(docId: Long, wav: Array[Byte]): MmWav = {
      val in = try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new IllegalArgumentException(
            s"doc $docId: not a decodable audio stream", e)
      }
      val f = in.getFormat
      require(f.getSampleSizeInBits == 8 && f.getChannels == 1 &&
        f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
        s"doc $docId: unexpected decoded format $f")
      val bytes = in.readAllBytes()
      var sum = 0L
      var min = 255
      var max = 0
      var i = 0
      while (i < bytes.length) {
        val v = bytes(i) & 0xff
        sum += v
        if (v < min) min = v
        if (v > max) max = v
        i += 1
      }
      MmWav(docId, in.getFrameLength, f.getSampleRate.toInt, sum, min, max)
    }

    /** Encode an arbitrary per-sample pattern through the real WAVE
      * writer — [[AudioFpCodec]]'s entry, like [[GifCodec.encodePattern]]. */
    def encodePattern(docId: Long, n: Int, f: (Long, Int) => Int): Array[Byte] =
      encodeWith(docId, n, f)

    /** Decode to the raw unsigned PCM byte stream (format-checked) — for
      * consumers that need the samples, not just moments. */
    def decodeBytes(docId: Long, wav: Array[Byte]): Array[Byte] = {
      val in = try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new IllegalArgumentException(
            s"doc $docId: not a decodable audio stream", e)
      }
      val f = in.getFormat
      require(f.getSampleSizeInBits == 8 && f.getChannels == 1 &&
        f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
        s"doc $docId: unexpected decoded format $f")
      in.readAllBytes()
    }
  }

  /** Per-document audio fingerprint computed from REAL decoded PCM (the
    * d20_audio_neardup row). */
  final case class DocAudioFp(doc_id: Long, afp: Long)

  /** Audio fingerprint codec for `d20_audio_neardup` — the dedup × AUDIO
    * cell, the PhashCodec discipline lifted to sound: GROUPED synthetic
    * recordings (four variants per group; variant v > 0 boosts every
    * sample of exactly ONE analysis frame, 13v, by +40 — the one-cell
    * perturbation that flips ≤ 2 envelope bits, while groups differ
    * broadly via the nonlinear frame×offset mixing term, the d13
    * lesson), written through the real WAVE encoder and read back
    * through the real parser; the fingerprint is a 56-bit TEMPORAL
    * ENERGY dHash over the DECODED stream: 57 frame-energy sums (32
    * samples each, integer-exact), bit b set iff energy(b+1) >
    * energy(b) — the energy-envelope shape, amplitude-offset-robust the
    * way image dHash is brightness-robust. Every fingerprinted value is
    * really decoded — a frame-math or sample-width slip diverges from
    * the closed-form oracle. */
  object AudioFpCodec extends Serializable {
    val Frames = 57
    val Win = 32
    def groupOf(docId: Long): Long = docId / 4
    def variantOf(docId: Long): Int = (docId % 4).toInt
    /** Base < 200 so the +40 variant boost stays a byte. */
    def sample(docId: Long, i: Int): Int = {
      val g = groupOf(docId)
      val v = variantOf(docId)
      val f = i / Win
      val o = i % Win
      val base = ((o * 13L + f * 29L + g * 31L +
        f.toLong * o * (3 + g % 7)) % 200L).toInt
      if (v > 0 && f == 13 * v) base + 40 else base
    }

    /** 56-bit temporal-energy dHash from really decoded PCM. */
    def fp56(bytes: Array[Byte]): Long = {
      val e = new Array[Long](Frames)
      var f = 0
      while (f < Frames) {
        var s = 0L
        var o = 0
        while (o < Win) { s += (bytes(f * Win + o) & 0xff).toLong; o += 1 }
        e(f) = s
        f += 1
      }
      var h = 0L
      var b = 0
      while (b < Frames - 1) {
        if (e(b + 1) > e(b)) h |= 1L << b
        b += 1
      }
      h
    }

    /** Synthesize → real WAVE encode → real decode → fingerprint. */
    def fpOf(docId: Long): Long = {
      val n = Frames * Win
      fp56(WavCodec.decodeBytes(docId,
        WavCodec.encodePattern(docId, n, sample)))
    }
  }

  /** Synthesize → encode (real WAVE writer) → decode (real WAVE parser)
    * → typed features; the audio member of the decode family, same
    * partition-streaming shape. */
  private val decodeWav: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, nChars) =>
        WavCodec.decode(id, WavCodec.encode(id, WavCodec.synthFrames(nChars)))
      })
      .toDF()
  }

  /** One analysis window of decoded PCM: sample count, INTEGER energy
    * (sum of squared centered samples — the RMS numerator, kept as the
    * exact integer instead of its float square root) and zero-crossing
    * count (centered sign flips between consecutive in-window samples).
    */
  final case class MmWavWindow(
      doc_id: Long, win_idx: Int, n_samples: Int,
      energy_sq: Long, zero_cross: Int)

  /** Samples per [[wavFeatures]] analysis window (8 ms at 8 kHz — the
    * usual short-time frame order of magnitude, sized so every test doc
    * spans several windows). */
  val WavWindow = 64

  /** Windowed audio features over REALLY DECODED PCM — the per-window
    * analysis step a pipeline runs after [[decodeWav]] proves the codec
    * (the image family's decode → features pair, for audio): per
    * non-overlapping [[WavWindow]]-sample window, RMS energy numerator
    * Σ(v−128)² and zero-crossing count #{i : (vᵢ−128)·(vᵢ₊₁−128) < 0,
    * both in-window} over the unsigned 8-bit samples. Both are EXACT
    * integers on 8-bit PCM (energy ≤ 64·128² per window — the oracle's
    * closed forms compare values, not float tolerances); the float RMS
    * is sqrt(energy_sq/n), derivable downstream. One partition-streaming
    * mapPartitions flatMap (one-to-many: doc → windows), zero shuffle —
    * at 100 TB audio scale this is a map-only pass whose output is
    * ~n/64 the input rows.
    */
  private val wavFeatures: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nChars) =>
        val wav = WavCodec.encode(id, WavCodec.synthFrames(nChars))
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(wav))
        val bytes = in.readAllBytes() // decoded 8-bit unsigned PCM
        val n = bytes.length
        (0 until (n + WavWindow - 1) / WavWindow).iterator.map { wi =>
          val start = wi * WavWindow
          val end = math.min(n, start + WavWindow)
          var energy = 0L
          var zc = 0
          var i = start
          while (i < end) {
            val c = (bytes(i) & 0xff) - 128
            energy += c.toLong * c
            if (i + 1 < end) {
              val c2 = (bytes(i + 1) & 0xff) - 128
              if (c * c2 < 0) zc += 1
            }
            i += 1
          }
          MmWavWindow(id, wi, end - start, energy, zc)
        }
      })
      .toDF()
  }

  /** One silence/voice segment of decoded audio (a maximal run of
    * equally-classified analysis windows). */
  final case class MmWavSegment(
      doc_id: Long, seg_idx: Int, is_silence: Boolean,
      start_win: Int, n_windows: Int, n_samples: Long, energy_sq: Long)

  /** Window energy below this is "silence". The synthesized silent bursts
    * are exactly centered (energy 0) and voiced windows carry ~64·2000+,
    * so any threshold in between classifies identically on both engines;
    * 64 (avg squared amplitude 1 per sample) is the defensible knob. */
  val SilenceThresh = 64L

  /** Silence-based audio segmentation (the VAD-style chunking a speech
    * pipeline runs before transcription/embedding): decode REAL WAVE
    * audio whose synthesized pattern interleaves silent and voiced bursts
    * ([[WavCodec.sampleSplit]]), classify each [[WavWindow]]-sample
    * window by integer energy against [[SilenceThresh]], and group
    * CONTIGUOUS equally-classified windows into segments (start, length,
    * sample count, total energy). Segmentation is per-document local —
    * one partition-streaming flatMap, ZERO shuffle, output ~segments per
    * doc — so at 100 TB of audio it stays a map-only pass; the oracle
    * reproduces the windows from the closed form and re-derives the runs
    * with a gaps-and-islands window chain, so a wrong run boundary,
    * window membership, or energy sum diverges.
    */
  private val silenceSplit: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nChars) =>
        val wav = WavCodec.encodeSplit(id, WavCodec.synthFrames(nChars))
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(wav))
        val bytes = in.readAllBytes() // decoded 8-bit unsigned PCM
        val n = bytes.length
        val nWin = (n + WavWindow - 1) / WavWindow
        // Per-window (n_samples, energy) from the DECODED stream.
        val wins = Array.tabulate(nWin) { wi =>
          val start = wi * WavWindow
          val end = math.min(n, start + WavWindow)
          var energy = 0L
          var i = start
          while (i < end) {
            val c = (bytes(i) & 0xff) - 128
            energy += c.toLong * c
            i += 1
          }
          (end - start, energy)
        }
        // Maximal runs of equal silence classification, streamed in
        // window order (local per doc — no shuffle anywhere).
        val segs = scala.collection.mutable.ArrayBuffer.empty[MmWavSegment]
        var wi = 0
        while (wi < nWin) {
          val silent = wins(wi)._2 < SilenceThresh
          val start = wi
          var samples = 0L
          var energy = 0L
          while (wi < nWin && (wins(wi)._2 < SilenceThresh) == silent) {
            samples += wins(wi)._1
            energy += wins(wi)._2
            wi += 1
          }
          segs += MmWavSegment(id, segs.length, silent, start, wi - start,
            samples, energy)
        }
        segs.iterator
      })
      .toDF()
  }

  /** One consecutive-frame comparison of a decoded GIF sequence. */
  final case class MmSceneDiff(
      doc_id: Long, frame_idx: Int, width: Int, height: Int,
      diff_sum: Long, is_cut: Boolean)

  /** Scene-change detection over a REALLY decoded multi-frame GIF (the
    * video analogue of [[silenceSplit]] — the frame-sampling pass a
    * multimodal pipeline runs to pick one keyframe per shot): frames are
    * synthesized in SCENES of two ([[GifCodec.scenePixel]] keys the
    * pattern by f/2), encoded through the real GIF sequence writer, read
    * back frame-by-frame, and every consecutive pair is compared by the
    * integer sum of absolute per-pixel differences — within a scene the
    * decoded rasters must be identical (diff 0), across a cut they
    * differ at every pixel. Per-document local, one flatMap, zero
    * shuffle; the oracle re-derives each pair's diff from the pattern's
    * closed form, so a frame-index slip, palette corruption, or stride
    * bug shows up as a nonzero within-scene diff.
    */
  private val sceneDetect: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nChars) =>
        val (w, h, nf) = GifCodec.synth(id, nChars)
        val rasters = GifCodec.decodeRasters(id,
          GifCodec.encodeScenes(id, w, h, nf))
        (1 until rasters.length).iterator.map { f =>
          val (prev, cur) = (rasters(f - 1), rasters(f))
          var diff = 0L
          var i = 0
          while (i < cur.length) {
            diff += math.abs(cur(i) - prev(i)); i += 1
          }
          MmSceneDiff(id, f, w, h, diff, diff > 0L)
        }
      })
      .toDF()
  }

  /** Per-document perceptual hash computed from a REAL decoded raster
    * (the d13_phash_neardup row). */
  final case class DocPhash(doc_id: Long, phash: Long)

  /** Perceptual-hash codec for `d13_phash_neardup` — the dedup ×
    * multimodal cell: synthesizes GROUPED pattern PNGs (four variants
    * per group; variant v > 0 brightens exactly ONE source pixel, the
    * one resample cell (2v, 3) samples, so within-group hashes differ in
    * ≤ 2 bits while groups differ broadly), pushes them through the real
    * PNG writer and reader, and computes a 56-bit DIFFERENCE hash
    * (dHash) from the DECODED raster: nearest-neighbor-sample an 8×8
    * grid at the [[PngResize]] floor-division coordinates, set bit
    * cy·7+cx iff sample(cx+1, cy) > sample(cx, cy). 56 bits (7
    * comparisons × 8 rows) keeps the packed hash sign-free in both
    * engines' BIGINTs. Every hashed value is read back from really
    * decoded bytes — a wrong stride, bit depth, or sample coordinate
    * diverges from the closed-form oracle.
    */
  object PhashCodec extends Serializable {
    val Grid = 8
    def groupOf(docId: Long): Long = docId / 4
    def variantOf(docId: Long): Int = (docId % 4).toInt
    /** Group-level dims ≥ 2× the sample grid so the 8 floor-division
      * sample coordinates are distinct source pixels. */
    def widthOf(g: Long): Int = 16 + (g % 17).toInt
    def heightOf(g: Long): Int = 16 + (g % 13).toInt

    /** Base texture < 120; the one perturbed source pixel gets +100
      * (≤ 219, still a byte). The x·y·(3 + g mod 7) mixing term is
      * load-bearing: a pure linear gradient gives near-identical dHash
      * bit patterns ACROSS groups (mostly-monotone rows), measured as
      * ~47k spurious cross-group pairs at 5k docs vs ~70 with the
      * mixing term — without it the operator's output would be
      * dominated by pattern-family artifacts instead of the planted
      * near-dups. */
    def pixel(docId: Long, x: Int, y: Int): Int = {
      val g = groupOf(docId)
      val v = variantOf(docId)
      val w = widthOf(g)
      val h = heightOf(g)
      val base =
        ((x * 5L + y * 11L + g * 7L + x.toLong * y * (3 + g % 7)) % 120L).toInt
      if (v > 0 && x == 2 * v * w / Grid && y == 3 * h / Grid) base + 100
      else base
    }

    def encode(docId: Long): Array[Byte] = {
      val g = groupOf(docId)
      val (w, h) = (widthOf(g), heightOf(g))
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val r = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { r.setSample(x, y, 0, pixel(docId, x, y)); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      require(javax.imageio.ImageIO.write(img, "png", bos), "no PNG writer")
      bos.toByteArray
    }

    /** 56-bit dHash from a real decoded raster. */
    def dhash56(img: java.awt.image.BufferedImage): Long = {
      val (w, h) = (img.getWidth, img.getHeight)
      val r = img.getRaster
      val s = Array.ofDim[Int](Grid, Grid)
      var cy = 0
      while (cy < Grid) {
        var cx = 0
        while (cx < Grid) {
          s(cy)(cx) = r.getSample(cx * w / Grid, cy * h / Grid, 0)
          cx += 1
        }
        cy += 1
      }
      var hash = 0L
      cy = 0
      while (cy < Grid) {
        var cx = 0
        while (cx < Grid - 1) {
          if (s(cy)(cx + 1) > s(cy)(cx)) hash |= 1L << (cy * 7 + cx)
          cx += 1
        }
        cy += 1
      }
      hash
    }

    /** Synthesize → real PNG encode → real decode → dHash. */
    def phashOf(docId: Long): Long =
      dhash56(PngCodec.readImage(docId, encode(docId)))
  }

  /** One decoded GIF frame: per-frame dims + raster pixel sum, all read
    * back from REAL decoded multi-frame image data. */
  final case class MmGifFrame(
      doc_id: Long, frame_idx: Int, width: Int, height: Int, px_sum: Long)

  /** The REAL multi-frame codec — what [[sampleFrames]] stubs, done for
    * actual animated GIF via in-JDK `javax.imageio`: frames are written
    * into ONE GIF stream with `ImageWriter.writeToSequence` and read
    * back frame-by-frame with `ImageReader.read(i)` — the per-frame
    * random access a video frame-sampler has. Each frame carries the
    * non-uniform pattern (3x + 7y + 11·frame + docId) mod 251 (the
    * PngResize discipline with a frame term), which stays lossless
    * through GIF's palette (≤251 distinct grays ≤ 256 palette slots), so
    * the closed-form oracle catches a wrong frame count, a misread
    * frame index, transposed axes, or a palette-index-vs-color mixup
    * (pixels are read via getRGB, not raw raster samples, exactly
    * because a decoded GIF raster holds palette INDICES).
    */
  object GifCodec extends Serializable {
    @transient private lazy val init: Unit = javax.imageio.ImageIO.setUseCache(false)

    /** Explicit 256-entry grayscale palette: the JDK GIF writer QUANTIZES
      * a TYPE_BYTE_GRAY image with many distinct levels to its default
      * palette (measured: ~10% of fixture frames came back changed), but
      * stores a TYPE_BYTE_INDEXED image's own ≤256-color table verbatim —
      * so indexed-with-identity-gray-palette is the lossless encoding,
      * and pixel sample == palette index == gray level. */
    @transient private lazy val grayPalette: java.awt.image.IndexColorModel = {
      val g = Array.tabulate(256)(_.toByte)
      new java.awt.image.IndexColorModel(8, 256, g, g, g)
    }

    /** Closed-form per-doc geometry: dims like [[PngCodec.synthDims]],
      * 1-5 frames. */
    def synth(docId: Long, nChars: Long): (Int, Int, Int) =
      (1 + (docId % 31).toInt, 1 + (nChars % 29).toInt, 1 + (docId % 5).toInt)

    def pixel(docId: Long, f: Int, x: Int, y: Int): Int =
      ((x * 3L + y * 7L + f * 11L + docId) % 251L).toInt

    /** The scene-detect pattern: frames come in SCENES of two (keyed by
      * f/2), so consecutive same-scene frames are pixel-identical and a
      * scene boundary changes every pixel (+17 mod 251 ≠ 0). */
    def scenePixel(docId: Long, f: Int, x: Int, y: Int): Int =
      ((x * 3L + y * 7L + (f / 2) * 17L + docId) % 251L).toInt

    def encode(docId: Long, w: Int, h: Int, nFrames: Int): Array[Byte] =
      encodeWith(docId, w, h, nFrames, pixel)

    def encodeScenes(docId: Long, w: Int, h: Int, nFrames: Int): Array[Byte] =
      encodeWith(docId, w, h, nFrames, scenePixel)

    /** Sequence-encode an arbitrary per-frame pattern (same lossless
      * indexed-palette, non-progressive pipeline) — [[KeyframeCodec]]'s
      * entry into the real GIF writer. */
    def encodePattern(docId: Long, w: Int, h: Int, nFrames: Int,
        px: (Long, Int, Int, Int) => Int): Array[Byte] =
      encodeWith(docId, w, h, nFrames, px)

    private def encodeWith(docId: Long, w: Int, h: Int, nFrames: Int,
        px: (Long, Int, Int, Int) => Int): Array[Byte] = {
      init
      val writers = javax.imageio.ImageIO.getImageWritersByFormatName("gif")
      require(writers.hasNext, "no GIF writer in this JDK")
      val writer = writers.next()
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      // The JDK GIF writer INTERLACES by default (MODE_DEFAULT), and the
      // interlaced round-trip corrupts frames shorter than the 8-row
      // interlace stride (measured: h ∈ {2,3,4} frames came back with
      // their last rows zeroed). Non-progressive output is bit-faithful.
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        val r = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { r.setSample(x, y, 0, px(docId, f, x, y)); x += 1 }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
        f += 1
      }
      writer.endWriteSequence()
      ios.close()
      writer.dispose()
      bos.toByteArray
    }

    def decodeFrames(docId: Long, gif: Array[Byte]): Iterator[MmGifFrame] = {
      init
      val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      require(readers.hasNext, "no GIF reader in this JDK")
      val reader = readers.next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(gif))
      reader.setInput(iis, false, true)
      val n = reader.getNumImages(true)
      val out = (0 until n).map { i =>
        val img = reader.read(i)
        val (w, h) = (img.getWidth, img.getHeight)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          // getRGB resolves the palette to actual color; a gray g decodes
          // to 0xFF_g_g_g, so the low byte IS the written sample.
          while (x < w) { sum += img.getRGB(x, y) & 0xff; x += 1 }
          y += 1
        }
        MmGifFrame(docId, i, w, h, sum)
      }
      reader.dispose()
      iis.close()
      out.iterator
    }

    /** Frame rasters as flat row-major gray arrays, read back through the
      * real GIF reader (palette resolved via getRGB like [[decodeFrames]]).
      */
    def decodeRasters(docId: Long, gif: Array[Byte]): Array[Array[Int]] = {
      init
      val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      require(readers.hasNext, "no GIF reader in this JDK")
      val reader = readers.next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(gif))
      reader.setInput(iis, false, true)
      val n = reader.getNumImages(true)
      val out = Array.tabulate(n) { i =>
        val img = reader.read(i)
        val (w, h) = (img.getWidth, img.getHeight)
        val px = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { px(y * w + x) = img.getRGB(x, y) & 0xff; x += 1 }
          y += 1
        }
        px
      }
      reader.dispose()
      iis.close()
      out
    }
  }

  /** One decoded video keyframe's perceptual hash (the
    * d16_keyframe_neardup row source). */
  final case class FramePhash(doc_id: Long, frame_idx: Int, phash: Long)

  /** Keyframe perceptual-hash codec for `d16_keyframe_neardup` — the
    * dedup × VIDEO cell, composing the two proven codec disciplines:
    * [[PhashCodec]]'s grouped pattern (four variants per group; variant
    * v > 0 brightens exactly ONE source pixel per frame, so within-group
    * same-frame hashes differ in ≤ 2 bits) now carries a FRAME term
    * (f·13 in the base texture — different frames of the same scene
    * family differ broadly), and the frames travel through the REAL
    * animated-GIF sequence writer/reader ([[GifCodec]]'s lossless
    * indexed-palette, non-progressive pipeline) before each decoded
    * raster is reduced to the same 56-bit dHash. Group-keyed geometry
    * (dims and frame count) makes frame f of videos (g, v) and (g, v')
    * planted near-dups — the "same clip re-uploaded" shape a video
    * corpus dedups on.
    */
  object KeyframeCodec extends Serializable {
    val Grid = PhashCodec.Grid
    def groupOf(docId: Long): Long = PhashCodec.groupOf(docId)
    def variantOf(docId: Long): Int = PhashCodec.variantOf(docId)
    def widthOf(g: Long): Int = PhashCodec.widthOf(g)
    def heightOf(g: Long): Int = PhashCodec.heightOf(g)
    def framesOf(g: Long): Int = 2 + (g % 3).toInt

    /** [[PhashCodec.pixel]]'s mixing texture + the f·13 frame term; max
      * 119 + 100 ≤ 219 distinct grays — inside the identity palette's
      * lossless range. */
    def pixel(docId: Long, f: Int, x: Int, y: Int): Int = {
      val g = groupOf(docId)
      val v = variantOf(docId)
      val w = widthOf(g)
      val h = heightOf(g)
      val base = ((x * 5L + y * 11L + g * 7L + f * 13L
        + x.toLong * y * (3 + g % 7)) % 120L).toInt
      if (v > 0 && x == 2 * v * w / Grid && y == 3 * h / Grid) base + 100
      else base
    }

    def encode(docId: Long): Array[Byte] = {
      val g = groupOf(docId)
      GifCodec.encodePattern(docId, widthOf(g), heightOf(g), framesOf(g), pixel)
    }

    /** [[PhashCodec.dhash56]] over a flat row-major gray raster (the
      * [[GifCodec.decodeRasters]] output shape). */
    def dhash56(px: Array[Int], w: Int, h: Int): Long = {
      val s = Array.tabulate(Grid, Grid)((cy, cx) =>
        px((cy * h / Grid) * w + cx * w / Grid))
      var hash = 0L
      var cy = 0
      while (cy < Grid) {
        var cx = 0
        while (cx < Grid - 1) {
          if (s(cy)(cx + 1) > s(cy)(cx)) hash |= 1L << (cy * 7 + cx)
          cx += 1
        }
        cy += 1
      }
      hash
    }

    /** Synthesize → real GIF sequence encode → real decode → per-frame
      * dHash. */
    def frameHashes(docId: Long): Iterator[FramePhash] = {
      val g = groupOf(docId)
      val (w, h) = (widthOf(g), heightOf(g))
      GifCodec.decodeRasters(docId, encode(docId)).iterator.zipWithIndex
        .map { case (px, f) => FramePhash(docId, f, dhash56(px, w, h)) }
    }

    /** Partition-level [[frameHashes]] (round-13, guide §4.5): ONE GIF
      * reader serves every document of the task — the per-row form paid
      * a registry lookup + reader construction + dispose per video —
      * and the dHash reads its Grid×Grid probe pixels STRAIGHT off the
      * decoded frame instead of materializing the full w×h raster
      * first: the hash samples 64 of ~900 pixels, and the per-pixel
      * `getRGB` palette resolution was the raster path's dominant cost.
      * Value-identical by construction: the same `getRGB` call at the
      * same (cx·w/Grid, cy·h/Grid) points feeds the same comparisons
      * ([[dhash56]] over [[GifCodec.decodeRasters]] reads
      * px(y·w + x) = getRGB(x, y) & 0xff), so every hash bit is the
      * same — pinned by the parity property in MultimodalParitySpec.
      */
    def frameHashesPartition(docs: Iterator[Long]): Iterator[FramePhash] = {
      javax.imageio.ImageIO.setUseCache(false)
      val readers = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      require(readers.hasNext, "no GIF reader in this JDK")
      val reader = readers.next()
      docs.flatMap { docId =>
        val g = groupOf(docId)
        val (w, h) = (widthOf(g), heightOf(g))
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(encode(docId)))
        reader.setInput(iis, false, true)
        val n = reader.getNumImages(true)
        val out = (0 until n).map { i =>
          val img = reader.read(i)
          var hash = 0L
          var cy = 0
          while (cy < Grid) {
            val y = cy * h / Grid
            var prev = img.getRGB(0, y) & 0xff // cx = 0 probe x is 0·w/Grid = 0
            var cx = 0
            while (cx < Grid - 1) {
              val next = img.getRGB((cx + 1) * w / Grid, y) & 0xff
              if (next > prev) hash |= 1L << (cy * 7 + cx)
              prev = next
              cx += 1
            }
            cy += 1
          }
          FramePhash(docId, i, hash)
        }
        iis.close()
        out
      }
    }
  }

  /** Synthesize → encode (real GIF sequence writer) → decode frame-by-
    * frame (real GIF reader) → typed per-frame rows; the one-to-many
    * flatMap shape of [[framesViaCodec]] with a REAL codec in it. Zero
    * shuffle.
    */
  private val framesGif: Q = (s, d) => {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions(_.flatMap { case (id, nChars) =>
        val (w, h, nf) = GifCodec.synth(id, nChars)
        GifCodec.decodeFrames(id, GifCodec.encode(id, w, h, nf))
      })
      .toDF()
  }

  val queries: Map[String, Q] = Map(
    "mm_features" -> features,
    "mm_pair_screen" -> pairScreen,
    "mm_frames" -> frames,
    "mm_frames_gif" -> framesGif,
    "mm_decode_png" -> decodePng,
    "mm_decode_wav" -> decodeWav,
    "mm_wav_features" -> wavFeatures,
    "mm_silence_split" -> silenceSplit,
    "mm_scene_detect" -> sceneDetect,
    "mm_resize_png" -> resizePng)

  /** The mm_features closed form as ONE SQL text — shared by the
    * mm_features and mm_pair_screen oracle entries so the image-feature
    * definition exists exactly once on each side (the cleanedSql/bm25Sql
    * discipline). */
  private val mmFeaturesSql: String =
    """WITH d AS (SELECT doc_id,
        |    CAST(1 + doc_id % 31 AS BIGINT) AS w,
        |    CAST(1 + n_chars % 29 AS BIGINT) AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h,
        |    CAST(sum((xt.x * 3 + yt.y * 7 + d.doc_id) % 251) AS BIGINT) AS s,
        |    CAST(min((xt.x * 3 + yt.y * 7 + d.doc_id) % 251) AS INT) AS mn,
        |    CAST(max((xt.x * 3 + yt.y * 7 + d.doc_id) % 251) AS INT) AS mx
        |  FROM d, range(0, 31) xt(x), range(0, 29) yt(y)
        |  WHERE xt.x < d.w AND yt.y < d.h
        |  GROUP BY d.doc_id, d.w, d.h)
        |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(w * h AS BIGINT) AS n_px, s AS px_sum, mn AS px_min,
        |  mx AS px_max, CAST(s * 1000 // (w * h) AS BIGINT) AS px_mean_milli,
        |  'gray' AS format
        |FROM px""".stripMargin

  val oracle: Map[String, String] = Map(
    // Closed form of the (3x + 7y + doc_id) mod 251 pattern raster —
    // the engine reports only values computed from a really
    // encoded-then-decoded PNG, so equality proves the parse.
    "mm_features" -> mmFeaturesSql,
    // The pair screen composes the REGISTERED definitions verbatim:
    // image features from mmFeaturesSql, caption signals from the
    // tx_quality and tx_langid oracle texts — the keep rule is pure
    // integer/flag arithmetic over their columns, so the gate cannot
    // drift from the signals it reads.
    "mm_pair_screen" -> {
      s"""WITH img AS (SELECT doc_id, width, height, n_px,
         |        px_max - px_min AS px_range FROM ($mmFeaturesSql)),
         |cap AS (SELECT doc_id, n_tokens, punct_cnt
         |        FROM (${TextOps.oracle("tx_quality")})),
         |lng AS (SELECT doc_id, lang_pred FROM (${TextOps.oracle("tx_langid")})),
         |j AS (SELECT img.doc_id, img.n_px, img.px_range, lng.lang_pred,
         |        cap.n_tokens, cap.punct_cnt,
         |        CASE WHEN img.n_px < $MmPairMinPx THEN 'img_small'
         |             WHEN greatest(img.width, img.height) >
         |                  least(img.width, img.height) * $MmPairAspectMax
         |               THEN 'img_aspect'
         |             WHEN img.px_range < $MmPairMinRange THEN 'img_flat'
         |             WHEN lng.lang_pred = 'und' THEN 'cap_lang'
         |             WHEN cap.n_tokens < $MmPairMinTok
         |                  OR cap.n_tokens > $MmPairMaxTok THEN 'cap_len'
         |             WHEN cap.punct_cnt * $MmPairPunctMul > cap.n_tokens
         |               THEN 'cap_punct'
         |             ELSE 'kept' END AS reason
         |      FROM img JOIN cap USING (doc_id) JOIN lng USING (doc_id))
         |SELECT doc_id, n_px, px_range, lang_pred, n_tokens, punct_cnt,
         |  (reason = 'kept') AS keep, reason
         |FROM j""".stripMargin
    },
    // Text is ASCII in the testdata (byte == codepoint), so the oracle can
    // recompute byte sums with ord(); the Spark side works on raw bytes.
    "mm_frames" ->
      """SELECT d.doc_id, CAST(g.f AS INT) AS frame_idx,
        |  CAST(least(octet_length(d.text::BLOB) - g.f * 256, 256) AS INT) AS frame_bytes,
        |  CAST(list_reduce(list_transform(
        |      generate_series(g.f * 256 + 1, least(octet_length(d.text::BLOB), g.f * 256 + 256)),
        |      i -> ord(substr(d.text, CAST(i AS INT), 1))), (x, y) -> x + y) AS BIGINT) AS byte_sum
        |FROM documents d, range(0, 8) g(f)
        |WHERE g.f < least(8, (octet_length(d.text::BLOB) + 255) // 256)""".stripMargin,
    // Closed forms of the synthesized dims/gray; the Spark side reports
    // only values read back from real decoded PNG bytes, so equality
    // proves the codec round-trip.
    "mm_decode_png" ->
      """SELECT doc_id,
        |  CAST(1 + doc_id % 31 AS INT) AS width,
        |  CAST(1 + n_chars % 29 AS INT) AS height,
        |  CAST((1 + doc_id % 31) * (1 + n_chars % 29) * (doc_id % 251) AS BIGINT) AS px_sum
        |FROM documents""".stripMargin,
    // Closed form of the per-frame pattern sum — the engine reports only
    // values read back from a really encoded-then-decoded GIF sequence,
    // so equality proves multi-frame parsing (frame count, per-frame
    // index addressing, palette resolution) actually happened.
    "mm_frames_gif" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(1 + doc_id % 31 AS BIGINT) AS w,
        |    CAST(1 + n_chars % 29 AS BIGINT) AS h,
        |    CAST(1 + doc_id % 5 AS BIGINT) AS nf
        |  FROM documents)
        |SELECT d.doc_id, CAST(ft.f AS INT) AS frame_idx,
        |  CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
        |  CAST(sum((xt.x * 3 + yt.y * 7 + ft.f * 11 + d.doc_id) % 251)
        |       AS BIGINT) AS px_sum
        |FROM d, range(0, 5) ft(f), range(0, 31) xt(x), range(0, 29) yt(y)
        |WHERE ft.f < d.nf AND xt.x < d.w AND yt.y < d.h
        |GROUP BY d.doc_id, ft.f, d.w, d.h""".stripMargin,
    // Closed forms of the (13i + doc_id) mod 251 PCM pattern — the
    // engine reports only values parsed back from a really
    // encoded-then-decoded WAVE stream.
    "mm_decode_wav" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(64 + n_chars % 577 AS BIGINT) AS n
        |  FROM documents)
        |SELECT d.doc_id, d.n AS n_frames, 8000 AS sample_rate_hz,
        |  CAST(sum((it.i * 13 + d.doc_id) % 251) AS BIGINT) AS byte_sum,
        |  CAST(min((it.i * 13 + d.doc_id) % 251) AS INT) AS byte_min,
        |  CAST(max((it.i * 13 + d.doc_id) % 251) AS INT) AS byte_max
        |FROM d, range(0, 641) it(i)
        |WHERE it.i < d.n
        |GROUP BY d.doc_id, d.n""".stripMargin,
    // Closed forms of the per-window moments over the (13i + doc_id)
    // mod 251 PCM pattern — the engine computes them only from really
    // decoded WAVE bytes. The next-sample term is the pattern's own
    // closed form at i+1, guarded by the engine's exact window-membership
    // condition (same window AND i+1 < n).
    "mm_wav_features" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(64 + n_chars % 577 AS BIGINT) AS n
         |  FROM documents),
         |sv AS (SELECT d.doc_id, d.n, it.i,
         |    ((it.i * 13 + d.doc_id) % 251) - 128 AS c
         |  FROM d, range(0, 641) it(i) WHERE it.i < d.n)
         |SELECT doc_id, CAST(i // $WavWindow AS INT) AS win_idx,
         |  CAST(count(*) AS INT) AS n_samples,
         |  CAST(sum(c * c) AS BIGINT) AS energy_sq,
         |  CAST(sum(CASE WHEN (i + 1) // $WavWindow = i // $WavWindow
         |                 AND i + 1 < n
         |                 AND c * ((((i + 1) * 13 + doc_id) % 251) - 128) < 0
         |           THEN 1 ELSE 0 END) AS INT) AS zero_cross
         |FROM sv GROUP BY doc_id, i // $WavWindow""".stripMargin,
    // Closed form of the silence-split pattern: windows re-derived from
    // the per-sample CASE, runs re-derived with a lag + running-sum
    // gaps-and-islands chain — the engine computes everything from
    // really decoded WAVE bytes and groups runs imperatively, so the two
    // derivations only agree if windowing, classification, and run
    // boundaries all match.
    "mm_silence_split" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(64 + n_chars % 577 AS BIGINT) AS n
         |  FROM documents),
         |sv AS (SELECT d.doc_id, it.i,
         |    CASE WHEN ((it.i // ${WavCodec.SplitBurst}) + d.doc_id) % 3 = 0
         |         THEN 0
         |         ELSE ((it.i * 13 + d.doc_id) % 251) - 128 END AS c
         |  FROM d, range(0, 641) it(i) WHERE it.i < d.n),
         |w AS (SELECT doc_id, i // $WavWindow AS win_idx,
         |    CAST(count(*) AS BIGINT) AS n_samples,
         |    CAST(sum(c * c) AS BIGINT) AS energy_sq
         |  FROM sv GROUP BY doc_id, i // $WavWindow),
         |f AS (SELECT doc_id, win_idx, n_samples, energy_sq,
         |    energy_sq < $SilenceThresh AS silent FROM w),
         |g AS (SELECT *,
         |    CAST(sum(CASE WHEN prev IS NULL OR prev <> silent
         |                  THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY win_idx) AS BIGINT) - 1
         |      AS seg_idx
         |  FROM (SELECT *, lag(silent)
         |          OVER (PARTITION BY doc_id ORDER BY win_idx) AS prev
         |        FROM f))
         |SELECT doc_id, CAST(seg_idx AS INT) AS seg_idx,
         |  silent AS is_silence,
         |  CAST(min(win_idx) AS INT) AS start_win,
         |  CAST(count(*) AS INT) AS n_windows,
         |  CAST(sum(n_samples) AS BIGINT) AS n_samples,
         |  CAST(sum(energy_sq) AS BIGINT) AS energy_sq
         |FROM g GROUP BY doc_id, seg_idx, silent""".stripMargin,
    // Closed form of the scene pattern's consecutive-frame diffs: within
    // a scene (same f/2) the per-pixel diff is 0, across a boundary it is
    // |((p+17) mod 251) − p| at every pixel — the engine sums absolute
    // diffs of really decoded rasters.
    "mm_scene_detect" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(1 + doc_id % 31 AS BIGINT) AS w,
        |    CAST(1 + n_chars % 29 AS BIGINT) AS h,
        |    CAST(1 + doc_id % 5 AS BIGINT) AS nf
        |  FROM documents)
        |SELECT d.doc_id, CAST(ft.f AS INT) AS frame_idx,
        |  CAST(d.w AS INT) AS width, CAST(d.h AS INT) AS height,
        |  CAST(sum(abs(
        |    ((xt.x * 3 + yt.y * 7 + (ft.f // 2) * 17 + d.doc_id) % 251)
        |    - ((xt.x * 3 + yt.y * 7 + ((ft.f - 1) // 2) * 17 + d.doc_id) % 251)
        |  )) AS BIGINT) AS diff_sum,
        |  CAST(sum(abs(
        |    ((xt.x * 3 + yt.y * 7 + (ft.f // 2) * 17 + d.doc_id) % 251)
        |    - ((xt.x * 3 + yt.y * 7 + ((ft.f - 1) // 2) * 17 + d.doc_id) % 251)
        |  )) > 0 AS BOOLEAN) AS is_cut
        |FROM d, range(1, 5) ft(f), range(0, 31) xt(x), range(0, 29) yt(y)
        |WHERE ft.f < d.nf AND xt.x < d.w AND yt.y < d.h
        |GROUP BY d.doc_id, ft.f, d.w, d.h""".stripMargin,
    // Nearest-neighbor resample of the (3x + 7y + doc_id) mod 251 pattern
    // at the floor-division source coordinates — the engine reports the
    // sum from an actually decoded-and-resized raster.
    "mm_resize_png" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(1 + doc_id % 31 AS BIGINT) AS w,
         |    CAST(1 + n_chars % 29 AS BIGINT) AS h
         |  FROM documents)
         |SELECT d.doc_id, CAST($ResizeW AS INT) AS width,
         |  CAST($ResizeH AS INT) AS height,
         |  CAST(sum(((xt.x * d.w // $ResizeW) * 3
         |            + (yt.y * d.h // $ResizeH) * 7 + d.doc_id) % 251)
         |       AS BIGINT) AS rpx_sum
         |FROM d, range(0, $ResizeW) xt(x), range(0, $ResizeH) yt(y)
         |GROUP BY d.doc_id""".stripMargin,
  )
}
