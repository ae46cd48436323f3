package graft.operators

import java.awt.image.BufferedImage

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2c): media as opaque binary
  * columns + typed metadata structs, batch feature extraction / resize /
  * frame sampling via `mapPartitions`, and perceptual near-dup pairs.
  *
  * The IMAGE path is a real codec: image rows carry actual PNG bytes
  * (encoded executor-side with `javax.imageio`, which ships in the JDK's
  * java.desktop module — zero new dependencies), q51 reports dimensions
  * and container format by DECODING those bytes, and q52 decodes,
  * resizes and RE-ENCODES them. The AUDIO path is a real codec too:
  * audio rows carry actual WAV bytes (`javax.sound.sampled`, also
  * java.desktop) that q197/q198 really decode. Only VIDEO and
  * compressed-audio codecs remain stubs behind the seam traits (no
  * H.264/AAC libs in this container): video rows compute deterministic
  * features from the raw bytes. Everything Spark-side is what carries
  * to 100 TB:
  *  - media bytes never leave their partition (no shuffle of payloads);
  *  - work batches per partition exactly as a mapInPandas/Arrow path
  *    batches record batches (`Iterator.grouped(BatchSize)` = the batch
  *    boundary a codec amortizes setup over);
  *  - frame sampling is a flatMap row expansion with the frame index in
  *    the output schema, not a driver loop;
  *  - q93's perceptual-hash blocking shuffles 8-byte hashes, never
  *    pixels, and reuses q43's Hamming-band machinery
  *    ([[Dedup.hammingBandPairs]]) so candidate generation is an
  *    equi-join.
  *
  * The pair and scrub lanes (q93, q198, q204–q208, q210–q212) share one
  * rep-collapse skeleton:
  *  - [[renderReps]]: [[Dedup.exactReps]], then each rep's media is
  *    rendered ONCE — identical normalized texts render identical
  *    media, so a clique of N byte-variant copies costs one codec
  *    round-trip and one fingerprint row, not N quadratically
  *    colliding ones;
  *  - a pair kernel over the reps' (doc_id, payload) frame, whose
  *    codec stage is [[perPayload]]; only fingerprints, positions and
  *    ids shuffle;
  *  - [[cliquePairs]]: cross pairs expand through the members map
  *    ([[Dedup.expandPairs]]; an offset negates when member ids cross
  *    their reps' order) and members of one clique pair up at offset
  *    0 ([[Dedup.withinCliquePairs]]) with the rep's own full-overlap
  *    stats, under the SAME gate as cross pairs (r15 ADVICE #5: within
  *    rows used to bypass it);
  *  - or, in the scrub lanes, [[scrubReps]]: the doc_b (larger-id)
  *    side of each pair is cut, so shared content survives in exactly
  *    one place (the q203 survivorship); per-rep cut lists join the
  *    pinned media, so only CUT reps decode and re-encode, untouched
  *    reps pass through byte-identical, and members inherit their
  *    rep's verdict (identical media carries identical cuts);
  *  - outputs whose sort would re-run a codec stage go through
  *    [[graft.Pins.pinSorted]].
  */
object Multimodal {

  /** Typed metadata carried next to the opaque payload. */
  case class MediaMeta(media_type: String, width: Int, height: Int,
                       n_frames: Int, sample_rate: Int)
  case class MediaRow(doc_id: Long, payload: Array[Byte], meta: MediaMeta)
  case class MediaFeature(doc_id: Long, n_bytes: Long, checksum: Long,
                          width: Int, height: Int, format: String)
  case class ResizedRow(doc_id: Long, width: Int, height: Int,
                        n_bytes: Long, checksum: Long)
  case class FrameRow(doc_id: Long, frame_idx: Int, frame_checksum: Long)
  // The row classes further down are private[graft], not private:
  // Spark's generated encoder code must be able to call the accessors;
  // object-private compiles to a private nested class, Janino fails,
  // and the encoder silently falls back to the interpreted path for
  // every row

  val BatchSize = 64

  private[graft] def checksum(bytes: Array[Byte], seed: Long = 0L): Long = {
    var h = seed
    var i = 0
    while (i < bytes.length) { h = (h * 131 + (bytes(i) & 0xff)) % 1000000007L; i += 1 }
    h
  }

  // ---------------------------------------------------------------- codec

  /** Deterministic test-image render: each of the document's top-8
    * tokens (by count desc, token asc) paints one soft radial blob at a
    * position derived from the token's hash. Low-frequency structure:
    * documents sharing their dominant tokens render nearly identical
    * images — exactly the regime a perceptual hash (q93) is stable
    * under, while byte identity (q79) is not. Stands in for "the photo
    * behind this record" which the synthetic corpus does not carry. */
  private[graft] def renderImage(text: String, w: Int, h: Int): BufferedImage = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    text.toLowerCase.trim.split(" ").foreach(t =>
      counts(t) = counts.getOrElse(t, 0) + 1)
    val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(8).map(_._1)
    val px = new Array[Double](w * h)
    top.foreach { t =>
      val th = t.hashCode
      val bx = ((th & 0xff) * (w - 1)) / 255.0
      val by = (((th >> 8) & 0xff) * (h - 1)) / 255.0
      // radius and intensity also derive from the token so distinct
      // top-8 sets rarely collide into the same gradient signs
      val r = (0.15 + ((th >> 16) & 0x3f) / 224.0) * math.min(w, h)
      val amp = 90.0 + ((th >> 22) & 0xff)
      // separable Gaussian: O(w+h) transcendentals per blob, the inner
      // loop is pure multiply-add
      val ex = Array.tabulate(w)(x => math.exp(-((x - bx) * (x - bx)) / (r * r)))
      val ey = Array.tabulate(h)(y => math.exp(-((y - by) * (y - by)) / (r * r)))
      var y = 0
      while (y < h) {
        val a = amp * ey(y)
        var x = 0
        while (x < w) {
          px(y * w + x) += a * ex(x)
          x += 1
        }
        y += 1
      }
    }
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val out = new Array[Int](w * h)
    var i = 0
    while (i < w * h) {
      val g = math.min(255, px(i).toInt)
      out(i) = (g << 16) | (g << 8) | g
      i += 1
    }
    img.setRGB(0, 0, w, h, out, 0, w)
    img
  }

  /** ImageIO's stream cache defaults to DISK: every write/read through
    * a byte stream spins up a FileCache*Stream temp file. At corpus
    * scale that is millions of create/delete syscalls per codec query
    * — measured as cross-query pollution (q53 read 2.1 s in a fresh
    * process and 6.6 s after the video lanes had churned the temp dir
    * in the same JVM). Payloads here are small in-memory byte arrays;
    * cache in memory. Executor-wide, set once (class-load of this
    * object precedes every codec call). */
  private val _imageIoMemCache: Unit = javax.imageio.ImageIO.setUseCache(false)

  /** Real PNG encode via the JDK ImageIO codec. */
  private[graft] def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real decode: bytes → (image, container format name) through the
    * registered ImageIO reader, or None when no codec claims the bytes
    * (the video/audio stub payloads land here). */
  private[graft] def decodeImage(bytes: Array[Byte]): Option[(BufferedImage, String)] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          Some((r.read(0), r.getFormatName.toLowerCase))
        } finally r.dispose()
      }
    } catch { case _: Exception => None }
    finally iis.close()
  }

  /** Real scale-to-fit resize by box (area) averaging — the correct
    * downscale filter, deterministic integer sampling grid, no
    * Graphics2D rendering-hint nondeterminism. */
  private[graft] def resizeToFit(img: BufferedImage, maxW: Int, maxH: Int): BufferedImage = {
    val scale = math.min(1.0,
      math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight))
    val nw = math.max(1, (img.getWidth * scale).toInt)
    val nh = math.max(1, (img.getHeight * scale).toInt)
    val out = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
    // bulk raster in/out (the dHash rationale): same per-pixel values,
    // ColorModel conversion paid once per image instead of per pixel
    val w = img.getWidth
    val in = img.getRGB(0, 0, w, img.getHeight, null, 0, w)
    val px = new Array[Int](nw * nh)
    var y = 0
    while (y < nh) {
      val y0 = y * img.getHeight / nh
      val y1 = math.max(y0 + 1, (y + 1) * img.getHeight / nh)
      var x = 0
      while (x < nw) {
        val x0 = x * w / nw
        val x1 = math.max(x0 + 1, (x + 1) * w / nw)
        var sr = 0L; var sg = 0L; var sb = 0L; var n = 0
        var yy = y0
        while (yy < y1) {
          var xx = x0
          while (xx < x1) {
            val rgb = in(yy * w + xx)
            sr += (rgb >> 16) & 255; sg += (rgb >> 8) & 255; sb += rgb & 255
            n += 1; xx += 1
          }
          yy += 1
        }
        px(y * nw + x) =
          (((sr / n).toInt) << 16) | (((sg / n).toInt) << 8) | (sb / n).toInt
        x += 1
      }
      y += 1
    }
    out.setRGB(0, 0, nw, nh, px, 0, nw)
    out
  }

  /** 64-bit difference hash: box-average the decoded image onto a 9×8
    * grayscale grid, bit (row*8+col) = grid(col,row) < grid(col+1,row).
    * Input dimensions are normalized away by the box average, so the
    * same content at different sizes (or after q52's resize) hashes to
    * nearly the same bits. */
  private[graft] def dHash(img: BufferedImage): Long = {
    val gw = 9; val gh = 8
    val w = img.getWidth; val h = img.getHeight
    // ONE bulk raster read instead of a getRGB call per pixel: bulk
    // getRGB returns bit-identical ARGB ints (same ColorModel
    // conversion) while reusing the raster transfer buffer and paying
    // the call/bounds overhead once — matters on decoded PNGs
    // (TYPE_3BYTE_BGR), and the grid loop below then reads a plain
    // int array (r19, guide §1.2 step 2)
    val rgb = img.getRGB(0, 0, w, h, null, 0, w)
    val g = Array.ofDim[Double](gh, gw)
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw) {
        val x0 = gx * w / gw
        val x1 = math.max(x0 + 1, (gx + 1) * w / gw)
        val y0 = gy * h / gh
        val y1 = math.max(y0 + 1, (gy + 1) * h / gh)
        var s = 0L; var n = 0
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = rgb(y * w + x)
            s += ((p >> 16) & 255) + ((p >> 8) & 255) + (p & 255)
            n += 1; x += 1
          }
          y += 1
        }
        g(gy)(gx) = s.toDouble / (3.0 * n)
        gx += 1
      }
      gy += 1
    }
    var hash = 0L; var i = 0
    gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < 8) {
        if (g(gy)(gx) < g(gy)(gx + 1)) hash |= (1L << i)
        i += 1; gx += 1
      }
      gy += 1
    }
    hash
  }

  // ---------------------------------------------------------------- audio

  /** Audio synth/decode constants: 8 kHz mono, 0.5 s per document —
    * 4000 samples ≈ 8 KB WAV, enough for 20 fingerprint-grid cells
    * while keeping the per-doc codec cost in q53's class. */
  val AudioRate = 8000
  val AudioSamples = 4000

  /** Deterministic test-audio synth — the audio analog of
    * [[renderImage]]: each of the document's top-8 tokens (count desc,
    * token asc — case- and order-insensitive by construction)
    * contributes one sinusoid whose frequency, amplitude and phase
    * derive from the token's hash. Documents sharing their dominant
    * tokens SOUND nearly identical — the regime the spectral
    * fingerprint (q198) is stable under, while byte identity (q79)
    * is not. Stands in for "the recording behind this record". */
  private[graft] def renderAudio(text: String, rate: Int,
                                 nSamples: Int): Array[Short] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    text.toLowerCase.trim.split(" ").foreach(t =>
      counts(t) = counts.getOrElse(t, 0) + 1)
    val top = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(8).map(_._1)
    val acc = new Array[Double](nSamples)
    top.foreach { t =>
      val th = t.hashCode
      val f = 200.0 + (th & 0xff) * 8.0            // 200..2240 Hz
      val amp = 1200.0 + ((th >> 8) & 0xff) * 8.0
      val phase = ((th >> 16) & 0xff) / 255.0 * 2 * math.Pi
      val w = 2 * math.Pi * f / rate
      // deterministic micro-chirp (≲5 Hz drift over the clip): real
      // recordings are never exactly periodic — a pure tone sum is,
      // and its repeating PCM bytes would make CDC chunking (q139)
      // self-dedup inside one payload
      val chirp = 2 * math.Pi * (((th >> 24) & 0x3f) + 16) * 1e-8
      // slow per-voice amplitude envelope (1–4 cycles per clip): real
      // audio is non-stationary — a stationary tone sum gives every
      // q198 time window the SAME band-energy ordering, collapsing the
      // 64-bit fingerprint to ~8 bits of entropy and skewing the
      // Hamming-band join buckets
      val lfoW = 2 * math.Pi * (1.0 + ((th >> 4) & 0x3)) / nSamples
      val lfoP = ((th >> 12) & 0xff) / 255.0 * 2 * math.Pi
      var i = 0
      while (i < nSamples) {
        acc(i) += amp * (0.6 + 0.4 * math.sin(lfoW * i + lfoP)) *
          math.sin(w * i + chirp * i.toDouble * i + phase)
        i += 1
      }
    }
    val out = new Array[Short](nSamples)
    var i = 0
    while (i < nSamples) {
      out(i) = math.max(-32768.0, math.min(32767.0, acc(i))).toShort
      i += 1
    }
    out
  }

  /** Real WAV encode via the JDK `javax.sound.sampled` codec: 16-bit
    * signed little-endian mono PCM in a RIFF/WAVE container. */
  private[graft] def encodeWav(samples: Array[Short], rate: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1,
      /*signed*/ true, /*bigEndian*/ false)
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Real WAV decode: bytes → (16-bit PCM samples, sample rate,
    * format), or None when the JDK audio reader does not claim the
    * bytes (image payloads and the framed-PNG video containers land
    * here) or the stream is not 16-bit mono. */
  private[graft] def decodeWav(bytes: Array[Byte])
      : Option[(Array[Short], Int, String)] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) None
      else {
        val pcm = ais.readAllBytes()
        val n = pcm.length / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) {
          out(i) =
            if (fmt.isBigEndian)
              (((pcm(2 * i) & 0xff) << 8) | (pcm(2 * i + 1) & 0xff)).toShort
            else
              (((pcm(2 * i + 1) & 0xff) << 8) | (pcm(2 * i) & 0xff)).toShort
          i += 1
        }
        Some((out, fmt.getSampleRate.toInt, "wave"))
      }
    } catch { case _: Exception => None }

  /** Goertzel single-bin power at `f` Hz over samples[off, off+len):
    * the O(len) way to one spectral band — no FFT library needed. */
  private def goertzel(s: Array[Short], off: Int, len: Int, f: Double,
                       rate: Int): Double = {
    val c = 2 * math.cos(2 * math.Pi * f / rate)
    var s1 = 0.0; var s2 = 0.0
    var i = 0
    while (i < len) {
      val s0 = s(off + i) + c * s1 - s2
      s2 = s1; s1 = s0
      i += 1
    }
    s1 * s1 + s2 * s2 - c * s1 * s2
  }

  /** 64-bit spectral fingerprint — the audio analog of the image
    * [[dHash]] (the Haitsma–Kalker '02 sign-of-energy-difference idea
    * on a coarse grid): 8 equal time windows × 9 log-spaced Goertzel
    * bands (250 Hz → ~2.8 kHz, under the 4 kHz Nyquist of the 8 kHz
    * synth), bit (w·8+b) = E(w,b) < E(w,b+1). Adjacent-band
    * comparisons are invariant to overall gain, so attenuated or
    * re-encoded copies keep their bits while content changes flip
    * them. 9 band powers per window = 9 O(win) passes — ~9·n
    * multiply-adds per document, cheaper than the PNG round-trip. */
  private[graft] def audioFingerprint(samples: Array[Short], rate: Int): Long = {
    val nw = 8; val nb = 9
    val freqs = Array.tabulate(nb)(b => 250.0 * math.pow(2.0, b * 0.44))
    val win = math.max(1, samples.length / nw)
    var hash = 0L; var bit = 0
    var w = 0
    while (w < nw) {
      val off = w * win
      val len = math.min(win, samples.length - off)
      val e = Array.tabulate(nb)(b =>
        if (len <= 0) 0.0 else goertzel(samples, off, len, freqs(b), rate))
      var b = 0
      while (b < nb - 1) {
        if (e(b) < e(b + 1)) hash |= (1L << bit)
        bit += 1; b += 1
      }
      w += 1
    }
    hash
  }

  // ---------------------------------------------------------------- table

  /** Media table: documents rendered into media payloads with typed
    * metadata. IMAGE rows carry REAL PNG bytes (ImageIO-encoded from
    * the deterministic render) with true pixel dims; AUDIO rows carry
    * REAL WAV bytes (javax.sound-encoded 16-bit PCM from the
    * deterministic synth) with true sample rate/count; video rows keep
    * the raw text bytes with stub metadata (no video codec in this
    * container — q53 builds its framed-PNG container on the fly). The
    * payload/meta split mirrors a real lake layout: meta-only queries
    * never touch payload bytes. */
  def mediaTable(spark: SparkSession, documents: DataFrame,
                 codec: MediaCodec = ImageIoCodec,
                 audio: AudioCodec = WavCodec): DataFrame = {
    import spark.implicits._
    documents
      .select(col("doc_id"), col("text"))
      // codec work is CPU-bound (render + encode per row): spread it
      // across every core regardless of the scan's partitioning — a
      // small parquet reads as 1–2 partitions and would otherwise run
      // the whole synth/encode pass single-threaded. The exchange
      // carries (id, text) once and buys codec-seconds per row; the
      // explicit partition count also keeps AQE from coalescing the
      // CPU-bound stage back down
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .map { case (id, text) =>
        val b = text.getBytes("UTF-8")
        val h = checksum(b)
        val w = 16 + (h % 16).toInt
        val ht = 16 + ((h / 16) % 16).toInt
        val mt = if (id % 3 == 0) "video" else if (id % 3 == 1) "image" else "audio"
        mt match {
          case "image" =>
            MediaRow(id, codec.encode(renderImage(text, w, ht)),
              MediaMeta("image", w, ht, n_frames = 1, sample_rate = 0))
          case "audio" =>
            val samples = renderAudio(text, AudioRate, AudioSamples)
            MediaRow(id, audio.encode(samples, AudioRate), MediaMeta("audio",
              w, ht, n_frames = samples.length, sample_rate = AudioRate))
          case _ =>
            MediaRow(id, b, MediaMeta(mt, w, ht,
              n_frames = 8 + (h % 8).toInt, sample_rate = 0))
        }
      }
      .toDF()
  }

  /** q79: exact media dedup by payload hash — the first pass every
    * multimodal corpus runs, at INGEST, on the raw bytes as landed
    * (identical bytes under different doc ids) — before any codec
    * touches them. Groups on md5 of the payload so the shuffle key is
    * 16 bytes, never the payload itself; the canonical row is the min
    * doc_id. Codec-free by design — which is why it is oracle-checkable
    * while the decode paths are not, and why one re-encode hides a
    * duplicate from it (q93 is the pass that still sees those). */
  def q79(spark: SparkSession, documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .groupBy(md5(col("payload")).as("payload_md5"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("dup_count"),
        min(length(col("payload"))).cast("long").as("payload_bytes"))
      .select(col("keep_id"), col("dup_count"), col("payload_bytes"))
      .orderBy(col("keep_id"))

  /** q51: batched per-partition feature extraction over the media
    * table. Image rows are REALLY DECODED: width/height/format come
    * from the ImageIO reader over the payload bytes, not from metadata.
    * Rows no codec claims (the stub video/audio payloads) fall back to
    * deterministic byte-derived features tagged format="raw". */
  def q51(spark: SparkSession, documents: DataFrame,
          codec: MediaCodec = ImageIoCodec,
          audio: AudioCodec = WavCodec): DataFrame = {
    import spark.implicits._
    val features = mediaTable(spark, documents, codec, audio)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap { batch =>    // batch boundary =
          batch.map { case (id, b) =>               // codec call unit
            codec.decode(b) match {
              case Some((img, fmt)) =>
                MediaFeature(id, b.length.toLong, checksum(b),
                  img.getWidth, img.getHeight, fmt)
              case None => audio.decode(b) match {
                // audio rows: the media-generic dims carry the REAL
                // decoded stream shape — width = sample rate (Hz),
                // height = sample count
                case Some((samples, rate, fmt)) =>
                  MediaFeature(id, b.length.toLong, checksum(b),
                    width = rate, height = samples.length, format = fmt)
                case None =>
                  val h = checksum(b)
                  MediaFeature(id, b.length.toLong, h,
                    width = 16 + (h % 16).toInt, height = 16 + ((h / 16) % 16).toInt,
                    format = "raw")
              }
            }
          }
        }
      }
      .toDF()
    graft.Pins.pinSorted(features, col("doc_id"))
  }

  /** q52: resize to a fixed target box. Image rows run the REAL
    * decode → scale-to-fit → PNG re-encode path; the reported dims are
    * re-derived by decoding the re-encoded bytes (so the output proves
    * the codec ran), n_bytes/checksum are of the new payload. Non-image
    * rows keep the stub arithmetic over their metadata dims. */
  def q52Resize(spark: SparkSession, documents: DataFrame,
                maxW: Int = 16, maxH: Int = 16,
                codec: MediaCodec = ImageIoCodec): DataFrame = {
    import spark.implicits._
    val resized = mediaTable(spark, documents, codec)
      .select(col("doc_id"), col("payload"), col("meta.width"), col("meta.height"))
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap(_.map { case (id, b, w, h) =>
          codec.decode(b) match {
            case Some((img, _)) =>
              val png = codec.encode(resizeToFit(img, maxW, maxH))
              val (dec, _) = codec.decode(png).get
              ResizedRow(id, dec.getWidth, dec.getHeight,
                png.length.toLong, checksum(png))
            case None =>
              val scale = math.min(1.0, math.min(maxW.toDouble / w, maxH.toDouble / h))
              ResizedRow(id, math.max(1, (w * scale).toInt),
                math.max(1, (h * scale).toInt),
                b.length.toLong, checksum(b, seed = 7L)) // STUB: no video/audio codec
          }
        })
      }
      .toDF()
    graft.Pins.pinSorted(resized, col("doc_id"))
  }

  /** Length-prefixed frame container (4-byte big-endian size before
    * each frame's PNG bytes) — the MJPEG framing idea with PNG as the
    * per-frame codec, since the container ships no video codecs. */
  private[graft] def encodeFrames(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    frames.foreach { f => dos.writeInt(f.length); dos.write(f) }
    dos.flush()
    bos.toByteArray
  }

  /** Length-prefix walk with VALIDATION: a negative length or a prefix
    * pointing past the payload means the bytes are not this container
    * — return Nil so [[FramedCodec.decode]] can answer None instead of
    * throwing mid-stream (the ck01 foreign-bytes clause: a throwing
    * codec kills the whole partition task on one corrupt payload). */
  private[graft] def decodeFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    val out = Seq.newBuilder[Array[Byte]]
    var p = 0
    while (p + 4 <= bytes.length) {
      val n = ((bytes(p) & 0xff) << 24) | ((bytes(p + 1) & 0xff) << 16) |
        ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
      // Long arithmetic: n near Int.MaxValue would wrap `p + 4 + n`
      // negative and sneak past the bound check (r16 review)
      if (n < 0 || p + 4 + n.toLong > bytes.length) return Nil
      out += java.util.Arrays.copyOfRange(bytes, p + 4, p + 4 + n)
      p += 4 + n
    }
    if (p != bytes.length) Nil else out.result()
  }

  private[graft] case class FrameOut(doc_id: Long, frame_idx: Int, width: Int,
                                     height: Int, frame_bytes: Long)

  /** q53: frame sampling through the CONTAINER codec seam — each video
    * doc is rendered into a frame sequence (frame f is the base render
    * with deterministically decaying brightness), encoded through the
    * pluggable [[VideoCodec]] (default: the framed container over the
    * per-frame [[MediaCodec]] — MJPEG framing with the JDK PNG codec),
    * then every k-th frame is REALLY DECODED back out of the container
    * and reported with its decoded pixel dims and in-container encoded
    * size. Build and sample run in the same partition — frames never
    * shuffle; the output is one row per sampled frame (flatMap row
    * expansion, frame index in the schema). A production H.264/AV1 jar
    * slots in at the container level (r15: `video` param), not just
    * per frame — the remaining gap is the jar, not the plumbing. */
  def q53FrameSample(spark: SparkSession, documents: DataFrame,
                     every: Int = 4,
                     codec: MediaCodec = ImageIoCodec,
                     video: Option[VideoCodec] = None): DataFrame = {
    import spark.implicits._
    val vc = video.getOrElse(FramedCodec(codec))
    val frames = mediaTable(spark, documents, codec)
      .filter(col("meta.media_type") === "video")
      .select(col("doc_id"), col("payload"), col("meta.n_frames"))
      .as[(Long, Array[Byte], Int)]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap(_.flatMap { case (id, b, nFrames) =>
          val h = checksum(b)
          val w = 16 + (h % 16).toInt
          val ht = 16 + ((h / 16) % 16).toInt
          val base = renderImage(new String(b, "UTF-8"), w, ht)
          val clip = vc.encode((0 until nFrames).map(f =>
            fadeFrame(base, f, nFrames)))
          val handle = vc.decode(clip).get
          (0 until nFrames by every).map { f =>
            val (img, sz) = handle.frame(f) // decode ONLY sampled frames
            FrameOut(id, f, img.getWidth, img.getHeight, sz)
          }
        })
      }
      .toDF()
    graft.Pins.pinSorted(frames, col("doc_id"), col("frame_idx"))
  }

  // ------------------------------------------------ rep-collapse skeleton

  /** [[Dedup.exactReps]], then `render` once per rep's text. Returns
    * ((doc_id, `valueCol`) per rep, members map). The render is a
    * CPU-bound codec stage: like [[mediaTable]] it spreads across every
    * core regardless of the scan's partitioning, and batches per
    * partition. */
  private def renderReps[T: TypeTag](documents: DataFrame, valueCol: String)(
      render: String => T): (DataFrame, DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (reps, members) = Dedup.exactReps(documents)
    val rendered = reps.select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .mapPartitions { it =>
        it.grouped(BatchSize).flatMap(_.map { case (id, text) =>
          (id, render(text))
        })
      }
      .toDF("doc_id", valueCol)
    (rendered, members)
  }

  /** The batched codec stage over a (doc_id, payload) frame: `f` runs
    * once per row, partition-local, in batches of [[BatchSize]] (the
    * unit a codec amortizes setup over); payloads never shuffle. */
  private def perPayload[T <: Product : TypeTag](media: DataFrame)(
      f: (Long, Array[Byte]) => Iterable[T]): Dataset[T] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.grouped(BatchSize).flatMap(_.flatMap { case (id, b) =>
        f(id, b)
      }))
  }

  /** Rep pairs expanded to member pairs, sorted by (doc_a, doc_b,
    * `offsets`): cross pairs carry `offsets` and `stats`, an offset
    * negating when member ids cross their reps' order; members of one
    * clique pair up at offset 0 with `within` stats, over the cliques
    * `eligible` keeps ([[Dedup.withinCliquePairs]]). */
  private def cliquePairs(repPairs: DataFrame, members: DataFrame,
                          offsets: Seq[String], stats: Seq[String],
                          eligible: Option[DataFrame],
                          within: Seq[Column]): DataFrame =
    Dedup.expandPairs(repPairs, members, offsets ++ stats,
        offsets.map(o => o -> -col(o)).toMap)
      .unionAll(Dedup.withinCliquePairs(members, eligible,
        offsets.map(lit(0).as(_)) ++ within))
      .orderBy((Seq("doc_a", "doc_b") ++ offsets).map(col): _*)

  /** Whole-asset perceptual lanes (q93/q198/q210): cross-clique pairs
    * inherit the rep pair's Hamming distance (identical media per
    * clique); within-clique pairs are Hamming 0, and every clique is
    * eligible because every doc renders. */
  private def hammingCliques(repPairs: DataFrame, members: DataFrame): DataFrame =
    cliquePairs(repPairs, members, Nil, Seq("hamming"), None,
      Seq(lit(0).as("hamming")))

  /** The scrub lanes' tail (q206/q208/q212): render and pin each rep's
    * media (the pair kernel and the cut join both read it), let `cuts`
    * run the lane's pair kernel over it and return (doc_id, cut
    * columns…) rows for the doc_b side, collect each rep's cuts, and
    * `rewrite` each (rep, payload, cuts) row — cuts are None for an
    * untouched rep — into (rep, payload, stats…) named `outCols`.
    * Members take their rep's row. */
  private def scrubReps[C: TypeTag, R <: Product : TypeTag](
      documents: DataFrame, render: String => Array[Byte],
      outCols: Seq[String])(cuts: DataFrame => DataFrame)(
      rewrite: ((Long, Array[Byte], Option[Seq[C]])) => R): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (rendered, members) = renderReps(documents, "payload")(render)
    val media = graft.Pins.pin(rendered)
    val cutRows = cuts(media)
    val perRep = cutRows.groupBy(col("doc_id"))
      // _1.._n field names so the tuple decoder below resolves
      .agg(collect_list(struct(cutRows.columns.tail.zipWithIndex.map {
        case (c, i) => col(c).as(s"_${i + 1}")
      }: _*)).as("iv"))
    val repOut = media.join(perRep, Seq("doc_id"), "left_outer")
      .as[(Long, Array[Byte], Option[Seq[C]])]
      .mapPartitions(it => it.grouped(BatchSize).flatMap(_.map(rewrite)))
      .toDF("rep" +: outCols: _*)
    graft.Pins.pinSorted(members.join(repOut, "rep")
      .select(("doc_id" +: outCols).map(col): _*), col("doc_id"))
  }

  // ------------------------------------------------ q93 image near-dup

  /** The q93 thumbnail: [[renderImage]] at dims derived from the
    * NORMALIZED token stream (lowercased, sorted), not the raw bytes,
    * so byte-level variants of the same content (case, token order)
    * render pixel-identical thumbnails — the perceptual contract —
    * while content changes move the hash. */
  private[graft] def thumbnail(text: String): BufferedImage = {
    val h = checksum(
      text.toLowerCase.trim.split(" ").sorted.mkString(" ").getBytes("UTF-8"))
    renderImage(text, 16 + (h % 16).toInt, 16 + ((h / 16) % 16).toInt)
  }

  /** The full codec round-trip to one 64-bit perceptual hash:
    * [[thumbnail]] → REAL PNG encode → REAL decode → [[dHash]]. */
  private[graft] def phashOf(text: String): Long =
    dHash(decodeImage(encodePng(thumbnail(text))).get._1)

  /** Rep-level core of [[q93]]: dHash + Hamming banding over the reps.
    * Returns (verified rep pairs with hamming, members map). */
  private def phashRepPairs(documents: DataFrame,
                            maxHamming: Int): (DataFrame, DataFrame) = {
    val (ph, members) = renderReps(documents, "phash")(phashOf)
    (Dedup.hammingBandPairs(graft.Pins.pin(ph), "phash", maxHamming), members)
  }

  /** q93: PERCEPTUAL near-dup pairs over the corpus' rendered
    * thumbnails — the pass that still sees a duplicate after one
    * re-encode/resize has hidden it from byte identity (q79). Per
    * rep: [[phashOf]]; candidate blocking is q43's Hamming-band
    * machinery ([[Dedup.hammingBandPairs]]), then exact verify with
    * bit_count(xor) ≤ maxHamming. Only (doc_id, phash) pairs shuffle;
    * pixels and payloads never leave their partition. */
  def q93(spark: SparkSession, documents: DataFrame,
          maxHamming: Int = 3): DataFrame = {
    val (repPairs, members) = phashRepPairs(documents, maxHamming)
    hammingCliques(repPairs, members)
  }

  /** Sparse perceptual near-dup EDGE set for cluster consumers (q94):
    * verified rep pairs + one (member, rep) star edge per non-rep
    * clique member — components, vertex set, and min labels equal
    * those of the full [[q93]] pair list (every doc renders, so every
    * multi-member clique is Hamming-0-connected in both). */
  private def phashEdges(documents: DataFrame, maxHamming: Int): DataFrame = {
    val (repPairs, members) = phashRepPairs(documents, maxHamming)
    val star = members.filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("doc_a"), col("rep").as("doc_b"))
    repPairs.select(col("doc_a"), col("doc_b")).unionAll(star)
  }

  /** q94: multimodal CLEAN-CORPUS verdicts — the media counterpart of
    * q65's text pipeline: one row per document with its keep/drop
    * verdict and the canonical id it collapses to.
    *
    * Identical bytes render identical thumbnails (Hamming 0 shares
    * every band), so exact duplicates are a strict subset of the
    * perceptual clusters — one q93 pass + one [[graft.operators.Dedup
    * .clusters]] min-label propagation covers both; the md5 digest
    * only attributes the CAUSE (`dup_exact` vs `dup_perceptual`).
    * Canonical id is the cluster minimum, so verdicts resolve in one
    * hop — no canonical-of-canonical chains. Shuffle-wise this is
    * q93 (8-byte hashes) + the digest groupBy (16-byte keys) + the
    * cluster joins on bare ids: payloads never move. */
  def q94(spark: SparkSession, documents: DataFrame,
          maxHamming: Int = 3): DataFrame = {
    // pin the (doc_id, digest) projection: both the canon aggregate and
    // the final join consume it, and without the persist each one
    // re-scans the full corpus text to recompute the md5 — at corpus
    // scale that is a second 100 TB pass for a 24-byte-per-row frame
    val exact = documents
      .select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("dg"))
      .transform(graft.Pins.pin)
    val exactCanon = exact.groupBy(col("dg")).agg(min(col("doc_id")).as("exact_canon"))
    // propagate over the sparse rep-pair + star edge set (round 8):
    // identical components and labels, linear edges per clique
    val labels = graft.operators.Dedup.clusters(
      phashEdges(documents, maxHamming))
    exact
      .join(exactCanon, "dg")
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("exact_canon"), lit("dup_exact"))
          .when(col("label") < col("doc_id"), lit("dup_perceptual"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("label"), col("doc_id")).as("canonical_id"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q197/q198 audio

  private[graft] case class AudioWin(doc_id: Long, win_idx: Int,
                                     n_samples: Int, rms_q: Long, zcr: Long)

  /** q197: audio WINDOW SAMPLING — the q53 analog for the audio axis:
    * each audio doc's WAV payload is REALLY DECODED through the codec
    * seam, split into fixed `winSamples` windows (25 ms at 8 kHz), and
    * every `every`-th window reported with its RMS energy (fixed-point
    * long, the §6 discipline) and zero-crossing count — the first two
    * features a VAD/segmentation pass computes. Decode and window walk
    * run in the same partition — payloads never shuffle; the output is
    * one row per sampled window (flatMap row expansion, window index
    * in the schema). rows-only: the synth→WAV→decode loop is
    * codec-dependent. */
  def q197AudioSample(spark: SparkSession, documents: DataFrame,
                      winSamples: Int = 200, every: Int = 4,
                      codec: AudioCodec = WavCodec): DataFrame = {
    val windows = perPayload(mediaTable(spark, documents, audio = codec)
        .filter(col("meta.media_type") === "audio")) { (id, b) =>
      codec.decode(b).toSeq.flatMap { case (s, _, _) =>
        val nWin = s.length / winSamples
        (0 until nWin by every).map { w =>
          val off = w * winSamples
          var ss = 0.0; var zc = 0L
          var i = 0
          while (i < winSamples) {
            val x = s(off + i).toDouble
            ss += x * x
            if (i > 0 && (s(off + i) >= 0) != (s(off + i - 1) >= 0)) zc += 1
            i += 1
          }
          AudioWin(id, w, winSamples,
            math.floor(math.sqrt(ss / winSamples) * 100).toLong, zc)
        }
      }
    }.toDF()
    graft.Pins.pinSorted(windows, col("doc_id"), col("win_idx"))
  }

  /** The audio lanes' per-rep clip: [[renderAudio]] → REAL WAV encode
    * through the codec seam. */
  private def renderWav(text: String, codec: AudioCodec): Array[Byte] =
    codec.encode(renderAudio(text, AudioRate, AudioSamples), AudioRate)

  /** q198: AUDIO perceptual near-dup pairs — the q93 pass for the
    * audio axis: the byte-identity pass (q79) misses a re-encoded or
    * attenuated copy of the same recording; the spectral fingerprint
    * still sees it. Per rep: synth → REAL WAV encode → REAL decode →
    * 64-bit [[audioFingerprint]] (computed from the DECODED payload,
    * so the output proves the codec ran — q52's re-decode discipline);
    * candidates via the shared 4×16-bit-band pigeonhole join; exact
    * Hamming verify. Only (doc_id, fingerprint) rows shuffle — samples
    * and payloads never leave their partition. rows-only with
    * planted-dup specs, like q93. */
  def q198AudioNeardup(spark: SparkSession, documents: DataFrame,
                       maxHamming: Int = 3,
                       codec: AudioCodec = WavCodec): DataFrame = {
    val (fp, members) = renderReps(documents, "afp") { text =>
      val (s, rate, _) = codec.decode(renderWav(text, codec)).get
      audioFingerprint(s, rate)
    }
    hammingCliques(
      Dedup.hammingBandPairs(graft.Pins.pin(fp), "afp", maxHamming), members)
  }

  // ------------------------------------------------ q204 audio overlap

  private[graft] case class AWinRow(doc_id: Long, win_idx: Int, wfp: Long)

  /** PCM samples viewed as a char stream: Short and Char are both
    * 16-bit, so [[Dedup.winnowChars]]' rolling-hash winnowing — and
    * with it the ALIGNMENT-INDEPENDENT detection guarantee proved in
    * SubstrIndexSpec — applies to audio verbatim. */
  private def samplesAsChars(s: Array[Short]): String = {
    val cs = new Array[Char](s.length)
    var i = 0
    while (i < s.length) { cs(i) = (s(i) & 0xffff).toChar; i += 1 }
    new String(cs)
  }

  /** Exact-mode anchors: winnowed (pos, hash) fingerprints over the
    * sample stream — gram = `winSamples` samples, winnow window
    * winSamples/2. Guarantee (the q200 bound t = w + w' − 1): any
    * shared verbatim run of ≥ 1.5·winSamples samples selects at least
    * one identical anchor in both docs AT ANY SAMPLE OFFSET — the r15
    * grid kernel found an embed only when it started at a multiple of
    * winSamples, a silent recall hole for exactly the re-edited-
    * compilation case the operator exists for. */
  private[graft] def winnowSampleAnchors(s: Array[Short], winSamples: Int)
      : Seq[(Int, Long)] =
    Dedup.winnowChars(samplesAsChars(s), winSamples,
      winSamples + winSamples / 2 - 1)

  /** Sorted positions split into runs whose consecutive gaps are ≤
    * `maxGap`: (first, last, count) per run. */
  private def segmentRuns(ps: Seq[Int], maxGap: Int): Seq[(Int, Int, Int)] = {
    val runs = scala.collection.mutable.ArrayBuffer[(Int, Int, Int)]()
    var cs = ps.head; var ce = ps.head; var cn = 1
    ps.tail.foreach { p =>
      if (p - ce > maxGap) { runs += ((cs, ce, cn)); cs = p; ce = p; cn = 1 }
      else { ce = p; cn += 1 }
    }
    runs += ((cs, ce, cn))
    runs.toSeq
  }

  /** Core audio-overlap kernel over any (doc_id, payload) frame.
    * Returns (pairs, docFull):
    *
    * pairs — (doc_a, doc_b, offset_samples, n_matched, run_samples),
    * one row per (pair, time diagonal): all matches of one contiguous
    * shared region agree on offset = pos_a − pos_b (the q200 diagonal
    * trick in time), n_matched counts the matched keys and
    * run_samples the audio they evidence.
    *
    * docFull — (doc_id, n_matched_full, run_full): what a pair of
    * byte-identical copies of this doc would report (the within-clique
    * stats).
    *
    * Two key modes:
    *  - exact (winnowed anchors, [[winnowSampleAnchors]]): verbatim
    *    embeds at ANY sample offset; each matched anchor certifies a
    *    winSamples-long identical run ([[Dedup.q114]] collision
    *    contract), so run_samples = anchor span + winSamples and the
    *    gate run_samples ≥ minRunWins·winSamples GUARANTEES reporting
    *    any shared run of ≥ (minRunWins+1)·winSamples samples
    *    (worst-case winnowing bound: evidenced run ≥ L − 2·w′ + 2,
    *    w′ = winSamples/2) — alignment-free, spec'd with a planted
    *    NON-multiple-offset embed.
    *  - perceptual (default; grid windows + band-sign fingerprints):
    *    tolerates re-encoding/attenuation that breaks exact hashes,
    *    but matches only grid-ALIGNED embeds (offset a multiple of
    *    winSamples) — the two modes occupy the two corners of the
    *    (alignment-free × noise-tolerant) square; covering both at
    *    once needs constellation-style landmark hashing, out of
    *    scope and documented in SURVEY §2c.
    *
    * `dfCap` is the [[Dedup.dropHot]] cap either way. Payloads never
    * shuffle — only (doc_id, pos, 8-byte key) rows do. */
  private[graft] def audioOverlapPairs(media: DataFrame, winSamples: Int,
                                       minRunWins: Int, dfCap: Int,
                                       codec: AudioCodec,
                                       exact: Boolean = false)
      : (DataFrame, DataFrame) = {
    val spark = media.sparkSession
    import spark.implicits._
    val minRunSamples = minRunWins.toLong * winSamples
    val wfps = perPayload(media) { (id, b) =>
      codec.decode(b).toSeq.flatMap { case (s, rate, _) =>
        if (exact)
          winnowSampleAnchors(s, winSamples).map { case (pos, h) =>
            AWinRow(id, pos, h)
          }
        else {
          val nWin = s.length / winSamples
          (0 until nWin).map { w =>
            AWinRow(id, w * winSamples,
              audioFingerprint(java.util.Arrays.copyOfRange(
                s, w * winSamples, (w + 1) * winSamples), rate))
          }
        }
      }
    }.toDF()
      .transform(graft.Pins.pin) // a/b join sides + df rollup + docFull
    val kept = Dedup.dropHot(wfps, "wfp", "doc_id", dfCap)
    // no distinct before the rollups: (doc_id, win_idx) is unique per
    // row, so joined pairs cannot collide on (doc_a, doc_b, offset,
    // pa) — and both branches below aggregate with SET semantics, so
    // even a hypothetical duplicate could change nothing. The distinct
    // this replaced was a full extra exchange+aggregate over the
    // matched-key stream, the largest intermediate of the query
    // (r19, guide §2.4; the perceptual branch's old count(1) was the
    // duplicate-sensitive aggregate that kept Catalyst from eliding it)
    val matched = kept.as("a").join(kept.as("b"),
        col("a.wfp") === col("b.wfp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("a.win_idx") - col("b.win_idx")).as("offset_samples"),
        col("a.win_idx").as("pa"))
    val diagonals = matched
      .groupBy(col("doc_a"), col("doc_b"), col("offset_samples"))
      .agg(sort_array(collect_set(col("pa"))).as("pas"))
      .as[(Long, Long, Int, Seq[Int])]
    val pairs =
      (if (exact)
        // evidenced audio on this diagonal, SEGMENTED into contiguous
        // clusters (r16 review): an anchor match certifies winSamples
        // of IDENTICAL content from its position (the q114 collision
        // contract), so consecutive matched positions ≤ winSamples
        // apart have touching certified spans — one shared snippet.
        // A gap > winSamples is UNCERTIFIED content between two
        // separate shared snippets that happen to sit at the same
        // relative offset (e.g. a copy with a replaced middle); the
        // old single min..max hull both let the combined anchor count
        // pass the minRunWins gate for runs that were individually
        // sub-gate AND made the scrub lane (q206) cut the unshared
        // gap. One row per cluster: the gate applies per snippet and
        // the cut extents never cover unevidenced samples. Winnowing
        // places anchors every ≤ winSamples/2 positions on a verbatim
        // run, so a true contiguous embed NEVER splits.
        diagonals.flatMap { case (da, db, off, pas) =>
          // within a cluster consecutive gaps ≤ winSamples, so the
          // span is fully certified: run == span, no cap needed
          segmentRuns(pas, winSamples).map { case (s, e, n) =>
            (da, db, off, n.toLong, (e - s + winSamples).toLong,
              // matched extents on the a side (b side = a − offset):
              // the scrub lane (q206) cuts these sample ranges
              s.toLong, (e + winSamples).toLong)
          }
        }
      else
        // perceptual keys certify nothing exact — an isolated band-sign
        // collision is noise, so evidence must be a CONSECUTIVE window
        // run (the r15 semantics; the r16 rewrite briefly gated on the
        // span cap alone, which let 3 scattered one-window coincidences
        // on one diagonal pass a minRunWins=3 gate)
        diagonals.map { case (da, db, off, pas) =>
          var best = 0; var run = 0; var prev = Int.MinValue
          pas.foreach { p =>
            run = if (p == prev + winSamples) run + 1 else 1
            if (run > best) best = run
            prev = p
          }
          // n_matched == the old count over the distinct'd stream:
          // within a group, rows are distinct pa values
          (da, db, off, pas.size.toLong, best.toLong * winSamples,
            pas.head.toLong, pas.last.toLong + winSamples)
        })
      .toDF("doc_a", "doc_b", "offset_samples", "n_matched",
        "run_samples", "a_start", "a_end")
      .filter(col("run_samples") >= minRunSamples)
    // per-doc full-overlap stats from the CAPPED frame: a rep whose
    // keys are all dfCap-hot witnesses nothing for its clique either —
    // within rows must pass the same cap as cross pairs (r16 review)
    val docFull = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_matched_full"),
        least(max(col("win_idx")) - min(col("win_idx")) + winSamples,
          count(lit(1)) * winSamples).cast("long").as("run_full"))
    (pairs, docFull)
  }

  /** q204: audio PARTIAL-OVERLAP near-dup — the audio analog of
    * q200-vs-q79: [[q198AudioNeardup]] fingerprints WHOLE clips, so a
    * clip embedded inside a longer one (the re-broadcast / compilation
    * / sampled-intro mode) is invisible to it exactly as a quoted
    * passage is invisible to whole-doc hashing. Per exact-dup rep:
    * synth → WAV round-trip through the codec seam → window keys
    * (exact mode: winnowed anchors, ALIGNMENT-INDEPENDENT — the r16
    * fix; perceptual default: grid band-sign fps, re-encode-tolerant
    * but grid-gated — see [[audioOverlapPairs]]) → diagonal grouping;
    * reported pairs carry the time offset IN SAMPLES and the
    * evidenced run length, i.e. WHERE and HOW LONG the shared audio
    * is. rows-only: codec-dependent; the planted clip-in-compilation
    * specs (grid-aligned AND non-aligned offsets) carry the
    * correctness argument. */
  def q204AudioOverlap(spark: SparkSession, documents: DataFrame,
                       winSamples: Int = 1000, minRunWins: Int = 3,
                       dfCap: Int = 0,
                       codec: AudioCodec = WavCodec,
                       exact: Boolean = false): DataFrame = {
    val (media, members) = renderReps(documents, "payload")(renderWav(_, codec))
    val (repPairs, docFull) = audioOverlapPairs(media, winSamples,
      minRunWins, dfCap, codec, exact)
    cliquePairs(repPairs, members, Seq("offset_samples"),
      Seq("n_matched", "run_samples"),
      Some(docFull.filter(col("run_full") >= minRunWins.toLong * winSamples)),
      Seq(col("n_matched_full").as("n_matched"), col("run_full").as("run_samples")))
  }

  /** Driver-facing RECONCILIATION of [[q204AudioOverlap]] — the
    * q112Driver trick on the audio axis, over the EXACT window-hash
    * mode: the synth voice of a token depends only on the token's
    * hash, so a clip's audio is a pure function of its top-8 token
    * SET ((count desc, token) ranking, order-insensitive sum of
    * voices) — and on the driver corpus (fixed-length clips, no
    * embedded sub-clips) the exact-mode pair set is EXACTLY the set
    * of doc pairs with equal top-8 sets: identical audio ⇒ identical
    * winnowed anchor sets, all matching on diagonal 0 with evidenced
    * run ≥ the deterministic winnowing floor; different samples
    * ⇒ no match (60-bit content hash, the q114 collision contract).
    * The PERCEPTUAL default cannot be reconciled this way — its
    * band-sign fingerprints legitimately fire on near-identical
    * audio too (found at sf0.1: a 7-of-8-voices pair matched 3 of 4
    * windows), which is its value as a dedup signal and its
    * disqualification as an exact oracle. DuckDB computes the same
    * pair count independently from the token rollup; the offset/run
    * verdicts are predicted-TRUE. The full perceptual report stays
    * [[q204AudioOverlap]]. */
  def q204Driver(spark: SparkSession, documents: DataFrame,
                 winSamples: Int = 1000, minRunWins: Int = 3): DataFrame = {
    val out = q204AudioOverlap(spark, documents, winSamples, minRunWins,
      exact = true)
    // full-overlap floor for identical AudioSamples-long clips under
    // the winnowed kernel: worst-case evidenced run ≥ L − 2·w′ + 2
    // with w′ = winSamples/2 — a deterministic winnowing bound, so
    // 3·AudioSamples/4 (= 3000 at defaults, where the worst case is
    // 3002) is predicted-TRUE, not a tuned threshold
    val floor = 3L * AudioSamples / 4
    out.agg(count(lit(1)).cast("long").as("n_pairs"),
        max(abs(col("offset_samples"))).as("mx_off"),
        min(col("run_samples")).as("mn_run"))
      .select(col("n_pairs"),
        coalesce(col("mx_off") === 0, lit(true)).as("offsets_zero_ok"),
        coalesce(col("mn_run") >= floor, lit(true)).as("full_run_ok"))
  }

  // ------------------------------------------ q207 audio landmarks

  /** Spectral LANDMARK fingerprints (Wang, ISMIR'03 — the Shazam
    * constellation): per 256-sample Hann-windowed frame (hop 128),
    * the top-3 spectral-peak bins; landmarks are (anchor peak, two
    * peaks in the following `zone` frames) triples hashed as
    * (f1, f2, f3, Δt2, Δt3) — 27 bits, NO absolute time, NO absolute
    * magnitude. That hash survives BOTH of the failure modes the
    * q204 modes split between: a time shift moves every landmark's
    * anchor frame by the same amount but changes no hash (peaks of
    * quasi-stationary audio land in the same bins when the frame
    * grid slides under them), and amplitude scaling / light
    * re-encoding preserves argmax bins even as magnitudes change.
    * Emits (anchor_frame, hash) rows — ~a few hundred per clip,
    * id-sized like every other fingerprint family.
    *
    * Spectra come from an in-place iterative radix-2 FFT (the naive
    * DFT measured 147 s for the sf0.1 corpus; the FFT 9.4 s). Peak picking is strict-inequality
    * local maxima, ties broken by bin — content-determined, so two
    * copies of the same audio emit identical landmark sets. */
  /** FFT tables (Hann window, bit-reversal permutation, per-level
    * twiddle factors) for one power-of-two frame size — pure functions
    * of `frame`, cached executor-wide so [[spectralLandmarks]] builds
    * them once per JVM instead of once per document (r19). */
  private val fftTableCache =
    new java.util.concurrent.ConcurrentHashMap[Int,
      (Array[Double], Array[Int], Array[Array[Double]], Array[Array[Double]])]()
  private def fftTables(frame: Int)
      : (Array[Double], Array[Int], Array[Array[Double]], Array[Array[Double]]) =
    fftTableCache.computeIfAbsent(frame, { f =>
      val levels = java.lang.Integer.numberOfTrailingZeros(f)
      val hann = Array.tabulate(f)(i =>
        0.5 - 0.5 * math.cos(2 * math.Pi * i / (f - 1)))
      val rev = Array.tabulate(f)(i =>
        java.lang.Integer.reverse(i) >>> (32 - levels))
      val twCos = Array.tabulate(levels) { st =>
        val len = 1 << (st + 1)
        Array.tabulate(len / 2)(j => math.cos(-2 * math.Pi * j / len))
      }
      val twSin = Array.tabulate(levels) { st =>
        val len = 1 << (st + 1)
        Array.tabulate(len / 2)(j => math.sin(-2 * math.Pi * j / len))
      }
      (hann, rev, twCos, twSin)
    })

  private[graft] def spectralLandmarks(s: Array[Short], frame: Int = 256,
                                       hop: Int = 128, peaksPerFrame: Int = 3,
                                       zone: Int = 7, fanout: Int = 5)
      : Seq[(Int, Long)] = {
    if (s.length < frame) return Nil
    require((frame & (frame - 1)) == 0, s"frame size $frame must be a power of 2")
    // the packed hash carries dt2/dt3 in 3 bits each, so the target
    // zone cannot reach past 7 frames; rejecting out-of-range values
    // beats the silent clamp the old dt<=7 filter applied (a caller
    // passing zone=12 got no landmarks beyond dt 7 and no error)
    require(zone >= 1 && zone <= 7, s"zone $zone outside the packable 1..7")
    val nFrames = (s.length - frame) / hop + 1
    val bins = frame / 2
    // iterative radix-2 FFT (Cooley–Tukey): the naive DFT cost
    // O(frame·bins) per frame priced the whole operator at 147 s for
    // the sf0.1 corpus (measured); the FFT reads 9.4 s. Tables (Hann
    // window, bit-reversal, twiddles) are pure functions of `frame` —
    // CACHED per frame size (r19: they were rebuilt per CALL, i.e. per
    // document, and the ~4k transcendentals of a 256-table build cost
    // as much as the ~30 FFTs they serve); buffers are reused per
    // frame.
    val levels = java.lang.Integer.numberOfTrailingZeros(frame)
    val (hann, rev, twCos, twSin) = fftTables(frame)
    val re = new Array[Double](frame)
    val im = new Array[Double](frame)
    // top-k peak bins per frame
    val peaks = Array.tabulate(nFrames) { t =>
      val off = t * hop
      var i = 0
      while (i < frame) {
        re(i) = s(off + rev(i)) * hann(rev(i)); im(i) = 0.0
        i += 1
      }
      var st = 0
      while (st < levels) {
        val half = 1 << st
        val len = half << 1
        val c = twCos(st); val sn = twSin(st)
        var base = 0
        while (base < frame) {
          var j = 0
          while (j < half) {
            val a = base + j; val b = a + half
            val tr = re(b) * c(j) - im(b) * sn(j)
            val ti = re(b) * sn(j) + im(b) * c(j)
            re(b) = re(a) - tr; im(b) = im(a) - ti
            re(a) = re(a) + tr; im(a) = im(a) + ti
            j += 1
          }
          base += len
        }
        st += 1
      }
      val mag = Array.tabulate(bins)(b => re(b) * re(b) + im(b) * im(b))
      // top-`peaksPerFrame` local maxima by (mag desc, bin asc), output
      // ascending by bin — a primitive insertion pick replacing the
      // old Range.filter.sortBy.take.sorted chain (r19: one boxed sort
      // per frame per doc); same candidates, same tie rule (strict >
      // keeps the earlier bin of a tie ahead, exactly like the old
      // (-mag, b) sort key), so the selected bins are identical
      val topB = new Array[Int](peaksPerFrame)
      val topM = new Array[Double](peaksPerFrame)
      var nTop = 0
      var b = 2
      while (b < bins - 1) {
        if (mag(b) > mag(b - 1) && mag(b) >= mag(b + 1)) {
          val m = mag(b)
          if (nTop < peaksPerFrame || m > topM(nTop - 1)) {
            var p = math.min(nTop, peaksPerFrame - 1)
            while (p > 0 && topM(p - 1) < m) {
              topB(p) = topB(p - 1); topM(p) = topM(p - 1); p -= 1
            }
            topB(p) = b; topM(p) = m
            if (nTop < peaksPerFrame) nTop += 1
          }
        }
        b += 1
      }
      java.util.Arrays.copyOf(topB, nTop).sorted.toIndexedSeq
    }
    val out = Seq.newBuilder[(Int, Long)]
    var t = 0
    while (t < nFrames) {
      val zonePeaks = ((t + 1) to math.min(t + zone, nFrames - 1))
        .flatMap(tt => peaks(tt).map(b => (tt - t, b)))
      peaks(t).foreach { f1 =>
        var taken = 0
        var i = 0
        while (taken < fanout && i < zonePeaks.length - 1) {
          // dt2/dt3 ≤ zone ≤ 7 by the require above — always packable
          val (dt2, f2) = zonePeaks(i)
          val (dt3, f3) = zonePeaks(i + 1)
          val h = (f1.toLong << 20) | (f2.toLong << 13) |
            (f3.toLong << 6) | (dt2.toLong << 3) | dt3.toLong
          out += ((t, h))
          taken += 1
          i += 1
        }
      }
      t += 1
    }
    // PER-DOC OCCURRENCE CAP: stationary audio (held tones, drones —
    // and this corpus' synth voices) emits the SAME triple at every
    // frame, and the pair join's fan-out is |t_a|·|t_b| per shared
    // hash — 30×30 rows where 4×4 witness the same offset. Keeping
    // the 4 earliest occurrences per hash bounds the fan-out at a
    // constant with no recall cost: an embed's diagonal only needs
    // one surviving (t_a, t_b) co-occurrence, and "earliest by time"
    // is content-determined so both copies keep aligned occurrences.
    // Emission order is already t-ascending, so one counting pass
    // keeps exactly the 4 earliest per hash — the old groupBy +
    // per-hash sortBy allocated a Map of the full landmark set per
    // document for the same selection (r19).
    val res = out.result()
    val cnt = scala.collection.mutable.HashMap.empty[Long, Int]
    res.filter { case (_, h) =>
      val c = cnt.getOrElse(h, 0)
      if (c < 4) { cnt(h) = c + 1; true } else false
    }
  }

  /** Landmark-pair kernel over a (doc_id, payload) frame: join on the
    * 27-bit landmark hash, histogram the frame offsets per pair, and
    * report each pair's best offset with its ±1-frame support (a
    * non-hop-aligned embed lands its landmarks on two adjacent
    * diagonals — Wang's histogram peak, as a window sum). Returns
    * (pairs, docFull) like [[audioOverlapPairs]]; `dfCap` is the same
    * hot-bucket backstop. */
  private[graft] def audioLandmarkPairs(media: DataFrame,
                                        minLandmarks: Int, dfCap: Int,
                                        codec: AudioCodec)
      : (DataFrame, DataFrame) = {
    val spark = media.sparkSession
    import spark.implicits._
    val lmsRaw = perPayload(media) { (id, b) =>
      codec.decode(b).toSeq.flatMap { case (s, _, _) =>
        spectralLandmarks(s).map { case (t, h) => AWinRow(id, t, h) }
      }
    }
    // With a positive dfCap (the production default) every hash group
    // is bounded at dfCap docs × 4 capped occurrences, so the pair
    // expansion runs INSIDE one groupByKey(hash) group: ONE exchange
    // of the landmark stream replaces the old chain of [df rollup +
    // anti-join] + [a/b self-join] + [pair-stream distinct] — at sf0.1
    // that chain shuffled ~150 MB through four back-to-back stages
    // (r19 StageProbe) to produce KB-sized diagonals. Per-group
    // semantics are IDENTICAL: the cap drops the whole group exactly
    // like the anti-join did, and in-group (doc_a, doc_b, offset)
    // dedup equals the old global distinct over (…, h) because h is
    // fixed within a group. The uncapped form (dfCap ≤ 0, spec/audit
    // use) keeps the join shape — an unbounded hot hash must fan out
    // as rows, never buffer as one group.
    val (pairRows, docFull) =
      if (dfCap > 0) {
        // STREAMING df-cap (r20, VERDICT #1): the cap decides while the
        // group ITERATOR streams — a corpus-hot hash (silent/jingle
        // audio carried by millions of docs, exactly what the cap
        // exists to kill) is detected at its (dfCap+1)-th distinct doc
        // and the rest of the group is left unconsumed (Spark's grouped
        // iterator skips the remainder), so per-task memory is bounded
        // at O(dfCap × 4) tuples for EVERY group, hot or not. The old
        // form buffered the whole group (`it.toArray`) BEFORE the cap
        // filter — an OOM vector the anti-join shape never had.
        // Semantics identical: groups with ≤ dfCap distinct docs are
        // fully buffered as before; groups above return the empty
        // sentinel and are dropped — exactly the anti-join's whole-
        // group drop. lmsRaw's emission is per-doc contiguous, but a
        // group interleaves docs arbitrarily, so distinctness is
        // tracked with a (bounded, ≤ dfCap+1) set, not adjacency.
        val groups = graft.Pins.pin( // two consumers: pairs + docFull
          lmsRaw.groupByKey(_.wfp)
            .mapGroups { (_, it) =>
              val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
              val docs = scala.collection.mutable.HashSet.empty[Long]
              var over = false
              while (!over && it.hasNext) {
                val r = it.next()
                docs += r.doc_id
                if (docs.size > dfCap) over = true
                else buf += ((r.doc_id, r.win_idx))
              }
              if (over) Array.empty[(Long, Int)] else buf.toArray
            }
            .filter(_.nonEmpty))
        val pr = groups.flatMap { occ =>
          val out = scala.collection.mutable.HashSet.empty[(Long, Long, Int)]
          var i = 0
          while (i < occ.length) {
            var j = 0
            while (j < occ.length) {
              if (occ(i)._1 < occ(j)._1)
                out += ((occ(i)._1, occ(j)._1, occ(i)._2 - occ(j)._2))
              j += 1
            }
            i += 1
          }
          out.iterator
        }.toDF("doc_a", "doc_b", "offset_frames")
        val df = groups.flatMap { occ =>
          val m = scala.collection.mutable.HashMap.empty[Long, Long]
          occ.foreach(o => m(o._1) = m.getOrElse(o._1, 0L) + 1L)
          m.iterator
        }.toDF("doc_id", "c")
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).cast("long").as("n_landmarks"))
        (pr, df)
      } else {
        val kept = lmsRaw.toDF().transform(graft.Pins.pin)
        val pr = kept.as("a").join(kept.as("b"),
            col("a.wfp") === col("b.wfp") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            (col("a.win_idx") - col("b.win_idx")).as("offset_frames"),
            col("a.wfp").as("h"))
          .distinct()
          .select(col("doc_a"), col("doc_b"), col("offset_frames"))
        (pr, kept.groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("long").as("n_landmarks")))
      }
    val byOffset = pairRows
      .groupBy(col("doc_a"), col("doc_b"), col("offset_frames"))
      .agg(count(lit(1)).cast("long").as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"))
      .orderBy(col("offset_frames"))
      .rangeBetween(-1, 1)
    val best = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"), col("doc_b"))
      .orderBy(col("n_win").desc, col("offset_frames"))
    val pairs = byOffset
      .withColumn("n_win", sum(col("n")).over(w))
      .filter(col("n_win") >= minLandmarks)
      .withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("doc_a"), col("doc_b"), col("offset_frames"),
        col("n_win").cast("long").as("n_matched"))
    (pairs, docFull)
  }

  /** q207: audio CONSTELLATION match — the corner of the
    * (alignment-free × noise-tolerant) square q204's two modes each
    * miss one side of: exact winnowed anchors find verbatim embeds at
    * any offset but break on ANY sample change; perceptual grid fps
    * tolerate re-encoding but only at grid-aligned offsets. Landmark
    * triples ([[spectralLandmarks]]) are invariant to time shift AND
    * to amplitude/light spectral distortion, so an ATTENUATED clip
    * embedded at an arbitrary sample offset — invisible to BOTH q204
    * modes, spec'd exactly so — is reported here with its frame
    * offset and landmark support. Within-clique rows carry the rep's
    * own landmark count. `dfCap` defaults ON (64): a landmark triple
    * carried by more docs than that is the jingle/drone boilerplate
    * of the audio axis (the q202 argument), and on corpora with few
    * distinct spectral voices it is also what keeps the hash join
    * linear. rows-only: a statistical matcher has no
    * equality oracle (the q204 perceptual lesson); the planted
    * attenuated/non-aligned specs carry the correctness argument. */
  def q207AudioLandmarks(spark: SparkSession, documents: DataFrame,
                         minLandmarks: Int = 8, dfCap: Int = 64,
                         codec: AudioCodec = WavCodec): DataFrame = {
    val (media, members) = renderReps(documents, "payload")(renderWav(_, codec))
    val (repPairs, docFull) = audioLandmarkPairs(media, minLandmarks,
      dfCap, codec)
    cliquePairs(repPairs, members, Seq("offset_frames"), Seq("n_matched"),
      Some(docFull.filter(col("n_landmarks") >= minLandmarks)),
      Seq(col("n_landmarks").as("n_matched")))
  }

  // ------------------------------------------------ q206 audio scrub

  /** Merge [start, end) intervals (any order; overlapping or touching
    * ones merge) clamped to [0, n) into sorted disjoint runs — the one
    * interval walk behind the q206 sample cut and the q212 frame cut,
    * so a position cut by two spans is cut once. */
  private[graft] def mergeIntervals(iv: Seq[(Long, Long)], n: Int): Seq[(Int, Int)] = {
    val merged = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    iv.map { case (a, b) => (math.max(0L, a), math.min(n.toLong, b)) }
      .filter(p => p._2 > p._1).sortBy(_._1).foreach { case (a, b) =>
        if (merged.nonEmpty && a <= merged.last._2) {
          val (la, lb) = merged.last
          merged(merged.size - 1) = (la, math.max(lb, b.toInt))
        } else merged += ((a.toInt, b.toInt))
      }
    merged.toSeq
  }

  /** Interval-union cut over one PCM clip: remove the samples covered
    * by `iv` ([[mergeIntervals]]) — the q203 cut walk in samples.
    * Returns (kept samples, cut count). */
  private[graft] def cutSamples(s: Array[Short], iv: Seq[(Long, Long)])
      : (Array[Short], Int) = {
    val merged = mergeIntervals(iv, s.length)
    val cut = merged.map(p => p._2 - p._1).sum
    val out = new Array[Short](s.length - cut)
    var src = 0; var dst = 0
    (merged :+ ((s.length, s.length))).foreach { case (a, b) =>
      System.arraycopy(s, src, out, dst, a - src)
      dst += a - src; src = b
    }
    (out, cut)
  }

  /** q206: AUDIO SCRUB — the REWRITE half of q204, completing the
    * multimodal decontamination story the way q203 completed q200's:
    * q204 DETECTS an embedded clip; this CUTS the embedded samples out
    * and keeps the rest of the recording (Lee et al.'s ExactSubstr
    * treatment — delete the repeated bytes, not the documents —
    * applied to PCM).
    *
    * Composition: exact-mode [[audioOverlapPairs]] (winnowed anchors,
    * so embeds at ANY sample offset are found) → per-rep interval
    * union of the matched extents on the doc_b side → [[cutSamples]]
    * → re-encode through the codec seam ([[scrubReps]]).
    *
    * The cut extent is the ANCHOR-EVIDENCED span — up to winSamples/2
    * short of the true embed boundary on each side (the winnowing
    * slack; q203's text lane pays the same at its gram length).
    * Residual shared runs after the cut are therefore < 1.5·winSamples
    * — strictly below the minRunWins·winSamples report gate, so a
    * re-probe of the scrubbed corpus is CLEAN by construction (spec'd
    * with a planted non-aligned embed).
    *
    * Output: (doc_id, payload [scrubbed WAV], n_samples, cut_samples,
    * out_samples). Scale shape: q204's own exchanges plus one
    * rep-keyed join of pair-count-sized interval rows. */
  def q206AudioScrub(spark: SparkSession, documents: DataFrame,
                     winSamples: Int = 1000, minRunWins: Int = 3,
                     dfCap: Int = 0,
                     codec: AudioCodec = WavCodec): DataFrame =
    scrubReps[(Long, Long), (Long, Array[Byte], Long, Long, Long)](documents,
        renderWav(_, codec),
        Seq("payload", "n_samples", "cut_samples", "out_samples")) { media =>
      val (pairs, _) = audioOverlapPairs(media, winSamples, minRunWins,
        dfCap, codec, exact = true)
      pairs.select(col("doc_b").as("doc_id"),
        (col("a_start") - col("offset_samples")).as("c_start"),
        (col("a_end") - col("offset_samples")).as("c_end"))
    } {
      case (id, payload, None) =>
        // decoded once for the sample count, never re-encoded
        val n = codec.decode(payload).map(_._1.length).getOrElse(0)
        (id, payload, n.toLong, 0L, n.toLong)
      case (id, payload, Some(iv)) =>
        val (s, rate, _) = codec.decode(payload).get
        val (kept, cut) = cutSamples(s, iv)
        (id, codec.encode(kept, rate), s.length.toLong, cut.toLong,
          kept.length.toLong)
    }

  /** Driver-facing RECONCILIATION of [[q206AudioScrub]] — the q203
    * length identity in samples: the scrub PARTITIONS each clip into
    * kept + cut samples, so out_samples == n_samples − cut_samples
    * for every doc, 0 ≤ cut ≤ n, and on the driver corpus every synth
    * clip is exactly AudioSamples long — all independently computable
    * by DuckDB (predicted-TRUE verdicts, the q112Driver pattern). An
    * interval-walk bug (double-cut overlap, seam off-by-one, dropped
    * tail) breaks the identity and hash-mismatches at the gate; the
    * scrubbed corpus itself stays [[q206AudioScrub]]. */
  def q206Driver(spark: SparkSession, documents: DataFrame): DataFrame =
    q206AudioScrub(spark, documents)
      .select(col("doc_id"), col("n_samples"),
        (col("out_samples") === col("n_samples") - col("cut_samples"))
          .as("len_ok"),
        (col("cut_samples") >= 0L && col("cut_samples") <= col("n_samples"))
          .as("cut_bounds_ok"))
      .orderBy(col("doc_id"))

  // ------------------------------------------------ q205 image overlap

  private[graft] case class TileRow(doc_id: Long, ax: Int, ay: Int, th: Long)

  /** WINNOWED 2D tile anchors over one decoded image — the q200/q204
    * alignment-independence construction lifted to two dimensions.
    *
    * Every tile×tile pixel block AT EVERY (x, y) position gets a
    * dual-modulus 2D polynomial hash (row pass with base B, column
    * pass with base C — the 2D Rabin–Karp factorization, O(w·h) for
    * all positions, not O(w·h·tile²)); then 2D winnowing selects the
    * minimum-hash position in every w′×w′ window of positions
    * (w′ = tile/2, rightmost-bottom on ties). Two copies of the same
    * pixel rectangle select the same anchors RELATIVE TO CONTENT no
    * matter where each copy sits — the r15 grid kernel saw a paste
    * only at multiples of the tile size, a silent recall hole for
    * arbitrary crops (the verdict's #1 wrong item).
    *
    * Guarantee (the 1D bound per axis): any shared rectangle of at
    * least (tile + w′ − 1)² pixels whose interior contains an
    * eligible (non-uniform) position shares ≥ 1 anchor. UNIFORM
    * blocks are ineligible for selection — a flat background tile
    * witnesses nothing (the silence-window analog); eligibility is
    * content-determined (hash equals the closed-form uniform-block
    * hash of the top-left color), so both copies skip identically.
    *
    * Brute-force window minima cost O(positions · w′²) — right at the
    * test-scale 16–32 px renders; production image sizes replace the
    * inner scan with the standard two-pass monotone-deque sliding
    * minimum (same anchors, O(positions)). */
  private[graft] def winnowTileAnchors(rgb: Array[Int], w: Int, h: Int,
                                       tile: Int): Seq[(Int, Int, Long)] = {
    if (w < tile || h < tile) return Nil
    val P1 = 1000000007L; val B1 = 31L; val C1 = 1000003L
    val P2 = 998244353L;  val B2 = 131L; val C2 = 131071L
    val nx = w - tile + 1; val ny = h - tile + 1
    def px(x: Int, y: Int): Long = (rgb(y * w + x) & 0xffffff).toLong
    // row pass: r(x, y) = poly hash of row y, cols [x, x+tile)
    var pwB1 = 1L; var pwB2 = 1L
    var i = 0
    while (i < tile - 1) { pwB1 = pwB1 * B1 % P1; pwB2 = pwB2 * B2 % P2; i += 1 }
    val r1 = Array.ofDim[Long](h, nx); val r2 = Array.ofDim[Long](h, nx)
    var y = 0
    while (y < h) {
      var h1 = 0L; var h2 = 0L
      var x = 0
      while (x < tile) { h1 = (h1 * B1 + px(x, y)) % P1
        h2 = (h2 * B2 + px(x, y)) % P2; x += 1 }
      r1(y)(0) = h1; r2(y)(0) = h2
      x = 1
      while (x < nx) {
        h1 = ((h1 - px(x - 1, y) * pwB1 % P1 + P1 * 31) % P1 * B1 +
          px(x + tile - 1, y)) % P1
        h2 = ((h2 - px(x - 1, y) * pwB2 % P2 + P2 * 131) % P2 * B2 +
          px(x + tile - 1, y)) % P2
        r1(y)(x) = h1; r2(y)(x) = h2
        x += 1
      }
      y += 1
    }
    // column pass: H(x, y) = poly hash over r(x, y..y+tile) with base C
    var pwC1 = 1L; var pwC2 = 1L
    i = 0
    while (i < tile - 1) { pwC1 = pwC1 * C1 % P1; pwC2 = pwC2 * C2 % P2; i += 1 }
    val hh = Array.ofDim[Long](ny, nx)
    var x = 0
    while (x < nx) {
      var h1 = 0L; var h2 = 0L
      var yy = 0
      while (yy < tile) { h1 = (h1 * C1 + r1(yy)(x)) % P1
        h2 = (h2 * C2 + r2(yy)(x)) % P2; yy += 1 }
      hh(0)(x) = (h1 << 31) | h2
      yy = 1
      while (yy < ny) {
        h1 = ((h1 - r1(yy - 1)(x) * pwC1 % P1 + P1) % P1 * C1 +
          r1(yy + tile - 1)(x)) % P1
        h2 = ((h2 - r2(yy - 1)(x) * pwC2 % P2 + P2) % P2 * C2 +
          r2(yy + tile - 1)(x)) % P2
        hh(yy)(x) = (h1 << 31) | h2
        yy += 1
      }
      x += 1
    }
    // closed-form hash of a UNIFORM tile of color c: row hash is
    // c·ΣB^i, a column of equal rows v is v·ΣC^j — compare to skip
    // background positions (content-determined, so both copies of a
    // shared region skip identically)
    def geo(b: Long, p: Long): Long = {
      var s = 0L; var pw = 1L; var k = 0
      while (k < tile) { s = (s + pw) % p; pw = pw * b % p; k += 1 }
      s
    }
    val gB1 = geo(B1, P1); val gC1 = geo(C1, P1)
    val gB2 = geo(B2, P2); val gC2 = geo(C2, P2)
    def uniformHash(c: Long): Long = {
      val u1 = c % P1 * gB1 % P1 * gC1 % P1
      val u2 = c % P2 * gB2 % P2 * gC2 % P2
      (u1 << 31) | u2
    }
    def eligible(xx: Int, yy: Int): Boolean =
      hh(yy)(xx) != uniformHash(px(xx, yy))
    val win = math.max(1, tile / 2)
    val out = scala.collection.mutable.LinkedHashSet[(Int, Int, Long)]()
    // window grid (clamped to one window when the position grid is
    // smaller than w′ — the short-doc branch of winnowChars)
    val wxs = if (nx <= win) Seq(0) else 0 to (nx - win)
    val wys = if (ny <= win) Seq(0) else 0 to (ny - win)
    val wxe = math.min(win, nx); val wye = math.min(win, ny)
    wys.foreach { wy =>
      wxs.foreach { wx =>
        var bx = -1; var by = -1; var bh = Long.MaxValue
        var yy = wy
        while (yy < wy + wye) {
          var xx = wx
          while (xx < wx + wxe) {
            if (eligible(xx, yy) && hh(yy)(xx) <= bh) {
              bh = hh(yy)(xx); bx = xx; by = yy
            }
            xx += 1
          }
          yy += 1
        }
        if (bx >= 0) out += ((bx, by, bh))
      }
    }
    out.toSeq
  }

  /** Single-link clustering of 2D anchor positions: anchors within
    * Chebyshev distance ≤ `reach` are connected (their certified
    * tile×tile squares touch/overlap along both axes). Grid-bucketed
    * union-find — each anchor only probes its 3×3 neighboring cells
    * of side `reach`, so the per-diagonal cost is near-linear in the
    * anchor count, not O(k²). Returns one (count, minX, minY, maxX,
    * maxY) row per cluster, deterministic order. */
  private[graft] def clusterAnchors2d(apos: Seq[(Int, Int)], reach: Int)
      : Seq[(Int, Int, Int, Int, Int)] = {
    val pts = apos.distinct.sorted.toArray
    val n = pts.length
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(i: Int, j: Int): Unit = {
      val ri = find(i); val rj = find(j)
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val cells = scala.collection.mutable.HashMap
      .empty[(Int, Int), scala.collection.mutable.ArrayBuffer[Int]]
    def cellOf(p: (Int, Int)): (Int, Int) =
      (math.floorDiv(p._1, reach), math.floorDiv(p._2, reach))
    pts.indices.foreach { i =>
      cells.getOrElseUpdate(cellOf(pts(i)),
        scala.collection.mutable.ArrayBuffer.empty[Int]) += i
    }
    pts.indices.foreach { i =>
      val (cx, cy) = cellOf(pts(i))
      var dx = -1
      while (dx <= 1) {
        var dy = -1
        while (dy <= 1) {
          cells.get((cx + dx, cy + dy)).foreach(_.foreach { j =>
            if (j > i &&
                math.abs(pts(j)._1 - pts(i)._1) <= reach &&
                math.abs(pts(j)._2 - pts(i)._2) <= reach) union(i, j)
          })
          dy += 1
        }
        dx += 1
      }
    }
    pts.indices.groupBy(find).toSeq.sortBy(_._1).map { case (_, is) =>
      (is.length, is.map(pts(_)._1).min, is.map(pts(_)._2).min,
        is.map(pts(_)._1).max, is.map(pts(_)._2).max)
    }
  }

  /** Core of [[q205ImageOverlap]] over any (doc_id, payload) image
    * frame: REALLY DECODE each payload, select [[winnowTileAnchors]]'
    * content-defined anchor tiles, equality-join on the anchor hash,
    * and group by (pair, dx, dy) — the q200/q204 DIAGONAL trick in
    * TWO dimensions: every anchor of one pasted region shares the
    * same pixel offset (ax_a − ax_b, ay_a − ay_b), so a crop-and-
    * paste collapses into ONE row carrying WHERE (the pixel offset —
    * any offset, not just tile multiples) and HOW MUCH (matched-
    * anchor count). `dfCap` caps hot anchors ([[Dedup.dropHot]]). Only
    * (doc_id, ax, ay, 8-byte hash) rows shuffle; pixels stay
    * partition-local. Returns (pairs, per-doc anchor counts). */
  private[graft] def imageOverlapPairs(media: DataFrame, tile: Int,
                                       minTiles: Int, dfCap: Int,
                                       codec: MediaCodec)
      : (DataFrame, DataFrame) = {
    val spark = media.sparkSession
    import spark.implicits._
    val tiles = perPayload(media) { (id, b) =>
      codec.decode(b).toSeq.flatMap { case (img, _) =>
        val w = img.getWidth; val h = img.getHeight
        val rgb = img.getRGB(0, 0, w, h, null, 0, w)
        winnowTileAnchors(rgb, w, h, tile).map { case (ax, ay, th) =>
          TileRow(id, ax, ay, th)
        }
      }
    }.toDF()
      .transform(graft.Pins.pin) // a/b join sides + the df rollup
    val kept = Dedup.dropHot(tiles, "th", "doc_id", dfCap)
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.th") === col("b.th") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("a.ax") - col("b.ax")).as("dx_px"),
        (col("a.ay") - col("b.ay")).as("dy_px"),
        col("a.ax").as("aax"), col("a.ay").as("aay"))
      // no distinct: (doc_id, ax, ay) is unique per anchor row, so
      // joined pairs cannot collide on (pair, diagonal, anchor) — and
      // the rollup below is collect_SET, so even a hypothetical
      // duplicate changes nothing. Removing it removes a full
      // exchange+aggregate over the matched-anchor stream (r19; the
      // old collect_list was the duplicate-sensitive aggregate that
      // kept Catalyst's RemoveRedundantAggregates from eliding it)
      // SEGMENT each diagonal's matched anchors into spatially
      // connected clusters (r16 review, the 2D twin of the audio fix):
      // an anchor certifies a tile×tile identical block, so anchors
      // within Chebyshev distance ≤ tile have touching certified
      // squares — one pasted region. Two separate pastes that happen
      // to share the SAME (dx, dy) (a collage built from one source,
      // a copy with a replaced middle band) used to collapse into one
      // min..max hull whose interior — unshared pixels — the q208
      // scrub then blanked. One row per cluster: the minTiles gate
      // applies per region and the blanked rects never cover
      // unevidenced pixels. 2D winnowing places an anchor in every
      // (tile/2)² position window of a verbatim paste, so a true
      // contiguous paste never splits.
      .groupBy(col("doc_a"), col("doc_b"), col("dx_px"), col("dy_px"))
      .agg(collect_set(struct(col("aax").as("_1"), col("aay").as("_2")))
        .as("apos"))
      .as[(Long, Long, Int, Int, Seq[(Int, Int)])]
      .flatMap { case (da, db, dx, dy, apos) =>
        clusterAnchors2d(apos, tile).map { case (n, x0, y0, x1, y1) =>
          (da, db, dx, dy, n.toLong, x0, y0, x1 + tile, y1 + tile)
        }
      }
      .toDF("doc_a", "doc_b", "dx_px", "dy_px", "n_anchors",
        // anchor-evidenced bounding box on the a side (b side = a −
        // (dx, dy)): the q208 scrub lane blanks these rects
        "ax0", "ay0", "ax1", "ay1")
      .filter(col("n_anchors") >= minTiles)
      .orderBy(col("doc_a"), col("doc_b"), col("dx_px"), col("dy_px"),
        col("ax0"), col("ay0"))
    // per-doc anchor counts from the CAPPED frame (same rationale as
    // audioOverlapPairs' docFull — r16 review)
    (pairs, kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_doc_anchors")))
  }

  /** q205: IMAGE PARTIAL-OVERLAP (crop / collage / screenshot-embed)
    * — completes the overlap triad with q200 (text bytes) and q204
    * (audio time): q93 fingerprints WHOLE thumbnails, so an image
    * pasted inside a larger canvas is invisible to it exactly as an
    * embedded clip is to q198. Per exact-dup rep: render → REAL PNG
    * round-trip through the codec seam → [[winnowTileAnchors]]
    * content-defined anchor tiles → [[imageOverlapPairs]]' 2D
    * diagonal grouping; reported pairs carry the (dx, dy) PIXEL
    * offset — any offset, the r16 alignment-independence fix — and
    * matched-anchor count. Exact tile equality detects VERBATIM
    * pastes (the dominant collage/screenshot mode — re-encoded pastes
    * additionally need a perceptual tile key; at production image
    * sizes swap the anchor hash for a per-anchor dHash and Hamming-
    * band the join, the q93 machinery). rows-only
    * with planted collage specs (aligned AND non-aligned) — partial
    * anchor matches between DIFFERENT renders are genuine operator
    * findings (shared local blobs), so no equality-based oracle
    * exists, the q204 perceptual lesson. */
  def q205ImageOverlap(spark: SparkSession, documents: DataFrame,
                       tile: Int = 8, minTiles: Int = 2, dfCap: Int = 0,
                       codec: MediaCodec = ImageIoCodec): DataFrame = {
    val (media, members) =
      renderReps(documents, "payload")(t => codec.encode(thumbnail(t)))
    val (repPairs, docAnchors) =
      imageOverlapPairs(media, tile, minTiles, dfCap, codec)
    // an all-uniform render has zero anchors and is consistently
    // silent on both paths
    cliquePairs(repPairs, members, Seq("dx_px", "dy_px"), Seq("n_anchors"),
      Some(docAnchors.filter(col("n_doc_anchors") >= minTiles)),
      Seq(col("n_doc_anchors").as("n_anchors")))
  }

  // ------------------------------------------------ q208 image scrub

  /** Blank the given pixel rects (x0, y0, x1, y1 — half-open, any
    * order/overlap) to black in one decoded image; returns the image
    * and the number of DISTINCT pixels blanked (a mask dedupes
    * overlapping rects). Black is the scrub fill on purpose: a
    * UNIFORM region is ineligible for anchor selection, so blanked
    * area can never re-match. */
  private[graft] def blankRects(img: BufferedImage,
                                rects: Seq[(Int, Int, Int, Int)])
      : (BufferedImage, Long) = {
    val w = img.getWidth; val h = img.getHeight
    val mask = new java.util.BitSet(w * h)
    rects.foreach { case (x0, y0, x1, y1) =>
      val cx0 = math.max(0, x0); val cy0 = math.max(0, y0)
      val cx1 = math.min(w, x1); val cy1 = math.min(h, y1)
      var y = cy0
      while (y < cy1) {
        var x = cx0
        while (x < cx1) {
          if (!mask.get(y * w + x)) {
            mask.set(y * w + x)
            img.setRGB(x, y, 0)
          }
          x += 1
        }
        y += 1
      }
    }
    (img, mask.cardinality().toLong)
  }

  /** q208: IMAGE SCRUB — the third leg of the scrub triad (q203 cuts
    * leaked text bytes, q206 cuts embedded audio samples, this blanks
    * pasted image regions), completing the REWRITE story for every
    * axis the overlap triad detects on. Per [[q205ImageOverlap]]
    * diagonal, the anchor-evidenced bbox on the doc_b (larger-id)
    * side is expanded by the winnowing slack — the 1D guarantee per
    * axis: the paste's edge-most interior window puts a shared anchor
    * within w′ − 1 positions of the true edge, so bbox ± w′ COVERS
    * the entire verbatim paste — and blanked to black. Black is a
    * uniform fill, uniform blocks are anchor-INELIGIBLE, so the
    * blanked region can never re-match: a re-probe of the scrubbed
    * corpus is clean by construction (spec'd with a non-aligned
    * paste). Output: (doc_id, payload, w, h, n_px, cut_px). Pixels stay
    * partition-local; only pair-count-sized rect rows join the media
    * frame. */
  def q208ImageScrub(spark: SparkSession, documents: DataFrame,
                     tile: Int = 8, minTiles: Int = 2, dfCap: Int = 0,
                     codec: MediaCodec = ImageIoCodec): DataFrame = {
    val margin = math.max(1, tile / 2) // the winnowing window w′
    scrubReps[(Int, Int, Int, Int), (Long, Array[Byte], Int, Int, Long, Long)](
        documents, t => codec.encode(thumbnail(t)),
        Seq("payload", "w", "h", "n_px", "cut_px")) { media =>
      val (pairs, _) = imageOverlapPairs(media, tile, minTiles, dfCap, codec)
      pairs.select(col("doc_b").as("doc_id"),
        (col("ax0") - col("dx_px") - margin).as("x0"),
        (col("ay0") - col("dy_px") - margin).as("y0"),
        (col("ax1") - col("dx_px") + margin).as("x1"),
        (col("ay1") - col("dy_px") + margin).as("y1"))
    } {
      case (id, payload, None) =>
        val (img, _) = codec.decode(payload).get
        (id, payload, img.getWidth, img.getHeight,
          img.getWidth.toLong * img.getHeight, 0L)
      case (id, payload, Some(rects)) =>
        val (img, _) = codec.decode(payload).get
        val (blanked, cut) = blankRects(img, rects)
        (id, codec.encode(blanked), img.getWidth, img.getHeight,
          img.getWidth.toLong * img.getHeight, cut)
    }
  }

  /** Driver projection of [[q208ImageScrub]] — the area identities
    * (0 ≤ cut_px ≤ n_px = w·h) without the binary payload; rows-only
    * (the render dims derive from a custom checksum no portable SQL
    * reproduces), spec-backed like q205. */
  def q208Driver(spark: SparkSession, documents: DataFrame): DataFrame =
    q208ImageScrub(spark, documents)
      .select(col("doc_id"), col("w"), col("h"), col("n_px"), col("cut_px"),
        (col("cut_px") >= 0L && col("cut_px") <= col("n_px") &&
          col("n_px") === col("w").cast("long") * col("h")).as("area_ok"))
      .orderBy(col("doc_id"))

  // ------------------------------------- q210/q211 video perceptual lanes

  private[graft] case class VFrameRow(doc_id: Long, frame_idx: Int, fh: Long)

  /** q53's brightness-fade frame recipe, factored so the video dedup
    * lanes synthesize the SAME clips the sampler does: frame f of an
    * n-frame clip is the base render scaled by (2n−f)/(2n). */
  private[graft] def fadeFrame(base: BufferedImage, f: Int,
                               nFrames: Int): BufferedImage = {
    val w = base.getWidth; val ht = base.getHeight
    val img = new BufferedImage(w, ht, BufferedImage.TYPE_INT_RGB)
    // bulk raster in/out (the dHash rationale): identical per-pixel
    // arithmetic over one bulk-read ARGB array
    val in = base.getRGB(0, 0, w, ht, null, 0, w)
    val out = new Array[Int](w * ht)
    def fade(c: Int) = c * (2 * nFrames - f) / (2 * nFrames)
    var i = 0
    while (i < out.length) {
      val rgb = in(i)
      out(i) = (fade((rgb >> 16) & 255) << 16) |
        (fade((rgb >> 8) & 255) << 8) | fade(rgb & 255)
      i += 1
    }
    img.setRGB(0, 0, w, ht, out, 0, w)
    img
  }

  /** Deterministic per-rep clip synth for the video dedup lanes: dims
    * from the raw-text checksum (the q53 sizing), 8–12 frames of the
    * faded base render, encoded through the container seam. */
  private[graft] def renderClip(text: String, vc: VideoCodec): Array[Byte] = {
    val hsum = checksum(text.getBytes("UTF-8"))
    val w = 16 + (hsum % 16).toInt
    val ht = 16 + ((hsum / 16) % 16).toInt
    val nFrames = 8 + ((hsum / 256) % 5).toInt
    val base = renderImage(text, w, ht)
    vc.encode((0 until nFrames).map(f => fadeFrame(base, f, nFrames)))
  }

  /** Temporal mean of a decoded clip — the q210 clip signature input:
    * per-pixel average over all frames. Re-encode noise averages out;
    * dHash's gradient signs then discard the global brightness scale
    * the fade recipe imposes. */
  private[graft] def meanFrame(clip: VideoClip): BufferedImage = {
    val (f0, _) = clip.frame(0)
    val w = f0.getWidth; val h = f0.getHeight
    val acc = new Array[Long](w * h * 3)
    // bulk raster reads per frame (the dHash rationale): identical
    // channel sums, ColorModel conversion once per frame not per pixel
    var i = 0
    while (i < clip.numFrames) {
      val (img, _) = clip.frame(i)
      val rgbRow = img.getRGB(0, 0, w, h, null, 0, w)
      var p = 0
      while (p < rgbRow.length) {
        val rgb = rgbRow(p)
        val o = p * 3
        acc(o) += (rgb >> 16) & 255
        acc(o + 1) += (rgb >> 8) & 255
        acc(o + 2) += rgb & 255
        p += 1
      }
      i += 1
    }
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val n = clip.numFrames
    val px = new Array[Int](w * h)
    var p = 0
    while (p < px.length) {
      val o = p * 3
      px(p) = (((acc(o) / n).toInt & 255) << 16) |
        (((acc(o + 1) / n).toInt & 255) << 8) | ((acc(o + 2) / n).toInt & 255)
      p += 1
    }
    out.setRGB(0, 0, w, h, px, 0, w)
    out
  }

  /** Clip-level perceptual near-dup pairs over any (doc_id, payload)
    * video frame — the q93/q198 pass for the video axis: decode the
    * container, [[meanFrame]] the clip, 64-bit [[dHash]], then the
    * shared Hamming-band machinery (4×16-bit bands, pigeonhole-
    * complete for distance ≤ 3, exact bit_count verify). Tolerates
    * per-frame LOSSY re-encode (the JPEG-for-PNG swap, spec'd with
    * [[JpegCodec]]) and the fade's brightness scale; whole-clip
    * granular — an embedded sub-clip is [[videoOverlapPairs]]' job,
    * exactly as q198-vs-q204 split the audio axis. Only (doc_id,
    * 8-byte hash) rows shuffle; pixels stay partition-local. */
  private[graft] def videoNeardupPairs(media: DataFrame, maxHamming: Int,
                                       vc: VideoCodec): DataFrame = {
    val hashes = perPayload(media) { (id, b) =>
      vc.decode(b).toSeq.map(clip => (id, dHash(meanFrame(clip))))
    }.toDF("doc_id", "vhash")
    Dedup.hammingBandPairs(graft.Pins.pin(hashes), "vhash", maxHamming)
  }

  /** q210: VIDEO perceptual near-dup — completes the q93 (image) /
    * q198 (audio) whole-asset row of the multimodal matrix: per
    * exact-dup rep, synthesize the q53-recipe clip, container round-
    * trip through the [[VideoCodec]] seam, [[videoNeardupPairs]],
    * then q93's clique expansion. rows-only: dHash bits are not
    * portable SQL; the planted JPEG-re-encode spec carries the
    * correctness argument. */
  def q210VideoNeardup(spark: SparkSession, documents: DataFrame,
                       maxHamming: Int = 3,
                       codec: MediaCodec = ImageIoCodec,
                       video: Option[VideoCodec] = None): DataFrame = {
    val vc = video.getOrElse(FramedCodec(codec))
    val (media, members) = renderReps(documents, "payload")(renderClip(_, vc))
    hammingCliques(videoNeardupPairs(media, maxHamming, vc), members)
  }

  /** Frame-level overlap pairs over any (doc_id, payload) video frame
    * — the q204 time-diagonal in FRAME time: per-frame 64-bit
    * [[dHash]] keys, equality join, group by (pair, frame offset),
    * then SEGMENT each diagonal's matched frame indexes into
    * consecutive runs (gap > 1 frame splits — a perceptual frame
    * match is evidence only in a consecutive run, the q204 perceptual
    * rule; and per-cluster extents keep the scrub/report honest about
    * two separate shared clips at one offset, the r17 segmentation
    * discipline). An embedded clip (re-broadcast inside a
    * compilation) puts every shared frame on ONE diagonal — the event
    * whole-clip hashing ([[videoNeardupPairs]]) is blind to. `dfCap`
    * is the [[Dedup.dropHot]] cap. Only (doc_id, frame_idx, 8-byte hash)
    * rows shuffle. Returns (pairs, per-doc full-overlap stats). */
  private[graft] def videoOverlapPairs(media: DataFrame, minRunFrames: Int,
                                       dfCap: Int, vc: VideoCodec)
      : (DataFrame, DataFrame) = {
    val spark = media.sparkSession
    import spark.implicits._
    val fhs = perPayload(media) { (id, b) =>
      vc.decode(b).toSeq.flatMap { clip =>
        (0 until clip.numFrames).map { f =>
          VFrameRow(id, f, dHash(clip.frame(f)._1))
        }
      }
    }.toDF()
      .transform(graft.Pins.pin) // a/b join sides + df rollup + docFull
    val kept = Dedup.dropHot(fhs, "fh", "doc_id", dfCap)
    // no distinct before the rollup: (doc_id, frame_idx) is unique per
    // row, so two joined frame pairs can only collide on
    // (doc_a, doc_b, offset, fa) if they ARE the same pair — and the
    // collect_set below is set-semantics anyway. The distinct this
    // replaced was a full extra exchange+aggregate over the matched
    // frame stream, the largest intermediate of the query (r19, §2.4)
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("a.frame_idx") - col("b.frame_idx")).as("offset_frames"),
        col("a.frame_idx").as("fa"))
      .groupBy(col("doc_a"), col("doc_b"), col("offset_frames"))
      .agg(sort_array(collect_set(col("fa"))).as("fas"))
      .as[(Long, Long, Int, Seq[Int])]
      .flatMap { case (da, db, off, fas) =>
        segmentRuns(fas, 1).map { case (s, e, n) =>
          (da, db, off, n.toLong, (e - s + 1).toLong, s, e + 1)
        }
      }
      .toDF("doc_a", "doc_b", "offset_frames", "n_matched", "run_frames",
        "a_start", "a_end")
      .filter(col("run_frames") >= minRunFrames.toLong)
    val docFull = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_matched_full"),
        least(max(col("frame_idx")) - min(col("frame_idx")) + 1,
          count(lit(1))).cast("long").as("run_full"))
    (pairs, docFull)
  }

  /** q211: VIDEO PARTIAL-OVERLAP (embedded clip / compilation) —
    * completes the overlap triad's fourth axis: q200 finds quoted
    * text, q204 finds embedded audio, q205 finds pasted image
    * regions, and this finds a clip RE-USED INSIDE a longer video at
    * any frame offset, which whole-clip hashing (q79 bytes, q210
    * perceptual) cannot see. Per exact-dup rep: q53-recipe synth →
    * container round-trip → [[videoOverlapPairs]]' frame-diagonal
    * grouping; reported pairs carry the frame offset and the
    * consecutive evidenced run. rows-only: dHash frame keys are not
    * portable SQL; planted clip-in-compilation (including per-frame
    * lossy re-encode) specs carry the correctness argument. */
  def q211VideoOverlap(spark: SparkSession, documents: DataFrame,
                       minRunFrames: Int = 3, dfCap: Int = 0,
                       codec: MediaCodec = ImageIoCodec,
                       video: Option[VideoCodec] = None): DataFrame = {
    val vc = video.getOrElse(FramedCodec(codec))
    val (media, members) = renderReps(documents, "payload")(renderClip(_, vc))
    val (repPairs, docFull) = videoOverlapPairs(media, minRunFrames, dfCap, vc)
    cliquePairs(repPairs, members, Seq("offset_frames"),
      Seq("n_matched", "run_frames"),
      Some(docFull.filter(col("run_full") >= minRunFrames.toLong)),
      Seq(col("n_matched_full").as("n_matched"), col("run_full").as("run_frames")))
  }

  /** The q212 per-clip scrub kernel, factored for direct spec'ing:
    * decode → drop the frames in the [[mergeIntervals]] of `iv` →
    * re-encode kept frames. Returns (payload, n_frames, cut_frames,
    * out_frames). A FULLY-scrubbed clip (every frame evidenced — e.g.
    * a doc wholly embedded in another) emits the EMPTY payload
    * explicitly rather than asking the codec to encode zero frames (a
    * production container codec may refuse). By the ck01 contract
    * empty bytes decode to None — consumers distinguish
    * scrubbed-to-nothing from foreign bytes via out_frames == 0, never
    * by decoding the payload. */
  private[graft] def scrubClipFrames(payload: Array[Byte],
                                     iv: Seq[(Int, Int)], vc: VideoCodec)
      : (Array[Byte], Long, Long, Long) = {
    val clip = vc.decode(payload).get
    val n = clip.numFrames
    val merged = mergeIntervals(iv.map { case (a, b) => (a.toLong, b.toLong) }, n)
    val keep = (0 until n)
      .filterNot(f => merged.exists(c => f >= c._1 && f < c._2))
    val out = if (keep.isEmpty) Array.emptyByteArray
              else vc.encode(keep.map(f => clip.frame(f)._1))
    (out, n.toLong, (n - keep.length).toLong, keep.length.toLong)
  }

  /** q212: VIDEO SCRUB — the FOURTH leg of the rewrite family (q203
    * cuts leaked text bytes, q206 cuts embedded audio samples, q208
    * blanks pasted image regions, this CUTS re-used frame runs out of
    * clips), so every axis the overlap quad detects on has a rewrite
    * lane. Per [[videoOverlapPairs]] cluster (already SEGMENTED into
    * consecutive runs — the r17 discipline, so the cut never covers a
    * replaced-middle gap), the evidenced frame range on the doc_b
    * side is dropped from the container ([[scrubClipFrames]]) and the
    * remaining frames re-encode through the codec seam. Sub-gate
    * clusters (run < minRunFrames) are below the report gate on a
    * re-probe by construction, so the scrubbed corpus re-probes CLEAN
    * (spec'd). Output: (doc_id, payload, n_frames, cut_frames,
    * out_frames). Only pair-count-sized interval rows join the media
    * frame. */
  def q212VideoScrub(spark: SparkSession, documents: DataFrame,
                     minRunFrames: Int = 3, dfCap: Int = 0,
                     codec: MediaCodec = ImageIoCodec,
                     video: Option[VideoCodec] = None): DataFrame = {
    val vc = video.getOrElse(FramedCodec(codec))
    scrubReps[(Int, Int), (Long, Array[Byte], Long, Long, Long)](documents,
        renderClip(_, vc),
        Seq("payload", "n_frames", "cut_frames", "out_frames")) { media =>
      val (pairs, _) = videoOverlapPairs(media, minRunFrames, dfCap, vc)
      pairs.select(col("doc_b").as("doc_id"),
        (col("a_start") - col("offset_frames")).as("c_start"),
        (col("a_end") - col("offset_frames")).as("c_end"))
    } {
      case (id, payload, None) =>
        val n = vc.decode(payload).map(_.numFrames).getOrElse(0)
        (id, payload, n.toLong, 0L, n.toLong)
      case (id, payload, Some(iv)) =>
        val (out, n, cut, kept) = scrubClipFrames(payload, iv, vc)
        (id, out, n, cut, kept)
    }
  }

  /** Driver-facing RECONCILIATION of [[q212VideoScrub]] — the q206
    * length identity in FRAMES, minus the clip-length constant (frame
    * counts derive from a custom checksum no portable SQL reproduces):
    * the scrub PARTITIONS each clip into kept + cut frames, so
    * out == n − cut and 0 ≤ cut ≤ n per doc — predicted-TRUE verdicts
    * (the q112Driver pattern). An interval-walk bug (double-cut
    * overlap, off-by-one, dropped tail) flips a flag and
    * hash-mismatches at the gate; the scrubbed corpus itself stays
    * [[q212VideoScrub]]. */
  def q212Driver(spark: SparkSession, documents: DataFrame): DataFrame =
    q212VideoScrub(spark, documents)
      .select(col("doc_id"),
        (col("out_frames") === col("n_frames") - col("cut_frames")).as("len_ok"),
        (col("cut_frames") >= 0L && col("cut_frames") <= col("n_frames"))
          .as("cut_bounds_ok"))
      .orderBy(col("doc_id"))

  // --------------------------------------------- content-defined chunking

  /** Deterministic gear table for the CDC rolling hash (one long per
    * byte value, fixed seed — same boundaries on any cluster). */
  private lazy val gearTable: Array[Long] = {
    val rng = new scala.util.Random(20260814L)
    Array.fill(256)(rng.nextLong())
  }

  /** Gear-hash content-defined chunk boundaries over one payload:
    * (offset, length) spans. h = (h<<1) + gear(byte); a boundary cuts
    * where the low `avgBits` bits of h are zero (expected chunk ≈
    * 2^avgBits bytes), clamped to [minSize, maxSize]; the rolling state
    * resets per chunk so each boundary depends only on the bytes since
    * the previous cut — the property that makes chunking SHIFT-STABLE
    * (bytes inserted at the front re-align after one chunk, unlike
    * fixed-size blocking which invalidates every later block). */
  private[graft] def cdcSpans(b: Array[Byte], avgBits: Int, minSize: Int,
                              maxSize: Int): Seq[(Int, Int)] = {
    val mask = (1L << avgBits) - 1
    val out = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
    var start = 0; var h = 0L; var i = 0
    while (i < b.length) {
      h = (h << 1) + gearTable(b(i) & 0xff)
      val len = i - start + 1
      if ((len >= minSize && (h & mask) == 0L) || len >= maxSize) {
        out += ((start, len)); start = i + 1; h = 0L
      }
      i += 1
    }
    if (start < b.length) out += ((start, b.length - start))
    out.toSeq
  }

  private[graft] case class CdcChunk(doc_id: Long, chunk_idx: Int,
                                     offset: Int, length: Int, dg: String)

  /** CDC chunk rows for a (doc_id, payload) frame: one row per chunk
    * with its span and md5 digest. Payload bytes never leave their
    * partition — chunking and digesting run in one local pass and only
    * 16-byte digests + span ints come out. Defaults are test-scale
    * (avg 2^6 = 64 B chunks); a production blob store runs the same
    * kernel at avgBits≈16 (64 KB). */
  def cdcChunks(media: DataFrame, avgBits: Int = 6, minSize: Int = 16,
                maxSize: Int = 256): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, payload) =>
          cdcSpans(payload, avgBits, minSize, maxSize).zipWithIndex.map {
            case ((off, len), idx) =>
              md.reset(); md.update(payload, off, len)
              CdcChunk(id, idx, off, len,
                md.digest().map("%02x".format(_)).mkString)
          }
        }
      }
      .toDF()
  }

  /** q139: BLOCK-LEVEL binary dedup via content-defined chunking — the
    * borg/restic/ZFS-class pass that sees PARTIAL overlap whole-payload
    * hashing (q79) is blind to: a video re-muxed with a new header, a
    * doc with one appended field, two dumps sharing a common prefix all
    * hash to different md5s but share most of their CDC chunks. Per
    * doc: chunk count, payload bytes, bytes in chunks that also occur
    * in ANOTHER doc (`shared_bytes`), bytes this doc must uniquely
    * store (`owned_bytes` — chunks where it is the min-id holder or
    * sole holder), and the block-dedup ratio a chunk store would
    * achieve. Shuffle currency is chunk digests (16 B) + span ints;
    * payloads stay partition-local in the chunker ([[cdcChunks]]).
    * rows-only (gear boundaries are not portable SQL); the spec pins
    * shift-stability, span reconstruction, determinism, and a planted
    * shared-region pair. */
  def q139(spark: SparkSession, documents: DataFrame,
           codec: MediaCodec = ImageIoCodec): DataFrame =
    cdcReport(cdcChunks(
      mediaTable(spark, documents, codec).select(col("doc_id"), col("payload"))))

  /** Per-doc block-dedup report over a [[cdcChunks]] frame (the q139
    * tail, shared with the spec's planted-region fixture). */
  private[graft] def cdcReport(chunks: DataFrame): DataFrame = {
    // collapse to per-(doc, digest) first: instance count + the (content-
    // determined) chunk length — repeats of a chunk WITHIN a doc are
    // dedup savings too, and this also shrinks the digest-stats shuffle
    val perDocDg = chunks.groupBy(col("doc_id"), col("dg"))
      .agg(count(lit(1)).as("n_inst"), first(col("length")).as("length"))
    // global per-digest stats: digest-sized shuffle, map-side combined
    val refs = perDocDg.groupBy(col("dg"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("owner_id"))
    perDocDg.join(refs, "dg")
      .groupBy(col("doc_id"))
      .agg(sum(col("n_inst")).as("n_chunks"),
        sum(col("n_inst") * col("length")).as("payload_bytes"),
        // bytes (instance-weighted) in chunks another doc also holds
        sum(when(col("n_docs") > 1, col("n_inst") * col("length"))
          .otherwise(lit(0))).as("shared_bytes"),
        // bytes a chunk store bills to THIS doc: each owned distinct
        // digest once (min-id holder is the owner)
        sum(when(col("owner_id") === col("doc_id"), col("length"))
          .otherwise(lit(0))).as("owned_bytes"))
      .withColumn("dedup_ratio",
        col("owned_bytes").cast("double") / col("payload_bytes").cast("double"))
      .orderBy(col("doc_id"))
  }
}
