package graft

import graft.operators.Multimodal

/** Multimodal specs (§2c): real PNG decode in q51/q52, schema,
  * determinism, row expansion, and q93 perceptual near-dup banding. */
class MultimodalSpec extends GraftSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (0L, "a video-ish payload"), (1L, "an image-ish payload"),
    (2L, "an audio-ish payload"), (3L, "another video payload"),
    (4L, "one more image payload")
  ).toDF("doc_id", "text")

  test("mediaTable carries payload + typed metadata struct; image rows are real PNGs") {
    val mt = Multimodal.mediaTable(spark, docs)
    assert(mt.schema("meta").dataType.typeName == "struct")
    val rows = mt.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(0L).getAs[org.apache.spark.sql.Row]("meta").getAs[String]("media_type") == "video")
    assert(rows(2L).getAs[org.apache.spark.sql.Row]("meta").getAs[String]("media_type") == "audio")
    // the image row's payload must decode with the real JDK codec, and
    // its metadata dims must equal the decoded pixel dims
    val meta1 = rows(1L).getAs[org.apache.spark.sql.Row]("meta")
    assert(meta1.getAs[String]("media_type") == "image")
    val payload1 = rows(1L).getAs[Array[Byte]]("payload")
    val Some((img, fmt)) = Multimodal.decodeImage(payload1)
    assert(fmt == "png")
    assert(img.getWidth == meta1.getAs[Int]("width"))
    assert(img.getHeight == meta1.getAs[Int]("height"))
  }

  test("q51 reports decode-derived dims and format for image rows") {
    val feats = Multimodal.q51(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(feats(1L).getAs[String]("format") == "png")
    assert(feats(4L).getAs[String]("format") == "png")
    assert(feats(0L).getAs[String]("format") == "raw") // video stub payload
    // independent decode of the stored payload agrees with q51's output
    val payload = Multimodal.mediaTable(spark, docs)
      .filter($"doc_id" === 1L).collect().head.getAs[Array[Byte]]("payload")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    assert(feats(1L).getAs[Int]("width") == img.getWidth)
    assert(feats(1L).getAs[Int]("height") == img.getHeight)
  }

  test("q51 features are deterministic and partition-independent") {
    val a = Multimodal.q51(spark, docs).collect().toSeq
    val b = Multimodal.q51(spark, docs.repartition(7)).collect().toSeq
    assert(a == b)
    assert(a.forall(_.getAs[Long]("n_bytes") > 0))
  }

  test("q52 really resizes: dims re-derived from re-encoded bytes, inside the box") {
    val rows = Multimodal.q52Resize(spark, docs, maxW = 8, maxH = 8).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    rows.values.foreach { r =>
      assert(r.getAs[Int]("width") <= 8 && r.getAs[Int]("height") <= 8)
      assert(r.getAs[Long]("n_bytes") > 0)
    }
    // reproduce the image row's resize out-of-band: decode the stored
    // payload, scale-to-fit, re-encode, decode again — q52's reported
    // dims and byte count must match that real codec round-trip
    val payload = Multimodal.mediaTable(spark, docs)
      .filter($"doc_id" === 1L).collect().head.getAs[Array[Byte]]("payload")
    val Some((img, _)) = Multimodal.decodeImage(payload)
    val png = Multimodal.encodePng(Multimodal.resizeToFit(img, 8, 8))
    val Some((dec, _)) = Multimodal.decodeImage(png)
    assert(rows(1L).getAs[Int]("width") == dec.getWidth)
    assert(rows(1L).getAs[Int]("height") == dec.getHeight)
    assert(rows(1L).getAs[Long]("n_bytes") == png.length.toLong)
  }

  test("q53 frame sampling expands only video rows, every k-th frame, real decode") {
    val rows = Multimodal.q53FrameSample(spark, docs, every = 4).collect()
    val byDoc = rows.groupBy(_.getAs[Long]("doc_id"))
    assert(byDoc.keySet == Set(0L, 3L))           // only the videos
    rows.foreach { r =>
      assert(r.getAs[Int]("frame_idx") % 4 == 0)
      // dims come from really decoding the sampled frame's PNG bytes
      assert(r.getAs[Int]("width") >= 16 && r.getAs[Int]("width") <= 31)
      assert(r.getAs[Int]("height") >= 16 && r.getAs[Int]("height") <= 31)
      assert(r.getAs[Long]("frame_bytes") > 0L)
    }
  }

  test("frame container round-trips through the real codec") {
    val img = Multimodal.renderImage("alpha beta gamma", 20, 18)
    val f0 = Multimodal.encodePng(img)
    val f1 = Multimodal.encodePng(Multimodal.resizeToFit(img, 10, 10))
    val packed = Multimodal.encodeFrames(Seq(f0, f1))
    val back = Multimodal.decodeFrames(packed)
    assert(back.size == 2)
    assert(back(0).toSeq == f0.toSeq && back(1).toSeq == f1.toSeq)
    val Some((d1, fmt)) = Multimodal.decodeImage(back(1))
    assert(fmt == "png" && d1.getWidth == 10)
  }

  test("dHash is stable under resize of the same content") {
    val img = Multimodal.renderImage("alpha beta gamma delta", 28, 22)
    val small = Multimodal.resizeToFit(img, 14, 14)
    val h1 = Multimodal.dHash(img)
    val h2 = Multimodal.dHash(small)
    // a 2x box-average downscale perturbs a handful of near-tie
    // gradients; real-world dHash dup thresholds sit near 10 bits
    assert(java.lang.Long.bitCount(h1 ^ h2) <= 6,
      s"resize moved the hash ${java.lang.Long.bitCount(h1 ^ h2)} bits")
  }

  test("q93 banding == brute-force Hamming pairs on the sf0.001 corpus") {
    val corpus = Tables.documents(spark, SF)
    val found = Multimodal.q93(spark, corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSet
    // brute force: recompute every phash through the same real codec
    // round-trip, then all-pairs Hamming (test-only; n is small here)
    val hashes = corpus.select("doc_id", "text").collect().map { r =>
      r.getAs[Long]("doc_id") -> Multimodal.phashOf(r.getAs[String]("text"))
    }
    val expected = (for {
      (ida, ha) <- hashes
      (idb, hb) <- hashes
      if ida < idb
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= 3
    } yield (ida, idb, d)).toSet
    assert(found == expected, // 4×16-bit bands are COMPLETE for Hamming ≤ 3
      s"banding found ${found.size}, brute force ${expected.size}")
    assert(expected.nonEmpty, "corpus should contain perceptual near-dups")
  }

  test("q94 verdicts: exact dup, perceptual dup, and kept docs resolve one hop") {
    val base = "storm river mountain valley cloud forest meadow stone pebble"
    val near = base.replace("valley", "vista")      // same top-8 blob set
    val other = "completely different words about trains and signals here"
    val corpus = Seq(
      (10L, base), (20L, base),                     // byte-identical pair
      (30L, near),                                  // perceptual-only dup
      (40L, other)                                  // unrelated
    ).toDF("doc_id", "text")
    val v = Multimodal.q94(spark, corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("status"), r.getAs[Long]("canonical_id"))).toMap
    assert(v(10L) == ("kept", 10L))
    assert(v(20L) == ("dup_exact", 10L))
    assert(v(30L) == ("dup_perceptual", 10L))
    assert(v(40L) == ("kept", 40L))
  }

  test("q93 finds a re-rendered near-duplicate that md5 identity misses") {
    // same dominant content, one non-dominant token changed → the top-8
    // blob set is unchanged, only the render dims shift (checksum-derived)
    val base = "storm river mountain valley cloud forest meadow stone pebble"
    val dup = base.replace("valley", "vista") // both sort after the top-8
    val two = Seq((100L, base), (200L, dup)).toDF("doc_id", "text")
    val pairs = Multimodal.q93(spark, two).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.contains((100L, 200L)), pairs.toSeq)
    // byte identity cannot see it
    assert(Multimodal.q79(spark, two).count() == 2L)
  }

  test("MediaCodec seam: q51/q52/q53 run unchanged through a non-ImageIO codec") {
    import MultimodalCodecSpec.RawCodec
    // q51: format comes from the substituted codec, dims from its decode
    val feats = Multimodal.q51(spark, docs, RawCodec).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(feats(1L).getAs[String]("format") == "rawrgb")
    assert(feats(4L).getAs[String]("format") == "rawrgb")
    assert(feats(0L).getAs[String]("format") == "raw") // stub payload: no codec claims it
    val pngFeats = Multimodal.q51(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // decoded pixel dims are codec-independent (same render behind both)
    assert(feats(1L).getAs[Int]("width") == pngFeats(1L).getAs[Int]("width"))
    assert(feats(1L).getAs[Int]("height") == pngFeats(1L).getAs[Int]("height"))
    // q52: decode → resize → re-encode → re-decode round-trips in the
    // substituted codec, output dims inside the box
    val rz = Multimodal.q52Resize(spark, docs, 8, 8, RawCodec).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rz(1L).getAs[Int]("width") <= 8 && rz(1L).getAs[Int]("height") <= 8)
    // q53: per-frame encode/decode inside the container uses the codec
    val fr = Multimodal.q53FrameSample(spark, docs, 4, RawCodec).collect()
    assert(fr.nonEmpty)
    assert(fr.forall(_.getAs[Int]("width") > 0))
  }

  test("VideoCodec seam: q53 runs unchanged through a non-framed container codec") {
    import MultimodalCodecSpec.RawClipCodec
    val fr = Multimodal.q53FrameSample(spark, docs, 4,
      video = Some(RawClipCodec)).collect()
    assert(fr.nonEmpty)
    // dims come from decoding the substituted container; frame_bytes
    // is the codec's own in-container size accounting
    val png = Multimodal.q53FrameSample(spark, docs, 4).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("frame_idx")) -> r).toMap
    fr.foreach { r =>
      val p = png((r.getAs[Long]("doc_id"), r.getAs[Int]("frame_idx")))
      assert(r.getAs[Int]("width") == p.getAs[Int]("width"))
      assert(r.getAs[Int]("height") == p.getAs[Int]("height"))
      assert(r.getAs[Long]("frame_bytes") ==
        12L + 4L * r.getAs[Int]("width") * r.getAs[Int]("height"))
    }
    // the default container is the framed composition over the frame
    // codec — FramedCodec(RawCodec) and the RawCodec per-frame path
    // agree (the r14 MediaCodec seam is a special case of the r15 one)
    import MultimodalCodecSpec.RawCodec
    val viaFrame = Multimodal.q53FrameSample(spark, docs, 4, RawCodec)
      .collect().map(_.toSeq).toSeq
    val viaContainer = Multimodal.q53FrameSample(spark, docs, 4,
      video = Some(graft.operators.FramedCodec(RawCodec)))
      .collect().map(_.toSeq).toSeq
    assert(viaFrame == viaContainer)
  }

  test("cdcSpans: reconstruction, size clamps, determinism, shift-stability") {
    val rng = new scala.util.Random(7)
    val payload = Array.fill[Byte](4096)(rng.nextInt().toByte)
    val spans = Multimodal.cdcSpans(payload, 6, 16, 256)
    // spans tile the payload exactly: contiguous offsets, lengths sum
    assert(spans.head._1 == 0)
    spans.sliding(2).foreach {
      case Seq((o1, l1), (o2, _)) => assert(o1 + l1 == o2)
      case _ =>
    }
    assert(spans.map(_._2).sum == payload.length)
    // every chunk inside [min, max] except possibly the final tail
    spans.init.foreach { case (_, l) => assert(l >= 16 && l <= 256) }
    assert(spans.last._2 <= 256)
    // identical input ⇒ identical boundaries
    assert(Multimodal.cdcSpans(payload, 6, 16, 256) == spans)
    // SHIFT-STABILITY — the reason CDC beats fixed blocks: prepend 7
    // bytes and the chunk CONTENT set re-aligns after the first cut
    // (fixed-size blocking would invalidate every block)
    val shifted = Array.fill[Byte](7)(42) ++ payload
    def contentSet(b: Array[Byte]) =
      Multimodal.cdcSpans(b, 6, 16, 256)
        .map { case (o, l) => b.slice(o, o + l).toSeq }.toSet
    val orig = contentSet(payload)
    val shift = contentSet(shifted)
    val common = (orig & shift).size.toDouble / orig.size
    assert(common >= 0.8, s"only ${common * 100}%% of chunks survive a 7-byte prepend")
  }

  test("q139 CDC block dedup: planted shared region dedups, full dup shares everything") {
    // doc 10 and doc 11 share a large middle region with different
    // heads/tails; doc 12 is byte-identical to doc 10; doc 13 disjoint
    val rng = new scala.util.Random(11)
    def blob(n: Int) = Array.fill[Byte](n)(rng.nextInt().toByte)
    val shared = blob(2048)
    val a = blob(64) ++ shared ++ blob(64)
    val b = blob(96) ++ shared ++ blob(32)
    val c = a.clone()
    val d = blob(2176)
    val media = Seq((10L, a), (11L, b), (12L, c), (13L, d))
      .toDF("doc_id", "payload")
    val rep = Multimodal.cdcChunks(media)
    val rows = Multimodal.cdcReport(rep).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("shared_bytes"), r.getAs[Long]("payload_bytes"))).toMap
    // the byte-identical pair shares (nearly) everything
    assert(rows(10L)._1.toDouble / rows(10L)._2 > 0.95)
    assert(rows(12L)._1.toDouble / rows(12L)._2 > 0.95)
    // the planted-middle pair shares most of its bytes — the overlap
    // q79's whole-payload md5 cannot see (different heads ⇒ different md5)
    assert(rows(11L)._1.toDouble / rows(11L)._2 > 0.6,
      s"doc 11 shared=${rows(11L)}")
    // the disjoint doc shares ~nothing
    assert(rows(13L)._1.toDouble / rows(13L)._2 < 0.05)
    // chunk spans reconstruct each payload
    val spanSum = rep.groupBy($"doc_id")
      .agg(org.apache.spark.sql.functions.sum($"length").as("s"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("s")).toMap
    assert(spanSum(10L) == a.length && spanSum(11L) == b.length &&
      spanSum(13L) == d.length)
  }

  test("q139 driver report: every doc accounted, owner bytes bounded by payload") {
    val rep = Multimodal.q139(spark, docs).collect()
    assert(rep.length == docs.count())
    rep.foreach { r =>
      assert(r.getAs[Long]("owned_bytes") <= r.getAs[Long]("payload_bytes"))
      assert(r.getAs[Long]("shared_bytes") <= r.getAs[Long]("payload_bytes"))
      val ratio = r.getAs[Double]("dedup_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
    // distinct payloads, no cross-doc chunks expected at this size ⇒
    // every doc owns its own bytes
    assert(rep.forall(r =>
      r.getAs[Long]("owned_bytes") == r.getAs[Long]("payload_bytes") ||
        r.getAs[Long]("shared_bytes") > 0))
  }

  test("WAV codec: 16-bit PCM round-trips bit-exactly; foreign bytes rejected") {
    val s = Multimodal.renderAudio("alpha beta gamma", Multimodal.AudioRate, 800)
    val wav = Multimodal.encodeWav(s, Multimodal.AudioRate)
    val Some((back, rate, fmt)) = Multimodal.decodeWav(wav)
    assert(fmt == "wave" && rate == Multimodal.AudioRate)
    assert(back.toSeq == s.toSeq) // bit-exact PCM round-trip
    // PNG/raw-text payloads are not claimed
    assert(Multimodal.decodeWav("not audio at all".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeWav(
      Multimodal.encodePng(Multimodal.renderImage("x y z", 8, 8))).isEmpty)
  }

  test("mediaTable audio rows carry REAL WAV payloads with true stream metadata") {
    val rows = Multimodal.mediaTable(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val meta2 = rows(2L).getAs[org.apache.spark.sql.Row]("meta")
    assert(meta2.getAs[String]("media_type") == "audio")
    val Some((samples, rate, _)) =
      Multimodal.decodeWav(rows(2L).getAs[Array[Byte]]("payload"))
    assert(rate == meta2.getAs[Int]("sample_rate"))
    assert(samples.length == meta2.getAs[Int]("n_frames"))
    // q51 reports the audio row through the codec: format from decode
    val feats = Multimodal.q51(spark, docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(feats(2L).getAs[String]("format") == "wave")
    assert(feats(2L).getAs[Int]("width") == rate)
    assert(feats(2L).getAs[Int]("height") == samples.length)
  }

  test("q197 window sampling: only audio rows, every k-th window, real decode") {
    val rows = Multimodal.q197AudioSample(spark, docs).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(2L)) // the audio doc
    // 4000 samples / 200-sample windows = 20 windows, every 4th → 0,4,8,12,16
    assert(rows.map(_.getAs[Int]("win_idx")).toSeq == Seq(0, 4, 8, 12, 16))
    assert(rows.forall(_.getAs[Long]("rms_q") > 0L)) // synth is never silent
    // deterministic and partition-independent
    val again = Multimodal.q197AudioSample(spark, docs.repartition(7))
      .collect().map(_.toSeq).toSeq
    assert(again == rows.map(_.toSeq).toSeq)
  }

  test("q198 banding == brute-force Hamming pairs on the sf0.001 corpus") {
    val corpus = Tables.documents(spark, SF)
    val found = Multimodal.q198AudioNeardup(spark, corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSet
    // brute force through the same synth→WAV→decode round-trip; exact
    // dups (identical normalized text) are Hamming 0 by construction
    val hashes = corpus.select("doc_id", "text").collect().map { r =>
      val wav = Multimodal.encodeWav(Multimodal.renderAudio(
        r.getAs[String]("text"), Multimodal.AudioRate, Multimodal.AudioSamples),
        Multimodal.AudioRate)
      val Some((s, rate, _)) = Multimodal.decodeWav(wav)
      r.getAs[Long]("doc_id") -> Multimodal.audioFingerprint(s, rate)
    }
    val norm = corpus.select("doc_id", "text").collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text").toLowerCase.trim).toMap
    val expected = (for {
      (ida, ha) <- hashes
      (idb, hb) <- hashes
      if ida < idb
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= 3 || norm(ida) == norm(idb)
    } yield (ida, idb, if (norm(ida) == norm(idb)) 0 else d)).toSet
    assert(found == expected,
      s"banding found ${found.size}, brute force ${expected.size}")
    assert(expected.nonEmpty, "corpus should contain audio near-dups")
  }

  test("q204 planted clip-in-compilation: found at the exact offset, both key modes") {
    val rate = Multimodal.AudioRate
    // 2000-sample clip embedded mid-compilation at sample 2000 —
    // invisible to whole-clip q198 (different global fingerprints),
    // found by the diagonal grouping
    val clipA = Multimodal.renderAudio("alpha beta gamma tokens", rate, 2000)
    val pre = Multimodal.renderAudio("completely different opener words", rate, 2000)
    val post = Multimodal.renderAudio("unrelated closing content here", rate, 2000)
    val comp = pre ++ clipA ++ post
    val media = Seq(
      (1L, Multimodal.encodeWav(clipA, rate)),
      (2L, Multimodal.encodeWav(comp, rate)),
      (3L, Multimodal.encodeWav(
        Multimodal.renderAudio("noise floor something else", rate, 4000), rate))
    ).toDF("doc_id", "payload")
    // perceptual grid mode: the embed IS grid-aligned here (offset
    // 2000 = 4 windows of 500), so the band-sign fps match on the
    // -2000-sample diagonal across 4 windows
    val (pairsP, _) = Multimodal.audioOverlapPairs(media, winSamples = 500,
      minRunWins = 3, dfCap = 0, graft.operators.WavCodec)
    val out = pairsP.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("offset_samples"), r.getAs[Long]("run_samples")))
    graft.Pins.release()
    assert(out.exists(p => p._1 == 1L && p._2 == 2L && p._3 == -2000 &&
      p._4 == 2000L), out.toSeq)
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L), out.toSeq)
    // exact mode (winnowed anchors) finds the byte-exact embed at the
    // same offset with >= 1500 evidenced samples (the worst-case
    // winnowing floor for a 2000-sample run at gram 500)
    val (pairsE, _) = Multimodal.audioOverlapPairs(media, winSamples = 500,
      minRunWins = 3, dfCap = 0, graft.operators.WavCodec, exact = true)
    val ex = pairsE.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("offset_samples"), r.getAs[Long]("run_samples")))
    graft.Pins.release()
    assert(ex.exists(p => p._1 == 1L && p._2 == 2L && p._3 == -2000 &&
      p._4 >= 1500L), ex.toSeq)
    assert(!ex.exists(p => p._1 == 3L || p._2 == 3L), ex.toSeq)
  }

  test("q204 NON-ALIGNED embed (sample 777): exact mode finds it — the r16 guarantee") {
    val rate = Multimodal.AudioRate
    val clipA = Multimodal.renderAudio("alpha beta gamma tokens", rate, 2000)
    val pre = Multimodal.renderAudio("completely different opener words", rate, 2000)
    val post = Multimodal.renderAudio("unrelated closing content here", rate, 2000)
    // embed starts at sample 777 — NOT a multiple of winSamples or of
    // any hop; the r15 grid kernel reported NOTHING here (its windows
    // only ever started at multiples of 500)
    val comp = (pre.take(777) ++ clipA ++ post).take(6000)
    val media = Seq(
      (1L, Multimodal.encodeWav(clipA, rate)),
      (2L, Multimodal.encodeWav(comp, rate)),
      (3L, Multimodal.encodeWav(
        Multimodal.renderAudio("noise floor something else", rate, 4000), rate))
    ).toDF("doc_id", "payload")
    val (pairsE, _) = Multimodal.audioOverlapPairs(media, winSamples = 500,
      minRunWins = 3, dfCap = 0, graft.operators.WavCodec, exact = true)
    val ex = pairsE.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("offset_samples"), r.getAs[Long]("run_samples")))
    graft.Pins.release()
    assert(ex.exists(p => p._1 == 1L && p._2 == 2L && p._3 == -777 &&
      p._4 >= 1500L), ex.toSeq)
    assert(!ex.exists(p => p._1 == 3L || p._2 == 3L), ex.toSeq)
  }

  test("q204 full path: exact-dup clique reports full overlap; unrelated docs silent") {
    val base = "storm river mountain valley cloud forest meadow stone pebble"
    val corpus = Seq((10L, base), (20L, base.toUpperCase), // exact dup normalized
      (30L, "entirely different signal content words here now ok"))
      .toDF("doc_id", "text")
    val out = Multimodal.q204AudioOverlap(spark, corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("offset_samples"), r.getAs[Long]("run_samples")))
    graft.Pins.release()
    // within-clique full overlap: the whole 4000-sample clip
    assert(out.exists(p => p._1 == 10L && p._2 == 20L && p._3 == 0 &&
      p._4 == Multimodal.AudioSamples.toLong), out.toSeq)
    assert(!out.exists(p => p._1 == 30L || p._2 == 30L), out.toSeq)
  }

  test("q205 planted crop-in-collage: pair found at the exact 2D pixel offset") {
    val a = Multimodal.renderImage("alpha beta gamma delta tokens", 16, 16)
    // 32x32 collage: black background, A pasted verbatim at pixel
    // (8, 16) — plus unrelated content in the top-left corner
    val c = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val other = Multimodal.renderImage("completely different corner art", 8, 8)
    for (y <- 0 until 8; x <- 0 until 8) c.setRGB(x, y, other.getRGB(x, y))
    for (y <- 0 until 16; x <- 0 until 16)
      c.setRGB(8 + x, 16 + y, a.getRGB(x, y))
    val media = Seq(
      (1L, Multimodal.encodePng(a)),
      (2L, Multimodal.encodePng(c)),
      (3L, Multimodal.encodePng(
        Multimodal.renderImage("unrelated stuff entirely here", 24, 24)))
    ).toDF("doc_id", "payload")
    val (pairs, _) = Multimodal.imageOverlapPairs(media, tile = 8,
      minTiles = 2, dfCap = 0, graft.operators.ImageIoCodec)
    val out = pairs.collect().map(r => (r.getAs[Long]("doc_a"),
      r.getAs[Long]("doc_b"), r.getAs[Int]("dx_px"),
      r.getAs[Int]("dy_px"), r.getAs[Long]("n_anchors")))
    graft.Pins.release()
    // A's pixel (0,0) sits at collage pixel (8,16): diagonal (-8,-16)
    assert(out.exists(p => p._1 == 1L && p._2 == 2L && p._3 == -8 &&
      p._4 == -16 && p._5 >= 2L), out.toSeq)
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L), out.toSeq)
  }

  test("q205 NON-ALIGNED paste (pixel (5,9)): found — the r16 2D winnowing guarantee") {
    val a = Multimodal.renderImage("alpha beta gamma delta tokens", 16, 16)
    // paste at (5, 9): neither coordinate a multiple of the tile size;
    // the r15 grid kernel cut tiles at multiples of 8 only and
    // reported NOTHING for this collage
    val c = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      c.setRGB(5 + x, 9 + y, a.getRGB(x, y))
    val media = Seq(
      (1L, Multimodal.encodePng(a)),
      (2L, Multimodal.encodePng(c)),
      (3L, Multimodal.encodePng(
        Multimodal.renderImage("unrelated stuff entirely here", 24, 24)))
    ).toDF("doc_id", "payload")
    val (pairs, _) = Multimodal.imageOverlapPairs(media, tile = 8,
      minTiles = 2, dfCap = 0, graft.operators.ImageIoCodec)
    val out = pairs.collect().map(r => (r.getAs[Long]("doc_a"),
      r.getAs[Long]("doc_b"), r.getAs[Int]("dx_px"),
      r.getAs[Int]("dy_px"), r.getAs[Long]("n_anchors")))
    graft.Pins.release()
    assert(out.exists(p => p._1 == 1L && p._2 == 2L && p._3 == -5 &&
      p._4 == -9 && p._5 >= 2L), out.toSeq)
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L), out.toSeq)
  }

  test("q205 full path: reorder variant pairs at (0,0); clique expands; unrelated silent") {
    val base = "storm river mountain valley cloud forest"
    val corpus = Seq(
      (10L, base),
      (20L, base.split(" ").reverse.mkString(" ")), // same sorted stream -> same render, different rep
      (30L, base.toUpperCase),                      // exact dup of 10 normalized
      (40L, "entirely different tokens painting another image now")
    ).toDF("doc_id", "text")
    val out = Multimodal.q205ImageOverlap(spark, corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("dx_px"), r.getAs[Int]("dy_px")))
    graft.Pins.release()
    assert(out.exists(p => p == ((10L, 20L, 0, 0))), out.toSeq) // cross, full overlap
    assert(out.exists(p => p == ((10L, 30L, 0, 0))), out.toSeq) // within clique
    assert(out.exists(p => p == ((20L, 30L, 0, 0))), out.toSeq) // member expansion
    assert(!out.exists(p => p._1 == 40L || p._2 == 40L), out.toSeq)
  }

  test("q204Driver: pair count == equal-top8-set pairs; offset/run verdicts hold") {
    // audio is a pure function of the top-8 token SET: doc 2 repeats
    // tokens with different counts (same set -> same audio as doc 1);
    // docs 3/4/5 are an exact-dup clique (3 pairs); doc 6 is alone
    val corpus = Seq(
      (1L, "red green blue cyan"),
      (2L, "red red green blue blue cyan"),
      (3L, "storm river mountain valley"),
      (4L, "STORM RIVER MOUNTAIN VALLEY"),
      (5L, "storm river mountain valley"),
      (6L, "entirely different tokens here")
    ).toDF("doc_id", "text")
    val r = Multimodal.q204Driver(spark, corpus).collect().head
    graft.Pins.release()
    assert(r.getAs[Long]("n_pairs") == 4L, r)
    assert(r.getAs[Boolean]("offsets_zero_ok") && r.getAs[Boolean]("full_run_ok"), r)
  }

  test("q207 landmarks: ATTENUATED NON-ALIGNED embed found — both q204 modes miss it") {
    val rate = Multimodal.AudioRate
    val clipA = Multimodal.renderAudio("alpha beta gamma tokens", rate, 2000)
    val pre = Multimodal.renderAudio("completely different opener words", rate, 2000)
    val post = Multimodal.renderAudio("unrelated closing content here", rate, 2000)
    // the corner case neither q204 mode can see: the embedded copy is
    // ATTENUATED (x0.6 — every sample differs, exact hashes all break)
    // AND starts at sample 777 (not a multiple of winSamples — the
    // perceptual grid never lines up)
    val attenuated = clipA.map(v => (v * 0.6).toShort)
    val comp = pre.take(777) ++ attenuated ++ post
    val media = Seq(
      (1L, Multimodal.encodeWav(clipA, rate)),
      (2L, Multimodal.encodeWav(comp, rate)),
      (3L, Multimodal.encodeWav(
        Multimodal.renderAudio("noise floor something else", rate, 4000), rate))
    ).toDF("doc_id", "payload")
    // q204 exact mode: blind (no sample run is verbatim)
    val (ex, _) = Multimodal.audioOverlapPairs(media, winSamples = 500,
      minRunWins = 3, dfCap = 0, graft.operators.WavCodec, exact = true)
    assert(ex.collect().isEmpty)
    graft.Pins.release()
    // q204 perceptual mode: blind (offset 777 is off-grid)
    val (pc, _) = Multimodal.audioOverlapPairs(media, winSamples = 500,
      minRunWins = 3, dfCap = 0, graft.operators.WavCodec)
    assert(!pc.collect().exists(r =>
      r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L))
    graft.Pins.release()
    // q207 landmarks: found, at the right frame offset (777/128 ~ 6)
    val (lm, _) = Multimodal.audioLandmarkPairs(media, minLandmarks = 8,
      dfCap = 0, graft.operators.WavCodec)
    val out = lm.collect().map(r => (r.getAs[Long]("doc_a"),
      r.getAs[Long]("doc_b"), r.getAs[Int]("offset_frames"),
      r.getAs[Long]("n_matched")))
    graft.Pins.release()
    assert(out.exists(p => p._1 == 1L && p._2 == 2L &&
      math.abs(p._3 + 6) <= 1 && p._4 >= 8L), out.toSeq)
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L), out.toSeq)
  }

  test("q207 full path: clique expands at offset 0; unrelated docs silent") {
    val base = "storm river mountain valley cloud forest meadow stone pebble"
    val corpus = Seq((10L, base), (20L, base.toUpperCase),
      (30L, "entirely different signal content words here now ok"))
      .toDF("doc_id", "text")
    val out = Multimodal.q207AudioLandmarks(spark, corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("offset_frames")))
    graft.Pins.release()
    assert(out.exists(p => p._1 == 10L && p._2 == 20L && p._3 == 0), out.toSeq)
    assert(!out.exists(p => p._1 == 30L || p._2 == 30L), out.toSeq)
  }

  test("q207 dfCap: capped path == uncapped path when nothing is droppable; " +
      "a hot hash 1000x over the cap is dropped whole, bounded-memory") {
    val rate = Multimodal.AudioRate
    val clipA = Multimodal.renderAudio("alpha beta gamma tokens", rate, 2000)
    val pre = Multimodal.renderAudio("completely different opener words", rate, 2000)
    val post = Multimodal.renderAudio("unrelated closing content here", rate, 2000)
    // non-aligned embed (the spec corpus the q204-modes-miss test uses):
    // exercises real cross-doc groups, not just self-pairs
    val attenuated = clipA.map(v => (v * 0.6).toShort)
    val comp = pre.take(777) ++ attenuated ++ post
    val media = Seq(
      (1L, Multimodal.encodeWav(clipA, rate)),
      (2L, Multimodal.encodeWav(comp, rate)),
      (3L, Multimodal.encodeWav(
        Multimodal.renderAudio("noise floor something else", rate, 4000), rate))
    ).toDF("doc_id", "payload")
    def run(cap: Int) = {
      val (p, d) = Multimodal.audioLandmarkPairs(media, minLandmarks = 8,
        dfCap = cap, graft.operators.WavCodec)
      val ps = p.collect().map(r => (r.getAs[Long]("doc_a"),
        r.getAs[Long]("doc_b"), r.getAs[Int]("offset_frames"),
        r.getAs[Long]("n_matched"))).toSet
      val ds = d.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("n_landmarks"))).toSet
      graft.Pins.release()
      (ps, ds)
    }
    // PARITY: with a cap no group reaches, the groupByKey path must
    // equal the uncapped join path exactly — (pairs, docFull) both
    val (capped, uncapped) = (run(1000000), run(0))
    assert(capped._1 == uncapped._1, (capped._1, uncapped._1))
    assert(capped._2 == uncapped._2, (capped._2, uncapped._2))
    assert(capped._1.exists(p => p._1 == 1L && p._2 == 2L), capped._1)
    // HOT HASH: 2000 byte-identical docs share every landmark hash —
    // 1000x over dfCap = 2. Anti-join semantics: those groups drop
    // WHOLE (no pairs among hot docs, no docFull contribution), while
    // the (1, 2) embed pair (2 distinct docs = the cap) still reports
    // identically. The streaming cap means no task ever buffers the
    // 2000-doc groups — this spec OOMs under the old it.toArray form
    // long before 100 TB would.
    val hotPayload = Multimodal.encodeWav(
      Multimodal.renderAudio("held drone jingle tone", rate, 2000), rate)
    val mediaHot = (Seq(
      (1L, Multimodal.encodeWav(clipA, rate)),
      (2L, Multimodal.encodeWav(comp, rate))) ++
      (100L until 2100L).map(i => (i, hotPayload))).toDF("doc_id", "payload")
    val (hp, hd) = Multimodal.audioLandmarkPairs(mediaHot, minLandmarks = 8,
      dfCap = 2, graft.operators.WavCodec)
    val hotPairs = hp.collect().map(r => (r.getAs[Long]("doc_a"),
      r.getAs[Long]("doc_b"), r.getAs[Int]("offset_frames"),
      r.getAs[Long]("n_matched"))).toSet
    val hotDocs = hd.collect().map(_.getAs[Long]("doc_id")).toSet
    graft.Pins.release()
    assert(!hotPairs.exists(p => p._1 >= 100L || p._2 >= 100L), hotPairs.size)
    assert(!hotDocs.exists(_ >= 100L), hotDocs.size)
    assert(hotPairs.exists(p => p._1 == 1L && p._2 == 2L), hotPairs)
  }

  test("mergeIntervals == the runs of a brute-force coverage bitmap") {
    def brute(iv: Seq[(Long, Long)], n: Int): Seq[(Int, Int)] = {
      val cov = new Array[Boolean](n)
      iv.foreach { case (a, b) =>
        (math.max(a, 0L) until math.min(b, n.toLong)).foreach(i => cov(i.toInt) = true)
      }
      val runs = Seq.newBuilder[(Int, Int)]
      var i = 0
      while (i < n) {
        if (cov(i)) {
          val s = i
          while (i < n && cov(i)) i += 1
          runs += ((s, i))
        } else i += 1
      }
      runs.result()
    }
    val fixed = Seq(
      (Seq.empty[(Long, Long)], 10),           // empty
      (Seq((0L, 3L), (3L, 5L)), 10),           // touching -> one run
      (Seq((4L, 4L), (7L, 6L)), 10),           // zero-width and reversed
      (Seq((-5L, 2L), (8L, 40L)), 10),         // out of range both ends
      (Seq((12L, 15L)), 10),                   // wholly past the end
      (Seq((5L, 9L), (1L, 6L), (2L, 3L)), 10)) // overlapping, any order
    val rng = new scala.util.Random(20261019L)
    val random = Seq.fill(2000) {
      val n = rng.nextInt(40)
      (Seq.fill(rng.nextInt(7)) {
        val a = rng.nextInt(60) - 10L
        (a, a + rng.nextInt(16) - 2L)
      }, n)
    }
    (fixed ++ random).foreach { case (iv, n) =>
      assert(Multimodal.mergeIntervals(iv, n) == brute(iv, n), (iv, n))
    }
    assert(Multimodal.mergeIntervals(Seq((0L, 3L), (3L, 5L)), 10) == Seq((0, 5)))
  }

  test("q206 scrub: planted NON-ALIGNED embed cut; re-probe clean; clean doc untouched") {
    val rate = Multimodal.AudioRate
    val clipA = Multimodal.renderAudio("alpha beta gamma tokens", rate, 2000)
    val pre = Multimodal.renderAudio("completely different opener words", rate, 2000)
    val post = Multimodal.renderAudio("unrelated closing content here", rate, 2000)
    val comp = (pre.take(777) ++ clipA ++ post).take(6000)
    val media = Seq(
      (1L, Multimodal.encodeWav(clipA, rate)),
      (2L, Multimodal.encodeWav(comp, rate)),
      (3L, Multimodal.encodeWav(
        Multimodal.renderAudio("noise floor something else", rate, 4000), rate))
    ).toDF("doc_id", "payload")
    // pair kernel + cut walk on the raw media frame (the q206 kernel
    // without the synth stage — same composition the operator runs)
    val (pairs, _) = Multimodal.audioOverlapPairs(media, winSamples = 500,
      minRunWins = 3, dfCap = 0, graft.operators.WavCodec, exact = true)
    val row = pairs.filter(org.apache.spark.sql.functions.col("doc_a") === 1L &&
        org.apache.spark.sql.functions.col("doc_b") === 2L)
      .collect().head
    val cStart = row.getAs[Long]("a_start") - row.getAs[Int]("offset_samples")
    val cEnd = row.getAs[Long]("a_end") - row.getAs[Int]("offset_samples")
    graft.Pins.release()
    // the evidenced extent sits inside the true embed [777, 2777),
    // within the winnowing slack (<= 250 = winSamples/2 per side)
    assert(cStart >= 777L && cStart <= 777L + 250L, (cStart, cEnd))
    assert(cEnd <= 2777L && cEnd >= 2777L - 250L, (cStart, cEnd))
    // keepFirst cut: doc 2 (the larger id) loses the evidenced span
    val (comp2, cut) = Multimodal.cutSamples(comp, Seq((cStart, cEnd)))
    assert(cut == (cEnd - cStart).toInt && comp2.length == comp.length - cut)
    val media2 = Seq(
      (1L, Multimodal.encodeWav(clipA, rate)),
      (2L, Multimodal.encodeWav(comp2, rate)),
      (3L, Multimodal.encodeWav(
        Multimodal.renderAudio("noise floor something else", rate, 4000), rate))
    ).toDF("doc_id", "payload")
    // re-probe at the same gate: residual shared runs are < 1.5x
    // winSamples, strictly below the 3x report gate -> clean
    val (reprobe, _) = Multimodal.audioOverlapPairs(media2, winSamples = 500,
      minRunWins = 3, dfCap = 0, graft.operators.WavCodec, exact = true)
    val again = reprobe.collect()
    graft.Pins.release()
    assert(again.isEmpty, again.toSeq)
  }

  test("q206 full path: length identity, keepFirst survivorship, clean payload byte-identical") {
    val corpus = Seq(
      (1L, "storm river mountain valley"),        // rep of the clique
      (2L, "STORM RIVER MOUNTAIN VALLEY"),        // exact dup -> inherits rep's verdict
      (3L, "storm river mountain valley"),        // clique: identical audio -> doc 1 survives
      (4L, "entirely different tokens here")      // clean: byte-identical passthrough
    ).toDF("doc_id", "text")
    val out = Multimodal.q206AudioScrub(spark, corpus).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Array[Byte]]("payload"),
        r.getAs[Long]("n_samples"), r.getAs[Long]("cut_samples"),
        r.getAs[Long]("out_samples"))).sortBy(_._1)
    graft.Pins.release()
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    out.foreach { case (id, _, n, cut, os) =>
      assert(n == Multimodal.AudioSamples.toLong, (id, n))
      assert(os == n - cut, (id, os, n, cut))
    }
    // doc 1 is doc_a of every clique diagonal -> keeps its audio;
    // docs 2/3 inherit the rep's cut... but 2 and 3 ARE the same
    // normalized text as 1, so the clique has ONE rep (doc 1): no
    // cross-rep pair exists and nothing is cut at all
    assert(out.forall(_._4 == 0L), out.map(t => (t._1, t._4)).toSeq)
    // clean doc's payload is byte-identical to a fresh synth+encode
    val cleanSynth = Multimodal.encodeWav(Multimodal.renderAudio(
      "entirely different tokens here", Multimodal.AudioRate,
      Multimodal.AudioSamples), Multimodal.AudioRate)
    assert(java.util.Arrays.equals(out.find(_._1 == 4L).get._2, cleanSynth))
  }

  test("q208 scrub kernel: NON-ALIGNED paste blanked with slack; re-probe clean") {
    val a = Multimodal.renderImage("alpha beta gamma delta tokens", 16, 16)
    val c = new java.awt.image.BufferedImage(32, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      c.setRGB(5 + x, 9 + y, a.getRGB(x, y))
    val media = Seq(
      (1L, Multimodal.encodePng(a)),
      (2L, Multimodal.encodePng(c)),
      (3L, Multimodal.encodePng(
        Multimodal.renderImage("unrelated stuff entirely here", 24, 24)))
    ).toDF("doc_id", "payload")
    val (pairs, _) = Multimodal.imageOverlapPairs(media, tile = 8,
      minTiles = 2, dfCap = 0, graft.operators.ImageIoCodec)
    val row = pairs.filter(org.apache.spark.sql.functions.col("doc_a") === 1L)
      .collect().head
    graft.Pins.release()
    // evidence bbox on the collage side, expanded by the w' slack,
    // covers the WHOLE paste [5,21)x[9,25) (the 1D guarantee per axis)
    val m = 4
    val (bx0, by0) = (row.getAs[Int]("ax0") - row.getAs[Int]("dx_px") - m,
      row.getAs[Int]("ay0") - row.getAs[Int]("dy_px") - m)
    val (bx1, by1) = (row.getAs[Int]("ax1") - row.getAs[Int]("dx_px") + m,
      row.getAs[Int]("ay1") - row.getAs[Int]("dy_px") + m)
    assert(bx0 <= 5 && by0 <= 9 && bx1 >= 21 && by1 >= 25,
      (bx0, by0, bx1, by1))
    // blank it; the blanked collage re-probes CLEAN against the source
    val (c2, cut) = Multimodal.blankRects(
      Multimodal.decodeImage(Multimodal.encodePng(c)).get._1,
      Seq((bx0, by0, bx1, by1)))
    assert(cut > 0 && cut <= 32L * 32L)
    val media2 = Seq(
      (1L, Multimodal.encodePng(a)),
      (2L, Multimodal.encodePng(c2))
    ).toDF("doc_id", "payload")
    val (reprobe, _) = Multimodal.imageOverlapPairs(media2, tile = 8,
      minTiles = 2, dfCap = 0, graft.operators.ImageIoCodec)
    val again = reprobe.collect()
    graft.Pins.release()
    assert(again.isEmpty, again.toSeq)
  }

  test("q208 full path: area identities, keepFirst survivorship, clean doc byte-identical") {
    val base = "storm river mountain valley cloud forest"
    val corpus = Seq(
      (10L, base),
      (20L, base.toUpperCase),                      // exact dup clique of 10
      (30L, "entirely different tokens painting another image now")
    ).toDF("doc_id", "text")
    val out = Multimodal.q208ImageScrub(spark, corpus).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Array[Byte]]("payload"),
        r.getAs[Int]("w"), r.getAs[Int]("h"), r.getAs[Long]("n_px"),
        r.getAs[Long]("cut_px"))).sortBy(_._1)
    graft.Pins.release()
    assert(out.map(_._1).toSeq == Seq(10L, 20L, 30L))
    out.foreach { case (id, _, w, h, n, cut) =>
      assert(n == w.toLong * h && cut >= 0 && cut <= n, (id, w, h, n, cut))
    }
    // one clique, one rep: no cross-rep pair exists, nothing blanked
    assert(out.forall(_._6 == 0L), out.map(t => (t._1, t._6)).toSeq)
    // clean doc's payload byte-identical to a fresh render+encode
    val hsum = Multimodal.checksum(
      "entirely different tokens painting another image now"
        .toLowerCase.trim.split(" ").sorted.mkString(" ").getBytes("UTF-8"))
    val (w, h) = (16 + (hsum % 16).toInt, 16 + ((hsum / 16) % 16).toInt)
    val fresh = Multimodal.encodePng(Multimodal.renderImage(
      "entirely different tokens painting another image now", w, h))
    assert(java.util.Arrays.equals(out.find(_._1 == 30L).get._2, fresh))
  }

  test("q206 gapped diagonal: copy-with-replaced-middle keeps the unique middle (r16 review)") {
    // doc 2 carries TWO snippets of doc 1 at the SAME relative offset
    // (a verbatim copy whose middle 1000 samples were replaced): the
    // old per-diagonal min..max hull cut the unique middle too; the
    // segmented lane must emit two extents and leave the middle alone
    val rate = Multimodal.AudioRate
    val clipA = Multimodal.renderAudio("alpha beta gamma delta source", rate, 3000)
    val pre = Multimodal.renderAudio("different opener material here", rate, 777)
    val mid = Multimodal.renderAudio("unique replacement middle words", rate, 1000)
    val post = Multimodal.renderAudio("unrelated closing content again", rate, 500)
    val comp = pre ++ clipA.slice(0, 1000) ++ mid ++ clipA.slice(2000, 3000) ++ post
    val media = Seq(
      (1L, Multimodal.encodeWav(clipA, rate)),
      (2L, Multimodal.encodeWav(comp, rate))
    ).toDF("doc_id", "payload")
    val (pairs, _) = Multimodal.audioOverlapPairs(media, winSamples = 200,
      minRunWins = 3, dfCap = 0, graft.operators.WavCodec, exact = true)
    val rows = pairs.collect().map(r => (r.getAs[Int]("offset_samples"),
      r.getAs[Long]("a_start"), r.getAs[Long]("a_end")))
    graft.Pins.release()
    // two clusters on the one shared diagonal (offset a−b = −777)
    assert(rows.length == 2 && rows.forall(_._1 == -777), rows.toSeq)
    val Seq(c1, c2) = rows.sortBy(_._2).toSeq
    // each extent stays inside its own snippet's true bounds (a side)
    assert(c1._2 >= 0L && c1._3 <= 1000L, c1)
    assert(c2._2 >= 2000L && c2._3 <= 3000L, c2)
    // the scrub cut (b side = a − offset) must not touch the unique
    // middle of doc 2 at [1777, 2777)
    val cuts = rows.map(r => (r._2 - r._1, r._3 - r._1)).toSeq
    assert(cuts.forall(c => c._2 <= 1777L || c._1 >= 2777L), cuts)
    val (comp2, cut) = Multimodal.cutSamples(comp, cuts)
    assert(cut > 0 && comp2.length == comp.length - cut)
    // the unique middle survives verbatim inside the scrubbed clip
    val midStr = mid.mkString(",")
    assert(comp2.mkString(",").contains(midStr))
  }

  test("q208 gapped diagonal: two pastes at one (dx,dy) blank two rects, middle band survives") {
    // collage carries doc 1's TOP and BOTTOM bands at the same pixel
    // offset with a unique band between — the 2D replaced-middle: the
    // old hull blanked the whole vertical span including the unique
    // band; the clustered lane emits one rect per paste
    val a = Multimodal.renderImage("alpha beta gamma delta source image", 16, 48)
    val c = Multimodal.renderImage("unique canvas background material", 24, 58)
    for (y <- 0 until 16; x <- 0 until 16) c.setRGB(4 + x, 5 + y, a.getRGB(x, y))
    for (y <- 32 until 48; x <- 0 until 16) c.setRGB(4 + x, 5 + y, a.getRGB(x, y))
    val cBytes = Multimodal.encodePng(c)
    val media = Seq(
      (1L, Multimodal.encodePng(a)),
      (2L, cBytes)
    ).toDF("doc_id", "payload")
    val (pairs, _) = Multimodal.imageOverlapPairs(media, tile = 8,
      minTiles = 2, dfCap = 0, graft.operators.ImageIoCodec)
    val rows = pairs.collect().map(r => (r.getAs[Int]("dx_px"),
      r.getAs[Int]("dy_px"), r.getAs[Int]("ax0"), r.getAs[Int]("ay0"),
      r.getAs[Int]("ax1"), r.getAs[Int]("ay1")))
    graft.Pins.release()
    // two clusters on the one shared diagonal (a−c = (−4, −5))
    assert(rows.length == 2 && rows.forall(r => r._1 == -4 && r._2 == -5),
      rows.toSeq)
    val Seq(top, bot) = rows.sortBy(_._4).toSeq
    // each bbox stays inside its own band's true bounds (a side)
    assert(top._4 >= 0 && top._6 <= 16, top)
    assert(bot._4 >= 32 && bot._6 <= 48, bot)
    // blank both rects with the q208 margin: the unique middle band of
    // the collage (c rows 21..37, interior ~26..32 beyond slack) survives
    val m = 4
    val rects = rows.map(r => (r._3 - r._1 - m, r._4 - r._2 - m,
      r._5 - r._1 + m, r._6 - r._2 + m)).toSeq
    val (c2, cut) = Multimodal.blankRects(
      Multimodal.decodeImage(cBytes).get._1, rects)
    assert(cut > 0)
    val orig = Multimodal.decodeImage(cBytes).get._1
    for (y <- 26 to 31; x <- 0 until 24)
      assert(c2.getRGB(x, y) == orig.getRGB(x, y), (x, y))
    // and both pastes ARE blanked (black) at their centers
    assert(c2.getRGB(12, 13) == 0xff000000.toInt)
    assert(c2.getRGB(12, 45) == 0xff000000.toInt)
  }

  test("q210 kernel: clip re-encoded frame-by-frame as JPEG still near-dups its PNG original") {
    import graft.operators.{FramedCodec, ImageIoCodec, JpegCodec}
    // 48×48 frames: dHash's 9×8 box grid averages JPEG block artifacts
    // out at realistic sizes; a 20×20 render is BELOW the grid scale
    // (every box is ~2 pixels, so quantization noise flips gradient
    // signs — measured hamming 8 at 20², 0 at 48²)
    val frames = (0 until 6).map(i =>
      Multimodal.renderImage(s"unique frame number $i content tokens", 48, 48))
    val other = (0 until 6).map(i =>
      Multimodal.renderImage(s"completely different movie scene $i here", 48, 48))
    val png = FramedCodec(ImageIoCodec)
    val jpg = FramedCodec(JpegCodec)
    val media = Seq(
      (1L, png.encode(frames)),
      (2L, jpg.encode(frames)),   // REAL lossy re-encode of the same clip
      (3L, png.encode(other))
    ).toDF("doc_id", "payload")
    // decode side: ImageIO auto-detects PNG and JPEG alike
    val pairs = Multimodal.videoNeardupPairs(media, maxHamming = 3, png)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming")))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 <= 3), pairs.toSeq)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), pairs.toSeq)
  }

  test("q210 full path: clique expands at hamming 0; unrelated docs silent") {
    val base = "storm river mountain valley cloud forest meadow stone"
    val corpus = Seq(
      (10L, base),
      (20L, base.toUpperCase),   // exact-dup clique of 10
      (30L, "entirely different tokens painting another moving picture now")
    ).toDF("doc_id", "text")
    val out = Multimodal.q210VideoNeardup(spark, corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming")))
    assert(out.contains((10L, 20L, 0)), out.toSeq)
    assert(!out.exists(p => p._1 == 30L || p._2 == 30L), out.toSeq)
  }

  test("q211 kernel: embedded clip found at the right frame offset with the full run") {
    import graft.operators.{FramedCodec, ImageIoCodec}
    val vc = FramedCodec(ImageIoCodec)
    val words = Seq("zebra crossing harbor", "quantum lattice drum",
      "maroon velvet thunder", "glacier pepper axis", "orbit walnut hymn",
      "canyon silver prism", "ember lotus spiral")
    val f = words.map(w => Multimodal.renderImage(s"$w scene tokens", 48, 48))
    val g = Seq("filler bumper alpha intro", "filler bumper beta middle",
      "filler bumper gamma outro")
      .map(w => Multimodal.renderImage(w, 48, 48))
    val media = Seq(
      (1L, vc.encode(f.take(5))),                      // the source clip
      (2L, vc.encode(Seq(g(0), g(1)) ++ f.take(5) :+ g(2))), // compilation
      (3L, vc.encode(g))                               // unrelated
    ).toDF("doc_id", "payload")
    val (pairs, _) = Multimodal.videoOverlapPairs(media, minRunFrames = 3,
      dfCap = 0, vc)
    val rows = pairs.collect().map(r => (r.getAs[Long]("doc_a"),
      r.getAs[Long]("doc_b"), r.getAs[Int]("offset_frames"),
      r.getAs[Long]("run_frames"), r.getAs[Int]("a_start")))
    graft.Pins.release()
    // A frame i sits at compilation frame i+2: offset a−b = −2, run 5
    assert(rows.exists(p => p._1 == 1L && p._2 == 2L && p._3 == -2 &&
      p._4 == 5L && p._5 == 0), rows.toSeq)
    assert(!rows.exists(p => p._1 == 3L || p._2 == 3L), rows.toSeq)
  }

  test("q211 gapped diagonal: replaced middle frame splits into two gated runs") {
    import graft.operators.{FramedCodec, ImageIoCodec}
    val vc = FramedCodec(ImageIoCodec)
    val words = Seq("zebra crossing harbor", "quantum lattice drum",
      "maroon velvet thunder", "glacier pepper axis", "orbit walnut hymn",
      "canyon silver prism", "ember lotus spiral")
    val f = words.map(w => Multimodal.renderImage(s"$w scene tokens", 48, 48))
    val x = Multimodal.renderImage("replacement interstitial frame here", 48, 48)
    val media = Seq(
      (1L, vc.encode(f)),                               // F0..F6
      (2L, vc.encode(f.take(3) ++ Seq(x) ++ f.drop(4))) // F3 replaced
    ).toDF("doc_id", "payload")
    val (pairs, _) = Multimodal.videoOverlapPairs(media, minRunFrames = 3,
      dfCap = 0, vc)
    val rows = pairs.collect().map(r => (r.getAs[Int]("offset_frames"),
      r.getAs[Int]("a_start"), r.getAs[Int]("a_end"),
      r.getAs[Long]("run_frames"))).sortBy(_._2)
    graft.Pins.release()
    // one diagonal (offset 0), two consecutive clusters: [0,3) and [4,7)
    assert(rows.length == 2 && rows.forall(_._1 == 0), rows.toSeq)
    assert(rows(0) == ((0, 0, 3, 3L)) && rows(1) == ((0, 4, 7, 3L)), rows.toSeq)
  }

  test("q211 full path: clique reports full overlap at offset 0; unrelated silent") {
    val base = "storm river mountain valley cloud forest meadow stone"
    val corpus = Seq(
      (10L, base),
      (20L, base.toUpperCase),
      (30L, "entirely different tokens painting another moving picture now")
    ).toDF("doc_id", "text")
    val out = Multimodal.q211VideoOverlap(spark, corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("offset_frames")))
    assert(out.exists(p => p._1 == 10L && p._2 == 20L && p._3 == 0), out.toSeq)
    assert(!out.exists(p => p._1 == 30L || p._2 == 30L), out.toSeq)
  }

  test("q212 scrub kernel: embedded frames cut from the compilation; re-probe clean; gap survives") {
    import graft.operators.{FramedCodec, ImageIoCodec}
    val vc = FramedCodec(ImageIoCodec)
    val words = Seq("zebra crossing harbor", "quantum lattice drum",
      "maroon velvet thunder", "glacier pepper axis", "orbit walnut hymn",
      "canyon silver prism", "ember lotus spiral")
    val f = words.map(w => Multimodal.renderImage(s"$w scene tokens", 48, 48))
    val x = Multimodal.renderImage("replacement interstitial frame here", 48, 48)
    // doc 2 re-uses F0..F2 and F4..F6 of doc 1 at one offset with a
    // replaced middle: the cut must take BOTH runs and LEAVE x
    val comp = f.take(3) ++ Seq(x) ++ f.drop(4)
    val media = Seq((1L, vc.encode(f)), (2L, vc.encode(comp)))
      .toDF("doc_id", "payload")
    val (pairs, _) = Multimodal.videoOverlapPairs(media, minRunFrames = 3,
      dfCap = 0, vc)
    val cuts = pairs.collect().map(r =>
      (r.getAs[Int]("a_start") - r.getAs[Int]("offset_frames"),
        r.getAs[Int]("a_end") - r.getAs[Int]("offset_frames"))).toSeq
    graft.Pins.release()
    val merged = Multimodal.mergeIntervals(
      cuts.map { case (a, b) => (a.toLong, b.toLong) }, comp.length)
    // the cut covers exactly frames 0..2 and 4..6 of the compilation —
    // the replacement frame 3 is outside every interval
    assert(merged == Seq((0, 3), (4, 7)), merged)
    val clip = vc.decode(vc.encode(comp)).get
    val keep = (0 until clip.numFrames)
      .filterNot(fr => merged.exists(c => fr >= c._1 && fr < c._2))
    assert(keep == Seq(3), keep)
    // re-probe: the scrubbed compilation (just x) vs the source is clean
    val media2 = Seq((1L, vc.encode(f)),
      (2L, vc.encode(keep.map(i => comp(i))))).toDF("doc_id", "payload")
    val (reprobe, _) = Multimodal.videoOverlapPairs(media2, minRunFrames = 3,
      dfCap = 0, vc)
    val again = reprobe.collect()
    graft.Pins.release()
    assert(again.isEmpty, again.toSeq)
  }

  test("q212 full path: frame identities, clique uncut, clean payload byte-identical") {
    val base = "storm river mountain valley cloud forest meadow stone"
    val corpus = Seq(
      (10L, base),
      (20L, base.toUpperCase),   // exact dup -> one rep, nothing to cut
      (30L, "entirely different tokens painting another moving picture now")
    ).toDF("doc_id", "text")
    val out = Multimodal.q212VideoScrub(spark, corpus).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Array[Byte]]("payload"),
        r.getAs[Long]("n_frames"), r.getAs[Long]("cut_frames"),
        r.getAs[Long]("out_frames"))).sortBy(_._1)
    graft.Pins.release()
    assert(out.map(_._1).toSeq == Seq(10L, 20L, 30L))
    out.foreach { case (id, _, n, cut, o) =>
      assert(n >= 8L && n <= 12L, (id, n))
      assert(o == n - cut && cut >= 0L && cut <= n, (id, n, cut, o))
    }
    // one clique, one rep: no cross-rep pair, nothing cut
    assert(out.forall(_._4 == 0L), out.map(t => (t._1, t._4)).toSeq)
    // clean doc byte-identical to a fresh synth
    import graft.operators.{FramedCodec, ImageIoCodec}
    val fresh = Multimodal.renderClip(
      "entirely different tokens painting another moving picture now",
      FramedCodec(ImageIoCodec))
    assert(java.util.Arrays.equals(out.find(_._1 == 30L).get._2, fresh))
  }

  test("q212 fully-embedded clip: all-cut scrub emits the empty payload, None on decode") {
    import graft.operators.{FramedCodec, ImageIoCodec}
    val vc = FramedCodec(ImageIoCodec)
    val words = Seq("zebra crossing harbor", "quantum lattice drum",
      "maroon velvet thunder", "glacier pepper axis", "orbit walnut hymn")
    val f = words.map(w => Multimodal.renderImage(s"$w scene tokens", 48, 48))
    val payload = vc.encode(f)
    // every frame evidenced (one full-cover interval, plus a redundant
    // overlap to exercise the merge): out must be EMPTY but the counts
    // must still satisfy the q212Driver partition identity
    val (out, n, cut, kept) =
      Multimodal.scrubClipFrames(payload, Seq((0, 5), (2, 4)), vc)
    assert(n == 5L && cut == 5L && kept == 0L, (n, cut, kept))
    assert(out.isEmpty, s"expected empty payload, got ${out.length} bytes")
    // ck01 contract: empty bytes are NOT a decodable container — a
    // consumer must key off out_frames == 0, never decode(payload)
    assert(vc.decode(out).isEmpty)
    // partial cut on the same clip still round-trips normally
    val (out2, n2, cut2, kept2) =
      Multimodal.scrubClipFrames(payload, Seq((0, 3)), vc)
    assert(n2 == 5L && cut2 == 3L && kept2 == 2L, (n2, cut2, kept2))
    assert(vc.decode(out2).exists(_.numFrames == 2))
  }

  test("q198 finds a re-voiced near-duplicate that byte identity misses") {
    // same token multiset, different case/order → identical synth audio
    val base = "storm river mountain valley cloud forest meadow stone pebble"
    val dup = "Pebble stone meadow forest cloud valley mountain river storm"
    val other = "completely different words about trains and signals here now"
    val corpus = Seq((100L, base), (200L, dup), (300L, other))
      .toDF("doc_id", "text")
    val pairs = Multimodal.q198AudioNeardup(spark, corpus).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming")))
    assert(pairs.exists(p => p._1 == 100L && p._2 == 200L && p._3 == 0),
      pairs.toSeq)
    assert(!pairs.exists(p => p._2 == 300L || p._1 == 300L), pairs.toSeq)
    assert(Multimodal.q79(spark, corpus).count() == 3L) // bytes differ
  }

  test("AudioCodec seam: q197/q198 run unchanged through a non-WAV codec") {
    import MultimodalCodecSpec.RawPcmCodec
    val rows = Multimodal.q197AudioSample(spark, docs, codec = RawPcmCodec)
      .collect()
    val wav = Multimodal.q197AudioSample(spark, docs).collect()
    // features derive from the decoded PCM, which both containers carry
    assert(rows.map(_.toSeq).toSeq == wav.map(_.toSeq).toSeq)
    val base = "storm river mountain valley cloud forest meadow stone pebble"
    val dup = "Pebble stone meadow forest cloud valley mountain river storm"
    val two = Seq((100L, base), (200L, dup)).toDF("doc_id", "text")
    val pairs = Multimodal.q198AudioNeardup(spark, two, codec = RawPcmCodec)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.contains((100L, 200L)), pairs.toSeq)
  }
}

object MultimodalCodecSpec {
  /** Audio analog of [[RawCodec]]: a trivial raw-PCM container
    * (magic + rate + count + samples). Proves q197/q198 only touch the
    * [[graft.operators.AudioCodec]] seam — no javax.sound anywhere. */
  object RawPcmCodec extends graft.operators.AudioCodec {
    private val Magic = 0x5250434d // "RPCM"
    override def encode(samples: Array[Short], rate: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(bos)
      d.writeInt(Magic); d.writeInt(rate); d.writeInt(samples.length)
      samples.foreach(d.writeShort(_))
      d.flush(); bos.toByteArray
    }
    override def decode(bytes: Array[Byte]): Option[(Array[Short], Int, String)] = {
      if (bytes.length < 12) return None
      val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      if (d.readInt() != Magic) return None
      val rate = d.readInt(); val n = d.readInt()
      if (rate <= 0 || n < 0 || bytes.length < 12 + 2L * n) return None
      Some((Array.fill(n)(d.readShort()), rate, "rawpcm"))
    }
  }

  /** Stand-in for a production codec jar: a trivial raw-RGB container
    * (magic + dims + int pixels). Proves the operators only touch the
    * [[graft.operators.MediaCodec]] seam — no ImageIO anywhere. */
  object RawCodec extends graft.operators.MediaCodec {
    private val Magic = 0x47524157 // "GRAW"
    override def encode(img: java.awt.image.BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(bos)
      d.writeInt(Magic); d.writeInt(img.getWidth); d.writeInt(img.getHeight)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) { d.writeInt(img.getRGB(x, y)); x += 1 }
        y += 1
      }
      d.flush(); bos.toByteArray
    }
    override def decode(bytes: Array[Byte]): Option[(java.awt.image.BufferedImage, String)] = {
      if (bytes.length < 12) return None
      val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      if (d.readInt() != Magic) return None
      val w = d.readInt(); val h = d.readInt()
      if (w <= 0 || h <= 0 || bytes.length < 12 + 4L * w * h) return None
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, d.readInt()); x += 1 }
        y += 1
      }
      Some((img, "rawrgb"))
    }
  }

  /** Stand-in for a production H.264/AV1 container jar: one whole-clip
    * blob (magic + frame count + per-frame w/h/pixels) with its own
    * in-container size accounting — the [[graft.operators.VideoCodec]]
    * twin of [[RawCodec]]. Proves q53 only touches the container seam:
    * no framing, no PNG, no ImageIO anywhere in this path. */
  object RawClipCodec extends graft.operators.VideoCodec {
    private val Magic = 0x47434c50 // "GCLP"
    override def encode(frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val d = new java.io.DataOutputStream(bos)
      d.writeInt(Magic); d.writeInt(frames.size)
      frames.foreach { img =>
        d.writeInt(img.getWidth); d.writeInt(img.getHeight)
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) { d.writeInt(img.getRGB(x, y)); x += 1 }
          y += 1
        }
      }
      d.flush(); bos.toByteArray
    }
    override def decode(bytes: Array[Byte])
        : Option[graft.operators.VideoClip] = {
      if (bytes.length < 8) return None
      val d = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      if (d.readInt() != Magic) return None
      val n = d.readInt()
      if (n <= 0) return None
      val decoded = (0 until n).map { _ =>
        val w = d.readInt(); val h = d.readInt()
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, d.readInt()); x += 1 }
          y += 1
        }
        (img, 12L + 4L * w * h)
      }
      Some(new graft.operators.VideoClip {
        override def numFrames: Int = n
        override def frame(i: Int) = decoded(i)
      })
    }
  }
}
