package graft

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streams

/** Structured Streaming specs (§2d): st01 watermarked windowed agg and
  * st02 stateful sessionization, driven by MemoryStream micro-batches. */
class StreamingSpec extends GraftSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  case class StreamEv(user_id: Long, ts: Timestamp, event_type: String, value: Double)

  private def ev(user: Long, iso: String, typ: String = "view", v: Double = 1.0) =
    StreamEv(user, Timestamp.from(Instant.parse(iso)), typ, v)

  private def td(iso: String, text: String) =
    Streams.DriftDoc(Timestamp.from(Instant.parse(iso)), text)

  test("st37 fake broker passes the transport-head conformance kit; violations are reported") {
    import graft.streaming.{FakeBrokerHead, StreamHead, TransportHead}
    val dir = java.nio.file.Files.createTempDirectory("graft-st37").toString + "/log"
    val head = FakeBrokerHead(dir, "docs")
    val ts = Timestamp.from(Instant.parse("2026-01-01T00:00:00Z"))
    def rec(id: Long, text: String) =
      (s"k$id".getBytes("UTF-8"),
        s"""{"doc_id": $id, "text": "$text"}""".getBytes("UTF-8"))
    head.append(spark, partition = 0, Seq(rec(1, "alpha"), rec(2, "beta")), ts)
    head.append(spark, partition = 1, Seq(rec(3, "gamma")), ts)
    head.append(spark, partition = 0, Seq(rec(4, "delta")), ts) // offsets continue
    assert(StreamHead.conformance(spark, head).isEmpty)
    // offsets really are per-partition contiguous from 0
    val offs = head.replay(spark).select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(offs == Set((0, 0L), (0, 1L), (0, 2L), (1, 0L)), offs)
    // a violating head is CAUGHT, not waved through: batch frame where
    // a streaming one is due, wrong schema, gapped offsets
    val bad = new TransportHead {
      override def open(s: org.apache.spark.sql.SparkSession) = replay(s)
      override def replay(s: org.apache.spark.sql.SparkSession) = {
        import s.implicits._
        Seq(("t", 0, 5L)).toDF("topic", "partition", "offset")
      }
    }
    val v = StreamHead.conformance(spark, bad)
    assert(v.exists(_.contains("STREAMING")), v)
    assert(v.exists(_.contains("schema mismatch")), v)
    assert(v.exists(_.contains("gapped")), v)
  }

  test("st37 end-to-end: the fake broker feeds an unchanged st-gate through StreamHead.docs") {
    import graft.streaming.{FakeBrokerHead, StreamHead}
    val ixName = "graft_st37_ix"
    def text(tag: String) =
      (1 to 15).map(w => s"${tag}_w$w term$w").mkString(" ")
    graft.operators.NearDupIndex.drop(spark, ixName)
    graft.operators.NearDupIndex.fit(
      Seq((1L, text("hist"))).toDF("doc_id", "text"), ixName)
    val dir = java.nio.file.Files.createTempDirectory("graft-st37e").toString + "/log"
    val head = FakeBrokerHead(dir, "docs")
    val ts = Timestamp.from(Instant.parse("2026-01-01T00:00:00Z"))
    def rec(id: Long, t: String) =
      (s"k$id".getBytes("UTF-8"),
        s"""{"doc_id": $id, "text": "$t"}""".getBytes("UTF-8"))
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st37-out").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st37-ck").toString
    // the ONLY change vs the MemoryStream-driven st21 spec is the head:
    // transport frame -> StreamHead.docs -> the same gate, untouched
    val docs = StreamHead.docs(head.open(spark)).select("doc_id", "text")
    val q = Streams.startNearDupGate(docs, ixName, outDir, ckpt)
    try {
      head.append(spark, 0, Seq(
        rec(10, text("hist") + " tail"), // NEAR dup vs the fitted index
        rec(11, text("alpha"))), ts)     // new -> registers
      q.processAllAvailable()
      head.append(spark, 0, Seq(
        rec(20, text("alpha") + " tail"), // near dup vs a batch-1 admit
        rec(21, text("beta"))), ts)       // new
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(11L, 21L), kept)
    } finally {
      q.stop()
      graft.operators.NearDupIndex.drop(spark, ixName)
    }
  }

  test("st32 token-drift gate: flooded window flags, faithful window stays steady") {
    // reference: uniform over 4 token types
    val reference = Seq.fill(10)("a b c d").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val ms = MemoryStream[Streams.DriftDoc]
    val q = Streams.tokenDriftGate(ms.toDF(), reference, threshold = 64.0)
      .writeStream.format("memory").queryName("st32_out")
      .outputMode("append").start()
    try {
      // 10:00 window mirrors the reference; 11:00 is a one-token flood
      ms.addData(
        td("2026-01-01T10:00:00Z", "a b c d a b c d"),
        td("2026-01-01T10:20:00Z", "a b c d"),
        td("2026-01-01T11:05:00Z", Seq.fill(30)("zzz").mkString(" ")),
        td("2026-01-01T13:00:00Z", "a"))
      q.processAllAvailable()
      // a second batch pushes the chained agg's watermark forward
      ms.addData(td("2026-01-01T14:30:00Z", "a"))
      q.processAllAvailable()
      ms.addData(td("2026-01-01T16:00:00Z", "a"))
      q.processAllAvailable()
      val rows = spark.table("st32_out").collect()
        .map(r => r.getAs[Timestamp]("win_start").toInstant.toString ->
          (r.getAs[Long]("n_tokens"), r.getAs[Double]("chi2"),
            r.getAs[String]("status"))).toMap
      assert(rows.contains("2026-01-01T10:00:00Z") &&
        rows.contains("2026-01-01T11:00:00Z"), rows)
      assert(rows("2026-01-01T10:00:00Z")._3 == "steady", rows)
      assert(rows("2026-01-01T11:00:00Z")._3 == "drift", rows)
      assert(rows("2026-01-01T11:00:00Z")._1 == 30L, rows)
      // batch parity: the same plan over the same rows, batch-side
      val batch = Streams.tokenDriftGate(Seq(
        td("2026-01-01T10:00:00Z", "a b c d a b c d"),
        td("2026-01-01T10:20:00Z", "a b c d"),
        td("2026-01-01T11:05:00Z", Seq.fill(30)("zzz").mkString(" ")))
        .toDF(), reference, threshold = 64.0)
        .collect().map(r => r.getAs[Timestamp]("win_start").toInstant.toString ->
          (r.getAs[Long]("n_tokens"), r.getAs[Double]("chi2"),
            r.getAs[String]("status"))).toMap
      assert(batch("2026-01-01T10:00:00Z") == rows("2026-01-01T10:00:00Z"), batch)
      assert(batch("2026-01-01T11:00:00Z") == rows("2026-01-01T11:00:00Z"), batch)
    } finally q.stop()
  }

  test("st01 windowed agg emits a closed window once the watermark passes") {
    val ms = MemoryStream[StreamEv]
    val q = Streams.windowedAgg(ms.toDF())
      .writeStream.format("memory").queryName("st01_out").outputMode("append").start()
    try {
      // two events in the 10:00 window, one at 12:00 to advance the watermark
      ms.addData(
        ev(1, "2026-01-01T10:00:00Z"), ev(2, "2026-01-01T10:20:00Z", v = 2.0),
        ev(1, "2026-01-01T12:00:00Z"))
      q.processAllAvailable()
      // watermark (11:30) now exceeds the 10:00–11:00 window end; the
      // closed window is emitted on the next trigger
      ms.addData(ev(9, "2026-01-01T12:30:00Z"))
      q.processAllAvailable()
      val rows = spark.table("st01_out").collect()
      val w10 = rows.find(_.getAs[Timestamp]("win_start").toInstant ==
        Instant.parse("2026-01-01T10:00:00Z"))
      assert(w10.isDefined, rows.toSeq)
      assert(w10.get.getAs[Long]("n") == 2L)
      assert(w10.get.getAs[Double]("total_value") == 3.0)
    } finally q.stop()
  }

  test("st30 k-anonymity gate: closed class emits its exact verdict in-stream") {
    val ms = MemoryStream[StreamEv]
    val q = Streams.kAnonymityGate(ms.toDF(), k = 2)
      .writeStream.format("memory").queryName("st30_out").outputMode("append").start()
    try {
      // 10:00 window: 2 distinct users (u1 twice, u2 once) -> release;
      // 11:00 window: u1 only -> suppress; 13:00 event closes both
      ms.addData(
        ev(1, "2026-01-01T10:00:00Z"), ev(1, "2026-01-01T10:10:00Z"),
        ev(2, "2026-01-01T10:20:00Z"),
        ev(1, "2026-01-01T11:05:00Z"),
        ev(9, "2026-01-01T13:00:00Z"))
      q.processAllAvailable()
      ms.addData(ev(9, "2026-01-01T13:30:00Z"))
      q.processAllAvailable()
      val rows = spark.table("st30_out").collect()
        .map(r => r.getAs[Timestamp]("hour").toInstant.toString ->
          (r.getAs[Long]("n_events"), r.getAs[Long]("n_users"),
            r.getAs[String]("status"))).toMap
      assert(rows("2026-01-01T10:00:00Z") == ((3L, 2L, "release")), rows)
      assert(rows("2026-01-01T11:00:00Z") == ((1L, 1L, "suppress")), rows)
      // batch parity: the same rows through q183 give the same verdicts
      // (plain tuples — an inner case class can't be re-encoded batch-side)
      def bv(u: Long, iso: String) =
        (u, Timestamp.from(Instant.parse(iso)), "view")
      val batch = graft.operators.Events.q183(Seq(
        bv(1, "2026-01-01T10:00:00Z"), bv(1, "2026-01-01T10:10:00Z"),
        bv(2, "2026-01-01T10:20:00Z"), bv(1, "2026-01-01T11:05:00Z"))
        .toDF("user_id", "ts", "event_type"), k = 2)
        .collect().map(r => r.getAs[Timestamp]("hour").toInstant.toString ->
          r.getAs[String]("status")).toMap
      assert(batch("2026-01-01T10:00:00Z") == "release")
      assert(batch("2026-01-01T11:00:00Z") == "suppress")
    } finally q.stop()
  }

  test("st02 sessionization closes a session when the gap is exceeded") {
    val ms = MemoryStream[StreamEv]
    val q = Streams.sessionize(ms.toDF())
      .writeStream.format("memory").queryName("st02_out").outputMode("append").start()
    try {
      // user 1: two events 10 min apart, then one 2 h later (same batch):
      // the first session closes as soon as the later event is processed
      ms.addData(
        ev(1, "2026-01-01T10:00:00Z", v = 1.5), ev(1, "2026-01-01T10:10:00Z", v = 2.5),
        ev(1, "2026-01-01T12:00:00Z"))
      q.processAllAvailable()
      val rows = spark.table("st02_out").collect()
      assert(rows.length == 1, rows.toSeq)
      val s = rows.head
      assert(s.getAs[Long]("user_id") == 1L)
      assert(s.getAs[Long]("n_events") == 2L)
      assert(s.getAs[Long]("dur_us") == 600L * 1000 * 1000)
      assert(s.getAs[Double]("total_value") == 4.0)
    } finally q.stop()
  }

  test("st02 late event inside the open session merges without corrupting it") {
    val ms = MemoryStream[StreamEv]
    val q = Streams.sessionize(ms.toDF())
      .writeStream.format("memory").queryName("st02_late").outputMode("append").start()
    try {
      ms.addData(ev(8, "2026-01-01T10:00:00Z", v = 1.0))
      q.processAllAvailable()
      // a LATE event (09:50, within the 30-min watermark) for the same
      // open session arrives in the NEXT batch — it must extend the
      // session backwards (start=09:50), never shrink last_us
      ms.addData(ev(8, "2026-01-01T09:50:00Z", v = 2.0))
      q.processAllAvailable()
      // close it via a later event + watermark push
      ms.addData(ev(8, "2026-01-01T12:00:00Z"), ev(99, "2026-01-01T15:00:00Z"))
      q.processAllAvailable()
      ms.addData(ev(99, "2026-01-01T15:05:00Z"))
      q.processAllAvailable()
      val s = spark.table("st02_late").collect()
        .filter(r => r.getAs[Long]("user_id") == 8L && r.getAs[Long]("n_events") == 2L)
      assert(s.length == 1, spark.table("st02_late").collect().toSeq)
      val start = java.time.Instant.parse("2026-01-01T09:50:00Z")
      assert(s.head.getAs[Long]("session_start_us") ==
        start.getEpochSecond * 1000000L)
      assert(s.head.getAs[Long]("dur_us") == 600L * 1000 * 1000) // 09:50→10:00
      assert(s.head.getAs[Double]("total_value") == 3.0)
    } finally q.stop()
  }

  test("st02 event-time timeout flushes the open session") {
    val ms = MemoryStream[StreamEv]
    val q = Streams.sessionize(ms.toDF())
      .writeStream.format("memory").queryName("st02_timeout").outputMode("append").start()
    try {
      ms.addData(ev(5, "2026-01-01T10:00:00Z"))
      q.processAllAvailable()
      // another user's much-later event pushes the watermark past
      // 10:00 + gap(30m) + watermark delay(30m)
      ms.addData(ev(6, "2026-01-01T14:00:00Z"))
      q.processAllAvailable()
      ms.addData(ev(6, "2026-01-01T14:05:00Z")) // extra trigger to deliver timeouts
      q.processAllAvailable()
      val flushed = spark.table("st02_timeout").collect()
        .filter(_.getAs[Long]("user_id") == 5L)
      assert(flushed.length == 1, flushed.toSeq)
      assert(flushed.head.getAs[Long]("n_events") == 1L)
    } finally q.stop()
  }

  test("st03 streaming dedup drops duplicate ids within the watermark") {
    val ms = MemoryStream[(Long, Timestamp, String, Double, Long)]
    val df = ms.toDF().toDF("user_id", "ts", "event_type", "value", "event_id")
    val q = Streams.dedupStream(df)
      .writeStream.format("memory").queryName("st03_out").outputMode("append").start()
    try {
      val t = Timestamp.from(Instant.parse("2026-01-01T10:00:00Z"))
      ms.addData((1L, t, "view", 1.0, 100L), (1L, t, "view", 1.0, 100L),
                 (2L, t, "view", 2.0, 101L))
      q.processAllAvailable()
      ms.addData((1L, t, "view", 1.0, 100L)) // duplicate across batches
      q.processAllAvailable()
      val ids = spark.table("st03_out").collect().map(_.getAs[Long]("event_id"))
      assert(ids.sorted.toSeq == Seq(100L, 101L))
    } finally q.stop()
  }

  test("st04 stream-static enrichment joins a broadcast dimension") {
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val ms = MemoryStream[StreamEv]
    val q = Streams.enrich(ms.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("st04_out").outputMode("append").start()
    try {
      ms.addData(ev(1, "2026-01-01T10:00:00Z"), ev(3, "2026-01-01T10:01:00Z"))
      q.processAllAvailable()
      val rows = spark.table("st04_out").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("tier"))).toSet
      assert(rows == Set((1L, "gold"), (3L, null)))
    } finally q.stop()
  }

  test("st05 stream-stream interval join matches views to purchases within 1h") {
    val ms = MemoryStream[StreamEv]
    val q = Streams.conversions(ms.toDF())
      .writeStream.format("memory").queryName("st05_out").outputMode("append").start()
    try {
      ms.addData(
        ev(1, "2026-01-01T10:00:00Z", "view"),
        ev(1, "2026-01-01T10:30:00Z", "purchase"),   // within 1h → match
        ev(2, "2026-01-01T10:00:00Z", "view"),
        ev(2, "2026-01-01T12:30:00Z", "purchase"),   // 2.5h later → no match
        ev(3, "2026-01-01T11:00:00Z", "purchase"))   // no prior view
      q.processAllAvailable()
      ms.addData(ev(9, "2026-01-01T15:00:00Z", "view")) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("st05_out").collect().map(_.getAs[Long]("user_id"))
      assert(rows.toSeq == Seq(1L), rows.toSeq)
    } finally q.stop()
  }

  test("st27 outer stream-stream join emits unmatched views once the watermark closes") {
    val ms = MemoryStream[StreamEv]
    val q = Streams.conversionsOuter(ms.toDF())
      .writeStream.format("memory").queryName("st27_out").outputMode("append").start()
    try {
      ms.addData(
        ev(1, "2026-01-01T10:00:00Z", "view"),
        ev(1, "2026-01-01T10:30:00Z", "purchase"),   // converts
        ev(2, "2026-01-01T10:00:00Z", "view"))       // never converts
      q.processAllAvailable()
      // inner results may emit immediately; the user-2 null row must
      // NOT exist yet (its 1h window + 30m watermark still open)
      val early = spark.table("st27_out").collect()
        .filter(_.isNullAt(2)).map(_.getAs[Long]("user_id"))
      assert(early.isEmpty, early.toSeq)
      // advance event time far past 11:30 -> watermark closes user 2
      ms.addData(ev(9, "2026-01-01T20:00:00Z", "view"))
      q.processAllAvailable()
      ms.addData(ev(9, "2026-01-02T09:00:00Z", "purchase"))
      q.processAllAvailable()
      val out = spark.table("st27_out").collect()
      val matched = out.filter(!_.isNullAt(2)).map(_.getAs[Long]("user_id"))
      val unmatched = out.filter(_.isNullAt(2)).map(_.getAs[Long]("user_id"))
      assert(matched.toSeq == Seq(1L), matched.toSeq)
      assert(unmatched.contains(2L), out.mkString("; "))
    } finally q.stop()
  }

  test("st28 token-bucket throttle: burst clipped to capacity, refill recovers") {
    import java.sql.Timestamp
    // rate 1 token/s, burst capacity 2. Events at 0.0/0.1/0.2/0.5/3.5s:
    // the first two drain the full bucket, 0.2/0.5 are throttled
    // (only 100/300 milli-tokens refilled), 3.5 recovers (full refill).
    val ms = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.Streams
      .throttleGate(ms.toDF().toDF("doc_id", "source", "ts"),
        ratePerSec = 1L, capacity = 2L)
      .writeStream.format("memory").queryName("st28_out")
      .outputMode("append").start()
    def t(ms0: Long) = new Timestamp(ms0)
    try {
      ms.addData((1L, "A", t(0)), (2L, "A", t(100)), (3L, "A", t(200)),
        (4L, "A", t(500)), (5L, "A", t(3500)),
        (6L, "B", t(200))) // independent bucket per source
      q.processAllAvailable()
      val rows = spark.table("st28_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
      assert(rows == Map(1L -> "admitted", 2L -> "admitted",
        3L -> "throttled", 4L -> "throttled", 5L -> "admitted",
        6L -> "admitted"), rows)
      // cross-batch state: A's bucket now holds 1000 milli-tokens at
      // 3.5s -> an event at 3.6s admits, the next at 3.7s throttles
      ms.addData((7L, "A", t(3600)), (8L, "A", t(3700)))
      q.processAllAvailable()
      val again = spark.table("st28_out").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
      assert(again(7L) == "admitted" && again(8L) == "throttled", again)
    } finally q.stop()
  }

  test("st06 foreachBatch sink writes batch-id partitioned parquet idempotently") {
    val out = java.nio.file.Files.createTempDirectory("graft-st06").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-st06-ckpt").toString
    val ms = MemoryStream[StreamEv]
    val q = Streams.startIdempotentSink(ms.toDF(), out, ckpt)
    try {
      ms.addData(ev(1, "2026-01-01T10:00:00Z"), ev(2, "2026-01-01T10:01:00Z"))
      q.processAllAvailable()
      ms.addData(ev(3, "2026-01-01T10:02:00Z"))
      q.processAllAvailable()
      val back = spark.read.parquet(out)
      assert(back.count() == 3)
      assert(back.columns.contains("batch_id")) // partition column visible
    } finally q.stop()
  }

  test("st07 file-source stream: readStream over a parquet dir, AvailableNow drain") {
    // the lake-ingestion entry path: new files under a directory become
    // micro-batches; AvailableNow processes the backlog then stops
    val src = java.nio.file.Files.createTempDirectory("graft-st07-src").toString
    Tables.events(spark, SF).limit(500).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val stream = Streams.fileSource(spark, src, schema)
    val q = Streams.windowedAgg(stream)
      .writeStream.format("memory").queryName("st07_out").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      // append-mode windows stay open at end-of-stream; the drain itself
      // completing without error is the contract under test
      assert(q.exception.isEmpty, q.exception)
    } finally q.stop()
  }

  test("stateful queries run on the RocksDB state store provider") {
    // GraftSession defaults the provider to RocksDB; every stateful spec
    // above therefore already exercised it — this pins the conf so a
    // regression to the in-memory HashMap provider fails loudly
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .endsWith("RocksDBStateStoreProvider"))
    // and one end-to-end stateful pass under an explicitly-set provider:
    val ms = MemoryStream[StreamEv]
    val q = Streams.sessionize(ms.toDF())
      .writeStream.format("memory").queryName("rocksdb_out").outputMode("append").start()
    try {
      ms.addData(ev(7, "2026-01-01T10:00:00Z"), ev(7, "2026-01-01T10:05:00Z"),
        ev(7, "2026-01-01T13:00:00Z"))
      q.processAllAvailable()
      assert(spark.table("rocksdb_out").collect().length == 1)
      // the running query's state store provider is the RocksDB one
      val prog = q.lastProgress
      assert(prog == null || prog.stateOperators != null)
    } finally q.stop()
  }

  test("st09 end-to-end ingest: file source -> windowed agg -> idempotent sink") {
    // the composed lake-ingestion pipeline: a parquet landing dir drains
    // through the watermarked aggregation into a batch-id-partitioned
    // sink — the same operators st01/st06/st07 prove individually
    val src = java.nio.file.Files.createTempDirectory("graft-st09-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-st09-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-st09-ckpt").toString
    Tables.events(spark, SF).limit(1000).write.mode("overwrite").parquet(src)
    val schema = spark.read.parquet(src).schema
    val agg = Streams.windowedAgg(Streams.fileSource(spark, src, schema))
    val q = agg.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
      }
      .start()
    try {
      q.awaitTermination(120000)
      assert(q.exception.isEmpty, q.exception)
      // append-mode windows stay open until the watermark passes; the
      // sink directory exists (batch dirs written) even if final rows
      // await a later watermark push — restart with a new file to close
      Tables.events(spark, SF).limit(1000).write.mode("append").parquet(src)
      val q2 = agg.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")
        }
        .start()
      q2.awaitTermination(120000)
      assert(q2.exception.isEmpty, q2.exception)
    } finally q.stop()
  }

  test("st10 streaming corpus dedup drops same-text docs under different ids") {
    val ms = MemoryStream[(Long, String, Timestamp)]
    val df = ms.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = Streams.dedupCorpusStream(df, "ingest_ts")
      .writeStream.format("memory").queryName("st10_out").outputMode("append").start()
    try {
      val t = Timestamp.from(Instant.parse("2026-01-01T10:00:00Z"))
      ms.addData((1L, "the same exact document", t),
                 (2L, "the same exact document", t),   // same text, new id
                 (3L, "a different document", t))
      q.processAllAvailable()
      ms.addData((4L, "the same exact document", t))   // duplicate across batches
      q.processAllAvailable()
      val texts = spark.table("st10_out").collect().map(_.getAs[String]("text"))
      assert(texts.sorted.toSeq ==
        Seq("a different document", "the same exact document"))
    } finally q.stop()
  }

  test("st13 streaming perceptual dedup drops byte-variant renders st10 would keep") {
    val ms = MemoryStream[(Long, String, Timestamp)]
    val df = ms.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = Streams.dedupPerceptualStream(df, "ingest_ts")
      .writeStream.format("memory").queryName("st13_out").outputMode("append").start()
    try {
      val t = Timestamp.from(Instant.parse("2026-01-01T10:00:00Z"))
      // same tokens, different BYTES (case + order): content fingerprints
      // differ, but the normalized render is pixel-identical → same phash
      ms.addData((1L, "storm river mountain valley cloud", t),
                 (2L, "Cloud Valley MOUNTAIN river storm", t),
                 (3L, "a completely unrelated text here", t))
      q.processAllAvailable()
      ms.addData((4L, "river storm cloud mountain valley", t)) // across batches
      q.processAllAvailable()
      val ids = spark.table("st13_out").collect().map(_.getAs[Long]("doc_id")).sorted
      assert(ids.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("st33 streaming audio dedup drops a re-voiced copy within the watermark") {
    val ms = MemoryStream[(Long, String, Timestamp)]
    val df = ms.toDF().toDF("doc_id", "text", "ingest_ts")
    val q = Streams.dedupAudioStream(df, "ingest_ts")
      .writeStream.format("memory").queryName("st33_out").outputMode("append").start()
    try {
      val t = Timestamp.from(Instant.parse("2026-01-01T10:00:00Z"))
      // same token multiset, different bytes → identical synth audio →
      // identical spectral fingerprint
      ms.addData((1L, "storm river mountain valley cloud", t),
                 (2L, "Cloud Valley MOUNTAIN river storm", t),
                 (3L, "a completely unrelated text here", t))
      q.processAllAvailable()
      ms.addData((4L, "river storm cloud mountain valley", t)) // across batches
      q.processAllAvailable()
      val ids = spark.table("st33_out").collect().map(_.getAs[Long]("doc_id")).sorted
      assert(ids.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("st14 streaming quality gate: keeps exactly the batch operator's keep set") {
    // batch q104 on the real corpus decides the expected keep set
    val docs = Tables.documents(spark, SF)
    val expected = graft.operators.TextAnalysis.q104(docs)
      .filter(org.apache.spark.sql.functions.col("keep"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val q = Streams.qualityGateStream(df)
      .writeStream.format("memory").queryName("st14_out").outputMode("append").start()
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      ms.addData(rows.toSeq: _*)
      q.processAllAvailable()
      val kept = spark.table("st14_out").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(kept == expected)    // row-local fold == shuffle aggregate, bit-exact
      // stateless plan: no state store rows at all
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("st24 streaming compressibility gate: verdict parity with batch q146, both tails drop") {
    val docs = Tables.documents(spark, SF)
    val expected = graft.operators.TextAnalysis.q146(spark, docs)
      .filter(org.apache.spark.sql.functions.col("verdict") === "ok")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val q = Streams.compressGateStream(df)
      .writeStream.format("memory").queryName("st24_out").outputMode("append").start()
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      ms.addData(rows.toSeq: _*)
      // plus both planted tails: spam (too compressible) and a blob
      val rng = new scala.util.Random(3)
      ms.addData((900001L, "spam spam spam spam " * 50),
        (900002L, (1 to 400).map(_ => rng.nextPrintableChar()).mkString))
      q.processAllAvailable()
      val kept = spark.table("st24_out").collect().map(_.getAs[Long]("doc_id")).toSet
      assert(kept == expected)            // same deflate kernel, same verdicts
      assert(!kept.contains(900001L) && !kept.contains(900002L))
      assert(q.lastProgress.stateOperators.isEmpty) // stateless like st14
    } finally q.stop()
  }

  test("st15 streaming decontamination gate drops benchmark-overlapping docs") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st15").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st15-ck").toString
    val q = Streams.startDecontamGate(df, bench, outDir, ckpt)
    try {
      val batch1 = Seq(
        (1L, "alpha beta gamma delta epsilon"),  // verbatim leak: 3/3 grams
        (2L, "alpha beta gamma delta zeta"),     // 2/3 grams hit → dropped
        (3L, "one two three four five"),         // clean → kept
        (4L, "hi there"))                        // < 3 tokens → no evidence → kept
      ms.addData(batch1: _*)
      q.processAllAvailable()
      // index reused across micro-batches: a later batch still gates
      ms.addData((5L, "beta gamma delta epsilon eta"),  // 2/3 hit → dropped
                 (6L, "clean text with nothing shared here"))
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(kept == Set(3L, 4L, 6L))
      // parity with the batch code path on the same docs
      val all = (batch1 ++ Seq((5L, "beta gamma delta epsilon eta"),
        (6L, "clean text with nothing shared here"))).toDF("doc_id", "text")
      val batchDirty = graft.operators.Dedup
        .contaminationAgainst(all, graft.operators.Dedup.benchmarkGrams(bench))
        .filter(org.apache.spark.sql.functions.col("contamination") > 0.5)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(kept == all.collect().map(_.getAs[Long]("doc_id")).toSet -- batchDirty)
    } finally q.stop()
  }

  test("st15 releases its fitted reference when the query stops") {
    val bench = Seq((100L, "omega psi chi phi upsilon tau"))
      .toDF("doc_id", "text")
    def reference = graft.operators.Dedup.benchmarkGrams(bench)
    val ms = MemoryStream[(Long, String)]
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st15-rel").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st15-rel-ck").toString
    val q = Streams.startDecontamGate(
      ms.toDF().toDF("doc_id", "text"), bench, outDir, ckpt)
    try {
      ms.addData((1L, "omega psi chi phi upsilon tau"), (2L, "clean words only here"))
      q.processAllAvailable()
      assert(reference.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "the fitted reference should stay cached while the gate runs")
    } finally q.stop()
    // released by the termination hook (async listener — poll)
    val deadline = System.currentTimeMillis() + 30000
    while (reference.storageLevel != org.apache.spark.storage.StorageLevel.NONE &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(reference.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "st15's fitted reference is still cached after its query stopped")
  }

  test("st34 micro-batches leave a frame pinned outside the stream cached") {
    val reference = Seq((1L, "ref wrapper this benchmark passage is long enough " +
      "to trip the sixty four char floor more ref")).toDF("doc_id", "text")
    graft.operators.SubstrIndex.drop(spark, "graft_st34pin")
    graft.operators.SubstrIndex.fit(reference, "graft_st34pin")
    Pins.release()
    val outside = Pins.pin(spark.range(0, 40).toDF("id")
      .withColumn("v", org.apache.spark.sql.functions.col("id") * 104729L))
    outside.count()
    val ms = MemoryStream[(Long, String)]
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st34-pin").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st34-pin-ck").toString
    val q = Streams.startSubstrDecontamGate(
      ms.toDF().toDF("doc_id", "text"), "graft_st34pin", outDir, ckpt)
    try {
      ms.addData((10L, "totally novel writing sharing nothing with the reference"))
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 1L)
      assert(outside.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "a micro-batch released a pin it does not own")
      assert(Pins.pending == 1)
    } finally {
      q.stop()
      graft.operators.SubstrIndex.drop(spark, "graft_st34pin")
    }
  }

  test("st34 streaming substring-decontam gate drops byte-granular quotes of the reference") {
    val blockA = "this benchmark passage is long enough to trip the sixty four char floor"
    val blockB = "a second distinct reference passage also comfortably past the floor!!"
    val reference = Seq((1L, "ref wrapper " + blockA + " more ref"),
      (2L, blockB)).toDF("doc_id", "text")
    graft.operators.SubstrIndex.drop(spark, "graft_st34ix")
    graft.operators.SubstrIndex.fit(reference, "graft_st34ix")
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st34").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st34-ck").toString
    val q = Streams.startSubstrDecontamGate(df, "graft_st34ix", outDir, ckpt)
    try {
      ms.addData(
        (10L, "quotes the benchmark: " + blockA.toUpperCase + " mid-doc"), // dropped
        (11L, "totally novel writing sharing nothing with the reference"), // kept
        (12L, "short quote: sixty four char floor only"))                  // < 64 shared → kept
      q.processAllAvailable()
      ms.addData((13L, "later batch splicing " + blockB + " verbatim"))    // dropped
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(kept == Set(11L, 12L), kept)
    } finally {
      q.stop()
      graft.operators.SubstrIndex.drop(spark, "graft_st34ix")
    }
  }

  test("st35 streaming substring-scrub gate cuts the leaked bytes, keeps the prose") {
    val blockA = "this benchmark passage is long enough to trip the sixty four char floor"
    val reference = Seq((1L, "ref wrapper " + blockA + " more ref"))
      .toDF("doc_id", "text")
    graft.operators.SubstrIndex.drop(spark, "graft_st35ix")
    graft.operators.SubstrIndex.fit(reference, "graft_st35ix")
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st35").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st35-ck").toString
    val q = Streams.startSubstrScrubGate(df, "graft_st35ix", outDir, ckpt)
    try {
      ms.addData(
        (10L, "own prose before " + blockA.toUpperCase + " own prose after"),
        (11L, "totally novel writing sharing nothing with the reference"))
      q.processAllAvailable()
      val out = spark.read.parquet(outDir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("text"), r.getAs[Long]("cut_chars"))).toMap
      // quoted bytes cut, the doc's own prose survives (st34 would
      // have dropped doc 10 whole)
      assert(out(10L)._2 >= blockA.length.toLong, out(10L))
      assert(!out(10L)._1.contains(blockA), out(10L))
      assert(out(10L)._1.contains("own prose before"), out(10L))
      assert(out(11L)._2 == 0L &&
        out(11L)._1 == "totally novel writing sharing nothing with the reference",
        out(11L))
      // closure: the scrubbed output re-probes clean
      val re = graft.operators.SubstrIndex.containment(
        Seq((20L, out(10L)._1), (21L, out(11L)._1)).toDF("doc_id", "text"),
        "graft_st35ix").collect()
      graft.Pins.release()
      assert(re.forall(_.getAs[String]("status") == "clean"), re.toSeq)
    } finally {
      q.stop()
      graft.operators.SubstrIndex.drop(spark, "graft_st35ix")
    }
  }

  test("st16 streaming DSIR gate keeps target-like docs, bit parity with batch") {
    // reference: target source speaks 'alpha', the raw web speaks 'beta'
    val ref = Seq(
      (100L, "alpha alpha alpha alpha", "tgt"),
      (101L, "beta beta beta beta", "web"),
      (102L, "beta beta beta alpha", "web")
    ).toDF("doc_id", "text", "source")
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st16").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st16-ck").toString
    val q = Streams.startDsirGate(df, ref, outDir, ckpt,
      targetSource = "tgt", buckets = 16)
    try {
      ms.addData((1L, "alpha alpha alpha"),      // target-like → kept
                 (2L, "beta beta beta beta"))    // raw-like → dropped
      q.processAllAvailable()
      ms.addData((3L, "alpha alpha"),            // target-like → kept
                 (4L, "alpha beta"))             // beta penalty dominates → dropped
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(kept == Set(1L, 3L))
      // bit parity: the stream's verdicts equal the batch apply's
      val all = Seq((1L, "alpha alpha alpha"), (2L, "beta beta beta beta"),
        (3L, "alpha alpha"), (4L, "alpha beta")).toDF("doc_id", "text")
      val batchKeep = graft.operators.TextAnalysis
        .dsirApply(all, graft.operators.TextAnalysis.dsirFit(ref, "tgt", 16), 16)
        .filter(org.apache.spark.sql.functions.col("weight") > 0.0)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(kept == batchKeep)
    } finally q.stop()
  }

  test("st17 streaming temperature-mix gate: verdict bit parity with batch") {
    // reference: source A is 8x larger than B — α=0.7 flattens, so B's
    // per-doc keep rate ends up higher than A's
    val ref = ((1L to 16L).map(i => (i, "A")) ++ Seq((17L, "B"), (18L, "B")))
      .toDF("doc_id", "source")
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "source")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st17").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st17-ck").toString
    val q = Streams.startTempMixGate(df, ref, outDir, ckpt,
      alpha = 0.7, budget = 10L)
    try {
      val docs = (1L to 30L).map(i => (i, if (i % 3 == 0) "B" else "A"))
      ms.addData(docs.take(15): _*)
      q.processAllAvailable()
      ms.addData(docs.drop(15): _*)
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir)
        .collect().map(_.getAs[Long]("doc_id")).toSet
      // bit parity with the batch apply on the same fitted rates
      val rates = graft.operators.TextAnalysis.tempMixRates(ref, 0.7, 10L)
      val batchKeep = graft.operators.TextAnalysis
        .tempMixApply(docs.toDF("doc_id", "source"), rates)
        .filter(org.apache.spark.sql.functions.col("keep"))
        .collect().map(_.getAs[Long]("doc_id")).toSet
      assert(kept == batchKeep)
      assert(kept.nonEmpty && kept.size < 30) // gate actually samples
    } finally q.stop()
  }

  test("st18 streaming span-scrub gate == batch q119 across two micro-batches") {
    // four docs, two carrying a shared 3-token header, one that IS the
    // header, one original — the reference the span set is fit from is
    // the same doc population the stream later delivers
    val allDocs = Seq(
      (1L, "shared header tokens then alpha body"),
      (2L, "shared header tokens then beta body"),
      (3L, "an original document nothing repeats"),
      (4L, "shared header tokens")
    )
    val ref = allDocs.toDF("doc_id", "text")
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st18").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st18-ck").toString
    val q = Streams.startSpanScrubGate(df, ref, outDir, ckpt, k = 3)
    try {
      ms.addData(allDocs(0), allDocs(2))
      q.processAllAvailable()
      ms.addData(allDocs(1), allDocs(3))
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_removed"),
          java.lang.Double.doubleToRawLongBits(r.getAs[Double]("removed_frac")),
          r.getAs[String]("clean_text"))
      val streamed = spark.read.parquet(outDir).collect().map(key).toSet
      val batch = graft.operators.Dedup.q119(ref, k = 3).collect().map(key).toSet
      assert(streamed == batch)
      // and the scrub really bit: the header carriers lost tokens, the
      // all-header doc emptied, the original is untouched
      val byId = spark.read.parquet(outDir).collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(byId(1L).getAs[Long]("n_removed") > 0)
      assert(byId(3L).getAs[Long]("n_removed") == 0)
      assert(byId(4L).getAs[String]("clean_text") == "")
    } finally q.stop()
  }

  test("st19 streaming embedding-dedup gate == batch searchInt8 verdicts") {
    import org.apache.spark.sql.functions.col
    // index corpus lives on dims 0..31; the novel stream vector is
    // one-hot on dim 63 → cosine 0 against every indexed vector
    def v(seed: Int): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.tabulate(64)(d => if (d < 32) r.nextGaussian().toFloat else 0.0f)
    }
    val novel: Seq[Float] = Seq.tabulate(64)(d => if (d == 63) 1.0f else 0.0f)
    val corpus = (0 until 40).map(i => (i.toLong, v(i))).toDF("vec_id", "embedding")
    val ixName = "graft_st19_ix"
    graft.operators.AnnIndex.drop(spark, ixName)
    graft.operators.AnnIndex.fit(corpus, ixName)
    val allDocs = Seq(
      (1001L, v(7), "dup of indexed 7"),
      (1002L, novel, "novel direction"),
      (1003L, v(13), "dup of indexed 13"),
      (1004L, novel, "novel again"))
    val ms = MemoryStream[(Long, Seq[Float], String)]
    val df = ms.toDF().toDF("doc_id", "embedding", "text")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st19").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st19-ck").toString
    val q = Streams.startEmbDedupGate(df, ixName, outDir, ckpt, minCosine = 0.95)
    try {
      ms.addData(allDocs(0), allDocs(1))
      q.processAllAvailable()
      ms.addData(allDocs(2), allDocs(3))
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      // parity: the batch-side verdicts through the same serving path
      val batchDf = allDocs.toDF("doc_id", "embedding", "text")
      val dupIds = graft.operators.AnnIndex.searchInt8(
          batchDf.select(col("doc_id").as("vec_id"), col("embedding")), ixName, k = 1)
        .filter(col("cos") >= 0.95)
        .select("qid").collect().map(_.getLong(0)).toSet
      assert(streamed == allDocs.map(_._1).toSet -- dupIds)
      // and the verdicts are the planted ones: exact copies of indexed
      // vectors blocked, the orthogonal direction admitted (twice — the
      // gate checks the INDEX, not the stream's own history)
      assert(streamed == Set(1002L, 1004L))
    } finally q.stop()
  }

  test("st20 streaming corpus-dedup gate: lake-resident state catches cross-batch dups") {
    import org.apache.spark.sql.functions.col
    val ixName = "graft_st20_ix"
    graft.operators.DedupIndex.drop(spark, ixName)
    graft.operators.DedupIndex.fit(
      Seq((1L, "historical corpus document")).toDF("doc_id", "text"), ixName)
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st20").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st20-ck").toString
    val q = Streams.startCorpusDedupGate(df, ixName, outDir, ckpt)
    try {
      ms.addData(
        (10L, "historical corpus document"),  // dup vs the fitted index
        (11L, "streamed text alpha"),         // new → registers
        (12L, "streamed text alpha"))         // dup WITHIN the batch
      q.processAllAvailable()
      ms.addData(
        (20L, "streamed text alpha"),         // dup vs BATCH 1 — the
                                              // lake state, not a store
        (21L, "streamed text beta"))          // new
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(11L, 21L))
      // the admitted digests are IN the lake table (3 = historical +
      // alpha + beta), visible to any batch job
      assert(spark.table(graft.operators.DedupIndex.digestsTable(ixName))
        .count() == 3L)
      // and no streaming state store was involved — stateless query
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("st21 streaming near-dup gate: paraphrases of lake-state docs drop cross-batch") {
    import org.apache.spark.sql.functions.col
    val ixName = "graft_st21_ix"
    def text(tag: String) =
      (1 to 15).map(w => s"${tag}_w$w term$w").mkString(" ")
    graft.operators.NearDupIndex.drop(spark, ixName)
    graft.operators.NearDupIndex.fit(
      Seq((1L, text("hist"))).toDF("doc_id", "text"), ixName)
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st21").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st21-ck").toString
    val q = Streams.startNearDupGate(df, ixName, outDir, ckpt)
    try {
      ms.addData(
        (10L, text("hist") + " tail"),  // NEAR dup vs the fitted index
        (11L, text("alpha")),           // new → registers
        (12L, text("alpha")))           // exact dup WITHIN the batch
      q.processAllAvailable()
      ms.addData(
        (20L, text("alpha") + " tail"), // NEAR dup vs a BATCH-1 admit —
                                        // caught only because append
                                        // grew the lake-resident index
        (21L, text("hist")),            // exact dup vs the fitted index
        (22L, text("beta")))            // new
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(11L, 22L))
      // lake state grew to hist + alpha + beta, visible to any batch job
      assert(spark.table(graft.operators.NearDupIndex.digestsTable(ixName))
        .count() == 3L)
      // verdict parity with batch q131 over the same grown corpus: the
      // gate IS the batch operator run per micro-batch
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("st21 micro-batches leave no pins and no cached RDDs behind") {
    val ixName = "graft_st21_leak"
    def text(tag: String) =
      (1 to 15).map(w => s"${tag}_w$w term$w").mkString(" ")
    graft.operators.NearDupIndex.drop(spark, ixName)
    graft.operators.NearDupIndex.fit(
      Seq((1L, text("hist"))).toDF("doc_id", "text"), ixName)
    Pins.release()
    // caches only: a lineage cut keeps its blocks in a persisted RDD
    // until the RDD is garbage-collected (Ckpt), which is not a pin
    def cachedRdds: Int =
      spark.sparkContext.getPersistentRDDs.values.count(!_.isCheckpointed)
    val pending0 = Pins.pending
    val rdds0 = cachedRdds
    val ms = MemoryStream[(Long, String)]
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st21-leak").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st21-leak-ck").toString
    val q = Streams.startNearDupGate(
      ms.toDF().toDF("doc_id", "text"), ixName, outDir, ckpt)
    try {
      ms.addData((10L, text("hist") + " tail"), (11L, text("alpha")))
      q.processAllAvailable()
      ms.addData((20L, text("alpha") + " tail"), (22L, text("beta")))
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 2L)
      assert(Pins.pending == pending0, "micro-batch pins left in the global queue")
      assert(cachedRdds == rdds0, "micro-batch caches left on the executors")
    } finally {
      q.stop()
      graft.operators.NearDupIndex.drop(spark, ixName)
    }
  }

  test("st36 streaming cluster maintenance: labels track the stream, append == refit, replay-safe") {
    val ixName = "graft_st36_ix"
    def line(tail: String) =
      s"alpha beta gamma delta epsilon zeta eta theta iota kappa $tail"
    val corpus = Seq(
      (1L, line("one two three four five six seven")),
      (2L, "the quick brown fox jumps over the lazy dog again and again ok")
    ).toDF("doc_id", "text")
    graft.operators.ClusterIndex.drop(spark, ixName)
    graft.operators.ClusterIndex.fit(corpus, ixName)
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "text")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st36-ck").toString
    val q = Streams.startClusterMaintenance(df, ixName, ckpt)
    try {
      // batch 1: a near-dup of doc 1 and a brand-new family
      ms.addData(
        (10L, line("one two three four five six EIGHT")),
        (11L, "novel streamed family with many matching shingles here yes"))
      q.processAllAvailable()
      // batch 2: an exact dup of the batch-1 admit (absorb via digests)
      // and a near-dup of doc 2 (bridges into the fitted corpus)
      ms.addData(
        (20L, "novel streamed family with many matching shingles here yes"),
        (21L, "the quick brown fox jumps over the lazy dog again and again no"))
      q.processAllAvailable()
      val served = graft.operators.ClusterIndex.labels(spark, ixName)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val all = corpus.unionAll(Seq(
        (10L, line("one two three four five six EIGHT")),
        (11L, "novel streamed family with many matching shingles here yes"),
        (20L, "novel streamed family with many matching shingles here yes"),
        (21L, "the quick brown fox jumps over the lazy dog again and again no")
      ).toDF("doc_id", "text"))
      val refit = graft.operators.Dedup.clusters(
        graft.operators.Dedup.neardupEdges(all))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(served == refit, s"served $served != refit $refit")
      assert(served.contains((10L, 1L)) && served.contains((20L, 11L)) &&
        served.contains((21L, 2L)), served)
      // replay: re-appending an already-registered batch is a label
      // no-op (the foreachBatch retry contract)
      graft.operators.ClusterIndex.append(Seq(
        (20L, "novel streamed family with many matching shingles here yes"))
        .toDF("doc_id", "text"), ixName)
      val after = graft.operators.ClusterIndex.labels(spark, ixName)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after == served, s"replay changed labels: $after vs $served")
    } finally q.stop()
  }

  test("st40 streaming ANN-index maintenance: appends serve, replays and dup ids no-op") {
    import org.apache.spark.sql.functions.col
    val ixName = "graft_st40_ix"
    graft.operators.AnnIndex.drop(spark, ixName)
    val corpus = Tables.embeddings(spark, SF)
    // fit on the first 400 vectors (the st36 pre-fit discipline: the
    // quantizers want a representative corpus, not a first micro-batch)
    graft.operators.AnnIndex.fit(corpus.filter(col("vec_id") < 400), ixName)
    val rows = corpus.filter(col("vec_id") >= 400)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    val ms = MemoryStream[(Long, Seq[Float])]
    val df = ms.toDF().toDF("vec_id", "embedding")
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st40-ck").toString
    val q = Streams.startAnnIndexMaintenance(df, ixName, ckpt)
    try {
      ms.addData(rows.take(50).toIndexedSeq)
      q.processAllAvailable()
      // batch 2 re-sends two batch-1 ids (the replay/dup shape) plus
      // the rest — the anti-join gate must append each id exactly once
      ms.addData((rows.take(2) ++ rows.drop(50)).toIndexedSeq)
      q.processAllAvailable()
      val vecs = spark.table(graft.operators.AnnIndex.vectorsTable(ixName))
      assert(vecs.count() == 500L, vecs.count())
      assert(vecs.groupBy("vec_id").count()
        .filter(col("count") > 1).count() == 0L, "duplicate vec_ids appended")
      // COVERAGE: the persisted hnsw graphs hold exactly fit ∪ streamed
      // ids, each in its deterministic shard
      val graphIds = spark.table(graft.operators.AnnIndex.hnswTable(ixName))
        .collect()
        .flatMap(r => graft.operators.HnswGraph
          .fromBytes(r.getAs[Array[Byte]]("payload")).idList)
      assert(graphIds.toSet == (0L until 500L).toSet,
        s"hnsw coverage ${graphIds.length}")
      // SERVING: a streamed vector's top hit is an exact match (cos 1 —
      // itself, or its planted duplicate twin: the embeddings table has
      // exact-dup pairs, so qid==nid would be too strong an assert)
      val probe = corpus.filter(col("vec_id") >= 495)
      val top1 = graft.operators.AnnIndex.searchHnsw(probe, ixName, k = 1)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(top1.size == 5 && top1.values.forall(_ >= 0.9999), top1)
      // ...and through the LSH artifact (one quantizer-family path)
      val lshTop1 = graft.operators.AnnIndex.searchLsh(probe, ixName, k = 1)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      assert(lshTop1.size == 5 && lshTop1.values.forall(_ >= 0.9999), lshTop1)
    } finally q.stop()
  }

  test("st36 autogather debounce: no per-batch ANALYZE, stats current by stream close") {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val ixName = "graft_st36_dbx"
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa base"),
      (2L, "the quick brown fox jumps over the lazy dog again and again ok")
    ).toDF("doc_id", "text")
    graft.operators.ClusterIndex.drop(spark, ixName)
    graft.operators.ClusterIndex.fit(corpus, ixName)
    val grams = graft.operators.ClusterIndex.gramsTable(ixName)
    def statsRc: Option[BigInt] = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(grams)).stats.flatMap(_.rowCount)
    val fitRc = statsRc
    assert(fitRc.nonEmpty, "fit-time autogather should have recorded rowCount")
    val ms = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st36-dbx-ck").toString
    val q = Streams.startClusterMaintenance(
      ms.toDF().toDF("doc_id", "text"), ixName, ckpt)
    try {
      ms.addData((10L, "novel streamed family with many matching shingles here yes"))
      q.processAllAvailable()
      ms.addData((11L, "second novel family bringing yet more unseen shingles along now"))
      q.processAllAvailable()
      // the appends DEFERRED their gather: the insert itself
      // invalidates the catalog rowCount (Spark drops stats on write
      // so they can't go stale) and nothing re-gathered — had a
      // per-batch ANALYZE run, this would be Some(current). Reads
      // meanwhile estimate from live file sizes, the usual
      // stats-absent path.
      assert(statsRc.isEmpty, s"per-batch ANALYZE ran: $statsRc")
      assert(spark.table(grams).count() > fitRc.get.toLong)
    } finally q.stop()
    // termination flushes the deferred gathers (async listener — poll)
    val want = spark.table(grams).count()
    val deadline = System.currentTimeMillis() + 30000
    while (!statsRc.exists(_.toLong == want) &&
      System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(statsRc.exists(_.toLong == want),
      s"stats not refreshed by stream close: $statsRc vs $want")
  }

  test("st39 streaming fact-join view: two streams, interleaved batches, view tracks both bases") {
    import org.apache.spark.sql.functions._
    import graft.sources.{IncrementalView, SnapshotTable}
    import graft.sources.IncrementalView.Agg
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft-st39-$tag").toString + "/t"
    val a = tmp("a"); val b = tmp("b"); val mv = tmp("mv")
    SnapshotTable.create(spark, a,
      Seq((1L, "x", 10L), (2L, "y", 5L)).toDF("k", "g", "va"))
    SnapshotTable.create(spark, b,
      Seq((1L, 100L), (2L, 50L)).toDF("k", "vb"))
    IncrementalView.createJoin(spark, mv, a, b, Seq("k"), Seq("g"),
      Seq(Agg("count", "", "n"), Agg("sum", "va", "sa"),
        Agg("max", "vb", "mx")))
    def full() = SnapshotTable.read(spark, a)
      .join(SnapshotTable.read(spark, b), Seq("k")).groupBy("g")
      .agg(count(lit(1)).cast("long").as("n"), sum(col("va")).as("sa"),
        max(col("vb")).as("mx"))
      .collect().map(_.toSeq).toSet
    def view() = IncrementalView.read(spark, mv)
      .collect().map(_.toSeq).toSet
    val msA = MemoryStream[(Long, String, Long)]
    val msB = MemoryStream[(Long, Long)]
    val qA = Streams.startJoinViewSink(msA.toDF().toDF("k", "g", "va"),
      a, mv, tmp("cka"))
    val qB = Streams.startJoinViewSink(msB.toDF().toDF("k", "vb"),
      b, mv, tmp("ckb"))
    try {
      // ΔA meets OLD B rows
      msA.addData((1L, "x", 7L)); qA.processAllAvailable()
      assert(view() == full(), view())
      // ΔB meets A_old which now INCLUDES the prior streamed A row
      msB.addData((2L, 60L), (3L, 9L)); qB.processAllAvailable()
      assert(view() == full(), view())
      // a new key arrives on A then its match on B — two refreshes,
      // the second folds the ΔA⋈ΔB-equivalent via its own watermarks
      msA.addData((3L, "z", 4L)); qA.processAllAvailable()
      msB.addData((3L, 70L)); qB.processAllAvailable()
      assert(view() == full(), view())
      assert(view().exists(_.head == "z"), view())
    } finally { qA.stop(); qB.stop() }
  }

  test("st39 contended refresh skips without failing; the next batch folds the backlog") {
    import org.apache.spark.sql.functions._
    import graft.sources.{IncrementalView, SnapshotTable}
    import graft.sources.IncrementalView.Agg
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft-st39c-$tag").toString + "/t"
    val a = tmp("a"); val b = tmp("b"); val mv = tmp("mv")
    SnapshotTable.create(spark, a, Seq((1L, "x", 10L)).toDF("k", "g", "va"))
    SnapshotTable.create(spark, b, Seq((1L, 100L)).toDF("k", "vb"))
    IncrementalView.createJoin(spark, mv, a, b, Seq("k"), Seq("g"),
      Seq(Agg("count", "", "n"), Agg("sum", "va", "sa")))
    // the view-level refresh lock now lives INSIDE refreshJoin — hold
    // the same key it takes to simulate a concurrent refresh holder
    val lockName = IncrementalView.refreshLock(spark, mv)
    val ms = MemoryStream[(Long, String, Long)]
    val q = Streams.startJoinViewSink(ms.toDF().toDF("k", "g", "va"),
      a, mv, tmp("ck"))
    try {
      // another writer holds the view's lock: the batch must still
      // COMMIT to the base (ingest never blocks on the view) and the
      // stream must not die — the refresh is the part that skips
      graft.operators.LakeLock.withWriter(spark, lockName) {
        ms.addData((1L, "x", 7L))
        q.processAllAvailable()
      }
      assert(q.isActive, "stream died on refresh contention")
      assert(SnapshotTable.read(spark, a).count() == 2L) // commit landed
      val stale = IncrementalView.read(spark, mv).collect()
        .map(_.toSeq).toSet
      assert(stale == Set(Seq("x", 1L, 10L)), stale) // view lags, by design
      // lock released: the next batch's refresh folds BOTH deltas
      ms.addData((1L, "x", 2L))
      q.processAllAvailable()
      val caught = IncrementalView.read(spark, mv).collect()
        .map(_.toSeq).toSet
      assert(caught == Set(Seq("x", 3L, 19L)), caught)
    } finally q.stop()
  }

  test("st25 streaming url-dedup gate: variant fetches drop across batches") {
    import org.apache.spark.sql.functions.col
    val ixName = "graft_st25_ix"
    spark.sql(s"DROP TABLE IF EXISTS ${ixName}_urlseen")
    val ms = MemoryStream[(Long, String, String)]
    val df = ms.toDF().toDF("doc_id", "text", "url")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st25").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st25-ck").toString
    val q = Streams.startUrlDedupGate(df, ixName, outDir, ckpt)
    try {
      ms.addData(
        (10L, "page one",  "https://www.siteA.com:443/p/1?utm_source=x"),
        (11L, "page one b","HTTPS://sitea.com/p/1#frag"),  // same canonical URL, in-batch
        (12L, "page two",  "https://siteB.org/p/2"))       // new
      q.processAllAvailable()
      ms.addData(
        (20L, "page one c","https://sitea.com/p/1/"),      // variant of BATCH-1 admit
        (21L, "page three","https://siteC.net/p/3"))       // new
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(10L, 12L, 21L))
      // the seen-URL registry is a plain lake table: 3 canonical URLs
      assert(spark.table(s"${ixName}_urlseen").count() == 3L)
      // replaying the same batch can only no-op (idempotent append)
      assert(q.lastProgress == null ||
        q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("st22 per-source quota gate: the admission counter survives across batches") {
    val ms = MemoryStream[(Long, String)]
    val df = ms.toDF().toDF("doc_id", "source")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st22").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st22-ck").toString
    val q = Streams.startQuotaGate(df, quota = 3L, outDir, ckpt)
    try {
      // batch 1: A under quota, B OVER quota in one batch (smallest
      // ids win the in-batch tie)
      ms.addData((11L, "A"), (10L, "A"),
        (23L, "B"), (20L, "B"), (22L, "B"), (21L, "B"))
      q.processAllAvailable()
      // batch 2: A has room for ONE more; B admits nothing ever after
      ms.addData((12L, "A"), (13L, "A"), (24L, "B"))
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(10L, 11L, 12L, 20L, 21L, 22L))
      // this gate IS stateful — one counter per source in the store
      // (contrast: the lake-state gates st20/st21 assert EMPTY here)
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()
  }

  test("st23 freq monitor: sketch state accumulates across batches, MG guarantee holds") {
    val ms = MemoryStream[(Long, String, String)]
    val df = ms.toDF().toDF("doc_id", "source", "text")
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-st23").toString + "/out"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-st23-ck").toString
    // capacity above the planted vocab: the sketch is exact, so the
    // cross-batch accumulation is assertable to the token
    val q = Streams.startFreqMonitor(df, capacity = 16, k = 3, outDir, ckpt)
    try {
      ms.addData((1L, "A", "x x y"), (2L, "A", "x z"),
                 (10L, "B", "only b tokens"))
      q.processAllAvailable()
      ms.addData((3L, "A", "y y y y"))
      q.processAllAvailable()
      val out = spark.read.parquet(outDir).collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("seen"),
          r.getAs[Int]("rank")) ->
          (r.getAs[String]("token"), r.getAs[Long]("est"))).toMap
      // batch 1 snapshot of A (5 tokens): x leads with 3
      assert(out(("A", 5L, 1)) == (("x", 3L)))
      // batch 2 snapshot (9 tokens): the STATE carried x's 3 and y's 1
      // across the restart boundary — y now leads 5 to 3
      assert(out(("A", 9L, 1)) == (("y", 5L)))
      assert(out(("A", 9L, 2)) == (("x", 3L)))
      assert(out(("A", 9L, 3)) == (("z", 1L)))
      // B's sketch is isolated from A's
      assert(out(("B", 3L, 1))._2 == 1L)
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()

    // small capacity on a skewed stream: the guarantee (not exactness)
    // — dominant token present with est ≤ true ≤ est + err
    val ms2 = MemoryStream[(Long, String, String)]
    val df2 = ms2.toDF().toDF("doc_id", "source", "text")
    val out2 = java.nio.file.Files
      .createTempDirectory("graft-st23b").toString + "/out"
    val ck2 = java.nio.file.Files
      .createTempDirectory("graft-st23b-ck").toString
    val q2 = Streams.startFreqMonitor(df2, capacity = 4, k = 2, out2, ck2)
    try {
      val noisy = (0 until 40).map(i => s"n$i").grouped(8)
        .map(_.mkString(" ")).toSeq
      ms2.addData((1L, "S", ("hot " * 30).trim))
      ms2.addData(noisy.zipWithIndex.map { case (t, i) => (10L + i, "S", t) }: _*)
      q2.processAllAvailable()
      val rows = spark.read.parquet(out2).collect()
        .filter(_.getAs[Long]("seen") == 70L)
        .map(r => r.getAs[String]("token") ->
          (r.getAs[Long]("est"), r.getAs[Long]("err"))).toMap
      // 30 of 70 tokens are 'hot' — far above seen/(cap+1) = 14
      assert(rows.contains("hot"), rows)
      val (est, err) = rows("hot")
      assert(est <= 30L && 30L <= est + err, s"est=$est err=$err")
    } finally q2.stop()
  }

  test("st11 toTable sink: micro-batches land in a metastore table visible to SQL") {
    val ms = MemoryStream[StreamEv]
    spark.sql("DROP TABLE IF EXISTS graft_st11_sink")
    val ckpt = java.nio.file.Files.createTempDirectory("st11_ckpt").toString
    val q = Streams.sinkToCatalogTable(ms.toDF(), "graft_st11_sink", ckpt)
    try {
      ms.addData(ev(1, "2026-01-01T10:00:00Z"), ev(2, "2026-01-01T10:05:00Z"))
      q.processAllAvailable()
      // committed rows are queryable through plain catalog SQL at once
      assert(spark.sql("SELECT count(*) FROM graft_st11_sink")
        .collect()(0).getLong(0) == 2L)
      ms.addData(ev(3, "2026-01-01T10:10:00Z"))
      q.processAllAvailable()
      assert(spark.table("graft_st11_sink").count() == 3L)
      // the sink is REAL metastore metadata: a fresh session state over
      // the same catalog sees it without any path coordination
      assert(spark.newSession().catalog.tableExists("graft_st11_sink"))
    } finally {
      q.stop()
      spark.sql("DROP TABLE graft_st11_sink")
    }
  }

  test("st12 streaming CDC upsert merges each micro-batch into the lake path") {
    import org.apache.spark.sql.Row
    val base = java.nio.file.Files.createTempDirectory("st12").toString
    val path = s"$base/table"
    // seed the target: keys 1,2 in partition x, key 3 in y
    Seq((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "y"))
      .toDF("id", "v", "p").write.partitionBy("p").parquet(path)
    val ms = MemoryStream[(Long, String, String)]
    val q = Streams.startCdcUpsert(ms.toDF().toDF("id", "v", "p"), path,
      s"$base/stage", s"$base/ckpt", keyCols = Seq("id"), partitionCols = Seq("p"))
    try {
      ms.addData((2L, "B", "x"), (4L, "d", "y")) // update + insert
      q.processAllAvailable()
      ms.addData((3L, "C", "z")) // partition move y -> z drains y
      q.processAllAvailable()
      val state = spark.read.parquet(path).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"), r.getAs[String]("p")))
        .sortBy(_._1).toSeq
      assert(state == Seq((1L, "a", "x"), (2L, "B", "x"), (3L, "C", "z"), (4L, "d", "y")))
    } finally q.stop()
  }

  test("st01 shares its plan with the oracle-checked batch q38") {
    // same code path: batch run over the real events table must agree with
    // a hand-rolled batch aggregation
    val ev = Tables.events(spark, SF)
    val got = Streams.q38(ev)
    assert(got.count() > 0)
  }

  test("st26 snapshot sink: atomic batch commits, time travel, replay dedup") {
    import graft.sources.SnapshotTable
    val base = java.nio.file.Files.createTempDirectory("st26").toString
    val path = s"$base/table"
    val ms = MemoryStream[(Long, String)]
    val q = Streams.startSnapshotSink(ms.toDF().toDF("id", "v"),
      path, s"$base/ckpt")
    try {
      ms.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      ms.addData((3L, "c"))
      q.processAllAvailable()
      assert(SnapshotTable.read(spark, path).count() == 3L)
      // each micro-batch is one time-travelable version
      val hist = SnapshotTable.history(spark, path)
      assert(hist.map(_.operation) == Seq("stream:0", "stream:1"))
      assert(SnapshotTable.read(spark, path, Some(1L)).count() == 2L)
    } finally q.stop()
    // replay the same batches against a FRESH checkpoint (the
    // crashed-before-offsets scenario): batchId-tagged manifests
    // dedup the re-commit, so the table does not double-append
    val ms2 = MemoryStream[(Long, String)]
    val q2 = Streams.startSnapshotSink(ms2.toDF().toDF("id", "v"),
      path, s"$base/ckpt2")
    try {
      ms2.addData((1L, "a"), (2L, "b")) // becomes batchId 0 again
      q2.processAllAvailable()
      assert(SnapshotTable.read(spark, path).count() == 3L)
      assert(SnapshotTable.history(spark, path).size == 2)
    } finally q2.stop()
  }

  test("st31 streaming incremental view: per-batch delta fold tracks the base exactly") {
    import graft.sources.{IncrementalView, SnapshotTable}
    import graft.sources.IncrementalView.Agg
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("st31").toString
    val base = s"$dir/base"; val mv = s"$dir/mv"
    SnapshotTable.create(spark, base, Seq(("a", 1L)).toDF("k", "v"))
    IncrementalView.create(spark, mv, base, Seq("k"),
      Seq(Agg("count", "", "n"), Agg("sum", "v", "s")))
    def expect() = SnapshotTable.read(spark, base).groupBy("k")
      .agg(count(lit(1)).cast("long").as("n"), sum(col("v")).as("s"))
      .collect().map(_.toSeq).toSet
    val ms = MemoryStream[(String, Long)]
    val q = Streams.startIncrementalViewSink(ms.toDF().toDF("k", "v"),
      base, mv, s"$dir/ckpt")
    try {
      ms.addData(("a", 4L), ("b", 2L))
      q.processAllAvailable()
      assert(IncrementalView.read(spark, mv).collect().map(_.toSeq).toSet
        == expect())
      ms.addData(("b", 5L))
      q.processAllAvailable()
      val got = IncrementalView.read(spark, mv).collect().map(_.toSeq).toSet
      assert(got == expect(), got)
      assert(got.contains(Seq("a", 2L, 5L)) && got.contains(Seq("b", 2L, 7L)),
        got)
      // every micro-batch advanced the view's base watermark atomically
      val head = SnapshotTable.currentVersion(spark, mv)
      assert(SnapshotTable.snapshot(spark, mv, head).operation ==
        s"imv:${SnapshotTable.currentVersion(spark, base)}")
    } finally q.stop()
    // replay against a fresh checkpoint: the base dedups the
    // re-commit, so refresh() sees an unchanged base and no-ops —
    // aggregates cannot double-count
    val ms2 = MemoryStream[(String, Long)]
    val q2 = Streams.startIncrementalViewSink(ms2.toDF().toDF("k", "v"),
      base, mv, s"$dir/ckpt2")
    try {
      ms2.addData(("a", 4L), ("b", 2L)) // batchId 0 again
      q2.processAllAvailable()
      assert(IncrementalView.read(spark, mv).collect().map(_.toSeq).toSet
        == expect())
    } finally q2.stop()
  }
}
