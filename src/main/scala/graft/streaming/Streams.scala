package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, StreamingQueryListener}
import graft.Cols._
import graft.operators.Events

/** Structured Streaming pipelines (SURVEY.md §2d).
  *
  * st01 `windowedAgg` is one plan for both batch and streaming input —
  * `withWatermark` is a no-op on a batch frame, so the same code is
  * oracle-checked in batch (SparkEntry q38) and incrementally correct in
  * streaming. At 100 TB/day the watermark bounds window state: closed
  * windows are evicted once event time passes watermark + window end.
  *
  * st02 `sessionize` is gap-based sessionization as explicit streaming
  * state: per-user state is one open session (constant size), sessions
  * close either when a later event exceeds the gap or when the event-time
  * timeout fires — so state is O(active users), not O(events).
  *
  * Every foreachBatch lane runs on one skeleton, [[eachBatch]]: each
  * micro-batch body runs inside a [[graft.Pins.scope]], so the pins
  * its operators take are released when the batch ends (on failure
  * too) and a long-lived stream holds no storage between batches. A
  * gate fit once against a static reference ([[fittedGate]]) keeps
  * that one frame pinned until its query terminates.
  */
object Streams {

  val WindowDuration = "1 hour"
  val Watermark      = "30 minutes"

  /** st01: watermarked tumbling-window aggregation per event type. */
  def windowedAgg(events: DataFrame): DataFrame =
    Events.withTs(events)
      .withWatermark("ts", Watermark)
      .groupBy(window(col("ts"), WindowDuration), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Batch/oracle projection of st01 with a deterministic order. */
  def q38(events: DataFrame): DataFrame =
    windowedAgg(events).orderBy(col("win_start"), col("event_type"))

  /** st30: streaming K-ANONYMITY gate — the q183 audit applied at
    * ingest: per closed (event_type × hour window) equivalence class,
    * the class's status (`suppress` below k distinct users, `release`
    * at or above) emits once the watermark passes, so a release
    * pipeline downstream can admit classes as they close instead of
    * auditing after the fact. The distinct-user count is EXACT via
    * `size(collect_set(user_id))` — streaming aggregation forbids
    * `countDistinct`, and the usual `approx_count_distinct` escape is
    * WRONG here: an undercount would release a class that should
    * suppress, which is the one error a privacy gate cannot make.
    * State cost: one set of user ids per OPEN class, evicted at
    * watermark — bounded by (types × windows-in-watermark × users per
    * class), not the stream's history; a deployment with pathological
    * per-class cardinality shards the window or pre-buckets users.
    * Also valid as a batch plan (the spec cross-checks it against
    * [[graft.operators.Events.q183]] on the same rows). */
  def kAnonymityGate(events: DataFrame, k: Int = 5): DataFrame =
    Events.withTs(events)
      .withWatermark("ts", Watermark)
      .groupBy(window(col("ts"), WindowDuration), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_events"),
        size(collect_set(col("user_id"))).cast("long").as("n_users"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("n_users"),
        when(col("n_users") < k, lit("suppress")).otherwise(lit("release"))
          .as("status"))

  /** st32: streaming TOKEN-DRIFT gate — q167's χ² drift test applied
    * per event-time window AT INGEST: each closed window's hashed
    * token-bucket distribution is χ²-tested against a profile fitted
    * ONCE from a static reference corpus, so a template flood, a
    * language shift, or a looping crawler flags within one watermark
    * delay instead of at the next batch audit. Uses the identity
    * χ² = (Σ_b o_b²/f_b)/n − n (Σf_b = 1, Σo_b = n), which makes the
    * statistic computable as TWO CHAINED windowed aggregations — the
    * multiple-stateful-operator shape Spark supports for window-on-
    * window in append mode: (window, bucket) counts join the
    * broadcast ≤`buckets`-row profile map-side, then re-window to the
    * per-window sums. Zero-observation buckets contribute 0 to the
    * sum exactly as the identity requires — no spine join needed.
    * The reference profile is Laplace-smoothed ((rc+1)/(rtot+B)) so a
    * stream bucket unseen in the reference scores finitely instead of
    * ∞. State: first agg ≤ buckets rows per open window, second agg
    * one row per open window — both watermark-evicted. Also a valid
    * batch plan (the spec cross-checks batch vs streamed output). */
  def tokenDriftGate(docs: DataFrame, reference: DataFrame,
                     buckets: Int = 64, threshold: Double = 128.0)
      : DataFrame = {
    val b = lit(buckets.toLong)
    // fit once, driver-side: exact long counts over a full bucket spine
    val spark = reference.sparkSession
    val refCounts = reference
      .select(explode(split(lower(trim(col("text"))), " ")).as("tok"))
      .select(pmod(xxhash64(col("tok")), b).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("rc"))
    val rtot = refCounts.agg(sum(col("rc"))).head().getLong(0)
    val prof = broadcast(
      spark.range(buckets).select(col("id").as("bucket"))
        .join(refCounts, Seq("bucket"), "left_outer")
        .na.fill(0L, Seq("rc"))
        .select(col("bucket"),
          ((col("rc") + lit(1L)).cast("double") /
            lit((rtot + buckets).toDouble)).as("f")))
    val perBucket = docs
      .withWatermark("ts", Watermark)
      .select(col("ts"),
        explode(split(lower(trim(col("text"))), " ")).as("tok"))
      .withColumn("bucket", pmod(xxhash64(col("tok")), b))
      .groupBy(window(col("ts"), WindowDuration), col("bucket"))
      .agg(count(lit(1)).cast("double").as("o"))
      .join(prof, Seq("bucket"))
    perBucket
      .groupBy(window(col("window"), WindowDuration))
      .agg(sum(col("o")).as("n_tokens"),
        sum(col("o") * col("o") / col("f")).as("s"))
      .select(col("window.start").as("win_start"),
        col("n_tokens").cast("long").as("n_tokens"),
        (col("s") / col("n_tokens") - col("n_tokens")).as("chi2"),
        when(col("s") / col("n_tokens") - col("n_tokens") > threshold,
          lit("drift")).otherwise(lit("steady")).as("status"))
  }

  /** st06: exactly-once parquet sink via foreachBatch — each micro-batch
    * writes to a batchId-named directory, so replays after failure
    * overwrite the same path instead of duplicating rows (idempotent
    * writes + checkpointed offsets = effectively-once). */
  def startIdempotentSink(df: DataFrame, outDir: String,
                          checkpoint: String): StreamingQuery =
    eachBatch(df, checkpoint) { (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
    }

  /** The micro-batch skeleton of every foreachBatch lane: `body` gets
    * each batch and its id inside a [[graft.Pins.scope]], so the pins
    * the batch's operators take are released when it ends — normally
    * or by an exception — and never touch another query's pins. */
  private def eachBatch(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        graft.Pins.scope(body(batch, batchId))
      }
      .start()

  /** Run `hook` once when `query` terminates — on stop() and on
    * failure alike — from a self-removing listener; a query that has
    * already terminated runs it at once. */
  private def onTerminated(query: StreamingQuery)(hook: => Unit)
      : StreamingQuery = {
    val streams = query.sparkSession.streams
    val once = new java.util.concurrent.atomic.AtomicBoolean(false)
    def fire(): Unit = if (once.compareAndSet(false, true)) hook
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == query.id) { streams.removeListener(this); fire() }
    }
    streams.addListener(listener)
    if (!query.isActive) { streams.removeListener(listener); fire() }
    query
  }

  /** st15–st18: a gate fit ONCE against a static reference. The fitted
    * frame is pinned for the query's lifetime — every micro-batch
    * reads it — and released when the query terminates. */
  private def fittedGate(docs: DataFrame, checkpoint: String,
                         fit: => DataFrame)(
      body: (DataFrame, DataFrame) => Unit): StreamingQuery = {
    val (query, release) = graft.Pins.owned {
      val ref = graft.Pins.pin(fit)
      eachBatch(docs, checkpoint)((batch, _) => body(batch, ref))
    }
    onTerminated(query)(release())
  }

  /** st20, st21, st25: admit the batch's docs whose verdict is `new`
    * into `outDir`, then `register` them in the lake-resident index so
    * a later batch dedups against them. */
  private def admitGate(docs: DataFrame, outDir: String, checkpoint: String)(
      verdicts: DataFrame => DataFrame)(
      register: DataFrame => Unit): StreamingQuery =
    eachBatch(docs, checkpoint) { (batch, _) =>
      val keep = verdicts(batch).filter(col("status") === "new")
        .select(col("doc_id"))
      val kept = graft.Pins.pin(batch.join(keep, Seq("doc_id"), "left_semi"))
      kept.write.mode("append").parquet(outDir)
      register(kept)
    }

  /** st36, st40: index maintenance whose appends defer their stats
    * gathering per batch ([[graft.sources.Sources.deferringStats]]) and
    * gather once at query termination — batch job counts stay flat and
    * a crashed stream still leaves gathered stats behind. */
  private def maintenance(df: DataFrame, checkpoint: String)(
      body: DataFrame => Unit): StreamingQuery =
    onTerminated(eachBatch(df, checkpoint) { (batch, _) =>
      graft.sources.Sources.deferringStats(batch.sparkSession)(body(batch))
    })(graft.sources.Sources.flushDeferredStats(df.sparkSession))

  /** The append-mode parquet sink of the keyed-state lanes (st22, st23). */
  private def parquetSink(df: DataFrame, outDir: String,
                          checkpoint: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()

  /** st05: stream-stream interval join — view→purchase conversions
    * within one hour, per user. Both sides carry watermarks and the join
    * condition bounds event time on both ends, so Spark can evict
    * matched/expired state (state ∝ events inside the interval, not the
    * stream's history). Also valid as a batch plan. */
  def conversions(events: DataFrame): DataFrame = {
    val e = Events.withTs(events)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", Watermark)
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"))
      .withWatermark("buy_ts", Watermark)
    views.join(buys,
      col("user_id") === col("buy_user") &&
      col("buy_ts") >= col("view_ts") &&
      col("buy_ts") <= col("view_ts") + expr("interval 1 hour"))
      .select(col("user_id"), col("view_ts"), col("buy_ts"))
  }

  /** st27: stream-stream LEFT OUTER interval join — st05's inner join
    * answers "which views converted"; the OUTER variant answers the
    * question funnels actually need: "which views did NOT convert",
    * emitting the null-padded row only when the WATERMARK closes the
    * match window (before that, a future purchase could still
    * arrive — outer results are inherently watermark-delayed, the
    * standard Spark contract). State on both sides is bounded by the
    * watermark + interval; the unmatched-view row carries a null
    * buy_ts, so the downstream conversion-rate aggregate is one
    * filter away. */
  def conversionsOuter(events: DataFrame): DataFrame = {
    val e = Events.withTs(events)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", Watermark)
    val buys = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"))
      .withWatermark("buy_ts", Watermark)
    views.join(buys,
      col("user_id") === col("buy_user") &&
      col("buy_ts") >= col("view_ts") &&
      col("buy_ts") <= col("view_ts") + expr("interval 1 hour"),
      "left_outer")
      .select(col("user_id"), col("view_ts"), col("buy_ts"))
  }

  /** st04: stream-static enrichment — a streaming frame joined to a
    * static dimension. Spark plans the static side as a broadcast per
    * micro-batch; no streaming state is kept. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left_outer")

  /** st03: streaming dedup on event_id WITHIN the watermark horizon:
    * duplicates delivered farther apart than the watermark both pass
    * (their state was already evicted) — the standard deduplication/
    * state-size trade; widen the watermark or dedup downstream in batch
    * (q40) if replays can exceed it. State is bounded by the
    * watermark (ids older than it are dropped from the state store), so
    * at 100 TB/day the dedup map never grows unbounded. */
  def dedupStream(events: DataFrame): DataFrame =
    Events.withTs(events)
      .withWatermark("ts", Watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** st07: file-source streaming — the lake-ingestion entry path. New
    * files landing under `dir` become micro-batches; the schema is
    * supplied (never inferred — inference is a full extra scan and a
    * race against writers at 100 TB). Combine with
    * `Trigger.AvailableNow()` to drain a backlog batch-style. */
  def fileSource(spark: org.apache.spark.sql.SparkSession, dir: String,
                 schema: org.apache.spark.sql.types.StructType,
                 format: String = "parquet"): DataFrame =
    spark.readStream.schema(schema).format(format).load(dir)

  /** st11: micro-batches land directly in a METASTORE table — the
    * Hive-flavored streaming sink. Unlike st06's batchId-named parquet
    * dirs, `toTable` registers the sink as catalog metadata on first
    * start, appends exactly-once through the checkpoint, and every
    * committed micro-batch is immediately visible to ANY downstream SQL
    * (`SELECT ... FROM table`) — ingestion and warehouse queries share
    * one catalog object, no manual path coordination. */
  def sinkToCatalogTable(stream: DataFrame, table: String,
                         checkpoint: String): StreamingQuery =
    stream.writeStream
      .format("parquet")
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .toTable(table)

  /** st12: streaming CDC upsert — each micro-batch of keyed changes
    * MERGEs into a partitioned lake path via the m02 partition-rewrite
    * ([[graft.sources.Sources.upsertPartitioned]]): the classic
    * change-capture landing pattern (stream of updates → continuously
    * merged warehouse table) composed from pieces that are each
    * oracle/spec-verified. Checkpointed offsets + the upsert's staged
    * two-phase write give effectively-once application; a replayed
    * batch re-applies the same keys idempotently. Precondition: one row
    * per key per batch (dedupe upstream, e.g. st03/st10 style
    * `dropDuplicatesWithinWatermark` on the key). Batch staging dirs are
    * suffixed by batchId so replays never collide mid-write. */
  def startCdcUpsert(updates: DataFrame, path: String, staging: String,
                     checkpoint: String, keyCols: Seq[String],
                     partitionCols: Seq[String]): StreamingQuery =
    eachBatch(updates, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty)
        graft.sources.Sources.upsertPartitioned(batch.sparkSession, path,
          batch, keyCols, partitionCols, s"$staging/batch_$batchId")
    }

  /** st26: streaming SNAPSHOT-TABLE sink — every micro-batch lands as
    * ONE atomic s16 commit ([[graft.sources.SnapshotTable]]), closing
    * the two gaps of v1 file sinks: (a) readers see whole batches or
    * nothing (a parquet-dir sink exposes part-files one at a time
    * mid-batch), and (b) replays are EXACTLY-ONCE — each commit's
    * manifest carries a `stream:<batchId>` operation tag, and a
    * replayed batch whose tag is already in the table history is
    * skipped, so offsets-checkpointed-but-crashed-before-commit
    * reruns (the at-least-once corner every non-transactional file
    * sink has) cannot double-append. Each batch is also a
    * time-travelable version: `read(path, Some(v))` reproduces the
    * table as of any ingestion point — streaming backfill audits for
    * free. A batch that crashed mid-write leaves only an unreferenced
    * data dir; `expire()` sweeps it at maintenance cadence.
    *
    * Replay-dedup cost: batchIds are checkpoint-monotonic, so "was
    * this batch applied?" is a HIGH-WATERMARK compare, not a history
    * membership scan. The watermark is seeded ONCE per (re)start by
    * scanning the manifest tags (O(versions), amortized over the
    * stream's life) and then advances in memory — per-batch dedup is
    * O(1), where scanning `history()` every batch made a long-lived
    * stream degrade as O(versions) per batch. foreachBatch runs on
    * the driver, so the in-memory map is the single source of truth
    * for this stream; a concurrent second stream to the same path is
    * outside the sink's contract (same as every file sink). */
  private val snapshotSinkHwm =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** One micro-batch's exactly-once landing: commit `batch` to the
    * snapshot table at `path` tagged `stream:<batchId>` unless the
    * high-watermark says the batch was already applied (shared by
    * st26 and st31 — the O(1)-per-batch replay dedup). */
  private def commitBatchOnce(batch: DataFrame, batchId: Long,
                              path: String): Unit = {
    val s = batch.sparkSession
    val op = s"stream:$batchId"
    val hwm: Long = snapshotSinkHwm.computeIfAbsent(path, _ =>
      if (graft.sources.SnapshotTable.currentVersion(s, path) == 0L) -1L
      else graft.sources.SnapshotTable.history(s, path)
        .flatMap(h => if (h.operation.startsWith("stream:"))
          h.operation.drop(7).toLongOption else None)
        .foldLeft(-1L)(math.max)
    )
    if (batchId > hwm) {
      val fresh = graft.sources.SnapshotTable.currentVersion(s, path) == 0L
      if (fresh) graft.sources.SnapshotTable.create(s, path, batch, op)
      else graft.sources.SnapshotTable.append(s, path, batch, op)
      snapshotSinkHwm.put(path, batchId)
    }
  }

  def startSnapshotSink(df: DataFrame, path: String, checkpoint: String)
      : StreamingQuery =
    eachBatch(df, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) commitBatchOnce(batch, batchId, path)
    }

  /** st31: streaming INCREMENTAL-VIEW maintenance — the st26 snapshot
    * sink composed with mv02: each micro-batch lands in the base
    * snapshot table as one atomic `stream:<batchId>` commit (same
    * exactly-once replay-dedup as [[startSnapshotSink]]), then the
    * incremental view folds exactly that commit's delta via
    * [[graft.sources.IncrementalView.refresh]] — so the aggregate
    * dashboard is CONTINUOUSLY maintained at O(batch + |view|) per
    * micro-batch while the base keeps its full ingestion audit
    * history. Crash windows compose safely: a replayed batch whose
    * commit was already applied skips the append, and refresh() is
    * idempotent by watermark (base unchanged → no-op version); a crash
    * between commit and refresh just leaves the fold for the next
    * batch's refresh (the watermark covers ALL unfolded commits, not
    * one). The view must already exist over `basePath`
    * (IncrementalView.create, keys + algebraic aggs). */
  def startIncrementalViewSink(df: DataFrame, basePath: String,
                               mvPath: String, checkpoint: String)
      : StreamingQuery =
    viewSink(df, basePath, mvPath, checkpoint)(
      graft.sources.IncrementalView.refresh(_, mvPath))

  /** st39: streaming FACT⋈FACT incremental-view maintenance — st31
    * composed with mv04. TWO independent micro-batch streams each land
    * atomically in their OWN s16 base via this helper (one call per
    * side; commitBatchOnce keeps replays no-op), and after each commit
    * the SHARED join view folds whatever BOTH bases have published
    * past its two watermarks. The refresh itself serializes under a
    * LakeLock on the view path: when the two streams' batches race,
    * the loser SKIPS its refresh rather than corrupting or blocking —
    * safe because refreshJoin folds every unfolded commit from both
    * bases, so the next refresh (either stream's, or a terminal one)
    * picks up the skipped delta; the view lags by at most one
    * contended batch and never double-counts (the s16 publish is
    * atomic, the watermarks ride the same commit). */
  def startJoinViewSink(df: DataFrame, basePath: String, mvPath: String,
                        checkpoint: String): StreamingQuery =
    viewSink(df, basePath, mvPath, checkpoint)(
      graft.sources.IncrementalView.refreshJoin(_, mvPath))

  /** The st31/st39 body: land each non-empty batch in the base exactly
    * once, then fold it into the view. The refresh serializes under the
    * view's own lock; a CONTENDED refresh (the other stream's, or an
    * operator's out-of-band one, is folding right now) skips — the next
    * refresh folds every unfolded commit — and any other failure fails
    * the batch, as it should. One final refresh at query termination
    * catches a contended LAST batch; its exceptions stay inside the
    * hook (the view then stays one refresh behind, which every refresh
    * covers by design). */
  private def viewSink(df: DataFrame, basePath: String, mvPath: String,
                       checkpoint: String)(
      refresh: SparkSession => Any): StreamingQuery = {
    def fold(s: SparkSession): Unit =
      try { refresh(s); () }
      catch { case _: graft.operators.LakeLock.Contended => () }
    val spark = df.sparkSession
    onTerminated(eachBatch(df, checkpoint) { (batch, batchId) =>
      if (!batch.isEmpty) {
        commitBatchOnce(batch, batchId, basePath)
        fold(batch.sparkSession)
      }
    }) {
      try fold(spark)
      catch { case ex: Exception =>
        System.err.println(s"[graft] close-time view refresh of $mvPath failed: $ex")
      }
    }
  }

  /** st10: streaming corpus dedup by CONTENT fingerprint — the
    * ingestion-time twin of batch q40: documents whose text hashes to
    * the same [[graft.functions.PolyFingerprint]] within the watermark
    * horizon are dropped regardless of doc_id, so re-crawled/re-posted
    * text never reaches the training corpus twice. State carries only
    * (fingerprint, ts) — bytes-per-key constant, count bounded by the
    * watermark. `tsCol` is the ingestion/event time column the stream
    * already carries. */
  def dedupCorpusStream(docs: DataFrame, tsCol: String,
                        watermark: String = Watermark): DataFrame =
    docs
      .withColumn("fp", graft.functions.PolyFingerprint(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** st13: streaming PERCEPTUAL dedup — the ingestion-time twin of
    * batch q93 for the hash-collision case: each arriving document runs
    * the real codec round-trip to its 64-bit thumbnail dHash
    * ([[graft.operators.Multimodal.phashOf]] — render → PNG encode →
    * decode → dHash, all partition-local), and documents whose
    * thumbnails hash IDENTICALLY within the watermark horizon are
    * dropped. Catches byte-level variants of the same content (case,
    * token order, re-encodes that decode to the same pixels) that
    * st10's content fingerprint cannot see. State carries only
    * (phash, ts) — 8-byte keys, count bounded by the watermark.
    * Hamming-NEIGHBOR near-dups remain a batch job (q93/q94):
    * cross-key distance joins don't fit per-key streaming state. */
  def dedupPerceptualStream(docs: DataFrame, tsCol: String,
                            watermark: String = Watermark): DataFrame = {
    import docs.sparkSession.implicits._
    val hashed = docs
      .select(col("doc_id"), col("text"), col(tsCol))
      .as[(Long, String, java.sql.Timestamp)]
      .mapPartitions(_.map { case (id, text, ts) =>
        (id, text, ts, graft.operators.Multimodal.phashOf(text))
      })
      .toDF("doc_id", "text", tsCol, "phash")
    hashed
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("phash")
  }

  /** st33: streaming AUDIO perceptual dedup gate — st13's twin on the
    * audio axis (q198 made incremental): per row, the full codec
    * round-trip (synth → WAV encode → decode → 64-bit spectral
    * fingerprint), then exact-fingerprint dedup within the watermark.
    * A re-voiced/attenuated copy of a recording already admitted
    * inside the window is dropped at ingest; Hamming-NEIGHBOR near-dup
    * stays batch (q198), same split as st13/q93. */
  def dedupAudioStream(docs: DataFrame, tsCol: String,
                       watermark: String = Watermark): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.operators.Multimodal
    val hashed = docs
      .select(col("doc_id"), col("text"), col(tsCol))
      .as[(Long, String, java.sql.Timestamp)]
      .mapPartitions(_.map { case (id, text, ts) =>
        val wav = Multimodal.encodeWav(Multimodal.renderAudio(
          text, Multimodal.AudioRate, Multimodal.AudioSamples),
          Multimodal.AudioRate)
        val (smp, rate, _) = Multimodal.decodeWav(wav).get
        (id, text, ts, Multimodal.audioFingerprint(smp, rate))
      })
      .toDF("doc_id", "text", tsCol, "afp")
    hashed
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("afp")
  }

  // ---------------------------------------------------------------- st02

  /** `ts` stays a timestamp so the watermark tag survives to the
    * stateful operator (Spark drops the watermark if the column is
    * projected into a long before groupByKey). */
  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class OpenSession(start_us: Long, last_us: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, session_start_us: Long, n_events: Long,
                        dur_us: Long, total_value: Double)

  val SessionGapUs: Long = 1800L * 1000 * 1000 // 30 min, same as batch q34/q35

  /** st14: streaming QUALITY GATE — q104's hashed-feature linear scorer
    * applied at INGEST, before anything lands in the lake. The batch
    * operator aggregates exploded tokens per doc; the integer weight
    * sum is order-independent, so here the identical score computes
    * ROW-LOCALLY in one code-point walk (the native codegen'd
    * [[graft.functions.QualityScore]] expression — no token array, no
    * interpreted lambda) — a STATELESS projection + filter: no
    * shuffle, no state store, no watermark, valid in append mode at
    * any ingest rate. The spec asserts bit parity with the batch q104
    * on the same docs. */
  def qualityGateStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("score", graft.functions.QualityScore(col("text")))
      .filter(col("score") > 0.0)

  /** st24: streaming COMPRESSIBILITY gate — q146's byte-level quality
    * signal applied at INGEST: each micro-batch deflates partition-
    * local (the exact batch kernel,
    * [[graft.operators.TextAnalysis.compressScored]] — stream and
    * batch verdicts cannot drift) and only `ok`-band docs land;
    * template/spam (too compressible) and non-text blobs
    * (incompressible) never reach the lake. STATELESS like st14: no
    * shuffle, no state store, no watermark — valid in append mode at
    * any ingest rate, bytes never leave their partition. The spec
    * asserts verdict bit parity with batch q146 on the same docs. */
  def compressGateStream(docs: DataFrame, minRatio: Double = 0.25,
                         maxRatio: Double = 0.8): DataFrame =
    graft.operators.TextAnalysis
      .compressScored(docs.sparkSession, docs, minRatio, maxRatio)
      .filter(col("verdict") === "ok")
      .select(col("doc_id"), col("text"), col("gz_ratio"))

  /** st15: streaming DECONTAMINATION gate — batch q69's benchmark-
    * contamination check applied at INGEST: documents whose distinct
    * word-3-gram shingles overlap the eval/benchmark suite beyond
    * `maxContamination` never land in the training lake. The benchmark
    * gram index is fit ONCE ([[graft.operators.Dedup.benchmarkGrams]],
    * pinned until the query terminates) and reused by every
    * micro-batch; each batch then runs the exact batch code path
    * (broadcast gram join + per-doc count aggregation) via
    * foreachBatch, so stream and batch verdicts cannot drift — the
    * spec asserts set parity with a batch q69 filter over the same
    * docs.
    *
    * Scale shape: eval suites are tiny next to the corpus (MBs vs
    * 100 TB), so the index broadcasts map-side; per-batch shuffle is
    * only the partial-aggregated per-doc count, ∝ batch size. Docs
    * with < 3 tokens carry no contamination evidence and pass. */
  def startDecontamGate(docs: DataFrame, benchmark: DataFrame,
                        outDir: String, checkpoint: String,
                        maxContamination: Double = 0.5): StreamingQuery =
    fittedGate(docs, checkpoint,
        graft.operators.Dedup.benchmarkGrams(benchmark)) { (batch, benchGrams) =>
      val dirty = graft.operators.Dedup
        .contaminationAgainst(batch, benchGrams)
        .filter(col("contamination") > maxContamination)
        .select(col("doc_id"))
      batch.join(dirty, Seq("doc_id"), "left_anti")
        .write.mode("append").parquet(outDir)
    }

  /** st16: streaming DSIR gate — q117's importance weighting applied
    * at INGEST: the target-vs-raw log-ratio table is fit ONCE from a
    * static reference corpus ([[graft.operators.TextAnalysis.dsirFit]],
    * pinned for the query's lifetime) and every micro-batch scores its
    * documents through the exact batch apply path (broadcast
    * ≤buckets-row join + per-doc bucket-ordered fold) via foreachBatch
    * — stream and batch weights are bit-identical by construction, so
    * a gate threshold tuned on the batch side transfers exactly. Docs below `minWeight` never
    * land in the lake.
    *
    * Scale shape: the fitted table is ≤ `buckets` rows (broadcast,
    * map-side); per-batch shuffle is the per-doc bucket aggregation,
    * ∝ batch size. Stateless — no state store, no watermark, valid in
    * append mode at any ingest rate. */
  def startDsirGate(docs: DataFrame, reference: DataFrame,
                    outDir: String, checkpoint: String,
                    targetSource: String = "src0", buckets: Int = 64,
                    minWeight: Double = 0.0): StreamingQuery =
    fittedGate(docs, checkpoint, graft.operators.TextAnalysis
        .dsirFit(reference, targetSource, buckets)) { (batch, lr) =>
      val keep = graft.operators.TextAnalysis
        .dsirApply(batch, lr, buckets)
        .filter(col("weight") > minWeight)
        .select(col("doc_id"))
      batch.join(keep, Seq("doc_id"), "left_semi")
        .write.mode("append").parquet(outDir)
    }

  /** st17: streaming TEMPERATURE-MIX gate — q120's source-balanced
    * sampling applied at ingest: the per-source rate table (n_s^α
    * mixing weights + integer keep thresholds) is fit ONCE from a
    * static reference corpus ([[graft.operators.TextAnalysis
    * .tempMixRates]], sources-sized, pinned for the query's lifetime)
    * and every micro-batch runs the exact batch apply path (broadcast
    * join + one integer Knuth hash per doc) — stream and batch
    * keep-verdicts are bit-identical, so the mix tuned batch-side transfers exactly.
    * Stateless: no state store, no watermark, append mode at any
    * ingest rate; per-batch work is ∝ batch size with no shuffle
    * (the rate side broadcasts). */
  def startTempMixGate(docs: DataFrame, reference: DataFrame,
                       outDir: String, checkpoint: String,
                       alpha: Double = graft.Oracles.MixAlpha,
                       budget: Long = graft.Oracles.MixBudget): StreamingQuery =
    fittedGate(docs, checkpoint, graft.operators.TextAnalysis
        .tempMixRates(reference, alpha, budget)) { (batch, rates) =>
      val keep = graft.operators.TextAnalysis
        .tempMixApply(batch, rates)
        .filter(col("keep"))
        .select(col("doc_id"))
      batch.join(keep, Seq("doc_id"), "left_semi")
        .write.mode("append").parquet(outDir)
    }

  /** st18: streaming SPAN-SCRUB gate — q119's substring-level dedup
    * applied at INGEST: the cross-doc repeated-span key set is fit ONCE
    * from a static reference corpus ([[graft.operators.Dedup
    * .repeatedSpanSet]] — q119's own fit side, pinned for the query's
    * lifetime) and every micro-batch is rewritten through the
    * exact q119 scrub path ([[graft.operators.Dedup.spanScrubApply]])
    * via foreachBatch: repeated k-token spans are cut, overlapping cuts
    * merge, surviving tokens reassemble — so a license header that
    * plagues the historical corpus never enters the lake on new
    * documents, and stream and batch outputs are bit-identical by
    * shared code, not by parallel reimplementation (the spec asserts
    * equality with batch q119 across two micro-batches).
    *
    * Scale shape: the fitted span set carries 8-byte xxhash64 keys
    * (q119's scale default) — span-count-sized, not corpus-sized; the
    * per-batch work is the q119 plan on batch-sized input (two narrow
    * batch-local shuffles, one bounded window). Stateless beyond the
    * fitted frame — no state store, no watermark, append mode at any
    * ingest rate. Like st15/st16/st17 the gate trades freshness for a
    * fixed reference: spans first repeated ACROSS new batches are
    * caught at the next refit, exactly the q109-style incremental
    * cadence the engine already champions. */
  def startSpanScrubGate(docs: DataFrame, reference: DataFrame,
                         outDir: String, checkpoint: String,
                         k: Int = graft.Oracles.SpanK): StreamingQuery =
    fittedGate(docs, checkpoint,
        graft.operators.Dedup.repeatedSpanSet(reference, k)) { (batch, repeated) =>
      graft.operators.Dedup.spanScrubApply(batch, repeated, k)
        .write.mode("append").parquet(outDir)
    }

  /** st19: streaming EMBEDDING-DEDUP gate — semantic near-dup dedup at
    * INGEST against the s11 persisted ANN index: each micro-batch's
    * embeddings run the exact int8 serving path
    * ([[graft.operators.AnnIndex.searchInt8]] — integer candidate
    * scoring against the index's bucketed code table, exact-cosine
    * re-rank from its vector table) and a document whose nearest
    * indexed neighbor reaches `minCosine` never lands in the lake.
    * This closes the streaming-twin set over the last batch dedup
    * family (q46/q96 semantic dedup; st10 exact, st13 perceptual,
    * st18 substring are the other granularities) and is the serving
    * scenario s11 exists for: the index is fit ONCE offline and every
    * batch reads only the bucketed tables — no corpus scan, no state
    * store, no watermark; per-batch work is the searchInt8 plan on a
    * batch-sized broadcast query side. Stream and batch verdicts are
    * bit-identical by shared code (the spec asserts parity with batch
    * searchInt8 across two micro-batches).
    *
    * The gate reads the index, it does not grow it: admitted documents
    * join the index at the ingest job's own [[graft.operators.AnnIndex
    * .append]] cadence — the same freshness trade st15–st18 make
    * (near-dups WITHIN the not-yet-appended window are caught by the
    * batch-side q46/q64 pass at the next append/refit). */
  def startEmbDedupGate(docs: DataFrame, indexName: String,
                        outDir: String, checkpoint: String,
                        minCosine: Double = 0.95): StreamingQuery =
    eachBatch(docs, checkpoint) { (batch, _) =>
      val dup = graft.operators.AnnIndex.searchInt8(
          batch.select(col("doc_id").as("vec_id"), col("embedding")),
          indexName, k = 1)
        .filter(col("cos") >= minCosine)
        .select(col("qid").as("doc_id"))
      batch.join(dup, Seq("doc_id"), "left_anti")
        .write.mode("append").parquet(outDir)
    }

  /** st20: streaming CORPUS-dedup gate over the persisted s12 index —
    * exact dedup at ingest where the dedup STATE lives in the LAKE
    * instead of a per-query state store: each micro-batch runs
    * [[graft.operators.DedupIndex.dedup]] (bloom map-side, bucketed
    * digest-table verify, the exact batch q109/q126 verdict tail),
    * admits only `status = 'new'` docs (first copy within the batch
    * wins; corpus dups and later in-batch copies drop), and — unlike
    * the fixed-reference gates st15–st19 — then REGISTERS the admitted
    * docs' digests via [[graft.operators.DedupIndex.append]], so a
    * duplicate arriving three batches later is caught against the
    * grown index. This is st10's semantics with the state externalized:
    * the digest table is readable/compactable/shared by every batch
    * job, survives the query, and the RocksDB store holds nothing.
    *
    * Delivery: the append's anti-join makes digest registration
    * idempotent under foreachBatch replay (a replayed batch can only
    * no-op), so verdicts stay conservative — a replay can never
    * double-ADMIT; pair the parquet sink with the st06 idempotent-sink
    * pattern for exactly-once output files. */
  def startCorpusDedupGate(docs: DataFrame, indexName: String,
                           outDir: String, checkpoint: String): StreamingQuery =
    admitGate(docs, outDir, checkpoint)(
      graft.operators.DedupIndex.dedup(_, indexName))(
      graft.operators.DedupIndex.append(_, indexName))

  /** st21: streaming NEAR-dup gate over the persisted s13 index — the
    * near-duplicate twin of st20, completing the lake-state pair: each
    * micro-batch runs [[graft.operators.NearDupIndex.dedup]] (LSH
    * band-postings join + exact-Jaccard verify against the bucketed
    * gram table — the full q131 verdict), admits only `status = 'new'`
    * docs (exact re-ingests AND light rewrites of anything indexed
    * both drop), then REGISTERS the admitted docs via
    * [[graft.operators.NearDupIndex.append]] — so a paraphrase of a
    * doc admitted three batches earlier is caught against the grown
    * index, which no fixed-reference gate (st15–st19) can do. State
    * lives entirely in the lake tables (digests/bands/grams): no
    * state store, per-batch work ∝ batch + band collisions. Same
    * replay story as st20: append can only no-op, a replay never
    * double-admits. Within-batch NEAR pairs are out of contract
    * (both admit — [[graft.operators.Dedup.q42]] on the admitted
    * stream closes that window at compaction cadence). */
  def startNearDupGate(docs: DataFrame, indexName: String,
                       outDir: String, checkpoint: String,
                       t: Double = graft.operators.Dedup.MinhashJaccardThreshold)
      : StreamingQuery =
    admitGate(docs, outDir, checkpoint)(
      graft.operators.NearDupIndex.dedup(_, indexName, t))(
      graft.operators.NearDupIndex.append(_, indexName))

  /** st34: streaming SUBSTRING-DECONTAMINATION gate — the byte-
    * granular twin of st15's trigram-overlap decontam, served from the
    * s26 lake index: each micro-batch gets q200-exact containment
    * verdicts against the fitted reference (benchmark suites, license
    * pools), docs carrying a verbatim ≥ 64-char run of any reference
    * text drop, the rest land in `outDir`. The reference is FIXED by
    * fit (decontamination semantics — admitted docs are NOT appended:
    * quoting an admitted doc is near-dup's job, st21), so replays are
    * trivially idempotent on the index and the parquet sink dedups by
    * the checkpoint as usual. */
  def startSubstrDecontamGate(docs: DataFrame, indexName: String,
                              outDir: String, checkpoint: String)
      : StreamingQuery =
    eachBatch(docs, checkpoint) { (batch, _) =>
      // (minLen, gram, dfCap) come from the index's own params table
      // (r15): a gate-supplied gram that differed from the fitted one
      // would share zero fingerprints and silently admit everything
      val keep = graft.operators.SubstrIndex
        .containment(batch, indexName)
        .filter(col("status") === "clean")
        .select(col("doc_id"))
      batch.join(keep, Seq("doc_id"), "left_semi")
        .write.mode("append").parquet(outDir)
    }

  /** st35: streaming SUBSTRING-SCRUB gate — st34's rewrite twin (the
    * q203-vs-q200 relationship at the stream boundary): instead of
    * DROPPING a doc that carries a verbatim ≥ minLen run of the fitted
    * reference, each micro-batch is rewritten through [[graft
    * .operators.SubstrIndex.scrub]] — the leaked bytes are cut, the
    * doc's own prose survives into `outDir` (doc_id, text, n_chars,
    * cut_chars). The right gate when leakage is PARTIAL (a quoted
    * benchmark question inside an otherwise-novel page); st34 remains
    * the right gate when any contamination disqualifies the whole doc.
    * Same idempotence story as st34: the reference is fixed by fit,
    * scrubbed docs are NOT appended, the parquet sink dedups replays
    * by checkpoint. */
  def startSubstrScrubGate(docs: DataFrame, indexName: String,
                           outDir: String, checkpoint: String)
      : StreamingQuery =
    eachBatch(docs, checkpoint) { (batch, _) =>
      graft.operators.SubstrIndex.scrub(batch, indexName)
        .write.mode("append").parquet(outDir)
    }

  /** st36: streaming CLUSTER-LABEL MAINTENANCE over the s27 index —
    * the q109 ingest cadence for near-dup CLUSTERS. Unlike the gates
    * (st20/st21 drop duplicates at admission), this keeps every doc
    * and maintains the cluster-label table incrementally: each
    * micro-batch runs [[graft.operators.ClusterIndex.append]] (batch
    * shingles only, PPJoin candidates against the stored hash-order
    * prefix table, ONE CC pass over new edges + stored labels as
    * contracted super-edges), so every downstream consumer —
    * canonical pick (q105), dup weighting (q188), funnel accounting
    * (q133/q182) — reads labels that are CURRENT as of the last
    * micro-batch, with append ≡ refit parity (ClusterIndexSpec).
    *
    * Replay story: a foreachBatch retry re-ingests a batch whose
    * digests are already registered — absorb edges are self-edge-
    * guarded and fresh-digest appends anti-join, so a replay cannot
    * change labels or duplicate index rows (spec'd: double-append is
    * a label no-op). State lives in the lake tables, not a state
    * store; per-batch work ∝ batch grams + candidate collisions.
    *
    * Stats cadence (r17 review): the index appends go through the
    * autogather path, which would fire one ANALYZE job per micro-batch
    * forever. Each batch body runs under
    * [[graft.sources.Sources.deferringStats]] (appends only RECORD
    * their tables) and one [[onTerminated]] hook gathers them once at
    * query termination — batch job counts stay flat and the catalog row
    * counts are current again by stream close. */
  def startClusterMaintenance(docs: DataFrame, indexName: String,
                              checkpoint: String): StreamingQuery =
    maintenance(docs, checkpoint) { batch =>
      graft.operators.ClusterIndex.append(
        batch.select(col("doc_id"), col("text")), indexName)
    }

  /** st40: streaming ANN-INDEX maintenance — st36's fit-once/append-
    * forever cadence applied to the s11/s29 serving index: each
    * micro-batch of (vec_id, embedding) rows appends into EVERY
    * artifact of index `indexName` through [[graft.operators.AnnIndex
    * .append]] (LakeLock single-writer; the s29 hnsw append rewrites
    * only touched shard partitions, so a micro-batch's index I/O is
    * batch-shaped, not index-shaped — the property that makes
    * streaming maintenance viable at all at 100 TB). Stats defer per
    * batch and flush once at stream close (the st38 debounce).
    *
    * Delivery: EXACTLY-ONCE by construction, not by watermark — the
    * batch anti-joins the index's own vectors table on vec_id before
    * appending, so a foreachBatch replay (or a restart re-delivering
    * the last uncheckpointed batch) re-appends nothing, and
    * `append`'s new-ids-only contract is enforced rather than
    * trusted. The probe is one batch×bucketed-table anti-join —
    * batch-sized work against the vec_id-bucketed artifact. The index
    * must already exist (AnnIndex.fit — the st36 pre-fit discipline:
    * the quantizers want a representative corpus, not the first
    * micro-batch). */
  def startAnnIndexMaintenance(embs: DataFrame, indexName: String,
                               checkpoint: String): StreamingQuery =
    maintenance(embs, checkpoint) { batch =>
      if (!batch.isEmpty) {
        val s = batch.sparkSession
        val fresh = batch.join(
          s.table(graft.operators.AnnIndex.vectorsTable(indexName))
            .select(col("vec_id")),
          Seq("vec_id"), "left_anti")
        // STAGE the anti-joined batch before appending: `fresh` is a
        // lazy plan over the index's OWN vectors table, and append's
        // first artifact write INSERTS into that table — Spark then
        // recomputes dependent plans, so every later artifact would
        // see the anti-join as empty (self-referential lineage). A
        // batch-sized scratch write cuts the lineage at a snapshot
        // taken BEFORE any index mutation.
        val stage = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"),
          s"graft_st40_stage_$indexName")
        val fs = stage.getFileSystem(s.sparkContext.hadoopConfiguration)
        try {
          fresh.select(col("vec_id"), col("embedding"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(stage.toString)
          val staged = s.read.parquet(stage.toString)
          if (staged.head(1).nonEmpty)
            graft.operators.AnnIndex.append(staged, indexName)
        } finally { fs.delete(stage, true); () }
      }
    }

  /** st25: streaming URL-DEDUP gate — the crawl-frontier twin of st20,
    * keyed on the CANONICAL URL instead of the text digest: each
    * micro-batch normalizes its `url` column ([[graft.operators
    * .UrlCuration.normalizeUrl]] — the q148/q151 kernel, so stream and
    * batch verdicts cannot drift), admits only the first fetch of each
    * normalized URL (within-batch: smallest doc_id; across batches:
    * anti-join against the lake-resident seen-URL table), and
    * registers admitted URLs so a variant fetched three batches later
    * drops. This is what a crawler's dedup frontier does — and unlike
    * a state store, the seen table is the s15 persisted URL index
    * ([[graft.operators.UrlIndex]]): a plain bucketed lake table any
    * batch job can read, compact, or pre-fit from an existing crawl.
    *
    * State rows are the URL's xxhash64 (8 bytes/URL at any corpus
    * size); a 64-bit collision can only FALSE-DROP a genuinely new
    * page (~n²/2⁶⁵ — the q114 collision contract), never re-admit a
    * dup. Registration appends under the [[graft.operators.LakeLock]]
    * single-writer contract and the anti-join makes replays no-op, so
    * a foreachBatch retry can never double-admit (the st20 delivery
    * story). */
  def startUrlDedupGate(docs: DataFrame, indexName: String,
                        outDir: String, checkpoint: String,
                        buckets: Int = graft.operators.UrlIndex.DefaultBuckets)
      : StreamingQuery = {
    import graft.operators.UrlIndex
    admitGate(docs, outDir, checkpoint) { batch =>
      // first batch bootstraps an empty registry (a pre-fitted s15
      // index — e.g. from an existing crawl — is picked up as-is)
      if (!batch.sparkSession.catalog.tableExists(UrlIndex.urlsTable(indexName)))
        UrlIndex.fit(batch.limit(0), indexName, buckets)
      UrlIndex.dedup(batch, indexName)
    }(UrlIndex.append(_, indexName))
  }

  case class QuotaDoc(doc_id: Long, source: String)
  /** st32 spec fixture row (top-level so encoders resolve). */
  case class DriftDoc(ts: java.sql.Timestamp, text: String)

  /** st22: streaming per-source ADMISSION-QUOTA gate — cap how many
    * documents each source may land at ingest (the live form of
    * q128's per-domain cap: one hijacked/looping crawler cannot flood
    * the day's mix). Unlike the lake-state gates (st20/st21) the state
    * here is ONE LONG per source — admitted-so-far — which is exactly
    * what a keyed state store is for: `flatMapGroupsWithState` keyed
    * by source, admitting until the counter hits `quota`. Within a
    * micro-batch admission is deterministic (smallest doc_id first —
    * an in-memory sort bounded by the batch's per-source rows);
    * across batches the counter persists, so a source that filled its
    * quota in batch 1 admits nothing ever after. Semantics vs batch
    * q128: q128 ranks by QUALITY over the whole corpus (can't be done
    * online — future docs are unseen); st22 admits FIRST-N in arrival
    * order — run q128 over the landed lake at compaction cadence when
    * quality-ranked survivorship matters. */
  def startQuotaGate(docs: DataFrame, quota: Long,
                     outDir: String, checkpoint: String)
      : StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    val admitted = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("source"))
      .as[QuotaDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[QuotaDoc], state: GroupState[Long]) =>
          val used = state.getOption.getOrElse(0L)
          val room = math.max(0L, quota - used).toInt
          val keep = it.toSeq.sortBy(_.doc_id).take(room)
          state.update(used + keep.length)
          keep.iterator
      }
    parquetSink(admitted.toDF(), outDir, checkpoint)
  }

  private def closed(user: Long, s: OpenSession): SessionOut =
    SessionOut(user, s.start_us, s.n, s.last_us - s.start_us, s.total)

  /** Per-group transition function. Events within a micro-batch arrive
    * unordered → sort in-memory (bounded by batch size per user).
    *
    * Cross-batch late events (flatMapGroupsWithState does NOT drop rows
    * older than the watermark): an event inside the open session's
    * gap-extended interval merges with start=min/last=max — never
    * shrinking the interval, so durations stay non-negative and the
    * timeout always derives from the true max event time. An event
    * older than start − gap is a distinct earlier session; it is
    * emitted immediately as its own closed session (bounded by the
    * watermark ≈ gap, further late siblings are rare and would at worst
    * under-merge, never corrupt the open session). */
  def sessionFn(user: Long, it: Iterator[Ev],
                state: GroupState[OpenSession]): Iterator[SessionOut] = {
    if (state.hasTimedOut) {           // watermark passed last_us + gap
      val done = state.getOption.map(closed(user, _))
      state.remove()
      return done.iterator
    }
    val out = Seq.newBuilder[SessionOut]
    var cur: Option[OpenSession] = state.getOption
    it.map(e => (e.ts.getTime * 1000L + (e.ts.getNanos / 1000) % 1000, e.value))
      .toIndexedSeq.sortBy(_._1).foreach { case (tsUs, value) =>
      cur match {
        case Some(s) if tsUs > s.last_us + SessionGapUs =>  // next session
          out += closed(user, s)
          cur = Some(OpenSession(tsUs, tsUs, 1, value))
        case Some(s) if tsUs < s.start_us - SessionGapUs => // late orphan
          out += SessionOut(user, tsUs, 1, 0L, value)
        case Some(s) =>                                     // merge (may be late)
          cur = Some(OpenSession(math.min(s.start_us, tsUs),
            math.max(s.last_us, tsUs), s.n + 1, s.total + value))
        case None =>
          cur = Some(OpenSession(tsUs, tsUs, 1, value))
      }
    }
    cur.foreach { s =>
      state.update(s)
      // timeout must sit above the current watermark or Spark rejects it
      state.setTimeoutTimestamp(
        math.max((s.last_us + SessionGapUs) / 1000L,
                 state.getCurrentWatermarkMs() + 1))
    }
    out.result().iterator
  }

  /** st02: stateful sessionization over a STREAMING events frame with
    * schema (user_id, ts, value). Sessions close via event-time timeout,
    * so on a batch frame (where timeouts never fire and state is
    * discarded) each user's final open session is not emitted — batch
    * jobs use the window-based Events.q34/q35 instead. Rows with a null
    * user/ts/value cannot be sessionized and are filtered (the typed
    * encoder would otherwise fail the whole query on one bad row). */
  def sessionize(events: DataFrame): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    Events.withTs(events)
      .withWatermark("ts", Watermark)
      .filter(col("user_id").isNotNull && col("ts").isNotNull && col("value").isNotNull)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts"), col("value").cast("double").as("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(sessionFn)
  }

  case class MonDoc(doc_id: Long, source: String, toks: Seq[String])
  case class MgState(toks: Array[String], counts: Array[Long],
                     dec: Long, seen: Long)
  case class HhRow(source: String, rank: Int, token: String,
                   est: Long, err: Long, seen: Long)

  /** st23: streaming per-source TOKEN-FREQUENCY monitor — the live
    * form of q140's heavy-hitters report: what is each source feeding
    * the pipeline RIGHT NOW (a looping crawler, a template flood, a
    * language shift show up here batches before any batch audit runs).
    * Keyed state is one Misra-Gries sketch per source — BOUNDED at
    * `capacity` counters no matter how many tokens stream through,
    * the other workload a keyed state store is actually for (st22's
    * counter being the first). Tokens fold through the SAME
    * [[graft.functions.MisraGries]] kernel as the fn06 batch
    * aggregate, in deterministic order (docs sorted by doc_id inside
    * each micro-batch, token order within a doc), so the maintained
    * sketch for a given arrival sequence is reproducible and carries
    * the standard MG guarantee over everything seen so far (est ≤
    * true ≤ est + err, any token with true count > seen/(capacity+1)
    * present). Each micro-batch APPENDS the source's current top-`k`
    * (stamped with `seen`, the sketch's cumulative token count, so
    * consecutive snapshots of one source are distinguishable). */
  def startFreqMonitor(docs: DataFrame, capacity: Int = 64, k: Int = 10,
                       outDir: String, checkpoint: String): StreamingQuery = {
    val spark = docs.sparkSession
    import spark.implicits._
    val heavy = docs
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        split(lower(trim(col("text"))), " ").as("toks"))
      .as[MonDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[MonDoc], state: GroupState[MgState]) =>
          val m = scala.collection.mutable.HashMap.empty[String, Long]
          var dec = 0L; var seen = 0L
          state.getOption.foreach { s =>
            s.toks.zip(s.counts).foreach { case (t, c) => m.update(t, c) }
            dec = s.dec; seen = s.seen
          }
          it.toSeq.sortBy(_.doc_id).foreach(_.toks.foreach { tok =>
            dec += graft.functions.MisraGries.updateOne(m, capacity, tok)
            seen += 1
          })
          val snap = m.toArray.sortBy { case (t, c) => (-c, t) }
          state.update(MgState(snap.map(_._1), snap.map(_._2), dec, seen))
          snap.take(k).zipWithIndex.map { case ((tok, est), i) =>
            HhRow(src, i + 1, tok, est, dec, seen)
          }.iterator
      }
    parquetSink(heavy.toDF(), outDir, checkpoint)
  }

  case class ThrottleDoc(doc_id: Long, source: String,
                         ts: java.sql.Timestamp)
  case class BucketState(milliTokens: Long, lastUs: Long)
  case class ThrottleOut(doc_id: Long, source: String, ts_us: Long,
                         status: String)

  /** st28: per-source TOKEN-BUCKET throttle gate — the ingest-side
    * back-pressure operator st22's quota gate can't express: st22
    * caps a source's TOTAL admissions forever, the bucket caps its
    * RATE (refill `ratePerSec`, burst up to `capacity`) so a source
    * that floods for a minute is clipped to its budget and then
    * recovers — the standard crawler-politeness / ingest-fairness
    * primitive. Deterministic by construction: tokens are integer
    * MILLI-tokens, refill = (Δt_µs · rate) div 1e6 (integer div, no
    * float drift), events fold in (ts, doc_id) order within each
    * group — replays produce identical verdicts. Emits EVERY doc with
    * an admitted/throttled status (observability beats silent drops;
    * filter downstream). State per source is two longs — bytes-per-
    * key constant, key count = source count. */
  def throttleGate(docs: DataFrame, ratePerSec: Long,
                   capacity: Long): Dataset[ThrottleOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col("doc_id").isNotNull && col("source").isNotNull &&
        col("ts").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("ts"))
      .as[ThrottleDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[BucketState, ThrottleOut](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        case (src, it, state) =>
          val capMilli = capacity * 1000L
          var s = state.getOption.getOrElse(BucketState(capMilli, Long.MinValue))
          val out = Seq.newBuilder[ThrottleOut]
          it.map(d => (d.ts.getTime * 1000L, d.doc_id))
            .toIndexedSeq.sorted.foreach { case (tsUs, id) =>
            // milli-tokens: rate tokens/s = rate milli-tokens per ms
            // = Δt_µs · rate / 1000 (integer division, no float drift)
            val refill =
              if (s.lastUs == Long.MinValue) 0L
              else math.max(0L, (tsUs - s.lastUs) * ratePerSec / 1000L)
            val toks = math.min(capMilli, s.milliTokens + refill)
            val admit = toks >= 1000L
            s = BucketState(if (admit) toks - 1000L else toks,
              math.max(tsUs, s.lastUs))
            out += ThrottleOut(id, src, tsUs,
              if (admit) "admitted" else "throttled")
          }
          state.update(s)
          out.result().iterator
      }
  }
}
