package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** Persisted ANN index artifact — fit / save / load / search.
  *
  * The live-path operators (q45/q55/q83/q108 and the external-query
  * APIs [[Similarity.search]] / [[Similarity.searchInt8]]) re-derive
  * signatures, centroid lists, and int8 codes from the corpus on every
  * invocation — right for a one-shot audit, wrong for a serving
  * deployment where the corpus is fixed and query batches keep
  * arriving. [[fit]] materializes every derived artifact ONCE as
  * bucketed lake tables ([[Sources.writeBucketed]]); the `search*`
  * entries here serve any later query batch from those tables alone —
  * the plan reads the index tables and NEVER scans the corpus.
  *
  * Artifacts for an index named `name` (a SQL identifier):
  *   - `<name>_vectors`       (vec_id, v: array<double>, norm) —
  *     [[Similarity.vecRows]] output, the exact-cosine re-rank side;
  *     bucketed on vec_id (the re-rank join key).
  *   - `<name>_lsh_postings`  (nid, t, bucket) — one posting per hash
  *     table per vector; bucketed on `bucket`, so an incoming batch's
  *     probe keys prune the scan to the touched bucket files.
  *   - `<name>_ivf_centroids` (list, centroid: array<double>) —
  *     [[Similarity.IvfLists]] rows, the kmeans|| coarse quantizer.
  *   - `<name>_ivf_lists`     (vec_id, list) nearest-list assignment;
  *     bucketed on `list` (probed lists prune to their bucket files).
  *   - `<name>_int8_codes`    (vec_id, qv: array<int>, inorm) —
  *     [[Similarity.int8Codes]] output for the integer serving path.
  *   - `<name>_pq_codebook`   (m, c, centroid) — the M·K product-
  *     quantizer sub-centroids (metadata-sized, pinned between refits
  *     like the IVF quantizer).
  *   - `<name>_pq_codes`      (vec_id, codes: array<int>) —
  *     [[Similarity.pqEncode]] output, the 64×-compressed ADC serving
  *     currency; bucketed on vec_id.
  *
  * Bit-for-bit contract (specced): every artifact is exactly what the
  * live path derives — doubles/ints round-trip parquet losslessly, the
  * LSH planes are data-independent constants, the IVF fit is the same
  * seeded kmeans|| — and every `search*` runs its live twin's candidate
  * stage with the fitted table as the index side
  * ([[Similarity.lshCandidates]], [[Similarity.ivfCandidates]],
  * [[Similarity.int8Candidates]], [[Similarity.pqAdcCands]],
  * [[Similarity.ivfPqCandidates]], [[Similarity.hnswShardSearch]] over
  * the [[Similarity.hnswPanel]]). So `searchLsh`/`searchInt8` against a
  * loaded index return byte-identical frames to [[Similarity.search]] /
  * [[Similarity.searchInt8]] run fresh on the corpus because both paths
  * call the same code.
  *
  * 100 TB shape: fit is one corpus scan per artifact family with
  * write-side shuffles only (the bucketing exchanges — amortized over
  * every query batch served). Serving shuffles carry only id-sized
  * probe/candidate rows plus the re-rank joins; the one driver-side
  * step is collecting an incoming batch's DISTINCT probe keys for
  * bucket pruning — bounded by 2^[[Similarity.PlanesPerTable]] LSH
  * buckets / [[Similarity.IvfLists]] list ids, metadata-sized at any
  * corpus or batch volume (the m02 partition-list class, not a data
  * collect). */
object AnnIndex {

  def vectorsTable(name: String): String      = s"${name}_vectors"
  def lshTable(name: String): String          = s"${name}_lsh_postings"
  def ivfCentroidsTable(name: String): String = s"${name}_ivf_centroids"
  def ivfListsTable(name: String): String     = s"${name}_ivf_lists"
  def int8Table(name: String): String         = s"${name}_int8_codes"
  def pqCodebookTable(name: String): String   = s"${name}_pq_codebook"
  def pqCodesTable(name: String): String      = s"${name}_pq_codes"
  def hnswTable(name: String): String         = s"${name}_hnsw_shards"
  def hnswMetaTable(name: String): String     = s"${name}_hnsw_meta"

  /** Default bucket count for the index tables. Sized for the test
    * warehouse; a production fit passes executors×cores-ish. */
  val DefaultBuckets = 8

  /** Fit the full index family on `corpus` (vec_id, embedding) and
    * persist every artifact under `name`. The vector-derived artifacts
    * (vectors, LSH postings, IVF assignments) share the one persisted
    * `vecs` scan; the kmeans|| fit and the int8 quantizer read the raw
    * corpus directly (the quantizer is per-vector on the raw doubles,
    * and kmeans iterates — neither gains from the normalized frame).
    * [[rowArtifacts]] is the per-vector derivation, shared with
    * [[append]].
    *
    * `centroids` pins the IVF coarse quantizer instead of re-running
    * kmeans|| — the refit half of the incremental-maintenance contract
    * (see [[append]]): a scheduled refit that keeps the quantizer reuses
    * the previous index's centroids, making `fit(old) + append(new)`
    * vs `fit(full, centroids = old quantizer)` bit-identical. */
  def fit(corpus: DataFrame, name: String,
          buckets: Int = DefaultBuckets,
          centroids: Option[Array[Array[Double]]] = None,
          pqCodebooks: Option[Array[Array[Array[Double]]]] = None): Unit = {
    LakeLock.withWriter(corpus.sparkSession, name) { graft.Pins.scope {
    val spark = corpus.sparkSession
    drop(spark, name)
    // the quantizers are metadata-sized rows (the PQ codebook pins
    // between refits exactly like the IVF centroids — same contract,
    // same spec)
    val cents = centroids.getOrElse(Similarity.ivfFit(corpus))
    spark.createDataFrame(cents.toIndexedSeq.zipWithIndex
        .map { case (c, i) => (i, c.toIndexedSeq) })
      .toDF("list", "centroid")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(ivfCentroidsTable(name))
    val cb = pqCodebooks.getOrElse(Similarity.pqFit(corpus))
    spark.createDataFrame(
        for ((sub, m) <- cb.toIndexedSeq.zipWithIndex;
             (cent, c) <- sub.toIndexedSeq.zipWithIndex)
          yield (m, c, cent.toIndexedSeq))
      .toDF("m", "c", "centroid")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(pqCodebookTable(name))
    rowArtifacts(corpus, graft.Pins.pin(Similarity.vecRows(corpus)), name, cents, cb)
      .foreach { case (df, table, key, maxBuckets) =>
        Sources.writeBucketed(df, table, key, math.min(buckets, maxBuckets))
      }
    fitHnswUnlocked(corpus, name, buckets)
  } }
  }

  /** The per-vector artifacts of `rows` (a (vec_id, embedding) frame;
    * `vecs` its [[Similarity.vecRows]]) under fixed quantizers, as
    * (frame, table, bucket column, bucket ceiling) in write order — the
    * one derivation [[fit]] writes and [[append]] appends. */
  private def rowArtifacts(rows: DataFrame,
                           vecs: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)],
                           name: String, cents: Array[Array[Double]],
                           cb: Array[Array[Array[Double]]])
      : Seq[(DataFrame, String, String, Int)] = Seq(
    (vecs.toDF("vec_id", "v", "norm"), vectorsTable(name), "vec_id", Int.MaxValue),
    (Similarity.lshPostings(Similarity.sigRows(vecs)), lshTable(name), "bucket",
      Int.MaxValue),
    (Similarity.ivfAssign(vecs, cents, 1), ivfListsTable(name), "list",
      Similarity.IvfLists),
    (Similarity.int8Codes(rows), int8Table(name), "vec_id", Int.MaxValue),
    (Similarity.pqEncode(rows, cb), pqCodesTable(name), "vec_id", Int.MaxValue))

  /** s29: fit ONLY the HNSW artifact for `name` — one serialized
    * [[HnswGraph]] per deterministic shard (shard = hash(vec_id) mod
    * nShards, the [[HnswGraph.shardOf]] layout) plus a metadata row
    * pinning (n_shards, m, ef_construction) so every later search and
    * append reconstructs the exact layout from the catalog alone.
    * Standalone entry for a corpus that wants graph serving without
    * the full quantizer family (fit() includes it).
    *
    * 100 TB shape: a shard's payload is its vectors + M links/node —
    * size nShards so a shard fits an executor (the same arithmetic as
    * maxPartitionBytes); the build is one shuffle of vector rows into
    * shards, then shard-local O(n·log n) inserts, and the artifact is
    * written once and served forever — the cost [[Similarity
    * .hnswCandidates]] re-pays per query batch is paid here once. */
  def fitHnsw(corpus: DataFrame, name: String,
              nShards: Int = DefaultBuckets,
              m: Int = 8, efConstruction: Int = 64): Unit =
    LakeLock.withWriter(corpus.sparkSession, name) {
      Seq(hnswTable(name), hnswMetaTable(name))
        .foreach(Sources.clearTable(corpus.sparkSession, _))
      fitHnswUnlocked(corpus, name, nShards, m, efConstruction)
    }

  /** The HNSW artifact over tables its caller has cleared. */
  private def fitHnswUnlocked(corpus: DataFrame, name: String,
                              nShards: Int, m: Int = 8,
                              efConstruction: Int = 64): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // PARTITIONED by shard: each shard's payload row owns its own
    // directory, so [[appendHnsw]]'s dynamic-partition overwrite
    // rewrites exactly the touched shards' files — append I/O is
    // O(touched shards), never O(index) (the r18 whole-table sibling
    // swap rewrote everything and left a rename window where no table
    // was bound under the serving name)
    Similarity.hnswGraphs(Similarity.vecRows(corpus), m, efConstruction,
        Some(nShards))
      .toDF("shard", "payload")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").partitionBy("shard").saveAsTable(hnswTable(name))
    Seq((nShards, m, efConstruction))
      .toDF("n_shards", "m", "ef_construction")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .format("parquet").saveAsTable(hnswMetaTable(name))
  }

  /** The shards table as (shard, payload) regardless of physical
    * column order (a partitioned table stores the partition column
    * LAST; the pre-partitioning layout stored it first). */
  private def hnswShards(spark: SparkSession, name: String)
      : org.apache.spark.sql.Dataset[(Int, Array[Byte])] = {
    import spark.implicits._
    recoverHnsw(spark, name)
    spark.table(hnswTable(name))
      .select(col("shard").cast("int"), col("payload"))
      .as[(Int, Array[Byte])]
  }

  /** Load-time recovery probe for an artifact written by the PREVIOUS
    * append protocol (sibling table + DROP/RENAME swap): a crash
    * between the DROP and the RENAME left the completed `_appending`
    * sibling orphaned with nothing bound under the serving name.
    * Re-bind it. The current append path (dynamic-partition overwrite,
    * no sibling) cannot reach this state — the serving name stays
    * bound throughout. */
  private def recoverHnsw(spark: SparkSession, name: String): Unit = {
    val t = hnswTable(name)
    val tmp = t + "_appending"
    if (!spark.catalog.tableExists(t) && spark.catalog.tableExists(tmp)) {
      spark.sql(s"ALTER TABLE $tmp RENAME TO $t")
      ()
    }
  }

  /** HNSW candidate generation from the LOADED artifact — the serving
    * twin of [[Similarity.hnswCandidates]]'s build-then-search: decode
    * each persisted shard graph, beam-search the broadcast query
    * batch, union the shard-local candidate lists. Same panel collect
    * and search kernel ([[Similarity.hnswPanel]],
    * [[Similarity.hnswShardSearch]]), so loaded == live is exact.
    * Queries are batch-sized by contract (they broadcast — the int8
    * path's stance). */
  private[graft] def hnswServe(queries: DataFrame, name: String,
                               kPerShard: Int = 10, efSearch: Int = 48,
                               leaveOneOut: Boolean = false): DataFrame =
    Similarity.hnswShardSearch(
      hnswShards(queries.sparkSession, name),
      Similarity.hnswPanel(Similarity.vecRows(queries)), efSearch, kPerShard,
      leaveOneOut)

  /** Ceiling on an HNSW query panel ([[Similarity.hnswPanel]], live or
    * served) — the panel collects driver-side and broadcasts to every
    * shard; at 64-dim doubles this cap is ~32 MB of panel, comfortably
    * a batch and loudly not a corpus. */
  val MaxQueryPanel: Int = 65536

  /** HNSW top-k against a loaded index — [[Similarity.searchHnsw]]
    * served from the persisted shard graphs + vectors table: graph
    * decode + beam search per shard, exact re-rank from the vectors
    * TABLE. No corpus scan, no graph REBUILD — the rebuild-per-batch
    * cost that motivated s29 is gone; a query batch pays decode
    * (payload I/O) + beam walks only. */
  def searchHnsw(queries: DataFrame, name: String, k: Int = 5,
                 efSearch: Int = 48, kPerShard: Int = 10): DataFrame = {
    val spark = queries.sparkSession
    val qv = Similarity.vecRows(queries)
    Similarity.rerankTopK(
      hnswServe(queries, name, kPerShard, efSearch),
      qv.toDF("vec_id", "v", "norm"),
      spark.table(vectorsTable(name)), k)
  }

  /** Incremental maintenance: upsert a batch of NEW vectors into the
    * index `name` without refitting — the daily-ingest pattern (q109's
    * cadence) applied to the serving index. Every per-vector artifact
    * (re-rank vectors, LSH postings, IVF list assignment, int8 codes)
    * is derived for the batch alone through the SAME kernels `fit`
    * uses and APPENDED into the bucketed tables with the tables' own
    * bucket spec, so appended rows hash into exactly the bucket files
    * a probe of their key would read — bucket pruning keeps working.
    * The IVF centroids stay FIXED between refits (standard ANN
    * practice: assignments drift slightly as the corpus distribution
    * moves, which is recall erosion, not wrongness — the exact re-rank
    * stage is unaffected). REFIT TRIGGER: re-run [[fit]] (optionally
    * pinning `centroids` to keep bit-compatibility) when appended
    * volume is no longer small vs the fitted corpus (rule of thumb
    * ~20–30%) or measured recall on a probe set sags; an appended
    * batch costs one batch-sized scan per artifact, never a corpus
    * scan.
    *
    * Contract (specced): `fit(old); append(new)` produces tables whose
    * contents — and therefore every `search*` result — are
    * bit-identical to `fit(full, centroids = old quantizer)`.
    * `batch` must carry vec_ids not already in the index (new docs);
    * rewriting an EXISTING id is the m02 keyed-upsert problem
    * ([[Sources.upsertPartitioned]]) and intentionally out of scope
    * for the append fast path. `batch` must also not be a LAZY plan
    * over this index's own tables: the first artifact write inserts
    * into the vectors table and Spark recomputes dependent plans, so
    * a self-referential batch silently empties for every later
    * artifact — stage such a frame to scratch parquet first (the st40
    * sink does exactly this for its dedup anti-join). */
  def append(batch: DataFrame, name: String): Unit = {
    LakeLock.withWriter(batch.sparkSession, name) { graft.Pins.scope {
    val spark = batch.sparkSession
    val vecs = graft.Pins.pin(Similarity.vecRows(batch))
    rowArtifacts(batch, vecs, name, loadCentroids(spark, name),
        loadPqCodebook(spark, name))
      .foreach { case (df, table, key, _) => Sources.appendBucketed(df, table, key) }
    appendHnsw(spark, vecs, name)
  } }
  }

  /** HNSW incremental maintenance: route the batch's vectors to their
    * deterministic shards ([[HnswGraph.shardOf]] — the fit-time
    * layout) and INSERT them into each touched shard's loaded graph;
    * a batch landing in an (unlikely) empty shard builds a fresh
    * graph. Unlike the row-append artifacts this is a read-modify-
    * write of the touched payload rows — inherent to a graph index
    * (new nodes rewire old nodes' links) — so the rewrite targets the
    * shard-PARTITIONED table with dynamic-partition overwrite:
    * untouched shards' FILES are never read, written, or moved (I/O is
    * O(touched shards), not O(index) — a small daily batch against a
    * 100 TB index rewrites a handful of shard directories), and the
    * serving table name stays bound throughout (the r18 DROP→RENAME
    * swap had a window where a crash left NO table under the name).
    * The updated rows stage to a scratch directory first — reading a
    * table and overwriting its partitions in one plan is the
    * self-overwrite Spark's insert path refuses — then land in one
    * partition-granular INSERT. Cost: decode + insert on touched
    * shards only, never a distance pass over the old corpus —
    * hash-of-id levels mean the artifact needs no RNG state to keep
    * growing.
    *
    * Semantics note (differs from the quantizer-family contract):
    * HNSW links depend on insertion ORDER, so fit(old)+append(new) is
    * a VALID graph containing exactly old ∪ new, but not bit-identical
    * to fit(full) — the spec'd contract is exact id coverage + recall
    * floor, not byte equality (no incremental graph index anywhere
    * offers the latter). */
  private def appendHnsw(spark: SparkSession,
                         vecs: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)],
                         name: String): Unit = {
    import spark.implicits._
    recoverHnsw(spark, name)
    val (nShards, m, efC) = {
      val r = spark.table(hnswMetaTable(name)).collect().head
      (r.getInt(0), r.getInt(1), r.getInt(2))
    }
    val batch = vecs.map { case (id, v, n) => (id, v.map(_ / n)) }
    // the batch's touched-shard list is ≤ nShards values — the m02
    // partition-list class of collect, metadata-sized at any volume
    val touched = batch.map { case (id, _) => HnswGraph.shardOf(id, nShards) }
      .distinct().collect().sorted
    if (touched.isEmpty) return
    ensurePartitionedHnsw(spark, name)
    // read ONLY the touched shards' rows: the IN filter on the
    // partition column prunes at the catalog, so untouched shard files
    // never open
    val old = hnswShards(spark, name)
      .filter(col("shard").isin(touched.toIndexedSeq: _*))
      .groupByKey(_._1)
    val fresh = batch
      .groupByKey { case (id, _) => HnswGraph.shardOf(id, nShards) }
    val updated = old.cogroup(fresh) { (shard, oldIt, newIt) =>
      val adds = newIt.toArray.sortBy(_._1)
      oldIt.toSeq.headOption match {
        case Some((_, payload)) =>
          if (adds.isEmpty) Iterator((shard, payload))
          else {
            val g = HnswGraph.fromBytes(payload)
            adds.foreach { case (id, v) => g.add(id, v) }
            Iterator((shard, g.toBytes))
          }
        case None =>
          if (adds.isEmpty) Iterator.empty
          else {
            val g = new HnswGraph(m, efC)
            adds.foreach { case (id, v) => g.add(id, v) }
            Iterator((shard, g.toBytes))
          }
      }
    }.toDF("shard", "payload")
    // stage → read back → dynamic-partition INSERT: the write replaces
    // exactly the touched `shard=` directories. The DYNAMIC overwrite
    // mode is pinned via the SESSION conf (saved/restored) — the
    // DataFrameWriter option does NOT reach a catalog-table insertInto
    // (spec-verified: under a static session conf the option alone
    // truncated untouched partitions). No leading underscore on the
    // scratch dir — FileInputFormat's hidden-file filter would hide it
    // from its own reader.
    val stage = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"graft_hnsw_stage_$name")
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(stage)) { fs.delete(stage, true); () }
    val pomKey = "spark.sql.sources.partitionOverwriteMode"
    val prevPom = spark.conf.getOption(pomKey)
    try {
      updated.write.parquet(stage.toString)
      spark.conf.set(pomKey, "dynamic")
      spark.read.parquet(stage.toString)
        .select(col("payload"), col("shard")) // insertInto is positional; partition col last
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .insertInto(hnswTable(name))
    } finally {
      prevPom match {
        case Some(v) => spark.conf.set(pomKey, v)
        case None => spark.conf.unset(pomKey)
      }
      fs.delete(stage, true); ()
    }
  }

  /** One-time migration for an artifact fitted BEFORE the shards table
    * was shard-partitioned: rewrite it into the partitioned layout so
    * appends become partition-granular. No-op on current artifacts. */
  private def ensurePartitionedHnsw(spark: SparkSession, name: String): Unit = {
    val t = hnswTable(name)
    val partCols = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .partitionColumnNames
    if (partCols.isEmpty) {
      val stage = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        s"graft_hnsw_migrate_$name")
      val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(stage)) { fs.delete(stage, true); () }
      try {
        spark.table(t).select(col("shard"), col("payload"))
          .write.parquet(stage.toString)
        Sources.clearTable(spark, t)
        spark.read.parquet(stage.toString)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .format("parquet").partitionBy("shard").saveAsTable(t)
      } finally { fs.delete(stage, true); () }
    }
  }

  /** Drop every table of index `name` and its location (idempotent). */
  def drop(spark: SparkSession, name: String): Unit =
    Seq(vectorsTable(name), lshTable(name), ivfCentroidsTable(name),
      ivfListsTable(name), int8Table(name), pqCodebookTable(name),
      pqCodesTable(name), hnswTable(name), hnswMetaTable(name))
      .foreach(Sources.clearTable(spark, _))

  /** LSH top-k against a loaded index — [[Similarity.search]] served
    * from the persisted postings + vectors tables: the query batch is
    * signed and multi-probed fresh, candidates come from the (t,
    * bucket) equi-join against the postings TABLE, the re-rank joins
    * the vectors TABLE. No corpus scan in the plan. The batch's
    * distinct probe buckets (≤ 2^8 values) are collected and pushed as
    * an IN filter so the bucketed postings scan reads only touched
    * bucket files.
    *
    * The query-batch frame `qv` is deliberately NOT persisted: it is a
    * cheap per-row projection over a batch-sized input, and a serving
    * loop calling this per batch would leak one cached RDD per call
    * (a lazy return has no post-action hook to release it). The probe
    * collect and the re-rank join each re-derive it — batch-sized
    * arithmetic, no corpus I/O. */
  def searchLsh(queries: DataFrame, name: String, k: Int = 5): DataFrame = {
    val spark = queries.sparkSession
    val qv = Similarity.vecRows(queries)
    val probes = Similarity.lshProbes(Similarity.sigRows(qv))
    val keys = probes.select(col("bucket")).distinct()
      .collect().map(_.getLong(0))  // ≤ 2^PlanesPerTable values
    val cands = Similarity.lshCandidates(probes, spark.table(lshTable(name))
      .filter(col("bucket").isin(keys.toIndexedSeq: _*)))
    Similarity.rerankTopK(cands, qv.toDF("vec_id", "v", "norm"),
      spark.table(vectorsTable(name)), k)
  }

  /** IVF top-k against a loaded index: centroids load driver-side
    * ([[Similarity.IvfLists]] rows — metadata), the batch assigns its
    * probe lists via the same primitive kernel, candidates come from
    * the `list` equi-join against the assignments TABLE (IN-pruned to
    * the probed lists' bucket files), re-rank from the vectors TABLE.
    * `qv` unpersisted by design — see [[searchLsh]]. */
  def searchIvf(queries: DataFrame, name: String, k: Int = 5): DataFrame = {
    val qv = Similarity.vecRows(queries)
    Similarity.rerankTopK(ivfServe(qv, name), qv.toDF("vec_id", "v", "norm"),
      queries.sparkSession.table(vectorsTable(name)), k)
  }

  /** IVF candidates of a query batch against the fitted lists: the
    * batch probes its nearest lists under the loaded centroids, the
    * probed list ids (≤ [[Similarity.IvfLists]] values) are collected
    * and pushed as an IN filter, so the `list`-bucketed assignments
    * scan reads only the probed bucket files. Shared by [[searchIvf]]
    * and [[searchIvfPq]]. */
  private def ivfServe(qv: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)],
                       name: String): DataFrame = {
    val spark = qv.sparkSession
    val probes = Similarity.ivfAssign(qv, loadCentroids(spark, name),
      Similarity.IvfProbes)
    val probedLists = probes.select(col("list")).distinct()
      .collect().map(_.getInt(0))
    Similarity.ivfCandidates(probes, spark.table(ivfListsTable(name))
      .filter(col("list").isin(probedLists.toIndexedSeq: _*)))
  }

  /** Int8 serving against a loaded index — [[Similarity.searchInt8]]
    * with the corpus side's codes and re-rank vectors read from the
    * index tables. The query batch quantizes fresh (quantization is
    * per-vector) and broadcasts; the codes table streams
    * partition-local through the integer scorer. */
  def searchInt8(queries: DataFrame, name: String, k: Int = 5,
                 nCandidates: Int = 50): DataFrame = {
    val spark = queries.sparkSession
    val cands = Similarity.int8Candidates(queries, spark.table(int8Table(name)),
      nCandidates, excludeSelf = false)
    Similarity.rerankTopK(cands,
      Similarity.normalized(queries).select(col("vec_id"), col("v"), col("norm")),
      spark.table(vectorsTable(name)), k)
  }

  /** PQ serving against a loaded index — [[Similarity.searchPq]] with
    * the codebook and code table read from the index: the batch's ADC
    * lookup tables build fresh (per-query arithmetic), the code table
    * streams partition-local through the shared
    * [[Similarity.pqAdcCands]] scorer — 64× less I/O than the vector
    * table, the reason a RAM-resident 100 TB serving tier holds PQ
    * codes and pages exact vectors only for the `nCandidates` re-rank
    * rows. A linear scan over compressed codes is PQ's serving model —
    * no bucket pruning applies (pair with the IVF lists for an IVF-PQ
    * composition when even the code scan must shrink). */
  def searchPq(queries: DataFrame, name: String, k: Int = 5,
               nCandidates: Int = 50): DataFrame = {
    val spark = queries.sparkSession
    val cands = Similarity.pqAdcCands(queries, spark.table(pqCodesTable(name)),
      loadPqCodebook(spark, name), nCandidates, excludeSelf = false)
    Similarity.rerankTopK(cands,
      Similarity.normalized(queries).select(col("vec_id"), col("v"), col("norm")),
      spark.table(vectorsTable(name)), k)
  }

  /** IVF-PQ serving — the Faiss composition: the IVF coarse quantizer
    * prunes WHICH codes are scored (probed lists only — the
    * `list`-bucketed assignments table IN-prunes to probed bucket
    * files), PQ ADC prunes HOW MUCH each scoring costs (M lookups vs D
    * mults over 64×-smaller rows). Per query the scored set is
    * ∝ corpus·probes/lists in code-sized rows — the shape that serves
    * a 100 TB vector lake interactively: [[searchPq]] still scans
    * every code; this scans ~probes/lists of them. Same exact re-rank
    * tail; recall is capped by the IVF probe recall exactly as
    * [[searchIvf]]'s is. */
  def searchIvfPq(queries: DataFrame, name: String, k: Int = 5,
                  nCandidates: Int = 50): DataFrame = {
    val spark = queries.sparkSession
    val qv = Similarity.vecRows(queries)
    val candIds = ivfServe(qv, name)
    val cb = loadPqCodebook(spark, name)
    Similarity.rerankTopK(Similarity.ivfPqCandidates(candIds,
        spark.table(pqCodesTable(name)), queries, cb, nCandidates),
      qv.toDF("vec_id", "v", "norm"),
      spark.table(vectorsTable(name)), k)
  }

  /** Index-health RECALL PROBE — the measurement behind [[append]]'s
    * refit trigger ("refit when measured recall on a probe set sags"),
    * made operational: sample `nProbes` indexed vectors
    * deterministically (smallest xxhash64(vec_id) — the same probe set
    * every run, so successive reports are comparable), compute exact
    * top-k ground truth from the VECTORS table, and score every
    * approximate serving path against it. One row per path:
    * (path, k, n_probes, recall). Run it at the append cadence; when a
    * path's recall drifts below its SLO, that is the refit signal —
    * after an IVF refit the quantizer adapts to the drifted
    * distribution and recall recovers. Cost: the probe batch is
    * metadata-sized, each path pays one serving call, ground truth is
    * one [[Similarity.searchExact]] over the probe batch — nothing
    * corpus-quadratic. */
  def recallProbe(spark: SparkSession, name: String, k: Int = 5,
                  nProbes: Int = 20): DataFrame = {
    import spark.implicits._
    val probes = spark.table(vectorsTable(name))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(nProbes)
      .select(col("vec_id"),
        transform(col("v"), x => x.cast("float")).as("embedding"))
    val corpus = spark.table(vectorsTable(name))
      .select(col("vec_id"), transform(col("v"), x => x.cast("float")).as("embedding"))
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("qid"), col("nid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(Similarity.searchExact(probes, corpus, k))
    val paths = Seq(
      "lsh"    -> (() => AnnIndex.searchLsh(probes, name, k)),
      "ivf"    -> (() => AnnIndex.searchIvf(probes, name, k)),
      "int8"   -> (() => AnnIndex.searchInt8(probes, name, k)),
      "pq"     -> (() => AnnIndex.searchPq(probes, name, k)),
      "ivf_pq" -> (() => AnnIndex.searchIvfPq(probes, name, k)),
      "hnsw"   -> (() => AnnIndex.searchHnsw(probes, name, k)))
    paths.map { case (path, run) =>
      val got = pairs(run())
      (path, k, truth.size,
        if (truth.isEmpty) 1.0
        else (truth intersect got).size.toDouble / truth.size)
    }.toDF("path", "k", "n_truth", "recall")
  }

  /** Centroid arrays from the persisted table, ordered by list id. */
  private def loadCentroids(spark: SparkSession, name: String): Array[Array[Double]] =
    spark.table(ivfCentroidsTable(name)).orderBy(col("list")).collect()
      .map(_.getSeq[Double](1).toArray)

  /** PQ codebook from the persisted table — M·K rows, metadata-sized
    * (the [[loadCentroids]] collect class). */
  private def loadPqCodebook(spark: SparkSession,
                             name: String): Array[Array[Array[Double]]] = {
    val rows = spark.table(pqCodebookTable(name))
      .orderBy(col("m"), col("c")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3)).toArray
  }
}
