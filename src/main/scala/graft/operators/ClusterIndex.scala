package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** s27: persisted NEAR-DUP CLUSTER-LABEL index — the fit-once pattern
  * (s12 exact digests, s13 near-dup signatures, s26 substring
  * fingerprints) applied to the engine's own most expensive sub-plan.
  *
  * Why it exists: q64/q105/q133/q182/q188 all consume the SAME
  * connected-components fixpoint over [[Dedup.neardupEdges]], and the
  * inline path re-derives it per query — ~13% of the r15 clean bench,
  * and at 100 TB "recompute the corpus CC per report" is the wrong
  * shape outright. A production pipeline materializes labels ONCE as a
  * lake artifact; every downstream report joins it.
  *
  * `fit(documents, name)` writes four tables:
  *   - `<name>_labels`  (doc_id, label) — [[Dedup.clusters]] output over
  *     [[Dedup.neardupEdges]] (so exactly q64's frame: docs with at
  *     least one dup edge; absent docs are their own singletons),
  *     bucketed on doc_id so consumer joins read exchange-free;
  *   - `<name>_grams`   (doc_id, g, n, pos, pref) — the rep-level
  *     shingle frame with HASH-ORDER prefix positions (see below),
  *     bucketed on g: the blocking side of future appends;
  *   - `<name>_digests` (dg, rep, shingled) — normalized-text digest →
  *     exact-dup rep, bucketed on dg: append absorbs re-ingested
  *     duplicates without shingling them;
  *   - `<name>_meta`    one row: (t, n_docs, version) — fit params
  *     persist with the index (the s26 lesson), so a later append
  *     cannot silently run at a different threshold.
  *
  * HASH-ORDER prefixes: the prefix principle (Bayardo et al., WWW'07)
  * is lossless under ANY fixed total order of grams, df-order is just
  * the most selective. The inline q41 path orders by corpus df — a
  * CORPUS-DEPENDENT order that would shift under append and break
  * losslessness between stored and incoming prefixes. The index
  * instead orders by (xxhash64(g), g): content-determined, identical
  * at fit and at every append, so stored-vs-batch candidate
  * generation keeps the no-missed-pair guarantee forever. Verified
  * pairs — and therefore labels — are identical to the inline path's
  * (fit == inline parity is spec'd); only candidate counts differ.
  *
  * `append(docs, name)` is the q109 ingest cadence for clusters: the
  * batch (doc_ids disjoint from the corpus — the s12/s13 contract)
  * shingles ALONE; candidates come from batch×batch plus batch×stored
  * prefix joins (bucket-pruned on g); verification reads only
  * candidate docs' grams; then ONE CC pass over (new verified pairs +
  * batch clique stars + digest-absorb edges + the stored labels as
  * star edges) relabels the union. Old labels act as contracted
  * super-edges, so the fixpoint converges over linear edges — no
  * corpus re-shingle, no corpus pair re-verification. append ≡ refit
  * on labels (spec'd): old-old pairs are unchanged by new data and
  * already connected through their stored label, so the union graph's
  * components equal the refit graph's.
  *
  * Scale shape: labels/digests are id-sized; grams are the same
  * volume the inline path shuffles per query, stored once. Appends
  * touch batch-sized gram partitions plus the (id-sized) label table
  * rewrite. Like s12's bloom sidecar, the stored tables are the
  * serving path — [[labels]] is a bucketed scan, not a computation. */
object ClusterIndex {

  def labelsTable(name: String): String  = s"${name}_labels"
  def gramsTable(name: String): String   = s"${name}_grams"
  def digestsTable(name: String): String = s"${name}_digests"
  def metaTable(name: String): String    = s"${name}_meta"

  val DefaultBuckets = 8
  private val Version = 1

  /** Rep shingles with content-determined (hash-order) prefix marks:
    * (doc_id, g, n, pos, pref). */
  private def hashOrderGrams(reps: DataFrame, t: Double): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(xxhash64(col("g")), col("g"))
    Dedup.shingles(reps)
      .withColumn("pos", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .withColumn("pref",
        col("pos") <= col("n") - ceil(lit(t) * col("n")) + 1)
  }

  /** Verified rep pairs + clique star edges from a gram frame and a
    * members map — [[Dedup.neardupEdges]]' output shape, candidates
    * supplied by the caller. */
  private def edgesFrom(g: DataFrame, candidates: DataFrame,
                        members: DataFrame, t: Double): DataFrame = {
    val repPairs = Dedup.verifyJaccard(g, candidates)
      .filter(col("jaccard") > t)
      .select(col("doc_a"), col("doc_b"))
    val shingled = g.select(col("doc_id").as("rep")).distinct()
    val star = members.join(shingled, "rep")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("doc_a"), col("rep").as("doc_b"))
    repPairs.unionAll(star)
  }

  def fit(documents: DataFrame, name: String,
          t: Double = Dedup.JaccardThreshold,
          buckets: Int = DefaultBuckets): Unit = {
    val spark = documents.sparkSession
    LakeLock.withWriter(spark, name) {
      drop(spark, name)
      // eager fit: its pins live exactly as long as the fit
      graft.Pins.scope {
      val (reps, members0) = Dedup.exactReps(documents)
      val members = graft.Pins.pin(members0)
      val g = graft.Pins.pin(hashOrderGrams(reps, t))
      val cands = graft.Pins.pin(
        Dedup.ppCandidates(g.filter(col("pref")), g.filter(col("pref")), t))
      val labels = Dedup.clusters(edgesFrom(g, cands, members, t))
      Sources.writeBucketed(
        labels, labelsTable(name), "doc_id", buckets)
      Sources.writeBucketed(
        g.select(col("doc_id"), col("g"), col("n"), col("pos"), col("pref")),
        gramsTable(name), "g", buckets)
      // Dedup.normDigest, not a re-inlined md5 (r16 review): append()
      // absorbs batch digests against THESE fitted rows, so the two
      // sides must share the single definition or a normDigest change
      // silently breaks every absorb join against older indexes
      val dg = Dedup.normDigest
      val shingled = g.select(col("doc_id").as("rep")).distinct()
        .withColumn("shingled", lit(true))
      val digests = reps.select(col("doc_id").as("rep"), dg.as("dg"))
        .join(shingled, Seq("rep"), "left_outer")
        .select(col("dg"), col("rep"),
          coalesce(col("shingled"), lit(false)).as("shingled"))
      Sources.writeBucketed(
        digests, digestsTable(name), "dg", buckets)
      val nDocs = documents.count()
      spark.createDataFrame(Seq((t, nDocs, Version)))
        .toDF("t", "n_docs", "version")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(metaTable(name))
      }
    }
  }

  /** The served labels frame — q64's output, from a bucketed scan. */
  def labels(spark: SparkSession, name: String): DataFrame =
    spark.table(labelsTable(name)).select(col("doc_id"), col("label"))

  /** Fit params as recorded — probing them before fit fails loudly
    * (the s26 pre-params discipline). */
  def params(spark: SparkSession, name: String): (Double, Long, Int) = {
    require(spark.catalog.tableExists(metaTable(name)),
      s"cluster index '$name' has no meta table — run fit first")
    val r = spark.table(metaTable(name)).collect().head
    (r.getAs[Double]("t"), r.getAs[Long]("n_docs"), r.getAs[Int]("version"))
  }

  /** Incrementally register `docs` (doc_ids disjoint from everything
    * already indexed) and relabel: append ≡ refit on labels. */
  def append(docs: DataFrame, name: String): Unit = {
    val spark = docs.sparkSession
    val (t, nOld, _) = params(spark, name)
    LakeLock.withWriter(spark, name) { graft.Pins.scope {
      // Dedup.normDigest, not a re-inlined md5: the one digest every
      // exact-dedup surface keys on (drift here would break the
      // digest-absorb path against s12 and the batch operators)
      val batch = graft.Pins.pin(docs.withColumn("dg", Dedup.normDigest))
      val stored = spark.table(digestsTable(name))
      // (1) digest hits absorb into the existing clique: edge to the
      // stored rep — only when that rep is shingled, mirroring
      // neardupEdges' star rule (gram-less cliques carry no edges)
      // doc_id =!= rep: a REPLAYED batch (the st36 foreachBatch retry
      // contract) hits its own registered digests — a self-edge would
      // add singleton vertices the refit frame excludes
      val absorb = batch.join(stored, "dg")
        .filter(col("shingled") && col("doc_id") =!= col("rep"))
        .select(col("doc_id").as("doc_a"), col("rep").as("doc_b"))
      // (2) batch-new digests: clique up within the batch
      val fresh = graft.Pins.pin(batch.join(stored, Seq("dg"), "left_anti"))
      val wDg = org.apache.spark.sql.expressions.Window.partitionBy(col("dg"))
      val bMembers = fresh.select(col("doc_id"), col("dg"))
        .withColumn("rep", min(col("doc_id")).over(wDg))
        .select(col("doc_id"), col("rep"))
        .transform(graft.Pins.pin)
      val bReps = fresh.join(
        bMembers.filter(col("doc_id") === col("rep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val gB = graft.Pins.pin(hashOrderGrams(bReps, t))
      val gOld = spark.table(gramsTable(name))
      // RETRY SAFETY (r16 review): the multi-table append is not
      // atomic, and st36's foreachBatch retries a crashed epoch. The
      // digests table is therefore the COMMIT RECORD (written last):
      // while the batch digests are absent, every derivation below
      // recomputes identically on retry. A crash AFTER the grams
      // append leaves batch grams already in gOld — gBNew anti-joins
      // them away so (a) the gram re-append is a no-op and (b) the
      // verification frame never holds a gram row twice (duplicated
      // rows would inflate every intersection count). gB's rows are
      // content-determined (hash-order positions), so stored and
      // recomputed rows are identical — dropping either copy is safe.
      val gBNew = gB.join(
        gOld.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .transform(graft.Pins.pin)
      // (3) candidates: batch×batch + batch×stored (either side may
      // hold the smaller id, so run the stored join both ways);
      // distinct() collapses pairs found via both routes when a retry
      // sees batch grams on the stored side too
      val pB = gB.filter(col("pref"))
      val pOld = gOld.filter(col("pref"))
      // persisted (r20): edgesFrom's verification consumes the
      // candidate pairs three times (two semi-join prunes + the verify
      // join) — unpersisted, the three-way PPJoin union re-ran per
      // consumer (the fit path already persists its cands for the same
      // reason). Two longs per row; released with the batch frames when
      // the scope ends, on the exception path too (a failed streaming
      // retry would otherwise leak one copy per attempt).
      val cands = Dedup.ppCandidates(pB, pB, t)
        .unionAll(Dedup.ppCandidates(pB, pOld, t))
        .unionAll(Dedup.ppCandidates(pOld, pB, t))
        .distinct()
        .transform(graft.Pins.pin)
      val gAll = gOld.select(col("doc_id"), col("g"))
        .unionAll(gBNew.select(col("doc_id"), col("g")))
      val newEdges = edgesFrom(gAll, cands, bMembers, t)
        .unionAll(absorb)
      // (4) one CC pass over new edges + stored labels as super-edges
      val oldStars = spark.table(labelsTable(name))
        .filter(col("label") =!= col("doc_id"))
        .select(col("doc_id").as("doc_a"), col("label").as("doc_b"))
      val relabeled = Dedup.clusters(newEdges.unionAll(oldStars))
        // the rewrite overwrites the table it reads from — materialize
        // fully before the write drops the old files (Ckpt: honors the
        // reliable-checkpoint seam like every other lineage cut)
        .transform(Ckpt.cut(_))
      // write order = crash-window analysis: grams (idempotent via
      // gBNew) → labels (overwrite, recomputable while digests absent)
      // → meta (advisory counter) → digests (the commit record; once
      // present a retry absorbs the batch as hits and every earlier
      // write is already in place). The append and the rewrite both
      // read each target table's OWN bucket spec, so per-table bucket
      // tuning stays consistent.
      Sources.appendBucketed(
        gBNew.select(col("doc_id"), col("g"), col("n"), col("pos"),
          col("pref")),
        gramsTable(name), "g")
      Sources.rewriteBucketed(relabeled, labelsTable(name))
      // registered-doc EVENT counter (replays can inflate it; a refit
      // re-trues it) — the refit-trigger signal, not a correctness input
      val nNew = docs.count()
      spark.createDataFrame(Seq((t, nOld + nNew, Version)))
        .toDF("t", "n_docs", "version")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .format("parquet").saveAsTable(metaTable(name))
      val shingledB = gB.select(col("doc_id").as("rep")).distinct()
        .withColumn("shingled", lit(true))
      Sources.appendBucketed(
        bReps.select(col("doc_id").as("rep"), Dedup.normDigest.as("dg"))
          .join(shingledB, Seq("rep"), "left_outer")
          .select(col("dg"), col("rep"),
            coalesce(col("shingled"), lit(false)).as("shingled")),
        digestsTable(name), "dg")
    } }
  }

  /** Drop every table of index `name` and its location (idempotent). */
  def drop(spark: SparkSession, name: String): Unit =
    Seq(labelsTable(name), gramsTable(name), digestsTable(name),
      metaTable(name))
      .foreach(Sources.clearTable(spark, _))
}
