package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** s13: persisted NEAR-DUP index — the MinHash-LSH complement of
  * [[DedupIndex]] (s12). s12 answers "has this EXACT text been
  * ingested?" from bucketed lake tables; s13 answers "is this text a
  * NEAR-duplicate (shingle Jaccard ≥ t) of anything ingested?" the
  * same way: fit once over the corpus, then judge any later batch from
  * the tables alone — no corpus scan, ever. This is the incremental
  * form of q42's corpus-wide MinHash-LSH dedup, the shape a daily
  * ingest actually runs (dedup the day's crawl against years of
  * corpus without touching the corpus text).
  *
  * `fit` materializes three tables for index `name`, all derived from
  * ONE pass over the corpus' distinct normalized texts (the exact-dup
  * collapse: identical texts shingle identically, so the index keys
  * everything on the 16-byte content digest `dg`, never on doc ids):
  *   - `<name>_digests` (dg), bucketed on dg — the exact-dup set;
  *   - `<name>_bands` (dg, n, band, band_key), bucketed on band_key —
  *     the LSH postings ([[Dedup.bandKeys]] over [[Dedup.minhashSignature]],
  *     16 bands × 4 rows); `n` is the shingle-set size, carried so the
  *     lossless length filter evaluates inside the candidate join;
  *   - `<name>_grams` (dg, gh), bucketed on dg — the xxhash64'd
  *     shingle sets that make candidate verification EXACT Jaccard
  *     (8-byte keys: shingle text never lands in the index, the same
  *     hashed-key scale default as the q114 span family).
  *
  * `dedup(batch, name, t)` emits one verdict row per batch doc:
  * `dup_corpus` (digest already indexed), `dup_batch` (an earlier
  * batch doc has the same digest), `near_corpus` (Jaccard ≥ t with
  * some indexed text — `match_dg`/`jaccard` name the best match), else
  * `new`. Candidates come from the band-key equi-join against the
  * postings table (shuffle ∝ collisions, never |batch|·|corpus|) and
  * are verified with exact Jaccard against the pruned gram table —
  * specced bit-identical to the table-free twin [[Dedup.q131]] on the
  * fitted corpus. Within-batch NEAR pairs are out of contract (two
  * similar-but-unequal docs in ONE batch both pass; the gate cadence
  * bounds the window and q42 on the admitted batch closes it).
  *
  * `append(docs, name)` registers newly admitted docs: their
  * not-yet-indexed digests (bucket-pruned anti-join) re-derive
  * bands/grams through the SAME kernels and append under each table's
  * own bucket spec — batch-sized work, idempotent by construction
  * (replays can only no-op). Unlike s11's IVF centroids there is no
  * frozen quantizer: band keys are pure hashes of the text, so
  * fit(old) + append(new) is bit-identical to fit(old ∪ new) with no
  * refit trigger needed.
  *
  * Streaming twin: [[graft.streaming.Streams.startNearDupGate]] (st21)
  * runs dedup-then-append per micro-batch — semantic near-dup ingest
  * gating with the state in the LAKE, closing the pair st20 opened
  * (st20 exact / st21 near). */
object NearDupIndex {

  def digestsTable(name: String): String = s"${name}_digests"
  def bandsTable(name: String): String   = s"${name}_bands"
  def gramsTable(name: String): String   = s"${name}_grams"

  /** local[32]-scaled default, same reasoning as [[AnnIndex]]/[[DedupIndex]]. */
  val DefaultBuckets = 8

  /** The three corpus-side artifacts the verdict core joins against —
    * built live ([[artifacts]], the q131 path) or loaded from the
    * fitted tables ([[load]], the serving path). Same schemas, same
    * derivations, so the two paths cannot drift. */
  private[graft] case class Artifacts(digests: DataFrame, bands: DataFrame,
                                      grams: DataFrame)

  /** Corpus-side artifacts from one pass over the distinct normalized
    * texts. The shared subtrees are PINNED (r20): [[nearIngest]]
    * consumes `digests` twice (the exact-hit probe and the near-stage
    * anti-join) and derives `bands` and `grams` from the same rep
    * shingle stream — unpinned, the corpus scan + digest window ran
    * twice and the shingle explode twice more (StageProbe r20: two
    * ~11 s shingle-pipeline stages per q131 run, guide §2.4). The
    * caller's loop owns the release (graft.Pins contract); [[fit]]
    * keeps its own structurally-scoped persists instead. */
  private[graft] def artifacts(corpus: DataFrame): Artifacts = {
    val art = derive(reps(corpus))
    art.copy(digests = graft.Pins.pin(art.digests))
  }

  /** One representative (dg, text) row per distinct digest — any
    * member works: identical normalized texts shingle identically. */
  private def reps(docs: DataFrame): DataFrame =
    docs.select(Dedup.normDigest.as("dg"), col("text")).dropDuplicates("dg")

  /** The artifacts of a (dg, text) rep frame, its shingle stream
    * pinned (bands and grams both derive from it) — the one derivation
    * behind [[artifacts]], [[fit]] and [[append]]. */
  private def derive(rep: DataFrame): Artifacts = {
    val g = graft.Pins.pin(
      Dedup.shingles(rep.select(col("dg").as("doc_id"), col("text"))))
    Artifacts(rep.select(col("dg")),
      Dedup.bandKeys(Dedup.minhashSignature(g))
        .select(col("doc_id").as("dg"), col("n"), col("band"), col("band_key")),
      g.select(col("doc_id").as("dg"), xxhash64(col("g")).as("gh")))
  }

  /** (artifact, table, bucket column) of index `name`, in write order. */
  private def tabled(art: Artifacts, name: String): Seq[(DataFrame, String, String)] =
    Seq((art.digests, digestsTable(name), "dg"),
      (art.bands, bandsTable(name), "band_key"),
      (art.grams, gramsTable(name), "dg"))

  private[graft] def load(spark: SparkSession, name: String): Artifacts =
    Artifacts(spark.table(digestsTable(name)),
      spark.table(bandsTable(name)), spark.table(gramsTable(name)))

  def fit(corpus: DataFrame, name: String,
          buckets: Int = DefaultBuckets): Unit = {
    LakeLock.withWriter(corpus.sparkSession, name) { graft.Pins.scope {
    drop(corpus.sparkSession, name)
    // pin the rep-level shingle stream's PARENT (the distinct-text
    // frame): all three artifact derivations re-scan rep, not the corpus
    tabled(derive(graft.Pins.pin(reps(corpus))), name).foreach {
      case (df, table, key) => Sources.writeBucketed(df, table, key, buckets)
    }
  } }
  }

  /** Near-dup ingest verdicts for a batch against the fitted index —
    * served from the tables alone. */
  def dedup(batch: DataFrame, name: String,
            t: Double = Dedup.MinhashJaccardThreshold): DataFrame =
    nearIngest(load(batch.sparkSession, name), batch, t)

  /** The shared verdict core — [[dedup]] feeds it loaded tables,
    * [[Dedup.q131]] feeds it live corpus artifacts; bit parity between
    * the two is the s12 `DedupIndex` spec pattern. */
  private[graft] def nearIngest(art: Artifacts, batch: DataFrame,
                                t: Double): DataFrame = {
    val batchDg = batch.select(col("doc_id"), Dedup.normDigest.as("dg"))
    val hitDg = art.digests.select(col("dg")).withColumn("hit", lit(1))
    // near stage runs only on batch digests NOT exactly indexed, one
    // representative per digest (the same collapse the fit side uses)
    val newRep = reps(batch)
      .join(art.digests.select(col("dg")), Seq("dg"), "left_anti")
    // pinned because THREE subtrees consume it (signature, the
    // verify side, sizes); the returned frame is lazy, so the caller's
    // loop owns the release (graft.Pins contract)
    val gB = Dedup.shingles(newRep.select(col("dg").as("doc_id"), col("text")))
      .transform(graft.Pins.pin)
    val bandsB = Dedup.bandKeys(Dedup.minhashSignature(gB))
    // candidate generation: band-key equi-join with the LOSSLESS length
    // filter inside the join (sets whose sizes differ by more than the
    // threshold ratio cannot reach Jaccard ≥ t)
    val cand = bandsB.as("a")
      .join(art.bands.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.n") >= lit(t) * col("b.n") &&
        col("b.n") >= lit(t) * col("a.n"))
      .select(col("a.doc_id").as("bdg"), col("b.dg").as("idg"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .distinct()
    // exact-Jaccard verify over hashed shingles, index side pruned to
    // candidate digests before its grams enter the intersection join
    val gBh = gB.select(col("doc_id").as("bdg"), xxhash64(col("g")).as("gh"))
    val gI = art.grams
      .join(cand.select(col("idg").as("dg")).distinct(), Seq("dg"), "left_semi")
      .select(col("dg").as("idg"), col("gh"))
    val verified = cand
      .join(gBh, "bdg")
      .join(gI, Seq("idg", "gh"))
      .groupBy(col("bdg"), col("idg"), col("na"), col("nb"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= t)
    // best match per batch digest: highest Jaccard, digest as tie-break
    // (candidate sets per doc are band-collision-sized — small groups)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bdg")).orderBy(col("jaccard").desc, col("idg"))
    val best = verified
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("bdg").as("dg"), col("idg").as("match_dg"), col("jaccard"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dg")).orderBy(col("doc_id"))
    batchDg
      .join(hitDg, Seq("dg"), "left_outer")
      .withColumn("rn", row_number().over(wB))
      .join(best, Seq("dg"), "left_outer")
      .select(col("doc_id"), col("dg"),
        when(col("hit").isNotNull, lit("dup_corpus"))
          .when(col("rn") > 1, lit("dup_batch"))
          .when(col("match_dg").isNotNull, lit("near_corpus"))
          .otherwise(lit("new")).as("status"),
        nearOnly(col("match_dg")).as("match_dg"),
        nearOnly(col("jaccard")).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** match columns carry only on near_corpus rows (a dup_corpus /
    * dup_batch doc may ALSO band-collide; the verdict is exact-first). */
  private def nearOnly(c: Column): Column =
    when(col("hit").isNull && col("rn") === 1 && col("match_dg").isNotNull, c)

  /** Register newly admitted documents into the fitted index. The
    * anti-join drops digests already present, so replays no-op; the
    * increment's artifacts come from the SAME kernels as fit, so
    * fit(old) + append(new) ≡ fit(old ∪ new) bit-for-bit (band keys
    * and gram hashes are pure functions of the text — no quantizer to
    * freeze, no refit trigger). */
  def append(docs: DataFrame, name: String): Unit = {
    LakeLock.withWriter(docs.sparkSession, name) {
    val newRep = Sources.unregistered(reps(docs), digestsTable(name), "dg")
    if (newRep.limit(1).count() > 0L) graft.Pins.scope {
      tabled(derive(newRep), name).foreach {
        case (df, table, key) => Sources.appendBucketed(df, table, key)
      }
    }
  }
  }

  def drop(spark: SparkSession, name: String): Unit =
    Seq(digestsTable(name), bandsTable(name), gramsTable(name))
      .foreach(Sources.clearTable(spark, _))
}
