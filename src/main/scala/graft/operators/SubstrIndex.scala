package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sources

/** s26: persisted SUBSTRING-CONTAINMENT index — q200's byte-granular
  * machinery as a lake artifact, for the decontamination question a
  * serving pipeline asks on every incoming batch: "does this document
  * contain a verbatim run of ≥ minLen characters that already exists
  * ANYWHERE in the fitted corpus?" (benchmark leakage, license
  * boilerplate, copied passages — the signals token-level containment
  * q143 sees only at window granularity). Fit once, then judge any
  * later batch from the tables alone — no corpus scan.
  *
  * `fit` materializes two data tables for index `name`, keyed on the
  * 16-byte content digest `dg` (exact-dup collapse, the s12/s13
  * convention), plus a one-row `<name>_params` record of the fitted
  * (minLen, gram, dfCap) that probes and appends read back:
  *   - `<name>_sfp` (dg, pos, h), bucketed on h — each distinct
  *     normalized text's WINNOWING fingerprints ([[Dedup.winnowChars]]:
  *     every shared span ≥ minLen selects the same gram in both sides,
  *     the q200 guarantee), ~2/w' of positions as 60-bit packed hashes;
  *   - `<name>_texts` (dg, t), bucketed on dg — the normalized text
  *     the EXACT extension verifies against (a substring index needs
  *     its text, exactly as a suffix array does; candidates semi-join
  *     this table bucket-pruned, so a probe reads candidate digests'
  *     rows, never the table).
  *
  * `containment(batch, name)` emits one verdict row per batch doc:
  * contained (some indexed text shares a verbatim span ≥ minLen —
  * with the best match's digest, span length, and the doc's covered
  * chars) or clean. Candidates come from the fingerprint equi-join
  * (shuffle ∝ anchor collisions), collapse per (doc, match, DIAGONAL)
  * so one aligned region costs one extension, and extensions verify
  * exactly — a hash collision dies at the gram equality check.
  *
  * Fingerprinting, the hot-gram cap, the anchor extension and the
  * covered-length walk are the live q200/q201 kernels
  * ([[Dedup.winnowRows]], [[Dedup.dropHot]], [[Dedup.extendAnchors]],
  * [[Dedup.coveredLength]]), fed the fitted tables instead of a fresh
  * derivation — the served spans equal the live ones because both run
  * the same code.
  *
  * `append(docs, name)` registers newly admitted docs: not-yet-indexed
  * digests re-derive fingerprints through the same kernel and append
  * under each table's bucket spec — idempotent (replays anti-join to
  * nothing), and fit(old) + append(new) ≡ fit(old ∪ new) because the
  * fingerprints are pure functions of the text (no quantizer to
  * freeze). */
object SubstrIndex {

  def sfpTable(name: String): String    = s"${name}_sfp"
  def textsTable(name: String): String  = s"${name}_texts"
  def paramsTable(name: String): String = s"${name}_params"

  /** local[32]-scaled default, same reasoning as the other indexes. */
  val DefaultBuckets = 8

  /** One-row fit-parameter record (the DedupIndex `_bloom` metadata
    * pattern): (minLen, gram, dfCap) are properties of the FITTED
    * fingerprints, not of a probe — an index fitted with gram=24 and
    * probed with the default 16 shares zero fingerprint hashes, so
    * every batch doc would silently read 'clean' (r14 ADVICE). Probes
    * and appends therefore READ the persisted values instead of
    * accepting their own. */
  private def writeParams(spark: SparkSession, name: String,
                          minLen: Int, gram: Int, dfCap: Int): Unit = {
    import spark.implicits._
    Seq((minLen, gram, dfCap)).toDF("min_len", "gram", "df_cap")
      .write.mode("overwrite").format("parquet")
      .saveAsTable(paramsTable(name))
  }

  /** (minLen, gram, dfCap) as fitted. Fails loudly on a pre-params
    * index rather than guessing defaults — a silent guess is exactly
    * the zero-candidate false-negative mode the table exists to
    * prevent. */
  private[graft] def params(spark: SparkSession, name: String): (Int, Int, Int) = {
    val id = org.apache.spark.sql.catalyst.TableIdentifier(paramsTable(name))
    require(spark.sessionState.catalog.tableExists(id),
      s"substring index `$name` has no ${paramsTable(name)} table — " +
        "fitted by a pre-params build; re-run fit() to record " +
        "(minLen, gram, dfCap)")
    val r = spark.table(paramsTable(name)).head()
    (r.getAs[Int]("min_len"), r.getAs[Int]("gram"), r.getAs[Int]("df_cap"))
  }

  private def repTexts(docs: DataFrame): DataFrame =
    docs.select(Dedup.normDigest.as("dg"),
        lower(trim(col("text"))).as("t"))
      .dropDuplicates("dg")

  private def fingerprints(rep: DataFrame, minLen: Int,
                           gram: Int): DataFrame =
    Dedup.winnowRows[String](rep, "dg", gram, minLen)

  def fit(corpus: DataFrame, name: String,
          buckets: Int = DefaultBuckets,
          minLen: Int = Dedup.SubstrMinLen,
          gram: Int = Dedup.SubstrGram,
          dfCap: Int = 0): Unit = {
    require(minLen >= gram, s"minLen ($minLen) must be >= gram ($gram)")
    LakeLock.withWriter(corpus.sparkSession, name) { graft.Pins.scope {
      drop(corpus.sparkSession, name)
      val rep = graft.Pins.pin(repTexts(corpus))
      Sources.writeBucketed(
        fingerprints(rep, minLen, gram), sfpTable(name), "h", buckets)
      Sources.writeBucketed(
        rep, textsTable(name), "dg", buckets)
      writeParams(corpus.sparkSession, name, minLen, gram, dfCap)
    } }
  }

  /** Verified span rows (batch digest, index digest, start in batch
    * text, length) for a normalized batch frame against the fitted
    * index, under the fitted params — the candidate→diagonal→exact-
    * extension core shared by [[containment]] (verdicts) and [[scrub]]
    * (rewrite), through the live q200 kernels ([[Dedup.dropHot]],
    * [[Dedup.extendAnchors]]). When the index was fitted with
    * dfCap > 0, fingerprint hashes present in more than dfCap distinct
    * indexed texts are excluded from candidate generation (the Lee et
    * al. hot-gram mitigation — see [[Dedup.q202]]). Detection of spans
    * anchored ONLY by such grams is forgone, knowingly. */
  private def spansAgainst(batchRep: DataFrame, name: String): DataFrame = {
    val spark = batchRep.sparkSession
    import spark.implicits._
    val (minLen, gram, dfCap) = params(spark, name)
    val fpB = fingerprints(batchRep, minLen, gram)
    val sfp = Dedup.dropHot(spark.table(sfpTable(name)), "h", "dg", dfCap)
    val cand = fpB.as("a")
      .join(sfp.as("b"), col("a.h") === col("b.h"))
      .select(col("a.dg").as("bdg"), col("b.dg").as("idg"),
        col("a.pos").as("pos_b"), col("b.pos").as("pos_i"))
    // a batch doc that IS an indexed text (same digest) is trivially
    // contained end to end; the span machinery handles it like any
    // other full-length match, no special case needed
    val perDiag = cand
      .groupBy(col("bdg"), col("idg"),
        (col("pos_b") - col("pos_i")).as("diag"))
      .agg(sort_array(collect_set(col("pos_b"))).as("anchors"))
    val ti = spark.table(textsTable(name))
      .select(col("dg").as("idg"), col("t").as("t_i"))
    val spans = perDiag
      .join(batchRep.select(col("dg").as("bdg"), col("t").as("t_b")), "bdg")
      .join(ti, "idg")
      .select(col("bdg"), col("idg"), col("diag"), col("anchors"),
        col("t_b"), col("t_i"))
      .as[(String, String, Int, Seq[Int], String, String)]
      .flatMap { case (bdg, idg, diag, anchors, tB, tI) =>
        Dedup.extendAnchors(tB, tI, diag, anchors, gram, minLen).map {
          case (start, _, len) => (bdg, idg, start, len)
        }
      }
      .toDF("bdg", "idg", "start_b", "match_len")
      .distinct()
      .transform(graft.Pins.pin)
    spans
  }

  /** Byte-granular containment verdicts for a batch against the fitted
    * index — served from the tables alone, under the FITTED
    * (minLen, gram, dfCap) read from the params table (a probe cannot
    * supply its own: mismatched grams share no fingerprints and every
    * doc silently reads 'clean'). One row per batch doc: (doc_id, dg,
    * status contained|clean, match_dg, max_len, covered_chars). */
  def containment(batch: DataFrame, name: String): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val batchRep = repTexts(batch)
      .transform(graft.Pins.pin)
    val spans = spansAgainst(batchRep, name)
    // covered chars per batch digest: interval union over all spans
    // (any index side), the q201 walk
    val covered = spans
      .groupBy(col("bdg"))
      .agg(sort_array(collect_list(
        struct(col("start_b").as("s"),
          (col("start_b") + col("match_len")).as("e")))).as("iv"))
      .as[(String, Seq[(Int, Int)])]
      .map { case (bdg, iv) => (bdg, Dedup.coveredLength(iv)) }
      .toDF("dg", "covered_chars")
    // best match per batch digest: longest span, digest tie-break
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bdg"))
      .orderBy(col("match_len").desc, col("idg"), col("start_b"))
    val best = spans
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("bdg").as("dg"), col("idg").as("match_dg"),
        col("match_len").as("max_len"))
    batch.select(col("doc_id"), Dedup.normDigest.as("dg"))
      .join(best, Seq("dg"), "left_outer")
      .join(covered, Seq("dg"), "left_outer")
      .na.fill(0L, Seq("covered_chars"))
      .select(col("doc_id"), col("dg"),
        when(col("match_dg").isNotNull, lit("contained"))
          .otherwise(lit("clean")).as("status"),
        col("match_dg"), coalesce(col("max_len"), lit(0)).as("max_len"),
        col("covered_chars"))
      .orderBy(col("doc_id"))
  }

  /** Byte-granular SCRUB against the fitted index — [[containment]]'s
    * rewrite twin (the q203-vs-q200 relationship, index-served): every
    * batch doc's characters covered by a verbatim ≥ minLen run of ANY
    * indexed text are CUT (interval union, overlaps once — the
    * [[Dedup.cutCovered]] walk), instead of the whole doc dropping.
    * This is the decontamination stance for PARTIAL leakage: a doc
    * quoting one benchmark question keeps its original prose; st34's
    * drop gate would discard it whole. One row per batch doc:
    * (doc_id, text [scrubbed normalized], n_chars, cut_chars); docs
    * with no indexed span pass through byte-identical (normalized).
    * A scrubbed batch re-probed through [[containment]] reads clean
    * (the spec's closure check), modulo cut-seam adjacencies — the
    * q203 caveat. */
  def scrub(batch: DataFrame, name: String): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val batchRep = repTexts(batch)
      .transform(graft.Pins.pin)
    val spans = spansAgainst(batchRep, name)
    val scrubbed = spans
      .groupBy(col("bdg"))
      .agg(sort_array(collect_list(
        struct(col("start_b").as("s"),
          (col("start_b") + col("match_len")).as("e")))).as("iv"))
      .join(batchRep.select(col("dg").as("bdg"), col("t")), "bdg")
      .select(col("bdg"), col("iv"), col("t"))
      .as[(String, Seq[(Int, Int)], String)]
      .map { case (dg, iv, t) =>
        val (kept, cut) = Dedup.cutCovered(t, iv)
        (dg, kept, cut)
      }
      .toDF("dg", "scrubbed", "cut_chars")
    batch
      .select(col("doc_id"), Dedup.normDigest.as("dg"),
        lower(trim(col("text"))).as("t"))
      .join(scrubbed, Seq("dg"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("scrubbed"), col("t")).as("text"),
        length(col("t")).cast("long").as("n_chars"),
        coalesce(col("cut_chars"), lit(0L)).as("cut_chars"))
      .orderBy(col("doc_id"))
  }

  /** Register newly admitted documents under the FITTED (minLen, gram)
    * — read from the params table, like [[containment]]: an append
    * under a different gram would write fingerprints no probe can hit.
    * Anti-join on the texts table's digest key makes replays no-op. */
  def append(docs: DataFrame, name: String): Unit = {
    LakeLock.withWriter(docs.sparkSession, name) {
      val (minLen, gram, _) = params(docs.sparkSession, name)
      val newRep = Sources.unregistered(repTexts(docs), textsTable(name), "dg")
      Sources.appendBucketed(
        fingerprints(newRep, minLen, gram), sfpTable(name), "h")
      Sources.appendBucketed(newRep, textsTable(name), "dg")
    }
  }

  def drop(spark: SparkSession, name: String): Unit =
    Seq(sfpTable(name), textsTable(name), paramsTable(name))
      .foreach(Sources.clearTable(spark, _))
}
