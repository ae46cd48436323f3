package graft

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UNRESOLVED_RELATION
import org.apache.spark.sql.functions.{col, lit, pmod, upper, when}

/** Hive-CLI-style SQL entry point: registers every lake table under a
  * directory as a view and executes SQL text against them — the
  * `spark-sql`/`beeline` workflow a warehouse user drives daily.
  *
  *   sbt "runMain graft.Sql /root/testdata/sf0.01 \
  *     SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1"
  *
  * The `graft_*` operator names ([[Registry]]) resolve in any session
  * built with GraftExtensions, with no registration call. Ad-hoc
  * exploration only — programmatic callers use [[run]] and get a
  * DataFrame back. */
object Sql {

  val TableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Register each graft table present under `dir` as a temp view
    * (missing parquet files are skipped, so partial lakes work).
    * Existence goes through the Hadoop FileSystem of `dir`'s scheme, so
    * hdfs:///s3a:// lake paths work, not just local files. */
  def registerTables(spark: SparkSession, dir: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableNames.filter { name =>
      val exists = fs.exists(new Path(s"$dir/$name.parquet"))
      if (exists) Tables.table(spark, dir, name).createOrReplaceTempView(name)
      exists
    }
  }

  /** SQL-text reach for the LLM-pipeline operators (§2c): every
    * `graft_*` relation name and the builder of its operator frame over
    * the session's `documents`/`embeddings`/`events` views, so a
    * SQL-only user can run them without touching the Scala API:
    *
    *   SELECT * FROM graft_jaccard_pairs WHERE jaccard >= 0.9
    *   SELECT * FROM graft_ann_topk WHERE rk = 1
    *   SELECT * FROM graft_dedup_clusters
    *
    * Nothing is registered: [[ResolveOperators]] builds a name's frame
    * each time a statement references it, over the tables visible at
    * that moment. A lazy operator runs its distributed plan with the
    * statement, and Catalyst pushes the statement's predicates and
    * projections into it. An iterative or fit-first operator (the
    * clustering fixpoints, q126's bloom fit, q134's PCA fit, q138's PQ
    * codebook) runs its construction jobs during analysis. The scalar
    * functions (`graft_dot`, `graft_fingerprint`, ...) are registered
    * by GraftExtensions itself. */
  val Registry: Map[String, SparkSession => DataFrame] = {
    import graft.operators._
    def docs(f: DataFrame => DataFrame): SparkSession => DataFrame =
      s => f(s.table("documents"))
    def media(f: (SparkSession, DataFrame) => DataFrame): SparkSession => DataFrame =
      s => f(s, s.table("documents"))
    def embs(f: DataFrame => DataFrame): SparkSession => DataFrame =
      s => f(s.table("embeddings"))
    def events(f: DataFrame => DataFrame): SparkSession => DataFrame =
      s => f(s.table("events"))
    // the q109/q126/q131 corpus/batch derivation, shared so the three
    // ingest reports are comparable rows
    def ingest(f: (DataFrame, DataFrame) => DataFrame): SparkSession => DataFrame =
      docs { d =>
        val inBatch = pmod(col("doc_id"), lit(Oracles.IngestBatchMod)) === 0L
        f(d.filter(!inBatch), d.filter(inBatch))
      }
    def bm25Queries(d: DataFrame): DataFrame =
      d.sparkSession.createDataFrame(Oracles.Bm25Queries).toDF("query_id", "terms")
    Map(
      "graft_exact_dups"      -> docs(Dedup.q40),
      "graft_jaccard_pairs"   -> docs(Dedup.q41),
      "graft_minhash_pairs"   -> docs(Dedup.q42),
      "graft_simhash_pairs"   -> docs(Dedup.q43),
      "graft_phash_pairs"     -> media(Multimodal.q93(_, _)),
      "graft_source_overlap"  -> docs(Dedup.q95),
      "graft_ann_topk"        -> embs(Similarity.q44),
      "graft_embed_outliers"  -> embs(Similarity.q122(_)),
      "graft_langid"          -> docs(TextAnalysis.q47),
      "graft_quality"         -> docs(TextAnalysis.q48),
      "graft_token_counts"    -> docs(TextAnalysis.q49),
      "graft_tfidf"           -> docs(TextAnalysis.q89(_)),
      "graft_bpe_merges"      -> docs(TextAnalysis.q98(_)),
      "graft_bigram_nll"      -> docs(TextAnalysis.q99),
      "graft_feature_hash"    -> docs(TextAnalysis.q100(_)),
      "graft_gram_matrix"     -> embs(Similarity.q97(_)),
      "graft_boilerplate"     -> docs(TextAnalysis.q101(_)),
      "graft_mix_resample"    -> docs(TextAnalysis.q102),
      "graft_knn_labels"      -> embs(Similarity.q103(_)),
      "graft_quality_lr"      -> docs(TextAnalysis.q104(_)),
      "graft_source_profile"  -> docs(TextAnalysis.q106(_)),
      "graft_split_decontam"  -> docs(TextAnalysis.q107),
      "graft_ann_int8"        -> embs(Similarity.q108(_)),
      "graft_split_neardup"   -> docs(Dedup.q111(_)),
      "graft_bpe_tokens"      -> docs(TextAnalysis.q113(_)),
      "graft_pack_bpe"        -> docs(TextAnalysis.q77Bpe(_)),
      "graft_chunk_bpe"       -> docs(TextAnalysis.q87Bpe(_)),
      "graft_band_skew"       -> docs(Dedup.q112(_)),
      "graft_prefix_skew"     -> docs(Dedup.q123(_)),
      "graft_repeated_spans"  -> docs(Dedup.q114(_)),
      "graft_span_fraction"   -> docs(Dedup.q115(_)),
      "graft_span_scrub"      -> docs(Dedup.q119(_)),
      "graft_substr_spans"    -> docs(Dedup.q200(_)),
      "graft_substr_coverage" -> docs(Dedup.q201(_)),
      "graft_winnow_skew"     -> docs(Dedup.q202(_)),
      "graft_substr_scrubbed" -> docs(Dedup.q203(_)),
      "graft_audio_overlap"   -> media(Multimodal.q204AudioOverlap(_, _)),
      "graft_image_overlap"   -> media(Multimodal.q205ImageOverlap(_, _)),
      "graft_audio_scrubbed"  -> media(Multimodal.q206AudioScrub(_, _)),
      "graft_audio_landmarks" -> media(Multimodal.q207AudioLandmarks(_, _)),
      "graft_image_scrubbed"  -> media(Multimodal.q208ImageScrub(_, _)),
      "graft_video_neardup"   -> media(Multimodal.q210VideoNeardup(_, _)),
      "graft_video_overlap"   -> media(Multimodal.q211VideoOverlap(_, _)),
      "graft_video_scrubbed"  -> media(Multimodal.q212VideoScrub(_, _)),
      "graft_clean_scrubbed"  -> docs(Pipeline.cleanCorpus(_, scrubSpans = true)),
      "graft_dsir"            -> docs(TextAnalysis.q117(_)),
      "graft_ppl_buckets"     -> docs(TextAnalysis.q118(_)),
      "graft_temp_mix"        -> docs(TextAnalysis.q120(_)),
      "graft_src_diversity"   -> docs(TextAnalysis.q121),
      "graft_bm25_search"     -> docs(d => TextAnalysis.q116(d, bm25Queries(d))),
      "graft_incr_dedup"      -> ingest(Dedup.q109),
      "graft_dup_profile"     -> docs(Dedup.q127),
      "graft_quota_topk"      -> docs(TextAnalysis.q128(_)),
      "graft_pack_assign"     -> docs(TextAnalysis.q129(_)),
      "graft_vocab_growth"    -> docs(TextAnalysis.q130(_)),
      "graft_near_ingest"     -> ingest(Dedup.q131(_, _)),
      "graft_token_budget"    -> docs(TextAnalysis.q135(_)),
      "graft_weighted_sample" -> docs(TextAnalysis.q137(_)),
      "graft_cdc_dedup"       -> media(Multimodal.q139(_, _)),
      "graft_heavy_hitters"   -> docs(TextAnalysis.q140(_)),
      "graft_calibrate"       -> docs(TextAnalysis.q141),
      "graft_retention"       -> events(Events.q142),
      "graft_bench_containment" -> docs(Dedup.q143(_)),
      "graft_neyman_alloc"    -> docs(TextAnalysis.q144(_)),
      "graft_urls"            -> docs(UrlCuration.q148),
      "graft_domain_blocked"  -> docs(UrlCuration.q149(_)),
      "graft_domain_quota"    -> docs(UrlCuration.q150(_)),
      "graft_url_dups"        -> docs(UrlCuration.q151),
      "graft_domain_split"    -> docs(UrlCuration.q152),
      "graft_domain_profile"  -> docs(UrlCuration.q153),
      "graft_domain_rank"     -> docs(Graphs.q154(_)),
      "graft_kmeans"          -> embs(KMeans.q155(_)),
      "graft_cluster_profile" -> embs(KMeans.q156(_)),
      "graft_cluster_purity"  -> embs(KMeans.q191(_)),
      "graft_ann_recall"      -> embs(Similarity.q193(_)),
      "graft_cluster_nmi"     -> embs(KMeans.q192(_)),
      "graft_zipf_fit"        -> docs(TextAnalysis.q157(_)),
      "graft_skyline"         -> docs(Relational.q158),
      "graft_sentiment"       -> docs(TextAnalysis.q159),
      "graft_entropy"         -> docs(TextAnalysis.q160),
      "graft_hybrid_search"   -> docs(d => Similarity.q161(d,
        d.sparkSession.table("embeddings"), bm25Queries(d),
        depth = Oracles.HybridDepth)),
      "graft_minimizer_pairs" -> docs(Dedup.q162(_,
        w = Oracles.MinimizerW, minShared = Oracles.MinimizerShared)),
      "graft_novelty"         -> docs(Dedup.q163),
      "graft_mmr_topk"        -> embs(e => Similarity.q164(e.filter(col("vec_id") < 5), e)),
      "graft_domain_communities" -> docs(Graphs.q165(_, iters = Oracles.LpaIters)),
      "graft_keywords"        -> docs(TextAnalysis.q166(_)),
      "graft_chi2_drift"      -> docs(TextAnalysis.q167(_, buckets = Oracles.DsirBuckets)),
      "graft_domain_gini"     -> docs(UrlCuration.q168),
      "graft_sem_decontam"    -> embs(e => Similarity.q169(
        e.filter(col("vec_id") >= Oracles.SemBenchIds),
        e.filter(col("vec_id") < Oracles.SemBenchIds),
        tau = Oracles.SemDecontamTau)),
      "graft_temporal_split"  -> events(Events.q170),
      "graft_shard_rebalance" -> docs(Sharding.q171(_, n = Oracles.ShardN,
        m = Oracles.ShardM, vnodes = Oracles.ShardVnodes)),
      "graft_attribution"     -> events(Events.q172(_)),
      "graft_hourly_anomaly"  -> events(Events.q173(_)),
      "graft_triangles"       -> docs(Graphs.q174),
      "graft_assortativity"   -> docs(Graphs.q195),
      "graft_khop"            -> docs(Graphs.q175(_, hops = Oracles.KhopHops)),
      "graft_dedup_savings"   -> docs(Dedup.q176),
      "graft_semdedup"        -> embs(KMeans.q177(_, tau = Oracles.SemDedupTau)),
      "graft_gopher_rules"    -> docs(TextAnalysis.q178(_)),
      "graft_epoch_schedule"  -> docs(TextAnalysis.q179(_,
        budgetFactor = Oracles.EpochBudgetFactor, maxEpochs = Oracles.EpochMaxEpochs)),
      "graft_hits"            -> docs(Graphs.q180(_, iters = Oracles.HitsIters)),
      "graft_domain_weights"  -> docs(TextAnalysis.q181(_, iters = Oracles.ReweightIters)),
      "graft_rejections"      -> docs(Pipeline.q182(_, tau = Oracles.RejectContamTau)),
      "graft_k_anonymity"     -> events(Events.q183(_, k = Oracles.KAnonK)),
      "graft_sketch_eval"     -> docs(Dedup.q184(_,
        w = Oracles.MinimizerW, minShared = Oracles.MinimizerShared)),
      "graft_l_diversity"     -> events(Events.q185(_, k = Oracles.KAnonK, l = Oracles.LDivL)),
      "graft_contam_runs"     -> docs(Dedup.q186),
      "graft_vocab_richness"  -> docs(TextAnalysis.q187),
      "graft_ks_drift"        -> docs(TextAnalysis.q189),
      "graft_vocab_coverage"  -> docs(TextAnalysis.q190(_)),
      "graft_burstiness"      -> docs(TextAnalysis.q194(_)),
      "graft_cond_entropy"    -> docs(TextAnalysis.q196),
      // drift between the q110 snapshot derivations (see Oracles)
      "graft_token_drift"     -> docs(d => TextAnalysis.q132(
        d.filter(pmod(col("doc_id"), lit(Oracles.DiffOldDropMod)) =!= 0L),
        d.filter(pmod(col("doc_id"), lit(Oracles.DiffNewDropMod)) =!= 0L)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(Oracles.DiffUpperMod)) === 0L,
              upper(col("text"))).otherwise(col("text")).as("text")))),
      "graft_dedup_clusters"  -> docs(Dedup.q64(_)),
      "graft_dup_weights"     -> docs(Dedup.q188(_)),
      "graft_media_clean"     -> media(Multimodal.q94(_, _)),
      "graft_embed_clusters"  -> embs(Similarity.q96),
      "graft_canonical_pick"  -> docs(Pipeline.q105(_)),
      "graft_bloom_dedup"     -> ingest(Dedup.q126(_, _)),
      "graft_clean_funnel"    -> docs(Pipeline.q133(_)),
      "graft_pca_proj"        -> embs(Similarity.q134(_)),
      "graft_pq_ann"          -> embs(Similarity.q138(_))
    )
  }

  /** Rewrites a single-part relation named in [[Registry]] into its
    * operator's analyzed plan, aliased by the name as a view would be
    * (injected by GraftExtensions). Extended resolution rules run after
    * ResolveRelations in the same batch, so a temp view or table of the
    * same name has already claimed the relation, and an unknown
    * `graft_*` name stays unresolved and fails as
    * TABLE_OR_VIEW_NOT_FOUND. */
  final case class ResolveOperators(spark: SparkSession) extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan =
      plan.resolveOperatorsUpWithPruning(_.containsPattern(UNRESOLVED_RELATION)) {
        case u @ UnresolvedRelation(Seq(name), _, false) =>
          Registry.get(name.toLowerCase(Locale.ROOT)).fold[LogicalPlan](u)(build =>
            SubqueryAlias(name, build(spark).queryExecution.analyzed))
      }
  }

  /** Register `dir`'s tables ([[registerTables]]) and return `query`'s
    * lazy frame. A `graft_*` relation the statement names is built while
    * the statement is analyzed, and any [[Pins]] its operator takes stay
    * cached past this call: the caller that materializes the result owns
    * the [[Pins.release]] after it, as Verify and Bench do per query. */
  def run(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(query)
  }

  /** sql04: SNAPSHOT TABLES on the SQL surface — bind an s16 table
    * under `name` (head version), `name_history` (the commit log:
    * version/parent/operation/ts/file count), and optionally
    * `name_v<V>` time-travel views, so a SQL-only session gets
    * `SELECT ... FROM t`, `SELECT * FROM t_history`, and
    * point-in-time reads without touching the Scala API. Re-register
    * after a commit to move the head view (an already-bound view
    * keeps its version's immutable files — snapshot isolation). */
  def registerSnapshot(spark: SparkSession, path: String, name: String,
                       versions: Seq[Long] = Seq.empty): Unit = {
    import graft.sources.SnapshotTable
    SnapshotTable.read(spark, path).createOrReplaceTempView(name)
    val hist = SnapshotTable.history(spark, path)
      .map(s => (s.version, s.parent, s.operation, s.tsMillis,
        s.files.size.toLong))
    import spark.implicits._
    hist.toDF("version", "parent", "operation", "ts_millis", "n_files")
      .createOrReplaceTempView(s"${name}_history")
    versions.foreach(v =>
      SnapshotTable.read(spark, path, Some(v))
        .createOrReplaceTempView(s"${name}_v$v"))
  }

  /** CLI argument handling, factored out of [[main]] so the spec can
    * drive the exact CLI path on its own session. */
  def cli(spark: SparkSession, args: Seq[String]): DataFrame = {
    require(args.length >= 2, "usage: graft.Sql <tableDir> <sql...>")
    run(spark, args.head, args.tail.mkString(" "))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    cli(spark, args.toSeq).show(100, truncate = false)
    spark.stop()
  }
}
