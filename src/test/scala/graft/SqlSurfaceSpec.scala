package graft

/** Hive-compatible SQL-DDL surface: CREATE TABLE AS SELECT, INSERT,
  * views, DROP — driven entirely through spark.sql text. */
class SqlSurfaceSpec extends GraftSpec {

  test("CTAS, INSERT INTO, view, and DROP round-trip through SQL text") {
    Tables.nation(spark, SF).createOrReplaceTempView("nation_src")
    spark.sql("DROP TABLE IF EXISTS graft_ddl_nation")
    spark.sql(
      "CREATE TABLE graft_ddl_nation USING parquet AS SELECT * FROM nation_src")
    val base = spark.sql("SELECT count(*) FROM graft_ddl_nation").collect()(0).getLong(0)
    assert(base == Tables.nation(spark, SF).count())

    spark.sql(
      """INSERT INTO graft_ddl_nation
         SELECT n_nationkey + 1000, 'NATION_X', n_regionkey
         FROM nation_src WHERE n_nationkey = 0""")
    assert(spark.sql("SELECT count(*) FROM graft_ddl_nation")
      .collect()(0).getLong(0) == base + 1)

    spark.sql(
      """CREATE OR REPLACE TEMP VIEW big_nations AS
         SELECT * FROM graft_ddl_nation WHERE n_nationkey >= 1000""")
    assert(spark.sql("SELECT n_name FROM big_nations").collect()
      .map(_.getString(0)).toSeq == Seq("NATION_X"))

    spark.sql("DROP TABLE graft_ddl_nation")
    assert(!spark.catalog.tableExists("graft_ddl_nation"))
  }

  test("graft.Sql registers lake tables and answers SQL text (CLI surface)") {
    val registered = Sql.registerTables(spark, SF)
    assert(registered.toSet == Sql.TableNames.toSet) // full test lake
    val n = Sql.run(spark, SF,
      "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .collect()(0).getLong(0)
    assert(n == Tables.lineitem(spark, SF).count())
    // events view must be readable (nanos handling applied by the loader)
    assert(Sql.run(spark, SF, "SELECT max(ts) FROM events").collect().nonEmpty)
  }

  test("pipeline operators are drivable through SQL text only (q41/q42 shapes)") {
    Sql.registerTables(spark, SF)
    assert(Sql.Registry.contains("graft_jaccard_pairs") &&
      Sql.Registry.contains("graft_minhash_pairs"))

    // exact n-gram Jaccard near-dup (q41 shape), SQL text only — must
    // agree with the Scala API run on the same corpus
    val sqlPairs = spark.sql(
      """SELECT doc_a, doc_b FROM graft_jaccard_pairs
         WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val apiPairs = graft.operators.Dedup.q41(Tables.documents(spark, SF))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(sqlPairs == apiPairs)
    assert(sqlPairs.nonEmpty)

    // MinHash-LSH banding (q42 shape): predicates compose on the view
    val lsh = spark.sql(
      "SELECT count(*) AS n FROM graft_minhash_pairs WHERE doc_a < doc_b")
      .collect()(0).getLong(0)
    assert(lsh > 0)

    // ANN brute-force top-k over embeddings, SQL text only
    val ann = spark.sql(
      "SELECT qid, nid, cos FROM graft_ann_topk WHERE rk = 1 ORDER BY qid")
    assert(ann.collect().nonEmpty)

    // round-7 text/embedding operators reachable by SQL text only
    assert(spark.sql(
      "SELECT a, b, cnt FROM graft_bpe_merges WHERE cnt > 1").collect().nonEmpty)
    assert(spark.sql(
      "SELECT doc_id FROM graft_bigram_nll WHERE avg_nll > 0").collect().nonEmpty)
    assert(spark.sql(
      "SELECT count(*) FROM graft_feature_hash").collect()(0).getLong(0) > 0)
    assert(spark.sql(
      "SELECT gram FROM graft_gram_matrix WHERE i = j AND gram < 0")
      .collect().isEmpty)   // diagonal of a Gram matrix is non-negative
    assert(spark.sql(
      "SELECT doc_id FROM graft_boilerplate WHERE boiler_frac > 1.0")
      .collect().isEmpty)   // a fraction stays in [0, 1]
    // resample rates hit the uniform target or clamp at 1
    assert(spark.sql(
      "SELECT source FROM graft_mix_resample WHERE keep_rate > 1.0 OR n_sampled > n_docs")
      .collect().isEmpty)
    assert(spark.sql(
      "SELECT qid FROM graft_knn_labels WHERE votes BETWEEN 1 AND 5")
      .collect().nonEmpty)
    assert(spark.sql(
      "SELECT count(*) FROM graft_quality_lr WHERE keep = (score > 0)")
      .collect()(0).getLong(0) > 0)
    assert(spark.sql(
      "SELECT source FROM graft_source_profile WHERE median_tokens > p90_tokens")
      .collect().isEmpty)   // quantiles are monotone
    assert(spark.sql(
      "SELECT doc_id FROM graft_split_decontam WHERE leaked > n_grams")
      .collect().isEmpty)
    // round-8 operators reachable by SQL text only
    assert(spark.sql(
      "SELECT doc_id FROM graft_bpe_tokens WHERE n_merges < 0 OR n_subwords < 0")
      .collect().isEmpty)   // counts are non-negative
    assert(spark.sql(
      "SELECT count(*) FROM graft_bpe_tokens").collect()(0).getLong(0) > 0)
    assert(spark.sql(
      "SELECT span FROM graft_repeated_spans WHERE n_docs < 2")
      .collect().isEmpty)   // only cross-doc repeats qualify
    assert(spark.sql(
      """SELECT doc_id FROM graft_span_fraction
         WHERE frac_repeated < 0 OR frac_repeated > 1 OR n_repeated > n_windows""")
      .collect().isEmpty)   // a fraction of occurrences stays in [0, 1]
    assert(spark.sql(
      "SELECT doc_id FROM graft_span_scrub WHERE n_removed > n_tokens OR n_removed < 0")
      .collect().isEmpty)   // the scrub never removes more than it saw
    assert(spark.sql(
      s"""SELECT doc_id FROM graft_clean_scrubbed
         WHERE clean_tokens < ${graft.operators.Pipeline.MinTokens}""")
      .collect().isEmpty)   // scrubbed pipeline still enforces the floor
    assert(spark.sql(
      "SELECT count(*) FROM graft_dsir WHERE keep").collect()(0).getLong(0) > 0)
    assert(spark.sql(
      """SELECT lang FROM graft_ppl_buckets GROUP BY lang
         HAVING count(DISTINCT bucket) > 3""")
      .collect().isEmpty)   // at most head/middle/tail per language
    assert(spark.sql(
      "SELECT query_id FROM graft_bm25_search WHERE `rank` > 10")
      .collect().isEmpty)   // k caps every query's hit list
    // round-9 operators reachable by SQL text only
    assert(spark.sql(
      """SELECT bucket_lo FROM graft_pack_bpe
         WHERE n_docs < 1 OR max_tokens > sum_tokens""")
      .collect().isEmpty)   // histogram invariants in subword currency
    assert(spark.sql(
      "SELECT doc_id FROM graft_chunk_bpe WHERE chunk_tokens > 64")
      .collect().isEmpty)   // no chunk exceeds the window in BPE tokens
    assert(spark.sql(
      "SELECT count(*) FROM graft_chunk_bpe").collect()(0).getLong(0) > 0)
    // both skew reports: C(m,2) ceilings consistent with their doc counts
    assert(spark.sql(
      """SELECT band_key FROM graft_band_skew
         WHERE cand_pairs <> bucket_docs * (bucket_docs - 1) DIV 2""")
      .collect().isEmpty)
    assert(spark.sql(
      """SELECT g FROM graft_prefix_skew
         WHERE cand_pairs <> block_docs * (block_docs - 1) DIV 2
            OR share < 0 OR share > 1""")
      .collect().isEmpty)
    // round-10 operators reachable by SQL text only
    assert(spark.sql(
      """SELECT source FROM graft_dup_profile
         WHERE n_dup_docs <> n_docs - n_distinct_texts
            OR dup_frac < 0 OR dup_frac > 1 OR max_cluster < 1""")
      .collect().isEmpty)   // profile identities hold per source
    assert(spark.sql(
      "SELECT count(*) FROM graft_dup_profile").collect()(0).getLong(0) > 0)
    assert(spark.sql(
      s"""SELECT source FROM graft_quota_topk GROUP BY source
         HAVING count(*) > ${graft.Oracles.SourceQuota}""")
      .collect().isEmpty)   // the quota binds per source
    assert(spark.sql(
      "SELECT count(*) FROM graft_quota_topk").collect()(0).getLong(0) > 0)
    assert(spark.sql(
      """SELECT shard, bin FROM graft_pack_assign
         GROUP BY shard, bin
         HAVING sum(n_tokens) > 256 AND count(*) > 1""")
      .collect().isEmpty)   // only single-doc overflow bins may exceed capacity
    assert(spark.sql(
      """SELECT bucket FROM graft_vocab_growth
         WHERE new_tokens > token_volume OR novelty_rate < 0 OR novelty_rate > 1""")
      .collect().isEmpty)   // a tranche can't mint more vocab than it has tokens
    // near-dup ingest verdicts are the closed q131 status set, and
    // match columns ride ONLY on near_corpus rows
    assert(spark.sql(
      """SELECT status FROM graft_near_ingest
         WHERE status NOT IN ('new', 'dup_batch', 'dup_corpus', 'near_corpus')
            OR (status <> 'near_corpus' AND match_dg IS NOT NULL)
            OR (status = 'near_corpus' AND (match_dg IS NULL OR jaccard < 0.7))""")
      .collect().isEmpty)
    // drift: smoothed probabilities are strictly positive and KL(new‖old)
    // is non-negative (Gibbs) — same constant on every attribution row
    assert(spark.sql(
      """SELECT tok FROM graft_token_drift
         WHERE p_old <= 0 OR p_new <= 0 OR kl_total < 0""")
      .collect().isEmpty)
    assert(spark.sql(
      "SELECT COUNT(DISTINCT kl_total) FROM graft_token_drift")
      .collect()(0).getLong(0) <= 1L)
    // CDC block dedup: owner-billed and shared bytes bounded by payload
    assert(spark.sql(
      """SELECT doc_id FROM graft_cdc_dedup
         WHERE owned_bytes > payload_bytes OR shared_bytes > payload_bytes
            OR dedup_ratio < 0 OR dedup_ratio > 1""")
      .collect().isEmpty)
    // heavy hitters: ranked, lower-bound estimates positive
    assert(spark.sql(
      """SELECT rank FROM graft_heavy_hitters
         WHERE est <= 0 OR err < 0""").collect().isEmpty)
    assert(spark.sql(
      "SELECT count(*) FROM graft_heavy_hitters").collect()(0).getLong(0) > 0)
    // calibration: z is NULL only for degenerate strata, mean/z bounded
    assert(spark.sql(
      "SELECT count(*) FROM graft_calibrate WHERE cal_z IS NOT NULL")
      .collect()(0).getLong(0) > 0)
    // retention: offset-0 rows are by definition the full cohort
    assert(spark.sql(
      """SELECT cohort_week FROM graft_retention
         WHERE week_offset = 0 AND retention <> 1.0""").collect().isEmpty)
    // containment bounded by 1 and above the operator's threshold
    assert(spark.sql(
      """SELECT bench_id FROM graft_bench_containment
         WHERE containment < 0.5 OR containment > 1.0""").collect().isEmpty)
    // Neyman: allocation never exceeds a stratum's population
    assert(spark.sql(
      """SELECT source FROM graft_neyman_alloc
         WHERE alloc_n < 0 OR alloc_n > n_docs""").collect().isEmpty)
    // URL curation: canonical URLs carry no tracking/fragment debris,
    // every dup group's canon is its min id, splits are domain-pure
    assert(spark.sql(
      """SELECT doc_id FROM graft_urls
         WHERE url_norm LIKE '%utm_%' OR url_norm LIKE '%#%'
            OR url_norm LIKE '%www.%'""").collect().isEmpty)
    assert(spark.sql(
      """SELECT url_norm FROM graft_url_dups
         GROUP BY url_norm HAVING min(canon_id) <> min(doc_id)""")
      .collect().isEmpty)
    assert(spark.sql(
      """SELECT domain FROM graft_domain_split
         GROUP BY domain HAVING COUNT(DISTINCT split) > 1""")
      .collect().isEmpty)
    assert(spark.sql(
      """SELECT domain FROM graft_domain_profile
         WHERE n_urls > n_docs OR url_dup_rate < 0 OR url_dup_rate > 1""")
      .collect().isEmpty)

    // iterative and fit-first operators resolve like any other name
    // (clusters run a driver fixpoint loop, q126's bloom fit and the PQ
    // codebook collect before their plans exist): their construction
    // runs when a statement first references them
    assert(Seq("graft_dedup_clusters", "graft_bloom_dedup", "graft_pq_ann")
      .forall(Sql.Registry.contains))
    // every PQ ANN query reports a full ranked top-5
    assert(spark.sql(
      """SELECT qid FROM graft_pq_ann
         GROUP BY qid HAVING count(*) <> 5 OR max(rk) <> 5""")
      .collect().isEmpty)
    assert(spark.sql(
      """SELECT status FROM graft_bloom_dedup
         WHERE status NOT IN ('new', 'dup_batch', 'dup_corpus')""")
      .collect().isEmpty)
    val clustered = spark.sql(
      """SELECT label, count(*) AS n FROM graft_dedup_clusters
         GROUP BY label HAVING count(*) > 1""").collect()
    assert(clustered.nonEmpty)
    assert(spark.sql(
      "SELECT count(*) FROM graft_media_clean WHERE status = 'kept'")
      .collect()(0).getLong(0) > 0)
    // canonical pick: every survivor belongs to the cluster it wins
    assert(spark.sql(
      """SELECT p.label FROM graft_canonical_pick p
         LEFT JOIN graft_dedup_clusters c
           ON p.survivor = c.doc_id AND p.label = c.label
         WHERE c.doc_id IS NULL""").collect().isEmpty)
  }

  test("CLI: a fresh session answers the iterative cluster operators with no flag") {
    // the exact argv shape `graft.Sql <dir> <sql...>` takes, through the
    // same cli() path main() calls
    val fresh = spark.newSession()
    val r = Sql.cli(fresh, Seq(SF,
      """SELECT label, count(*) AS n FROM graft_dedup_clusters
         GROUP BY label HAVING count(*) > 1""")).collect()
    assert(r.nonEmpty)
    // the name resolved on reference: only the lake tables are views
    assert(fresh.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet == Sql.TableNames.toSet)
  }

  test("Sql.run of a statement naming no graft_* relation builds no operator") {
    val fresh = spark.newSession()
    val stmt = "SELECT count(*) FROM lineitem"
    Sql.registerTables(fresh, SF)
    val register = jobsOf(Sql.registerTables(fresh, SF))
    assert(register == 0, s"a warm registerTables ran $register jobs")
    val statement = jobsOf(fresh.sql(stmt).collect())
    val viaRun = jobsOf(Sql.run(fresh, SF, stmt).collect())
    assert(viaRun == register + statement,
      s"Sql.run ran $viaRun jobs; registerTables $register + statement $statement")
    assert(Pins.pending == 0)
  }

  test("a temp view shadows a registry name; an unknown graft_ name still fails") {
    val fresh = spark.newSession()
    val own = fresh.range(3).toDF("x")
    own.createOrReplaceTempView("graft_hits")
    own.createOrReplaceTempView("plain_hits")
    // same answer and the same jobs as the plain view: q180 never built
    val viaShadow = jobsOf(
      assert(fresh.sql("SELECT sum(x) FROM graft_hits").collect()(0).getLong(0) == 3L))
    val viaPlain = jobsOf(fresh.sql("SELECT sum(x) FROM plain_hits").collect())
    assert(viaShadow == viaPlain)
    assert(Pins.pending == 0)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      fresh.sql("SELECT * FROM graft_nope"))
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND", e.getMessage)
  }

  test("every graft_* registry name resolves to its operator frame") {
    Sql.registerTables(spark, SF)
    assert(Sql.Registry.size == 122)
    Sql.Registry.keys.toSeq.sorted.foreach { name =>
      assert(spark.table(name).schema.nonEmpty, name)
      Pins.release()
    }
  }

  test("EXPLAIN and SHOW surfaces respond through SQL text") {
    Tables.region(spark, SF).createOrReplaceTempView("region_src")
    val explain = spark.sql("EXPLAIN SELECT count(*) FROM region_src")
      .collect()(0).getString(0)
    assert(explain.contains("Physical Plan"))
    assert(spark.sql("SHOW TABLES").collect().nonEmpty)
  }

  test("round-16 views: substring family + overlap triad answer through SQL text") {
    Sql.registerTables(spark, SF)
    Seq("graft_substr_spans", "graft_substr_coverage", "graft_winnow_skew",
      "graft_substr_scrubbed", "graft_audio_overlap", "graft_image_overlap",
      "graft_audio_scrubbed")
      .foreach(v => assert(Sql.Registry.contains(v), v))
    // the scrub length identity holds through the SQL surface too
    assert(spark.sql(
      """SELECT * FROM graft_substr_scrubbed
         WHERE length(text) <> n_chars - cut_chars
            OR cut_chars < 0 OR cut_chars > n_chars""")
      .collect().isEmpty)
    assert(spark.sql(
      """SELECT * FROM graft_audio_scrubbed
         WHERE out_samples <> n_samples - cut_samples
            OR cut_samples < 0 OR cut_samples > n_samples""")
      .collect().isEmpty)
    // coverage fractions are fractions
    assert(spark.sql(
      "SELECT * FROM graft_substr_coverage WHERE dup_frac < 0 OR dup_frac > 1")
      .collect().isEmpty)
    // overlap reports carry positive evidence
    assert(spark.sql(
      "SELECT * FROM graft_audio_overlap WHERE n_matched <= 0 OR run_samples <= 0")
      .collect().isEmpty)
    assert(spark.sql(
      "SELECT * FROM graft_image_overlap WHERE n_anchors <= 0")
      .collect().isEmpty)
    graft.Pins.release()
  }

  test("round-18 views: video family answers through SQL text == the DataFrame API") {
    Sql.registerTables(spark, SF)
    Seq("graft_video_neardup", "graft_video_overlap", "graft_video_scrubbed")
      .foreach(v => assert(Sql.Registry.contains(v), v))
    // the q212 frame-partition identity holds through the SQL surface
    assert(spark.sql(
      """SELECT * FROM graft_video_scrubbed
         WHERE out_frames <> n_frames - cut_frames
            OR cut_frames < 0 OR cut_frames > n_frames""")
      .collect().isEmpty)
    // overlap evidence is positive and the near-dup report is the same
    // frame the Scala API returns (SQL text == DataFrame API)
    assert(spark.sql(
      "SELECT * FROM graft_video_overlap WHERE run_frames <= 0")
      .collect().isEmpty)
    val viaSql = spark.sql(
      "SELECT doc_a, doc_b FROM graft_video_neardup ORDER BY doc_a, doc_b")
      .collect().map(_.toSeq).toSeq
    val viaApi = graft.operators.Multimodal
      .q210VideoNeardup(spark, spark.table("documents"))
      .select("doc_a", "doc_b").orderBy("doc_a", "doc_b")
      .collect().map(_.toSeq).toSeq
    assert(viaSql == viaApi)
    graft.Pins.release()
  }

  test("round-12 views (q177–q182) answer through SQL text with their invariants") {
    Sql.registerTables(spark, SF)
    Seq("graft_semdedup", "graft_gopher_rules", "graft_epoch_schedule",
      "graft_hits", "graft_domain_weights", "graft_rejections")
      .foreach(v => assert(Sql.Registry.contains(v), v))
    // gopher pass IS the conjunction of its five rules
    assert(spark.sql(
      """SELECT * FROM graft_gopher_rules
         WHERE pass <> (r_len AND r_wlen AND r_alpha AND r_stop AND r_sym)""")
      .collect().isEmpty)
    // a SemDeDup drop always bills to an EARLIER keeper id
    assert(spark.sql(
      """SELECT * FROM graft_semdedup
         WHERE (status = 'drop') <> (dup_of IS NOT NULL)
            OR (dup_of IS NOT NULL AND dup_of >= vec_id)""")
      .collect().isEmpty)
    // epoch schedule: served never exceeds target or capacity
    assert(spark.sql(
      """SELECT * FROM graft_epoch_schedule
         WHERE served_tokens > target_tokens
            OR served_tokens > epochs * tokens OR util > 1.0""")
      .collect().isEmpty)
    // HITS scores are non-negative and cover some domains
    assert(spark.sql(
      "SELECT * FROM graft_hits WHERE hub < 0 OR authority < 0")
      .collect().isEmpty)
    assert(spark.sql("SELECT count(*) FROM graft_hits")
      .collect()(0).getLong(0) > 0)
    // reweighting mass ≈ 1 after the precise renormalize
    val mass = spark.sql("SELECT sum(weight_frac) AS m FROM graft_domain_weights")
      .collect()(0).getDouble(0)
    assert(mass > 0.99 && mass <= 1.0 + 1e-9, s"mass $mass")
    // rejection stages and reasons stay consistent
    assert(spark.sql(
      """SELECT * FROM graft_rejections
         WHERE (stage_id = 0) <> (reason = 'kept')
            OR stage_id NOT IN (0, 1, 2, 3)""")
      .collect().isEmpty)
  }

  test("sql05 WITH RECURSIVE: sequences, hierarchy rollup, BFS parity with the iterative operator") {
    import spark.implicits._
    // plain bounded recursion
    val seq5 = spark.sql(
      """WITH RECURSIVE t(n) AS (
           SELECT 1 UNION ALL SELECT n + 1 FROM t WHERE n < 5)
         SELECT sum(n) FROM t""").collect()(0).getLong(0)
    assert(seq5 == 15L)

    // org-chart rollup — the classic warehouse recursion Hive lacks
    Seq((1L, Option.empty[Long]), (2L, Some(1L)), (3L, Some(1L)),
      (4L, Some(2L)), (5L, Some(4L)))
      .toDF("id", "mgr").createOrReplaceTempView("org")
    val depths = spark.sql(
      """WITH RECURSIVE chain(id, depth) AS (
           SELECT id, 0 FROM org WHERE mgr IS NULL
           UNION ALL
           SELECT o.id, c.depth + 1 FROM org o JOIN chain c ON o.mgr = c.id)
         SELECT id, depth FROM chain""").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(depths == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3), depths)

    // BFS hop distances via recursion == the hand-rolled iterative
    // relax-and-min (the q175 algebra) — two different engines for the
    // same fixpoint agreeing, the graph family's cross-check pattern
    Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "e"))
      .toDF("src", "dst").createOrReplaceTempView("edges_sql05")
    val rec = spark.sql(
      """WITH RECURSIVE und AS (
           SELECT src, dst FROM edges_sql05
           UNION SELECT dst, src FROM edges_sql05),
         reach(node, hop) AS (
           SELECT 'a', 0
           UNION ALL
           SELECT u.dst, r.hop + 1
           FROM reach r JOIN und u ON u.src = r.node WHERE r.hop < 4)
         SELECT node, min(hop) AS hop FROM reach GROUP BY node""")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rec == Map("a" -> 0, "b" -> 1, "e" -> 1, "c" -> 2, "d" -> 3), rec)
  }

  test("sql06 UNPIVOT, TABLESAMPLE, LATERAL VIEW, DISTRIBUTE/CLUSTER BY through SQL text") {
    import spark.implicits._
    // UNPIVOT: wide per-source metric columns -> long (metric, value)
    Seq(("src0", 10L, 7L), ("src1", 20L, 3L))
      .toDF("source", "docs", "dups").createOrReplaceTempView("wide_sql06")
    val long = spark.sql(
      """SELECT source, metric, v FROM wide_sql06
         UNPIVOT (v FOR metric IN (docs, dups))""").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(long == Set(("src0", "docs", 10L), ("src0", "dups", 7L),
      ("src1", "docs", 20L), ("src1", "dups", 3L)), long)

    // PIVOT back: the long form re-widens to the original table
    spark.sql(
      """SELECT source, metric, v FROM wide_sql06
         UNPIVOT (v FOR metric IN (docs, dups))""")
      .createOrReplaceTempView("long_sql06")
    val re = spark.sql(
      """SELECT * FROM long_sql06
         PIVOT (sum(v) FOR metric IN ('docs' AS docs, 'dups' AS dups))
         ORDER BY source""").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(re == Seq(("src0", 10L, 7L), ("src1", 20L, 3L)), re)

    // TABLESAMPLE: bucket sampling is exact row arithmetic (not bernoulli)
    spark.range(1000).createOrReplaceTempView("r1000_sql06")
    val half = spark.sql(
      "SELECT count(*) FROM r1000_sql06 TABLESAMPLE (BUCKET 1 OUT OF 2)")
      .collect()(0).getLong(0)
    assert(half > 300L && half < 700L, s"bucket sample way off: $half")
    val pct = spark.sql(
      "SELECT count(*) FROM r1000_sql06 TABLESAMPLE (10 PERCENT)")
      .collect()(0).getLong(0)
    assert(pct > 20L && pct < 300L, s"percent sample way off: $pct")

    // LATERAL VIEW explode — the Hive spelling (vs ANSI LATERAL)
    Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text")
      .createOrReplaceTempView("lv_sql06")
    val lv = spark.sql(
      """SELECT doc_id, tok FROM lv_sql06
         LATERAL VIEW explode(split(text, ' ')) t AS tok""").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(lv == Set((1L, "a"), (1L, "b"), (2L, "c")), lv)

    // DISTRIBUTE BY + SORT BY (Hive physical-layout clauses): rows with
    // one key land in one partition, sorted within it
    val parts = spark.sql(
      """SELECT source, v, spark_partition_id() AS pid
         FROM (SELECT source, metric, v FROM wide_sql06
               UNPIVOT (v FOR metric IN (docs, dups)))
         DISTRIBUTE BY source SORT BY source, v""").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val pidsPerSource = parts.groupBy(_._1).map { case (s, rs) =>
      s -> rs.map(_._3).distinct.size }
    assert(pidsPerSource.values.forall(_ == 1), parts.toSeq)
    // CLUSTER BY is DISTRIBUTE BY + SORT BY in one clause
    val cl = spark.sql(
      """SELECT source, v FROM (SELECT source, metric, v FROM wide_sql06
           UNPIVOT (v FOR metric IN (docs, dups)))
         CLUSTER BY source""").collect()
    assert(cl.length == 4, cl.toSeq)
  }

  test("sql08 CREATE/REFRESH MATERIALIZED VIEW: SQL join view == API twin; FULL recovers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{IncrementalView, SnapshotTable}
    import graft.sources.IncrementalView.Agg
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft-sql08-$tag").toString + "/t"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val a = tmp("a"); val b = tmp("b")
    val mvSql = tmp("mvsql"); val mvApi = tmp("mvapi")
    SnapshotTable.create(spark, a,
      Seq((1L, "x", 10L), (2L, "y", 5L)).toDF("k", "g", "va"))
    SnapshotTable.create(spark, b,
      Seq((1L, 100L), (1L, 200L), (2L, 50L)).toDF("k", "vb"))
    val jAggs = Seq(Agg("count", "", "n"), Agg("sum", "va", "sa"),
      Agg("min", "vb", "mn"), Agg("max", "vb", "mx"))
    def recompute() = SnapshotTable.read(spark, a)
      .join(SnapshotTable.read(spark, b), Seq("k")).groupBy("g")
      .agg(count(lit(1)).cast("long").as("n"), sum(col("va")).as("sa"),
        min(col("vb")).as("mn"), max(col("vb")).as("mx"))

    // CREATE through SQL text — returns the published version
    val created = spark.sql(
      s"""CREATE MATERIALIZED VIEW '$mvSql'
          AS SELECT g, count(*) AS n, sum(va) AS sa,
                    min(vb) AS mn, max(vb) AS mx
          FROM SNAPSHOT '$a' JOIN SNAPSHOT '$b' USING (k)
          GROUP BY g""").collect()
    assert(created.map(_.getLong(0)).toSeq == Seq(1L), created.toSeq)
    // the API twin over the same bases materializes identically
    IncrementalView.createJoin(spark, mvApi, a, b, Seq("k"), Seq("g"), jAggs)
    assert(rows(IncrementalView.read(spark, mvSql)) ==
      rows(IncrementalView.read(spark, mvApi)))

    // appends to BOTH bases; the SQL REFRESH folds the three-term
    // delta exactly like the API refresh
    SnapshotTable.append(spark, a, Seq((3L, "z", 4L)).toDF("k", "g", "va"))
    SnapshotTable.append(spark, b, Seq((3L, 70L), (1L, 300L)).toDF("k", "vb"))
    // EXPLAIN must EXPLAIN, not refresh (RunnableCommand, not a
    // parse-time side effect)
    spark.sql(s"EXPLAIN REFRESH MATERIALIZED VIEW '$mvSql'").collect()
    assert(SnapshotTable.currentVersion(spark, mvSql) == 1L,
      "EXPLAIN executed the refresh")
    spark.sql(s"REFRESH MATERIALIZED VIEW '$mvSql'")
    IncrementalView.refreshJoin(spark, mvApi)
    assert(rows(IncrementalView.read(spark, mvSql)) == rows(recompute()))
    assert(rows(IncrementalView.read(spark, mvSql)) ==
      rows(IncrementalView.read(spark, mvApi)))

    // a mutating base commit blocks the incremental refresh; FULL is
    // the SQL spelling of the rebuild escape hatch
    SnapshotTable.deleteWhere(spark, b, "vb = 50")
    val e = intercept[Exception] {
      spark.sql(s"REFRESH MATERIALIZED VIEW '$mvSql'")
    }
    assert(e.getMessage.contains("fullRefreshJoin"), e.getMessage)
    spark.sql(s"REFRESH MATERIALIZED VIEW '$mvSql' FULL")
    assert(rows(IncrementalView.read(spark, mvSql)) == rows(recompute()))
  }

  test("sql08 single-base and DIM-enriched views answer through SQL text") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.{IncrementalView, SnapshotTable}
    def tmp(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft-sql08s-$tag").toString + "/t"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    // mv02: single base
    val base = tmp("b"); val mv = tmp("mv")
    SnapshotTable.create(spark, base,
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"))
    spark.sql(
      s"""CREATE MATERIALIZED VIEW '$mv'
          AS SELECT k, count(*) AS n, sum(v) AS s
          FROM SNAPSHOT '$base' GROUP BY k""")
    SnapshotTable.append(spark, base, Seq(("a", 10L)).toDF("k", "v"))
    spark.sql(s"REFRESH MATERIALIZED VIEW '$mv'")
    assert(rows(IncrementalView.read(spark, mv)) ==
      rows(SnapshotTable.read(spark, base).groupBy("k")
        .agg(count(lit(1)).cast("long").as("n"), sum(col("v")).as("s"))))

    // mv03: static-dim enrichment via DIM ... ON
    val fact = tmp("f"); val dimDir = tmp("d"); val mvd = tmp("mvd")
    Seq((1L, "emea"), (2L, "apac")).toDF("nk", "region")
      .write.parquet(dimDir)
    SnapshotTable.create(spark, fact,
      Seq((1L, 10L), (2L, 5L)).toDF("nk", "v"))
    spark.sql(
      s"""CREATE MATERIALIZED VIEW '$mvd'
          AS SELECT region, sum(v) AS s
          FROM SNAPSHOT '$fact' DIM '$dimDir' ON nk
          GROUP BY region""")
    SnapshotTable.append(spark, fact, Seq((2L, 7L)).toDF("nk", "v"))
    spark.sql(s"REFRESH MATERIALIZED VIEW '$mvd'")
    assert(rows(IncrementalView.read(spark, mvd)) ==
      Set(Seq("emea", 10L), Seq("apac", 12L)))

    // a malformed select item fails loudly with the contract message
    val bad = intercept[Exception] {
      spark.sql(s"CREATE MATERIALIZED VIEW '${tmp("x")}' " +
        s"AS SELECT k, avg(v) AS a FROM SNAPSHOT '$base' GROUP BY k")
    }
    assert(bad.getMessage.contains("count/sum/min/max"), bad.getMessage)
  }
}
