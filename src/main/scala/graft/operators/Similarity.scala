package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (SURVEY.md §2c).
  *
  * Float discipline: elements are cast float→double (exact), then dot
  * products fold strictly left-to-right (`aggregate`), which DuckDB's
  * `list_reduce` mirrors — so cosine values are bit-identical across
  * engines and thresholds/rankings agree.
  */
object Similarity {

  /** Embedding dimensionality (TESTDATA.md: float[64]). */
  val Dim = 64

  /** Size of the fixed query panel (`vec_id < QueryPanel`) shared by
    * the exact baseline q44 and every recall consumer (q82/q138
    * driver entries, the q193 recall report) — ONE constant so
    * widening the panel can never silently truncate a recall
    * denominator. */
  val QueryPanel = 20

  /** (vec_id, v: array<double>, norm) with a deterministic norm. */
  def normalized(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** Dot product via the native codegen'd Catalyst expression
    * [[graft.functions.DotProduct]] — one tight loop inside whole-stage
    * codegen, left-to-right accumulation matching the oracle's
    * `list_reduce` fold bit-for-bit. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  private def cosinePairs(embeddings: DataFrame, queryPred: Column): DataFrame = {
    val n = normalized(embeddings)
    val q = n.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    // Broadcast the (small) query side; the corpus streams — at 100 TB the
    // corpus never materializes pairwise, each partition scans locally.
    broadcast(q)
      .join(n.select(col("vec_id").as("nid"), col("v").as("nv"), col("norm").as("nn")),
        col("qid") =!= col("nid"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
  }

  /** q44: brute-force cosine top-5 neighbors for the first 20 query
    * vectors — the exact baseline every ANN variant is judged against. */
  def q44(embeddings: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    cosinePairs(embeddings, col("vec_id") < QueryPanel)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("nid"), col("cos"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Distributed candidate re-rank shared by q45/q55: join the
    * (qid, nid) candidate pairs back to the normalized vector table
    * twice — once on qid, once on nid — then score with the codegen'd
    * [[graft.functions.DotProduct]]. Two shuffle joins carrying
    * (id, vec) and a per-key window; NOTHING touches the driver, so the
    * re-rank scales with the cluster exactly like the bucketing stage.
    * DotProduct folds left-to-right like the primitive kernel, so the
    * scores are bit-identical to a local re-rank. */
  private[graft] def rerankTopK(candidates: DataFrame, qtab: DataFrame, ntab: DataFrame,
      k: Int): DataFrame = {
    val q = qtab.select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val n = ntab.select(col("vec_id").as("nid"), col("v").as("nv"), col("norm").as("nn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    candidates
      .join(q, "qid")
      .join(n, "nid")
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  val Tables      = 8  // L hash tables (OR-amplification → recall)
  val PlanesPerTable = 8  // k planes per table (AND-amplification → precision)

  /** Deterministic random hyperplanes, planes(table)(j) ∈ R^64. */
  private lazy val planes: Array[Array[Array[Double]]] = {
    val rng = new scala.util.Random(20260812L)
    Array.fill(Tables, PlanesPerTable)(Array.fill(Dim)(rng.nextGaussian()))
  }

  /** Typed (id, normalized double vector, norm) rows — the primitive-array
    * form the numeric kernels (q45/q46) consume. */
  def vecRows(embeddings: DataFrame): org.apache.spark.sql.Dataset[(Long, Array[Double], Double)] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) =>
        val v = new Array[Double](e.length)
        var i = 0; var ss = 0.0
        while (i < e.length) { v(i) = e(i).toDouble; ss += v(i) * v(i); i += 1 }
        (id, v, math.sqrt(ss))
      }
  }

  /** q45: multi-table LSH ANN — the 100 TB scale path. Each vector lands
    * in one bucket per table (L=8 tables × 2^8 buckets); neighbor
    * candidates come from an equi-join on (table, bucket), so two vectors
    * meet iff they agree on all 8 plane signs in at least one table —
    * P(meet) = 1-(1-(1-θ/π)^k)^L ≈ 0.93 for cos=0.8, ≈ 0.03 for cos=0.
    * The bucket join carries ONLY (vec_id, table, bucket) — no vectors —
    * so the shuffle is ∝ L·n ids plus candidate pairs, never n² and never
    * array payloads. Signatures run as a primitive loop (a 4096-term
    * unrolled expression tree overflows codegen'd method limits and falls
    * back to interpretation — measured 12× slower than this kernel at
    * sf0.1); the re-rank is two distributed shuffle joins
    * ([[rerankTopK]]) — no driver collect anywhere.
    *
    * MULTI-PROBE (Lv et al., VLDB'07): the query side also probes every
    * bucket at Hamming distance 1 (each of the k plane signs flipped) —
    * the planes a near-neighbor most likely disagrees on. One extra
    * probe step lifts P(meet) for cos≈0.35 neighbors from ~0.15 to ~0.6
    * at the cost of k extra (id, t, bucket) probe rows per table — probe
    * rows are 24-byte ids, NOT vectors, so the shuffle stays tiny and no
    * extra table (each one costs a full signature pass) is needed. */
  def q45(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // ONE materialized scan of the source feeds the signature kernel AND
    // both sides of the re-rank joins (vecRows' norm is the same
    // left-to-right fold as DotProduct(v,v), so sharing it is bit-exact)
    val vecs = vecRows(embeddings)
      .transform(graft.Pins.pin)
    val sigs = sigRows(vecs)
      .transform(graft.Pins.pin)
    val vtab = vecs.toDF("vec_id", "v", "norm")
    val candidates = lshCandidates(lshProbes(sigs), lshPostings(sigs))
      .filter(col("qid") =!= col("nid"))
    rerankTopK(candidates, vtab, vtab, 5)
  }

  /** LSH bucket signatures: one Long bucket id per hash table, computed
    * by a primitive per-partition loop (see [[q45]] on why not a
    * Catalyst expression tree). Shared by [[q45]], [[search]], the
    * q193 lsh lane and [[AnnIndex]] (fit, append, searchLsh). */
  private[graft] def sigRows(vecs: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)])
      : org.apache.spark.sql.Dataset[(Long, Array[Long])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.map { case (id, v, _) =>
      val buckets = new Array[Long](Tables)
      var t = 0
      while (t < Tables) {
        var bucket = 0L
        var j = 0
        while (j < PlanesPerTable) {
          val p = planes(t)(j)
          var d = 0.0; var i = 0
          while (i < v.length) { d += v(i) * p(i); i += 1 }
          if (d >= 0) bucket |= 1L << j
          j += 1
        }
        buckets(t) = bucket
        t += 1
      }
      (id, buckets)
    }
  }

  /** Index-side LSH posting rows (nid, t, bucket) — one per table per
    * vector. This is the frame [[AnnIndex]] persists as the bucketed
    * postings table. */
  private[graft] def lshPostings(
      indexSigs: org.apache.spark.sql.Dataset[(Long, Array[Long])]): DataFrame = {
    val spark = indexSigs.sparkSession
    import spark.implicits._
    indexSigs.flatMap { case (id, buckets) =>
      buckets.iterator.zipWithIndex.map { case (b, t) => (id, t, b) }
    }.toDF("nid", "t", "bucket")
  }

  /** Query-side LSH probe rows: the home bucket plus every bucket at
    * Hamming distance 1 (multi-probe, see [[q45]]). */
  private[graft] def lshProbes(
      querySigs: org.apache.spark.sql.Dataset[(Long, Array[Long])]): DataFrame = {
    val spark = querySigs.sparkSession
    import spark.implicits._
    querySigs.flatMap { case (id, buckets) =>
      buckets.iterator.zipWithIndex.flatMap { case (b, t) =>
        Iterator.single((id, t, b)) ++
          (0 until PlanesPerTable).iterator.map(j => (id, t, b ^ (1L << j)))
      }
    }.toDF("qid", "t", "bucket")
  }

  /** (qid, nid) candidate pairs from a (t, bucket) equi-join of query
    * probes ([[lshProbes]]) against index postings — freshly derived
    * ([[lshPostings]]) or the fitted postings table. The one LSH
    * candidate stage of [[q45]], [[search]], the q193 lsh lane and
    * [[AnnIndex.searchLsh]]. Only 24-byte id rows shuffle — never
    * vectors. */
  private[graft] def lshCandidates(probes: DataFrame, postings: DataFrame): DataFrame =
    probes
      .join(postings, Seq("t", "bucket"))
      .select(col("qid"), col("nid"))
      .distinct()  // same pair can collide in several tables/probes

  /** External-query ANN: top-k corpus neighbors for EACH query vector —
    * the "top-k for THIS new batch of vectors" entry a training/serving
    * pipeline calls, as opposed to the corpus×itself operators q45/q55.
    * Same 100 TB shape end to end: the corpus is indexed once by LSH
    * bucket signature, the (typically much smaller) query batch is
    * multi-probed against it, candidates shuffle as bare id pairs, and
    * the exact-cosine re-rank is two distributed joins ([[rerankTopK]]).
    * Both inputs are (vec_id, embedding) frames; query and corpus ids
    * are independent namespaces (a query matching its own id in the
    * corpus is a legitimate hit, so no self-filter here). */
  def search(queries: DataFrame, corpus: DataFrame, k: Int = 5): DataFrame = {
    val qv = vecRows(queries)
      .transform(graft.Pins.pin)
    val cv = vecRows(corpus)
      .transform(graft.Pins.pin)
    val candidates = lshCandidates(lshProbes(sigRows(qv)), lshPostings(sigRows(cv)))
    rerankTopK(candidates, qv.toDF("vec_id", "v", "norm"),
      cv.toDF("vec_id", "v", "norm"), k)
  }

  /** Exact brute-force twin of [[search]]: every query scores every
    * corpus vector. The query batch broadcasts (a query batch is small
    * by construction); the corpus streams partition-local, so nothing
    * pairwise ever shuffles. The recall baseline [[search]] is specced
    * against, and the right tool outright when |queries|·|corpus| is
    * small enough to brute-force. */
  def searchExact(queries: DataFrame, corpus: DataFrame, k: Int = 5): DataFrame = {
    val q = normalized(queries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val n = normalized(corpus)
      .select(col("vec_id").as("nid"), col("v").as("nv"), col("norm").as("nn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    n.join(broadcast(q))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"), col("rk"))
      .orderBy(col("qid"), col("rk"))
  }

  /** q161: HYBRID SEARCH via Reciprocal Rank Fusion (Cormack et al.
    * SIGIR'09 — the fusion every lexical+vector retrieval stack runs):
    * fuse the BM25 ranking ([[TextAnalysis.q116]], s14's scoring tail)
    * with the exact-cosine ranking ([[searchExact]]) of the query's
    * anchor embedding, score = Σ_lists 1/(C + rank), C = 60. Docs
    * found by only one list contribute that list's term alone — the
    * standard RRF treatment of unranked docs.
    *
    * Exactness (§6): both input rankings are already hash-exact
    * (integer ranks, ties broken on doc_id), and the fusion is two
    * double divides + one add in a FIXED order (text term + vector
    * term) over integer ranks → hash-exact; final ties break on
    * doc_id.
    *
    * Plan shape at scale: each list is a per-query top-`depth`
    * (bounded by construction), so the fuse joins two ≤ depth-row
    * frames per query — metadata-sized regardless of corpus size; the
    * corpus-sized work lives inside the two upstream operators, each
    * already probed at 10×. The rank window runs on ≤ 2·depth rows
    * per query. */
  def q161(documents: DataFrame, embeddings: DataFrame,
           queries: DataFrame, depth: Int = 50, k: Int = 10,
           rrfC: Double = 60.0): DataFrame = {
    val text = TextAnalysis.q116(documents, queries, depth)
      .select(col("query_id"), col("doc_id"), col("rank").as("r_text"))
    val qids = queries.select(col("query_id"))
    val qvecs = embeddings
      .join(broadcast(qids), col("vec_id") === col("query_id"))
      .select(col("vec_id"), col("embedding"))
    val vec = searchExact(qvecs, embeddings, depth)
      .select(col("qid").as("query_id"), col("nid").as("doc_id"),
        col("rk").cast("long").as("r_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    text.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        when(col("r_text").isNotNull,
          lit(1.0) / (lit(rrfC) + col("r_text").cast("double")))
          .otherwise(lit(0.0)) +
        when(col("r_vec").isNotNull,
          lit(1.0) / (lit(rrfC) + col("r_vec").cast("double")))
          .otherwise(lit(0.0)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("r_text"), col("r_vec"), col("rrf"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q164: MMR DIVERSIFIED top-k (Carbonell & Goldstein SIGIR'98 —
    * Maximal Marginal Relevance): re-rank a retrieval pool so the
    * selected set trades relevance against redundancy,
    * argmax λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s) — the standard fix
    * for "the top-10 are ten near-copies of the same passage", which
    * is exactly what an ANN over a deduplicated-but-still-clustered
    * corpus returns.
    *
    * Plan shape: the DISTRIBUTED part is the pool retrieval
    * ([[searchExact]] here; any s11 serving path slots in — same
    * (qid, nid, cos) shape). The greedy selection is inherently
    * sequential in k, so it runs on the driver over the collected
    * pool — queries × pool × D doubles, METADATA-sized by
    * construction (the pcaFit contract: pool ≤ 1000 enforced), never
    * corpus-sized. rows-only (sequential double recurrences are not
    * portable SQL); the spec pins redundancy-avoidance on planted
    * clusters. */
  def q164(queries: DataFrame, corpus: DataFrame, pool: Int = 50,
           k: Int = 10, lambda: Double = 0.7): DataFrame = {
    require(pool <= 1000, s"q164 pool=$pool: the greedy stage collects " +
      "queries*pool vectors to the driver; keep the pool metadata-sized")
    val spark = queries.sparkSession
    import spark.implicits._
    val cand = searchExact(queries, corpus, pool)
    val vecs = normalized(corpus)
      .select(col("vec_id").as("nid"), col("v"), col("norm"))
    val rows = cand.join(vecs, "nid")
      .select(col("qid"), col("nid"), col("cos"), col("v"), col("norm"))
      .collect()
    val sel = rows.groupBy(_.getAs[Long]("qid")).toSeq.flatMap {
      case (qid, rs) =>
        val cs = rs.map { r =>
          val v = r.getAs[scala.collection.Seq[Double]]("v").toArray
          val n = r.getAs[Double]("norm")
          val u = if (n > 0) v.map(_ / n) else v
          (r.getAs[Long]("nid"), r.getAs[Double]("cos"), u)
        }.sortBy(c => (-c._2, c._1))
        val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
        val remaining = scala.collection.mutable.ArrayBuffer(cs: _*)
        while (chosen.size < math.min(k, cs.size)) {
          val scored = remaining.map { case (nid, rel, u) =>
            val maxSim =
              if (chosen.isEmpty) 0.0
              else chosen.map { case (cid, _, _) =>
                val cu = cs.find(_._1 == cid).get._3
                var d = 0.0; var i = 0
                while (i < u.length) { d += u(i) * cu(i); i += 1 }
                d
              }.max
            (nid, rel, lambda * rel - (1.0 - lambda) * maxSim)
          }
          val best = scored.minBy { case (nid, _, s) => (-s, nid) }
          chosen += best
          remaining.remove(remaining.indexWhere(_._1 == best._1))
        }
        chosen.zipWithIndex.map { case ((nid, rel, s), i) =>
          (qid, (i + 1).toLong, nid, rel, s)
        }
    }
    sel.toDF("query_id", "sel_rank", "doc_id", "relevance", "mmr_score")
      .orderBy(col("query_id"), col("sel_rank"))
  }

  /** q169: SEMANTIC DECONTAMINATION — flag corpus vectors whose max
    * cosine against ANY benchmark vector exceeds `tau`: the
    * embedding-space twin of the n-gram decontamination family
    * (q69/q107/q143), catching paraphrased benchmark leakage that no
    * token overlap can see (the DataComp / "semantic dedup against
    * eval sets" pass). Benchmark = an external vector set, small by
    * definition — BROADCAST; each corpus partition scans locally, so
    * corpus size never reaches an exchange (the q44 plan class with a
    * max instead of a top-k).
    *
    * Exactness (§6): cosines are the strict-fold [[dot]]; the per-row
    * MAX over benchmark vectors is order-free (IEEE max is
    * commutative/associative over distinct finite values and ties are
    * bit-identical anyway); argmax benchmark id breaks ties on lower
    * id → hash-exact. */
  def q169(corpus: DataFrame, benchmark: DataFrame,
           tau: Double = 0.95): DataFrame = {
    val c = normalized(corpus)
      .select(col("vec_id"), col("v").as("cv"), col("norm").as("cn"))
    val b = normalized(benchmark)
      .select(col("vec_id").as("bid"), col("v").as("bv"),
        col("norm").as("bn"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("bid"))
    c.join(broadcast(b))
      .withColumn("cos", dot(col("cv"), col("bv")) / (col("cn") * col("bn")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("bid").as("nearest_bench"),
        col("cos").as("max_cos"),
        when(col("cos") > tau, "contaminated").otherwise("clean")
          .as("status"))
      .orderBy(col("vec_id"))
  }

  /** Broadcast ceiling for the exact all-pairs operator [[q46]]. Sized
    * in BYTES, not just rows: each collected row is a (Long,
    * Array[Double](64), Double) tuple ≈ 600 B on-heap (512 B of doubles
    * + array/tuple headers), so 64k rows ≈ 40 MB driver heap plus one
    * serialized broadcast copy — ordinary broadcast-hash-join-side
    * territory. The ceiling was 250k when the alternative above it was
    * REFUSAL; with the block-pair kernel proven bit-identical (r14
    * parity spec), exceeding it now just switches kernels, so the
    * broadcast arm keeps only the range where the driver materialization
    * is comfortably cheap. */
  val EmbedDedupMaxRows = 65536L

  val IvfLists  = 16 // coarse centroids (√n-ish at test scale)
  val IvfProbes = 5  // lists a query probes (5/16 ≈ recall 0.75+ on the
                     // synthetic embeddings; compute stays ∝ n·probes/lists)

  /** q55: IVF ANN — the other 100 TB scale path (SURVEY.md §5). A
    * k-means coarse quantizer (kmeans|| init, distributed fit) assigns
    * every vector to its nearest centroid list; a query probes only the
    * `IvfProbes` nearest lists, so compute is ∝ n·probes/lists instead
    * of n². Unlike LSH (data-independent planes), IVF adapts to the data
    * distribution — better recall on clustered embeddings at the cost of
    * the one-time training pass. Candidates re-rank distributed
    * ([[rerankTopK]], exact cosine, no driver collect); top-5 per query. */
  def q55(embeddings: DataFrame): DataFrame = {
    // shared materialized scan: list assignment (×2) + re-rank joins (×2)
    val vecs = vecRows(embeddings)
      .transform(graft.Pins.pin)
    val centroids = ivfFit(embeddings)
    val candidates = ivfCandidates(ivfAssign(vecs, centroids, IvfProbes),
        ivfAssign(vecs, centroids, 1))
      .filter(col("qid") =!= col("nid"))
    val vtab = vecs.toDF("vec_id", "v", "norm")
    rerankTopK(candidates, vtab, vtab, 5)
  }

  /** (qid, nid) candidate pairs from the `list` equi-join of query
    * probes (the [[IvfProbes]] nearest lists per query) against index
    * lists (each vector's nearest list), both (vec_id, list) frames —
    * the index side freshly assigned or the fitted lists table. The
    * one IVF candidate stage of [[q55]], [[ivfPqSearch]], the q193 ivf
    * lanes, [[AnnIndex.searchIvf]] and [[AnnIndex.searchIvfPq]]. */
  private[graft] def ivfCandidates(probes: DataFrame, lists: DataFrame): DataFrame =
    probes.select(col("vec_id").as("qid"), col("list"))
      .join(lists.select(col("vec_id").as("nid"), col("list")), Seq("list"))
      .select(col("qid"), col("nid")).distinct()

  /** IVF coarse quantizer fit: kmeans|| (distributed), fixed seed. The
    * returned centroid arrays are the index artifact [[AnnIndex]]
    * persists. */
  private[graft] def ivfFit(embeddings: DataFrame): Array[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      array_to_vector(transform(col("embedding"), x => x.cast("double"))).as("features"))
    new KMeans().setK(IvfLists).setMaxIter(5).setSeed(20260812L)
      .fit(feat).clusterCenters.map(_.toArray)
  }

  /** Nearest-`probes` IVF list assignment per vector — primitive loop
    * against the broadcast centroid array (see [[q55]]); (vec_id, list)
    * rows out. probes=1 builds the index side, probes=[[IvfProbes]] the
    * query side. */
  private[graft] def ivfAssign(
      vecs: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)],
      centroids: Array[Array[Double]], probes: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val bcC = spark.sparkContext.broadcast(centroids)
    vecs.flatMap { case (id, v, _) =>
      val c = bcC.value
      val d2 = Array.tabulate(c.length) { ci =>
        var s = 0.0; var i = 0
        while (i < v.length) { val t = v(i) - c(ci)(i); s += t * t; i += 1 }
        (s, ci)
      }
      d2.sortBy(_._1).take(probes).map { case (_, ci) => (id, ci) }
    }.toDF("vec_id", "list")
  }

  /** q74: int8 scalar quantization of the embedding column — the 4×
    * storage/bandwidth compression a 100 TB vector corpus applies before
    * ANN serving. Per-vector symmetric scheme: scale = max|x|/127,
    * q_i = round(x_i/scale) ∈ [-127, 127]; reports the per-vector scale,
    * quantized codes, and reconstruction RMSE. Pure codegen'd array
    * expressions (transform/aggregate), one scan, no shuffle — the
    * rows-only gate covers execution, QuantizeSpec pins the numerics. */
  def q74(embeddings: DataFrame): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val amax = array_max(transform(v, x => abs(x)))
    val scale = when(amax > 0.0, amax / 127.0).otherwise(lit(1.0))
    val q = transform(v, x => round(x / col("scale")).cast("int"))
    val err2 = aggregate(
      zip_with(col("qv"), v, (qi, xi) => {
        val d = qi.cast("double") * col("scale") - xi; d * d
      }),
      lit(0.0), (acc, e) => acc + e)
    embeddings
      .withColumn("scale", scale)
      .withColumn("qv", q)
      .withColumn("rmse", sqrt(err2 / size(col("qv"))))
      .select(col("vec_id"), col("scale"), col("qv"), col("rmse"))
      .orderBy(col("vec_id"))
  }

  /** Driver-facing projection of [[q74]]: the raw int8 code array is
    * replaced by scalar summaries (sum/min/max/len of the codes) — the
    * driver's check harness sorts every column in pandas, and a numpy
    * array column is unhashable there. Unlike an opaque digest, each
    * summary is reproducible in portable SQL, so this view stays on the
    * hash-exact oracle gate. Real consumers call [[q74]] for the codes. */
  def q74Driver(embeddings: DataFrame): DataFrame =
    q74(embeddings)
      .select(
        col("vec_id"), col("scale"),
        aggregate(col("qv"), lit(0L), (a, x) => a + x.cast("long")).as("qv_sum"),
        array_min(col("qv")).as("qv_min"),
        array_max(col("qv")).as("qv_max"),
        size(col("qv")).as("qv_n"),
        col("rmse"))
      .orderBy(col("vec_id"))

  /** Rows per block for [[q46]]'s distributed exact kernel: each task
    * compares one block pair (~2·BlockRows·64 doubles of state, ~67M
    * multiplies) — sized so a task is seconds of compute over ~1 MB of
    * payload at any corpus size. */
  val EmbedDedupBlockRows = 1024

  /** q46: embedding-cosine near-duplicate pairs (cos > 0.4, a<b).
    *
    * Exact all-pairs is O(n²) by definition; the scale questions are
    * the per-pair cost and WHERE the n² runs. One bounded collect of at
    * most `maxRows` + 1 vectors picks the kernel (and is the broadcast
    * table when it comes back short). Two kernels, identical bit-exact
    * output:
    *
    *  - n ≤ `maxRows`: broadcast the normalized vector table (n×64
    *    doubles — the same memory class as a broadcast-hash-join side)
    *    and run a primitive-array loop per partition. Cheapest shuffle
    *    shape (none) while the table is broadcastable.
    *  - n > `maxRows`: BLOCK-PARTITIONED distributed kernel — vectors
    *    hash into ⌈n/[[EmbedDedupBlockRows]]⌉ blocks, every block PAIR
    *    (ba ≤ bb) becomes one task comparing two bounded arrays with
    *    the same primitive loop. No unbounded driver collect, no
    *    single-node broadcast (one `count()` sizes the blocks): shuffle
    *    is n·B/2 vector payloads and parallelism grows as B², so the
    *    operator keeps running (it degrades in COMPUTE, which is
    *    inherent to exact pair semantics) instead of refusing. A
    *    Catalyst `aggregate`-lambda dot product would interpret a
    *    64-step fold per pair (~45 s at sf0.1); both kernels run the
    *    tight while-loop instead.
    *
    * Both kernels fold dot products left-to-right (and IEEE
    * multiplication is commutative bit-for-bit, so pair orientation
    * doesn't matter) — identical to the oracle's `list_reduce` fold.
    * When recall may be traded for cost, the bucketed operators (q45
    * hyperplane LSH, q42 MinHash-LSH) remain the cheaper path. */
  def q46(embeddings: DataFrame, maxRows: Long = EmbedDedupMaxRows,
          blockRows: Int = EmbedDedupBlockRows): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // persist BEFORE the sizing collect so it and the kernel below read
    // one materialized scan of the source instead of two
    val vecs = vecRows(embeddings)
      .transform(graft.Pins.pin)
    // one bounded action sizes the input: at most cap + 1 rows reach the
    // driver, and when fewer came back they ARE the broadcast table
    // (cap stays below Int.MaxValue, the largest Dataset.limit)
    val cap = math.min(maxRows, Int.MaxValue - 1L).toInt
    val head = vecs.limit(cap + 1).collect()
    val pairs =
      if (head.length <= cap) {
        val bc = spark.sparkContext.broadcast(head.sortBy(_._1))
        vecs.mapPartitions { it =>
          val all = bc.value
          it.flatMap { case (ida, va, na) =>
            all.iterator.filter(_._1 > ida).flatMap { case (idb, vb, nb) =>
              var d = 0.0; var i = 0
              while (i < va.length) { d += va(i) * vb(i); i += 1 }
              val cos = d / (na * nb)
              if (cos > 0.4) Some((ida, idb, cos)) else None
            }
          }
        }
      } else {
        val nRows = vecs.count()
        val b = math.max(1L, (nRows + blockRows - 1) / blockRows).toInt
        val blocks = vecs
          .groupByKey { case (id, _, _) =>
            ((java.lang.Long.hashCode(id) % b) + b) % b }
          .mapGroups((blk: Int, it: Iterator[(Long, Array[Double], Double)]) =>
            (blk, it.toArray))
          .toDF("blk", "rows")
        val combos = (for { a <- 0 until b; c <- a until b } yield (a, c))
          .toDF("ba", "bb")
        combos
          .join(blocks.select(col("blk").as("ba"), col("rows").as("ra")), "ba")
          .join(blocks.select(col("blk").as("bb"), col("rows").as("rb")), "bb")
          .select(col("ba"), col("bb"), col("ra"), col("rb"))
          .as[(Int, Int, Array[(Long, Array[Double], Double)],
               Array[(Long, Array[Double], Double)])]
          .flatMap { case (ba, bb, ra, rb) =>
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Double)]
            var i = 0
            while (i < ra.length) {
              val (ia, va, na) = ra(i)
              var j = 0
              while (j < rb.length) {
                val (ib, vb, nb) = rb(j)
                // same-block combos see both orientations: emit once
                if (ba != bb || ib > ia) {
                  var d = 0.0; var k = 0
                  while (k < va.length) { d += va(k) * vb(k); k += 1 }
                  val cos = d / (na * nb)
                  if (cos > 0.4)
                    out += ((math.min(ia, ib), math.max(ia, ib), cos))
                }
                j += 1
              }
              i += 1
            }
            out
          }
      }
    pairs.toDF("id_a", "id_b", "cos")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** q96: embedding-space dedup CLUSTERS — q64 for vectors: the q46
    * near-dup pairs collapsed to connected components by the same
    * min-label propagation ([[graft.operators.Dedup.clusters]]); one
    * row per clustered vector with its canonical (min) vec_id.
    * Completes the clusters triad: text (q64), media (q94), embeddings
    * (q96). At corpus scale swap q46's guarded exact kernel for the
    * LSH pair generator (q45/q83) — clusters() is agnostic to where
    * the pairs came from. */
  def q96(embeddings: DataFrame): DataFrame =
    graft.operators.Dedup.clusters(
      q46(embeddings).select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      .select(col("doc_id").as("vec_id"), col("label"))
      .orderBy(col("vec_id"))

  /** q92: per-label embedding centroids — the class-profile statistics
    * an embedding-space audit computes (cluster drift, label balance,
    * mean-vector dashboards). Reports each label's vector count and the
    * centroid components of the first `dims` dimensions.
    *
    * Float discipline (§6): ONE form, both scale-safe and oracle-exact
    * (the q122 fixed-point idiom). Each component floor-scales to an
    * exact 1e-8-granular long BEFORE aggregation, so the per-label sum
    * is order-independent integer arithmetic: map-side combine works,
    * group state is constant, and DuckDB computes bit-identical values
    * (floor of one IEEE multiply, then an integer SUM). One double
    * divide at the end. Headroom: |x|·1e8 ≲ 1e9 per term leaves room
    * for ~1e9 vectors per label before int64 overflow — beyond that,
    * lower the scale a decade per 10× (the granularity is a parameter
    * of the audit, not an accuracy loss: error ≤ n·1e-8/n = 1e-8 per
    * mean). Replaces the former sort_array + strict-fold audit variant,
    * whose per-label state grew with the group. */
  def q92(embeddings: DataFrame, dims: Int = 4): DataFrame = {
    val xs = (0 until dims).map(i =>
      col("embedding")(i).cast("double").as(s"x$i"))
    val base = embeddings.select(
      (Seq(col("label"), col("vec_id")) ++ xs): _*)
    base
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (0 until dims).map(i =>
          sum(floor(col(s"x$i") * lit(1.0e8)).cast("long")).as(s"sx$i")): _*)
      .select((Seq(col("label"), col("n_vecs")) ++
        (0 until dims).map(i =>
          ((col(s"sx$i").cast("double") / lit(1.0e8)) /
            col("n_vecs").cast("double")).as(s"mean_$i"))): _*)
      .orderBy(col("label"))
  }

  /** q108: INT8-QUANTIZED ANN — the serving-path composition q74's
    * quantization exists for: candidate generation runs entirely over
    * int8 codes (8× less memory/bandwidth than float64 vectors), the
    * final top-k re-ranks the surviving `nCandidates` per query in
    * exact float. Because symmetric quantization divides every
    * component by one per-vector scale, the scales CANCEL in the
    * cosine — the integer code dot product over int norms IS the
    * approximate cosine, no dequantization anywhere in the scoring
    * loop. Scoring uses [[graft.functions.DotProductInt]] (native
    * codegen'd long accumulation — exact integers, reproducible under
    * any accumulation order, no float rounding until the one divide).
    *
    * Plan shape at scale: the query batch broadcasts; the corpus
    * streams through the candidate scorer partition-local (the same
    * shape as [[searchExact]] but moving 64-byte code arrays instead
    * of 512-byte doubles); the per-query candidate window is
    * WindowGroupLimit-capped; the float re-rank is two distributed
    * joins over only candidate ids ([[rerankTopK]]). Verified by a
    * recall spec against the exact baseline q44. */
  /** Per-vector int8 codes + integer norm — the corpus side of
    * [[searchInt8]], the table [[AnnIndex]] persists, and the query
    * side of [[int8Candidates]]. */
  private[graft] def int8Codes(embeddings: DataFrame): DataFrame = {
    val v = transform(col("embedding"), x => x.cast("double"))
    val amax = array_max(transform(v, x => abs(x)))
    val scale = when(amax > 0.0, amax / 127.0).otherwise(lit(1.0))
    embeddings
      .withColumn("scale", scale)
      .withColumn("qv", transform(v, x => round(x / col("scale")).cast("int")))
      .withColumn("inorm",
        sqrt(graft.functions.DotProductInt(col("qv"), col("qv")).cast("double")))
      .select(col("vec_id"), col("qv"), col("inorm"))
  }

  /** External-query form of the int8 serving path (the [[search]]/
    * [[searchExact]] API shape): top-k corpus neighbors for each query
    * vector, candidate scoring entirely over integer codes. Both inputs
    * are (vec_id, embedding) frames; each side quantizes independently
    * (quantization is per-vector, so a query's codes don't depend on
    * which corpus it is searched against). `excludeSelf` opts into
    * leave-one-out when the query ids live in the corpus id namespace
    * (the q108 driver shape); external batches leave it false — a query
    * matching its own id is a legitimate hit there ([[search]]'s
    * convention). */
  def searchInt8(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                 nCandidates: Int = 50, excludeSelf: Boolean = false): DataFrame =
    rerankTopK(int8Candidates(queries, int8Codes(corpus), nCandidates, excludeSelf),
      normalized(queries).select(col("vec_id"), col("v"), col("norm")),
      normalized(corpus).select(col("vec_id"), col("v"), col("norm")), k)

  /** Integer candidate stage shared by the live [[searchInt8]] and the
    * persisted-index serving path ([[AnnIndex.searchInt8]]): the query
    * batch quantizes fresh and broadcasts, every code row scores with
    * the integer dot product over integer norms, per-query
    * top-`nCandidates` window. `codes` is any (vec_id, qv, inorm) frame
    * — freshly quantized ([[int8Codes]]) or read from the index table;
    * returns (qid, nid) candidate pairs. */
  private[graft] def int8Candidates(queries: DataFrame, codes: DataFrame,
                                    nCandidates: Int,
                                    excludeSelf: Boolean): DataFrame = {
    val q = int8Codes(queries)
      .select(col("vec_id").as("qid"), col("qv").as("qqv"), col("inorm").as("qn"))
    val c = codes
      .select(col("vec_id").as("nid"), col("qv").as("nqv"), col("inorm").as("nn"))
    val joinCond = if (excludeSelf) col("qid") =!= col("nid") else lit(true)
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("approx_cos").desc, col("nid"))
    broadcast(q).join(c, joinCond)
      .withColumn("approx_cos",
        graft.functions.DotProductInt(col("qqv"), col("nqv")).cast("double") /
          (col("qn") * col("nn")))
      .withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= nCandidates)
      .select(col("qid"), col("nid"))
  }

  /** Driver entry: [[searchInt8]] with the first 20 corpus vectors as
    * the query batch, leave-one-out (the self-contained demo shape —
    * the operator API takes any external query frame). */
  def q108(embeddings: DataFrame, k: Int = 5, nCandidates: Int = 50): DataFrame =
    searchInt8(embeddings.filter(col("vec_id") < QueryPanel), embeddings,
      k, nCandidates, excludeSelf = true)

  /** q103: kNN LABEL PROPAGATION — classify each query vector by the
    * majority label of its k nearest corpus neighbors (exact cosine,
    * leave-one-out): the embedding-space label-transfer / weak-labeling
    * pass a curation pipeline runs to tag unlabeled data or audit label
    * quality (prediction vs recorded label disagreement = a label-noise
    * candidate). Ties break on the larger vote count, then the smaller
    * label id — deterministic in both engines because cosine scores are
    * bit-identical (§6 DotProduct fold discipline).
    *
    * Plan shape at scale: the query batch broadcasts (queries are few
    * by construction — here the first 50 ids); the corpus STREAMS
    * partition-local through the scoring join, the per-query top-k
    * window is WindowGroupLimit-capped at k rows per query, and the
    * vote/argmax aggregates touch only k·|queries| rows. Nothing
    * pairwise ever shuffles. At a 100 TB corpus swap the candidate
    * stage for [[search]] (LSH) — the vote/argmax tail is unchanged. */
  /** External-query form of the kNN label pass ([[search]]'s API
    * shape): classify each query vector by the majority label of its k
    * nearest corpus neighbors. `queries` is (vec_id, embedding, label)
    * — the label rides along as `true_label` for the noise audit (pass
    * a null/placeholder label column when tagging genuinely unlabeled
    * data); `corpus` is (vec_id, embedding, label) and supplies the
    * votes. `excludeSelf` opts into leave-one-out when query ids live
    * in the corpus namespace (the q103 driver shape); external batches
    * leave it false. */
  def knnLabel(queries: DataFrame, corpus: DataFrame, k: Int = 5,
               excludeSelf: Boolean = false): DataFrame = {
    val q = normalized(queries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
    val c = normalized(corpus)
      .select(col("vec_id").as("nid"), col("v").as("nv"), col("norm").as("nn"))
    val joinCond = if (excludeSelf) col("qid") =!= col("nid") else lit(true)
    val wTop = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    val top = broadcast(q).join(c, joinCond)
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qn") * col("nn")))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= k)
      .select(col("qid"), col("nid"))
    val votes = top
      .join(corpus.select(col("vec_id").as("nid"), col("label").as("nlabel")),
        "nid")
      .groupBy(col("qid"), col("nlabel"))
      .agg(count(lit(1)).as("votes"))
    val wVote = Window.partitionBy(col("qid"))
      .orderBy(col("votes").desc, col("nlabel"))
    votes
      .withColumn("vrk", row_number().over(wVote))
      .filter(col("vrk") === 1)
      .join(queries.select(col("vec_id").as("qid"), col("label").as("true_label")),
        "qid")
      .select(col("qid"), col("true_label"), col("nlabel").as("pred_label"),
        col("votes"))
      .orderBy(col("qid"))
  }

  /** Driver entry: [[knnLabel]] with the first 50 corpus vectors as the
    * query batch, leave-one-out (self-contained demo shape). */
  def q103(embeddings: DataFrame, k: Int = 5): DataFrame =
    knnLabel(embeddings.filter(col("vec_id") < 50), embeddings, k,
      excludeSelf = true)

  /** q97: embedding GRAM MATRIX — the d×d second-moment accumulation a
    * PCA / whitening / SemDeDup-style pipeline computes before any
    * projection: G[i][j] = Σ_v x_i·x_j over every corpus vector, upper
    * triangle only (G is symmetric). The map side expands each vector
    * into its d(d+1)/2 (i, j, x_i·x_j) cells with one nested
    * `transform` + `explode` (no joins, no UDF); hash aggregation
    * partial-aggregates the cells map-side, so the shuffle carries at
    * most partitions × d(d+1)/2 rows no matter how many vectors stream
    * through — the standard distributed Gram accumulation at any
    * corpus size. d comes from the data (`size(embedding)`), not a
    * parameter.
    *
    * Float discipline (§6): ONE form, both scale-safe and oracle-exact
    * (the q122 fixed-point idiom). Each product floor-scales to an
    * exact 1e-6-granular long BEFORE aggregation, so the per-cell sum
    * is order-independent integer arithmetic — partial-aggregated,
    * constant per-cell state, bit-identical in DuckDB (floor of one
    * IEEE multiply, then an integer SUM), one double divide at the
    * end. Headroom: |prod|·1e6 ≲ 1e8 per term leaves ~1e10 vectors
    * before int64 overflow; beyond that, drop `fpScale` a decade per
    * 10× (granularity, not accuracy: error per cell ≤ n/fpScale,
    * vanishing relative to a Σ of n products). Replaces the former
    * sort_array + strict-fold audit variant, whose per-cell state grew
    * with the corpus — this form IS the 100 TB plan. */
  def q97(embeddings: DataFrame, fpScale: Double = 1.0e6): DataFrame = {
    val v = col("embedding")
    val cellArr = flatten(transform(v, (xi, i) =>
      transform(slice(v, i + lit(1), size(v)), (xj, j) =>
        struct(i.cast("long").as("i"), (i + j).cast("long").as("j"),
          (xi.cast("double") * xj.cast("double")).as("prod")))))
    embeddings
      .select(explode(cellArr).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"),
        col("p.prod").as("prod"))
      .groupBy(col("i"), col("j"))
      .agg(sum(floor(col("prod") * lit(fpScale)).cast("long")).as("s"))
      .select(col("i"), col("j"),
        (col("s").cast("double") / lit(fpScale)).as("gram"))
      .orderBy(col("i"), col("j"))
  }

  /** q122: embedding OUTLIER scrub — flag vectors whose squared
    * distance to their own label's centroid z-scores above `zMax`
    * (mis-embedded / garbage docs; the standard pre-training embedding
    * sanity filter).
    *
    * Scale-safe AND oracle-exact with NO per-group collect: every sum
    * the statistics need (per-dim centroid sums ×1e8, d² moments ×1e6)
    * floor-scales each term to an exact LONG first, so the aggregations
    * are order-independent integer arithmetic (q121 idiom) — map-side
    * combine works, group state is constant, and both engines see
    * identical bits. d² is a fixed left-associated double op sequence
    * over the (exact) float→double dims; σ = sqrt(population var) is
    * IEEE-exact; σ² ≤ 0 (degenerate all-equal group) → z NULL,
    * is_outlier false. Two scans of the vectors (centroid fit, then
    * score) with a broadcast labels-sized stats table between — no
    * data-sized shuffle beyond the per-label partial aggregates. */
  def q122(embeddings: DataFrame, dims: Int = 4,
           zMax: Double = 3.0): DataFrame = {
    val b = embeddings.select(
      (Seq(col("vec_id"), col("label")) ++
        (0 until dims).map(i =>
          col("embedding")(i).cast("double").as(s"x$i"))): _*)
    val cent = b.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (0 until dims).map(i =>
          sum(floor(col(s"x$i") * lit(1.0e8)).cast("long")).as(s"sx$i")): _*)
      .select((Seq(col("label"), col("n_vecs")) ++
        (0 until dims).map(i =>
          ((col(s"sx$i").cast("double") / lit(1.0e8)) /
            col("n_vecs").cast("double")).as(s"m$i"))): _*)
    val d2 = (0 until dims).map { i =>
      (col(s"x$i") - col(s"m$i")) * (col(s"x$i") - col(s"m$i"))
    }.reduceLeft(_ + _)
    val scored = b.join(broadcast(cent), "label")
      .withColumn("dist2", d2)
      .select(col("vec_id"), col("label"), col("dist2"))
    val mo = scored.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("dist2") * lit(1.0e6)).cast("long")).as("s1"),
        sum(floor(col("dist2") * col("dist2") * lit(1.0e6)).cast("long"))
          .as("s2"))
      .withColumn("mu",
        (col("s1").cast("double") / lit(1.0e6)) / col("n").cast("double"))
      .withColumn("vr",
        (col("s2").cast("double") / lit(1.0e6)) / col("n").cast("double") -
          col("mu") * col("mu"))
      .select(col("label"), col("mu"), col("vr"))
    scored.join(broadcast(mo), "label")
      .withColumn("z",
        when(col("vr") > 0.0, (col("dist2") - col("mu")) / sqrt(col("vr"))))
      .withColumn("is_outlier",
        when(col("vr") > 0.0, col("z") > lit(zMax)).otherwise(lit(false)))
      .select(col("vec_id"), col("label"), col("dist2"), col("z"),
        col("is_outlier"))
      .orderBy(col("vec_id"))
  }

  /** q134: distributed PCA PROJECTION — reduce the embedding column to
    * its top-k principal components: the standard pre-ANN / pre-cluster
    * dimensionality reduction (shorter codes → cheaper q44/q55/q108
    * distance math, and the denoising step before q92/q96 centroids on
    * noisy embeddings). Classic big-data PCA decomposition: the D×D
    * second-moment matrix aggregates DISTRIBUTED (the q97 Gram cell
    * explode — map-side partial sums, shuffle ≤ partitions·D(D+1)/2
    * cells, corpus size never reaches the exchange), the eigensolve
    * runs on the DRIVER on that D×D matrix (cyclic Jacobi — D=64 ⇒
    * microseconds, constant in corpus size, the same "driver does the
    * metadata-sized math" contract as s11's ≤16-row centroid collect),
    * and the k×D projection broadcasts back for a one-pass primitive-
    * loop map (the vecRows pattern — no interpreted lambda per dim).
    *
    * Determinism: eigenvectors are sign-fixed (largest-|entry| made
    * positive) and ordered by descending eigenvalue, so the same
    * corpus projects identically on any cluster. rows-only (an
    * eigensolve is not portable SQL); the spec proves orthonormality,
    * descending explained variance, full-rank isometry (k = D
    * preserves pairwise distances), and axis recovery on a planted
    * anisotropic set. */
  def q134(embeddings: DataFrame, k: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val (comps, _, mean) = pcaFit(embeddings, k)
    val bc = spark.sparkContext.broadcast((comps, mean))
    embeddings.select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) =>
        val (cs, mu) = bc.value
        val proj = new Array[Double](cs.length)
        var c = 0
        while (c < cs.length) {
          val row = cs(c); var s = 0.0; var i = 0
          while (i < row.length) { s += row(i) * (e(i) - mu(i)); i += 1 }
          proj(c) = s; c += 1
        }
        (id, proj)
      }
      .toDF("vec_id", "proj")
      .orderBy(col("vec_id"))
  }

  /** Driver-facing projection of [[q134]]: the `proj array<double>`
    * column is exploded to scalar `(vec_id, component, value)` rows —
    * the driver's check harness sorts every column in pandas, and a
    * numpy array column is unhashable there (the q74 → [[q74Driver]]
    * lesson). Stays rows-only (a Jacobi eigensolve is not portable
    * SQL); real consumers call [[q134]] for the packed vectors. */
  def q134Driver(embeddings: DataFrame, k: Int = 8): DataFrame =
    q134(embeddings, k)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("component", "value")))
      .orderBy(col("vec_id"), col("component"))

  /** PCA fit: (top-k components as k rows of length D, all D
    * eigenvalues descending, per-dim mean). The distributed part is
    * two aggregations (per-dim sums for the mean, q97-style pair-cell
    * sums for the second moments); both collects are D- and
    * D(D+1)/2-sized — metadata, not data. */
  private[graft] def pcaFit(embeddings: DataFrame,
                            k: Int): (Array[Array[Double]], Array[Double], Array[Double]) = {
    val d = embeddings.select(size(col("embedding"))).head().getInt(0)
    val n = embeddings.count().toDouble
    val v = col("embedding")
    val meanRows = embeddings
      .select(posexplode(v).as(Seq("i", "x")))
      .groupBy(col("i")).agg(sum(col("x").cast("double")).as("s"))
      .collect().map(r => r.getAs[Int]("i") -> r.getAs[Double]("s")).toMap
    val mu = Array.tabulate(d)(i => meanRows(i) / n)
    val cellArr = flatten(transform(v, (xi, i) =>
      transform(slice(v, i + lit(1), size(v)), (xj, j) =>
        struct(i.cast("long").as("i"), (i + j).cast("long").as("j"),
          (xi.cast("double") * xj.cast("double")).as("prod")))))
    val moments = embeddings
      .select(explode(cellArr).as("p"))
      .groupBy(col("p.i").as("i"), col("p.j").as("j"))
      .agg(sum(col("p.prod")).as("s"))
      .collect()
      .map(r => (r.getAs[Long]("i").toInt, r.getAs[Long]("j").toInt) ->
        r.getAs[Double]("s")).toMap
    // population covariance from raw moments: E[xx'] − μμ'
    val cov = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      moments((a, b)) / n - mu(i) * mu(j)
    }
    val (evals, evecs) = jacobiEigen(cov) // eigenvectors = columns
    val order = evals.indices.sortBy(i => -evals(i))
    val comps = order.take(k).map { c =>
      val vec = Array.tabulate(d)(i => evecs(i)(c))
      // sign convention: largest-|entry| positive
      val m = vec.indices.maxBy(i => math.abs(vec(i)))
      if (vec(m) < 0) vec.map(-_) else vec
    }.toArray
    (comps, order.map(evals).toArray, mu)
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix (driver-side,
    * O(D³) per sweep on a D×D input — constant in corpus size).
    * Returns (eigenvalues, eigenvector matrix with eigenvectors as
    * COLUMNS). */
  private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone)
    val vm = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var done = false
    while (sweep < 64 && !done) {
      var off = 0.0
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { off += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      if (off < 1e-20) done = true
      else {
        var p = 0
        while (p < n) {
          var q = p + 1
          while (q < n) {
            val apq = a(p)(q)
            if (math.abs(apq) > 1e-18) {
              val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
              val t =
                if (theta == 0.0) 1.0
                else math.signum(theta) /
                  (math.abs(theta) + math.sqrt(theta * theta + 1.0))
              val c = 1.0 / math.sqrt(t * t + 1.0)
              val s = t * c
              var r = 0
              while (r < n) {
                val arp = a(r)(p); val arq = a(r)(q)
                a(r)(p) = c * arp - s * arq
                a(r)(q) = s * arp + c * arq
                r += 1
              }
              r = 0
              while (r < n) {
                val apr = a(p)(r); val aqr = a(q)(r)
                a(p)(r) = c * apr - s * aqr
                a(q)(r) = s * apr + c * aqr
                r += 1
              }
              r = 0
              while (r < n) {
                val vrp = vm(r)(p); val vrq = vm(r)(q)
                vm(r)(p) = c * vrp - s * vrq
                vm(r)(q) = s * vrp + c * vrq
                r += 1
              }
            }
            q += 1
          }
          p += 1
        }
        sweep += 1
      }
    }
    (Array.tabulate(n)(i => a(i)(i)), vm)
  }

  val PqM = 16 // subspaces (64 dims → 16 sub-vectors of 4)
  val PqK = 16 // centroids per subspace (4-bit codes → an 8-byte packed
               // code per vector; 16 finer subspaces beat 8 coarser ones
               // at equal code budget — measured +0.2 recall@5 here)

  /** q138: PRODUCT-QUANTIZATION ANN (Jégou/Douze/Schmid, TPAMI'11) —
    * the compression end-state of the serving family: q74/q108 buy 8×
    * (float64 → int8 per dim); PQ buys 64× (64 floats → [[PqM]] 4-bit
    * codes) by quantizing each of M sub-vectors to its nearest of K
    * learned centroids, so a 100 TB float corpus serves from ~1.6 TB
    * of codes — the difference between "codes fit in cluster RAM" and
    * "every query pages the lake".
    *
    * Fit ([[pqFit]]): M independent k-means over the sub-vector slices
    * of the L2-NORMALIZED corpus, trained on a BOUNDED deterministic
    * sample (normalizing first makes the asymmetric inner product
    * below EQUAL cosine, the metric every other ANN op here ranks by).
    * The codebook is M·K·(D/M) = D·K doubles — metadata-sized, a
    * literal in the plan.
    *
    * Encode ([[pqEncode]]): one primitive-loop pass, corpus → (vec_id,
    * M byte-range codes). Search ([[searchPq]]): ASYMMETRIC DISTANCE
    * COMPUTATION — each query precomputes its M×K lookup table
    * lut[m][c] = ⟨q_sub(m), codebook(m)(c)⟩ ONCE (D·K mults, in-plan
    * Catalyst `transform`), then every corpus code scores with M array
    * lookups + adds instead of D mults: approx_cos = Σ_m lut[m][code_m].
    * The tiny query side (ids + luts) BROADCASTS; the code table
    * streams partition-local; the per-query candidate window is
    * WindowGroupLimit-capped; exact float re-rank only touches
    * `nCandidates` ids per query ([[rerankTopK]]). Same plan skeleton
    * as [[searchInt8]] — only the scoring currency changes.
    *
    * rows-only (k-means is not portable SQL); the spec pins recall@5
    * vs exact q44, code range/shape, and encode determinism. */
  def q138(embeddings: DataFrame, k: Int = 5, nCandidates: Int = 50,
           fitted: Option[(Array[Array[Array[Double]]], DataFrame)] = None)
      : DataFrame =
    searchPq(embeddings.filter(col("vec_id") < QueryPanel), embeddings,
      k, nCandidates, excludeSelf = true, fitted = fitted)

  /** Codebook-training sample cap (Faiss practice: k-means codebooks
    * need a few hundred points per centroid — corpus size past that is
    * irrelevant to codebook quality, so a 100 TB corpus trains from the
    * same bounded sample as a 1 GB one). 4096 rows × 64 doubles ≈ 2 MB
    * on the driver — the s11 metadata-collect contract. */
  val PqFitSample = 4096

  /** PQ codebook fit: per-subspace Lloyd k-means over a BOUNDED
    * deterministic sample of the normalized corpus — smallest
    * xxhash64(vec_id) first, so the sample (hence the codebook, hence
    * every code) is identical on any cluster at any corpus size. The
    * sample collect is the plan's only corpus read: one TakeOrdered of
    * [[PqFitSample]] rows (per-partition heaps, no global sort); the M
    * local Lloyd runs are microseconds on k·dsub-sized state. Returns
    * codebooks(m)(c) = centroid array of length D/M. */
  private[graft] def pqFit(corpus: DataFrame, m: Int = PqM,
                           k: Int = PqK): Array[Array[Array[Double]]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sample: Array[Array[Double]] = normalized(corpus)
      .select(col("vec_id"),
        // zero-vector guard (pqEncode discipline): an all-zero row in
        // the deterministic sample must not inject NaN into the k-means
        transform(col("v"),
          x => x / when(col("norm") > 0.0, col("norm")).otherwise(1.0)).as("u"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(PqFitSample)
      .select(col("u")).as[Array[Double]].collect()
    require(sample.nonEmpty, "PQ fit needs a non-empty corpus")
    val d = sample(0).length
    require(d % m == 0, s"PQ needs dim $d divisible by M=$m")
    val dsub = d / m
    Array.tabulate(m) { s =>
      val pts = sample.map(u => java.util.Arrays.copyOfRange(u, s * dsub, (s + 1) * dsub))
      localKMeans(pts, k, seed = 20260812L + s)
    }
  }

  /** Driver-side Lloyd k-means (seeded kmeans++ init, 10 iterations,
    * empty clusters re-seeded deterministically) — runs on the bounded
    * [[PqFitSample]] sample only, O(iters·n·k·dsub) ≈ milliseconds. */
  private def localKMeans(pts: Array[Array[Double]], k: Int,
                          seed: Long): Array[Array[Double]] = {
    val n = pts.length; val d = pts(0).length
    val rng = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    // kmeans++ seeding
    val cents = new Array[Array[Double]](k)
    cents(0) = pts(rng.nextInt(n)).clone()
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      var i = 0; var tot = 0.0
      while (i < n) {
        val dd = d2(pts(i), cents(c - 1))
        if (dd < minD(i)) minD(i) = dd
        tot += minD(i); i += 1
      }
      var pick = rng.nextDouble() * tot; var j = 0
      while (j < n - 1 && pick > minD(j)) { pick -= minD(j); j += 1 }
      cents(c) = pts(j).clone(); c += 1
    }
    // Lloyd iterations
    val assign = new Array[Int](n)
    var iter = 0
    while (iter < 10) {
      var i = 0
      while (i < n) {
        var best = 0; var bd = Double.MaxValue; var cc = 0
        while (cc < k) {
          val dd = d2(pts(i), cents(cc))
          if (dd < bd) { bd = dd; best = cc }
          cc += 1
        }
        assign(i) = best; i += 1
      }
      val sums = Array.fill(k, d)(0.0); val cnt = new Array[Int](k)
      i = 0
      while (i < n) {
        val a = assign(i); cnt(a) += 1
        var j = 0
        while (j < d) { sums(a)(j) += pts(i)(j); j += 1 }
        i += 1
      }
      var cc = 0
      while (cc < k) {
        if (cnt(cc) > 0) {
          var j = 0
          while (j < d) { cents(cc)(j) = sums(cc)(j) / cnt(cc); j += 1 }
        } else cents(cc) = pts(rng.nextInt(n)).clone() // re-seed empties
        cc += 1
      }
      iter += 1
    }
    cents
  }

  /** PQ encode: each NORMALIZED vector → M nearest-sub-centroid codes.
    * Primitive loop against the broadcast codebook (M·K·(D/M) = D·K
    * mults per vector); codes tie-break to the smaller index so the
    * same corpus encodes identically anywhere. */
  private[graft] def pqEncode(corpus: DataFrame,
                              codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codebooks)
    vecRows(corpus).map { case (id, v, norm) =>
      val cb = bc.value
      val m = cb.length; val dsub = cb(0)(0).length
      val inv = if (norm > 0.0) 1.0 / norm else 1.0
      val codes = new Array[Int](m)
      var s = 0
      while (s < m) {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cb(s).length) {
          val cent = cb(s)(c); var d2 = 0.0; var i = 0
          while (i < dsub) {
            val t = v(s * dsub + i) * inv - cent(i); d2 += t * t; i += 1
          }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        codes(s) = best; s += 1
      }
      (id, codes)
    }.toDF("vec_id", "codes")
  }

  /** External-query PQ serving path (the [[searchInt8]] API shape):
    * top-k corpus neighbors per query vector, candidate generation
    * entirely over PQ codes via per-query ADC lookup tables. The fit
    * runs on the CORPUS (queries never influence the codebook — the
    * index-then-serve contract); `excludeSelf` opts into leave-one-out
    * for the q138 driver shape. */
  def searchPq(queries: DataFrame, corpus: DataFrame, k: Int = 5,
               nCandidates: Int = 50, excludeSelf: Boolean = false,
               fitted: Option[(Array[Array[Array[Double]]], DataFrame)] = None)
      : DataFrame = {
    // pqFit/pqEncode are deterministic — a caller that already fitted
    // (q193 runs pq AND ivfpq) shares codebook + codes at zero
    // semantic cost
    val (cb, codes) = fitted.getOrElse {
      val c = pqFit(corpus); (c, pqEncode(corpus, c))
    }
    val cands = pqAdcCands(queries, codes, cb, nCandidates, excludeSelf)
    rerankTopK(cands,
      normalized(queries).select(col("vec_id"), col("v"), col("norm")),
      normalized(corpus).select(col("vec_id"), col("v"), col("norm")), k)
  }

  /** ADC candidate stage shared by the live [[searchPq]] and the
    * persisted-index serving path ([[AnnIndex.searchPq]]): per-query
    * M×K inner-product lookup tables built in-plan (Catalyst
    * `transform` — codegen'd, no UDF), every code row scored with M
    * array lookups, per-query top-`nCandidates` window. `codes` is any
    * (vec_id, codes) frame — freshly encoded or read from the index
    * table; returns (qid, nid) candidate pairs. */
  private[graft] def pqAdcCands(queries: DataFrame, codes: DataFrame,
                                cb: Array[Array[Array[Double]]],
                                nCandidates: Int,
                                excludeSelf: Boolean): DataFrame = {
    val joinCond = if (excludeSelf) col("qid") =!= col("nid") else lit(true)
    val scored = broadcast(pqLuts(queries, cb))
      .join(codes.select(col("vec_id").as("nid"), col("codes")), joinCond)
    pqTopN(scored, cb, nCandidates)
  }

  /** Per-query flat M×K ADC lookup tables (qid, qlut), built in-plan:
    * lut[m·K + c] = ⟨u_sub(m), codebook(m)(c)⟩ over the query's unit
    * vector; the codebook rides as one flat literal. */
  private[graft] def pqLuts(queries: DataFrame,
                            cb: Array[Array[Array[Double]]]): DataFrame = {
    val m = cb.length; val kk = cb(0).length; val dsub = cb(0)(0).length
    val cbFlat = typedLit(cb.flatten.flatten.toSeq)
    val lut = transform(sequence(lit(0), lit(m * kk - 1)), mc =>
      aggregate(
        zip_with(
          slice(col("u"), (mc / lit(kk)).cast("int") * dsub + 1, lit(dsub)),
          slice(cbFlat, mc * dsub + 1, lit(dsub)),
          (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x))
    normalized(queries)
      .withColumn("u", transform(col("v"),
        x => x / when(col("norm") > 0.0, col("norm")).otherwise(1.0)))
      .select(col("vec_id").as("qid"), lut.as("qlut"))
  }

  /** ADC score + per-query top-`nCandidates` over any (qid, qlut,
    * nid, codes) frame — M array lookups + adds per row, then the
    * WindowGroupLimit-capped candidate window. Shared by the full-scan
    * ([[pqAdcCands]]) and IVF-pruned ([[ivfPqCandidates]]) paths. */
  private[graft] def pqTopN(scoredInput: DataFrame,
                            cb: Array[Array[Array[Double]]],
                            nCandidates: Int): DataFrame = {
    val m = cb.length; val kk = cb(0).length
    val adc = aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (c, s) => element_at(col("qlut"), s * kk + c + 1)),
      lit(0.0), (acc, x) => acc + x)
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("approx_cos").desc, col("nid"))
    scoredInput
      .withColumn("approx_cos", adc)
      .withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= nCandidates)
      .select(col("qid"), col("nid"))
  }

  /** q193: ANN RECALL REPORT — recall@5 of the LSH (q45) and IVF
    * (q55) candidate paths against the exact cosine top-5 ground
    * truth (q44), as a driver query: the index-health read a serving
    * deployment runs after every refit (the s11 `recallProbe` made
    * first-class). One row per method: queries evaluated, truth
    * pairs, hits, micro recall@5. Rows-only (the hyperplane/centroid
    * internals are not DuckDB-expressible) with spec'd recall floors.
    *
    * Scale: ground truth restricts to the q44 query set (a fixed
    * probe panel — at 100 TB you recall-check a panel, never the
    * corpus), so the exact side is panel×corpus with the q44 plan and
    * everything downstream is panel-sized. */
  /** q193 recall@5 floors per serving path — ONE definition consumed
    * by the driver gate ([[q193Driver]]), the recall specs, and the
    * oracle's method list (r14 ADVICE: duplicated floors desync
    * silently). Floors pin MEASURED behavior with margin, not
    * aspirations: lsh 0.59 measured → 0.5; ivf ~0.75 → 0.6; int8
    * near-exact (8-bit symmetric quantization + exact re-rank) → 0.9;
    * pq full-scan ADC → 0.8; ivfpq is capped by the IVF probe recall
    * AND the PQ ranking loss → 0.5; hnsw (r17, shard-and-merge graph
    * beam search + exact re-rank) measured 1.0 at sf0.01 and 0.99 at
    * sf0.1 → 0.9, the graph path's production expectation. */
  val RecallFloors: Map[String, Double] = Map(
    "lsh" -> 0.5, "ivf" -> 0.6, "int8" -> 0.9, "pq" -> 0.8,
    "ivfpq" -> 0.5, "hnsw" -> 0.9)

  /** Corpus-level IVF+PQ composition over the q193 panel — the live
    * (index-free) twin of [[AnnIndex.searchIvfPq]], the Faiss shape:
    * IVF routing prunes WHICH vectors are scored (probes/lists of the
    * corpus), PQ ADC prunes WHAT each scoring costs (M lookups over
    * 64×-smaller rows), exact re-rank on the surviving candidates.
    * Leave-one-out like q108/q138 (panel ids live in the corpus). */
  private[graft] def ivfPqSearch(embeddings: DataFrame, k: Int = 5,
                                 nCandidates: Int = 50): DataFrame = {
    val queries = embeddings.filter(col("vec_id") < QueryPanel)
    val vecs = vecRows(embeddings)
      .transform(graft.Pins.pin)
    val centroids = ivfFit(embeddings)
    val qv = vecRows(queries)
    val candIds = ivfCandidates(ivfAssign(qv, centroids, IvfProbes),
        ivfAssign(vecs, centroids, 1))
      .filter(col("qid") =!= col("nid"))
    val cb = pqFit(embeddings)
    rerankTopK(ivfPqCandidates(candIds, pqEncode(embeddings, cb), queries, cb,
        nCandidates),
      qv.toDF("vec_id", "v", "norm"),
      vecs.toDF("vec_id", "v", "norm"), k)
  }

  /** IVF-PQ scoring stage shared by [[ivfPqSearch]], the q193 ivfpq
    * lane and [[AnnIndex.searchIvfPq]]: IVF-routed (qid, nid)
    * candidates join their PQ codes (any (vec_id, codes) frame —
    * freshly encoded or the fitted code table) and the broadcast query
    * lookup tables, then [[pqTopN]] keeps each query's top
    * `nCandidates`. */
  private[graft] def ivfPqCandidates(candIds: DataFrame, codes: DataFrame,
                                     queries: DataFrame,
                                     cb: Array[Array[Array[Double]]],
                                     nCandidates: Int): DataFrame =
    pqTopN(candIds
        .join(codes.select(col("vec_id").as("nid"), col("codes")), "nid")
        .join(broadcast(pqLuts(queries, cb)), "qid"),
      cb, nCandidates)

  /** HNSW candidate generation for the panel — the shard-and-merge
    * deployment shape (see [[HnswGraph]]): each corpus partition
    * builds its own graph over NORMALIZED shard vectors (sorted by
    * vec_id — deterministic levels/links), beam-searches the
    * broadcast query panel shard-locally, and the shard-local top
    * lists union into the global candidate set (exact re-rank
    * downstream, like every other path). Per-shard cost: O(n·log n)
    * inserts + panel·efSearch walks; nothing corpus-sized shuffles —
    * only (qid, nid) candidate rows come out. Leave-one-out like
    * q108/q138 (panel ids live in the corpus). Built with the
    * [[searchHnsw]] defaults (M = 8, efConstruction = 64, efSearch =
    * 48, 10 candidates per shard, partition-local shards). */
  private[graft] def hnswCandidates(embeddings: DataFrame): DataFrame = {
    val vecs = vecRows(embeddings)
    hnswShardSearch(hnswGraphs(vecs, m = 8, efConstruction = 64, nShards = None),
      hnswPanel(vecs.filter(_._1 < QueryPanel)), efSearch = 48, kPerShard = 10,
      leaveOneOut = true)
  }

  /** The query panel every HNSW search broadcasts to its shards:
    * (id, unit vector) sorted by id. Collected driver-side, so it is
    * BATCH-sized by contract — the guard fails loudly instead of
    * letting a caller feed a corpus through and OOM the driver (the
    * limit runs BEFORE the collect, so the guard itself is
    * memory-safe). The one panel collect of [[hnswCandidates]],
    * [[searchHnsw]] and [[AnnIndex.hnswServe]]. */
  private[graft] def hnswPanel(vecs: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)])
      : Array[(Long, Array[Double])] = {
    val max = AnnIndex.MaxQueryPanel
    val panel = vecs.limit(max + 1).collect().sortBy(_._1)
      .map { case (id, v, n) => (id, v.map(_ / n)) }
    require(panel.length <= max,
      s"hnsw query batch exceeds MaxQueryPanel=$max rows: " +
      "the panel is collected and broadcast per shard — split the " +
      "query set into batches (or use the batch operators for " +
      "corpus-vs-corpus work)")
    panel
  }

  /** Shard the corpus and build one [[HnswGraph]] per shard. With
    * `nShards = None` the graphs are PARTITION-LOCAL (no shuffle — the
    * one-shot audit shape). With `Some(n)` the shard of a vector is
    * the EXPLICIT deterministic key pmod(hash(vec_id), n) — the layout
    * [[AnnIndex.fitHnsw]] persists, so a live build at the same n is
    * graph-identical to a loaded artifact (the s29 parity contract).
    * Insertion sorted by vec_id either way; levels are hash-of-id, so
    * only the link sets depend on the shard recipe. */
  private[graft] def hnswGraphs(vecs: org.apache.spark.sql.Dataset[(Long, Array[Double], Double)],
                                m: Int, efConstruction: Int,
                                nShards: Option[Int])
      : org.apache.spark.sql.Dataset[(Int, Array[Byte])] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    def build(it: Iterator[(Long, Array[Double])]): Option[Array[Byte]] = {
      val shard = it.toArray.sortBy(_._1)
      if (shard.isEmpty) None
      else {
        val g = new HnswGraph(m, efConstruction)
        shard.foreach { case (id, v) => g.add(id, v) }
        Some(g.toBytes)
      }
    }
    nShards match {
      case Some(n) =>
        vecs.groupByKey { case (id, _, _) => HnswGraph.shardOf(id, n) }
          .mapGroups { (shard, it) =>
            (shard, build(it.map { case (id, v, nn) => (id, v.map(_ / nn)) }).get)
          }
      case None =>
        vecs.mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          build(it.map { case (id, v, n) => (id, v.map(_ / n)) })
            .map(b => (pid, b)).iterator
        }
    }
  }

  /** Beam-search a broadcast query panel against every shard graph and
    * union the shard-local candidate lists — the serving half of the
    * shard-and-merge deployment, shared by the live path and the s29
    * loaded-artifact path (one kernel, so loaded == live is a layout
    * statement, not a code-duplication hope). Only (qid, nid) rows
    * come out. `leaveOneOut` admits one extra per-shard candidate and
    * drops the query's own id (panel-internal audits); external query
    * batches keep their own id namespace and skip it. */
  private[graft] def hnswShardSearch(graphs: org.apache.spark.sql.Dataset[(Int, Array[Byte])],
                                     panel: Array[(Long, Array[Double])],
                                     efSearch: Int, kPerShard: Int,
                                     leaveOneOut: Boolean): DataFrame = {
    val spark = graphs.sparkSession
    import spark.implicits._
    val bPanel = spark.sparkContext.broadcast(panel)
    graphs.flatMap { case (_, payload) =>
      val g = HnswGraph.fromBytes(payload)
      val extra = if (leaveOneOut) 1 else 0
      bPanel.value.iterator.flatMap { case (qid, qv) =>
        g.search(qv, kPerShard + extra, efSearch).collect {
          case (nid, _) if !leaveOneOut || nid != qid => (qid, nid)
        }
      }
    }.toDF("qid", "nid")
  }

  /** HNSW top-k for an EXTERNAL query batch against a corpus — the
    * live (index-free) sixth serving path beside [[search]] (LSH),
    * [[searchInt8]], [[searchPq]]: shard-local graph builds, broadcast
    * batch beam search, exact re-rank of the unioned candidates.
    * `nShards = Some(n)` pins the deterministic shard layout (see
    * [[hnswGraphs]]); the default partition-local build is the cheap
    * one-shot shape. A serving deployment uses [[AnnIndex.searchHnsw]]
    * instead — same kernels over the fit-once artifact. */
  def searchHnsw(queries: DataFrame, corpus: DataFrame, k: Int = 5,
                 m: Int = 8, efConstruction: Int = 64, efSearch: Int = 48,
                 kPerShard: Int = 10, nShards: Option[Int] = None): DataFrame = {
    val qv = vecRows(queries)
    val cv = vecRows(corpus)
    val cands = hnswShardSearch(hnswGraphs(cv, m, efConstruction, nShards),
      hnswPanel(qv), efSearch, kPerShard, leaveOneOut = false)
    rerankTopK(cands, qv.toDF("vec_id", "v", "norm"),
      cv.toDF("vec_id", "v", "norm"), k)
  }

  /** The six serving lanes of [[q193]] in its report order, built over
    * the SHARED quantizer fits and pinned frames exactly as q193
    * composes them — extracted (r20) so the per-lane measurement tool
    * ([[graft.Q193Probe]]) times EXACTLY the production lanes instead
    * of a drifting replica. Construction runs the fits eagerly
    * (ivfFit/pqFit collect); the returned frames are lazy. */
  private[graft] def q193Lanes(embeddings: DataFrame,
                               hnswIndex: Option[String] = None)
      : Seq[(String, DataFrame)] = {
    // one quantizer fit each, shared across the paths that use them
    // (deterministic fits, so sharing is semantics-free)
    val centroids = ivfFit(embeddings)
    val cb = pqFit(embeddings)
    val codes = pqEncode(embeddings, cb).transform(graft.Pins.pin)
    // PANEL-RESTRICTED twins of q45/q55: candidate generation runs only
    // for the 20 probe queries (the INDEX side stays the full corpus).
    // Bit-identical to filtering the all-pairs operators after the
    // fact — a query's candidates and its per-qid re-rank window
    // depend on nothing outside that query — while skipping the
    // corpus-sized query-side work recallOf would discard (q45 full
    // spends its time on the 40k-query top-5 window nobody reads).
    val vecs = vecRows(embeddings).transform(graft.Pins.pin)
    val vtab = vecs.toDF("vec_id", "v", "norm")
    val lshPanel = {
      val sigs = sigRows(vecs).transform(graft.Pins.pin)
      val qsigs = sigs.filter(s => s._1 < QueryPanel)
      rerankTopK(lshCandidates(lshProbes(qsigs), lshPostings(sigs))
        .filter(col("qid") =!= col("nid")), vtab, vtab, 5)
    }
    // ONE ivf routing (index assignment + panel probes + candidate
    // ids) serves BOTH the ivf path (exact re-rank of the candidates)
    // and the ivfpq path (PQ-ADC top-nCandidates of the SAME
    // candidates, then exact re-rank) — the two paths differ only in
    // scoring currency, exactly as in a Faiss deployment where one
    // coarse quantizer fronts both
    val ivfCands = ivfCandidates(
        ivfAssign(vecs.filter(_._1 < QueryPanel), centroids, IvfProbes),
        ivfAssign(vecs, centroids, 1))
      .filter(col("qid") =!= col("nid"))
      .transform(graft.Pins.pin)
    val ivfPanel = rerankTopK(ivfCands, vtab, vtab, 5)
    val ivfPqPanel = rerankTopK(ivfPqCandidates(ivfCands, codes,
        embeddings.filter(col("vec_id") < QueryPanel), cb, 50), vtab, vtab, 5)
    // s29: with an index name the hnsw lane serves from the PERSISTED
    // shard graphs (decode + beam search — no per-batch rebuild); the
    // recall floor then gates the artifact itself at the driver, not
    // just the live twin. Leave-one-out either way (panel ⊂ corpus).
    val hnswPanel = hnswIndex match {
      case Some(nm) => rerankTopK(AnnIndex.hnswServe(
          embeddings.filter(col("vec_id") < QueryPanel), nm,
          leaveOneOut = true), vtab, vtab, 5)
      case None => rerankTopK(hnswCandidates(embeddings), vtab, vtab, 5)
    }
    Seq("lsh" -> lshPanel, "ivf" -> ivfPanel, "int8" -> q108(embeddings),
      "pq" -> q138(embeddings, fitted = Some((cb, codes))),
      "ivfpq" -> ivfPqPanel, "hnsw" -> hnswPanel)
  }

  def q193(embeddings: DataFrame,
           hnswIndex: Option[String] = None): DataFrame = {
    val exact = graft.Pins.pin(q44(embeddings).select(col("qid"), col("nid")))
    def recallOf(approx: DataFrame, method: String): DataFrame = {
      val hits = exact.join(
          approx.filter(col("qid") < QueryPanel).select(col("qid"), col("nid")),
          Seq("qid", "nid"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("hit"))
      exact.groupBy(col("qid")).agg(count(lit(1)).as("tot"))
        .join(hits, Seq("qid"), "left_outer")
        .na.fill(0L, Seq("hit"))
        .agg(count(lit(1)).cast("long").as("n_queries"),
          sum(col("tot")).cast("long").as("n_truth"),
          sum(col("hit")).cast("long").as("n_hits"))
        .select(lit(method).as("method"), col("n_queries"), col("n_truth"),
          col("n_hits"),
          (col("n_hits").cast("double") / col("n_truth").cast("double"))
            .as("recall_at_5"))
    }
    q193Lanes(embeddings, hnswIndex)
      .map { case (m, lane) => recallOf(lane, m) }
      .reduce(_.unionByName(_))
      .orderBy(col("method"))
  }

  /** Driver-facing RECONCILIATION of [[q193]] — the q147 projection
    * trick on the recall report: the panel size and truth-pair count
    * are deterministic (the oracle computes them from the exact q44
    * plan), and the [[RecallFloors]] per-method floors become
    * predicted-TRUE verdicts over ALL SIX serving paths (lsh, ivf,
    * int8, pq, ivfpq, hnsw — r15: a quantized-path refit regression
    * now fails the driver gate, not just a spec; r18: the hnsw lane
    * gates the PERSISTED s29 artifact when `hnswIndex` is set). The
    * full numeric report stays [[q193]]. */
  def q193Driver(embeddings: DataFrame,
                 hnswIndex: Option[String] = None): DataFrame = {
    val floorExpr = RecallFloors.foldLeft(lit(Double.MaxValue)) {
      case (acc, (m, f)) => when(col("method") === m, lit(f)).otherwise(acc)
    }
    q193(embeddings, hnswIndex)
      .select(col("method"), col("n_queries"), col("n_truth"),
        (col("recall_at_5") >= floorExpr).as("floor_ok"))
      .orderBy(col("method"))
  }
}
