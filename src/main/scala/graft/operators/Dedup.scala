package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §2c).
  *
  * Scale design: none of the near-dup paths does an O(n²) cross join.
  * Candidate pairs come from equi-joins on blocking keys (shared shingle,
  * LSH band signature, SimHash band) so shuffle volume is proportional
  * to candidate pairs, not to n². Exact Jaccard verification runs only
  * over candidates.
  */
object Dedup {

  /** Distinct word-3-gram shingles per doc: (doc_id, g). */
  def shingles(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("w")) - 2, lit(1)), i =>
          concat_ws(" ",
            element_at(col("w"), i),
            element_at(col("w"), i + 1),
            element_at(col("w"), i + 2))))).as("g"))

  /** q95: SOURCE-overlap matrix — exact pairwise shingle Jaccard
    * between corpus sources: the dataset-curation diagnostic that
    * decides which source pairs need cross-source dedup before
    * training (two crawls of the same sites show up as a high-overlap
    * cell long before doc-level dedup runs).
    *
    * Scale shape: per-source DISTINCT shingle sets are one hash
    * shuffle; intersections come from a shingle equi-join with
    * source_a < source_b, so per-shingle expansion is bounded by
    * C(n_sources, 2) — sources are few (10s–100s) even at 100 TB,
    * so shuffle stays ∝ distinct shingles, never docs². Size-side
    * joins broadcast (one row per source). Float discipline (§6):
    * exact long counts, one double divide, same expression both
    * engines. */
  def q95(documents: DataFrame): DataFrame = {
    val sg = documents
      .select(col("source"), split(lower(trim(col("text"))), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("source"), explode(array_distinct(
        transform(sequence(lit(1), size(col("w")) - 2, lit(1)), i =>
          concat_ws(" ",
            element_at(col("w"), i),
            element_at(col("w"), i + 1),
            element_at(col("w"), i + 2))))).as("g"))
      // one hash shuffle on g serves BOTH the distinct (clustering on g
      // colocates every (source, g)) and the self-join on g below —
      // neither re-exchanges the cached frame
      .repartition(col("g"))
      .distinct()
      .transform(graft.Pins.pin)
    val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sg.as("a")
      .join(sg.as("b"),
        col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("common"))
    inter
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("na"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("nb"))), "source_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .select(col("source_a"), col("source_b"), col("common"),
        col("na"), col("nb"), col("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q40: exact dedup — group identical normalized text, keep min id.
    * One hash shuffle on the text key; at 100 TB group by xxhash64(text)
    * first (cheap fixed-width shuffle key) and resolve collisions within
    * groups — here the text column itself is the key for oracle parity. */
  def q40(documents: DataFrame): DataFrame =
    documents
      .groupBy(lower(trim(col("text"))).as("t"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .select(col("keep_id"), col("dup_count"))
      .orderBy(col("keep_id"))

  /** Exact Jaccard (common/union over FULL shingle sets) for given
    * candidate (doc_a, doc_b) pairs. Shingle sets are first semi-joined
    * down to candidate docs so the verification shuffle is ∝ the
    * candidates' shingles, not the corpus. */
  private[graft] def verifyJaccard(g: DataFrame, candidates: DataFrame): DataFrame = {
    val ga = g.join(candidates.select(col("doc_a")).distinct(),
        g("doc_id") === col("doc_a"), "left_semi")
      .select(col("doc_id").as("doc_a"), col("g"))
    val gb = g.join(candidates.select(col("doc_b")).distinct(),
        g("doc_id") === col("doc_b"), "left_semi")
      .select(col("doc_id").as("doc_b"), col("g"))
    val sizes = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    candidates
      .join(ga, "doc_a")
      .join(gb, Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
  }

  val JaccardThreshold = 0.8

  /** q41: n-gram Jaccard near-dup pairs (J > 0.8), exact, via PREFIX
    * FILTERING (the MapReduce set-similarity join of Vernica et al.,
    * SIGMOD'10; prefix principle from Bayardo et al., WWW'07): order
    * shingles globally by frequency (rarest first); a doc with n
    * shingles exposes only its first n − ⌈t·n⌉ + 1 to the blocking
    * equi-join — any pair with J ≥ t provably shares a prefix shingle.
    * The join therefore touches ~(1−t) of the shingle stream, and on its
    * RAREST tokens, collapsing candidate fan-out; full-set verification
    * keeps the result exactly equal to the naive all-pairs join. */
  def q41(documents: DataFrame): DataFrame =
    jaccardPairs(documents, JaccardThreshold)

  /** PPJoin prefix rows (doc_id, g, n, pos) at threshold `t` — the
    * blocking keys the q41-family candidate join actually joins on:
    * each doc's `n − ⌈t·n⌉ + 1` rarest shingles (df ascending, g as the
    * deterministic tie-break). Document frequency comes from a window
    * over the shingle partition (one shuffle on g) instead of
    * aggregate + join-back (two). Shared by [[jaccardRepPairs]] and the
    * q123 skew report, so the report measures EXACTLY the keys the
    * join will block on. */
  private[graft] def prefixRows(g: DataFrame, t: Double): DataFrame = {
    val wG = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
    g.withColumn("df", count(lit(1)).over(wG))
      .withColumn("pos", row_number().over(wDoc))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .filter(col("pos") <= col("n") - ceil(lit(t) * col("n")) + 1)
      .select(col("doc_id"), col("g"), col("n"), col("pos"))
  }

  /** Rep-level core of the q41 machinery (threshold-parametric): the
    * prefix/PPJoin candidate join + exact-Jaccard verify, run on ONE
    * representative per distinct normalized text ([[exactReps]]) —
    * round 8: the same exact-dup collapse the LSH family got, because
    * an identical-doc clique defeats the prefix filter identically
    * (clique members share every shingle, so every member pair is a
    * candidate and C(N,2) verifications run). Returns (repPairs with
    * full stats at threshold t, members map, rep shingle frame). */
  private[graft] def jaccardRepPairs(documents: DataFrame, t: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val (reps, members) = exactReps(documents)
    val g = shingles(reps)
      .transform(graft.Pins.pin)
    // pinned: the self-join below references the 3-window prefix plan
    // TWICE, and without the pin each side re-runs both window
    // exchanges (measured 2× the window cost at sf0.1). The frame is
    // ~(1−t) of the shingle stream — the same order as `g`, which is
    // already pinned
    val prefix = prefixRows(g, t)
      .transform(graft.Pins.pin)
    val candidates = ppCandidates(prefix, prefix, t)
      // pinned: verifyJaccard references the candidate pairs THREE
      // times (two semi-join prunes + the verification join); without
      // the pin each reference replays the whole blocking self-join —
      // measured 3× the candidate cost at sf0.1. Candidate pairs are
      // two longs per row, orders of magnitude below the shingle
      // stream at any corpus size
      .transform(graft.Pins.pin)
    val repPairs = verifyJaccard(g, candidates)
      .filter(col("jaccard") > t)
      .select(col("doc_a"), col("doc_b"), col("common"), col("na"), col("nb"),
        col("jaccard"))
    (repPairs, members, g)
  }

  /** PPJoin candidate pairs (doc_a < doc_b) between two prefix frames
    * (doc_id, g, n, pos) ordered under one shared gram order. Two
    * lossless filters evaluate INSIDE the equi-join (PPJoin, Xiao et
    * al., WWW'08), so pruned pairs never shuffle:
    *  - LENGTH: J ≥ t forces |A| ≥ t·|B| and |B| ≥ t·|A|
    *  - POSITIONAL: a token match at prefix positions (pa, pb) bounds
    *    the achievable overlap by 1 + min(n_a − pa, n_b − pb), which
    *    must reach the J ≥ t requirement ⌈t/(1+t)·(n_a+n_b)⌉; tokens
    *    deep in both prefixes can't anymore, killing the candidate
    *    explosion on corpora where even prefix shingles are common. */
  private[graft] def ppCandidates(pa: DataFrame, pb: DataFrame, t: Double)
      : DataFrame =
    pa.as("a").join(pb.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
        col("a.n") >= lit(t) * col("b.n") &&
        col("b.n") >= lit(t) * col("a.n") &&
        lit(1) + least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")) >=
          ceil(lit(t / (1 + t)) * (col("a.n") + col("b.n"))))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** The q41 machinery at an arbitrary threshold `t` — the prefix and
    * PPJoin filters are threshold-parametric, so lower-similarity
    * candidate generation (e.g. q84's edit-distance verify at t=0.5)
    * reuses the same lossless plan, just with a longer prefix.
    * Output is identical to the uncollapsed all-pairs semantics:
    * cross-clique pairs inherit their rep pair's exact stats
    * (identical shingle sets per clique), with na/nb following the
    * least/greatest id normalization; within-clique pairs are
    * common = na = nb = n, J = 1.0 exactly — for shingled cliques
    * only, as the uncollapsed join never saw gram-less docs. */
  def jaccardPairs(documents: DataFrame, t: Double): DataFrame = {
    val (repPairs, members, g) = jaccardRepPairs(documents, t)
    val sizes = g.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    expandPairs(repPairs, members, Seq("common", "na", "nb", "jaccard"),
        mirrored = Map("na" -> col("nb"), "nb" -> col("na")))
      .unionAll(withinCliquePairs(members, Some(sizes),
        Seq(col("n").as("common"), col("n").as("na"), col("n").as("nb"),
          lit(1.0).as("jaccard"))))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Sparse near-dup EDGE set whose connected components (and min
    * labels, and vertex set) equal those of the full [[jaccardPairs]]
    * pair list: verified rep pairs + one (member, rep) STAR edge per
    * non-rep member of a shingled clique — N edges per clique instead
    * of C(N,2). The cluster consumers (q64/q65/q105) propagate over
    * these, so an adversarial duplication clique costs linear edges in
    * the label-propagation joins too, not just in candidate
    * generation. Min labels agree because every member's clique rep
    * is in its component and rep = clique minimum. */
  private[graft] def neardupEdges(documents: DataFrame,
                                  t: Double = JaccardThreshold): DataFrame = {
    val (repPairs, members, g) = jaccardRepPairs(documents, t)
    val shingled = g.select(col("doc_id").as("rep")).distinct()
    val star = members.join(shingled, "rep")
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("doc_a"), col("rep").as("doc_b"))
    repPairs.select(col("doc_a"), col("doc_b")).unionAll(star)
  }

  /** q84: EDIT-DISTANCE near-dup pairs — shingle-Jaccard blocking at a
    * permissive threshold (0.5, same lossless prefix/PPJoin plan as
    * q41), then exact Levenshtein verification on the candidates only:
    * edit_sim = 1 − dist/max(|a|,|b|) ≥ 0.8. Jaccard-of-shingles and
    * edit distance disagree exactly where dedup cares (reorderings look
    * similar by grams but far by edits; a run of single-char tweaks
    * looks far by grams but near by edits within the blocked set), so
    * the pipeline offers both verifiers over one candidate machinery.
    * The O(|a|·|b|) DP runs ONLY on candidate pairs — never all pairs —
    * and ships two texts per candidate, so cost scales with candidate
    * count exactly like q41's verify stage. */
  def q84(documents: DataFrame, blockT: Double = 0.5,
          simFloor: Double = 0.8): DataFrame = {
    // the O(|a|·|b|) DP runs at REP level — one Levenshtein per
    // verified clique pair, zero for within-clique pairs (identical
    // texts: dist 0, sim 1.0 by definition). Before the round-8
    // collapse, an identical-doc clique cost C(N,2) full DPs over
    // identical long texts — the most expensive possible no-ops.
    val (repPairs, members, g) = jaccardRepPairs(documents, blockT)
    val ta = documents.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = documents.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    // r20 (guide §3.2 "reduce the big side before shipping it"): two
    // LOSSLESS prunes around the O(|a|·|b|) DP —
    //  - LENGTH-DIFFERENCE: dist ≥ ||a|−|b||, so a candidate whose char
    //    lengths differ beyond the similarity budget k can never reach
    //    edit_sim ≥ simFloor; filtered on an 8-byte (doc_id, len)
    //    frame BEFORE the pair ships two full texts into the verify
    //    join (the blocking at t=0.5 admits token-count ratios down to
    //    0.5, while simFloor=0.8 needs length ratio ≥ ~0.8 — a real
    //    candidate slice dies here without ever touching text);
    //  - BANDED DP WITH EARLY ABANDON: `levenshtein(a, b, k)` (Spark
    //    3.5+) explores only the ±k diagonal band and returns −1 the
    //    moment the distance provably exceeds k — O(k·min(|a|,|b|))
    //    instead of O(|a|·|b|) per surviving pair.
    // k = ⌊(1−simFloor)·maxlen⌋ + 2 over-covers the true cutoff (the
    // +2 absorbs the IEEE rounding of (1−simFloor) and the divide), so
    // every row the ORIGINAL filter would keep has dist ≤ k: its DP
    // returns the exact distance and the unchanged edit_sim filter
    // decides as before; rows pruned or returning −1 provably fail it.
    val lens = documents.select(col("doc_id"), length(col("text")).as("len"))
    val pruned = repPairs.select(col("doc_a"), col("doc_b"))
      .join(lens.select(col("doc_id").as("doc_a"), col("len").as("la")), "doc_a")
      .join(lens.select(col("doc_id").as("doc_b"), col("len").as("lb")), "doc_b")
      .withColumn("k",
        (floor(lit(1.0 - simFloor) * greatest(col("la"), col("lb"))) + lit(2))
          .cast("int"))
      .filter(abs(col("la") - col("lb")) <= col("k"))
      .select(col("doc_a"), col("doc_b"), col("k"))
    val verified = pruned
      .join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("dist",
        call_function("levenshtein", col("text_a"), col("text_b"), col("k"))
          .cast("long"))
      .filter(col("dist") >= 0L)
      .withColumn("edit_sim", lit(1.0) - col("dist").cast("double") /
        greatest(length(col("text_a")), length(col("text_b"))))
      .filter(col("edit_sim") >= simFloor)
      .select(col("doc_a"), col("doc_b"), col("dist"), col("edit_sim"))
    // dist/edit_sim are symmetric, so the least/greatest id swap in
    // the expansion carries them unchanged. Pinned before the sort: the
    // child is the DP pipeline behind broadcast joins only, so the
    // sample pass ran the whole Levenshtein stage twice (r20: two
    // byte-identical ~54 s stages); the pin is pair-sized.
    graft.Pins.pinSorted(
      expandPairs(verified, members, Seq("dist", "edit_sim"))
        .unionAll(withinCliquePairs(members, Some(shingledReps(g)),
          Seq(lit(0L).as("dist"), lit(1.0).as("edit_sim")))),
      col("doc_a"), col("doc_b"))
  }

  /** Connected components over near-dup pairs by iterative min-label
    * propagation WITH the HASH-TO-MIN acceleration (Rastogi et al.
    * '13) — the step that turns a pair list into dedup CLUSTERS (keep
    * the min doc_id per component, drop the rest). Each round a vertex
    * takes the min over FOUR candidates: its label, its neighbors'
    * labels (edge propagation), its label's label (pointer-doubling
    * jump), and the min its members sent back to it (reverse step) —
    * a newly-discovered component minimum reaches the representative
    * the same round and every member one jump later, so convergence is
    * O(log n) rounds instead of O(diameter): the 29k-edge perceptual
    * graph (q94) converges in 7 rounds where plain propagation took
    * 14+. Labels are always vertices of the same component (label₀ =
    * min of self+neighbors) so the jump/reverse joins hit the label
    * frame itself; every per-round exchange is vertex- or edge-sized
    * rows of two longs. `localCheckpoint` cuts the
    * growing lineage so round N doesn't replay rounds 1..N−1 — the
    * standard Spark pattern for iterative graph algorithms. */
  def clusters(pairs: DataFrame): DataFrame = {
    // fault-tolerance seam: see [[Ckpt.cut]] — lazy cuts on the local
    // path (the convergence count is the materializing action, so a
    // round stays ONE job); the reliable path is eager by design and
    // pays one extra cache-read job per round for the durable write
    def cut(df: DataFrame): DataFrame = Ckpt.cut(df, eager = false)
    // r20: pin the INPUT pair frame before symmetrizing — the unionAll
    // references `pairs` twice, so materializing `edges` evaluated the
    // caller's ENTIRE pair-generation kernel twice (q96's O(n²/2)
    // dot-product blocks, q94's Hamming band self-join, q64/q105's
    // verified-Jaccard pipeline — StageProbe r20: two back-to-back
    // ~13 s kernel stages in one q96 run, guide §2.4). One pair-sized
    // cache read replaces the second run at any scale.
    val p0 = graft.Pins.pin(pairs.select(col("doc_a"), col("doc_b")))
    // edges are dead once the loop ends (the labels it returns are
    // checkpointed): scoped to this call
    graft.Pins.scope {
      val edges = graft.Pins.pin(
        p0.select(col("doc_a").as("u"), col("doc_b").as("v"))
          .unionAll(p0.select(col("doc_b").as("u"), col("doc_a").as("v"))))
      // seed = identity label AND the first propagation round in ONE
      // aggregation: every vertex appears as `u` (edges are symmetric), so
      // label₀ = min(u, min(neighbors)) — saves a full join+checkpoint+count
      // round versus starting from label = doc_id
      // LAZY checkpoints throughout the loop: the convergence count is
      // the action that materializes each round's frame, so a round is
      // ONE Spark job (eager checkpoint + count was two) — the loop's
      // cost at test scale is fixed per-round overhead, not data
      var labels = edges.groupBy(col("u").as("doc_id"))
        .agg(least(min(col("v")), min(col("u"))).as("label"))
        .transform(cut)
      var changed = 1L
      var round = 0
      while (changed > 0) {
        round += 1
        val nbrMin = edges
          .join(labels.select(col("doc_id").as("v"), col("label")), "v")
          .groupBy(col("u").as("doc_id"))
          .agg(min(col("label")).as("nbr_label"))
        val plain = labels
          .join(nbrMin, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("label"),
            least(col("label"), coalesce(col("nbr_label"), col("label")))
              .as("fwd_label"))
        // acceleration is ADAPTIVE: clique-ish dedup graphs converge in
        // 2 rounds of plain propagation, where the extra jump/reverse
        // exchanges are pure overhead — only a graph still changing at
        // round 3 (a long-diameter component) pays for them, and then
        // they cut the remaining rounds exponentially
        val joined = (if (round < 3) plain
          .select(col("doc_id"), col("fwd_label").as("new_label"), col("label"))
        else {
          // pointer doubling: l(l(v)) — label is a component vertex, so
          // the jump resolves against the label frame itself
          val ll = labels.select(col("doc_id").as("label"), col("label").as("ll"))
          val fwd = plain
            .join(ll, Seq("label"), "left_outer")
            .select(col("doc_id"), col("label"),
              least(col("fwd_label"), coalesce(col("ll"), col("fwd_label")))
                .as("fwd_label"))
          // hash-to-min reverse step: every vertex SENDS its round
          // minimum to its (old) representative, which takes the min of
          // what its members found — a new component minimum reaches the
          // rep this round and every member via the jump next round
          val repMin = fwd
            .select(col("label").as("doc_id"), col("fwd_label"))
            .groupBy(col("doc_id"))
            .agg(min(col("fwd_label")).as("rep_min"))
          fwd
            .join(repMin, Seq("doc_id"), "left_outer")
            .select(col("doc_id"),
              least(col("fwd_label"), coalesce(col("rep_min"), col("fwd_label")))
                .as("new_label"),
              col("label"))
        })
          .select(col("doc_id"), col("new_label").as("label"),
            (col("new_label") < col("label")).as("improved"))
          .transform(cut)
        changed = joined.filter(col("improved")).count()
        labels = joined.select(col("doc_id"), col("label"))
      }
      labels
    }
  }

  /** q64: dedup clusters from the q41 near-dup pairs — one row per doc
    * in a component, labelled with its cluster's canonical (min) id.
    * Propagates over [[neardupEdges]] (rep pairs + clique star edges):
    * identical output, linear edges per duplication clique. */
  def q64(documents: DataFrame,
          precomputedLabels: Option[DataFrame] = None): DataFrame =
    precomputedLabels
      .getOrElse(clusters(neardupEdges(documents)))
      .orderBy(col("doc_id"))

  /** q69: benchmark-contamination detection — the decontamination pass
    * every training corpus runs against its eval suites: for each corpus
    * doc, the fraction of its distinct word-3-gram shingles that appear
    * anywhere in the benchmark set (here: docs from source 'src0', the
    * stand-in benchmark partition).
    *
    * Scale shape: the benchmark gram set is DISTINCT'd and broadcast —
    * eval suites are tiny next to the corpus (MBs vs 100 TB), so the
    * corpus-side shingle stream joins against it map-side with NO
    * shuffle; the only shuffle is the per-doc count aggregation, which
    * is partial-aggregated. */
  def q69(documents: DataFrame, benchmarkSource: String = "src0"): DataFrame = {
    val bench = documents.filter(col("source") === benchmarkSource)
    val corpus = documents.filter(col("source") =!= benchmarkSource)
    contaminationAgainst(corpus, benchmarkGrams(bench)).orderBy(col("doc_id"))
  }

  /** q147: SKETCHED source-overlap — [[q95]]'s answer at the cost a
    * 100 TB corpus can pay. q95 is EXACT: it shuffles every distinct
    * (source, gram) pair and self-joins on the gram string — right for
    * an audit, but the exchange is the full distinct-gram volume. This
    * reduces each source to its BOTTOM-K signature — the k smallest
    * xxhash64 values of its distinct grams (the KMV sketch of
    * Bar-Yossef et al. '02 / Beyer et al. '07) — after which
    * cross-source comparison touches k·sources longs no matter how big
    * the corpus: per pair, the classic bottom-k estimator
    * Ĵ = |X ∩ A ∩ B| / |X| with X = the k smallest of A ∪ B, unbiased
    * with σ ≈ 1/√k. The per-source bottom-k compiles to the native
    * bounded-heap `TopKPerKeyExec` (ascending-long rank key →
    * TopKRewrite fires), so the exchange after the distinct carries k
    * rows per source, never the gram stream; the pairwise stage is a
    * sources²-row broadcast self-join over k-length arrays. A source
    * with fewer than k grams keeps its whole set and the estimator is
    * exact there. rows-only (the estimate is hash-sampling-dependent);
    * the spec pins |Ĵ − J_exact| per pair against q95 and asserts the
    * native top-k plan. */
  def q147(documents: DataFrame, k: Int = 256): DataFrame = {
    val hg = shingles(documents)
      .join(documents.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), xxhash64(col("g")).as("h"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"))
    // persist the k-row-per-source signatures (tiny: sources × k longs)
    // so the corpus-sized shingle→distinct→bottom-k pipeline above runs
    // ONCE, not once per side of the pairwise self-join below
    val sk = hg
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .groupBy(col("source"))
      .agg(sort_array(collect_list(col("h"))).as("sig"),
        count(lit(1)).as("n_sig"))
      .transform(graft.Pins.pin)
    val pairs = sk.select(col("source").as("source_a"), col("sig").as("sig_a"))
      .join(broadcast(sk.select(col("source").as("source_b"), col("sig").as("sig_b"))),
        col("source_a") < col("source_b"))
    val union = array_sort(array_union(col("sig_a"), col("sig_b")))
    pairs
      .withColumn("x", slice(union, 1, k))
      .withColumn("shared",
        size(array_intersect(array_intersect(col("x"), col("sig_a")),
          col("sig_b"))).cast("long"))
      .withColumn("est_jaccard",
        col("shared").cast("double") / least(lit(k), size(col("x"))).cast("double"))
      .select(col("source_a"), col("source_b"), col("shared"),
        col("est_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Driver-facing RECONCILIATION of [[q147]] against the exact
    * [[q95]] — the q74/q134 projection trick pointed at a sketch:
    * hash-dependent estimates can't hash-match a portable oracle, but
    * the AUDIT CLAIM about them can. Per source pair: q95's exact
    * stats (all portable) plus `within_3sigma` = |Ĵ − J| ≤ 0.19 (3σ
    * at k = 256, the same tolerance the spec pins) — the oracle
    * computes the exact side and predicts TRUE, so a sketch drifting
    * out of tolerance is a HASH mismatch, not a silent estimate
    * degradation. A missing pair on the sketch side nulls the
    * verdict, which also hash-mismatches — loudly. [[q147]] itself is
    * unchanged as the scale form; this composition is the audit run
    * (it pays q95's exact cost by design). */
  def q147Driver(documents: DataFrame, k: Int = 256): DataFrame = {
    val est = q147(documents, k)
      .select(col("source_a"), col("source_b"), col("est_jaccard"))
    q95(documents)
      .join(est, Seq("source_a", "source_b"), "left_outer")
      .select(col("source_a"), col("source_b"), col("common"),
        col("na"), col("nb"), col("jaccard"),
        (abs(col("est_jaccard") - col("jaccard")) <= lit(0.19))
          .as("within_3sigma"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q162: MINIMIZER-sketch near-dup candidates (Roberts et al. 2004
    * — the winnowing/minimizer scheme genomics and MinHash-free text
    * dedup pipelines use): every sliding window of `w` consecutive
    * shingle hashes keeps only its MINIMUM, so consecutive windows
    * mostly agree and the kept set shrinks to ~2/(w+1) of the
    * shingles while any shared substring of ≥ w+2 tokens still forces
    * a shared minimizer — a density-guaranteed sketch, unlike
    * MinHash's probabilistic one (q42). Pairs sharing ≥ `minShared`
    * minimizers are candidates, scored by containment
    * shared/min(|A|,|B|).
    *
    * Exactness (§6): hashes are the portable [[graft.functions
    * .PolyFingerprint]]; the window-min, distinct, and join are
    * integer-exact; containment is one double divide → oracle-exact.
    *
    * Plan shape at scale: the window partitions BY DOC (per-doc rows
    * bounded by doc length — no global sort); the candidate join is
    * an equi-join on minimizer VALUE — the q42 banded-join class, one
    * shuffle on 8-byte keys, never all-pairs. Same hot-key hazard as
    * any banding scheme (a boilerplate phrase's minimizer buckets
    * every doc containing it): collapse exact dups first (q40) and
    * pre-flight with q112/q123 as usual. Tail windows shorter than
    * `w` still emit their suffix-min — deterministic, mirrored in the
    * oracle. */
  def q162(documents: DataFrame, w: Int = 4, minShared: Int = 2): DataFrame = {
    val pos = documents
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("wd"))
      .filter(size(col("wd")) >= 3)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), size(col("wd")) - 2, lit(1)), i =>
          concat_ws(" ",
            element_at(col("wd"), i),
            element_at(col("wd"), i + 1),
            element_at(col("wd"), i + 2)))))
      .toDF("doc_id", "pos", "g")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(0, w - 1L)
    // pinned: the shingle scan + window + distinct feeds BOTH sides of
    // the candidate self-join and the size table (the q147 lesson —
    // without the pin the corpus-sized pipeline plans three times)
    val sig = graft.Pins.pin(pos
      .withColumn("h", graft.functions.PolyFingerprint(col("g")))
      .withColumn("mz", min(col("h")).over(win))
      .select(col("doc_id"), col("mz")).distinct())
    val sizes = sig.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_min"))
    sig.as("a")
      .join(sig.as("b"),
        col("a.mz") === col("b.mz") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).cast("long").as("shared"))
      .filter(col("shared") >= minShared)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_min").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_min").as("n_b")), "doc_b")
      .withColumn("containment",
        col("shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .select(col("doc_a"), col("doc_b"), col("shared"), col("n_a"),
        col("n_b"), col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q163: per-document N-GRAM NOVELTY — the fraction of a doc's
    * distinct 3-gram shingles that appear in NO other document
    * (novelty 1 = fully unique content, 0 = everything also said
    * elsewhere). The inverse lens on q114/q115's repeated-span
    * machinery: where those measure how much of a doc is boilerplate,
    * this measures how much is contribution — the signal a curation
    * mix uses to up-weight docs that add new content rather than
    * re-covering what the corpus already has.
    *
    * Exactness (§6): grams reduce to the portable poly hash and the
    * doc-frequency/novel counts are exact longs in BOTH engines —
    * hash collisions, if any, fold identically on both sides — with
    * one final double divide → oracle-exact. Docs with < 3 tokens
    * have no grams and are absent (the q41 convention).
    *
    * Plan shape at scale: shingle scan → doc-frequency aggregate on
    * the 8-byte hash (map-side combined) → join back on the SAME key
    * (exchange reuse) → per-doc aggregate. Text never enters an
    * exchange; every shuffle key is 8 bytes. */
  def q163(documents: DataFrame): DataFrame = {
    // pinned: the gram scan feeds both the doc-frequency aggregate and
    // the join-back (one materialization, not two corpus scans)
    val sh = graft.Pins.pin(shingles(documents)
      .select(col("doc_id"), graft.functions.PolyFingerprint(col("g")).as("h")))
    val dfq = sh.groupBy(col("h")).agg(count(lit(1)).cast("long").as("df"))
    sh.join(dfq, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).cast("long").as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** q176: DEDUP STORAGE-SAVINGS report — per source, how many docs
    * and bytes exact dedup (q40's normalized-text identity, first
    * occurrence by doc_id kept) would remove, and the savings
    * fraction: the capacity-planning dashboard that turns the dedup
    * family's verdicts into a storage number per source. At 100 TB
    * the identity key is the 16-byte digest (the q40/q109
    * discipline); the oracle-portable registered form groups the
    * normalized text directly — same answer, and the dedup-rank
    * window is the only text-keyed stage. */
  def q176(documents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lower(trim(col("text")))).orderBy(col("doc_id"))
    documents
      .withColumn("rk", row_number().over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_bytes"),
        sum(when(col("rk") > 1, 1L).otherwise(0L)).cast("long")
          .as("dup_docs"),
        sum(when(col("rk") > 1, col("n_chars")).otherwise(0L)).cast("long")
          .as("dup_bytes"))
      .withColumn("savings_pct",
        col("dup_bytes").cast("double") / col("n_bytes").cast("double"))
      .orderBy(col("source"))
  }

  /** q143: per-benchmark-item CONTAINMENT — q69's question asked in
    * the OTHER direction. q69 scores each corpus doc by how much of
    * ITS text is benchmark material; the decontamination policies the
    * big-model reports actually specify (GPT-3 appendix C, PaLM)
    * ask per benchmark ITEM: is ≥τ of THIS item's n-grams present in
    * some single training doc — the "short quiz question quoted inside
    * a long forum dump" mode, which both q69's denominator (the LONG
    * doc's grams) and any Jaccard-style resemblance (union dominated
    * by the long doc) structurally miss. Containment
    * |G_b ∩ G_d| / |G_b| uses the ITEM's gram count as denominator,
    * so a verbatim quote scores 1.0 no matter how large the host doc.
    *
    * Plan shape: the benchmark gram table is small by definition (the
    * q69 broadcast contract); the corpus gram stream joins it on the
    * gram key map-side, the per-(item, doc) counts partial-aggregate,
    * and everything after is hit-pair-sized. Output: every (bench
    * item, corpus doc) pair with containment ≥ `minContainment`,
    * plus the counts to audit the ratio. */
  def q143(documents: DataFrame, benchmarkSource: String = "src0",
           minContainment: Double = 0.5): DataFrame = {
    val bench = shingles(documents.filter(col("source") === benchmarkSource))
      .select(col("doc_id").as("bench_id"), col("g"))
    val bsizes = bench.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("bench_grams")) // shingles() is per-doc distinct
    val corpus = shingles(documents.filter(col("source") =!= benchmarkSource))
    corpus.join(broadcast(bench), Seq("g"))
      .groupBy(col("bench_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(broadcast(bsizes), "bench_id")
      .withColumn("containment",
        col("shared_grams").cast("double") / col("bench_grams"))
      .filter(col("containment") >= minContainment)
      .select(col("bench_id"), col("doc_id"), col("shared_grams"),
        col("bench_grams"), col("containment"))
      .orderBy(col("bench_id"), col("doc_id"))
  }

  /** q114: REPEATED-SPAN detection — the substring-dedup signal of
    * Lee et al.'s "Deduplicating Training Data Makes Language Models
    * Better" at k-token granularity: every k-token window (stride 1,
    * duplicates KEPT — occurrences matter) across the corpus, ranked
    * by how often it repeats in ≥ 2 distinct documents. This catches
    * sub-line boilerplate (license headers, navigation chrome,
    * templated sentences) that doc-level dedup (q40/q41) and
    * frequent-LINE boilerplate (q101) both miss.
    *
    * Two explicit partial-aggregated stages instead of a
    * countDistinct expand: (span, doc) occurrence counts first, then
    * the per-span rollup — the oracle mirrors the same algebra, so
    * the exact form is hash-exact vs DuckDB.
    *
    * Scale shape: the exact form's first shuffle carries the k-token
    * span STRING — a k× re-keying of the token stream, the honest
    * audit cost. The DEFAULT (`exact=false`) reduces each span to a
    * 64-bit `xxhash64` BEFORE the exchange, so shuffle rows are
    * (8-byte key, doc_id) regardless of k — the form a 100 TB corpus
    * runs. 64 bits, not the mod-1e9 PolyFingerprint: a 100 TB token
    * stream has ~1e13 windows, and a 2^30-sized space would drown in
    * collisions where 2^64 keeps the expected count ~n²/2^65. A
    * collision can only ADD a rare phantom row or inflate one span's
    * counts — it can never hide a truly repeated span (recall 1.0).
    * Both forms are linear in the token stream; no candidate pair
    * ever materializes. */
  /** (doc_id, span) rows for every stride-1 k-token window, duplicates
    * kept; `exact=false` keys spans by 64-bit xxhash64 so downstream
    * exchanges carry 8-byte keys (see [[q114]] for the collision
    * contract). Shared by q114/q115. */
  private def spanWindows(documents: DataFrame, k: Int,
                          exact: Boolean): DataFrame = {
    val w = col("w")
    val winArr = transform(sequence(lit(1), size(w) - lit(k - 1), lit(1)),
      i => concat_ws(" ", (0 until k).map(j => element_at(w, i + lit(j))): _*))
    val wins = documents
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("w"))
      .filter(size(w) >= k)
      .select(col("doc_id"), explode(winArr).as("span"))
    if (exact) wins
    else wins.select(col("doc_id"), xxhash64(col("span")).as("span"))
  }

  def q114(documents: DataFrame, k: Int = graft.Oracles.SpanK, topK: Int = 50,
           exact: Boolean = false): DataFrame = {
    spanWindows(documents, k, exact)
      .groupBy(col("span"), col("doc_id")).agg(count(lit(1)).as("occ"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_occ").desc, col("span"))
      .limit(topK)
  }

  /** q115: per-doc REPEATED-SPAN fraction — q114 operationalized into
    * the keep/drop signal: for each document, the fraction of its
    * stride-1 k-token windows that also occur in at least one OTHER
    * document. A license header pasted into thousands of pages gives
    * every carrier a high frac_repeated; an original document scores
    * ~0. This is the doc-level verdict column a cleaning pass filters
    * on, complementing within-doc repetition (q68) and frequent-line
    * boilerplate (q101).
    *
    * Algebra: windows, pre-partitioned by span → per-(span, doc)
    * occurrence counts AND per-span doc_count (a window function) on
    * that ONE exchange — hash(span) clusters (span, doc) too, so
    * neither the aggregation nor the window re-shuffles — then the
    * per-doc rollup is the only other exchange. "Repeated" counts
    * OCCURRENCES: a window string appearing twice in doc A and once in
    * doc B contributes 2 repeated occurrences to A. The DEFAULT
    * (`exact=false`) keys windows by 64-bit xxhash64 exactly like
    * q114 — 8-byte exchange rows at any k; the exact form is the
    * oracle-mirrored audit path the driver registers. */
  def q115(documents: DataFrame, k: Int = graft.Oracles.SpanK, exact: Boolean = false): DataFrame = {
    val perDoc = spanWindows(documents, k, exact).repartition(col("span"))
      .groupBy(col("span"), col("doc_id")).agg(count(lit(1)).as("occ"))
    val spanW = org.apache.spark.sql.expressions.Window.partitionBy(col("span"))
    perDoc
      .withColumn("n_docs", count(lit(1)).over(spanW))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).cast("long").as("n_windows"),
        sum(when(col("n_docs") >= 2, col("occ")).otherwise(lit(0L)))
          .cast("long").as("n_repeated"))
      .withColumn("frac_repeated",
        col("n_repeated").cast("double") / col("n_windows"))
      .orderBy(col("doc_id"))
  }

  /** q119: repeated-span SCRUB — the rewrite q114's signal exists for
    * (Lee et al. 2022's substring dedup removes the repeated bytes, it
    * does not drop whole documents): every stride-1 k-token span that
    * occurs in ≥ 2 documents is cut from EVERY document carrying it,
    * overlapping cuts merge, and the surviving tokens reassemble into a
    * cleaned (lowercase-normalized) text. Output per doc: token count,
    * removed count, removed fraction, and the cleaned text ('' when the
    * whole doc was boilerplate).
    *
    * Plan shape at scale: span rows (8-byte xxhash64 keys in the scale
    * default) aggregate to the cross-doc repeated set; a semi join
    * marks each doc's repeated START positions. Token coverage is then
    * ONE bounded window — covered(pos) = max(flag) over the last k
    * start positions — never an interval join (a boilerplate-heavy doc
    * would make tokens × islands quadratic), and the window / rebuild
    * rollup share the doc_id exchange. Token rows shuffle twice
    * ((doc,pos) join, doc window); spans shuffle as hashes. No pair
    * listing anywhere — a clique of N identical docs just raises span
    * doc-counts (q114's clique-proof shape) and scrubs to N empty
    * outputs. Everything is integer/string arithmetic — no floats
    * except the final fraction divide (§6). */
  def q119(documents: DataFrame, k: Int = graft.Oracles.SpanK, exact: Boolean = false): DataFrame = {
    val toked = spanToked(documents)
      .transform(graft.Pins.pin)
    scrubToked(toked, repeatedFrom(spanStarts(toked, k, exact)), k, exact)
  }

  /** Per-doc lowercase token arrays — the tokenization every span-scrub
    * path shares (fused q119 persists it; the streaming gate's
    * per-batch apply deliberately does not). */
  private def spanToked(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), split(lower(trim(col("text"))), " ").as("w"))

  /** (doc_id, start, span) for every stride-1 k-token window of a
    * tokenized frame; hashed 8-byte span keys in the scale default. */
  private def spanStarts(toked: DataFrame, k: Int, exact: Boolean): DataFrame = {
    val w = col("w")
    val winArr = transform(sequence(lit(1), size(w) - lit(k - 1), lit(1)),
      i => concat_ws(" ", (0 until k).map(j => element_at(w, i + lit(j))): _*))
    val starts = toked.filter(size(w) >= k)
      .select(col("doc_id"), posexplode(winArr).as(Seq("start", "span")))
    if (exact) starts
    else starts.select(col("doc_id"), col("start"),
      xxhash64(col("span")).as("span"))
  }

  /** The cross-doc repeated filter over a span-start frame. */
  private def repeatedFrom(keyedStarts: DataFrame): DataFrame =
    keyedStarts.groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("span"))

  /** st18 FIT side: the cross-doc repeated-span key set of a static
    * reference corpus — [[q119]]'s internal repeated set exposed so the
    * streaming gate can fit it ONCE, persist it, and scrub every
    * micro-batch against it. Same keying contract as q119 (`exact`
    * false ⇒ xxhash64 8-byte keys). */
  private[graft] def repeatedSpanSet(reference: DataFrame,
                                     k: Int = graft.Oracles.SpanK,
                                     exact: Boolean = false): DataFrame =
    repeatedFrom(spanStarts(spanToked(reference), k, exact))

  /** st18 APPLY side: scrub `batch` against a PREPARED repeated-span
    * frame through the exact q119 rewrite path — [[q119]] IS
    * `spanScrubApply(docs, repeatedSpanSet(docs))` modulo its fused
    * tokenization cache, so stream and batch outputs cannot drift. No
    * persist here: the input is micro-batch-sized, its three consumers
    * re-scan cheap batch-local arithmetic, and a per-batch persist
    * would leak one cached RDD per micro-batch. */
  private[graft] def spanScrubApply(batch: DataFrame, repeated: DataFrame,
                                    k: Int = graft.Oracles.SpanK,
                                    exact: Boolean = false): DataFrame =
    scrubToked(spanToked(batch), repeated, k, exact)

  /** The q119 rewrite core over a tokenized frame and a repeated-span
    * frame: mark repeated start positions, cover via the ONE bounded
    * window, rebuild surviving tokens, report per-doc counts. */
  private def scrubToked(toked: DataFrame, repeated: DataFrame,
                         k: Int, exact: Boolean): DataFrame = {
    val marked = spanStarts(toked, k, exact)
      .join(repeated, Seq("span"), "left_semi")
      .select(col("doc_id"), col("start"), lit(1).as("rep"))
    val toks = toked.select(col("doc_id"),
      posexplode(col("w")).as(Seq("pos", "tok")))
    val covW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(k - 1), 0)
    val kept = toks
      .join(marked, toks("doc_id") === marked("doc_id") &&
        toks("pos") === marked("start"), "left")
      .select(toks("doc_id"), col("pos"), col("tok"),
        coalesce(col("rep"), lit(0)).as("rep"))
      .withColumn("covered", max(col("rep")).over(covW))
      .filter(col("covered") === 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        sort_array(collect_list(struct(col("pos"), col("tok")))).as("xs"))
      .withColumn("clean_text",
        array_join(transform(col("xs"), x => x.getField("tok")), " "))
      .select(col("doc_id"), col("n_kept"), col("clean_text"))
    toked.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_removed"),
        ((col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("double") /
          col("n_tokens")).as("removed_frac"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** DISTINCT benchmark gram frame (g, hit=1) for
    * [[contaminationAgainst]] — the fit-once index side, shared by
    * batch q69 and the streaming gate st15 (which persists it across
    * micro-batches). */
  private[graft] def benchmarkGrams(bench: DataFrame): DataFrame =
    shingles(bench).select(col("g")).distinct().withColumn("hit", lit(1))

  /** Per-doc contamination of `corpus` against a prepared benchmark
    * gram frame. ONE pass over the corpus shingle stream: the broadcast
    * left join tags benchmark grams in place, and a single
    * partial-aggregated shuffle counts totals and hits together
    * (benchGrams is distinct on g, so the left join cannot duplicate
    * corpus rows). Docs with < 3 tokens produce no shingles and no
    * row — no contamination evidence. */
  private[graft] def contaminationAgainst(corpus: DataFrame,
                                          benchGrams: DataFrame): DataFrame =
    shingles(corpus)
      .join(broadcast(benchGrams), Seq("g"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("hit_grams"))
      .withColumn("contamination",
        col("hit_grams").cast("double") / col("n_grams"))

  /** q109: INCREMENTAL exact dedup — dedup a NEW ingest batch against
    * the already-ingested corpus without comparing any text twice: the
    * corpus side reduces once to its distinct normalized-text digest
    * set (16-byte keys — at production scale this set is maintained as
    * a bucketed lake table, not recomputed; the operator takes whatever
    * frame holds it). A batch doc is `dup_corpus` if its digest is
    * already ingested, `dup_batch` if an earlier batch doc (smaller
    * doc_id) has the same digest, else `new`. This is the daily-ingest
    * twin of q40 (whole-corpus dedup) and the batch form of st10's
    * streaming dedup.
    *
    * Plan shape: every shuffle key is the 16-byte digest — text never
    * shuffles; the corpus join is an equi-join on digest, and the
    * within-batch rank is a WindowGroupLimit-free window partitioned
    * by digest (groups are duplicate sets, inherently small). */
  def q109(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val ingested = corpus.select(normDigest.as("dg")).distinct()
      .withColumn("hit", lit(1))
    ingestStatus(batch.select(col("doc_id"), normDigest.as("dg")), ingested)
  }

  /** The normalized-text content digest every exact-dedup surface keys
    * on (q40/q109/q110/q126/[[DedupIndex]]/st10): md5 of the
    * lower-trimmed text — factored so the batch operators, the
    * persisted index, and the oracle derivations cannot drift. */
  private[graft] def normDigest: Column =
    md5(encode(lower(trim(col("text"))), "UTF-8"))

  /** Shared verdict tail of the incremental-dedup family: given the
    * batch's (doc_id, dg) projection and a DISTINCT (dg, hit) frame of
    * already-ingested digests, emit dup_corpus / dup_batch / new per
    * batch doc. The within-batch rank is a digest-partitioned
    * row_number — duplicate sets are inherently small groups. */
  private[graft] def ingestStatus(batchDg: DataFrame, hitDg: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("dg")).orderBy(col("doc_id"))
    batchDg
      .join(hitDg, Seq("dg"), "left_outer")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("dg"),
        when(col("hit").isNotNull, lit("dup_corpus"))
          .when(col("rn") > 1, lit("dup_batch"))
          .otherwise(lit("new")).as("status"))
      .orderBy(col("doc_id"))
  }

  /** q110: corpus SNAPSHOT DIFF — compare two versions of a corpus by
    * content fingerprint and report per doc_id: `unchanged`,
    * `modified` (same id, different text), `added`, `removed`. The
    * audit a versioned lake runs between ingest cycles (and the
    * validation step after a q109 incremental merge or an m02 upsert):
    * what actually changed, without diffing any text — both sides
    * reduce to (id, 16-byte digest) projections and the diff is ONE
    * full-outer hash join on doc_id. Text is read once per side and
    * never shuffles; at production scale either side's digest
    * projection can be a maintained lake table. */
  def q110(oldCorpus: DataFrame, newCorpus: DataFrame): DataFrame = {
    val dg = md5(encode(col("text"), "UTF-8"))
    val o = oldCorpus.select(col("doc_id"), dg.as("dg_old"))
    val n = newCorpus.select(col("doc_id"), dg.as("dg_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("dg_old").isNull, lit("added"))
          .when(col("dg_new").isNull, lit("removed"))
          .when(col("dg_old") === col("dg_new"), lit("unchanged"))
          .otherwise(lit("modified")).as("status"))
      .orderBy(col("doc_id"))
  }

  /** Fit a Bloom filter over the corpus' distinct normalized-text
    * digests: ONE distributed aggregate (Spark's native
    * `BloomFilterAggregate`, the same sketch the optimizer's runtime
    * row-level filters use) over `xxhash64(digest)` keys, returning the
    * serialized filter — the fit-once sidecar [[q126]] and any ingest
    * gate probes with `might_contain`. Returns null for an empty
    * corpus (no member can exist). Sizing: `expectedItems` defaults to
    * the corpus row count (a safe overestimate of distinct digests —
    * one `count()` action, the fit's only extra pass); bits come from
    * the standard optimum for `fpp` and are clamped to Spark's
    * runtime-filter creation cap (64 Mbit), which bounds the artifact
    * at 8 MB — at 1e9-digest scale a production deployment raises the
    * cap or shards the filter by digest prefix; false positives only
    * cost verify-join probes, never correctness. */
  private[graft] def bloomFitDigests(corpusDg: DataFrame,
                                     fpp: Double = 0.01,
                                     expectedItems: Long = 0L): Array[Byte] = {
    val n = math.max(1L,
      if (expectedItems > 0L) expectedItems else corpusDg.count())
    val (nItems, nBits) = bloomParams(n, fpp)
    bloomAggregate(corpusDg, nItems, nBits)
  }

  /** (estimatedItems, numBits) for a digest bloom — the capacity pair
    * that fully determines the filter's layout (numHashFunctions
    * derives from it), so two filters built with the SAME pair are
    * mergeable ([[DedupIndex.append]] relies on this). Clamped to
    * Spark's runtime-filter creation caps. */
  private[graft] def bloomParams(n: Long, fpp: Double): (Long, Long) = {
    val nItems = math.min(math.max(1L, n), 4000000L)
    val nBits = math.min(
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(nItems, fpp),
      67108864L)
    (nItems, nBits)
  }

  /** One distributed `BloomFilterAggregate` over xxhash64(dg) with a
    * FIXED capacity pair; null on empty input. */
  private[graft] def bloomAggregate(dgFrame: DataFrame,
                                    nItems: Long, nBits: Long): Array[Byte] = {
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val agg = new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col("dg"))),
      org.apache.spark.sql.catalyst.expressions.Literal(nItems),
      org.apache.spark.sql.catalyst.expressions.Literal(nBits))
      .toAggregateExpression()
    dgFrame.select(ColumnBridge.column(agg).as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** `might_contain(bloom, xxhash64(dg))` as a Column — the probe side
    * of [[bloomFitDigests]] (Spark's native `BloomFilterMightContain`,
    * codegen'd, evaluated map-side with zero shuffle). A null filter
    * (empty corpus) admits nothing. */
  private[graft] def bloomMightContain(bloom: Array[Byte], dgCol: Column): Column =
    if (bloom == null) lit(false)
    else org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.graft.ColumnBridge.expression(lit(bloom)),
        org.apache.spark.sql.graft.ColumnBridge.expression(xxhash64(dgCol))))

  /** q126: BLOOM-prefiltered incremental exact dedup — [[q109]]'s
    * daily-ingest dedup with a Bloom-filter first pass, the shape that
    * survives when the ingested corpus is 100 TB and the daily batch is
    * mostly NEW text (the healthy-crawl regime): q109 probes EVERY
    * batch digest against the corpus digest table, so each ingest pays
    * a corpus-sized join no matter how few duplicates it carries; q126
    * fits an m-bit Bloom filter over the corpus digests once
    * ([[bloomFitDigests]] — refreshed at the same cadence the digest
    * table itself is maintained, amortized over every batch in
    * between) and evaluates `might_contain` map-side on the batch, so
    * definitely-new documents (the overwhelming majority) never touch
    * the corpus table at all. Only the bloom's candidates — true
    * duplicates plus an fpp-bounded sliver of false positives — reach
    * the authoritative semi-join, and with the corpus digest table
    * bucketed on digest, only the buckets holding candidate digests
    * are read. False positives are eliminated by that verify join and
    * false negatives cannot exist, so the output is bit-identical to
    * q109 at ANY fpp (the spec asserts it at fpp=0.5); the filter only
    * moves work, never answers. Within-batch duplicate ranking is
    * unchanged from q109 (digest-partitioned row_number — duplicate
    * sets are inherently small groups). */
  def q126(corpus: DataFrame, batch: DataFrame, fpp: Double = 0.01): DataFrame = {
    val corpusDg = corpus.select(normDigest.as("dg"))
    val bloom = bloomFitDigests(corpusDg, fpp)
    val batchDg = batch.select(col("doc_id"), normDigest.as("dg"))
    val candDg = batchDg.filter(bloomMightContain(bloom, col("dg")))
      .select(col("dg")).distinct()
    val hitDg = corpusDg.distinct()
      .join(candDg, Seq("dg"), "left_semi")
      .withColumn("hit", lit(1))
    ingestStatus(batchDg, hitDg)
  }

  /** q131: incremental NEAR-dup ingest — [[q109]]'s daily-ingest
    * question asked at the near-duplicate level: judge each batch doc
    * against an already-ingested corpus, flagging exact re-ingests
    * (`dup_corpus`/`dup_batch` — q109's verdicts, same precedence) AND
    * light rewrites of corpus text (`near_corpus`, shingle Jaccard ≥ t
    * via the same MinHash-LSH banding + exact-verify machinery as q42,
    * but batch×corpus instead of self-join — the re-crawl/paraphrase
    * mode exact digests can't see), else `new`. This is the table-free
    * twin of the s13 persisted index ([[NearDupIndex]]): both feed the
    * same verdict core, so the spec can assert bit parity between
    * "fit then serve from lake tables" and "compute live". Shuffle is
    * band collisions + candidate shingles — never |batch|·|corpus|,
    * and corpus text is scanned once (collapsed to one representative
    * per distinct digest) no matter how duplicated it is. rows-only
    * (MinHash banding is not portable SQL) + planted-status spec. */
  def q131(corpus: DataFrame, batch: DataFrame,
           t: Double = MinhashJaccardThreshold): DataFrame =
    NearDupIndex.nearIngest(NearDupIndex.artifacts(corpus), batch, t)

  /** q127: per-source DUPLICATION PROFILE — the report a curation team
    * reads before choosing dedup scope and thresholds: for each source,
    * how much exact duplication exists WITHIN it (docs minus distinct
    * normalized texts, largest identical-text cluster, number of
    * duplicated clusters) and how much of it is CROSS-source (distinct
    * texts that also appear in at least one other source — the signal
    * that per-source dedup is not enough and a global q40/q64 pass is
    * needed; two crawls of the same sites light this up long before
    * near-dup analysis runs).
    *
    * Scale shape: everything reduces to 16-byte digests before any
    * shuffle — per-(source, digest) counts and the digest-level
    * source-spread count are both map-side-combined aggregations; the
    * spread joins back on digest (digest-sized, not corpus-sized).
    * Text is scanned once and never shuffles. */
  def q127(documents: DataFrame): DataFrame = {
    val dg = md5(encode(lower(trim(col("text"))), "UTF-8"))
    val perSrcDg = documents.select(col("source"), dg.as("dg"))
      .groupBy(col("source"), col("dg")).agg(count(lit(1)).as("n"))
    val spread = perSrcDg.groupBy(col("dg"))
      .agg(count(lit(1)).as("n_sources"))
    perSrcDg.join(spread, Seq("dg"))
      .groupBy(col("source"))
      .agg(sum(col("n")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_distinct_texts"),
        sum(col("n") - 1).cast("long").as("n_dup_docs"),
        max(col("n")).cast("long").as("max_cluster"),
        sum(when(col("n") > 1, 1L).otherwise(0L)).cast("long").as("n_dup_clusters"),
        sum(when(col("n_sources") > 1, 1L).otherwise(0L)).cast("long")
          .as("n_cross_texts"))
      .withColumn("dup_frac",
        col("n_dup_docs").cast("double") / col("n_docs"))
      .select(col("source"), col("n_docs"), col("n_distinct_texts"),
        col("n_dup_docs"), col("dup_frac"), col("max_cluster"),
        col("n_dup_clusters"), col("n_cross_texts"))
      .orderBy(col("source"))
  }

  /** EXACT-DUP COLLAPSE before LSH banding (the scale guard for
    * q42/q43/q111 and Multimodal.q93): a boilerplate-heavy corpus puts
    * thousands of byte-identical docs into the same band bucket, and a
    * banding self-join expands that bucket quadratically — the length
    * filter can't help because the docs ARE similar. Collapsing
    * byte-identical normalized texts (q40's digest) to one
    * representative first makes a clique of N identical docs cost ONE
    * banding row; true pairs re-expand from the members map at output
    * time (output size is the true pair count — inherent to
    * pair-listing semantics — but candidate generation and verification
    * stay clique-sized).
    *
    * Returns (reps, members): `reps` = one surviving document row per
    * distinct normalized text (the min doc_id); `members` = (doc_id,
    * rep) for every doc. Shuffle shape: the digest projection is
    * 24-byte rows; the rep semi-join broadcasts locally (rep-id list)
    * and degrades to one sort-merge exchange at corpus scale. */
  private[graft] def exactReps(documents: DataFrame): (DataFrame, DataFrame) = {
    val dg = md5(encode(lower(trim(col("text"))), "UTF-8"))
    // rep via ONE window exchange over the narrow (doc_id, digest)
    // projection (groupBy + join-back would exchange twice); dup
    // cliques are small, so the per-group window buffer is bounded
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("dg"))
    val members = documents.select(col("doc_id"), dg.as("dg"))
      .withColumn("rep", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("rep"))
      .transform(graft.Pins.pin)
    val reps = documents.join(
      members.filter(col("doc_id") === col("rep")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    (reps, members)
  }

  /** Re-expand rep-level near-dup pairs through the members map:
    * every (member of clique a) × (member of clique b) pair, normalized
    * to doc_a < doc_b. Stats columns carry over — byte-identical
    * normalized texts have identical shingle sets, fingerprints and
    * renders, so each member pair's true stats equal its rep pair's —
    * except that a stat named in `mirrored` is read from the other
    * side when the member ids cross their reps' order: an offset
    * negates, na and nb trade places. */
  private[graft] def expandPairs(repPairs: DataFrame, members: DataFrame,
                                 stats: Seq[String],
                                 mirrored: Map[String, Column] = Map.empty)
      : DataFrame = {
    val ma = members.select(col("rep").as("doc_a"), col("doc_id").as("da"))
    val mb = members.select(col("rep").as("doc_b"), col("doc_id").as("db"))
    repPairs.join(ma, "doc_a").join(mb, "doc_b")
      .select(least(col("da"), col("db")).as("doc_a") +:
        greatest(col("da"), col("db")).as("doc_b") +: stats.map(s =>
          mirrored.get(s).fold(col(s))(m =>
            when(col("da") <= col("db"), col(s)).otherwise(m).as(s))): _*)
  }

  /** Within-clique pairs: members of the same clique are exact
    * duplicates, emitted with caller-supplied `stats`. With `eligible`
    * (one row per rep, keyed `doc_id`) only its cliques pair up, and
    * `stats` may read its per-rep columns — a rep's own overlap stats,
    * filtered by the gate cross pairs pass; without it every clique
    * pairs up. */
  private[graft] def withinCliquePairs(members: DataFrame,
                                       eligible: Option[DataFrame],
                                       stats: Seq[Column]): DataFrame = {
    val pairs = members.as("x").join(members.as("y"),
      col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
    eligible.fold(pairs)(e => pairs.join(
        e.withColumnRenamed("doc_id", "erep"), col("x.rep") === col("erep")))
      .select(col("x.doc_id").as("doc_a") +: col("y.doc_id").as("doc_b") +:
        stats: _*)
  }

  /** The reps with at least one shingle: the cliques the uncollapsed
    * Jaccard plans paired up (they never saw gram-less docs). */
  private def shingledReps(g: DataFrame): DataFrame =
    g.select(col("doc_id")).distinct()

  val MinhashK = 64   // permutations
  val Bands    = 16   // 16 bands × 4 rows
  val RowsPerBand = MinhashK / Bands
  /** q42's verify threshold — shared by the band join's length filter
    * (which is only lossless when the two agree). */
  val MinhashJaccardThreshold = 0.7

  /** MinHash signature: (doc_id, sig: array[64], n) from a shingle
    * frame. The k "permutations" are seeded xxhash64 of the shingle;
    * each is a plain `min` aggregate column, so the whole signature is
    * ONE codegen'd partial-aggregated shuffle of (doc_id, 64 longs) —
    * no ×64 row explosion of the shingle stream. The set size `n` rides
    * the same aggregation for free (length filtering downstream). */
  def minhashSignature(shingleDf: DataFrame): DataFrame = {
    val minima = (0 until MinhashK).map(i =>
      min(xxhash64(lit(i), col("g"))).as(s"m$i")) :+ count(lit(1)).as("n")
    shingleDf
      .groupBy(col("doc_id"))
      .agg(minima.head, minima.tail: _*)
      .select(col("doc_id"),
        array((0 until MinhashK).map(i => col(s"m$i")): _*).as("sig"), col("n"))
  }

  /** q42: MinHash + LSH banding near-dup detection. Band keys are an
    * equi-join blocking key: two docs collide iff one 4-row band of the
    * signature matches exactly (P≈1 for J≥0.9, ≈0 for J≤0.4). Collisions
    * are verified with exact Jaccard; output pairs with J > 0.7. */
  /** (doc_id, n, band, band_key) rows from a (doc_id, sig, n)
    * signature frame — the LSH blocking keys q42 and q111 join on. */
  private[graft] def bandKeys(sigs: DataFrame): DataFrame =
    sigs
      .select(col("doc_id"), col("n"), explode(array((0 until Bands).map { b =>
        struct(lit(b).as("band"), xxhash64(
          (0 until RowsPerBand).map(r => element_at(col("sig"), b * RowsPerBand + r + 1)): _*
        ).as("band_key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("n"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))

  /** Rep-level LSH band candidates (doc_a, doc_b) for a shingle frame —
    * the stage whose row count the adversarial-clique spec bounds, and
    * the join [[q112]] diagnoses. Length filter inside the band join
    * (lossless vs the `t` verify): sets whose sizes differ by more than
    * the threshold ratio can't pass verification, so their band
    * collisions never shuffle. */
  private[graft] def minhashCandidates(g: DataFrame, t: Double): DataFrame = {
    val banded = bandKeys(minhashSignature(g)) // n rides the agg
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.n") >= lit(t) * col("b.n") &&
        col("b.n") >= lit(t) * col("a.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def q42(documents: DataFrame): DataFrame = {
    // exact-dup collapse first (see [[exactReps]]): banding, candidate
    // generation and Jaccard verification all run on one representative
    // per distinct normalized text
    val (reps, members) = exactReps(documents)
    // One materialization of the rep shingle stream feeds signature,
    // sizes and verification (4 consumers) — without it the
    // split+explode pipeline re-runs per consumer. persist(
    // MEMORY_AND_DISK) spills gracefully at scale; the ContextCleaner
    // drops it once the plan's RDDs are unreferenced.
    val g = shingles(reps)
      .transform(graft.Pins.pin)
    // candidates pinned (r20): verifyJaccard references them THREE
    // times (two semi-join prunes + the verification join) — the
    // jaccardRepPairs discipline; unpinned, the banding self-join and
    // the 64-hash signature aggregation replayed per consumer
    val repPairs = verifyJaccard(g,
        minhashCandidates(g, MinhashJaccardThreshold)
          .transform(graft.Pins.pin))
      .filter(col("jaccard") > MinhashJaccardThreshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // cross-clique pairs inherit the rep pair's exact jaccard (identical
    // shingle sets per clique); within-clique pairs are J = 1.0 by
    // definition — but only for cliques that HAVE shingles (≥ 3 words),
    // matching the uncollapsed plan, which never saw shingle-less docs
    expandPairs(repPairs, members, Seq("jaccard"))
      .unionAll(withinCliquePairs(members, Some(shingledReps(g)),
        Seq(lit(1.0).as("jaccard"))))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q111: cross-split NEAR-dup decontamination — the fuzzy complement
    * of q107: q107 flags a test doc for sharing ONE exact 3-gram with
    * the train split; q111 flags test docs that are near-DUPLICATES of
    * a train doc (Jaccard > `t`) — the leakage mode n-gram overlap
    * understates (light paraphrase, re-crawl, boilerplate re-wrap) and
    * the check Lee et al.-style decontamination actually runs between
    * a training corpus and an eval set. Split assignment is q91's
    * engine-portable hash; candidates come from the SAME MinHash band
    * blocking as q42 ([[bandKeys]]), but the band join is test×train
    * ACROSS the split boundary instead of a self-join — shuffle is
    * still ∝ band collisions, never |test|·|train|. Collisions verify
    * with exact Jaccard over full shingle sets. rows-only (MinHash
    * banding is not portable SQL) + a planted-pair spec. */
  def q111(documents: DataFrame,
           t: Double = MinhashJaccardThreshold): DataFrame = {
    val P = 1000000007L
    val h = pmod(
      pmod(pmod(col("doc_id"), lit(P)) * lit(2654435761L), lit(P)) +
        lit(40490L), lit(100L))
    // exact-dup collapse (see [[exactReps]]) — but the SPLIT is a
    // doc_id property, not a content property: one clique can have
    // members on both sides of the boundary. A clique joins the band
    // join on a side iff it has ≥ 1 member there; a clique colliding
    // with ITSELF (identical text leaked verbatim across the split) is
    // the rep pair (r, r), which verifies at J = 1 and expands to its
    // test×train member pairs like any other.
    val (reps, members) = exactReps(documents)
    val m = members.withColumn("h", h)
    val testM  = m.filter(col("h") >= 90).select(col("doc_id"), col("rep"))
    val trainM = m.filter(col("h") < 80).select(col("doc_id"), col("rep"))
    val g = shingles(reps)
      .transform(graft.Pins.pin)
    val banded = bandKeys(minhashSignature(g))
      .transform(graft.Pins.pin)
    val test  = banded.join(testM.select(col("rep").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    val train = banded.join(trainM.select(col("rep").as("doc_id")).distinct(),
      Seq("doc_id"), "left_semi")
    val candidates = test.as("a")
      .join(train.as("b"),
        col("a.band") === col("b.band") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.n") >= lit(t) * col("b.n") &&
        col("b.n") >= lit(t) * col("a.n"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      // pinned (r20): verifyJaccard references the candidate pairs
      // THREE times (two semi-join prunes + the verification join) —
      // the jaccardRepPairs discipline this operator had missed;
      // unpinned, the test×train band join re-ran per consumer
      // (StageProbe r20: three identical ~10 s stages each writing the
      // same 84 KB candidate exchange). Two longs per row.
      .transform(graft.Pins.pin)
    // ordered expansion (test side × train side), no least/greatest:
    // both directions of a cross-clique pair are distinct leak reports
    verifyJaccard(g, candidates)
      .filter(col("jaccard") > t)
      .join(testM.select(col("rep").as("doc_a"), col("doc_id").as("test_doc")),
        "doc_a")
      .join(trainM.select(col("rep").as("doc_b"), col("doc_id").as("train_doc")),
        "doc_b")
      .select(col("test_doc"), col("train_doc"), col("jaccard"))
      .orderBy(col("test_doc"), col("train_doc"))
  }

  /** 64-bit SimHash per doc over word unigrams: per bit position, sum of
    * ±1 weighted by the token-hash bit; sign becomes the fingerprint bit.
    * Expressed as 64 conditional-sum aggregate columns — a single
    * shuffle with partial aggregation, fully codegen'd, no explode×64. */
  def simhash(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$i")
    }
    val fp = (0 until 64).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    toks.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** 64-bit-hash near-dup pairs over a (doc_id, `hashCol`) frame:
    * 4×16-bit bands — two hashes with Hamming distance ≤ 3 must agree
    * on at least one full band (pigeonhole) — as an equi-join, then
    * exact verify with bit_count(xor) ≤ maxHamming. Only (doc_id,
    * hash) rows shuffle. The self-join reads `hashes` twice, so
    * callers pass a pinned frame: unpinned, the pipeline behind the
    * hashes (a codec round-trip for the media lanes q93/q198/q210)
    * ran 2-3× per query (r19 StageProbe: three ~45-100 s codec
    * stages in one q94 run). */
  private[graft] def hammingBandPairs(hashes: DataFrame, hashCol: String,
                                      maxHamming: Int): DataFrame = {
    val banded = hashes.select(col("doc_id"), col(hashCol),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("band"),
          shiftright(col(hashCol), 16 * j).bitwiseAND(0xFFFFL).as("band_key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col(hashCol), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col(s"a.$hashCol").bitwiseXOR(col(s"b.$hashCol"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** q43: SimHash near-dup pairs — [[hammingBandPairs]] at Hamming
    * distance ≤ 3. */
  def q43(documents: DataFrame): DataFrame = {
    // exact-dup collapse (see [[exactReps]]): a clique of N identical
    // docs is ONE banding row instead of N quadratically-colliding ones
    val (reps, members) = exactReps(documents)
    // pinned (r20): the banding self-join references the fingerprint
    // frame on BOTH sides and withinCliquePairs reads it again as the
    // eligible-rep set — unpinned, the token-explode + 64-column
    // conditional-sum aggregation replayed three times per run
    val sh = graft.Pins.pin(simhash(reps))
    val repPairs = hammingBandPairs(sh, "simhash", 3)
    // identical normalized texts have identical fingerprints: cross-
    // clique pairs carry the rep pair's Hamming distance, within-clique
    // pairs are Hamming 0 (every doc has a simhash, so every clique is
    // eligible)
    expandPairs(repPairs, members, Seq("hamming"))
      .unionAll(withinCliquePairs(members, Some(sh.select(col("doc_id"))),
        Seq(lit(0).cast("integer").as("hamming"))))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q112: LSH BAND-BUCKET skew report — q81's join-key diagnostic
    * retargeted at the blocking keys the near-dup self-joins (q42/q111)
    * actually join on: the top-k heaviest (band, band_key) buckets
    * AFTER exact-dup collapse, with the bucket's doc count, its share
    * of all banding rows, and the candidate pairs C(m,2) the band join
    * would emit from it. Run this BEFORE pointing q42 at a new corpus:
    * a bucket holding thousands of distinct-but-near-identical docs
    * (boilerplate wraps, templated pages) is quadratic candidate
    * expansion the collapse cannot absorb — the report names the
    * bucket so the corpus side can be pre-filtered (q101 boilerplate)
    * or the bucket handled separately. Same plan shape as q81: one
    * partial-aggregated shuffle + broadcast total + top-k. */
  def q112(documents: DataFrame, topK: Int = 10): DataFrame = {
    val (reps, _) = exactReps(documents)
    val perBucket = bandKeys(minhashSignature(shingles(reps)))
      .groupBy(col("band"), col("band_key"))
      .agg(count(lit(1)).as("bucket_docs"))
    val total = perBucket.agg(sum(col("bucket_docs")).as("total_rows"))
    perBucket.crossJoin(broadcast(total))
      .select(col("band"), col("band_key"), col("bucket_docs"),
        (col("bucket_docs").cast("double") / col("total_rows")).as("share"),
        // integer `div`, not Divide: double division loses exactness
        // past 2^53 (~9.5e7-doc buckets — precisely the skew regime
        // this report exists to flag)
        expr("bucket_docs * (bucket_docs - 1) div 2").cast("long")
          .as("cand_pairs"))
      .orderBy(col("bucket_docs").desc, col("band"), col("band_key"))
      .limit(topK)
  }

  /** Driver-facing RECONCILIATION of [[q112]]'s banding machinery —
    * the load-bearing volume contract made oracle-checkable: every
    * shingled rep emits EXACTLY one banding row per band, so
    * n_banding_rows must equal Bands × n_shingled_reps, where
    * n_shingled_reps (distinct normalized texts with ≥ 3 tokens) is
    * computed INDEPENDENTLY on both engines. The skew report's shares
    * must sit in (0, 1]. The top-k report itself stays available as
    * [[q112]] (hash-dependent buckets, spec-checked); a banding bug
    * that drops or duplicates rows — the failure mode that silently
    * corrupts q42/q111 candidates — now hash-mismatches the oracle. */
  def q112Driver(documents: DataFrame): DataFrame = {
    val (reps, _) = exactReps(documents)
    val shingled = reps
      .filter(size(split(lower(trim(col("text"))), " ")) >= 3)
      .agg(count(lit(1)).cast("long").as("n_shingled_reps"))
    val volume = bandKeys(minhashSignature(shingles(reps)))
      .agg(count(lit(1)).cast("long").as("n_banding_rows"))
    val bounds = q112(documents)
      .agg(max(col("share")).as("mx"), min(col("share")).as("mn"))
    shingled.crossJoin(broadcast(volume)).crossJoin(broadcast(bounds))
      .select(lit(Bands.toLong).as("bands"),
        col("n_shingled_reps"), col("n_banding_rows"),
        (col("n_banding_rows") === lit(Bands.toLong) * col("n_shingled_reps"))
          .as("volume_ok"),
        (col("mx") <= lit(1.0) && col("mn") > lit(0.0)).as("share_bounds_ok"))
  }

  /** q123: PREFIX-JOIN blocking-key skew report — q112's pre-flight
    * diagnostic retargeted at the OTHER near-dup candidate family: the
    * rarest-shingle prefix keys the q41/q84 PPJoin blocks on
    * ([[prefixRows]], shared with the live join so the report measures
    * exactly the join's keys). Post-collapse by construction (the
    * prefix runs on [[exactReps]] output), so what it surfaces is
    * precisely the residual mode the collapse CANNOT absorb:
    * near-identical-but-not-byte-identical docs (templated pages,
    * boilerplate wraps with a unique slug each) whose shared template
    * shingles land in every member's prefix — a block of m such docs
    * feeds C(m,2) candidate checks to the verify stage even though the
    * positional/length filters pass them all. The report names the
    * heaviest blocking shingles with their doc count, share of all
    * prefix rows, and the candidate ceiling C(m,2), so the corpus side
    * can be pre-filtered (q101 boilerplate / q119 span scrub) or the
    * block handled separately BEFORE a multi-hour 100 TB run, not
    * after. Plan shape: the prefix machinery's two window shuffles
    * (both on corpus-sized but narrow (doc_id, g) rows), then one
    * partial-aggregated rollup on g + broadcast total + top-k. */
  def q123(documents: DataFrame, t: Double = JaccardThreshold,
           topK: Int = 10): DataFrame = {
    val (reps, _) = exactReps(documents)
    val perBlock = prefixRows(shingles(reps), t)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("block_docs"))
    val total = perBlock.agg(sum(col("block_docs")).as("total_rows"))
    perBlock.crossJoin(broadcast(total))
      .select(col("g"), col("block_docs"),
        (col("block_docs").cast("double") / col("total_rows")).as("share"),
        // integer `div` — same exactness rationale as q112
        expr("block_docs * (block_docs - 1) div 2").cast("long")
          .as("cand_pairs"))
      .orderBy(col("block_docs").desc, col("g"))
      .limit(topK)
  }

  /** q184: SKETCH-EVAL — precision/recall of the minimizer near-dup
    * sketch ([[q162]]) against the exact Jaccard pair set ([[q41]]),
    * the calibration read a pipeline runs BEFORE trusting a cheap
    * sketch at 100 TB: exact pairs are ground truth, sketch pairs the
    * candidate set, and the one-row report (tp/fp/fn, precision =
    * tp/n_sketch, recall = tp/n_exact) says whether the sketch's
    * recall is worth its cost at the current (w, minShared) — the
    * knob-tuning loop that otherwise runs blind. Both sub-plans are
    * the operators' own (oracle-exact each); the comparison is ONE
    * full-outer join on the (doc_a, doc_b) key + a one-row
    * conditional-sum aggregate, so the eval costs two dedup runs plus
    * a pair-sized exchange — runnable on a sampled slice at scale.
    * Guarded divides (empty side → null, mirrored CASE in the
    * oracle); all counts exact longs → hash-exact. */
  def q184(documents: DataFrame, w: Int = 4, minShared: Int = 2): DataFrame = {
    // r20 experiment, measured and REJECTED (the parallelismFirst
    // discipline): sequencing the two sub-evaluations (eager cut +
    // pin release between them) bounds peak pinned memory to one
    // corpus-sized set — the r19 bimodality hypothesis — but COSTS
    // ~1.6 s at sf0.1 (idle-box A/B, median-of-3 ×2 each: sequenced
    // 9.0/9.2 vs lazy 7.4/7.3): the sides' stages stop overlapping on
    // the scheduler and the eager cut pays q41's terminal global sort,
    // which Catalyst eliminates under this lazy join. A scale-safe
    // memory fix needs scoped pin release without a scheduling
    // barrier (per-owner pin groups), not a checkpoint.
    val exact = q41(documents).select(col("doc_a"), col("doc_b"))
      .withColumn("in_exact", lit(true))
    val sketch = q162(documents, w, minShared).select(col("doc_a"), col("doc_b"))
      .withColumn("in_sketch", lit(true))
    exact.join(sketch, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(when(col("in_exact"), 1L).otherwise(0L)).cast("long").as("n_exact"),
        sum(when(col("in_sketch"), 1L).otherwise(0L)).cast("long").as("n_sketch"),
        sum(when(col("in_exact") && col("in_sketch"), 1L).otherwise(0L))
          .cast("long").as("tp"),
        sum(when(col("in_sketch") && col("in_exact").isNull, 1L).otherwise(0L))
          .cast("long").as("fp"),
        sum(when(col("in_exact") && col("in_sketch").isNull, 1L).otherwise(0L))
          .cast("long").as("fn"))
      .withColumn("precision",
        when(col("n_sketch") > 0L,
          col("tp").cast("double") / col("n_sketch").cast("double")))
      .withColumn("recall",
        when(col("n_exact") > 0L,
          col("tp").cast("double") / col("n_exact").cast("double")))
  }

  /** q186: LONGEST CONTAMINATED RUN — per test-split document, the
    * longest CONSECUTIVE stretch of tokens whose every 3-gram also
    * appears in the train split. q107 reports the leaked-gram
    * FRACTION; this reports the leak's SHAPE — the substring-level
    * decontamination signal of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better"): fifty scattered
    * leaked grams are topic overlap, a fifty-token contiguous run is a
    * verbatim copy, and substring decontam thresholds on exactly this
    * run length. Splits are q91's portable doc_id hash (the q107
    * constants: train < 80, test ≥ 90).
    *
    * Algorithm: POSITIONAL 3-grams (not distinct — position is the
    * signal), matched test positions = equi-join against the distinct
    * train gram set, then gaps-and-islands: `pos − row_number()` over
    * each doc's matched positions is constant exactly within a
    * consecutive run, so the run length is one (doc, grp) count and
    * the answer its per-doc max; a run of r grams spans r + 2 tokens.
    * All integers → hash-exact.
    *
    * Plan: one gram scan pinned (feeds train set, test stream, and
    * per-doc totals), train distinct is a gram-keyed shuffle the join
    * reuses, the window shuffles MATCHED positions only (≤ leaked
    * grams, doc-keyed) — nothing corpus-sized moves twice. */
  def q186(documents: DataFrame): DataFrame = {
    val P = 1000000007L
    val h = pmod(
      pmod(pmod(col("doc_id"), lit(P)) * lit(2654435761L), lit(P)) +
        lit(40490L), lit(100L))
    val pg = documents
      .select(col("doc_id"), split(lower(trim(col("text"))), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("w")) - 2, lit(1)),
          i => concat_ws(" ",
            element_at(col("w"), i),
            element_at(col("w"), i + 1),
            element_at(col("w"), i + 2)))).as(Seq("pos", "g")))
      .withColumn("h", h)
      .transform(graft.Pins.pin)
    val trainG = pg.filter(col("h") < 80).select(col("g")).distinct()
    val test = pg.filter(col("h") >= 90)
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = test.join(trainG, Seq("g"))
      .select(col("doc_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(wnd))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(max(col("run")).cast("long").as("mr"))
    test.groupBy(col("doc_id")).agg(count(lit(1)).cast("long").as("n_grams"))
      .join(runs, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("mr"), lit(0L)).as("max_run_grams"),
        when(coalesce(col("mr"), lit(0L)) > 0L, col("mr") + lit(2L))
          .otherwise(lit(0L)).as("max_run_tokens"))
      .orderBy(col("doc_id"))
  }

  /** q188: DUPLICATION-AWARE TRAINING WEIGHTS — the soft alternative
    * to dropping near-dup losers: keep every doc but down-weight each
    * member of a near-dup cluster by 1/|cluster| (so each distinct
    * "idea" contributes one unit of training mass regardless of how
    * many times the crawl found it — the data-repetition correction of
    * Muennighoff et al. 2023, "Scaling Data-Constrained Language
    * Models"). Per doc: its q64 cluster label (self for singletons),
    * cluster size, weight = 1e8/|cluster| (integer floor), whitespace
    * token count, and the doc's EFFECTIVE token contribution
    * tokens·weight — summing `eff_tokens_e8`/1e8 over a cluster ≈ one
    * representative's token mass.
    *
    * All longs → hash-exact. Plan: cluster labels come from the same
    * iterative min-label propagation as q64 (edges per clique are
    * linear — rep pairs + star edges, NOT n²); sizes are one
    * label-keyed count; the corpus joins labels and sizes by key.
    * Nothing here is new shuffle shape at 100 TB — it is q64's plan
    * plus two key-partitioned joins. */
  def q188(documents: DataFrame,
           precomputedLabels: Option[DataFrame] = None): DataFrame = {
    // `precomputedLabels`: the s27 ClusterIndex serving path — see
    // [[graft.operators.Pipeline.q105]]'s rationale
    val labels = precomputedLabels.getOrElse(clusters(neardupEdges(documents)))
    val docs = documents.select(col("doc_id"), col("source"),
      size(split(trim(col("text")), " ")).cast("long").as("tokens"))
    val lab = docs.join(labels, Seq("doc_id"), "left_outer")
      .withColumn("label", coalesce(col("label"), col("doc_id")))
      .transform(graft.Pins.pin)
    val sizes = lab.groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("csize"))
    lab.join(sizes, Seq("label"))
      .withColumn("weight_e8", expr("100000000L div csize"))
      .withColumn("eff_tokens_e8", col("tokens") * col("weight_e8"))
      .select(col("doc_id"), col("source"), col("label"), col("csize"),
        col("weight_e8"), col("tokens"), col("eff_tokens_e8"))
      .orderBy(col("doc_id"))
  }

  // -------------------------------------------- byte-granular substrings

  /** q200 parameters: matches of ≥ [[SubstrMinLen]] NORMALIZED chars
    * are GUARANTEED found (the winnowing bound t = w + w' − 1 with
    * gram length w = [[SubstrGram]] and window w' = t − w + 1). */
  val SubstrMinLen = 64
  val SubstrGram = 16

  /** Winnowing fingerprints (Schleimer et al., SIGMOD'03 — the MOSS
    * algorithm) over the NORMALIZED CHARACTER stream of one document:
    * every window of w' consecutive char-gram hashes contributes its
    * minimum (rightmost on ties), so any two documents sharing a
    * verbatim substring of ≥ t = w + w' − 1 chars select the SAME
    * gram at aligned positions — the byte-granular detection
    * guarantee a suffix array gives, at ~2/w' of the positions
    * instead of all of them. Hashes are two independent polynomial
    * rolls (bases 31/131, primes 1e9+7/998244353) packed into one
    * long: 60-bit effective width so candidate generation stays
    * collision-sparse at corpus scale (false candidates are killed by
    * the exact extension verify regardless). Emits (pos, packed). */
  private[graft] def winnowChars(text: String, gram: Int, minLen: Int)
      : Seq[(Int, Long)] = {
    // win = minLen - gram + 1 must be >= 1: below that the window loop
    // would run past the gram-hash array (and the detection guarantee
    // t = w + w' - 1 is vacuous anyway). Checked HERE so every public
    // entry (q200/q201/q202/SubstrIndex) inherits the guard.
    require(minLen >= gram,
      s"minLen ($minLen) must be >= gram ($gram): winnowing window " +
        "w' = minLen - gram + 1 needs at least one gram")
    val n = text.length
    if (n < gram) return Nil
    val P1 = 1000000007L; val B1 = 31L
    val P2 = 998244353L;  val B2 = 131L
    val nG = n - gram + 1
    val hs = new Array[Long](nG)
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < gram) {
      h1 = (h1 * B1 + text.charAt(i)) % P1
      h2 = (h2 * B2 + text.charAt(i)) % P2
      i += 1
    }
    // pow for the outgoing char
    var pw1 = 1L; var pw2 = 1L
    i = 0
    while (i < gram - 1) { pw1 = pw1 * B1 % P1; pw2 = pw2 * B2 % P2; i += 1 }
    hs(0) = (h1 << 31) | h2
    i = 1
    while (i < nG) {
      val out = text.charAt(i - 1)
      val in = text.charAt(i + gram - 1)
      h1 = ((h1 - out * pw1 % P1 + P1 * 31) % P1 * B1 + in) % P1
      h2 = ((h2 - out * pw2 % P2 + P2 * 131) % P2 * B2 + in) % P2
      hs(i) = (h1 << 31) | h2
      i += 1
    }
    val win = minLen - gram + 1
    if (nG <= win) {
      // short doc: one global minimum still fingerprints it
      var best = 0
      i = 1
      while (i < nG) { if (hs(i) <= hs(best)) best = i; i += 1 }
      return Seq((best, hs(best)))
    }
    val out = Seq.newBuilder[(Int, Long)]
    var last = -1
    var w0 = 0
    while (w0 + win <= nG) {
      // rightmost minimum of hs[w0, w0+win)
      if (last < w0) {
        var best = w0
        i = w0 + 1
        while (i < w0 + win) { if (hs(i) <= hs(best)) best = i; i += 1 }
        out += ((best, hs(best)))
        last = best
      } else {
        val newest = w0 + win - 1
        if (hs(newest) <= hs(last)) {
          out += ((newest, hs(newest)))
          last = newest
        }
      }
      w0 += 1
    }
    out.result()
  }

  /** Winnowing fingerprint rows (key, pos, h) of (key, t) rows, `t`
    * the normalized text ([[winnowChars]] per row) — the one
    * fingerprint stage of [[substringSpans]], [[q202]], [[q202Driver]]
    * and [[SubstrIndex]]. `K` is the key column's type. */
  private[graft] def winnowRows[K: scala.reflect.runtime.universe.TypeTag](
      texts: DataFrame, key: String, gram: Int, minLen: Int): DataFrame = {
    val spark = texts.sparkSession
    import spark.implicits._
    texts.select(col(key), col("t")).as[(K, String)]
      .flatMap { case (k, t) =>
        winnowChars(t, gram, minLen).map { case (pos, h) => (k, pos, h) }
      }
      .toDF(key, "pos", "h")
  }

  /** `rows` minus every `key` value carried by more than `dfCap`
    * distinct `carrier` values (none when dfCap ≤ 0) — Lee et al.'s
    * hot-gram cap (see [[q200]]): a corpus-wide boilerplate gram, or a
    * silence window, jingle anchor, logo tile or black frame, carried
    * by thousands of docs would make the blocking join quadratic in its
    * carriers. The document-frequency rollup is one partial-aggregated
    * shuffle over the key, the same exchange class as the join it
    * protects. The cap of [[substringSpans]], [[SubstrIndex]] and the
    * three media overlap kernels. */
  private[graft] def dropHot(rows: DataFrame, key: String, carrier: String,
                             dfCap: Int): DataFrame =
    if (dfCap <= 0) rows
    else rows.join(rows.groupBy(col(key))
        .agg(countDistinct(col(carrier)).as("df"))
        .filter(col("df") > dfCap).select(col(key)),
      Seq(key), "left_anti")

  /** Maximal verbatim spans of texts `a` and `b` along one diagonal
    * (`diag` = position in a − position in b). Each anchor (a gram
    * start in `a`; ascending) not inside the previous span, whose
    * `gram` chars really match in both texts (hash-collision anchors
    * die here), extends left and right to its maximal shared run;
    * runs ≥ `minLen` come out as (startA, startB, len). Anchor choice
    * cannot change a maximal extent, so the spans are exact and
    * deterministic. The one extension kernel of [[substringSpans]]
    * and [[SubstrIndex]]. */
  private[graft] def extendAnchors(a: String, b: String, diag: Int,
                                   anchors: Seq[Int], gram: Int,
                                   minLen: Int): Seq[(Int, Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int, Int)]
    var coveredTo = -1 // end (exclusive) of the last span in a
    anchors.foreach { pa =>
      val pb = pa - diag
      if (pa >= coveredTo && pb >= 0 && pb + gram <= b.length &&
          pa + gram <= a.length && a.regionMatches(pa, b, pb, gram)) {
        var lo = 0
        while (pa - lo - 1 >= 0 && pb - lo - 1 >= 0 &&
          a.charAt(pa - lo - 1) == b.charAt(pb - lo - 1)) lo += 1
        var hi = 0
        while (pa + gram + hi < a.length && pb + gram + hi < b.length &&
          a.charAt(pa + gram + hi) == b.charAt(pb + gram + hi)) hi += 1
        val len = gram + lo + hi
        coveredTo = pa + gram + hi
        if (len >= minLen) out += ((pa - lo, pb - lo, len))
      }
    }
    out.result()
  }

  /** Characters covered by the union of [start, end) intervals sorted
    * by start, overlaps counted once — the covered-length walk of
    * [[q201]] and [[SubstrIndex.containment]]. */
  private[graft] def coveredLength(iv: Seq[(Int, Int)]): Long = {
    var tot = 0L; var cs = -1; var ce = -1
    iv.foreach { case (s0, e0) =>
      if (s0 > ce) { if (ce > cs) tot += ce - cs; cs = s0; ce = e0 }
      else if (e0 > ce) ce = e0
    }
    if (ce > cs) tot += ce - cs
    tot
  }

  /** q200: BYTE-GRANULAR cross-document repeated substrings — the
    * character-level ExactSubstr signal of Lee et al. '22 ("Dedup-
    * licating Training Data Makes Language Models Better") that the
    * k-token windows (q114/q119) approximate at token granularity:
    * maximal verbatim shared spans ≥ [[SubstrMinLen]] normalized
    * chars between document pairs, sub-token boundaries included.
    *
    * The sequential formulation is a suffix array; the distributed
    * re-expression is winnowing + exact extension:
    *  1. each doc emits its winnowing fingerprints — ~2/w' of
    *     positions, 8-byte hashes, never text — with the guarantee
    *     that every shared span ≥ t selects the same gram in both
    *     docs at aligned positions;
    *  2. the fingerprint equi-join yields candidate (pair, diagonal)
    *     alignments (diag = pos_a − pos_b is constant across one
    *     shared span, so all anchors of a span collapse into ONE
    *     group — one text shipment per aligned region, not per
    *     anchor);
    *  3. exact verification ships the two normalized texts once per
    *     (pair, diagonal) and extends each anchor to its MAXIMAL
    *     shared span, skipping anchors the previous span already
    *     covers. Output spans are exact and deterministic (anchor
    *     choice cannot change a maximal extent); spans shorter than t
    *     that happen to anchor are reported too — extras above the
    *     guarantee, also exact.
    *
    * Scale: stage-1 shuffle is fingerprint-sized (~2·bytes/w'); the
    * candidate join is the usual blocking-join shape (boilerplate
    * shared by m docs costs its pair expansion — [[q202]] is the
    * mandatory pre-flight that names the heavy fingerprint buckets
    * BEFORE a 100 TB run); verify ships text only for candidate
    * diagonals. `dfCap > 0` drops fingerprint hashes carried by more
    * than dfCap reps from candidate generation (Lee et al.'s own
    * hot-gram mitigation): a corpus-wide license header or nav-chrome
    * gram otherwise puts every carrier in one bucket and the join
    * goes quadratic in carriers. Spans anchored ONLY by capped grams
    * are forgone, knowingly — the q202 report says which grams those
    * are and how many carriers they have. rows-only: a cross-doc
    * maximal-substring table is not portable SQL — the spec
    * brute-forces parity on the real corpus. */
  def q200(documents: DataFrame, minLen: Int = SubstrMinLen,
           gram: Int = SubstrGram, topK: Int = 50,
           dfCap: Int = 0): DataFrame =
    substringSpans(documents, minLen, gram, dfCap)._1
      // start_b completes the total order: a passage REPEATED inside
      // doc_b yields the same (pair, start_a, match_len) at two
      // start_b values, and without it rows at the limit() boundary
      // could differ across runs
      .orderBy(col("match_len").desc, col("doc_a"), col("doc_b"),
        col("start_a"), col("start_b"))
      .limit(topK)

  /** Rep-level verified span frame (doc_a, doc_b, start_a, start_b,
    * match_len, excerpt) + the members map — shared by the q200 report,
    * the q201 coverage rollup and the q203 scrub. [[SubstrIndex]] runs
    * the same fingerprint, hot-gram cap and extension kernels against
    * its fitted tables. */
  private[graft] def substringSpans(documents: DataFrame, minLen: Int,
                                    gram: Int, dfCap: Int = 0)
      : (DataFrame, DataFrame) = {
    // eager twin of the winnowChars guard: the kernel's own require
    // only fires inside the executor flatMap — catch the bad knob at
    // plan-build time instead
    require(minLen >= gram,
      s"minLen ($minLen) must be >= gram ($gram)")
    val spark = documents.sparkSession
    import spark.implicits._
    // exact-dup collapse (the round-8 q41/q93 discipline): a clique of
    // m byte-identical docs shares EVERYTHING — reporting C(m,2)
    // whole-doc spans is q40's job, not q200's; spans are reported
    // between exact-dup representatives
    val (reps, members) = exactReps(documents)
    val norm = reps
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .transform(graft.Pins.pin)
    val fps = dropHot(winnowRows[Long](norm, "doc_id", gram, minLen),
      "h", "doc_id", dfCap)
    val cands = fps.as("a")
      .join(fps.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"), col("b.pos").as("pos_b"))
    val perDiag = cands
      .groupBy(col("doc_a"), col("doc_b"),
        (col("pos_a") - col("pos_b")).as("diag"))
      .agg(sort_array(collect_set(col("pos_a"))).as("anchors"))
    val ta = norm.select(col("doc_id").as("doc_a"), col("t").as("t_a"))
    val tb = norm.select(col("doc_id").as("doc_b"), col("t").as("t_b"))
    val spans = perDiag
      .join(ta, "doc_a").join(tb, "doc_b")
      .select(col("doc_a"), col("doc_b"), col("diag"), col("anchors"),
        col("t_a"), col("t_b"))
      .as[(Long, Long, Int, Seq[Int], String, String)]
      .flatMap { case (da, db, diag, anchors, tA, tB) =>
        extendAnchors(tA, tB, diag, anchors, gram, minLen).map {
          case (sa, sb, len) =>
            (da, db, sa, sb, len, tA.substring(sa, sa + math.min(len, 48)))
        }
      }
      .toDF("doc_a", "doc_b", "start_a", "start_b", "match_len", "excerpt")
      .distinct()
    (spans, members)
  }

  /** q201: per-document DUPLICATED-BYTE coverage — the byte-granular
    * q115 analog over [[q200]]'s span frame: for each document, the
    * fraction of its normalized characters covered by at least one
    * cross-document shared span ≥ minLen (overlapping spans counted
    * once via a sorted interval-union walk). Lee et al.'s headline
    * metric ("what fraction of the corpus is verbatim repeats?") per
    * doc; exact-dup clique members inherit their rep's coverage
    * through the members map. Scale: spans are pair-count-sized, the
    * union walk is per-doc over its own spans, and the only new
    * exchanges are doc_id-keyed. rows-only like q200. */
  def q201(documents: DataFrame, minLen: Int = SubstrMinLen,
           gram: Int = SubstrGram, dfCap: Int = 0): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (spans, members) = substringSpans(documents, minLen, gram, dfCap)
    // both endpoints of a span carry coverage
    val sides = spans
      .select(col("doc_a").as("rep"), col("start_a").as("s"),
        (col("start_a") + col("match_len")).as("e"))
      .unionAll(spans.select(col("doc_b").as("rep"),
        col("start_b").as("s"), (col("start_b") + col("match_len")).as("e")))
    val covered = sides
      .groupBy(col("rep"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"))
      .as[(Long, Seq[(Int, Int)])]
      .map { case (rep, iv) => (rep, coveredLength(iv)) }
      .toDF("rep", "covered_chars")
    documents
      .select(col("doc_id"),
        length(lower(trim(col("text")))).cast("long").as("n_chars"))
      .join(members, "doc_id")
      .join(covered, Seq("rep"), "left_outer")
      .na.fill(0L, Seq("covered_chars"))
      .select(col("doc_id"), col("n_chars"), col("covered_chars"),
        (col("covered_chars").cast("double") /
          greatest(col("n_chars"), lit(1L)).cast("double")).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** q202: WINNOWING-FINGERPRINT blocking-skew pre-flight — the
    * q112/q123 discipline applied to the THIRD blocking family, the
    * q200/s26 fingerprint equi-join: every blocking self-join gets a
    * heavy-bucket report before a 100 TB run, because exact-dup
    * collapse cannot absorb near-identical CARRIERS — a corpus-wide
    * boilerplate 16-gram (license header, nav chrome) that winnowing
    * selects in m distinct reps puts all m in one fingerprint bucket,
    * and the candidate join contributes up to C(rows, 2) pairs for
    * that bucket alone. The report names the heaviest buckets with
    * their carrier count (distinct reps), row count (a rep can anchor
    * the same hash at several positions), share of all fingerprint
    * rows, and the C(rows, 2) candidate ceiling — so the corpus side
    * can be pre-filtered (q101 boilerplate, q119 span scrub) or the
    * gram capped (`dfCap` on [[q200]]/[[SubstrIndex.fit]], Lee et
    * al.'s mitigation) BEFORE the join goes quadratic, not after.
    * Plan shape: the fingerprint flatMap (q200 stage 1), one
    * partial-aggregated rollup on the 8-byte hash, broadcast total,
    * top-k. */
  def q202(documents: DataFrame, minLen: Int = SubstrMinLen,
           gram: Int = SubstrGram, topK: Int = 10): DataFrame = {
    require(minLen >= gram,
      s"minLen ($minLen) must be >= gram ($gram)")
    val (reps, _) = exactReps(documents)
    val fps = winnowRows[Long](
      reps.select(col("doc_id"), lower(trim(col("text"))).as("t")),
      "doc_id", gram, minLen)
    val perBucket = fps
      .groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("carrier_docs"),
        count(lit(1)).as("bucket_rows"))
    val total = perBucket.agg(sum(col("bucket_rows")).as("total_rows"))
    perBucket.crossJoin(broadcast(total))
      .select(col("h"), col("carrier_docs"), col("bucket_rows"),
        (col("bucket_rows").cast("double") / col("total_rows")).as("share"),
        // integer `div`, not Divide — the q112 exactness rationale
        expr("bucket_rows * (bucket_rows - 1) div 2").cast("long")
          .as("cand_pairs"))
      .orderBy(col("bucket_rows").desc, col("carrier_docs").desc, col("h"))
      .limit(topK)
  }

  /** Driver-facing RECONCILIATION of [[q202]] — the q112Driver trick
    * on the winnowing machinery: [[winnowChars]] emits AT LEAST one
    * fingerprint for every text of ≥ `gram` chars (the short-doc
    * branch emits exactly one; the window loop at least one), so the
    * count of distinct fingerprinted reps must equal the count of
    * distinct normalized texts with length ≥ gram — computed
    * INDEPENDENTLY on both engines. A kernel bug that silently drops
    * a doc's fingerprints (voiding the q200/s26 detection guarantee
    * for that doc) is now a hash mismatch at the gate; the top-k
    * report itself stays [[q202]] (hash-valued buckets, spec-checked). */
  def q202Driver(documents: DataFrame, minLen: Int = SubstrMinLen,
                 gram: Int = SubstrGram): DataFrame = {
    val (reps, _) = exactReps(documents)
    val norm = reps
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .transform(graft.Pins.pin)
    val eligible = norm
      .filter(length(col("t")) >= gram)
      .agg(count(lit(1)).cast("long").as("n_reps_eligible"))
    val fingerprinted = winnowRows[Long](norm, "doc_id", gram, minLen)
      .agg(countDistinct(col("doc_id")).cast("long")
        .as("n_docs_fingerprinted"))
    val bounds = q202(documents, minLen, gram)
      .agg(max(col("share")).as("mx"), min(col("share")).as("mn"))
    eligible.crossJoin(broadcast(fingerprinted)).crossJoin(broadcast(bounds))
      .select(lit(gram.toLong).as("gram"), lit(minLen.toLong).as("min_len"),
        col("n_reps_eligible"), col("n_docs_fingerprinted"),
        (col("n_reps_eligible") === col("n_docs_fingerprinted"))
          .as("coverage_ok"),
        // coalesce: zero q202 rows (no rep reaches gram length) make
        // max/min NULL — vacuously in-bounds, same as q204Driver
        coalesce(col("mx") <= lit(1.0) && col("mn") > lit(0.0), lit(true))
          .as("share_bounds_ok"))
  }

  /** q203: BYTE-GRANULAR substring SCRUB — the missing rewrite half of
    * the q200 family: q119 REMOVES repeated spans at k-token
    * granularity, q200 DETECTS at byte granularity, and this operator
    * closes the square by removing at byte granularity — Lee et al.'s
    * actual ExactSubstr treatment (they delete the repeated bytes, not
    * the documents). Composition: [[substringSpans]]'s verified span
    * frame → per-document interval union (the q201 walk) → cut the
    * covered character ranges out of the NORMALIZED text, merging
    * overlaps so a character cut by two spans is cut once.
    *
    * `keepFirst` (default true, the Lee et al. semantics): each span
    * is cut only from its doc_b side, so shared content survives in
    * exactly one place — the globally smallest-id carrier (any doc
    * that is doc_b in SOME pair for that content loses it; the
    * minimal carrier is never doc_b for it). `keepFirst = false` cuts
    * both sides — the decontamination stance where NO copy may
    * survive. Either way a re-run of [[q200]] on the scrubbed output
    * reports no cross-document span ≥ minLen (the spec's closure
    * check), modulo spans newly CREATED by cut seams — text that was
    * ≥ minLen-distant before scrubbing becoming adjacent — which the
    * kernel does not chase (Lee et al.'s choice too; a second pass
    * converges if a pipeline cares).
    *
    * Exact-dup clique members inherit their rep's cuts through the
    * members map (byte-identical normalized texts carry identical
    * spans). Output: (doc_id, text [scrubbed normalized], n_chars,
    * cut_chars) — the `text` column feeds any downstream stage
    * ([[Pipeline.cleanCorpus]]'s `scrubBytes`).
    *
    * Scale: spans/cuts are pair-count-sized; the rebuild ships each
    * CUT rep's text once (uncut docs never leave their scan — the
    * left_outer + coalesce keeps them untouched); exchanges beyond
    * substringSpans' own are doc_id-keyed. rows-only like q200. */
  /** Driver-facing RECONCILIATION of [[q203]] — the length identity
    * the cut walk must preserve: the scrubbed text PARTITIONS the
    * normalized original into kept + cut characters, so
    * length(scrubbed) == n_chars − cut_chars for every doc, and
    * 0 ≤ cut_chars ≤ n_chars. DuckDB independently computes each
    * doc's n_chars from the corpus; the identities are predicted-TRUE
    * verdicts. An interval-walk bug (double-cut overlap, off-by-one
    * seam, dropped tail) breaks the identity and hash-mismatches at
    * the gate; the scrubbed corpus itself stays [[q203]]. */
  def q203Driver(documents: DataFrame, minLen: Int = SubstrMinLen,
                 gram: Int = SubstrGram): DataFrame =
    q203(documents, minLen, gram)
      .select(col("doc_id"), col("n_chars"),
        (length(col("text")).cast("long") ===
          col("n_chars") - col("cut_chars")).as("len_ok"),
        (col("cut_chars") >= 0L && col("cut_chars") <= col("n_chars"))
          .as("cut_bounds_ok"))
      .orderBy(col("doc_id"))

  /** Interval-union cut: remove the characters covered by `iv`
    * ([start, end) pairs, pre-sorted by start) from `t`, merging
    * overlaps so a char cut by two spans is cut once. Returns
    * (surviving text, chars cut) — the rewrite core shared by [[q203]]
    * and the index-served [[SubstrIndex.scrub]]. */
  private[graft] def cutCovered(t: String, iv: Seq[(Int, Int)])
      : (String, Long) = {
    val sb = new StringBuilder
    var cut = 0L
    var pos = 0          // next uncopied char
    var cs = -1; var ce = -1
    // NB: substring, not append(t, i, j) — Scala auto-tuples the
    // 3-arg call into append(Any) and writes "(text,i,j)" literally
    def flush(): Unit = if (ce > cs) {
      if (cs > pos) sb.append(t.substring(pos, cs))
      cut += math.min(ce, t.length) - cs
      pos = math.max(pos, math.min(ce, t.length))
    }
    iv.foreach { case (s0, e0) =>
      if (s0 > ce) { flush(); cs = s0; ce = e0 }
      else if (e0 > ce) ce = e0
    }
    flush()
    if (pos < t.length) sb.append(t.substring(pos))
    (sb.result(), cut)
  }

  def q203(documents: DataFrame, minLen: Int = SubstrMinLen,
           gram: Int = SubstrGram, dfCap: Int = 0,
           keepFirst: Boolean = true): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (spans, members) = substringSpans(documents, minLen, gram, dfCap)
    val cutsB = spans.select(col("doc_b").as("rep"), col("start_b").as("s"),
      (col("start_b") + col("match_len")).as("e"))
    val cuts =
      if (keepFirst) cutsB
      else cutsB.unionAll(spans.select(col("doc_a").as("rep"),
        col("start_a").as("s"), (col("start_a") + col("match_len")).as("e")))
    val norm = documents
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
      .transform(graft.Pins.pin)
    // rebuild ONLY reps that have cuts; everyone else passes through
    val scrubbed = cuts
      .groupBy(col("rep"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("iv"))
      .join(norm.select(col("doc_id").as("rep"), col("t")), "rep")
      .select(col("rep"), col("iv"), col("t"))
      .as[(Long, Seq[(Int, Int)], String)]
      .map { case (rep, iv, t) =>
        val (kept, cut) = cutCovered(t, iv)
        (rep, kept, cut)
      }
      .toDF("rep", "scrubbed", "cut_chars")
    norm
      .join(members, "doc_id")
      .join(scrubbed, Seq("rep"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("scrubbed"), col("t")).as("text"),
        length(col("t")).cast("long").as("n_chars"),
        coalesce(col("cut_chars"), lit(0L)).as("cut_chars"))
      .orderBy(col("doc_id"))
  }
}
