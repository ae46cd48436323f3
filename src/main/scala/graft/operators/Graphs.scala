package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond connected components (SURVEY.md
  * §2c) — PageRank over the crawl's domain link graph, the standard
  * domain-authority signal a crawl-curation pipeline feeds into
  * quality weighting (OPIC/Common-Crawl-style harmonic-centrality
  * ranks are this plan shape too).
  *
  * Spark-first iteration: ranks live in a domain-keyed DataFrame; each
  * round is one equi-join (edges ⋈ ranks ⋈ outdeg) + one map-side-
  * combined aggregation — the exchange carries (node, long) rows, never
  * the graph payload. `localCheckpoint(eager)` per round cuts the
  * growing lineage exactly like q64's min-label loop. Iteration count
  * is FIXED (default 10), which is what makes the DuckDB oracle
  * possible: ten unrolled chained CTEs, no recursion-with-aggregation.
  *
  * Float discipline (§6): the per-round contribution Σ r(src)/outdeg
  * floor-scales each term to an exact 1e-12-granular long BEFORE the
  * sum (the q122 idiom), so the aggregation is order-free integer
  * arithmetic and every iteration is BIT-IDENTICAL in both engines by
  * induction: identical inputs → identical IEEE divide/multiply/floor
  * per term, identical integer sum, identical damping update.
  * Truncation loses < edges·1e-12 of rank mass per round — far below
  * any ranking-relevant signal, and deterministically the same
  * everywhere. */
object Graphs {

  /** Node-count ceiling for the BROADCAST per-round strategy: at or
    * below it the node-sized rank/label/distance/score tables ride
    * broadcast hints (zero node-table shuffles per round, the right
    * trade for domain graphs — ~100M nodes ≈ 8 GiB of (node, double));
    * above it every iterative operator switches to the CO-PARTITIONED
    * path: no broadcast hints (the node table would exceed executor
    * memory and the driver's collect ceiling), and the pinned edge
    * list is pre-partitioned on its per-round join key so the cached
    * edges already satisfy the join's required distribution — per
    * round only node-sized frames move, the edge payload NEVER
    * re-exchanges in either mode. The decision costs one count() on
    * the pinned node table — metadata-cheap next to the join rounds.
    * Both paths are the same algebra (parity-specced in GraphsSpec
    * with `broadcastNodeLimit = 0`); the big-graph round shape is
    * pinned by PlanBudgetSpec (no BroadcastHashJoin above the
    * threshold). */
  final val BroadcastNodeLimit: Long = 100000000L

  /** Broadcast-or-not for the node-sized per-round tables; one-row
    * totals stay unconditionally broadcast. */
  private def bc(df: DataFrame, use: Boolean): DataFrame =
    if (use) broadcast(df) else df

  /** Right-size a frame that the round loop will READ `iters` times
    * from cache (r20, guide §2.2 "fewer, larger map tasks"): edge
    * derivations come out of their unions/joins with 100+ partitions
    * whose per-round read cost is pure fixed task overhead (q154
    * StageProbe: ~9 s of task time per round over ~100 tiny tasks and
    * 150 KB of cached rows). Coalesce — narrow, no exchange — to the
    * scheduler's parallelism: scale-adaptive (defaultParallelism is
    * the executor core total on a cluster), never below the source's
    * own partition count for big inputs (coalesce to a LARGER number
    * is a no-op). Only used on the broadcast-mode read path — the
    * co-partitioned mode repartitions by join key instead, which
    * already sizes to spark.sql.shuffle.partitions. */
  private def sized(df: DataFrame): DataFrame =
    df.coalesce(df.sparkSession.sparkContext.defaultParallelism)

  /** Partition target for the per-round CACHE READS in broadcast mode
    * (r20, guide §2.2 "fewer, larger map tasks"): ~2M rows (~64 MB of
    * two/three-long rows) per task, floor 1 — measured from the pinned
    * frame's own row count, so the sizing is scale-adaptive, not a
    * local-core constant: a domain graph reads as a handful of tasks
    * per round instead of `iters × partitions` fixed-overhead slots; a
    * 10^10-edge graph still gets thousands. Broadcast mode only — the
    * co-partitioned path's frames are hash-partitioned by join key and
    * a coalesce would destroy that distribution. */
  private def roundSlices(rows: Long): Int =
    math.max(1L, (rows + 1999999L) / 2000000L).toInt

  /** One iterative run's round layout, decided ONCE from the pinned
    * node table: the node count, broadcast-or-co-partitioned
    * ([[BroadcastNodeLimit]]), and every frame shape that follows from
    * that choice. `e0` is the run's pinned edge list. */
  private final class Rounds(e0: DataFrame, val nodes: DataFrame, limit: Long) {
    val nNodes: Long = nodes.count()
    val useBcast: Boolean = nNodes <= limit

    def bc(df: DataFrame): DataFrame = Graphs.bc(df, useBcast)

    /** LAZY cuts in broadcast mode (r20, the Dedup.clusters
      * discipline): each round consumes the previous round's frame
      * through a broadcast whose collect job materializes the lazily
      * marked checkpoint as a side effect — so a round is ONE job
      * instead of [checkpoint job + broadcast job] (q154 StageProbe: 55
      * jobs → 35). A second consumer in the same round (q175's union
      * side) reads the blocks after the broadcast stage it depends on
      * has written them. The plan stays flat either way:
      * localCheckpoint truncates the logical plan at call time, only
      * the block write is deferred. Co-partitioned mode keeps EAGER
      * cuts — there the next round reads the frame through exchanges,
      * where deferred materialization would race two consumers into
      * computing the same checkpoint RDD. */
    def cut(df: DataFrame): DataFrame = Ckpt.cut(df, eager = !useBcast)

    /** `init` cut, then `rounds` cut applications of `step`. */
    def iterate(init: DataFrame, rounds: Int)(step: DataFrame => DataFrame): DataFrame =
      (1 to rounds).foldLeft(cut(init))((s, _) => cut(step(s)))

    // per-round read parallelism from MEASURED row counts (broadcast
    // mode only — see roundSlices); e0 is already materialized by the
    // node derivation, so the edge count is one cache-read job
    private lazy val edgeSlices = roundSlices(e0.count())

    /** An edge-sized frame as the rounds read it. */
    def read(df: DataFrame): DataFrame =
      if (useBcast) df.coalesce(edgeSlices) else df

    /** The node table as the rounds read it. */
    lazy val nodesR: DataFrame =
      if (useBcast) nodes.coalesce(roundSlices(nNodes)) else nodes

    /** `e0` laid out for joins on `key`: hash-partitioned on it when
      * co-partitioned, so a frame cached from it already satisfies the
      * join's required distribution and the edge payload never
      * re-exchanges per round. */
    def keyed(key: String): DataFrame =
      if (useBcast) e0 else e0.repartition(col(key))

    /** The edge frame of rounds joining on `key` (pinned when
      * co-partitioned; broadcast mode reads `e0` itself). */
    def edges(key: String): DataFrame =
      if (useBcast) read(e0) else graft.Pins.pin(keyed(key))
  }

  /** The directed prelude of [[pagerank]] and [[hits]]: `e0` pinned
    * FIRST — the node derivation references it twice (the src and dst
    * branches of the union) and the round edge frames once more;
    * unpinned, the caller's whole edge derivation (q154: URL-normalize
    * + chain join) replayed ~3× before any round ran (r19, guide §2.4). */
  private def directed(edges: DataFrame, limit: Long): Rounds = {
    val e0 = graft.Pins.pin(edges)
    new Rounds(e0, graft.Pins.pin(e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()), limit)
  }

  /** The symmetrized prelude of [[labelProp]] and [[q175]]: both
    * orientations of ONE pinned input projection (the union references
    * it twice; unpinned, the caller's edge derivation replays for the
    * reversed branch, r19), and the distinct result pinned too — nodes
    * and the round edge frame both reference it. */
  private def symmetrized(edges: DataFrame, limit: Long): Rounds = {
    val ein = graft.Pins.pin(sized(edges.select(col("src"), col("dst"))))
    val e0 = graft.Pins.pin(ein
      .unionByName(ein.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    new Rounds(e0, graft.Pins.pin(e0.select(col("src").as("node")).distinct()),
      limit)
  }

  /** The degree-join prelude of [[triangleStats]] and [[assortativity]]:
    * the node degree table and the distinct undirected edges (a < b,
    * no self-loops) carrying both endpoint degrees (da, db). */
  private def withDegrees(edges: DataFrame): (DataFrame, DataFrame) = {
    val und = graft.Pins.pin(
      edges
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    val deg = graft.Pins.pin(
      und.select(col("a").as("n"))
        .unionByName(und.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).cast("long").as("deg")))
    (deg, und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b"))
  }

  /** Fixed-iteration damped PageRank over a directed edge list
    * (src, dst). Every node must appear as a src (no dangling mass —
    * the q154 edge derivation guarantees it by construction); dangling
    * nodes would silently lose their mass rather than redistribute.
    *
    * Broadcast mode cuts rounds LAZILY ([[Rounds.cut]]), so
    * every round runs inside the caller's final action: its outermost
    * broadcast exchange awaits the whole chain of per-round broadcast
    * jobs. `spark.sql.broadcastTimeout` (default 300 s) therefore bounds
    * the TOTAL multi-round runtime, not one round's collect, and the
    * `iters` nested broadcast futures each hold a thread of the bounded
    * broadcast-exchange pool while they wait. [[BroadcastNodeLimit]]
    * keeps both far off at the sizes this mode serves; eager cuts (the
    * co-partitioned mode) never had either limit. */
  def pagerank(edges: DataFrame, iters: Int = 10, alpha: Double = 0.85,
               broadcastNodeLimit: Long = BroadcastNodeLimit): DataFrame = {
    // Plan shape per round: the EDGE list (the only corpus-sized frame,
    // pinned — one derivation feeds all rounds) streams through two
    // joins against the node-sized ranks and out-degree tables —
    // BROADCAST hash joins at or under `broadcastNodeLimit` nodes,
    // CO-PARTITIONED joins above it (edges cached pre-partitioned on
    // src, so the cached layout satisfies the join's required
    // distribution and only the rank table shuffles) — then one
    // map-side-combined aggregation whose exchange carries ≤ nodes
    // (node, long) rows. `localCheckpoint` per round keeps each
    // round's plan flat (a lazily-composed 10-round tree re-plans all
    // prior rounds per round — measured 12 s vs ~4 s at sf0.01).
    val r = directed(sized(edges.select(col("src"), col("dst"))),
      broadcastNodeLimit)
    // LOOP-INVARIANT work folded OUT of the rounds (r19 StageProbe:
    // ~96 jobs per q154 run, most of them per-round rebuild+broadcast
    // of frames that never change — Spark reuses exchanges within one
    // query, never across the checkpointed round queries):
    //  - out-degree rides the pinned edge frame (src, dst, od), so no
    //    per-round bc(outdeg) join exists at all;
    //  - the node-count total is the SAME value the broadcast guard
    //    just collected (nodes.count()), so the old per-round one-row
    //    nn aggregate + broadcast becomes a literal.
    // Co-partitioned, e0 is partitioned on src BEFORE the out-degree
    // join, so only eod is pinned — no second edge-sized copy.
    val eBase = r.keyed("src")
    val outdeg = eBase.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val eod = r.read(graft.Pins.pin(eBase.join(r.bc(outdeg), "src")
      .select(col("src"), col("dst"), col("od"))))
    val n = r.nNodes.toDouble
    r.iterate(r.nodes.select(col("node"), (lit(1.0) / lit(n)).as("pr")), iters)(
      pagerankRound(eod, r.nodesR, n, _, alpha, r.useBcast))
  }

  /** One PageRank round as a LAZY plan — extracted so PlanBudgetSpec
    * can pin the co-partitioned round's shape (the driver loop's
    * localCheckpoint erases plans before a spec could read them).
    * `eod` carries (src, dst, od) — the out-degree pre-joined once at
    * fit time; `n` is the node count (already collected by the
    * broadcast guard).
    *
    * r20 round shape (guide §2.4): the floor-scaled contribution terms
    * UNION a zero row per node and ONE aggregation produces the next
    * rank frame directly — the old shape aggregated contributions
    * first, then re-attached missing nodes with a second broadcast (or
    * co-partitioned) left-outer join, i.e. two broadcasts + a join per
    * round for what one map-side-combined exchange expresses. The sum
    * is unchanged: long addition is order-free and the zero row is the
    * join's old coalesce(s, 0) — nodes with no in-edges get s = 0,
    * everyone else the identical integer sum; the damping expression
    * is byte-identical → bit-identical ranks by induction (oracle
    * hash-exact confirms). */
  private[graft] def pagerankRound(eod: DataFrame, nodes: DataFrame,
      n: Double, ranks: DataFrame,
      alpha: Double, useBcast: Boolean): DataFrame = {
    val terms = eod
      .join(bc(ranks.withColumnRenamed("node", "src"), useBcast), "src")
      .select(col("dst").as("node"),
        floor(col("pr") / col("od").cast("double") * lit(1.0e12))
          .cast("long").as("c"))
    terms.unionByName(nodes.select(col("node"), lit(0L).as("c")))
      .groupBy(col("node")).agg(sum(col("c")).as("s"))
      .select(col("node"),
        (lit((1.0 - alpha) / n) +
          lit(alpha) * (col("s").cast("double") / lit(1.0e12))).as("pr"))
  }

  /** The crawl-chain domain edge list shared by q154 and q165: each
    * document's domain links the next doc_id's domain, wrapping
    * max→min so every domain has out-edges (no dangling mass, a
    * strongly-connected chain). A synthetic link derivation — the
    * documents table has no anchor/href data — but pure portable
    * column algebra, so the iterative operators over it stay oracle
    * hash-exact. */
  private[graft] def crawlEdges(documents: DataFrame): DataFrame = {
    // pinned: the (doc_id, domain) projection feeds FOUR consumers in
    // this one lazy plan (succ, the chain join, the bounds aggregate,
    // and both sides of the wrap join) — without the pin each consumer
    // replays the q148 URL-normalization scan over the full corpus,
    // i.e. ~4 corpus passes for a two-column frame (r19, guide §2.4)
    val d = graft.Pins.pin(
      UrlCuration.q148(documents).select(col("doc_id"), col("domain")))
    val succ = d.select((col("doc_id") - 1).as("doc_id"),
      col("domain").as("dst"))
    val bounds = d.agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    val chain = d.join(succ, "doc_id")
      .select(col("domain").as("src"), col("dst"))
    val wrap = d.crossJoin(broadcast(bounds))
      .filter(col("doc_id") === col("hi"))
      .select(col("domain").as("src"), col("lo"))
      .join(d.select(col("doc_id").as("lo"), col("domain").as("dst")), "lo")
      .select(col("src"), col("dst"))
    chain.unionByName(wrap)
  }

  /** q154: DOMAIN-AUTHORITY PageRank over [[crawlEdges]] — the first
    * fixed-point-verified iterative operator in the suite. */
  def q154(documents: DataFrame, iters: Int = 10,
           alpha: Double = 0.85): DataFrame =
    pagerank(crawlEdges(documents), iters, alpha)
      .withColumnRenamed("node", "domain")
      .orderBy(col("domain"))

  /** Synchronous LABEL PROPAGATION (Raghavan et al. 2007) over an
    * edge list, made fully deterministic — and therefore oracle-exact
    * — by fixing every freedom the textbook algorithm leaves open:
    * SYNCHRONOUS rounds (all nodes update from the previous round's
    * labels), a FIXED round count, and the tie rule "max neighbor
    * count, then MIN label". No floats anywhere: counts are longs,
    * labels are the node ids themselves — the third oracle-exact
    * iterative operator (PageRank q154, k-means q155), and the
    * community-detection answer to q64's connected components (CC
    * merges everything touching; LPA splits a connected graph into
    * densely-linked groups).
    *
    * Plan per round: the pinned symmetrized edge list streams through
    * ONE broadcast join against the node-sized label table, then a
    * map-side-combined (node, label) count whose exchange carries ≤
    * edge-endpoint distinct rows; the argmax is a node-sized
    * max-count join + min-label aggregate. localCheckpoint per round
    * (the q64/q154 lineage cut). Above [[BroadcastNodeLimit]] nodes
    * the hints drop away and the pinned edge list is cached
    * pre-partitioned on src — the co-partitioned path: per round only
    * the label table and the (dst, lbl) partial counts shuffle.
    * Broadcast mode cuts rounds lazily, as [[pagerank]] does, with the
    * same limits: `spark.sql.broadcastTimeout` bounds all rounds
    * together and each nested round holds a broadcast-exchange thread. */
  def labelProp(edges: DataFrame, iters: Int = 5,
                broadcastNodeLimit: Long = BroadcastNodeLimit): DataFrame = {
    val r = symmetrized(edges, broadcastNodeLimit)
    val e = r.edges("src")
    val wDst = org.apache.spark.sql.expressions.Window.partitionBy(col("dst"))
    r.iterate(r.nodes.withColumn("lbl", col("node")), iters) { labels =>
      // r20 argmax shape (guide §2.4): the tie rule "max count, then
      // min label" is ONE window max over the (dst, lbl) counts plus a
      // filter and a min — the old shape materialized the counts
      // (persist), rolled the per-dst max into a separate frame, and
      // re-attached it with a broadcast join, i.e. an extra exchange +
      // broadcast + a round-lifetime persist per round. The window
      // re-uses the count aggregation's dst-side partitioning
      // requirement (one exchange by dst serves window AND final
      // aggregate), the counts stream through it once, and the max/
      // filter/min algebra is unchanged → identical labels (integer
      // counts, deterministic tie-break; oracle hash-exact).
      e.join(r.bc(labels.withColumnRenamed("node", "src")), "src")
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .withColumn("mc", max(col("cnt")).over(wDst))
        .filter(col("cnt") === col("mc"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("lbl"))
        .withColumnRenamed("dst", "node")
    }
  }

  /** q174: TRIANGLE COUNT + global CLUSTERING COEFFICIENT of the
    * crawl's domain graph — the graph-density read next to q154's
    * authority and q165's communities (a high coefficient says the
    * domain neighborhood is clique-y: mirror networks, link farms).
    *
    * The REGISTERED plan is the degree-ordered ORIENTATION algorithm
    * (Chiba–Nishizeki / the MapReduce triangle standard): orient each
    * undirected edge from its lower (degree, name) endpoint, build
    * wedges only between ordered out-neighbors, close them with one
    * equi-join against the oriented edge list. Out-degrees under this
    * orientation are O(√m), so wedge count is near-optimal — the
    * reason this survives graphs where naive neighbor-pair joins
    * explode on hub nodes. The ORACLE counts the same triangles with
    * the naive canonical a<b<c triple join — two different algorithms
    * agreeing is the strongest cross-check in the graph family.
    *
    * Exactness (§6): everything is integer until the one coefficient
    * divide 3T/W (W = Σ deg·(deg−1)/2, guarded when 0). */
  def q174(documents: DataFrame): DataFrame =
    triangleStats(crawlEdges(documents))

  /** q195: DEGREE ASSORTATIVITY (Newman 2002) over [[crawlEdges]] —
    * the Pearson correlation of degrees across edge endpoints: link
    * farms and mirror networks read strongly assortative (hubs wiring
    * to hubs), organic crawl graphs mildly disassortative — the third
    * graph-shape diagnostic next to q174's clustering coefficient and
    * q168's concentration Gini. Each undirected edge counts in BOTH
    * orientations, so the x/y marginals coincide and
    * r = (M·Σxy − (Σx)²)/(M·Σx² − (Σx)²) with all moments EXACT longs
    * and ONE fixed IEEE divide → hash-exact; a degree-regular graph
    * (zero variance) reports 0 by convention. Moments fit a long to
    * ~10⁶ peak degree at 10⁹ edges; beyond that lift the products to
    * DECIMAL(38,0), same algebra (the q194 note).
    *
    * Plan: the q174 shape minus the wedge join — distinct undirected
    * edges, one degree count, two key joins, one row out. */
  def q195(documents: DataFrame): DataFrame =
    assortativity(crawlEdges(documents))

  /** The degree-correlation core over any (src, dst) edge list. */
  def assortativity(edges: DataFrame): DataFrame = {
    val (deg, withDeg) = withDegrees(edges)
    val nn = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
    withDeg
      .agg(count(lit(1)).cast("long").as("n_edges"),
        (count(lit(1)) * 2).cast("long").as("m"),
        sum(col("da") + col("db")).cast("long").as("sx"),
        sum(col("da") * col("da") + col("db") * col("db")).cast("long")
          .as("sxx"),
        sum(col("da") * col("db") * 2).cast("long").as("sxy"))
      .crossJoin(broadcast(nn))
      .withColumn("assortativity",
        when(col("m") * col("sxx") - col("sx") * col("sx") === 0L, lit(0.0))
          .otherwise(
            (col("m") * col("sxy") - col("sx") * col("sx")).cast("double") /
              (col("m") * col("sxx") - col("sx") * col("sx")).cast("double")))
      .select(col("n_nodes"), col("n_edges"), col("m"), col("sx"),
        col("sxx"), col("sxy"), col("assortativity"))
  }

  /** The oriented-wedge triangle core over any (src, dst) edge list —
    * q174's plan, reusable on arbitrary graphs (spec plants a K4). */
  def triangleStats(edges: DataFrame): DataFrame = {
    val (deg, withDeg) = withDegrees(edges)
    val aLower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = graft.Pins.pin(withDeg.select(
      when(aLower, col("a")).otherwise(col("b")).as("src"),
      when(aLower, col("b")).otherwise(col("a")).as("dst"),
      when(aLower, col("db")).otherwise(col("da")).as("dd")))
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("dd").as("dw"))
    val wedgeOrder = col("dv") < col("dw") ||
      (col("dv") === col("dw") && col("v") < col("w"))
    val tri = e1.join(e2, "src").filter(wedgeOrder)
      .join(oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"))
      .agg(count(lit(1)).cast("long").as("n_triangles"))
    val stats = deg.agg(count(lit(1)).cast("long").as("n_nodes"),
      (sum(col("deg")).cast("long") / 2).cast("long").as("n_edges"),
      sum(expr("deg * (deg - 1) div 2")).cast("long").as("wedges"))
    stats.crossJoin(broadcast(tri))
      .withColumn("clustering",
        when(col("wedges") > 0L,
          lit(3.0) * col("n_triangles").cast("double") /
            col("wedges").cast("double")).otherwise(0.0))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("wedges"), col("clustering"))
  }

  /** q175: K-HOP BFS NEIGHBORHOOD of the seed domain (the
    * lexicographically smallest — deterministic) over the symmetrized
    * crawl graph: every domain within `hops` hops with its exact hop
    * distance. The FOURTH oracle-exact iterative operator (authority
    * q154, communities q165, triangles q174, now distances) — the
    * "how far does this link neighborhood extend" read behind crawl
    * frontier budgeting and contamination blast-radius checks. All
    * integers, fixed round count (oracle unrolls `hops` rounds of
    * relax-and-min CTEs) → hash-exact by induction.
    *
    * Plan per round: edge list × ONE join against the reached
    * frontier (node-sized; broadcast under [[BroadcastNodeLimit]],
    * co-partitioned above — edges cached pre-partitioned on src) + a
    * map-side-combined min — the q154/q165 round shape;
    * localCheckpoint lineage cut. */
  def q175(documents: DataFrame, hops: Int = 6,
           broadcastNodeLimit: Long = BroadcastNodeLimit): DataFrame = {
    // ONE edge derivation, symmetrized in-plan (calling crawlEdges
    // twice ran the URL-normalize + chain-join pipeline twice, r19)
    val r = symmetrized(crawlEdges(documents), broadcastNodeLimit)
    val e = r.edges("src")
    val seed = e.agg(min(col("src")).as("node"))
    r.iterate(broadcast(seed).withColumn("dist", lit(0L)), hops) { dist =>
      val relax = e
        .join(r.bc(dist.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      dist.unionByName(relax)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }.select(col("node").as("domain"), col("dist").as("hop"))
      .orderBy(col("domain"))
  }

  /** q165: DOMAIN COMMUNITIES via label propagation over the crawl
    * graph — the curation signal for "which domain groups travel
    * together": mirror clusters, boilerplate networks, and content
    * farms show up as one community long before any per-doc dedup
    * finds their pairwise overlaps. Oracle unrolls the five rounds as
    * chained CTEs, like q154/q155. */
  def q165(documents: DataFrame, iters: Int = 5): DataFrame =
    labelProp(crawlEdges(documents), iters)
      .select(col("node").as("domain"), col("lbl").as("community"))
      .orderBy(col("domain"))

  /** Fixed-round HITS (Kleinberg 1999) over a DIRECTED edge list, made
    * oracle-exact by replacing the textbook's float normalization with
    * INTEGER renormalization: scores live as longs in [0, scale]; each
    * half-round sums the opposite score over edges (an order-free long
    * sum) and renormalizes with `raw·scale div total` — integer
    * multiply and integer division, so every round is bit-identical
    * across engines by induction with NO float ops anywhere. The FIFTH
    * member of the iterative family (authority q154, k-means q155,
    * communities q165, distances q175) and PageRank's directional
    * complement: authority finds the linked-TO domains, hub the
    * link-OUT aggregators (directories, link farms) — the pair a crawl
    * team reads side by side when deciding seed lists vs blocklists.
    *
    * Truncation from the integer div loses < nodes of score mass per
    * round (each node's floor costs < 1), deterministically the same
    * in both engines. Overflow bound: raw ≤ edges·scale, and the
    * renormalize multiplies by scale before dividing, so edges·scale²
    * must stay < 2⁶³ — at scale=1e6 that is ~9×10⁶ distinct edges; a
    * larger graph drops scale to 1e4 (same exactness argument, coarser
    * scores) or splits the multiply-divide as `raw div (total div
    * scale)` after checking total ≥ scale.
    *
    * Plan per round (the q154 shape): the pinned edge list streams
    * through ONE broadcast join against the node-sized score table,
    * then a map-side-combined long-sum whose exchange carries ≤ nodes
    * rows; the total is a one-row broadcast. localCheckpoint per round
    * cuts lineage. Above [[BroadcastNodeLimit]] nodes the hints drop
    * away and the edge list is pinned TWICE — once partitioned on src,
    * once on dst — because the half-rounds alternate join keys: 2×
    * edge cache buys zero edge-side exchanges across all 2·iters
    * half-rounds, the right trade when the alternative re-shuffles the
    * corpus-sized edge list every half-round. */
  def hits(edges: DataFrame, iters: Int = 5, scale: Long = 1000000L,
           broadcastNodeLimit: Long = BroadcastNodeLimit): DataFrame = {
    val r = directed(edges.select(col("src"), col("dst")).distinct(),
      broadcastNodeLimit)
    // broadcast mode reads e0 for both keys; only the co-partitioned
    // arm builds (and pins) the dst layout
    val eBySrc = r.edges("src")
    val eByDst = r.edges("dst")
    var hub = r.nodes.withColumn("h", lit(scale)).transform(Ckpt.cut(_))
    var auth = r.nodes.withColumn("a", lit(scale)).transform(Ckpt.cut(_))
    // one half-round: raw(n) = Σ over `joinKey` edges of the opposite
    // score, then integer renormalize to Σ≈scale
    def half(scores: DataFrame, scoreCol: String, joinKey: String,
             outKey: String, outCol: String): DataFrame = {
      val e = if (joinKey == "src") eBySrc else eByDst
      // r20 half-round shape (guide §2.4, the pagerankRound union
      // form): the edge-side score terms UNION a zero row per node and
      // ONE aggregation yields every node's raw sum directly — the old
      // shape aggregated edge sums first and re-attached missing nodes
      // with a node ⋈ raw left-outer join (a second broadcast per
      // half-round). Long addition is order-free and the zero row is
      // the old coalesce(raw, 0), so every raw value is the identical
      // integer — and the renormalize expression is unchanged →
      // bit-identical scores by induction (oracle hash-exact).
      // raw persisted per half-round: the renormalization total and
      // the projection both consume it — unpersisted, the edge ⋈
      // scores join ran twice per half-round (r19, guide §2.4).
      // Node-sized; scoped to its half-round, released after the eager
      // cut (r20): only the CURRENT half-round's frame is ever re-read,
      // so 2·iters accumulated pins were pure storage-memory pressure.
      graft.Pins.scope {
        val raw = e
          .join(r.bc(scores.withColumnRenamed("node", joinKey)), joinKey)
          .select(col(outKey).as("node"), col(scoreCol).as("v"))
          .unionByName(r.nodesR.select(col("node"), lit(0L).as("v")))
          .groupBy(col("node"))
          .agg(sum(col("v")).as("raw"))
          .transform(graft.Pins.pin)
        val tot = raw.agg(sum(col("raw")).as("t"))
        raw
          .crossJoin(broadcast(tot))
          .select(col("node"),
            coalesce(expr(s"(raw * $scale) div t"), lit(0L))
              .as(outCol))
          .transform(Ckpt.cut(_))
      }
    }
    for (_ <- 1 to iters) {
      auth = half(hub, "h", "src", "dst", "a")   // a(v) ∝ Σ_{u→v} h(u)
      hub = half(auth, "a", "dst", "src", "h")   // h(u) ∝ Σ_{u→v} a(v)
    }
    hub.join(auth, "node")
      .select(col("node"), col("h").as("hub"), col("a").as("authority"))
  }

  /** q180: HUBS & AUTHORITIES over the crawl's domain graph — [[hits]]
    * on [[crawlEdges]], scores as exact scaled longs. */
  def q180(documents: DataFrame, iters: Int = 5): DataFrame =
    hits(crawlEdges(documents), iters)
      .withColumnRenamed("node", "domain")
      .orderBy(col("domain"))
}
