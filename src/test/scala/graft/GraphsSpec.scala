package graft

import org.apache.spark.sql.functions._
import graft.operators.Graphs

/** q154 / Graphs.pagerank: fixed-point damped PageRank — planted
  * graphs with analytically-known stationary behavior, mass
  * conservation, determinism, and the q154 crawl-chain derivation. */
class GraphsSpec extends GraftSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(String, String)], iters: Int = 10) =
    Graphs.pagerank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getAs[String]("node") -> r.getAs[Double]("pr"))
      .toMap

  test("two-node cycle: symmetric ranks of 0.5 each") {
    val r = ranks(Seq("a" -> "b", "b" -> "a"))
    assert(math.abs(r("a") - 0.5) < 1e-9, r)
    assert(math.abs(r("b") - 0.5) < 1e-9, r)
  }

  test("star: the hub out-ranks every spoke, mass conserved") {
    // spokes all link the hub; hub links one spoke (no dangling).
    // 50 rounds: the a↔b exchange oscillates with amplitude ~0.85^k,
    // far below the 0.03 fixpoint gap by k=50 (10 rounds is not enough)
    val r = ranks(Seq("b" -> "a", "c" -> "a", "d" -> "a", "a" -> "b"), iters = 50)
    assert(r("a") > r("b") && r("b") > r("c"), r)  // b gets the hub's mass
    assert(r("c") == r("d"), r)                    // symmetric spokes tie
    // damped PageRank with no dangling nodes conserves total mass
    // (up to the 1e-12 fixed-point truncation per round)
    assert(math.abs(r.values.sum - 1.0) < 1e-6, r.values.sum)
  }

  test("ranks are layout-invariant and iteration-deterministic") {
    val edges = (0 until 50).map(i => (s"n$i", s"n${(i * 7 + 3) % 50}"))
    val df = edges.toDF("src", "dst")
    val a = Graphs.pagerank(df, 10).collect().map(_.toSeq).toSet
    val b = Graphs.pagerank(df.repartition(13), 10).collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("q154 crawl-chain: every domain ranked, mass conserved, deterministic") {
    val docs = Tables.documents(spark, SF)
    val out = Graphs.q154(docs).collect()
    val domains = graft.operators.UrlCuration.q148(docs)
      .select(col("domain")).distinct().count()
    assert(out.length == domains)
    assert(math.abs(out.map(_.getAs[Double]("pr")).sum - 1.0) < 1e-6)
    assert(out.forall(_.getAs[Double]("pr") > 0.0))
    val re = Graphs.q154(docs.repartition(7)).collect().map(_.toSeq).toSet
    assert(re == out.map(_.toSeq).toSet)
  }

  test("labelProp: two cliques joined by one bridge split into two communities") {
    // cliques {a1,a2,a3} and {b1,b2,b3}, bridge a3-b1
    val edges = Seq(
      ("a1", "a2"), ("a1", "a3"), ("a2", "a3"),
      ("b1", "b2"), ("b1", "b3"), ("b2", "b3"),
      ("a3", "b1")
    ).toDF("src", "dst")
    val out = Graphs.labelProp(edges, iters = 5).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.size == 6)
    // each clique converges to ONE label, and the two differ
    assert(Set(out("a1"), out("a2"), out("a3")).size == 1, out)
    assert(Set(out("b1"), out("b2"), out("b3")).size == 1, out)
    assert(out("a1") != out("b1"), out)
    // layout-invariant (synchronous rounds + min-label ties)
    val re = Graphs.labelProp(edges.repartition(5), iters = 5).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(re == out)
  }

  test("q174 triangles: oriented count matches brute force on the crawl graph") {
    val docs = Tables.documents(spark, SF)
    val out = Graphs.q174(docs).collect().head
    val nTri = out.getAs[Long]("n_triangles")
    // brute-force recount from the same undirected edge set
    val und = graft.operators.Graphs.crawlEdges(docs)
      .select(org.apache.spark.sql.functions.least(col("src"), col("dst")).as("a"),
        org.apache.spark.sql.functions.greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    var brute = 0L
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      if und(( nodes(i), nodes(j) ))
      k <- (j + 1) until nodes.size
      if und((nodes(i), nodes(k))) && und((nodes(j), nodes(k)))
    } brute += 1
    assert(nTri == brute, s"oriented=$nTri brute=$brute")
    assert(out.getAs[Long]("n_edges") == und.size)
    val c = out.getAs[Double]("clustering")
    assert(c >= 0.0 && c <= 1.0, c)
  }

  test("triangleStats: planted K4 plus a pendant counts 4 triangles") {
    // K4 on a,b,c,d (4 triangles, clustering high) + pendant edge d-e
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("d", "e")
    ).toDF("src", "dst")
    val out = Graphs.triangleStats(edges).collect().head
    assert(out.getAs[Long]("n_nodes") == 5L)
    assert(out.getAs[Long]("n_edges") == 7L)
    assert(out.getAs[Long]("n_triangles") == 4L, out)
    // wedges: deg a,b,c=3 -> 3 each; d=4 -> 6; e=1 -> 0 => 15
    assert(out.getAs[Long]("wedges") == 15L)
    assert(out.getAs[Double]("clustering") == 12.0 / 15.0)
  }

  test("q175 k-hop BFS: seed at 0, hops exact on the crawl cycle, bounded by k") {
    val docs = Tables.documents(spark, SF)
    val out = Graphs.q175(docs, hops = 6).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val seed = out.minBy(_._1)._1
    assert(out.values.min == 0L && out(out.keys.min) >= 0L)
    assert(out.keys.min == seed || out(seed) == 0L) // smallest domain is the seed...
    assert(out(out.keys.toSeq.sorted.head) == 0L)   // ...and sits at hop 0
    assert(out.values.max <= 6L)
    // monotone frontier: hop h+1 non-empty only if hop h was
    val hist = out.values.groupBy(identity).view.mapValues(_.size).toMap
    (0L to out.values.max).foreach(h => assert(hist.contains(h), s"gap at $h"))
    val re = Graphs.q175(docs.repartition(7), hops = 6).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(re == out)
  }

  test("q165 communities cover every crawl domain deterministically") {
    val docs = Tables.documents(spark, SF)
    val out = Graphs.q165(docs).collect()
    val domains = graft.operators.UrlCuration.q148(docs)
      .select(col("domain")).distinct().count()
    assert(out.length == domains)
    // community ids are themselves domains
    val ds = out.map(_.getString(0)).toSet
    assert(out.map(_.getString(1)).toSet.subsetOf(ds))
    val re = Graphs.q165(docs.repartition(7)).collect().map(_.toSeq).toSet
    assert(re == out.map(_.toSeq).toSet)
  }

  test("q180 HITS: directory node tops hub, its targets top authority, mass ≈ scale") {
    // d fans out to a,b,c; x also links a. No other out-links, so d is
    // the only multi-target hub and a the best-cited authority.
    val edges = Seq(("d", "a"), ("d", "b"), ("d", "c"), ("x", "a"))
      .toDF("src", "dst")
    val out = Graphs.hits(edges, iters = 5).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val hub = out.view.mapValues(_._1).toMap
    val auth = out.view.mapValues(_._2).toMap
    assert(hub("d") > hub("x"), s"hub: $hub")
    assert(Seq("a", "b", "c").forall(n => hub(n) == 0L), s"hub: $hub")
    assert(auth("a") >= auth("b") && auth("b") == auth("c"), s"auth: $auth")
    assert(auth("d") == 0L && auth("x") == 0L, s"auth: $auth")
    // integer renormalization: each score vector sums to scale minus
    // at most one truncation unit per node
    val n = out.size
    assert(math.abs(hub.values.sum - 1000000L) <= n, s"hub mass: $hub")
    assert(math.abs(auth.values.sum - 1000000L) <= n, s"auth mass: $auth")
  }

  test("co-partitioned path (broadcastNodeLimit = 0) is bit-identical to broadcast") {
    // same integer/floor-scaled algebra in both modes, so outputs are
    // EXACTLY equal — only the join strategy differs
    val prEdges = Seq("b" -> "a", "c" -> "a", "d" -> "a", "a" -> "b")
      .toDF("src", "dst")
    assert(Graphs.pagerank(prEdges, 10, broadcastNodeLimit = 0L)
      .collect().map(_.toSeq).toSet ==
      Graphs.pagerank(prEdges, 10).collect().map(_.toSeq).toSet)
    val lpEdges = Seq(("a1", "a2"), ("a1", "a3"), ("a2", "a3"),
      ("b1", "b2"), ("b1", "b3"), ("b2", "b3"), ("a3", "b1")).toDF("src", "dst")
    assert(Graphs.labelProp(lpEdges, 5, broadcastNodeLimit = 0L)
      .collect().map(_.toSeq).toSet ==
      Graphs.labelProp(lpEdges, 5).collect().map(_.toSeq).toSet)
    val hEdges = Seq(("d", "a"), ("d", "b"), ("d", "c"), ("x", "a"))
      .toDF("src", "dst")
    assert(Graphs.hits(hEdges, 5, broadcastNodeLimit = 0L)
      .collect().map(_.toSeq).toSet ==
      Graphs.hits(hEdges, 5).collect().map(_.toSeq).toSet)
    val docs = Tables.documents(spark, SF)
    assert(Graphs.q175(docs, 6, broadcastNodeLimit = 0L)
      .collect().map(_.toSeq).toSet ==
      Graphs.q175(docs, 6).collect().map(_.toSeq).toSet)
  }

  test("q180 on the crawl graph is layout-invariant and covers every domain") {
    val docs = Tables.documents(spark, SF)
    val out = Graphs.q180(docs).collect().map(_.toSeq)
    val domains = graft.operators.UrlCuration.q148(docs)
      .select(col("domain")).distinct().count()
    assert(out.length == domains)
    val re = Graphs.q180(docs.repartition(7)).collect().map(_.toSeq)
    assert(re.toSet == out.toSet)
  }

  /** (total jobs, construction jobs, pins left for the query's owner)
    * of one graph frame built and collected over the sf0.001 corpus. */
  private def budget(build: => org.apache.spark.sql.DataFrame): (Int, Int, Int) = {
    Pins.release()
    var df: org.apache.spark.sql.DataFrame = null
    val construct = jobsOf { df = build }
    val total = construct + jobsOf(df.collect())
    val pins = Pins.pending
    Pins.release()
    (total, construct, pins)
  }

  test("graph job and pin counts hold in both round layouts") {
    // (total jobs, construction jobs, pins) at sf0.001; the co-partitioned
    // arm forced with broadcastNodeLimit = 0 over the crawl graph
    val docs = Tables.documents(spark, SF)
    Graphs.q154(docs).collect() // warm: schema inference and codegen
    val got = Seq(
      "q154" -> budget(Graphs.q154(docs)),
      "q165" -> budget(Graphs.q165(docs)),
      "q174" -> budget(Graphs.q174(docs)),
      "q175" -> budget(Graphs.q175(docs)),
      "q180" -> budget(Graphs.q180(docs)),
      "q195" -> budget(Graphs.q195(docs)),
      "pagerank/co" -> budget(Graphs.pagerank(Graphs.crawlEdges(docs),
        broadcastNodeLimit = 0L)),
      "labelProp/co" -> budget(Graphs.labelProp(Graphs.crawlEdges(docs),
        broadcastNodeLimit = 0L)),
      "q175/co" -> budget(Graphs.q175(docs, broadcastNodeLimit = 0L)),
      "hits/co" -> budget(Graphs.hits(Graphs.crawlEdges(docs),
        broadcastNodeLimit = 0L)))
    assert(got.toMap == Map(
      "q154" -> (35, 32, 4), "q165" -> (29, 26, 4), "q174" -> (29, 0, 4),
      "q175" -> (36, 33, 4), "q180" -> (76, 72, 3), "q195" -> (25, 0, 3),
      "pagerank/co" -> (53, 52, 4), "labelProp/co" -> (43, 42, 5),
      "q175/co" -> (44, 41, 5), "hits/co" -> (96, 94, 5)), got)
  }

  test("q195 assortativity: star reads exactly -1, path reads exactly -1/2") {
    import spark.implicits._
    // K1,3 star: hubs never wire to hubs -> perfectly disassortative
    val star = Graphs.assortativity(
      Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")).collect()(0)
    assert(star.getAs[Long]("n_nodes") == 4L, star)
    assert(star.getAs[Long]("n_edges") == 3L, star)
    assert(star.getAs[Double]("assortativity") == -1.0, star)
    // 4-node path: degrees 1,2,2,1 -> r = -1/2 in closed form
    val path = Graphs.assortativity(
      Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")).collect()(0)
    assert(path.getAs[Double]("assortativity") == -0.5, path)
    // degree-regular graph (cycle): zero variance -> 0 by convention
    val cyc = Graphs.assortativity(
      Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")).collect()(0)
    assert(cyc.getAs[Double]("assortativity") == 0.0, cyc)
  }
}
