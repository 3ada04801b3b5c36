package graft.operators

import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference: same uniform-reset weighted PageRank. */
  private def reference(edges: Seq[(String, String)], d: Double,
      iters: Int): Map[String, Double] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outDeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    var ranks = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val contribs = edges
        .groupBy(_._2)
        .map { case (dst, es) =>
          dst -> es.map { case (src, _) => ranks(src) / outDeg(src) }.sum
        }
      ranks = nodes.map(n => n -> ((1 - d) + d * contribs.getOrElse(n, 0.0))).toMap
    }
    ranks
  }

  test("pageRank matches the driver-side reference; partition-invariant") {
    val edges = Seq(
      ("a", "b"), ("a", "b"), ("a", "c"), // parallel edge weights a->b
      ("b", "c"), ("c", "a"), ("d", "c")) // d is a source, no in-edges
    val expected = reference(edges, 0.85, 15)
    for (p <- Seq(1, 5)) {
      val got = Graph.pageRank(edges.toDF("src", "dst").repartition(p),
          0.85, 15)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got.keySet === expected.keySet, s"partitions=$p")
      got.foreach { case (n, r) =>
        assert(math.abs(r - expected(n)) < 1e-9, s"node $n: $r vs ${expected(n)}")
      }
    }
    // structural sanity: the sink-fed hub outranks the pure source
    assert(expected("c") > expected("d"))
  }

  test("pageRank on an empty-join graph: every node gets the reset mass") {
    val edges = Seq(("x", "y")).toDF("src", "dst")
    val got = Graph.pageRank(edges, 0.85, 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // x has no in-edges: rank = 1 - d
    assert(math.abs(got("x") - 0.15) < 1e-12)
    assert(got("y") > got("x"))
  }

  test("triangleStats: hand graph — K4 plus a pendant edge") {
    // K4 has C(4,3)=4 triangles and 6 edges; the pendant edge adds one
    // node and raises d's degree to 4 — wedges = 3+3+3+C(4,2)+0 = 15
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"),
      ("b", "a"), ("c", "a")) // reversed/parallel dups must collapse
      .toDF("src", "dst")
    val r = Graph.triangleStats(edges).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((5L, 7L, 4L)))
    // clustering = 3*4 / 15 = 0.8
    assert(math.abs(r.getDouble(3) - 0.8) < 1e-5)
  }

  test("triangleStats: triangle-free bipartite graph counts zero") {
    val edges = Seq(("u1", "v1"), ("u1", "v2"), ("u2", "v1"), ("u2", "v2"))
      .toDF("src", "dst")
    val r = Graph.triangleStats(edges).head
    assert(r.getLong(2) === 0L)
    assert(r.getDouble(3) === 0.0)
  }

  test("triangleStats: star graph — orientation kills hub wedges") {
    // hub h with 6 leaves: no triangles; all edges point INTO the hub
    // under degree orientation, so the wedge join sees zero hub pairs
    val edges = (1 to 6).map(i => (s"l$i", "h")).toDF("src", "dst")
    val r = Graph.triangleStats(edges).head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((7L, 6L, 0L)))
  }

  test("labelPropagation: two cliques bridged by one edge resolve to " +
      "two communities labeled by their lowest member") {
    // K4 on a1..a4, K4 on b1..b4, bridge a4-b1
    def clique(ids: Seq[String]) =
      for (x <- ids; y <- ids if x < y) yield (x, y)
    val edges = (clique(Seq("a1", "a2", "a3", "a4")) ++
      clique(Seq("b1", "b2", "b3", "b4")) :+ ("a4", "b1")).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, rounds = 4)
      .as[(String, String)].collect().toMap
    assert(Seq("a1", "a2", "a3", "a4").forall(got(_) == "a1"), got.toString)
    assert(Seq("b1", "b2", "b3", "b4").forall(got(_) == "b1"), got.toString)
  }

  test("labelPropagation: deterministic — repeated runs and perturbed " +
      "input partitioning give identical labels; isolated pair adopts " +
      "lower id; parallel/reversed edges collapse") {
    val edges = Seq(("x", "y"), ("y", "x"), ("x", "y"), ("p", "q"))
      .toDF("src", "dst")
    val a = Graph.labelPropagation(edges, rounds = 3)
      .as[(String, String)].collect().toMap
    val b = Graph.labelPropagation(edges.repartition(5), rounds = 3)
      .as[(String, String)].collect().toMap
    assert(a === b)
    // the documented synchronous-LPA oscillation, deterministically: a
    // 2-node component swaps labels every round, so after 3 (odd)
    // rounds each holds the OTHER's id — fixed-round determinism is
    // the contract, not convergence
    assert(a("p") === "q" && a("q") === "p", a.toString)
    assert(a("x") === "y" && a("y") === "x", a.toString)
  }

  // ---- Graph.kCore ----

  private def core(edges: Seq[(String, String)], k: Int) =
    Graph.kCore(edges.toDF("src", "dst"), k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("kCore: K4 is its own 3-core; adding a pendant changes nothing") {
    val k4 = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"))
    val want = Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L)
    assert(core(k4, 3) === want)
    assert(core(k4 :+ ("d", "e"), 3) === want) // pendant e peels off
  }

  test("kCore: star graph has no 2-core; cycle is entirely its own 2-core") {
    val star = Seq(("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d"))
    assert(core(star, 2) === Map.empty)
    val cycle = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
    assert(core(cycle, 2) ===
      Map("a" -> 2L, "b" -> 2L, "c" -> 2L, "d" -> 2L))
  }

  test("kCore: cascading peel — chain hung off a triangle needs multiple rounds") {
    // x1-x2-x3 chain into triangle a,b,c: peeling x3 exposes x2, etc.
    val g = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("a", "x1"), ("x1", "x2"), ("x2", "x3"))
    assert(core(g, 2) === Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("kCore: exhausting maxRounds throws instead of returning an " +
      "unpeeled core, and frees its rounds") {
    // a 10-node path peels its two end nodes per round: 2 rounds leave
    // 5 of its 9 edges, so the peel is still moving when rounds run out
    val path = (1 to 9).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException] {
      Graph.kCore(path, k = 2, maxRounds = 2)
    }
    assert(e.getMessage.contains("did not converge"), e.getMessage)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"rounds left persisted after the throw: $left")
  }

  // ---- Graph.connectedComponentsAlternating ----

  private def ccPairs(edges: (Long, Long)*) = edges.toDF("a", "b")
  private def ccIds(n: Long) = (0L until n).toDF("id")

  test("alternating CC == label propagation on a mixed graph") {
    // two triangles + a bridge + a 4-chain + isolated nodes
    val pairs = ccPairs((0L, 1L), (1L, 2L), (2L, 0L), (5L, 6L), (6L, 7L),
      (7L, 5L), (2L, 5L), (10L, 11L), (11L, 12L), (12L, 13L))
    val ids = ccIds(16L)
    val alt = Graph.connectedComponentsAlternating(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prop = Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alt === prop)
    assert(alt(7L) === 0L && alt(13L) === 10L && alt(15L) === 15L)
  }

  test("alternating CC collapses a 300-link chain where propagation stalls") {
    val chain = ccPairs((0L until 300L).map(i => (i, i + 1)): _*)
    val ids = ccIds(301L)
    // min-label propagation moves the root one hop per round: refuses
    // at its default 20-round budget on diameter 300
    intercept[IllegalStateException] {
      Dedup.connectedComponents(ids, chain).collect()
    }
    // the star rounds collapse it geometrically within the default 25
    val alt = Graph.connectedComponentsAlternating(ids, chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(alt.size === 301 && alt.values.forall(_ === 0L))
  }

  test("alternating CC: no edges — every id is its own component") {
    val out = Graph.connectedComponentsAlternating(
      ccIds(5L), Seq.empty[(Long, Long)].toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === (0L until 5L).map(i => i -> i).toMap)
  }
}
