package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Laws for the graph operators (ops/graph.scala) on planted graphs whose
  * answers are known in closed form — independent of the DuckDB oracle,
  * which only sees the star-schema derivation.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*): DataFrame =
    pairs.toDF("u", "v")

  private def directed(pairs: (Long, Long)*): DataFrame =
    pairs.toDF("src", "dst")

  test("triangleCount: K4 has 4 triangles, a path has none") {
    // K4 canonical edges
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    assert(ops.Graph.triangleCount(k4).as[Long].head() === 4L)
    val path = edges((1L, 2L), (2L, 3L), (3L, 4L))
    assert(ops.Graph.triangleCount(path).as[Long].head() === 0L)
    InternalCaches.unpersistAll()
  }

  test("triangleCount: star + one closing edge = 1 triangle regardless of hub degree") {
    // Hub 1 connected to 2..20, plus edge (2,3): exactly one triangle.
    // Exercises the degree-orientation path (hub is the HIGH-degree
    // endpoint, so every star edge points INTO it and the hub generates
    // zero wedges).
    val star = (2L to 20L).map(i => (1L, i)) :+ (2L, 3L)
    assert(ops.Graph.triangleCount(edges(star: _*)).as[Long].head() === 1L)
    InternalCaches.unpersistAll()
  }

  test("triangleCount: forced bloom prefilter is count-identical (fp-only law)") {
    // The Bloom never engages at test scale (BloomAutoMinEdges), so this
    // law FORCES its shard count k through the shard-function seam and
    // pins it against the unfiltered (k = 0) count on a seeded
    // pseudo-random graph — the filter may only pass extra candidates
    // into the exact closing join (false positives, absorbed), never
    // drop one (a false negative would undercount). Shard routing must
    // partition the closing-edge set: a mis-routed edge would surface as
    // a dropped triangle. 60 nodes, ~xxhash-selected 20% of canonical
    // pairs: dense enough for hundreds of triangles.
    val rnd = for {
      u <- 1L to 60L; v <- (u + 1) to 60L
      if java.lang.Math.floorMod(
        org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(u * 61 + v, 7L), 5L) == 0L
    } yield (u, v)
    val g = edges(rnd: _*)
    val k4 = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    def count(df: DataFrame, k: Int): Long =
      try ops.Graph.triangleCount(df, -1, _ => k).as[Long].head()
      finally InternalCaches.unpersistAll()
    val off = count(g, 0)
    assert(off > 0L, "fixture must actually contain triangles")
    assert(count(k4, 0) === 4L)
    for (k <- Seq(1, 2, 4, 7)) {
      assert(count(g, k) === off, s"bloom (k=$k) must be count-identical")
      assert(count(k4, k) === 4L, s"bloom (k=$k) on K4")
    }
  }

  test("pagerank: 2-cycle fixed point stays at 1.0; mass is preserved") {
    val cyc = directed((1L, 2L), (2L, 1L))
    val pr = ops.Graph.pagerank(cyc, 5).as[(Long, Double)].collect().toMap
    assert(math.abs(pr(1L) - 1.0) < 1e-12 && math.abs(pr(2L) - 1.0) < 1e-12)
    InternalCaches.unpersistAll()

    // Undirected star (both directions): Σ pr = n is invariant per
    // iteration when every node has out-degree ≥ 1 (ops/graph.scala law).
    val n = 6L
    val star = (2L to n).flatMap(i => Seq((1L, i), (i, 1L)))
    val ranks = ops.Graph.pagerank(directed(star: _*), 4)
    val total = ranks.agg(sum("pr")).as[Double].head()
    assert(math.abs(total - n.toDouble) < 1e-9)
    // And the hub outranks every leaf.
    val m = ranks.as[(Long, Double)].collect().toMap
    assert((2L to n).forall(i => m(1L) > m(i)))
    InternalCaches.unpersistAll()
  }

  test("pagerank: a source-only node keeps its 0.15 floor on directed input") {
    // 1⇄2 plus source-only 3→1: node 3 receives nothing, so its rank is
    // exactly 0.15 every iteration — an inner-join iteration would DROP
    // it after iteration 1 and lose its contribution to node 1 (the
    // self-review finding the left-join re-key fixes).
    val g = directed((1L, 2L), (2L, 1L), (3L, 1L))
    val pr = ops.Graph.pagerank(g, 3).as[(Long, Double)].collect().toMap
    assert(pr.keySet === Set(1L, 2L, 3L))
    assert(math.abs(pr(3L) - 0.15) < 1e-12)
    // node 1 must include 3's contribution: strictly above node 2's rank.
    assert(pr(1L) > pr(2L))
    InternalCaches.unpersistAll()
  }

  test("pagerank: deterministic across runs on the fixture graph") {
    val q = ops.Graph.queries("graph_pagerank")
    val a = q(spark, sfDir).collect().toSeq
    InternalCaches.unpersistAll()
    val b = q(spark, sfDir).collect().toSeq
    assert(a === b)
    InternalCaches.unpersistAll()
  }

  test("shortestPaths: chain hops, unreachable nodes absent, min over " +
    "multiple paths, multi-source takes the nearer seed") {
    // Chain 1→2→3→4→5 plus shortcut 1→4: hops(4) = 1 (min over the
    // 3-hop chain path), hops(5) = 2; 6→7 is a separate component —
    // never reached, absent from the result.
    val g = directed((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L),
      (6L, 7L))
    val seeds = Seq(1L).toDF("node")
    val got = ops.Graph.shortestPaths(g, seeds, 4)
      .as[(Long, Int)].collect().toMap
    assert(got === Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 1, 5L -> 2))
    InternalCaches.unpersistAll()

    // Two seeds: each node settles at distance to its NEAREST seed.
    val multi = ops.Graph.shortestPaths(g, Seq(1L, 6L).toDF("node"), 4)
      .as[(Long, Int)].collect().toMap
    assert(multi(6L) === 0 && multi(7L) === 1 && multi(5L) === 2)
    InternalCaches.unpersistAll()
  }

  test("graph_triangles query matches the naive canonical 3-way join at sf0.001") {
    val oriented = ops.Graph.queries("graph_triangles")(spark, sfDir)
      .as[Long].head()
    // Naive form (the oracle's shape) computed in-engine.
    val li = Tables.lineitem(spark, sfDir).filter($"l_quantity" > 25)
      .select($"l_orderkey", $"l_partkey")
    val p = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v")).distinct()
    val naive = p.as("e1")
      .join(p.as("e2"), $"e2.u" === $"e1.v")
      .join(p.as("e3"), $"e3.u" === $"e1.u" && $"e3.v" === $"e2.v")
      .count()
    assert(oriented === naive && oriented > 0)
    InternalCaches.unpersistAll()
  }
}
