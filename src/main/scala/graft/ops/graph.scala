package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.InternalCaches
import graft.Tables._

/** Graph operators over relations (SURVEY.md §2.3 additions: iterative and
  * combinatorial graph analytics a training-data pipeline runs on link /
  * co-occurrence structure — the same family as `dedup_clusters`' connected
  * components, which lives with the dedup ops in `text.scala`).
  *
  * Both operators take an EDGE RELATION as input, so the algorithms are
  * reusable on any graph; the `queries` entries derive their edges from the
  * star schema (co-purchase pairs, part↔supplier links). The reference
  * (`YaMR-1.pdf` §"Project Objectives") frames exactly this class of job —
  * iterated MapReduce over key/value pairs — as the engine's target
  * workload; here each iteration is one declarative shuffle instead of a
  * map/sort/reduce/rewrite-to-disk cycle per stage
  * (`Worker/worker.py:95-183`).
  *
  * Scale notes (100 TB posture):
  *  - PageRank: the degree-annotated edge relation is persisted ONCE,
  *    pre-partitioned by `src`; rank iterations then need exactly one
  *    shuffle each (the contribution groupBy), because the rank relation
  *    arrives already hash-partitioned on the join key from the previous
  *    iteration's groupBy. No driver-side state, no collect — ranks live
  *    in executor partitions across iterations.
  *  - Triangles: wedge enumeration is bounded by DEGREE ORIENTATION
  *    (each edge directed from its lower-(degree,id) endpoint), the
  *    standard trick that caps out-degree at O(√m) — the naive canonical
  *    a<b<c self-join explodes on high-degree hubs (a single 1M-degree
  *    node yields 5·10¹¹ wedges; oriented, the same node contributes
  *    O(m) total). The oracle keeps the naive form: same count, only
  *    viable at oracle scale.
  */
object Graph {
  type Q = (SparkSession, String) => DataFrame

  /** Node ids for the bipartite part↔supplier graph: supplier keys are
    * offset into a disjoint range. Fixture-specific (TESTDATA.md keys are
    * dense small ints); a production caller supplies its own node ids.
    * `private[ops]`: sql_recursive seeds its BFS at SuppOffset + 1.
    */
  private[ops] val SuppOffset = 1000000000L

  /** Closing-edge Bloom shard count for `nEdges` oriented edges: 0
    * below BloomAutoMinEdges, where the wedge exchange is MBs and the
    * filter pure overhead (every sf ≤ 1 fixture), else ⌈8·n /
    * BloomMaxBits⌉ blobs capped at BloomMaxShards. BloomMaxBits is the
    * Int ceiling, 64-aligned (~268 MB a blob); past the sharded ceiling
    * (~2·10⁹ edges) fpp degrades toward neutral, never wrong.
    */
  private def bloomShards(nEdges: Long): Int =
    if (nEdges < BloomAutoMinEdges) 0
    else math.min((8L * nEdges + BloomMaxBits - 1) / BloomMaxBits,
      BloomMaxShards).toInt
  private[ops] val BloomAutoMinEdges = 1L << 22
  private[ops] val BloomMaxBits = (1L << 31) - 64
  private[ops] val BloomMaxShards = 8

  /** Undirected (both-directions) part↔supplier link edges, shared by
    * `graph_pagerank` and `sql_recursive` so the node-id scheme and the
    * derivation can never diverge between the two queries' oracles. Both
    * directions come from ONE pass over the distinct pair relation:
    * explode a 2-element array of (src,dst) structs — a unionAll of two
    * selects would run the distinct twice.
    */
  private[ops] def partSupplierEdges(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
      .distinct()
      .select(explode(array(
        struct(col("p").as("src"), (col("sk") + SuppOffset).as("dst")),
        struct((col("sk") + SuppOffset).as("src"), col("p").as("dst"))))
        .as("e"))
      .select(col("e.src"), col("e.dst"))

  /** Adaptive partition count for the edge caches, from the source fact
    * bytes ([[InternalCaches.adaptiveParts]] doctrine): 64 MB of
    * lineitem parquet per partition. At sf100 (10.8 GB source, ~1.6e8
    * cached edge rows) that is ~170 partitions of ~15 MB columnar
    * chunks, so cache writes and everything co-partitioned with them
    * (degree aggregation, rank joins, wedge sorts) stay pool-breathable
    * — the 32-partition layout put a ~75 MB final-distinct hash map AND
    * an ~80–130 MB unevictable cache unroll in each of 32 concurrent
    * tasks at sf100 and zeroed the execution pool (graph_pagerank's
    * fourth-wall failure, BASELINE.md r13). At sf ≤ 10 the count floors
    * at defaultParallelism: every committed layout and bench map is
    * unchanged.
    */
  private def edgeParts(s: SparkSession, d: String): Int =
    InternalCaches.adaptiveParts(s, s"$d/lineitem.parquet", 64L << 20)

  /** Canonical (u < v) co-purchase edges: parts appearing together in an
    * order, over the qty>25 slice — the filter keeps per-order item sets
    * small so edge count stays linear in fact rows (and makes the filter
    * pushdown visible in the scan).
    */
  private[graft] def coPurchaseEdges(s: SparkSession,
                                     d: String): DataFrame = {
    // adaptive pre-partition on the join key: the self-join's two
    // ensure-requirements exchanges land at this width instead of the
    // 32-partition conf, so the merge sorters AND the pair stream's
    // partial-distinct map scale as n/edgeParts (the ~200 MB/task
    // 32-partition form was the fourth-wall class at sf100)
    val li = lineitem(s, d).filter(col("l_quantity") > 25)
      .select(col("l_orderkey"), col("l_partkey"))
      .repartition(edgeParts(s, d), col("l_orderkey"))
    // fact-table self-join: both sides corpus-sized — shuffle pin
    // (broadcast-cliff hazard, see ops/blocking.scala Blocking.candidates)
    li.as("a").hint("shuffle_merge").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
  }

  /** Exact triangle count by oriented wedge-closing.
    *
    * `edges` must be canonical (u < v, distinct). Each edge is re-oriented
    * from its lower (degree, id) endpoint; a triangle {a,b,c} with key
    * order a≺b≺c is then counted exactly once, as the wedge (b,c) out of a
    * closed by the oriented edge b→c. Three reads of the oriented relation
    * (two wedge sides + the closing semi-join) → persisted eagerly, like
    * dedup_clusters' multi-branch cache (caches.scala).
    */
  def triangleCount(edges: DataFrame, parts: Int = -1): DataFrame =
    triangleCount(edges, parts, bloomShards)

  /** [[triangleCount]] with the Bloom shard count taken from `shards`
    * (edge count => k, 0 for no filter), so laws can force any k.
    */
  private[graft] def triangleCount(edges: DataFrame, parts: Int,
                                   shards: Long => Int): DataFrame = {
    val p = if (parts > 0) parts
      else edges.sparkSession.sparkContext.defaultParallelism
    // The edge relation is read from three branches below (degree count +
    // two degree-attach joins); un-persisted, each branch would recompute
    // the caller's whole edge derivation (caches.scala doctrine).
    // repartition(p, u): puts the cache write in its OWN stage at the
    // adaptive width (never fused with the upstream distinct's final
    // aggregate — the same-stage unroll+agg pile-up is the fourth-wall
    // signature) and co-partitions the u-side degree-attach join.
    // LAZY (r16): deg's eager materialization below is e's single-branch
    // first reader, so that one job populates BOTH caches — the old
    // eager e paid a standalone count job for the same cache write. The
    // later readers (both degree-attach joins) hit the populated entry.
    val e = InternalCaches.persistTracked(
      edges.repartition(p, col("u")))
    // explode(array(u,v)) counts both endpoints in ONE pass over the
    // cache — unionAll would scan it twice. Persisted: BOTH degree-attach
    // joins read it (un-cached, the full aggregation over the edge cache
    // ran twice per invocation — review finding r10).
    val deg = InternalCaches.persistTracked(
      e.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg")),
      eager = true)
    // The degree relation is node-sized — corpus-growing, so the two
    // attach joins carry the same shuffle_hash pin as pagerank's rank
    // joins (broadcast-cliff rule; the planner-chosen plan was bimodal
    // 105/208 s at sf10 building 2.1M-node hashed relations on the
    // driver)
    val withDeg = e
      .join(deg.withColumnsRenamed(Map("node" -> "u", "deg" -> "du"))
        .hint("shuffle_hash"), "u")
      .join(deg.withColumnsRenamed(Map("node" -> "v", "deg" -> "dv"))
        .hint("shuffle_hash"), "v")
    val ku = struct(col("du").as("kd"), col("u").as("kid"))
    val kv = struct(col("dv").as("kd"), col("v").as("kid"))
    // Pre-partitioned by src: the wedge self-join then reads a
    // co-partitioned cache on both sides — no exchange, just the sort.
    // persistTrackedCounted: the materializing count doubles as the edge
    // count the bloom sizing below needs (eager + a separate count was
    // two jobs for one number).
    // sortWithinPartitions(src): InMemoryTableScan forwards the cached
    // plan's outputOrdering, so the wedge self-join's TWO merge-join
    // sorts become no-ops — the m-sized relation is sorted ONCE at cache
    // build instead of once per reader (at sf100 that was 2× ~10 GB of
    // sorter spill inside the wedge stage, a third of the probe box's
    // whole disk budget).
    val (oriented, nEdges) = InternalCaches.persistTrackedCounted(
      withDeg.select(
        when(ku < kv, col("u")).otherwise(col("v")).as("src"),
        when(ku < kv, col("v")).otherwise(col("u")).as("dst"),
        when(ku < kv, kv).otherwise(ku).as("kdst"))
        .repartition(p, col("src"))
        .sortWithinPartitions("src"))
    // Early drop: every reader
    // of `e` and `deg` is consumed by the oriented materialization above
    // — from here the whole computation reads `oriented` only. Dropping
    // them NOW frees ~m-sized columnar storage (disk-spilled at scale:
    // ~15 GB of the sf100 probe box's budget) before the wedge stage
    // needs the room; blocking, so the space exists BEFORE the wedge
    // stage asks (async deletes lagged tens of GB under the r13 sf100
    // probes — the BASELINE.md "No space left" protocol note). Their
    // registry entries' later unpersist is a no-op.
    e.unpersist(blocking = true)
    deg.unpersist(blocking = true)
    // shuffle pins on both wedge joins: the edge relation is
    // corpus-sized, and the co-partitioned-cache-no-exchange contract
    // above only holds if AQE never swaps in a broadcast build
    // (broadcast-cliff hazard, see ops/blocking.scala Blocking.candidates)
    val wedges = oriented.as("e1").hint("shuffle_merge")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.kdst") < col("e2.kdst"))
      .select(col("e1.dst").as("wu"), col("e2.dst").as("wv"))
    // Bloom semi-join reduction: the wedge stream is filtered against the
    // closing edges inside the wedge join's stage, before its exchange.
    // The closing join stays exact, so a false positive costs one
    // shuffled row and a false negative cannot happen. Unfiltered, that
    // exchange wrote ~93 GB and filled the disk at sf100; at 8 bits an
    // edge (fpp ≈ 3 %) ~8 wedges per edge shrink to ~1 survivor
    // (BASELINE.md r13). A blob is an Int-indexed bit array, so past
    // BloomMaxBits / 8 edges the filter splits into k blobs routed by
    // pmod(xxhash64(src), k). Each blob aggregates over coalesce(2), and
    // k > 1 shards build eagerly, one at a time, so at most two partials
    // of one blob are in memory (concurrent partials heap-OOM'd a 16 g
    // box). One shard builds inside the query instead, beside the closing
    // side's shuffle: built eagerly it ran ~2 s a pass slower at 6 M
    // edges (CHANGES.md). The broadcast reads the cached 1-row blobs; a
    // collected LocalRelation put the blobs in the task binary (BASELINE.md
    // r14).
    val k = shards(nEdges)
    val candidates = if (k == 0) wedges else {
      val idealBits = (8L * nEdges).max(1L << 16)
      val bits = ((idealBits + k - 1) / k).min(Graph.BloomMaxBits)
      val numBits = (((bits + 63) / 64) * 64).toInt
      val bagg = udaf(new graft.expr.BloomFilter.SizedAgg(numBits))
      val blooms = (0 until k).map { s =>
        InternalCaches.persistTracked(
          oriented
            .filter(pmod(xxhash64(col("src")), lit(k.toLong)) === s)
            .select(xxhash64(col("src"), col("dst")).as("ek"))
            .coalesce(2)
            .agg(bagg(col("ek")).as("bf"))
            .select(lit(s.toLong).as("shard"), col("bf")),
          eager = k > 1)
      }.reduce(_.unionAll(_))
      wedges
        .withColumn("shard", pmod(xxhash64(col("wu")), lit(k.toLong)))
        .join(broadcast(blooms), "shard")
        .filter(graft.expr.BloomFilter.mightContain(col("bf"),
          xxhash64(col("wu"), col("wv")), numBits))
        .drop("bf", "shard")
    }
    // Left-semi keeps every wedge ROW with a closing edge (no dedup of the
    // left side): distinct wedges (a,b,c) map 1:1 to counted triangles.
    //
    // shuffle_hash with the build on the ORIENTED side, not shuffle_merge:
    // the probe stream is the Θ(m^1.5) wedge relation, and a merge join
    // must SORT it — at sf100 that sort's ~48 GB spill outran the probe
    // box's disk (BASELINE.md r13 ladder: ✗ disk) while the sorters were
    // behaving correctly. The build side is the m-sized 16 B/row closing
    // relation, explicitly laid out at the adaptive edge width on both
    // sides (matched HashPartitioning — the join inserts no further
    // exchange), so per-task builds stay ~tens of MB at sf100 (the
    // build-side rule from the sf30/sf100 walls: bounded per partition,
    // never candidate-stream-sized). The wedge stream now pays only its
    // hash exchange — no sort, no buffering (semi-probe streams).
    // Closing width from the MEASURED edge count, not the cache width:
    // a hash build has no spill path, so its per-partition footprint
    // (~16 B rows + ~100 B/row of UnsafeHashedRelation map overhead)
    // must stay under a task's worst-case execution grant (pool/2N).
    // At the edge-cache width the sf100 build was ~120 MB × 32
    // concurrent tasks and died "not enough memory to build hash map"
    // (measured r13); 64 MB of build per partition keeps 32 concurrent
    // builds ~2 GB against the ~4.7 GB guaranteed execution floor.
    // Floors at p, so every sf ≤ 10 plan keeps its committed width.
    val pClose = math.max(p,
      math.ceil(nEdges * 128.0 / (64L << 20)).toInt)
    val closed = candidates.repartition(pClose, col("wu"), col("wv")).join(
      oriented.select(col("src").as("wu"), col("dst").as("wv"))
        .repartition(pClose, col("wu"), col("wv"))
        .hint("shuffle_hash"),
      Seq("wu", "wv"), "left_semi")
    closed.agg(count(lit(1)).as("n_triangles"))
  }

  /** Damped PageRank, `iters` synchronous iterations from uniform rank 1.
    *
    * `edges` is the DIRECTED edge list; callers wanting undirected
    * semantics pass both directions (as `queries` does), which also
    * guarantees no dangling nodes — every node then has out-degree ≥ 1,
    * so no redistribution term is needed and total mass is preserved
    * exactly: Σ pr′ = 0.15·n + 0.85·Σ pr (GraphSpec pins this law).
    *
    * The degree-annotated edges are cached pre-partitioned on `src`; the
    * per-iteration data movement is the contribution groupBy plus the
    * small re-key join (the rank relation is the deg⟕contribs join
    * output, re-keyed on the full source-node set — see the iteration
    * body). The edge relation itself never crosses the wire after the
    * cache materializes; only rank-sized relations move.
    */
  def pagerank(edges: DataFrame, iters: Int, parts: Int = -1): DataFrame = {
    val p = if (parts > 0) parts
      else edges.sparkSession.sparkContext.defaultParallelism
    // Persisted: the deg materialization and the ce degree-attach join
    // both read this relation (the r0 seed reads the separately-persisted
    // deg) — un-cached each reader would recompute the caller's edge
    // derivation. Join strategy per iteration: the rank relation GROWS
    // WITH THE GRAPH (one row per source node), so it must never sit on
    // the adaptive broadcast cliff (ops/blocking.scala Blocking.candidates —
    // the r12 rule: a corpus-growing side is never broadcast). Measured
    // at sf10 (2.1M nodes): the planner-chosen plan was bimodal 117/221 s
    // across identical runs — the slow mode repeatedly building hashed
    // rank relations on the single-threaded driver — vs deterministic
    // shuffle plans at 161 s. The pin is shuffle_HASH with the build on
    // the rank side: the ce side stays on its cached hash(src)
    // partitioning (no re-shuffle, no sort of the edge stream), only
    // rank-sized relations move — the same plan a 1000-executor cluster
    // needs, now also the plan the bench measures.
    // repartition(p, src): the cache write gets its own stage at the
    // adaptive width (the 32-partition form fused the edge-distinct's
    // final aggregate with the cache unroll — the fourth-wall pile-up,
    // BASELINE.md r13), the degree aggregation below then runs
    // exchange-free on the cached hash(src) layout, and the per-
    // iteration contribution join keeps its zero-edge-movement contract
    // at the same width.
    // ONE edge-sized cache (r16, guide §2.4): the out-degree is attached
    // as a count-over-window on the SAME hash(src) layout the cache
    // needs anyway — the old three-relation form (e cached, deg =
    // groupBy over it, ce = e ⋈ deg re-repartitioned) paid a SECOND
    // edge-sized exchange (the user repartition under ce is not elided
    // by the planner) plus a second edge-sized cache and its
    // materialization job, to compute a column the window derives in
    // place. The window's per-partition sort is spillable and
    // co-partitioned; rank values are identical (same d per row; the
    // sum's float order jitter is ~1e-13, absorbed by the caller's
    // round(,4) — the adjudication the output column has always
    // carried). EAGER stays: the 3 iteration joins read ce from three
    // branches of the one final action.
    val ce = InternalCaches.persistTracked(
      edges.repartition(p, col("src"))
        .withColumn("d", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("src")))),
      eager = true)
    // full source-node set, read per iteration (the re-key join) and by
    // the seed — node-sized, distinct over the cached hash(src) layout
    // (no exchange), eager for the same multi-branch reason
    val deg = InternalCaches.persistTracked(
      ce.select(col("src")).distinct(), eager = true)
    var ranks = deg.select(col("src").as("node"), lit(1.0).as("pr"))
    for (_ <- 1 to iters) {
      val contribs = ce.join(ranks.hint("shuffle_hash"),
          ce("src") === ranks("node"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("d")).as("c"))
      // Re-key on the FULL source-node set, not just contribution
      // receivers: on a directed graph a source-only node (out-edges,
      // no in-edges) receives nothing, and an inner groupBy would drop
      // it from the rank relation — losing its 0.15 floor AND its
      // outgoing contributions in every later iteration. The left join
      // restores it at coalesce(c, 0). (Sink-only nodes — in-edges,
      // no out-degree — are out of scope by the same contract that
      // skips dangling redistribution: rank is computed over nodes
      // that can propagate. Both-direction callers are unaffected.)
      ranks = deg.select(col("src").as("node"))
        .join(contribs.hint("shuffle_hash"),
          col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(0.15) + lit(0.85) * coalesce(col("c"), lit(0.0))).as("pr"))
    }
    ranks
  }

  /** Multi-source unweighted shortest paths (BFS hop counts) to `maxHops`.
    *
    * Frontier iteration: each step expands only the nodes discovered in
    * the PREVIOUS step and anti-joins the visited set, so every node is
    * settled exactly once at its minimum depth and per-step work is
    * O(frontier ⋈ edges) — the scalable dual of `sql_recursive`'s
    * recursive CTE, whose UNION-ALL walk enumerates PATHS (combinatorial
    * on dense graphs; capped at depth 2 for that reason) where this
    * enumerates NODES. The edge relation is cached pre-partitioned on
    * `src`; frontiers are rank-sized relations keyed the same way, so
    * each step is one co-partitioned join + one distinct shuffle. Each
    * hop's frontier passes through [[graft.InternalCaches.cut]] (it
    * feeds three branches: the anti-join, the next expansion, and the
    * result union), whose materializing count is the loop condition; the
    * visited set stays a shallow union over the cut frontiers. The edge
    * and seed caches live until the caller's
    * [[graft.InternalCaches.unpersistAll]].
    */
  def shortestPaths(edges: DataFrame, seeds: DataFrame,
                    maxHops: Int, parts: Int = -1): DataFrame = {
    val p = if (parts > 0) parts
      else edges.sparkSession.sparkContext.defaultParallelism
    // LAZY (r16): hop 1's materializing count is the single-branch first
    // reader of the edge cache — that one job populates it; later hops
    // hit the populated entry. The old eager form paid a standalone
    // count job for the same write.
    val e = InternalCaches.persistTracked(
      edges.repartition(p, col("src")))
    // distinct(): duplicate seed rows would flow into `visited` and the
    // result as duplicate (node, 0) rows (review finding r10 — the doc
    // invites arbitrary callers' seed relations)
    // EAGER (r17, reverting the r16 lazy form on advice): hop 1 reads the
    // seed cache from TWO branches (expansion + anti-join) — exactly the
    // multi-branch case persistTracked's contract says requires eager. A
    // NONDETERMINISTIC caller seed relation computed independently per
    // branch can diverge, letting a seed node re-enter the hop-1 frontier
    // as (node, 1) beside its (node, 0) row. The cost is one count of a
    // seed-sized relation (3 rows in the declared query — measured noise
    // against the correctness-for-arbitrary-callers guarantee).
    var visited = InternalCaches.persistTracked(
      seeds.select(col("node"), lit(0).as("hops")).distinct(),
      eager = true)
    var frontier = visited
    var h = 1
    var exhausted = false
    while (h <= maxHops && !exhausted) {
      // Aliases, not Dataset column refs: after the first step every
      // relation here shares lineage with `e`, and unqualified refs trip
      // the ambiguous-self-join detector.
      // Both the frontier and the visited set GROW WITH THE GRAPH (on a
      // dense graph the 2nd frontier is already most nodes) — shuffle
      // pins on both joins, same broadcast-cliff rule as pagerank above.
      // Measured at sf10: the planner-chosen plan broadcast the ~1M-node
      // frontier/visited relations, 87.6 s vs 44.9 s with shuffle plans.
      // Build sides: the frontier against the cached hash(src) edge
      // partitioning (edges never move), the visited set for the anti.
      val next = InternalCaches.cut(
        frontier.as("f").hint("shuffle_hash")
          .join(e.as("g"), col("f.node") === col("g.src"))
          .select(col("g.dst").as("node")).distinct()
          .as("x")
          .join(visited.as("v").hint("shuffle_hash"),
            col("x.node") === col("v.node"),
            "left_anti")
          .withColumn("hops", lit(h)))
      val n = next.count()
      // Early exit on an exhausted frontier: the remaining hops would
      // each still launch the full expansion pipeline over zero rows.
      if (n == 0) exhausted = true
      else {
        visited = visited.union(next)
        frontier = next
      }
      h += 1
    }
    visited
  }

  val queries: Map[String, Q] = Map(
    // Exact triangle count of the co-purchase graph. The count is the
    // whole answer (one row), so the oracle's naive 3-way self-join and
    // the oriented plan must agree bit-for-bit — integers, no rounding.
    "graph_triangles" -> ((s, d) =>
      triangleCount(coPurchaseEdges(s, d), edgeParts(s, d))),

    // 3 PageRank iterations over the undirected (both-directions)
    // part↔supplier link graph. round(,4): double sums are order-
    // sensitive at ~1e-13; rank magnitudes are O(10).
    "graph_pagerank" -> ((s, d) => {
      pagerank(partSupplierEdges(s, d), 3, edgeParts(s, d))
        .select(col("node"), round(col("pr"), 4).as("pr"))
        .orderBy("node")
    }),

    // BFS hop counts from part nodes {1,2,3} over the part↔supplier
    // graph, 3 hops. The oracle's recursive CTE dedups (node, depth)
    // states with UNION (path enumeration would explode on this dense
    // bipartite graph even at oracle scale); min(depth) then equals the
    // frontier BFS's first-visit depth by construction.
    "graph_shortest_path" -> ((s, d) => {
      import s.implicits._
      val seeds = Seq(1L, 2L, 3L).toDF("node")
      shortestPaths(partSupplierEdges(s, d), seeds, 3, edgeParts(s, d))
        .orderBy("node")
    }))

  val oracle: Map[String, String] = Map(
    "graph_triangles" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 25),
        |p AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |      FROM li a JOIN li b
        |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        |SELECT count(*) AS n_triangles
        |FROM p e1 JOIN p e2 ON e2.u = e1.v
        |          JOIN p e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin,
    "graph_pagerank" ->
      s"""WITH eb AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
        |edges AS (SELECT p AS src, $SuppOffset + sk AS dst FROM eb
        |          UNION ALL SELECT $SuppOffset + sk, p FROM eb),
        |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
        |ce AS (SELECT e.src, e.dst, d.d FROM edges e JOIN deg d ON e.src = d.src),
        |r0 AS (SELECT src AS node, 1.0 AS pr FROM deg),
        |r1 AS (SELECT ce.dst AS node, 0.15 + 0.85 * sum(r.pr / ce.d) AS pr
        |       FROM ce JOIN r0 r ON r.node = ce.src GROUP BY ce.dst),
        |r2 AS (SELECT ce.dst AS node, 0.15 + 0.85 * sum(r.pr / ce.d) AS pr
        |       FROM ce JOIN r1 r ON r.node = ce.src GROUP BY ce.dst),
        |r3 AS (SELECT ce.dst AS node, 0.15 + 0.85 * sum(r.pr / ce.d) AS pr
        |       FROM ce JOIN r2 r ON r.node = ce.src GROUP BY ce.dst)
        |SELECT node, round(pr, 4) AS pr FROM r3 ORDER BY node""".stripMargin,
    "graph_shortest_path" ->
      s"""WITH RECURSIVE eb AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
        |edges AS (
        |  SELECT p AS src, $SuppOffset + sk AS dst FROM eb
        |  UNION ALL
        |  SELECT $SuppOffset + sk AS src, p AS dst FROM eb),
        |walk(node, depth) AS (
        |  SELECT CAST(v AS BIGINT) AS node, 0 AS depth
        |  FROM (VALUES (1), (2), (3)) t(v)
        |  UNION
        |  SELECT e.dst, w.depth + 1
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.depth < 3)
        |SELECT node, CAST(min(depth) AS INTEGER) AS hops
        |FROM walk GROUP BY node ORDER BY node""".stripMargin)
}
