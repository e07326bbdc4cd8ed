package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Relational operator library (SURVEY.md §2.3: scans, projection/filter,
  * joins, aggregations, windows, sorts, set ops).
  *
  * Design stance (SURVEY.md §7.1): declare the logical plan with the
  * DataFrame API and let Catalyst pick the physical strategy. The reference
  * (`Worker/worker.py:72-208`) expresses all of these inside opaque
  * map/reduce scripts with zero optimization; here every query is fully
  * declarative, so predicate pushdown, column pruning, partial aggregation
  * and join selection are free.
  *
  * Scale notes (100 TB posture):
  *  - No `collect()` anywhere; every query is a single distributed plan.
  *  - Small dimensions (region/nation/supplier) are broadcast — explicitly
  *    where the stats wouldn't make it automatic.
  *  - Aggregations are partial+final HashAggregate pairs (map-side combine,
  *    which the reference lacks — SURVEY.md §4.1).
  *  - Final `orderBy` on the small *result* of an aggregation is cheap; the
  *    only global sorts over raw fact tables are the `sort_*` rows, which
  *    Spark executes as range-partitioned sorts (sample + exchange), the
  *    scalable equivalent of the reference's in-RAM `list.sort()`.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** Shared as-of scaffold for `join_asof` / `join_asof_tolerance`: every
    * event row enriched with the latest order at-or-before its timestamp
    * for the matching customer (`o_orderkey`/`o_orderdate`, NULL when no
    * prior order exists), plus the event instant as `t`.
    *
    * Spark has no native as-of. The scalable plan is NOT join-then-top-1
    * (that materializes every (event, earlier-order) pair — measured 100×
    * row amplification at sf0.1, quadratic per hot user — round-1
    * verdict): instead UNION the two streams keyed by user, sort within
    * user by (time, kind, orderkey) with orders first at equal instants
    * (inclusive <=), and carry the latest order forward with
    * last(ignoreNulls) over an unbounded-preceding frame. One shuffle on
    * user_id, zero intermediate amplification, no join node. Tie-break
    * contract: orderkey ascending so last() picks the max-(date,
    * orderkey) order, matching a top-1 under (o_orderdate DESC,
    * o_orderkey DESC); null ordkey (event rows) sort first within their
    * instant.
    */
  private def asofEnriched(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events(s, d).select(
      col("user_id").as("uid"), col("ts").as("t"),
      lit(1).as("is_ev"), col("event_id"),
      lit(null).cast("long").as("ordkey"),
      lit(null).cast("timestamp").as("orddate"))
    val o = orders(s, d).select(
      col("o_custkey").as("uid"), col("o_orderdate").as("t"),
      lit(0).as("is_ev"), lit(null).cast("long").as("event_id"),
      col("o_orderkey").as("ordkey"), col("o_orderdate").as("orddate"))
    val w = Window.partitionBy(col("uid"))
      .orderBy(col("t"), col("is_ev"), asc_nulls_first("ordkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.unionByName(o)
      .withColumn("o_orderkey",
        last(col("ordkey"), ignoreNulls = true).over(w))
      .withColumn("o_orderdate",
        last(col("orddate"), ignoreNulls = true).over(w))
      .filter(col("is_ev") === 1)
  }

  /** The band join |c_acctbal − s_acctbal| ≤ 10 as a bucketized
    * EQUI-join — the one body `join_theta_range` (default plan) and
    * `join_range_banded` share. Both sides bucketize at the band width;
    * a qualifying pair's buckets differ by at most one, so the supplier
    * side replicates to its three servable buckets, the join key is the
    * bucket, and the residual BETWEEN filters exact matches. Each
    * qualifying pair matches exactly once (in the customer's own
    * bucket) — no dedup step, shuffle-partitionable on the bucket key,
    * no nested loop / broadcast requirement anywhere.
    */
  private def bandedAcctbalJoin(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
      .withColumn("bkt", floor(col("c_acctbal") / 10.0))
    val bkt = floor(col("s_acctbal") / 10.0)
    val sup = supplier(s, d)
      .select(col("s_suppkey"), col("s_acctbal"),
        explode(array(bkt - 1, bkt, bkt + 1)).as("bkt"))
    c.join(sup, "bkt")
      .filter(col("c_acctbal").between(col("s_acctbal") - 10,
        col("s_acctbal") + 10))
      .select(col("s_suppkey"), col("c_custkey"))
      .orderBy("s_suppkey", "c_custkey")
  }

  /** The MIDPOINT-SPLIT event relation shared by `agg_drift_psi` and
    * `agg_ks_test`: every event tagged `is_ref` = 1 for the reference
    * half (us ≤ (min+max) div 2 of the stream) and 0 for the current
    * half. One definition so the two monitors' "same halves"
    * cross-query contract is structural, not a comment (review finding
    * r10): an edit to the split — boundary operator, midpoint spelling —
    * now moves both queries and both oracles together or fails the gate
    * loudly.
    */
  private def midpointSplit(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(unix_micros(col("ts")).as("us"), col("value"))
    val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    ev.join(broadcast(mid))
      .select(col("value"),
        (col("us") <= col("mid")).cast("long").as("is_ref"))
  }

  val queries: Map[String, Q] = Map(
    // ---- scans ------------------------------------------------------------
    // Columnar scan with projection pushdown: ReadSchema carries only the
    // two selected columns (reference reads whole text chunks, O2).
    "scan_parquet" -> ((s, d) =>
      region(s, d).select(col("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey")),

    // (scan_csv_schema moved to ops.IO: it now scans a real delimited file
    // on disk — round-1 verdict item 10.)

    // JSON-lines field extraction (typed `from_json`, codegen-friendly).
    "scan_json_lines" -> ((s, d) =>
      events(s, d)
        .select(col("event_id"),
          from_json(col("props"), lit("k INT")).getField("k").as("prop_k"))
        .orderBy("event_id")),

    // The spark.sql ENTRY POINT over registered views — a user of the
    // reference's free-form scripts writes plain ANSI SQL here and gets
    // the SAME Catalyst plan the DataFrame form would produce (one
    // optimizer, one physical planner: broadcast/SMJ selection, partial
    // aggregation, TakeOrderedAndProject all apply). TPC-H Q3 shape:
    // 3-way join, filtered aggregation, ordered top-k. Money arithmetic
    // through DECIMAL(18,4) so the revenue sum is EXACT and order-free —
    // a double sum's rounding would depend on aggregation order and can
    // straddle the round(·, 2) boundary differently per engine.
    "sql_multiway" -> ((s, d) => {
      customer(s, d).createOrReplaceTempView("g_customer")
      orders(s, d).createOrReplaceTempView("g_orders")
      lineitem(s, d).createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT o_orderkey,
          CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
            AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
          o_orderdate
        FROM g_customer JOIN g_orders ON c_custkey = o_custkey
          JOIN g_lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey
        LIMIT 20""")
    }),

    // Correlated scalar subquery (TPC-H Q17 shape): "lineitems below 20%
    // of their part's average quantity". Executed naively this is one
    // aggregate query PER OUTER ROW — the O(n·m) trap. Catalyst's
    // RewriteCorrelatedScalarSubquery decorrelates it into a per-part
    // aggregate LEFT-JOINED to the fact (PlanSpec pins the absence of
    // any scalar-subquery node), so at 100 TB it costs one extra
    // aggregation over the already-shuffled join key, not a subquery per
    // row. The 0.2·avg boundary is engine-exact: quantities are
    // integral-valued doubles, so the sum (< 2⁵³) and count are exact and
    // the single multiply/divide land identically under IEEE in both
    // engines; the price sum rides DECIMAL(18,4) so no float
    // association-order can straddle the round(·, 2) boundary.
    "sql_correlated" -> ((s, d) => {
      part(s, d).createOrReplaceTempView("g_part")
      lineitem(s, d).createOrReplaceTempView("g_lineitem")
      s.sql("""
        SELECT p_brand,
          CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
            AS DOUBLE) AS low_qty_price,
          count(*) AS n_low
        FROM g_lineitem JOIN g_part ON p_partkey = l_partkey
        WHERE l_quantity < (
          SELECT 0.2 * avg(l2.l_quantity)
          FROM g_lineitem l2 WHERE l2.l_partkey = p_partkey)
        GROUP BY p_brand
        ORDER BY p_brand""")
    }),

    // RECURSIVE CTE (ANSI WITH RECURSIVE, Spark 4's iterative union
    // execution): bounded 2-hop BFS from one supplier over the undirected
    // part↔supplier link graph, min-hop per reached node. The depth guard
    // in the recursive member is the scale governor — UNION ALL recursion
    // enumerates PATHS, so an unbounded walk on a cyclic graph diverges;
    // bounded depth keeps the frontier ≤ paths(≤k) and each recursion
    // step is one ordinary equi-join the planner optimizes like any
    // other. (The unbounded-reachability twin is `dedup_clusters`'
    // alternating min-label propagation, which converges by value, not
    // by depth.)
    //
    // SCALE ENVELOPE (measured, r15 sweeps): per-round PATH
    // materialization is this key's class — each recursion step
    // re-joins the full frontier against the edge relation and UNION
    // ALL keeps every path, so on a graph whose density grows with sf
    // the frontier mass grows superlinearly (sf10→sf30 exponent 1.82,
    // the surface's worst; the node-enumerating BFS dual
    // `graph_shortest_path` reads 0.62 on the same span). The key
    // exists precisely to cover ANSI WITH RECURSIVE; a path-enumeration
    // user at scale should reach for `graph_shortest_path`'s frontier
    // form (ops/graph.scala: per-node min-distance state, each round
    // shuffles NODES not paths) and keep recursive CTEs for bounded,
    // selective walks.
    "sql_recursive" -> ((s, d) => {
      // The edge relation (shared derivation: Graph.partSupplierEdges)
      // goes in as a PERSISTED temp view, not an inline CTE: the
      // iterative union executor re-evaluates every relation the
      // recursive member references once per step, so an un-cached edge
      // derivation (distinct over the fact table) would recompute per hop
      // — measured 18-34 s vs ~2 s cached at sf0.1.
      graft.InternalCaches.persistTracked(
        Graph.partSupplierEdges(s, d),
        eager = true).createOrReplaceTempView("g_edges")
      s.sql(s"""
        WITH RECURSIVE walk(node, depth) AS (
          SELECT CAST(${Graph.SuppOffset + 1} AS BIGINT) AS node, 0 AS depth
          UNION ALL
          SELECT e.dst, w.depth + 1
          FROM walk w JOIN g_edges e ON e.src = w.node
          WHERE w.depth < 2)
        SELECT node, min(depth) AS hops
        FROM walk GROUP BY node ORDER BY node""")
    }),

    // LATERAL correlated subquery (ANSI; Spark decorrelates it via
    // DecorrelateInnerQuery into a join + per-group window, the same
    // plan win_topk_per_group declares by hand): "top-2 nations per
    // region by name". Naively this is one ordered subquery PER OUTER
    // ROW; the rewrite makes it one pass however many outer rows exist.
    "sql_lateral" -> ((s, d) => {
      region(s, d).createOrReplaceTempView("g_region")
      nation(s, d).createOrReplaceTempView("g_nation")
      s.sql("""
        SELECT r_name, n_name, n_nationkey
        FROM g_region, LATERAL (
          SELECT n_name, n_nationkey FROM g_nation
          WHERE n_regionkey = r_regionkey
          ORDER BY n_name LIMIT 2) t
        ORDER BY r_name, n_name""")
    }),

    // ---- projection / filter ---------------------------------------------
    // σ+π with both pushed into the parquet scan (PushedFilters on
    // l_quantity; ReadSchema = 4 columns). Reference equivalent: the arity
    // filter + column pick inside `mapper.py:29-31`, applied post-read.
    "project_filter" -> ((s, d) =>
      lineitem(s, d)
        .filter(col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
                col("l_extendedprice"))
        .orderBy("l_orderkey", "l_linenumber")),

    "filter_compound" -> ((s, d) =>
      orders(s, d)
        .filter(
          (col("o_orderstatus") === "F" || col("o_orderpriority").like("1-%"))
            && col("o_totalprice").between(1000, 150000)
            && !col("o_orderpriority").isin("4-NOT SPECIFIED")
            && col("o_custkey").isNotNull)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
                col("o_orderpriority"))
        .orderBy("o_orderkey")),

    "project_expr" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          // round at 6: the 2+2+2-decimal product is exact there, so the
          // rounding never lands on a .5 boundary (Spark/DuckDB would
          // disagree on boundary halves — SURVEY.md §7.5 item 5)
          round((col("l_extendedprice") * (lit(1) - col("l_discount")))
            * (lit(1) + col("l_tax")), 6).as("charge"),
          when(col("l_quantity") < 10, "small")
            .when(col("l_quantity") < 25, "mid")
            .otherwise("big").as("bucket"))
        .orderBy("l_orderkey", "l_linenumber")),

    // ---- joins ------------------------------------------------------------
    // Equi inner join: at scale this is a shuffle hash / sort-merge join on
    // l_orderkey; both sides shuffle once on the join key and AQE can
    // convert to broadcast if the filtered side is small.
    "join_inner" -> ((s, d) =>
      lineitem(s, d).join(orders(s, d),
          col("l_orderkey") === col("o_orderkey"), "inner")
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("revenue"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Broadcast hash join: supplier is a bounded dimension — broadcast it so
    // the 100 TB fact side never shuffles. Plan-shape asserted in the spec.
    "join_broadcast" -> ((s, d) =>
      lineitem(s, d).join(broadcast(supplier(s, d)),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        // DECIMAL sum: order-free and exact (the sql_multiway
        // discipline) — a raw double sum straddling a .005 boundary
        // rounds differently per merge order
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,4)")), 2)
             .cast("double").as("total_price"),
             count(lit(1)).as("n_items"))
        .orderBy("s_name")),

    "join_left" -> ((s, d) =>
      customer(s, d).join(orders(s, d),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")),

    "join_full" -> ((s, d) => {
      val c = customer(s, d).groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("c_cnt"))
      val p = supplier(s, d).groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("s_cnt"))
      c.join(p, col("c_nationkey") === col("s_nationkey"), "full")
        .select(coalesce(col("c_nationkey"), col("s_nationkey")).as("nk"),
                col("c_cnt"), col("s_cnt"))
        .orderBy("nk")
    }),

    // Existence joins: semi/anti never materialize the probe payload, so the
    // build side is the only shuffled data — the scalable form of "IN".
    "join_semi" -> ((s, d) =>
      customer(s, d).join(
          orders(s, d).filter(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")),

    "join_anti" -> ((s, d) =>
      customer(s, d).join(orders(s, d),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")),

    // Non-equi band join |c_acctbal − s_acctbal| ≤ 10, planned as the
    // banded bucketization ([[bandedAcctbalJoin]], shared with
    // `join_range_banded`): a broadcast nested loop streams
    // |big|·|small| comparisons (measured 22.7× on 10× data at r7 sf1
    // vs ~3× for the banded equi-join) for the same output.
    "join_theta_range" -> ((s, d) => bandedAcctbalJoin(s, d)),

    // The 100 TB form of the same range predicate: bucketize both sides
    // at the band width — a pair with |c - s| ≤ 10 has buckets differing
    // by at most one, so the supplier side replicates to its three
    // servable buckets and the join becomes a pure EQUI-join on the
    // bucket plus the residual BETWEEN. Shuffle-partitionable on the
    // bucket key (no nested loop, no broadcast requirement — PlanSpec
    // pins it), and each qualifying pair matches exactly once (in the
    // customer's own bucket), so no dedup step. This is the interval-join
    // shape that survives two fact-sized sides.
    "join_range_banded" -> ((s, d) => bandedAcctbalJoin(s, d)),

    // As-of join: latest order at-or-before each event's timestamp for the
    // matching customer (asofEnriched above holds the plan and the
    // tie-break contract; this is the inner-join form).
    "join_asof" -> ((s, d) =>
      asofEnriched(s, d)
        .filter(col("o_orderkey").isNotNull)
        .select(col("event_id"), col("o_orderkey"), col("o_orderdate"))
        .orderBy("event_id")),

    // As-of join with a STALENESS TOLERANCE (pandas merge_asof(tolerance=·)
    // semantics): every event keeps its row (left-join form), but a match
    // older than 30 days is nulled out — the "last known value, unless
    // it's too old to trust" enrichment a feature pipeline wants. Same
    // single-window plan as join_asof (shared scaffold: asofEnriched);
    // the tolerance is one post-window predicate, so the 100 TB cost is
    // identical to the unbounded as-of.
    "join_asof_tolerance" -> ((s, d) =>
      asofEnriched(s, d)
        .withColumn("age_days",
          datediff(to_date(col("t")), to_date(col("o_orderdate"))))
        .select(col("event_id"),
          when(col("age_days") <= 30, col("o_orderkey")).as("o_orderkey"),
          when(col("age_days") <= 30, col("age_days")).as("age_days"))
        .orderBy("event_id")),

    // Chi-square independence test over a categorical contingency
    // table: observed cell counts from ONE map-side-combined pass,
    // expected = row·col/N from broadcast marginals, χ² = Σ(O−E)²/E.
    // The cell relation is category-cardinality-sized — every join after
    // the first aggregate is tiny — and counts are exact integers, so
    // the statistic is deterministic across engines under rounding.
    "agg_chi_square" -> ((s, d) => {
      val cells = graft.InternalCaches.persistTracked(
        lineitem(s, d)
          .groupBy(col("l_returnflag").as("rf"),
            col("l_linestatus").as("ls"))
          .agg(count(lit(1)).as("o")))
      val rowT = cells.groupBy(col("rf")).agg(sum(col("o")).as("rt"))
      val colT = cells.groupBy(col("ls")).agg(sum(col("o")).as("ct"))
      val tot = cells.agg(sum(col("o")).as("nn"),
        countDistinct(col("rf")).as("r"),
        countDistinct(col("ls")).as("c"))
      cells.join(broadcast(rowT), "rf").join(broadcast(colT), "ls")
        .join(broadcast(tot))
        .select(col("o"), col("r"), col("c"),
          (col("rt").cast("double") * col("ct") / col("nn")).as("e"))
        .groupBy(col("r"), col("c"))
        .agg(round(sum(pow(col("o") - col("e"), 2) / col("e")), 6)
          .as("chi2"))
        .select(col("chi2"), ((col("r") - 1) * (col("c") - 1)).as("df"))
    }),

    // Welch two-sample t-test — "is the difference real?": means,
    // sample variances, and counts for the two compared groups come out
    // of ONE map-side-combined aggregate pass; the t statistic and the
    // Welch–Satterthwaite df are 1×1-join arithmetic after that. The
    // 2-row group relation is persisted (two branches read it); both
    // engines compute the identical closed-form expressions, rounding
    // absorbs the var_samp merge-order ulps.
    "agg_ttest" -> ((s, d) => {
      val g = graft.InternalCaches.persistTracked(
        lineitem(s, d).filter(col("l_returnflag").isin("A", "R"))
          .groupBy(col("l_returnflag"))
          .agg(avg(col("l_quantity")).as("m"),
            var_samp(col("l_quantity")).as("v"),
            count(lit(1)).as("n")))
      val a = g.filter(col("l_returnflag") === "A")
        .select(col("m").as("m1"), col("v").as("v1"), col("n").as("n1"))
      val r = g.filter(col("l_returnflag") === "R")
        .select(col("m").as("m2"), col("v").as("v2"), col("n").as("n2"))
      val se2 = col("v1") / col("n1") + col("v2") / col("n2")
      a.join(r)
        // + 0.0 canonicalizes −0.0 on the sign-flippable rounded stats
        // (the agg_stats discipline)
        .select((round(col("m1") - col("m2"), 6) + lit(0.0))
            .as("mean_diff"),
          (round((col("m1") - col("m2")) / sqrt(se2), 6) + lit(0.0))
            .as("t"),
          round(pow(se2, 2)
            / (pow(col("v1") / col("n1"), 2) / (col("n1") - 1)
              + pow(col("v2") / col("n2"), 2) / (col("n2") - 1)), 2)
            .as("df"))
    }),

    // Delete-one-bucket JACKKNIFE — error bars on a corpus statistic
    // without resampling the data: rows hash into g=10 deterministic
    // buckets (integer arithmetic, oracle-reproducible), each bucket
    // contributes (sum, count), and the leave-one-out means θᵢ =
    // (S−sᵢ)/(N−nᵢ) yield se = √((g−1)/g · Σ(θᵢ−θ̄)²). Everything after
    // the one map-side-combined bucket aggregate is 10-row arithmetic —
    // the standard-error of a 100 TB mean costs one aggregation pass.
    // l_quantity is integral, so every bucket sum is an exact double and
    // the estimator is bit-deterministic across engines.
    "agg_jackknife" -> ((s, d) => {
      val g = 10
      // persisted: `b` feeds both the totals branch and the theta join —
      // uncached, the corpus-sized aggregation (the query's only big
      // work) would run once per branch
      val b = graft.InternalCaches.persistTracked(
        lineitem(s, d)
          .groupBy(((col("l_orderkey") * 7 + col("l_linenumber")) % g)
            .as("bkt"))
          .agg(sum(col("l_quantity")).as("s"), count(lit(1)).as("n")))
      val tot = b.agg(sum(col("s")).as("ss"), sum(col("n")).as("nn"))
      // Σ(θᵢ−θ̄)² = Σθ² − (Σθ)²/g: two plain sums instead of a
      // centered second pass; at θ ≈ 25 the cancellation costs ~8 of 16
      // double digits, far inside the 6-decimal rounding. The greatest-0
      // clamp (both engines) guards the near-zero-variance corner where
      // cancellation lands a few ulps NEGATIVE — Spark's sqrt would
      // return NaN while DuckDB hard-errors, an asymmetric failure
      b.join(broadcast(tot))
        .select(((col("ss") - col("s")) / (col("nn") - col("n")))
          .as("theta"), col("ss"), col("nn"))
        .agg(round(first(col("ss")) / first(col("nn")), 6).as("mean"),
          round(sqrt(((lit(g) - 1).cast("double") / g)
            * greatest(sum(pow(col("theta"), 2))
              - pow(sum(col("theta")), 2) / g, lit(0.0))), 6).as("jk_se"))
        .select(col("mean"), col("jk_se"), lit(g).as("g"))
    }),

    // CDC snapshot diff — the change-feed READ of a copy-on-write table:
    // row-level (op, key, before, after) between two snapshot versions,
    // classified by a single full outer join on the key (one shuffle per
    // side; at lake scale both sides are the same partitioned layout, so
    // the join co-locates). v1 is synthesized from v0 with every gate
    // observable: every 101st key deleted, every 103rd price updated
    // (by a ROUND-FREE +1.5 — a ×1.1-then-round update hit a .5-boundary
    // rounding-mode disagreement between engines at sf0.1; addition is
    // the identical double on both sides) (update emitted only when the
    // value ACTUALLY changed —
    // unchanged rows are filtered, the contract that keeps a change feed
    // sparse), and an inserted key range offset by +10^15 (o_orderkey
    // tops out near 6M×SF, so 10^15 stays clear of live keys up to
    // SF≈1.7×10^8 — far past any plausible scale; the first cut's
    // +20000 collided at sf0.1, and the next cut's +10^9 would have
    // collided again around SF≥170. A production feed would derive the
    // offset from max(key)+gap; the constant keeps the oracle SQL a
    // literal replay).
    "cdc_diff" -> ((s, d) => {
      val v0 = orders(s, d).select(col("o_orderkey").as("k"),
        col("o_totalprice").as("price"))
      val v1 = v0.filter(col("k") % 101 =!= 0)
        .select(col("k"),
          when(col("k") % 103 === 0, col("price") + 1.5)
            .otherwise(col("price")).as("price"))
        .unionByName(v0.filter(col("k") % 97 === 0)
          .select((col("k") + 1000000000000000L).as("k"), col("price")))
      v0.select(col("k"), col("price").as("before"))
        .join(v1.select(col("k"), col("price").as("after")), Seq("k"),
          "full")
        .select(col("k"),
          when(col("after").isNull, lit("delete"))
            .when(col("before").isNull, lit("insert"))
            .otherwise(lit("update")).as("op"),
          col("before"), col("after"))
        .filter(col("before").isNull || col("after").isNull
          || col("before") =!= col("after"))
        .orderBy("k")
    }),

    // NULL-SAFE equality join (<=> / IS NOT DISTINCT FROM): null keys
    // MATCH each other instead of silently dropping — the semantics a
    // dimension with an "unknown" bucket needs. EqualNullSafe is still
    // an equi-join key to Spark, so the plan stays a hash join (null
    // hashes like any value); nothing degrades to a nested loop. Both
    // sides are priority-level aggregates with '3-MEDIUM' nulled out, so
    // the null=null match is observable: plain equality would lose it.
    "join_null_safe" -> ((s, d) => {
      def k(c: String) =
        when(col(c) === "3-MEDIUM", lit(null)).otherwise(col(c)).as("k")
      val l = orders(s, d).groupBy(k("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
      val r = orders(s, d).groupBy(k("o_orderpriority"))
        .agg(round(sum(col("o_totalprice")), 2).as("total"))
      l.join(r, l("k") <=> r("k"))
        .select(l("k"), col("n_orders"), col("total"))
        .orderBy(asc_nulls_first("k"))
    }),

    // Skew-safe salted join: the fact side's join key gains a deterministic
    // salt (derived from the row, not random — replayable plans only), the
    // dimension side is replicated once per salt value, and the join runs
    // on (key, salt) — a hot key's rows spread over SALTS reducers instead
    // of one. This is the manual form of AQE's skew-join split, needed
    // when a key is hot EVERY run (AQE re-splits per query) or when the
    // dimension must not broadcast. Result ≡ the unsalted join (oracle).
    "join_salted" -> ((s, d) => {
      val salts = 8
      val e = events(s, d)
        .select(col("event_id"), col("user_id"),
          pmod(xxhash64(col("event_id")), lit(salts)).as("salt"))
      val c = customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          explode(sequence(lit(0), lit(salts - 1))).as("salt"))
      e.join(c, col("user_id") === col("c_custkey")
          && e("salt") === c("salt"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("c_mktsegment")
    }),

    // Bloom-prefiltered join (the runtime-filter / semi-join-reduction
    // pattern): the dim side's join keys fold into an 8 KiB bitset
    // (expr/bloom.scala), broadcast as one row; the fact side is filtered
    // by the codegen'd might-contain predicate BEFORE its join — at
    // 100 TB the fact shuffle carries only the ~matching slice instead of
    // the whole table, and the bitset broadcast is O(1) however large the
    // dim grows (vs broadcasting the dim itself). The exact equi-join
    // after the prefilter removes bloom false positives, so the composed
    // result is bit-identical to the plain join (the oracle IS the plain
    // join). DECIMAL-exact revenue like sql_correlated — summation order
    // must not leak into the hash compare.
    "join_bloom_prefilter" -> ((s, d) => {
      val dim = supplier(s, d)
        .join(nation(s, d).filter(col("n_name") === "NATION_7"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      val bloomAgg = udaf(graft.expr.BloomFilter.agg)
      val bloom = dim.agg(bloomAgg(col("s_suppkey")).as("bf"))
      lineitem(s, d)
        .crossJoin(broadcast(bloom))
        .filter(graft.expr.BloomFilter.mightContain(col("bf"),
          col("l_suppkey")))
        .drop("bf")
        .join(dim, col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"))
        .agg(round(sum(col("l_extendedprice").cast("decimal(18,4)")), 2)
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("s_suppkey")
    }),

    // ---- aggregations -----------------------------------------------------
    // Flagship (SURVEY.md §2.2): grouped MAX + ordered presentation — the
    // reference's entire example job (mapper.py + reducer.py + READ sort).
    "agg_groupby_max" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(round(max(col("l_extendedprice")), 4).as("max_price"))
        .orderBy("l_returnflag")),

    "agg_multi" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          min(col("l_shipdate")).as("min_ship"),
          round(max(col("l_discount")), 4).as("max_disc"),
          count(lit(1)).as("n"))
        .filter(col("n") > 10)
        .orderBy("l_returnflag", "l_linestatus")),

    "agg_count_distinct" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"))
        .orderBy("o_orderstatus")),

    // SEVERAL distinct aggregates over different columns in one pass:
    // Catalyst plans this through an Expand node that replicates each
    // input row once per distinct column (tagged with a grouping id), so
    // a k-distinct aggregate shuffles k× the row count — the plan to
    // know about before writing one, and why an HLL sketch per column
    // (agg_approx_distinct) is the 100 TB default when exactness is
    // negotiable. Exact multi-distinct stays correct at any scale; the
    // Expand inflation is the price.
    "agg_multi_distinct" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("nd_part"),
          countDistinct(col("l_suppkey")).as("nd_supp"),
          countDistinct(col("l_orderkey")).as("nd_order"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    // HLL sketch — approximate by design: the oracle (r15) pairs it with
    // DuckDB's own HLL so the driver gate verifies row shape
    // (rows+schema; the estimate hash legitimately differs across
    // engines), the local gate (scripts/oracle_check.py, r16)
    // additionally value-compares every non-estimate column — here the
    // o_orderstatus group keys — and AccuracySpec bounds the error vs
    // exact.
    "agg_approx_distinct" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx_cust"))
        .orderBy("o_orderstatus")),

    // Mergeable sketch STATE, not just a sketch estimate: per-group HLL
    // sketches (Datasketches binary state) are themselves unioned into
    // the corpus-wide estimate — re-aggregating a few KB of state per
    // group instead of rescanning the data. This is the 100 TB rollup
    // posture: daily/partition sketches persist, and any coarser total
    // (week, global) is a union over states — the plan here reads the
    // persisted 3-row sketch relation for BOTH outputs, so `orders` is
    // scanned exactly once. HLL union is lossless (the merged state
    // equals the state of sketching the whole corpus directly — a law
    // AccuracySpec pins, alongside a ±5% bound vs exact), which is what
    // makes the estimate safe to roll up, unlike re-sketching samples.
    // Oracle (r15): DuckDB's HLL replays the same per-group + global
    // rollup SHAPE (rows+schema gate; estimate values differ by engine).
    // The 'ALL' rollup sentinel rides the o_orderstatus column; since
    // r16 the local gate value-compares that key column (estimate col
    // excluded), so a fixture minting a literal 'ALL' status — or any
    // key collision with the sentinel — fails the compare instead of
    // silently merging with the rollup row.
    "agg_sketch_union" -> ((s, d) => {
      val sk = graft.InternalCaches.persistTracked(
        orders(s, d).groupBy(col("o_orderstatus"))
          .agg(hll_sketch_agg(col("o_custkey"), lit(12)).as("sk")))
      sk.select(col("o_orderstatus"),
          hll_sketch_estimate(col("sk")).as("est_custs"))
        .unionByName(sk
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(true)))
            .as("est_custs"))
          .select(lit("ALL").as("o_orderstatus"), col("est_custs")))
        .orderBy("o_orderstatus")
    }),

    // Pivot: long→wide per-user event-type counts. The pivot values are
    // DECLARED, not discovered — an implicit pivot first runs a distinct
    // scan over the whole input to learn the column set (and caps it at
    // spark.sql.pivotMaxValues); declaring them keeps the plan a single
    // partial-aggregated groupBy at any scale. The oracle expresses the
    // same table with ANSI filtered counts — pivot is syntactic sugar
    // over exactly that.
    "agg_pivot" -> ((s, d) =>
      events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type",
          Seq("view", "click", "purchase", "signup", "error"))
        .count()
        // scope the fill to the pivoted counts — an unscoped fill would
        // also rewrite a null group KEY to user_id=0 and merge groups
        .na.fill(0L, Seq("view", "click", "purchase", "signup", "error"))
        .orderBy("user_id")),

    // EXACT distributed distinct count with MERGEABLE state: per
    // (group, bucket) bitmaps of the key's bit positions — the partial
    // aggregate combines byte arrays map-side, the final sums per-bucket
    // popcounts. The HLL sketch (agg_approx_distinct) trades exactness
    // for fixed state; the bitmap keeps exactness with state ∝
    // |distinct|/8 bytes, and the bucket key spreads that state across
    // the cluster — the shape an exact-uniques report takes at 100 TB
    // when ±5% is not acceptable and a count(DISTINCT) expand would
    // double-shuffle the raw rows. Oracle = plain count(DISTINCT).
    "agg_bitmap_distinct" -> ((s, d) =>
      events(s, d)
        .groupBy(col("event_type"),
          expr("bitmap_bucket_number(user_id)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
          .as("bm"))
        .groupBy(col("event_type"))
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
        .orderBy("event_type")),

    // Ordered-argument extrema: which user produced the highest/lowest
    // valued event per type. max_by/min_by carry the argument through the
    // partial+final aggregate — no join-back, no window, one shuffle of
    // 5 groups at any scale. Ties on `value` are broken by folding the
    // unique event_id into one integral ordering key (value is 2-decimal
    // by fixture contract, so round(value*100) is exact in a long) —
    // max_by is otherwise free to return ANY argmax row, which a
    // hash-compared oracle can't allow. (Struct-ordered max_by would
    // avoid the packing, but DuckDB's arg_max can't order by a struct.)
    // Key validity bounds, exact long arithmetic: event_id < 2^40
    // (~1.1e12 rows) and value*100 < 2^23 — outside them the fields
    // would interleave and the "tie-free" claim silently break, so both
    // are documented here rather than assumed.
    "agg_arg_extrema" -> ((s, d) =>
      events(s, d)
        .withColumn("ord",
          round(col("value") * 100).cast("long") * 1099511627776L
            + col("event_id"))
        .groupBy(col("event_type"))
        .agg(max_by(col("user_id"), col("ord")).as("top_user"),
          min_by(col("user_id"), col("ord")).as("bottom_user"),
          count_if(col("value") > 250).as("n_high"))
        .orderBy("event_type")),

    // Set-valued aggregation: the per-language source inventory.
    // collect_set dedups inside partial-aggregate state (map-side
    // combine), so the shuffle carries per-partition distinct sets, not
    // rows; array_sort pins the output order — a set has none, and a
    // hash-compared result can't tolerate permutation. The sorted set is
    // emitted as ONE comma-joined string column: a scalar survives any
    // downstream hash/sort compare, where an array column does not
    // (harness compares choke on unhashable list cells). Scale note: the
    // set is bounded by the source-domain cardinality (20 here), NOT the
    // row count — collect_list would be the unbounded-state trap.
    "agg_collect_set" -> ((s, d) =>
      documents(s, d)
        .groupBy(col("lang"))
        .agg(array_join(array_sort(collect_set(col("source"))), ",")
            .as("sources"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")),

    // Statistical aggregate family: correlation, sample covariance /
    // stddev / variance per group — the profiling pass before feature
    // selection or anomaly thresholds. All four are single-pass mergeable
    // aggregates (sum/sum-of-squares/cross-product state), so they
    // partial-aggregate map-side like any sum; rounding absorbs the
    // float association-order difference between engines. The `+ 0.0`
    // after every round is load-bearing: a tiny negative value rounds to
    // IEEE NEGATIVE zero in one engine and positive zero in the other
    // ('-0' != '0' under the driver's stringified hash compare), and
    // -0.0 + 0.0 = +0.0 canonicalizes both.
    "agg_stats" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg((round(corr(col("l_extendedprice"), col("l_quantity")), 4)
            + 0.0).as("price_qty_corr"),
          (round(covar_samp(col("l_discount"), col("l_tax")), 6) + 0.0)
            .as("disc_tax_cov"),
          (round(stddev_samp(col("l_extendedprice")), 2) + 0.0)
            .as("price_sd"),
          (round(var_samp(col("l_quantity")), 4) + 0.0).as("qty_var"))
        .orderBy("l_returnflag")),

    // Per-group MODE (most frequent value) with a deterministic smallest-
    // value tie-break: the categorical profiling twin of agg_stats. Two
    // stacked partial+final aggregates — the (group, value) count shuffles
    // once on the compound key (map-side combined, so the shuffle carries
    // distinct pairs per partition, not rows), then the per-group argmax
    // reduces on the group key alone. min_by over a (−n, value) struct is
    // the tie-break: struct ordering compares −n first (highest count
    // wins) then value (lexicographically smallest wins a count tie) —
    // without it, mode is nondeterministic under ties and can't be
    // hash-compared across engines. At 100 TB both shuffle keys are
    // bounded by domain cardinality, not row count.
    "agg_mode" -> ((s, d) =>
      orders(s, d)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("o_orderstatus"))
        .agg(
          min_by(col("o_orderpriority"),
            struct((-col("n")).as("neg_n"),
              col("o_orderpriority").as("v"))).as("mode_priority"),
          max(col("n")).as("n_mode"))
        .orderBy("o_orderstatus")),

    // Simple linear regression per group (price over quantity): slope /
    // intercept / R² / n. Like agg_stats these are single-pass mergeable
    // co-moment aggregates (Σx, Σy, Σxy, Σx², Σy² state) — they partial-
    // aggregate map-side, so the shuffle carries 5 doubles per group
    // regardless of row count. The fit itself never leaves the executors.
    "agg_linreg" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          (round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
            + 0.0).as("slope"),
          (round(regr_intercept(col("l_extendedprice"),
            col("l_quantity")), 4) + 0.0).as("intercept"),
          (round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
            + 0.0).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
        .orderBy("l_returnflag")),

    // Time-bucket RESAMPLING to OHLC bars (the classic metric/tick
    // downsampler): hourly open/high/low/close/count over the event
    // stream. open/close are min_by/max_by over the (ts, event_id)
    // struct — single-pass mergeable aggregates, so the whole bar
    // computes map-side-partial like any sum (no window, no sort); the
    // tie-break key makes bars deterministic when two events share a
    // timestamp. Values are picked, not computed — no rounding needed
    // for cross-engine parity. Shuffle key = bucket count (bounded by
    // the retention window), never event count.
    "agg_resample_ohlc" -> ((s, d) =>
      events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("bar_ts"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id")))
            .as("open_v"),
          max(col("value")).as("high_v"),
          min(col("value")).as("low_v"),
          max_by(col("value"), struct(col("ts"), col("event_id")))
            .as("close_v"),
          count(lit(1)).as("n_events"))
        .orderBy("bar_ts")),

    // Higher central moments per group: POPULATION skewness and excess
    // kurtosis (Spark's definitions — m₃/m₂^1.5 and m₄/m₂²−3). DuckDB's
    // skewness/kurtosis builtins apply SAMPLE bias corrections, so the
    // oracle re-derives the population forms from raw moments
    // (E[x],E[x²],E[x³],E[x⁴]) — algebraically identical, and the
    // l_quantity range (1..50) keeps the raw-moment cancellation far
    // from double-precision trouble. Single-pass mergeable state like
    // the rest of the stats family.
    "agg_skew_kurt" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg((round(skewness(col("l_quantity")), 6) + 0.0).as("qty_skew"),
          (round(kurtosis(col("l_quantity")), 6) + 0.0).as("qty_kurt"))
        .orderBy("l_returnflag")),

    // Quantile BINNING against GLOBAL cut points (the feature-engineering
    // discretizer): exact quartile cuts of the price distribution, then
    // every row assigned its bin by comparison — two passes, with the
    // 3-value cut relation broadcast as one row (vs win_ntile's
    // equal-count ranks, these are VALUE bins: reproducible boundaries a
    // scorer can ship). Cuts are rounded to 6 decimals on both sides
    // before comparing: the interpolation arithmetic differs by ulps
    // between engines, and an unrounded cut could flip a `<` for a row
    // sitting exactly on it.
    "agg_quantile_bin" -> ((s, d) => {
      val cuts = orders(s, d).agg(
        expr("transform(percentile(o_totalprice, array(0.25, 0.5, 0.75))," +
          " x -> round(x, 6))").as("q"))
      orders(s, d).crossJoin(broadcast(cuts))
        .select(col("o_totalprice"),
          when(col("o_totalprice") < element_at(col("q"), 1), 0)
            .when(col("o_totalprice") < element_at(col("q"), 2), 1)
            .when(col("o_totalprice") < element_at(col("q"), 3), 2)
            .otherwise(3).as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy("bin")
    }),

    // ANSI filtered aggregates: conditional counts/sums and boolean
    // aggregates in ONE grouped pass (count_if / FILTER-style conditional
    // sum / every / bool_or) — the profile query that otherwise spawns k
    // separate scans. All single-pass mergeable; the conditional sum uses
    // `when` without otherwise (null is skipped by sum), exactly SQL's
    // FILTER (WHERE ...) semantics. DECIMAL-exact sum — summation order
    // must not leak into the hash compare.
    "agg_filtered" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count_if(col("l_quantity") > 25).as("n_big"),
          round(sum(when(col("l_discount") > 0.05,
            col("l_extendedprice").cast("decimal(18,4)"))), 2)
            .cast("double").as("disc_price"),
          every(col("l_quantity") > 0).as("all_pos"),
          bool_or(col("l_tax") > 0.07).as("any_hi_tax"))
        .orderBy("l_returnflag")),

    // Cohort RETENTION matrix: users bucketed by first-activity week,
    // counted at each later active week offset — the growth-analytics
    // readout, and the canonical "two-level temporal rollup". Shape: one
    // groupBy for first-touch, one distinct for activity, one join on the
    // entity key (user-partitioned — broadcastable while the user dim
    // fits, hash-colocated beyond), then a bounded-key groupBy (weeks ×
    // offsets, never user count). Offsets are exact multiples of 7 days
    // by construction (both engines truncate weeks to Monday), so the
    // integer division is drift-free.
    "agg_retention" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
      val firsts = ev.groupBy("user_id").agg(min(col("w")).as("cohort"))
      val active = ev.distinct()
      active.join(firsts, "user_id")
        .select(to_date(col("cohort")).as("cohort_week"),
          (datediff(col("w"), col("cohort")) / 7).cast("int")
            .as("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }),

    // Exponentially time-decayed sum per event type: each observation
    // weighted by exp(-age/τ) against a fixed anchor instant (τ = 7 days
    // — the recency weighting feature pipelines use for engagement
    // scores). A plain mergeable sum — the decay is a per-row scalar, so
    // the aggregate stays map-side-partial and the shuffle key is the
    // type domain, not the event count. Age is computed in exact integer
    // micros before the one float op; round(,4) absorbs summation-order
    // drift.
    "agg_decay" -> ((s, d) => {
      val anchorUs = lit(1706745600000000L) // 2024-02-01 00:00:00 UTC
      val tauUs = lit(7.0 * 24 * 3600 * 1000000) // 7 days in micros
      events(s, d)
        .groupBy(col("event_type"))
        .agg(
          round(sum(col("value")
            * exp(-(anchorUs - unix_micros(col("ts"))) / tauUs)), 4)
            .as("decayed_sum"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    }),

    // POPULATION-STABILITY-INDEX drift monitor — the one-number "did the
    // value distribution move" check a continuously-ingesting pipeline
    // runs between a reference window and the current one: events split
    // at the midpoint instant, values binned at fixed width 50,
    // psi = Σ_b (q_b − p_b)·ln(q_b/p_b) with add-½ smoothing so buckets
    // empty on one side stay finite (p = (n+½)/(N+½B)). PSI < 0.1 is
    // the conventional "stable" band. Scale shape: one map-side-combined
    // groupBy to BUCKET cardinality (~10 rows at width 50), single-row
    // totals and midpoint ride broadcast joins — the event stream is
    // never shuffled wide, and the log-sum runs over the bucket
    // relation. Exact-count ratios into one rounded double ⇒
    // cross-engine deterministic at 6 decimals.
    "agg_drift_psi" -> ((s, d) => {
      // persisted EAGERLY: the totals and term branches both read it
      // inside one action — an unpopulated entry would recompute the
      // whole scan+aggregate subtree per branch (two more corpus passes
      // at scale for a ~10-row relation)
      val counts = graft.InternalCaches.persistTracked(
        midpointSplit(s, d)
          .select(floor(col("value") / 50.0).cast("long").as("bucket"),
            col("is_ref"))
          .groupBy(col("bucket"))
          .agg(sum(col("is_ref")).as("nr"),
            sum(lit(1L) - col("is_ref")).as("nc")),
        eager = true)
      val tot = counts.agg(sum(col("nr")).as("tr"), sum(col("nc")).as("tc"),
        count(lit(1)).as("nb"))
      val p = (col("nr") + 0.5) / (col("tr") + col("nb") * 0.5)
      val q = (col("nc") + 0.5) / (col("tc") + col("nb") * 0.5)
      counts.join(broadcast(tot))
        .select(((q - p) * log(q / p)).as("term"))
        .agg(round(sum(col("term")), 6).as("psi"),
          count(lit(1)).as("n_buckets"))
    }),

    // Exact two-sample KOLMOGOROV–SMIRNOV statistic between the same
    // midpoint halves as agg_drift_psi — the distribution-shift test
    // with no binning choice: D = max over step points of
    // |F_ref(v) − F_cur(v)|. The global CDF needs a corpus-wide running
    // sum, which is where naive plans die (a partition-less window
    // funnels every row through ONE task): here it is the standard
    // TWO-PASS PREFIX SUM — range-partition the distinct-value relation,
    // per-partition totals (a partition-count-sized relation) prefix-sum
    // into offsets, broadcast back, and each partition finishes its own
    // ordered window locally. The value relation is persisted so the
    // offsets branch and the final join read ONE materialization (range
    // boundaries come from sampling — two independent computations could
    // disagree on pid placement). Exact integer counts into one rounded
    // double ⇒ cross-engine deterministic.
    "agg_ks_test" -> ((s, d) => {
      val ranged = TwoPass.rangedByPid(
        midpointSplit(s, d)
          .groupBy(col("value"))
          .agg(sum(col("is_ref")).as("nr"),
            sum(lit(1L) - col("is_ref")).as("nc")),
        col("value"))
      val wOff = org.apache.spark.sql.expressions.Window.orderBy(col("pid"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      // partition-count-sized relation: the tiny window is over
      // ≤ defaultParallelism rows
      val off = ranged.groupBy(col("pid"))
        .agg(sum(col("nr")).as("pr"), sum(col("nc")).as("pc"))
        .select(col("pid"),
          coalesce(sum(col("pr")).over(wOff), lit(0L)).as("offr"),
          coalesce(sum(col("pc")).over(wOff), lit(0L)).as("offc"))
      val tot = ranged.agg(sum(col("nr")).as("tr"), sum(col("nc")).as("tc"))
      val wLoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pid")).orderBy(col("value"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      // greatest(·, 1) guards the degenerate split where every event
      // carries the same timestamp (one half empty, t = 0): the empty
      // half's CDF reads 0 everywhere and D = 1 instead of NaN/∞ —
      // the same greatest() spelling runs in the oracle, so both
      // engines agree even on that adversarial input.
      ranged.join(broadcast(off), "pid").join(broadcast(tot))
        .select(abs(
          (col("offr") + sum(col("nr")).over(wLoc)).cast("double")
              / greatest(col("tr"), lit(1L))
            - (col("offc") + sum(col("nc")).over(wLoc)).cast("double")
              / greatest(col("tc"), lit(1L))).as("d"),
          col("tr"), col("tc"))
        // grouped on (tr, tc) — a single group when rows exist, ZERO
        // rows on an empty stream, matching the oracle's GROUP BY
        // (an ungrouped agg emitted one all-null row the oracle's
        // grouped form doesn't — review finding r10)
        .groupBy(col("tr"), col("tc"))
        .agg(round(max(col("d")), 6).as("ks_d"))
        .select(col("ks_d"), col("tr").as("n_ref"), col("tc").as("n_cur"))
    }),

    // Shannon entropy of the language mix per source — the corpus-balance
    // diagnostic a training-data pipeline reads before sampling weights.
    // Two stacked partial-agged groupBys (domain-bounded shuffle keys,
    // like agg_mode); H = ln n − (Σ c·ln c)/n is algebraically
    // −Σ p·ln p but needs only per-(source,lang) counts, no second pass
    // over rows for p.
    "agg_entropy" -> ((s, d) =>
      documents(s, d)
        .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(
          (round(log(sum(col("c")))
            - sum(col("c") * log(col("c"))) / sum(col("c")), 6) + 0.0)
            .as("lang_entropy"),
          sum(col("c")).as("n_docs"))
        .orderBy("source")),

    // Ordered string aggregation (listagg): deterministic by sorting the
    // collected array before joining — collect_list order is partition-
    // arrival order, never comparable across engines. Bounded per group
    // by construction here (25 nations); at 100 TB listagg over an
    // unbounded group is an anti-pattern regardless of engine (single
    // O(group) string on one reducer) — cap the group or use
    // win_topk_per_group first.
    "agg_string_agg" -> ((s, d) =>
      nation(s, d)
        .join(broadcast(region(s, d)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",")
            .as("members"),
          count(lit(1)).as("n_nations"))
        .orderBy("r_name")),

    // Equal-width histogram over a declared range: the distribution
    // profile a pipeline computes before choosing partition bounds or
    // spotting outliers. Spark's `width_bucket` is the primitive; the
    // oracle re-derives the bucket arithmetically (DuckDB has no
    // width_bucket), so the hash-match cross-checks the function's
    // [lo + (i-1)·w, lo + i·w) semantics against the arithmetic
    // definition, including the under/overflow clamp (width_bucket sends
    // x < lo to bucket 0 and x ≥ hi to bucket n+1; the oracle clamps to
    // the same least(11, greatest(0, ·)) endpoints, so out-of-range data
    // can't silently diverge). One partial-aggregated groupBy on a 10-value key —
    // min/max/count/sum all map-side combine; at 100 TB the shuffle
    // carries 10 rows per partition.
    "agg_hist" -> ((s, d) =>
      orders(s, d)
        .select(width_bucket(col("o_totalprice"), lit(0), lit(500000),
          lit(10)).as("bucket"), col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 4).as("lo"),
          round(max(col("o_totalprice")), 4).as("hi"),
          // DECIMAL sum: order-free (min/max need no such care)
          round(sum(col("o_totalprice").cast("decimal(18,4)")), 4)
            .cast("double").as("tot"))
        .orderBy("bucket")),

    // Ordered funnel: per user, the earliest view → click-within-24h →
    // purchase-within-24h chain, reported as step timestamps (epoch
    // micros — integer comparisons, engine-exact) + furthest step
    // reached. Each stage is an aggregate JOINED to the next stage's
    // candidates — the sequential dependency that a single groupBy can't
    // express — but every join keys on user_id against a per-user
    // aggregate orders of magnitude smaller than the event stream, and
    // the three event-side shuffles share one partitioning (exchange
    // reuse). The canonical product-analytics query over event streams.
    "agg_funnel" -> ((s, d) => {
      // ONE partitioning computes the whole funnel: each stage is a
      // min-over-user window whose predicate references the previous
      // stage's window column — Spark stacks the three Window operators
      // over a single user_id exchange (the later sorts elide, the
      // partitioning is reused), and the final per-user aggregate
      // re-uses it too. The per-stage join formulation this replaces
      // shuffled 7 times through 6 joins for the same relation; at
      // 100 TB the event table moves across the cluster ONCE here.
      // A stage's min is null when no event qualifies, which nulls every
      // later stage's predicate — exactly the funnel's drop-off.
      val dayUs = 24L * 3600 * 1000000
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
      events(s, d)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("t1",
          min(when(col("event_type") === "view", col("tus"))).over(w))
        .withColumn("t2",
          min(when(col("event_type") === "click"
            && col("tus") > col("t1")
            && col("tus") <= col("t1") + dayUs, col("tus"))).over(w))
        .withColumn("t3",
          min(when(col("event_type") === "purchase"
            && col("tus") > col("t2")
            && col("tus") <= col("t2") + dayUs, col("tus"))).over(w))
        .groupBy(col("user_id"))
        .agg(first(col("t1")).as("t1"), first(col("t2")).as("t2"),
          first(col("t3")).as("t3"))
        .select(col("user_id"), col("t1"), col("t2"), col("t3"),
          (when(col("t1").isNotNull, 1).otherwise(0)
            + when(col("t2").isNotNull, 1).otherwise(0)
            + when(col("t3").isNotNull, 1).otherwise(0)).as("steps"))
        .orderBy("user_id")
    }),

    // Exact interpolated percentiles (p50/p90 per group): a sort-based
    // aggregate whose linear-interpolation definition (rank = p·(n−1))
    // DuckDB's quantile_cont shares exactly — oracle-gated.
    // SCALE NOTE: exact percentile buffers every group value in the
    // aggregation state (O(|group|) memory, no map-side reduction) — it is
    // the one agg here that does NOT survive a 100 TB group. That regime
    // belongs to agg_approx_quantile: a fixed-size mergeable sketch with
    // partial aggregation, at a declared rank-error bound.
    "agg_percentile" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(percentile(col("l_extendedprice"), lit(0.5)), 4).as("p50"),
          round(percentile(col("l_extendedprice"), lit(0.9)), 4).as("p90"))
        .orderBy("l_returnflag")),

    // Multi-quantile in ONE pass: percentile takes the cut-point ARRAY,
    // so one sorted per-group state serves every cut — at 100 TB the
    // difference between one aggregation and four (the per-group state
    // is O(group) either way, see agg_percentile; the sketch twin
    // beside it is the bounded-state path). DuckDB computes each
    // quantile_cont separately; interpolation is engine-identical.
    "agg_percentile_multi" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(percentile(col("l_extendedprice"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("ps"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p75"),
          round(element_at(col("ps"), 4), 4).as("p95"))
        .orderBy("l_returnflag")),

    // Sketch percentile (KLL/GK class): approximate by design — the
    // oracle (r15) stands in DuckDB's approx_quantile so the gate checks
    // rows+schema; AccuracySpec bounds the RANK error of the returned
    // value against the declared 1/accuracy guarantee.
    "agg_approx_quantile" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("ap50"))
        .orderBy("l_returnflag")),

    "agg_rollup" -> ((s, d) =>
      lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"),
                 asc_nulls_first("l_linestatus"))),

    // grouping() / grouping_id() flags on a rollup: the ONLY robust way
    // to tell "NULL because this row is a subtotal" from "NULL in the
    // data" — consumers keying on the value alone mis-bin real NULLs
    // into totals. gid = 2·g1 + g2 is computed the same way in the
    // oracle (DuckDB's GROUPING bitmask argument order is left explicit).
    "agg_grouping_id" -> ((s, d) =>
      orders(s, d)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_prio"),
          (grouping(col("o_orderstatus")).cast("int") * 2
            + grouping(col("o_orderpriority")).cast("int")).as("gid"))
        .orderBy(asc_nulls_first("o_orderstatus"),
                 asc_nulls_first("o_orderpriority"))),

    // UNPIVOT (melt): wide per-group metrics reshaped to (group, metric,
    // value) rows — the long form every generic metrics sink/plotter
    // wants. Spark's unpivot is a Generate (row-expansion) node, not a
    // shuffle: k metric columns → k rows per input row, map-only after
    // the aggregation that built the wide relation.
    "agg_unpivot" -> ((s, d) =>
      lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("l_quantity").cast("decimal(18,4)")), 2)
          .cast("double").as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,4)")), 2)
          .cast("double").as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("avg_disc")),
          "metric", "value")
        .orderBy("l_returnflag", "metric")),

    "agg_cube" -> ((s, d) =>
      lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"),
                 asc_nulls_first("l_linestatus"))),

    // GROUPING SETS through the typed API (no session-global temp view —
    // a query builder must not mutate shared session state).
    "agg_grouping_sets" -> ((s, d) =>
      lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"),
                 asc_nulls_first("l_linestatus"))),

    // ---- sorts / limits ---------------------------------------------------
    // Global total order = the reference's READ sort (`client.py:105-108`),
    // executed as a range-partitioned distributed sort instead of a
    // single-process in-memory list.sort().
    "sort_global" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))),

    // ORDER BY + LIMIT k plans as TakeOrderedAndProject: each partition
    // keeps a k-heap, only k rows per partition reach the driver-side merge.
    "sort_limit_topk" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)),

    // ---- set operations ---------------------------------------------------
    "set_union" -> ((s, d) => {
      val a = orders(s, d).select(col("o_orderkey").as("k"),
        lit("o").as("src"))
      val b = lineitem(s, d).select(col("l_orderkey").as("k"),
        lit("l").as("src"))
      a.unionByName(b).orderBy("src", "k")
    }),

    "set_distinct" -> ((s, d) =>
      lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    "set_intersect" -> ((s, d) =>
      orders(s, d).select(col("o_custkey").as("custkey"))
        .intersect(customer(s, d).filter(col("c_acctbal") > 0)
          .select(col("c_custkey").as("custkey")))
        .orderBy("custkey")),

    "set_except" -> ((s, d) =>
      customer(s, d).select(col("c_custkey").as("custkey"))
        .except(orders(s, d).select(col("o_custkey").as("custkey")))
        .orderBy("custkey")),

    // BAG-semantics set ops (ANSI EXCEPT ALL / INTERSECT ALL): duplicates
    // count — EXCEPT ALL keeps max(m−n, 0) copies, INTERSECT ALL
    // min(m, n). The multiset reconciliation verbs (ledger diffs,
    // re-delivery audits) that the DISTINCT-semantics set ops above
    // can't express. Catalyst plans both as an aggregate over per-side
    // multiplicities + generator — no raw-row pair join, so the shuffle
    // carries distinct values with counts, not row instances.
    "set_except_all" -> ((s, d) =>
      lineitem(s, d).select(col("l_orderkey").as("orderkey"))
        .exceptAll(lineitem(s, d).filter(col("l_linenumber") > 1)
          .select(col("l_orderkey").as("orderkey")))
        .orderBy("orderkey")),

    "set_intersect_all" -> ((s, d) =>
      lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("orderkey"))
        .intersectAll(lineitem(s, d).filter(col("l_returnflag") === "A")
          .select(col("l_orderkey").as("orderkey")))
        .orderBy("orderkey")),

    // Null-ordering discipline: a computed NULLABLE sort key ordered with
    // an EXPLICIT null position on both engines. Spark's default is
    // nulls-first ascending, DuckDB's is nulls-last — the classic silent
    // cross-engine divergence; pinning NULLS LAST in both directions
    // makes the contract visible (and TakeOrderedAndProject handles the
    // null ordering inside the per-partition heaps, no extra pass).
    "sort_nulls" -> ((s, d) =>
      customer(s, d)
        .select(col("c_custkey"),
          when(col("c_acctbal") > 0, round(col("c_acctbal"), 2))
            .as("pos_bal"))
        .orderBy(col("pos_bal").desc_nulls_last, col("c_custkey"))
        .limit(500))
  )

  /** DuckDB-equivalent SQL per query (driver contract: column names match
    * the Spark output exactly; explicit ORDER BY; NULLS FIRST pinned where
    * Spark's asc-nulls-first differs from DuckDB's nulls-last default).
    */
  val oracle: Map[String, String] = Map(
    "scan_parquet" ->
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    "scan_json_lines" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
        |FROM events ORDER BY event_id""".stripMargin,
    "project_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 30
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "filter_compound" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE (o_orderstatus = 'F' OR o_orderpriority LIKE '1-%')
        |  AND o_totalprice BETWEEN 1000 AND 150000
        |  AND NOT o_orderpriority IN ('4-NOT SPECIFIED')
        |  AND o_custkey IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,
    "project_expr" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge,
        |  CASE WHEN l_quantity < 10 THEN 'small'
        |       WHEN l_quantity < 25 THEN 'mid' ELSE 'big' END AS bucket
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "join_inner" ->
      """SELECT l_orderkey, l_linenumber, o_custkey,
        |  round(l_extendedprice * (1 - l_discount), 4) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "join_broadcast" ->
      """SELECT s_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS total_price,
        |  count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,
    "join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_full" ->
      """SELECT coalesce(c.nk, p.nk) AS nk, c_cnt, s_cnt
        |FROM (SELECT c_nationkey AS nk, count(*) AS c_cnt
        |      FROM customer GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS nk, count(*) AS s_cnt
        |           FROM supplier GROUP BY 1) p ON c.nk = p.nk
        |ORDER BY nk""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders
        |                    WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_theta_range" ->
      """SELECT s_suppkey, c_custkey
        |FROM customer JOIN supplier
        |  ON c_acctbal BETWEEN s_acctbal - 10 AND s_acctbal + 10
        |ORDER BY s_suppkey, c_custkey""".stripMargin,
    // banded form: SAME relation as the theta range join — the banding is
    // a plan transformation, never a semantics change
    "join_range_banded" ->
      """SELECT s_suppkey, c_custkey
        |FROM customer JOIN supplier
        |  ON c_acctbal BETWEEN s_acctbal - 10 AND s_acctbal + 10
        |ORDER BY s_suppkey, c_custkey""".stripMargin,
    "join_asof" ->
      """SELECT event_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "join_asof_tolerance" ->
      """SELECT event_id,
        |  CASE WHEN age_days <= 30 THEN o_orderkey END AS o_orderkey,
        |  CASE WHEN age_days <= 30 THEN age_days END AS age_days
        |FROM (
        |  SELECT e.event_id, o.o_orderkey,
        |    CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
        |      CAST(e.ts AS DATE)) AS INTEGER) AS age_days,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e LEFT JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "agg_chi_square" ->
      """WITH cells AS (
        |  SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS o
        |  FROM lineitem GROUP BY 1, 2),
        |rt AS (SELECT rf, CAST(sum(o) AS BIGINT) AS rt FROM cells
        |       GROUP BY rf),
        |ct AS (SELECT ls, CAST(sum(o) AS BIGINT) AS ct FROM cells
        |       GROUP BY ls),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn,
        |  count(DISTINCT rf) AS r, count(DISTINCT ls) AS c FROM cells)
        |SELECT round(sum(pow(o - e, 2) / e), 6) AS chi2,
        |  CAST(any_value((r - 1) * (c - 1)) AS BIGINT) AS df
        |FROM (
        |  SELECT cells.o, tot.r, tot.c,
        |    rt.rt::DOUBLE * ct.ct / tot.nn AS e
        |  FROM cells JOIN rt USING (rf) JOIN ct USING (ls), tot)""".stripMargin,
    "agg_ttest" ->
      """WITH g AS (
        |  SELECT l_returnflag, avg(l_quantity) AS m,
        |    var_samp(l_quantity) AS v, count(*) AS n
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |  GROUP BY l_returnflag),
        |a AS (SELECT m AS m1, v AS v1, n AS n1 FROM g
        |      WHERE l_returnflag = 'A'),
        |r AS (SELECT m AS m2, v AS v2, n AS n2 FROM g
        |      WHERE l_returnflag = 'R')
        |SELECT round(m1 - m2, 6) + 0.0 AS mean_diff,
        |  round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) + 0.0 AS t,
        |  round(pow(v1 / n1 + v2 / n2, 2)
        |    / (pow(v1 / n1, 2) / (n1 - 1)
        |      + pow(v2 / n2, 2) / (n2 - 1)), 2) AS df
        |FROM a, r""".stripMargin,
    "agg_jackknife" ->
      """WITH b AS (
        |  SELECT (l_orderkey * 7 + l_linenumber) % 10 AS bkt,
        |    sum(l_quantity) AS s, count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(s) AS ss, CAST(sum(n) AS BIGINT) AS nn FROM b),
        |th AS (
        |  SELECT (ss - s) / (nn - n) AS theta, ss, nn FROM b, tot)
        |SELECT round(any_value(ss) / any_value(nn), 6) AS mean,
        |  round(sqrt((9.0 / 10)
        |    * greatest(sum(theta * theta)
        |               - sum(theta) * sum(theta) / 10, 0.0)), 6)
        |    AS jk_se,
        |  10 AS g
        |FROM th""".stripMargin,
    "cdc_diff" ->
      """WITH v0 AS (
        |  SELECT o_orderkey AS k, o_totalprice AS price FROM orders),
        |v1 AS (
        |  SELECT k, CASE WHEN k % 103 = 0 THEN price + 1.5
        |    ELSE price END AS price
        |  FROM v0 WHERE k % 101 <> 0
        |  UNION ALL
        |  SELECT k + 1000000000000000 AS k, price FROM v0 WHERE k % 97 = 0),
        |d AS (
        |  SELECT coalesce(a.k, b.k) AS k,
        |    CASE WHEN b.k IS NULL THEN 'delete'
        |      WHEN a.k IS NULL THEN 'insert'
        |      ELSE 'update' END AS op,
        |    a.price AS before, b.price AS after
        |  FROM v0 a FULL JOIN v1 b ON a.k = b.k)
        |SELECT k, op, before, after FROM d
        |WHERE before IS NULL OR after IS NULL OR before <> after
        |ORDER BY k""".stripMargin,
    "join_null_safe" ->
      """WITH l AS (
        |  SELECT CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
        |    ELSE o_orderpriority END AS k, count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT CASE WHEN o_orderpriority = '3-MEDIUM' THEN NULL
        |    ELSE o_orderpriority END AS k, round(sum(o_totalprice), 2)
        |    AS total
        |  FROM orders GROUP BY 1)
        |SELECT l.k, n_orders, total FROM l JOIN r
        |  ON l.k IS NOT DISTINCT FROM r.k
        |ORDER BY l.k NULLS FIRST""".stripMargin,
    "join_salted" ->
      """SELECT c_mktsegment, count(*) AS n_events
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_bloom_prefilter" ->
      """SELECT s_suppkey,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE n_name = 'NATION_7'
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "agg_groupby_max" ->
      """SELECT l_returnflag, round(max(l_extendedprice), 4) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_multi" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  min(l_shipdate) AS min_ship,
        |  round(max(l_discount), 4) AS max_disc,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |HAVING count(*) > 10
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_count_distinct" ->
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // PARTIAL-COLUMN oracles for the three ±tolerance sketch keys (r14
    // verdict item 3): the GROUP keys and row counts are deterministic
    // even though the estimates aren't bit-replayable across engines —
    // DuckDB's own sketch stands in for the estimate column, so the
    // driver gate now verifies rows+schema (the estimate VALUE hash is
    // expected to differ; the error-vs-exact bound lives in
    // AccuracySpec, unchanged). This retires the no_oracle class: every
    // key now has a gate that can fail on shape regressions.
    "agg_approx_distinct" ->
      """SELECT o_orderstatus, approx_count_distinct(o_custkey) AS approx_cust
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "agg_approx_quantile" ->
      """SELECT l_returnflag, approx_quantile(l_extendedprice, 0.5) AS ap50
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_sketch_union" ->
      """SELECT o_orderstatus,
        |  CAST(approx_count_distinct(o_custkey) AS BIGINT) AS est_custs
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL
        |SELECT 'ALL' AS o_orderstatus,
        |  CAST(approx_count_distinct(o_custkey) AS BIGINT) AS est_custs
        |FROM orders
        |ORDER BY o_orderstatus""".stripMargin,
    "agg_multi_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS nd_part,
        |  count(DISTINCT l_suppkey) AS nd_supp,
        |  count(DISTINCT l_orderkey) AS nd_order,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_percentile_multi" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'view') AS view,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "sql_multiway" ->
      """SELECT o_orderkey,
        |  CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
        |  o_orderdate
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "sql_lateral" ->
      """SELECT r_name, n_name, n_nationkey
        |FROM region, LATERAL (
        |  SELECT n_name, n_nationkey FROM nation
        |  WHERE n_regionkey = r_regionkey
        |  ORDER BY n_name LIMIT 2) t
        |ORDER BY r_name, n_name""".stripMargin,
    "sql_recursive" ->
      s"""WITH RECURSIVE eb AS (
        |  SELECT DISTINCT l_partkey AS p, l_suppkey AS sk FROM lineitem),
        |edges AS (
        |  SELECT p AS src, ${Graph.SuppOffset} + sk AS dst FROM eb
        |  UNION ALL
        |  SELECT ${Graph.SuppOffset} + sk AS src, p AS dst FROM eb),
        |walk(node, depth) AS (
        |  SELECT CAST(${Graph.SuppOffset + 1} AS BIGINT) AS node, 0 AS depth
        |  UNION ALL
        |  SELECT e.dst, w.depth + 1
        |  FROM walk w JOIN edges e ON e.src = w.node
        |  WHERE w.depth < 2)
        |SELECT node, min(depth) AS hops
        |FROM walk GROUP BY node ORDER BY node""".stripMargin,
    "sql_correlated" ->
      """SELECT p_brand,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
        |    AS DOUBLE) AS low_qty_price,
        |  count(*) AS n_low
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < (
        |  SELECT 0.2 * avg(l2.l_quantity)
        |  FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "agg_bitmap_distinct" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_arg_extrema" ->
      """SELECT event_type,
        |  arg_max(user_id, CAST(round(value*100) AS BIGINT)*1099511627776
        |    + event_id) AS top_user,
        |  arg_min(user_id, CAST(round(value*100) AS BIGINT)*1099511627776
        |    + event_id) AS bottom_user,
        |  CAST(count_if(value > 250) AS BIGINT) AS n_high
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_collect_set" ->
      """SELECT lang,
        |  array_to_string(list_sort(list(DISTINCT source)), ',') AS sources,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "agg_stats" ->
      """SELECT l_returnflag,
        |  round(corr(l_extendedprice, l_quantity), 4) + 0.0
        |    AS price_qty_corr,
        |  round(covar_samp(l_discount, l_tax), 6) + 0.0 AS disc_tax_cov,
        |  round(stddev_samp(l_extendedprice), 2) + 0.0 AS price_sd,
        |  round(var_samp(l_quantity), 4) + 0.0 AS qty_var
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_linreg" ->
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) + 0.0 AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0
        |    AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) + 0.0 AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_resample_ohlc" ->
      """WITH e AS (
        |  SELECT date_trunc('hour', ts) AS bar_ts, ts, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT bar_ts, value,
        |    row_number() OVER (PARTITION BY bar_ts
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY bar_ts
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT bar_ts,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open_v,
        |  max(value) AS high_v,
        |  min(value) AS low_v,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close_v,
        |  count(*) AS n_events
        |FROM r GROUP BY bar_ts ORDER BY bar_ts""".stripMargin,
    "agg_skew_kurt" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    avg(l_quantity) AS m1,
        |    avg(l_quantity * l_quantity) AS r2,
        |    avg(l_quantity * l_quantity * l_quantity) AS r3,
        |    avg(l_quantity * l_quantity * l_quantity * l_quantity) AS r4
        |  FROM lineitem GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag,
        |    r2 - m1 * m1 AS m2,
        |    r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS m3,
        |    r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2
        |      - 3 * m1 * m1 * m1 * m1 AS m4
        |  FROM m)
        |SELECT l_returnflag,
        |  round(m3 / pow(m2, 1.5), 6) + 0.0 AS qty_skew,
        |  round(m4 / (m2 * m2) - 3, 6) + 0.0 AS qty_kurt
        |FROM c ORDER BY l_returnflag""".stripMargin,
    "agg_quantile_bin" ->
      """WITH c AS (
        |  SELECT round(quantile_cont(o_totalprice, 0.25), 6) AS q1,
        |    round(quantile_cont(o_totalprice, 0.5), 6) AS q2,
        |    round(quantile_cont(o_totalprice, 0.75), 6) AS q3
        |  FROM orders)
        |SELECT CASE WHEN o_totalprice < q1 THEN 0
        |            WHEN o_totalprice < q2 THEN 1
        |            WHEN o_totalprice < q3 THEN 2 ELSE 3 END AS bin,
        |  count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM orders, c GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_filtered" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
        |    FILTER (WHERE l_discount > 0.05), 2) AS DOUBLE) AS disc_price,
        |  bool_and(l_quantity > 0) AS all_pos,
        |  bool_or(l_tax > 0.07) AS any_hi_tax
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "agg_retention" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('week', ts) AS w FROM events),
        |f AS (SELECT user_id, min(w) AS cohort FROM ev GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, w FROM ev)
        |SELECT CAST(f.cohort AS DATE) AS cohort_week,
        |  CAST(date_diff('day', f.cohort, a.w) // 7 AS INTEGER)
        |    AS week_offset,
        |  count(*) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "agg_decay" ->
      """SELECT event_type,
        |  round(sum(value
        |    * exp(-(1706745600000000 - epoch_us(ts)) / 604800000000.0)),
        |    4) AS decayed_sum,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // The oracle computes the same step-point CDF difference with ONE
    // ordered window (DuckDB's single-node cumulative sum ≡ the engine's
    // two-pass range-partitioned prefix sum by construction — offsets +
    // local ordered sums compose to the identical global cumsum).
    "agg_ks_test" ->
      """WITH ev AS (SELECT epoch_us(ts) AS us, value FROM events),
        |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |v AS (
        |  SELECT value,
        |    CAST(sum(CASE WHEN us <= mid THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nr,
        |    CAST(sum(CASE WHEN us <= mid THEN 0 ELSE 1 END) AS BIGINT)
        |      AS nc
        |  FROM ev, m GROUP BY value),
        |t AS (SELECT CAST(sum(nr) AS BIGINT) AS tr,
        |             CAST(sum(nc) AS BIGINT) AS tc FROM v),
        |c AS (SELECT value,
        |        CAST(sum(nr) OVER (ORDER BY value NULLS FIRST) AS BIGINT)
        |          AS cr,
        |        CAST(sum(nc) OVER (ORDER BY value NULLS FIRST) AS BIGINT)
        |          AS cc
        |      FROM v)
        |SELECT round(max(abs(cr::DOUBLE / greatest(tr, 1)
        |                     - cc::DOUBLE / greatest(tc, 1))), 6)
        |    AS ks_d,
        |  tr AS n_ref, tc AS n_cur
        |FROM c, t GROUP BY tr, tc""".stripMargin,
    // Same midpoint split, same width-50 bins, same add-half smoothing,
    // same natural log — the psi sum is a ~10-term double fold rounded
    // to 6, inside cross-engine agreement for exact-count ratios.
    "agg_drift_psi" ->
      """WITH ev AS (SELECT epoch_us(ts) AS us, value FROM events),
        |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |c AS (
        |  SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
        |    CAST(sum(CASE WHEN us <= mid THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nr,
        |    CAST(sum(CASE WHEN us <= mid THEN 0 ELSE 1 END) AS BIGINT)
        |      AS nc
        |  FROM ev, m GROUP BY 1),
        |t AS (SELECT CAST(sum(nr) AS BIGINT) AS tr,
        |             CAST(sum(nc) AS BIGINT) AS tc,
        |             count(*) AS nb FROM c)
        |SELECT round(sum(
        |    ((nc + 0.5) / (tc + 0.5 * nb) - (nr + 0.5) / (tr + 0.5 * nb))
        |    * ln(((nc + 0.5) / (tc + 0.5 * nb))
        |         / ((nr + 0.5) / (tr + 0.5 * nb)))), 6) AS psi,
        |  count(*) AS n_buckets
        |FROM c, t""".stripMargin,
    "agg_entropy" ->
      """WITH c AS (
        |  SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2)
        |SELECT source,
        |  round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) + 0.0
        |    AS lang_entropy,
        |  CAST(sum(c) AS BIGINT) AS n_docs
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "agg_string_agg" ->
      """SELECT r_name,
        |  string_agg(n_name, ',' ORDER BY n_name) AS members,
        |  count(*) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "agg_mode" ->
      """WITH c AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT o_orderstatus, o_orderpriority, n,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY n DESC, o_orderpriority) AS rn
        |  FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS n_mode
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin,
    "agg_hist" ->
      """SELECT CAST(least(11, greatest(0, 1 + floor(o_totalprice / 50000)))
        |    AS BIGINT) AS bucket,
        |  count(*) AS n, round(min(o_totalprice), 4) AS lo,
        |  round(max(o_totalprice), 4) AS hi,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 4)
        |    AS DOUBLE) AS tot
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    "agg_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus
        |           FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |s1 AS (SELECT user_id, min(tus) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(tus) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND tus > t1
        |         AND tus <= t1 + 86400000000 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(tus) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND tus > t2
        |         AND tus <= t2 + 86400000000 GROUP BY e.user_id)
        |SELECT u.user_id, s1.t1, s2.t2, s3.t3,
        |  CAST((CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
        |      + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
        |      + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
        |    AS steps
        |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "agg_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
        |  CAST(2 * GROUPING(o_orderstatus)
        |    + GROUPING(o_orderpriority) AS INTEGER) AS gid
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST,
        |  o_orderpriority ASC NULLS FIRST""".stripMargin,
    "agg_unpivot" ->
      """WITH w AS (
        |  SELECT l_returnflag,
        |    CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2)
        |      AS DOUBLE) AS sum_qty,
        |    CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2)
        |      AS DOUBLE) AS sum_price,
        |    round(avg(l_discount), 6) AS avg_disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_price', sum_price FROM w
        |  UNION ALL
        |  SELECT l_returnflag, 'avg_disc', avg_disc FROM w)
        |ORDER BY l_returnflag, metric""".stripMargin,
    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "sort_global" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin,
    "sort_limit_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "set_union" ->
      """SELECT * FROM (
        |  SELECT o_orderkey AS k, 'o' AS src FROM orders
        |  UNION ALL
        |  SELECT l_orderkey AS k, 'l' AS src FROM lineitem)
        |ORDER BY src, k""".stripMargin,
    "set_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "set_intersect" ->
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
        |ORDER BY custkey""".stripMargin,
    "set_except" ->
      """SELECT c_custkey AS custkey FROM customer
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |ORDER BY custkey""".stripMargin,
    "set_except_all" ->
      """SELECT l_orderkey AS orderkey FROM lineitem
        |EXCEPT ALL
        |SELECT l_orderkey AS orderkey FROM lineitem WHERE l_linenumber > 1
        |ORDER BY orderkey""".stripMargin,
    "set_intersect_all" ->
      """SELECT l_orderkey AS orderkey FROM lineitem WHERE l_returnflag = 'R'
        |INTERSECT ALL
        |SELECT l_orderkey AS orderkey FROM lineitem WHERE l_returnflag = 'A'
        |ORDER BY orderkey""".stripMargin,
    "sort_nulls" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal > 0 THEN round(c_acctbal, 2) END AS pos_bal
        |FROM customer
        |ORDER BY pos_bal DESC NULLS LAST, c_custkey
        |LIMIT 500""".stripMargin
  )
}
