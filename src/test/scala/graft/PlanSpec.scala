package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec

import PlanWalk.{collect, executed, withCaches}

/** Plan-shape assertions (SURVEY.md §5.2 item 3): semantics that live in
  * the physical plan — broadcast hints honored, predicates pushed to the
  * parquet scan, column pruning effective, limit+sort fused. These are the
  * 100 TB guarantees: each one is the difference between a plan that scales
  * and one that merely passes at sf0.001.
  *
  * Node checks run the key's own query and walk the real final plan
  * ([[PlanWalk]]): AQE's join conversions, empty-relation pruning and
  * per-stage codegen are in it, and its metrics are the rows that ran.
  * Pushed filters, `ReadSchema`, partition filters, partial+final
  * aggregation and top-k fusion are read from the pre-execution
  * `planString`: AQE re-plans neither scans nor aggregate phases.
  */
class PlanSpec extends SparkSpec {

  private def query(name: String, sf: String = sfDir): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  private def planString(name: String): String =
    query(name).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("join_broadcast plans a BroadcastHashJoin (fact side never shuffles)") {
    val plan = executed(query("join_broadcast"))
    val bhjs = collect(plan) { case b: BroadcastHashJoinExec => b }
    assert(bhjs.nonEmpty,
      s"expected BroadcastHashJoinExec in final plan:\n$plan")
  }

  test("project_filter pushes the predicate into the parquet scan") {
    val s = planString("project_filter")
    assert(s.contains("PushedFilters") &&
      s.replaceAll("\\s+", " ").matches("(?s).*PushedFilters: \\[.*GreaterThan\\(l_quantity.*"),
      s"expected l_quantity filter pushed to scan in:\n$s")
  }

  test("scan_parquet prunes columns to the projected pair") {
    val s = planString("scan_parquet")
    assert(s.contains("ReadSchema"), s)
    val read = s.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("r_regionkey") && read.contains("r_name") &&
      !read.contains("r_comment"), s"unpruned scan: $read")
  }

  test("sort_limit_topk plans TakeOrderedAndProject (k-heap, no global sort)") {
    val s = planString("sort_limit_topk")
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("agg_groupby_max plans partial+final aggregation (map-side combine)") {
    val s = planString("agg_groupby_max")
    assert(s.contains("HashAggregate"), s)
    // partial then final: two HashAggregate operators around the exchange
    assert(s.linesIterator.count(_.contains("HashAggregate")) >= 2, s)
  }

  test("whole-stage codegen covers the flagship aggregation") {
    // AQE collapses codegen stages per query stage as it runs them, so
    // only the executed final plan shows them
    val plan = executed(query("agg_groupby_max"))
    val wsc = collect(plan) { case w: WholeStageCodegenExec => w }
    assert(wsc.nonEmpty, s"expected WholeStageCodegenExec in:\n$plan")
  }

  test("queries/oracleSql contract: every oracle key has a query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracle entries without queries: $dangling")
  }

  test("no module silently shadows another's query key") {
    val maps = Seq(
      ops.Relational.queries, ops.Windows.queries, ops.Fn.queries,
      ops.Streaming.queries, ops.Text.queries, ops.Similarity.queries,
      ops.Mr.queries, ops.IO.queries, ops.Multimodal.queries,
      ops.Graph.queries)
    val total = maps.map(_.size).sum
    assert(total == SparkEntry.queries.size,
      "a duplicate key across modules would overwrite an operator in the " +
        s"merged registry: per-module=$total merged=${SparkEntry.queries.size}")
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dedup_near_minhash candidates come from an equi-join, never a cartesian") {
    val cart = collect(executed(query("dedup_near_minhash"))) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(cart.isEmpty,
      "LSH candidate generation must join on (band, bhash) buckets — a " +
        "cartesian product here is the O(n²) all-pairs plan that dies at scale")
  }

  test("LSH band-join keys are non-nullable (fast HashedRelation path)") {
    // a nullable key on the banded self-join demotes the broadcast probe
    // to its slow path — measured 5× on the 25M-pair simhash candidate
    // join. Nullability sneaks in through innocuous-looking exprs (a Cast
    // from NullType, a size() over a nullable array), so pin it here.
    Seq("dedup_simhash", "dedup_near_minhash", "dedup_ngram_jaccard",
        "sim_ann_lsh", "dedup_lsh_ingest")
      .foreach { name =>
        // the band join keys on (band, bhash|bval); the later verification
        // joins key on doc_id alone (nullable in the parquet schema, fine)
        val joins = collect(executed(query(name))) {
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec
              if j.leftKeys.size >= 2 => j
        }
        assert(joins.nonEmpty, s"$name: expected the banded equi-join")
        joins.foreach { j =>
          val nullable = (j.leftKeys ++ j.rightKeys).filter(_.nullable)
          assert(nullable.isEmpty,
            s"$name: nullable band-join keys $nullable demote the " +
              "HashedRelation probe to its slow path")
        }
      }
  }

  test("LSH candidate joins carry the 4-part salted key (band, bhash, pi, pj)") {
    // the skew guard is structural: the band self-join must key on the
    // block-pair tags in ADDITION to the bucket, or a hot bucket would
    // serialize O(bucket²) pair work into one task at 100 TB
    Seq("dedup_near_minhash").foreach { name =>
      val wide = collect(executed(query(name))) {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.leftKeys.size >= 4 => j
      }
      assert(wide.nonEmpty,
        s"$name: expected the salted band join keyed (band, bhash, pi, pj)")
    }
  }

  test("LSH ingest probe joins on the 3-part salted key (band, bhash, blk)") {
    // the cross mode's skew guard: a hot index bucket keeps one block per
    // row and the batch side copies to every block, so the probe join
    // must key on the block as well as the bucket
    val wide = collect(executed(query("dedup_lsh_ingest"))) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.size >= 3 => j
    }
    val keyed = wide.filter(j => Set("band", "bhash", "blk").subsetOf(
      j.leftKeys.flatMap(_.references.map(_.name)).toSet))
    assert(keyed.nonEmpty,
      "dedup_lsh_ingest: expected the salted probe join keyed " +
        s"(band, bhash, blk), got ${wide.map(_.leftKeys)}")
  }

  test("LSH band keys are codegen'd: no lambda in any band-key generator") {
    // a transform() lambda in the band generator runs interpreted per
    // doc; the keys are a literal array of xxhash64 calls instead. The
    // pipelines read their signature relations through caches, so walk
    // those too. (dedup_clusters runs dedup_near_minhash's pipeline but
    // labels its pair graph inside the builder, so its final plan holds
    // no band generator.)
    Seq("dedup_near_minhash", "dedup_ngram_jaccard", "dedup_lsh_ingest")
        .foreach { name =>
      val gens = withCaches(executed(query(name))).flatMap(p => collect(p) {
        case g: org.apache.spark.sql.execution.GenerateExec
            if g.generator.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.PosExplode] => g
      })
      InternalCaches.unpersistAll()
      assert(gens.nonEmpty, s"$name: expected the band-key posexplode")
      gens.foreach { g =>
        val lambdas = g.generator.collect {
          case t: org.apache.spark.sql.catalyst.expressions.ArrayTransform => t
        }
        assert(lambdas.isEmpty,
          s"$name: band-key generator evaluates a lambda: ${g.generator}")
      }
    }
  }

  test("LSH candidate joins run at most one bucket-width aggregation") {
    // the sampled hot-bucket list is computed once per candidate join and
    // broadcast as a local relation; a subtree under both join sides ran
    // its aggregation twice (AQE did not reuse the exchange)
    Seq("dedup_near_minhash", "dedup_lsh_ingest").foreach { name =>
      val widthAggs = collect(executed(query(name))) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.groupingExpressions.map(_.references.map(_.name).toSet)
              .reduceOption(_ ++ _).contains(Set("band", "bhash")) &&
              a.aggregateExpressions.forall(_.mode ==
                org.apache.spark.sql.catalyst.expressions.aggregate.Final) => a
      }
      InternalCaches.unpersistAll()
      assert(widthAggs.size <= 1,
        s"$name: ${widthAggs.size} bucket-width aggregations in the plan")
    }
  }

  test("dedup_simhash candidates come from the salted 3-key multi-index join") {
    // the default (r13) routes to the pair-block index, whose candidate
    // join is the salted band self-join keyed (band, bhash, pi, pj); the
    // loose dial's variant⋈exact postings join keys (band, key, salt).
    // Either way ≥ 3 join keys — the salt keys are the structural skew
    // guard (a hot block value fans across salt tasks instead of
    // serializing O(bucket²) in one), and no cartesian/BNLJ may appear
    // anywhere (the retired exact-band plan's quadratic candidate stream
    // must not come back as a nested-loop fallback)
    val plan = executed(query("dedup_simhash"))
    val wide = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.size >= 3 => j
    }
    assert(wide.nonEmpty,
      "dedup_simhash: expected the multi-index join keyed (band, key, salt)")
    val loops = collect(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(loops.isEmpty,
      "dedup_simhash: candidate generation must stay an equi-join — a " +
        "nested-loop node here is the O(n²) all-pairs plan that dies at scale")
  }

  test("win_distribution/win_ntile: no low-cardinality fact-table window") {
    // the twoPassRank structural guarantee: every window that reads the
    // fact scan partitions by (pid, group); a window keyed on the
    // ~3-value group ALONE may only run over the pid×#groups offsets
    // relation (aggregate/cache-fed), never directly over the scan —
    // that single-key scan-fed window is the #groups-task funnel the
    // scaffold exists to prevent
    Seq("win_distribution", "win_ntile").foreach { name =>
      val wins = collect(executed(query(name))) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.nonEmpty, s"$name: expected window nodes")
      wins.filter(_.partitionSpec.size == 1).foreach { w =>
        val scans = w.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
        assert(scans.isEmpty,
          s"$name: a 1-key window directly over the fact scan is the " +
            "#groups-task funnel twoPassRank exists to prevent")
      }
    }
  }

  test("sim_topk_cosine broadcasts only the bounded probe side") {
    // the brute-force baseline's 100 TB contract: the broadcast build side
    // is the PROBE SET, bounded by the pushed vec_id range filter — the
    // corpus side streams and is never collected to the driver or
    // broadcast. An unbounded broadcast here is the plan that OOMs first
    // at scale.
    val s = planString("sim_topk_cosine")
    assert(s.contains("LessThan(vec_id,100)"),
      s"probe bound must reach the broadcast-side scan as a pushed filter:\n$s")
    val bcasts = collect(executed(query("sim_topk_cosine"))) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => b
    }
    assert(bcasts.nonEmpty, "probe side must be broadcast")
  }

  test("dedup_near_embedding default plan: cell-keyed candidate join, " +
    "never a cartesian or corpus×corpus sweep") {
    // the r10 default blocks candidates through trained-IVF cells: the
    // pair join is Blocking.candidates' shuffled self-join, an EQUI-join
    // on the probed-cell id (its bucket `bhash`, beside the salt tags),
    // so pair work is per-cell after one shuffle — no cartesian
    try {
      val plan = executed(query("dedup_near_embedding"))
      val cart = collect(plan) {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(cart.isEmpty, s"candidate sweep must be an equi-join:\n$plan")
      val cellJoins = collect(plan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.leftKeys.exists(_.references.exists(_.name == "bhash")) =>
          j
      }
      assert(cellJoins.nonEmpty,
        s"expected the cell-keyed candidate equi-join:\n$plan")
    } finally InternalCaches.unpersistAll()
  }

  test("sim_ann_ivf / sim_ann_ivf_trained: ranked by the bounded top-k " +
    "aggregate, never a window") {
    // a rank window sorts the whole candidate stream; the
    // TopKByScore aggregate (an ObjectHashAggregate) carries ≤ k rows
    // per query through its exchange. Every per-query neighbour ranking
    // goes through it.
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    for (key <- Seq("sim_ann_ivf", "sim_ann_ivf_trained", "sim_ann_lsh",
        "sim_topk_cosine", "sim_recall_int8", "sim_recall_prefix")) {
      try {
        val plan = executed(query(key))
        assert(collect(plan) { case w: WindowExec => w }.isEmpty,
          s"$key: no window may rank the candidates:\n$plan")
        assert(collect(plan) { case a: ObjectHashAggregateExec => a }
          .nonEmpty, s"$key: expected the top-k aggregate:\n$plan")
      } finally InternalCaches.unpersistAll()
    }
  }

  test("join_range_banded: equi-join on the band bucket, no nested loop") {
    // the banded interval join must plan as a hash/merge EQUI-join on the
    // bucket key — a BroadcastNestedLoopJoin here means the range
    // predicate leaked back into the join condition and the O(n·m) sweep
    // returned
    val plan = executed(query("join_range_banded"))
    val bnlj = collect(plan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(bnlj.isEmpty, s"range predicate must be residual, not a BNLJ:\n$plan")
    val equi = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.leftKeys.nonEmpty => j
    }
    assert(equi.nonEmpty, s"expected the bucket equi-join:\n$plan")
  }

  test("join_asof plans as a union-stream window: no join node, no amplification") {
    val joins = collect(executed(query("join_asof"))) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty,
      "as-of must be the union+last(ignoreNulls) plan — a join node here " +
        "re-introduces the O(events × orders-per-user) intermediate")
  }

  test("sink_parquet_partitioned: the filtered read prunes to one partition dir") {
    // hive-layout pruning: the o_year predicate must land in the scan's
    // PartitionFilters (directory-level skip), not just PushedFilters
    // (row-group-level) — at 100 TB this is scan-one-year vs scan-all
    val s = planString("sink_parquet_partitioned")
    val pf = s.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("o_year"),
      s"o_year must be a partition filter on the scan:\n$s")
  }

  test("text_lang_filter prunes the text column from the scan") {
    // metadata-only text query: at 100 TB reading the document bodies for
    // a lang/length aggregate is the difference between KBs and the corpus
    val s = planString("text_lang_filter")
    val read = s.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("lang") && read.contains("n_chars") &&
      !read.contains("text"), s"unpruned documents scan: $read")
  }

  test("join_bucketed: the join subtree reads bucketed layout, no shuffle") {
    // at sf0.001 the dimension is broadcast-sized, which would bypass the
    // bucket layout entirely — disable broadcast so the probe exercises
    // the bucketed sort-merge path a 100 TB fact join would take
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = executed(query("join_bucketed"))
      val joins = collect(plan) {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joins.nonEmpty, s"expected a sort-merge join over buckets:\n$plan")
      val shufflesBelowJoin = joins.flatMap(j => collect(j) {
        case e: ShuffleExchangeLike => e
      })
      assert(shufflesBelowJoin.isEmpty,
        "bucketed-on-key sides must join without re-shuffling — a shuffle " +
          "below the join means the bucket layout was ignored")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("single-shuffle windows: win_topk_per_group exchanges at most twice") {
    val plan = executed(query("win_topk_per_group"))
    val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
    // one shuffle for the window partition key; the final presentation
    // orderBy adds a range exchange — anything beyond 2 is a regression
    assert(shuffles.size <= 2 && shuffles.nonEmpty,
      s"expected 1-2 shuffles, got ${shuffles.size}:\n$plan")
  }

  test("stream_join broadcasts the dim: the event stream side never shuffles for the join") {
    val plan = executed(query("stream_join"))
    val bhjs = collect(plan) { case b: BroadcastHashJoinExec => b }
    assert(bhjs.nonEmpty, s"expected BroadcastHashJoinExec:\n$plan")
    // fast HashedRelation probe: the enrichment key must be pinned
    // non-nullable on both sides (same discipline as the LSH band joins)
    bhjs.foreach { j =>
      val nullable = (j.leftKeys ++ j.rightKeys).filter(_.nullable)
      assert(nullable.isEmpty,
        s"nullable stream_join keys $nullable demote the broadcast probe")
    }
    // shuffles: the windowed agg + the presentation orderBy only — a
    // shuffle feeding the join would re-key every micro-batch at scale
    val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 2,
      s"expected <=2 shuffles (agg + sort), got ${shuffles.size}:\n$plan")
  }

  test("dedup_lines: window-keyed dedup shuffles at most 3 times, no cartesian") {
    val plan = executed(query("dedup_lines"))
    // line-key window + per-doc re-agg + presentation sort; union/explode
    // stay narrow. A joinish blowup here means the keep-first became a
    // self-join instead of one window pass.
    val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 3 && shuffles.nonEmpty,
      s"expected 1-3 shuffles, got ${shuffles.size}:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"),
      s"cartesian in dedup_lines plan:\n$plan")
  }

  test("stream_interval_join is a keyed join with range residual, never a nested loop") {
    // equality on user_id must drive the join; the 10-minute range is a
    // residual condition. A BNLJ/cartesian here would be O(views×clicks)
    // at scale instead of O(per-user pairs).
    val plan = executed(query("stream_interval_join"))
    val s = plan.toString
    assert(!s.contains("BroadcastNestedLoopJoin")
      && !s.contains("CartesianProduct"),
      s"interval join degenerated to a nested loop:\n$plan")
    val keyed = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.nonEmpty => j
    }
    assert(keyed.nonEmpty, s"expected an equi-keyed join:\n$plan")
  }

  test("sql_multiway: SQL text plans like the DataFrame form (top-k fused, partial aggs)") {
    // one optimizer, one planner: the SQL entry point must get the same
    // physical treatment a DataFrame query does — ORDER BY+LIMIT fused
    // into TakeOrderedAndProject (never a global sort of all groups) and
    // partial+final aggregation around the exchange
    val s = planString("sql_multiway")
    assert(s.contains("TakeOrderedAndProject"),
      s"ORDER BY+LIMIT must fuse to top-k: $s")
    assert(s.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final aggregation: $s")
  }

  test("agg_funnel: the whole funnel rides one user partitioning, no joins") {
    // three stacked min-over-user windows + the final aggregate share a
    // single user_id exchange; the only other shuffle is the
    // presentation sort. The join formulation this pins against moved
    // the event table 7 times.
    val plan = executed(query("agg_funnel"))
    val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 2,
      s"expected user exchange + presentation sort only, " +
        s"got ${shuffles.size}:\n$plan")
    val joins = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"funnel must not join:\n$plan")
  }

  test("agg_pivot: declared values keep the plan a single-scan partial agg") {
    // an implicit pivot (no value list) would first run a distinct scan
    // over the input to discover the column set — two scans, one capped
    // at pivotMaxValues. Declared values: ONE scan, partial+final agg.
    val plan = executed(query("agg_pivot"))
    val scans = collect(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size == 1,
      s"expected one events scan, got ${scans.size}:\n$plan")
    val s = planString("agg_pivot")
    assert(s.linesIterator.count(_.contains("HashAggregate")) >= 2,
      s"expected partial+final aggregation: $s")
  }

  test("agg_collect_set: set state merges map-side (ObjectHashAggregate partial)") {
    // collect_set is object-state: the partial ObjectHashAggregate dedups
    // per input partition, so the exchange carries per-partition distinct
    // sets, never raw rows
    val s = planString("agg_collect_set")
    assert(s.contains("ObjectHashAggregate"), s)
    assert(s.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      s"expected partial+final object aggregation: $s")
  }

  test("stream_left_join is a keyed outer join, never a nested loop") {
    // same law as stream_interval_join, for the LEFT-outer form: equality
    // on user_id drives the join, the range is a residual — and the
    // null-padding must not demote it to BNLJ
    val plan = executed(query("stream_left_join"))
    val s = plan.toString
    assert(!s.contains("BroadcastNestedLoopJoin")
      && !s.contains("CartesianProduct"),
      s"left interval join degenerated to a nested loop:\n$plan")
    val keyed = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.leftKeys.nonEmpty => j
    }
    assert(keyed.nonEmpty, s"expected an equi-keyed join:\n$plan")
  }

  test("mm_ingest_binary: the listing query prunes payload content from the scan") {
    // the aggregate uses the binaryFile source's `length` metadata
    // column — with content pruned, a 100 TB media-lake listing reads
    // file stats, never the bytes
    val read = planString("mm_ingest_binary")
      .linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("length") && !read.contains("content"),
      s"content must be pruned from the binaryFile scan: $read")
  }

  test("sim_ivf_train: cell assignment is map-only — the corpus never hash-shuffles") {
    // The codegen'd CentroidScores projection scores every vector against
    // the ONE packed broadcast row, so assignment carries no
    // groupBy(vec_id): the only legal exchanges are the K-row centroid
    // packing (SinglePartition) and the presentation sort
    // (RangePartitioning). A HashPartitioning shuffle here would mean the
    // corpus — vectors and all — moves once per k-means round, the exact
    // plan this operator exists to avoid at 100 TB.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val plan = executed(query("sim_ivf_train"))
    val hashShuffles = collect(plan) {
      case e: ShuffleExchangeLike
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashShuffles.isEmpty,
      s"corpus must not hash-shuffle during IVF assignment:\n$plan")
  }

  test("text_pii_mask stays a narrow map-side transform (presentation sort only)") {
    val plan = executed(query("text_pii_mask"))
    val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
    // regex mask + count are per-row; the only exchange allowed is the
    // final orderBy's range partition — at 100 TB the mask pipelines over
    // the scan
    assert(shuffles.size <= 1,
      s"expected <=1 shuffle (presentation sort), got ${shuffles.size}:\n$plan")
    val read = planString("text_pii_mask")
      .linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("text") && !read.contains("lang"),
      s"unpruned documents scan: $read")
  }

  test("dedup_incremental: the batch anti-joins the fp index as a hash join") {
    // the anti join must key on the 8-byte fingerprint (hash-family
    // join); a nested-loop or cartesian here would compare the batch
    // against the whole corpus index pairwise — the O(n·m) plan this
    // operator exists to avoid at 100 TB
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = executed(query("dedup_incremental"))
    val bad = collect(plan) {
      case b: BroadcastNestedLoopJoinExec => b: SparkPlan
      case c: CartesianProductExec => c: SparkPlan
    }
    assert(bad.isEmpty, s"nested-loop/cartesian in anti-join plan:\n$plan")
    val anti = collect(plan) {
      case j: BroadcastHashJoinExec if j.joinType.toString == "LeftAnti" =>
        j: SparkPlan
      case j: SortMergeJoinExec if j.joinType.toString == "LeftAnti" =>
        j: SparkPlan
      case j: ShuffledHashJoinExec if j.joinType.toString == "LeftAnti" =>
        j: SparkPlan
    }
    assert(anti.nonEmpty, s"expected a LeftAnti hash-family join:\n$plan")
  }

  test("text_heavy_hitters: the exact pass probes a broadcast candidate set") {
    // pass 2 must semi-filter the token stream against the (tiny)
    // candidate list BEFORE the count — a broadcast hash probe, so the
    // final aggregate's key space is the candidates, not the vocabulary;
    // the only non-hash join allowed is the 1-row total's broadcast NLJ
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    try {
      val plan = executed(query("text_heavy_hitters"))
      val bhj = collect(plan) { case b: BroadcastHashJoinExec => b }
      assert(bhj.nonEmpty,
        s"candidate filter must be a BroadcastHashJoin:\n$plan")
      val cart = collect(plan) { case c: CartesianProductExec => c }
      assert(cart.isEmpty, s"cartesian in heavy-hitters plan:\n$plan")
    } finally InternalCaches.unpersistAll() // even on failure: a leaked
    // cache entry would satisfy later specs' plans from memory
  }

  test("sql_correlated: the scalar subquery decorrelates to an aggregate join") {
    // a surviving per-row scalar subquery would re-run the inner
    // aggregate once per outer row; after RewriteCorrelatedScalarSubquery
    // the plan must hold only joins + aggregates — no subquery node of
    // any kind on the correlated path
    val plan = executed(query("sql_correlated"))
    val str = plan.toString
    assert(!str.contains("Subquery"),
      s"correlated subquery survived planning:\n$str")
    val joins = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.size >= 2,
      s"expected the decorrelated agg join + the part join:\n$plan")
  }

  test("join_partition_pruned: the fact scan prunes partitions at runtime") {
    // the dim's year set is behind a limit (not constant-foldable), so
    // the only way the fact scan can skip directories is a DPP subquery
    // filter — pin the dynamicpruning expression on the scan, then check
    // the executed scan actually read fewer partitions than exist
    import org.apache.spark.sql.execution.FileSourceScanExec
    val str = planString("join_partition_pruned")
    assert(str.contains("dynamicpruning"),
      s"expected a dynamicpruning PartitionFilter on the fact scan:\n$str")
    val plan = executed(query("join_partition_pruned"))
    val factScans = collect(plan) {
      case f: FileSourceScanExec if f.partitionFilters.nonEmpty => f
    }
    assert(factScans.nonEmpty, s"no partition-filtered scan:\n$plan")
    val read = factScans.map(_.metrics("numPartitions").value).min
    assert(read > 0 && read < 7,
      s"DPP must read a strict subset of the 7 year-partitions, read=$read")
  }

  test("text_pack_sequences: no single-partition window ever sees the corpus") {
    // the corpus-path window must be keyed (pid) — an empty partition
    // spec there is the one-task global cumsum this operator exists to
    // avoid; the only empty-spec window allowed is the prefix-sum over
    // the partition-count-sized totals relation (no file scan below it)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    try {
      val plan = executed(query("text_pack_sequences"))
      val windows = collect(plan) { case w: WindowExec => w }
      assert(windows.nonEmpty, s"expected window operators:\n$plan")
      assert(windows.exists(_.partitionSpec.nonEmpty),
        "the data-path cumsum window must be partition-keyed")
      windows.filter(_.partitionSpec.isEmpty).foreach { w =>
        val scans = collect(w.child) { case f: FileSourceScanExec => f }
        assert(scans.isEmpty,
          s"global window directly over a table scan (one-task cumsum):\n$w")
      }
    } finally InternalCaches.unpersistAll() // even on failure: a leaked
    // cache entry would satisfy later specs' plans from memory
  }

  test("mm_shard_manifest_global: no single-partition window ever sees " +
    "the corpus") {
    // same contract as text_pack_sequences: the data-path prefix sum
    // must run in pid-keyed windows; the only empty-spec window allowed
    // is the offsets prefix over the partition-count-sized totals
    // relation (no file scan below it)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    try {
      val plan = executed(query("mm_shard_manifest_global"))
      val windows = collect(plan) { case w: WindowExec => w }
      assert(windows.nonEmpty, s"expected window operators:\n$plan")
      assert(windows.exists(_.partitionSpec.nonEmpty),
        "the data-path prefix-sum window must be partition-keyed")
      windows.filter(_.partitionSpec.isEmpty).foreach { w =>
        val scans = collect(w.child) { case f: FileSourceScanExec => f }
        assert(scans.isEmpty,
          s"global window directly over a table scan (one-task cumsum):\n$w")
      }
    } finally InternalCaches.unpersistAll()
  }

  test("global-window audit: every partition-less window is input-bounded") {
    // r16 verdict item 6: a single-partition WindowExec in a declared
    // query path is a 100 TB scale-killer unless the windowed relation is
    // provably bounded. The full-surface audit (r17) found exactly two
    // bounded shapes, pinned here for the three keys not already covered
    // by their own laws (text_pack_sequences / mm_shard_manifest_global
    // pin the same contract above):
    //  (a) prefix/rank over the PARTITION-COUNT-sized pid-totals relation
    //      (TwoPass.sumOffsets and its inlined twins in agg_ks_test /
    //      stream_watermark_late): a pid-grouped aggregate sits between
    //      the global window and any corpus-sized input;
    //  (b) rank-stitching over an ALREADY-REDUCED top-K relation
    //      (sim_hybrid_rrf): a limit sits between the window and the scan.
    import org.apache.spark.sql.execution.{FileSourceScanExec,
      GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    for (key <- Seq("agg_ks_test", "stream_watermark_late",
        "sim_hybrid_rrf")) {
      try {
        val plan = executed(query(key))
        val globals = collect(plan) {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        assert(globals.nonEmpty,
          s"$key: audit expects a (bounded) global window in this plan — " +
            s"if it was restructured away, drop it from this list:\n$plan")
        globals.foreach { w =>
          val bounded = collect(w.child) {
            case a: BaseAggregateExec if a.groupingExpressions.nonEmpty => ()
            case _: GlobalLimitExec => ()
            case _: TakeOrderedAndProjectExec => ()
          }.nonEmpty ||
            collect(w.child) { case f: FileSourceScanExec => f }.isEmpty
          assert(bounded,
            s"$key: global window with an unbounded (corpus-sized) " +
              s"input:\n$w")
        }
      } finally InternalCaches.unpersistAll()
    }
  }

  test("graph_triangles: no cartesian/BNLJ; oriented edges read from cache on all three branches") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec}
    def pin(what: String, df: DataFrame): Unit = {
      val plan = executed(df)
      // The wedge enumeration and the Bloom shard attach are equi-joins;
      // a product anywhere is the all-pairs wedge blow-up.
      val bad = collect(plan) {
        case c: CartesianProductExec => c: SparkPlan
        case b: BroadcastNestedLoopJoinExec => b: SparkPlan
      }
      assert(bad.isEmpty,
        s"$what: wedge enumeration must stay an equi-join, never a " +
          s"product:\n$plan")
      // Two wedge sides + the closing semi-join all scan the SAME cached
      // oriented relation — the multi-branch recompute fix that cut the
      // bench line 6x (ops/graph.scala). Edge cache branches add more.
      val imts = collect(plan) { case s: InMemoryTableScanExec => s }
      assert(imts.size >= 3,
        s"$what: expected >=3 InMemoryTableScans (oriented read 3x from " +
          s"cache), got ${imts.size}:\n$plan")
      // The closing semi-join must be a HASH join building the m-sized
      // oriented side — a merge join here SORTS the Θ(m^1.5) wedge
      // stream (~48 GB of sorter spill at sf100, the r13 ladder's one ✗;
      // BASELINE.md), and a broadcast build is the r12 cliff. Pinned so
      // planner/AQE drift can't silently re-sort the wedge stream.
      val closing = collect(plan) {
        case j: ShuffledHashJoinExec if j.joinType == LeftSemi => j
      }
      assert(closing.nonEmpty,
        s"$what: closing semi-join must be ShuffledHashJoin (wedge stream " +
          s"never sorted):\n$plan")
    }
    try {
      pin("graph_triangles", query("graph_triangles"))
      // the Bloom engages only past 2^22 edges, so force its shard count
      for (k <- Seq(1, 3)) {
        pin(s"bloom k=$k", ops.Graph.triangleCount(
          ops.Graph.coPurchaseEdges(spark, sfDir), -1, _ => k))
        InternalCaches.unpersistAll()
      }
    } finally InternalCaches.unpersistAll()
  }

  test("graph_pagerank: one contribution shuffle per iteration, partial-agged") {
    try {
      val plan = executed(query("graph_pagerank"))
      // 3 iterations: each costs ONE groupBy(dst) exchange (the rank join
      // aligns with the cached hash(src) partitioning or broadcasts); on
      // top: the presentation sort's range exchange and whatever the
      // planner needs on the small rank side. The pin is the absence of
      // per-iteration edge re-shuffles: the 1.2M-row edge relation must
      // never cross the wire after the cache materializes, so the
      // exchange count stays O(iterations), not O(iterations x joins).
      val shuffles = collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(shuffles.size <= 7,
        s"expected <=7 exchanges for 3 iterations + sort, got ${shuffles.size}:\n$plan")
      val partials = planString("graph_pagerank")
        .linesIterator.count(_.contains("partial_"))
      assert(partials >= 1,
        "contribution sums must plan a partial (map-side) phase")
    } finally InternalCaches.unpersistAll()
  }

  test("text_containment: posting-list equi-join, no cartesian; the " +
    "windowed posting cache feeds both join sides exchange-free") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}
    try {
      val plan = executed(query("text_containment"))
      val bad = collect(plan) {
        case c: CartesianProductExec => c: SparkPlan
        case b: BroadcastNestedLoopJoinExec => b: SparkPlan
      }
      assert(bad.isEmpty,
        s"pair generation must be the shingle equi-join, never a product:\n$plan")
      // r17 shape: the cached posting relation is built hash(sh)-
      // partitioned and sh-sorted by the DF-cap window, so the self-join
      // reads the cache on BOTH sides with NO exchange and NO sort
      // between cache and join — the §2.4 reuse this operator's rewrite
      // bought. A shuffle or sort sneaking back in (e.g. the cache
      // boundary moving above/below the window) is the regression.
      val imts = collect(plan) { case s: InMemoryTableScanExec => s }
      assert(imts.size >= 2,
        s"expected >=2 InMemoryTableScans (both join sides from the " +
          s"posting cache), got ${imts.size}:\n$plan")
      val smjs = collect(plan) { case j: SortMergeJoinExec => j }
      assert(smjs.size == 1, s"expected the posting self-join:\n$plan")
      val under = smjs.flatMap(j => collect(j) {
        case e: ShuffleExchangeLike => e: SparkPlan
        case s: SortExec => s: SparkPlan
      })
      assert(under.isEmpty,
        s"self-join must reuse the cache's window partitioning+order — " +
          s"found exchange/sort under the join:\n$plan")
    } finally InternalCaches.unpersistAll()
  }

  test("win_cumsum_reset and win_sessionize ride ONE hash exchange " +
    "(stacked windows share the entity clustering)") {
    // The second window's partition key is a superset of the first's
    // (user_id, seg) ⊇ (user_id), so hash(user_id) already satisfies its
    // clustering — a second hash exchange is the regression this pins.
    // The presentation orderBy adds one RANGE exchange on top.
    for (q <- Seq("win_cumsum_reset", "win_sessionize")) {
      val plan = executed(query(q))
      val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
      assert(shuffles.size <= 2 && shuffles.nonEmpty,
        s"$q: expected 1 window shuffle + 1 sort, got ${shuffles.size}:\n$plan")
    }
  }

  test("join_bloom_prefilter: the bloom cut runs on the scan side, " +
    "before any fact exchange") {
    // sf0.01: the spec sf's NATION_7 has no supplier, so AQE replaces the
    // whole plan with an empty relation and no probe runs
    val sf = "/root/testdata/sf0.01"
    val plan = executed(query("join_bloom_prefilter", sf))
    // Catalyst fuses the probe predicate into the one-row broadcast
    // cross join's condition — the only place a variable-distance
    // shiftleft appears in this plan. The cut thus happens AT the BNLJ,
    // directly above the fact scan.
    val probes = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
        if j.condition.exists(_.toString.contains("shiftleft")) => j
    }
    assert(probes.nonEmpty, s"no bloom probe join in the plan:\n$plan")
    // prefilter-before-shuffle: the STREAMED (fact) side below the probe
    // must reach the scan with no exchange — the whole point is that the
    // fact table is cut while still scan-partitioned, so later join/agg
    // shuffles carry only the surviving slice. (The build side holds the
    // bloom aggregate's own SinglePartition exchange — 1 row, exempt.)
    probes.foreach { j =>
      val streamed = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
        case _ => j.right
      }
      val below = collect(streamed) { case e: ShuffleExchangeLike => e }
      assert(below.isEmpty,
        s"bloom probe sits above a fact exchange — the cut came too late:\n$plan")
    }
    // executed selectivity: survivors ≤ half the fact table, and no fewer
    // than the exact semi-join (a Bloom filter has no false negatives);
    // equality with the plain join is the oracle's job, pruning is this
    // pin's
    import org.apache.spark.sql.functions.col
    val survivors = probes.map(_.metrics("numOutputRows").value).min
    val fact = Tables.lineitem(spark, sf)
    val exact = fact
      .join(Tables.supplier(spark, sf), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.nation(spark, sf).filter(col("n_name") === "NATION_7"),
        col("s_nationkey") === col("n_nationkey"))
      .count()
    val factN = fact.count()
    assert(survivors > 0 && survivors >= exact,
      s"bloom kept $survivors fact rows, below the exact join's $exact")
    assert(survivors <= factN / 2,
      s"bloom kept $survivors of $factN fact rows — not pruning")
  }

  test("agg_mode: two stacked partial+final aggregates, bounded shuffles") {
    // (group, value) count → per-group argmax → presentation sort: both
    // aggregate levels partial-combine map-side, so the plan holds at
    // most three exchanges and the shuffled keys are domain-bounded
    val plan = executed(query("agg_mode"))
    val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 3,
      s"expected <=3 shuffles (2 aggs + sort), got ${shuffles.size}:\n$plan")
    val partials = planString("agg_mode")
      .linesIterator.count(_.contains("partial_"))
    assert(partials >= 2,
      "both aggregate levels must plan a partial (map-side) phase")
  }

  test("win_time_weighted: the groupBy reuses the window's user partitioning") {
    // window partitionBy(user_id) then groupBy(user_id): the aggregate
    // must ride the exchange the window already paid — two exchanges
    // total (user hash + presentation sort), not three
    val plan = executed(query("win_time_weighted"))
    val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 2,
      s"expected <=2 exchanges (user hash + sort), got ${shuffles.size}:\n$plan")
  }

  test("text_contamination: corpus probes a broadcast gram set, never shuffles on grams") {
    // the 100 TB contract: the benchmark gram set is the small side by
    // construction (holdout suites are MBs) — it broadcasts, the corpus
    // gram stream probes it in place, and the only exchange left is the
    // per-doc hit count (map-side combined). A sort-merge join here would
    // shuffle the full corpus gram stream on a string key.
    val plan = executed(query("text_contamination"))
    val bhj = collect(plan) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"gram join must be a BroadcastHashJoin:\n$plan")
    bhj.foreach { j =>
      val nullable = (j.leftKeys ++ j.rightKeys).filter(_.nullable)
      assert(nullable.isEmpty,
        s"nullable gram keys $nullable demote the HashedRelation probe")
    }
    val smj = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.isEmpty, "corpus grams must never sort-merge on the gram key")
    // the corpus (streamed) side must reach the probe without an exchange
    // — the benchmark side's distinct may shuffle, but that relation is
    // benchmark-sized, not corpus-sized
    bhj.foreach { j =>
      val streamed = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
        case _ => j.right
      }
      val below = collect(streamed) { case e: ShuffleExchangeLike => e }
      assert(below.isEmpty,
        s"corpus gram stream must probe in place, not shuffle:\n$plan")
    }
    val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 3,
      s"expected <=3 exchanges (bench distinct + hit count + presentation), got ${shuffles.size}:\n$plan")
  }

  test("embed_quantize_int8 is a pure map: zero exchanges") {
    // the quantizer's 100 TB contract: one codegen'd projection over the
    // corpus — any exchange in this plan is pure waste (the op writes a
    // compressed index partition-parallel). The final orderBy is the
    // presentation sort the driver compare needs; everything below it
    // must be shuffle-free, so the only allowed exchange is that sort's.
    val plan = executed(query("embed_quantize_int8"))
    val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size <= 1,
      s"map-only op: at most the presentation sort's exchange:\n$plan")
  }

  test("recall gates broadcast the probe side; the corpus never " +
    "broadcasts") {
    // both rankings must be bounded-probe broadcast joins with the
    // pushed vec_id bound on every broadcast branch — an unbounded
    // corpus broadcast is the first OOM at scale
    for (key <- Seq("sim_recall_int8", "sim_recall_prefix")) {
      val s = planString(key)
      assert(s.contains("LessThan(vec_id,100)"),
        s"$key: probe bound must push to the broadcast-side scan:\n$s")
      val bcasts = collect(executed(query(key))) {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => b
      }
      assert(bcasts.nonEmpty, s"$key: probe side must broadcast")
    }
  }

  test("sample_temperature: rates broadcast, the corpus never shuffles " +
    "on lang") {
    // the |langs|-row rate relation must come to the corpus (broadcast
    // hash join), not the corpus to it — the corpus-side shuffle on a
    // 5-value key is the skew trap at scale
    val plan = executed(query("sample_temperature"))
    val bhj = collect(plan) { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, s"rate join must be broadcast:\n$plan")
  }

  test("text_domain_mix: global totals via broadcast, no one-task window") {
    // both normalizations (token share, weight sum) must ride broadcast
    // single-row joins — a Window over an empty partitionBy would funnel
    // every domain row through ONE task, the shape that dies first at
    // real domain cardinality (millions of sources)
    val plan = executed(query("text_domain_mix"))
    val windows = collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"no window node allowed in the plan:\n$plan")
    val bcasts = collect(plan) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => b
    }
    assert(bcasts.size >= 2,
      s"both totals must broadcast (got ${bcasts.size}):\n$plan")
  }

  test("text_winnowing: no join node at all — pairs expand from capped " +
    "posting lists") {
    // the pair stream is generated INSIDE the fingerprint aggregate via
    // HOF expansion of the ≤50-doc posting list, so the plan must carry
    // no join of any kind (the classic failure is a shingle self-join
    // that goes quadratic on a hot fingerprint)
    val plan = executed(query("text_winnowing"))
    val joins = collect(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"posting-list expansion needs no join:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("mm_shard_manifest: the prefix-sum window partitions by source " +
    "(never a global single-partition window)") {
    val plan = executed(query("mm_shard_manifest"))
    val windows = collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected a window node:\n$plan")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"window must partition by source, not move all rows to one task:\n$plan")
  }

  test("agg_ks_test: local CDF windows partition by pid; the value " +
    "relation is persisted for both consumers") {
    val plan = executed(query("agg_ks_test"))
    val windows = collect(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    // the corpus-sized cumulative sums must run in pid-partitioned
    // windows (the two-pass prefix); the only partition-less window
    // allowed is the offsets prefix over the ≤32-row per-partition
    // totals relation
    assert(windows.exists(_.partitionSpec.nonEmpty),
      s"expected a pid-partitioned local window:\n$plan")
    assert(plan.toString.contains("InMemoryTableScan"),
      s"the ranged value relation must serve both consumers from the " +
        s"persisted handle (range boundaries are sampled):\n$plan")
  }

  test("agg_drift_psi: midpoint and totals ride broadcasts; the event " +
    "stream never shuffles wide") {
    val plan = executed(query("agg_drift_psi"))
    // the totals join broadcasts at top level; the midpoint broadcast
    // sits inside the persisted bucket relation's cached subtree (its
    // text still shows in plan.toString, but collect does not
    // recurse into cached plans)
    val bcasts = collect(plan) {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => b
    }
    assert(bcasts.nonEmpty,
      s"totals must broadcast (got ${bcasts.size}):\n$plan")
    assert(plan.toString.contains("BroadcastNestedLoopJoin") ||
      plan.toString.contains("BroadcastExchange"),
      s"single-row joins must be broadcasts:\n$plan")
    // allowed exchanges: the midpoint min/max single-partition, the
    // bucket-cardinality hash exchange, and the two tiny aggregates
    // over the PERSISTED bucket relation (totals + final psi row) —
    // without the persist the totals branch re-derives the whole scan
    val wide = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(wide.size <= 4, s"unexpected wide shuffle count:\n$plan")
    // the bucket relation must be served from the persisted handle —
    // both downstream consumers (totals + psi terms) read the cache,
    // not a re-derived scan subtree
    assert(plan.toString.contains("InMemoryTableScan"),
      s"bucket counts must come from the persisted relation:\n$plan")
  }
}
