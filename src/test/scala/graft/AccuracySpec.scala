package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

/** Accuracy bounds for the approximate operators (SURVEY.md §2.3 ◐ rows):
  * the sketch result must sit within its declared error of the exact
  * answer — the check the driver's oracle can't do (no_oracle by design).
  */
class AccuracySpec extends SparkSpec {

  /** The reference ranking for `Similarity.topK`: a `row_number` window
    * over (cos desc, nbr_id) per query, cut at `k`, in the helper's
    * column order.
    */
  private def windowTopK(pairs: DataFrame, k: Int, keys: Column*): DataFrame =
    pairs
      .withColumn("rn", row_number().over(Window.partitionBy(keys.head)
        .orderBy(col("cos").desc, col("nbr_id"))))
      .filter(col("rn") <= k)
      .select(keys ++ Seq(col("rn"), col("nbr_id"), col("cos")): _*)

  /** `ranked`'s rows in (query, rn) order, a total order on the rows. */
  private def inRankOrder(ranked: DataFrame): Seq[org.apache.spark.sql.Row] =
    ranked.orderBy(ranked.columns.head, "rn").collect().toSeq

  /** (vec_id, label, v, nrm) as the similarity keys widen embeddings:
    * float → double, norm by the same codegen'd dot.
    */
  private def widened(dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm",
        sqrt(graft.expr.VectorExprs.dot(col("v"), col("v"))))

  /** Every pair of `widened(dir)` meeting `on`, with the operators'
    * rounded cosine as (vec_id, nbr_id, cos).
    */
  private def allPairs(dir: String, on: Column): DataFrame = {
    val v = widened(dir)
    v.as("x").join(v.as("y"), on)
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("nbr_id"),
        ops.Similarity.cosine(col("x.v"), col("y.v"), col("x.nrm"),
          col("y.nrm")).as("cos"))
  }

  test("sim_ann_lsh recall law: planted near-dups surface at rank 1") {
    import spark.implicits._
    // clones with one perturbed coordinate (+0.2, cos ≈ 0.999): the
    // multi-index probe (4×16-bit bands, ≤1-bit query variants) pairs
    // ANY two vectors whose 64-bit sign sketches differ by ≤ 7 bits —
    // a DETERMINISTIC pigeonhole guarantee, not a banding probability —
    // and the +0.2 perturbation flips 4-7 sketch bits on this fixture
    // (measured; the r11 law's +0.5 flipped 10-17, which the old
    // 8-bit-band scheme only paired by deterministic luck: at 13+ flips
    // its collision probability was ≈ 50%). The r12 second-sketch
    // cascade adds a combined 128-bit hamming cut at 24: both sketches
    // flip at the same per-bit rate, so a clone pair sits at 8-14 of
    // 128 — the cut passes it with ≥ 10 bits of margin while sitting
    // > 7σ below the random-pair mean of 64, so the law stays
    // effectively deterministic end-to-end. ANN must pair every clone
    // with its source, at rank 1. The fixture's own cos-0.5 "neighbors"
    // are NOT the ANN contract: at θ ≈ 60° a sign sketch can't separate
    // them from noise, which is exactly why the moderate-similarity
    // regime belongs to sim_ann_ivf (data-cluster cells, not hash
    // geometry).
    val base = Tables.embeddings(spark, sfDir)
    val clones = base.filter($"vec_id" % 100 === 3)
      .select(($"vec_id" + 50000).as("vec_id"),
        transform($"embedding",
          (x, i) => when(i === 0, x + lit(0.2f)).otherwise(x))
          .as("embedding"),
        $"label")
    val cloneIds = clones.select("vec_id").as[Long].collect().toSeq
    assert(cloneIds.size >= 3)
    val dir = SparkSpec.scratchDir("graft_ann_law")
    base.select("vec_id", "embedding", "label").unionByName(clones)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // probe view OFF: this law's ground truth is the externally planted
    // clone set alone — the key's own derived probes (r13) would add a
    // second near-equidistant twin per planted clone and turn the
    // rank-1 assertion into a cosine coin-flip between the two
    spark.conf.set("spark.graft.annlsh.probeEvery", "0")
    try {
      val rank1 = SparkEntry.queries("sim_ann_lsh")(spark, dir)
        .filter($"rn" === 1).select($"vec_id", $"nbr_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      cloneIds.foreach { cid =>
        assert(rank1.get(cid).contains(cid - 50000),
          s"clone $cid must retrieve its source at rank 1")
        assert(rank1.get(cid - 50000).contains(cid),
          s"source ${cid - 50000} must retrieve its clone at rank 1")
      }
    } finally spark.conf.unset("spark.graft.annlsh.probeEvery")
  }

  test("sim_ann_lsh default probe view: the rows-only gate is " +
    "non-vacuous — every derived clone pairs with its source at rank 1") {
    import spark.implicits._
    // the r13 derived clone probe view exists so the driver's rows-only
    // check reads a PINNED POSITIVE number (r12 regression: the verify
    // cascade correctly emitted 0 rows on a clone-free fixture, leaving
    // the gate unable to fail). This law is the gate's derivation, run
    // on the test fixture: n vectors → ⌈n/13⌉ clones, each clone-source
    // pair emits both rank-1 orientations → ≥ 2·⌈n/13⌉ rows.
    val n = Tables.embeddings(spark, sfDir)
      .filter($"embedding".isNotNull).count()
    val expectClones = (n + 12) / 13
    val out = SparkEntry.queries("sim_ann_lsh")(spark, sfDir)
    val rank1 = out.filter($"rn" === 1).select($"vec_id", $"nbr_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.count() >= 2 * expectClones,
      s"expected >= ${2 * expectClones} rows from $expectClones clones")
    val cloneIds = rank1.keys.filter(_ >= 500000)
    assert(cloneIds.size == expectClones,
      s"expected $expectClones derived clones, saw ${cloneIds.size}")
    cloneIds.foreach { cid =>
      assert(rank1.get(cid).contains(cid - 500000),
        s"derived clone $cid must retrieve its source at rank 1")
      assert(rank1.get(cid - 500000).contains(cid),
        s"source ${cid - 500000} must retrieve its derived clone at rank 1")
    }
  }

  test("sim_ann_ivf_trained topkAgg plan: output-identical to the rank " +
    "window, row for row") {
    // the bounded top-k aggregate (graft.expr.TopKByScore, through
    // Similarity.topK) must select EXACTLY the window form's rows —
    // same (cos desc, nbr_id) order, same rn assignment — on the real
    // fixture, where cos ties across identical-embedding duplicates
    // exercise the tie-break path. Both rank the key's own candidate
    // stream.
    try {
      val cand = ops.Similarity.ivfProbePairs(spark, sfDir, Nil)
      val agg = inRankOrder(ops.Similarity.topK(cand, 3, col("vec_id")))
      val window = inRankOrder(windowTopK(cand, 3, col("vec_id")))
      assert(agg.size == window.size,
        s"row counts differ: ${agg.size} vs ${window.size}")
      assert(agg == window, {
        val diff = agg.zip(window).find { case (a, b) => a != b }
        s"first divergence: $diff"
      })
    } finally InternalCaches.unpersistAll()
  }

  test("topK equals the rank window on random streams, k in {1, 3, 5}") {
    // each k under both key shapes. Spark's sort ranks NaN above every
    // double (first under desc) and ties -0.0 with 0.0, the order
    // TopKByScore.beats must keep; a small cos vocabulary forces ties
    // onto the nbr_id tie-break, and a query range wider than the
    // stream leaves groups shorter than k
    import spark.implicits._
    val genCos = Gen.frequency(
      4 -> Gen.oneOf(0.5, 0.25, 0.9, -0.1, 0.0, -0.0),
      1 -> Gen.const(Double.NaN),
      3 -> Gen.chooseNum(-1.0, 1.0).map(x => math.floor(x * 1e4 + 0.5) / 1e4))
    val genStream = Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.chooseNum(0L, 12L), genCos, Gen.chooseNum(0L, 20L))))
      // ids are unique per query, the aggregate's total-order contract
      .map(_.groupBy(r => (r._1, r._3)).values.map(_.head).toSeq)
    val law = Prop.forAll(genStream) { stream =>
      val pairs = stream.toDF("vec_id", "cos", "nbr_id")
        .withColumn("label", (col("vec_id") % 3).cast("int"))
      Prop.all((for {
        k <- Seq(1, 3, 5)
        keys <- Seq(Seq(col("vec_id")), Seq(col("vec_id"), col("label")))
      } yield {
        val got = inRankOrder(ops.Similarity.topK(pairs, k, keys: _*))
        val want = inRankOrder(windowTopK(pairs, k, keys: _*))
        // Row equality: NaN equals NaN
        Prop(got == want) :|
          s"k=$k keys=${keys.mkString(",")} got=$got want=$want"
      }): _*)
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(8), law)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("dedup_near_embedding blocked default: planted boundary clones " +
    "never lost; output a subset of the exact sweep; high-cos recall 1") {
    import spark.implicits._
    // a clone's distance to ANY centroid differs from its source's by at
    // most the perturbation, so their nprobe-cell rankings near-coincide
    // and the pair always shares a probed cell — even when the source
    // sits exactly on a cell boundary. The 0.5-on-one-coordinate
    // perturbation gives cos ≈ 0.995 against the source.
    val base = Tables.embeddings(spark, sfDir)
    val clones = base.filter($"vec_id" % 100 === 7)
      .select(($"vec_id" + 50000).as("vec_id"),
        transform($"embedding",
          (x, i) => when(i === 0, x + lit(0.5f)).otherwise(x))
          .as("embedding"),
        $"label")
    val cloneIds = clones.select("vec_id").as[Long].collect().toSeq
    assert(cloneIds.size >= 3)
    val dir = SparkSpec.scratchDir("graft_nearemb_law")
    base.select("vec_id", "embedding", "label").unionByName(clones)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val blocked = SparkEntry.queries("dedup_near_embedding")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    InternalCaches.unpersistAll()
    cloneIds.foreach { cid =>
      assert(blocked.contains((cid - 50000, cid)),
        s"planted clone pair (${cid - 50000}, $cid) lost by cell blocking")
    }
    // the exact sweep: every unordered pair, the same rounded cosine
    val exact = allPairs(dir, col("x.vec_id") < col("y.vec_id"))
      .filter(col("cos") >= 0.45)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // blocking only ever REMOVES candidates: every surviving pair must
    // carry the identical exact cosine
    blocked.foreach { case (pair, cos) =>
      assert(exact.get(pair).contains(cos),
        s"blocked pair $pair ($cos) not in the exact sweep")
    }
    // the near-dup regime (cos >= 0.7) must be lossless; moderate-cos
    // pairs are the documented best-effort band on isotropic data
    exact.filter(_._2 >= 0.7).keys.foreach { pair =>
      assert(blocked.contains(pair),
        s"high-cos pair $pair lost by cell blocking")
    }
    val recall = blocked.size.toDouble / math.max(exact.size, 1)
    info(f"blocked recall vs exact at threshold 0.45: ${blocked.size}/" +
      f"${exact.size} = $recall%.3f")
  }

  test("sim_ann_ivf refined cells: candidate pairs shrink below the " +
    "label-join bound and stay a subset of the label cell") {
    import spark.implicits._
    // pair-count bound: refined candidates must be strictly fewer than
    // the plain label self-join's Σ n_label·(n_label−1) pair stream —
    // the whole point of sub-clustering the fixed label vocabulary
    val sizes = Tables.embeddings(spark, sfDir)
      .groupBy($"label").count().as[(Int, Long)].collect()
    val labelPairs = sizes.map { case (_, n) => n * (n - 1) }.sum
    val refinedPairs = ops.Similarity.ivfProbePairs(spark, sfDir,
      Seq("label")).count()
    InternalCaches.unpersistAll()
    assert(refinedPairs < labelPairs,
      s"refined candidate stream ($refinedPairs) must undercut the " +
        s"label join ($labelPairs)")
    // subset law: the refined search space is contained in the plain
    // label self-join's, so per query the refined rank-1 cosine can
    // never EXCEED the plain rank-1 cosine
    val plain = windowTopK(allPairs(sfDir, col("x.label") === col("y.label")
        && col("x.vec_id") =!= col("y.vec_id")), 3, col("vec_id"))
      .filter($"rn" === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val refined = SparkEntry.queries("sim_ann_ivf")(spark, sfDir)
      .filter($"rn" === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    InternalCaches.unpersistAll()
    refined.foreach { case (id, cos) =>
      assert(plain.contains(id), s"query $id gained by refinement")
      assert(cos <= plain(id) + 1e-9,
        s"query $id: refined rank-1 cos $cos exceeds plain ${plain(id)}" +
          " — refined candidates leaked outside the label cell")
    }
    val agree = refined.count { case (id, cos) => plain(id) == cos }
    info(f"refined pairs $refinedPairs vs label-join $labelPairs " +
      f"(${refinedPairs.toDouble / labelPairs}%.3f); rank-1 cos " +
      f"preserved for $agree/${refined.size} queries")
  }

  test("agg_approx_quantile: returned value's true rank within the sketch guarantee") {
    // percentile_approx(accuracy = 1000) guarantees rank error <= n/1000;
    // assert the realized rank of the returned median against a 10x margin
    val approx = SparkEntry.queries("agg_approx_quantile")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice")).cache()
    try approx.foreach { case (flag, ap50) =>
      val grp = li.filter(col("l_returnflag") === flag)
      val n = grp.count().toDouble
      val below = grp.filter(col("l_extendedprice") <= ap50).count().toDouble
      assert(math.abs(below / n - 0.5) <= 0.01,
        s"group $flag: approx median $ap50 sits at rank ${below / n}")
    } finally li.unpersist()
  }

  test("agg_sketch_union: per-group ±5% of exact; union row lossless") {
    val rows = SparkEntry.queries("agg_sketch_union")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == exact.keySet + "ALL")
    exact.foreach { case (k, ex) =>
      assert(math.abs(rows(k).toDouble - ex) <= 0.05 * ex + 1,
        s"group $k: sketch estimate ${rows(k)} vs exact $ex")
    }
    // merge losslessness: the union of the per-group sketch STATES must
    // estimate exactly what one sketch over the whole corpus estimates —
    // the property that makes persisted partition sketches safe to roll
    // up at any granularity without touching the data again
    val whole = Tables.orders(spark, sfDir)
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("o_custkey"), lit(12))).as("est"))
      .collect().head.getLong(0)
    assert(rows("ALL") == whole,
      s"unioned estimate ${rows("ALL")} != whole-corpus sketch $whole")
  }

  test("agg_approx_distinct: HLL estimate within ±5% of exact per group") {
    val approx = SparkEntry.queries("agg_approx_distinct")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_custkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, ex) =>
      val ap = approx(k).toDouble
      assert(math.abs(ap - ex) <= 0.05 * ex + 1,
        s"group $k: approx $ap vs exact $ex exceeds ±5%")
    }
  }

  test("sim_ann_ivf_trained recall law: multi-probe recovers boundary clones") {
    import spark.implicits._
    // Same planted clones as the LSH law (cos ≈ 0.995 vs source). The
    // trained index assigns each vector to its argmin k-means cell; a
    // clone of a BOUNDARY vector lands in the adjacent cell (measured:
    // only 3/5 clone pairs co-cell), so single-probe IVF misses those
    // pairs BY CONSTRUCTION — that's the recall gap nprobe exists for. A
    // clone's distance to any centroid differs from its source's by at
    // most the perturbation, so the source's cell always sits near the
    // top of the clone's centroid ranking: probing the top-2 must
    // retrieve every source at rank 1, and top-3 must close the (weaker-
    // bounded) reverse direction too.
    val base = Tables.embeddings(spark, sfDir)
    val clones = base.filter($"vec_id" % 100 === 3)
      .select(($"vec_id" + 50000).as("vec_id"),
        transform($"embedding",
          (x, i) => when(i === 0, x + lit(0.5f)).otherwise(x))
          .as("embedding"),
        $"label")
    val cloneIds = clones.select("vec_id").as[Long].collect().toSeq
    assert(cloneIds.size >= 3)
    val dir = SparkSpec.scratchDir("graft_ivf_probe_law")
    base.select("vec_id", "embedding", "label").unionByName(clones)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def rank1(nprobe: Int): Map[Long, Long] = {
      spark.conf.set("spark.graft.ivf.nprobe", nprobe.toString)
      try {
        val m = SparkEntry.queries("sim_ann_ivf_trained")(spark, dir)
          .filter($"rn" === 1).select($"vec_id", $"nbr_id")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        InternalCaches.unpersistAll()
        m
      } finally spark.conf.unset("spark.graft.ivf.nprobe")
    }
    val single = rank1(1)
    val fwdSingle = cloneIds.count(c => single.get(c).contains(c - 50000))
    assert(fwdSingle < cloneIds.size,
      "fixture must contain a boundary clone pair single-probe misses — " +
        "otherwise this law isn't exercising the multi-probe path")
    val dflt = rank1(2)
    cloneIds.foreach { cid =>
      assert(dflt.get(cid).contains(cid - 50000),
        s"clone $cid must retrieve its source at rank 1 with nprobe=2")
    }
    val wide = rank1(3)
    cloneIds.foreach { cid =>
      assert(wide.get(cid).contains(cid - 50000) &&
        wide.get(cid - 50000).contains(cid),
        s"nprobe=3 must pair $cid with its source in BOTH directions")
    }
  }

  test("sim_ivf_train: k-means objective descends per round, deterministic") {
    // Lloyd's invariant: each assign+update round can only lower the
    // summed squared distance (assignment picks the argmin centroid;
    // the mean minimizes within a cell) — monotone descent is THE
    // correctness law an iterative trainer must hold. The 6-decimal
    // centroid rounding perturbs the exact mean, so a ≤1e-3 slack
    // absorbs it.
    def run(iters: Int): (Double, Seq[(Long, Int)]) = {
      spark.conf.set("spark.graft.ivf.iters", iters.toString)
      try {
        val rows = SparkEntry.queries("sim_ivf_train")(spark, sfDir)
          .collect()
        InternalCaches.unpersistAll()
        (rows.map(_.getAs[Double]("d2")).sum,
          rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cell"))).toSeq)
      } finally spark.conf.unset("spark.graft.ivf.iters")
    }
    // iters 0 (the raw seeds) through 5, one lineage cut per round
    val objs = (0 to 5).map(i => run(i)._1)
    objs.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-3, s"objective rose across a round: $objs")
    }
    assert(objs.last < objs.head,
      s"five rounds must improve on the raw seeds: $objs")
    // determinism: same conf, same input ⇒ identical assignment
    val (o1, a1) = run(3)
    val (o2, a2) = run(3)
    assert(o1 == o2 && a1 == a2, "training must be run-deterministic")
  }

  test("embed_quantize_int8: reconstruction error bounded by scale/2") {
    // The defining property of a round-to-nearest quantizer: every
    // component reconstructs within half a quantization step, so the
    // per-vector MSE is ≤ (scale/2)² — checked through the emitted
    // floor-scaled integers (scale_ppb/mse_ppb are floor(x·1e9 + 0.5)).
    val rows = SparkEntry.queries("embed_quantize_int8")(spark, sfDir)
      .collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val scale = r.getAs[Long]("scale_ppb").toDouble / 1e9
      val mse = r.getAs[Long]("mse_ppb").toDouble / 1e9
      assert(mse <= scale * scale / 4 + 1e-9,
        s"vec ${r.getAs[Long]("vec_id")}: mse $mse exceeds (scale/2)²")
      val codes = r.getAs[String]("codes").split(",").map(_.toInt)
      assert(codes.forall(c => c >= -127 && c <= 127), "code out of ±127")
      assert(codes.exists(c => math.abs(c) == 127),
        "max-|x| component must hit full code range")
    }
  }

  test("sim_recall_int8: recall@5 well-formed and int8 preserves most " +
    "neighbors") {
    // int8 on 64-dim vectors perturbs each cosine by ~1e-2 — most top-5
    // sets survive. The law pins the metric's well-formedness per probe
    // and a floor on the corpus-level mean (far below the observed
    // value, far above what a broken quantizer could score).
    val rows = SparkEntry.queries("sim_recall_int8")(spark, sfDir)
      .collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val n = r.getAs[Int]("n_match")
      assert(n >= 0 && n <= 5, s"n_match $n out of range")
      assert(math.abs(r.getAs[Double]("recall5") - n / 5.0) < 0.005 + 1e-9,
        "recall5 must be n_match/5 (2-decimal rounded)")
    }
    val mean = rows.map(_.getAs[Int]("n_match")).sum / (5.0 * rows.length)
    assert(mean >= 0.5, s"mean recall@5 $mean — quantization broke ranking")
  }

  test("recall gates separate the two compressions: int8 ≫ 16-dim prefix " +
    "on unstructured embeddings") {
    // The pair of gates must MEASURE, not flatter: int8 keeps all 64
    // dims (per-cosine error ~1e-2 ⇒ recall ≈ 1), while a 16-dim prefix
    // of an embedding with no matryoshka training throws away 3/4 of
    // independent variance ⇒ recall collapses. A recall harness that
    // can't show this contrast on this corpus is measuring nothing.
    def mean(key: String): Double = {
      val rows = SparkEntry.queries(key)(spark, sfDir).collect()
      rows.map(_.getAs[Int]("n_match")).sum / (5.0 * rows.length)
    }
    val i8 = mean("sim_recall_int8")
    val pf = mean("sim_recall_prefix")
    assert(i8 >= 0.8, s"int8 recall $i8 — near-lossless expected")
    assert(pf <= 0.5, s"prefix recall $pf — collapse expected on " +
      "unstructured embeddings")
    assert(i8 > pf + 0.3, s"gates failed to separate: int8 $i8 vs prefix $pf")
  }
}
