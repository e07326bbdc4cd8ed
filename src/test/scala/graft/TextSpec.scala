package graft

/** Near-dup method cross-checks: two independent sketches (MinHash-LSH
  * with exact-Jaccard verify, SimHash band blocking with hamming verify)
  * must surface the same planted near-duplicate pairs — the strongest
  * oracle-free evidence either one is right.
  */
class TextSpec extends SparkSpec {

  private def pairs(name: String): Set[(Long, Long)] =
    SparkEntry.queries(name)(spark, sfDir)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The unfiltered LSH reference over `(doc_id, s)` sets: EVERY band
    * collision of the 128-position signatures pays the exact verify, so
    * no prefilter or prune stands between the bands and the rounded
    * Jaccard cut at `threshold`.
    */
  private def bandedExact(sets: org.apache.spark.sql.DataFrame,
                          threshold: Double): Set[(Long, Long)] = {
    import org.apache.spark.sql.functions._
    val sig = sets.withColumn("sig",
      graft.expr.MinHashExprs.minhashSignature(col("s"), 128))
    ops.Blocking.candidates(ops.Text.bandKeys(sig)).distinct()
      .join(sets.select(col("doc_id").as("a"), col("s").as("sa")), "a")
      .join(sets.select(col("doc_id").as("b"), col("s").as("sb")), "b")
      .withColumn("ni", size(array_intersect(col("sa"), col("sb"))))
      .filter(round(col("ni").cast("double")
        / (size(col("sa")) + size(col("sb")) - col("ni")), 4) >= threshold)
      .select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("dedup_simhash: loose dial matches the minhash near-dup set; " +
    "production default is a precise subset of it") {
    // cross-sketch law: the Jaccard-threshold near-dup notion minhash
    // pins corresponds to simhash hamming ≤ 12 on this fixture (planted
    // pairs measure hamming 0–12 — the r13 dial probe), so the EQUALITY
    // holds at the loose demonstrator dial. The r13 production default
    // (maxDist = 4, the pair-block index) is a deliberately tighter
    // near-dup notion: its pairs must be a non-empty SUBSET of the
    // minhash set — precision without the Θ(n²) threshold admission.
    val mh = pairs("dedup_near_minhash")
    assert(mh.nonEmpty, "fixture must contain planted near-dups")
    val shDefault = pairs("dedup_simhash")
    assert(shDefault.nonEmpty && shDefault.subsetOf(mh),
      s"production-dial simhash pairs must be a non-empty subset of " +
        s"minhash's: extra=${shDefault -- mh}")
    spark.conf.set("spark.graft.simhash.maxDist", "12")
    try {
      val sh = pairs("dedup_simhash")
      assert(sh == mh,
        s"simhash/minhash disagree at the loose dial: " +
          s"only-simhash=${sh -- mh} only-minhash=${mh -- sh}")
    } finally spark.conf.unset("spark.graft.simhash.maxDist")
  }

  test("dedup_simhash == brute-force hamming pairs at BOTH dials " +
    "(index completeness)") {
    // ground-truth law for both Hamming index paths: the blocked
    // candidate generation (pair-block C(6,2) keys at the production
    // dial 4, 5-block ≤2-bit variant enumeration at the loose dial 12)
    // must return EXACTLY the pairs a quadratic all-pairs sweep finds
    // at the same cut — recall (counting pigeonhole) AND precision (the
    // final bit_count cut) in one set equality, against an
    // implementation that shares nothing with the blocking under test.
    import org.apache.spark.sql.functions._
    val s = spark
    val p = s.sparkContext.defaultParallelism
    val fp = graft.ops.Text.tokenizedDocs(s, sfDir)
      .repartition(p, col("doc_id"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"),
        graft.expr.SimHashExprs.simhash64(
          graft.ops.Text.shingleCol(col("t"))).as("fp"))
    for (dial <- Seq(None, Some(12))) {
      val cut = dial.getOrElse(4)
      val brute = fp.as("x").join(fp.as("y"),
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("hamming"))
        .filter(col("hamming") <= cut)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      dial.foreach(d =>
        spark.conf.set("spark.graft.simhash.maxDist", d.toString))
      try {
        val blocked = pairs("dedup_simhash")
        assert(blocked == brute,
          s"dial $cut: blocked vs brute-force disagree: " +
            s"only-blocked=${blocked -- brute} only-brute=${brute -- blocked}")
      } finally dial.foreach(_ =>
        spark.conf.unset("spark.graft.simhash.maxDist"))
    }
  }

  test("dedup_ngram_jaccard agrees with the word-shingle near-dup set") {
    // three independent set representations (word 3-gram, char 4-gram,
    // simhash bits) must converge on the same planted pairs
    val mh = pairs("dedup_near_minhash")
    val ng = pairs("dedup_ngram_jaccard")
    assert(ng == mh,
      s"char-gram/word-shingle disagree: only-ngram=${ng -- mh} only-minhash=${mh -- ng}")
  }

  test("packed coarse prune is output-invariant on the fixture " +
    "(prune on == prune off)") {
    // the r14 in-stage 64-position cut only KILLS candidates; the exact
    // verify decides the output, so the unpruned reference — every band
    // collision of the same char 4-gram sets verified exactly — must
    // return identical rows. This is the recall law at the fixture's
    // planted-pair margins (≥ 7σ above the cut); the threshold-adjacent
    // 3e-6 miss class is documented at packedCut.
    import org.apache.spark.sql.functions._
    val withPrune = pairs("dedup_ngram_jaccard")
    val without = bandedExact(Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 4)
      .select(col("doc_id"), ops.Text.charGramCol(col("text"), 4).as("s")),
      0.8)
    assert(withPrune == without,
      s"packed prune changed output: only-pruned=${withPrune -- without} " +
        s"only-unpruned=${without -- withPrune}")
    assert(withPrune.nonEmpty, "fixture must contain planted pairs")
  }

  test("bucket DF cap law: over-cap buckets drop from pair generation, " +
    "pairs with an undropped band survive, default is a fixture no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Planted corpus for the r15 degenerate-bucket cap (the
    // text_containment maxDf doctrine applied to band buckets —
    // ops/blocking.scala Blocking.candidates):
    //  - 40 VERBATIM copies of one boilerplate doc: every band bucket
    //    they form has width ≥ 40, so at dfCap = 8 ALL their buckets
    //    drop and their C(40,2) J=1.0 pairs must vanish — the
    //    documented worst case (a pair whose every band minimum is
    //    corpus boilerplate is lost).
    //  - one near-dup pair (x, y): boilerplate + a long unique tail,
    //    differing in one tail char. The tail keeps J(x, boiler) ≈ 0.62
    //    < 0.8 (x never TRUE-pairs with the cluster) and pushes ~all of
    //    x/y's band minima into tail grams, so the pair owns width-2
    //    buckets the cap cannot touch — it must survive capping even
    //    though the corpus' dominant buckets all dropped.
    val boiler = "the same boilerplate header text repeated verbatim in " +
      "every crawl snapshot of this synthetic corpus fixture block"
    val tail = "zq7 unique payload stanza written once: quartz sphinx " +
      "vexed jumbled glyphs bright down the wharf at midnight kj9x"
    val mk = (id: Long, text: String) =>
      (id, text, "en", "crawl", text.length.toLong)
    val docs = (0 until 40).map(i => mk(100L + i, boiler)) ++
      Seq(mk(900L, boiler + " " + tail),
          mk(901L, boiler + " " + tail.replace('9', '8')))
    val dir = SparkSpec.scratchDir("graft_lsh_dfcap")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // exact widths (shift 0) — the law pins deterministic engagement;
    // sampled-detector noise is SaltLawSpec's dial-sweep territory
    spark.conf.set("spark.graft.lsh.hotSampleShift", "0")
    def run(): Set[(Long, Long)] =
      SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
        .select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      spark.conf.set("spark.graft.lsh.bucketDfCap", "0")
      val uncapped = run()
      val clusterPairs = (for {
        a <- 100L until 140L; b <- (a + 1) until 140L
      } yield (a, b)).toSet
      assert(uncapped == clusterPairs + ((900L, 901L)),
        s"uncapped baseline wrong: missing=${(clusterPairs + ((900L,
          901L))) -- uncapped} extra=${uncapped -- clusterPairs - ((900L,
          901L))}")
      spark.conf.set("spark.graft.lsh.bucketDfCap", "8")
      val capped = run()
      assert(capped.subsetOf(uncapped),
        s"cap may only DROP pairs, never mint them: ${capped -- uncapped}")
      assert(capped == Set((900L, 901L)),
        s"cap must drop the width-40 boilerplate buckets' pairs and keep " +
          s"the tail pair's width-2 buckets: got ${capped.take(5)}")
      spark.conf.unset("spark.graft.lsh.bucketDfCap")
      // default no-op: 65536 can't flag any bucket this corpus (or any
      // committed fixture) forms — output byte-identical to cap-off
      assert(run() == uncapped,
        "default bucketDfCap must be a no-op on fixture-scale corpora")
    } finally {
      spark.conf.unset("spark.graft.lsh.bucketDfCap")
      spark.conf.unset("spark.graft.lsh.hotSampleShift")
      InternalCaches.unpersistAll()
    }
  }

  test("determinism: sketch/window queries return identical results on re-run") {
    // the class of queries where nondeterminism hides (float ranking ties,
    // hash candidate sets, window frames) — two plans, two executions,
    // byte-identical rows required
    val risky = Seq("dedup_near_minhash", "dedup_simhash", "sim_topk_cosine",
      "sim_ann_ivf", "sim_ann_lsh", "dedup_ngram_jaccard", "win_rank",
      "text_fingerprint", "stream_session", "text_heavy_hitters",
      "dedup_incremental", "text_pack_sequences")
    risky.foreach { name =>
      val a = SparkEntry.queries(name)(spark, sfDir).collect()
      val b = SparkEntry.queries(name)(spark, sfDir).collect()
      assert(a.sameElements(b), s"$name is nondeterministic across runs")
    }
  }

  test("pack_sequences: two-phase offsets reconstruct the one-window cumsum") {
    // boundary invariance: the operator's per-partition cumsum + prefix
    // offsets must equal the (unscalable) single global window it
    // replaces, row for row, under whatever range boundaries sampling
    // chose this run
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("text_pack_sequences")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "),
          t => length(t) > 0)).as("n_tok"))
      .withColumn("seq_id",
        floor((sum(col("n_tok")).over(w) - col("n_tok")) / lit(2048.0))
          .cast("long"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.sameElements(want),
      "two-phase packing diverged from the global-window definition")
  }

  test("Misra-Gries retention law: heavy items survive an adversarial stream") {
    // The corpus vocabulary (~31 tokens) never fills the 400-slot sketch,
    // so the oracle gate alone cannot reach the eviction path. This
    // stream does: 5000 distinct one-off tokens (12.5× capacity — the
    // decrement step runs constantly) with two heavy tokens woven
    // through at 100 occurrences each. 100 > N/(cap+1) = 5200/401 ≈ 13,
    // so MG's guarantee says both MUST survive; the summary must also
    // respect its capacity bound and the sentinel must carry the exact
    // stream length (it is the operator's total-count source).
    val cap = 400
    val stream = (0 until 5000).flatMap { i =>
      if (i % 50 == 0) Seq("heavyA", s"noise$i", "heavyB")
      else Seq(s"noise$i")
    }
    val out = ops.Text.mgSketch(cap)(stream.iterator).toSeq
    val sentinel = out.filter(_._1.isEmpty)
    assert(sentinel == Seq(("", stream.length.toLong)),
      s"sentinel must carry the exact partition total: $sentinel")
    val kept = out.collect { case (t, _) if t.nonEmpty => t }.toSet
    assert(kept.size <= cap, s"summary exceeded capacity: ${kept.size}")
    assert(kept.contains("heavyA") && kept.contains("heavyB"),
      "a token above the N/(cap+1) retention bound was evicted")
  }

  test("LSH recall law: a 1-token mutation of any doc is always caught") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // plant fresh near-dups: clone 5 docs with one token replaced, append
    // with shifted ids, and require minhash to pair every clone with its
    // source (jaccard of a 1-token edit over >=10 tokens clears 0.5)
    val base = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    // ≥30 tokens so a 1-token edit (≤3 changed shingles) keeps jaccard
    // comfortably above the 0.5 threshold: (s-3)/(s+3) with s≥28
    val clones = base
      .filter($"doc_id" % 100 === 7 && size(split($"text", " ")) >= 30)
      .select(($"doc_id" + 50000).as("doc_id"),
        concat(lit("zzz "), expr("substring(text, instr(text, ' ') + 1)"))
          .as("text"),
        $"lang", $"source", $"n_chars")
    val n = clones.count()
    assert(n >= 3)
    val corpus = base.unionByName(clones)
    val dir = SparkSpec.scratchDir("graft_lsh_law")
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = SparkEntry.queries("dedup_near_minhash")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = clones.select("doc_id").as[Long].collect()
      .map(id => (id - 50000, id)).toSet
    assert(expected.subsetOf(pairs),
      s"LSH missed planted mutations: ${expected -- pairs}")
  }

  test("containment finds an EMBEDDED doc that Jaccard structurally misses") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // B is the first 12 tokens of A (a strict prefix): shingles(B) ⊂
    // shingles(A), so containment = 1.0 while Jaccard = 10/28 ≈ 0.36 —
    // far under the 0.8 near-dup threshold. The containment op must
    // report the pair; the Jaccard op must not (pinning WHY the operator
    // exists — ops/text.scala's asymmetric-pair rationale).
    val aTok = (1 to 30).map(i => s"tok$i").mkString(" ")
    val bTok = (1 to 12).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (1L, aTok, "en", "plant", aTok.length.toLong),
      (2L, bTok, "en", "plant", bTok.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.scratchDir("graft_containment_law")
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val cont = SparkEntry.queries("text_containment")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(cont.toSeq == Seq((1L, 2L, 1.0)),
        s"expected the embedded pair at containment 1.0, got ${cont.toSeq}")
      val jac = SparkEntry.queries("dedup_near_minhash")(spark, dir).count()
      assert(jac == 0L,
        "Jaccard near-dup must NOT pair a 12-of-30-token embedding")
    } finally InternalCaches.unpersistAll()
  }

  test("containment DF cap: hub boilerplate postings drop from the pair " +
    "join, true clones survive, capped output is a subset of exact") {
    import spark.implicits._
    // 30 filler docs share a 16-token boilerplate suffix behind a
    // 2-token unique prefix: 14 of each doc's 16 shingles are pure
    // boilerplate (DF = 30), so exact containment between any two
    // fillers is 14/16 = 0.875 ≥ 0.8 — 435 pairs of pure template
    // noise. One true clone pair (docs 1/2, 20 distinctive tokens,
    // every shingle DF = 2) models the near-dup the operator exists
    // for. With maxDf = 10 the hub postings leave the PAIR join while
    // sizes still count them: filler pairs lose all 14 shared shingles
    // (estimate 0 < 0.8, dropped), the clone pair keeps containment
    // 1.0 — and since the capped estimate only ever under-counts, the
    // capped output must be a subset of the exact one.
    val boiler = (1 to 16).map(i => s"boil$i").mkString(" ")
    val cloneTxt = (1 to 20).map(i => s"clone$i").mkString(" ")
    val docs = Seq((1L, cloneTxt), (2L, cloneTxt)) ++
      (10L to 39L).map(i => (i, s"uniq${i}x uniq${i}y " + boiler))
    val corpus = docs.map { case (id, t) =>
      (id, t, "en", "plant", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = SparkSpec.scratchDir("graft_containment_cap")
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      // "exact" here runs the r13 default (cap 128) — value-identical
      // to the lossless sweep on this fixture since the hub DF is 30,
      // so the assertion doubles as the cap-neutrality pin at widths
      // under the default
      val exact = SparkEntry.queries("text_containment")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      InternalCaches.unpersistAll()
      assert(exact.contains((1L, 2L)), "exact must pair the clones")
      assert(exact.size == 1 + 30 * 29 / 2,
        s"exact must pair every boilerplate pair too: ${exact.size}")
      spark.conf.set("spark.graft.containment.maxDf", "10")
      try {
        val capped = SparkEntry.queries("text_containment")(spark, dir)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        assert(capped.map(p => (p._1, p._2)).toSet.subsetOf(exact),
          "lower-bound law: capped pairs must be a subset of exact pairs")
        assert(capped.toSeq == Seq((1L, 2L, 1.0)),
          s"cap must drop hub-only pairs and keep the clone: " +
            s"${capped.toSeq.take(5)}")
      } finally spark.conf.unset("spark.graft.containment.maxDf")
    } finally InternalCaches.unpersistAll()
  }

  test("hot-bucket law: a planted mega-bucket of identical docs is fully paired") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 64 verbatim copies of one boilerplate doc — every band bucket they
    // land in exceeds the HotBucket width, so candidate generation MUST go
    // through the salted block-pair join; all 64·63/2 pairs at jac 1.0 are
    // still required (salting redistributes work, never drops candidates),
    // and the original corpus' planted near-dups must be unaffected.
    val basePairs = pairs("dedup_near_minhash")
    val base = Tables.documents(spark, sfDir)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val boiler = "the same boilerplate header text repeated verbatim in " +
      "every crawl snapshot of this synthetic corpus fixture"
    val n = 64
    val planted = spark.range(n).select(
      ($"id" + 90000L).as("doc_id"),
      lit(boiler).as("text"),
      lit("en").as("lang"),
      lit("crawl").as("source"),
      length(lit(boiler)).cast(base.schema("n_chars").dataType).as("n_chars"))
    val dir = SparkSpec.scratchDir("graft_lsh_skew")
    base.unionByName(planted).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    // exact hot detection: at the default sampled shift a width-64
    // bucket is flagged only with high probability, and this test's
    // INTENT is to deterministically route through the salted join
    // (the sampled detector's own noise is covered by SaltLawSpec's
    // dial sweep, where the law holds whichever way a flag falls).
    // The width is pinned too (r16): the DEFAULT is now bytes-adaptive
    // (ops/blocking.scala adaptiveHotWidth — this scratch corpus resolves
    // ~45, still under 64, but the law's subject is salted-path
    // engagement and must not ride a parquet-size coincidence)
    spark.conf.set("spark.graft.lsh.hotSampleShift", "0")
    spark.conf.set("spark.graft.lsh.hotBucketWidth", "32")
    val got =
      try SparkEntry.queries("dedup_near_minhash")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      finally {
        spark.conf.unset("spark.graft.lsh.hotSampleShift")
        spark.conf.unset("spark.graft.lsh.hotBucketWidth")
      }
    val ids = (0 until n).map(_ + 90000L)
    val wanted = (for {
      a <- ids; b <- ids if a < b
    } yield (a, b)).toSet
    assert(wanted.subsetOf(got),
      s"salted join dropped ${wanted.size - (wanted & got).size} of the " +
        s"${wanted.size} mega-bucket pairs")
    assert(basePairs.subsetOf(got),
      s"planting a mega-bucket must not disturb unrelated pairs: " +
        s"missing ${basePairs -- got}")
    assert(got == wanted ++ basePairs,
      s"unexpected extra pairs: ${got -- wanted -- basePairs}")
  }

  test("degenerate corpus (all docs shingle-less) dedups to zero rows, no error") {
    import spark.implicits._
    // every doc below the 3-token shingle floor: the whole LSH pipeline —
    // signature, hot-bucket agg, salted join, est prefilter, exact verify
    // — must collapse to an empty result, not an ANSI/empty-agg error
    val dir = SparkSpec.scratchDir("graft_lsh_degenerate")
    Seq((1L, "one two", "en", "crawl", 7L), (2L, "x", "en", "crawl", 1L),
        (3L, "", "en", "crawl", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(SparkEntry.queries("dedup_near_minhash")(spark, dir).count() == 0)
    assert(SparkEntry.queries("dedup_simhash")(spark, dir).count() == 0)
  }

  test("est prefilter: a pair just above the ngram threshold survives") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // fixture pairs sit at >= 0.93 char-gram jaccard — far above the 0.8
    // threshold — so they never stress the estimate cut at 0.65. Plant a
    // pair in the 0.80-0.90 band (above the 16x8 banding knee of ~0.71,
    // so candidate generation is reliable) and require it in the output:
    // with the fixed hash seeds the signature estimate is deterministic,
    // and the >3-sigma margin must pass a pair near the contract boundary,
    // not just the easy ones.
    val common = "the quick brown fox jumps over the lazy dog while " +
      "seventeen wizards vex daft jim by packing quartz boxes full of " +
      "liquor jugs near the docks at midnight under a waning moon"
    val t1 = common + " alpha zebra xylograph"
    val t2 = common + " omega vortex junkyard"
    val dir = SparkSpec.scratchDir("graft_lsh_borderline")
    Seq((1L, t1, "en", "crawl", t1.length.toLong),
        (2L, t2, "en", "crawl", t2.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // fixture self-check: the true char-gram jaccard is in the target band
    val jac = Seq((t1, t2)).toDF("a", "b")
      .select((size(array_intersect(ops.Text.charGramCol(col("a"), 4),
          ops.Text.charGramCol(col("b"), 4))).cast("double")
        / size(array_union(ops.Text.charGramCol(col("a"), 4),
          ops.Text.charGramCol(col("b"), 4)))).as("j"))
      .head().getDouble(0)
    assert(jac >= 0.8 && jac <= 0.9, s"fixture drifted: jac=$jac")
    val rows = SparkEntry.queries("dedup_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 2L)),
      s"near-threshold pair must survive banding AND the estimate cut " +
        s"(true jac=$jac): got ${rows.toSeq}")
  }

  test("shingles: docs under 3 tokens yield an empty set, not an ANSI error") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // ANSI mode (Spark 4 default) turns an out-of-range element_at into a
    // runtime error — the shingle window must be guarded, not clamped
    val sizes = Seq("", "one", "one two", "one two three", "a b c d")
      .toDF("text")
      .select(size(ops.Text.shingleCol(split(col("text"), " "))).as("n"))
      .as[Int].collect().toSeq
    assert(sizes == Seq(0, 0, 0, 1, 2))
  }

  test("sample_hash: ~10% rate, deterministic, partition-layout-invariant") {
    import org.apache.spark.sql.functions._
    val ids = SparkEntry.queries("sample_hash")(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val n = Tables.documents(spark, sfDir).count()
    // binomial(n, 0.1): 5σ band around the mean
    val sd = math.sqrt(n * 0.1 * 0.9)
    assert(math.abs(ids.size - 0.1 * n) <= 5 * sd + 1,
      s"sample of ${ids.size}/$n outside the binomial band")
    // the draw is a pure function of the key: identical on rerun AND
    // under a different partition layout (unlike Dataset.sample)
    val rerun = SparkEntry.queries("sample_hash")(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rerun == ids)
    val reshuffled = Tables.documents(spark, sfDir)
      .repartition(7, col("lang"))
      .filter(pmod(ops.Text.md5u32(
        concat(lit("hs:"), col("doc_id").cast("string"))), lit(100L)) < 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reshuffled == ids,
      "hash sampling must not depend on partition layout")
  }

  test("sample_stratified: per-stratum rates, deterministic, nests sample_hash") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("sample_stratified")(spark, sfDir)
    val byLang = df.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = Tables.documents(spark, sfDir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      val rate = if (lang == "en") 0.10 else 0.40
      val got = byLang.getOrElse(lang, 0L).toDouble
      val sd = math.sqrt(n * rate * (1 - rate))
      assert(math.abs(got - rate * n) <= 5 * sd + 1,
        s"$lang: sampled $got of $n at declared rate $rate — outside 5σ")
    }
    // pure function of the key: identical on rerun
    val ids = df.select("doc_id").collect().map(_.getLong(0)).toSet
    val rerun = SparkEntry.queries("sample_stratified")(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rerun == ids)
    // same hash, same key, higher-or-equal rate ⇒ samples NEST: every
    // sample_hash (10%) doc is in the stratified sample (10% en / 40%)
    val flat = SparkEntry.queries("sample_hash")(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(flat.subsetOf(ids),
      "rate monotonicity: the 10% flat sample must nest inside")
  }

  test("text_normalize: idempotent, exact removal counts") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("text_normalize")(spark, sfDir)
    // idempotency: normalizing an already-normal text is the identity —
    // the law that makes the op safe to run at any pipeline stage
    val notFixed = df.filter(
      regexp_replace(trim(lower(col("norm_text"))), "\\s+", " ")
        =!= col("norm_text")).count()
    assert(notFixed == 0, s"$notFixed rows not a fixed point of normalize")
    // exact counts: the planted mess ('  ' + UPPER + '   x  y ') removes
    // exactly 6 chars (2+1 trimmed, 2+1 squashed); untouched fixture
    // text is already canonical
    val bad = df.withColumn("want",
        when(col("doc_id") % 5 === 0, lit(6)).otherwise(lit(0)))
      .filter(col("n_removed") =!= col("want")).count()
    assert(bad == 0, s"$bad rows with unexpected n_removed")
  }

  test("strict mode (estMargin >= 1) disables the prefilter, same pairs") {
    // the signature-estimate prefilter is lossless in practice: with no
    // prefilter, EVERY band collision pays the exact verify — that
    // strict reference is built here over the same shingle sets, bands
    // and rounded Jaccard cut, and must give the prefiltered key's pairs
    import org.apache.spark.sql.functions._
    val strict = bandedExact(ops.Text.tokenizedDocs(spark, sfDir)
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), ops.Text.shingleCol(col("t")).as("s")), 0.5)
    val dflt = pairs("dedup_near_minhash")
    assert(strict.nonEmpty)
    assert(strict == dflt,
      s"strict/prefiltered disagree: only-strict=${strict -- dflt} " +
        s"only-default=${dflt -- strict}")
  }

  test("InternalCaches: operator persists register and unpersist via the hook") {
    InternalCaches.unpersistAll()
    assert(InternalCaches.trackedCount == 0)
    SparkEntry.queries("dedup_near_minhash")(spark, sfDir).collect()
    assert(InternalCaches.trackedCount > 0,
      "the LSH signature persist must register with the cleanup hook")
    InternalCaches.unpersistAll()
    assert(InternalCaches.trackedCount == 0)
  }

  test("cache-handle law: unpersisting a projection of a persisted plan is a no-op") {
    // Dataset.unpersist drops only a cache entry whose plan sameResults
    // the Dataset's own plan — unpersisting a Project OVER a persisted
    // plan silently leaves the entry resident. The dedup_clusters loop
    // unpersists through the persisted handle (not its projection) for
    // exactly this reason; this pins the Spark behavior that choice
    // depends on.
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.length
    val cached = spark.range(0, 1000)
      .select($"id", ($"id" * 2).as("x"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    cached.count()
    assert(sc.getRDDStorageInfo.length == before + 1,
      "materializing the persisted plan must add one storage entry")
    cached.select($"id").unpersist(blocking = true)
    assert(sc.getRDDStorageInfo.length == before + 1,
      "unpersist through a projection must be a no-op (the leak shape)")
    cached.unpersist(blocking = true)
    assert(sc.getRDDStorageInfo.length == before,
      "unpersist through the persisted handle must drop the entry")
  }

  test("text_bpe_merges equals a sequential reference BPE run exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("text_bpe_merges")(spark, sfDir)
      .as[(Int, String, String, Long)].collect().toList
    // plain-Scala reference: same vocabulary, same tie-break, same
    // greedy left-to-right merge — sequential ground truth
    val vocab = Tables.documents(spark, sfDir)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
      .groupBy($"w").count()
      .as[(String, Long)].collect()
    var seqs: Seq[(Vector[String], Long)] =
      vocab.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val want = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, Long)]
    for (rank <- 1 to 8) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      seqs.foreach { case (sq, f) =>
        sq.zip(sq.tail).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + f)
      }
      if (counts.nonEmpty) {
        val ((a, b), n) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        want += ((rank, a, b, n))
        seqs = seqs.map { case (sq, f) =>
          val out = sq.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b)
              acc.init :+ (a + b)
            else acc :+ x
          }
          (out, f)
        }
      }
    }
    assert(got == want.toList,
      s"distributed merges diverged from the sequential reference:\n" +
        s"got  $got\nwant ${want.toList}")
  }

  test("sample_weighted: deterministic, rate tracks mean weight, nests under shrink") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val kept = SparkEntry.queries("sample_weighted")(spark, sfDir)
      .as[(Long, Double)].collect()
    val rerun = SparkEntry.queries("sample_weighted")(spark, sfDir)
      .as[(Long, Double)].collect()
    assert(kept.sameElements(rerun), "weighted sample must be deterministic")
    // realized acceptance rate ~ mean weight (hash uniformity: the draw
    // is independent of the weight, so E[kept/N] = mean(w))
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", least(lit(1.0),
        size(split($"text", " ")).cast("double") / 60.0).as("w"))
      .as[(Long, Double)].collect()
    val meanW = docs.map(_._2).sum / docs.length
    val rate = kept.length.toDouble / docs.length
    assert(math.abs(rate - meanW) < 0.06,
      s"rate $rate must track mean weight $meanW")
    // nesting: halving every weight keeps a strict subset (same draw u,
    // smaller cut) — recompute the halved sample from first principles
    val u = ops.Text.md5u32(concat(lit("ws:"), $"doc_id".cast("string")))
      .cast("double") / math.pow(2.0, 32)
    val halved = Tables.documents(spark, sfDir)
      .withColumn("t", split($"text", " "))
      .filter(u < least(lit(1.0), size($"t").cast("double") / 60.0) / 2)
      .select($"doc_id").as[Long].collect().toSet
    val keptIds = kept.map(_._1).toSet
    assert(halved.subsetOf(keptIds),
      "halving weights must sample a subset (nesting law)")
    assert(halved.size < keptIds.size,
      "the halved sample must be strictly smaller on this corpus")
  }

  test("lsh ingest law: long mutated docs match their origin, reversed never do") {
    import spark.implicits._
    val pairs = SparkEntry.queries("dedup_lsh_ingest")(spark, sfDir)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val longIds = Tables.documents(spark, sfDir)
      .filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split($"text", " ")) >= 30)
      .select($"doc_id").as[Long].collect()
    // a 1-token mutation of a >=30-token doc sits far above the 0.5
    // threshold AND far above the 32x4 s-curve knee: the probe must
    // recover every (mutated, origin) pair
    longIds.filter(_ % 13 == 0).foreach { i =>
      assert(pairs.contains((i + 40000, i)),
        s"mutated re-ingest of doc $i must match its origin")
    }
    // reversal keeps the vocabulary but destroys every shingle: a
    // reversed doc must never be tied back to its origin
    longIds.filter(_ % 13 == 5).foreach { i =>
      assert(!pairs.contains((i + 50000, i)),
        s"reversed doc $i must be novel to the index")
    }
  }

  test("contamination law: planted docs all flagged >= 3 hits, benchmark never") {
    import spark.implicits._
    val got = SparkEntry.queries("text_contamination")(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    val ids = Tables.documents(spark, sfDir)
      .select($"doc_id").as[Long].collect()
    // every planted corpus doc carries the full 10-token sentinel ->
    // at least its 3 whole-sentinel 8-grams match the benchmark side
    val planted = ids.filter(i => i % 11 == 0 && i % 53 != 0)
    planted.foreach { i =>
      assert(got.contains(i), s"planted doc $i must be flagged")
      assert(got(i) >= 3, s"planted doc $i must have >= 3 gram hits")
    }
    // benchmark docs are the probe set, never part of the audited corpus
    ids.filter(_ % 53 == 0).foreach { i =>
      assert(!got.contains(i), s"benchmark doc $i must not be audited")
    }
  }

  test("domain mix law: weights normalize and preserve the share order") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_domain_mix")(spark, sfDir)
      .select($"tok_share", $"samp_weight").as[(Double, Double)].collect()
    assert(math.abs(rows.map(_._1).sum - 1.0) < 1e-4,
      "token shares must sum to 1")
    assert(math.abs(rows.map(_._2).sum - 1.0) < 1e-4,
      "sampling weights must sum to 1")
    // temperature 0.3 < 1 rebalances but never reorders: weight is a
    // strictly monotone function of share
    val byShare = rows.sortBy(_._1).map(_._2)
    assert(byShare.sameElements(byShare.sorted),
      "weight order must follow share order")
    // and it genuinely up-weights the smallest domain vs proportional
    val (minShare, minW) = rows.minBy(_._1)
    assert(minW > minShare, "temperature scaling must up-weight small domains")
  }

  test("dedup_exact keeps one representative per content group") {
    val df = SparkEntry.queries("dedup_exact")(spark, sfDir)
    val total = Tables.documents(spark, sfDir).count()
    assert(df.count() == total, "every distinct text keeps exactly one id")
    // the synthetic re-crawl duplicates every 10th doc: those groups
    // report 2 copies, all others 1
    val dups = df.filter("n_copies = 2").count()
    assert(dups == (total + 9) / 10)
  }

  test("sample_temperature: flattening laws") {
    import spark.implicits._
    val rows = SparkEntry.queries("sample_temperature")(spark, sfDir)
      .select($"n_docs", $"rate", $"n_kept").as[(Long, Double, Long)]
      .collect()
    assert(rows.length >= 2, "needs ≥2 languages to rebalance")
    // the smallest language keeps everything (rate 1); rates are
    // ANTI-monotone in size (bigger language ⇒ smaller keep rate) —
    // the definition of temperature flattening
    val bySize = rows.sortBy(_._1)
    assert(math.abs(bySize.head._2 - 1.0) < 1e-9,
      "smallest language must keep rate 1")
    assert(bySize.map(_._2).sliding(2)
        .forall { case Array(a, b) => b <= a + 1e-9 },
      "keep rate must not increase with language size")
    rows.foreach { case (n, r, k) =>
      assert(k <= n && r > 0 && r <= 1 + 1e-9, s"ill-formed row ($n,$r,$k)")
    }
    // the realized sample is genuinely flatter than the input: the
    // head language's kept count shrinks toward the tail's
    val head = rows.maxBy(_._1)
    assert(head._3 < head._1, "head language must actually be downsampled")
  }

  test("text_bpe_encode: dictionary join-back == per-occurrence " +
    "reference; zero-word docs survive at (0,0,0)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // words repeat ACROSS docs (the whole point of the dictionary
    // form), plus the two zero-word shapes the explode_outer guard
    // exists for: empty text and null text
    val corpus = Seq(
      (1L, "aa bb aa aa cc", "en"),
      (2L, "bb bb aa dd ee aa", "en"),
      (3L, "", "en"),
      (4L, null.asInstanceOf[String], "en"),
      (5L, "aa aa aa aa xyzzy", "en"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("plant"))
      .withColumn("n_chars", coalesce(length($"text").cast("long"), lit(0L)))
    val dir = SparkSpec.scratchDir("graft_bpe_dict_law")
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    graft.ops.Text.clearBpeMemo()
    try {
      val sep = ""
      val rules = SparkEntry.queries("text_bpe_merges")(spark, dir)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2)))
      def symAfter(w: String): Long = {
        val wrapped = sep + w.map(c => s"$c").mkString(sep + sep) + sep
        val enc = rules.foldLeft(wrapped) { case (acc, (a, b)) =>
          acc.replace(sep + a + sep + sep + b + sep, sep + a + b + sep)
        }
        (enc.length - w.length).toLong / 2
      }
      val expected = Seq(1L -> "aa bb aa aa cc", 2L -> "bb bb aa dd ee aa",
        3L -> "", 4L -> null, 5L -> "aa aa aa aa xyzzy").map {
        case (id, t) =>
          val ws = Option(t).map(_.split(" ").filter(_.nonEmpty).toSeq)
            .getOrElse(Seq.empty)
          (id, ws.size.toLong, ws.map(_.length.toLong).sum,
            ws.map(symAfter).sum)
      }.toSet
      val got = SparkEntry.queries("text_bpe_encode")(spark, dir)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expected,
        s"dictionary encode diverged: only-got=${got -- expected} " +
          s"only-expected=${expected -- got}")
    } finally graft.ops.Text.clearBpeMemo()
  }

  test("text_bpe_encode: compression laws") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_bpe_encode")(spark, sfDir)
      .select($"n_words", $"n_sym_before", $"n_sym_after")
      .as[(Long, Long, Long)].collect()
    rows.foreach { case (w, before, after) =>
      assert(after <= before, "a merge can only shrink the symbol count")
      assert(after >= w, "every word keeps at least one symbol")
    }
    val (tb, ta) = (rows.map(_._2).sum, rows.map(_._3).sum)
    assert(ta < tb,
      s"8 learned merges must compress the corpus ($tb -> $ta)")
  }

  test("sample_split_leakproof: exhaustive, all splits, train-dominant") {
    import spark.implicits._
    val rows = SparkEntry.queries("sample_split_leakproof")(spark, sfDir)
      .select($"split", $"n_groups", $"n_docs").as[(String, Long, Long)]
      .collect()
    val total = Tables.documents(spark, sfDir).count()
    assert(rows.map(_._3).sum == total, "split must be exhaustive on docs")
    assert(rows.map(_._1).sorted.sameElements(Array("test", "train", "val")),
      "all three splits must be non-empty")
    val frac = rows.find(_._1 == "train").get._3.toDouble / total
    assert(frac > 0.6 && frac < 0.95,
      s"train fraction $frac outside the 80% ± group-variance band")
  }

  test("text_winnowing: shared >=6-token span guarantees a shared " +
    "fingerprint; short docs excluded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val span = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq(
      (1L, "one two three four five six seven " + span),
      (2L, span + " nine ten eleven twelve thirteen"),
      (3L, "tiny doc here"), // < 6 tokens: no window fits
      (4L, "completely different words entirely unrelated content stream"))
      .toDF("doc_id", "text").withColumn("t", split($"text", " "))
    val fps = ops.Text.winnowedFingerprints(docs).collect()
      .groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    assert(!fps.contains(3L), "sub-window doc must produce no fingerprints")
    // the winnowing guarantee: a shared 8-token span (≥ k+w−1 = 6)
    // must select at least one identical fingerprint in both docs
    assert((fps(1L) & fps(2L)).nonEmpty,
      "shared span must winnow to a shared fingerprint")
    assert((fps(1L) & fps.getOrElse(4L, Set.empty[Long])).isEmpty,
      "disjoint vocabularies must not collide")
  }

  test("sample_reservoir: exactly min(20, n_lang) per language, dense " +
    "ranks, deterministic") {
    val rows = SparkEntry.queries("sample_reservoir")(spark, sfDir).collect()
    val perLang = rows.groupBy(_.getString(1))
    val totals = Tables.documents(spark, sfDir).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      val got = perLang.getOrElse(lang, Array.empty)
      assert(got.length == math.min(20L, n),
        s"$lang: ${got.length} sampled of $n")
      assert(got.map(_.getInt(2)).sorted.toSeq == (1 to got.length),
        s"$lang: ranks must be dense 1..k")
    }
    val rerun = SparkEntry.queries("sample_reservoir")(spark, sfDir)
      .collect()
    assert(rows.map(_.toString).toSeq == rerun.map(_.toString).toSeq,
      "reservoir draw must be a pure function of the keys")
  }

  test("pipeline_mix_epochs: head language pins 1 epoch, factors >= 1, " +
    "shares sum to 1") {
    val rows = SparkEntry.queries("pipeline_mix_epochs")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    assert(rows.exists(_._4 == 1.0),
      "the best-represented language runs exactly one epoch")
    assert(rows.forall(_._4 >= 1.0), "repeat factors never downsample")
    val shareSum = rows.map(_._3).sum
    assert(math.abs(shareSum - 1.0) < 1e-4,
      s"natural shares must sum to 1, got $shareSum")
  }

  test("agg_drift_psi: non-negative, single summary row, deterministic") {
    val r = SparkEntry.queries("agg_drift_psi")(spark, sfDir).collect()
    assert(r.length == 1)
    // each PSI term is (q−p)·ln(q/p) — factors share sign, so PSI ≥ 0
    assert(r.head.getDouble(0) >= 0.0, "PSI is a sum of non-negative terms")
    assert(r.head.getLong(1) >= 1L)
    val rerun = SparkEntry.queries("agg_drift_psi")(spark, sfDir).collect()
    assert(r.head.toString == rerun.head.toString)
  }

  test("sample_soft_dedup: weights conserve content mass " +
    "(sum = distinct texts), dupes split evenly") {
    val rows = SparkEntry.queries("sample_soft_dedup")(spark, sfDir)
      .collect()
    val distinctTexts = SparkEntry.queries("dedup_exact")(spark, sfDir)
      .count()
    val mass = rows.map(_.getDouble(2)).sum
    // each content group contributes n_copies · (1/n_copies) = 1
    assert(math.abs(mass - distinctTexts) < 1e-3,
      s"total weight $mass must equal distinct content count $distinctTexts")
    assert(rows.exists(_.getLong(1) > 1L),
      "the recrawl overlay must produce real duplicate groups")
    rows.filter(_.getLong(1) > 1L).take(5).foreach { r =>
      assert(math.abs(r.getDouble(2) * r.getLong(1) - 1.0) < 1e-3) }
  }

  test("agg_ks_test: D in [0,1], halves partition the stream, " +
    "deterministic across partition layouts") {
    val r = SparkEntry.queries("agg_ks_test")(spark, sfDir).collect()
    assert(r.length == 1)
    val d = r.head.getDouble(0)
    assert(d >= 0.0 && d <= 1.0, s"KS statistic must be a CDF gap, got $d")
    assert(r.head.getLong(1) + r.head.getLong(2) ==
      Tables.events(spark, sfDir).count(),
      "the midpoint split must partition every event")
    // the two-pass prefix sum must agree with itself on rerun (range
    // boundaries are sampled — the persisted relation pins them)
    val rerun = SparkEntry.queries("agg_ks_test")(spark, sfDir).collect()
    assert(r.head.toString == rerun.head.toString)
  }

  test("dedup_url: canonical forms are clean and groups conserve docs") {
    val df = SparkEntry.queries("dedup_url")(spark, sfDir)
    val rows = df.collect()
    val total = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_dupes")).sum == total,
      "every doc lands in exactly one canonical group")
    assert(rows.exists(_.getAs[Long]("n_dupes") > 1),
      "fixture must contain real URL duplicates")
    rows.map(_.getAs[String]("canon")).foreach { c =>
      assert(!c.contains("#") && !c.contains("utm_") && !c.contains("ref="),
        s"tracking/fragment survived: $c")
      assert(c.startsWith("https://") || c.startsWith("http://"),
        s"scheme not lowercased: $c")
      assert(!c.contains("www."), s"www. survived: $c")
      assert(!c.endsWith("/") && !c.endsWith("?") && !c.endsWith("&"),
        s"trailing artifact survived: $c")
    }
  }
}
