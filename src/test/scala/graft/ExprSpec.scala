package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expr.VectorExprs

/** Custom Catalyst expression contracts: the fused dot product must agree
  * bit-for-bit with the higher-order-function fold it replaces (same
  * ascending summation order) and stay inside whole-stage codegen.
  */
class ExprSpec extends SparkSpec {

  private def vecsDf = Tables.embeddings(spark, sfDir)
    .select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))

  test("DotProduct(v, v) equals the interpreted HOF fold exactly") {
    val df = vecsDf.select(
      VectorExprs.dot(col("v"), col("v")).as("fused"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x).as("hof"))
    assert(df.filter(col("fused") =!= col("hof")).count() == 0,
      "fused loop must fold in the same ascending order as the HOF")
  }

  test("DotProduct generates code (no CodegenFallback in the projection)") {
    val plan = PlanWalk.executed(
      vecsDf.select(VectorExprs.dot(col("v"), col("v")).as("d")))
    val hasWsc = PlanWalk.collect(plan) {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty
    assert(hasWsc, s"dot_product fell out of codegen:\n$plan")
  }

  /** The declarative HOF formulation [[ops.Text.shingleCol]] replaced,
    * kept as its parity reference (the guard and nullability discipline
    * are explained on `shingleCol`).
    */
  private def shingleColHof(t: Column): Column =
    when(size(t) >= 3,
      array_distinct(transform(
        sequence(lit(0), greatest(size(t) - 3, lit(0))),
        i => concat_ws(" ",
          element_at(t, i + 1), element_at(t, i + 2), element_at(t, i + 3)))))
      .otherwise(typedLit(Array.empty[String]))

  /** HOF parity reference for [[ops.Text.charGramCol]]. */
  private def charGramColHof(c: Column, n: Int): Column =
    when(length(c) >= n,
      array_distinct(transform(
        sequence(lit(1), greatest(length(c) - (n - 1), lit(1))),
        i => c.substr(i, lit(n)))))
      .otherwise(typedLit(Array.empty[String]))

  test("CharGrams/WordShingles equal their HOF forms byte-for-byte") {
    import spark.implicits._
    // the corpus plus adversarial cases: unicode multibyte, repeats (the
    // distinct path), exact-window-length, short, empty. LinkedHashSet
    // preserves first-occurrence order exactly as array_distinct does, so
    // the arrays must be EQUAL, not just set-equal.
    val extra = Seq("héllo wörld héllo", "aaaa", "abc", "ab", "",
      "日本語のテキスト断片", "x y x y x y", "a b c d e")
      .toDF("text")
    val docs = Tables.documents(spark, sfDir).select(col("text"))
      .unionByName(extra)
      .withColumn("t", split(col("text"), " "))
    val mismatches = docs.select(
        ops.Text.charGramCol(col("text"), 4).as("cg"),
        charGramColHof(col("text"), 4).as("cg_hof"),
        ops.Text.shingleCol(col("t")).as("sh"),
        shingleColHof(col("t")).as("sh_hof"))
      .filter(col("cg") =!= col("cg_hof") || col("sh") =!= col("sh_hof"))
    assert(mismatches.count() == 0,
      s"codegen'd set builders diverged from the HOF reference:\n" +
        s"${mismatches.take(3).mkString("\n")}")
  }

  test("CharGramCounts equals a per-string reference histogram, " +
    "first-occurrence order") {
    import spark.implicits._
    val extra = Seq("héllo wörld héllo", "aaaa", "abc", "ab", "",
      "日本語のテキスト断片", "x y x y x y")
    val texts = Tables.documents(spark, sfDir).select(col("text"))
      .filter(col("text").isNotNull) // fixture may regenerate with nulls
      .as[String].take(50).toSeq ++ extra
    // null-in → null-out (UnaryExpression null-safety), pinned before
    // the non-null reference sweep
    val nullRow = Seq[Option[String]](None).toDF("text")
      .select(graft.expr.TextSetExprs.charGramCounts(col("text"), 2))
      .collect().head
    assert(nullRow.isNullAt(0), "null text must yield a null histogram")
    val rows = texts.toDF("text")
      .select(col("text"),
        graft.expr.TextSetExprs.charGramCounts(col("text"), 2).as("h"))
      .collect()
    rows.foreach { r =>
      val s = r.getString(0)
      val cps = s.codePoints.toArray
      val grams = (0 to cps.length - 2).map(i => new String(cps, i, 2))
      val ref = grams.groupBy(identity).map { case (g, o) =>
        g -> o.size.toLong }
      val h = r.getSeq[org.apache.spark.sql.Row](1)
      assert(h.map(x => x.getString(0) -> x.getLong(1)).toMap == ref,
        s"histogram mismatch for ${s.take(30)}")
      assert(h.map(_.getString(0)) == grams.distinct,
        s"gram order must be first-occurrence for ${s.take(30)}")
    }
  }

  test("MinHashSignature: k minima, deterministic, set-semantics") {
    import graft.expr.MinHashExprs.minhashSignature
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array('a b c', 'b c d', 'c d e')),
        |  (array('c d e', 'b c d', 'a b c')),
        |  (array('x y z'))
        |AS t(sh)""".stripMargin)
    val sigs = df.select(minhashSignature(col("sh"), 16).as("sig"))
      .collect().map(_.getSeq[Long](0))
    assert(sigs.forall(_.length == 16))
    assert(sigs(0) == sigs(1),
      "signature must depend on the shingle SET, not its order")
    assert(sigs(0) != sigs(2))
    // minima can only decrease as the set grows
    val subset = spark.sql("SELECT array('a b c') AS sh")
      .select(minhashSignature(col("sh"), 16).as("sig"))
      .collect().head.getSeq[Long](0)
    assert(sigs(0).zip(subset).forall { case (full, sub) => full <= sub })
  }

  test("custom expressions are SQL-callable after registration") {
    GraftFunctions.register(spark)
    val d = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(d == 11.0)
    val sig = spark.sql(
      "SELECT minhash_signature(array('a b c', 'b c d'), 8) AS s")
      .collect().head.getSeq[Long](0)
    assert(sig.length == 8)
    val grams = spark.sql("SELECT char_grams('abcabc', 3) AS g")
      .collect().head.getSeq[String](0)
    assert(grams == Seq("abc", "bca", "cab"),
      "distinct grams in first-occurrence order")
    val sh = spark.sql(
      "SELECT word_shingles(array('a', 'b', 'c', 'd'), 3) AS s")
      .collect().head.getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
  }

  test("SignSketch64: deterministic, sign-antisymmetric, SQL-callable") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT sign_sketch64(v) AS a, sign_sketch64(v) AS a2,
        |       sign_sketch64(transform(v, x -> -x)) AS neg,
        |       sign_sketch64(array(CAST(null AS DOUBLE), 1.0d)) AS withnull,
        |       sign_sketch64(array(1.0d)) AS nonull
        |FROM (SELECT array(0.3d, -1.2d, 0.7d, 2.1d, -0.4d) AS v)""".stripMargin)
      .collect().head
    assert(r.getLong(0) == r.getLong(1), "sketch must be deterministic")
    // plane votes flip sign with the vector, so every accumulator crosses
    // zero: the negated vector's sketch is (close to) the bit complement
    assert(java.lang.Long.bitCount(r.getLong(0) ^ r.getLong(2)) >= 60,
      "negated vector must flip (almost) every sign bit")
    // a null dimension votes nothing; index alignment of the survivor
    // differs from the 1-element array, so just assert it evaluates
    assert(!r.isNullAt(3) && !r.isNullAt(4))
  }

  test("SignSketch64 seeds draw independent hyperplane families") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two seeds over the same vectors must give sketches that are
    // neither equal nor complementary — mean cross-seed hamming near 32
    // of 64 (independent families), while each family stays internally
    // deterministic. This is the premise of sim_ann_lsh's 128-bit
    // verify cascade: the combined distance of a random pair must
    // concentrate at 64 of 128, which requires family independence.
    val vecs = (1 to 64).map(i => Seq.tabulate(16)(j =>
      math.sin(i * 31 + j * 7).toDouble)).toDF("v")
    val sk = vecs.select(
      graft.expr.VectorExprs.signSketch64(col("v")).as("a"),
      graft.expr.VectorExprs.signSketch64(col("v"),
        seed = 0x9E3779B97F4A7C15L).as("b"))
    val ham = sk.select(bit_count(col("a").bitwiseXOR(col("b")))
      .as("h")).as[Int].collect()
    val mean = ham.sum.toDouble / ham.length
    assert(mean > 20 && mean < 44,
      s"cross-seed hamming mean $mean must concentrate near 32/64")
    assert(ham.exists(_ != ham.head) || ham.length < 2,
      "cross-seed distances must vary across vectors")
  }

  test("sketch expressions tolerate null array elements from user SQL") {
    GraftFunctions.register(spark)
    // a null feature contributes nothing to a set sketch — same result as
    // the array without it, and no NPE from either eval path
    val r = spark.sql(
      """SELECT minhash_signature(array('a', CAST(null AS STRING)), 8) AS mh,
        |       minhash_signature(array('a'), 8) AS mh1,
        |       simhash64(array('a', CAST(null AS STRING))) AS sh,
        |       simhash64(array('a')) AS sh1""".stripMargin)
      .collect().head
    assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    assert(r.getLong(2) == r.getLong(3))
  }

  test("Md5U64 matches DuckDB's CAST('0x'||substr(md5(s),1,16) AS UBIGINT)") {
    // the engine-boundary pin that makes dedup_simhash oracle-replayable:
    // the per-shingle hash must equal — bit for bit — the u64 DuckDB
    // parses from the digest's first 16 hex chars. Pinned against
    // constants computed IN DuckDB 1.0 (md5('abc') =
    // 900150983cd24fb0..., u64 10376663631224000432 ≡ signed
    // -8070080442485551184), plus a self-consistency check against
    // Spark's own md5() hex output for arbitrary shingle-like strings.
    import org.apache.spark.unsafe.types.UTF8String
    assert(graft.expr.Md5U64.hash(UTF8String.fromString("abc")) ==
      -8070080442485551184L)
    val samples = Seq("", "a", "the quick brown", "tok1 tok2 tok3",
      "éü unicode", "x" * 100)
    samples.foreach { s =>
      val hex = org.apache.commons.codec.digest.DigestUtils.md5Hex(
        s.getBytes("UTF-8")).substring(0, 16)
      assert(graft.expr.Md5U64.hash(UTF8String.fromString(s)) ==
        java.lang.Long.parseUnsignedLong(hex, 16),
        s"Md5U64 disagrees with the md5 hex prefix for '$s'")
    }
  }

  test("PackedEqBytes counts equal bytes exactly (SWAR vs naive)") {
    import org.apache.spark.sql.functions._
    // the comparator under the packed coarse prune: sweep structured
    // and adversarial word pairs (all-equal, all-different, single-byte
    // agreements at every lane, sign bits, zeros) against a naive
    // byte-loop — eval and codegen paths both covered via a DataFrame
    val words = Seq(0L, -1L, 0x8080808080808080L, 0x0102030405060708L,
      0x01020304050607FFL, 0xFF00000000000000L, 42L, Long.MinValue,
      Long.MaxValue, 0x0100010001000100L)
    val pairs = for (a <- words; b <- words) yield (Array(a), Array(b))
    def naive(a: Long, b: Long): Int =
      (0 until 8).count(i => ((a >>> (8 * i)) & 0xFF) == ((b >>> (8 * i)) & 0xFF))
    pairs.foreach { case (a, b) =>
      assert(graft.expr.PackedEqBytes.eqBytes(a(0), b(0)) ==
        naive(a(0), b(0)), s"scalar eqBytes(${a(0)}, ${b(0)})")
    }
    import spark.implicits._
    val df = pairs.toDF("a", "b").select(
      graft.expr.MinHashExprs.packedEqBytes(col("a"), col("b")).as("eq"),
      col("a"), col("b"))
    df.collect().foreach { r =>
      val (a, b) = (r.getSeq[Long](1).head, r.getSeq[Long](2).head)
      assert(r.getInt(0) == naive(a, b), s"codegen eqBytes($a, $b)")
    }
    // multi-word arrays: counts add across words; mismatched lengths
    // score the common prefix
    val m = Seq((Array(1L, 2L, 3L), Array(1L, 2L, 4L)),
      (Array(1L, 2L), Array(1L, 2L, 3L))).toDF("a", "b")
      .select(graft.expr.MinHashExprs.packedEqBytes(col("a"), col("b")))
      .collect().map(_.getInt(0)).toSeq
    assert(m == Seq(8 + 8 + 7, 8 + 8), s"multi-word counts: $m")
  }

  test("char_gram_counts is SQL-callable like its siblings") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT char_gram_counts('abab', 2) AS g")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(x => (x.getString(0), x.getLong(1))) ==
      Seq(("ab", 2L), ("ba", 1L)))
  }

  test("centroid_scores skips NaN-distance centroids (never an argmin)") {
    GraftFunctions.register(spark)
    // an Inf embedding against an Inf centroid gives d2 = NaN; every
    // NaN comparison is false, so an INSERTED NaN would sit at element
    // 0 and become the argmin — the contract is skip-like-malformed
    val r = spark.sql(
      """SELECT centroid_scores(
        |  array(CAST('Infinity' AS DOUBLE)),
        |  array(struct(0, array(CAST('Infinity' AS DOUBLE))),
        |        struct(1, array(0.0d)))) AS sc""".stripMargin)
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(_.getInt(0)) == Seq(1),
      s"NaN centroid must be skipped, got ${r.toList}")
  }

  test("DotProduct null semantics mirror the HOF idiom exactly") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1.0d, 2.0d), array(3.0d, 4.0d)),
        |  (array(1.0d, 2.0d), array(3.0d, 4.0d, 5.0d)),
        |  (array(CAST(null AS DOUBLE), 2.0d), array(3.0d, 4.0d)),
        |  (CAST(array() AS ARRAY<DOUBLE>), CAST(array() AS ARRAY<DOUBLE>)),
        |  (CAST(null AS ARRAY<DOUBLE>), array(1.0d))
        |AS t(a, b)""".stripMargin)
    val fused = df.select(VectorExprs.dot(col("a"), col("b")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    val hof = df.select(
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0),
          (acc, x) => acc + x).as("d"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getDouble(0))
    assert(fused.toSeq == hof.toSeq, s"fused=${fused.toSeq} hof=${hof.toSeq}")
    assert(fused.toSeq == Seq(11.0, null, null, 0.0, null))
  }

  test("CentroidScores: sorted scoring, tie-break, null discipline, SQL-callable") {
    GraftFunctions.register(spark)
    // v=(1,2): d² vs (1,2)=0, (0,0)=5, (1,3)=1 → ascending (0,0.0),(2,1.0),(1,5.0)
    val r = spark.sql(
      """SELECT centroid_scores(array(1.0d, 2.0d), array(
        |  named_struct('cid', 0, 'c', array(1.0d, 2.0d)),
        |  named_struct('cid', 1, 'c', array(0.0d, 0.0d)),
        |  named_struct('cid', 2, 'c', array(1.0d, 3.0d)))) AS sc""".stripMargin)
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(x => (x.getInt(0), x.getDouble(1))) ==
      Seq((0, 0.0), (2, 1.0), (1, 5.0)))
    // equal d² → lower cid first (the determinism the multi-probe slice
    // depends on)
    val tie = spark.sql(
      """SELECT centroid_scores(array(1.0d), array(
        |  named_struct('cid', 3, 'c', array(2.0d)),
        |  named_struct('cid', 1, 'c', array(2.0d)))) AS sc""".stripMargin)
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(tie.map(_.getInt(0)) == Seq(1, 3))
    // null discipline: a null element in v poisons; a null / mismatched
    // centroid entry is skipped (possibly to empty), never silently wrong
    val n = spark.sql(
      """SELECT
        |  centroid_scores(array(CAST(null AS DOUBLE), 1.0d),
        |    array(named_struct('cid', 0, 'c', array(1.0d, 1.0d)))) AS poisoned,
        |  centroid_scores(array(1.0d), array(
        |    CAST(null AS STRUCT<cid: INT, c: ARRAY<DOUBLE>>),
        |    named_struct('cid', 7, 'c', array(0.0d)))) AS skipnull,
        |  centroid_scores(array(1.0d), array(
        |    named_struct('cid', 0, 'c', array(1.0d, 2.0d)))) AS mismatch,
        |  centroid_scores(CAST(null AS ARRAY<DOUBLE>),
        |    array(named_struct('cid', 0, 'c', array(1.0d)))) AS nullv""".stripMargin)
      .collect().head
    assert(n.isNullAt(0), "null vector element must poison the result")
    assert(n.getSeq[org.apache.spark.sql.Row](1).map(_.getInt(0)) == Seq(7))
    assert(n.getSeq[org.apache.spark.sql.Row](2).isEmpty,
      "dimension-mismatched centroid must be skipped, not scored")
    assert(n.isNullAt(3))
  }

  test("CentroidScores: codegen and interpreted paths agree on the corpus") {
    // same projection, once inside whole-stage codegen and once forced
    // through the interpreted eval path — row-identical results
    val cents = (0 until 8).map(i =>
      struct(lit(i).as("cid"),
        transform(sequence(lit(0), lit(63)),
          j => (j * (i + 1) % 7).cast("double")).as("c")))
    val scored = vecsDf.select(col("vec_id"),
      VectorExprs.centroidScores(col("v"), array(cents: _*)).as("sc"))
    def rows(codegen: String): Seq[(Long, Seq[(Int, Double)])] = {
      spark.conf.set("spark.sql.codegen.factoryMode", codegen)
      try scored.collect().toSeq.map(r => (r.getLong(0),
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getInt(0), x.getDouble(1)))))
      finally spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(rows("CODEGEN_ONLY") == rows("NO_CODEGEN"))
  }

  test("BloomFilter: no false negatives, bounded false positives, and the " +
    "prefilter actually prunes") {
    import spark.implicits._
    import graft.expr.BloomFilter
    // Build over every supplier key; the JVM build side and the Column
    // probe side share the position contract — any drift shows up as a
    // false NEGATIVE, which the bloom definition forbids.
    val keys = Tables.supplier(spark, sfDir).select(col("s_suppkey"))
    val bloomAgg = udaf(BloomFilter.agg)
    val bloom = keys.agg(bloomAgg(col("s_suppkey")).as("bf"))
    val misses = keys.crossJoin(broadcast(bloom))
      .filter(!BloomFilter.mightContain(col("bf"), col("s_suppkey")))
      .count()
    assert(misses == 0, s"$misses inserted keys failed the probe")
    // FP sanity on a disjoint key range: with n ≈ 100 keys in M = 65536
    // bits the expected FP rate is ~1e-7, so 100k foreign probes should
    // see at most a handful — 100 is a 1000× margin, catching only
    // gross contract breakage (e.g. a degenerate step of 0).
    val foreign = spark.range(1000000L, 1100000L).toDF("k")
    val fps = foreign.crossJoin(broadcast(bloom))
      .filter(BloomFilter.mightContain(col("bf"), col("k")))
      .count()
    assert(fps < 100, s"$fps false positives in 100k foreign probes")
    // And the operator's prefilter law: survivors of the bloom cut equal
    // the exact semi-join slice plus those (few) false positives.
    val dimKeys = Tables.supplier(spark, sfDir)
      .join(Tables.nation(spark, sfDir).filter(col("n_name") === "NATION_7"),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val dimBloom = dimKeys.agg(bloomAgg(col("s_suppkey")).as("bf"))
    val fact = Tables.lineitem(spark, sfDir)
    val survivors = fact.crossJoin(broadcast(dimBloom))
      .filter(BloomFilter.mightContain(col("bf"), col("l_suppkey")))
      .count()
    val exact = fact.join(dimKeys, col("l_suppkey") === col("s_suppkey"),
      "left_semi").count()
    val factN = fact.count()
    assert(survivors >= exact, "bloom dropped a true match")
    assert(survivors < factN / 2,
      s"prefilter kept $survivors of $factN rows — not pruning")
    // Sized variant (the triangle closing-edge filter's path): the same
    // lockstep law must hold at a NON-default width, where every modulus
    // in the position contract differs from the 65536-bit constants — a
    // build/probe width mismatch would fail as false negatives here.
    val sizedBits = 1 << 20
    val sizedAgg = udaf(new BloomFilter.SizedAgg(sizedBits))
    val sized = keys.agg(sizedAgg(col("s_suppkey")).as("bf"))
    val sizedMisses = keys.crossJoin(broadcast(sized))
      .filter(!BloomFilter.mightContain(col("bf"), col("s_suppkey"),
        sizedBits))
      .count()
    assert(sizedMisses == 0,
      s"$sizedMisses inserted keys failed the sized probe")
  }

  test("FuseDotProduct rewrites the HOF idiom into the fused expression") {
    graft.expr.GraftOptimizations.install(spark)
    val df = vecsDf.select(
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y), lit(0.0),
        (acc, x) => acc + x).as("d"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("dot_product"),
      s"expected the rule to fuse the HOF idiom:\n$optimized")
    // and the rewrite computes the same numbers as the unfused plan
    val fused = df.collect().map(_.getDouble(0))
    val reference = vecsDf
      .select(VectorExprs.dot(col("v"), col("v")).as("d"))
      .collect().map(_.getDouble(0))
    assert(fused.sorted.toSeq == reference.sorted.toSeq)
  }
}
