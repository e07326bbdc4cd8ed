package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The block-join-verify candidate stage of every LSH/Hamming
  * near-duplicate operator: postings `(doc_id, band, bhash, carry…)` meet
  * on their `(band, bhash)` bucket, and each caller verifies the pairs.
  *
  * This module owns the bucket policy: the hot-salt width, the salt-block
  * count and the degenerate-bucket DF cap ([[graft.Dials]]). The MinHash
  * self-join, the ingest probe and both Hamming indexes read it here, so
  * they cannot drift apart on it.
  */
object Blocking {

  /** Floor of the hot-bucket width, and the width every sub-128 KB corpus
    * (every committed sf ≤ 0.01 fixture and spec corpus) resolves to. A
    * natural corpus gathers boilerplate into a few mega-buckets; unsalted,
    * each one serializes O(width²) pair work into one join task.
    */
  private val HotBucketDefault = 32

  /** Default of `spark.graft.lsh.hotBucketWidth` when the conf is unset:
    * `max(32, ceil(sqrt(docBytes / 32)))` of the operator's
    * `documents.parquet` (an O(1) listing, no job).
    *
    * The boundary trades two costs that cross at W ~ sqrt(n): buckets
    * wider than W replicate under the salt, buckets at W enumerate W²/2
    * pairs in one task. A fixed 32 salted ~25 % of posting mass at
    * organic sf100 and ran the merge-join sort out of disk, while this
    * formula resolves that fixture to 4338, next to the hand-set 4096
    * that ran clean (BASELINE.md r15/r16). The sampled width histogram
    * would need a second detection pass (measured ~+60 %). Output is
    * identical at any width; only the plan's balance changes. A missing
    * documents.parquet falls back to the floor.
    */
  private[graft] def adaptiveHotWidth(s: SparkSession, d: String): Int = {
    val bytes = graft.InternalCaches.sourceBytes(s"$d/documents.parquet",
      s.sparkContext.hadoopConfiguration)
    math.max(HotBucketDefault,
      math.ceil(math.sqrt(bytes / 32.0)).toInt)
  }

  /** Buckets wider than `hotWidth` (and, when `dfCap` > 0, than the cap)
    * as a tiny `(band, bhash, is_hot, is_degen?)` list for the driver.
    * One aggregation decides both boundaries; a second pass measured
    * ~+60 % on organic sf30.
    *
    * It counts only the postings of docs with xxhash64(doc_id) ≡ 0
    * (mod 2^s) and compares against width >> s. An exact count keys its
    * partial aggregation by ~every posting of a natural corpus and ran
    * out of memory at sf100 (BASELINE.md r13). The gate hashes content,
    * so the sample does not depend on the layout. A flag is a balance
    * decision, never a correctness one: salting returns the same pairs
    * for any hot list (SaltLawSpec), and width W ≫ the boundary is
    * missed with odds Binomial(W, 2^-s). s is clamped so the smaller
    * sampled threshold stays ≥ 2, which keeps the list tiny when a test
    * dials the width down.
    */
  private def flaggedBuckets(postings: DataFrame, hotWidth: Int,
                             dfCap: Int): DataFrame = {
    val shift = graft.Dials.HotSampleShift(postings.sparkSession)
    val minW = if (dfCap > 0) math.min(hotWidth, dfCap) else hotWidth
    // clamp so minW >> s stays ≥ 2: s ≤ log2(minW) − 1
    val s = math.min(shift,
      math.max(0, 31 - Integer.numberOfLeadingZeros(math.max(minW, 1))
        - 1))
    val sampled =
      if (s == 0) postings
      else postings.filter(
        xxhash64(col("doc_id")).bitwiseAND(lit((1L << s) - 1)) === 0L)
    val flags = (col("bw") > (hotWidth >> s)).as("is_hot") +:
      (if (dfCap > 0) Seq((col("bw") > (dfCap >> s)).as("is_degen"))
       else Nil)
    sampled.groupBy(col("band"), col("bhash"))
      .agg(count(lit(1)).as("bw"))
      .filter(col("bw") > (minW >> s))
      .select(Seq(col("band"), col("bhash")) ++ flags: _*)
  }

  /** Candidate pairs of postings that share a `(band, bhash)` bucket,
    * NOT deduplicated: a pair comes out once per shared bucket, and the
    * caller applies its own cut before `.distinct()` so the distinct's
    * shuffle sees survivors only. Each `carry` column comes out as
    * `<c>_a` and `<c>_b`; carry only small per-doc payloads, since a 1 KB
    * signature would multiply the join's shuffle.
    *
    *  - self (`probe` = None): all unordered pairs of `index`, as
    *    `a < b`. A hot bucket's rows take a block `blk`; the x side
    *    replicates to tags (blk, j ≥ blk), the y side to (i ≤ blk, blk),
    *    so each pair meets in exactly one (band, bhash, pi, pj) task. A
    *    pair from two blocks meets there in one orientation only, in an
    *    off-diagonal tile (pi < pj); a pair inside one block or a cold
    *    bucket (pi = pj) meets in both, and the id order keeps one. The
    *    kept orientation follows block order, not id order, so the output
    *    is normalized with least/greatest, carries swapped to match.
    *  - cross: (a = `probe` doc, b = `index` doc) pairs. The index row of
    *    a hot bucket keeps one block and the probe row copies to every
    *    block, so each pair meets in one (band, bhash, blk) task.
    *
    * Hot and degenerate are measured on `index`, the side that gathers
    * template mass. With `capDegenerate`, a degenerate bucket (wider than
    * the DF cap) leaves both sides before any exchange; a pair loses only
    * that band's collision chance, and the 65536 default never engages on
    * a committed fixture (TextSpec). A caller whose key is not one of
    * several bands turns the cap off, since dropping its bucket would
    * lose the pair outright. Cold buckets keep tag 0, the unsalted join.
    *
    * Why it is built this way:
    *  - `blk` is a bitmask of xxhash64, not pmod: Pmod is always nullable
    *    in Catalyst, and a nullable join key demotes the join to its slow
    *    path (PlanSpec pins non-nullable keys).
    *  - The postings are not persisted. They are cheap codegen'd
    *    projections over an already-cached relation, and a cache here
    *    measured 2× on `dedup_simhash` at sf1: it breaks the fused
    *    scan→explode→join pipeline.
    *  - The `shuffle_merge` pin: both sides grow with the corpus, and
    *    near the adaptive broadcast threshold AQE flipped one into a
    *    driver-built broadcast, built single-threaded while every
    *    executor idled (jstack-caught, the bimodal 7 s/35 s sf1 runs of
    *    `dedup_simhash`). Only the bounded bucket list is broadcast.
    *  - The bucket list is collected once per call and broadcast as a
    *    local relation. Left as a plan subtree under both join sides, its
    *    exchange was not reused by AQE and the sampled aggregation ran
    *    twice per query.
    */
  private[graft] def candidates(index: DataFrame,
                                probe: Option[DataFrame] = None,
                                carry: Seq[String] = Nil,
                                hotDflt: Int = HotBucketDefault,
                                capDegenerate: Boolean = true)
      : DataFrame = {
    val s = index.sparkSession
    val hotWidth = graft.Dials.HotBucketWidth.get(s).getOrElse(hotDflt)
    val blocks = graft.Dials.SaltBlocks(s)
    val dfCap = if (capDegenerate) graft.Dials.BucketDfCap(s) else 0
    val flagged = {
      val f = flaggedBuckets(index, hotWidth, dfCap)
      val rows = f.collect()
      // an empty list stays an RDD the optimizer cannot see into: as an
      // empty local relation it folds the tags to literals, and Catalyst
      // then drops them from the join key that PlanSpec pins
      if (rows.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[Row], f.schema)
      else s.createDataFrame(java.util.Arrays.asList(rows: _*), f.schema)
    }
    def live(side: DataFrame): DataFrame = {
      val j = side.join(broadcast(flagged), Seq("band", "bhash"), "left")
      if (dfCap == 0) j
      else j.filter(!coalesce(col("is_degen"), lit(false))).drop("is_degen")
    }
    val hot = coalesce(col("is_hot"), lit(false))
    val blk = when(hot,
      xxhash64(col("doc_id")).bitwiseAND(lit(blocks - 1)).cast("int"))
      .otherwise(lit(0))
    def spread(lo: Column, hi: Column): Column =
      explode(when(hot, sequence(lo, hi)).otherwise(array(lit(0))))
    def side(rows: DataFrame, id: String, tags: Seq[Column],
             sfx: String): DataFrame =
      rows.select(Seq(col("doc_id").as(id), col("band"), col("bhash")) ++
        tags ++ carry.map(c => col(c).as(c + sfx)): _*)
    def join(x: DataFrame, y: DataFrame, keys: Seq[String],
             extra: Seq[Column]): DataFrame =
      x.as("x").hint("shuffle_merge").join(y.as("y"),
        (keys.map(k => col(s"x.$k") === col(s"y.$k")) ++ extra)
          .reduce(_ && _))
    probe match {
      case None =>
        val tagged = live(index).withColumn("blk", blk)
        val x = side(tagged, "xid", Seq(col("blk").as("pi"),
          spread(col("blk"), lit(blocks - 1)).as("pj")), "_x")
        val y = side(tagged, "yid", Seq(spread(lit(0), col("blk")).as("pi"),
          col("blk").as("pj")), "_y")
        val fwd = col("x.xid") < col("y.yid")
        join(x, y, Seq("band", "bhash", "pi", "pj"),
            Seq(col("x.pi") < col("x.pj") || col("x.xid") < col("y.yid")))
          .select(least(col("x.xid"), col("y.yid")).as("a") +:
            greatest(col("x.xid"), col("y.yid")).as("b") +:
            carry.flatMap(c => Seq(
              when(fwd, col(s"x.${c}_x")).otherwise(col(s"y.${c}_y"))
                .as(c + "_a"),
              when(fwd, col(s"y.${c}_y")).otherwise(col(s"x.${c}_x"))
                .as(c + "_b"))): _*)
      case Some(p) =>
        val x = side(live(p), "a",
          Seq(spread(lit(0), lit(blocks - 1)).as("blk")), "_a")
        val y = side(live(index), "b", Seq(blk.as("blk")), "_b")
        join(x, y, Seq("band", "bhash", "blk"), Nil)
          .select(col("a") +: col("b") +:
            carry.flatMap(c => Seq(col(c + "_a"), col(c + "_b"))): _*)
    }
  }

  /** Hamming distance between the carried `<c>_a` and `<c>_b` longs. */
  private[graft] def hamming(c: String): Column =
    bit_count(col(c + "_a").bitwiseXOR(col(c + "_b")))

  /** The value of the i-th block of the 64-bit `fp` column under
    * `widths`; both Hamming indexes use it, so they share one bit layout.
    */
  private def fpBlockVal(widths: Seq[Int]): Int => Column = {
    val shifts = widths.scanLeft(0)(_ + _).init
    i => shiftrightunsigned(col("fp"), shifts(i))
      .bitwiseAND(lit((1L << widths(i)) - 1))
  }

  /** All distinct unordered `(a, b, hamming)` pairs within Hamming
    * distance `maxDist` over a `(doc_id, fp: bigint)` relation.
    *
    * maxDist ≤ 4 (the default, Manku et al.'s crawl regime) uses the
    * (6, 2) pair-block index of [[comboBlockPairs]]: 15 tables of 20–22
    * bit keys. Above 4 it uses the 5-block multi-index
    * (13/13/13/13/12 bits): maxDist errors leave some block within
    * ⌊maxDist/5⌋ ≤ 2 flips, so the probe side posts every value within
    * that radius. Both are recall-complete, so the output equals a
    * brute-force sweep (SaltLawSpec). At 12 of 64 bits the threshold
    * itself admits Θ(n²) pairs on a uniform corpus (BASELINE.md r12), so
    * no blocking can save that setting.
    */
  private[graft] def hammingBlockPairs(fp: DataFrame, maxDist: Int,
                                       hotDflt: Int = HotBucketDefault)
      : DataFrame = {
    require(maxDist <= 14, "5-block/2-error enumeration is recall-" +
      s"complete only up to hamming 14, got $maxDist")
    if (maxDist <= 4) comboBlockPairs(fp, maxDist, 6, 2, hotDflt)
    else multiIndexPairs(fp, Seq(13, 13, 13, 13, 12), maxDist / 5,
        hotDflt = hotDflt)
      .select(col("a"), col("b"), hamming("fp").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** Combo-block Hamming index: split the fingerprint into `nBlocks`
    * blocks and key on every `clean`-subset of them, C(nBlocks, clean)
    * tables posted exactly on both sides and self-joined. d errors dirty
    * at most d blocks, so for d ≤ nBlocks − clean some clean subset keys
    * the pair exactly (the bound is tight).
    *
    * [[hammingBlockPairs]] fixes (6, 2). At sf100 (5 M docs) (6, 2) ran
    * 71 s, (7, 3) 189 s and (8, 4) 453 s: the wider keys cut the candidate
    * stream but pay 35 or 70 postings per doc instead of 15, and the
    * extrapolated crossover sits near 25 M docs. SaltLawSpec sweeps all
    * three geometries.
    */
  private[graft] def comboBlockPairs(fp: DataFrame, maxDist: Int,
      nBlocks: Int, clean: Int,
      hotDflt: Int = HotBucketDefault): DataFrame = {
    require(clean >= 1 && clean < nBlocks && nBlocks <= 16,
      s"combo geometry out of range: blocks=$nBlocks clean=$clean")
    require(maxDist <= nBlocks - clean,
      s"$nBlocks-block/$clean-clean combo keys are recall-complete " +
        s"only up to hamming ${nBlocks - clean}, got $maxDist")
    val base = 64 / nBlocks
    val rem = 64 % nBlocks
    val widths = Seq.tabulate(nBlocks)(i => if (i < rem) base + 1 else base)
    val blockVal = fpBlockVal(widths)
    val combos = (0 until nBlocks).combinations(clean).toSeq
    require(combos.forall(_.map(widths).sum <= 63),
      "combo key must fit a signed long")
    val bands = fp.select(col("doc_id"), col("fp"),
        posexplode(array(combos.map { idxs =>
          idxs.tail.foldLeft(blockVal(idxs.head)) { (acc, i) =>
            shiftleft(acc, widths(i)).bitwiseOR(blockVal(i))
          }
        }: _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bhash")
    candidates(bands, carry = Seq("fp"), hotDflt = hotDflt)
      .filter(hamming("fp") <= maxDist)
      .distinct()
      .select(col("a"), col("b"), hamming("fp").as("hamming"))
  }

  /** Multi-index candidates over a `(doc_id, fp, carry…)` relation: the
    * 64-bit `fp` splits into `widths` blocks, the index side posts each
    * doc's exact block values, and the probe side posts every value
    * within `radius` flips of each block. Complete for any Hamming cut
    * ≤ (radius+1)·|widths| − 1. Returns [[candidates]]' cross rows cut to
    * `a < b`, with `fp` carried; the caller cuts on [[hamming]] and
    * deduplicates.
    *
    * The probe postings explode one flat (band, mask) literal over the
    * 1-row/doc relation instead of deriving from the exact postings:
    * deriving re-ran the posexplode under the generate (7.2 → 24.5 s on
    * sf1 `dedup_simhash`). typedlit marks tuple fields nullable, so the
    * band and mask are coalesced back to non-nullable join keys.
    */
  private[graft] def multiIndexPairs(fp: DataFrame, widths: Seq[Int],
      radius: Int, carry: Seq[String] = Nil,
      hotDflt: Int = HotBucketDefault): DataFrame = {
    val blockVal = fpBlockVal(widths)
    val cols = col("doc_id") +: col("fp") +: carry.map(col)
    val exact = fp.select(cols :+
        posexplode(array(widths.indices.map(blockVal): _*)): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bhash")
    def flips(w: Int): Seq[Long] =
      Seq(0L) ++
        (if (radius >= 1) (0 until w).map(b => 1L << b) else Nil) ++
        (if (radius >= 2)
          for { x <- 0 until w; y <- x + 1 until w }
            yield (1L << x) | (1L << y)
        else Nil)
    val masks: Seq[(Int, Long)] = widths.zipWithIndex.flatMap {
      case (w, i) => flips(w).map(m => (i, m))
    }
    val keyExpr = (1 until widths.size - 1)
      .foldLeft(when(col("band") === 0, blockVal(0))) {
        (acc, i) => acc.when(col("band") === i, blockVal(i))
      }
      .otherwise(blockVal(widths.size - 1))
      .bitwiseXOR(col("m"))
    val variants = fp.select(cols :+ explode(typedlit(masks)).as("bm"): _*)
      .select(cols ++ Seq(
        coalesce(col("bm._1"), lit(0)).as("band"),
        coalesce(col("bm._2"), lit(0L)).as("m")): _*)
      .select(cols ++ Seq(col("band"), keyExpr.as("bhash")): _*)
    candidates(exact, Some(variants), carry = "fp" +: carry,
        hotDflt = hotDflt)
      .filter(col("a") < col("b"))
  }
}
