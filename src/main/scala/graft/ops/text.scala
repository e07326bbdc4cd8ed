package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Text / LLM-data-pipeline operators over the `documents` table
  * (SURVEY.md §2.3 north-star rows: dedup_*, text_*).
  *
  * The reference's only text machinery is "pipe lines through a user
  * script" (`Worker/worker.py:72-101`); these are the operators a
  * training-data pipeline actually runs at 100 TB — dedup, tokenization,
  * TF-IDF, language ID, quality scoring, fingerprinting — each expressed
  * as a declarative DataFrame program built purely from codegen'd
  * built-ins (split / explode / higher-order array functions). No UDFs:
  * every lambda below is a Catalyst `LambdaFunction`, so the whole pipeline
  * stays inside whole-stage codegen and is oracle-checkable in DuckDB.
  * (One deliberate exception: `text_heavy_hitters`' candidate pass is a
  * typed `mapPartitions` — the Misra-Gries state machine is genuine
  * per-partition imperative logic with no declarative form; its exact
  * verify pass is declarative and the final result stays oracle-gated.)
  *
  * Scale notes (100 TB posture):
  *  - `dedup_exact` groups on a 256-bit content hash — the shuffle key is
  *    32 bytes regardless of document size, and min/count partial-aggregate
  *    map-side, so the shuffle carries one row per distinct hash per
  *    partition, not the corpus.
  *  - `dedup_near_minhash` NEVER forms all pairs: candidates come from a
  *    self-join on (band, band-hash) buckets — O(collisions), not O(n²) —
  *    then only candidates pay the exact-Jaccard verification. Hot
  *    buckets are salted into triangular block-pairs
  *    ([[Blocking.candidates]], SURVEY.md §7.5 item 1) so one
  *    boilerplate mega-bucket cannot serialize O(bucket²) work into a
  *    single task, and the set/signature relation is persisted so it
  *    computes once, not per join branch.
  *  - `text_tokens_topn` is explode → partial-agg count → TakeOrdered:
  *    the classic word-count; the shuffle carries (token, partial count).
  *  - `text_tfidf` joins token counts to doc frequencies — both sides are
  *    aggregates, orders of magnitude smaller than the corpus.
  */
object Text {
  type Q = (SparkSession, String) => DataFrame

  /** Documents tokenized on single spaces (the corpus convention —
    * `documents.text` is space-separated tokens, FIXTURES.md §B).
    */
  private def toks: Column = split(col("text"), " ")

  /** Documents with the token array MATERIALIZED as its own column. Every
    * multi-reference consumer must read tokens through this projection:
    * higher-order functions are interpreted (CodegenFallback), so a
    * `split(text)` subtree referenced inside a lambda re-splits the string
    * once per element — O(tokens²) per row. As a materialized attribute
    * the split runs once per row and lambda references are array reads
    * (CollapseProject keeps the boundary: it never duplicates non-cheap
    * expressions into multiple consumers).
    */
  private[graft] def tokenizedDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d).withColumn("t", toks)

  /** 32-bit uniform draw from the md5 prefix of `key` — the acceptance
    * gate shared by the deterministic samplers. md5 (unlike xxhash64) is
    * computable in DuckDB (`CAST(('0x' || substr(md5(k),1,8)) AS
    * BIGINT)`), so every sampler built on this gate is fully
    * oracle-replayable while keeping the properties that matter at
    * 100 TB: the draw is a pure function of the ROW KEY — layout-
    * invariant, rerun-stable, and nestable across rates.
    */
  private[graft] def md5u32(key: Column): Column =
    conv(substring(md5(key), 1, 8), 16, 10).cast("long")

  /** Winnowed (MOSS) fingerprint stream for docs carrying a token array
    * `t`: (doc_id, fp) with per-doc-distinct w=4 window minima over the
    * token 3-gram polynomial hash (131-base, same ascii·131+len atoms as
    * `text_fingerprint`). Guarantee: any shared span of ≥ k+w−1 = 6
    * tokens selects at least one identical fingerprint in both docs —
    * the law TextSpec drives over synthetic two-doc corpora. Stepwise
    * column materialization is load-bearing (see [[tokenizedDocs]]):
    * each stage references the PREVIOUS materialized column so lambda
    * references are array reads, never re-derivations. The ≥ 6-token
    * filter also guards `sequence(1, n)`, which is DESCENDING for n < 1.
    */
  private[graft] def winnowedFingerprints(docs: DataFrame): DataFrame =
    docs.filter(size(col("t")) >= 6)
      .withColumn("a", transform(col("t"),
        tk => (ascii(tk) * 131 + length(tk)).cast("long")))
      .withColumn("h", transform(sequence(lit(1), size(col("a")) - 2),
        i => (element_at(col("a"), i) * 17161L
          + element_at(col("a"), i + 1) * 131L
          + element_at(col("a"), i + 2)) % 1000000007L))
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("h")) - 3),
          j => array_min(slice(col("h"), j, lit(4)))))).as("fp"))

  /** JVM-lifetime memo of trained BPE rule tables, keyed by corpus dir.
    * Both `text_bpe_merges` and `text_bpe_encode` need the same 8-round
    * training run; un-memoized, each bench/verify invocation retrained
    * from scratch (2.4 s + 4.8 s at sf0.1, 22.9 s encode at sf1 — the
    * r10 verdict's item 6). The table is 8 driver-side rows — the
    * vocabulary-sized state the training loop already reduces to — and
    * training is a deterministic pure function of the corpus (id-prefix
    * ties, exact counts), so memoizing by dir is semantics-free as long
    * as the corpus at `d` is immutable for the life of the JVM (true for
    * every harness: testdata is read-only, test fixtures get fresh
    * scratch dirs). Unlike the relation caches this deliberately
    * SURVIVES [[graft.InternalCaches.unpersistAll]] — the whole point is
    * amortizing across harness queries, and 8 tuples hold no executor
    * memory. A caller that rewrites a corpus dir in place invalidates
    * with [[clearBpeMemo]].
    */
  private val bpeMemo = scala.collection.mutable
    .Map.empty[String, Seq[(Int, String, String, Long)]]

  private[graft] def clearBpeMemo(): Unit =
    bpeMemo.synchronized { bpeMemo.clear() }

  private def bpeTrain(s: SparkSession, d: String)
      : Seq[(Int, String, String, Long)] = {
    bpeMemo.synchronized(bpeMemo.get(d)) match {
      case Some(rules) => rules
      case None =>
        // trained OUTSIDE the lock: a concurrent duplicate train is
        // deterministic-idempotent, while holding the lock through the
        // 8 Spark rounds would serialize unrelated-corpus callers
        val rules = bpeTrainUncached(s, d)
        bpeMemo.synchronized(bpeMemo.update(d, rules))
        rules
    }
  }

  /** The distributed BPE training loop shared by `text_bpe_merges`
    * (emits the rules) and `text_bpe_encode` (applies them): corpus
    * reduces ONCE to the weighted distinct-word vocabulary, then k=8
    * rounds of pair-count → argmax (ties (n desc, a, b)) → greedy
    * left-to-right in-word merge. One 1-row collect per round — the
    * pagerank-class control-plane read. Returns (rank, left, right, n).
    */
  private def bpeTrainUncached(s: SparkSession, d: String)
      : Seq[(Int, String, String, Long)] = {
    val k = 8
    var seqs = graft.InternalCaches.cut(
      tokenizedDocs(s, d)
        .select(explode(col("t")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .select(col("freq"), split(col("w"), "").as("seq")))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < k && !exhausted) {
      val top = seqs.filter(size(col("seq")) >= 2)
        .select(col("freq"),
          explode(transform(sequence(lit(0), size(col("seq")) - 2),
            i => struct(element_at(col("seq"), i + 1).as("a"),
              element_at(col("seq"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a"), col("p.b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(desc("n"), col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        rank += 1
        merges += ((rank, a, b, n))
        if (rank < k) seqs = graft.InternalCaches.cut(
          seqs.select(col("freq"),
            aggregate(col("seq"), array().cast("array<string>"),
              (acc, x) =>
                when(size(acc) === 0, concat(acc, array(x)))
                  .when(element_at(acc, -1) === lit(a) && x === lit(b),
                    concat(slice(acc, lit(1), size(acc) - 1),
                      array(lit(a + b))))
                  .otherwise(concat(acc, array(x)))).as("seq")))
      }
    }
    merges.toSeq
  }

  /** documents + a `canon` column: the messy synthetic URL (case/www./
    * tracking/fragment variance from doc_id residues; path collides on
    * doc_id % 40 so canonical groups are real multi-doc groups) pushed
    * through the canonicalizer — scheme/host case-fold, `www.` strip,
    * fragment drop, `utm_*`/`ref` param removal, empty-query and
    * trailing-slash collapse. The regexp chain is RE2-safe (no
    * lookarounds) so the DuckDB oracle replays it verbatim (with the
    * explicit 'g' flag ≡ Spark's replace-all default). Map-only.
    * Shared by `dedup_url` (crawl dedup) and `sample_split_leakproof`
    * (group-atomic split assignment).
    */
  private def canonUrlDocs(s: SparkSession, d: String): DataFrame = {
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("https")).otherwise(lit("HTTP")),
      lit("://"),
      when(col("doc_id") % 5 === 0, lit("WWW.")).otherwise(lit("")),
      lit("Docs.Example.COM/doc/"), (col("doc_id") % 40).cast("string"),
      when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
      lit("?utm_source=u"), col("doc_id").cast("string"),
      lit("&v="), (col("doc_id") % 2).cast("string"),
      when(col("doc_id") % 6 === 0,
        concat(lit("&ref=r"), (col("doc_id") % 7).cast("string")))
        .otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit("#sec"), (col("doc_id") % 2).cast("string")))
        .otherwise(lit("")))
    val noFrag = regexp_replace(url, "#.*", "")
    val hostRaw = regexp_extract(noFrag, "^[A-Za-z]+://[^/]+", 0)
    val host = regexp_replace(lower(hostRaw), "://www\\.", "://")
    val rest = expr("substring(no_frag, length(host_raw) + 1)")
    val clean = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(rest, "(utm_[a-z]+|ref)=[^&]*", ""),
          "&+", "&"),
        "\\?&", "?"),
      "[?&]+$", "")
    val canon = regexp_replace(
      regexp_replace(concat(host, clean), "/\\?", "?"), "/$", "")
    documents(s, d)
      .withColumn("no_frag", noFrag)
      .withColumn("host_raw", hostRaw)
      .withColumn("canon", canon)
      .drop("no_frag", "host_raw")
  }

  /** One partition's Misra-Gries pass for `text_heavy_hitters`: at most
    * `cap` surviving (token, 0) candidate rows plus a ("", partitionRows)
    * sentinel carrying the partition's token total. Retention guarantee
    * (law-tested in TextSpec): any token occurring more than
    * N_p/(cap+1) times in the partition survives — an occurrence count
    * can only be cancelled by cap+1-way decrement rounds, each consuming
    * one stream element per surviving counter. Amortized O(1) per input
    * element: each decrement pays down exactly one earlier increment.
    */
  /** The full exact-at-sketch-cost heavy-hitter pipeline over a 1-column
    * stream relation: per-partition Misra-Gries candidate summaries
    * (bounded cap·partitions rows leave the executors), then an exact
    * broadcast-semi recount of candidates only, n·k > total cut. MG's
    * no-false-negative guarantee (any item with n > N/k survives some
    * partition summary at cap ≥ k) makes the output EXACTLY the true
    * heavy hitters. Shared by `text_heavy_hitters` (token stream) and
    * `stream_heavy_hitters` (event-type stream) — one copy of the
    * pigeonhole reasoning to maintain (review finding r7).
    */
  private[ops] def mgHeavyHitters(stream: DataFrame, keyCol: String,
      k: Int, cap: Int): DataFrame = {
    val s = stream.sparkSession
    import s.implicits._
    val keyed = stream.select(col(keyCol))
    // eager: cands and total read this relation from two branches of
    // the final plan; an unpopulated entry would run the sketch twice.
    val sketch = graft.InternalCaches.persistTracked(
      keyed.as[String].mapPartitions(mgSketch(cap))
        .toDF(keyCol, "part_rows"), eager = true)
    val cands = sketch.filter(col(keyCol) =!= "").select(keyCol).distinct()
    val total = sketch.agg(sum(col("part_rows")).as("total"))
    keyed.join(broadcast(cands), Seq(keyCol))
      .groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * k > col("total"))
      .select(col(keyCol), col("n"))
      .orderBy(col("n").desc, col(keyCol))
  }

  private[graft] def mgSketch(cap: Int)(
      it: Iterator[String]): Iterator[(String, Long)] = {
    var seen = 0L
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    it.foreach { t =>
      seen += 1
      counts.get(t) match {
        case Some(c) => counts.update(t, c + 1)
        case None if counts.size < cap => counts.update(t, 1L)
        case None => // MG decrement step; the newcomer is not kept
          counts.mapValuesInPlace((_, c) => c - 1)
          counts.filterInPlace((_, c) => c > 0)
      }
    }
    counts.keysIterator.map(t => (t, 0L)) ++ Iterator(("", seen))
  }

  /** Word 3-gram shingle set (distinct) over a materialized token array.
    *
    * Documents with fewer than 3 tokens have NO 3-gram shingles, and the
    * guard must be explicit: the offset arithmetic would otherwise read
    * `element_at(t, i+2)`/`(i+3)` past the array end — a runtime
    * INVALID_ARRAY_INDEX under ANSI mode (Spark 4 default, never disabled
    * here). The DuckDB oracle reaches the same empty set for short docs
    * (out-of-range list index → NULL shingle → dropped by list_distinct),
    * so both engines agree on `[]`.
    *
    * NULLABILITY MATTERS HERE: everything derived from the shingles feeds
    * the banded self-join, and a nullable join key demotes the broadcast
    * HashedRelation probe to its slow path (measured 5× on the 25M-pair
    * simhash candidate join). `text` is nullable in the parquet schema, so
    * both branches must erase nullability explicitly: the sequence bound
    * goes through `greatest(·, 0)` (Greatest is non-nullable when any
    * child is non-nullable — the `when` guard already excludes the < 3
    * case, the `greatest` exists only for the static type), and the empty
    * branch is a literal, not `array().cast(...)` (a Cast from NullType is
    * force-nullable). That declarative form is ExprSpec's parity
    * reference; this expression builds the same set in one codegen'd
    * pass instead of an interpreted lambda per element.
    */
  private[graft] def shingleCol(t: Column): Column =
    coalesce(graft.expr.TextSetExprs.wordShingles(t, 3),
      typedLit(Array.empty[String]))

  /** Character n-gram set (distinct) over the raw text — the
    * tokenization-free near-dup signal ("n-gram Jaccard"): robust to
    * whitespace/token drift that word shingles are blind to. Same guard
    * and nullability discipline as [[shingleCol]]; `substr` clamps at the
    * string end so only the empty-set branch needs the explicit guard.
    */
  private[graft] def charGramCol(c: Column, n: Int): Column =
    coalesce(graft.expr.TextSetExprs.charGrams(c, n),
      typedLit(Array.empty[String]))

  private val MinhashK = 128 // signature length
  private val Bands    = 16  // LSH bands ...
  private val Rows     = 8   // ... of 8 rows: P(miss | jac=0.97) ≈ 3e-11

  /** All 128 byte-quantized minhash positions packed into 16 longs —
    * the 128 B/doc payload the packed coarse prune carries through the
    * band join (vs the 1 KB full signature that
    * [[Blocking.candidates]] warns against carrying; an 8× cut). ALL
    * positions, deliberately: every candidate row exists because SOME band's 8 positions agree, and with the
    * full signature packed that conditioning is a uniform +8 on every
    * row's byte count — [[packedCut]] subtracts it exactly, leaving
    * 120 unconditioned positions of clean Jaccard evidence. (A 64-
    * position half-pack was built first and measured useless on the
    * organic fixture: collisions from bands inside the half got +8 of
    * 64 conditioned positions — est inflation (1−J)/8 — and organic
    * noise at J ≈ 0.47 passed its cut at ~20 %.) Computed once on the
    * persisted signature relation.
    */
  private def packedSigCol(sig: Column): Column =
    array((0 until 16).map { w =>
      (0 until 8).map(b =>
        shiftleft(get(sig, lit(w * 8 + b)).bitwiseAND(lit(0xFFL)), 8 * b))
        .reduce(_.bitwiseOR(_))
    }: _*)

  /** The packed prune's byte-count cut for `threshold`: every
    * candidate row has its agreeing band's 8 positions equal by
    * construction (a uniform +8 — all 16 bands live inside the
    * 128-position pack), so the cut scores the 120 UNCONDITIONED
    * positions, which estimate Jaccard with σ_t = sqrt(t(1−t)/120);
    * the cut sits [[PackedSigma]] = 4.5 σ BELOW the threshold, so a
    * true pair AT the threshold clears it with P ≈ 1 − 3e-6
    * (normal approx; planted fixture pairs sit ≥ 0.13 above, ≥ 10σ) —
    * the same "lossless in practice" contract class as the
    * 128-position estimate margin. Byte truncation inflates the
    * estimate by +(1−J)/256, which only helps recall. Measured
    * separation on the organic fixture (J ≈ 0.47 noise tail, t = 0.8):
    * noise mean 64.7 bytes vs cut 85 — 3.7σ, pass ≈ 1e-4.
    */
  private def packedCut(threshold: Double): Int =
    8 + math.ceil(120.0 * (threshold - PackedSigma *
      math.sqrt(threshold * (1 - threshold) / 120.0))).toInt

  private val PackedSigma = 4.5

  /** Engagement floor for the packed prune: below this threshold the
    * cut (threshold − 4.5σ) sits at or under the band-conditioned
    * noise floor — a band collision fixes 8 of the 64 packed positions
    * equal, inflating a noise pair's expected score by (1−J)/8 — so
    * the filter would pay its 64 B/doc band-shuffle carry for ~no
    * kill. At 0.5 (the word-shingle keys, whose organic-corpus noise
    * mass MEASURES near zero — BASELINE.md r14 organic ladder) the
    * prune stays out and those plans are byte-identical to r13; at 0.8
    * (char 4-grams, whose organic-density candidate mass measured
    * 1.36e-3 of ALL pairs — the r14 organic sf10 disk death) the cut
    * clears the conditioned noise floor by ≥ 3.5σ and kills the mass
    * in-stage.
    */
  private val PackedPruneMinThreshold = 0.7

  /** Banded MinHash-LSH near-dup pairs over a (doc_id, s: array<string>)
    * relation — the one LSH pipeline both set representations (word
    * 3-gram shingles, char 4-grams) run through:
    * fused-codegen signature → `Bands` hashed band keys → salted bucket
    * self-join candidates (O(collisions), never all-pairs) → exact
    * Jaccard verification at `threshold`. Candidate recall at the
    * threshold is the (1/Bands)^(1/Rows) s-curve — thresholds are chosen
    * per representation so every true pair sits far above the knee.
    *
    * The (doc_id, s, sig) relation is persisted MEMORY_AND_DISK: the set
    * transform (O(len) interpreted HOF per row) and the 128-permutation
    * signature dominate the cost, and the plan reads the relation from
    * FOUR branches (x/y band sides, both verification joins) — uncached
    * that compute ran 3-5×, the top two lines of the round-3/4 bench.
    * The cache entry lives until [[graft.InternalCaches.unpersistAll]]
    * (the returned plan is lazy, so there is no post-action unpersist
    * point inside the operator — a repeat caller invokes the hook between
    * jobs; Bench/Verify do, between queries). At production scale
    * MEMORY_AND_DISK degrades to a disk-backed materialization — the same
    * shape as a checkpoint before a reused subtree.
    */
  private def lshJaccardPairs(sets: DataFrame, threshold: Double,
                              hotDflt: Int): DataFrame = {
    val packed = threshold >= PackedPruneMinThreshold
    // the persisted relation is IDENTICAL with the prune on or off; pk
    // derives DOWNSTREAM of the cache boundary, deliberately — derived
    // inside the cached projection, CollapseProject substituted the
    // 128-hash signature expression into each of packedSigCol's 128
    // get() references (a 128× per-row signature recompute, jstack-
    // caught at 629 s/task on the organic sf10 probe); against the
    // cached attribute the gets are array reads
    val sig = graft.InternalCaches.persistTracked(
      sets.select(col("doc_id"), col("s"),
        graft.expr.MinHashExprs.minhashSignature(col("s"), MinhashK).as("sig")))
    val bands =
      if (!packed) bandKeys(sig)
      else bandKeys(sig.withColumn("pk", packedSigCol(col("sig"))),
        keep = Seq("pk"))
    // Signature-estimate prefilter: band collisions overshoot badly on a
    // real corpus (measured 29,665 candidates for 25 true pairs at sf0.1 —
    // boilerplate-heavy buckets), and every candidate would otherwise pay
    // the exact set intersect AND a shuffle of both full gram arrays. The
    // MinHash estimate (fraction of equal signature positions, E[est] =
    // jaccard) costs 128 long-compares per pair over the already-cached
    // signatures; only est-survivors join the big set arrays for the
    // exact verify. The margin keeps the filter lossless in practice:
    // sd(est) = sqrt(t(1-t)/128) ≤ 0.045, so the 0.15 [[EstMargin]] is
    // a > 3σ allowance — a true pair AT the threshold clears it with
    // P ≈ 1 − 1e-4, and every fixture/planted pair sits ≥ 0.13 above
    // threshold where the miss probability vanishes (< 1e-15).
    //
    // PACKED COARSE PRUNE (r14, high-threshold representations only —
    // see PackedPruneMinThreshold): at organic gram density the
    // estimate prefilter is too LATE — it runs after the candidate
    // stream's distinct shuffle and attaches a 1 KB signature per
    // survivor candidate, and the char-gram banding admits 1.36e-3 of
    // ALL pairs on an organic corpus (measured: 1.7e8 candidates at
    // organic sf10; the est join-back intermediates outran the probe
    // box's disk). The packed 64-position estimate rides the band join
    // as a 64 B carry and cuts IN-STAGE on the join output — before the
    // distinct, before any exchange — at threshold − 4.5σ₆₄
    // (packedCut), so the noise mass dies where the simhash pipeline's
    // hamming cut does. The 128-position margin filter stays as the
    // precision backstop on the survivors.
    val cand =
      if (!packed) Blocking.candidates(bands, hotDflt = hotDflt).distinct()
      else {
        val cut = packedCut(threshold)
        Blocking.candidates(bands, carry = Seq("pk"), hotDflt = hotDflt)
          .filter(graft.expr.MinHashExprs.packedEqBytes(
            col("pk_a"), col("pk_b")) >= cut)
          .select(col("a"), col("b"))
          .distinct()
      }
    estimateAndVerify(cand, sig, sig, threshold)
  }

  /** Slack between the Jaccard threshold and the signature-estimate
    * prefilter's cut: > 3σ of the 128-position estimate at any threshold.
    */
  private val EstMargin = 0.15

  /** Shared tail of both LSH pipelines: the signature-estimate prefilter
    * followed by the exact-Jaccard verify.
    * `aSig`/`bSig` are the persisted (doc_id, s, sig) relations the `a`
    * and `b` candidate columns refer to — the SAME relation for the
    * self-join ([[lshJaccardPairs]]), the batch/index pair for the
    * ingest probe ([[lshProbePairs]]). One implementation so the
    * estimate formula, the margin semantics, and the union identity can
    * never silently diverge between the two pipelines.
    *
    * |A∪B| = |A|+|B|−|A∩B|: the union NEVER materializes — array_union
    * would allocate an |A|+|B| array per candidate just to take its size
    * (the sets are already distinct, so the identity is exact).
    * NO presentation sort here: a consumer that doesn't need the order
    * (clustering, the cleaning pipeline) must not pay the range
    * exchange — whose partitioner SAMPLING pass would execute the whole
    * post-signature candidate pipeline a second time. The public queries
    * add their own orderBy.
    */
  private def estimateAndVerify(cand: DataFrame, aSig: DataFrame,
                                bSig: DataFrame,
                                threshold: Double): DataFrame = {
    val estOk = cand
      // signature join-backs: both sides corpus-sized (candidates ×
      // 1-row/doc 128-long signatures), so the joins must stay
      // SHUFFLEs — but a SORT-merge would sort the huge candidate
      // stream (measured 8× on sim_ann_lsh sf1), so the pin is
      // shuffle_HASH, and BOTH join-backs build the SIGNATURE side
      // (the hint rides the side the join must BUILD; a hint inside a
      // join's subtree does not mark the enclosing join). The sig
      // side, laid out at the ADAPTIVE docParts width, is a bounded
      // ~35 MB/partition at 5 M docs and reuses the cache's
      // hash(doc_id) partitioning with no extra exchange — while a
      // HashedRelation build has NO spill path, so NOTHING that
      // scales with the CANDIDATE stream may ever be a build side.
      // The r13 first cut hinted the candidate side of both
      // join-backs on a "16 B/row narrow" argument; the sf100 probe
      // killed it twice over: the second join's left is (a, b, ga) —
      // the candidate stream with a 1 KB signature attached ("Can't
      // acquire 134217728 bytes to build hash relation"), and even
      // the first join's bare pairs are candidate-mass-sized, which
      // for char-gram banding is ~7.5e8 rows at 5 M docs (within-copy
      // 4-gram Jaccards run ~0.5, and 16×8 bands pass 16·J⁸ ≈ 6 % of
      // such pairs — a heap-OOM'd LongToUnsafeRowMap at 16 g). The
      // estimate FILTER is where that mass is allowed to die; builds
      // must stay corpus-bounded.
      .join(aSig.select(col("doc_id").as("a"), col("sig").as("ga"))
        .hint("shuffle_hash"), "a")
      .join(bSig.select(col("doc_id").as("b"), col("sig").as("gb"))
        .hint("shuffle_hash"), "b")
      .withColumn("est",
        aggregate(zip_with(col("ga"), col("gb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / MinhashK)
      .filter(col("est") >= threshold - EstMargin)
      .select(col("a"), col("b"))
    // exact-verify join-backs: the BUILD side flips to the est-survivor
    // stream (r13). Building on the (doc_id, s) set relation — the r12
    // shape — is a measured capacity wall: shingle sets are ~KBs/row, so
    // a per-partition HashedRelation build costs (n/P)·KB with NO spill
    // path, and P here is pinned by the upstream repartition(doc_id)
    // cache layout (the co-partitioned join reuses it, so shuffle-
    // partition sizing can't shrink the build). dedup_clusters at sf30
    // died exactly there: 1.5 M docs / 32 partitions × ~4 KB ≈ 190 MB
    // builds × 32 concurrent tasks, "Can't acquire … to build hash
    // relation". The survivors are OUTPUT-SIZED by the prefilter's own
    // design (that is what the estimate stage is FOR), so they are the
    // side a bounded build wants — including the SECOND join-back, whose
    // build carries sa (survivors × KB-row sets ≈ output × KB, still
    // orders under the corpus-sized set relation at any dedup
    // threshold).
    estOk.hint("shuffle_hash")
      .join(aSig.select(col("doc_id").as("a"), col("s").as("sa")), "a")
      .hint("shuffle_hash")
      .join(bSig.select(col("doc_id").as("b"), col("s").as("sb")), "b")
      .withColumn("ni", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jac",
        round(col("ni").cast("double")
          / (size(col("sa")) + size(col("sb")) - col("ni")), 4))
      .filter(col("jac") >= threshold)
      .select(col("a"), col("b"), col("jac"))
  }

  /** Band keys (doc_id, band, bhash) off a persisted signature relation —
    * shared by the self-join ([[lshJaccardPairs]], 16×8) and the
    * cross-relation ingest probe ([[lshProbePairs]], 32×4). `bands`×`rows`
    * must tile the 128-minimum signature.
    */
  private[graft] def bandKeys(sig: DataFrame, bands: Int = Bands,
                              rows: Int = Rows,
                              keep: Seq[String] = Nil): DataFrame =
    // band j hashes (j, sig[j·rows] … sig[j·rows + rows − 1]) with
    // xxhash64, one literal-indexed `get` per position: a `transform`
    // lambda or a slice() runs interpreted per doc and boxes the band,
    // while this array of plain expressions is whole-stage codegen'd.
    // The hashed values are the bucket ids of stored indexes, so the
    // argument list must not change (DedupLawSpec pins it). `keep` columns
    // ride along per posting row; keep them small.
    sig.select(col("doc_id") +: keep.map(col) :+
        posexplode(array((0 until bands).map(j => xxhash64(
          (lit(j) +: (0 until rows).map(k =>
            get(col("sig"), lit(j * rows + k)))): _*)): _*)): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bhash")

  /** Cross-relation LSH probe: near-dup pairs (batch doc `a`, index doc
    * `b`) between a NEW ingest batch and the standing corpus index — the
    * incremental twin of [[lshJaccardPairs]]. Same signature → band →
    * estimate-prefilter → exact-Jaccard pipeline, but candidates come
    * from an equi-join of batch band keys AGAINST index band keys:
    * O(cross-collisions), never |batch|×|index|, and at real scale the
    * index band keys are a precomputed artifact the nightly batch probes.
    * Hot index buckets (boilerplate bands) are salted join-style — the
    * index row keeps ONE hash-assigned block, the batch row replicates
    * across all blocks — so every (batch, index) collision still meets in
    * exactly one (band, bhash, blk) bucket (recall unchanged) while the
    * widest bucket shrinks by the block factor. Both side relations
    * persist: each feeds its band branch, the estimate prefilter, and the
    * exact verify.
    *
    * Banding is 32×4 (vs the self-join's 16×8) over the same 128-minimum
    * signature: an ingest probe is recall-critical — a near-dup the
    * nightly batch misses joins the index FOREVER — and the extra band
    * rows cost O(|batch| + |index|) keys, not extra signature compute.
    * At the 0.5 threshold the 16×8 s-curve misses a true jac≈0.73 pair
    * ~27% of the time; 32×4 takes that to ~3·10⁻⁵ (and ~13% at exactly
    * 0.5 — pairs AT the threshold remain statistical, as in the
    * self-join pipeline).
    */
  private def lshProbePairs(index: DataFrame, batch: DataFrame,
                            threshold: Double,
                            hotDflt: Int): DataFrame = {
    def sigOf(sets: DataFrame) = graft.InternalCaches.persistTracked(
      sets.select(col("doc_id"), col("s"),
        graft.expr.MinHashExprs.minhashSignature(col("s"), MinhashK)
          .as("sig")))
    val isig = sigOf(index)
    val bsig = sigOf(batch)
    val cand = Blocking.candidates(bandKeys(isig, bands = 32, rows = 4),
        Some(bandKeys(bsig, bands = 32, rows = 4)), hotDflt = hotDflt)
      .distinct()
    estimateAndVerify(cand, bsig, isig, threshold)
  }

  /** Word-shingle MinHash-LSH near-dup pairs, UNSORTED — the shared
    * building block: `dedup_near_minhash` adds the presentation sort;
    * `dedup_clusters` / `pipeline_clean_corpus` consume the pairs
    * order-free.
    */
  private def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val p = docParts(s, d)
    val sh = tokenizedDocs(s, d)
      .repartition(p, col("doc_id"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), shingleCol(col("t")).as("s"))
    lshJaccardPairs(sh, 0.5, Blocking.adaptiveHotWidth(s, d))
  }

  /** Round cap of [[labelRounds]]. Pointer jumping needs about
    * log2(diameter) rounds, so 50 never binds on a real component.
    */
  private val CcMaxRounds = 50

  /** Largest edge relation [[componentLabels]] labels on the driver:
    * 2^17 directed edges, 65,536 pairs. It is a fixed count, not a
    * session setting, because what it bounds is driver heap: the
    * collected edges as primitive arrays (8 B per end), the union-find's
    * int arrays, and one `(id, lbl, n)` row per vertex. At the cap, on
    * 65,536 disjoint pairs (131,072 vertices, the most the cap allows),
    * the building thread allocated about 80 MB and the labels kept about
    * 55 MB live once a join had broadcast them (4-core box, local mode).
    */
  private val DriverCcMaxEdges = 1L << 17

  /** Connected components of an undirected `(a, b)` pair relation as
    * `(id, lbl, n)`: every vertex with an edge, the least id of its
    * component, and the component's size.
    *
    * Both orientations of each pair persist as one `(src, dst)` edge
    * relation, and the materializing count picks the path. Up to
    * [[DriverCcMaxEdges]] edges are collected and labelled by a
    * union-find on the driver, and come back as a local relation: two
    * jobs and a handful of generated classes, where the rounds run a
    * seed, a probe and a job per round, each with its own classes,
    * enough of them to overflow Spark's codegen cache and recompile on
    * every call. Measured verified pairs: 25 at sf0.01 and 256 at sf0.1
    * (5,000 docs); 8 and 47 on the benchmark's 2- and 12-copy fixtures
    * at seed 7. Larger graphs run [[labelRounds]] over the same cached
    * edges, which only need to fit the cluster.
    */
  private[graft] def componentLabels(pairs: DataFrame): DataFrame = {
    val (edges, m) = graft.InternalCaches.persistTrackedCounted(
      pairs.select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
    if (m <= DriverCcMaxEdges) driverLabels(edges) else labelRounds(edges)
  }

  /** [[componentLabels]] on the driver: the edges come back as primitive
    * arrays, vertices are indexed by sorted id, and each union links the
    * larger root index under the smaller, so a root is its component's
    * least id.
    */
  private def driverLabels(edges: DataFrame): DataFrame = {
    val ends = edges.rdd.mapPartitions { it =>
      val b = Array.newBuilder[Long]
      it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator.single(b.result())
    }.collect().flatten
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    var n = 0
    ids.indices.foreach { i =>
      if (i == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
    }
    val parent = Array.range(0, n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val up = parent(c); parent(c) = r; c = up }
      r
    }
    (0 until ends.length by 2).foreach { i =>
      val ra = find(java.util.Arrays.binarySearch(ids, 0, n, ends(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, n, ends(i + 1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val root = Array.tabulate(n)(find)
    val size = new Array[Long](n)
    root.foreach(r => size(r) += 1)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](n)
    (0 until n).foreach(v =>
      rows.add(org.apache.spark.sql.Row(ids(v), ids(root(v)), size(root(v)))))
    edges.sparkSession.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq("id", "lbl", "n").map(
        org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Connected components of a symmetric `(src, dst)` edge relation as
    * `(id, lbl, n)`, in Spark rounds: [[componentLabels]]' path for
    * graphs over [[DriverCcMaxEdges]].
    *
    * Min-label propagation with pointer jumping: a round sets each label
    * to min(own, neighbours' labels, label-of-label). A label is always
    * a reachable id, so the jump is sound, and it halves the remaining
    * path lengths, so rounds grow with log(diameter), not diameter. The
    * seed fuses the first propagation step (min(id, min neighbour)).
    *
    * A probe, the seed's first reader, counts the edges whose far end
    * holds the smaller label. When there are none, labels are
    * equal across every edge, each component carries its least id, and
    * no round could lower a label, so the round is skipped. Disjoint
    * near-dup pairs, the common case, converge that way. The driver
    * reads one scalar per round, and not converging within
    * [[CcMaxRounds]] is an error: partial labels would be silently wrong
    * clusters.
    */
  private[graft] def labelRounds(edges: DataFrame): DataFrame = {
    // lazy: the probe is the first reader, and AQE materializes the seed
    // once for both of its branches (persistTracked)
    var labels: DataFrame = graft.InternalCaches.persistTracked(
      edges.groupBy(col("src").as("id"))
        .agg(least(first(col("src")), min(col("dst"))).as("lbl")))
    val open = {
      val bySrc = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst"), col("lbl").as("src_lbl"))
      bySrc.join(labels, bySrc("dst") === labels("id"))
        .filter(col("lbl") < col("src_lbl")).count()
    }
    var converged = open == 0
    var rounds = 0
    while (!converged && rounds < CcMaxRounds) {
      val nm = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("lbl")).as("nbr_lbl"))
      val jump = labels.select(col("lbl").as("j_id"), col("id").as("via"))
        .join(labels.withColumnRenamed("lbl", "j_lbl")
          .withColumnRenamed("id", "j_id2"),
          col("j_id") === col("j_id2"))
        .select(col("via").as("id"), col("j_lbl"))
      // The new label carries its changed flag (labels only decrease), so
      // convergence needs no comparison join.
      val next = graft.InternalCaches.cut(
        labels.join(nm, labels("id") === nm("src"), "left")
          .join(jump, Seq("id"), "left")
          .select(col("id"),
            least(col("lbl"),
              least(coalesce(col("nbr_lbl"), col("lbl")),
                coalesce(col("j_lbl"), col("lbl")))).as("new_lbl"),
            col("lbl"))
          .select(col("id"), col("new_lbl").as("lbl"),
            (col("new_lbl") < col("lbl")).as("chg")))
      val changed = next.filter(col("chg")).count()
      labels = next.select(col("id"), col("lbl"))
      converged = changed == 0
      rounds += 1
    }
    require(converged,
      s"connected components: labels not converged after CcMaxRounds = " +
        s"$CcMaxRounds rounds — partial labels would be silently wrong " +
        "clusters")
    // size via a window over lbl: one shuffle, where a groupBy-then-
    // join-back would shuffle the same relation twice
    labels.withColumn("n", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("lbl"))))
  }

  /** Cache partition count for the KB-per-row LSH relations (shingle /
    * char-gram sets + 128-long signatures): ~4 MB of source
    * documents.parquet per partition. The cached columnar form inflates
    * the parquet ~15–20× (observed ≥ 260 MB unroll chunks per partition
    * at sf100's 592 MB source over 32 partitions), so 4 MB of source ≈
    * 60–90 MB chunks — the size at which 32 concurrent cache writers
    * leave the execution pool breathable instead of zeroing it (the
    * fourth wall, BASELINE.md r13: unroll memory is unevictable while a
    * chunk is being built, and 32 × ~300 MB chunks starved every
    * same-stage execution ask at 5 M docs / 16 g). Under ~128 MB of
    * source the count floors at defaultParallelism — every committed
    * sf ≤ 10 layout, plan, and bench map is unchanged.
    */
  private def docParts(s: SparkSession, d: String): Int =
    graft.InternalCaches.adaptiveParts(s, s"$d/documents.parquet", 4L << 20)

  /** English stopword probe set for the language-ID heuristic. */
  private val EnStop = Seq("the", "a", "of", "and", "to", "in", "is", "on",
    "for", "with")

  /** THE language-ID decision rule (stopword-hit ratio ≥ 0.02 → "en") —
    * one definition shared by `text_langid` and its evaluation
    * `text_langid_eval`, so the confusion matrix always measures the
    * classifier that actually runs (the two oracle SQL strings mirror
    * this rule and are cross-checked by both keys' gates).
    */
  private def langidPred(enHits: Column, nTok: Column): Column =
    when(enHits.cast("double") / nTok >= 0.02, "en").otherwise("und")

  val queries: Map[String, Q] = Map(
    // Exact dedup on content hash, keep-first (minimum doc_id). The input
    // corpus is documents ∪ a deterministic "re-crawl" of every 10th doc
    // (re-tagged +10000) so the operator demonstrably drops real
    // duplicates — the raw table is duplicate-free by construction.
    "dedup_exact" -> ((s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("text"))
      val recrawl = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      base.unionByName(recrawl)
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy("keep_id")
    }),

    // SOFT dedup — the keep-everything alternative to dedup_exact's
    // keep-one: every duplicate survives but carries sampling weight
    // 1/|copies of this content|, so a weighted sampler sees each
    // distinct CONTENT with total mass exactly 1 (the up-weighting-free
    // fix for crawl frequency bias; Σ weights = #distinct texts, the
    // conservation law TextSpec pins). Same recrawl overlay as
    // dedup_exact so the weights are provably non-trivial. Scale shape:
    // ONE exchange — the copy count is a window over the content hash
    // (group-sized partitions), no groupBy+rejoin second shuffle. The
    // coalesce('') is load-bearing on both sides: a NULL text hashes to
    // NULL and a NULL partition key would silently segregate.
    "sample_soft_dedup" -> ((s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("text"))
      val recrawl = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(sha2(coalesce(col("text"), lit("")), 256))
      base.unionByName(recrawl)
        .withColumn("n_copies", count(lit(1)).over(w))
        .select(col("doc_id"), col("n_copies"),
          round(lit(1.0) / col("n_copies"), 6).as("weight"))
        .orderBy("doc_id")
    }),

    // INCREMENTAL dedup: a new crawl batch against the standing corpus
    // index — the daily-ingest shape of dedup_exact. The index side is
    // reduced to an 8-byte content fingerprint per distinct document
    // (xxhash64, column-pruned scan: the 100 TB of text never moves), and
    // the batch anti-joins on that fingerprint — the shuffle carries
    // (fp, doc_id) pairs, never document bodies. 64-bit collisions drop a
    // novel doc with P ≈ n²/2⁶⁵ (vanishing at any corpus size that fits a
    // fingerprint index); a paranoid pipeline re-verifies survivors'
    // dropped twins by text equality, which the fixtures don't need.
    // The raw corpus has no cross-batch duplicates, so the batch is
    // synthesized to make the dedup observable both ways: every 7th doc
    // re-crawled verbatim (must drop) + every 7th+1 doc with a novel tail
    // (must keep). Null-text rows are excluded from both sides up front —
    // a null fingerprint would equi-join as a value in Spark but compare
    // as UNKNOWN in the SQL oracle's NOT EXISTS.
    "dedup_incremental" -> ((s, d) => {
      val base = documents(s, d).filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      val recrawl = base.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 20000).as("doc_id"), col("text"))
      val fresh = base.filter(col("doc_id") % 7 === 1)
        .select((col("doc_id") + 30000).as("doc_id"),
          concat(col("text"), lit(" zz novel tail")).as("text"))
      val indexFp = base.select(xxhash64(col("text")).as("fp")).distinct()
      recrawl.unionByName(fresh)
        .select(col("doc_id"), length(col("text")).as("n_chars"),
          xxhash64(col("text")).as("fp"))
        .join(indexFp, Seq("fp"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Near-dup pairs via MinHash + banded LSH, verified with exact Jaccard.
    // Signature: 128 permutation minima over the shingle set (fused
    // codegen expression); bands of 8 rows hashed to bucket keys;
    // candidate pairs = bucket self-join; each candidate pays one exact
    // Jaccard check (≥ 0.5).
    // The oracle is brute-force all-pairs Jaccard — green iff LSH has no
    // false negatives at the threshold (planted pairs sit at ≥ 0.97).
    // Rebalance before the CPU-dense signature compute (128 hash passes
    // over every shingle set): a one-split input would otherwise pin the
    // whole minhash stage to a single task; the partition count is
    // explicit — AQE coalesces size-based shuffles of a small byte
    // footprint back to one task, exactly wrong for compute-bound stages.
    // Shingle-less docs (< 3 tokens) are excluded up front: they can't be
    // near-dups under set Jaccard (0/0 is NaN, which Spark sorts ABOVE any
    // threshold — a correctness trap, not just waste), and at scale every
    // such doc would land in one identical-signature mega-bucket. The
    // predicate is the cheap token-count proxy (≥3 tokens ⟺ ≥1 shingle)
    // and sits BELOW the shingle projection: a filter on size(shingles)
    // would be pushed down with the whole shingle expression substituted
    // into it, computing every shingle set twice (measured 3×). All in
    // [[minhashPairs]]; the query adds only the presentation sort.
    "dedup_near_minhash" -> ((s, d) => minhashPairs(s, d).orderBy("a", "b")),

    // Near-dup pairs via character 4-gram Jaccard — the brief's "n-gram
    // Jaccard" dedup method: the set representation is raw-text character
    // windows, so it catches rewraps/retokenizations that word shingles
    // miss. Same banded-LSH pipeline; threshold 0.8 (planted pairs sit at
    // ≥ 0.93 in char-gram space, the next pair at 0.45 — and LSH recall at
    // 0.93 with 16×8 bands is 1 - 2.5e-6). Oracle = brute-force char-gram
    // Jaccard.
    "dedup_ngram_jaccard" -> ((s, d) => {
      val p = docParts(s, d) // char-gram sets: same KB/row cache class
      val g = documents(s, d)
        .repartition(p, col("doc_id"))
        .filter(length(col("text")) >= 4) // cheap proxy: ≥4 chars ⟺ ≥1 gram
        .select(col("doc_id"), charGramCol(col("text"), 4).as("s"))
      lshJaccardPairs(g, 0.8, Blocking.adaptiveHotWidth(s, d))
        .orderBy("a", "b")
    }),

    // SimHash near-dup: one 64-bit fingerprint per document (codegen'd
    // single pass over the shingle set), candidate pairs from the
    // Hamming index matched to the threshold dial
    // ([[Blocking.hammingBlockPairs]]: the C(6,2) pair-block index at the
    // production dial, the 5-block ≤2-bit variant enumeration above it),
    // exact hamming verification via bit_count(xor). The r10 plan change
    // from exact 4-bit banding: 16-bucket bands passed ~every random pair
    // somewhere (12.7M raw collisions at sf0.1, 1.3 G at sf1 — the
    // engine's last quadratic candidate stream); the block-key indexes
    // cut candidates for a
    // LINEAR per-doc posting cost, OUTPUT IDENTICAL per dial by
    // pigeonhole completeness, which is why the planted-pair and
    // determinism laws carry over unchanged.
    // The (doc_id, fp) relation is persisted (16 bytes/doc) so the
    // shingle+fingerprint pass runs once, not once per posting branch.
    // FULL oracle gate since r14: the per-shingle hash is the md5-u64
    // prefix (expr/Md5U64 — DuckDB computes the identical word from
    // substr(md5(s),1,16)), so the oracle replays the whole pipeline
    // — shingles, votes, packed sign, brute-force hamming ≤ maxDist —
    // and the key graduates from six rounds of rows-only to
    // rows+schema+hash. TextSpec additionally asserts it equals brute
    // force at both dials and SaltLawSpec sweeps the index geometry.
    "dedup_simhash" -> ((s, d) => {
      val p = s.sparkContext.defaultParallelism
      // same shingle-less exclusion as dedup_near_minhash (cheap
      // token-count proxy, below the shingle projection): every < 3-token
      // doc would otherwise fingerprint to the identical all-zero simhash
      // and form one mega-bucket of spurious hamming-0 pairs
      val fp = graft.InternalCaches.persistTracked(tokenizedDocs(s, d)
        .repartition(p, col("doc_id"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"),
          graft.expr.SimHashExprs.simhash64(shingleCol(col("t"))).as("fp")))
      // threshold dial: the DEFAULT is 4 since r13 — Manku et al.'s
      // crawl regime (k ≤ 3) rounded to the pair-block index's
      // completeness bound, and the dial whose candidate stream stays
      // output-dominated through the measured sf10 decade (exponent
      // 0.94; BASELINE.md r12). The r7–r12 default of 12 remains
      // available (≤ 14 by the 5-block helper's completeness bound) as
      // the LOOSE demonstrator — at 12 of 64 bits the THRESHOLD admits
      // Θ(n²) pairs on a uniform corpus (sf10 solo 491 s, OOMs an 8 g
      // driver), so no blocking can save it: the shipped default must
      // be the plan you'd run at 100×. Driver-gate derivation: at
      // sf0.01 the planted near-dup pairs within hamming ≤ 4 number 14
      // (measured r13; 25 at the loose dial) — a pinned positive
      // rows-only check at any fixture with planted clones.
      Blocking.hammingBlockPairs(fp,
        maxDist = graft.Dials.SimhashMaxDist(s),
        hotDflt = Blocking.adaptiveHotWidth(s, d))
        .orderBy("a", "b")
    }),

    // Canonical word-count: global top-50 tokens with deterministic
    // (count DESC, token) cut. Plans explode → partial+final HashAggregate
    // → TakeOrderedAndProject.
    "text_tokens_topn" -> ((s, d) =>
      documents(s, d)
        .select(explode(toks).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)),

    // Heavy hitters with EXACT counts at sketch cost: tokens whose global
    // frequency exceeds total/k, k = 100. text_tokens_topn's plain groupBy
    // shuffles one row per distinct token per partition — fine here, but
    // at 100 TB the distinct-token space is billions of keys and the final
    // aggregate holds all of them. This is the two-pass sketch answer:
    //   pass 1 — per-partition Misra-Gries summaries (capacity 400 ≥ k),
    //     the one place in this module that is deliberately imperative
    //     per-partition logic (mapPartitions' sanctioned case: the sketch
    //     state machine has no declarative form). MG guarantees any token
    //     with partition count > N_p/(cap+1) survives its summary, and a
    //     global heavy hitter (n > N/k) must exceed N_p/k in SOME
    //     partition, so the union of summaries is a candidate SUPERSET —
    //     at most cap·partitions rows ever leave the executors. Each
    //     partition's row total rides along in a sentinel row, so the
    //     sketch pass also yields N without a third scan.
    //   pass 2 — exact counts for candidates only: the token stream semi-
    //     joins the broadcast candidate set before the groupBy, so the
    //     final aggregate's key space is the candidate list, not the
    //     vocabulary. Output = exactly the true heavy hitters with exact
    //     counts — deterministic, hash-comparable, sketch error paid only
    //     in candidate-list slack.
    "text_heavy_hitters" -> ((s, d) =>
      mgHeavyHitters(
        documents(s, d)
          .select(explode(toks).as("token"))
          .filter(length(col("token")) > 0),
        "token", k = 100, cap = 400)),

    // SEQUENCE PACKING for pretraining batches: documents pack in doc_id
    // order into fixed token-budget sequences (budget 2048); a doc's
    // sequence is floor(startOffset / budget), startOffset = the global
    // running token total before it. The hard part at 100 TB is the
    // GLOBAL cumulative sum: a bare `sum over (order by doc_id)` window
    // has an empty partition spec, which Spark executes as ONE task
    // holding the whole corpus. This is the two-phase scan instead:
    // range-partition by doc_id, then (1) per-partition running sums —
    // parallel windows keyed by spark_partition_id — and (2) per-
    // partition totals prefix-summed into start offsets, a partition-
    // count-sized relation broadcast back. The partitioned relation is
    // persisted EAGERLY: both phases must read the SAME materialized
    // partition assignment (range boundaries come from sampling and
    // spark_partition_id is declared nondeterministic — independent
    // recomputes could disagree). The final assignment is boundary-
    // invariant — localCum + offset is the global cumsum under ANY
    // partitioning — which the single-window oracle checks.
    "text_pack_sequences" -> ((s, d) => {
      val budget = 2048
      val W = org.apache.spark.sql.expressions.Window
      val counted = documents(s, d)
        .select(col("doc_id"),
          size(filter(toks, t => length(t) > 0)).as("n_tok"))
      val part = TwoPass.rangedByPid(counted, col("doc_id"))
      val localCum = part.withColumn("local_cum",
        sum(col("n_tok")).over(
          W.partitionBy(col("pid")).orderBy(col("doc_id"))
            .rowsBetween(W.unboundedPreceding, W.currentRow)))
      val offsets = TwoPass.sumOffsets(part, col("n_tok"))
      localCum.join(broadcast(offsets), Seq("pid"))
        .select(col("doc_id"), col("n_tok"),
          floor((col("local_cum") + col("offset") - col("n_tok"))
            / lit(budget.toDouble)).cast("long").as("seq_id"))
        .orderBy("doc_id")
    }),

    // Per-(doc, token) TF-IDF. N comes from a broadcast single-row
    // aggregate (no driver-side .count() action in the operator path).
    "text_tfidf" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"), explode(toks).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("token"))
        .agg(count(lit(1)).as("dfr"))
      val n = documents(s, d)
        .agg(countDistinct(col("doc_id")).cast("double").as("n_docs"))
      tf.join(dfreq, "token")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("token"), col("tf"),
          round(col("tf") * log(col("n_docs") / col("dfr")), 4).as("tfidf"))
        .orderBy("doc_id", "token")
    }),

    // Language slice + per-language length stats over the typed lang tag.
    "text_lang_filter" -> ((s, d) =>
      documents(s, d)
        .filter(col("lang").isin("en", "es"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          sum(col("n_chars")).as("tot_chars"))
        .orderBy("lang")),

    // Language-ID heuristic: English stopword hit-ratio over the token
    // stream (the n-gram-free fallback classifier a cleaning pipeline runs
    // before model-based langid).
    "text_langid" -> ((s, d) => {
      val t = col("t")
      tokenizedDocs(s, d)
        .select(col("doc_id"), size(t).as("n_tok"),
          size(filter(t, tk => tk.isInCollection(EnStop))).as("en_hits"))
        .withColumn("stop_ratio",
          round(col("en_hits").cast("double") / col("n_tok"), 4))
        .withColumn("pred_lang", langidPred(col("en_hits"), col("n_tok")))
        .select(col("doc_id"), col("n_tok"), col("en_hits"),
          col("stop_ratio"), col("pred_lang"))
        .orderBy("doc_id")
    }),

    // Classifier EVALUATION against gold labels — the confusion matrix
    // every heuristic filter needs before it gates a corpus: the
    // language-ID prediction (same rule as text_langid) crossed with the
    // gold `lang` column, as cells (gold, pred, n) plus the
    // row-normalized fraction (the diagonal rows are per-class recall).
    // One map-side-combined pass produces the label-cardinality-sized
    // cell relation; the gold totals ride a broadcast join.
    "text_langid_eval" -> ((s, d) => {
      val t = col("t")
      val pred = langidPred(
        size(filter(t, tk => tk.isInCollection(EnStop))), size(t))
      val cm = graft.InternalCaches.persistTracked(
        tokenizedDocs(s, d)
          .select(col("lang").as("gold"), pred.as("pred"))
          .groupBy(col("gold"), col("pred"))
          .agg(count(lit(1)).as("n")))
      val g = cm.groupBy(col("gold")).agg(sum(col("n")).as("gold_total"))
      cm.join(broadcast(g), "gold")
        .select(col("gold"), col("pred"), col("n"), col("gold_total"),
          // floor-truncated, not round(): n/gold_total is a ratio of
          // small exact integers — the class that lands on decimal
          // half-boundaries where the engines' rounding modes disagree
          (floor(col("n").cast("double") / col("gold_total") * 1e4) / 1e4)
            .as("frac"))
        .orderBy("gold", "pred")
    }),

    // Quality scoring: token count, type/token ratio, and a bounded
    // composite score — the filter signal for corpus cleaning.
    "text_quality" -> ((s, d) => {
      val t = col("t")
      tokenizedDocs(s, d)
        .select(col("doc_id"), size(t).as("n_tok"),
          size(array_distinct(t)).as("n_uniq"))
        .withColumn("uniq_ratio",
          round(col("n_uniq").cast("double") / col("n_tok"), 4))
        .withColumn("score",
          round(least(col("n_tok").cast("double") / 80.0, lit(1.0)) * 0.5
            + (col("n_uniq").cast("double") / col("n_tok")) * 0.5, 4))
        .orderBy("doc_id")
    }),

    // Token counting both ways a data pipeline does it: whitespace split
    // and a BPE-ish regex ([a-z]+ | digit runs) — the cheap budget
    // estimator run before real tokenization. Regex kept to a dialect
    // both engines (Java regex / RE2) parse identically.
    "text_token_count" -> ((s, d) =>
      tokenizedDocs(s, d)
        .select(col("doc_id"),
          size(col("t")).as("n_ws"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0)))
            .as("n_re"),
          round(col("n_chars").cast("double")
            / size(col("t")), 4).as("chars_per_tok"))
        .orderBy("doc_id")),

    // Context-window CHUNKING: slice each document's token stream into
    // overlapping windows (width 64, stride 48 → 16-token overlap) tagged
    // (doc_id, chunk_id, n_tok, text) — how long documents become
    // training/retrieval units under a fixed context budget. Pure per-row
    // explode: no shuffle at all until the presentation sort, and chunk
    // count is ⌈tokens/stride⌉ per doc, so output scales with corpus
    // token count regardless of document-length skew. Final-window
    // semantics: windows START at every stride offset < n (the last ones
    // may be short) — the stride grid, not a drop-last policy.
    "text_chunk_windows" -> ((s, d) => {
      val width = 64
      val stride = 48
      val nz = filter(toks, t => length(t) > 0)
      documents(s, d)
        .select(col("doc_id"), nz.as("tk"))
        .select(col("doc_id"),
          posexplode(sequence(lit(0), greatest(size(col("tk")) - 1, lit(0)),
            lit(stride))).as(Seq("chunk_id", "start")),
          col("tk"))
        .select(col("doc_id"), col("chunk_id"),
          slice(col("tk"), col("start") + 1, lit(width)).as("w"))
        .select(col("doc_id"), col("chunk_id"),
          size(col("w")).as("n_tok"),
          array_join(col("w"), " ").as("chunk"))
        .orderBy("doc_id", "chunk_id")
    }),

    // End-to-end corpus cleaning (near-dup drop → quality gate →
    // per-language stats) — see [[cleanCorpus]] for the full story.
    "pipeline_clean_corpus" -> ((s, d) => cleanCorpus(s, d)),

    // Stopword stripping — the cleaning transform between langid and
    // tokenization in a corpus pipeline. The filtered array is
    // materialized ONCE in its own projection (two consumers below —
    // rejoined text and removal count — would otherwise each evaluate the
    // interpreted filter lambda).
    "text_stopword_strip" -> ((s, d) =>
      tokenizedDocs(s, d)
        .withColumn("kept", filter(col("t"), tk => !tk.isInCollection(EnStop)))
        .select(col("doc_id"),
          array_join(col("kept"), " ").as("clean_text"),
          (size(col("t")) - size(col("kept"))).as("n_removed"))
        .orderBy("doc_id")),

    // Deterministic content-hash sampling: keep a doc iff
    // md5u32("hs:" + doc_id) mod 100 < 10. Unlike Dataset.sample (whose
    // draw depends on partition layout), the decision is a pure function
    // of the KEY — the same 10% sample comes back on any cluster size,
    // any partitioning, any rerun: the reproducibility a 100 TB pipeline
    // needs to version its subsets. The md5 gate replays verbatim in the
    // oracle (full hash-compare), plus proportion/determinism laws in
    // TextSpec.
    "sample_hash" -> ((s, d) =>
      documents(s, d)
        .filter(pmod(md5u32(concat(lit("hs:"), col("doc_id").cast("string"))),
          lit(100L)) < 10)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")),

    // Stratified deterministic sample: per-LANGUAGE rates over the same
    // layout-invariant md5 gate as sample_hash — downsample the
    // head language (en, 10%), keep more of the tail (40%): the
    // rebalancing pass a multilingual training mix runs. Dataset.sampleBy
    // has the per-stratum rate contract but not the reproducibility one
    // (its draw depends on seed + partition layout). Because the gate is
    // the SAME hash on the same key, samples at different rates nest:
    // the 10% en-subset is a strict subset of any higher-rate rerun —
    // versioned-subset lineage for free. Oracle-replayed md5 gate +
    // rate/determinism/nesting laws in TextSpec.
    "sample_stratified" -> ((s, d) =>
      documents(s, d)
        .withColumn("rate",
          when(col("lang") === "en", lit(10)).otherwise(lit(40)))
        .filter(pmod(md5u32(concat(lit("hs:"), col("doc_id").cast("string"))),
          lit(100L)) < col("rate"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // Domain-concentration GINI — one number for "how skewed is the
    // mixture": the Gini coefficient over per-source token counts via
    // the sorted-rank identity G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n.
    // The corpus reduces to the per-source aggregate first; the sort and
    // rank run over the domain-cardinality-sized relation (the window is
    // post-aggregation — never over the corpus). Integer token counts ⇒
    // exact sums ⇒ deterministic across engines.
    "agg_gini" -> ((s, d) => {
      val perSrc = tokenizedDocs(s, d)
        .select(col("source"),
          size(filter(col("t"), x => length(x) > 0)).cast("long")
            .as("n_tok"))
        .groupBy(col("source")).agg(sum(col("n_tok")).as("x"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("x"), col("source"))
      perSrc
        .select(col("x"), row_number().over(w).as("i"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("i") * col("x")).as("six"))
        .select(
          round(lit(2.0) * col("six") / (col("n") * col("sx"))
            - (col("n") + 1).cast("double") / col("n"), 6).as("gini"),
          col("n").as("n_domains"))
    }),

    // Adjacent-token PMI — the co-occurrence statistic behind vocab
    // induction and embedding sanity checks: for every ordered adjacent
    // bigram with support ≥ 10, pmi = ln(p(a,b)/(p(a)·p(b))), ranked.
    // Shuffle shape: bigram and unigram counts are both map-side-combined
    // aggregates on token keys (the corpus stream reduces to
    // vocabulary-sized relations before any join); the two totals ride
    // broadcast single-row joins; the unigram joins are vocabulary-sized;
    // final ranking is TakeOrdered over the support-filtered bigrams.
    // PMI is computed as ONE identical expression both engines, rounded
    // to 6 — log of a ratio of exact counts, so cross-engine doubles
    // agree to the last ulp.
    "text_pmi" -> ((s, d) => {
      val tf = tokenizedDocs(s, d)
        .withColumn("tf", filter(col("t"), x => length(x) > 0))
      // sequence(1, size-1) is DESCENDING for 1-token docs — the size
      // guard is load-bearing
      val bigrams = graft.InternalCaches.persistTracked(
        tf.filter(size(col("tf")) >= 2)
          .select(explode(transform(sequence(lit(1), size(col("tf")) - 1),
            i => struct(element_at(col("tf"), i).as("a"),
              element_at(col("tf"), i + 1).as("b")))).as("p"))
          .groupBy(col("p.a"), col("p.b")).agg(count(lit(1)).as("n_ab")))
      val uni = graft.InternalCaches.persistTracked(
        tf.select(explode(col("tf")).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("n")))
      val nTot = uni.agg(sum(col("n")).as("nn"))
      val mTot = bigrams.agg(sum(col("n_ab")).as("mm"))
      bigrams.filter(col("n_ab") >= 10)
        .join(uni.select(col("token").as("a"), col("n").as("na")), "a")
        .join(uni.select(col("token").as("b"), col("n").as("nb")), "b")
        .join(broadcast(mTot)).join(broadcast(nTot))
        .select(col("a"), col("b"), col("n_ab"),
          (round(log((col("n_ab").cast("double") / col("mm"))
            / ((col("na").cast("double") / col("nn"))
              * (col("nb").cast("double") / col("nn")))), 6) + lit(0.0))
            .as("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b")).limit(20)
    }),

    // BPE MERGE TRAINING — the tokenizer-training step of a data
    // pipeline, run distributed: start from character symbols per
    // distinct word (weighted by corpus frequency — the corpus-sized
    // stream reduces to the distinct-word relation ONCE, and every
    // iteration after that works on vocabulary-sized data), then k
    // times: count adjacent symbol pairs, adopt the most frequent as a
    // merge rule (ties broken lexicographically), and apply it greedily
    // left-to-right in every word — the standard sequential BPE
    // semantics, exactly (TextSpec pins equality against a plain-Scala
    // reference run). Each iteration is one aggregate job over the
    // cached vocabulary plus a map-only merge; the argmax is the only
    // driver round-trip (one row per iteration, the pagerank-class
    // shape). The greedy in-word merge is an aggregate fold whose CASE
    // branches keep ANSI element_at off the empty array.
    // Oracle-gated (r7): [[bpeReplaySql]] unrolls the 8 argmax+rewrite
    // rounds in DuckDB — the greedy fold IS string replace() on a
    // delimiter-wrapped form; row-identical to this output at the gate.
    "text_bpe_merges" -> ((s, d) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("left", StringType, nullable = false),
        StructField("right", StringType, nullable = false),
        StructField("n", LongType, nullable = false)))
      s.createDataFrame(
        java.util.Arrays.asList(bpeTrain(s, d).map {
          case (r, a, b, n) => Row(r, a, b, n) }: _*),
        schema).orderBy("rank")
    }),

    // BPE APPLICATION — the other half of tokenizer training: encode
    // every document with the 8 learned merge rules and report the
    // compression (symbols before = characters, symbols after = merged
    // units). The per-word greedy merge is executed AS the string-
    // replace form directly (each word delimiter-wrapped ␟c₁␟␟c₂␟…,
    // then one replace(␟a␟␟b␟ → ␟ab␟) per rule in rank order — same
    // left-to-right non-overlap semantics as the training fold, and the
    // exact form the oracle replays). The 8 rules are driver literals
    // (one scalar collect each during training, pagerank-class); the
    // encode runs once per DISTINCT word and joins back by occurrence
    // count — see the dictionary-encode note below.
    "text_bpe_encode" -> ((s, d) => {
      val sep = ""
      val rules = bpeTrain(s, d)
      val wrapped = (w: Column) =>
        concat(lit(sep), array_join(split(w, ""), sep + sep), lit(sep))
      // one replace per rule in rank order — Java Matcher.replaceAll has
      // the same left-to-right non-overlap + resume-after-replacement
      // semantics as the training fold and the oracle's replace()
      val encodeOne = (w: Column) => rules.foldLeft(wrapped(w)) {
        case (acc, (_, a, b, _)) =>
          regexp_replace(acc,
            java.util.regex.Pattern.quote(sep + a + sep + sep + b + sep),
            java.util.regex.Matcher.quoteReplacement(sep + a + b + sep))
      }
      // merging never changes the letter count, only the separator
      // count: len(encoded) = letters + 2·symbols ⇒ symbols =
      // (len(encoded) − len(w)) / 2.
      //
      // DICTIONARY ENCODE (r13 session 2): the 8-regex fold runs once
      // per DISTINCT word, not once per word occurrence — the corpus
      // reduces to a (doc_id, word, count) relation with map-side
      // partial combine, the fold runs on the vocabulary-sized distinct-
      // word relation, and a join-back re-weights by occurrence count.
      // Word frequencies are Zipf: occurrences/vocabulary is ~150× on
      // the bench fixture (sf10: 75 M occurrences / 3 k words — the
      // per-occurrence form measured 183 s solo, regex-bound) and
      // grows with corpus under Heaps' law, so at 100 TB this is the
      // difference between 8 regex passes over the corpus and 8 regex
      // passes over the dictionary. The vocabulary relation is
      // corpus-derived (it GROWS, however slowly), so the join-back is
      // pinned shuffle_hash with the 1-row/word encode side as build —
      // never a driver broadcast (the repo's broadcast-cliff rule).
      // explode_outer keeps zero-word docs (empty or null text) as a
      // null-word row so their (0, 0, 0) output rows survive; the null
      // word never matches the dictionary and the null-guarded sums
      // keep those docs at zero. Output row-for-row identical to the
      // per-occurrence form (TextSpec pins both against each other).
      val occ = tokenizedDocs(s, d)
        .select(col("doc_id"),
          explode_outer(filter(col("t"), w => length(w) > 0)).as("w"))
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("c"))
      val dict = occ.filter(col("w").isNotNull)
        .select(col("w")).distinct()
        .select(col("w").as("dw"),
          ((length(encodeOne(col("w"))) - length(col("w"))) / 2)
            .cast("long").as("sym_after"))
      occ.join(dict.hint("shuffle_hash"),
          occ("w") === dict("dw"), "left")
        .groupBy(col("doc_id"))
        .agg(
          sum(when(col("w").isNull, 0L).otherwise(col("c")))
            .cast("long").as("n_words"),
          sum(when(col("w").isNull, 0L)
            .otherwise(col("c") * length(col("w")).cast("long")))
            .cast("long").as("n_sym_before"),
          sum(when(col("w").isNull, 0L)
            .otherwise(col("c") * col("sym_after")))
            .cast("long").as("n_sym_after"))
        .orderBy("doc_id")
    }),

    // WEIGHTED deterministic sampling: each doc kept with probability
    // proportional to a quality proxy (token count, capped at 1.0 by 60
    // tokens) — the "sample good documents harder" knob a mixture
    // pipeline turns, with the reproducibility Dataset.sample lacks: the
    // acceptance draw is md5u32("ws:" + doc_id) mapped to [0,1), so the
    // decision is a pure function of the doc id — layout-invariant,
    // re-runnable, and MONOTONE in the weight (shrinking every weight
    // yields a strict subset, the nesting law a curriculum re-sample
    // needs; TextSpec pins determinism, the realized rate, and nesting).
    // A NULL text gets weight 0, not a free pass: least() SKIPS nulls,
    // so without the coalesce a null token array would collapse the
    // weight to the 1.0 literal and keep the emptiest document with
    // certainty — the inverse of quality-proportional. The md5 gate
    // replays verbatim in the oracle (full hash-compare).
    "sample_weighted" -> ((s, d) => {
      val w = least(lit(1.0),
        coalesce(size(col("t")).cast("double"), lit(0.0)) / 60.0)
      val u = md5u32(concat(lit("ws:"), col("doc_id").cast("string")))
        .cast("double") / math.pow(2.0, 32)
      tokenizedDocs(s, d)
        .filter(u < w)
        .select(col("doc_id"), round(w, 6).as("w"))
        .orderBy("doc_id")
    }),

    // TEMPERATURE-FLATTENED language mix — the multilingual rebalancing
    // knob (sample languages ∝ n^α, α = 0.7): per-language keep rate
    // r_l = (n_l / n_min)^(α-1) ≤ 1, so the smallest language keeps
    // everything and the head language is downsampled toward the
    // flattened share. The acceptance draw is an md5 gate (first 8 hex
    // chars → uint32 / 2³²) on (lang, doc_id) — unlike the xxhash64
    // samplers above, md5 is REPLAYABLE in the oracle, so this sampler
    // is hash-gated AND fully driver-checked: deterministic,
    // layout-invariant, and a pure function of the row (re-runnable on
    // any cluster). Scale shape: the rate relation is |langs| rows
    // riding a broadcast join; the corpus maps through one filter —
    // no shuffle beyond the final |langs|-row aggregate.
    "sample_temperature" -> ((s, d) => {
      // α = 0.7 ⇒ exponent α−1 written as the LITERAL -0.3 so the
      // Scala and DuckDB sides parse the identical double (0.7 - 1.0
      // differs from parsed -0.3 in the last ulp, and the unrounded
      // rate feeds the acceptance gate).
      val counts = documents(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"))
      val nmin = counts.agg(min(col("n_docs")).as("n_min"))
      val rates = counts.join(broadcast(nmin))
        .withColumn("rate",
          pow(col("n_docs").cast("double") / col("n_min"), -0.3))
      val draw = conv(substring(
          md5(concat(col("lang"), lit(":"), col("doc_id").cast("string"))),
          1, 8), 16, 10).cast("long").cast("double") / math.pow(2.0, 32)
      documents(s, d).select(col("doc_id"), col("lang"))
        .join(broadcast(rates), "lang")
        .withColumn("kept", (draw < col("rate")).cast("int"))
        .groupBy(col("lang"))
        .agg(first(col("n_docs")).as("n_docs"),
          round(first(col("rate")), 6).as("rate"),
          sum(col("kept")).as("n_kept"))
        .orderBy("lang")
    }),

    // Deterministic per-stratum RESERVOIR — "k uniform docs per
    // language", the versioned eval-subset draw: rank docs inside each
    // language by the md5 draw (a uniform permutation that is a pure
    // function of the key — reservoir sampling's distribution without
    // its scan-order dependence) and keep the first k=20; doc_id
    // tiebreak makes the rank total. Scale shape: one per-language
    // window — the heaviest language bounds the task; when k ≪ group
    // size the skew-proof alternative is the bounded top-k aggregator
    // (the win_topk_per_group pattern). Fully oracle-replayed.
    "sample_reservoir" -> ((s, d) => {
      val u = md5u32(concat(lit("rs:"), col("doc_id").cast("string")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(u.asc, col("doc_id").asc)
      documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20)
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy("lang", "rk")
    }),

    // DATA-MIXTURE EPOCH FACTORS — the repeat-factor table a mixture
    // sampler consumes: for a uniform-over-languages target mix,
    // epochs_l = n_max / n_l (each subset repeated until it matches the
    // head language — "equalize by oversampling", the Pile-style
    // up-weighting), alongside the natural share the corpus has today.
    // Exact integer ratios into one rounded double each ⇒ cross-engine
    // deterministic. Scale shape: one map-side-combined groupBy to
    // language cardinality, a broadcast single-row totals join — the
    // corpus is never shuffled wide.
    "pipeline_mix_epochs" -> ((s, d) => {
      val counts = documents(s, d)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      val tot = counts.agg(sum(col("n_docs")).as("n_tot"),
        max(col("n_docs")).as("n_max"))
      counts.join(broadcast(tot))
        .select(col("lang"), col("n_docs"),
          round(col("n_docs").cast("double") / col("n_tot"), 6)
            .as("natural_share"),
          round(col("n_max").cast("double") / col("n_docs"), 6)
            .as("epochs"))
        .orderBy("lang")
    }),

    // URL-CANONICALIZATION dedup — the crawl-frontier/WARC dedup step
    // that runs BEFORE any content hash: scheme/host case-folded,
    // `www.` stripped, fragment dropped, tracking params (utm_*, ref)
    // removed, empty query/trailing-slash artifacts collapsed; docs
    // agreeing on the canonical form are one page. The messy URL is
    // synthesized deterministically per doc (case/www./utm/ref/fragment
    // variance from doc_id residues; the path collides on doc_id % 40 ×
    // v = doc_id % 2, so canonical groups are real multi-doc groups).
    // The canonicalizer is a pure regexp chain — RE2-safe (no
    // lookarounds), so the oracle replays it verbatim. Scale shape: one
    // map-only projection then a hash groupBy on the canonical string —
    // the exact-dedup regime.
    "dedup_url" -> ((s, d) =>
      canonUrlDocs(s, d)
        .groupBy(col("canon"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))
        .orderBy("canon")),

    // GROUP-ATOMIC train/val/test split — the leakage guard a training
    // pipeline needs at assignment time: the split unit is the
    // canonical-URL group (the `dedup_url` canonicalizer), NOT the doc,
    // so trivial near-dups of one page can never straddle train and
    // test. Assignment = md5(canon) 32-bit prefix → [0,1): < 0.8 train,
    // < 0.9 val, else test — exhaustive and disjoint by construction
    // (one CASE), deterministic, layout-invariant, and oracle-
    // replayable. Scale shape: the canonicalizer is map-only; the
    // per-(split) rollup groups on a 3-value key; group-atomicity needs
    // NO extra shuffle because the gate is a pure function of canon.
    "sample_split_leakproof" -> ((s, d) => {
      val u = conv(substring(md5(col("canon")), 1, 8), 16, 10)
        .cast("long").cast("double") / math.pow(2.0, 32)
      canonUrlDocs(s, d)
        .withColumn("split",
          when(u < 0.8, lit("train"))
            .when(u < 0.9, lit("val"))
            .otherwise(lit("test")))
        .groupBy(col("split"))
        .agg(countDistinct(col("canon")).as("n_groups"),
          count(lit(1)).as("n_docs"))
        .orderBy("split")
    }),

    // Document fingerprint: order-sensitive polynomial rolling hash over
    // the token stream (seed 7, base 31, mod 1e9+7); token atom =
    // ascii(first char)*131 + length. Pure integer arithmetic — identical
    // in any engine — and a left fold, so token ORDER matters (unlike the
    // shingle-set ops). The cheap O(n) near-dup prefilter.
    "text_fingerprint" -> ((s, d) =>
      tokenizedDocs(s, d)
        .select(col("doc_id"),
          aggregate(
            transform(col("t"), tk => (ascii(tk) * 131 + length(tk)).cast("long")),
            lit(7L),
            (acc, x) => (acc * 31 + x) % 1000000007L).as("fp"))
        .orderBy("doc_id")),

    // WINNOWING fingerprints (the MOSS scheme): per doc, hash every
    // token 3-gram (polynomial over the same ascii·131+len atoms as
    // text_fingerprint), slide a w=4 window over the hash stream, keep
    // each window's MINIMUM — the classic guarantee that any shared
    // span of ≥ k+w−1 tokens yields at least one IDENTICAL selected
    // fingerprint in both docs, at ~1/w the storage of full shingling.
    // Cross-doc matches (≥ 2 shared fingerprints) are the memorization/
    // plagiarism audit exact containment misses on partial overlaps.
    // Scale shape: the sketch is MAP-ONLY per doc (no shuffle until
    // fingerprints are vocabulary-sized); the pair join runs on
    // posting lists capped at 50 docs (ubiquitous "stop fingerprints"
    // are dropped — the winnowing analog of stopword removal), so pair
    // fan-out is bounded at C(50,2) per fingerprint, never quadratic in
    // the corpus. Fully oracle-replayed (same atoms, same windows).
    "text_winnowing" -> ((s, d) => {
      val fps = graft.InternalCaches.persistTracked(
        winnowedFingerprints(tokenizedDocs(s, d)))
      fps.groupBy(col("fp"))
        .agg(array_sort(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")).between(2, 50))
        .select(explode(flatten(transform(col("ids"), a =>
          transform(filter(col("ids"), b => b > a),
            b => struct(a.as("a"), b.as("b")))))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .orderBy("a", "b")
    }),

    // CROSS-corpus line-level exact dedup (the C4/RefinedWeb cleaning
    // step document-level dedup misses: boilerplate lines recurring
    // across otherwise-distinct documents). "Lines" here are fixed
    // 10-token chunks — the fixture corpus is a single-line token stream,
    // so the chunker stands in for a newline split; the operator shape is
    // identical for either splitter. Keep-first: the occurrence with the
    // lowest (doc_id, pos) survives per distinct line; output is per-doc
    // line counts before/after. The input is documents ∪ a partial
    // re-crawl of every 10th doc (first 20 tokens intact + a fresh tail),
    // so cross-doc duplicate lines exist observably — and the corpus's
    // own short tail chunks collide naturally, exactly like real
    // boilerplate.
    //
    // Scale shape: ONE shuffle keyed on the line itself (bounded at
    // chunk-width tokens — no unbounded key), window row_number over
    // (doc_id, pos) within each line group — a total order, so keep-first
    // is deterministic on any cluster — then a per-doc re-aggregation.
    // At 100 TB the line groups are tiny (a global mega-line is exactly
    // the boilerplate being removed; its group still streams through one
    // sort task per key, the same regime as any heavy-hitter groupBy).
    "dedup_lines" -> ((s, d) => {
      val base = documents(s, d).select(col("doc_id"), col("text"))
      val recrawl = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(array_join(slice(split(col("text"), " "), 1, 20), " "),
            lit(" graft recrawl tail marker tokens appended here")).as("text"))
      val lines = base.unionByName(recrawl)
        .withColumn("t", split(col("text"), " "))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0),
              (ceil(size(col("t")) / lit(10.0)) - 1).cast("int")),
            i => array_join(slice(col("t"), i * 10 + 1, lit(10)), " "))))
        .withColumnRenamed("col", "line")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("line")).orderBy(col("doc_id"), col("pos"))
      lines
        .withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        .orderBy("doc_id")
    }),

    // Character-bigram language-model score: train P(c₂|c₁) on the corpus
    // ITSELF (bigram count / first-char marginal), then score each doc by
    // its average negative log-likelihood — the perplexity-style quality
    // signal that flags statistically-unusual text (gibberish, wrong
    // alphabet, boilerplate) without any external model.
    // Scale shape (r10): the per-occurrence fold runs INSIDE the
    // codegen'd [[graft.expr.CharGramCounts]] projection, so the relation
    // that explodes, persists, and shuffles is the per-doc HISTOGRAM
    // (≤ alphabet² rows per doc) — not one row per character as the
    // interpreted transform+substr pipeline produced (measured the
    // slowest sf1 key at 24.8 s, dominated by exploding and caching the
    // corpus-of-characters). The MODEL stays alphabet²-bounded however
    // large the corpus (a rollup of the histograms), the scoring join
    // broadcasts it, and the per-doc average is the count-weighted mean
    // Σc·(−ln p)/Σc — algebraically the same occurrence average, with
    // the same formula spelled in the oracle. The histogram relation is
    // eager-persisted: model rollup + scoring join both read it inside
    // one action. (Fixture text is ASCII; Spark slices by codepoint
    // offsets, identical to DuckDB's here.)
    "text_lm_score" -> ((s, d) => {
      val perDoc = graft.InternalCaches.persistTracked(
        documents(s, d)
          .filter(length(col("text")) >= 2)
          .select(col("doc_id"),
            explode(graft.expr.TextSetExprs.charGramCounts(col("text"), 2))
              .as("gc"))
          .select(col("doc_id"), col("gc.g").as("g"), col("gc.c").as("c")),
        eager = true)
      val model = perDoc.groupBy(col("g")).agg(sum(col("c")).as("n"))
        .withColumn("n1",
          sum(col("n")).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(substring(col("g"), 1, 1))))
      perDoc.join(broadcast(model), "g")
        .groupBy(col("doc_id"))
        .agg((round(sum(col("c") * -log(col("n") / col("n1")))
              / sum(col("c")), 6) + 0.0)
            .as("lm_score"),
          sum(col("c")).as("n_bigrams"))
        .orderBy("doc_id")
    }),

    // Shingle CONTAINMENT near-dup (|A∩B| / min(|A|,|B|) ≥ 0.8): catches
    // a document EMBEDDED in a larger one (quotes, boilerplate wrappers,
    // chunk-of-crawl re-posts) — pairs Jaccard structurally misses,
    // because |A∩B|/|A∪B| dilutes with the size gap while containment
    // doesn't. Candidate generation is therefore NOT the banded
    // MinHash-LSH the Jaccard ops share (its collision probability
    // tracks Jaccard, so it under-recalls exactly the asymmetric pairs
    // this op exists for) but an EXACT inverted-index join: explode the
    // distinct shingle sets, self-join on the shingle (posting-list
    // intersection), count per pair. The scale caveat is hub shingles —
    // a posting list of length L contributes O(L²) pair rows. The DF
    // cap (r12, DEFAULT-ON at 128 since r13 — the r12 verdict's item 4)
    // is the production contract: postings of a shingle shared by more
    // than `spark.graft.containment.maxDf` docs are dropped from the
    // PAIR join only — sizes still count every shingle, so the reported
    // containment is a LOWER BOUND of the true value (never inflated),
    // and a pair survives iff it shares ≥ 0.8·min(|A|,|B|) NON-HUB
    // shingles. Boilerplate hubs are precisely the shingles that carry
    // no near-dup signal (they co-occur everywhere), so true template
    // clones — which share their distinctive grams too — survive any
    // cap wide enough to clear the clone's own shingle count; the
    // TextSpec law plants both. 128 sits above every organic posting
    // width in the driver fixtures (max DF 25 at sf0.1, so the capped
    // default is value-identical to the exact sweep at the oracle gate
    // — and the ORACLE REPLAYS THE CAP ANYWAY, so the gate would stay
    // hash-exact even on a hub-bearing fixture) while cutting the
    // copied-corpus posting lengths (≤ ~625) that drove the sf10
    // exponent to 1.30. The hub list (shingles with DF > cap) grows
    // with the corpus → shuffle-pinned anti-join, never a broadcast
    // (the cliff rule).
    "text_containment" -> ((s, d) => {
      // r17 plan shape (guide §2.3/§2.4 — carry metadata, remove
      // shuffles). Three structural changes vs the r16 form, all
      // value-identical (the oracle replays the same cap + formula):
      //  1. The true set size `n` (the containment DENOMINATOR, always
      //     measured on the UNCAPPED set) is computed per row BEFORE the
      //     explode (size of the shingle array) and carried through the
      //     posting rows — the old per-doc size aggregation and BOTH
      //     size join-backs (two shuffles + two hash builds over the
      //     pair stream) disappear; the carry costs 8 bytes per posting
      //     row and rides the pair groupBy as extra (functionally
      //     dependent) grouping keys.
      //  2. The hub-shingle DF cap is a count-over-window partitioned by
      //     `sh` instead of a groupBy+anti-join: one pass over the
      //     posting stream instead of two, and the window's hash(sh)
      //     exchange + partition sort are EXACTLY the distribution and
      //     order the posting self-join requires, so the join adds
      //     neither an exchange nor a sort (§2.4 "window functions
      //     partitioned by the same key ... do not need a second
      //     shuffle" — here the join reuses the window's).
      //  3. The cache boundary moves AFTER the window+filter, so the
      //     cached relation is the hash(sh)-partitioned, sh-sorted LIVE
      //     posting list both self-join branches read (eager: two
      //     branches of one stage — the persistTracked contract).
      // Measured at sf0.1: the final plan drops from 20 Exchange
      // mentions to 4, the job's own exchanges 8 → 2 past the cache.
      // Hub skew exposure is unchanged: the old anti-join shuffled the
      // full posting stream by `sh` too; a degenerate hub makes one
      // window partition wide, exactly as it made one anti-join
      // partition wide.
      val maxDf = graft.Dials.ContainmentMaxDf(s)
      val sh = graft.InternalCaches.persistTracked(
        tokenizedDocs(s, d)
          .select(col("doc_id"), shingleCol(col("t")).as("ss"))
          .select(col("doc_id"), size(col("ss")).cast("long").as("n"),
            explode(col("ss")).as("sh"))
          .withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
          .filter(col("df") <= maxDf)
          .select(col("doc_id"), col("n"), col("sh")),
        eager = true)
      // posting self-join: both sides corpus-sized — shuffle pin (see
      // Blocking.candidates on the broadcast cliff); sort-merge is free
      // here, both inputs arrive partitioned+sorted by sh from the cache
      sh.as("x").hint("shuffle_merge").join(sh.as("y"),
          col("x.sh") === col("y.sh")
            && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          col("x.n").as("na"), col("y.n").as("nb"))
        .agg(count(lit(1)).as("ni"))
        .withColumn("containment",
          round(col("ni").cast("double")
            / least(col("na"), col("nb")), 4))
        .filter(col("containment") >= 0.8)
        .select(col("a"), col("b"), col("containment"))
        .orderBy("a", "b")
    }),

    // Repetition quality signal (the Gopher/MassiveText family of rules):
    // the fraction of a document occupied by its most frequent word
    // bigram. High rep_ratio flags template/spam pages that per-token
    // stats miss. Plan (r10): the statistic is strictly PER-DOCUMENT, so
    // it never needs to leave the row — sort the doc's own bigram array
    // and fold for the longest equal run (= the top bigram's count; a
    // sorted array groups equal values into runs). The retired form
    // exploded every 2-gram occurrence and aggregated twice (keys
    // (doc_id, gram), then doc_id) — two shuffles of the FULL bigram
    // stream, ~10× the corpus row count, for a quantity each row could
    // compute alone. Output identical; the only remaining exchange is
    // the presentation sort. Honest local measurement: sf1 9.6→8.6 s —
    // nearly flat, because at local[32] a "shuffle" is a memory-local
    // copy and the interpreted per-row HOF fold dominates either way;
    // the exchange elimination is a CLUSTER win (two network shuffles of
    // the full bigram stream gone), which is why the map-only plan is
    // kept despite the flat local number.
    "text_repetition" -> ((s, d) =>
      tokenizedDocs(s, d)
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          sort_array(transform(sequence(lit(1), size(col("t")) - 1),
            i => concat_ws(" ", element_at(col("t"), i),
              element_at(col("t"), i + 1)))).as("gs"))
        .select(col("doc_id"),
          size(col("gs")).cast("long").as("n_2grams"),
          aggregate(col("gs"),
            // (prev, run, best); "" can never equal a bigram — concat_ws
            // of two tokens always contains the separator
            struct(lit("").as("prev"), lit(0L).as("run"),
              lit(0L).as("best")),
            (acc, x) => {
              val run = when(x === acc.getField("prev"),
                acc.getField("run") + 1L).otherwise(lit(1L))
              struct(x.as("prev"), run.as("run"),
                greatest(acc.getField("best"), run).as("best"))
            },
            acc => acc.getField("best")).as("top_n"))
        .withColumn("rep_ratio",
          round(col("top_n").cast("double") / col("n_2grams"), 4))
        .orderBy("doc_id")),

    // Cluster-level dedup: connected components over the verified
    // near-dup pair graph. Pairwise dedup keeps BOTH ends of a chain
    // A~B~C when A~C falls under the threshold; component-level keeps one
    // doc per transitive cluster, the form production dedup ships. Only
    // docs with an edge are labelled ([[componentLabels]]: a union-find on
    // the driver up to a fixed edge count, Spark rounds past it); every
    // other doc is its own cluster of size 1.
    // Output: every document with its cluster id (min doc_id reachable)
    // and cluster size. Oracle: recursive CTE reachability over the
    // brute-force pair graph.
    "dedup_clusters" -> ((s, d) => {
      val labels = componentLabels(minhashPairs(s, d))
      documents(s, d).select(col("doc_id"))
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("doc_id")).as("cluster_id"),
          coalesce(col("n"), lit(1L)).as("cluster_size"))
        .orderBy("doc_id")
    }),

    // Normalization — the canonicalization pass run BEFORE hashing or
    // dedup, so case/whitespace variants of the same content collapse to
    // one form: lowercase, trim, squash internal whitespace runs. The
    // fixture text is already clean single-spaced soup, so every 5th doc
    // gets deterministic mess planted first (case flip + leading/internal/
    // trailing runs) — making the transform observable and the removal
    // count exact (the planted-data pattern of text_pii_mask). n_removed
    // counts ALL characters normalization dropped — trimmed boundary
    // whitespace plus squashed run chars. Narrow map-side transform:
    // pipelines over the scan at any scale; codegen CSE evaluates the
    // shared regexp once for both outputs.
    "text_normalize" -> ((s, d) =>
      documents(s, d)
        .withColumn("raw",
          when(col("doc_id") % 5 === 0,
            concat(lit("  "), upper(col("text")), lit("   x  y ")))
            .otherwise(col("text")))
        .select(col("doc_id"),
          regexp_replace(trim(lower(col("raw"))), "\\s+", " ")
            .as("norm_text"),
          (length(col("raw")) -
            length(regexp_replace(trim(lower(col("raw"))), "\\s+", " ")))
            .as("n_removed"))
        .orderBy("doc_id")),

    // PII masking — the redaction pass a training-data pipeline runs
    // before anything leaves the ingest boundary: emails, phone-shaped
    // numbers, and long digit runs each collapse to a typed tag, and the
    // match count is reported per doc (the audit signal). The fixture
    // corpus contains no PII, so every 7th doc gets a deterministic
    // planted contact string first — making the mask observable and the
    // count exact (3 for planted docs, 0 otherwise). Patterns stay in the
    // regex dialect Java and RE2 parse identically. Narrow map-side
    // transform: pipelines over the scan at any scale.
    "text_pii_mask" -> ((s, d) =>
      documents(s, d)
        .withColumn("raw",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"),
              lit("@example.com or call 555-0199 ref 1234567890")))
            .otherwise(col("text")))
        .select(col("doc_id"),
          regexp_replace(regexp_replace(regexp_replace(col("raw"),
            lit("[a-z0-9._]+@[a-z0-9.]+"), lit("<EMAIL>")),
            lit("555-[0-9]{4}"), lit("<PHONE>")),
            lit("[0-9]{6,}"), lit("<NUM>")).as("clean_text"),
          size(regexp_extract_all(col("raw"),
            lit("[a-z0-9._]+@[a-z0-9.]+|555-[0-9]{4}|[0-9]{6,}"), lit(0)))
            .as("n_masked"))
        .orderBy("doc_id")),

    // The composed INGEST pipeline — what a nightly crawl drop runs end
    // to end as ONE declarative plan Catalyst fuses: normalize (case/
    // whitespace canonicalization) → PII mask → exact dedup against the
    // standing index (8-byte fingerprints of the same normalized+masked
    // form, so case-variant re-crawls are caught — the composition
    // argument for normalizing BEFORE fingerprinting) → quality gate
    // (>= 20 tokens) → per-source acceptance stats. The batch makes
    // every gate observable: every 7th doc re-crawled verbatim (dropped
    // by dedup), every 7th+1 with a novel tail (survives), every 7th+2
    // uppercased + padded (a case-variant re-crawl — dropped ONLY
    // because normalization precedes fingerprinting). Fingerprint
    // equivalence vs the oracle's text equality is the documented
    // 64-bit-collision tradeoff of dedup_incremental.
    "pipeline_ingest" -> ((s, d) => {
      def canon(c: Column): Column =
        regexp_replace(regexp_replace(trim(lower(c)), "\\s+", " "),
          "[0-9]{6,}", "<NUM>")
      val base = documents(s, d).filter(col("text").isNotNull)
      val batch = base.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + 60000).as("doc_id"), col("text"),
            col("source"))
        .unionByName(base.filter(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 70000).as("doc_id"),
            concat(col("text"), lit(" zz novel tail")).as("text"),
            col("source")))
        .unionByName(base.filter(col("doc_id") % 7 === 2)
          .select((col("doc_id") + 80000).as("doc_id"),
            concat(lit("  "), upper(col("text")), lit(" ")).as("text"),
            col("source")))
      val indexFp = base.select(xxhash64(canon(col("text"))).as("fp"))
        .distinct()
      batch
        .withColumn("clean", canon(col("text")))
        .withColumn("fp", xxhash64(col("clean")))
        .join(indexFp, Seq("fp"), "left_anti")
        .withColumn("t", filter(split(col("clean"), " "),
          x => length(x) > 0))
        .filter(size(col("t")) >= 20)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("t")).cast("long")).as("n_tokens"))
        .orderBy("source")
    }),

    // NEAR-dup incremental ingest — the LSH twin of dedup_incremental: a
    // new crawl batch probed against the standing corpus index for
    // near-duplicates (the lightly-edited re-crawl that exact content
    // fingerprints miss). Candidates come from a band-key equi-join of
    // batch against index ([[lshProbePairs]]); the batch is synthesized
    // to make both outcomes observable: every 13th doc of ≥25 tokens
    // re-ingested with its FIRST TOKEN replaced (near-dup — must match
    // its origin; the floor keeps every true pair above the s-curve
    // knee, see inside) and
    // every 13th+5 doc with its token order REVERSED — same vocabulary,
    // disjoint shingle set (novel — must not match). Oracle: brute-force
    // batch × index Jaccard over the same derived batch.
    "dedup_lsh_ingest" -> ((s, d) => {
      val p = docParts(s, d) // two set+sig caches: the KB/row class ×2
      // SHARED BASE CACHE (r17, guide §6 — don't recompute what a cache
      // holds): the index derivation and BOTH synthetic batch branches
      // (mutated + reversed) consume the same tokenized, repartitioned,
      // length-filtered relation. Uncached, each ran its own parquet
      // scan + tokenize + repartition — three full passes per call (the
      // batch's two branches sit in ONE union, so they cannot share a
      // scan). Eager: the probe pipeline's first job reads the batch
      // side's two branches within one stage, and an unpopulated entry
      // would recompute the scan+shuffle per branch. Cost: a third
      // corpus-sized cache of the KB/row class, laid out at the same
      // adaptive docParts width as the two signature caches.
      val base = graft.InternalCaches.persistTracked(
        tokenizedDocs(s, d)
          .repartition(p, col("doc_id"))
          .filter(size(col("t")) >= 3),
        eager = true)
      val index = base.select(col("doc_id"), shingleCol(col("t")).as("s"))
      // ≥25-token floor: a 1-token mutation of an n-token doc sits at
      // jac ≈ (n−5)/(n+1) ≥ 0.77, where the 32×4 band-miss probability
      // is ≤ 1e-6 — the exact brute-force oracle stays deterministically
      // green at any sf. Shorter mutations would land in the 0.5-0.65
      // zone where a fixed-seed band miss is a real (1-13%) possibility.
      val mutated = base.filter(col("doc_id") % 13 === 0
          && size(col("t")) >= 25)
        .select((col("doc_id") + 40000).as("doc_id"),
          concat(array(lit("zqx")),
            slice(col("t"), lit(2), size(col("t")) - 1)).as("t"))
      val reversed = base.filter(col("doc_id") % 13 === 5)
        .select((col("doc_id") + 50000).as("doc_id"),
          reverse(col("t")).as("t"))
      val batch = mutated.unionByName(reversed)
        .select(col("doc_id"), shingleCol(col("t")).as("s"))
      lshProbePairs(index, batch, 0.5, Blocking.adaptiveHotWidth(s, d))
        .orderBy("a", "b")
    }),

    // Benchmark decontamination — the test-set leakage check every
    // training-data pipeline runs before a corpus ships: flag any corpus
    // document sharing a verbatim 8-token n-gram with the held-out
    // benchmark set (the standard published-eval hygiene contract; 8-13
    // token windows are the common detection grain). Benchmark set here =
    // every 53rd doc; to make contamination observable in the synthetic
    // fixtures, a fixed 10-token sentinel passage is planted into every
    // benchmark doc AND every 11th corpus doc (both sides of the oracle
    // mirror the plant), so planted docs must surface with >= 3 full-
    // sentinel gram hits on top of any organic re-crawl overlap.
    // Scale shape: the benchmark gram set is SMALL by construction (real
    // holdout suites are MBs against a 100 TB corpus) -> broadcast hash
    // join, so the corpus never shuffles on the gram key; per-doc gram
    // dedup is array_distinct (narrow, no shuffle); the only shuffle is
    // the per-doc hit count (map-side combined, ~1 row per doc — explode
    // keeps a doc's grams within one partition). At real scale the gram
    // string would hash to 64 bits first; kept verbatim here so the
    // oracle join is exact.
    "text_contamination" -> ((s, d) => {
      val sentinel =
        " shared holdout passage alpha beta gamma delta epsilon zeta eta"
      val docs = documents(s, d)
        .withColumn("raw",
          when(col("doc_id") % 53 === 0 || col("doc_id") % 11 === 0,
            concat(col("text"), lit(sentinel)))
            .otherwise(col("text")))
        .withColumn("tf",
          filter(split(col("raw"), " "), x => length(x) > 0))
      // the codegen'd shingle expression at k=8: distinct built in, empty
      // below 8 tokens, and containsNull = false in its static type, so
      // the exploded gram key stays on the fast HashedRelation path (a
      // nullable key demotes the broadcast probe ~5×; PlanSpec asserts
      // it). No coalesce wrapper: explode of a NULL array (null text)
      // yields zero rows, the same as the empty set — and a
      // typedLit(Array.empty[String]) fallback would re-taint the type
      // (Scala String element → containsNull = true).
      // UNCACHED on purpose (r17, found by the sf100 full-surface
      // sweep): the exploded gram relation is ~8× corpus bytes of
      // verbatim strings — an eager persist of it (the pre-r17 form,
      // laid out at the raw scan's handful of splits) is the r13
      // unroll-storm wall verbatim: GB-scale unevictable chunk builds
      // zero the execution pool and the materializing count dies at its
      // first page ask (UNABLE_TO_ACQUIRE_MEMORY at sf100). Both
      // readers are map-only up to the bench-sized distinct —
      // re-derivations of a columnar scan — so recompute-twice is
      // strictly cheaper than an 8×-corpus string cache at every scale
      // past toy (guide §5's cache rule) — and the 100 TB contract
      // never caches the corpus gram stream anyway.
      val grams = docs.select(col("doc_id"),
        explode(graft.expr.TextSetExprs.wordShingles(col("tf"), 8))
          .as("g"))
      val bench = grams.filter(col("doc_id") % 53 === 0)
        .select(col("g")).distinct()
      grams.filter(col("doc_id") % 53 =!= 0)
        .join(broadcast(bench), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    }),

    // Domain mixture audit — the sampling-weight bookkeeping behind
    // data-mixture balancing: per source domain, doc/token totals, the
    // domain's share of corpus tokens, and a temperature-scaled sampling
    // weight w_i ∝ share^0.3 (the multinomial-rebalancing exponent family
    // used to up-weight small domains). Two tiny aggregate-of-aggregate
    // stages; each global total rides a broadcast single-row cross join
    // (the tfidf pattern) rather than a one-task global window, so the
    // plan is identical whether there are 20 domains or 20 million. The
    // per-source aggregate is persisted: it feeds its own branch and both
    // totals, and it is the only corpus-wide scan in the plan.
    "text_domain_mix" -> ((s, d) => {
      val perSrc = graft.InternalCaches.persistTracked(
        tokenizedDocs(s, d)
          .select(col("source"),
            size(filter(col("t"), x => length(x) > 0)).cast("long")
              .as("n_tok"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens")),
        eager = true)
      val tot = perSrc.agg(sum(col("n_tokens")).as("tot"))
      val sh = perSrc.join(broadcast(tot))
        .withColumn("share", col("n_tokens").cast("double") / col("tot"))
        .withColumn("pw", pow(col("share"), lit(0.3)))
      val wtot = sh.agg(sum(col("pw")).as("wtot"))
      sh.join(broadcast(wtot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("share"), 6).as("tok_share"),
          round(col("pw") / col("wtot"), 6).as("samp_weight"))
        .orderBy("source")
    })
  )

  private def stopList: String = EnStop.map("'" + _ + "'").mkString(", ")

  /** The composed cleaning pipeline a training-data run executes end to
    * end: verified near-dup pairs (the `dedup_near_minhash` plan) pick a
    * survivor per pair (keep the lower doc_id), then a quality gate
    * (≥ 20 tokens) trims the remainder, and the output is per-language
    * corpus stats. One declarative plan — Catalyst fuses the stages — and
    * one oracle: the same pipeline over brute-force pairs in SQL.
    */
  private def cleanCorpus(s: SparkSession, d: String): DataFrame = {
    val dropIds = minhashPairs(s, d)
      .select(col("b").as("doc_id")).distinct()
    tokenizedDocs(s, d)
      .join(dropIds, Seq("doc_id"), "left_anti")
      .filter(size(col("t")) >= 20)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy("lang")
  }

  /** FULL BPE-training SQL replay (r7): 8 unrolled merge rounds. The
    * engine's left-to-right non-overlapping merge fold over a token
    * sequence is EXACTLY SQL `replace()` semantics on a delimiter-wrapped
    * string form — each token wrapped as ␟t␟ (chr 31, absent from the
    * corpus, gate-guarded by the match itself), so the pattern ␟a␟␟b␟ →
    * ␟ab␟ (a) only matches whole tokens, (b) resumes scanning AFTER the
    * replacement, and (c) never lets this round's merged token re-merge —
    * the three laws of the engine's fold (`text.scala` text_bpe_merges).
    * Pair counts re-derive per round by re-splitting on ␟␟; argmax ties
    * break (n DESC, a, b) binary-collated in both engines. Verified
    * row-identical against the Spark dump before landing.
    */
  /** Training CTE prefix shared by [[bpeReplaySql]] and
    * [[bpeEncodeReplaySql]]: s0 (delimiter-wrapped weighted vocabulary)
    * then 8 rounds of m_i (argmax pair) / s_i (rewrite). Ends WITHOUT a
    * trailing comma — consumers append `,\n` + their own CTEs.
    */
  private def bpeTrainCtes: String = {
    val S = "chr(31)"
    def pair(prev: String, m: Int): String =
      s"""m$m AS (
         |  SELECT a, b, CAST(sum(freq) AS BIGINT) AS n FROM (
         |    SELECT z[1] AS a, z[2] AS b, freq FROM (
         |      SELECT unnest(list_zip(toks, toks[2:])) AS z, freq FROM (
         |        SELECT freq, list_transform(string_split(s, $S||$S),
         |          x -> replace(x, $S, '')) AS toks FROM $prev))
         |    WHERE z[2] IS NOT NULL)
         |  GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1)""".stripMargin
    def rewrite(prev: String, m: Int): String =
      s"""s$m AS (
         |  SELECT freq, replace(s, $S||m.a||$S||$S||m.b||$S,
         |    $S||m.a||m.b||$S) AS s FROM $prev, m$m m)""".stripMargin
    val rounds = (1 to 8).flatMap(m =>
      Seq(pair(s"s${m - 1}", m), rewrite(s"s${m - 1}", m)))
    s"""WITH s0 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS freq,
       |    $S || array_to_string(string_split(w, ''), $S||$S) || $S AS s
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) > 0 GROUP BY w),
       |${rounds.mkString(",\n")}
       |""".stripMargin
  }

  private def bpeReplaySql: String = {
    val sel = (1 to 8).map(m =>
      s"""SELECT $m AS rank, a AS "left", b AS "right", n FROM m$m""")
    bpeTrainCtes +
    s"""SELECT CAST(rank AS INTEGER) AS rank, "left", "right", n
       |FROM (${sel.mkString(" UNION ALL ")}) ORDER BY rank""".stripMargin
  }

  /** Shared CTE prefix replaying [[canonUrlDocs]]: the synthetic URL
    * grammar + the canonicalizer regexp chain, ending in `cn(doc_id,
    * canon)`. Used by the `dedup_url` and `sample_split_leakproof`
    * oracles.
    */
  private def urlCanonCtes: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END)
      |    || '://'
      |    || (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END)
      |    || 'Docs.Example.COM/doc/' || (doc_id % 40)
      |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
      |    || '?utm_source=u' || doc_id || '&v=' || (doc_id % 2)
      |    || (CASE WHEN doc_id % 6 = 0
      |          THEN '&ref=r' || (doc_id % 7) ELSE '' END)
      |    || (CASE WHEN doc_id % 3 = 0
      |          THEN '#sec' || (doc_id % 2) ELSE '' END) AS url
      |  FROM documents),
      |s1 AS (SELECT doc_id, regexp_replace(url, '#.*', '', 'g') AS nf
      |       FROM u),
      |s2 AS (SELECT doc_id, nf,
      |         regexp_extract(nf, '^[A-Za-z]+://[^/]+') AS hr FROM s1),
      |s3 AS (SELECT doc_id,
      |         replace(lower(hr), '://www.', '://') AS host,
      |         substr(nf, length(hr) + 1) AS rest FROM s2),
      |s4 AS (SELECT doc_id, host,
      |         regexp_replace(regexp_replace(regexp_replace(
      |           regexp_replace(rest, '(utm_[a-z]+|ref)=[^&]*', '', 'g'),
      |           '&+', '&', 'g'), '\?&', '?', 'g'),
      |           '[?&]+$', '', 'g') AS clean FROM s3),
      |cn AS (SELECT doc_id,
      |        regexp_replace(regexp_replace(host || clean,
      |          '/\?', '?', 'g'), '/$', '', 'g') AS canon FROM s4)
      |""".stripMargin

  /** [[bpeReplaySql]]'s training CTEs + the ENCODE stage: per doc, each
    * word wrapped ␟c₁␟␟c₂␟…, the 8 learned rules applied as one
    * replace() each in rank order (cross-joined 1-row m1…m8 CTEs),
    * symbols after = (len(encoded) − len(word)) / 2 — the letter count
    * is merge-invariant, only separators disappear.
    */
  private def bpeEncodeReplaySql: String = {
    val S = "chr(31)"
    val wrapped =
      s"($S || array_to_string(string_split(w, ''), $S||$S) || $S)"
    // the rules ride a GUARANTEED-single-row CTE of coalesced scalar
    // subqueries (subqueries are illegal inside DuckDB lambdas, and a
    // direct CROSS JOIN m$m would annihilate every doc row if training
    // exhausts before round m and m$m is EMPTY — 0-row oracle vs
    // one-per-doc engine output). A missing rule degrades to a
    // never-matching chr(30) pattern (absent from the corpus), i.e. a
    // no-op replace, exactly like the engine's shorter foldLeft.
    val ruleCols = (1 to 8).map(m =>
      s"""coalesce((SELECT $S||a||$S||$S||b||$S FROM m$m), chr(30)) AS p$m,
         |  coalesce((SELECT $S||a||b||$S FROM m$m), '') AS r$m""".stripMargin)
    val chain = (1 to 8).foldLeft(wrapped) { (acc, m) =>
      s"replace($acc, p$m, r$m)"
    }
    bpeTrainCtes +
    s""",
       |rules AS (SELECT
       |  ${ruleCols.mkString(",\n  ")}),
       |docs AS (
       |  SELECT doc_id,
       |    [w for w in string_split(text, ' ') if length(w) > 0] AS ws
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(len(ws) AS BIGINT) AS n_words,
       |  CAST(coalesce(list_sum([length(w) for w in ws]), 0) AS BIGINT)
       |    AS n_sym_before,
       |  CAST(coalesce(list_sum(list_transform(ws, w ->
       |    (length($chain) - length(w)) // 2)), 0) AS BIGINT)
       |    AS n_sym_after
       |FROM docs CROSS JOIN rules ORDER BY doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "text_bpe_merges" -> bpeReplaySql,
    // md5 is computable in both engines (unlike xxhash64), so the
    // samplers' acceptance gates replay EXACTLY: same salted key, same
    // 8-hex-char prefix, same mod-100 / 2^32 mapping.
    "sample_hash" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE CAST(('0x' || substr(md5('hs:' || doc_id), 1, 8)) AS BIGINT)
        |      % 100 < 10
        |ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5('hs:' || doc_id), 1, 8)) AS BIGINT)
        |      % 100 < CASE WHEN lang = 'en' THEN 10 ELSE 40 END
        |ORDER BY doc_id""".stripMargin,
    // Weight = least(1, n_tokens/60) exactly as the engine computes it
    // (split on single spaces). The coalesce is load-bearing on BOTH
    // sides: least() skips NULLs in both engines, so a NULL text would
    // otherwise collapse the weight to the 1.0 literal.
    "sample_weighted" ->
      """SELECT doc_id,
        |  round(least(1.0,
        |    coalesce(len(string_split(text, ' ')), 0)::DOUBLE / 60.0), 6)
        |    AS w
        |FROM documents
        |WHERE CAST(('0x' || substr(md5('ws:' || doc_id), 1, 8)) AS BIGINT)
        |        ::DOUBLE / 4294967296.0
        |      < least(1.0,
        |          coalesce(len(string_split(text, ' ')), 0)::DOUBLE / 60.0)
        |ORDER BY doc_id""".stripMargin,
    "sample_reservoir" ->
      """SELECT doc_id, lang, CAST(rk AS INTEGER) AS rk FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY CAST(('0x' || substr(md5('rs:' || doc_id), 1, 8))
        |      AS BIGINT), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,
    "pipeline_mix_epochs" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents
        |           GROUP BY lang),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_tot,
        |             CAST(max(n_docs) AS BIGINT) AS n_max FROM c)
        |SELECT lang, n_docs,
        |  round(n_docs::DOUBLE / n_tot, 6) AS natural_share,
        |  round(n_max::DOUBLE / n_docs, 6) AS epochs
        |FROM c, t ORDER BY lang""".stripMargin,
    "sample_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents
        |           GROUP BY lang),
        |mn AS (SELECT min(n_docs) AS n_min FROM c),
        |r AS (SELECT lang, n_docs,
        |        pow(n_docs::DOUBLE / n_min, -0.3) AS rate FROM c, mn),
        |k AS (SELECT d.lang, CASE WHEN
        |        CAST(('0x' || substr(md5(d.lang || ':' || d.doc_id), 1, 8))
        |          AS BIGINT)::DOUBLE / 4294967296.0 < r.rate
        |        THEN 1 ELSE 0 END AS kept
        |      FROM documents d JOIN r ON d.lang = r.lang)
        |SELECT r.lang, r.n_docs, round(r.rate, 6) AS rate,
        |  CAST(sum(k.kept) AS BIGINT) AS n_kept
        |FROM r JOIN k ON r.lang = k.lang
        |GROUP BY r.lang, r.n_docs, r.rate ORDER BY r.lang""".stripMargin,
    // Verbatim replay of the URL grammar + the canonicalizer regexp
    // chain (RE2-safe by design; DuckDB regexp_replace needs the
    // explicit 'g' flag Spark applies by default).
    "dedup_url" ->
      (urlCanonCtes +
      """SELECT canon, min(doc_id) AS keep_id, count(*) AS n_dupes
        |FROM cn GROUP BY canon ORDER BY canon""".stripMargin),
    // Same canon CTEs, then the md5 split gate — group-atomic because
    // the gate is a pure function of canon.
    "sample_split_leakproof" ->
      (urlCanonCtes +
      """SELECT split, CAST(count(DISTINCT canon) AS BIGINT) AS n_groups,
        |  count(*) AS n_docs FROM (
        |  SELECT canon, CASE
        |    WHEN CAST(('0x' || substr(md5(canon), 1, 8)) AS BIGINT)::DOUBLE
        |      / 4294967296.0 < 0.8 THEN 'train'
        |    WHEN CAST(('0x' || substr(md5(canon), 1, 8)) AS BIGINT)::DOUBLE
        |      / 4294967296.0 < 0.9 THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM cn)
        |GROUP BY split ORDER BY split""".stripMargin),
    // Training replay (the bpeReplaySql CTEs) + the apply stage: each
    // word delimiter-wrapped, one replace per learned rule in rank
    // order, symbols recovered as (len(encoded) − len(word)) / 2.
    "text_bpe_encode" -> bpeEncodeReplaySql,
    "pipeline_clean_corpus" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN
        |      list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                     for i in range(1, len(t) - 1)])
        |    ELSE [] END AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |  ),
        |shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    round(len(list_intersect(a.s, b.s))::DOUBLE
        |          / len(list_distinct(a.s || b.s)), 4) AS jac
        |  FROM shn a JOIN shn b ON a.doc_id < b.doc_id),
        |drops AS (SELECT DISTINCT b AS doc_id FROM pairs WHERE jac >= 0.5)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        |  AND len(string_split(text, ' ')) >= 20
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "dedup_exact" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0)
        |SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM corpus GROUP BY text ORDER BY keep_id""".stripMargin,
    // Same recrawl overlay, same content partition — the copy count and
    // weight replay as one window (1.0::DOUBLE keeps the division out
    // of DuckDB's DECIMAL arithmetic, matching Spark's double).
    "sample_soft_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id, text FROM documents
        |  WHERE doc_id % 10 = 0)
        |SELECT doc_id,
        |  CAST(count(*) OVER (PARTITION BY coalesce(text, '')) AS BIGINT)
        |    AS n_copies,
        |  round(1.0::DOUBLE
        |    / count(*) OVER (PARTITION BY coalesce(text, '')), 6)
        |    AS weight
        |FROM corpus ORDER BY doc_id""".stripMargin,
    // Text-equality anti join ≡ the engine's fingerprint anti join modulo
    // 64-bit collisions (none in any realizable fixture).
    "dedup_incremental" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |batch AS (
        |  SELECT doc_id + 20000 AS doc_id, text FROM base
        |  WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 30000 AS doc_id, text || ' zz novel tail' AS text
        |  FROM base WHERE doc_id % 7 = 1)
        |SELECT b.doc_id, CAST(length(b.text) AS INTEGER) AS n_chars
        |FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM base c WHERE c.text = b.text)
        |ORDER BY doc_id""".stripMargin,
    "dedup_near_minhash" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN
        |      list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                     for i in range(1, len(t) - 1)])
        |    ELSE [] END AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |  ),
        |shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    round(len(list_intersect(a.s, b.s))::DOUBLE
        |          / len(list_distinct(a.s || b.s)), 4) AS jac
        |  FROM shn a JOIN shn b ON a.doc_id < b.doc_id)
        |SELECT a, b, jac FROM pairs WHERE jac >= 0.5 ORDER BY a, b""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN length(text) >= 4 THEN
        |      list_distinct([substring(text, i, 4)
        |                     for i in range(1, length(text) - 2)])
        |    ELSE [] END AS s
        |  FROM documents),
        |gn AS (SELECT doc_id, s FROM g WHERE len(s) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    round(len(list_intersect(a.s, b.s))::DOUBLE
        |          / len(list_distinct(a.s || b.s)), 4) AS jac
        |  FROM gn a JOIN gn b ON a.doc_id < b.doc_id)
        |SELECT a, b, jac FROM pairs WHERE jac >= 0.8 ORDER BY a, b""".stripMargin,
    // Full SimHash replay (r14): per-shingle h = first 16 md5 hex chars
    // as u64 (bit-identical to expr/Md5U64 — the engine-boundary pin in
    // ExprSpec), 64 per-bit votes, sign-packed fingerprint via bit_or,
    // then the brute-force hamming cut the engine's pair-block index is
    // pigeonhole-complete for (TextSpec's set-equality law). The oracle
    // affords the quadratic pair sweep at sf; the engine never forms it.
    "dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |            for i in range(1, len(t) - 1)]) AS s
        |  FROM tok),
        |h AS (
        |  SELECT doc_id,
        |    CAST('0x' || substr(md5(s), 1, 16) AS UBIGINT) AS h
        |  FROM sh),
        |votes AS (
        |  SELECT doc_id, r.i,
        |    sum(CASE WHEN (h >> r.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN range(64) r(i) GROUP BY doc_id, r.i),
        |fp AS (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN v > 0 THEN 1::UBIGINT << i
        |                ELSE 0::UBIGINT END) AS fp
        |  FROM votes GROUP BY doc_id)
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |  CAST(bit_count(xor(x.fp, y.fp)) AS INTEGER) AS hamming
        |FROM fp x JOIN fp y ON x.doc_id < y.doc_id
        |WHERE bit_count(xor(x.fp, y.fp)) <= 4 ORDER BY a, b""".stripMargin,
    "text_tokens_topn" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    // Plain exact computation — green iff the sketch candidate pass had
    // no false negatives (the MG retention guarantee).
    "text_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT token FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE length(token) > 0),
        |tot AS (SELECT count(*) AS total FROM tok),
        |c AS (SELECT token, count(*) AS n FROM tok GROUP BY token)
        |SELECT token, n FROM c, tot WHERE n * 100 > total
        |ORDER BY n DESC, token""".stripMargin,
    // Single global window — the formulation the engine REFUSES to run
    // (one-task cumsum) but the oracle can afford at sf: green iff the
    // two-phase offsets reconstruct the exact global running total.
    "text_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> length(x) > 0)) AS INTEGER) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |    sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT doc_id, n_tok,
        |  CAST(floor((cum - n_tok) / 2048.0) AS BIGINT) AS seq_id
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |    FROM documents)
        |  WHERE length(token) > 0 GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS dfr FROM tf GROUP BY token),
        |n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.token, tf.tf,
        |  round(tf.tf * ln(n.n_docs / dfreq.dfr), 4) AS tfidf
        |FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
        |ORDER BY tf.doc_id, tf.token""".stripMargin,
    "text_lang_filter" ->
      """SELECT lang, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS tot_chars
        |FROM documents WHERE lang IN ('en', 'es')
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tok,
         |  CAST(len(list_filter(t, tk -> tk IN ($stopList))) AS INTEGER)
         |    AS en_hits,
         |  round(len(list_filter(t, tk -> tk IN ($stopList)))::DOUBLE
         |        / len(t), 4) AS stop_ratio,
         |  CASE WHEN len(list_filter(t, tk -> tk IN ($stopList)))::DOUBLE
         |            / len(t) >= 0.02
         |       THEN 'en' ELSE 'und' END AS pred_lang
         |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "text_langid_eval" ->
      s"""WITH s AS (
         |  SELECT lang AS gold,
         |    CASE WHEN len(list_filter(t, tk -> tk IN ($stopList)))::DOUBLE
         |              / len(t) >= 0.02
         |         THEN 'en' ELSE 'und' END AS pred
         |  FROM (SELECT lang, string_split(text, ' ') AS t FROM documents)),
         |cm AS (SELECT gold, pred, count(*) AS n FROM s GROUP BY 1, 2),
         |g AS (SELECT gold, CAST(sum(n) AS BIGINT) AS gold_total FROM cm
         |      GROUP BY gold)
         |SELECT gold, pred, n, gold_total,
         |  floor(n::DOUBLE / gold_total * 1e4) / 1e4 AS frac
         |FROM cm JOIN g USING (gold) ORDER BY gold, pred""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tok,
        |  CAST(len(list_distinct(t)) AS INTEGER) AS n_uniq,
        |  round(len(list_distinct(t))::DOUBLE / len(t), 4) AS uniq_ratio,
        |  round(least(len(t)::DOUBLE / 80.0, 1.0) * 0.5
        |        + (len(list_distinct(t))::DOUBLE / len(t)) * 0.5, 4) AS score
        |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_chunk_windows" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS tk
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, tk,
        |    unnest(generate_series(0, greatest(len(tk) - 1, 0), 48)) AS s
        |  FROM t)
        |SELECT doc_id, CAST(s // 48 AS INTEGER) AS chunk_id,
        |  CAST(len(list_slice(tk, s + 1, s + 64)) AS INTEGER) AS n_tok,
        |  array_to_string(list_slice(tk, s + 1, s + 64), ' ') AS chunk
        |FROM g ORDER BY doc_id, chunk_id""".stripMargin,
    "text_token_count" ->
      """SELECT doc_id,
        |  CAST(len(t) AS INTEGER) AS n_ws,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INTEGER)
        |    AS n_re,
        |  round(n_chars::DOUBLE / len(t), 4) AS chars_per_tok
        |FROM (SELECT doc_id, text, n_chars, string_split(text, ' ') AS t
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "text_stopword_strip" ->
      s"""SELECT doc_id,
         |  array_to_string(list_filter(t, tk -> tk NOT IN ($stopList)), ' ')
         |    AS clean_text,
         |  CAST(len(t) - len(list_filter(t, tk -> tk NOT IN ($stopList)))
         |    AS INTEGER) AS n_removed
         |FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(7::BIGINT,
        |      [(ascii(tk) * 131 + length(tk))::BIGINT
        |       for tk in string_split(text, ' ')]),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Verbatim replay of the winnowing sketch: same atoms as
    // text_fingerprint, same 3-gram polynomial (131² = 17161), same
    // w=4 window minima (inclusive slice h[j:j+3]), same 2..50
    // posting-list band, same ≥2-shared-fingerprint pair cut.
    "text_winnowing" ->
      """WITH tk AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 6),
        |at AS (
        |  SELECT doc_id,
        |    [(ascii(tk) * 131 + length(tk))::BIGINT for tk in t] AS a
        |  FROM tk),
        |h AS (
        |  SELECT doc_id,
        |    [(a[i] * 17161 + a[i+1] * 131 + a[i+2]) % 1000000007
        |     for i in range(1, len(a) - 1)] AS h
        |  FROM at),
        |fp AS (
        |  SELECT doc_id,
        |    list_distinct([list_min(h[j:j+3])
        |                   for j in range(1, len(h) - 2)]) AS fps
        |  FROM h),
        |un AS (SELECT doc_id, unnest(fps) AS f FROM fp),
        |keep AS (SELECT f FROM un GROUP BY f
        |         HAVING count(*) BETWEEN 2 AND 50),
        |uk AS (SELECT u.doc_id, u.f FROM un u JOIN keep k USING (f))
        |SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
        |FROM uk x JOIN uk y ON x.f = y.f AND x.doc_id < y.doc_id
        |GROUP BY x.doc_id, y.doc_id HAVING count(*) >= 2
        |ORDER BY a, b""".stripMargin,
    "dedup_lines" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000 AS doc_id,
        |    array_to_string(string_split(text, ' ')[1:20], ' ')
        |      || ' graft recrawl tail marker tokens appended here' AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus
        |        WHERE len(string_split(text, ' ')) > 0),
        |lines AS (
        |  SELECT doc_id,
        |    unnest([{'pos': i,
        |             'line': array_to_string(t[(i*10+1):(i*10+10)], ' ')}
        |            for i in range(0, CAST(ceil(len(t) / 10.0) AS BIGINT))],
        |           recursive := true)
        |  FROM tok),
        |rk AS (SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY line
        |           ORDER BY doc_id, pos) AS rn
        |       FROM lines)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // Mirrors the histogram plan: per-doc bigram counts first, model =
    // their rollup, score = the count-weighted mean Σc·(−ln p)/Σc — the
    // same formula the Spark side folds.
    "text_lm_score" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    unnest([text[i:i+1] for i in range(1, length(text))]) AS g
        |  FROM documents WHERE length(text) >= 2),
        |pc AS (SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
        |       FROM g GROUP BY doc_id, g),
        |m AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM pc GROUP BY g),
        |m2 AS (SELECT g, n, sum(n) OVER (PARTITION BY g[1:1]) AS n1
        |       FROM m)
        |SELECT pc.doc_id,
        |  round(sum(pc.c * -ln(m2.n / m2.n1)) / sum(pc.c), 6) + 0.0
        |    AS lm_score,
        |  CAST(sum(pc.c) AS BIGINT) AS n_bigrams
        |FROM pc JOIN m2 ON pc.g = m2.g
        |GROUP BY pc.doc_id ORDER BY pc.doc_id""".stripMargin,
    // Replays the DEFAULT capped plan (r13): the pair join reads only
    // postings whose shingle's document frequency is within the 128
    // cap (the HAVING below — hub postings drop from the PAIR join
    // only), while sizes still count every shingle, exactly as the
    // Spark side's anti-join. On the driver fixtures no shingle
    // exceeds DF 25, so this replay is also value-identical to the
    // exact sweep — but the gate stays hash-exact BY CONSTRUCTION on
    // any fixture, hub-bearing or not.
    "text_containment" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN
        |      list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                     for i in range(1, len(t) - 1)])
        |    ELSE [] END AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |  ),
        |e AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        |sz AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
        |hub AS (SELECT sh FROM e GROUP BY sh HAVING count(*) > 128),
        |ec AS (SELECT doc_id, sh FROM e WHERE sh NOT IN
        |         (SELECT sh FROM hub)),
        |pi AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ni
        |       FROM ec x JOIN ec y
        |         ON x.sh = y.sh AND x.doc_id < y.doc_id
        |       GROUP BY 1, 2),
        |sc AS (
        |  SELECT pi.a, pi.b,
        |    round(pi.ni::DOUBLE / least(sa.n, sb.n), 4) AS containment
        |  FROM pi JOIN sz sa ON sa.doc_id = pi.a
        |          JOIN sz sb ON sb.doc_id = pi.b)
        |SELECT a, b, containment FROM sc
        |WHERE containment >= 0.8
        |ORDER BY a, b""".stripMargin,
    "text_repetition" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
        |             FROM documents),
        |g AS (SELECT doc_id,
        |        unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))])
        |          AS g2
        |      FROM tok WHERE len(t) >= 2),
        |cnt AS (SELECT doc_id, g2, count(*) AS n FROM g GROUP BY doc_id, g2)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_2grams,
        |  CAST(max(n) AS BIGINT) AS top_n,
        |  round(max(n)::DOUBLE / sum(n), 4) AS rep_ratio
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN
        |      list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |                     for i in range(1, len(t) - 1)])
        |    ELSE [] END AS s
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |  ),
        |shn AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
        |pairs AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |    round(len(list_intersect(a.s, b.s))::DOUBLE
        |          / len(list_distinct(a.s || b.s)), 4) AS jac
        |  FROM shn a JOIN shn b ON a.doc_id < b.doc_id),
        |e AS (SELECT a AS src, b AS dst FROM pairs WHERE jac >= 0.5
        |      UNION ALL
        |      SELECT b AS src, a AS dst FROM pairs WHERE jac >= 0.5),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
        |canon AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |sz AS (SELECT cluster_id, count(*) AS cluster_size
        |       FROM canon GROUP BY cluster_id)
        |SELECT canon.id AS doc_id, canon.cluster_id,
        |  CAST(sz.cluster_size AS BIGINT) AS cluster_size
        |FROM canon JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin,
    "text_normalize" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN
        |      '  ' || upper(text) || '   x  y '
        |    ELSE text END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(trim(lower(raw)), '\s+', ' ', 'g') AS norm_text,
        |  CAST(length(raw)
        |    - length(regexp_replace(trim(lower(raw)), '\s+', ' ', 'g'))
        |    AS INTEGER) AS n_removed
        |FROM corpus ORDER BY doc_id""".stripMargin,
    "text_pii_mask" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN
        |      text || ' contact user' || doc_id
        |        || '@example.com or call 555-0199 ref 1234567890'
        |    ELSE text END AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(raw,
        |    '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |    '555-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{6,}', '<NUM>', 'g') AS clean_text,
        |  CAST(len(regexp_extract_all(raw,
        |    '[a-z0-9._]+@[a-z0-9.]+|555-[0-9]{4}|[0-9]{6,}')) AS INTEGER)
        |    AS n_masked
        |FROM corpus ORDER BY doc_id""".stripMargin,
    "agg_gini" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split(text, ' '),
        |      x -> length(x) > 0))) AS BIGINT) AS x
        |  FROM documents GROUP BY source),
        |r AS (
        |  SELECT x, row_number() OVER (ORDER BY x, source) AS i FROM per)
        |SELECT
        |  round(2.0 * sum(i * x) / (count(*) * sum(x))
        |    - (count(*) + 1)::DOUBLE / count(*), 6) AS gini,
        |  CAST(count(*) AS BIGINT) AS n_domains
        |FROM r""".stripMargin,
    "text_pmi" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> length(x) > 0) AS t
        |  FROM documents),
        |idx AS (
        |  SELECT doc_id, unnest(t) AS token,
        |    generate_subscripts(t, 1) AS i FROM tok),
        |uni AS (SELECT token, count(*) AS n FROM idx GROUP BY token),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM uni),
        |pairs AS (
        |  SELECT token AS a,
        |    lead(token) OVER (PARTITION BY doc_id ORDER BY i) AS b
        |  FROM idx),
        |bg AS (SELECT a, b, count(*) AS n_ab FROM pairs
        |       WHERE b IS NOT NULL GROUP BY a, b),
        |m AS (SELECT CAST(sum(n_ab) AS BIGINT) AS mm FROM bg)
        |SELECT a, b, n_ab,
        |  round(ln((n_ab::DOUBLE / mm)
        |    / ((ua.n::DOUBLE / nn) * (ub.n::DOUBLE / nn))), 6) + 0.0
        |    AS pmi
        |FROM bg JOIN uni ua ON bg.a = ua.token
        |  JOIN uni ub ON bg.b = ub.token, m, tot
        |WHERE n_ab >= 10
        |ORDER BY pmi DESC, a, b LIMIT 20""".stripMargin,
    // Text-equality dedup (vs the engine's 64-bit fingerprints) over the
    // identically canonicalized batch — green iff every pipeline stage
    // composes exactly.
    "pipeline_ingest" ->
      """WITH base AS (
        |  SELECT doc_id, text, source FROM documents
        |  WHERE text IS NOT NULL),
        |batch AS (
        |  SELECT doc_id + 60000 AS doc_id, text, source FROM base
        |  WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 70000, text || ' zz novel tail', source
        |  FROM base WHERE doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id + 80000, '  ' || upper(text) || ' ', source
        |  FROM base WHERE doc_id % 7 = 2),
        |normb AS (
        |  SELECT doc_id, source,
        |    regexp_replace(regexp_replace(trim(lower(text)),
        |      '\s+', ' ', 'g'), '[0-9]{6,}', '<NUM>', 'g') AS clean
        |  FROM batch),
        |idx AS (
        |  SELECT DISTINCT
        |    regexp_replace(regexp_replace(trim(lower(text)),
        |      '\s+', ' ', 'g'), '[0-9]{6,}', '<NUM>', 'g') AS clean
        |  FROM base),
        |survivors AS (
        |  SELECT n.doc_id, n.source,
        |    len(list_filter(string_split(n.clean, ' '),
        |      x -> length(x) > 0)) AS n_tok
        |  FROM normb n
        |  WHERE NOT EXISTS (SELECT 1 FROM idx i WHERE i.clean = n.clean))
        |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT)
        |  AS n_tokens
        |FROM survivors WHERE n_tok >= 20
        |GROUP BY source ORDER BY source""".stripMargin,
    // Brute-force batch × index Jaccard over the identically-derived
    // batch — green iff the cross-relation LSH probe has no false
    // negatives at the threshold.
    "dedup_lsh_ingest" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |base AS (SELECT doc_id, t FROM tok WHERE len(t) >= 3),
        |batch AS (
        |  SELECT doc_id + 40000 AS doc_id, list_concat(['zqx'], t[2:]) AS t
        |  FROM base WHERE doc_id % 13 = 0 AND len(t) >= 25
        |  UNION ALL
        |  SELECT doc_id + 50000 AS doc_id, list_reverse(t) AS t
        |  FROM base WHERE doc_id % 13 = 5),
        |shi AS (
        |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |    for i in range(1, len(t) - 1)]) AS s FROM base),
        |shb AS (
        |  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
        |    for i in range(1, len(t) - 1)]) AS s FROM batch),
        |pairs AS (
        |  SELECT b.doc_id AS a, i.doc_id AS b,
        |    round(len(list_intersect(b.s, i.s))::DOUBLE
        |          / len(list_distinct(b.s || i.s)), 4) AS jac
        |  FROM shb b JOIN shi i ON true)
        |SELECT a, b, jac FROM pairs WHERE jac >= 0.5 ORDER BY a, b""".stripMargin,
    // 8-grams via an 8-row string_agg window over position-indexed
    // tokens (w = 8 drops the ragged tail) — same plant, same benchmark
    // partition, same distinct-per-doc gram sets as the engine.
    "text_contamination" ->
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 53 = 0 OR doc_id % 11 = 0 THEN text ||
        |      ' shared holdout passage alpha beta gamma delta epsilon zeta eta'
        |    ELSE text END AS raw
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(string_split(raw, ' '), x -> length(x) > 0) AS t
        |  FROM corpus),
        |idx AS (
        |  SELECT doc_id, unnest(t) AS token,
        |    generate_subscripts(t, 1) AS i FROM tok),
        |grams AS (
        |  SELECT doc_id,
        |    string_agg(token, ' ') OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS g,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS w
        |  FROM idx),
        |g8 AS (SELECT DISTINCT doc_id, g FROM grams WHERE w = 8),
        |bench AS (SELECT DISTINCT g FROM g8 WHERE doc_id % 53 = 0)
        |SELECT doc_id, count(*) AS n_hits
        |FROM g8 JOIN bench USING (g)
        |WHERE doc_id % 53 <> 0
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_domain_mix" ->
      """WITH tok AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> length(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents),
        |agg AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |  FROM tok GROUP BY source),
        |sh AS (
        |  SELECT source, n_docs, n_tokens,
        |    n_tokens::DOUBLE / sum(n_tokens) OVER () AS share FROM agg)
        |SELECT source, n_docs, n_tokens,
        |  round(share, 6) AS tok_share,
        |  round(pow(share, 0.3) / sum(pow(share, 0.3)) OVER (), 6)
        |    AS samp_weight
        |FROM sh ORDER BY source""".stripMargin
  )
}
