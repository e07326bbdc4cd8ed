package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Similarity search over the `embeddings` table (`vec_id`,
  * `embedding: array<float>` dim-64, `label`) — SURVEY.md §2.3
  * `sim_topk_cosine` + the ANN scale paths.
  *
  * All vector arithmetic is Catalyst expressions over doubles — float
  * inputs are widened exactly, the fold order is the array order in both
  * engines, and every cosine is rounded to 4 decimals BEFORE ranking so
  * the two engines rank identical values (ranking on raw doubles would
  * let a last-ulp summation difference flip a tie across engines).
  *
  * Scale notes (100 TB posture) — four plans, four cost envelopes:
  *  - `sim_topk_cosine`: brute-force scoring of a BOUNDED probe set
  *    ([[ProbeCount]] queries) against the full corpus. The probe side is
  *    broadcast and stays constant-size as the corpus grows; the corpus
  *    never shuffles and the pair stream is O(q·n) — linear in n.
  *  - `dedup_near_embedding` is trained-IVF cell blocking
  *    ([[nearDupBlocked]]) — candidates share a probed cell, met by the
  *    engine's one salted self-join ([[Blocking.candidates]]); pair work
  *    is O(n^1.5) under the √n cell sizing, and the oracle replays the
  *    identical pipeline so the gate stays hash-exact.
  *  - `sim_ann_ivf` restricts the search to the query's own cell (here:
  *    the pre-assigned `label`, standing in for a nearest-centroid
  *    assignment computed at ingest), sub-clustered by the trained
  *    √n-cell quantizer ([[ivfProbePairs]], the probe join
  *    `sim_ann_ivf_trained` runs without the label): the join key is
  *    (label, quantizer cell), so pair work is Σ|label ∩ cell|² instead
  *    of the fixed-vocabulary Ω(n²/|labels|). One hash shuffle on the
  *    composite cell key co-locates each cell.
  *  - `sim_ann_lsh` buckets by hyperplane-sign bands through
  *    [[Blocking.multiIndexPairs]], the salted multi-index probe that
  *    `dedup_simhash` uses above hamming 4.
  *
  * Every per-query neighbour ranking — both IVF keys, `sim_ann_lsh`,
  * `sim_topk_cosine` and the recall gates — is one [[topK]] call.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  /** Bounded probe set for the brute-force baseline: the first
    * `ProbeCount` vec_ids. The contract is "score a bounded query set
    * against the full corpus" — q stays CONSTANT as n scales, so the
    * broadcast build side and the q·n pair stream grow linearly with the
    * corpus, never quadratically. A deterministic id-prefix keeps the
    * subset oracle-expressible (`WHERE vec_id < 100` in DuckDB).
    */
  private val ProbeCount = 100

  /** Probed cells per vector in `dedup_near_embedding`'s blocked plan —
    * the oracle replays this value.
    */
  private val NearEmbNprobe = 3

  /** Probe-cell width past which `dedup_near_embedding` salts a cell
    * when `spark.graft.lsh.hotBucketWidth` is unset. k-means cells are
    * not uniform: one skewed cell at the sf100 probe put its whole
    * width² pair work in one join task (jstack: one RUNNABLE worker for
    * 26 min). Every committed fixture's cells sit far below it.
    */
  private val HotCellWidth = 4096

  /** `sim_ann_lsh`'s combined 128-bit hamming cut: clone pairs measure
    * 8–14, random pairs concentrate at 64 ± 5.7.
    */
  private val AnnLshMaxDist = 24

  /** vec_id + embedding widened to double + precomputed L2 norm. No
    * repartition here: each consumer rebalances on ITS join/compute key
    * (a shared vec_id exchange was pure overhead for the cell- and
    * block-keyed plans — measured as a 3× regression on `sim_ann_ivf`).
    */
  private def vecs(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      // a row with no embedding never enters the vector pipeline (the
      // mediaTable discipline): Spark's null vector poisons the scorer
      // to a null cell while the oracles' nulls-last row_number would
      // still assign one — dropping at the boundary keeps both engines
      // identical on nulled input
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(graft.expr.VectorExprs.dot(col("v"), col("v"))))

  // fused codegen'd dot product (graft.expr.DotProduct) — the HOF
  // composition aggregate(zip_with(·,·,*),+) computes the same fold but
  // interpreted, with an intermediate array per pair
  // floor(x·1e4 + 0.5), not round(): the ranked/thresholded cosine is
  // a DIVISION result, the class where Spark's BigDecimal HALF_UP and
  // DuckDB's binary rounding can split on a representable half-boundary
  // (this file measured the mechanism on the int8 scale at 3.85e-7) —
  // the floor spelling is the identical IEEE expression on both engines
  private[graft] def cosine(av: Column, bv: Column, an: Column, bn: Column): Column =
    floor(graft.expr.VectorExprs.dot(av, bv) / (an * bn) * 1e4 + 0.5) / 1e4

  /** IVF index TRAINING — Lloyd's k-means over DataFrames, producing the
    * nearest-centroid cell assignment `sim_ann_ivf` consumes as a given.
    *
    * Shape per round (the 100 TB envelope):
    *  - ASSIGN: the K-row centroid relation is broadcast and
    *    cross-joined; `min_by(cid, d²)` per vector — the corpus never
    *    shuffles to be assigned, cost is a linear K·dim scan per row.
    *  - UPDATE: element-wise centroid mean via posexplode + (cid, pos)
    *    groupBy — the one shuffle per round carries K·dim averaged
    *    cells (map-side partial sums), not vectors.
    *  - The driver loop is control-plane only, exactly like
    *    dedup_clusters: K rows of centroid state per round, passed
    *    through [[graft.InternalCaches.cut]].
    *
    * Determinism: centroid coordinates are rounded to 6 decimals each
    * round, so the order-dependent last-ulp of the distributed mean
    * cannot flip a boundary assignment between runs. Seeds are the K
    * lowest vec_ids — deterministic, no RNG. d² is the sequential
    * Σ(v_j−c_j)² fold inside [[graft.expr.CentroidScores]]. That
    * determinism is strong enough for a FULL SQL oracle (r7): 3 unrolled
    * assign/update CTE rounds in DuckDB reproduce the output
    * bit-for-bit. The assignment self-consistency, objective-descent,
    * and determinism laws additionally live in AccuracySpec.
    *
    * [[ivfCentroids]] runs the training loop and returns the final K-row
    * centroid relation `(cid, c)` (materialized — the consumers read it
    * from every task). [[scoredVecs]] packs those K rows into ONE
    * broadcast row and scores every vector against all of them in a
    * single codegen'd projection ([[graft.expr.CentroidScores]]) — so
    * assignment (scores[0]) and the multi-probe set (a front slice) are
    * both MAP-ONLY: the corpus is never shuffled to be assigned. The
    * declarative alternative (K-row crossJoin + groupBy(vec_id) min_by)
    * re-shuffled the whole corpus, vectors and all, once per k-means
    * round. [[ivfFit]] is the fitted corpus — every vector with its
    * learned argmin cell, carrying (v, nrm) so a consumer probes without
    * re-joining the embeddings table.
    */
  private def scoredVecs(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(
        cents.agg(sort_array(collect_list(struct(col("cid"), col("c"))))
          .as("cs"))))
      .withColumn("sc",
        graft.expr.VectorExprs.centroidScores(col("v"), col("cs")))
      .drop("cs")

  private def assignCells(v: DataFrame, cents: DataFrame): DataFrame =
    scoredVecs(v, cents)
      .select(col("vec_id"), col("v"), col("nrm"),
        col("sc").getItem(0).getField("cid").as("cell"),
        col("sc").getItem(0).getField("d2").as("d2"))

  /** THE multi-probe cell generator: one row per of the `nprobe`
    * nearest trained centroids under the (d², cid) ranking baked into
    * the scored `sc` array. Defined once — [[ivfProbePairs]] (both IVF
    * keys) and [[nearDupBlocked]] pin their SQL replays to exactly this
    * meaning, so the slice semantics must never drift between them
    * (review finding r10).
    */
  private def probeCellCol(nprobe: Int): Column =
    explode(transform(slice(col("sc"), 1, nprobe), x => x.getField("cid")))

  /** [[scoredVecs]] cut to the top-`nprobe` slice and persisted EAGERLY,
    * the one scored relation every probe join reads from both sides —
    * unpopulated, the K-centroid scoring projection (and the cached
    * k-means lineage above it) would run once per side. Only the slice
    * is cached (r13): centroidScores ranks all k ∝ √n centroids, ~10 KB
    * per row at the sf100 probe's k = 500 — a ~20 GB cache whose unroll
    * chunks heap-OOM'd sim_ann_ivf at 16 g — while every consumer reads
    * only sc[0] and slice(sc, 1, nprobe).
    */
  private def scoredSlice(v: DataFrame, cents: DataFrame,
                          nprobe: Int): DataFrame =
    graft.InternalCaches.persistTracked(
      scoredVecs(v, cents)
        .withColumn("sc", slice(col("sc"), 1, math.max(nprobe, 1))),
      eager = true)

  /** IVF cell count: the standard nlist ∝ √n sizing
    * (k = max(8, round(√(n/8)))) — a FIXED k makes within-cell pair work
    * Ω(n²/k), which the sf1 bench measured as a 13.9× cost on 10× data;
    * √n cells caps it at O(n^1.5). The count() is a one-scalar
    * control-plane read (parquet metadata). At sf0.01 (n=500) the
    * formula yields exactly 8, so the bit-exact DuckDB replay oracle is
    * unchanged — and the oracle computes k from count(*) the same way,
    * so the two sides stay in lockstep at ANY sf.
    */
  private def ivfK(s: SparkSession, d: String): Int =
    math.max(8, math.round(math.sqrt(
      embeddings(s, d).filter(col("embedding").isNotNull).count()
        / 8.0)).toInt)

  /** The Lloyd's training loop over an arbitrary (vec_id, v, nrm)
    * relation — extracted (r10) so the blocked near-dup path and the
    * accuracy laws can train on planted fixtures, not only the
    * embeddings table. Seeds are the k lowest vec_ids; the returned
    * K-row (cid, c) relation is materialized (every consumer task reads
    * it).
    */
  private[graft] def ivfCentroidsOf(v: DataFrame, k: Int,
                                    iters: Int): DataFrame = {
    // the k LOWEST ids via TakeOrdered — `vec_id < k` only seeds
    // correctly on dense 0-based ids (review finding r10: a planted
    // relation starting at 1000 would train on zero seeds and silently
    // return an empty index)
    var cents = graft.InternalCaches.cut(
      v.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id").cast("int").as("cid"), col("v").as("c")))
    (1 to iters).foreach { _ =>
      cents = graft.InternalCaches.cut(assignCells(v, cents)
        .select(col("cell").as("cid"), posexplode(col("v")))
        .groupBy(col("cid"), col("pos"))
        .agg(round(avg(col("col")), 6).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          col("m")))), x => x.getField("m")).as("c")))
    }
    // consumers then read a materialized final relation from every task
    cents.count()
    cents
  }

  private def ivfCentroids(s: SparkSession, d: String): DataFrame = {
    val iters = graft.Dials.IvfIters(s)
    ivfCentroidsOf(vecs(s, d).select(col("vec_id"), col("v"), col("nrm")),
      ivfK(s, d), iters)
  }

  private def ivfFit(s: SparkSession, d: String): DataFrame =
    assignCells(vecs(s, d).select(col("vec_id"), col("v"), col("nrm")),
      ivfCentroids(s, d))

  /** Cell-blocked candidate pairing for the embedding near-dup (the r10
    * DEFAULT plan of `dedup_near_embedding`): each vector probes its
    * `nprobe` nearest trained centroids, candidates are the pairs that
    * share a probed cell, and only candidates pay the exact cosine.
    * Cost is Σ_cells |probes∩cell|² ≈ nprobe²·n²/(2k) — with the √n
    * cell sizing that is O(n^1.5), vs the exact sweep's n²/2.
    *
    * Recall contract (measured, pinned in AccuracySpec): a TRUE
    * near-dup (cos ≥ ~0.9) and its source rank the centroid list
    * near-identically — their probe sets intersect with near-certainty
    * at any nprobe, so planted clones are never lost, even on a cell
    * boundary. Pairs at MODERATE similarity are a different regime: on
    * an isotropic corpus (this fixture: label-cell radii ≈ the uniform
    * √2 in normalized space, most cos-0.45 pairs cross labels) NO
    * partition of the sphere can separate θ ≈ 60° pairs from noise, so
    * blocking there trades recall for the n^1.5 envelope — measured
    * 122/144 at sf0.1 with nprobe = 3, and every exact pair recovered
    * at the sf0.01 gate.
    *
    * The pairing is [[Blocking.candidates]]' salted self-join with the
    * probed cell as the bucket, so a cell wider than [[HotCellWidth]]
    * spreads over the salt blocks. A candidate pair sharing several
    * probed cells is produced once per shared cell; the rounded cosine
    * is identical on every copy, so the post-filter `distinct()`
    * collapses them (dedup runs on the ≥θ survivors, not the candidate
    * stream).
    */
  private[graft] def nearDupBlocked(v: DataFrame, cents: DataFrame,
      nprobe: Int, threshold: Double): DataFrame = {
    val scored = scoredSlice(v, cents, nprobe)
    // one cell is one bucket: no band to fall back on, so the
    // degenerate-bucket cap (an LSH band policy) stays off
    val postings = scored.select(col("vec_id").as("doc_id"),
      lit(0).as("band"), probeCellCol(nprobe).as("bhash"),
      col("v"), col("nrm"))
    Blocking.candidates(postings, carry = Seq("v", "nrm"),
        hotDflt = HotCellWidth, capDegenerate = false)
      .select(col("a"), col("b"),
        cosine(col("v_a"), col("v_b"), col("nrm_a"), col("nrm_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
      .orderBy("a", "b")
  }

  val queries: Map[String, Q] = Map(
    // IVF training (see [[ivfFit]]): every vector with its learned
    // cell and the squared distance to its centroid.
    "sim_ivf_train" -> ((s, d) => ivfFit(s, d)
      .select(col("vec_id"), col("cell"),
        (floor(col("d2") * 1e4 + 0.5) / 1e4).as("d2"))
      .orderBy("vec_id")),

    // End-to-end IVF: train, index, MULTI-PROBE — the production IVF
    // search shape. [[ivfCentroids]] learns the cells; the corpus is
    // indexed by its argmin cell ([[ivfFit]], persisted — both the index
    // and the probe stages consume the trained state, and uncached the
    // k-means rounds would re-run per branch); each QUERY probes its
    // `spark.graft.ivf.nprobe` (default 2) nearest centroids. Single-
    // probe recall fails exactly when a true neighbor sits across a cell
    // boundary — a planted clone of a boundary vector lands in the
    // adjacent cell (measured: 3/5 clones co-cell at sf0.01). Probing
    // the top-2 centroids covers it: a near-clone's distance to any
    // centroid differs from its source's by at most the perturbation, so
    // the source's cell is always near the top of the clone's centroid
    // ranking. Cost envelope: probe replication is nprobe×q rows, pair
    // work stays Σ(probe∩cell) after ONE shuffle on the cell id — the
    // same shape that survives a 1000× corpus. Fully oracle-gated (r7):
    // the DuckDB side replays the k-means rounds then the probe+rank
    // stage; the planted-clone recall law in AccuracySpec remains the
    // end-to-end accuracy pin.
    "sim_ann_ivf_trained" -> ((s, d) =>
      topK(ivfProbePairs(s, d, Nil), 3, col("vec_id"))
        .orderBy("vec_id", "rn")),

    // Brute-force top-5 cosine neighbors for each of the ProbeCount probe
    // vectors ([[probeScores]]).
    "sim_topk_cosine" -> ((s, d) =>
      topK(probeScores(vecs(s, d), "v", "nrm"), 5, col("vec_id"))
        .orderBy("vec_id", "rn")),

    // HYBRID retrieval with reciprocal-rank fusion: the modern RAG /
    // training-data retrieval shape — rank the corpus by keyword match
    // (summed query-term tf, a map-side scalar) AND by embedding cosine
    // against a probe vector, take the top-20 of each, and fuse with
    // RRF: score = Σ 1/(60 + rank). Scale shape: each candidate list is
    // a TakeOrderedAndProject (k-heap, NEVER a corpus-wide window); the
    // row_number that assigns ranks runs over the 20-row survivor set
    // (bounded by construction, a single tiny task); the probe vector
    // broadcasts as one row; the fusion join is 20×20. The ORDER BY is
    // a total order (score, doc_id) on both sides of the limit, so the
    // cut and the ranks are deterministic across engines.
    "sim_hybrid_rrf" -> ((s, d) => {
      val K = 20
      val probe = vecs(s, d).filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("nrm").as("qn"))
      val vecTop = vecs(s, d).filter(col("vec_id") =!= 0)
        .join(broadcast(probe))
        .select(col("vec_id").as("doc_id"),
          cosine(col("v"), col("qv"), col("nrm"), col("qn")).as("cos"))
        .orderBy(col("cos").desc, col("doc_id")).limit(K)
        .withColumn("vr", row_number().over(
          Window.orderBy(col("cos").desc, col("doc_id"))))
      val terms = Seq("join", "scan", "vector")
      val kwTop = documents(s, d)
        .withColumn("t", split(col("text"), " "))
        .select(col("doc_id"),
          terms.map(q => size(filter(col("t"), x => x === lit(q))))
            .reduce(_ + _).as("kw"))
        .filter(col("doc_id") =!= 0 && col("kw") > 0)
        .orderBy(col("kw").desc, col("doc_id")).limit(K)
        .withColumn("kr", row_number().over(
          Window.orderBy(col("kw").desc, col("doc_id"))))
      vecTop.select(col("doc_id"), col("vr"))
        .join(kwTop.select(col("doc_id"), col("kr")), Seq("doc_id"),
          "full")
        .select(col("doc_id"), col("kr"), col("vr"),
          round(coalesce(lit(1.0) / (lit(60) + col("vr")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("kr")), lit(0.0)), 6)
            .as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
    }),

    // Embedding-cosine near-dup: pairs whose rounded cosine clears the
    // threshold, through trained-IVF cell blocking ([[nearDupBlocked]]):
    // candidates share one of their nprobe = 3 probed cells, so pair
    // work is O(n^1.5) under the √n cell sizing instead of an exact
    // sweep's n²/2 — the only plan that survives a 100 TB corpus. The
    // oracle replays the identical k-means + probe + pair pipeline in
    // SQL (same ivfReplayCtes as the other trained-IVF keys), so the
    // gate is hash-exact BY CONSTRUCTION at any sf; the recall-vs-exact
    // contract (clones never lost; moderate-cos pairs best-effort — all
    // 14 exact pairs recovered at sf0.01) is pinned in AccuracySpec.
    // The filter cuts on the ROUNDED value so both engines cut on
    // identical numbers.
    "dedup_near_embedding" -> ((s, d) => nearDupBlocked(
      vecs(s, d).select(col("vec_id"), col("v"), col("nrm")),
      ivfCentroids(s, d), NearEmbNprobe, 0.45)),

    // LSH-bucketed ANN — the hash-based alternative to the IVF cell
    // restriction: a 64-bit hyperplane sign sketch per vector (codegen'd,
    // graft.expr.SignSketch64), bucketed through the MULTI-INDEX probe
    // (Blocking.multiIndexPairs): 4 bands of 16 bits as 65 536-way
    // index keys posted exactly, the query side probing every key
    // within 1 bit flip (17 masks/band — the simhash machinery at ANN
    // dials), then a SECOND-SKETCH verify (r12), then exact rounded
    // cosine + top-3 per query. Per-bit collision P is 1 − θ/π, so a
    // clone pair at cos ≈ 0.995 (P ≈ 0.97) agrees to ≤1 bit on some
    // band with P(miss) ≈ (1−0.92)⁴ ≈ 5e-5, while a random pair passes
    // a band with P ≈ 17/65536 — ×4 bands ≈ 0.1 % of all pairs.
    //
    // CAPACITY LADDER, each rung measured: the r11 8-bit-band form keyed
    // a FIXED 256-value vocabulary (collision mass 8·n²/256 — sf3
    // exponent 2.62, 14→250 s); the r12 16-bit multi-probe rebuild cut
    // the quadratic constant 256× but the 2¹⁶-value vocabulary still
    // saturated at the sf10 decade (collision mass 68·n²/2¹⁶ ≈ 4e7
    // candidate rows at 200 k vectors — solo 121 s, exponent 1.55, ALL
    // of it spent shuffling raw candidates through distinct + two
    // float[64] join-backs + the window sort). The r12 second-sketch
    // cascade keeps the band probe EXACTLY as-is (it is the recall
    // guarantee: any pair within 7 bits on sketch A is caught by
    // pigeonhole) and threads an INDEPENDENT seed-split sketch B through
    // the postings (multiIndexPairs carry), cutting on combined
    // 128-bit hamming INSIDE the join's output stage — codegen-fused,
    // zero extra shuffle. Random pairs sit at hamming₁₂₈ ~ Binom(128,½)
    // = 64 ± 5.7 while clone pairs measure 8–14, so the cut at 24 is
    // > 7σ below the noise mean (P ≈ 1e-12): everything DOWNSTREAM of
    // the band join — the distinct's wide shuffle, both vector
    // join-backs, the ranking — is output-sized at any corpus size. What
    // remains quadratic is only the in-stage bit_count stream itself
    // (68·n²/2¹⁶ register ops, no shuffle, no memory): ~4e7 at 200 k
    // vectors, compute-bound. The r13 sf30 probe measured where that
    // term actually arrives: 14.1 s at sf10 → 48.0 s at sf30 (exponent
    // 1.11 on the half-decade — the candidate stream grew 9× on 3×
    // data, ~4.8e7 → 4.3e8 rows), so the wall is ~0.5 decades past
    // sf10, not the 3 r12 estimated. It stays in-stage CPU: on a
    // many-executor cluster it parallelizes with the scan, and the
    // knob is band geometry (wider bands cut the 1/2¹⁶ vocabulary
    // factor at a recall trade — the 4×16 radius-1 structure is what
    // makes the d_A ≤ 7 pigeonhole exact for the measured 4–7-flip
    // clones, so the default keeps recall and pays CPU).
    //
    // Moderate-cos neighbors (θ ≈ 60°) are NOT this operator's
    // contract — that regime belongs to `sim_ann_ivf`, which partitions
    // by data clusters instead of hash geometry (see AccuracySpec's
    // recall law). Two persists, matched to the read pattern: the
    // (vec_id, v, nrm) relation feeds both verification joins, and the
    // 24-byte/row (vec_id, skA, skB) sketch relation feeds the THREE
    // branches of the salted multi-index join (hot-key agg +
    // exact/variant sides) — uncached, the two 64-hyperplane sketches
    // would re-run per branch. FULL oracle gate since r14: the
    // hyperplane signs are md5-basis (expr/HyperplanePlanes — bit j of
    // md5-u64("hp:<seed>:<i>")), so DuckDB replays the whole pipeline —
    // both sketches in dimension order, the exact band-collision
    // predicate (∃ 16-bit band within 1 flip: precisely the radius-1
    // multi-probe's collision set), the 128-bit cut, cosine, top-3 —
    // and the key graduates from rows-only to rows+schema+hash. The
    // recall law stays in AccuracySpec.
    //
    // GATE OBSERVABILITY (r13, closing the r12 verdict's vacuity item):
    // the r12 cascade passes only near-clone pairs (cos ≳ 0.93), and the
    // driver fixtures plant none — so the rows-only gate read 0 and
    // could no longer distinguish "working cascade" from "broken
    // candidate join". The key therefore ingests a DERIVED CLONE PROBE
    // VIEW alongside the corpus (the dedup_lsh_ingest pattern): every
    // `spark.graft.annlsh.probeEvery`-th vector (default 13; 0 disables)
    // re-enters at vec_id + 500000 with its first coordinate perturbed
    // by +0.05. The size is chosen for DETERMINISTIC recall on any
    // regenerated fixture: +0.05 is θ ≈ 3° on this embedding scale,
    // ~1 flipped bit per 64-bit sketch in expectation (measured; the
    // recall law's +0.2 measures ~4, and 3 of 39 sf0.01 pairs then
    // landed past the ≤7-bit sketch-A pigeonhole bound), so P(a pair
    // exceeds 7 flips) ≈ 1e-6 — every clone-source pair is caught by
    // the band probe's hard guarantee, not by banding luck.
    // Expected-rows derivation for the driver gate: at sf0.01 the
    // embeddings table has 500 vectors → 39 clones (vec_id 0,13,…,494),
    // each clone-source pair emits BOTH rank-1 orientations, and no
    // organic pair clears the cascade on the driver fixtures, so
    // spark_rows = 78 — a pinned positive number; AccuracySpec's
    // non-vacuity law asserts the ≥ 2·⌈n/13⌉ bound plus the rank-1
    // pairing on the test fixture.
    "sim_ann_lsh" -> ((s, d) => {
      val p = s.sparkContext.defaultParallelism
      val raw = vecs(s, d)
      val probeEvery = graft.Dials.AnnlshProbeEvery(s)
      val corpus =
        if (probeEvery <= 0) raw.select(col("vec_id"), col("v"))
        else raw.select(col("vec_id"), col("v")).unionByName(
          raw.filter(col("vec_id") % probeEvery === 0)
            .select((col("vec_id") + 500000).as("vec_id"),
              transform(col("v"), (x, i) =>
                when(i === 0, x + lit(0.05)).otherwise(x)).as("v")))
      // rebalance BEFORE the sketch: a one-split parquet input would pin
      // the codegen'd sketch pass to a single task. The norm is
      // recomputed after the probe union so clone rows carry their own.
      val v = graft.InternalCaches.persistTracked(
        corpus
          .withColumn("nrm",
            sqrt(graft.expr.VectorExprs.dot(col("v"), col("v"))))
          .repartition(p, col("vec_id")), eager = true)
      // coalesce pins the sketch non-nullable: embedding is nullable in
      // the parquet schema, and a nullable band key would demote the
      // bucket join's HashedRelation probe to its slow path (PlanSpec)
      // both EAGER (caches.scala contract): v feeds the sketch + two
      // verification joins, sk feeds three branches of the salted band
      // join, all within one action — lazily, the projection and the
      // 64-hyperplane sketch re-ran per concurrently-submitted branch
      val sk = graft.InternalCaches.persistTracked(
        v.select(col("vec_id").as("doc_id"),
          coalesce(graft.expr.VectorExprs.signSketch64(col("v")), lit(0L))
            .as("fp"),
          // seed splits an independent hyperplane family (splitmix64
          // golden gamma — any constant ≠ 42 works): sketch B only
          // VERIFIES, so its nullability never reaches a join key, but
          // coalesce anyway for the codegen null-check-free fast path
          coalesce(graft.expr.VectorExprs.signSketch64(col("v"),
            seed = 0x9E3779B97F4A7C15L), lit(0L)).as("fp2")),
        eager = true)
      // the 128-bit cut: sketch A (fp) and sketch B (fp2) both ride the
      // carry. The filter fuses into the join's output stage
      // (whole-stage codegen), so the distinct —
      // the first shuffle of the candidate stream — sees survivors only.
      // unordered collision pairs → both orientations (top-k is per
      // query). Emitted via ONE explode, not a self-union: a union would
      // reference the candidate subtree (hot agg, multi-index join,
      // distinct) twice and execute it twice.
      val cand = Blocking.multiIndexPairs(sk, Seq(16, 16, 16, 16), 1,
          carry = Seq("fp2"))
        .filter(Blocking.hamming("fp") + Blocking.hamming("fp2")
          <= AnnLshMaxDist)
        .select(col("a"), col("b")).distinct()
        .select(explode(array(
          struct(col("a").as("vec_id"), col("b").as("nbr_id")),
          struct(col("b").as("vec_id"), col("a").as("nbr_id")))).as("p"))
        .select(col("p.vec_id").as("vec_id"), col("p.nbr_id").as("nbr_id"))
      // vector join-backs: candidates × full corpus with float[64]
      // payloads — shuffle_HASH pinned on the vector side (scale-safe
      // per-partition build; a sort-merge pin here sorted the wide
      // candidate stream, measured 5.2→39.8 s on the sf1 key)
      val scored = cand
        .join(v.select(col("vec_id"), col("v"), col("nrm"))
          .hint("shuffle_hash"), "vec_id")
        .join(v.select(col("vec_id").as("nbr_id"), col("v").as("bv"),
          col("nrm").as("bn")).hint("shuffle_hash"), "nbr_id")
        .select(col("vec_id"), col("nbr_id"),
          cosine(col("v"), col("bv"), col("nrm"), col("bn")).as("cos"))
      topK(scored, 3, col("vec_id")).orderBy("vec_id", "rn")
    }),

    // IVF-style ANN restricted to the query's own cell (label), top-3
    // per query. The label vocabulary is FIXED, so a plain within-label
    // self-join is Ω(n²/|labels|) as n grows — measured 13.5× cost on
    // 10× data at sf1. [[ivfProbePairs]] therefore sub-clusters every
    // label cell by the trained √n-cell quantizer: the join key becomes
    // (label, quantizer cell), and pair work shrinks by ~k× at a bounded
    // recall cost (multi-probe on the query side; candidates stay a
    // SUBSET of the label cell, which AccuracySpec pins along with the
    // pair-count bound). The oracle replays the refined pipeline, so the
    // gate stays rows+schema+hash. label rides the ranking's grouping
    // key (functionally dependent on vec_id).
    "sim_ann_ivf" -> ((s, d) =>
      topK(ivfProbePairs(s, d, Seq("label")), 3, col("vec_id"),
        col("label")).orderBy("vec_id", "rn")),

    // INT8 symmetric per-vector quantization of the embedding column —
    // the 4× memory/IO compression a 100 TB ANN index runs on (float32
    // corpus → int8 codes + one float scale per vector). scale =
    // max|x|/127 (zero-vector guarded at 1e-12); q_i = clamp_{±127}
    // (floor(x_i/scale + 0.5)) — floor(·+0.5) SPELLED OUT rather than
    // round() so both engines execute the identical IEEE expression.
    // Emits the code vector as a joined string (driver compare hashes
    // scalars), the scale, and the per-vector reconstruction MSE.
    // Scale shape: map-only codegen projection, zero shuffle; at
    // cluster scale this writes the quantized index partition-parallel.
    "embed_quantize_int8" -> ((s, d) =>
      withInt8Codes(vecs(s, d))
        .withColumn("q", transform(col("qf"), x => x.cast("int")))
        // scale/mse land on arbitrary doubles — round() hits half-
        // boundary disagreements between engines (observed: 3.85e-7),
        // so both are emitted as floor(x·10⁹ + 0.5) integers: the same
        // IEEE expression on the same double is bit-deterministic.
        .select(col("vec_id"),
          floor(col("scale") * 1e9 + 0.5).cast("long").as("scale_ppb"),
          array_join(col("q"), ",").as("codes"),
          floor(
            aggregate(zip_with(col("v"), col("q"),
                (a, b) => (a - b * col("scale")) * (a - b * col("scale"))),
              lit(0.0), (acc, x) => acc + x) / size(col("v")) * 1e9 + 0.5)
            .cast("long").as("mse_ppb"))
        .orderBy("vec_id")),

    // Quantization-quality evaluation: for each probe (the bounded
    // vec_id < ProbeCount set, as sim_topk_cosine), the top-5 float
    // neighbors vs the top-5 neighbors under int8-reconstructed vectors
    // (q·scale, norms recomputed) — recall@5 = |overlap|/5. The go/no-go
    // gate before switching an ANN deployment to the compressed index.
    // Scale shape: two bounded-probe broadcast joins (corpus never
    // shuffles) + a 5-row-per-probe overlap join; O(q·n) like its float
    // twin, with q fixed.
    "sim_recall_int8" -> ((s, d) =>
      recallVsVariant(s, d)(base => withInt8Codes(base)
        .withColumn("vq",
          transform(col("qf"), x => x * col("scale"))))),

    // Matryoshka-style dimension-truncation gate: the SAME recall@5
    // question for the other production compression — search on a
    // 16-dim prefix of the 64-dim embedding (4× fewer dot-product
    // flops and index bytes). Which compression an ANN deployment can
    // afford — int8 codes or a truncated prefix — is exactly the pair
    // of recall gates this and `sim_recall_int8` measure.
    "sim_recall_prefix" -> ((s, d) =>
      recallVsVariant(s, d)(base => base
        .withColumn("vq", slice(col("v"), 1, 16))))
  )

  /** The IVF probe join, pre-ranking, as `(vec_id, keys…, nbr_id, cos)`:
    * each query probes its `spark.graft.ivf.nprobe` nearest trained
    * centroids, the index posts each vector in its argmin cell, and a
    * pair must also agree on every column of `keys` — `Nil` for
    * `sim_ann_ivf_trained`, `Seq("label")` for `sim_ann_ivf`, whose
    * label cells are thereby sub-clustered by the TRAINED quantizer
    * ([[ivfCentroidsOf]] over the whole corpus — one model, reused
    * across labels). Label candidates are a SUBSET of the plain label
    * join (the rank-1 cosine can only drop — AccuracySpec pins both that
    * ordering and the pair-count shrink), and within-refined-cell pair
    * work is Σ|label ∩ cell|² ≈ n²·nprobe/(|labels|·k) — the k× cut that
    * keeps the fixed label vocabulary from going Ω(n²/|labels|) as n
    * grows.
    */
  private[graft] def ivfProbePairs(s: SparkSession, d: String,
      keys: Seq[String]): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    val nprobe = graft.Dials.IvfNprobe(s)
    // ONE map-only scoring pass feeds both sides: scores[0] is the
    // index cell, the front slice is the probe set (nearest first,
    // ties broken by cid — deterministic)
    val vecCols = (("vec_id" +: keys) ++ Seq("v", "nrm")).map(col)
    val scored = scoredSlice(vecs(s, d).select(vecCols: _*),
      ivfCentroids(s, d), nprobe)
    val probes = scored
      .select(vecCols :+ probeCellCol(nprobe).as("pcell"): _*)
      .repartition(p, (keys.map(col) :+ col("pcell")): _*)
    val index = scored.select(keys.map(k => col(k).as(s"b$k")) ++ Seq(
      col("sc").getItem(0).getField("cid").as("bcell"),
      col("vec_id").as("nbr_id"), col("v").as("bv"),
      col("nrm").as("bn")): _*)
    val cell = (keys.map(k => col(k) === col(s"b$k"))
      :+ (col("pcell") === col("bcell"))).reduce(_ && _)
    // probes and index are both the full vector corpus — pinned
    // shuffle_hash, build on the 1-row/vec index side (broadcast-cliff
    // hazard, see Blocking.candidates; sort-free, cell keys are coarse)
    probes.join(index.hint("shuffle_hash"),
        cell && col("vec_id") =!= col("nbr_id"))
      .select((col("vec_id") +: keys.map(col)) ++ Seq(col("nbr_id"),
        cosine(col("v"), col("bv"), col("nrm"), col("bn")).as("cos")): _*)
      // NO distinct, by proof (r13): a (vec_id, nbr_id) pair can meet
      // AT MOST ONCE here — the index side posts exactly ONE row per
      // neighbor (its argmin cell, sc[0]), and the probe side's cells
      // are distinct cids (a slice of the sorted centroid ranking), so
      // the equi-join key matches a pair only at the neighbor's single
      // cell. At the sf100 probe a no-op distinct here was a FULL
      // 1.6e9-row aggregate whose sort-fallback spill heap-OOM'd the
      // key. (nearDupBlocked's distinct is NOT this case: both of its
      // sides explode probe cells, so pairs there genuinely duplicate —
      // but only ≥-threshold survivors reach it.)
  }

  /** Top-`k` neighbours per query of a `(keys…, nbr_id, cos)` candidate
    * stream as `(keys…, rn, nbr_id, cos)`, unsorted: each caller adds
    * its own presentation sort. The first key is the query id; any
    * further key must be functionally dependent on it, and the stream
    * must hold one row per (query, nbr_id). Ranks by (cos desc, nbr_id)
    * through the bounded [[graft.expr.TopKByScore]] aggregate: its
    * exchange carries ≤ k rows per query and nothing sorts the stream,
    * where a rank window sorts all of it (Spark's partial
    * WindowGroupLimit only trims each sorted partition to k per query
    * before the exchange) — ~1.8e8 rows at sf10 for
    * `sim_ann_ivf_trained`, and at the sf100 probe `sim_ann_ivf`'s
    * ~1.6e9-row rank sort spilled past the box's disk.
    */
  private[graft] def topK(pairs: DataFrame, k: Int,
                          keys: Column*): DataFrame = {
    val topk = udaf(graft.expr.TopKByScore(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Double, Long)]())
    pairs.groupBy(keys: _*)
      .agg(topk(col("cos"), col("nbr_id")).as("tk"))
      .select(keys :+ posexplode(col("tk")): _*)
      .select(keys ++ Seq((col("pos") + 1).as("rn"),
        col("col._2").as("nbr_id"), col("col._1").as("cos")): _*)
  }

  /** The brute-force probe scorer: every bounded probe (`vec_id <`
    * [[ProbeCount]]) of `rel` against every other vector of `rel`, under
    * the vector column `vecCol` and its norm `nrmCol`, as
    * `(vec_id, nbr_id, cos)`. The probe side is broadcast (bounded by
    * construction — the plan pin is the pushed vec_id range filter on
    * the broadcast branch); the corpus side streams, rebalanced on
    * vec_id so the O(q·n·dim) dot-product work spreads across the
    * cluster instead of the input split count.
    */
  private def probeScores(rel: DataFrame, vecCol: String,
                          nrmCol: String): DataFrame = {
    val p = rel.sparkSession.sparkContext.defaultParallelism
    val corpus = rel.repartition(p, col("vec_id"))
      .select(col("vec_id").as("nbr_id"), col(vecCol).as("bv"),
        col(nrmCol).as("bn"))
    val probes = broadcast(rel.filter(col("vec_id") < ProbeCount)
      .select(col("vec_id"), col(vecCol).as("pv"), col(nrmCol).as("pn")))
    corpus.join(probes, col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        cosine(col("pv"), col("bv"), col("pn"), col("bn")).as("cos"))
  }

  /** Shared harness of the recall@5 gates: per bounded probe
    * ([[ProbeCount]]), the top-5 neighbors under the exact float vectors
    * vs the top-5 under a VARIANT representation (the `variant` callback
    * adds a `vq` column — quantized, truncated, …; its norm is
    * recomputed here) — n_match/recall@5 per probe. Both rankings are
    * [[probeScores]] joins: the corpus never shuffles, pair work
    * is O(q·n) with q fixed, and the overlap join is 5 rows/probe.
    * Cosine rounds to 4 BEFORE ranking, ties by nbr_id — deterministic
    * across engines, so the oracle replays both rankings verbatim.
    */
  private def recallVsVariant(s: SparkSession, d: String)(
      variant: DataFrame => DataFrame): DataFrame = {
    val deq = variant(vecs(s, d).select(col("vec_id"), col("v"), col("nrm")))
      .select(col("vec_id"), col("v"), col("nrm"), col("vq"),
        sqrt(graft.expr.VectorExprs.dot(col("vq"), col("vq"))).as("nq"))
    // the two rankings share deq's lineage — rename BOTH of the variant
    // side's columns so the join never resolves through the ambiguous
    // self-join attributes
    val fl = topK(probeScores(deq, "v", "nrm"), 5, col("vec_id"))
      .select(col("vec_id"), col("nbr_id"))
    val qt = topK(probeScores(deq, "vq", "nq"), 5, col("vec_id"))
      .select(col("vec_id").as("qvec_id"), col("nbr_id").as("qnbr_id"))
    fl.join(qt, col("vec_id") === col("qvec_id")
          && col("nbr_id") === col("qnbr_id"), "left")
      .groupBy(col("vec_id"))
      .agg(count(col("qnbr_id")).cast("int").as("n_match"))
      .select(col("vec_id"), col("n_match"),
        round(col("n_match") / 5.0, 2).as("recall5"))
      .orderBy("vec_id")
  }

  val oracle: Map[String, String] = Map(
    // Exact replay of the quantizer: same floor(x/scale + 0.5) spelling,
    // same 1e-12 zero guard, doubles end to end.
    "embed_quantize_int8" ->
      s"""WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |q AS (${int8SqlCte("e", "")})
        |SELECT vec_id,
        |  CAST(floor(scale * 1e9 + 0.5) AS BIGINT) AS scale_ppb,
        |  array_to_string([CAST(x AS INTEGER) for x in qf], ',') AS codes,
        |  CAST(floor(list_sum(list_transform(list_zip(v, qf),
        |    z -> (z[1] - z[2] * scale) * (z[1] - z[2] * scale)))
        |    / len(v) * 1e9 + 0.5) AS BIGINT) AS mse_ppb
        |FROM q ORDER BY vec_id""".stripMargin,
    // Both rankings replayed (float and variant-reconstructed), then
    // the per-probe overlap; cosine rounded to 4 BEFORE ranking, ties
    // by nbr_id, exactly as the Spark side.
    "sim_recall_int8" -> recallReplaySql(
      s"""dq AS (SELECT vec_id, v, nrm, [x * scale for x in qf] AS vq
        |       FROM (${int8SqlCte("n", "nrm,")}))""".stripMargin),
    "sim_recall_prefix" -> recallReplaySql(
      "dq AS (SELECT vec_id, v, nrm, v[1:16] AS vq FROM n)"),
    // Replays the DEFAULT blocked plan: the same unrolled k-means
    // rounds as the other trained-IVF oracles, probes = the nprobe = 3
    // nearest trained centroids per vector (rn ≤ 3 of the same
    // d²-then-cid ranking the codegen'd scorer uses), candidates = the
    // DISTINCT pairs sharing a probed cell, then the rounded-cosine
    // threshold. Constants pinned to the query defaults (nprobe 3,
    // θ 0.45) exactly as sim_ann_ivf_trained pins nprobe = 2.
    "dedup_near_embedding" ->
      (ivfReplayCtes +
      """ap AS (SELECT vec_id, v, cid AS cell FROM (
        |    SELECT x.vec_id, x.v, c.cid,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY x2.d2, c.cid) AS rn
        |    FROM v x CROSS JOIN u3 c
        |    CROSS JOIN LATERAL (
        |      SELECT list_sum(list_transform(list_zip(x.v, c.c),
        |        z -> (z[1] - z[2])*(z[1] - z[2]))) AS d2) x2
        |  ) WHERE rn <= 3),
        |nn AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm,
        |         cell FROM ap),
        |p AS (
        |  SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
        |    floor(list_sum([x.v[i] * y.v[i] for i in range(1, len(x.v)+1)])
        |          / (x.nrm * y.nrm) * 1e4 + 0.5) / 1e4 AS cos
        |  FROM nn x JOIN nn y
        |    ON x.cell = y.cell AND x.vec_id < y.vec_id)
        |SELECT a, b, cos FROM p WHERE cos >= 0.45 ORDER BY a, b""".stripMargin),
    "sim_hybrid_rrf" ->
      """WITH e AS (
        |  SELECT vec_id, [x::DOUBLE for x in embedding] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm
        |      FROM e),
        |q AS (SELECT v AS qv, nrm AS qn FROM n WHERE vec_id = 0),
        |vt AS (
        |  SELECT a.vec_id AS doc_id,
        |    floor(list_sum([a.v[i] * q.qv[i]
        |      for i in range(1, len(a.v)+1)]) / (a.nrm * q.qn)
        |      * 1e4 + 0.5) / 1e4 AS cos
        |  FROM n a, q WHERE a.vec_id <> 0),
        |vr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id)
        |    AS vr
        |  FROM (SELECT * FROM vt ORDER BY cos DESC, doc_id LIMIT 20)),
        |kw AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x = 'join'))
        |    + len(list_filter(string_split(text, ' '), x -> x = 'scan'))
        |    + len(list_filter(string_split(text, ' '), x -> x = 'vector'))
        |    AS kw
        |  FROM documents WHERE doc_id <> 0),
        |kr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY kw DESC, doc_id)
        |    AS kr
        |  FROM (SELECT * FROM kw WHERE kw > 0
        |        ORDER BY kw DESC, doc_id LIMIT 20)),
        |f AS (
        |  SELECT coalesce(vr.doc_id, kr.doc_id) AS doc_id,
        |    CAST(kr.kr AS INTEGER) AS kr, CAST(vr.vr AS INTEGER) AS vr
        |  FROM vr FULL JOIN kr ON vr.doc_id = kr.doc_id)
        |SELECT doc_id, kr, vr,
        |  round(coalesce(1.0 / (60 + vr), 0)
        |    + coalesce(1.0 / (60 + kr), 0), 6) AS rrf
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    // Full LSH replay (r14): hyperplane words from md5 (the
    // HyperplanePlanes basis — ExprSpec pins the engine-boundary
    // constant), sketch bits from ordered ±v folds (list comprehensions
    // preserve dimension order, the list_sum accumulation contract),
    // candidates = the EXACT multi-probe collision set (a radius-1
    // probe on 4×16-bit bands collides iff some band slice is within 1
    // flip) under the 128-bit cascade cut, then both orientations,
    // cosine, top-3. The clone probe view (every 13th vector at +0.05
    // on dim 1) replays the operator's default dial, like
    // text_containment's cap. range(0, 64) is the fixture's embedding
    // width (the oracle runs on the fixture; the operator reads any
    // width).
    "sim_ann_lsh" ->
      """WITH base AS (
        |  SELECT vec_id, [x::DOUBLE for x in embedding] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |corpus AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 500000 AS vec_id,
        |    [CASE WHEN i = 1 THEN v[i] + 0.05 ELSE v[i] END
        |     for i in range(1, len(v) + 1)] AS v
        |  FROM base WHERE vec_id % 13 = 0),
        |vn AS (
        |  SELECT vec_id, v, sqrt(list_sum([x * x for x in v])) AS nrm
        |  FROM corpus),
        |pl AS (
        |  SELECT s.seed, d.i,
        |    CAST('0x' || substr(md5('hp:' || s.seed || ':' || d.i), 1, 16)
        |      AS UBIGINT) AS h
        |  FROM (VALUES (42), (-7046029254386353131)) s(seed)
        |  CROSS JOIN range(0, 64) d(i)),
        |pls AS (SELECT seed, list(h ORDER BY i) AS hs FROM pl GROUP BY seed),
        |bits AS (
        |  SELECT vn.vec_id, pls.seed, r.j,
        |    CASE WHEN list_sum([CASE WHEN (pls.hs[i] >> r.j) & 1 = 1
        |                             THEN vn.v[i] ELSE -vn.v[i] END
        |                        for i in range(1, len(vn.v) + 1)]) > 0
        |         THEN 1::UBIGINT << r.j ELSE 0::UBIGINT END AS bit
        |  FROM vn CROSS JOIN pls CROSS JOIN range(64) r(j)),
        |sks AS (SELECT vec_id, seed, bit_or(bit) AS sk
        |        FROM bits GROUP BY vec_id, seed),
        |skw AS (
        |  SELECT vec_id,
        |    max(CASE WHEN seed = 42 THEN sk END) AS ska,
        |    max(CASE WHEN seed = -7046029254386353131 THEN sk END) AS skb
        |  FROM sks GROUP BY vec_id),
        |cand AS (
        |  SELECT x.vec_id AS a, y.vec_id AS b
        |  FROM skw x JOIN skw y ON x.vec_id < y.vec_id
        |  WHERE (bit_count(xor(x.ska, y.ska) & 65535::UBIGINT) <= 1
        |      OR bit_count((xor(x.ska, y.ska) >> 16) & 65535::UBIGINT) <= 1
        |      OR bit_count((xor(x.ska, y.ska) >> 32) & 65535::UBIGINT) <= 1
        |      OR bit_count((xor(x.ska, y.ska) >> 48) & 65535::UBIGINT) <= 1)
        |    AND bit_count(xor(x.ska, y.ska))
        |      + bit_count(xor(x.skb, y.skb)) <= 24),
        |ori AS (
        |  SELECT a AS vec_id, b AS nbr_id FROM cand
        |  UNION ALL SELECT b AS vec_id, a AS nbr_id FROM cand),
        |sc AS (
        |  SELECT o.vec_id, o.nbr_id,
        |    floor(list_sum([x.v[i] * y.v[i] for i in range(1, len(x.v) + 1)])
        |      / (x.nrm * y.nrm) * 1e4 + 0.5) / 1e4 AS cos
        |  FROM ori o JOIN vn x ON o.vec_id = x.vec_id
        |             JOIN vn y ON o.nbr_id = y.vec_id),
        |rk AS (
        |  SELECT vec_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, nbr_id) AS rn
        |  FROM sc)
        |SELECT vec_id, CAST(rn AS INTEGER) AS rn, nbr_id, cos
        |FROM rk WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin,
    "sim_topk_cosine" ->
      s"""WITH e AS (
        |  SELECT vec_id, [x::DOUBLE for x in embedding] AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm
        |      FROM e),
        |p AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id,
        |    floor(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v)+1)])
        |          / (a.nrm * b.nrm) * 1e4 + 0.5) / 1e4 AS cos
        |  FROM n a JOIN n b ON a.vec_id <> b.vec_id
        |  WHERE a.vec_id < $ProbeCount),
        |r AS (SELECT vec_id, nbr_id, cos,
        |        row_number() OVER (PARTITION BY vec_id
        |          ORDER BY cos DESC, nbr_id) AS rn
        |      FROM p)
        |SELECT vec_id, CAST(rn AS INTEGER) AS rn, nbr_id, cos
        |FROM r WHERE rn <= 5 ORDER BY vec_id, rn""".stripMargin,
    // Replays the refined-cell DEFAULT ([[ivfProbePairs]] with the label
    // key, r11): the same unrolled k-means rounds, probes = the
    // nprobe = 2 nearest trained centroids per vector (rn ≤ 2 of the
    // d²-then-cid ranking),
    // index = the argmin cell (rn = 1), candidates restricted to
    // label ∧ quantizer-cell agreement, then ranked. The DISTINCT is a
    // no-op: a pair meets at most once, at the neighbor's one index
    // cell, which is why the Spark side runs none (see ivfProbePairs).
    "sim_ann_ivf" ->
      (ivfReplayCtes +
      """ap AS (SELECT vec_id, v, cid AS cell, rn FROM (
        |    SELECT x.vec_id, x.v, c.cid,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY x2.d2, c.cid) AS rn
        |    FROM v x CROSS JOIN u3 c
        |    CROSS JOIN LATERAL (
        |      SELECT list_sum(list_transform(list_zip(x.v, c.c),
        |        z -> (z[1] - z[2])*(z[1] - z[2]))) AS d2) x2
        |  ) WHERE rn <= 2),
        |lab AS (SELECT vec_id, label FROM embeddings
        |        WHERE embedding IS NOT NULL),
        |nn AS (SELECT a.vec_id, a.v,
        |         sqrt(list_sum([x*x for x in a.v])) AS nrm,
        |         l.label, a.cell, a.rn
        |       FROM ap a JOIN lab l ON a.vec_id = l.vec_id),
        |idx AS (SELECT vec_id AS nbr_id, v AS bv, nrm AS bn,
        |          label AS blabel, cell AS bcell
        |        FROM nn WHERE rn = 1),
        |probes AS (SELECT vec_id, label, v, nrm, cell AS pcell FROM nn),
        |pairs AS (
        |  SELECT DISTINCT p.vec_id, p.label, i.nbr_id,
        |    floor(list_sum([p.v[j] * i.bv[j] for j in range(1, len(p.v)+1)])
        |          / (p.nrm * i.bn) * 1e4 + 0.5) / 1e4 AS cos
        |  FROM probes p
        |  JOIN idx i ON p.label = i.blabel AND p.pcell = i.bcell
        |    AND p.vec_id <> i.nbr_id)
        |SELECT vec_id, label, CAST(rn AS INTEGER) AS rn, nbr_id, cos FROM (
        |  SELECT vec_id, label, nbr_id, cos,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, nbr_id) AS rn
        |  FROM pairs) WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin),
    // FULL k-means SQL replay (r7): the training loop is deterministic by
    // construction — id-prefix seeds, centroids rounded to 6 decimals per
    // round (absorbs distributed-sum last-ulp), argmin tie-broken by cid —
    // so 3 unrolled assign/update CTE rounds reproduce the Spark output
    // bit-for-bit. d² is the same sequential Σ(v_j-c_j)² fold
    // (list_zip + list_sum ≡ the codegen'd loop, exact double equality
    // verified row-for-row at sf0.01 before this oracle landed). An empty
    // cell vanishes from the update in both engines (groupBy emits no
    // row). Constants pinned to the query defaults: 3 rounds, dim 64,
    // nprobe=2, top-3; the seed count replays the adaptive
    // k = max(8, round(√(n/8))) from [[ivfK]] via a scalar subquery on
    // count(*) — both sides derive k from the data, so they stay in
    // lockstep at any sf (= 8 at the sf0.01 gate).
    "sim_ivf_train" ->
      (ivfReplayCtes +
      """a4 AS (SELECT vec_id, v, cid AS cell, d2 FROM (
        |    SELECT x.vec_id, x.v, c.cid, x2.d2,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY x2.d2, c.cid) AS rn
        |    FROM v x CROSS JOIN u3 c
        |    CROSS JOIN LATERAL (
        |      SELECT list_sum(list_transform(list_zip(x.v, c.c),
        |        z -> (z[1] - z[2])*(z[1] - z[2]))) AS d2) x2
        |  ) WHERE rn = 1)
        |SELECT vec_id, cell, floor(d2 * 1e4 + 0.5) / 1e4 AS d2 FROM a4
        |ORDER BY vec_id""".stripMargin),
    // Same replay, then the multi-probe search stage: probes = the
    // nprobe=2 nearest trained centroids per vector (rn ≤ 2 of the same
    // ranking), index = the argmin cell (rn = 1); cosine rounded to 4
    // BEFORE ranking, exactly as the Spark side does.
    "sim_ann_ivf_trained" ->
      (ivfReplayCtes +
      """ap AS (SELECT vec_id, v, cid AS cell, d2, rn FROM (
        |    SELECT x.vec_id, x.v, c.cid, x2.d2,
        |      row_number() OVER (PARTITION BY x.vec_id
        |        ORDER BY x2.d2, c.cid) AS rn
        |    FROM v x CROSS JOIN u3 c
        |    CROSS JOIN LATERAL (
        |      SELECT list_sum(list_transform(list_zip(x.v, c.c),
        |        z -> (z[1] - z[2])*(z[1] - z[2]))) AS d2) x2
        |  ) WHERE rn <= 2),
        |nn AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm,
        |         cell, rn FROM ap),
        |idx AS (SELECT vec_id AS nbr_id, v AS bv, nrm AS bn, cell AS bcell
        |        FROM nn WHERE rn = 1),
        |probes AS (SELECT vec_id, v, nrm, cell AS pcell FROM nn),
        |pairs AS (
        |  SELECT p.vec_id, i.nbr_id,
        |    floor(list_sum([p.v[j] * i.bv[j] for j in range(1, len(p.v)+1)])
        |          / (p.nrm * i.bn) * 1e4 + 0.5) / 1e4 AS cos
        |  FROM probes p
        |  JOIN idx i ON p.pcell = i.bcell AND p.vec_id <> i.nbr_id)
        |SELECT vec_id, CAST(rn AS INTEGER) AS rn, nbr_id, cos FROM (
        |  SELECT vec_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos DESC, nbr_id) AS rn
        |  FROM pairs) WHERE rn <= 3 ORDER BY vec_id, rn""".stripMargin)
  )

  /** THE int8 quantizer, defined once (review finding r7: it was
    * spelled four times — two Scala copies + two SQL copies — while
    * every copy's comment demanded they stay "the identical IEEE
    * expression"). Adds `scale` = max|x|/127 (zero-guarded at 1e-12)
    * and `qf` = clamp±127(floor(x/scale + 0.5)) as DOUBLE codes;
    * `embed_quantize_int8` casts them to int, the recall variant
    * dequantizes with ·scale. [[int8SqlCte]] is the same two steps in
    * SQL for the oracles.
    */
  private def withInt8Codes(base: DataFrame): DataFrame =
    base
      .withColumn("scale",
        greatest(array_max(transform(col("v"), x => abs(x))),
          lit(1e-12)) / 127.0)
      .withColumn("qf", transform(col("v"), x =>
        greatest(lit(-127.0), least(lit(127.0),
          floor(x / col("scale") + 0.5)))))

  /** SQL twin of [[withInt8Codes]]: a CTE body computing (vec_id, v,
    * `extra` passthrough columns, scale, qf) from a relation named
    * `prev` with (vec_id, v, ...extra).
    */
  private def int8SqlCte(prev: String, extra: String): String =
    s"""SELECT vec_id, v, $extra scale,
       |         [greatest(-127.0, least(127.0, floor(x / scale + 0.5)))
       |          for x in v] AS qf
       |       FROM (SELECT vec_id, v, $extra
       |               greatest(list_max([abs(x) for x in v]), 1e-12)
       |                 / 127.0 AS scale FROM $prev)""".stripMargin

  /** Oracle builder for the recall@5 gates ([[recallVsVariant]] replay):
    * `variantCte` must define `dq(vec_id, v, nrm, vq)` from the norm'd
    * base relation `n`; the builder ranks top-5 under v and under vq
    * (norm recomputed), then counts the per-probe overlap.
    */
  private def recallReplaySql(variantCte: String): String =
    s"""WITH e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v
       |           FROM embeddings WHERE embedding IS NOT NULL),
       |n AS (SELECT vec_id, v, sqrt(list_sum([x*x for x in v])) AS nrm
       |      FROM e),
       |$variantCte,
       |d2 AS (SELECT vec_id, v, nrm, vq,
       |         sqrt(list_sum([x*x for x in vq])) AS nq FROM dq),
       |fl AS (SELECT vec_id, nbr_id FROM (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      floor(list_sum([a.v[i] * b.v[i]
       |        for i in range(1, len(a.v)+1)]) / (a.nrm * b.nrm)
       |        * 1e4 + 0.5) / 1e4
       |        DESC, b.vec_id) AS rn
       |  FROM d2 a JOIN d2 b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id < $ProbeCount) WHERE rn <= 5),
       |qt AS (SELECT vec_id, nbr_id FROM (
       |  SELECT a.vec_id, b.vec_id AS nbr_id,
       |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |      floor(list_sum([a.vq[i] * b.vq[i]
       |        for i in range(1, len(a.vq)+1)]) / (a.nq * b.nq)
       |        * 1e4 + 0.5) / 1e4
       |        DESC, b.vec_id) AS rn
       |  FROM d2 a JOIN d2 b ON a.vec_id <> b.vec_id
       |  WHERE a.vec_id < $ProbeCount) WHERE rn <= 5)
       |SELECT fl.vec_id, CAST(count(qt.nbr_id) AS INTEGER) AS n_match,
       |  round(count(qt.nbr_id) / 5.0, 2) AS recall5
       |FROM fl LEFT JOIN qt
       |  ON fl.vec_id = qt.vec_id AND fl.nbr_id = qt.nbr_id
       |GROUP BY fl.vec_id ORDER BY fl.vec_id""".stripMargin

  /** Shared CTE prefix for the two IVF oracles: embeddings widened to
    * double, id-prefix seeds (adaptive k, [[ivfK]] replayed from
    * count(*)), and 3 unrolled Lloyd's rounds — each
    * an argmin assignment (sequential Σ(v−c)² fold, ties by cid) and a
    * per-(cell, pos) mean rounded to 6 decimals, re-assembled in pos
    * order. Mirrors [[ivfCentroids]] exactly.
    */
  private def ivfReplayCtes: String = {
    def assign(prev: String, name: String): String =
      s"""$name AS (SELECT vec_id, v, cid AS cell FROM (
         |    SELECT x.vec_id, x.v, c.cid,
         |      row_number() OVER (PARTITION BY x.vec_id
         |        ORDER BY x2.d2, c.cid) AS rn
         |    FROM v x CROSS JOIN $prev c
         |    CROSS JOIN LATERAL (
         |      SELECT list_sum(list_transform(list_zip(x.v, c.c),
         |        z -> (z[1] - z[2])*(z[1] - z[2]))) AS d2) x2
         |  ) WHERE rn = 1)""".stripMargin
    def update(a: String, name: String): String =
      s"""$name AS (SELECT cid, list(m ORDER BY pos) AS c FROM (
         |    SELECT cell AS cid, t.j AS pos, round(avg(v[t.j]), 6) AS m
         |    FROM $a, range(1, 65) t(j) GROUP BY cell, t.j)
         |  GROUP BY cid)""".stripMargin
    s"""WITH v AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE embedding IS NOT NULL),
       |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM v
       |       QUALIFY row_number() OVER (ORDER BY vec_id)
       |         <= (SELECT greatest(8,
       |           CAST(round(sqrt(count(*) / 8.0)) AS BIGINT)) FROM v)),
       |${assign("c0", "a1")}, ${update("a1", "u1")},
       |${assign("u1", "a2")}, ${update("a2", "u2")},
       |${assign("u2", "a3")}, ${update("a3", "u3")},
       |""".stripMargin
  }
}
