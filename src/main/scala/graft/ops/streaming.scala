package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Event-time windowing (SURVEY.md §2.3 `stream_*`).
  *
  * The reference is batch-only; these are the north-star streaming
  * operators. `window`/`session_window` work identically in batch and
  * streaming, but the two forms are written separately: the batch keys
  * in `queries` are DuckDB-checked, and the `streamingX` functions below
  * restate each shape for `readStream` with watermarks. Nothing shares
  * the expressions; StreamingSpec's parity tests feed the same rows to a
  * streaming form and to its batch formulation and check that the
  * finalized windows agree (SURVEY.md §5.2 item 5).
  *
  * Scale notes: tumbling/sliding aggregation is partial-aggregatable (the
  * window start is just a computed group key), so map-side combine applies
  * before the shuffle. Session windows shuffle once on user_id; Spark merges
  * overlapping sessions per key in state — at 100 TB the key cardinality
  * (users), not event count, bounds state size.
  */
object Streaming {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Tumbling 10-minute windows per event_type.
    "stream_tumbling" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
        .select(col("window.start").as("win_start"), col("event_type"),
                col("n"), col("sum_v"))
        .orderBy("win_start", "event_type")),

    // Sliding 10-minute windows every 5 minutes (each event lands in 2).
    "stream_sliding" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("win_start"), col("n"))
        .orderBy("win_start")),

    // Session windows: 30-minute inactivity gap per user.
    // session_window.start = first event ts in the session.
    "stream_session" -> ((s, d) =>
      events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
        .select(col("user_id"), col("session_window.start").as("sess_start"),
                col("n"), col("sum_v"))
        .orderBy("user_id", "sess_start")),

    // Stateful dedup on event_id (batch form; streaming form with
    // watermark in `streamingDedup`). event_ids are unique in the fixture,
    // so dedup is deterministic there and the plain-projection oracle is a
    // full hash check (identity on unique keys); the harness test feeds
    // real duplicates to exercise the keep-one path.
    "stream_stateful_dedup" -> ((s, d) =>
      events(s, d)
        .dropDuplicates("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id")),

    // Stream-static enrichment join — the standard streaming topology:
    // a fact stream joined to a slowly-changing dimension, then windowed.
    // The dim side is broadcast (tiny vs the stream, and a shuffle on a
    // stream would re-key every micro-batch); the windowed agg stays
    // partial-aggregatable. Identical expressions run under readStream in
    // [[streamingEnrichJoin]] (harness parity test) — stream-static joins
    // re-resolve the static side per micro-batch, which is exactly the
    // slowly-changing-dim contract.
    // Join keys are pinned NON-NULLABLE (explicit null filter, then a
    // statically non-null coalesce — a no-op at runtime after the filter,
    // and SQL-exact: inner-join null keys never match anyway): a nullable
    // key demotes the broadcast HashedRelation probe to its slow path,
    // measured 5× on the banded self-joins (PlanSpec pins it here too).
    "stream_join" -> ((s, d) =>
      events(s, d)
        .filter(col("user_id").isNotNull)
        .withColumn("user_id", coalesce(col("user_id"), lit(-1L)))
        .join(broadcast(customer(s, d)
          .filter(col("c_custkey").isNotNull)
          .select(coalesce(col("c_custkey"), lit(-1L)).as("user_id"),
            col("c_mktsegment"))),
          Seq("user_id"))
        .groupBy(window(col("ts"), "10 minutes"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
        .select(col("window.start").as("win_start"),
          col("c_mktsegment").as("segment"), col("n"), col("sum_v"))
        .orderBy("win_start", "segment")),

    // Stream-stream interval join (batch form): view→click pairs of the
    // same user with the click inside (view, view + 10 min] — the
    // attribution join. Equality on user_id + a range residual: Spark
    // plans a keyed join (SMJ/SHJ on user_id), never a nested loop, and
    // at scale each side shuffles once on the user key. Timestamps
    // compared as epoch micros (integer, engine-exact). The true
    // two-stream form with per-side watermarks is
    // [[streamingIntervalJoin]] (harness parity test) — state on each
    // side is bounded by the watermark + the 10-minute range bound.
    "stream_interval_join" -> ((s, d) => batchIntervalJoin(s, d, "inner")),

    // LEFT-outer interval join (batch form): every view, its attributed
    // clicks within 10 minutes — or null-padded if the view never
    // converted. The outer side is what makes the STREAMING form
    // interesting: an unmatched view can only be emitted once the click
    // watermark has passed its interval (see
    // [[streamingLeftIntervalJoin]], harness parity test); the batch
    // form here is the semantics both must agree on. Same keyed
    // join shape as stream_interval_join — equality on user_id plans an
    // SMJ/SHJ, one shuffle per side at any scale, never a nested loop.
    "stream_left_join" -> ((s, d) => batchIntervalJoin(s, d, "left")),

    // WATERMARK LATE-DROP AUDIT (batch-observable twin of the
    // streaming-only watermark behavior — the true readStream form with
    // an actual dropped row is [[streamingTumbling]] + StreamingSpec's
    // late-row test). Semantics: arrival order = event_id; the watermark
    // before each arrival is max(event time over strictly-preceding
    // arrivals) − 10 min (the micro-batch-of-one limit of Spark's
    // watermark rule); a row the engine would drop is one whose event
    // time is below that. Output: per-type dropped-late counts — the
    // audit a pipeline runs BEFORE picking a watermark delay.
    // Scale shape: the global prefix-max is the same one-task trap as
    // text_pack_sequences' global cumsum, and gets the same two-phase
    // fix — range-partition on event_id, per-partition running max via
    // pid-keyed windows, then a partition-count-sized prefix relation
    // broadcast back. Eager persist: both phases must read the SAME
    // materialized partition assignment (range bounds are sampled;
    // spark_partition_id is nondeterministic). The late/on-time verdict
    // is boundary-invariant — greatest(local prefix, prior-partition
    // max) is the global prefix max under ANY ordered partitioning —
    // which the single-window oracle checks.
    //
    // The fixture's ts is MONOTONE in event_id, so the raw stream alone
    // would make this audit vacuous (n_late ≡ 0 at every sf — a
    // sign-flipped predicate or a wrong delay unit would still pass,
    // review finding r7). The arrival stream therefore includes a
    // deterministic REPLAY tail: every 97th event re-arrives after the
    // whole stream (arrival id + 10⁷) carrying its ORIGINAL event time
    // — the redelivery pattern watermarks exist for. ~1% of rows, late
    // by minutes up to the full 30-day stream span, so n_late is a
    // nonzero, density-sensitive count (104 of 10104 at sf0.01): a
    // flipped sign counts ~all base rows instead, a wrong delay unit
    // shifts the count — both now observable at the gate, while the
    // monotone base stream pins the not-late branch.
    "stream_watermark_late" -> ((s, d) => {
      val W = org.apache.spark.sql.expressions.Window
      val delayUs = 600000000L // 10 minutes
      val base = events(s, d).select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      // replay offset 10^10: the replayed copy must sort after EVERY
      // base row at ANY fixture scale — the sf1 fixture offsets its
      // copies by k·10^8, so the old 10^7 interleaved copy k's replays
      // BEFORE copy k+1's base rows and the "re-arrives after the whole
      // stream" contract silently became ~90%-late fixture noise
      val replay = base.filter(col("event_id") % 97 === 0)
        .select((col("event_id") + 10000000000L).as("event_id"),
          col("event_type"), col("us"))
      val e = base.unionByName(replay)
      val part = TwoPass.rangedByPid(e, col("event_id"))
      val localHi = part.withColumn("local_hi",
        max(col("us")).over(
          W.partitionBy(col("pid")).orderBy(col("event_id"))
            .rowsBetween(W.unboundedPreceding, -1)))
      val prior = part.groupBy(col("pid"))
        .agg(max(col("us")).as("pmax"))
        .withColumn("prior_hi",
          max(col("pmax")).over(
            W.orderBy(col("pid")).rowsBetween(W.unboundedPreceding, -1)))
        .select(col("pid"), col("prior_hi"))
      localHi.join(broadcast(prior), Seq("pid"))
        // greatest skips nulls; null only when BOTH are (first row
        // globally) → late predicate NULL → count_if false, both engines.
        .withColumn("hi", greatest(col("local_hi"), col("prior_hi")))
        .groupBy(col("event_type"))
        .agg(count_if(col("us") < col("hi") - lit(delayUs)).as("n_late"),
          count(lit(1)).as("n_rows"))
        .orderBy("event_type")
    }),

    // STREAMING HEAVY HITTERS, batch-observable form: the same
    // Misra-Gries sketch the true flatMapGroupsWithState form
    // ([[streamingHeavyHitters]], state-law-tested in StreamingSpec)
    // folds per shard, run here as the SHARED [[Text.mgHeavyHitters]]
    // two-pass batch path over the event-type stream — see that helper
    // for the sketch/recount plan shape and the no-false-negative
    // pigeonhole argument (one copy to maintain, review finding r7).
    // Deterministic and hash-comparable against a plain exact oracle;
    // sketch error paid only in candidate slack.
    "stream_heavy_hitters" -> ((s, d) =>
      Text.mgHeavyHitters(events(s, d).select(col("event_type")),
        "event_type", k = 5, cap = 16)),

    // DRIFT TRAJECTORY — the streaming face of agg_drift_psi: the first
    // half of the stream is the REFERENCE histogram (training-time
    // distribution, broadcast everywhere), each 6-hour tumbling window
    // of the second half scores one PSI row against it, plus the
    // novel-mass count (rows landing outside the reference support —
    // the signal binned PSI is blind to). Streaming shape: the windowed
    // bucket counts are ONE streaming-legal aggregation (window+bucket
    // group keys under a watermark); the per-window PSI fold is the
    // monitoring SINK's job over ~|buckets| rows per window
    // ([[streamingDriftBuckets]] runs the same expressions under
    // readStream; StreamingSpec folds the sink and pins equality with
    // this batch form). Scale: reference/totals are bucket-cardinality
    // relations on broadcast joins; the only wide shuffle is the
    // window+bucket partial agg; the bounded crossJoin is
    // windows × |ref buckets|.
    "stream_drift_psi" -> ((s, d) => {
      // BENCH-BAND NOTE (r14, adjudicating the r13 cross-run 3.5×
      // spread): this key runs FOUR actions (three eager persists +
      // the final assembly) over sf0.1-small data, so first-run
      // codegen/JIT dominates its bench number — DevProbe measures
      // build 8.5→0.9 s / exec 2.6→0.7 s across passes in one JVM.
      // Pinned band 2–7 s at sf0.1, steady state 1.6 s (BASELINE.md
      // r14); the eager persists are acquitted on cost (warm total
      // 1.6 s) and keep the scan count at 1 instead of 4.
      // ev persists FIRST (uncached, every downstream read was its own
      // parquet scan — 4 full scans at build; review finding) but LAZY
      // since r16: its single-branch first reader is the `mid` broadcast
      // build inside refB's eager materialization, which populates the
      // cache for every later branch — the old eager form paid a
      // standalone count job for the same write.
      val ev = graft.InternalCaches.persistTracked(
        events(s, d)
          .select(col("ts"), unix_micros(col("ts")).as("us"),
            col("value")))
      val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val withMid = ev.join(broadcast(mid))
      // both persists EAGER: each relation is read from several
      // branches of the one final action (refB: totals + support filter
      // + novel anti + grid; cur: support + novel + window list) — an
      // unpopulated entry would recompute its upstream scan per branch
      val refB = graft.InternalCaches.persistTracked(
        withMid.filter(col("us") <= col("mid"))
          .groupBy(floor(col("value") / 50.0).cast("long").as("bucket"))
          .agg(count(lit(1)).as("nr")),
        eager = true)
      val refTot = refB.agg(sum(col("nr")).as("tr"),
        count(lit(1)).as("nb"))
      val cur = graft.InternalCaches.persistTracked(
        withMid.filter(col("us") > col("mid"))
          .groupBy(window(col("ts"), "6 hours"),
            floor(col("value") / 50.0).cast("long").as("bucket"))
          .agg(count(lit(1)).as("nc"))
          .select(col("window.start").as("win_start"), col("bucket"),
            col("nc")),
        eager = true)
      val inSupport = cur.join(broadcast(refB.select(col("bucket"))),
        Seq("bucket"))
      // the output window list comes from ALL observed windows (cur),
      // not the in-support subset: a window whose every row lands
      // outside the reference support still emits its trajectory row
      // (tc = 0, full novel mass) — deriving windows from winTot would
      // silently drop it, losing exactly the strongest drift signal
      val winTot = cur.select(col("win_start")).distinct()
        .join(inSupport.groupBy(col("win_start"))
            .agg(sum(col("nc")).as("stc")),
          Seq("win_start"), "left")
        .select(col("win_start"), coalesce(col("stc"), lit(0L)).as("tc"))
      val novel = cur.join(broadcast(refB.select(col("bucket"))),
        Seq("bucket"), "left_anti")
        .groupBy(col("win_start")).agg(sum(col("nc")).as("n_novel"))
      val p = (col("nr") + 0.5) / (col("tr") + col("nb") * 0.5)
      val q = (coalesce(col("nc"), lit(0L)) + 0.5) /
        (col("tc") + col("nb") * 0.5)
      winTot.crossJoin(broadcast(refB))
        .join(inSupport, Seq("win_start", "bucket"), "left")
        .join(broadcast(refTot))
        .select(col("win_start"), ((q - p) * log(q / p)).as("term"),
          col("tc"))
        .groupBy(col("win_start"))
        .agg(round(sum(col("term")), 6).as("psi"),
          first(col("tc")).as("n_in_support"))
        .join(novel, Seq("win_start"), "left")
        .select(col("win_start"), col("psi"), col("n_in_support"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .orderBy("win_start")
    })
  )

  /** The one attribution-join body both batch interval queries share —
    * view→click pairs of the same user, click inside (view, view+10 min],
    * timestamps as epoch micros (integer, engine-exact). `joinType` is
    * the single real difference between the inner and left-outer forms;
    * keeping predicate + bound in one place means a fix to either can't
    * silently leave the other stale.
    */
  private def batchIntervalJoin(s: SparkSession, d: String,
                                joinType: String): DataFrame = {
    val e = events(s, d).select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("us").as("v_us"))
    val cl = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("us").as("c_us"))
    v.join(cl, col("user_id") === col("c_user")
        && col("c_us") > col("v_us")
        && col("c_us") <= col("v_us") + 600000000L, joinType)
      .select(col("user_id"), col("v_us"), col("c_us"),
        (col("c_us") - col("v_us")).as("gap_us"))
      .orderBy("user_id", "v_us", "c_us")
  }

  val oracle: Map[String, String] = Map(
    // Same midpoint split / bins / smoothing as the agg_drift_psi
    // oracle, per 6-hour time_bucket (epoch-aligned for 6-hour widths in
    // both engines). The grid CTE mirrors the engine's bounded
    // windows × ref-buckets crossJoin.
    "stream_drift_psi" ->
      """WITH ev AS (SELECT ts, epoch_us(ts) AS us, value FROM events),
        |m AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
        |refb AS (
        |  SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS nr
        |  FROM ev, m WHERE us <= mid GROUP BY 1),
        |rt AS (SELECT CAST(sum(nr) AS BIGINT) AS tr, count(*) AS nb
        |       FROM refb),
        |cur AS (
        |  SELECT time_bucket(INTERVAL '6 hours', ts) AS win_start,
        |    CAST(floor(value / 50.0) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS nc
        |  FROM ev, m WHERE us > mid GROUP BY 1, 2),
        |ins AS (SELECT c.win_start, c.bucket, c.nc
        |        FROM cur c JOIN refb r USING (bucket)),
        |wt AS (SELECT w.win_start,
        |         CAST(coalesce(sum(i.nc), 0) AS BIGINT) AS tc
        |       FROM (SELECT DISTINCT win_start FROM cur) w
        |       LEFT JOIN ins i ON i.win_start = w.win_start
        |       GROUP BY w.win_start),
        |nv AS (SELECT win_start, CAST(sum(nc) AS BIGINT) AS n_novel
        |       FROM cur c
        |       WHERE NOT EXISTS (SELECT 1 FROM refb r
        |                         WHERE r.bucket = c.bucket)
        |       GROUP BY 1),
        |grid AS (
        |  SELECT w.win_start, r.bucket, r.nr, w.tc,
        |    coalesce(i.nc, 0) AS nc
        |  FROM wt w CROSS JOIN refb r
        |  LEFT JOIN ins i
        |    ON i.win_start = w.win_start AND i.bucket = r.bucket)
        |SELECT g.win_start,
        |  round(sum(
        |    ((g.nc + 0.5) / (g.tc + 0.5 * t.nb)
        |      - (g.nr + 0.5) / (t.tr + 0.5 * t.nb))
        |    * ln(((g.nc + 0.5) / (g.tc + 0.5 * t.nb))
        |         / ((g.nr + 0.5) / (t.tr + 0.5 * t.nb)))), 6) AS psi,
        |  CAST(max(g.tc) AS BIGINT) AS n_in_support,
        |  CAST(coalesce(max(nv.n_novel), 0) AS BIGINT) AS n_novel
        |FROM grid g CROSS JOIN rt t
        |LEFT JOIN nv ON nv.win_start = g.win_start
        |GROUP BY g.win_start ORDER BY g.win_start""".stripMargin,
    "stream_tumbling" ->
      """SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
        |  event_type, count(*) AS n, round(sum(value), 4) AS sum_v
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    "stream_sliding" ->
      """SELECT win_start, count(*) AS n FROM (
        |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS win_start FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'
        |  FROM events)
        |GROUP BY 1 ORDER BY win_start""".stripMargin,
    // Gaps-and-islands: a session breaks when the gap since the previous
    // event of the same user exceeds 30 minutes.
    "stream_session" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL '30 minutes'
        |           OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |numbered AS (
        |  SELECT user_id, ts, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM flagged)
        |SELECT user_id, min(ts) AS sess_start, count(*) AS n,
        |  round(sum(value), 4) AS sum_v
        |FROM numbered GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_start""".stripMargin,
    // stream_stateful_dedup: rows-only (keep-first choice is
    // order-dependent; exercised deterministically in the harness test).
    "stream_join" ->
      """SELECT time_bucket(INTERVAL '10 minutes', e.ts) AS win_start,
        |  c.c_mktsegment AS segment, count(*) AS n,
        |  round(sum(e.value), 4) AS sum_v
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY win_start, segment""".stripMargin,
    "stream_interval_join" ->
      """SELECT a.user_id, a.v_us, b.c_us, b.c_us - a.v_us AS gap_us
        |FROM (SELECT user_id, epoch_us(ts) AS v_us FROM events
        |      WHERE event_type = 'view') a
        |JOIN (SELECT user_id, epoch_us(ts) AS c_us FROM events
        |      WHERE event_type = 'click') b USING (user_id)
        |WHERE b.c_us > a.v_us AND b.c_us <= a.v_us + 600000000
        |ORDER BY user_id, v_us, c_us""".stripMargin,
    // NULLS FIRST pinned: DuckDB defaults nulls-last, Spark nulls-first.
    "stream_left_join" ->
      """SELECT a.user_id, a.v_us, b.c_us, b.c_us - a.v_us AS gap_us
        |FROM (SELECT user_id, epoch_us(ts) AS v_us FROM events
        |      WHERE event_type = 'view') a
        |LEFT JOIN (SELECT user_id AS c_user, epoch_us(ts) AS c_us
        |           FROM events WHERE event_type = 'click') b
        |  ON a.user_id = b.c_user AND b.c_us > a.v_us
        |     AND b.c_us <= a.v_us + 600000000
        |ORDER BY user_id, v_us, c_us NULLS FIRST""".stripMargin,
    // stream_stateful_dedup: event_ids are unique in the fixture, so
    // dropDuplicates is the identity projection — a full multiset hash
    // check (driver sorts rows before hashing; duplicates are exercised
    // by the harness test).
    "stream_stateful_dedup" ->
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin,
    // Single-window form of the two-phase prefix max over the SAME
    // base ∪ replay arrival stream; first row's NULL hi → NULL
    // predicate → not counted, matching Spark's count_if.
    "stream_watermark_late" ->
      """WITH arr AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS us FROM events
        |  UNION ALL
        |  SELECT event_id + 10000000000, event_type, epoch_us(ts)
        |  FROM events WHERE event_id % 97 = 0),
        |a AS (
        |  SELECT event_id, event_type, us,
        |    max(us) OVER (ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
        |  FROM arr)
        |SELECT event_type,
        |  CAST(count_if(us < hi - 600000000) AS BIGINT) AS n_late,
        |  count(*) AS n_rows
        |FROM a GROUP BY event_type ORDER BY event_type""".stripMargin,
    // Plain exact heavy hitters — the sketch+recount path must agree
    // exactly (MG no-false-negative + exact candidate recount).
    "stream_heavy_hitters" ->
      """WITH c AS (
        |  SELECT event_type, count(*) AS n FROM events GROUP BY 1),
        |t AS (SELECT count(*) AS total FROM events)
        |SELECT event_type, n FROM c, t WHERE n * 5 > total
        |ORDER BY n DESC, event_type""".stripMargin
  )

  // ---- true Structured Streaming forms (harness-tested) -------------------

  /** Tumbling-window count over a streaming source with a watermark:
    * late rows beyond 10 minutes are dropped from state.
    */
  def streamingTumbling(input: DataFrame): DataFrame =
    input
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Sliding-window count over a streaming source — the same expressions
    * as the batch `stream_sliding` under a watermark: a window emits (in
    * Append mode) once the watermark passes its end, late rows beyond 10
    * minutes are dropped from state. Each event still lands in 2 windows;
    * state holds only open windows, bounded by watermark delay ÷ slide.
    */
  def streamingSliding(input: DataFrame): DataFrame =
    input
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("n"))

  /** Session windows (30-minute gap) per user over a streaming source —
    * the batch `stream_session` expressions under a watermark. Spark
    * merges overlapping session state per key as events arrive; a session
    * finalizes (Append mode) when the watermark passes its close. State is
    * bounded by open sessions per key, not event count.
    */
  def streamingSession(input: DataFrame): DataFrame =
    input
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("sess_start"),
        col("n"))

  /** Windowed value-histogram stream — the streaming-legal half of the
    * batch `stream_drift_psi`: ONE aggregation (window + bucket group
    * keys) under a watermark. Chained streaming aggregations are not
    * appendable, so the per-window PSI fold against the (broadcast)
    * reference histogram is the monitoring SINK's job over ~|buckets|
    * rows per window — StreamingSpec folds exactly that and pins
    * equality with the batch trajectory. State is bounded by open
    * windows × value buckets, independent of event count.
    */
  def streamingDriftBuckets(input: DataFrame): DataFrame =
    input
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "6 hours"),
        floor(col("value") / 50.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("nc"))
      .select(col("window.start").as("win_start"), col("bucket"),
        col("nc"))

  /** Stream-static enrichment join + windowed agg over a streaming
    * source — the `stream_join` expressions under readStream. The static
    * dim is joined (broadcast) inside each micro-batch; the watermark
    * bounds window state exactly as in [[streamingTumbling]].
    */
  def streamingEnrichJoin(input: DataFrame, dim: DataFrame): DataFrame =
    input
      .withWatermark("ts", "10 minutes")
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), "10 minutes"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"),
        col("c_mktsegment").as("segment"), col("n"))

  /** Stream-STREAM interval join — the `stream_interval_join` semantics
    * over two live streams: views(user_id, v_ts) × clicks(c_user, c_ts),
    * click inside (view, view + 10 min]. Both sides carry a watermark,
    * and the range condition bounds how long a view must be retained
    * waiting for clicks — together they make the join state provably
    * evictable (Spark derives the state watermark from the interval),
    * which is what separates a production stream-stream join from an
    * unbounded buffer.
    */
  def streamingIntervalJoin(views: DataFrame, clicks: DataFrame): DataFrame =
    streamingIntervalJoinImpl(views, clicks, "inner")

  /** LEFT-outer stream-STREAM interval join — the `stream_left_join`
    * semantics over two live streams. The outer side is the hard part:
    * a view with no matching click is held in state until the CLICK
    * watermark passes the end of its interval — only then is "no click
    * arrived" a fact rather than "not yet", and the null-padded row is
    * emitted. Both watermarks plus the range bound make state evictable
    * exactly as in [[streamingIntervalJoin]].
    */
  def streamingLeftIntervalJoin(views: DataFrame,
                                clicks: DataFrame): DataFrame =
    streamingIntervalJoinImpl(views, clicks, "leftOuter")

  /** Shared two-stream body: both sides watermarked, the same predicate
    * and 10-minute bound as [[batchIntervalJoin]] — `joinType` is the
    * only difference between the inner and left-outer forms.
    */
  private def streamingIntervalJoinImpl(views: DataFrame, clicks: DataFrame,
                                        joinType: String): DataFrame =
    views.withWatermark("v_ts", "10 minutes")
      .join(clicks.withWatermark("c_ts", "10 minutes"),
        expr("user_id = c_user AND c_ts > v_ts " +
          "AND c_ts <= v_ts + interval 10 minutes"),
        joinType)
      .select(col("user_id"), col("v_ts"), col("c_ts"))

  /** Stateful streaming dedup on event_id with a watermark bounding state. */
  def streamingDedup(input: DataFrame): DataFrame =
    input
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Typed arbitrary-state op: running per-user event count via
    * flatMapGroupsWithState (the `KeyValueGroupedDataset` custom-state
    * surface the north star names).
    */
  def streamingRunningCount(spark: SparkSession,
                            input: Dataset[(Long, java.sql.Timestamp)])
      : Dataset[(Long, Long)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    input.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator((user, n))
      }
  }

  /** One incremental Misra-Gries step at capacity `cap` — the streaming
    * form of `Text.mgSketch`'s per-partition pass: increment a tracked
    * token, admit a newcomer while under capacity, otherwise decrement
    * every counter (dropping zeros; the newcomer is not kept). Folding a
    * stream through this step IS Misra-Gries over the concatenation, so
    * checkpointed state across micro-batches inherits the retention
    * guarantee: any token with more than N/(cap+1) occurrences survives.
    */
  private[graft] def mgStep(cap: Int)(counts: Map[String, Long],
                                      t: String): Map[String, Long] =
    if (counts.contains(t)) counts.updated(t, counts(t) + 1)
    else if (counts.size < cap) counts.updated(t, 1L)
    else counts.flatMap { case (k, v) =>
      if (v > 1) Some(k -> (v - 1)) else None }

  /** Streaming heavy hitters with BOUNDED state: tokens shard by hash,
    * each shard folds its (seq-ordered) arrivals through [[mgStep]] in
    * per-shard `GroupState` — O(shards × cap) total state however long
    * the stream runs, the property exact streaming counts cannot offer.
    * Input is (seq, token); the seq ordering makes replay deterministic
    * (StreamingSpec replays the fold to assert exact state equality).
    * At ingest scale the shard count spreads state across executors and
    * the per-shard sketches merge downstream exactly like the batch
    * `text_heavy_hitters` candidate pass.
    */
  def streamingHeavyHitters(spark: SparkSession,
                            input: Dataset[(Long, String)],
                            cap: Int, shards: Int)
      : Dataset[(Int, Map[String, Long])] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    input.groupByKey(p => math.floorMod(p._2.hashCode, shards))
      .flatMapGroupsWithState[Map[String, Long], (Int, Map[String, Long])](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (shard: Int, rows: Iterator[(Long, String)],
         state: GroupState[Map[String, Long]]) =>
          val counts = rows.toSeq.sortBy(_._1).map(_._2)
            .foldLeft(state.getOption.getOrElse(Map.empty[String, Long]))(
              mgStep(cap))
          state.update(counts)
          Iterator((shard, counts))
      }
  }
}
