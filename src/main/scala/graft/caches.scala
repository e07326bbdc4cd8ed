package graft

import org.apache.spark.sql.{DataFrame, Dataset}

/** Registry of the engine's internal persisted relations.
  *
  * A few operators persist an intermediate relation that their plan reads
  * from several branches (the LSH set/signature relation, the simhash
  * fingerprint relation, the ANN sketch relations). The returned plan is
  * lazy, so there is no post-action unpersist point INSIDE an operator —
  * the entry must outlive the call. Every such persist registers here, and
  * a library caller embedding these operators in a long-lived session
  * calls [[unpersistAll]] between jobs — unlike
  * `spark.catalog.clearCache()` this drops ONLY the engine's own entries,
  * never the caller's. The Bench/Verify harnesses call it between queries.
  *
  * The registry is APPEND-ONLY between unpersistAll calls: re-invoking an
  * operator appends another (equivalent-plan) entry. That is deliberate —
  * Spark's CacheManager dedupes cache storage by canonicalized plan, so
  * the duplicate entry costs a registry slot, not a second cache copy,
  * and unpersist is idempotent.
  *
  * Driver-run round loops do not persist their per-round state here: they
  * pass it through [[cut]], whose blocks the ContextCleaner frees.
  */
object InternalCaches {
  private val entries = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  /** Persist `ds` at MEMORY_AND_DISK and record it for [[unpersistAll]].
    *
    * `eager = true` materializes the entry with a scalar count before
    * returning — REQUIRED when the consumer reads the relation from
    * several branches of one stage: an unpopulated cache entry is
    * computed once per branch (k-fold recompute of the whole upstream
    * pipeline), because no branch sees the others' blocks until they are
    * written. Lazy (the default) is right when the first reader is a
    * single-branch action that populates the cache for everyone after.
    * Lazy is also right when the first reader is a query AQE plans (one
    * with an exchange): AQE materializes each cached relation as one
    * table-cache query stage before the stages that read it, so every
    * branch shares that one computation. `Text.labelRounds` relies on
    * this; its seed's shuffle is written once with a two-branch probe as
    * the first reader.
    */
  private[graft] def persistTracked[T](ds: Dataset[T],
                                       eager: Boolean = false): Dataset[T] = {
    val p = synchronized {
      val q = ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      entries += q
      q
    }
    if (eager) p.count(): Unit
    p
  }

  /** [[persistTracked]] with eager materialization, surfacing the
    * materializing count — for callers that branch on the row count (the
    * connected-components edge cache, the triangle counter's oriented
    * edges): eager + a separate count was two Spark jobs for one number.
    */
  private[graft] def persistTrackedCounted[T](ds: Dataset[T])
      : (Dataset[T], Long) = {
    val p = persistTracked(ds)
    (p, p.count())
  }

  /** One round's state of a driver-run loop (CC rounds, BFS hops, BPE
    * merges, Lloyd rounds), cut from its lineage: a lazy
    * `localCheckpoint`, rebuilt over the same rows. Spark's
    * `Dataset.checkpoint` calls `execute()` on the adaptive plan, so the
    * round's shuffle and broadcast stages run here and only its final
    * stage waits for the caller's first action, which writes the blocks.
    * The next round's plan starts at a scan of those blocks, so plans stay
    * one round deep however many rounds run, and the rebuild drops the
    * checkpoint's inherited size estimate, so join estimates do not
    * multiply round over round. The ContextCleaner frees the blocks once
    * the loop drops the handle; like any local checkpoint they are lost
    * with their executor.
    */
  private[graft] def cut(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.withoutStats(df.localCheckpoint(false))

  /** Drop every engine-internal cache entry registered since the last call.
    * Safe to call at any time — in-flight queries recompute from source.
    */
  def unpersistAll(blocking: Boolean = false): Unit = synchronized {
    entries.foreach(_.unpersist(blocking))
    entries.clear()
  }

  /** Number of live tracked entries (diagnostics / tests). */
  def trackedCount: Int = synchronized(entries.size)

  /** Session dial — [[GraftSession]] sets it, like
    * [[graft.expr.TopKByScore.AggFallbackKey]]: keep hash-partitioned
    * shuffle WRITES on the BypassMergeSortShuffleWriter up to the widest
    * adaptive exchange the engine derives. Spark's default threshold is
    * 200 partitions; one partition past it the writer silently switches
    * to UnsafeShuffleWriter, and every map task starts paging EXECUTION
    * memory for its record sorter. Measured (r13 sf100,
    * graph_triangles): the survivor exchange at the adaptive closing
    * width (~570 partitions) put 32 concurrent record sorters against
    * the same stage's cache-read unroll traffic and died
    * UNABLE_TO_ACQUIRE_MEMORY (a 32 KB first page, got 0) — while the
    * bypass writer needs ZERO execution memory for the same write
    * (per-reducer streamed files), at the price of ~32 KB of file
    * buffer per reducer per task. 2048 covers every width
    * [[adaptiveParts]] derives below ~10 TB of source at ≤ 64 MB of
    * buffers per task; a genuinely wider exchange falls back to the
    * paging writer, which is the right trade again at that width.
    * FILE-DESCRIPTOR footprint (advice r13): the bypass writer opens
    * one DiskBlockObjectWriter per REDUCER per in-flight map task, so a
    * ~2000-partition exchange under 32 concurrent tasks holds ~64 K
    * open spill files — fine on this probe box (ulimit -n 1 M) but past
    * a stock 1024/4096 ulimit. A deployment adopting this dial needs
    * `ulimit -n` ≥ concurrent-tasks × bypassThreshold (≥ 65 k here), or
    * to lower the dial to its box's budget; "Too many open files" in a
    * shuffle write stage is this dial, not a leak.
    */
  val ShuffleBypassKey = "spark.shuffle.sort.bypassMergeThreshold"
  val ShuffleBypassValue = "2048"

  /** Data-adaptive partition count for a corpus-sized cached relation,
    * derived from its SOURCE parquet bytes (an O(1) filesystem listing —
    * no job, no sampling): max(defaultParallelism,
    * ⌈sourceBytes / bytesPerPart⌉).
    *
    * Why this exists (r13, the fourth capacity wall): a corpus-sized
    * cache laid out at `defaultParallelism` partitions makes BOTH of the
    * engine's per-partition resident costs Θ(n/32) — the columnar unroll
    * chunk a cache write holds in storage memory (UNEVICTABLE while
    * unrolling: 32 concurrent ~300 MB unrolls zero out the execution
    * pool, and any same-stage aggregate's first page ask dies — the
    * measured "Unable to acquire 262144 bytes, got 0" signature), and
    * the state of every partial aggregate / hash build co-partitioned
    * with the cache (which shuffle-partition sizing can never reach —
    * measured byte-identical failures at 32 and 256 shuffle
    * partitions). Scaling the CACHE layout with the data bounds both at
    * the source: per-partition chunks stay ~bytesPerPart of input
    * whatever the corpus, exactly the "size partitions to the data"
    * contract a production cluster runs under. Below the threshold the
    * count stays defaultParallelism, so toy-scale plans (and every
    * committed sf≤10 bench map) are bit-identical.
    *
    * `bytesPerPart` is per-call-site: it encodes that site's
    * input→cached expansion (a KB-per-row shingle+signature relation
    * inflates its parquet ~20×; a narrow edge projection deflates its
    * fact table). Callers pass the calibrated constant and cite the
    * measurement.
    */
  private[graft] def adaptiveParts(s: org.apache.spark.sql.SparkSession,
                                   path: String, bytesPerPart: Long): Int =
    math.max(s.sparkContext.defaultParallelism, math.ceil(
      sourceBytes(path, s.sparkContext.hadoopConfiguration).toDouble /
        bytesPerPart).toInt)

  /** Bytes under `path`, a file or a directory, by one filesystem
    * listing (no job); 0 when the path is missing or unreadable, so every
    * size derived from it falls back to its floor and the read itself
    * reports the missing input.
    */
  private[graft] def sourceBytes(path: String,
      conf: org.apache.hadoop.conf.Configuration): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    } catch { case _: java.io.IOException => 0L }

  /** AQE initial shuffle-partition count, derived from the whole
    * fixture directory's bytes — the [[adaptiveParts]] doctrine applied
    * to `spark.sql.adaptive.coalescePartitions.initialPartitionNum`
    * (r16, the r15 verdict's item 4: `join_inner`'s sf30 spill onset at
    * 32 shuffle partitions, exponent 1.29 — AQE can COALESCE a too-wide
    * shuffle down to its advisory size for free, but can never RAISE a
    * too-narrow one, so the initial count is the one number that must
    * scale with the data). 64 MB of source per initial partition — the
    * standard maxPartitionBytes sizing, so a shuffle stage's
    * per-partition input stays ~one scan split whatever the corpus —
    * floored at `floor` (the session's task-slot count: every committed
    * sf ≤ 10 fixture derives ≤ 27 and keeps today's exact 32-partition
    * layouts) and capped at [[ShuffleBypassValue]] so every derived
    * exchange stays on the zero-execution-memory bypass writer (the
    * r13 graph_triangles death one partition past that boundary).
    * Small shuffles at high initial counts coalesce back down at
    * runtime (AQE advisory 64 MB), so the cost of a generous initial
    * width is ~nothing; the benefit at sf30 is build/sort partitions
    * that fit. `SPARK_GRAFT_SHUFFLE_PARTITIONS` remains the manual
    * override in [[GraftSession]], taking both confs.
    */
  private[graft] def adaptiveInitialShuffleParts(dir: String,
                                                 floor: Int): Int = {
    // no session exists yet: the session's conf is being derived
    val bytes = sourceBytes(dir, new org.apache.hadoop.conf.Configuration())
    math.min(ShuffleBypassValue.toInt,
      math.max(floor, math.ceil(bytes / (64.0 * (1L << 20))).toInt))
  }
}
