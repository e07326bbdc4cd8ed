package graft

/** Dev-only timing probe (not part of the shipped surface): run a
  * comma-separated list of queries N times in a single session, in order
  * within each pass as a workload's keys share a JVM, and print each
  * key's seconds, Spark jobs and generated-class compiles per pass —
  * separates per-session warm-up (JIT/codegen/IO cache) from the
  * queries' steady-state cost. Read passes 6+ as the steady state: at
  * sf0.1 passes 3-5 are still JIT warm-up (`sim_topk_cosine` ran
  * 1.08/0.77/0.59 s in passes 3-5, 0.42-0.53 s in 6-10; CHANGES.md).
  * Usage:
  *   runMain graft.DevProbe <sfDir> <key>[,<key>...] [n, default 10]
  */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args(1).split(',').toSeq
    val n = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local(Some(sfDir))
    // SPARK_GRAFT_EXPLAIN=1: print each key's formatted physical plan
    // (with whole-stage-codegen ids — the ids OOM stack traces name)
    // and exit without executing. Forensics for scale-probe failures:
    // maps "GeneratedIteratorForCodegenStage<k>" to an operator.
    // `plan_id`s are masked: a builder's own jobs draw a varying number
    // of them, so they differ between two runs of one commit.
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1")) {
      keys.foreach { key =>
        val df = SparkEntry.queries(key)(spark, sfDir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
          .replaceAll("plan_id=\\d+", "plan_id=N"))
      }
      spark.stop()
      return
    }
    // generated classes compiled (a Spark codegen cache miss each) and
    // JIT milliseconds per pass. The cache (spark.sql.codegen.cache.maxEntries,
    // 100) is 4 segments of 25 entries, each its own LRU, keyed by
    // (class loader, source), so a local-mode class compiled on the driver
    // and in a task takes 2 entries. A query whose later passes keep
    // compiling overflows a 25-entry segment, whichever one its loaders'
    // hashes pick, so the count can differ from JVM to JVM.
    val compiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val jobs = Bench.countJobs(spark)
    for (i <- 1 to n; key <- keys) {
      val c0 = compiles.getCount
      val j0 = jit.getTotalCompilationTime
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(key)(spark, sfDir)
      val tBuild = System.nanoTime()
      // force analysis + optimization + physical planning (not execution)
      df.queryExecution.executedPlan
      val tPlan = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val tExec = System.nanoTime()
      InternalCaches.unpersistAll()
      println(f"PROBE pass=$i $key build=${(tBuild - t0) / 1e9}%.3f " +
        f"plan=${(tPlan - tBuild) / 1e9}%.3f " +
        f"exec=${(tExec - tPlan) / 1e9}%.3f s " +
        s"jobs=${jobs.getAndSet(0)} " +
        s"codegen_compiles=${compiles.getCount - c0} " +
        s"jit_ms=${jit.getTotalCompilationTime - j0}")
    }
    spark.stop()
  }
}
