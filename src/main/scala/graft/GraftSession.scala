package graft

import org.apache.spark.sql.SparkSession

/** The one way the engine's mains and specs build a session: Bench,
  * Verify, Smoke, DevProbe, the reference CLI, the test suites and
  * PlanAudit all call [[apply]], so tests run with the harness's dials.
  * Idempotent: `getOrCreate` returns a live session with the same
  * runtime confs re-applied (the perfbench harness runs `Verify.main`
  * inside its own session this way).
  */
object GraftSession {
  /** Task slots for the harness mains: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** Confs every engine session carries, whatever its width. */
  val SharedConf: Seq[(String, String)] = Seq(
    // the 128-group default turns TopKByScore into an external sort of
    // its input (expr/topk.scala scaladoc)
    expr.TopKByScore.AggFallbackKey -> expr.TopKByScore.AggFallbackValue,
    // keep adaptive-width exchanges on the zero-execution-memory bypass
    // writer (InternalCaches.ShuffleBypassKey)
    InternalCaches.ShuffleBypassKey -> InternalCaches.ShuffleBypassValue,
    // a broadcast build's timer covers its whole subtree's compute; the
    // committed sf100 sweep ran at 3600 s
    "spark.sql.broadcastTimeout" -> "3600",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** A session of `width` shuffle partitions. `master = None` leaves the
    * master to spark-submit. With a fixture dir, AQE's initial partition
    * count is derived from its bytes
    * ([[InternalCaches.adaptiveInitialShuffleParts]]).
    * `SPARK_GRAFT_SHUFFLE_PARTITIONS`, when set, pins both counts: with
    * partitions == slots every partition of a shuffle-hash build side is
    * resident at once, so scale probes above ~sf10 need more, smaller
    * partitions (dedup_clusters at sf30 dies at 32 and passes at 128,
    * BASELINE.md round 13).
    */
  def apply(master: Option[String], width: Int,
            sfDir: Option[String]): SparkSession = {
    val pinned = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)
    val parts = pinned.getOrElse(width)
    val b = SparkSession.builder()
    master.foreach(b.master)
    b.config("spark.sql.shuffle.partitions", parts.toString)
    sfDir.foreach(d =>
      b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        pinned.getOrElse(
          InternalCaches.adaptiveInitialShuffleParts(d, parts)).toString))
    SharedConf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The harness mains' session: `local[cpus]` at `cpus` partitions. */
  def local(sfDir: Option[String]): SparkSession =
    apply(Some(s"local[$cpus]"), cpus, sfDir)
}
