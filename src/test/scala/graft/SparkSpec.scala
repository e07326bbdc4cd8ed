package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; specs run
  * at sf0.001 — TESTDATA.md).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // keep the shared session alive
}

object SparkSpec {
  /** Process-local scratch root for spec fixtures, reaped on JVM exit —
    * the IO.procRoot convention: bare `Files.createTempDirectory` calls
    * would accumulate orphaned parquet fixture copies in the OS tmp dir
    * across test runs.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory(
      "graft_spec_" + ProcessHandle.current().pid() + "_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(root.toFile)
    }))
    root
  }

  /** A fresh fixture directory under the reaped scratch root. */
  def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  lazy val session: SparkSession = {
    val s = GraftSession(Some("local[4]"), 4, None)
    // The `WindowExec: No Partition Defined` warnings seen in test logs
    // come from the two-pass prefix-sum operators' OFFSETS windows
    // (agg_ks_test / text_pack_sequences / stream_watermark_late /
    // mm_shard_manifest_global): those windows order a
    // partition-count-sized totals relation (≤ defaultParallelism rows
    // by construction), never the corpus — PlanSpec pins that no
    // partition-less window sits over a table scan, which is the case
    // the warning exists for.
    println("[SparkSpec] note: partition-less WindowExec warnings from " +
      "<=parallelism-row offset relations are expected (two-pass prefix " +
      "sums); PlanSpec pins that none sits over a corpus scan")
    s
  }
}
