package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(Some(sfDir))
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1,q2 limits the dump (sf0.1 parity spot-checks);
    // the driver leaves it unset and dumps everything
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // VACUITY GUARD (r13, the r12 verdict's item 8): a rows-only key
    // (no oracle SQL — the driver records spark_rows alone) that emits
    // ZERO rows has a gate that can no longer fail — r12's sim_ann_lsh
    // regression sat green for a round this way. Count each rows-only
    // key's written output (a parquet-footer metadata read, one file)
    // and surface any zero loudly: a WARN here plus an explicit
    // `vacuous` list in verify_meta.json the driver/judge can read.
    var rowsOnlyCounts = List.empty[(String, Long)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (!SparkEntry.oracleSql.contains(name)) {
          val n = spark.read.parquet(s"$outDir/$name").count()
          rowsOnlyCounts ::= (name -> n)
          if (n == 0) System.err.println(
            s"[verify] WARN vacuous rows-only gate: $name wrote 0 rows")
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop operator-internal persisted relations between queries
      InternalCaches.unpersistAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // rows-only key counts + the vacuous list (see the guard above) —
    // a separate file so the driver's oracle_sql.json parse is untouched
    val counts = rowsOnlyCounts.sortBy(_._1)
    val meta = "{\"rows_only\": {" +
      counts.map { case (k, n) => s"${q(k)}: $n" }.mkString(",") +
      "}, \"vacuous\": [" +
      counts.collect { case (k, 0L) => q(k) }.mkString(",") + "]}"
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta)
    spark.stop()
  }
}
