package graft

import java.security.MessageDigest

/** Multi-process execution smoke (r11): run a representative query
  * subset under WHATEVER master spark-submit provides and print one
  * canonical `SMOKE <key> rows=<n> hash=<md5>` line per key. Running
  * this twice — once `--master local[*]`, once against a standalone
  * `spark://` master with separate worker JVMs — and diffing the SMOKE
  * lines proves no local-mode assumption (driver-JVM state, non-shared
  * temp paths, unserializable closures) crept into the operators. The
  * driver-side correctness gate only ever exercises `local[*]`, where
  * driver and executors share one JVM and one filesystem — exactly the
  * environment that masks those bugs (`scripts/standalone_smoke.sh`
  * orchestrates the master/worker fleet and the diff).
  *
  * Canonicalization matches the driver's compare: columns sorted by
  * name, rows JSON-encoded and sorted, md5 over the sorted stream. The
  * default subset spans every execution shape that could differ off
  * local mode: parquet scan, shuffle agg, broadcast join, window,
  * global sort, salted LSH self-join, bounded-probe broadcast ANN,
  * executor-side `rdd.pipe` (script shipping), a parquet sink readback
  * (shared-filesystem contract), and the two-pass global prefix
  * composition (spark_partition_id stability across real executors).
  */
object Smoke {
  private val DefaultKeys = Seq(
    "scan_parquet", "agg_multi", "join_broadcast", "win_topk_per_group",
    "sort_global", "sql_multiway", "dedup_near_minhash", "sim_topk_cosine",
    "mr_wordcount", "pipe_script", "sink_parquet", "text_quality",
    "text_pack_sequences", "agg_streaming_fold", "flagship",
    // r12 widening: one representative per heavy family, so every
    // executor-side codegen'd custom expression (MinHashSignature via
    // dedup_lsh_ingest, SimHash64 via dedup_simhash, CentroidScores via
    // the trained-IVF pair) and every shuffle-heavy plan shape (salted
    // banded self-join, iterative graph rounds, watermarked streaming
    // batch-twin, partitioned sink + partition-pruned scan-back,
    // broadcast-gram contamination probe) is proven under real
    // multi-JVM workers once per round, not only under local[*]
    "dedup_lsh_ingest", "dedup_simhash", "dedup_near_embedding",
    "sim_ann_ivf", "sim_ann_ivf_trained", "graph_pagerank",
    "graph_shortest_path", "stream_session", "stream_watermark_late",
    "sink_parquet_partitioned", "join_partition_pruned",
    "mm_shard_manifest_global", "text_bpe_encode", "agg_percentile",
    "text_contamination",
    // r12 capacity fixes: the second-sketch carry cascade (seeded
    // SignSketch64 codegen + carry columns through the salted postings)
    // and both simhash index paths. Since r13 the DEFAULT dial is 4
    // (pair-block index), so the `@12` suffix drives the loose 5-block
    // variant-enumeration path (Blocking.multiIndexPairs at radius 2)
    // that no default-dial key reaches any more.
    "sim_ann_lsh", "dedup_simhash@12",
    // r13: the per-frame video decode's 1→N flatMap closure (typed
    // Dataset path) serializes to real executors like every other
    // media-stub key — prove it multi-JVM once per round
    "mm_video_features",
    // r14: the windowed-audio 1→N flatMap (shared audioPcm gate) and —
    // via the dedup_simhash/sim_ann_lsh keys above — the md5-basis
    // Md5U64/HyperplanePlanes statics, whose ThreadLocal digest and
    // CHM plane memo now run on real executor JVMs here
    "mm_audio_features")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    // "all" = the full SparkEntry surface plus the flagship MR job — the
    // strongest cluster proof the harness can produce (every key's hash
    // compared local[*] vs real multi-JVM workers)
    val keys =
      if (args.length > 1 && args(1) == "all")
        // the @12 dial key rides along: "all" must still exercise the
        // loose 5-block variant-enumeration path, which no default-dial
        // key reaches since the r13 default flip
        SparkEntry.queries.keys.toSeq.sorted ++
          Seq("dedup_simhash@12", "flagship")
      else if (args.length > 1) args(1).split(",").map(_.trim).toSeq
      else DefaultKeys
    // no master here: spark-submit supplies it — standalone-vs-local
    // is the very thing under test
    val spark = GraftSession(None, GraftSession.cpus, None)
    var failed = 0
    keys.foreach { k =>
      try {
        // "flagship": the reference's golden MR job — the one key that
        // is not a DataFrame query, run here so the Mr.run pipeline
        // (mapPartitions scripts, first-comma shuffle, run sort) is
        // exercised on real multi-process executors too. The byte-exact
        // golden diff lives in the test suite (compat/flagship.scala);
        // here the hash line gives local-vs-standalone parity like
        // every other key.
        if (k == "flagship") {
          val got = compat.Flagship.run(spark,
            ops.IO.materializedResource("data.txt"))
          val md = MessageDigest.getInstance("MD5")
          got.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
          val hash = md.digest().map("%02x".format(_)).mkString
          println(s"SMOKE flagship rows=${got.size} hash=$hash")
        } else {
          // "<key>@<n>" runs <key> under spark.graft.simhash.maxDist=<n>
          // for the duration of the key — the smoke's one dial, used to
          // drive the production pair-block index path
          val (qk, dial) = k.split("@") match {
            case Array(base, d) => (base, Some(d))
            case _ => (k, None)
          }
          // the dial is restored right after DataFrame CONSTRUCTION:
          // sound because every graft dial is read at plan-build time
          // (Dials) — a key that deferred a dial read to execution time
          // would hash under the restored value
          val df = dial.fold(SparkEntry.queries(qk)(spark, sfDir))(d =>
            Dials.SimhashMaxDist.withValue(spark, d)(
              SparkEntry.queries(qk)(spark, sfDir)))
          val cols = df.columns.sorted
          // JSON per row (stable for nested arrays/structs/timestamps
          // under the UTC session), then sort — row order is not part of
          // any query's contract
          val rows = df.select(cols.head, cols.tail: _*)
            .toJSON.collect().sorted
          val md = MessageDigest.getInstance("MD5")
          rows.foreach(r => md.update(r.getBytes("UTF-8")))
          val hash = md.digest().map("%02x".format(_)).mkString
          println(s"SMOKE $k rows=${rows.length} hash=$hash")
        }
      } catch {
        case e: Throwable =>
          failed += 1
          // nextOption, not next(): an empty-string message yields an
          // empty linesIterator, and a NoSuchElementException here would
          // escape the per-key catch and abort the remaining keys
          println(s"SMOKE $k FAILED: " +
            Option(e.getMessage).getOrElse(e.toString)
              .linesIterator.nextOption().getOrElse(e.getClass.getName))
      } finally InternalCaches.unpersistAll()
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
