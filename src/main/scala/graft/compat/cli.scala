package graft.compat

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.ops.Mr

/** The reference's user-facing CLI surface (`Client/client.py:46-71`):
  * `-w` write, `-r` read, `-mr` map-reduce — completed here as a thin
  * `main` over the engine's operators, so a user of the reference can run
  * the same three commands against this library.
  *
  *   -w  <file> [W]                    split into W contiguous line chunks
  *   -r  <file>                        merge chunks, sort lines, print
  *   -mr <file> <mapper> <reducer> [W] pipe-map, shuffle, sort, pipe-reduce
  *
  * Shape mapping (SURVEY.md §3.3): the reference's worker fleet + HTTP
  * chunk transfer IS Spark's storage/shuffle layer, so "write" is a
  * partitioned text sink (W part-files ≡ W worker chunks, the directory
  * listing ≡ the master's manifest), "read" is the O2 merge+sort
  * presentation, and "mr" is the Hadoop-Streaming pipeline — external
  * map/reduce scripts over stdin/stdout via `rdd.pipe`, hash shuffle on
  * the first-comma key, per-run lexicographic sort — exactly the
  * reference's exec model (`Worker/worker.py:88-96,173-208`) with the
  * in-RAM run sort replaced by Spark's spillable shuffle sort.
  *
  * Chunking parity: the reference splits CONTIGUOUSLY by line count
  * (`Client/client.py:147-191` via `Split.bylinecount`), so `-w` range
  * partitions on a line index rather than hashing — chunk i holds lines
  * [i·⌈n/W⌉, (i+1)·⌈n/W⌉), byte-compatible with the reference layout.
  */
object ClientCli {

  /** Hadoop-Streaming job with EXTERNAL scripts — the generic `-mr` form
    * of [[Mr.run]] (which takes Scala functions): each partition's lines
    * stream through the mapper command's stdin/stdout, shuffle into
    * `reducers` runs hash-partitioned on the first-comma key, sort each
    * run on the whole line, then stream each sorted run through the
    * reducer command. `rdd.pipe` launches one process per partition — the
    * reference's one-reducer-per-run contract.
    */
  def runScripts(spark: SparkSession, lines: Dataset[String],
                 mapperCmd: Seq[String], reducers: Int,
                 reducerCmd: Seq[String]): Dataset[String] = {
    import spark.implicits._
    val mapped = spark.createDataset(lines.rdd.pipe(mapperCmd))
    val runs = Mr.sortedRuns(spark, mapped, reducers)
    spark.createDataset(runs.rdd.pipe(reducerCmd))
  }

  /** `-w`: split into W contiguous line chunks under `<file>_chunks/`.
    * zipWithIndex is one extra pass to learn partition sizes; the range
    * partition on the line index reproduces the reference's contiguous
    * `bylinecount` split, which a hash repartition would not.
    */
  def write(spark: SparkSession, file: String, workers: Int): String = {
    import spark.implicits._
    val out = file + "_chunks"
    val lines = spark.read.textFile(file)
    val n = lines.count()
    val per = math.max(1L, (n + workers - 1) / workers)
    // repartitionAndSortWithinPartitions, not partitionBy: a multi-split
    // input delivers shuffle blocks in randomized fetch order, so without
    // the in-partition sort on the line index a chunk spanning two map
    // tasks would come out internally REORDERED — silently breaking the
    // contiguous-slice contract the chunk law pins
    lines.rdd.zipWithIndex()
      .map { case (l, i) => (i, l) }
      .repartitionAndSortWithinPartitions(new org.apache.spark.Partitioner {
        def numPartitions: Int = workers
        def getPartition(key: Any): Int =
          (key.asInstanceOf[Long] / per).toInt
      })
      .values.toDS()
      .write.mode("overwrite").text(out)
    out
  }

  /** `-r`: merge every chunk, sort WHOLE lines lexicographically (the
    * reference's presentation contract, `Client/client.py:105-108`), save
    * the merged artifact beside the chunks, return the sorted dataset.
    *
    * The artifact is produced by a ONE-TASK sorted text write (coalesce(1)
    * + sortWithinPartitions — a spillable UnsafeExternalSorter merge), then
    * renamed to the reference's `<stem>_part-00000<ext>` name. No
    * `collect()`: driver memory stays O(1) however large the merged chunks
    * are, and the byte layout (line + '\n', including the last line) is
    * identical to the reference's client-side merge.
    */
  def read(spark: SparkSession, file: String): Dataset[String] = {
    import spark.implicits._
    val sorted = spark.read.textFile(file + "_chunks")
      .coalesce(1).sortWithinPartitions("value").as[String]
    val target = artifactPath(file)
    val parent = target.getParent
    val tmp = parent.resolve(s".${target.getFileName}_tmp")
    sorted.write.mode("overwrite").text(tmp.toString)
    val listing = Files.list(tmp)
    val part =
      try listing.iterator().asScala
        .find(p => p.getFileName.toString.startsWith("part-")
          && !p.getFileName.toString.endsWith(".crc"))
        .getOrElse(sys.error(s"no part-file produced under $tmp"))
      finally listing.close()
    Files.move(part, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // best-effort cleanup of the write scaffolding (_SUCCESS, .crc, dir)
    val walk = Files.walk(tmp)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(p => Files.deleteIfExists(p))
    finally walk.close()
    sorted
  }

  /** Path of the merged artifact [[read]] writes for `file`. */
  def artifactPath(file: String): java.nio.file.Path = {
    val base = Paths.get(file).getFileName.toString
    val (stem, ext) = base.lastIndexOf('.') match {
      case -1 => (base, "")
      case i  => (base.substring(0, i), base.substring(i))
    }
    Paths.get(file).toAbsolutePath.getParent
      .resolve(s"${stem}_part-00000$ext")
  }

  /** `-mr`: write must have run first (reads the chunk layout), pipes
    * through the user scripts, saves reduce runs under `<file>_mr/` and
    * the merged `_part-00000` artifact via [[read]]'s contract.
    */
  def mapReduce(spark: SparkSession, file: String, mapper: String,
                reducer: String, workers: Int): String = {
    val lines = spark.read.textFile(file + "_chunks")
    val reduced = runScripts(spark, lines,
      Seq("python3", mapper), workers, Seq("python3", reducer))
    val out = file + "_mr_chunks"
    reduced.write.mode("overwrite").text(out)
    out
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(
      Some(sys.env.getOrElse("SPARK_MASTER", "local[*]")),
      graft.GraftSession.cpus, None)
    try args.toList match {
      case "-w" :: file :: rest =>
        val w = rest.headOption.map(_.toInt).getOrElse(3)
        println(s"WRITE COMPLETE: ${write(spark, file, w)} ($w chunks)")
      case "-r" :: file :: Nil =>
        // print by streaming the artifact file read() just wrote — line at
        // a time, no second Spark job, driver memory O(1) (a
        // toLocalIterator over the coalesce(1) dataset would pull the
        // whole single partition into the driver AND re-run the sort)
        read(spark, file)
        val lines = Files.lines(artifactPath(file))
        try lines.iterator().asScala.foreach(println)
        finally lines.close()
      case "-mr" :: file :: mapper :: reducer :: rest =>
        val w = rest.headOption.map(_.toInt).getOrElse(3)
        val dir = mapReduce(spark, file, mapper, reducer, w)
        read(spark, dir.stripSuffix("_chunks"))
        // line count from the UNSORTED reduce runs — sort-invariant, so
        // the one-task merge-sort isn't executed a second time for it
        val n = spark.read.textFile(dir).count()
        println("MAP REDUCE TASK COMPLETE")
        println(s"RUNS: $dir  MERGED: $n lines")
      case _ =>
        System.err.println(
          "usage: ClientCli -w <file> [W] | -r <file> | " +
            "-mr <file> <mapper.py> <reducer.py> [W]")
        sys.exit(2)
    } finally spark.stop()
  }
}
