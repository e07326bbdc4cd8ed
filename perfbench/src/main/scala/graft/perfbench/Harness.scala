package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{InternalCaches, SparkEntry}

/** One benchmark run of one workload in one JVM, driven by `run.py`.
  *
  *  1. Set-up, [[Setups]] times: start a session and run every key once,
  *     digesting its output (warm-up and output check in one pass). Each
  *     repetition is one `setup_s` sample; the first pays cold JIT/codegen.
  *  2. [[WarmupPasses]] untimed passes, then timed passes: a closed loop
  *     with one client, the keys back to back, each as build
  *     (`SparkEntry.queries(key)`), plan (`queryExecution.executedPlan`)
  *     and execute (the `noop` write), until `--seconds` have passed and at
  *     least [[MinPasses]] are done. A full GC that reads the heap the key
  *     keeps live, then cleanup (`InternalCaches.unpersistAll`), run
  *     outside the timer.
  *  3. Every key once more in the session of the timed passes, digested,
  *     so state kept within a session is checked too. Untimed.
  *  4. `graft.Verify` on the oracle fixture for the same keys
  *     (`SPARK_GRAFT_ONLY`), which stops the session.
  *
  * With `--trace 1` a [[Probe]] listens on the session of the timed passes
  * and the run records spans pass → key → build/plan/exec/cleanup → job →
  * stage; all spans of one key execution share its `key_id`.
  *
  * Writes one JSON document to `--out`; `run.py` turns it into metrics.
  */
object Harness {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val memBean = ManagementFactory.getMemoryMXBean
  private val MB = 1048576.0
  private val Setups = 2
  // JIT time per pass halves over the first ten or so executions of the
  // keys (measured: about 2 s down to about 1 s of compilation per pass on
  // a 4-core box). More warm-up would settle it further, but a run must
  // stay inside its time budget on a box that runs twice as slow.
  private val WarmupPasses = 2
  private val MinPasses = 3
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum
  private def jitMs: Long =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private val modules: Seq[(String, Map[String, _])] = Seq(
    "relational" -> graft.ops.Relational.queries,
    "windows" -> graft.ops.Windows.queries,
    "functions" -> graft.ops.Fn.queries,
    "streaming" -> graft.ops.Streaming.queries,
    "text" -> graft.ops.Text.queries,
    "similarity" -> graft.ops.Similarity.queries,
    "mr" -> graft.ops.Mr.queries,
    "io" -> graft.ops.IO.queries,
    "multimodal" -> graft.ops.Multimodal.queries,
    "graph" -> graft.ops.Graph.queries)
  def moduleOf(key: String): String =
    modules.collectFirst { case (m, q) if q.contains(key) => m }
      .getOrElse("other")

  final case class Span(id: Int, parent: Int, keyId: Int, pass: Int,
                        kind: String, name: String,
                        startMs: Double, endMs: Double)

  /** Span clock: epoch milliseconds from a monotonic source, comparable
    * with the millisecond timestamps Spark puts on listener events.
    */
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  def session(fixture: String, cpus: Int): SparkSession = SparkSession
    .builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      InternalCaches.adaptiveInitialShuffleParts(fixture, cpus).toString)
    .config(graft.expr.TopKByScore.AggFallbackKey,
      graft.expr.TopKByScore.AggFallbackValue)
    .config(InternalCaches.ShuffleBypassKey, InternalCaches.ShuffleBypassValue)
    .config("spark.sql.broadcastTimeout", "3600")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val fixture = opt("fixture")
    val keys = opt("keys").split(",").toSeq
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt

    val errors = mutable.ArrayBuffer.empty[String]
    val digests = keys.map(_ -> mutable.ArrayBuffer.empty[String]).toMap
    def digest(spark: SparkSession, key: String, stage: String): Unit = {
      val t0 = System.nanoTime()
      val d = try Digest.of(SparkEntry.queries(key)(spark, fixture)) catch {
        case e: Throwable =>
          errors += s"$stage $key: $e"; s"error: ${e.getClass.getName}"
      }
      digests(key) += d
      InternalCaches.unpersistAll(blocking = true)
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] $stage $key $sec%.2f s $d")
    }

    // 1. set-up repetitions
    var spark: SparkSession = null
    val setupS = (1 to Setups).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(fixture, cpus)
      spark.sparkContext.setLogLevel("WARN")
      keys.foreach(digest(spark, _, "setup"))
      (System.nanoTime() - t0) / 1e9
    }

    // 2. timed passes
    val probe = if (trace) {
      val p = new Probe
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
      Some(p)
    } else None
    def drained(): Map[String, Double] =
      probe.fold(Map.empty[String, Double]) { p =>
        PerfbenchBus.drain(spark.sparkContext); p.snapshot()
      }
    val spans = mutable.ArrayBuffer.empty[Span]
    var nextId = 0
    def span[T](parent: Int, keyId: Int, pass: Int, kind: String,
                name: String)(body: Int => T): T = {
      val id = nextId; nextId += 1
      val s = nowMs
      try body(id)
      finally spans += Span(id, parent, keyId, pass, kind, name, s, nowMs)
    }
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var loopStart = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - loopStart) / 1e9
    // passes below 0 are untimed warm-up, run exactly like the timed ones
    var p = -WarmupPasses
    while (p < 0 || passes.size < MinPasses || elapsed < seconds) {
      if (p == 0) loopStart = System.nanoTime()
      val before = drained()
      val perKey = mutable.LinkedHashMap.empty[String, Map[String, Double]]
      val shape = mutable.Map("plan.nodes" -> 0.0, "plan.exchanges" -> 0.0)
      val cacheStats = mutable.Map("caches.tracked" -> 0.0,
        "caches.mem_mb" -> 0.0, "caches.disk_mb" -> 0.0,
        "caches.unpersist_s" -> 0.0)
      var wall, cpu, gc, jit = 0.0
      var live = 0L
      span(-1, -1, p, "pass", s"pass$p") { passId =>
        keys.foreach { key =>
          val keyId = p * keys.size + keys.indexOf(key)
          span(passId, keyId, p, "key", key) { kId =>
            val c0 = osBean.getProcessCpuTime
            val g0 = gcMs
            val j0 = jitMs
            val t0 = System.nanoTime()
            var tb, tp = t0
            try {
              val df: DataFrame = span(kId, keyId, p, "build", key) { _ =>
                SparkEntry.queries(key)(spark, fixture)
              }
              tb = System.nanoTime()
              val plan = span(kId, keyId, p, "plan", key) { _ =>
                df.queryExecution.executedPlan
              }
              tp = System.nanoTime()
              span(kId, keyId, p, "exec", key) { _ =>
                df.write.format("noop").mode("overwrite").save()
              }
              if (trace) {
                probe.get.recordPhases(df.queryExecution)
                val (n, x) = Probe.planShape(plan)
                shape("plan.nodes") += n; shape("plan.exchanges") += x
              }
            } catch {
              case e: Throwable => errors += s"pass $p $key: $e"
            }
            val t1 = System.nanoTime()
            val keyCpu = (osBean.getProcessCpuTime - c0) / 1e9
            val keyGc = (gcMs - g0) / 1e3
            val keyJit = (jitMs - j0) / 1e3
            span(kId, keyId, p, "cleanup", key) { _ =>
              // what the key keeps live, its caches included: a full GC
              // leaves nothing else. Heap read without a GC would follow
              // the garbage allocated since the last collection instead.
              System.gc()
              live = math.max(live, memBean.getHeapMemoryUsage.getUsed)
              if (trace) {
                val info = spark.sparkContext.getRDDStorageInfo
                cacheStats("caches.tracked") += InternalCaches.trackedCount
                cacheStats("caches.mem_mb") += info.map(_.memSize).sum / MB
                cacheStats("caches.disk_mb") += info.map(_.diskSize).sum / MB
              }
              val u0 = System.nanoTime()
              InternalCaches.unpersistAll(blocking = true)
              cacheStats("caches.unpersist_s") +=
                (System.nanoTime() - u0) / 1e9
            }
            val sec = (t1 - t0) / 1e9
            wall += sec; cpu += keyCpu; gc += keyGc; jit += keyJit
            System.err.println(f"[perfbench] pass $p $key $sec%.2f s")
            perKey(key) = Map("s" -> sec, "build_s" -> (tb - t0) / 1e9,
              "plan_s" -> (tp - tb) / 1e9, "exec_s" -> (t1 - tp) / 1e9,
              "cpu_s" -> keyCpu)
          }
        }
      }
      val after = drained()
      val counters = (after.keySet ++ before.keySet).map { k =>
        k -> (if (k == "task.peak_exec_mem_mb") after.getOrElse(k, 0.0)
              else after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))
      }.toMap
      if (p >= 0) passes += Map("wall_s" -> wall, "cpu_s" -> cpu,
        "jvm.gc_s" -> gc, "jvm.jit_s" -> jit, "live_heap_mb" -> live / MB,
        "output.files" -> partFiles().toDouble,
        "keys" -> perKey.toMap) ++ counters ++ shape ++ cacheStats
      p += 1
    }
    val timedS = elapsed
    keys.foreach(digest(spark, _, "timed session"))

    // 3. the oracle dump
    val traceDoc = probe.map(traceJson(spans.filter(_.pass >= 0).toSeq, _))
    opt.get("verify-fixture").foreach { vf =>
      try graft.Verify.main(Array(vf, opt("verify-out"))) catch {
        case e: Throwable => errors += s"verify: $e"
      }
    }

    val doc = Json.obj(
      "spark_version" -> spark.version,
      "cpus" -> cpus,
      "keys" -> keys,
      "modules" -> keys.map(k => k -> moduleOf(k)).toMap,
      "setup_s" -> setupS,
      "timed_s" -> timedS,
      "passes" -> passes.toSeq,
      "digests" -> digests.map { case (k, v) => k -> v.toSeq },
      "errors" -> errors.toSeq,
      "trace" -> traceDoc.orNull)
    Files.writeString(Paths.get(opt("out")), doc.text)
    spark.stop()
  }

  /** Part-files currently under the engine's sink root in java.io.tmpdir. */
  private def partFiles(): Long = {
    val root = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.walk(root)
    try s.iterator().asScala.count(p =>
      p.getFileName.toString.startsWith("part-") &&
        !p.getFileName.toString.endsWith(".crc")).toLong
    finally s.close()
  }

  /** Spans (harness + Spark job/stage) with their parents, and per-pass
    * self time per span kind: a span's duration minus the union of the
    * intervals its children cover. Jobs hang under the innermost harness
    * span open at their submission; stages under the job that lists them.
    */
  private def traceJson(harness: Seq[Span], probe: Probe): Json.Raw = {
    val phases = harness.filter(s =>
      Set("build", "plan", "exec", "cleanup")(s.kind))
    var nextId = harness.map(_.id).maxOption.getOrElse(0) + 1
    val (jobs, stages) =
      probe.synchronized((probe.jobs.toSeq, probe.stages.toSeq))
    val jobSpans = jobs.flatMap { j =>
      phases.find(s => s.startMs <= j.startMs && j.startMs <= s.endMs + 1)
        .map { ph =>
          val id = nextId; nextId += 1
          val end = if (j.endMs > 0) j.endMs.toDouble else j.startMs.toDouble
          j.stageIds -> Span(id, ph.id, ph.keyId, ph.pass, "job",
            s"job${j.id}:${ph.kind}", j.startMs.toDouble, end)
        }
    }
    val traced = stages.flatMap { st =>
      jobSpans.find(_._1.contains(st.id)).map { case (_, js) =>
        val id = nextId; nextId += 1
        st -> Span(id, js.id, js.keyId, js.pass, "stage", s"stage${st.id}",
          st.startMs.toDouble, st.endMs.toDouble)
      }
    }
    val all = harness ++ jobSpans.map(_._2) ++ traced.map(_._2)
    val children = all.groupBy(_.parent)
    def self(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered, curS, curE = 0.0
      var open = false
      iv.foreach { case (a, b) =>
        if (open && a <= curE) curE = math.max(curE, b)
        else {
          if (open) covered += curE - curS
          curS = a; curE = b; open = true
        }
      }
      if (open) covered += curE - curS
      math.max(0.0, s.endMs - s.startMs - covered) / 1e3
    }
    val selfByPass = all.groupBy(_.pass).map { case (p, ss) =>
      p.toString -> ss.groupBy(_.kind).map { case (k, v) =>
        s"self.${k}_s" -> v.map(self).sum }
    }
    val buildJobs = all.groupBy(_.pass).map { case (p, ss) =>
      val builds = ss.filter(_.kind == "build").map(_.id).toSet
      p.toString -> ss.count(s => s.kind == "job" && builds(s.parent))
    }
    // duration-weighted skew: sum of each stage's slowest task over the
    // sum of its mean task, over multi-task stages of each pass
    val skew = traced.filter(_._1.tasks >= 2).groupBy(_._2.pass).map {
      case (p, ss) =>
        val mean = ss.map { case (st, _) => st.sumTaskMs.toDouble / st.tasks }
        p.toString -> ss.map(_._1.maxTaskMs).sum / math.max(1e-9, mean.sum)
    }
    Json.obj(
      "self_by_pass" -> selfByPass,
      "build_jobs_by_pass" -> buildJobs,
      "skew_by_pass" -> skew,
      "spans" -> all.sortBy(_.id).map(s => Json.obj(
        "id" -> s.id, "parent" -> s.parent, "key_id" -> s.keyId,
        "pass" -> s.pass, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
  }
}

/** Minimal JSON writer for the harness's own output. */
object Json {
  final case class Raw(text: String)
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) =>
    str(k) + ":" + value(v) }.mkString("{", ",", "}"))
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
