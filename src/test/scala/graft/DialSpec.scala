package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

/** One declared dial table: `Dials` is the only source of `spark.graft.*`
  * keys, the README conf table mirrors it row for row, and the specs'
  * session is the one `GraftSession` builds. Plan checks walk the plan
  * that ran through `PlanWalk` alone, under that session's AQE setting.
  */
class DialSpec extends SparkSpec {
  private val declared = Dials.all.map(d => d.key -> d).toMap

  private def scalaSources(root: String): Seq[Path] =
    Using.resource(Files.walk(Paths.get(root)))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq)

  /** (key, default) per `Session conf surface` row; `**` emphasis and a
    * trailing `(rNN)` round note are presentation, not part of the value.
    */
  private lazy val readmeRows: Seq[(String, String)] =
    Files.readAllLines(Paths.get("README.md")).asScala.toSeq
      .dropWhile(_ != "## Session conf surface").drop(1)
      .takeWhile(!_.startsWith("## "))
      .filter(_.startsWith("| `spark.graft."))
      .map { row =>
        val cells = row.split('|').map(_.trim)
        cells(1).stripPrefix("`").stripSuffix("`") ->
          cells(2).replace("**", "").replaceAll("\\s*\\(r\\d+\\)$", "")
      }

  test("dial keys are unique") {
    assert(declared.size == Dials.all.size)
  }

  test("every \"spark.graft. literal under src/main is a declared dial") {
    val literal = "\"(spark\\.graft\\.[^\"]*)".r
    val files = scalaSources("src/main")
    assert(files.nonEmpty)
    val undeclared = for {
      f <- files
      m <- literal.findAllMatchIn(Files.readString(f))
      if !declared.contains(m.group(1))
    } yield s"$f: ${m.group(1)}"
    assert(undeclared.isEmpty, undeclared.mkString("\n"))
  }

  test("README conf table rows match Dials key for key and default for default") {
    assert(readmeRows.nonEmpty)
    val keys = readmeRows.map(_._1)
    assert(keys.distinct == keys, "duplicate README rows")
    val wrong = readmeRows.collect {
      case (k, dflt) if !declared.get(k).exists(_.default == dflt) =>
        s"$k: README '$dflt', Dials ${declared.get(k).map(_.default)}"
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
    val missing = Dials.all.map(_.key).filterNot(keys.toSet)
    assert(missing.isEmpty, s"dials without a README row: $missing")
  }

  test("every declared dial is set by a test or the smoke run") {
    // a dial no law or smoke step sets is an untested plan branch: it
    // counts as exercised when its quoted key, or `Dials.<Val>.withValue`,
    // appears in a spec other than this one or in Smoke.scala
    val valName = Dials.getClass.getMethods.toSeq
      .filter(m => m.getParameterCount == 0 &&
        classOf[Dials.Dial[_]].isAssignableFrom(m.getReturnType))
      .map(m => m.invoke(Dials).asInstanceOf[Dials.Dial[_]].key -> m.getName)
      .toMap
    assert(valName.size == Dials.all.size)
    val texts = (scalaSources("src/test")
      .filterNot(_.getFileName.toString == "DialSpec.scala") :+
      Paths.get("src/main/scala/graft/Smoke.scala")).map(Files.readString)
    val unexercised = Dials.all.map(_.key).filterNot { k =>
      texts.exists(t => t.contains("\"" + k + "\"") ||
        t.contains(s"Dials.${valName(k)}.withValue"))
    }
    assert(unexercised.isEmpty,
      s"dials no test or smoke step sets: ${unexercised.mkString(", ")}")
  }

  test("only PlanWalk walks adaptive plans or toggles AQE under src/test") {
    // split so this file does not match its own patterns
    val banned = Seq("collectWith" + "Subqueries", "QueryStage" + "Exec",
      "AdaptiveSparkPlan" + "Helper", "AdaptiveSparkPlan" + "Exec",
      "spark.sql.adaptive" + ".enabled")
    val files = scalaSources("src/test")
    assert(files.exists(_.getFileName.toString == "PlanWalk.scala"))
    val hits = for {
      f <- files if f.getFileName.toString != "PlanWalk.scala"
      text = Files.readString(f)
      b <- banned if text.contains(b)
    } yield s"$f: $b"
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("each declared default passes its own check; a bad value names the key") {
    Dials.all.filter(_.default != "adaptive").foreach(d => d.read(d.default))
    Dials.all.foreach { d =>
      val e = intercept[IllegalArgumentException](d.read("not-a-value"))
      assert(e.getMessage.contains(d.key))
    }
  }

  test("withValue restores the prior setting") {
    val d = Dials.SimhashMaxDist
    assert(d.get(spark).isEmpty)
    assert(d.withValue(spark, "12")(d(spark)) == 12)
    assert(d.get(spark).isEmpty && d(spark) == 4)
  }

  test("SparkSpec.session carries GraftSession's confs") {
    GraftSession.SharedConf.foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }
}
