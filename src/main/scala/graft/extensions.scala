package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.expr.{CentroidScores, CharGramCounts, CharGrams, DotProduct, MinHashSignature, SignSketch64, SimHash64, WordShingles}

/** SQL surface for the engine's custom Catalyst expressions.
  *
  * Two ways in:
  *  - cluster-wide: `spark.sql.extensions=graft.GraftExtensions` applies
  *    at session build (the `SparkSessionExtensions` plugin point);
  *  - per-session: `GraftFunctions.register(spark)` injects into an
  *    already-running session (ExprSpec's SQL-surface tests use it).
  *
  * After either, `dot_product(a, b)`, `minhash_signature(shingles, k)` and
  * `simhash64(features)` are plain SQL functions — the codegen'd
  * expressions, not UDFs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, (info, builder)) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => graft.expr.FuseDotProduct)
  }
}

object GraftFunctions {
  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  val builders: Map[String, (ExpressionInfo, Seq[Expression] => Expression)] =
    Map(
      "dot_product" -> (
        new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "dot_product(a, b) takes two arrays")
          DotProduct(args(0), args(1))
        }),
      "minhash_signature" -> (
        new ExpressionInfo(classOf[MinHashSignature].getName,
          "minhash_signature"),
        (args: Seq[Expression]) => {
          require(args.length == 2,
            "minhash_signature(shingles, k) takes an array and a literal k")
          MinHashSignature(args(0), intLit(args(1), "k"))
        }),
      "simhash64" -> (
        new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
        (args: Seq[Expression]) => {
          require(args.length == 1,
            "simhash64(features) takes one array<string>")
          SimHash64(args(0))
        }),
      "sign_sketch64" -> (
        new ExpressionInfo(classOf[SignSketch64].getName, "sign_sketch64"),
        (args: Seq[Expression]) => {
          require(args.length == 1,
            "sign_sketch64(vector) takes one array<double>")
          SignSketch64(args(0))
        }),
      "char_grams" -> (
        new ExpressionInfo(classOf[CharGrams].getName, "char_grams"),
        (args: Seq[Expression]) => {
          require(args.length == 2,
            "char_grams(text, n) takes a string and a literal n")
          CharGrams(args(0), intLit(args(1), "n"))
        }),
      "word_shingles" -> (
        new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
        (args: Seq[Expression]) => {
          require(args.length == 2,
            "word_shingles(tokens, k) takes an array<string> and a literal k")
          WordShingles(args(0), intLit(args(1), "k"))
        }),
      "char_gram_counts" -> (
        new ExpressionInfo(classOf[CharGramCounts].getName,
          "char_gram_counts"),
        (args: Seq[Expression]) => {
          require(args.length == 2,
            "char_gram_counts(text, n) takes a string and a literal n")
          CharGramCounts(args(0), intLit(args(1), "n"))
        }),
      "centroid_scores" -> (
        new ExpressionInfo(classOf[CentroidScores].getName,
          "centroid_scores"),
        (args: Seq[Expression]) => {
          require(args.length == 2,
            "centroid_scores(v, cents) takes an array<double> and an " +
              "array<struct<int, array<double>>>")
          CentroidScores(args(0), args(1))
        })
    )

  /** Register the function set into a live session. */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, (info, builder)) =>
      org.apache.spark.sql.GraftSqlBridge
        .registerFunction(spark, name, info, builder)
    }
}
