package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._

/** Laws for the two halves of `dedup_clusters` that the oracle fixture
  * cannot reach: the LSH band keys and the connected-components rounds.
  *
  *  - Band keys: the codegen'd `bandKeys` must hash exactly what the
  *    `transform` lambda form hashed, (j, sig[j·rows + k]…), for both
  *    banding geometries. The values are bucket ids, so a stored index
  *    built by either form must keep matching probes built by the other.
  *  - Components: `componentLabels` must equal a union-find on any
  *    graph, labels and sizes, on both of its paths: the driver
  *    union-find, which every graph here is small enough for, and the
  *    Spark rounds (`labelRounds`, called directly). The oracle fixture
  *    takes the driver path, so only this law drives the pointer-jumping
  *    rounds: chains of 16+ docs in shuffled id order need several of
  *    them.
  */
object DedupLawSpec extends Properties("dedupClusters") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6) // each case runs Spark jobs

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  // signatures over a small value pool, extremes included, so some band
  // positions repeat across docs
  private val genSigVal = Gen.frequency(
    4 -> Gen.chooseNum(Long.MinValue, Long.MaxValue),
    1 -> Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue))
  private val genSigs = Gen.chooseNum(1, 24).flatMap(n =>
    Gen.listOfN(n, Gen.listOfN(128, genSigVal)))

  /** The lambda form the codegen'd keys replaced. */
  private def transformKeys(sig: org.apache.spark.sql.DataFrame,
                            bands: Int, rows: Int) =
    sig.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          j => xxhash64(
            (j +: (0 until rows).map(k => get(col("sig"), j * rows + k)))
              : _*))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bhash")

  property("bandKeys == transform form, 16x8 and 32x4") =
    Prop.forAll(genSigs) { sigs =>
      val sig = sigs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("doc_id", "sig")
      def keys(df: org.apache.spark.sql.DataFrame) =
        df.select("doc_id", "band", "bhash").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      Prop.all(Seq((16, 8), (32, 4)).map { case (bands, rows) =>
        val got = keys(ops.Text.bandKeys(sig, bands, rows))
        val want = keys(transformKeys(sig, bands, rows))
        Prop(got == want && got.size == sigs.size * bands) :|
          s"${bands}x$rows missing=${want -- got} extra=${got -- want}"
      }: _*)
    }

  /** Driver-side union-find: vertex -> least id of its component. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  // a chain of 16-40 docs in shuffled id order (several rounds), plus
  // sparse random edges over the same id range
  private val genChain = for {
    n <- Gen.chooseNum(16, 40)
    seed <- Gen.long
  } yield {
    val order = new scala.util.Random(seed).shuffle((0L until 200L).toVector).take(n)
    order.zip(order.tail)
  }
  private val genEdge = for {
    a <- Gen.chooseNum(0L, 199L); b <- Gen.chooseNum(0L, 199L)
  } yield (a, b)
  private val genGraph = for {
    chain <- genChain
    extra <- Gen.chooseNum(0, 30).flatMap(Gen.listOfN(_, genEdge))
  } yield (chain ++ extra).filter { case (a, b) => a != b }

  /** The two `componentLabels` paths over undirected pairs: the driver
    * union-find through `componentLabels`, and the rounds over both
    * orientations of each pair.
    */
  private val paths: Seq[(String, Seq[(Long, Long)] => org.apache.spark.sql.DataFrame)] =
    Seq("driver" -> (u => ops.Text.componentLabels(u.toDF("a", "b"))),
      "rounds" -> (u => ops.Text.labelRounds(
        u.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst"))))

  /** A path's labels as vertex -> (label, size), and whether a local
    * relation came back.
    */
  private def labels(undirected: Seq[(Long, Long)],
                     path: Seq[(Long, Long)] => org.apache.spark.sql.DataFrame)
      : (Map[Long, (Long, Long)], Boolean) =
    try {
      val df = path(undirected)
      val local = df.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      (df.select("id", "lbl", "n").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap, local)
    } finally InternalCaches.unpersistAll()

  property("componentLabels == union-find, chains of 16+") =
    Prop.forAll(genGraph) { undirected =>
      val roots = unionFind(undirected)
      val sizes = roots.values.groupBy(identity).view.mapValues(_.size.toLong)
      val want = roots.map { case (v, r) => v -> (r, sizes(r)) }
      Prop.all(paths.map { case (path, run) =>
        val (got, local) = labels(undirected, run)
        Prop(got == want && local == (path == "driver")) :|
          s"$path: local=$local edges=$undirected " +
            s"wrong=${(got.toSet diff want.toSet).take(5)}"
      }: _*)
    }

  property("componentLabels of the empty edge set is empty") =
    Prop.all(paths.map { case (path, run) =>
      Prop(labels(Nil, run)._1.isEmpty) :| path
    }: _*)
}
