package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.DataFrame

/** Laws for the driver-run round loops that pass each round's state
  * through `InternalCaches.cut`:
  *
  *  - Plan size: a loop's result plan must not grow with its rounds
  *    beyond what the loop itself keeps. `labelRounds` keeps only the
  *    last round's labels, so its plan is the same size after one round
  *    or many; `shortestPaths` keeps a union of every hop's frontier, so
  *    its plan grows at most linearly in hops.
  *  - BFS: `shortestPaths` must equal a driver-side BFS on a long chain
  *    (one hop per node) and on random directed graphs.
  */
object RoundsLawSpec extends Properties("rounds") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6) // each case runs Spark jobs

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private def planNodes(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case n => n }.size

  /** Both orientations of each undirected pair, as `labelRounds` takes. */
  private def symmetric(pairs: Seq[(Long, Long)]): DataFrame =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a))
    }.toDF("src", "dst")

  property("labelRounds plan is one round deep after many rounds") =
    Prop.delay {
      // 1-2, 2-0: the seed labels 1 with 1, so one round runs
      val one = ops.Text.labelRounds(symmetric(Seq((1L, 2L), (2L, 0L))))
      // a 32-doc chain in shuffled id order needs several rounds
      val order = new scala.util.Random(32).shuffle((0L until 32L).toVector)
      val many = ops.Text.labelRounds(symmetric(order.zip(order.tail)))
      try {
        val lbls = many.select("lbl", "n").as[(Long, Long)].collect()
        Prop(planNodes(many) == planNodes(one)) :|
          s"plan nodes: 32-doc chain ${planNodes(many)}, " +
            s"one round ${planNodes(one)}" &&
          Prop(lbls.forall(_ == ((0L, 32L)))) :| "one component labelled 0"
      } finally InternalCaches.unpersistAll()
    }

  /** Driver-side multi-source BFS: node -> hops, up to `maxHops`. */
  private def bfs(edges: Seq[(Long, Long)], seeds: Seq[Long],
                  maxHops: Int): Map[Long, Int] = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var dist = seeds.map(_ -> 0).toMap
    var frontier = seeds.distinct
    (1 to maxHops).foreach { h =>
      frontier = frontier.flatMap(out.getOrElse(_, Nil)).distinct
        .filterNot(dist.contains)
      dist ++= frontier.map(_ -> h)
    }
    dist
  }

  private def paths(edges: Seq[(Long, Long)], seeds: Seq[Long],
                    maxHops: Int): DataFrame =
    ops.Graph.shortestPaths(edges.toDF("src", "dst"), seeds.toDF("node"),
      maxHops)

  private def collected(df: DataFrame): Map[Long, Int] =
    df.as[(Long, Int)].collect().toMap

  property("shortestPaths on a 30-node chain: BFS, plan linear in hops") =
    Prop.delay {
      val chain = (0L until 29L).map(i => (i, i + 1))
      try {
        val got = paths(chain, Seq(0L), 30)
        val Seq(n0, n15, n30) = Seq(0, 15).map(h =>
          planNodes(paths(chain, Seq(0L), h))) :+ planNodes(got)
        Prop(collected(got) == bfs(chain, Seq(0L), 30)) :| "hops" &&
          Prop(n30 - n15 <= n15 - n0) :|
            s"plan nodes at 0/15/30 hops: $n0/$n15/$n30"
      } finally InternalCaches.unpersistAll()
    }

  // random directed graphs over 20 nodes, with 1-3 seeds and 1-6 hops
  private val genNode = Gen.chooseNum(0L, 19L)
  private val genCase = for {
    m <- Gen.chooseNum(0, 40)
    edges <- Gen.listOfN(m, Gen.zip(genNode, genNode))
    seeds <- Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, genNode))
    hops <- Gen.chooseNum(1, 6)
  } yield (edges, seeds, hops)

  property("shortestPaths == BFS on random graphs") =
    Prop.forAll(genCase) { case (edges, seeds, hops) =>
      try {
        val got = collected(paths(edges, seeds, hops))
        val want = bfs(edges, seeds, hops)
        Prop(got == want) :|
          s"edges=$edges seeds=$seeds hops=$hops got=$got want=$want"
      } finally InternalCaches.unpersistAll()
    }
}
