package graft.expr

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k partial aggregation over (score, id) pairs — the
  * shuffle-thin form of a `row_number().over(partitionBy(q)
  * .orderBy(score desc, id))` rank cut at k. Every nearest-neighbour
  * key ranks through it (`Similarity.topK`).
  *
  * Why it exists (r12): the window form must SORT every partition of
  * the full candidate stream (Spark's partial WindowGroupLimit then
  * ships only k rows per query and partition) — at the sf10 decade,
  * `sim_ann_ivf_trained`'s stream is ~1.8e8 rows (nprobe·√n candidates
  * per query × 200 k queries) sorted to keep 3 per query. A typed
  * aggregate with a ≤ k buffer does the same selection with MAP-SIDE
  * partial merge: each upstream partition emits at most one k-element
  * buffer per group, so the exchange carries ~k rows per query, and
  * nothing is ever sorted but k+1-element buffers. Selection order is
  * EXACTLY the window's — (score desc, id asc) — so the two are
  * output-identical row for row; AccuracySpec pins that on the real
  * fixture and on random streams.
  *
  * The buffer is a sorted Seq capped at k (k ≤ 16 guarded: this is a
  * top-FEW operator; a large k wants a heap, not an insertion sort).
  *
  * SESSION PREREQUISITE ([[TopKByScore.AggFallbackKey]]): a typed
  * Aggregator plans as ObjectHashAggregateExec, and Spark's default
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` = 128
  * falls back to SORT-BASED aggregation after observing just 128
  * distinct groups in a task — which silently converts this operator's
  * whole design (stream → k-element buffers) into an external sort of
  * the INPUT stream. Measured at the r13 sf100 probe: the
  * sim_ann_ivf_trained candidate stream is ~1.6e10 rows, the fallback
  * sort's spill filled the probe box's disk, and the key died
  * SPILL_OUT_OF_MEMORY — the exact failure the aggregation exists to
  * delete. [[graft.GraftSession]] therefore raises the threshold
  * to [[TopKByScore.AggFallbackValue]]: per-task group counts here are
  * ~n/P (62 k at 2 M queries / 32 tasks) with ≤ (k+1)-element buffers
  * (~200 B), so the honest map cost is MBs — while the raised ceiling
  * still bounds a pathological UDAF at ~4 M groups.
  */
case class TopKByScore(k: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)],
      Seq[(Double, Long)]] {
  require(k >= 1 && k <= 16, s"bounded top-k is for small k, got $k")

  // the window's ordering: score desc, id asc — a TOTAL order on the
  // pairs (ids are unique per group). Double.compare, not raw >: Spark's
  // sort ranks NaN as the largest double (first under desc), and a raw >
  // would never rank a NaN score — the two row-for-row-identical plans
  // would silently diverge on a NaN (e.g. a zero-norm cosine) input.
  // `+ 0.0` turns -0.0 into 0.0: Spark's sort ties them, Double.compare
  // does not
  private def beats(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1 + 0.0, b._1 + 0.0)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  private def insert(buf: Seq[(Double, Long)],
      x: (Double, Long)): Seq[(Double, Long)] =
    if (buf.size >= k && beats(buf.last, x)) buf
    else ((buf :+ x).sortWith(beats)).take(k)

  override def zero: Seq[(Double, Long)] = Seq.empty
  override def reduce(buf: Seq[(Double, Long)],
      x: (Double, Long)): Seq[(Double, Long)] = insert(buf, x)
  override def merge(a: Seq[(Double, Long)],
      b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    b.foldLeft(a)(insert)
  override def finish(buf: Seq[(Double, Long)]): Seq[(Double, Long)] = buf
  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    ExpressionEncoder()
}

object TopKByScore {
  /** The ObjectHashAggregate fallback dial every engine session must
    * raise — see the class scaladoc for the measured sf100 failure the
    * 128-group default causes. [[graft.GraftSession]] installs it.
    */
  val AggFallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val AggFallbackValue = "4194304"
}
