package graft

import org.apache.spark.sql.SparkSession

/** Every `spark.graft.*` session dial, declared once: key, default, the
  * values it accepts and a one-line doc. Operators read a dial only
  * through its [[Dials.Dial]] at plan-build time, so a notebook can
  * re-dial between queries. A value outside the accepted set fails with
  * the key named. "adaptive" marks a default the operator computes from
  * its input; such dials are read with [[Dials.Dial.get]]. DialSpec
  * holds the README conf table and every `spark.graft.` literal under
  * src/main to this list.
  */
object Dials {
  final class Dial[T] private[Dials] (val key: String, val default: String,
      val accepts: String, val doc: String, parse: String => Option[T]) {
    /** The session's value, else the declared default. */
    def apply(s: SparkSession): T = read(s.conf.get(key, default))
    /** The session's value if set — for dials with an adaptive default. */
    def get(s: SparkSession): Option[T] = s.conf.getOption(key).map(read)
    /** Runs `body` with the dial set to `value`, then restores the
      * session's prior setting.
      */
    def withValue[A](s: SparkSession, value: String)(body: => A): A = {
      val prior = s.conf.getOption(key)
      s.conf.set(key, value)
      try body finally prior.fold(s.conf.unset(key))(s.conf.set(key, _))
    }
    private[graft] def read(raw: String): T = parse(raw).getOrElse(
      throw new IllegalArgumentException(
        s"$key must be $accepts, got '$raw'"))
  }

  private val declared = Seq.newBuilder[Dial[_]]
  private def dial[T](key: String, default: Any, accepts: String,
                      doc: String)(parse: String => Option[T]): Dial[T] = {
    val d = new Dial(key, default.toString, accepts, doc, parse)
    declared += d
    d
  }
  private def int(key: String, default: Any, doc: String,
                  lo: Int = Int.MinValue,
                  hi: Int = Int.MaxValue): Dial[Int] =
    dial(key, default,
      if (lo == Int.MinValue) "an integer"
      else if (hi == Int.MaxValue) s"an integer >= $lo"
      else s"an integer in [$lo, $hi]", doc)(
      _.toIntOption.filter(v => v >= lo && v <= hi))
  // block ids are bitmasks of xxhash64, so block counts are powers of two
  private def pow2(key: String, default: Int, doc: String): Dial[Int] =
    dial(key, default, "a power of two", doc)(
      _.toIntOption.filter(v => v > 0 && (v & (v - 1)) == 0))

  val HotBucketWidth = int("spark.graft.lsh.hotBucketWidth", "adaptive",
    "bucket width past which every salted join salts a band bucket or " +
      "IVF cell; adaptive = max(32, ceil(sqrt(documents bytes / 32))), " +
      "4096 for IVF cells")
  val SaltBlocks = pow2("spark.graft.lsh.saltBlocks", 8,
    "salt-block count for hot buckets and hot IVF cells")
  val BucketDfCap = int("spark.graft.lsh.bucketDfCap", 65536,
    "buckets wider than this leave pair generation; 0 disables", lo = 0)
  val HotSampleShift = int("spark.graft.lsh.hotSampleShift", 4,
    "width detection samples 1/2^shift of docs; 0 counts exactly",
    lo = 0, hi = 16)
  val SimhashMaxDist = int("spark.graft.simhash.maxDist", 4,
    "dedup_simhash hamming threshold; <= 4 uses the pair-block index")
  val ContainmentMaxDf = int("spark.graft.containment.maxDf", 128,
    "text_containment shingle DF cap for the pair join", lo = 1)
  val IvfIters = int("spark.graft.ivf.iters", 3,
    "Lloyd iterations of IVF training")
  val IvfNprobe = int("spark.graft.ivf.nprobe", 2,
    "IVF cells probed per vector")
  val AnnlshProbeEvery = int("spark.graft.annlsh.probeEvery", 13,
    "sim_ann_lsh re-ingests every Nth vector as a clone; 0 disables")

  /** Every declared dial, in declaration order. */
  val all: Seq[Dial[_]] = declared.result()
}
