package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._

/** Property laws for [[ops.Blocking]]'s hot-bucket-salted joins: for ANY
  * band layout — including buckets far past the HotBucket width, the exact
  * regime where the triangular block-pair replication engages — the
  * salted join must produce EXACTLY the unordered collision pairs of the
  * naive self-join. The triangle scheme earned this law: its first draft
  * silently dropped pairs whose doc_id order opposed their block order,
  * a bug only a skewed instance exposes.
  */
object SaltLawSpec extends Properties("Blocking") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6) // each case runs Spark jobs

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  // doc ids drawn with collisions-by-construction impossible (distinct
  // below); band values concentrated so some (band, bhash) buckets exceed
  // the HotBucket width of 32 and most do not
  private val genDoc = Gen.chooseNum(0L, 400L)
  private val genBand = Gen.chooseNum(0, 2)
  private val genHash = Gen.frequency(
    6 -> Gen.const(7L),          // the mega-bucket value
    3 -> Gen.chooseNum(0L, 3L),  // mid-size buckets
    2 -> Gen.chooseNum(10L, 200L)) // cold sparse buckets
  private val genRow = for {
    d <- genDoc; b <- genBand; h <- genHash
  } yield (d, b, h)
  private val genBands = Gen.chooseNum(40, 160)
    .flatMap(n => Gen.listOfN(n, genRow)).map(_.distinct)

  // sweep the conf dials too: the law must hold for ANY power-of-two salt
  // width (1 = no salting inside hot buckets, just the tag plumbing) and
  // any hot threshold (0 = everything salted)
  private val genSalt = Gen.oneOf(1, 2, 4, 8, 16)
  private val genHotW = Gen.oneOf(0, 1, 32)
  // the r13 sampled hot detector: 0 = exact count, >0 = doc-hash-gated
  // sample. The laws are EQUALITY laws, so they prove the route choice
  // (and therefore the sampling noise) can never change the output —
  // exactly the property that makes sampled detection admissible
  private val genShift = Gen.oneOf(0, 1, 4)
  // the degenerate-bucket DF cap (0 = off): a bucket wider than the cap
  // leaves pair generation on both sides of the join. With the cap on,
  // widths are counted exactly (shift 0), so the expected set is the
  // naive pairs that share a bucket no wider than the cap
  private val genCap = Gen.oneOf(0, 8, 24)
  private def capped(rows: Seq[(Long, Int, Long)],
                     cap: Int): ((Int, Long)) => Boolean = {
    val width = rows.groupBy(r => (r._2, r._3)).map {
      case (k, rs) => k -> rs.size }
    k => cap == 0 || width.getOrElse(k, 0) <= cap
  }

  property("salted == naive self-join pairs, any skew, any dials") =
    Prop.forAll(genBands, genSalt, genHotW, genShift, genCap) {
        (rows, saltW, hotW, shift, cap) =>
      val bands = rows.toDF("doc_id", "band", "bhash")
      val kept = capped(rows, cap)
      spark.conf.set("spark.graft.lsh.saltBlocks", saltW.toString)
      spark.conf.set("spark.graft.lsh.hotBucketWidth", hotW.toString)
      spark.conf.set("spark.graft.lsh.hotSampleShift",
        (if (cap > 0) 0 else shift).toString)
      spark.conf.set("spark.graft.lsh.bucketDfCap", cap.toString)
      try {
        val rowsOut = ops.Blocking.candidates(bands)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val got = rowsOut.toSet
        // one tuple per (pair, shared bucket): the join meets each
        // unordered pair once per bucket, never in both orientations
        val perBucket = for {
          (d1, b1, h1) <- rows; (d2, b2, h2) <- rows
          if b1 == b2 && h1 == h2 && d1 < d2 && kept((b1, h1))
        } yield (d1, d2)
        val naive = perBucket.toSet
        (Prop(got == naive) :|
          s"salt=$saltW hot=$hotW cap=$cap missing=${naive -- got} " +
            s"extra=${got -- naive}") &&
          (Prop(rowsOut.length == perBucket.size) :|
            s"salt=$saltW hot=$hotW cap=$cap rows=${rowsOut.length} " +
              s"pair-buckets=${perBucket.size}")
      } finally {
        spark.conf.unset("spark.graft.lsh.saltBlocks")
        spark.conf.unset("spark.graft.lsh.hotBucketWidth")
        spark.conf.unset("spark.graft.lsh.hotSampleShift")
        spark.conf.unset("spark.graft.lsh.bucketDfCap")
      }
    }

  // the CROSS-relation probe salting (index keeps one block, batch
  // replicates) earns the same law: for any layout and any dials, the
  // salted batch×index band join must produce exactly the naive
  // cross-collision pairs — no triangle here, but the one-block-meets-
  // all-blocks argument is just as easy to get subtly wrong
  property("salted probe == naive cross-collision pairs, any skew, any dials") =
    Prop.forAll(genBands, genBands, genSalt, genHotW, genShift, genCap) {
      (iRows, bRows, saltW, hotW, shift, cap) =>
        val ib = iRows.toDF("doc_id", "band", "bhash")
        val bb = bRows.toDF("doc_id", "band", "bhash")
        val kept = capped(iRows, cap) // widths of the index side
        spark.conf.set("spark.graft.lsh.saltBlocks", saltW.toString)
        spark.conf.set("spark.graft.lsh.hotBucketWidth", hotW.toString)
        spark.conf.set("spark.graft.lsh.hotSampleShift",
          (if (cap > 0) 0 else shift).toString)
        spark.conf.set("spark.graft.lsh.bucketDfCap", cap.toString)
        try {
          val got = ops.Blocking.candidates(ib, Some(bb))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val naive = (for {
            (da, ba, ha) <- bRows; (db, bb2, hb) <- iRows
            if ba == bb2 && ha == hb && kept((ba, ha))
          } yield (da, db)).toSet
          Prop(got == naive) :|
            s"salt=$saltW hot=$hotW cap=$cap missing=${naive -- got} " +
              s"extra=${got -- naive}"
        } finally {
          spark.conf.unset("spark.graft.lsh.saltBlocks")
          spark.conf.unset("spark.graft.lsh.hotBucketWidth")
          spark.conf.unset("spark.graft.lsh.hotSampleShift")
          spark.conf.unset("spark.graft.lsh.bucketDfCap")
        }
    }

  // the r10 multi-index Hamming join earns the law in its strongest
  // form: for ANY fingerprint multiset — including planted identical-fp
  // clusters far past the hot width, the regime where the asymmetric
  // salt replication engages — and any dials, the blocked join must
  // produce EXACTLY the unordered pairs of a brute-force hamming sweep.
  // This covers recall (pigeonhole completeness of the 5-block ≤2-error
  // enumeration), precision (the bit_count cut), the direction predicate
  // (q < x keeps exactly one of two symmetric matches), and the salt
  // fan-out all at once.
  private val genFp = Gen.frequency(
    4 -> Gen.const(0x0123456789abcdefL),        // planted mega-cluster
    3 -> Gen.chooseNum(0L, 15L)                  // hamming-1 kin of the
      .map(b => 0x0123456789abcdefL ^ (1L << b.toInt)), // cluster value
    3 -> Gen.long)                               // background noise
  private val genFpRows = Gen.chooseNum(20, 120).flatMap(n =>
    Gen.listOfN(n, genFp)).map(_.zipWithIndex.map {
      case (fp, i) => (i.toLong, fp) })
  // spans all three variant radii: 0/3 → exact probes, 7 → ≤1-bit,
  // 12/14 → ≤2-bit
  private val genDist = Gen.oneOf(0, 3, 7, 12, 14)

  // combo geometry sweep for the maxDist ≤ 4 route: (6,2) is the
  // shipped pair-block layout, (7,3)/(8,4) the wider scale rungs
  // (blocking.scala comboBlockPairs), passed to comboBlockPairs
  // directly. The dist > 4 route has no geometry, so pairing it with
  // any genDist draw is safe and exercises both paths under the same law.
  private val genGeom = Gen.oneOf((6, 2), (7, 3), (8, 4))

  property("hammingBlockPairs == brute-force sweep, any fps, any dials") =
    Prop.forAll(genFpRows, genSalt, genHotW, genDist, genGeom) {
      (rows, saltW, hotW, maxDist, geom) =>
        val fp = rows.toDF("doc_id", "fp")
        spark.conf.set("spark.graft.lsh.saltBlocks", saltW.toString)
        spark.conf.set("spark.graft.lsh.hotBucketWidth", hotW.toString)
        spark.conf.set("spark.graft.lsh.hotSampleShift",
          (maxDist % 3).toString) // piggyback a 0/1/2 shift sweep
        try {
          val got = (if (maxDist <= 4)
              ops.Blocking.comboBlockPairs(fp, maxDist, geom._1, geom._2)
            else ops.Blocking.hammingBlockPairs(fp, maxDist))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val naive = (for {
            (d1, f1) <- rows; (d2, f2) <- rows
            if d1 < d2 && java.lang.Long.bitCount(f1 ^ f2) <= maxDist
          } yield (d1, d2)).toSet
          Prop(got == naive) :|
            s"salt=$saltW hot=$hotW dist=$maxDist geom=$geom " +
              s"missing=${naive -- got} extra=${got -- naive}"
        } finally {
          spark.conf.unset("spark.graft.lsh.saltBlocks")
          spark.conf.unset("spark.graft.lsh.hotBucketWidth")
          spark.conf.unset("spark.graft.lsh.hotSampleShift")
        }
    }

  property("multiIndexPairs(4x16, r=1) covers every pair within " +
    "hamming 7, any fps, any dials") =
    // the generator underneath sim_ann_lsh's ANN probe: pigeonhole says
    // ≤7 errors over 4 blocks leave SOME block within 1 bit, so the
    // candidate set must be a SUPERSET of the hamming-7 brute sweep
    // (not equality — candidates beyond 7 legitimately surface and the
    // consumer's cosine verify owns the cut)
    Prop.forAll(genFpRows, genSalt, genHotW) { (rows, saltW, hotW) =>
      val fp = rows.toDF("doc_id", "fp")
      spark.conf.set("spark.graft.lsh.saltBlocks", saltW.toString)
      spark.conf.set("spark.graft.lsh.hotBucketWidth", hotW.toString)
      try {
        val got = ops.Blocking.multiIndexPairs(fp, Seq(16, 16, 16, 16), 1)
          .select("a", "b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val need = (for {
          (d1, f1) <- rows; (d2, f2) <- rows
          if d1 < d2 && java.lang.Long.bitCount(f1 ^ f2) <= 7
        } yield (d1, d2)).toSet
        Prop((need -- got).isEmpty) :|
          s"salt=$saltW hot=$hotW missing=${need -- got}"
      } finally {
        spark.conf.unset("spark.graft.lsh.saltBlocks")
        spark.conf.unset("spark.graft.lsh.hotBucketWidth")
      }
    }

  // the IVF hot-CELL salting (nearDupBlocked's probe cells through
  // Blocking.candidates — the measured sf100 single-task straggler):
  // with ONE trained centroid every vector probes the same mega-cell,
  // so the salted within-cell sweep must equal the brute-force
  // all-pairs cosine filter EXACTLY — for any block count and any hot
  // threshold (0 = the whole corpus salted, 2^20 = unsalted; shift 0
  // counts widths exactly, so width 4 salts the cell; the brute side
  // mirrors the operator's floor(x·1e4+0.5)/1e4 cosine rounding on the
  // same left-fold dot order, so the comparison is bit-deterministic)
  private val genVecList = Gen.chooseNum(2, 50).flatMap(n =>
    Gen.listOfN(n, Gen.listOfN(4, Gen.chooseNum(-5, 5))))
  property("nearDupBlocked mega-cell == brute-force cosine pairs, any salt dials") =
    Prop.forAll(genVecList, genSalt, Gen.oneOf(0, 4, 1 << 20)) {
      (vsRaw, saltW, hotW) =>
        val rows = vsRaw.zipWithIndex.collect {
          case (xs, i) if xs.exists(_ != 0) =>
            val arr = xs.map(_.toDouble).toArray
            (i.toLong, arr, math.sqrt(arr.map(x => x * x).sum))
        }
        if (rows.size < 2) Prop.passed
        else {
          val v = rows.toDF("vec_id", "v", "nrm")
          val cents = Seq((0, Array(0.1, 0.1, 0.1, 0.1))).toDF("cid", "c")
          spark.conf.set("spark.graft.lsh.saltBlocks", saltW.toString)
          spark.conf.set("spark.graft.lsh.hotBucketWidth", hotW.toString)
          spark.conf.set("spark.graft.lsh.hotSampleShift", "0")
          try {
            val got = ops.Similarity.nearDupBlocked(v, cents, 1, 0.3)
              .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
            val naive = (for {
              (a, av, an) <- rows; (b, bv, bn) <- rows if a < b
              cos = math.floor(
                av.zip(bv).map { case (p, q) => p * q }.sum
                  / (an * bn) * 1e4 + 0.5) / 1e4
              if cos >= 0.3
            } yield (a, b)).toSet
            Prop(got == naive) :|
              s"salt=$saltW hotCell=$hotW missing=${naive -- got} " +
                s"extra=${got -- naive}"
          } finally {
            spark.conf.unset("spark.graft.lsh.saltBlocks")
            spark.conf.unset("spark.graft.lsh.hotBucketWidth")
            spark.conf.unset("spark.graft.lsh.hotSampleShift")
            InternalCaches.unpersistAll()
          }
        }
    }
}
