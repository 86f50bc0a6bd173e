package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * A/B: the r06 streaming candidatePairs (repartition + sort +
 * PairStream) must produce EXACTLY the pair set of the pre-r06
 * capped-collect + PairGen aggregation on adversarial bucket shapes —
 * singletons, all-pairs buckets, over-maxBucket chains, over-hardCap
 * truncation, over-dropAbove voiding, skey ties, duplicate ids.
 */
class Round6PairStreamSpec extends AnyFunSuite with SparkSpec {

  /** The pre-r06 formulation, verbatim (CappedCollect is still a main
    * kernel — lshTopK uses the capped aggregate; PairGen lives in the
    * test tree as this oracle). */
  private def legacyPairs(buckets: org.apache.spark.sql.DataFrame,
                          docId: String, maxBucket: Int, chainWidth: Int,
                          hardCap: Int, dropAbove: Int) = {
    import buckets.sparkSession.implicits._
    val skey: org.apache.spark.sql.Column =
      if (buckets.columns.contains("skey")) col("skey") else col(docId)
    val grouped = buckets
      .groupBy($"band", $"key")
      .agg(graft.hash.HashFunctions.cappedCollect(
        skey, col(docId), hardCap).as("m"))
    val kept =
      if (dropAbove == Int.MaxValue) grouped
      else grouped.filter($"m.total" <= dropAbove)
    kept
      .select(explode(graft.hash.PairGen.pairGen(
        $"m.members", maxBucket, chainWidth)).as("p"))
      .select($"p.a", $"p.b")
      .distinct()
  }

  private def fixture(seed: Int): Seq[(Long, Int, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Long)]
    // (doc_id, band, key, skey)
    // bucket A: singleton; B: 3 members (all-pairs); C: 12 members
    // (> maxBucket=8 -> chain); D: 40 members (> hardCap=20 truncation);
    // E: 30 members with dropAbove voiding; ties and duplicate ids mixed in
    def bucket(band: Int, key: Long, n: Int, tieEvery: Int = 0,
               dupIds: Boolean = false): Unit =
      (0 until n).foreach { i =>
        val id = if (dupIds && i % 7 == 3) 1000L + i - 1 else 1000L + i
        val skey = if (tieEvery > 0 && i % tieEvery == 0) 5L
                   else rnd.nextLong()
        rows += ((id, band, key, skey))
      }
    bucket(0, 1L, 1)
    bucket(0, 2L, 3)
    bucket(1, 3L, 12, tieEvery = 3)
    bucket(1, 4L, 40, dupIds = true)
    bucket(2, 5L, 30, tieEvery = 2)
    rnd.shuffle(rows.toSeq)
  }

  test("streaming candidatePairs == capped-collect+PairGen on adversarial " +
    "buckets (caps, chains, voiding, ties, duplicate ids)") {
    import spark.implicits._
    for ((maxBucket, chainWidth, hardCap, dropAbove) <- Seq(
        (8, 3, Int.MaxValue, Int.MaxValue),
        (8, 3, 20, Int.MaxValue),
        (8, 2, 20, 25),          // bucket E (30) voided, D (40) voided
        (64, 3, 100000, 1024),   // the pipeline/substr defaults
        (2, 1, 5, Int.MaxValue))) {
      val df = fixture(42).toDF("doc_id", "band", "key", "skey")
      val now = graft.lsh.Lsh.candidatePairs(df, "doc_id", maxBucket,
        chainWidth, hardCap, dropAbove)
        .as[(Long, Long)].collect().toSet
      val old = legacyPairs(df, "doc_id", maxBucket, chainWidth, hardCap,
        dropAbove).as[(Long, Long)].collect().toSet
      assert(now === old,
        s"cfg=($maxBucket,$chainWidth,$hardCap,$dropAbove): " +
          s"only-new=${(now -- old).take(5)} only-old=${(old -- now).take(5)}")
    }
  }

  test("sortByKeyThenVal: matches boxed reference sort (incl. duplicates)") {
    var seed = 42L
    def next(): Long = { seed = graft.hash.HashKernels.mix64(seed); seed }
    (0 until 200).foreach { round =>
      val n = 1 + (next() >>> 33).toInt % 300
      // small key range forces duplicate keys -> val tiebreak exercised
      val mod = if (round % 2 == 0) 7L else Long.MaxValue
      val keys = Array.fill(n)(next() % mod)
      val vals = Array.fill(n)(next() % 13L)
      val expect = keys.zip(vals).sortBy(identity).toSeq
      graft.hash.PairGen.sortByKeyThenVal(keys, vals)
      assert(keys.zip(vals).toSeq === expect, s"round $round n=$n")
    }
  }

  test("streaming candidatePairs result is partitioning-invariant") {
    import spark.implicits._
    val df1 = fixture(7).toDF("doc_id", "band", "key", "skey").repartition(1)
    val df7 = fixture(7).toDF("doc_id", "band", "key", "skey").repartition(7)
    val a = graft.lsh.Lsh.candidatePairs(df1, "doc_id", 8, 3, 20, 25)
      .as[(Long, Long)].collect().toSet
    val b = graft.lsh.Lsh.candidatePairs(df7, "doc_id", 8, 3, 20, 25)
      .as[(Long, Long)].collect().toSet
    assert(a === b)
  }
}
