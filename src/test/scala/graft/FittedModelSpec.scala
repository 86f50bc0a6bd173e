package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ckpt.{BatchStore, Fs, FittedModel}
import graft.data.SyntheticVectors
import graft.ops.Ivf

/** The serving indexes' shared fitted-model lifecycle
  * ([[FittedModel]]): the snapshot-validated search retry, the IVF
  * codebook's refit-marker replay, and the dedup index's read-only
  * search over a store whose band layout never landed. */
class FittedModelSpec extends AnyFunSuite with SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft-fm-").toString

  // ---- validated search ----

  /** A model whose file stamp the test moves by hand, and a search plan
    * that moves it on each of its first `churn` calls (a refit landing
    * underneath each try). */
  private class Churn(churn: Int) {
    private val dir = freshDir()
    private val path = s"$dir/model"
    Fs.writeStringAtomic(path, "m", hconf)
    val model = new FittedModel[String](spark, path,
        new BatchStore(spark, s"$dir/rows"), "id", 0.0)(
      read = Fs.readString(_, hconf),
      write = (m, p) => Fs.writeStringAtomic(p, m, hconf),
      fitSize = _ => None, reassign = _ => ())
    var tries = 0
    def plan(): (DataFrame, Option[DataFrame]) = {
      tries += 1
      if (tries <= churn)
        Fs.fileSystem(path, hconf).setTimes(new HPath(path), 1000000L * tries, -1)
      val pin = spark.range(4).toDF("x").localCheckpoint(true)
      (pin.withColumn("try", lit(tries)), Some(pin))
    }
  }

  private def pinned() = spark.sparkContext.getPersistentRDDs.keySet

  test("validated search: a model stamp that changes on every try throws " +
    "IllegalStateException after 3 tries and frees every result and pin") {
    val c = new Churn(churn = Int.MaxValue)
    val before = pinned()
    val e = intercept[IllegalStateException](c.model.validated(c.plan()))
    assert(e.getMessage.contains("three times"))
    assert(c.tries === 3)
    assert(pinned() === before, "discarded results and query pins must be freed")
  }

  test("validated search: a model stamp that changes once returns the " +
    "second try's result and frees the first") {
    val c = new Churn(churn = 1)
    val before = pinned()
    val res = c.model.validated(c.plan())
    assert(c.tries === 2)
    assert(res.select("try").distinct().collect().map(_.getInt(0)).toSeq === Seq(2))
    assert(pinned().size === before.size + 1, "only the returned result stays pinned")
    graft.ckpt.Checkpoints.free(res)
    assert(pinned() === before)
  }

  // ---- IVF codebook refit replay ----

  private def vecsDf(clusters: Int, idOffset: Long = 0L) = {
    import spark.implicits._
    (0L until clusters.toLong * 2)
      .map(i => (i + idOffset, SyntheticVectors.vectorOf(i + idOffset, 64)))
      .toDF("id", "vec")
  }

  test("an IvfIndex refit crash AFTER the codebook.refit marker publish " +
    "is replayed by the next public operation (search serves the " +
    "refitted state, marker gone)") {
    import spark.implicits._
    val a = vecsDf(25)           // ids 0..49 — first-put codebook
    val b = vecsDf(75, 50L)      // ids 50..199 — drift
    val dir = s"${freshDir()}/idx"
    val idx = new graft.ops.IvfIndex(spark, dir, nCells = 8, nProbe = 2)
    idx.put(a); idx.put(b)
    val fresh = new graft.ops.IvfIndex(spark, s"${freshDir()}/fresh",
      nCells = 8, nProbe = 2)
    fresh.put(a.union(b))
    def cells(i: graft.ops.IvfIndex) = i.all().select("id", "cell")
      .as[(Long, Int)].collect().toMap
    assert(cells(idx) !== cells(fresh), "fixture sanity: drift moves cells")
    // simulate refit() crashing right after its atomic marker publish:
    // the live-corpus codebook (with its fit-size sentinel) landed in
    // codebook.refit, NO stored row re-assigned
    val book = Ivf.fitCentroids(a.union(b), "id", "vec", 8)
    (book.zipWithIndex.map { case (c, j) => (j, c.toSeq) } :+ ((-1, Seq(200.0))))
      .toSeq.toDF("cell", "centroid").repartition(1)
      .write.parquet(s"$dir/codebook.refit")
    val queries = vecsDf(100)
    val got = idx.search(queries, 2).as[(Long, Long, Int)].collect().toSet
    assert(!Fs.exists(s"$dir/codebook.refit", hconf), "marker consumed")
    assert(Fs.exists(s"$dir/codebook", hconf))
    assert(cells(idx) === cells(fresh),
      "the replay must re-assign every batch under the marker codebook")
    assert(got.nonEmpty &&
      got === fresh.search(queries, 2).as[(Long, Long, Int)].collect().toSet)
  }

  // ---- search over a store without a band layout ----

  private def doc(p: String) = (1 to 60).map(i =>
    p + ('a' + i % 26).toChar.toString * (1 + i / 26)).mkString(" ")

  test("IncrementalIndex.search serves an index whose only put crashed " +
    "between its two writes (no bands dir) and does not create one") {
    import spark.implicits._
    val dir = s"${freshDir()}/idx"
    new graft.ops.IncrementalIndex(spark, dir)
      .put(Seq(("u1", doc("aa")), ("u2", doc("bb"))).toDF("url", "text"))
    // simulate: the signature batch landed, the band write never ran
    Seq("bands", "bands.schema.json", "bands.rows")
      .foreach(n => Fs.deleteIfExists(s"$dir/$n", hconf))
    val idx = new graft.ops.IncrementalIndex(spark, dir)
    val near = doc("bb").replace(" bbh ", " changed ")
    val m = idx.search(Seq(("q", near)).toDF("url", "text"))
      .select("match_url").as[String].collect().toSet
    assert(m === Set("u2"))
    assert(!Fs.exists(s"$dir/bands", hconf), "search must stay read-only")
  }
}
