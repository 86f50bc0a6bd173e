package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.cluster.ConnectedComponents
import graft.data.SyntheticPages
import graft.substr.SuffixArrayStage
import graft.verify.Measures
import graft.ckpt.ParquetStageStore

class PipelineSpec extends AnyFunSuite with SparkSpec {

  test("connected components: min-label per component (both execution paths)") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 3L)).toDF("a", "b")
    // union-find fast path and the distributed pointer-jumping loop must
    // produce identical labels
    Seq(Long.MaxValue, 0L).foreach { threshold =>
      val got = ConnectedComponents.run(edges, smallGraphThreshold = threshold)
        .as[(Long, Long)].collect().toMap
      assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L && got(5L) === 1L,
        s"threshold $threshold")
      assert(got(10L) === 10L && got(11L) === 10L, s"threshold $threshold")
    }
    // long path graph: pointer jumping must converge within maxIter
    val path = (0 until 400).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    val labels = ConnectedComponents.run(path, smallGraphThreshold = 0L)
      .as[(Long, Long)].collect()
    assert(labels.forall(_._2 == 0L), "single component, min label 0")
  }

  test("DedupConfig(bands = 64, rows = 4) signs bands·rows = 256 slots, " +
    "so no band keys every doc alike") {
    import spark.implicits._
    val (pages, _) = SyntheticPages.generate(spark, 200)
    val cfg = DedupConfig(bands = 64, rows = 4)
    val sigs = DedupPipeline.signatures(
      DedupPipeline.extract(pages.select("url", "text"), cfg), cfg).cache()
    assert(sigs.select(size($"minhash")).distinct().as[Int].collect() ===
      Array(256))
    val nDocs = sigs.count()
    // a signature shorter than bands·rows slices past its end in the
    // high bands: every doc would hash the empty slice to one shared key
    val keysPerBand = sigs
      .select(explode(graft.lsh.Lsh.minhashBandKeys($"minhash", 64, 4))
        .as("bk"))
      .groupBy($"bk.band").agg(countDistinct($"bk.key").as("keys"))
      .as[(Int, Long)].collect().toMap
    assert(keysPerBand.keySet === (0 until 64).toSet)
    keysPerBand.foreach { case (band, keys) =>
      assert(keys > nDocs / 2, s"band $band: $keys keys for $nDocs docs")
    }
    sigs.unpersist()
  }

  test("broadcast-guard fallbacks: shuffle-join paths match broadcast paths") {
    // at 10^12 docs the dup-id / candidate-member sets outgrow any
    // broadcast; the guarded fallback (planner-chosen shuffle join)
    // must be result-identical to the hinted fast path
    val (pages, _) = SyntheticPages.generate(spark, 200)
    val cfg = DedupConfig()
    val ext = DedupPipeline.extract(pages.select("url", "text"), cfg)
      .withColumn("tf",
        graft.hash.HashFunctions.hashedTf(col("tokens"), cfg.numFeatures))
      .select("url", "doc_id", "tf", "norm", "text_hash", "shingles")
      .cache()
    val edges = DedupPipeline.exactDupEdges(ext)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val repsB = ids(DedupPipeline.exactDupReps(ext, edges, broadcastDups = true))
    val repsS = ids(DedupPipeline.exactDupReps(ext, edges, broadcastDups = false))
    assert(repsB === repsS)
    assert(repsB.size < 200 + 200 / 10) // dups actually collapsed

    val tfd = ext.select("doc_id", "tf", "shingles")
    val sigs = DedupPipeline.applySignatures(
      tfd, DedupPipeline.fitCorpusStats(tfd, cfg), cfg)
    val cands = DedupPipeline.candidates(sigs, cfg).cache()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val verB = pairs(DedupPipeline.verifyPairs(cands, sigs, cfg, broadcastMembers = true))
    val verS = pairs(DedupPipeline.verifyPairs(cands, sigs, cfg, broadcastMembers = false))
    assert(verB === verS)
    ext.unpersist(); cands.unpersist()
  }

  test("run with broadcastIdLimit = 0 and no auto-broadcast clusters " +
    "exactly like the default broadcast path") {
    import spark.implicits._
    // DESIGN invariant 12: past broadcastIdLimit the dup-id anti-join,
    // the verify member semi-join and the substring-pass member
    // semi-join drop their hint; with auto-broadcast off as well all
    // three run as shuffle joins, and no cluster may change
    val (pages, _) = SyntheticPages.generate(spark, 300)
    def clusters(cfg: DedupConfig) = DedupPipeline.run(pages, cfg)
      .select("url", "cluster").as[(String, Long)].collect().toSet
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    val shuffled =
      try {
        spark.conf.set(key, "-1")
        clusters(DedupConfig(broadcastIdLimit = 0))
      } finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    val broadcast = clusters(DedupConfig())
    assert(shuffled === broadcast)
    assert(broadcast.map(_._2).size < broadcast.size, "planted dups merge")
  }

  test("hot bucket: chain pairing keeps every member connected") {
    import spark.implicits._
    // one bucket with 500 members, far above maxBucket=64
    val buckets = (0 until 500)
      .map(i => (1000L + i, 0, 7L, (i % 13).toLong)) // skey mixes order
      .toDF("doc_id", "band", "key", "skey")
    val pairs = graft.lsh.Lsh.candidatePairs(buckets, "doc_id", 64, 3)
    val labels = ConnectedComponents.run(pairs)
      .select("comp").distinct().count()
    assert(labels === 1L, "chain pairs must keep the capped bucket connected")
    // and fan-out stays O(n·chainWidth), not O(n²)
    assert(pairs.count() <= 500L * 3)
  }

  test("suffix array finds planted substring pair") {
    val common = "x" * 5 + (1 to 30).map(i => s"tok$i").mkString(" ")
    val batch = Seq(
      (1L, "completely unrelated prefix " + common + " tail one"),
      (2L, "different document start " + common + " other tail"),
      (3L, "nothing shared here at all just random words"))
    val pairs = SuffixArrayStage.pairsInBatch(batch, 60).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("suffix array distributed stage finds cross-doc runs") {
    import spark.implicits._
    val common = (1 to 40).map(i => s"verbatim$i").mkString(" ")
    val docs = Seq(
      (1L, "aaa prefix " + common),
      (2L, "zzz other " + common),
      (3L, "unrelated content entirely different")).toDF("doc_id", "norm")
    val got = SuffixArrayStage.substringEdges(docs, "doc_id", "norm", 60)
      .as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 2L)))
  }

  test("end-to-end dedup recall >= 0.99 vs exact-Jaccard oracle (north rule)") {
    import spark.implicits._
    val (pages, expected) = SyntheticPages.generate(spark, 400)
    val cfg = DedupConfig()
    val result = DedupPipeline.run(pages, cfg).cache()

    // oracle: all pairs with exact shingle-Jaccard >= tau (brute force at
    // this scale, mirrors index_test.go:46-96 oracle pattern)
    val ext = DedupPipeline.extract(pages, cfg)
      .select($"doc_id", $"url", $"shingles")
    val a = ext.toDF("ida", "urla", "sha")
    val b = ext.toDF("idb", "urlb", "shb")
    val oracle = a.crossJoin(b).filter($"ida" < $"idb")
      .withColumn("j", Measures.jaccard($"sha", $"shb"))
      .filter($"j" >= cfg.tau)
      .select($"ida", $"idb").as[(Long, Long)].collect().toSet
    assert(oracle.nonEmpty, "oracle should find planted dups")

    val cluster = result.select($"doc_id", $"cluster").as[(Long, Long)]
      .collect().toMap
    val found = oracle.count { case (x, y) => cluster(x) == cluster(y) }
    val recall = found.toDouble / oracle.size
    assert(recall >= 0.99, s"recall $recall (${found}/${oracle.size})")

    // planted exact dups always co-clustered
    val urlCluster = result.select($"url", $"cluster").as[(String, Long)]
      .collect().toMap
    val exacts = expected.filter($"kind" === "exact")
      .as[(String, String, String)].collect()
    exacts.foreach { case (ua, ub, _) =>
      assert(urlCluster(ua) === urlCluster(ub), s"exact pair $ua / $ub")
    }
    // substring dups: the suffix-array stage must catch >= 90%
    val subs = expected.filter($"kind" === "substr")
      .as[(String, String, String)].collect()
    val subFound = subs.count { case (ua, ub, _) =>
      urlCluster(ua) == urlCluster(ub) }
    assert(subFound.toDouble / subs.length >= 0.9,
      s"substr recall ${subFound}/${subs.length}")
    result.unpersist()
  }

  test("checkpoint store: stages commit, resume skips, invalidate cascades") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val (pages, _) = SyntheticPages.generate(spark, 100)
    val store = new ParquetStageStore(spark, tmp)
    val r1 = DedupPipeline.run(pages, DedupConfig(), store)
      .orderBy("doc_id").collect()
    assert(store.isCommitted("signatures") && store.isCommitted("clusters"))
    // resume: all stages skip, result identical
    val r2 = DedupPipeline.run(pages, DedupConfig(), store)
      .orderBy("doc_id").collect()
    assert(r1 === r2)
    // invalidate mid-pipeline stage: downstream stages invalidated too
    store.invalidate("candidates")
    assert(!store.isCommitted("candidates") && !store.isCommitted("verified") &&
      !store.isCommitted("clusters"))
    assert(store.isCommitted("signatures"), "upstream stages stay committed")
    val r3 = DedupPipeline.run(pages, DedupConfig(), store)
      .orderBy("doc_id").collect()
    assert(r1 === r3)
  }
}
