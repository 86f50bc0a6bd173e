package graft.perfbench

import graft.{DedupConfig, DedupPipeline}
import graft.cluster.ConnectedComponents
import graft.hash.HashFunctions
import graft.substr.SuffixArrayStage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * `DedupPipeline.run` (ephemeral store) recomposed from its public stage
 * functions with one span per layer. The composition, projections and
 * broadcast-guard choices are those of `run`; the only additions are
 * materialisation barriers at span edges (a persist + count, or the
 * stage's own collect), so each layer's work runs inside its span.
 * Frames `run` leaves lazy stay lazy: the exact-dup representatives are
 * recomputed inside the fit and substring spans, exactly as `run`
 * recomputes them in its consumers.
 */
object TracedDedup {
  /** Decision counts read off the barriers, beside the spans. */
  final case class Decisions(candidates: Long, verified: Long, simhashEdges: Long,
                             substrEdges: Long, hotShingles: Long)

  def run(pages: DataFrame, cfg: DedupConfig, tr: Tracer): (DataFrame, Decisions) = {
    val spark = pages.sparkSession
    import spark.implicits._
    def barrier(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      tr.out(p.count())
      p
    }
    val width = math.min(spark.sparkContext.defaultParallelism,
      math.max(1, pages.rdd.getNumPartitions))
    val extracted00 = tr.span("text.extract") {
      barrier(DedupPipeline.extract(pages.repartition(width), cfg)
        .withColumn("tf", HashFunctions.hashedTf(col("tokens"), cfg.numFeatures))
        .select("url", "doc_id", "tf", "norm", "text_hash", "shingles"))
    }
    val (extracted, nIdsOpt) = tr.span("pipeline.identity") {
      val r = DedupPipeline.resolveIdCollisionsCounted(extracted00, cfg)
      r._2.foreach(tr.out)
      r
    }
    val broadcastIdSets = nIdsOpt.exists(_ <= cfg.broadcastIdLimit)
    val (exactEdges, reps) = tr.span("pipeline.exact") {
      val edges = barrier(DedupPipeline.exactDupEdges(extracted))
      val repsBc = nIdsOpt.map(_ <= cfg.broadcastIdLimit).getOrElse(
        edges.count() <= cfg.broadcastIdLimit)
      val r = DedupPipeline.exactDupReps(extracted, edges, repsBc)
      (edges, if (repsBc) r else r.persist(StorageLevel.MEMORY_AND_DISK))
    }
    val tfd = reps.select("doc_id", "tf", "shingles")
    val stats = tr.span("tfidf.fit") {
      val s = DedupPipeline.fitCorpusStats(tfd, cfg)
      tr.out(s.idfTerms.length.toLong + s.hotShingles.length)
      s
    }
    val sigs = tr.span("hash.signatures") {
      barrier(DedupPipeline.applySignatures(tfd, stats, cfg)
        .select(col("doc_id"), col("minhash"), col("simhash"), col("shingles")))
    }
    val cands = tr.span("lsh.candidates")(barrier(DedupPipeline.candidates(sigs, cfg)))
    val nCands = tr.spans.last.rowsOut
    val jaccardVerified = tr.span("verify.pairs") {
      val bc = nIdsOpt.map(_ <= cfg.broadcastIdLimit).getOrElse(
        2 * cands.count() <= cfg.broadcastIdLimit)
      barrier(DedupPipeline.verifyPairs(cands, sigs, cfg, bc).select($"a", $"b"))
    }
    val nVerified = tr.spans.last.rowsOut
    val (verified, nSimhash) =
      if (cfg.enableSimhashBands) {
        val sh = tr.span("lsh.simhash") {
          barrier(DedupPipeline.simhashEdges(sigs, cfg).select($"a", $"b"))
        }
        (jaccardVerified.union(sh), tr.spans.last.rowsOut)
      } else (jaccardVerified, 0L)
    val (substrEdges, nSubstr) =
      if (cfg.enableSubstr) {
        val e = tr.span("substr.edges") {
          barrier(SuffixArrayStage.substringEdges(reps, "doc_id", "norm",
            cfg.substrMinRun, broadcastIdLimit = cfg.broadcastIdLimit,
            broadcastMembers = if (nIdsOpt.isDefined) Some(broadcastIdSets) else None)
            .select("a", "b"))
        }
        (e, tr.spans.last.rowsOut)
      } else (spark.emptyDataset[(Long, Long)].toDF("a", "b"), 0L)
    val labels = tr.span("cluster.cc") {
      val edges = exactEdges.select("a", "b")
        .union(verified.select("a", "b"))
        .union(substrEdges.select("a", "b"))
        .localCheckpoint()
      barrier(ConnectedComponents.run(edges))
    }
    val out = tr.span("pipeline.final_join") {
      extracted.select($"url", $"doc_id")
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster", coalesce($"comp", $"doc_id"))
        .select($"url", $"doc_id", $"cluster")
        .localCheckpoint(true)
    }
    (out, Decisions(nCands, nVerified, nSimhash, nSubstr, stats.hotShingles.length))
  }
}
