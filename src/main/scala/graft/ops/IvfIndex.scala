package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.verify.Measures

/**
 * Mutable IVF serving index — the embedding-space sibling of
 * [[IncrementalIndex]] (MinHash bands) and
 * [[graft.lsh.ForestIndex]] (rotation prefixes): a cell-partitioned
 * vector store over the shared [[graft.ckpt.BatchStore]] (idempotent
 * per-batch puts, single-writer lease, atomic swap-commit removes),
 * searched by probing `nProbe` cells with PARTITION PRUNING on the
 * stored scan — candidate fan-in per query is the probed cells'
 * members, never the corpus.
 *
 * The codebook (spherical k-means centroids, [[Ivf.fitCentroids]]) is
 * fitted on the FIRST put and persisted alongside the rows, so cell
 * assignment is batch-independent — the same consistency requirement
 * as the dedup index's first-put corpus stats. A drifted corpus (later
 * batches far from the trained centroids pile into few cells, so
 * probing loses recall and pruning loses selectivity) is recovered by
 * [[refit]]: re-fit the codebook over ALL stored vectors and re-assign
 * every batch — after a refit the index is equivalent to one freshly
 * built from the full corpus (spec'd). The codebook's first fit, memo,
 * crash-replayed refit, growth-triggered auto-refit and snapshot-
 * validated search are [[graft.ckpt.FittedModel]]'s lifecycle.
 *
 * @param pruneMaxFraction the stored-scan partition filter is attached
 *   only while the batch's probed cells are at most this fraction of
 *   the codebook (see [[searchPlan]]); `0.0` never prunes, `1.0` always
 *   does. Results are identical ABSENT cross-cell re-puts: an id re-put
 *   into a cell outside the probe set serves its newest PROBED row on
 *   the pruned path but its globally newest row unpruned —
 *   `remove()+put()` is the exact-replace path either way.
 */
class IvfIndex(spark: SparkSession, path: String,
               nCells: Int = 256, nProbe: Int = 8,
               iters: Int = 10, sampleCap: Int = 4096,
               autoRefitGrowth: Double = 0.0,
               pruneMaxFraction: Double = 0.5) {
  import IvfIndex.Codebook

  private val store = new graft.ckpt.BatchStore(spark, s"$path/rows",
    subPartitionCols = Seq("cell"))

  // `codebook` holds the centroids plus a sentinel cell −1 row carrying
  // the fit size, so book + size commit atomically in one parquet. A
  // codebook written before the sentinel existed reads a None fit size
  // and never auto-refits until a manual [[refit]] stamps it.
  private val book = new graft.ckpt.FittedModel[Codebook](spark,
      s"$path/codebook", store, "id", autoRefitGrowth)(
    read = p => {
      val rows = spark.read.parquet(p).orderBy("cell").collect()
      Codebook(rows.filter(_.getInt(0) >= 0).map(_.getSeq[Double](1).toArray),
        rows.find(_.getInt(0) == -1).map(_.getSeq[Double](1).head.toLong))
    },
    write = (b, p) => {
      import spark.implicits._
      (b.cents.zipWithIndex.map { case (c, j) => (j, c.toSeq) } ++
          b.fitSize.map(n => (-1, Seq(n.toDouble)))).toSeq
        .toDF("cell", "centroid").repartition(1)
        .write.mode("overwrite").parquet(p)
    },
    fitSize = _.fitSize,
    reassign = b => store.rewrite(df =>
      df.select(cellOf(b), col("id"), col("vec"), col("batch"))))

  def isEmpty: Boolean = store.isEmpty

  /** The assignment cell of the `vec` column under `b`. */
  private def cellOf(b: Codebook) =
    element_at(Ivf.probe(col("vec"), b.cents, 1), 1).as("cell")

  /** Fit a codebook over (id, vec) rows, stamped with the distinct-id
    * count it was fitted on — identities, not rows (DESIGN invariant
    * 30): stamping raw rows from a replay-heavy batch would defer the
    * next auto-refit by the duplication factor. A corpus smaller than
    * nCells fits a book as small as the data (probe clamps nProbe to
    * the book) instead of refusing — the streaming-ingest case, where
    * batch one is a second of traffic; with autoRefitGrowth set, later
    * growth refits the book back toward the configured nCells. */
  private def fit(v: DataFrame): Codebook = {
    val n = v.select("id").distinct().count()
    val eff = math.max(1L, math.min(nCells.toLong, n)).toInt
    Codebook(Ivf.fitCentroids(v, "id", "vec", eff, iters, sampleCap), Some(n))
  }

  /** Assign rows (id, vec) to cells with the persisted codebook
    * (fitted over this batch on the first call). */
  private def assigned(vecs: DataFrame): DataFrame = {
    // null ids fail LOUDLY at the write (DESIGN invariant 33): a null
    // stored id is unaddressable by remove(), invisible to last-put
    // -wins resolution, and never equi-joins at search
    val v = vecs.select(coalesce(col("id").cast("long"), raise_error(lit(
        "identity-less vector: null id — IvfIndex rows are keyed by id"))
        .cast("long")).as("id"), col("vec"))
    v.select(cellOf(book.fitFirst(fit(v))), col("id"), col("vec"))
  }

  /** Append (id, vec) rows as a new batch under one writer-lease
    * claim. */
  def put(vecs: DataFrame): Unit = {
    // an empty put is a no-op — and MUST short-circuit before
    // assigned(): a first put with zero rows would otherwise attempt a
    // codebook fit over an empty sample and throw
    if (vecs.isEmpty) return
    book.replay()
    store.append(assigned(vecs))
    book.maybeAutoRefit(refit())
  }

  /** Idempotent per-batch insert (streaming replay safe). */
  def putBatch(vecs: DataFrame, batchId: Long): Unit = {
    // empty micro-batches are no-ops — see put(): an empty FIRST batch
    // must not crash the streaming query on a zero-sample codebook fit
    if (vecs.isEmpty) return
    book.replay()
    store.writeBatch(assigned(vecs), batchId)
    book.maybeAutoRefit(refit())
  }

  /** Consolidate batches ≤ `upTo` into one directory, applying
    * last-put-wins per id while the batch order still exists (after the
    * merge it is gone) — post-compaction searches serve exactly what
    * they served before. See [[graft.ckpt.BatchStore.compact]] for the
    * replay-safety contract (only compact below the streaming
    * checkpoint's committed watermark). */
  def compact(upTo: Long): Unit = {
    book.replay()
    store.compact(upTo)(graft.ckpt.BatchStore.latestBatchRows(_, "id"))
  }

  /** Remove by id: anti-join rewrite, atomic swap. A null (or
    * cast-to-null) removal id matches nothing in the anti-join and
    * would silently no-op — it raises instead (invariant 33). */
  def remove(ids: DataFrame): Unit = {
    book.replay()
    store.rewrite(_.join(ids.select(coalesce(col("id").cast("long"),
        raise_error(lit("identity-less remove: null id")).cast("long"))
        .as("id")),
      Seq("id"), "left_anti"))
  }

  /** The stored (id, vec, cell, batch) rows. */
  def all(): DataFrame = store.all()

  /**
   * Re-fit the codebook over every stored vector and re-assign all
   * batches through [[graft.ckpt.FittedModel.refit]]'s crash protocol.
   * The fit runs over the LIVE corpus (latest-batch-resolved, one row
   * per live id): a fresh build would only ever see each id's newest
   * vector. After a refit the index serves exactly what a fresh build
   * over the full corpus would.
   */
  def refit(): Unit = {
    require(!isEmpty, "refit() on an empty index")
    book.replay()
    book.refit(fit)
  }

  /**
   * Top-k cosine neighbours of `queries` (id, vec) against the stored
   * index. The stored side reads ONLY the `cell` partitions the query
   * batch probes (PartitionFilters at the scan); the pruning set is
   * bounded by the cell DOMAIN (`nCells`), a constructor constant,
   * never by query or index size. Output: (query_id, neighbor_id,
   * rank), rank 1..k by (cos desc, id) — [[Ivf.ivfTopK]]'s contract.
   */
  def search(queries: DataFrame, k: Int): DataFrame =
    book.validated(searchPlanPinned(queries, k))

  /** The LAZY search frame — [[search]] without the refit-consistency
    * validation, for plan inspection (PartitionFilters evidence) and
    * specs; production callers want [[search]]. The frame pins the
    * query snapshot for its lifetime (spec-scoped; the serving path
    * frees it per call). */
  def searchPlan(queries: DataFrame, k: Int): DataFrame =
    searchPlanPinned(queries, k)._1

  /** ([[searchPlan]] frame, the query-side pin it references) — the
    * pin may be freed once the frame is materialized (package-visible
    * so BenchIvf's measure loop can release its per-call pin). */
  private[graft] def searchPlanPinned(queries: DataFrame, k: Int)
      : (DataFrame, Option[DataFrame]) = {
    book.replay()
    val cents = book.current().getOrElse(
      throw new IllegalStateException(s"empty IVF index at $path")).cents
    // pin the query frame before the driver collects the pruning set
    // from it: the stored-side cell filter and the scoring join both
    // re-evaluate it, and a nondeterministic caller frame (sample,
    // unordered limit) re-evaluated differently would probe cells the
    // filter already excluded — silent misses
    // null query ids fail LOUDLY (DESIGN invariant 33): a null
    // query_id survives the cell join but nulls out the
    // query_id =!= neighbor_id self-filter, silently dropping every
    // candidate for that query. Per-row coalesce, no extra job.
    val q0 = queries.select(coalesce(col("id").cast("long"),
        raise_error(lit("identity-less query: null id — IVF search " +
          "results are keyed by query_id")).cast("long")).as("query_id"),
        col("vec").as("qv"))
      .localCheckpoint(true)
    // a failure below (the cell-pruning collect) must not orphan the
    // query pin — free it on the error path, rethrow
    try {
    val q = q0.withColumn("cell", explode(Ivf.probe(col("qv"), cents, nProbe)))
    // pruning set: distinct probed cells — domain-bounded collect
    val cells = q.select("cell").distinct().collect().map(_.getInt(0))
    val stored0 = store.all()
    // FRACTION-threshold pruning skip (optimization round; r5 verdict
    // item #3): the serving benchmark measured the pruning predicate
    // NET-NEGATIVE once the probe set covers a large share of the cell
    // domain — at nProbe=16 / 64-of-256 cells pruned search cost 4.82 s
    // vs 3.58 s unpruned (BenchIvf, BASELINE.md): a multi-hundred-value
    // IN pays optimizer constraint propagation + dynamic-pruning
    // subquery time per search while skipping little of the scan. The
    // predicate is now attached only when the probed fraction of the
    // batch is ≤ pruneMaxFraction (default 0.5: at the measured 25%
    // crossover row pruning was already ~breakeven and at 6% it cut
    // 9.4× scan bytes — 0.5 keeps every clearly-winning row pruned and
    // drops the clearly-losing ones). Results are unchanged either way
    // (the cell equi-join bounds candidates; the predicate only skips
    // file reads).
    val probedFraction = cells.length.toDouble / cents.length
    val stored = (if (probedFraction <= pruneMaxFraction)
        stored0.filter(col("cell").isin(cells.map(Int.box).toSeq: _*))
      else stored0)
      .select(col("cell"), col("id").as("neighbor_id"), col("vec").as("cv"),
        col("batch"))
    // id-only pair dedup through the cell join (a pair can meet in
    // several probed cells); vectors re-join once per surviving pair
    val cands = q.select("query_id", "cell")
      .join(stored.select("cell", "neighbor_id"), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    // last-batch-wins per stored id: re-putting an id (the normal
    // update mutation for an embedding index — reference contract
    // `index.go:198-210`) stores a second row in a later batch; without
    // the dedup the vector re-join fans one neighbor back out over
    // MULTIPLE ranks (k=5 silently returning 4 distinct neighbors) and
    // can score with the stale vector. max_by(batch) is one partial
    // aggregate over the PRUNED rows only — the full store is never
    // touched. (A re-put whose new vector landed in a cell outside the
    // probe set still serves its newest PROBED row — the documented
    // read-side bound; remove()+put() is the exact-replace path.)
    // a zero-norm vector scores NaN against everything and Spark ranks
    // NaN above every real double — drop zero-norm ROWS from each side
    // of the scoring join (same contract as TrainingDataOps
    // .bruteForceTopK; per-row, unlike a per-pair `!isnan(cos)` filter
    // that Catalyst pushes through the projection, costing the cosine
    // twice per pair). The stored side filters AFTER max_by so a
    // zero-norm re-put still shadows its older rows (last-put-wins),
    // it just serves no neighbors.
    val latest = stored
      .groupBy("neighbor_id")
      .agg(max_by(col("cv"), struct(col("batch"), col("cell"))).as("cv"))
      .filter(Measures.nonZeroNorm(col("cv")))
    val scored = cands
      .join(q0.filter(Measures.nonZeroNorm(col("qv"))), "query_id")
      .join(latest, "neighbor_id")
      .withColumn("cos", Measures.cosineDense(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    (scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank")), Some(q0))
    } catch { case t: Throwable =>
      graft.ckpt.Checkpoints.free(q0); throw t }
  }
}

object IvfIndex {
  /** Unit-norm centroids plus the live-id count they were fitted on
    * (None: a codebook written before the fit-size sentinel). */
  private final case class Codebook(cents: Array[Array[Double]],
                                    fitSize: Option[Long])
}
