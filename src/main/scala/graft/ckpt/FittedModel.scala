package graft.ckpt

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The crash-safe lifecycle of the one fitted model a serving index keeps
 * next to its [[BatchStore]] — [[graft.ops.IncrementalIndex]]'s corpus
 * stats, [[graft.ops.IvfIndex]]'s codebook. Every stored row is derived
 * from the model (signatures, cell assignments), so model and rows must
 * never be served from different fits. The model is one parquet dir at
 * `path`; a pending refit's model sits in the `<path>.refit` marker.
 *
 *  - first fit ([[fitFirst]]): the first put fits the model, double-
 *    checked under the store's writer lease, published by rename;
 *  - memo ([[current]]): the loaded model, keyed by the dir's FS stamp;
 *  - refit ([[refit]]): marker-first / swap-last, replayed by every
 *    public operation ([[replay]]);
 *  - auto-refit ([[maybeAutoRefit]]): growth-triggered, with a
 *    confirmed-identity memo;
 *  - validated search ([[validated]]): a search retries when a refit
 *    lands underneath it.
 *
 * @param idCol the store's identity column: auto-refit counts its
 *   distinct values, refit fits over its latest-batch rows
 * @param read load a model dir
 * @param write write a model dir (overwrite mode)
 * @param fitSize the live-identity population the model was fitted on
 *   (DESIGN invariant 30); None never auto-refits
 * @param reassign re-derive every stored row from a new model.
 *   Idempotent: a crashed refit replays it.
 */
final class FittedModel[M](spark: SparkSession, path: String,
                           store: BatchStore, idCol: String,
                           autoRefitGrowth: Double)(
    read: String => M, write: (M, String) => Unit,
    fitSize: M => Option[Long], reassign: M => Unit) {

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def nextPath = s"$path.refit"

  // model memo keyed by the dir's FS stamp: every put would otherwise
  // pay a parquet read+collect job per lookup for a file that only
  // changes on refit. The stamp re-read is FS metadata only (no Spark
  // job); an in-process refit invalidates explicitly, a cross-process
  // refit is picked up by the stamp change (same ~1 s granularity
  // caveat as [[validated]]).
  private var memo: Option[(Long, M)] = None

  /** The persisted model, if one has been fitted. */
  def current(): Option[M] =
    Fs.modifiedMs(path, hconf) match {
      case None => memo = None; None
      case Some(st) => memo match {
        case Some((s, m)) if s == st => Some(m)
        case _ =>
          val m = read(path)
          memo = Some((st, m)); Some(m)
      }
    }

  /** The persisted model, fitting and publishing it with `fit` on the
    * first call. The check and the publish run UNDER the store's writer
    * lease (double-checked): two concurrent first puts would otherwise
    * each fit, and the later publish would overwrite the earlier model
    * while the earlier writer's rows — derived from its own fit — still
    * commit, leaving the model inconsistent with the stored rows. The
    * loser of the lease fails loudly (the single-writer contract). The
    * publish is atomic: a crash mid-parquet-write must not leave a
    * partial model that [[current]] would silently read. The store is
    * still empty here, so losing the fit loses nothing — the next put
    * re-fits. */
  def fitFirst(fit: => M): M =
    current().getOrElse(store.withLease(current().getOrElse {
      val m = fit
      Fs.publishByRename(path, hconf)(write(m, _))
      m
    }))

  /** Re-fit over the LIVE corpus (the store's latest-batch rows per
    * `idCol`) and re-derive every stored row. Crash protocol: the new
    * model lands in the `<path>.refit` marker FIRST (itself published
    * atomically, so a replay never reads a half-written marker), the
    * stored rows are rewritten through their swap commits, and the
    * marker is swapped into `path` LAST. A crash anywhere leaves the
    * marker in place and [[replay]] redoes the rewrite from it, so model
    * and rows are never served mixed. Callers [[replay]] first. */
  def refit(fit: DataFrame => M): Unit = {
    val m = fit(BatchStore.latestBatchRows(store.all(), idCol))
    Fs.publishByRename(nextPath, hconf)(write(m, _))
    complete(m)
  }

  private def complete(m: M): Unit = {
    reassign(m)
    Fs.swapInto(nextPath, path, hconf)
    memo = None // the stamp changed; drop the memo eagerly
  }

  /** Finish a refit a crashed writer left pending — called by every
    * public operation of the index (a few existence probes when nothing
    * is pending). */
  def replay(): Unit = {
    // a crash DURING the final swap: complete the swap itself
    Fs.recoverSwap(nextPath, path, hconf)
    // a crash BEFORE the swap: the marker is still present — redo the
    // rewrite from it (the store may hold old, new or mixed rows; the
    // rewrite is deterministic, so the replay is idempotent)
    if (Fs.exists(nextPath, hconf)) complete(read(nextPath))
  }

  // memo for the auto-refit poll: (confirmed distinct identities,
  // manifest row count at confirmation). Re-puts of one identity keep
  // one row per batch, so the row count only UPPER-BOUNDS identities —
  // triggering on it alone would refit an unchanged corpus under a
  // re-put-heavy stream.
  private var confirmed: Option[(Long, Long)] = None

  /** Growth-triggered `runRefit` (`autoRefitGrowth` > 1): when the
    * stored corpus has grown past `autoRefitGrowth` × the model's fit
    * population, later batches are presumed to have drifted the model
    * and the index's refit runs as part of the put — amortised
    * geometrically, like capacity-doubling rehash.
    *
    * Growth check, cheapest-evidence-first: (1) the manifest row count
    * (one file read, no Spark job) upper-bounds identities; (2) each row
    * added since the last confirmation adds at most one identity, so
    * `d0 + (rows - rows0)` tightens the bound without a job; (3) an
    * exact distinct count runs only when the bound crosses the threshold
    * AND at least max(`autoRefitGrowth`·n, 1% of the confirmed store)
    * rows have landed since the last confirmation — re-puts grow rows on
    * every put, so without the backoff a re-put stream would pay the
    * count job per put. The stride is denominated in the BOUND's
    * currency (growth × the fit population), NOT a multiple of raw rows:
    * a rows-multiple backoff lets a re-put-heavy prefix (rows ≫
    * identities) defer a genuinely-due refit by millions of puts. The 1%
    * floor covers a TINY fit population over a massively re-put-inflated
    * store (4 ids, 10^9 rows), where a bare growth·n stride would re-arm
    * the full-store count every handful of puts; it caps total confirm
    * work at ~100 store scans per store doubling while keeping the
    * detection delay ≤ max(growth·n, 1% of rows) puts. A shrunken row
    * count (remove/compact rewrite) invalidates the memo. */
  def maybeAutoRefit(runRefit: => Unit): Unit =
    if (autoRefitGrowth > 1.0) current().flatMap(fitSize).foreach { atFit =>
      val rows = store.rowCount()
      confirmed.foreach { case (_, rows0) =>
        if (rows < rows0) confirmed = None
      }
      val needConfirm = confirmed match {
        case Some((d0, rows0)) =>
          d0 + (rows - rows0) >= autoRefitGrowth * atFit &&
            rows >= rows0 + math.max(autoRefitGrowth * atFit, rows0 / 100.0)
        case None => rows >= autoRefitGrowth * atFit
      }
      if (needConfirm) {
        val distinct = store.all().select(idCol).distinct().count()
        if (distinct >= autoRefitGrowth * atFit) {
          runRefit
          confirmed = None
        } else confirmed = Some((distinct, rows))
      }
    }

  /** Materialize a search `plan` — (result frame, the query-side pin it
    * reads) — on one model snapshot. Reads take no lease, so a refit
    * completing MID-SEARCH swaps in rows derived from the NEW model
    * while the query side was derived from the OLD one, and true matches
    * vanish silently. The (small, result-sized) frame is checkpointed,
    * then the model stamp is confirmed unchanged; a changed stamp means a
    * refit landed underneath, and the search retries on the new
    * snapshot, three times at most. The query pin is freed as soon as
    * each result is materialized, and every discarded result is freed
    * (invariant 32: a per-micro-batch serving loop must not accrete one
    * pinned block set per call). ~1 s mtime granularity narrows, not
    * closes, the window: a refit completing within the stamp tick of the
    * model load is undetected — with single-writer mutation, a
    * cross-process race on an already-rare overlap. */
  def validated(plan: => (DataFrame, Option[DataFrame])): DataFrame = {
    var tries = 0
    while (tries < 3) {
      val stamp = Fs.modifiedMs(path, hconf)
      val (df, pin) = plan
      val res =
        try df.localCheckpoint(true)
        finally pin.foreach(Checkpoints.free)
      if (Fs.modifiedMs(path, hconf) == stamp) return res
      Checkpoints.free(res)
      tries += 1
    }
    throw new IllegalStateException(
      s"model at $path refit three times during one search — refit " +
        "churn; retry when the writer settles")
  }
}
