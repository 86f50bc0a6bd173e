package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{DedupConfig, DedupPipeline}
import graft.DedupPipeline.CorpusStats

/**
 * Incremental signature index (SURVEY §2.1 S3 — the reference's
 * `Index`/`Remove` mutations, `/root/reference/lsh.go:75-80`,
 * `index.go:119-136`, and the `PartialFit` accretion pattern,
 * `randomprojection.go:253-270`): a partitioned Parquet signature table
 * that supports batch insert (append), delete (atomic rewrite), and
 * querying new documents against the existing index without
 * re-signaturing the whole corpus.
 *
 * Corpus stats (idf arrays + hot-shingle drop list) are FITTED ON THE
 * FIRST PUT and persisted alongside the index; every later put and
 * every search reuses them. Signatures are therefore batch-independent:
 * identical text always produces identical band keys, no matter which
 * batch it arrived in — the incremental-search correctness requirement
 * (per-batch stats would silently miss true duplicates whenever the
 * batches' df-conditioned drop lists diverged).
 *
 * Scale shape: an insert touches only the new batch (signatures are
 * per-row); a search prunes the stored side to the band-bucket
 * partitions its query batch actually touches, then equi-joins — the
 * reference's sub-linear per-band bucket lookup (union of bucket
 * members, `/root/reference/lsh.go:87-108`) re-expressed as partition
 * pruning over a `pb = band·B + (key mod B)` directory layout instead
 * of an in-memory hash map. The pruning set is collected on the driver
 * but its DOMAIN is the fixed pb range (bands·bandBuckets ≤ a few
 * thousand), not the corpus, so the collect is constant-bounded at any
 * index size.
 *
 * The stats' first fit, memo, crash-replayed refit, growth-triggered
 * auto-refit and snapshot-validated search are
 * [[graft.ckpt.FittedModel]]'s lifecycle.
 */
class IncrementalIndex(spark: SparkSession, path: String,
                       cfg: DedupConfig = DedupConfig(),
                       autoRefitGrowth: Double = 0.0) {
  import graft.ckpt.Fs

  // signatures live in a shared partitioned-parquet batch store (also
  // used by ForestIndex): per-batch idempotent puts, schema-pinned
  // reads, swap-commit rewrites — all metadata through the Hadoop FS
  // resolved from the index path, so the index works on HDFS/S3-
  // compatible stores, not just the local filesystem
  private val store = new graft.ckpt.BatchStore(spark, s"$path/sigs")
  // band-exploded serving rows (pb, key, doc_id), partitioned by pb
  // under each batch dir — the searchable layout. Kept NEXT TO the
  // signature store (not instead of it): verification needs shingles,
  // and a remove rewrites both.
  private val bandStore = new graft.ckpt.BatchStore(spark, s"$path/bands",
    subPartitionCols = Seq("pb"))
  private val hconf = spark.sparkContext.hadoopConfiguration

  /** Partition-bucket id of a band row: band·B + (key mod B). Encodes
    * the band exactly (bucket < B), so (pb, key) equality ⇔
    * (band, key) equality. */
  private def pbCol(band: org.apache.spark.sql.Column,
                    key: org.apache.spark.sql.Column) =
    (band.cast("int") * cfg.bandBuckets +
      pmod(key, lit(cfg.bandBuckets.toLong)).cast("int")).cast("int")

  // `stats` holds the fitted corpus stats; a pending refit's stats land
  // in the `stats.refit` marker first and are swapped into `stats` only
  // after every batch has been re-signatured
  private val stats = new graft.ckpt.FittedModel[CorpusStats](spark,
      s"$path/stats", store, "doc_id", autoRefitGrowth)(
    read = p => {
      val r = spark.read.parquet(p).head()
      CorpusStats(r.getLong(0), r.getSeq[Long](1).toArray,
        r.getSeq[Double](2).toArray, r.getSeq[Long](3).toArray)
    },
    write = (st, p) => {
      import spark.implicits._
      Seq((st.n, st.idfTerms.toSeq, st.idfVals.toSeq, st.hotShingles.toSeq))
        .toDF("n", "idf_terms", "idf_vals", "hot_shingles")
        .write.mode("overwrite").parquet(p)
    },
    fitSize = st => Some(st.n),
    reassign = resignature)

  def isEmpty: Boolean = store.isEmpty

  /** Signature a batch of pages (url, text) with the PERSISTED corpus
    * stats (fitted and saved on the first call). The hashed-tf column
    * is kept in the stored rows so [[refit]] can re-signature every
    * batch without the raw text. Null caller ids are normalised to a
    * null derived id for EVERY path, and every path then fails LOUDLY
    * on them: the put paths via the unified [[resolveCrossBatchIds]]
    * audit (stored identities must be unambiguous), the search path
    * via a per-row raise at query materialization (a null qid never
    * equi-joins, so the row would otherwise silently match nothing).
    * A caller ALIASING one id across distinct query pages merges those
    * pages' result sets — the per-(qid, match) dedup keeps one row, so
    * give distinct pages distinct ids. */
  private def signatures(pages: DataFrame): DataFrame = {
    val ext0 = DedupPipeline.extract(pages, cfg)
    // collision RESOLUTION for the put paths lives in
    // [[resolveCrossBatchIds]], which sees the batch AND the store
    // in one loop — the batch-LOCAL audit would re-id a stored
    // incumbent's own re-put whenever a stranger collides with it in
    // the same batch, splitting one identity across two stored ids
    // null url ⇒ null derived id, NOT xxhash64(null): the null-skipping
    // hash folds every null-url row onto one shared doc_id (the seed)
    // that the audit is structurally blind to — identity-less rows are
    // instead flagged loudly in [[resolveCrossBatchIds]] (same contract
    // as DedupPipeline.resolveIdCollisions)
    val ext = ext0.withColumn("doc_id",
      coalesce(col("doc_id"),
        when(col("url").isNull, lit(null).cast("long"))
          .otherwise(xxhash64(col("url")))))
    val tfd = DedupPipeline.withTf(ext, cfg)
    val st = stats.fitFirst(DedupPipeline.fitCorpusStats(tfd, cfg))
    DedupPipeline.applySignatures(tfd, st, cfg, keepTf = true)
      .select(col("url"), col("doc_id"), col("minhash"), col("simhash"),
        col("shingles"), col("tf"))
  }

  /** Append a batch to the index (reference `Index(v, id)`). Each put
    * lands in its own `batch=<id>` partition directory; the id is
    * allocated and both halves written under one writer-lease claim on
    * the signature store. Ids are audited against the stored index
    * first: a cross-batch doc_id collision would silently alias two
    * documents in every later search. */
  def put(pages: DataFrame): Unit = {
    // an empty put is a no-op — and MUST short-circuit before
    // signatures(): a first put with zero rows would otherwise fit and
    // permanently publish degenerate corpus stats (n = 0, empty idf),
    // signing every later document with all-zero weights
    if (pages.isEmpty) return
    ensureClean()
    reconcileBands()
    // pin the signatures BEFORE the audit: the audit's count actions
    // and the final persisted write are otherwise separate
    // re-evaluations of the caller's frame, so a nondeterministic
    // source (sample, unordered limit) could store colliding
    // identities the audit verified as clean — the same hazard
    // search() pins its query frame against
    val raw = signatures(pages).localCheckpoint(true)
    try {
      val sigs = resolveCrossBatchIds(raw)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        store.append(sigs, id => bandStore.writeBatch(bandRows(sigs), id))
        ()
      } finally { sigs.unpersist(); () }
    } finally graft.ckpt.Checkpoints.free(raw)
    stats.maybeAutoRefit(refit())
  }

  /** Band rows of signature rows, in the serving layout. `keep` carries
    * extra columns through (the refit rewrite keeps `batch`). */
  private def bandRows(sigs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    import graft.lsh.Lsh
    sigs.select((col("doc_id") +:
        explode(Lsh.minhashBandKeys(col("minhash"), cfg.bands, cfg.rows)).as("bk") +:
        keep.map(col)): _*)
      .select((col("bk.band").as("band") +: col("bk.key").as("key") +:
        col("doc_id") +: keep.map(col)): _*)
      .select((pbCol(col("band"), col("key")).as("pb") +: col("key") +:
        col("doc_id") +: keep.map(col)): _*)
  }

  /** Idempotent per-batch insert: writing batch `id` twice (streaming
    * replay after a failure — foreachBatch is at-least-once) overwrites
    * the same partition directories instead of duplicating rows. Both
    * halves (signatures + band rows) key on the same batch id. */
  def putBatch(pages: DataFrame, batchId: Long): Unit = {
    // empty micro-batches (checkpoint replay past source retention, a
    // trigger with no data) are no-ops — see put(): an empty FIRST
    // batch must not fit-and-publish degenerate corpus stats
    if (pages.isEmpty) return
    ensureClean()
    reconcileBands()
    // pinned before the audit — see put()
    val raw = signatures(pages).localCheckpoint(true)
    try {
      val sigs = resolveCrossBatchIds(raw)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        store.writeBatch(sigs, batchId)
        bandStore.writeBatch(bandRows(sigs), batchId)
      } finally { sigs.unpersist(); () }
    } finally graft.ckpt.Checkpoints.free(raw)
    stats.maybeAutoRefit(refit())
  }

  /** Reconcile the band layout to the signature store: regenerate the
    * band rows of any stored batch missing from the band store. Covers
    * (a) a crash between a put's two writes — the signature batch
    * landed, its band rows did not; (b) an index written before the
    * band layout existed — one put upgrades it in place. Runs on the
    * MUTATION paths only (it takes the band store's writer lease);
    * [[search]] stays read-only by serving missing batches from band
    * rows computed in-plan instead. Cost when consistent (always,
    * outside those two cases): two directory listings, no Spark job.
    * Band rows are DERIVED data (pure function of stored minhashes), so
    * regeneration is idempotent and crash-safe to replay. */
  private def reconcileBands(): Unit = {
    if (store.isEmpty) return
    val have = bandStore.batchIds().toSet
    val missing = store.batchIds().filterNot(have)
    if (missing.nonEmpty) {
      val all = store.all()
      missing.foreach { id =>
        bandStore.writeBatch(
          bandRows(all.filter(col("batch") === id)), id)
      }
    }
  }

  /**
   * Unified identity audit for the put paths (the batch pipeline's
   * [[DedupPipeline.resolveIdCollisions]] contract extended to the
   * incremental path): every round flags (a) a batch doc_id claimed by
   * a STORED document with a different url, and (b) two batch docs with
   * different urls sharing one id — a collision a previous round's
   * remap can itself mint, which is why the intra-batch check repeats
   * every round rather than running once up front. Flagged rows are
   * deterministically re-idd with the round-salted rehash, EXCEPT a
   * stored incumbent's own re-put (same id, same url): re-idding the
   * incumbent would split one identity across two stored ids. Iterates
   * until clean; unresolved collisions fail loudly. Re-putting the SAME
   * url is not a collision (same identity). Scale shape: the audit
   * ships slim (doc_id, url-hash) projections — 16 B/doc, the
   * second-seed hash (seed −1, disjoint from the rehash round range)
   * stands in for url equality, and the stored side is an equi-join on
   * doc_id (planner picks broadcast/shuffle from stats); zero
   * collisions — the overwhelmingly common case — is one join + one
   * aggregation + count per put.
   */
  private def resolveCrossBatchIds(sigs: DataFrame): DataFrame = {
    // one deterministic (doc_id, url-hash) row per stored id (the store
    // is unaliased — this audit's own invariant — so the max() is just
    // a dedup of same-url re-puts across batches). Empty store (first
    // put) ⇒ empty frame: the loop still audits WITHIN the batch.
    val storedIds0 =
      if (store.isEmpty)
        sigs.select(col("doc_id"),
          xxhash64(col("url"), lit(-1)).as("__suh")).limit(0)
      else store.all()
        .select(col("doc_id"), xxhash64(col("url"), lit(-1)).as("__suh"))
    val storedIds = storedIds0
      .groupBy("doc_id").agg(max(col("__suh")).as("__suh"))
    var cur = sigs
    var round = 0
    while (round <= cfg.idAuditRounds) {
      val qh = cur
        .select(col("doc_id"), xxhash64(col("url"), lit(-1)).as("__quh"))
      val badStored = qh
        .join(storedIds, Seq("doc_id"))
        .filter(col("__quh") =!= col("__suh"))
        .select("doc_id")
      // a REMAP can mint a fresh collision INSIDE the batch (the
      // remapped id landing on another incoming doc's id) — the
      // within-batch audit ran before any remap, so re-check here every
      // round, exactly as the batch pipeline's audit loop does
      val badIntra = qh.groupBy("doc_id")
        // the null group (rows with neither a caller id nor a url —
        // see signatures()) rides the same aggregation; it cannot be
        // rehashed into an identity and fails below with its own
        // message instead of the misleading collision one
        .agg(countDistinct(col("__quh")).as("__u"))
        .filter(col("__u") > 1 || col("doc_id").isNull)
        .select("doc_id")
      val bad = badStored.union(badIntra).distinct()
      val nBad = bad.count()
      if (nBad == 0) return cur
      if (bad.filter(col("doc_id").isNull).count() > 0)
        throw new IllegalArgumentException(
          "rows with neither a doc_id nor a url have no identity — " +
            "supply a url or a caller-owned doc_id for every indexed row")
      if (round == cfg.idAuditRounds)
        throw new IllegalStateException(
          s"cross-batch doc_id collisions unresolved after " +
            s"${cfg.idAuditRounds} rehash rounds ($nBad colliding ids) — " +
            "refusing to index with ambiguous identities")
      round += 1
      val badIds = (if (nBad <= cfg.broadcastIdLimit) bad.hint("broadcast")
                    else bad).withColumnRenamed("doc_id", "__bad_id")
      // remap every row with a flagged id EXCEPT a stored incumbent's
      // own re-put (same id, same url): re-idding the incumbent would
      // split one identity across two stored ids
      cur = cur.join(badIds, cur("doc_id") === col("__bad_id"), "left")
        .join(storedIds, Seq("doc_id"), "left")
        .withColumn("doc_id",
          when(col("__bad_id").isNotNull &&
              (col("__suh").isNull ||
                col("__suh") =!= xxhash64(col("url"), lit(-1))),
            xxhash64(col("url"), lit(round)))
            .otherwise(col("doc_id")))
        .drop("__bad_id", "__suh")
    }
    cur
  }

  /**
   * Atomic stats refit + re-signature (reference's online accretion
   * surface, `randomprojection.go:253-270`, as an operational
   * compaction): re-fits [[CorpusStats]] over every stored batch and
   * re-signatures them all, so a corpus that drifted since the
   * first-put fit (new boilerplate flooding the bands, stale idf)
   * regains df-conditioned signatures without losing batch idempotence
   * — batch directories and doc_ids are preserved. The fit runs over
   * the LIVE corpus (latest-batch-resolved): superseded re-put rows
   * would skew the df-conditioning toward re-put-heavy documents. Crash
   * protocol: [[graft.ckpt.FittedModel.refit]].
   */
  def refit(): Unit = {
    require(!isEmpty, "refit() on an empty index")
    ensureClean()
    stats.refit { live =>
      require(live.columns.contains("tf"),
        "this index predates the refit-capable layout (no stored tf " +
          "column) — rebuild it with put() to enable refit")
      DedupPipeline.fitCorpusStats(live, cfg)
    }
  }

  /** Re-signature every batch with `st` and regenerate the band layout
    * (the refit rewrite, replayed from the marker after a crash).
    * Idempotent — safe to re-run after a crash at any point. */
  private def resignature(st: CorpusStats): Unit = {
    store.rewrite(df =>
      DedupPipeline.applySignatures(df, st, cfg, keepTf = true))
    if (bandStore.isEmpty)
      // the only put ever crashed between its two writes (signatures
      // landed, band layout never created): there is nothing to
      // rewrite — rewrite() would throw on the missing path — so the
      // layout is generated fresh from the re-signatured store instead
      reconcileBands()
    else bandStore.rewrite(_ => bandRows(store.all(), keep = Seq("batch")))
  }

  // pending-remove marker: the urls to remove are published here
  // (atomically) BEFORE either store is rewritten, so a crash between
  // the two rewrites is replayed by the next operation — without it, a
  // half-removed doc (gone from the bands, still in the signature
  // store) would be RESURRECTED by the next refit, which regenerates
  // band rows from the signature store
  private def removePendingPath = s"$path/remove.pending"

  /** Called on every public operation: finish whatever a crashed writer
    * left pending (cheap no-op — a few existence probes — when nothing
    * is). Order matters: a pending remove replays before a pending
    * refit, so the refit's regenerated band layout reflects the
    * removal; the two markers are mutually exclusive by construction
    * (each public mutation drains both before publishing its own). */
  private def ensureClean(): Unit = {
    if (Fs.exists(removePendingPath, hconf)) completeRemove()
    stats.replay()
  }

  /** Remove documents by url (reference `Remove(id)`): the url set is
    * published to a pending-remove marker first (atomic rename), then
    * both stores are rewritten through their swap commits (anti-join
    * into a TEMP directory — the read source is never the write
    * target), and the marker is dropped last. A crash anywhere is
    * replayed idempotently by the next operation, so a removed doc can
    * never be half-removed or resurrected by a later refit. On
    * HDFS/object stores the swaps map to rename commits / Iceberg
    * snapshot swaps. Publishing the marker also SNAPSHOTS the caller's
    * url frame — the replay reads the parquet copy, immune to the
    * caller's frame being nondeterministic. */
  def remove(urls: DataFrame): Unit = {
    ensureClean()
    // a null removal url matches nothing in the semi/anti joins — the
    // remove would silently no-op (invariant 33); raise at marker
    // publication, before any store is touched
    Fs.publishByRename(removePendingPath, hconf)(
      urls.select(coalesce(col("url"), raise_error(lit(
          "identity-less remove: null url")).cast("string")).as("url"))
        .write.mode("overwrite").parquet(_))
    completeRemove()
  }

  /** Replay/complete a pending remove from its marker. Idempotent. */
  private def completeRemove(): Unit = {
    val u = spark.read.parquet(removePendingPath).select(col("url"))
    if (!bandStore.isEmpty) {
      // band rows first, FROM the still-intact signature store: if the
      // replay itself crashes between the rewrites, the removed docs
      // are bandless — unreachable by search — until the next replay
      val removedIds = store.all().join(u, Seq("url"), "left_semi")
        .select(col("doc_id"))
      bandStore.rewrite(_.join(removedIds, Seq("doc_id"), "left_anti"))
    }
    store.rewrite(_.join(u, Seq("url"), "left_anti"))
    Fs.deleteIfExists(removePendingPath, hconf)
  }

  def all(): DataFrame = store.all()

  /** Consolidate batches ≤ `upTo` into one directory in BOTH stores
    * (signatures + band layout), applying last-put-wins per identity
    * while the batch order still exists: a url re-put across compacted
    * batches keeps only its newest signature row, and its band rows
    * regenerate from exactly those survivors — the two stores stay
    * consistent by construction. Replay-safety contract:
    * [[graft.ckpt.BatchStore.compact]] (only compact below the
    * streaming checkpoint's committed watermark). */
  def compact(upTo: Long): Unit = {
    ensureClean()
    reconcileBands()
    store.compact(upTo)(
      graft.ckpt.BatchStore.latestBatchRows(_, "doc_id"))
    // band rows are DERIVED data: regenerate the compacted range from
    // the post-compaction signature store instead of trying to mirror
    // the window rule over exploded rows. A crash between the two
    // rewrites leaves stale band dirs for the merged batches — harmless
    // (their candidates die at the signature join, which only serves
    // surviving rows) and dropped by the next band rewrite.
    bandStore.rewrite { bands =>
      bands.filter(col("batch") > upTo).unionByName(
        bandRows(store.all().filter(col("batch") <= upTo),
          keep = Seq("batch")))
    }
  }

  /** Near-dup matches of `pages` against the stored index: pruned
    * band-key equi-join + exact Jaccard verify (reference `Search`
    * semantics, `index.go:215-255`, without top-k truncation). Queries
    * are signed with the stored corpus stats so band keys line up with
    * the index. The stored side reads ONLY the `pb` partitions present
    * in the query batch (PartitionFilters in the scan — sub-linear in
    * the index size, like the reference's per-band bucket lookup); the
    * pruning set's size is bounded by the fixed pb domain, never by
    * the corpus. Returns (query_url, match_url, jaccard). */
  def search(pages: DataFrame): DataFrame =
    stats.validated(searchPlanPinned(pages))

  /** The LAZY search frame — [[search]] without the refit-consistency
    * validation, for plan inspection (PartitionFilters evidence) and
    * specs; production callers want [[search]]. The frame pins the
    * query-signature snapshot for its lifetime (spec-scoped; the
    * serving path frees it per call). */
  def searchPlan(pages: DataFrame): DataFrame = searchPlanPinned(pages)._1

  /** ([[searchPlan]] frame, the query-side pin it references — None on
    * the empty-index early return) — the pin may be freed once the
    * frame is materialized. */
  private def searchPlanPinned(pages: DataFrame)
      : (DataFrame, Option[DataFrame]) = {
    // empty index: nothing can match — return the empty result without
    // signaturing the queries. (Signaturing would also FIT first-put
    // corpus stats from a read path, which is the put paths' job and
    // takes the writer lease.)
    if (isEmpty) {
      val s = pages.sparkSession
      return (s.range(0).select(lit("").as("query_url"),
        lit("").as("match_url"), lit(0.0).as("jaccard")), None)
    }
    // a crashed refit must never serve mixed state: stats in `stats`
    // with signatures already rewritten for `stats.refit` (or half the
    // batches re-signatured) would miss true duplicates silently
    ensureClean()
    import graft.lsh.Lsh
    // pin the query signatures before the driver collects the pruning
    // set from them: the stored-side partition filter and the verify
    // join below both re-evaluate this frame, and a nondeterministic
    // caller frame (sample, unordered limit) re-evaluated differently
    // would probe partitions the filter already excluded — silent
    // misses. localCheckpoint materializes one snapshot that every
    // downstream plan reads (executor-local blocks: a lost executor
    // fails the query loudly rather than serving a partial answer).
    // Identity-less queries (null url AND no caller doc_id) fail
    // loudly HERE, at materialization: the put paths catch null ids
    // in resolveCrossBatchIds, but no audit runs on reads, and a null
    // qid never equi-joins — the query row would contribute zero
    // result rows with no signal. Per-row coalesce short-circuit: no
    // extra job, no cost on well-formed rows. When the raise fires,
    // blocks cached by the materialization's already-finished tasks
    // have no handle to free (the checkpointed frame is never
    // returned) and wait for Spark's ContextCleaner — acceptable on a
    // loud caller-bug path; the alternative, a separate validation
    // job per search, would tax every clean call instead.
    val q = signatures(pages)
      .withColumn("doc_id", coalesce(col("doc_id"), raise_error(lit(
        "identity-less search query: null url and no doc_id — search " +
          "results are keyed by qid, so such a row can never surface " +
          "its matches; give each query page a url or a doc_id"))
        .cast("long")))
      .localCheckpoint(true)
    // a failure below (the pb-pruning collect, batch listing) must not
    // orphan the query pin — free it on the error path, rethrow
    try {
    val stored = all()
    val qb = Lsh.explodeBands(q, "doc_id",
        Lsh.minhashBandKeys(col("minhash"), cfg.bands, cfg.rows),
        element_at(col("minhash"), 1))
      .select(col("doc_id").as("qid"),
        pbCol(col("band"), col("key")).as("pb"), col("key"))
    // the pruning set: distinct pb values in the query batch — collect
    // is bounded by the pb DOMAIN (bands·bandBuckets), a config
    // constant, regardless of query or index size
    val pbs = qb.select("pb").distinct().collect().map(_.getInt(0))
    // read-only repair: a batch whose band rows never landed (a put
    // crashed between its two writes — for the index's only put, no
    // band layout exists at all) is served from band rows computed
    // in-plan from its signatures — search never takes the band
    // store's writer lease; the durable backfill happens on the next
    // mutation (reconcileBands). Only the crashed batch pays an
    // unpruned scan, and only until then.
    val have = bandStore.batchIds().toSet
    val missing = store.batchIds().filterNot(have)
    lazy val inPlan = bandRows(stored.filter(
      col("batch").isin(missing.map(Long.box): _*)))
    val storedBands =
      if (have.isEmpty) inPlan
      else if (missing.isEmpty) bandStore.all().select("pb", "key", "doc_id")
      else bandStore.all().select("pb", "key", "doc_id").unionByName(inPlan)
    // skip the predicate when the query batch touches every pb: it
    // prunes nothing and a full-domain IN costs optimizer time
    val cands = (if (pbs.length < cfg.bands * cfg.bandBuckets)
        storedBands.filter(col("pb").isin(pbs.map(Int.box).toSeq: _*))
      else storedBands)
      .select(col("doc_id").as("sid"), col("pb"), col("key"))
      .join(qb, Seq("pb", "key"))
      .filter(col("qid") =!= col("sid"))
      .select("qid", "sid").distinct()
    val qs = q.select(col("doc_id").as("qid"), col("url").as("query_url"),
      col("shingles").as("qsh"))
    val ss = stored.select(col("doc_id").as("sid"), col("url").as("match_url"),
      col("shingles").as("ssh"), col("batch").as("__sb"))
    // last-put-wins per stored identity: the audit ALLOWS re-putting the
    // same (id, url) across batches — same identity — so a sid can hold
    // several stored rows (possibly with UPDATED text). Search must
    // serve the newest, and must not emit one logical match several
    // times. The dedup runs on the candidate-sized joined frame (a
    // window over the full store per search would shuffle 10^9 rows).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid", "sid").orderBy(col("__sb").desc)
    (cands.join(qs, "qid").join(ss, "sid")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .withColumn("jaccard",
        graft.verify.VectorFunctions.jaccardLongK(col("qsh"), col("ssh")))
      .filter(col("jaccard") >= cfg.tau)
      .select("query_url", "match_url", "jaccard"), Some(q))
    } catch { case t: Throwable =>
      graft.ckpt.Checkpoints.free(q); throw t }
  }
}
