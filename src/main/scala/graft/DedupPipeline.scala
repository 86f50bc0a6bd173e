package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextKernel
import graft.tfidf.TfIdf
import graft.hash.HashFunctions
import graft.lsh.Lsh
import graft.verify.Measures
import graft.cluster.ConnectedComponents
import graft.substr.SuffixArrayStage
import graft.ckpt.{CheckpointStore, EphemeralStore}

/**
 * Dedup configuration. The pinned values (FIXTURES.md §1) are constants
 * of every config, not constructor parameters: shingle w=5
 * ([[shingleW]]), SimHash 64 bits with Hamming ≤3/64 ([[maxHamming]]),
 * Jaccard τ=0.8 ([[tau]]), the substring pass ([[substrMinRun]]) and the
 * SimHash rotation scan always on, and a 3-round id audit
 * ([[idAuditRounds]]). The settable values are the MinHash band shape
 * (default 32 bands × 4 rows = 128 perms), the hot-shingle cut, the
 * broadcast guard and the serving-index bucket count. The MinHash
 * signature length is always bands·rows (the reference requires the
 * same, `lsh.go:124-127`), so it is not a separate knob.
 */
case class DedupConfig(
  bands: Int = 32,
  rows: Int = 4,
  // df-conditioned shingling: shingles appearing in more than
  // max(hotShingleMinDf, hotShingleDfFrac·reps) documents are excluded
  // from MinHash banding (NOT from verification). Boilerplate shared by
  // k pages would otherwise produce O(k²) false candidate pairs —
  // measured 6.2M candidates (98% false) on a 341k corpus with a 5%
  // boilerplate block.
  hotShingleMinDf: Int = 8,
  hotShingleDfFrac: Double = 0.001,
  hotShingleCap: Int = 1 << 20,
  // broadcast guard for the three id-set joins (exact-dup copies,
  // candidate members, substring-pass members): a hint("broadcast") is
  // only attached when the audited distinct-id count bounding them is
  // below this limit (16.7M ids ≈ 135 MB on the driver); above it the
  // planner picks a shuffle join. At the north rule's 10^12-doc
  // operating point the sets are in the billions — an unguarded hint
  // would OOM the driver.
  broadcastIdLimit: Long = 16L << 20,
  // serving-index layout: stored band rows are partitioned by
  // pb = band·bandBuckets + (key mod bandBuckets), so an incremental
  // search prunes the stored scan to the partitions its query batch
  // actually touches (the reference's sub-linear bucket lookup,
  // lsh.go:87-108, as PARTITION PRUNING instead of an in-memory map).
  // The pb domain (bands·bandBuckets) bounds the driver-collected
  // pruning set; 32·64 = 2048 partitions keeps per-partition files
  // large at web scale while a 100-doc query batch touches ≲ 5%.
  bandBuckets: Int = 64) {
  val shingleW: Int = 5
  // Manku et al. '07 family: `simhashTables` bit-rotations of the
  // 64-bit simhash, each range-sorted and scanned with a
  // `chainWidth`-wide neighborhood, Hamming-verified in-scan
  // (Lsh.simhashNeighborEdges). Fixed-width BAND KEYS were abandoned
  // (so there is no band-bits knob): 8-bit bands random-collide (n/256
  // docs per bucket, quadratic candidate blowup — measured 187k pairs
  // on a 3.8k corpus) and 16-bit bands measured 6M random-collision
  // pairs at 341k docs; the rotation scan examines O(n·tables·width)
  // pairs at ANY corpus size. The trade: a Hamming≤3 pair separated by
  // more than `chainWidth` same-prefix rows under every rotation can
  // be missed — bounded by SeamLossSpec, backstopped by the
  // MinHash-Jaccard path.
  val simhashTables: Int = 4
  val tau: Double = 0.8
  val maxHamming: Int = 3
  val maxBucket: Int = 64
  val chainWidth: Int = 3
  val numFeatures: Int = 1 << 18
  val substrMinRun: Int = 60
  // both extra edge sources always run; the flags stay readable for
  // code that recomposes the stages (perfbench's TracedDedup)
  val enableSubstr: Boolean = true
  val enableSimhashBands: Boolean = true
  // 64-bit id collision audit (birthday bound at the 10^12-doc design
  // point predicts ~10^4 silent xxhash64(url) collisions, each merging
  // two unrelated documents into one cluster): up to idAuditRounds
  // detect-and-rehash passes over a slim (doc_id, url) projection, then
  // a loud failure if collisions persist. The audit also guards null
  // identity (rows with neither a doc_id nor a url fail loudly).
  val idAuditRounds: Int = 3
}

/**
 * End-to-end near-duplicate detection + clustering pipeline (the north
 * rule): extract → shingle → TF-IDF → SimHash64 + MinHash128 → LSH band
 * join (salt-capped) → exact verify (Jaccard/Hamming) → connected
 * components, with a suffix-array substring pass → (url, cluster).
 *
 * Scale shape (10^12 docs): the corpus-sized shuffles are
 *  (1) the balancing repartition of raw (url, text) pages feeding
 *      extract — the ONLY exchange that ships full text; the extract
 *      output is cached as a slim projection and every later exchange
 *      is either slim (ids/hashes) or filtered (candidate members),
 *  (2) the exact-dup canon window on a (doc_id, text_hash) projection,
 *  (3) the corpus-stats df aggregation (one explode pass, map-side
 *      partial agg; yields idf + doc count + hot-shingle list together),
 *  (4) the band-bucket exchange (the distributed LSH hash table),
 *  (5) the winnow-anchor exchange of the substring pass plus its
 *      key-bounded hot-anchor df aggregation,
 *  and, past [[DedupConfig.broadcastIdLimit]], the three guarded id-set
 *  joins (dup-id anti-join, verify and substring member semi-joins)
 *  fall back from broadcast to one corpus-sized doc_id shuffle each.
 * All are linear in corpus size with map-side combine where applicable.
 * Everything else is per-row codegen'd expression work; the verify
 * join and CC loop run on candidate pairs, which LSH keeps ≪ n².
 * Exact duplicates are collapsed to one representative *before* LSH, so
 * boilerplate mirror pages (the dominant web dup class) never reach the
 * band join.
 */
object DedupPipeline {

  /** Stage 1 — extraction/normalisation. Input must have (url, text).
    * Adds docId, tokens, norm, text_hash, shingles, n_tokens. A
    * caller-supplied doc_id column is honored (the reference treats ids
    * as opaque caller-owned values, `/root/reference/index.go:48`);
    * identity integrity is then enforced by [[resolveIdCollisions]]. */
  def extract(pages: DataFrame, cfg: DedupConfig): DataFrame = {
    val tokens = TextKernel.tokenize(coalesce(col("text"), lit("")))
    // a null url must derive a NULL id, not xxhash64(null): Spark's
    // hash expressions skip null children and return the seed, so every
    // null-url row would silently share ONE doc_id — and the identity
    // audit is structurally blind to it (countDistinct over the same
    // null-skipping hash reads 1). The nulls are caught loudly in
    // [[resolveIdCollisions]] instead of fused silently here.
    val withId =
      if (pages.columns.contains("doc_id")) pages
      else pages.withColumn("doc_id",
        when(col("url").isNull, lit(null).cast("long"))
          .otherwise(xxhash64(col("url"))))
    withId
      .withColumn("tokens", tokens)
      .withColumn("norm", TextKernel.normText(col("tokens")))
      .withColumn("text_hash", md5(col("norm")))
      .withColumn("shingles",
        HashFunctions.hashedShingles(col("tokens"), cfg.shingleW))
      .withColumn("n_tokens", size(col("tokens")))
  }

  /**
   * Identity-integrity stage: detect doc_ids claimed by more than one
   * distinct url and deterministically re-id the colliding documents
   * with a round-salted hash (`xxhash64(url, round)`), iterating until
   * clean. Unresolved collisions after `maxRounds` FAIL LOUDLY — a
   * silent 64-bit collision merges two unrelated documents into one
   * cluster downstream (CC joins on doc_id).
   *
   * Scale shape: the audit aggregation ships a slim (doc_id, url-hash)
   * projection once per round — 16 B/doc, the url string itself never
   * rides the exchange: distinct urls are counted via an INDEPENDENT
   * second-seed hash (`xxhash64(url, 1)`), so missing a true collision
   * requires the same pair to collide under both seeds (~2⁻⁶⁴ per
   * pair — vanishing against the ~10⁻¹² per-pair odds being audited);
   * the aggregation is map-side combined; the collision set
   * itself is birthday-bounded (~10^4 rows at 10^12 docs), so the
   * remap join broadcasts it unless a pathological corpus exceeds
   * [[DedupConfig.broadcastIdLimit]]. Zero collisions (the common
   * case) = one audit aggregation and an unchanged frame.
   */
  def resolveIdCollisions(extracted: DataFrame, cfg: DedupConfig): DataFrame =
    resolveIdCollisionsCounted(extracted, cfg)._1

  /** [[resolveIdCollisions]] plus, on the clean path, the DISTINCT
    * doc_id count the audit aggregation already paid for. The count is
    * the broadcast-guard bound [[run]] previously measured with two
    * extra count jobs (exact-dup edges, candidate pairs): every id set
    * those joins broadcast (dup ids, candidate-member ids) is a set of
    * doc_ids, so its cardinality is bounded by this value — one job now
    * carries the audit AND every downstream broadcast decision
    * (optimization round: ~3 serial job barriers removed per run; the
    * fixture-scale pipeline wall is job-floor-bound, see
    * OPTIMIZATION_r06.md). */
  private[graft] def resolveIdCollisionsCounted(
      extracted: DataFrame, cfg: DedupConfig): (DataFrame, Some[Long]) = {
    // null caller-supplied ids are normalised up front (narrow
    // projection): the audit's equi-join can never match a null key, so
    // a null collision group would survive every rehash round and die
    // with a misleading "unresolved collisions" error — and a lone null
    // id would silently flow into the doc_id-keyed joins downstream.
    // A row whose url is ALSO null stays null through the coalesce
    // (extract derives null, and xxhash64(null) here would fold every
    // such row to the hash seed — one shared identity): the audit
    // below flags the null group and fails with the precise message.
    @scala.annotation.tailrec
    def audit(cur: DataFrame, round: Int): (DataFrame, Some[Long]) = {
      // distinctness proxy: a second hash under a seed DISJOINT from the
      // rehash round range [1, idAuditRounds]. With seed 1 (= round 1's
      // rehash salt) a round-1-remapped doc's doc_id EQUALS its
      // verification hash by construction, making collisions among
      // remapped docs structurally invisible to later audit rounds —
      // the disjoint seed restores the ~2^-64 independence argument.
      val auditSeed = lit(-1)
      // the null group rides the same aggregation (zero extra jobs on
      // the clean path): identity-less rows — neither a caller id nor
      // a url — cannot be rehashed into an identity and must fail with
      // their own message, not the collision one
      val grouped = cur.groupBy("doc_id")
        .agg(countDistinct(xxhash64(col("url"), auditSeed)).as("u"))
      // ONE scalar row drives everything: id count (broadcast bound),
      // collision count, null-identity presence — the per-group frame
      // is only re-executed on the (rare) collision path below
      val st = grouped.agg(
        count(lit(1)).as("n_ids"),
        coalesce(sum(when(col("u") > 1, lit(1L)).otherwise(lit(0L))), lit(0L))
          .as("n_bad"),
        coalesce(sum(when(col("doc_id").isNull, lit(1L)).otherwise(lit(0L))),
          lit(0L)).as("n_null")).head()
      val nIds = st.getLong(0)
      val nBad = st.getLong(1)
      val nNull = st.getLong(2)
      if (nNull > 0)
        throw new IllegalArgumentException(
          "rows with neither a doc_id nor a url have no identity — " +
            "xxhash64(null) would fold them all onto one shared doc_id " +
            "(silently fusing unrelated documents into one cluster); " +
            "supply a url or a caller-owned doc_id for every row")
      if (nBad == 0) return (cur, Some(nIds))
      if (round == cfg.idAuditRounds)
        throw new IllegalStateException(
          s"doc_id collisions unresolved after ${cfg.idAuditRounds} " +
            s"rehash rounds ($nBad colliding ids) — refusing to cluster " +
            "with ambiguous identities")
      val bad = grouped.filter(col("u") > 1).select("doc_id")
      val badIds = (if (nBad <= cfg.broadcastIdLimit) bad.hint("broadcast")
                    else bad).withColumnRenamed("doc_id", "__bad_id")
      audit(cur.join(badIds, cur("doc_id") === col("__bad_id"), "left")
        .withColumn("doc_id",
          when(col("__bad_id").isNotNull, xxhash64(col("url"), lit(round + 1)))
            .otherwise(col("doc_id")))
        .drop("__bad_id"), round + 1)
    }
    audit(extracted.withColumn("doc_id",
      coalesce(col("doc_id"),
        when(col("url").isNull, lit(null).cast("long"))
          .otherwise(xxhash64(col("url"))))), 0)
  }

  /** Stage 2a — exact-dup edges: one (a, b) per duplicate copy b, where
    * a is the smallest doc_id with the same normalised text;
    * [[exactDupReps]] then keeps one representative per distinct text.
    * Reference has no exact stage; it falls out of
    * dedup-at-scale practice (identical pages collapse before any
    * signature work).
    *
    * Bandwidth shape: the canon window runs over a SLIM
    * (doc_id, text_hash) projection — 48 bytes/doc through the exchange
    * instead of the full extracted row (text+norm+tokens+shingles,
    * ~4-6 KB/doc; the fat variant moved ~2 GB at 375k docs and this
    * host's memory bandwidth is both the 32-thread bottleneck and the
    * main external-noise coupling). Representatives are then selected
    * from the (cached) extracted frame by an anti-join on the copy-id
    * set — broadcast when the set is small enough (corpus-count guard),
    * shuffle otherwise; either way the fat columns never ride the
    * text_hash exchange. */
  def exactDupEdges(extracted: DataFrame): DataFrame = {
    import extracted.sparkSession.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy("text_hash")
    val withCanon = extracted.select($"doc_id", $"text_hash")
      .withColumn("canon_id", min("doc_id").over(w))
    withCanon.filter($"doc_id" =!= $"canon_id")
      .select($"canon_id".as("a"), $"doc_id".as("b"))
  }

  /** Representatives: drop the DUPLICATE COPIES (edge `b` side) from the
    * extracted frame. `broadcastDups` must be decided from the MEASURED
    * dup count against [[DedupConfig.broadcastIdLimit]] (see [[run]]) —
    * a web corpus's exact-mirror population at 10^12 docs is in the
    * billions, far past any broadcastable size, and the anti-join then
    * has to be a planner-chosen shuffle join. */
  def exactDupReps(extracted: DataFrame, edges: DataFrame,
                   broadcastDups: Boolean): DataFrame = {
    import extracted.sparkSession.implicits._
    val dupIds = edges.select($"b".as("doc_id"))
    extracted.join(
      if (broadcastDups) dupIds.hint("broadcast") else dupIds,
      Seq("doc_id"), "left_anti")
  }

  /** Fitted corpus statistics driving the signature stage: doc count,
    * sparse sorted idf arrays, and the df-conditioned hot-shingle drop
    * list. Persisting these alongside an incremental index makes
    * signatures batch-INdependent: a later batch signed with the same
    * stats produces the same band keys for the same text (the
    * incremental-search correctness requirement). */
  case class CorpusStats(n: Long, idfTerms: Array[Long],
                         idfVals: Array[Double], hotShingles: Array[Long])

  /** Adds the hashed-tf column. Narrow: parallelism comes from the
    * extract-stage balancing repartition in [[run]] (reps is a
    * broadcast anti-join of the cached extract, so its partitioning IS
    * extract's) — an explicit repartition here would be a second fat
    * shuffle of tokens+shingles for nothing. */
  def withTf(reps: DataFrame, cfg: DedupConfig): DataFrame =
    reps.withColumn("tf", HashFunctions.hashedTf(col("tokens"), cfg.numFeatures))

  /**
   * Fit [[CorpusStats]] in ONE job / one corpus pass: term df, doc count
   * and shingle df ride the same explode → (kind, id) hash aggregation.
   *  - kind 0, id −1: the doc-count sentinel (n)
   *  - kind 0, id ≥ 0: term document frequency → idf
   *  - kind 1: shingle document frequency, filtered to
   *    df > hotShingleMinDf and kept DISTRIBUTED; the full frac·n
   *    threshold (which needs n) and the hotShingleCap top-k both run
   *    executor-side, so the driver sees ≤ cap hot shingles
   * The result is a bounded dim table (≤ numFeatures + hotShingleCap) —
   * the reference's "never materialise the diagonal" IDF trick
   * (`/root/reference/weightings.go:58`), distributed-style. Previously
   * two separate jobs (idf agg + hot-shingle agg), each a full corpus
   * pass; merged to cut the fixed per-job scheduling floor (the N→4N
   * scaling-efficiency driver).
   */
  def fitCorpusStats(tfd: DataFrame, cfg: DedupConfig): CorpusStats = {
    // the corpus pass runs ONCE: the slim survivor frame (term rows +
    // shingle rows over the static minDf floor) is persisted DISTRIBUTED
    // (executor memory/disk, spillable) and both collects below read it.
    // The driver never materialises the survivor set: it sees at most
    // numFeatures idf rows plus hotShingleCap hot shingles — at the
    // 10^12-doc operating point the df>minDf shingle population is
    // 10^9-10^10 rows, which stays on the executors.
    // three PRIMITIVE-column branches into ONE aggregation (optimization
    // round): the previous combined per-doc entry-array kernel
    // materialised an InternalRow object per entry (~66M tiny
    // allocations per bench pass, the stats stage's dominant CPU after
    // the exchange). Each branch explodes a primitive long column
    // (tf.term via GetArrayStructFields, shingles directly) with the
    // kind as a CONSTANT — all codegen, zero per-entry objects; the
    // union feeds the same single (kind, id) hash aggregation, so the
    // stage still runs one job / one shuffle, and the df multiset is
    // identical.
    val slim = tfd
      .select(lit(0).as("kind"), explode(col("tf.term")).as("id"))
      .unionByName(tfd.select(lit(0).as("kind"), lit(-1L).as("id")))
      .unionByName(tfd.select(lit(1).as("kind"),
        explode(col("shingles")).as("id")))
      .groupBy(col("kind"), col("id"))
      .agg(count(lit(1)).as("df"))
      .filter(col("kind") === 0 || col("df") > cfg.hotShingleMinDf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE action collects both halves (driver-job floor is part of the
      // scaling F — see BASELINE.md): the idf branch is the kind-0 rows
      // (bounded by numFeatures); the hot-shingle branch computes the
      // full df threshold IN-PLAN (the doc-count sentinel cross-joined
      // as a one-row broadcast, so n never round-trips the driver) and
      // caps survivors with a global top-k (TakeOrderedAndProject —
      // per-partition bounded heaps, ≤cap rows reach the driver),
      // tie-broken on id for determinism. Any over-threshold shingle
      // outranks every sub-threshold one, so when the over-threshold
      // population fits the cap this is exactly that population — same
      // semantics as an unbounded collect + cap. Both branches scan the
      // SAME persisted frame: the corpus pass still runs once.
      val nDf = slim.filter(col("kind") === 0 && col("id") === -1L)
        .select(col("df").as("n"))
      val inPlanThreshold = greatest(lit(cfg.hotShingleMinDf.toLong),
        (lit(cfg.hotShingleDfFrac) * col("n")).cast("long"))
      val hotTopK = slim.filter(col("kind") === 1)
        .crossJoin(broadcast(nDf))
        .filter(col("df") > inPlanThreshold)
        .select(col("kind"), col("id"), col("df"))
        .orderBy(col("df").desc, col("id").asc)
        .limit(cfg.hotShingleCap)
      val rows = slim.filter(col("kind") === 0)
        .select(col("kind"), col("id"), col("df"))
        .unionByName(hotTopK)
        .collect()
      var n = 0L
      rows.foreach { r =>
        if (r.getInt(0) == 0 && r.getLong(1) == -1L) n = r.getLong(2)
      }
      // sparse sorted (term, idf) arrays — vocab-sized, not numFeatures-sized
      val terms = rows.filter(r => r.getInt(0) == 0 && r.getLong(1) >= 0)
        .sortBy(_.getLong(1))
      val idfTerms = terms.map(_.getLong(1))
      val idfVals = terms.map(r => math.log((1.0 + n) / (1.0 + r.getLong(2))))
      val hotRows = rows.filter(_.getInt(0) == 1)
      if (hotRows.length >= cfg.hotShingleCap) {
        // the cap MAY have bound — count the true population (cheap
        // cached scan) and warn only if something was actually dropped
        // (no silent caps, but also no false alarms on an exact fit)
        val dfThreshold = math.max(cfg.hotShingleMinDf.toLong,
          (cfg.hotShingleDfFrac * n).toLong)
        val total = slim.filter(col("kind") === 1 && col("df") > dfThreshold).count()
        if (total > cfg.hotShingleCap)
          System.err.println(
            s"[graft] hot-shingle drop list capped at ${cfg.hotShingleCap} of " +
              s"$total over-threshold shingles (keeping the hottest)")
      }
      CorpusStats(n, idfTerms, idfVals, hotRows.map(_.getLong(1)).sorted)
    } finally slim.unpersist(blocking = false)
  }

  /** Apply fitted stats: MinHash over the (df-conditioned) shingle
    * set, one slot per band row (bands·rows — 128 in the pinned 32×4
    * config); SimHash64 over the tf-idf-weighted hashed term vector.
    * `keepTf` retains the tf column — the incremental index stores it
    * so a stats [[graft.ops.IncrementalIndex.refit]] can re-signature
    * every batch without the raw text. */
  def applySignatures(tfd: DataFrame, stats: CorpusStats,
                      cfg: DedupConfig, keepTf: Boolean = false): DataFrame = {
    val bandShingles =
      if (stats.hotShingles.isEmpty) col("shingles")
      else HashFunctions.filterNotIn(col("shingles"), stats.hotShingles)
    val signed = tfd
      .withColumn("minhash",
        HashFunctions.minhashK(bandShingles, cfg.bands * cfg.rows))
      .withColumn("simhash",
        HashFunctions.simhash64idf(col("tf"), stats.idfTerms, stats.idfVals))
    if (keepTf) signed else signed.drop("tf")
  }

  /** Stage 2b — signatures over representatives: MinHash over the
    * shingle set; SimHash64 over the tf-idf–weighted hashed term vector
    * (reference pipeline: TF-IDF → sign random projection,
    * `/root/reference/example_test.go:30-45` + `hashing.go:49-62`). */
  def signatures(reps: DataFrame, cfg: DedupConfig): DataFrame = {
    val tfd = withTf(reps, cfg)
    applySignatures(tfd, fitCorpusStats(tfd, cfg), cfg)
  }

  /** Stage 3a — MinHash-LSH candidate pairs over representatives.
    * SimHash near-pairs do NOT flow through here: they are emitted
    * already Hamming-verified by [[simhashEdges]] — routing them through
    * the shingle verify join measured 87 s of junk-pair work at 72k
    * docs (see Lsh.simhashNeighborEdges). */
  def candidates(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    // chain-order key: first minhash permutation value — equal for
    // identical signatures, close for high-Jaccard docs, and a cheap
    // codegen'd element_at (hashing the whole 128-slot array per
    // exploded row measured 16 s on a 27k corpus)
    val mh = Lsh.explodeBands(sigs, "doc_id",
      Lsh.minhashBandKeys(col("minhash"), cfg.bands, cfg.rows),
      element_at(col("minhash"), 1))
    Lsh.candidatePairs(mh, "doc_id", cfg.maxBucket, cfg.chainWidth)
  }

  /** Stage 3b — SimHash sorted-neighborhood duplicate edges (Manku '07),
    * Hamming-verified inside the sorted scan (fixed-width band keys
    * saturate quadratically with corpus size; unfiltered neighbor pairs
    * drown the verify join — see Lsh.simhashNeighborEdges). */
  def simhashEdges(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    Lsh.simhashNeighborEdges(sigs, "doc_id", "simhash",
      cfg.simhashTables, cfg.chainWidth, cfg.maxHamming)

  /** Semi-filter `payload` (keyed `doc_id`) to the member ids of the
    * candidate pairs `cands` (columns `a`, `b`) — broadcast-hinted when
    * `broadcast` says the MEASURED pair count fits
    * [[DedupConfig.broadcastIdLimit]]. The single implementation shared
    * by [[verifyPairs]] and [[graft.substr.SuffixArrayStage
    * .substringEdges]]: both verify paths ship only pair members' fat
    * payloads through their exchanges, and a fix to the guard logic
    * lands in both or neither. */
  def memberSemiFilter(cands: DataFrame, payload: DataFrame,
                       broadcast: Boolean): DataFrame = {
    import cands.sparkSession.implicits._
    val ids0 = cands.select($"a".as("doc_id"))
      .union(cands.select($"b".as("doc_id"))).distinct()
    val ids = if (broadcast) ids0.hint("broadcast") else ids0
    payload.join(ids, Seq("doc_id"), "left_semi")
  }

  // no default for broadcastMembers, like exactDupReps: the flag MUST
  // come from the measured pair count vs broadcastIdLimit (see run()) —
  // a `= true` default silently broadcast-hinted a possibly
  // multi-billion-id member set for every direct caller of the
  // convenience surface, the unguarded-broadcast driver OOM this file's
  // guards exist to prevent
  /** Stage 4 — exact verification of candidate pairs
    * (reference `index.go:198-255` semantics: true-metric check on
    * retrieved candidates): Jaccard over shingle sets ≥ τ, OR Hamming
    * over SimHash ≤ maxHamming bits. */
  def verifyPairs(cands: DataFrame, sigs: DataFrame, cfg: DedupConfig,
                  broadcastMembers: Boolean): DataFrame = {
    import cands.sparkSession.implicits._
    // only docs that appear in some candidate pair need their shingle
    // arrays in the verify joins — semi-filter sigs on the candidate-
    // member id set first, so the two doc_id exchanges ship |members|
    // rows of arrays instead of the whole corpus (at 375k docs that was
    // ~2×700 MB of shingles through the shuffle to verify a few
    // thousand pairs). `broadcastMembers` comes from the measured pair
    // count vs broadcastIdLimit (see run()): past the limit the
    // semi-join is a planner-chosen shuffle join — one fat exchange of
    // sigs instead of two, never a driver-side build of a giant id set.
    val side = memberSemiFilter(cands, sigs, broadcastMembers)
      .select(col("doc_id"), col("shingles"), col("simhash"))
    val a = side.toDF("a", "sh_a", "sig_a")
    val b = side.toDF("b", "sh_b", "sig_b")
    cands.join(a, "a").join(b, "b")
      // codegen'd long-set jaccard kernel (optimization round): value-
      // identical to Measures.jaccard on these containsNull=false
      // shingle-id arrays, without materialising union arrays per pair
      .withColumn("jaccard",
        graft.verify.VectorFunctions.jaccardLongK($"sh_a", $"sh_b"))
      .withColumn("hamming", bit_count($"sig_a".bitwiseXOR($"sig_b")))
      .filter($"jaccard" >= cfg.tau || $"hamming" <= cfg.maxHamming)
      .select($"a", $"b", $"jaccard", $"hamming")
  }

  /** Full pipeline. Returns (url, doc_id, cluster) — cluster is the min
    * doc_id of the duplicate class (singletons map to themselves). */
  def run(pages: DataFrame, cfg: DedupConfig = DedupConfig(),
          store: CheckpointStore = new EphemeralStore): DataFrame = {
    import pages.sparkSession.implicits._
    // shared subtrees are consumed 2-3× downstream (verify joins sigs on
    // both sides; reps feed signatures AND the substring pass). With a
    // parquet store each stage is materialised on disk; in the ephemeral
    // path persist() plays that role — without it Spark re-executes the
    // whole upstream DAG per consumer.
    def shared(df: DataFrame): DataFrame = store match {
      case _: EphemeralStore =>
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      case _ => df
    }
    // ONE fat exchange for the whole pipeline: balance the corpus over
    // the cluster here, cache it, and keep everything downstream either
    // narrow on these partitions or shuffling slim projections — at 375k
    // docs the previous shape (fat canon window + fat CPU repartition)
    // moved the multi-KB rows twice more; on this host memory bandwidth
    // is the 32-thread bottleneck, so exchange bytes ARE wall time.
    // The width is DATA-adaptive (guide §2: partitioning must scale with
    // input, not with a session constant): capped by the input's own
    // partition count — scan partitioning already tracks bytes
    // (maxPartitionBytes for files, data-sized slices for the synthetic
    // generator), so a 300-doc fixture stops fanning out to 32
    // near-empty partitions that every downstream narrow job then pays
    // scheduling for (measured: the fixture pipeline is job-floor-bound),
    // while the 375k-doc bench corpus (33 input partitions) and any
    // at-scale input keep the full session width.
    val width = math.min(
      pages.sparkSession.sparkContext.defaultParallelism,
      math.max(1, pages.rdd.getNumPartitions))
    val extracted00 = shared(store.stage("extract") {
      extract(pages.repartition(width), cfg)
        // compute the hashed tf HERE and cache it instead of the raw
        // token array: downstream only ever reads tf (signatures,
        // stats), norm (substring pass), text_hash (exact dedup) and
        // url/doc_id (final join) — raw text and tokens would double
        // the cached bytes, and cache traffic is memory bandwidth,
        // the 32-thread bottleneck on this host
        .withColumn("tf", HashFunctions.hashedTf(col("tokens"), cfg.numFeatures))
        .select("url", "doc_id", "tf", "norm", "text_hash", "shingles")
    })
    // identity audit over the cached frame: a slim aggregation job; the
    // frame is returned unchanged when (as almost always) no 64-bit id
    // collision exists, and colliding docs are deterministically
    // re-id'd otherwise — CC merges clusters on doc_id, so an
    // undetected collision would silently fuse unrelated documents.
    // The SAME job now returns the distinct-id count: every id set the
    // guarded joins below broadcast (dup ids, candidate-member ids) is
    // a set of doc_ids, so nIds bounds them all — the separate
    // exact-edge and candidate count jobs are gone (optimization round;
    // a hint is still only attached when the PROVEN bound fits
    // broadcastIdLimit, so the at-scale no-unguarded-broadcast invariant
    // is unchanged — the bound is conservative: a 10^12-doc corpus
    // falls back to planner-chosen shuffle joins exactly as before).
    val (extracted, Some(nIds)) = resolveIdCollisionsCounted(extracted00, cfg)
    val broadcastIdSets = nIds <= cfg.broadcastIdLimit
    val exactEdges = shared(store.stage("exact_edges", Seq("extract")) {
      exactDupEdges(extracted)
    })
    // reps is NOT persisted on the broadcast path (optimization round):
    // it is ~the whole fat extracted frame again, and caching it
    // duplicated ~0.6 GB of cache write+read traffic at 375k docs on a
    // host where memory bandwidth IS the 32-thread wall. Its two
    // consumers (signatures, substring pass) recompute it as a
    // map-side anti-join over the CACHED extract against the slim
    // persisted dup-edge frame — two cheap broadcast builds instead of
    // a second fat cache. On the at-scale SHUFFLE fallback (dup ids
    // past broadcastIdLimit) the persist stays: there, recomputation
    // would repeat a corpus-sized exchange per consumer. (With a
    // parquet store the stage materialises for resume either way.)
    val repsStage = store.stage("reps", Seq("extract")) {
      exactDupReps(extracted, exactEdges, broadcastIdSets)
    }
    val reps = if (broadcastIdSets) repsStage else shared(repsStage)
    // slim to what downstream stages read: banding needs the signatures,
    // verify needs shingles — carrying text/norm/url through the CPU
    // repartition and the band exchanges would multiply shuffle volume
    // for nothing (text+norm ≈ 2× the tokens+shingles bytes, measured)
    val sigs = shared(store.stage("signatures", Seq("reps")) {
      val tfd = reps.select("doc_id", "tf", "shingles")
      applySignatures(tfd, fitCorpusStats(tfd, cfg), cfg)
        .select(col("doc_id"), col("minhash"), col("simhash"), col("shingles"))
    })
    // shared: verifyPairs reads the pair set three times (two member-id
    // projections + the join itself) — without a cut the whole band
    // DAG would re-execute per consumer
    val cands = shared(store.stage("candidates", Seq("signatures")) {
      candidates(sigs, cfg)
    })
    // candidate-member ids are doc_ids, so nIds bounds them: the
    // separate pair-count job is gone; the first consumer (the member
    // broadcast build / semi-join) materialises the cands cache instead.
    val verified = store.stage("verified", Seq("candidates", "signatures")) {
      verifyPairs(cands, sigs, cfg, broadcastIdSets).select($"a", $"b")
        .union(simhashEdges(sigs, cfg).select($"a", $"b"))
    }
    val substrEdges = store.stage("substr_edges", Seq("reps")) {
      SuffixArrayStage.substringEdges(reps, "doc_id", "norm",
        cfg.substrMinRun, broadcastIdLimit = cfg.broadcastIdLimit,
        broadcastMembers = Some(broadcastIdSets))
    }
    val edgesAll = exactEdges.select("a", "b")
      .union(verified.select("a", "b"))
      .union(substrEdges.select("a", "b"))
    // materialise the edge list once: CC consumes it multiple times
    // (count, iterate/union-find) and the final join replays the labels
    // — without a cut here the whole candidate DAG re-executes per
    // consumer (measured 3-4× full recomputes per run)
    val edges = store match {
      case _: EphemeralStore => edgesAll.localCheckpoint()
      case _ => store.stage("edges",
        Seq("exact_edges", "verified", "substr_edges")) { edgesAll }
    }
    val labels = store.stage("clusters", Seq("edges")) {
      ConnectedComponents.run(edges)
    }
    extracted.select($"url", $"doc_id")
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce($"comp", $"doc_id"))
      .select($"url", $"doc_id", $"cluster")
  }
}
