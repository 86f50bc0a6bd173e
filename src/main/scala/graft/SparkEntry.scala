package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.data.{SyntheticPages, SyntheticVectors}
import graft.hash.HashFunctions
import graft.ops.{Multimodal, TrainingDataOps}
import graft.text.TextKernel
import graft.verify.Measures

/**
 * Driver contract (SURVEY §7.2): one `queries` entry per implemented
 * operator; `oracleSql` gives the DuckDB-equivalent ANSI SQL over the
 * same parquet tables. Column names and float rounding (6dp) are kept
 * identical on both sides because the driver hashes values after
 * sorting columns by name.
 */
object SparkEntry {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
  private def lineitem(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/lineitem.parquet")
  private def orders(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
  private def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")

  /** documents.text is already space-normalised lowercase; whitespace
    * split matches DuckDB's string_split exactly. */
  private val toks: Column = split(col("text"), " ")

  /** Hashed-tf doc vector as (term, weight) entries — the shared input
    * of the three R3/R4 projection goldens (q_random_proj, q_rri,
    * q_sparse_proj); one definition so a feature-width or field-name
    * change cannot silently desynchronise them. */
  private def hashedTfEntries: Column = transform(
    graft.hash.HashFunctions.hashedTf(
      graft.text.TextKernel.tokenize(col("text")), 1 << 18),
    e => struct(e.getField("term").as("term"),
      e.getField("cnt").cast("double").as("weight")))

  /** 5-token string shingles (distinct), mirroring TextKernel.shingles
    * semantics but string-valued so DuckDB can reproduce them. */
  private def shingleStrs(t: Column, w: Int = 5): Column =
    array_distinct(
      when(size(t) >= w,
        transform(sequence(lit(0), size(t) - w),
          i => concat_ws(" ", slice(t, i + 1, lit(w)))))
        .otherwise(array(concat_ws(" ", t))))

  /** Pages-shaped view of the documents table for the dedup pipeline. */
  private def docsAsPages(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      concat(lit("doc://"), col("doc_id")).as("url"), col("text"))

  /** Pinned kernel-fixture corpus (the reference's train set,
    * `/root/reference/vectorisers_test.go:11-27`) — inputs for the
    * golden-signature queries, whose oracles are literal tables. */
  private def fixturePages(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      "fix:0" -> "The quick brown fox jumped over the. Lazy dog",
      "fix:1" -> "the brown Cat sat on the mat",
      "fix:2" -> "the little dog laughed to see such fun",
      "fix:3" -> "laughing cow",
      "fix:4" -> "the cow ran around the dog",
      "fix:5" -> "spoon dish and plate").toDF("url", "text")
  }

  /** The reference's 6×4 dim-reduction fixture matrix
    * (`/root/reference/dimreduction_test.go:21-29`) in doc-row sparse
    * layout: 4 docs, terms 0..5. */
  private def refMatrixDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    val m = Array(
      Array(1.0, 3, 5, 2), Array(8.0, 1, 0, 0), Array(2.0, 1, 0, 1),
      Array(0.0, 0, 0, 0), Array(0.0, 0, 0, 1), Array(0.0, 1, 0, 0))
    (0 until 4).map { j =>
      (j.toLong, (0 until 6).flatMap(t =>
        if (m(t)(j) != 0.0) Some((t.toLong, m(t)(j))) else None))
    }.toDF("doc_id", "raw").select(col("doc_id"),
      transform(col("raw"), e => struct(
        e.getField("_1").as("term"),
        e.getField("_2").as("weight"))).as("entries"))
  }

  /** Pinned LDA fixture: 30 docs over a 20-word vocab, two planted
    * 10-word topic blocks; partitions pinned so the SCVB0 fit is
    * bit-identical across sessions (see LdaConfig.partitions). */
  private def ldaFixture(s: SparkSession): (DataFrame, graft.lda.LdaConfig) = {
    import s.implicits._
    import graft.hash.HashKernels.mix64
    val vocab = 20
    val rows = (0 until 30).map { d =>
      val topic = d % 2
      val counts = new Array[Int](vocab)
      for (t <- 0 until 25) {
        val u = (mix64(d * 100003L + t) >>> 11) * 1.1102230246251565e-16
        counts(topic * 10 + (u * 10).toInt) += 1
      }
      (d.toLong, counts.zipWithIndex.filter(_._1 > 0)
        .map { case (c, w) => (w.toLong, c.toDouble) }.toSeq)
    }
    val df = rows.toDF("doc_id", "raw").select(col("doc_id"),
      transform(col("raw"), e => struct(
        e.getField("_1").as("term"),
        e.getField("_2").as("weight"))).as("entries"))
    (df, graft.lda.LdaConfig(k = 2, vocab = vocab, iterations = 10,
      transformationPasses = 10, seed = 7, partitions = 2))
  }

  /** Synthetic pages + construction-truth pairs for the e2e coverage
    * queries (deterministic; 300 base docs → 15 exact / 15 near / 6
    * substr planted pairs — the recall fixture of PipelineSpec). */
  private def syntheticTruth(s: SparkSession): (DataFrame, DataFrame) =
    SyntheticPages.generate(s, 300)

  /** Flagship: full dedup pipeline on sf0.001 documents. */
  def entry(spark: SparkSession): DataFrame =
    DedupPipeline.run(docsAsPages(spark, "/root/testdata/sf0.001"), DedupConfig())

  /** Release every cache a query left behind: Dataset persists go
    * through the session CacheManager (`catalog.clearCache`), then any
    * remaining persisted RDDs are dropped directly (localCheckpoint
    * blocks and model-held components are not CacheManager entries).
    * Verify/Bench call this AFTER each query's action so a 39-query
    * session ends with zero retained RDDs — a leaked cache (e.g.
    * q_jaccard_near's shared shingle frame, or a fitted model's
    * persisted components) otherwise accumulates across queries and
    * pressures the very memory bandwidth the bench measures. Spec'd:
    * Round5CacheSpec asserts `getPersistentRDDs.isEmpty` after the
    * full query map. */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- text kernel / stats (SURVEY P2-P4, A7) ----
    "q_token_stats" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"), size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"))),

    "q_bpe_tokens" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"), TrainingDataOps.bpeTokenCount(col("text")).as("n_bpe"))),

    // ---- exact dedup (hash-groupBy) ----
    "q_exact_dup" -> ((s, dir) => docs(s, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("canon_id"))),

    "q_fingerprint" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"), TrainingDataOps.fingerprint(col("text")).as("fp"))),

    // ---- tf / df / idf / tf-idf (SURVEY A2, A4, A5) ----
    "q_tf" -> ((s, dir) => docs(s, dir)
      .select(col("doc_id"), explode(toks).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))),

    "q_df" -> ((s, dir) => docs(s, dir)
      .select(explode(array_distinct(toks)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))),

    // n is computed IN-PLAN (one-row count aggregate, broadcast cross
    // join) — an eager d.count() at query-construction time was an
    // extra full scan outside the measured plan and broke against
    // streaming sources
    "q_idf" -> ((s, dir) => {
      val d = docs(s, dir)
      val nDf = d.agg(count(lit(1)).as("n"))
      d.select(explode(array_distinct(toks)).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDf))
        .select(col("term"),
          round(log((lit(1.0) + col("n")) / (lit(1.0) + col("df"))), 6).as("idf"))
    }),

    "q_tfidf_top" -> ((s, dir) => {
      val d = docs(s, dir)
      val nDf = d.agg(count(lit(1)).as("n"))
      val tf = d.select(col("doc_id"), explode(toks).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val idf = d.select(explode(array_distinct(toks)).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDf))
        .select(col("term"),
          log((lit(1.0) + col("n")) / (lit(1.0) + col("df"))).as("idf"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("term"))
      tf.join(broadcast(idf), "term")
        .withColumn("tfidf", col("tf") * col("idf"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"),
          round(col("tfidf"), 6).as("tfidf"), col("rnk"))
    }),

    // ---- shingling / n-gram Jaccard near-dup (SURVEY P4, D10) ----
    // codegen'd shingle-count kernel (optimization round): byte-
    // identical windows/distinct/fallback semantics to shingleStrs —
    // the Column form dropped into interpreted higher-order eval per
    // window (ShingleKernelsSpec A/B asserts equality)
    "q_shingle_count" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      graft.hash.ShingleFunctions.stringShingleCount(toks, 5)
        .as("n_shingles"))),

    "q_jaccard_near" -> ((s, dir) => {
      // shingles are hashed to 60-bit ids (md5 prefix — SQL-portable,
      // the oracle applies the identical digest) BEFORE the pair join:
      // jaccard set algebra over long arrays instead of ~50-char string
      // arrays shrinks the pair exchange and the intersection compares
      // several-fold. The hashed frame is persisted because BOTH join
      // sides read it and the joins hash-partition on different keys
      // (a_id vs b_id), so Catalyst cannot reuse one exchange — without
      // the cache the window-slide shingling (the query's real cost)
      // runs twice. Measured 12.3 s → ~4 s at sf0.1/local[32].
      // both halves are codegen'd kernels since the optimization round:
      // string_shingles is byte-identical to the shingleStrs Column form
      // and md5_prefix60 is numerically identical to
      // conv(substring(md5(x),1,15),16,10).cast(long) — one digest call
      // per shingle, no hex/decimal string round-trip, no interpreted
      // per-element transform (ShingleKernelsSpec A/B)
      val sh = docs(s, dir).select(col("doc_id"),
        graft.hash.ShingleFunctions.md5Prefix60(
          graft.hash.ShingleFunctions.stringShingles(toks, 5)).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // equi-join on generated offsets (scalable window pairing — no
      // nested-loop range join). The offsets are exploded over BARE IDS
      // and the shingle arrays joined in once per side afterwards — the
      // earlier form exploded 25 copies of every array through the
      // shuffle (25× the exchange bytes, 6.8 s of the round-1 bench)
      val pairs = docs(s, dir).select(col("doc_id").as("b_id"))
        .withColumn("d", explode(sequence(lit(1), lit(25))))
        .select(col("b_id"), (col("b_id") - col("d")).as("a_id"))
      pairs
        .join(sh.toDF("a_id", "sha"), "a_id")
        .join(sh.toDF("b_id", "shb"), "b_id")
        .withColumn("jac", round(
          graft.verify.VectorFunctions.jaccardLongK(col("sha"), col("shb")), 6))
        .filter(col("jac") >= 0.5)
        .select(col("a_id"), col("b_id"), col("jac"))
    }),

    // ---- vocabulary fit (A1, first-appearance order) ----
    "q_vocab" -> ((s, dir) => graft.tfidf.Vocabulary.fit(
      docs(s, dir), col("doc_id"), toks)),

    // ---- distance measures over embedding pairs (D3, D7, D8) ----
    "q_measures" -> ((s, dir) => {
      val e = embeddings(s, dir)
        .select(col("vec_id"), transform(col("embedding"),
          x => x.cast("double")).as("v"))
      val a = e.toDF("a_id", "va")
      val b = e.toDF("b_id", "vb").withColumn("a_id", col("b_id") - 1)
      a.join(b, "a_id").select(col("a_id"), col("b_id"),
        round(Measures.euclidean(col("va"), col("vb")), 6).as("euclid"),
        round(Measures.manhattan(col("va"), col("vb")), 6).as("manhattan"),
        round(Measures.cosineDense(col("va"), col("vb")), 6).as("cos"),
        round(Measures.angularSim(col("va"), col("vb")), 6).as("angular_sim"))
    }),

    // ---- quality / language id ----
    "q_quality" -> ((s, dir) =>
      TrainingDataOps.qualityMetrics(docs(s, dir), col("text"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("mean_tok_len"), 6).as("mean_tok_len"),
          round(col("stop_ratio"), 6).as("stop_ratio"),
          round(col("alpha_ratio"), 6).as("alpha_ratio"))),

    "q_langid" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"), TrainingDataOps.langId(col("text")).as("lang_guess"))),

    // ---- multimodal binary plumbing ----
    "q_multimodal_meta" -> ((s, dir) => Multimodal.payloadMeta(
      docs(s, dir).withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload")),

    // ---- embeddings: brute-force ANN + norms (SURVEY D1/H7) ----
    "q_emb_norm" -> ((s, dir) => embeddings(s, dir).select(
      col("vec_id"),
      round(Measures.l2norm(
        transform(col("embedding"), x => x.cast("double"))), 6).as("l2"))),

    "q_ann_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      TrainingDataOps.bruteForceTopK(
        e, "vec_id", "embedding", e.filter(col("vec_id") < 50), 5)
    }),

    // ---- generic SQL operators over TPC-H-ish tables (SURVEY §2.7) ----
    "q1_agg" -> ((s, dir) => lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"))),

    // shuffled-hash hint (optimization round, guide §3.1): the planner
    // defaulted to sort-merge — two full sorts for a join whose build
    // side is a few thousand rows per partition at ANY scale (orders :
    // lineitem is ~1:4; AQE skew-join stays on as the backstop).
    // Results identical, strategy only.
    "q_join_pri" -> ((s, dir) => lineitem(s, dir)
      .join(orders(s, dir).hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), sum(col("l_quantity")).as("sum_qty"))),

    "q_events_hourly" -> ((s, dir) =>
      graft.streaming.EventWindows.tumbling(events(s, dir), "1 hour")),

    "q_events_daily" -> ((s, dir) => events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 6).as("min_v"),
        round(max(col("value")), 6).as("max_v"))),

    // ---- hash kernels: golden signatures over the pinned fixture
    // corpus (deterministic counter-based randomness → bit-stable across
    // runs/machines; oracles are literal tables) ----
    "q_minhash_sig" -> ((s, dir) => {
      val ext = DedupPipeline.extract(fixturePages(s), DedupConfig())
      ext.select(col("url"),
        HashFunctions.minhash128(col("shingles")).as("sig"))
        .select(col("url"),
          element_at(col("sig"), 1).as("sig_first"),
          element_at(col("sig"), 128).as("sig_last"),
          md5(concat_ws(",",
            transform(col("sig"), x => x.cast("string")))).as("sig_md5"))
    }),

    "q_simhash" -> ((s, dir) => {
      val cfg = DedupConfig()
      // the 6-doc fixture trivially fits the broadcast limit
      val ext = DedupPipeline.extract(fixturePages(s), cfg)
      val reps = DedupPipeline.exactDupReps(ext,
        DedupPipeline.exactDupEdges(ext), broadcastDups = true)
      DedupPipeline.signatures(reps, cfg).select(col("url"), col("simhash"))
    }),

    "q_random_proj" -> ((s, dir) => {
      // R3 JL projection of the hashed-tf doc vector, k=4 (golden)
      val entries = hashedTfEntries
      fixturePages(s)
        .select(col("url"), HashFunctions.randomProject(entries, 4).as("p"))
        .select(col("url"),
          round(element_at(col("p"), 1), 6).as("p1"),
          round(element_at(col("p"), 2), 6).as("p2"),
          round(element_at(col("p"), 3), 6).as("p3"),
          round(element_at(col("p"), 4), 6).as("p4"))
    }),

    // ---- e2e coverage gates: construction-truth pairs from the
    // deterministic synthetic generator; the oracle states what MUST be
    // found (recall 1.0 at this config, the north-rule fixture) and is
    // derived from the generator's url scheme, not from this pipeline ----
    "q_dedup_clusters" -> ((s, dir) => {
      val (pages, truth) = syntheticTruth(s)
      val labels = DedupPipeline.run(pages, DedupConfig())
      val la = labels.select(col("url").as("urlA"), col("cluster").as("ca"))
      val lb = labels.select(col("url").as("urlB"), col("cluster").as("cb"))
      truth.join(la, "urlA").join(lb, "urlB")
        .select(col("urlA").as("url_a"), col("urlB").as("url_b"), col("kind"),
          (col("ca") === col("cb")).as("found"))
    }),

    // LSH stage CONTRACT per planted near pair: any pair with exact
    // shingle-Jaccard ≥ τ MUST be surfaced by the LSH stage — via
    // MinHash banding (32 bands × 4 rows → miss prob (1−τ⁴)³² ≈ 3e-30
    // at RAW Jaccard τ=0.8; df-conditioned shingle filtering can lower
    // the BANDED Jaccard of boilerplate-heavy pairs) or via the
    // Hamming-verified SimHash sorted-neighborhood edges that cover
    // exactly that boilerplate case. Pairs edited below τ are vacuously
    // ok — they are the substring stage's job (see q_dedup_clusters)
    "q_lsh_candidates" -> ((s, dir) => {
      val cfg = DedupConfig()
      val (pages, truth) = syntheticTruth(s)
      val ext = DedupPipeline.extract(pages, cfg)
      // fixture-sized: fits the broadcast limit
      val reps = DedupPipeline.exactDupReps(ext,
        DedupPipeline.exactDupEdges(ext), broadcastDups = true)
      val sigs = DedupPipeline.signatures(reps, cfg)
      val cands = DedupPipeline.candidates(sigs, cfg)
        .union(DedupPipeline.simhashEdges(sigs, cfg).select(col("a"), col("b")))
        .distinct() // a pair may surface via both mechanisms
      val ids = ext.select(col("url"), col("doc_id"), col("shingles"),
        col("text_hash"))
      truth.filter(col("kind") === "near")
        .join(ids.toDF("urlA", "ida", "sha", "ha"), "urlA")
        .join(ids.toDF("urlB", "idb", "shb", "hb"), "urlB")
        .withColumn("a", least(col("ida"), col("idb")))
        .withColumn("b", greatest(col("ida"), col("idb")))
        .join(cands.withColumn("hit", lit(true)), Seq("a", "b"), "left")
        .select(col("urlA").as("url_a"), col("urlB").as("url_b"),
          (coalesce(col("hit"), lit(false)) ||
            // below-τ pairs are the substring stage's job; pairs whose
            // edit degenerated to IDENTICAL extracted text are the
            // exact stage's job (collapsed before LSH ever runs) —
            // both vacuously satisfy the LSH contract
            graft.verify.VectorFunctions.jaccardLongK(
              col("sha"), col("shb")) < cfg.tau ||
            col("ha") === col("hb"))
            .as("contract_ok"))
    }),

    "q_substr_pairs" -> ((s, dir) => {
      val cfg = DedupConfig()
      val (pages, truth) = syntheticTruth(s)
      val ext = DedupPipeline.extract(pages, cfg)
      // fixture-sized member set: skip the stage's pair-count job
      // (broadcast semi-join is result-identical)
      val edges = graft.substr.SuffixArrayStage.substringEdges(
        ext, "doc_id", "norm", cfg.substrMinRun,
        broadcastMembers = Some(true))
      val ids = ext.select(col("url"), col("doc_id"))
      truth.filter(col("kind") === "substr")
        .join(ids.toDF("urlA", "ida"), "urlA")
        .join(ids.toDF("urlB", "idb"), "urlB")
        .withColumn("a", least(col("ida"), col("idb")))
        .withColumn("b", greatest(col("ida"), col("idb")))
        .join(edges.distinct().withColumn("hit", lit(true)), Seq("a", "b"), "left")
        .select(col("urlA").as("url_a"), col("urlB").as("url_b"),
          coalesce(col("hit"), lit(false)).as("found"))
    }),

    // ---- ANN-LSH over planted partner pairs (true nearest neighbor of
    // id i is i XOR 1 by construction → generate_series oracle) ----
    "q_ann_lsh" -> ((s, dir) => {
      val vecs = SyntheticVectors.generate(s, 50)
      TrainingDataOps.lshTopK(vecs, "vec_id", "embedding", vecs, 1)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // ---- ANN-IVF (coarse-quantizer scale path) over the same planted
    // partner construction: probing 2 of 8 cells must still rank the
    // partner top-1 → generate_series oracle ----
    "q_ann_ivf" -> ((s, dir) => {
      val vecs = SyntheticVectors.generate(s, 50)
      graft.ops.Ivf.ivfTopK(vecs, "vec_id", "embedding", vecs, 1,
          nCells = 8, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // ---- embedding-cosine near-dup pairs (dedup family, embedding
    // space): planted partners (2j, 2j+1) have cos ≈ 0.997 ≥ τ=0.9,
    // cross-cluster cos ≈ N(0, 1/64) ≪ τ → the found set must be
    // EXACTLY the planted pairs (no misses, no false positives) ----
    "q_cos_near_dup" -> ((s, dir) => {
      val vecs = SyntheticVectors.generate(s, 75)
      TrainingDataOps.cosineNearDup(vecs, "vec_id", "embedding", 0.9)
        .select(col("a_id"), col("b_id"))
    }),

    // ---- deterministic content-keyed train/val/test split: same doc →
    // same split on any run, cluster, or re-ingestion; md5 is
    // SQL-portable so the oracle mirrors the arithmetic verbatim ----
    "q_split" -> ((s, dir) => docs(s, dir).select(
      col("doc_id"),
      TrainingDataOps.hashSplitBucket(col("text"), 10).as("bucket"))
      .withColumn("split",
        when(col("bucket") < 8, lit("train"))
          .when(col("bucket") === 8, lit("val"))
          .otherwise(lit("test")))),

    // ---- benchmark decontamination: docs sharing an 8-token window
    // with the (literal) benchmark set are flagged with their distinct
    // hit count; the oracle re-derives the flag with substring search
    // over the single-space-tokenised text ----
    "q_decontam" -> ((s, dir) => {
      import s.implicits._
      val bench = decontamBench.toDF("bench_text")
      TrainingDataOps.decontaminate(docs(s, dir), "doc_id", "text",
        bench, "bench_text", n = 8)
    }),

    // ---- LSH Forest prefix expansion (SURVEY H5): planted partner of
    // fingerprint i is i XOR 1 (1-2 flipped bits) → top-1 must be the
    // partner; generate_series oracle, same pattern as q_ann_lsh ----
    "q_lsh_forest" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col => c}
      // data-sized slices (200 rows), not session width: the prefix
      // expansion's log-rounds each inherit the input's partitioning,
      // so near-empty full-width slices multiply scheduling floor
      // one shared base expression: odd rows differ from their even
      // partner by EXACTLY the flipped-bit XOR — a drifted copy of the
      // base in one branch would silently break the partner-at-
      // Hamming-1 construction the oracle depends on
      val pair = floor(c("id") / 2).cast("long").cast("string")
      val base = HashFunctions.murmur3go(concat(lit("lf:"), pair))
        .bitwiseXOR(shiftleft(
          HashFunctions.murmur3go(concat(lit("lg:"), pair)), 32))
      val sigs = s.range(0, 200, 1, 2).select(c("id").as("doc_id"),
        when(c("id") % 2 === 0, base)
          .otherwise(base.bitwiseXOR(call_function("shiftleft", lit(1L),
            pmod(c("id") * 7, lit(64)).cast("int"))))
          .as("sig"))
      graft.lsh.LshForest.searchTopK(sigs, "doc_id",
          sigs.filter(c("doc_id") < 100), "doc_id", "sig", 1)
        .select(c("query_id"), c("neighbor_id"), c("rank"))
    }),

    // ---- dimensionality reduction / topic models (SURVEY R1/R2/R4/R5):
    // deterministic fits over pinned fixtures; oracles are golden
    // literal tables (same pattern as the hash-kernel goldens) ----
    "q_svd" -> ((s, dir) => {
      val (_, out) = graft.dimred.TruncatedSVD.fitTransform(
        refMatrixDocs(s), "doc_id", "entries", d = 6, k = 2)
      out.select(col("doc_id"),
        round(element_at(col("proj"), 1), 6).as("p1"),
        round(element_at(col("proj"), 2), 6).as("p2"))
    }),

    "q_pca" -> ((s, dir) => {
      val (_, out) = graft.dimred.PCA.fitTransform(
        refMatrixDocs(s), "doc_id", "entries", d = 6, k = 2)
      out.select(col("doc_id"),
        round(element_at(col("proj"), 1), 6).as("p1"),
        round(element_at(col("proj"), 2), 6).as("p2"))
    }),

    "q_rri" -> ((s, dir) => {
      // Random Indexing (doc-based, k=8) over the fixture corpus;
      // term space is the hashed feature space (no dense vocab needed)
      val entries = hashedTfEntries
      val docs = fixturePages(s)
        .select(xxhash64(col("url")).as("doc_id"), col("url"), entries.as("entries"))
      val (_, out) = graft.dimred.RandomIndexing.fitTransform(
        docs, "doc_id", "entries",
        graft.dimred.RandomIndexing.RiConfig(k = 8, density = 0.25))
      docs.select(col("doc_id"), col("url"))
        .join(out, "doc_id")
        .select(col("url"),
          round(element_at(col("proj"), 1), 6).as("r1"),
          round(element_at(col("proj"), 2), 6).as("r2"),
          round(element_at(col("proj"), 3), 6).as("r3"),
          round(element_at(col("proj"), 4), 6).as("r4"))
    }),

    "q_sparse_proj" -> ((s, dir) => {
      // Achlioptas sparse-density JL projection (the reference's own
      // RandomProjection distribution), per-row codegen'd
      val entries = hashedTfEntries
      fixturePages(s).select(col("url"),
        HashFunctions.sparseRandomProject(entries, 4, 0.5).as("p"))
        .select(col("url"),
          round(element_at(col("p"), 1), 6).as("p1"),
          round(element_at(col("p"), 2), 6).as("p2"),
          round(element_at(col("p"), 3), 6).as("p3"),
          round(element_at(col("p"), 4), 6).as("p4"))
    }),

    "q_lda" -> ((s, dir) => {
      val (pages, cfg) = ldaFixture(s)
      val (_, out) = graft.lda.Lda.fitTransform(pages, "doc_id", "entries", cfg)
      out.select(col("doc_id"),
        round(element_at(col("theta"), 1), 6).as("t1"),
        round(element_at(col("theta"), 2), 6).as("t2"))
    }),

    // scalar face of the batched decode (feature arrays are unhashable
    // for the driver's pandas compare; the array plumbing is covered by
    // MultimodalSpec) — byte stats are exact-int/rounded so the DuckDB
    // oracle can reproduce them from the text bytes
    "q_multimodal_features" -> ((s, dir) => Multimodal.extractFeatures(
      docs(s, dir).withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload").toDF()
      .select(col("docId").as("doc_id"), col("byteLen").as("byte_len"),
        col("byteSum").as("byte_sum"),
        round(col("entropy"), 6).as("entropy"),
        size(col("feature")).as("feat_dim")))
  )

  def oracleSql: Map[String, String] = {
    val tokSql = "string_split(text, ' ')"
    val shingleSql =
      s"""CASE WHEN len($tokSql) >= 5
         | THEN list_distinct(list_transform(generate_series(1, len($tokSql)-4),
         |        i -> array_to_string(($tokSql)[i:i+4], ' ')))
         | ELSE [text] END""".stripMargin.replace("\n", "")
    val stopList = TrainingDataOps.qualityStopWords
      .map("'" + _ + "'").mkString("[", ",", "]")
    def markerList(lang: String) = TrainingDataOps.langMarkers(lang)
      .map("'" + _ + "'").mkString("[", ",", "]")
    val cosSql =
      """list_sum(list_transform(generate_series(1, len(q.qv)),
        | i -> q.qv[i]::DOUBLE * c.cv[i]::DOUBLE))
        | / (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))
        |  * sqrt(list_sum(list_transform(c.cv, x -> x::DOUBLE * x::DOUBLE))))"""
        .stripMargin.replace("\n", "")

    Map(
      "q_token_stats" ->
        s"""SELECT doc_id, len($tokSql) AS n_tokens,
           | len(list_distinct($tokSql)) AS n_distinct FROM documents"""
          .stripMargin.replace("\n", ""),

      "q_bpe_tokens" ->
        """SELECT doc_id, len(regexp_extract_all(text,
          | '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe FROM documents"""
          .stripMargin.replace("\n", ""),

      "q_exact_dup" ->
        """SELECT md5(text) AS text_hash, count(*) AS cnt,
          | min(doc_id) AS canon_id FROM documents GROUP BY 1"""
          .stripMargin.replace("\n", ""),

      "q_fingerprint" ->
        (s"SELECT doc_id, md5(array_to_string(list_filter($tokSql, " +
          "x -> x <> ''), ' ')) AS fp FROM documents"),

      "q_tf" ->
        s"""SELECT doc_id, term, count(*) AS tf FROM
           | (SELECT doc_id, unnest($tokSql) AS term FROM documents)
           | GROUP BY doc_id, term""".stripMargin.replace("\n", ""),

      "q_df" ->
        s"""SELECT term, count(*) AS df FROM
           | (SELECT doc_id, unnest(list_distinct($tokSql)) AS term FROM documents)
           | GROUP BY term""".stripMargin.replace("\n", ""),

      "q_idf" ->
        s"""SELECT term, round(ln((1.0 + (SELECT count(*) FROM documents))
           | / (1.0 + count(*))), 6) AS idf FROM
           | (SELECT doc_id, unnest(list_distinct($tokSql)) AS term FROM documents)
           | GROUP BY term""".stripMargin.replace("\n", ""),

      "q_tfidf_top" ->
        s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf FROM
           |   (SELECT doc_id, unnest($tokSql) AS term FROM documents)
           |   GROUP BY doc_id, term),
           | idf AS (SELECT term, ln((1.0 + (SELECT count(*) FROM documents))
           |   / (1.0 + count(*))) AS idf FROM
           |   (SELECT doc_id, unnest(list_distinct($tokSql)) AS term FROM documents)
           |   GROUP BY term),
           | sc AS (SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS tfidf,
           |   row_number() OVER (PARTITION BY tf.doc_id
           |     ORDER BY tf.tf * idf.idf DESC, tf.term) AS rnk
           |   FROM tf JOIN idf USING (term))
           | SELECT doc_id, term, round(tfidf, 6) AS tfidf, rnk
           | FROM sc WHERE rnk <= 3""".stripMargin.replace("\n", ""),

      "q_shingle_count" ->
        s"SELECT doc_id, len($shingleSql) AS n_shingles FROM documents",

      "q_jaccard_near" ->
        s"""WITH sh AS (SELECT doc_id, list_transform($shingleSql,
           |   x -> CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)) AS s
           |  FROM documents)
           | SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |  round(len(list_intersect(a.s, b.s))::DOUBLE
           |    / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
           | FROM sh a JOIN sh b
           |  ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
           | WHERE len(list_intersect(a.s, b.s))::DOUBLE
           |    / len(list_distinct(list_concat(a.s, b.s))) >= 0.5"""
          .stripMargin.replace("\n", ""),

      "q_vocab" ->
        s"""WITH tok AS (SELECT doc_id, $tokSql AS toks FROM documents),
           | pos AS (SELECT doc_id, i-1 AS p, toks[i] AS term FROM tok,
           |   LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)),
           | first AS (SELECT term, min(doc_id*1000000 + p) AS k FROM pos
           |   GROUP BY term)
           | SELECT term, row_number() OVER (ORDER BY k) - 1 AS id
           | FROM first""".stripMargin.replace("\n", ""),

      "q_measures" ->
        """WITH e AS (SELECT vec_id, embedding FROM embeddings),
          | p AS (SELECT x.vec_id AS a_id, y.vec_id AS b_id,
          |   x.embedding AS ea, y.embedding AS eb
          |   FROM e x JOIN e y ON y.vec_id = x.vec_id + 1)
          | SELECT a_id, b_id,
          |  round(sqrt(list_sum(list_transform(generate_series(1, len(ea)),
          |    i -> (ea[i]::DOUBLE - eb[i]::DOUBLE)
          |       * (ea[i]::DOUBLE - eb[i]::DOUBLE)))), 6) AS euclid,
          |  round(list_sum(list_transform(generate_series(1, len(ea)),
          |    i -> abs(ea[i]::DOUBLE - eb[i]::DOUBLE))), 6) AS manhattan,
          |  round(list_sum(list_transform(generate_series(1, len(ea)),
          |    i -> ea[i]::DOUBLE * eb[i]::DOUBLE))
          |   / (sqrt(list_sum(list_transform(ea, x -> x::DOUBLE * x::DOUBLE)))
          |    * sqrt(list_sum(list_transform(eb, x -> x::DOUBLE * x::DOUBLE)))),
          |    6) AS cos,
          |  round(1.0 - acos(greatest(least(
          |    list_sum(list_transform(generate_series(1, len(ea)),
          |      i -> ea[i]::DOUBLE * eb[i]::DOUBLE))
          |   / (sqrt(list_sum(list_transform(ea, x -> x::DOUBLE * x::DOUBLE)))
          |    * sqrt(list_sum(list_transform(eb, x -> x::DOUBLE * x::DOUBLE)))),
          |    1.0), -1.0)) / pi(), 6) AS angular_sim
          | FROM p""".stripMargin.replace("\n", ""),

      "q_quality" ->
        s"""SELECT doc_id, len($tokSql) AS n_tokens,
           | round(list_sum(list_transform($tokSql, x -> len(x)))::DOUBLE
           |   / len($tokSql), 6) AS mean_tok_len,
           | round(len(list_filter($tokSql, x -> list_contains($stopList, x)))::DOUBLE
           |   / len($tokSql), 6) AS stop_ratio,
           | round(len(regexp_replace(text, '[^a-z]', '', 'g'))::DOUBLE
           |   / len(text), 6) AS alpha_ratio
           | FROM documents""".stripMargin.replace("\n", ""),

      "q_langid" ->
        s"""WITH s AS (SELECT doc_id,
           | len(list_filter($tokSql, x -> list_contains(${markerList("de")}, x))) AS s_de,
           | len(list_filter($tokSql, x -> list_contains(${markerList("en")}, x))) AS s_en,
           | len(list_filter($tokSql, x -> list_contains(${markerList("es")}, x))) AS s_es,
           | len(list_filter($tokSql, x -> list_contains(${markerList("fr")}, x))) AS s_fr
           | FROM documents)
           | SELECT doc_id, CASE
           |  WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unk'
           |  WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
           |  WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
           |  WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
           |  ELSE 'fr' END AS lang_guess FROM s"""
          .stripMargin.replace("\n", ""),

      "q_multimodal_features" ->
        // text is pure ASCII [a-z0-9 ] (checked), so UTF-8 bytes == chars:
        // byte stats from per-char code points; entropy term order matches
        // the Scala histogram loop (ascending byte value) via list_sort
        """WITH c AS (SELECT doc_id, regexp_extract_all(text, '.') AS chars,
          |   octet_length(encode(text)) AS blen FROM documents)
          | SELECT doc_id, blen AS byte_len,
          |  list_sum(list_transform(chars, x -> unicode(x)))::BIGINT AS byte_sum,
          |  round(-list_sum(list_transform(list_sort(list_distinct(chars)),
          |    d -> (len(list_filter(chars, x -> x = d))::DOUBLE / blen)
          |       * ln(len(list_filter(chars, x -> x = d))::DOUBLE / blen))), 6)
          |    AS entropy,
          |  8 AS feat_dim
          | FROM c""".stripMargin.replace("\n", ""),

      "q_multimodal_meta" ->
        // DuckDB md5 takes VARCHAR only; payload is the UTF-8 of text,
        // so md5(text) hashes the identical bytes
        """SELECT doc_id, octet_length(encode(text)) AS payload_bytes,
          | md5(text) AS payload_md5 FROM documents"""
          .stripMargin.replace("\n", ""),

      "q_emb_norm" ->
        """SELECT vec_id, round(sqrt(list_sum(list_transform(embedding,
          | x -> x::DOUBLE * x::DOUBLE))), 6) AS l2 FROM embeddings"""
          .stripMargin.replace("\n", ""),

      "q_ann_topk" ->
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           |   WHERE vec_id < 50),
           | c AS (SELECT vec_id AS nid, embedding AS cv FROM embeddings),
           | sc AS (SELECT q.qid AS query_id, c.nid AS neighbor_id,
           |   row_number() OVER (PARTITION BY q.qid
           |     ORDER BY $cosSql DESC, c.nid) AS rank
           |   FROM q JOIN c ON q.qid <> c.nid)
           | SELECT query_id, neighbor_id, rank FROM sc WHERE rank <= 5"""
          .stripMargin.replace("\n", ""),

      "q1_agg" ->
        """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
          | count(*) AS n_rows, count(DISTINCT l_orderkey) AS n_orders
          | FROM lineitem GROUP BY l_returnflag, l_linestatus"""
          .stripMargin.replace("\n", ""),

      "q_join_pri" ->
        """SELECT o_orderpriority, count(*) AS n_lines,
          | sum(l_quantity) AS sum_qty
          | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          | GROUP BY o_orderpriority""".stripMargin.replace("\n", ""),

      "q_events_hourly" ->
        """SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
          | event_type, count(*) AS n,
          | round(min(value), 6) AS min_v, round(max(value), 6) AS max_v
          | FROM events GROUP BY 1, 2""".stripMargin.replace("\n", ""),

      "q_events_daily" ->
        """SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n,
          | round(min(value), 6) AS min_v, round(max(value), 6) AS max_v
          | FROM events GROUP BY event_type, date_trunc('day', ts)"""
          .stripMargin.replace("\n", ""),

      // ---- construction-truth oracles: what the pipeline MUST find,
      // expressed from the synthetic generator's url scheme (every
      // planted pair must co-cluster / be covered — recall 1.0) ----
      "q_dedup_clusters" ->
        """SELECT 'https://www.site'||j||'.example/p/'||j AS url_a,
          |  'https://www.site'||j||'.example/p/dupx'||j AS url_b,
          |  'exact' AS kind, true AS found FROM generate_series(0,14) t(j)
          | UNION ALL
          | SELECT 'https://www.site'||(15+j)||'.example/p/'||(15+j),
          |  'https://www.site'||j||'.example/p/dupn'||j, 'near', true
          |  FROM generate_series(0,14) t(j)
          | UNION ALL
          | SELECT 'https://www.site'||(30+j)||'.example/p/'||(30+j),
          |  'https://www.site'||j||'.example/p/dups'||j, 'substr', true
          |  FROM generate_series(0,5) t(j)""".stripMargin.replace("\n", ""),

      "q_lsh_candidates" ->
        """SELECT 'https://www.site'||(15+j)||'.example/p/'||(15+j) AS url_a,
          | 'https://www.site'||j||'.example/p/dupn'||j AS url_b,
          | true AS contract_ok FROM generate_series(0,14) t(j)"""
          .stripMargin.replace("\n", ""),

      "q_substr_pairs" ->
        """SELECT 'https://www.site'||(30+j)||'.example/p/'||(30+j) AS url_a,
          | 'https://www.site'||j||'.example/p/dups'||j AS url_b,
          | true AS found FROM generate_series(0,5) t(j)"""
          .stripMargin.replace("\n", ""),

      // planted-partner prefix-expansion search: partner of i is i XOR 1
      "q_lsh_forest" ->
        """SELECT i::BIGINT AS query_id,
          | (CASE WHEN i % 2 = 0 THEN i + 1 ELSE i - 1 END)::BIGINT AS neighbor_id,
          | 1 AS rank FROM generate_series(0, 99) t(i)"""
          .stripMargin.replace("\n", ""),

      // planted-partner ANN: true nearest neighbor of i is i XOR 1
      "q_ann_lsh" ->
        """SELECT i::BIGINT AS query_id,
          | (CASE WHEN i % 2 = 0 THEN i + 1 ELSE i - 1 END)::BIGINT AS neighbor_id,
          | 1 AS rank FROM generate_series(0, 99) t(i)"""
          .stripMargin.replace("\n", ""),

      // planted-partner ANN via IVF: same construction truth
      "q_ann_ivf" ->
        """SELECT i::BIGINT AS query_id,
          | (CASE WHEN i % 2 = 0 THEN i + 1 ELSE i - 1 END)::BIGINT AS neighbor_id,
          | 1 AS rank FROM generate_series(0, 99) t(i)"""
          .stripMargin.replace("\n", ""),

      // planted near-dup pairs: exactly (2j, 2j+1)
      "q_cos_near_dup" ->
        """SELECT (2*j)::BIGINT AS a_id, (2*j+1)::BIGINT AS b_id
          | FROM generate_series(0, 74) t(j)"""
          .stripMargin.replace("\n", ""),

      "q_split" ->
        """SELECT doc_id,
          | CAST(concat('0x', substr(md5(text),1,8)) AS BIGINT) % 10 AS bucket,
          | CASE WHEN CAST(concat('0x', substr(md5(text),1,8)) AS BIGINT) % 10 < 8 THEN 'train'
          |      WHEN CAST(concat('0x', substr(md5(text),1,8)) AS BIGINT) % 10 = 8 THEN 'val'
          |      ELSE 'test' END AS split
          | FROM documents""".stripMargin.replace("\n", ""),

      "q_decontam" -> {
        val hits = decontamBench.map(g =>
          s"CASE WHEN strpos(' ' || text || ' ', ' $g ') > 0 " +
            "THEN 1 ELSE 0 END").mkString(" + ")
        val anyHit = decontamBench.map(g =>
          s"strpos(' ' || text || ' ', ' $g ') > 0").mkString(" OR ")
        s"SELECT doc_id, CAST($hits AS BIGINT) AS n_hits " +
          s"FROM documents WHERE $anyHit"
      }
    ) ++ goldenOracles
  }

  /** The literal benchmark set q_decontam guards against — fixed
    * 8-token windows drawn from the deterministic synthetic corpus so
    * the flag is non-trivial at the correctness SF (each bench row is
    * exactly one window; the operator itself shingles arbitrary-length
    * benchmark docs). */
  private val decontamBench: Seq[String] = Seq(
    "key agg row scan slow fast table value",
    "batch window vector hash fast part window the")

  /** Literal-table oracles for the deterministic hash-kernel queries
    * over the pinned fixture corpus. The values are goldens: computed
    * once from the counter-based kernels (bit-reproducible across
    * machines — no RNG state), then pinned here so the driver detects
    * any regression or nondeterminism. */
  private def goldenOracles: Map[String, String] = Map(
    "q_minhash_sig" -> GoldenFixtures.minhashSigSql,
    "q_simhash" -> GoldenFixtures.simhashSql,
    "q_random_proj" -> GoldenFixtures.randomProjSql,
    "q_svd" -> GoldenFixtures.svdSql,
    "q_pca" -> GoldenFixtures.pcaSql,
    "q_rri" -> GoldenFixtures.rriSql,
    "q_sparse_proj" -> GoldenFixtures.sparseProjSql,
    "q_lda" -> GoldenFixtures.ldaSql
  )
}
