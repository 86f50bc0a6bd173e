package graft.perfbench

import graft.{DedupConfig, DedupPipeline}
import graft.ckpt.Checkpoints
import graft.ops.IncrementalIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * The benchmark's JVM side: builds one workload's seeded inputs, runs a
 * closed loop of one caller against the program for a fixed window and
 * writes every sample, check and span as JSON. `perfbench/run.py` turns
 * that into the metrics.
 *
 * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *             --work <dir> --out <file>
 *        Main --gen-digest <workload> <seed>   (generator self-test)
 */
object Main {
  // Workload sizes. Chosen so one run (session, set-up, window) fits the
  // benchmark's per-run budget on 4 cores while each workload keeps its
  // defining shape; see perfbench/README.md.
  val WebMixSpec = Gen.WebMix(n = 22000)
  val FamiliesSpec = Gen.Families(nSingle = 2000, nFamilies = 1300, famMin = 4, famMax = 12)
  val ServeSpec = Gen.Serve(nIndex = 20000, batch = 2000, queries = 1000, rounds = 2)
  // The serving layout's default (64 buckets per band) is sized for web
  // scale: at these sizes it writes thousands of files per put and one
  // put outlasts a run. A 1000-query search touches every (band, bucket)
  // partition at any bucket count up to 64, so more than one bucket per
  // band only multiplies the files; with one, a put writes ~40.
  val ServeCfg: DedupConfig = DedupConfig(bandBuckets = 1)
  // Checked warm-up runs (batch) and episodes (index_serve) before the
  // window: per-call wall keeps falling for several calls while the JIT
  // compiles Spark's planner and the program's generated code.
  val BatchWarmups = 2
  val ServeWarmups = 3
  val Cores = 4
  val InputBuilds = 3
  val Workloads = Seq("web_mix", "dup_families", "index_serve")

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--gen-digest")) {
      println(genDigest(args(1), args(2).toLong)); return
    }
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val res = mutable.LinkedHashMap.empty[String, Any]
    res("workload") = workload
    res("seed") = opt("seed").toLong
    res("trace") = opt("trace").toInt
    res("seconds") = opt("seconds").toDouble
    val work = Paths.get(opt("work")).toAbsolutePath
    val spark = session(work)
    res("session_s") = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    res("env") = Map(
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "cores" -> Cores, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
    val listener = new Trace.Listener
    spark.sparkContext.addSparkListener(listener)
    try {
      val b = new Runner(spark, listener, res, opt("seed").toLong, opt("seconds").toDouble,
        opt("trace") == "1")
      workload match {
        case "index_serve" => b.serve()
        case w => b.batch(w)
      }
    } finally {
      res("peak_rss_mb") = peakRssMb()
      Files.write(Paths.get(opt("out")), Json(res).getBytes("UTF-8"))
      spark.stop()
    }
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", (2 * Cores).toString)
      .config("spark.default.parallelism", (2 * Cores).toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (1 << 20).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(s"spark.hadoop.fs.${MemFs.Scheme}.impl", classOf[MemFs].getName)
      // Spark keeps 100 generated classes by default; the calls then
      // evicted classes the next call needed, compiled them again
      // (Janino, then the JIT), and how much of that a sample paid
      // varied from JVM to JVM by a fifth
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // a removed shuffle's files are deleted before the cleaner reports
      // it, so Runner.quiesce can wait for the deletion to finish
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def genDigest(workload: String, seed: Long): String = workload match {
    case "web_mix" =>
      val s = WebMixSpec
      Gen.digest(Iterator.range(0, s.rows).map(Gen.webPage(seed, s, _)), Gen.webPairs(seed, s))
    case "dup_families" =>
      val s = FamiliesSpec
      val off = s.offsets(seed)
      Gen.digest(Iterator.range(0, off.last).map(Gen.familyPage(seed, s, off, _)),
        Gen.familyPairs(seed, s))
    case "index_serve" =>
      val s = ServeSpec
      val pages = Iterator.range(0, s.nIndex).map(Gen.indexPage(seed, _)) ++
        (1 to s.rounds).iterator.flatMap(r =>
          Iterator.range(0, s.batch).map(Gen.batchPage(seed, s, r, _)) ++
            Iterator.range(0, s.queries).map(Gen.queryPage(seed, s, r, _)))
      Gen.digest(pages, (1 to s.rounds).flatMap(Gen.queryPairs(seed, s, _)))
  }

  /** SHA-256 prefix of sorted (a, b) long pairs. */
  def digestPairs(pairs: Array[(Long, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(16)
    pairs.sorted.foreach { case (a, b) =>
      buf.clear(); buf.putLong(a).putLong(b); md.update(buf.array())
    }
    Gen.hex(md.digest().take(8))
  }
}

final class Runner(spark: SparkSession, listener: Trace.Listener,
                   res: mutable.LinkedHashMap[String, Any],
                  seed: Long, seconds: Double, traced: Boolean) {
  import Main._
  import spark.implicits._

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (now() - t0) / 1e9
  private val samples = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private val traces = mutable.ArrayBuffer.empty[Tracer]
  private val cleaner = new org.apache.spark.PerfbenchBus.CleanerWatch(spark.sparkContext)
  res("samples") = samples
  res("spans") = traces

  /** Collects garbage and waits until Spark's context cleaner has
    * deleted the shuffle files and blocks that collection released, so
    * no deletion runs inside the next timed call. Never timed. */
  private def quiesce(): Unit = cleaner.quiesce(quietMs = 100, maxMs = 5000)

  /** Clears what the previous sample left cached (the input survives: it
    * is a local checkpoint, not a cached Dataset) and quiesces, so every
    * sample starts from the same state. */
  private def reset(): Unit = {
    spark.catalog.clearCache()
    quiesce()
  }

  /** Runs `iter(0)`, `iter(1)`, ... while the next one is predicted, by
    * the median duration so far, to end inside the --seconds window; at
    * least `min` of them. */
  private def window(min: Int)(iter: Int => Unit): Unit = {
    val deadline = now() + (seconds * 1e9).toLong
    val took = mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (i < min || now() + Stats.median(took.toSeq) <= deadline) {
      val t0 = now()
      iter(i)
      took += (now() - t0).toDouble
      i += 1
    }
  }

  /** The program's time in the warm-up samples. Set-up time counts the
    * program's calls only, not the benchmark's own checks, copies and
    * collections around them. */
  private def warmupWall(): Double =
    samples.filter(_("kind").toString.startsWith("warmup"))
      .map(_.getOrElse("wall_s", 0.0).asInstanceOf[Double]).sum

  /** Runs `body`; an exception or a failed check marks the sample failed
    * and drops its timing. */
  private def sample(kind: String)(body: mutable.LinkedHashMap[String, Any] => Unit): Unit = {
    val s = mutable.LinkedHashMap[String, Any]("kind" -> kind, "ok" -> true)
    val (cpu0, jit0, gc0) = (cpuTime(), jitTime(), gcTime())
    try {
      body(s)
      // the JVM's CPU, JIT-compile and collection time over the sample,
      // checks included: a run whose code is still warming up shows here
      s("cpu_s") = cpuTime() - cpu0
      s("jit_s") = jitTime() - jit0
      s("gc_s") = gcTime() - gc0
    } catch {
      case NonFatal(e) =>
        s("ok") = false
        s("error") = (e.getClass.getName + ": " + e.getMessage).take(400)
    }
    if (s("ok") == false) s.remove("wall_s")
    samples += s
  }

  private def cpuTime(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  private def jitTime(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def gcTime(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  // ------------------------------------------------------------- batch

  def batch(workload: String): Unit = {
    val seed = this.seed // page closures must not capture this runner
    val (docs, pairs, make) = workload match {
      case "web_mix" =>
        val s = WebMixSpec
        res("input") = Map("docs" -> s.rows, "base_docs" -> s.n, "exact" -> s.nExact,
          "near" -> s.nNear, "substr" -> s.nSub, "boilerplate_frac" -> 0.05,
          "tokens" -> "40-119", "planted_pairs" -> (s.nExact + s.nNear + s.nSub))
        (s.rows, Gen.webPairs(seed, s),
          () => Gen.frame(spark, s.rows, 2 * Cores)(Gen.webPage(seed, s, _)))
      case "dup_families" =>
        val s = FamiliesSpec
        val off = s.offsets(seed)
        val pairs = Gen.familyPairs(seed, s)
        res("input") = Map("docs" -> off.last, "singletons" -> s.nSingle,
          "families" -> s.nFamilies, "family_docs" -> (off.last - s.nSingle),
          "family_size" -> s"${s.famMin}-${s.famMax}", "edits" -> "1-3",
          "tokens" -> "40-119 single, 80-159 family", "planted_pairs" -> pairs.length)
        (off.last, pairs,
          () => Gen.frame(spark, off.last, 2 * Cores)(Gen.familyPage(seed, s, off, _)))
    }
    val cfg = DedupConfig()
    // set-up: the input is built and materialised InputBuilds times (the
    // median counts), then BatchWarmups pipeline runs, checked like the
    // others, warm the JIT and Spark's codegen cache. A failed warm-up
    // run adds no time.
    val builds = mutable.ArrayBuffer.empty[Double]
    var pages: DataFrame = null
    (0 until InputBuilds).foreach { _ =>
      if (pages != null) Checkpoints.free(pages)
      val t0 = now(); pages = make(); builds += secs(t0)
    }
    res("input_build_s") = builds.toSeq
    val digests = mutable.LinkedHashSet.empty[String]
    (0 until BatchWarmups).foreach(_ => runBatch("warmup", pages, docs, pairs, cfg, None, digests))
    res("setup_s") = res("session_s").asInstanceOf[Double] +
      Stats.median(builds.toSeq) + warmupWall()

    window(if (traced) 2 else 1) { i =>
      val tr = if (traced && i % 2 == 1)
        Some(new Tracer(spark.sparkContext, listener, s"$workload-$seed-$i", "pipeline"))
      else None
      runBatch(if (tr.isDefined) "traced" else "timed", pages, docs, pairs, cfg, tr, digests)
      tr.foreach(traces += _)
    }
    res("digests") = digests.toSeq
  }

  private def runBatch(kind: String, pages: DataFrame, docs: Int, pairs: Seq[Gen.Pair],
                       cfg: DedupConfig, tr: Option[Tracer],
                       digests: mutable.LinkedHashSet[String]): Unit = {
    reset()
    sample(kind) { s =>
      val t0 = now()
      val out = tr match {
        case None => DedupPipeline.run(pages, cfg).localCheckpoint(true)
        case Some(t) =>
          val (o, d) = TracedDedup.run(pages, cfg, t)
          s("decisions") = Map("candidates" -> d.candidates, "verified" -> d.verified,
            "simhash_edges" -> d.simhashEdges, "substr_edges" -> d.substrEdges,
            "hot_shingles" -> d.hotShingles)
          o
      }
      val wall = secs(t0)
      try {
        val rows = out.select("url", "doc_id", "cluster").as[(String, Long, Long)].collect()
        tr.foreach(_.spans.last.rowsOut = rows.length.toLong)
        val cluster = rows.iterator.map(r => r._1 -> r._3).toMap
        val hit = pairs.count(p => cluster.get(p.a).exists(c => cluster.get(p.b).contains(c)))
        val recall = hit.toDouble / pairs.length
        val digest = digestPairs(rows.map(r => (r._2, r._3)))
        val sizes = rows.groupBy(_._3).valuesIterator.map(_.length)
        s("wall_s") = wall
        s("docs") = docs
        s("rows") = rows.length
        s("recall") = recall
        s("components") = sizes.count(_ > 1)
        s("digest") = digest
        digests += digest
        if (kind == "warmup") res("heap_retained_mb") = retainedHeapMb()
        if (rows.length != docs) fail(s, s"output has ${rows.length} rows for $docs docs")
        if (recall < 0.99) fail(s, f"pair recall $recall%.4f below 0.99")
        if (digests.size > 1) fail(s, s"cluster digest $digest differs from ${digests.head}")
      } finally Checkpoints.free(out)
    }
  }

  /** Heap in use after a full collection, taken once per run (at the end
    * of the checked warm-up) while its caches and output are still held:
    * the memory a run of the workload keeps. */
  private def retainedHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def fail(s: mutable.LinkedHashMap[String, Any], why: String): Unit = {
    s("ok") = false
    s("error") = why
  }

  // ------------------------------------------------------------- serving

  def serve(): Unit = {
    val s = ServeSpec
    val seed = this.seed // page closures must not capture this runner
    res("input") = Map("index_docs" -> s.nIndex, "batch_docs" -> s.batch,
      "query_docs" -> s.queries, "planted_queries" -> s.queries / 2,
      "rounds_per_episode" -> s.rounds, "tokens" -> "80-119",
      "band_buckets" -> ServeCfg.bandBuckets)
    type Inputs = (DataFrame, Seq[DataFrame], Seq[DataFrame])
    def build(): Inputs = (
      Gen.frame(spark, s.nIndex, 2 * Cores)(Gen.indexPage(seed, _)),
      (1 to s.rounds).map(r => Gen.frame(spark, s.batch, Cores)(Gen.batchPage(seed, s, r, _))),
      (1 to s.rounds).map(r => Gen.frame(spark, s.queries, Cores)(Gen.queryPage(seed, s, r, _))))
    def free(in: Inputs): Unit =
      (in._1 +: (in._2 ++ in._3)).foreach(Checkpoints.free)
    val builds = mutable.ArrayBuffer.empty[Double]
    var in: Inputs = null
    (0 until InputBuilds).foreach { _ =>
      if (in != null) free(in)
      val t0 = now(); in = build(); builds += secs(t0)
    }
    res("input_build_s") = builds.toSeq
    val (seedPages, batches, queries) = in
    val baseDir = "/index-base"
    val t0 = now()
    new IncrementalIndex(spark, MemFs.path(baseDir), ServeCfg).putBatch(seedPages, 0L)
    res("initial_put_s") = secs(t0)
    res("index_files") = MemFs.countFiles(baseDir)._1
    val planted = (1 to s.rounds).map(Gen.queryPairs(seed, s, _))
    val expected = mutable.HashMap.empty[Int, String]
    (0 until ServeWarmups).foreach(
      episode("warmup", _, baseDir, batches, queries, planted, expected, None))
    res("setup_s") = res("session_s").asInstanceOf[Double] +
      Stats.median(builds.toSeq) + res("initial_put_s").asInstanceOf[Double] + warmupWall()

    window(if (traced) 2 else 1) { i =>
      val tr = if (traced && i % 2 == 1)
        Some(new Tracer(spark.sparkContext, listener, s"index_serve-$seed-$i", "episode"))
      else None
      episode(if (tr.isDefined) "traced" else "timed", ServeWarmups + i, baseDir, batches, queries,
        planted, expected, tr)
      tr.foreach(traces += _)
    }
  }

  /** One episode: a fresh copy of the seeded index (in [[MemFs]]), then
    * `rounds` rounds of putBatch + search. Every put and search is one
    * sample. */
  private def episode(kind: String, ep: Int, baseDir: String, batches: Seq[DataFrame],
                      queries: Seq[DataFrame], planted: Seq[Seq[Gen.Pair]],
                      expected: mutable.HashMap[Int, String], tr: Option[Tracer]): Unit = {
    reset()
    val dir = s"/index-ep$ep"
    MemFs.copyTree(baseDir, dir)
    try {
      val idx = new IncrementalIndex(spark, MemFs.path(dir), ServeCfg)
      def timed[T](name: String)(f: => T): (T, Double) = {
        val t0 = now()
        val r = tr.fold(f)(_.span(name)(f))
        (r, secs(t0))
      }
      batches.indices.foreach { r =>
        quiesce()
        sample(s"$kind-put") { s =>
          val (before, beforeBytes) = MemFs.countFiles(dir)
          val (_, wall) = timed("ops.put")(idx.putBatch(batches(r), r + 1L))
          val (after, afterBytes) = MemFs.countFiles(dir)
          s("wall_s") = wall
          s("docs") = ServeSpec.batch
          s("files_written") = after - before
          s("bytes_written") = afterBytes - beforeBytes
          s("files_total") = after
          s("round") = r + 1
        }
        quiesce()
        sample(s"$kind-search") { s =>
          val (hits, wall) = timed("ops.search")(idx.search(queries(r)))
          try {
            val rows = hits.select("query_url", "match_url").as[(String, String)].collect()
            val got = rows.toSet
            val recall = planted(r).count(p => got.contains((p.a, p.b))).toDouble / planted(r).length
            val md = java.security.MessageDigest.getInstance("SHA-256")
            rows.map(x => x._1 + "\u0000" + x._2).sorted
              .foreach(x => md.update((x + "\n").getBytes("UTF-8")))
            val digest = Gen.hex(md.digest().take(8))
            s("wall_s") = wall
            s("docs") = ServeSpec.queries
            s("recall") = recall
            s("matches") = rows.length
            if (kind == "warmup" && r == batches.length - 1)
              res("heap_retained_mb") = retainedHeapMb()
            s("digest") = digest
            s("round") = r + 1
            if (recall < 0.99) fail(s, f"search recall $recall%.4f below 0.99")
            expected.get(r) match {
              case None => expected(r) = digest
              case Some(d) if d != digest => fail(s, s"search digest $digest differs from $d")
              case _ =>
            }
          } finally Checkpoints.free(hits)
        }
      }
    } finally MemFs.deleteTree(dir)
  }
}
