package graft.perfbench

import graft.data.SyntheticPages
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Seeded inputs of the three workloads. Every page is a pure function of
 * (spec, seed, row index), built from `SyntheticPages.baseText`, so one
 * seed gives the same pages on any partitioning and the program only
 * ever sees the generated DataFrame. Each workload also yields its
 * planted-pair oracle: (urlA, urlB) pairs that must end up together.
 */
object Gen {

  final case class Page(url: String, text: String)
  final case class Pair(a: String, b: String)

  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def pick(h: Long, n: Int): Int = ((h >>> 1) % n).toInt

  /** Row-index block of one seed for one purpose (`kind` < 16): the
    * upper 32 bits come from the seed, so two seeds share no base text. */
  private def idx(seed: Long, kind: Int, i: Long): Long =
    ((mix(seed ^ 0x5eedL) >>> 32) << 32) + (kind.toLong << 28) + i

  private def text(seed: Long, kind: Int, i: Long, len: Int): String =
    SyntheticPages.baseText(idx(seed, kind, i), len)

  private def word(seed: Long, h: Long): String =
    SyntheticPages.baseText(idx(seed, 15, h & 0xfffffffL), 1)

  /** `nEdits` single-token substitutions at hash-chosen positions. */
  private def edit(seed: Long, t: String, h0: Long, nEdits: Int): String = {
    val toks = t.split(" ")
    var h = h0
    (0 until nEdits).foreach { _ =>
      h = mix(h); val p = pick(h, toks.length)
      h = mix(h); toks(p) = word(seed, h)
    }
    toks.mkString(" ")
  }

  /** 40–119 tokens, the SyntheticPages page length. */
  private def webLen(seed: Long, kind: Int, i: Long): Int =
    40 + pick(mix(idx(seed, kind, i) ^ 0x1111L), 80)

  // ---------------------------------------------------------------- web_mix

  /** SyntheticPages' production mix over `n` base pages: 5% exact copies,
    * 5% near copies (1–3 token edits), 2% substring copies (a 60-token
    * run inside unrelated text) and 5% of base pages carrying one shared
    * 120-token boilerplate paragraph. */
  final case class WebMix(n: Int) {
    val nExact: Int = n / 20
    val nNear: Int = n / 20
    val nSub: Int = n / 50
    val rows: Int = n + nExact + nNear + nSub
  }

  private def webBase(seed: Long, i: Int): String = {
    val t = text(seed, 0, i, webLen(seed, 0, i))
    if (pick(mix(idx(seed, 0, i) ^ 0x2222L), 1000) < 50)
      t + " " + text(seed, 14, 0, 120)
    else t
  }

  private def webUrl(seed: Long, tag: String, i: Int): String =
    s"https://www.site${i % 997}.example/s$seed/$tag$i"

  def webPage(seed: Long, s: WebMix, row: Int): Page = {
    if (row < s.n) Page(webUrl(seed, "", row), webBase(seed, row))
    else if (row < s.n + s.nExact) {
      val j = row - s.n
      Page(webUrl(seed, "x", j), webBase(seed, j))
    } else if (row < s.n + s.nExact + s.nNear) {
      val j = row - s.n - s.nExact
      val src = s.nExact + j
      val h = mix(idx(seed, 1, j))
      Page(webUrl(seed, "n", j),
        edit(seed, webBase(seed, src), h, 1 + pick(h, 3)))
    } else {
      val j = row - s.n - s.nExact - s.nNear
      val toks = webBase(seed, s.nExact + s.nNear + j).split(" ")
      val run = toks.take(math.min(60, toks.length)).mkString(" ")
      Page(webUrl(seed, "s", j),
        text(seed, 2, j, 30) + " " + run + " " + text(seed, 3, j, 30))
    }
  }

  def webPairs(seed: Long, s: WebMix): Seq[Pair] =
    (0 until s.nExact).map(j => Pair(webUrl(seed, "", j), webUrl(seed, "x", j))) ++
      (0 until s.nNear).map(j =>
        Pair(webUrl(seed, "", s.nExact + j), webUrl(seed, "n", j))) ++
      (0 until s.nSub).map(j =>
        Pair(webUrl(seed, "", s.nExact + s.nNear + j), webUrl(seed, "s", j)))

  // ----------------------------------------------------------- dup_families

  /** `nSingle` unrelated pages (40–119 tokens) plus `nFamilies`
    * near-duplicate families of famMin..famMax members: a root page of
    * 80–159 tokens and members that each differ from it by 1–3 token
    * edits. famMax must stay at or under the hot-shingle df threshold
    * (max(8, 0.001·docs)), or the family's shared shingles are dropped
    * from banding. */
  final case class Families(nSingle: Int, nFamilies: Int, famMin: Int,
                            famMax: Int) {
    /** Row offset of each family's root, plus the total row count. */
    def offsets(seed: Long): Array[Int] =
      (0 until nFamilies).scanLeft(nSingle)((o, f) => o + size(seed, f)).toArray
    def size(seed: Long, f: Int): Int =
      famMin + pick(mix(idx(seed, 5, f)), famMax - famMin + 1)
  }

  private def famUrl(seed: Long, f: Int, m: Int): String =
    s"https://fam${f % 997}.example/s$seed/f$f/m$m"

  /** `offsets` = `s.offsets(seed)`, computed once per frame by the caller. */
  def familyPage(seed: Long, s: Families, offsets: Array[Int], row: Int): Page =
    if (row < s.nSingle)
      Page(webUrl(seed, "u", row), text(seed, 4, row, webLen(seed, 4, row)))
    else {
      val k = java.util.Arrays.binarySearch(offsets, row)
      val f = if (k >= 0) k else -k - 2
      val m = row - offsets(f)
      val root = text(seed, 6, f, 80 + pick(mix(idx(seed, 6, f) ^ 0x1111L), 80))
      if (m == 0) Page(famUrl(seed, f, 0), root)
      else {
        val h = mix(idx(seed, 7, row))
        Page(famUrl(seed, f, m), edit(seed, root, h, 1 + pick(h, 3)))
      }
    }

  def familyPairs(seed: Long, s: Families): Seq[Pair] =
    (0 until s.nFamilies).flatMap(f =>
      (1 until s.size(seed, f)).map(m => Pair(famUrl(seed, f, 0), famUrl(seed, f, m))))

  // ------------------------------------------------------------ index_serve

  /** An index seeded with `nIndex` pages (80–119 tokens), then `rounds`
    * rounds of one `batch`-page insert and one `queries`-page search.
    * Even-numbered queries are planted near-duplicates (one token edit)
    * of a seeded page; odd ones are unrelated pages. */
  final case class Serve(nIndex: Int, batch: Int, queries: Int, rounds: Int)

  private def serveLen(seed: Long, kind: Int, i: Long): Int =
    80 + pick(mix(idx(seed, kind, i) ^ 0x3333L), 40)

  private def servedUrl(seed: Long, i: Int) = s"https://idx.example/s$seed/d$i"
  private def serveText(seed: Long, i: Int) = text(seed, 8, i, serveLen(seed, 8, i))

  def indexPage(seed: Long, i: Int): Page = Page(servedUrl(seed, i), serveText(seed, i))

  def batchPage(seed: Long, s: Serve, round: Int, i: Int): Page = {
    val k = round.toLong * s.batch + i
    Page(s"https://idx.example/s$seed/b$round/d$i", text(seed, 9, k, serveLen(seed, 9, k)))
  }

  private def querySource(seed: Long, s: Serve, round: Int, q: Int): Int =
    pick(mix(idx(seed, 10, round.toLong * s.queries + q)), s.nIndex)

  def queryPage(seed: Long, s: Serve, round: Int, q: Int): Page = {
    val url = s"https://query.example/s$seed/r$round/q$q"
    val k = round.toLong * s.queries + q
    if (q % 2 == 0) {
      val src = querySource(seed, s, round, q)
      Page(url, edit(seed, serveText(seed, src), mix(idx(seed, 11, k)), 1))
    } else Page(url, text(seed, 12, k, serveLen(seed, 12, k)))
  }

  /** (query url, source url) of the planted queries of one round. */
  def queryPairs(seed: Long, s: Serve, round: Int): Seq[Pair] =
    (0 until s.queries by 2).map(q =>
      Pair(s"https://query.example/s$seed/r$round/q$q",
        servedUrl(seed, querySource(seed, s, round, q))))

  // ---------------------------------------------------------------- frames

  /** Pages `0 until rows` as a (url, text) frame over `slices` partitions,
    * materialised once in executor memory (localCheckpoint) so the
    * program's plans start from cached rows. */
  def frame(spark: SparkSession, rows: Int, slices: Int)(page: Int => Page): DataFrame = {
    import spark.implicits._
    spark.range(0, rows, 1, slices).as[Long]
      .map(i => page(i.toInt))
      .toDF("url", "text")
      .localCheckpoint(true)
  }

  /** SHA-256 (hex) of the pages in row order plus the oracle — the
    * generator's determinism self-test compares these across seeds. */
  def digest(pages: Iterator[Page], pairs: Seq[Pair]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    pages.foreach { p => put(p.url); put(p.text) }
    pairs.foreach { p => put(p.a); put(p.b) }
    hex(md.digest())
  }

  def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString
}
