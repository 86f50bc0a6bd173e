package graft.hash

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Deterministic hashing kernels (SURVEY §2.2 P5, §2.3 A6, §2.4 H1).
 *
 * All randomness is counter-based (splitmix64 streams keyed by the
 * hashed input), so signatures are bit-reproducible across runs,
 * partitionings and resumes — no per-partition RNG state. This is what
 * makes checkpoint/resume and recall fixtures deterministic.
 */
object HashKernels {

  // ---------------------------------------------------------------- murmur3

  /**
   * Canonical MurmurHash3 x86_32, seed 0, over UTF-8 bytes — byte-compatible
   * with the reference's `murmur3.Sum32(word)` feature hash
   * (`/root/reference/vectorisers.go:261`). Spark's builtin `hash()` is
   * seed-42 with a different tail mix, so it is NOT usable here.
   * Implemented from the public MurmurHash3 spec (Appleby, public domain).
   */
  def murmur3_32(bytes: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h = 0 // seed
    val len = bytes.length
    val nblocks = len / 4
    var i = 0
    while (i < nblocks) {
      val base = i * 4
      var k = (bytes(base) & 0xff) | ((bytes(base + 1) & 0xff) << 8) |
        ((bytes(base + 2) & 0xff) << 16) | ((bytes(base + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 1
    }
    var k1 = 0
    val tail = nblocks * 4
    (len & 3) match {
      case 3 =>
        k1 ^= (bytes(tail + 2) & 0xff) << 16
        k1 ^= (bytes(tail + 1) & 0xff) << 8
        k1 ^= bytes(tail) & 0xff
        k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h ^= k1
      case 2 =>
        k1 ^= (bytes(tail + 1) & 0xff) << 8
        k1 ^= bytes(tail) & 0xff
        k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h ^= k1
      case 1 =>
        k1 ^= bytes(tail) & 0xff
        k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h ^= k1
      case _ =>
    }
    h ^= len
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    h
  }

  /** Unsigned murmur3_32 as a Long in [0, 2^32) — the reference computes
    * `int(h) % NumFeatures` on a uint32, i.e. an unsigned mod. */
  def murmur3Unsigned(s: UTF8String): Long = murmur3_32(s.getBytes) & 0xffffffffL

  // ------------------------------------------------------------- splitmix64

  /** splitmix64 finalizer (Steele et al., public domain) — our
    * counter-based PRNG building block. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // ---------------------------------------------------------------- minhash

  /**
   * k-permutation MinHash signature over a 64-bit shingle array
   * (Broder '97; north-rule addition — banding semantics shared with the
   * reference's LSH chunking, `/root/reference/lsh.go:120-132`).
   * Permutation i is the splitmix64 mix of the shingle xored with a
   * per-permutation seed; the signature element is the minimum over all
   * shingles. Empty input yields the seeds themselves — which means
   * ALL empty inputs share one signature and would collide in every
   * band: callers must filter empty shingle sets before banding (the
   * in-repo producers do — hashedShingles drops empty docs and
   * FilterNotIn keeps full sets), or every empty doc lands in one
   * mega-bucket, exactly the skew the capped pairing exists to bound.
   */
  // per-permutation seeds are constants — precomputed once (they were
  // re-derived per document; r06 micro-cleanup, bit-identical)
  private val minhashSeeds: Array[Long] =
    Array.tabulate(256)(i => mix64(0x5eed0000L + i))

  def minhash(shingles: Array[Long], k: Int): Array[Long] = {
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val seed = if (i < minhashSeeds.length) minhashSeeds(i)
                 else mix64(0x5eed0000L + i)
      var mn = Long.MaxValue
      var j = 0
      while (j < shingles.length) {
        val h = mix64(shingles(j) ^ seed)
        if (h < mn) mn = h
        j += 1
      }
      out(i) = if (shingles.length == 0) seed else mn
      i += 1
    }
    out
  }

  /** ArrayData adapter for codegen. */
  def minhashArray(shingles: ArrayData, k: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(minhash(shingles.toLongArray(), k))

  // ------------------------------------------------- per-doc TF and shingles

  /**
   * One-pass hashed term-frequency entries: feature id =
   * murmur3Unsigned(token) mod numFeatures (collisions additive, as the
   * reference DOK accumulation `/root/reference/vectorisers.go:264`),
   * output sorted by term id. Exists as a kernel because the
   * higher-order-function formulation (`transform`+`filter`) is
   * interpreted (CodegenFallback) and O(distinct·tokens) with repeated
   * sub-expression evaluation — measured ~10× slower on the hot path.
   */
  def hashedTf(tokens: ArrayData, numFeatures: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val n = tokens.numElements()
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) {
      ids(i) = murmur3Unsigned(tokens.getUTF8String(i)) % numFeatures
      i += 1
    }
    java.util.Arrays.sort(ids)
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](n)
    i = 0
    while (i < n) {
      var j = i
      while (j < n && ids(j) == ids(i)) j += 1
      out += InternalRow(ids(i), j - i)
      i = j
    }
    new GenericArrayData(out.toArray[Any])
  }

  /**
   * Distinct hashed w-token shingles in one pass (XXH64 seed 42 over the
   * UTF-8 of the space-joined window — same bytes the builtin
   * `xxhash64(concat_ws(" ", slice(...)))` formulation hashes). Docs
   * shorter than w fall back to a single whole-doc shingle.
   */
  def hashedShingles(tokens: ArrayData, w: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val n = tokens.numElements()
    val toks = new Array[Array[Byte]](n)
    var i = 0
    var total = 0
    while (i < n) {
      toks(i) = tokens.getUTF8String(i).getBytes
      total += toks(i).length
      i += 1
    }
    val eff = math.min(w, math.max(1, n))
    val nOut = math.max(1, n - eff + 1)
    val seen = new java.util.HashSet[java.lang.Long](nOut * 2)
    val out = new scala.collection.mutable.ArrayBuffer[Any](nOut)
    val buf = new Array[Byte](total + math.max(0, n - 1))
    i = 0
    while (i < nOut) {
      var len = 0
      var j = i
      val end = math.min(n, i + eff)
      while (j < end) {
        if (j > i) { buf(len) = ' '; len += 1 }
        System.arraycopy(toks(j), 0, buf, len, toks(j).length)
        len += toks(j).length
        j += 1
      }
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, len, 42L)
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  // -------------------------------------------------------------- winnowing

  /**
   * Winnowed char-k-gram fingerprints (Schleimer et al. '03, MOSS).
   * Rolling polynomial hash of every k-gram; keep the minimum of each
   * sliding window of `window` consecutive hashes (rightmost min,
   * deduped). Guarantee: two strings sharing a verbatim run of length
   * ≥ k + window − 1 share at least one selected fingerprint — the
   * anchor that lets the suffix-array substring pass run as a
   * shuffle-join instead of an all-pairs scan.
   */
  def winnowedFingerprints(s: UTF8String, k: Int, window: Int): Array[Long] =
    winnowSelect(s.toString, k, window)._1

  /** The shared selection core: selected fingerprints AND the k-gram
    * start index each was taken from (−1 for the degenerate n<k
    * whole-string fingerprint, which has no k-gram position). The
    * fingerprint array is byte-identical to the pre-refactor
    * [[winnowedFingerprints]] output (golden-pinned). */
  private def winnowSelect(str: String, k: Int,
                           window: Int): (Array[Long], Array[Int]) = {
    val n = str.length
    if (n < k) return (Array(mix64(str.hashCode.toLong)), Array(-1))
    val nGrams = n - k + 1
    val hs = new Array[Long](nGrams)
    val B = 1000000007L
    // initial k-gram hash + precompute B^(k-1)
    var h = 0L
    var pow = 1L
    var i = 0
    while (i < k) {
      h = h * B + str.charAt(i)
      if (i < k - 1) pow *= B
      i += 1
    }
    hs(0) = mix64(h)
    i = 1
    while (i < nGrams) {
      h = (h - str.charAt(i - 1) * pow) * B + str.charAt(i + k - 1)
      hs(i) = mix64(h)
      i += 1
    }
    if (nGrams <= window) {
      var mn = hs(0); var mi = 0; i = 1
      while (i < nGrams) { if (hs(i) < mn) { mn = hs(i); mi = i }; i += 1 }
      return (Array(mn), Array(mi))
    }
    val out = new scala.collection.mutable.ArrayBuffer[Long](nGrams / window + 2)
    val outIdx = new scala.collection.mutable.ArrayBuffer[Int](nGrams / window + 2)
    var lastIdx = -1
    // monotonic deque of indices, hashes strictly increasing front→back;
    // equal values evict the older index, so the front is always the
    // RIGHTMOST window minimum — O(n) total vs the O(n·window) rescan
    // (measured 15.7 s of the 72k-doc substring stage at window=31)
    val deque = new Array[Int](nGrams)
    var head = 0; var tail = 0 // [head, tail)
    i = 0
    while (i < nGrams) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i; tail += 1
      val lo = i - window + 1 // current window [lo, i]
      if (deque(head) < lo) head += 1
      if (lo >= 0) {
        val mi = deque(head)
        if (mi != lastIdx) { out += hs(mi); outIdx += mi; lastIdx = mi }
      }
      i += 1
    }
    (out.toArray, outIdx.toArray)
  }

  /** ArrayData adapter for codegen. */
  def winnowArray(s: UTF8String, k: Int, window: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(winnowedFingerprints(s, k, window))

  /** Winnowed fingerprints WITH a content sort key per anchor:
    * Array(Struct(key: Long, skey: Long)) where `skey` packs the 4
    * chars FOLLOWING the anchor k-gram (big-endian, unsigned-
    * comparable, zero-padded at text end). Bucket members all share
    * the anchor k-gram itself, so the skey order clusters docs by what
    * comes AFTER the shared fragment: a true substring-dup pair (whose
    * run extends past the anchor) sorts adjacent inside an oversized
    * bucket and survives chain pairing, where doc_id (random hash)
    * order would miss it with probability → 1 as buckets grow. */
  def winnowCtxArray(s: UTF8String, k: Int, window: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val str = s.toString
    val (hs, idx) = winnowSelect(str, k, window)
    val out = new Array[Any](hs.length)
    var i = 0
    while (i < out.length) {
      val from = (if (idx(i) < 0) 0 else idx(i)) + k
      var v = 0L
      var j = 0
      while (j < 4) {
        v = (v << 16) | (if (from + j < str.length)
          str.charAt(from + j).toLong & 0xffffL else 0L)
        j += 1
      }
      // flip the sign bit: packed chars compare unsigned, skey is
      // sorted as a signed long downstream
      out(i) = InternalRow(hs(i), v ^ Long.MinValue)
      i += 1
    }
    new GenericArrayData(out)
  }

  // ---------------------------------------------------------------- simhash

  /**
   * SimHash by signed random projection (`/root/reference/hashing.go:32-62`,
   * `randomprojection.go:56-87`): bit b = 1 iff Σ_t w_t · g(t,b) >= 0 where
   * g(t,b) is a unit Gaussian derived deterministically from the term id and
   * bit index (Box–Muller over a splitmix64 stream seeded by the term).
   * Same distribution as the reference's `rand.NormFloat64` hyperplane
   * matrix (`hashing.go:36-42`) but O(1) memory at any dimensionality —
   * no d×bits matrix is ever materialised, so the hashing-trick feature
   * space (2^20+ dims) costs nothing.
   *
   * Returns `ceil(bits/64)` packed words, little-endian bit order
   * (bit b of word b/64).
   */
  def simhash(termIds: Array[Long], weights: Array[Double], bits: Int): Array[Long] = {
    if (bits == 64) return simhash64Cached(termIds, weights)
    val acc = new Array[Double](bits)
    val twoPi = 2.0 * math.Pi
    var t = 0
    while (t < termIds.length) {
      val w = weights(t)
      if (w != 0.0) {
        val seed = mix64(termIds(t) ^ 0x51a45ea51a45ea5L)
        var b = 0
        var ctr = 0L
        while (b < bits) {
          // two uniforms from the counter stream -> two Gaussians (Box–Muller)
          val u1 = (mix64(seed + ctr) >>> 11) * 1.1102230246251565e-16 // 2^-53
          val u2 = (mix64(seed + ctr + 1) >>> 11) * 1.1102230246251565e-16
          ctr += 2
          val r = math.sqrt(-2.0 * math.log(u1 + 1.1102230246251565e-16))
          val theta = twoPi * u2
          acc(b) += w * (r * math.cos(theta))
          if (b + 1 < bits) acc(b + 1) += w * (r * math.sin(theta))
          b += 2
        }
      }
      t += 1
    }
    pack(acc)
  }

  // ---- per-term Gaussian cache for the 64-bit hot path (optimization
  // round, guide §1.2 "per-task work") ----
  // g(t, b) depends ONLY on the term id and the bit index, never on the
  // document, yet the inline loop re-drew all 64 Box–Muller Gaussians
  // (2 mix64 + log + sqrt + cos + sin per pair) for every (doc, term)
  // incidence — ~64 transcendental calls × terms × docs, the dominant
  // signature-stage CPU (`perfbench/run.py --trace 1`, span
  // `hash.signatures`). The cache computes each term's 64-vector ONCE
  // and reuses it across documents.
  // BIT-EXACT: cached g(b) is the exact double the inline code produced
  // (same counters, same transcendental calls), and `acc(b) += w * g(b)`
  // multiplies the same operands in the same order — signatures are
  // unchanged (HashKernelsSpec goldens + SimhashCacheSpec A/B).
  // Concurrency: fixed-size direct-mapped table shared across task
  // threads; entries are immutable (final fields → safe publication),
  // races/collisions merely recompute. 2^15 slots × 536 B ≈ 17 MB,
  // vocabulary-independent (Zipf head fits; misses cost the old path).
  private final class GaussRow(val key: Long, val g: Array[Double])
  private val gaussSlots = 1 << 15
  private val gaussCache =
    new java.util.concurrent.atomic.AtomicReferenceArray[GaussRow](gaussSlots)

  private def gauss64(termId: Long): Array[Double] = {
    val slot = (mix64(termId).toInt & Int.MaxValue) % gaussSlots
    val e = gaussCache.get(slot)
    if (e != null && e.key == termId) return e.g
    val twoPi = 2.0 * math.Pi
    val g = new Array[Double](64)
    val seed = mix64(termId ^ 0x51a45ea51a45ea5L)
    var b = 0
    var ctr = 0L
    while (b < 64) {
      val u1 = (mix64(seed + ctr) >>> 11) * 1.1102230246251565e-16
      val u2 = (mix64(seed + ctr + 1) >>> 11) * 1.1102230246251565e-16
      ctr += 2
      val r = math.sqrt(-2.0 * math.log(u1 + 1.1102230246251565e-16))
      val theta = twoPi * u2
      g(b) = r * math.cos(theta)
      g(b + 1) = r * math.sin(theta)
      b += 2
    }
    gaussCache.set(slot, new GaussRow(termId, g))
    g
  }

  private def simhash64Cached(termIds: Array[Long],
                              weights: Array[Double]): Array[Long] = {
    val acc = new Array[Double](64)
    var t = 0
    while (t < termIds.length) {
      val w = weights(t)
      if (w != 0.0) {
        val g = gauss64(termIds(t))
        var b = 0
        while (b < 64) {
          acc(b) += w * g(b)
          b += 1
        }
      }
      t += 1
    }
    pack(acc)
  }

  /** 64-bit SimHash of a sparse (termId, weight) document vector. */
  def simhash64(termIds: Array[Long], weights: Array[Double]): Long =
    simhash(termIds, weights, 64)(0)

  /**
   * Johnson–Lindenstrauss random projection (SURVEY R6/R3;
   * `/root/reference/randomprojection.go:102-154`): project a sparse
   * (termId, weight) vector onto k deterministic Gaussian directions —
   * the same counter-based hyperplanes SimHash signs, kept unsigned and
   * scaled 1/√k so pairwise distances are preserved in expectation.
   * O(1) memory at any input dimensionality (no projection matrix).
   */
  def randomProject(termIds: Array[Long], weights: Array[Double],
                    k: Int): Array[Double] = {
    val acc = new Array[Double](k)
    val twoPi = 2.0 * math.Pi
    var t = 0
    while (t < termIds.length) {
      val w = weights(t)
      if (w != 0.0) {
        val seed = mix64(termIds(t) ^ 0x51a45ea51a45ea5L)
        var b = 0
        var ctr = 0L
        while (b < k) {
          val u1 = (mix64(seed + ctr) >>> 11) * 1.1102230246251565e-16
          val u2 = (mix64(seed + ctr + 1) >>> 11) * 1.1102230246251565e-16
          ctr += 2
          val r = math.sqrt(-2.0 * math.log(u1 + 1.1102230246251565e-16))
          val theta = twoPi * u2
          acc(b) += w * (r * math.cos(theta))
          if (b + 1 < k) acc(b + 1) += w * (r * math.sin(theta))
          b += 2
        }
      }
      t += 1
    }
    val scale = 1.0 / math.sqrt(k)
    var i = 0
    while (i < k) { acc(i) *= scale; i += 1 }
    acc
  }

  /** ArrayData adapter for codegen. */
  def randomProjectArray(entries: ArrayData, k: Int): ArrayData = {
    val n = entries.numElements()
    val ids = new Array[Long](n)
    val ws = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = entries.getStruct(i, 2)
      ids(i) = row.getLong(0)
      ws(i) = row.getDouble(1)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(randomProject(ids, ws, k))
  }

  /** Deterministic unit Gaussian, counter-based (splitmix64 + Box–Muller
    * cosine branch) — stream `slot` of the stream keyed by `key`. Same
    * distribution as the reference's rand.NormFloat64 draws
    * (`/root/reference/hashing.go:36-42`) with no RNG state. */
  def gaussian(key: Long, slot: Int): Double = {
    val seed = mix64(key ^ 0x5bd1e995c0ffee42L)
    val u1 = (mix64(seed + 2L * slot) >>> 11) * 1.1102230246251565e-16
    val u2 = (mix64(seed + 2L * slot + 1) >>> 11) * 1.1102230246251565e-16
    math.sqrt(-2.0 * math.log(u1 + 1.1102230246251565e-16)) *
      math.cos(2.0 * math.Pi * u2)
  }

  /** w · (l Gaussians of stream `key`) — one Ω-row contribution of the
    * randomized-SVD range sketch Y = A·Ω (Halko et al. 2011), generated
    * on the fly so no docs×l matrix is ever materialised. */
  def gaussianSketch(key: Long, w: Double, l: Int): ArrayData = {
    val out = new Array[Double](l)
    var s = 0
    while (s < l) { out(s) = w * gaussian(key, s); s += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /**
   * Deterministic sparse random "elemental" vector (Random Indexing /
   * sparse random projection): slot s is non-zero with probability
   * `density`, value ±sqrt(1/density)/sqrt(k) with equal sign odds —
   * the reference's CreateRandomProjectionTransform distribution
   * (`/root/reference/randomprojection.go:350-404`: per-row
   * Binomial(dims, density) placement ≈ element-wise Bernoulli, values
   * Bernoulli-signed ±sqrt(1/density)/sqrt(newDims)), i.e. the
   * Achlioptas-style sparse JL scheme — generated counter-based per
   * `key` so no projection matrix is ever materialised or shared.
   */
  def elemental(key: Long, k: Int, density: Double): Array[Double] = {
    val out = new Array[Double](k)
    val seed = mix64(key ^ 0xe1e8e47a11a5e17L)
    val factor = math.sqrt(1.0 / density) / math.sqrt(k.toDouble)
    var s = 0
    while (s < k) {
      val u = (mix64(seed + s) >>> 11) * 1.1102230246251565e-16
      if (u < density) {
        // independent sign bit from a second stream
        val sign = if ((mix64((seed ^ 0x51ca1ab1e0ddba11L) + s) & 1L) == 0L) 1.0 else -1.0
        out(s) = sign * factor
      }
      s += 1
    }
    out
  }

  /** w · elemental(key) as ArrayData (codegen adapter). */
  def elementalScaled(key: Long, w: Double, k: Int, density: Double): ArrayData = {
    val v = elemental(key, k, density)
    var i = 0
    while (i < k) { v(i) *= w; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(v)
  }

  /** Sparse-density JL projection of a sparse (term, weight) vector:
    * Σ_t w_t · elemental(term) — the reference's RandomProjection
    * operator with its own sparse matrix distribution
    * (`randomprojection.go:102-154`), counter-based. Complements
    * [[randomProject]] (dense Gaussian directions, same JL class). */
  def sparseRandomProject(entries: ArrayData, k: Int, density: Double): ArrayData = {
    val n = entries.numElements()
    val acc = new Array[Double](k)
    var i = 0
    while (i < n) {
      val row = entries.getStruct(i, 2)
      val w = row.getDouble(1)
      if (w != 0.0) {
        val e = elemental(row.getLong(0), k, density)
        var s = 0
        while (s < k) { acc(s) += w * e(s); s += 1 }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(acc)
  }

  private def pack(acc: Array[Double]): Array[Long] = {
    val words = new Array[Long]((acc.length + 63) / 64)
    var b = 0
    while (b < acc.length) {
      if (acc(b) >= 0.0) words(b / 64) |= (1L << (b % 64))
      b += 1
    }
    words
  }
}
