package graft.hash

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

// The collect-then-pair candidate generator that `Lsh.candidatePairs`
// ran before the streaming `PairStream` path. Kept only as the legacy
// oracle of Round6PairStreamSpec, which checks that the streaming path
// emits exactly the pair set of `capped_collect` + this expression.

/**
 * `pairGen(members)` — per-bucket candidate-pair generator (LSH H3/H4).
 * Input: sorted Array(Struct(skey: Long, id: Long)) — one LSH bucket's
 * members, ordered by signature sort-key. Output: Array(Struct(a, b)),
 * a < b. Buckets up to `maxBucket` emit all pairs; larger buckets emit
 * chain pairs (each member with its next `chainWidth` neighbours in
 * skey order, so near-identical docs stay connected) — O(n·chainWidth)
 * instead of O(n²), the hot-bucket skew bound of the north rule.
 */
case class PairGen(child: Expression, maxBucket: Int, chainWidth: Int,
                   dropAbove: Int = Int.MaxValue)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)
  override def nullIntolerant: Boolean = true
  override def nullSafeEval(v: Any): Any =
    PairGen.gen(v.asInstanceOf[ArrayData], maxBucket, chainWidth, dropAbove)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.hash.PairGen.gen($c, $maxBucket, $chainWidth, $dropAbove)")
  override protected def withNewChildInternal(c: Expression): PairGen = copy(child = c)
  override def prettyName: String = "pair_gen"
}

object PairGen {
  /** @param dropAbove buckets larger than this emit NO pairs — the
    *   boilerplate bound: a key shared by more than `dropAbove` docs is
    *   corpus-wide boilerplate, not a duplicate class (the substring
    *   stage's hot-anchor case: one template sentence shared by ~100k
    *   pages put 100k members through a single reducer, a measured
    *   ~20 s straggler — and the resulting "pairs" would connect
    *   unrelated pages on a common footer anyway). Callers wanting the
    *   chain-pairing behaviour for large buckets (LSH bands, where the
    *   df-conditioned shingle filter already bounds bucket meaning)
    *   leave it at MaxValue. */
  def gen(members: ArrayData, maxBucket: Int, chainWidth: Int,
          dropAbove: Int = Int.MaxValue): ArrayData = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val n = members.numElements()
    if (n < 2 || n > dropAbove) return new GenericArrayData(Array.empty[Any])
    // sort by (skey, id) with primitive longs — a sort_array over the
    // struct array upstream (or a boxed comparator here) runs a boxing
    // Ordering that stack-sampling showed dominating skewed-bucket
    // reducers
    val skeys = new Array[Long](n)
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = members.getStruct(i, 2)
      skeys(i) = r.getLong(0); ids(i) = r.getLong(1)
      i += 1
    }
    sortByKeyThenVal(skeys, ids)
    val out = new scala.collection.mutable.ArrayBuffer[Any](
      if (n <= maxBucket) n * (n - 1) / 2 else n * chainWidth)
    if (n <= maxBucket) {
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val x = ids(i); val y = ids(j)
          if (x != y)
            out += InternalRow(math.min(x, y), math.max(x, y))
          j += 1
        }
        i += 1
      }
    } else {
      // chain pairing in skey order (input arrives sorted by skey)
      i = 0
      while (i < n) {
        var d = 1
        while (d <= chainWidth && i + d < n) {
          val x = ids(i); val y = ids(i + d)
          if (x != y)
            out += InternalRow(math.min(x, y), math.max(x, y))
          d += 1
        }
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** In-place sort of parallel long arrays by (key, val) — primitive
    * quicksort + insertion tail, no boxed comparators (a boxed Ordering
    * in the bucket pair generator dominated skewed-reducer CPU in
    * stack samples). */
  def sortByKeyThenVal(keys: Array[Long], vals: Array[Long]): Unit = {
    def less(i: Int, j: Int): Boolean =
      keys(i) < keys(j) || (keys(i) == keys(j) && vals(i) < vals(j))
    def swap(i: Int, j: Int): Unit = {
      val k = keys(i); keys(i) = keys(j); keys(j) = k
      val v = vals(i); vals(i) = vals(j); vals(j) = v
    }
    def sort(lo: Int, hi: Int): Unit = {
      if (hi - lo < 16) {
        var i = lo + 1
        while (i <= hi) {
          var j = i
          while (j > lo && less(j, j - 1)) { swap(j, j - 1); j -= 1 }
          i += 1
        }
      } else {
        val mid = lo + (hi - lo) / 2
        if (less(mid, lo)) swap(lo, mid)
        if (less(hi, lo)) swap(lo, hi)
        if (less(hi, mid)) swap(mid, hi)
        swap(mid, hi - 1) // median-of-3 pivot parked at hi-1
        val p = hi - 1
        var i = lo
        var j = hi - 1
        var done = false
        while (!done) {
          i += 1
          while (less(i, p)) i += 1
          j -= 1
          while (j > lo && less(p, j)) j -= 1
          if (i >= j) done = true else swap(i, j)
        }
        swap(i, hi - 1)
        sort(lo, i - 1)
        sort(i + 1, hi)
      }
    }
    if (keys.length > 1) sort(0, keys.length - 1)
  }

  /** Column API (formerly `HashFunctions.pairGen`). */
  def pairGen(members: Column, maxBucket: Int, chainWidth: Int,
              dropAbove: Int = Int.MaxValue): Column =
    ColumnBridge.column(PairGen(ColumnBridge.expression(members), maxBucket,
      chainWidth, dropAbove))
}
