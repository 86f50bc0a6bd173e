package graft.hash

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/**
 * Bounded-memory bucket-member collection with an EXACT total count:
 * `capped_collect(skey, id, cap)` returns
 * `struct<members: array<struct<skey,id>>, total: long>` where
 * `members` holds at most `cap` entries and `total` counts every row
 * seen (a long increment, never buffered).
 *
 * This replaces `slice(collect_list(...), 1, cap)` in the LSH bucket
 * aggregation of `TrainingDataOps.lshTopK`. The slice variant
 * bounds the OUTPUT but not the AGGREGATION BUFFER: a corpus-wide
 * boilerplate key shared by 10^7+ documents at web scale accumulates
 * every member on one reducer before the slice runs — an OOM, and the
 * reason the substring pass previously paid a full extra
 * anchor-cardinality shuffle + driver collect just to pre-drop hot
 * keys map-side. With the buffer itself capped, partial aggregation
 * bounds every map- and reduce-side buffer at `cap` entries, and the
 * exact `total` lets callers drop boilerplate buckets
 * (`total > dropAbove`) with no separate counting pass.
 *
 * Determinism: the survivors of an over-cap bucket are the `cap`
 * SMALLEST members by (skey, id) — independent of partition arrival
 * and merge order (a lazy max-heap replaces the former
 * append-until-full, whose survivor set changed run to run and, worse,
 * was CORRELATED across bands: roughly the same map-order prefix
 * survived in every band, so a member dropped from one hot bucket was
 * dropped from all of them at once, defeating the independent-band
 * recall the banding math assumes). Callers choose the decorrelation
 * through the skey: lshTopK's per-band salted hash gives each band an
 * independent survivor set.
 * Under-cap buckets never pay the heap (plain appends, heapify runs
 * at most once per buffer, replacement is O(log cap) and only on
 * smaller-than-max rows). Output array order is heap order — the
 * consumer explodes it unordered.
 */
case class CappedCollect(skeyExpr: Expression, idExpr: Expression, cap: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedCollect.Buf] {

  // plan-time, not task-time: cap = 0 used to silently collect nothing
  // (append-until-full), and would now read an empty heap root
  require(cap > 0, s"capped_collect cap must be positive, got $cap")

  override def children: Seq[Expression] = Seq(skeyExpr, idExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = CappedCollect.outType
  override def prettyName: String = "capped_collect"

  override def createAggregationBuffer(): CappedCollect.Buf =
    new CappedCollect.Buf(math.min(cap, 16))

  override def update(b: CappedCollect.Buf, input: InternalRow): CappedCollect.Buf = {
    val s = skeyExpr.eval(input)
    val i = idExpr.eval(input)
    // null rows are ignored ENTIRELY — including in `total` — matching
    // the collect_list semantics this replaces; counting them would let
    // a dropAbove filter discard a bucket over rows that contribute no
    // pairs
    if (s != null && i != null) {
      b.total += 1L
      b.offer(s.asInstanceOf[Long], i.asInstanceOf[Long], cap)
    }
    b
  }

  override def merge(b: CappedCollect.Buf, o: CappedCollect.Buf): CappedCollect.Buf = {
    b.total += o.total
    var j = 0
    while (j < o.n) {
      b.offer(o.skeys(j), o.ids(j), cap)
      j += 1
    }
    b
  }

  override def eval(b: CappedCollect.Buf): Any = {
    val rows = new Array[Any](b.n)
    var j = 0
    while (j < b.n) {
      rows(j) = InternalRow(b.skeys(j), b.ids(j))
      j += 1
    }
    InternalRow(new GenericArrayData(rows), b.total)
  }

  override def serialize(b: CappedCollect.Buf): Array[Byte] = {
    val bb = ByteBuffer.allocate(12 + 16 * b.n)
    bb.putInt(b.n).putLong(b.total)
    var j = 0
    while (j < b.n) { bb.putLong(b.skeys(j)).putLong(b.ids(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedCollect.Buf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val b = new CappedCollect.Buf(math.max(n, 1))
    b.total = bb.getLong
    var j = 0
    while (j < n) { b.append(bb.getLong, bb.getLong, Int.MaxValue); j += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CappedCollect =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CappedCollect =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): CappedCollect =
    copy(skeyExpr = cs(0), idExpr = cs(1))
}

object CappedCollect {
  val memberType: StructType = StructType(Seq(
    StructField("skey", LongType, nullable = false),
    StructField("id", LongType, nullable = false)))
  val outType: StructType = StructType(Seq(
    StructField("members", ArrayType(memberType, containsNull = false),
      nullable = false),
    StructField("total", LongType, nullable = false)))

  /** Growable parallel long arrays; `total` counts beyond the cap.
    * Survivor selection past the cap is a lazily-built max-heap by
    * (skey, id): deterministic — the cap smallest survive, whatever
    * the arrival and merge order. */
  final class Buf(initial: Int) {
    var skeys: Array[Long] = new Array[Long](initial)
    var ids: Array[Long] = new Array[Long](initial)
    var n: Int = 0
    var total: Long = 0L
    private var heaped = false
    def append(s: Long, i: Long, cap: Int): Unit = {
      if (n >= skeys.length) {
        val grow = math.min(math.max(skeys.length * 2, 16), math.max(cap, n + 1))
        skeys = java.util.Arrays.copyOf(skeys, grow)
        ids = java.util.Arrays.copyOf(ids, grow)
      }
      skeys(n) = s; ids(n) = i; n += 1
    }
    def offer(s: Long, i: Long, cap: Int): Unit =
      if (n < cap) append(s, i, cap)
      else {
        if (!heaped) { heapify(); heaped = true }
        // replace the current max iff the candidate is strictly smaller
        if (s < skeys(0) || (s == skeys(0) && i < ids(0))) {
          skeys(0) = s; ids(0) = i; siftDown(0)
        }
      }
    private def greater(a: Int, b: Int): Boolean =
      skeys(a) > skeys(b) || (skeys(a) == skeys(b) && ids(a) > ids(b))
    private def swap(a: Int, b: Int): Unit = {
      val ts = skeys(a); skeys(a) = skeys(b); skeys(b) = ts
      val ti = ids(a); ids(a) = ids(b); ids(b) = ti
    }
    private def heapify(): Unit = {
      var j = n / 2 - 1
      while (j >= 0) { siftDown(j); j -= 1 }
    }
    private def siftDown(i0: Int): Unit = {
      var j = i0
      var cont = true
      while (cont) {
        val l = 2 * j + 1; val r = l + 1
        var m = j
        if (l < n && greater(l, m)) m = l
        if (r < n && greater(r, m)) m = r
        if (m == j) cont = false
        else { swap(j, m); j = m }
      }
    }
  }
}
