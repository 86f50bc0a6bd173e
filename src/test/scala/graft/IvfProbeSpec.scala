package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite
import graft.hash.IvfProbe

/** `Ivf.probe`'s contract — min(nProbe, nCells) distinct cells, ties to
  * the lower cell — holds for non-finite vectors too, on both the
  * interpreted and the generated-code path of the expression. */
class IvfProbeSpec extends AnyFunSuite {

  // unit-norm 2-d codebook; cell 3 has a zero first component, so an
  // infinite first element meets it as Inf·0 = NaN
  private val cents = Array(Array(1.0, 0.0), Array(0.6, 0.8),
    Array(0.8, 0.6), Array(0.0, 1.0))

  private def probeBoth(vec: Seq[Double], nProbe: Int): Seq[(String, Seq[Int])] =
    Seq(DoubleType, FloatType).flatMap { t =>
      val elems: Array[Any] =
        if (t == FloatType) vec.map(_.toFloat).toArray else vec.toArray
      val row = InternalRow(new GenericArrayData(elems))
      val e = IvfProbe(BoundReference(0, ArrayType(t: DataType, false), false),
        cents.flatten, 2, nProbe)
      def ints(a: Any) = a.asInstanceOf[ArrayData].toIntArray().toSeq
      Seq(s"eval/$t" -> ints(e.eval(row)),
        s"codegen/$t" ->
          ints(GenerateUnsafeProjection.generate(Seq(e)).apply(row).getArray(0)))
    }

  private def assertProbes(vec: Seq[Double], nProbe: Int, want: Seq[Int]) =
    probeBoth(vec, nProbe).foreach { case (path, got) =>
      assert(got === want, s"$path probe of $vec")
    }

  test("finite vectors rank cells by dot product") {
    assertProbes(Seq(0.6, 0.8), 4, Seq(1, 2, 3, 0))
    assertProbes(Seq(0.6, 0.8), 2, Seq(1, 2))
  }

  test("a NaN element probes nProbe distinct cells (lowest first), " +
    "not cell 0 repeated") {
    assertProbes(Seq(Double.NaN, 1.0), 3, Seq(0, 1, 2))
  }

  test("a -Inf element (every dot -Inf or NaN) probes nProbe distinct cells") {
    assertProbes(Seq(Double.NegativeInfinity, 0.0), 3, Seq(0, 1, 2))
  }

  test("+Inf meeting a zero component ranks that cell last, as -Inf") {
    assertProbes(Seq(Double.PositiveInfinity, 0.0), 4, Seq(0, 1, 2, 3))
  }

  test("nProbe beyond the codebook clamps to nCells distinct cells") {
    assertProbes(Seq(Double.NaN, Double.NaN), 9, Seq(0, 1, 2, 3))
  }
}
