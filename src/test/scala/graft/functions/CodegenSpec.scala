package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** Guards the codegen path of the native kernels. Round-2 regression: a
  * companion method named like an inherited member (`eval` clashing with
  * `Expression.eval`) gets NO static forwarder, so the generated Java
  * (`graft.functions.Md5Prefix60.eval(...)`) failed to compile and every
  * use silently fell back to interpreted evaluation ("Expr codegen error"
  * WARNs). These tests fail loudly instead.
  */
class CodegenSpec extends AnyFunSuite {

  test("static forwarders exist for all native kernel methods") {
    import java.lang.reflect.Modifier
    def statics(cls: Class[_]): Set[String] =
      cls.getDeclaredMethods
        .filter(m => Modifier.isStatic(m.getModifiers))
        .map(_.getName)
        .toSet
    assert(statics(classOf[Md5Prefix60]).contains("hash60"),
      "Md5Prefix60.hash60 static forwarder missing — codegen will fall back")
    assert(statics(classOf[SimHash32]).contains("simhash"),
      "SimHash32.simhash static forwarder missing — codegen will fall back")
    assert(statics(classOf[LongVecDot]).contains("dot"),
      "LongVecDot.dot static forwarder missing — codegen will fall back")
    assert(statics(classOf[PqEncode]).contains("encode"),
      "PqEncode.encode static forwarder missing — codegen will fall back")
    assert(statics(classOf[IvfCell]).contains("cell"),
      "IvfCell.cell static forwarder missing — codegen will fall back")
    assert(statics(classOf[AdcDist]).contains("dist"),
      "AdcDist.dist static forwarder missing — codegen will fall back")
    assert(statics(classOf[IvfCell]).contains("bestCos"),
      "IvfCell.bestCos static forwarder missing — codegen will fall back")
    assert(statics(classOf[VecQuant]).contains("quantizeArray"),
      "VecQuant.quantizeArray static forwarder missing — codegen will fall back")
    assert(statics(classOf[TermCounts]).contains("counts"),
      "TermCounts.counts static forwarder missing — codegen will fall back")
    // Document the trap itself: `eval` can never be a forwarder here.
    assert(!statics(classOf[Md5Prefix60]).contains("eval"))
    assert(!statics(classOf[SimHash32]).contains("eval"))
  }

  test("generated code compiles and agrees with interpreted eval") {
    val arr = Literal.create(Seq(1L, 3L, 5L, 7L, 2654435761L), ArrayType(LongType))
    val exprs: Seq[Expression] = Seq(
      Md5Prefix60(Literal("hello world")),
      Md5Prefix60(Literal("")),
      SimHash32(arr, 32),
      SimHash32(arr, 60),
      SimHash32(arr, 1),
      LongVecDot(arr, arr))
    // GenerateUnsafeProjection has no interpreted fallback: a Janino
    // compile error in any doGenCode is a thrown exception here, not a WARN.
    val proj = GenerateUnsafeProjection.generate(exprs)
    val row = proj(InternalRow.empty)
    exprs.zipWithIndex.foreach { case (e, i) =>
      val interpreted = e.eval(InternalRow.empty).asInstanceOf[Long]
      assert(row.getLong(i) == interpreted,
        s"codegen/interpreted disagree at $i: ${row.getLong(i)} vs $interpreted")
    }
  }

  test("PqEncode generated code compiles and agrees with interpreted eval") {
    // dim=4, m=2, k=2, subDim=2: vec (1,2,3,4); entries per subspace
    val vec = Literal.create(Seq(1L, 2L, 3L, 4L), ArrayType(LongType))
    val cb = Array(9L, 9L, 1L, 2L, /* m=0: entries (9,9), (1,2) */
                   3L, 4L, 0L, 0L) /* m=1: entries (3,4), (0,0) */
    val norms = Array(162L, 5L, 25L, 0L)
    val e = PqEncode(vec, cb, norms, m = 2, k = 2, subDim = 2)
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val got = proj(InternalRow.empty).getArray(0).toLongArray().toSeq
    val interpreted = e.eval(InternalRow.empty)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    assert(got == interpreted)
    // m=0: d(entry0)=162-2*27=108, d(entry1)=5-2*5=-5 -> code 1
    // m=1: d(entry0)=25-2*25=-25, d(entry1)=0 -> code 0
    assert(got == Seq(1L, 0L))
  }

  test("IvfCell and AdcDist generated code compiles and agrees with eval") {
    val vec = Literal.create(Seq(1L, 2L, 3L, 4L), ArrayType(LongType))
    // centroids: (1,2,3,4) itself (cos 1.0) and an orthogonal-ish one
    val cents = Array(1L, 2L, 3L, 4L, 4L, -3L, 2L, -1L)
    val norms = Array(30L, 30L)
    val cellE = IvfCell(vec, cents, norms, nCells = 2, dim = 4)
    val codes = Literal.create(Seq(1L, 0L), ArrayType(LongType))
    val lut = Literal.create(Seq(10L, 20L, 30L, 40L), ArrayType(LongType))
    val distE = AdcDist(codes, lut) // 20 (m=0,code=1) + 30 (m=1,code=0)
    val proj = GenerateUnsafeProjection.generate(Seq(cellE, distE))
    val row = proj(InternalRow.empty)
    assert(row.getLong(0) == cellE.eval(InternalRow.empty).asInstanceOf[Long])
    assert(row.getLong(0) == 0L, "vector must land on its own centroid")
    assert(row.getLong(1) == distE.eval(InternalRow.empty).asInstanceOf[Long])
    assert(row.getLong(1) == 50L)
  }

  test("VecQuant, IvfBestCos and TermCounts generated code agrees with eval") {
    val floats = Literal.create(Seq(1.5f, null, -2.0e-7f, 0.0f), ArrayType(FloatType))
    val doubles = Literal.create(Seq(2.5e-6, -1.0), ArrayType(DoubleType))
    val vec = Literal.create(Seq(1L, 2L, 3L, 4L), ArrayType(LongType))
    val exprs: Seq[Expression] = Seq(
      VecQuant(floats, ansi = true), VecQuant(doubles, ansi = true),
      IvfBestCos(vec, Array(1L, 2L, 3L, 4L, 4L, -3L, 2L, -1L), Array(30L, 30L),
        nCells = 2, dim = 4),
      TermCounts(Literal(" spark  merge spark ")))
    val proj = GenerateUnsafeProjection.generate(exprs)
    val row = proj(InternalRow.empty)
    def longs(a: ArrayData): Seq[Any] =
      (0 until a.numElements()).map(i => if (a.isNullAt(i)) null else a.getLong(i))
    def interp(i: Int) = exprs(i).eval(InternalRow.empty)
    assert(longs(row.getArray(0)) == longs(interp(0).asInstanceOf[ArrayData]))
    assert(longs(row.getArray(0)) == Seq(1500000L, null, 0L, 0L))
    assert(longs(row.getArray(1)) == longs(interp(1).asInstanceOf[ArrayData]))
    assert(longs(row.getArray(1)) == Seq(3L, -1000000L))
    assert(row.getDouble(2) == interp(2).asInstanceOf[Double])
    assert(row.getDouble(2) == 1.0, "the vector is its own first centroid")
    def terms(a: ArrayData): Seq[(String, Long)] = (0 until a.numElements()).map { i =>
      val s = a.getStruct(i, 2); (s.getUTF8String(0).toString, s.getLong(1))
    }
    assert(terms(row.getArray(3)) == terms(interp(3).asInstanceOf[ArrayData]))
    assert(terms(row.getArray(3)) == Seq("spark" -> 2L, "merge" -> 1L))
  }
}
