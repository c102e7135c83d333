package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native nearest-centroid assignment: maps an `array<bigint>` vector to
  * the cell id of its highest-cosine centroid (guarded cosine rounded to
  * 9 places, ties to the LOWER cell id) in one tight loop over the
  * unboxed `ArrayData`.
  *
  * Semantically identical to the composed formulation
  * ([[graft.ops.Similarity.ivfCellComposed]]:
  * `array_position(coss, array_max(coss)) - 1` over a literal
  * guarded-cosine array) — IvfCellSpec asserts the equivalence — but the
  * composed tree grows ~7 plan nodes per centroid: at nCells = 256 its
  * generated code exceeds Janino's 64 KB method limit and the whole
  * projection silently falls back to interpreted eval (measured on
  * AnnStress: the 200k-vector encode scan). The kernel is one function
  * call regardless of nCells; centroids and norms ride along as flattened
  * reference arrays (plan-time constants).
  *
  * Rounding matches Spark's `round(_, 9)` on doubles exactly:
  * `BigDecimal.valueOf(cos).setScale(9, HALF_UP)`.
  */
case class IvfCell(child: Expression, cents: Array[Long],
                   norms: Array[Long], nCells: Int, dim: Int)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"requires array<bigint> input, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    IvfCell.cell(v.asInstanceOf[ArrayData], cents, norms, nCells, dim)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCents", cents, "long[]")
    val nRef = ctx.addReferenceObj("ivfNorms", norms, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.IvfCell.cell($c, $cRef, $nRef, $nCells, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCell =
    copy(child = newChild)

  override def prettyName: String = "ivf_cell"

  // value-compare the reference arrays so structurally identical
  // assignments stay semanticEquals (Catalyst CSE) — the PqEncode rule
  override def equals(other: Any): Boolean = other match {
    case that: IvfCell =>
      child == that.child && nCells == that.nCells && dim == that.dim &&
        java.util.Arrays.equals(cents, that.cents) &&
        java.util.Arrays.equals(norms, that.norms)
    case _ => false
  }

  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(nCells),
      Integer.valueOf(dim),
      Integer.valueOf(java.util.Arrays.hashCode(cents)),
      Integer.valueOf(java.util.Arrays.hashCode(norms)))
}

/** [[IvfCell]]'s multi-probe sibling: the `nProbe` highest-cosine cell
  * ids, ordered best-first (ties to the lower cell id) — FAISS's nprobe
  * as a DISTRIBUTED projection, for batch probes whose query set is
  * itself a DataFrame. `IvfCells(v, cents, 1)` = `array(IvfCell(v, cents))`.
  */
case class IvfCells(child: Expression, cents: Array[Long],
                    norms: Array[Long], nCells: Int, dim: Int, nProbe: Int)
    extends UnaryExpression {
  require(nProbe >= 1 && nProbe <= nCells,
    s"nProbe must be in [1, $nCells], got $nProbe")

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"requires array<bigint> input, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    IvfCell.topCells(v.asInstanceOf[ArrayData], cents, norms, nCells, dim,
      nProbe)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCents", cents, "long[]")
    val nRef = ctx.addReferenceObj("ivfNorms", norms, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.IvfCell.topCells($c, $cRef, $nRef, $nCells, $dim, $nProbe)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfCells =
    copy(child = newChild)

  override def prettyName: String = "ivf_cells"

  override def equals(other: Any): Boolean = other match {
    case that: IvfCells =>
      child == that.child && nCells == that.nCells && dim == that.dim &&
        nProbe == that.nProbe &&
        java.util.Arrays.equals(cents, that.cents) &&
        java.util.Arrays.equals(norms, that.norms)
    case _ => false
  }

  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(nCells),
      Integer.valueOf(dim), Integer.valueOf(nProbe),
      Integer.valueOf(java.util.Arrays.hashCode(cents)),
      Integer.valueOf(java.util.Arrays.hashCode(norms)))
}

/** [[IvfCell]]'s best-cosine sibling: the rounded guarded cosine to the
  * assigned cell, `array_max` over the composed per-centroid array
  * ([[graft.ops.Similarity.ivfCellCoss]]) in the same arithmetic as
  * [[IvfCell.cosArray]]. With [[IvfCell]] it replaces the literal
  * guarded-cosine array whenever a caller needs both the cell and its
  * cosine (SemDeDup's keep rule).
  */
case class IvfBestCos(child: Expression, cents: Array[Long],
                      norms: Array[Long], nCells: Int, dim: Int)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"requires array<bigint> input, got $other")
    }

  override def nullSafeEval(v: Any): Any =
    IvfCell.bestCos(v.asInstanceOf[ArrayData], cents, norms, nCells, dim)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val cRef = ctx.addReferenceObj("ivfCents", cents, "long[]")
    val nRef = ctx.addReferenceObj("ivfNorms", norms, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.IvfCell.bestCos($c, $cRef, $nRef, $nCells, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfBestCos =
    copy(child = newChild)

  override def prettyName: String = "ivf_best_cos"

  override def equals(other: Any): Boolean = other match {
    case that: IvfBestCos =>
      child == that.child && nCells == that.nCells && dim == that.dim &&
        java.util.Arrays.equals(cents, that.cents) &&
        java.util.Arrays.equals(norms, that.norms)
    case _ => false
  }

  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(nCells),
      Integer.valueOf(dim),
      Integer.valueOf(java.util.Arrays.hashCode(cents)),
      Integer.valueOf(java.util.Arrays.hashCode(norms)))
}

object IvfBestCos {
  def apply(v: Column, cents: Array[Array[Long]]): Column = {
    val dim = cents(0).length
    val flat = cents.flatten
    val norms = cents.map(cv => cv.map(x => x * x).sum)
    ColumnBridge.column(IvfBestCos(ColumnBridge.expression(v), flat, norms,
      cents.length, dim))
  }
}

object IvfCells {
  def apply(v: Column, cents: Array[Array[Long]], nProbe: Int): Column = {
    val dim = cents(0).length
    val flat = cents.flatten
    val norms = cents.map(cv => cv.map(x => x * x).sum)
    ColumnBridge.column(IvfCells(ColumnBridge.expression(v), flat, norms,
      cents.length, dim, nProbe))
  }
}

object IvfCell {
  /** Top-`nProbe` cells by (rounded guarded cosine desc, cell id asc),
    * best first — the kernel behind [[IvfCells]]. Selection by repeated
    * argmax (nProbe is small); arithmetic identical to [[cosArray]].
    */
  def topCells(v: ArrayData, cents: Array[Long], norms: Array[Long],
               nCells: Int, dim: Int, nProbe: Int)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val va = new Array[Long](v.numElements())
    var i = 0
    while (i < va.length) { va(i) = v.getLong(i); i += 1 }
    val coss = cosArray(va, cents, norms, nCells, dim)
    val taken = new Array[Boolean](nCells)
    val out = new Array[Long](nProbe)
    var n = 0
    while (n < nProbe) {
      var best = Double.NegativeInfinity
      var bestC = -1
      var c = 0
      while (c < nCells) {
        if (!taken(c) && coss(c) > best) { best = coss(c); bestC = c }
        c += 1
      }
      taken(bestC) = true
      out(n) = bestC
      n += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Static kernel for both interpreted and generated code paths.
    * `cents` is `[nCells][dim]` flattened; `norms` is per-cell ⟨c,c⟩.
    */
  def cell(v: ArrayData, cents: Array[Long], norms: Array[Long],
           nCells: Int, dim: Int): Long = {
    val n = math.min(v.numElements(), dim)
    val vn = sqNorm(v, n)
    var best = Double.NegativeInfinity
    var bestC = 0L
    var c = 0
    while (c < nCells) {
      val r = roundedCos(v, n, vn, cents, norms, c, dim)
      if (r > best) { best = r; bestC = c } // strict >: ties keep lower c
      c += 1
    }
    bestC
  }

  /** The best rounded guarded cosine over all cells — the value at
    * [[cell]]'s choice, `array_max` of the composed per-centroid array —
    * the kernel behind [[IvfBestCos]].
    */
  def bestCos(v: ArrayData, cents: Array[Long], norms: Array[Long],
              nCells: Int, dim: Int): Double = {
    val n = math.min(v.numElements(), dim)
    val vn = sqNorm(v, n)
    var best = Double.NegativeInfinity
    var c = 0
    while (c < nCells) {
      best = math.max(best, roundedCos(v, n, vn, cents, norms, c, dim))
      c += 1
    }
    best
  }

  private def sqNorm(v: ArrayData, n: Int): Long = {
    var vn = 0L
    var i = 0
    while (i < n) { val x = v.getLong(i); vn += x * x; i += 1 }
    vn
  }

  /** Cell `c`'s guarded cosine rounded to 9 places, over the first `n`
    * components of `v` (square norm `vn`).
    */
  private def roundedCos(v: ArrayData, n: Int, vn: Long, cents: Array[Long],
                         norms: Array[Long], c: Int, dim: Int): Double = {
    val off = c * dim
    var dot = 0L
    var i = 0
    while (i < n) { dot += v.getLong(i) * cents(off + i); i += 1 }
    val cos =
      if (vn == 0L || norms(c) == 0L) -1.0
      else dot.toDouble / (math.sqrt(vn.toDouble) * math.sqrt(norms(c).toDouble))
    java.math.BigDecimal.valueOf(cos)
      .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** The per-centroid rounded guarded cosines behind [[cell]] — the SAME
    * JVM arithmetic, exposed for driver-side callers (the probe's
    * top-nProbe cell ranking over a collected query set) so their cell
    * choice cannot drift from the kernel's assignment.
    */
  def cosArray(v: Array[Long], cents: Array[Long], norms: Array[Long],
               nCells: Int, dim: Int): Array[Double] = {
    var vn = 0L
    var i = 0
    val n = math.min(v.length, dim)
    while (i < n) { vn += v(i) * v(i); i += 1 }
    val out = new Array[Double](nCells)
    var c = 0
    while (c < nCells) {
      val off = c * dim
      var dot = 0L
      i = 0
      while (i < n) { dot += v(i) * cents(off + i); i += 1 }
      val cos =
        if (vn == 0L || norms(c) == 0L) -1.0
        else dot.toDouble / (math.sqrt(vn.toDouble) * math.sqrt(norms(c).toDouble))
      out(c) = java.math.BigDecimal.valueOf(cos)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      c += 1
    }
    out
  }

  /** Column builder over the collected centroid rows. */
  def apply(v: Column, cents: Array[Array[Long]]): Column = {
    val dim = cents(0).length
    val flat = cents.flatten
    val norms = cents.map(cv => cv.map(x => x * x).sum)
    ColumnBridge.column(
      IvfCell(ColumnBridge.expression(v), flat, norms, cents.length, dim))
  }
}
