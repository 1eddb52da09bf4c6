package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Nearest-centroid search against a PLAN-TIME codebook, in one pass per
  * row — the shuffle-free projection form of "array_min over an array of
  * (dist2, cell) structs" that `Similarity.assignStruct` / `ivfTopK`
  * previously built from k separate `Dist2Expr` calls plus CreateArray /
  * CreateStruct / array_min plumbing. The codebook (k×dim doubles) is a
  * constructor constant — exactly the `SimHash60Expr` pattern of moving
  * row-invariant work to plan build time — so evaluation is a single
  * tight k×dim loop with no per-row intermediate structures.
  *
  * Semantics are IDENTICAL to the struct formulation (equivalence-tested
  * in FunctionsSpec): per cell, dist² = Σ (xᵢ−cᵢ)² accumulated
  * left-to-right in doubles (the `Dist2Expr` operation sequence, which
  * the DuckDB oracle replays); the winner is min by (dist, cell) — ties
  * break toward the LOWER cell id, matching array_min's lexicographic
  * struct order. Malformed vectors (null element, or length ≠ codebook
  * dim) reproduce the old path too: every dist² is null, the struct
  * compare falls through to the cell id, and cell 0 wins with a null
  * distance — so `(null, 0)` here, `[0..n-1]` for the n-nearest variant.
  * A null vector is null out.
  */
abstract class CodebookExprBase extends UnaryExpression {
  def child: Expression
  def codebook: Seq[Seq[Double]]

  /** Public entry for generated code: the whole argmin scan runs as ONE
    * precompiled JVM call per row (the `addReferenceObj` + method-call
    * codegen idiom), so the projection stays inside whole-stage codegen —
    * no CodegenFallback InternalRow materialization, and the k×dim loop
    * is regular compiled bytecode rather than a giant inlined Java string
    * (which for k·dim in the thousands would blow the JIT method limit).
    */
  final def evalVec(v: ArrayData): Any = nullSafeEval(v)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebookExpr", this, classOf[CodebookExprBase].getName)
    val jt = CodeGenerator.javaType(dataType)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = ($jt) $ref.evalVec($v);")
  }

  // NOTHING here may touch `codebook`/`n` eagerly: the constructor chain of
  // a Catalyst Expression's non-serializable ancestors re-runs during Java
  // DESERIALIZATION, before the case-class fields are restored (the same
  // rule that keeps VectorFoldExpr's members lazy). Validation lives in
  // checkInputDataTypes, which the analyzer runs once per plan.
  @transient protected lazy val k: Int = codebook.length
  @transient protected lazy val dim: Int = codebook.head.length

  // flattened row-major for cache-friendly scanning
  @transient protected lazy val flat: Array[Double] = {
    val a = new Array[Double](k * dim)
    var c = 0
    while (c < k) {
      var j = 0
      while (j < dim) { a(c * dim + j) = codebook(c)(j); j += 1 }
      c += 1
    }
    a
  }

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _ if codebook.isEmpty || codebook.head.isEmpty ||
        codebook.exists(_.length != codebook.head.length) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a non-empty rectangular k x dim codebook")
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got ${t.catalogString}")
  }

  @transient private lazy val get: (ArrayData, Int) => Double =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => (a, i) => a.getFloat(i).toDouble
      case _         => (a, i) => a.getDouble(i)
    }

  /** All k squared distances, or null if the vector is malformed. */
  protected final def distances(input: Any): Array[Double] = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != dim) return null
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
    val x = new Array[Double](dim)
    i = 0
    while (i < dim) { x(i) = get(v, i); i += 1 }
    val d = new Array[Double](k)
    var c = 0
    while (c < k) {
      var acc = 0.0d
      val off = c * dim
      var j = 0
      while (j < dim) {
        val t = x(j) - flat(off + j)
        acc += t * t
        j += 1
      }
      d(c) = acc
      c += 1
    }
    d
  }
}

/** struct<d: double, cell: int> of the nearest codebook cell — drop-in for
  * `array_min(array(struct(dist2(v, cᵢ), i)...))`.
  */
case class NearestCellExpr(child: Expression, codebook: Seq[Seq[Double]])
    extends CodebookExprBase {

  override def prettyName: String = "nearest_cell"
  override def dataType: DataType =
    StructType(Seq(StructField("d", DoubleType), StructField("cell", IntegerType, nullable = false)))

  override protected def nullSafeEval(input: Any): Any = {
    val d = distances(input)
    if (d == null) return new GenericInternalRow(Array[Any](null, 0))
    var best = 0
    var c = 1
    while (c < k) { // strict < : ties keep the lower cell id
      if (d(c) < d(best)) best = c
      c += 1
    }
    new GenericInternalRow(Array[Any](d(best), best))
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellExpr =
    copy(child = newChild)
}

/** The `n` nearest cell ids in (dist, cell) order — drop-in for
  * `transform(slice(array_sort(structs), 1, n), _.cell)` (ivfTopK's probe
  * list). Selection is by repeated strict-min extraction, which reproduces
  * array_sort's lexicographic (d, cell) order including ties.
  */
case class NearestCellsExpr(child: Expression, codebook: Seq[Seq[Double]], n: Int)
    extends CodebookExprBase {

  override def prettyName: String = "nearest_cells"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = super.checkInputDataTypes() match {
    case TypeCheckResult.TypeCheckSuccess if n < 1 || n > k =>
      TypeCheckResult.TypeCheckFailure(s"$prettyName needs 1 <= n <= k, got n=$n k=$k")
    case r => r
  }

  override protected def nullSafeEval(input: Any): Any = {
    val d = distances(input)
    if (d == null) return new GenericArrayData((0 until n).toArray)
    val taken = new Array[Boolean](k)
    val out = new Array[Int](n)
    var r = 0
    while (r < n) {
      var best = -1
      var c = 0
      while (c < k) {
        if (!taken(c) && (best < 0 || d(c) < d(best))) best = c
        c += 1
      }
      taken(best) = true
      out(r) = best
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellsExpr =
    copy(child = newChild)
}
