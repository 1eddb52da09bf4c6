package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Per-token content hashing of an `array<string>` in ONE pass: each token
  * maps to `pmod(hash60(t), P)` — the md5-prefix hash reduced into the
  * mod-P gram-fold domain. This is the step feeding every shingle/MinHash/
  * winnowing/repetition pipeline (`Dedup.shingleBase`, `decontaminate`,
  * `gramRepetition`), which previously ran as an interpreted `transform`
  * lambda: per element, a variable binding plus a generic eval of the
  * `pmod(cast(hash60(t)))` tree. The md5 itself (`Hash60.hash`) is the
  * same kernel either way; this removes the per-element interpreter frame
  * around it — the same treatment [[WinnowSketchExpr]] and
  * [[NgramHashExpr]] gave the downstream folds.
  *
  * `reduceModP = false` keeps the FULL 60-bit hash per token (no mod-P
  * reduction) — the shared token-hash layer `Dedup.fullHashBase` persists
  * once per corpus: gram folds reduce it mod P as they consume it
  * (`NgramHashExpr.reduceInputs`), and SimHash votes on its bits directly
  * (`SimHash60Expr.preHashed`), so ONE md5 pass serves both families.
  * `pmod(fullHash, P)` equals the reduced form exactly, which is what
  * keeps the layered plans oracle-identical (FunctionsSpec asserts it).
  *
  * `fold = true` is the Rabin-Karp variant (`TextAnalysis.fingerprints`):
  * instead of the hash ARRAY, return the single rolling fold
  * `acc ← (acc·B + h) mod P` over the token hashes (LongType, 0 for an
  * empty array). The fold requires the mod-P domain (an unreduced 60-bit
  * h would overflow `acc·B + h`), so `fold` forces `reduceModP`. Null
  * semantics mirror the HOF forms exactly (asserted in FunctionsSpec): a
  * null array yields null; a null ELEMENT yields a null hash slot
  * elementwise, and poisons the fold to null from that step on (null
  * propagates through `acc·B + h` to the end).
  */
case class TokenHashExpr(child: Expression, fold: Boolean, reduceModP: Boolean = true)
    extends UnaryExpression with CodegenFallback {
  require(!fold || reduceModP, "the rolling fold is only defined in the mod-P domain")

  import NgramHashExpr.{B, P}

  override def dataType: DataType =
    if (fold) LongType else ArrayType(LongType, containsNull = true)
  // the fold goes null on a null ELEMENT too, so a non-nullable array of
  // nullable strings can still produce null — element nullability must
  // flow into ours or downstream null-elision optimizes wrongly
  override def nullable: Boolean =
    if (fold) child.nullable || (child.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    })
    else child.nullable
  override def prettyName: String =
    if (fold) "token_fold_hash"
    else if (reduceModP) "token_hashes"
    else "token_hashes_full"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val m = a.numElements()
    if (fold) {
      var acc = 0L
      var i = 0
      while (i < m) {
        if (a.isNullAt(i)) return null // null token poisons the whole fold
        val h = Math.floorMod(Hash60.hash(a.getUTF8String(i).getBytes), P)
        acc = Math.floorMod(acc * B + h, P)
        i += 1
      }
      acc
    } else {
      val out = new Array[Any](m)
      var i = 0
      while (i < m) {
        if (!a.isNullAt(i)) {
          val h = Hash60.hash(a.getUTF8String(i).getBytes)
          out(i) = if (reduceModP) Math.floorMod(h, P) else h
        }
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): TokenHashExpr =
    copy(child = newChild)
}
