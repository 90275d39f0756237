package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import graft.ops.DedupQueries

/** Row-local MinHash signature as a native codegen'd Catalyst expression:
  * `array<string>` → the 64-component `array<bigint>` signature of
  * [[graft.ops.DedupQueries]], component s = min over the distinct token
  * hashes h = rolling_hash(tok) mod TokMod of (permA(s)·h + permB(s)) mod P.
  * One loop inside whole-stage codegen, replacing a HOF form
  * (`array_distinct` + 64 × `array_min(transform(..))`, CodegenFallback)
  * that cost 65 interpreted lambda passes per document. Duplicate hashes
  * are skipped (min is idempotent); null elements are skipped, and a null
  * array or one with no non-null token gives 64 null components.
  */
case class MinhashSig(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires an array<string> argument, got ${other.sql}")
  }

  override def eval(input: InternalRow): Any =
    MinhashSigFn.compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.MinhashSigFn.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

object MinhashSig {
  def apply(toks: Column): Column = GraftSqlBridge.column(
    MinhashSig(GraftSqlBridge.expression(toks)))
}

object MinhashSigFn {
  import DedupQueries.{NumPerms, P, TokMod}
  private val permA = Array.tabulate(NumPerms)(DedupQueries.permA)
  private val permB = Array.tabulate(NumPerms)(DedupQueries.permB)

  /** Referenced from generated code; `toks` may be null. */
  def compute(toks: ArrayData): ArrayData = {
    val n = if (toks == null) 0 else toks.numElements()
    val hs = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        hs(m) = RollingHashFn.compute(toks.getUTF8String(i)) % TokMod
        m += 1
      }
      i += 1
    }
    if (m == 0) return new GenericArrayData(new Array[Any](NumPerms))
    // sorted, each distinct hash is permuted once: equal hashes are adjacent
    java.util.Arrays.sort(hs, 0, m)
    val mins = Array.fill(NumPerms)(Long.MaxValue)
    i = 0
    while (i < m) {
      val h = hs(i)
      if (i == 0 || h != hs(i - 1)) {
        var s = 0
        while (s < NumPerms) {
          val v = (permA(s) * h + permB(s)) % P
          if (v < mins(s)) mins(s) = v
          s += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}
