package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the MinHash signature (brief's
  * preference ladder: a codegen'd `Expression` beats a Scala UDF). Unlike
  * the UDF form, this participates in whole-stage codegen — no
  * encoder/closure indirection, the generated code calls the static
  * hashing kernel directly — and it needs no session-level registration
  * to be used from the DataFrame API ([[MinHashSig.apply]]).
  *
  * The kernel itself ([[graft.pipeline.MinHash.signature]]) is shared
  * with the UDF path, so both produce identical signatures.
  */
case class MinHashSigExpression(child: Expression)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  // array<int>, not array<bigint> (round 18): every slot is a mod-P
  // minimum < 2^31, and the signature is the fattest payload in the
  // dedup family — INT halves the collapse exchange, the stores, the
  // verify shuffle and the delta broadcasts. Values are unchanged.
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def foldable: Boolean = child.foldable // literal args constant-fold
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSigExpression.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashSigExpression.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpression =
    copy(child = newChild)
}

object MinHashSigExpression {
  /** Static kernel entry used by both interpreted eval and generated code.
    * The primitive array is copied straight into an unsafe array:
    * `GenericArrayData(Array[Int])` would box all 128 slots into an
    * `Object[]` per document. */
  def compute(s: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(graft.pipeline.MinHash.signature(s.toString))
}

object MinHashSig {
  /** DataFrame-API form: `MinHashSig(col("text"))`. */
  def apply(c: Column): Column =
    GraftSqlBridge.column(MinHashSigExpression(GraftSqlBridge.expression(c)))
}

/** Native 62-bit SimHash (same pattern as [[MinHashSigExpression]];
  * kernel shared with [[graft.pipeline.NearDup.simHash]]). */
case class SimHashExpression(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(input: Any): Any =
    SimHashExpression.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHashExpression.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashExpression =
    copy(child = newChild)
}

object SimHashExpression {
  def compute(s: UTF8String): Long = graft.pipeline.NearDup.simHash(s.toString)
}

object SimHash {
  def apply(c: Column): Column =
    GraftSqlBridge.column(SimHashExpression(GraftSqlBridge.expression(c)))
}

/** Native band-hash fold over a minhash signature — the
  * [[MinHashSigExpression]] ladder applied to the D3 banding step: the
  * `transform(sequence(...), j -> aggregate(slice(sig, ...), ...))`
  * HOF spelling ran interpreted per element (measured ~half the skinny
  * bucket-count pass of the rep-graph build); this is the same
  * `(h * 131 + v) % P` fold in one codegen'd pass. */
case class BandHashesExpression(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<int>, got $t")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def foldable: Boolean = child.foldable
  override def prettyName: String = "graft_band_hashes"
  override protected def nullSafeEval(input: Any): Any =
    BandHashesExpression.compute(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.BandHashesExpression.compute($c)")
  override protected def withNewChildInternal(newChild: Expression): BandHashesExpression =
    copy(child = newChild)
}

object BandHashesExpression {
  def compute(sig: ArrayData): ArrayData = {
    import graft.pipeline.MinHash.{NumBands, RowsPerBand, HashMult, P}
    val out = new Array[Long](NumBands)
    var j = 0
    while (j < NumBands) {
      var h = sig.getInt(j * RowsPerBand).toLong
      var k = 1
      while (k < RowsPerBand) {
        h = (h * HashMult + sig.getInt(j * RowsPerBand + k)) % P
        k += 1
      }
      out(j) = h
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out) // unboxed, as in MinHashSigExpression
  }
}

object BandHashes {
  def apply(c: Column): Column =
    GraftSqlBridge.column(BandHashesExpression(GraftSqlBridge.expression(c)))
}
