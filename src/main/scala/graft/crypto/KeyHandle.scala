package graft.crypto

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{BinaryType, DataType}

/** Key material as a REDACTED plan node.
  *
  * `lit(keyBytes)` puts the raw key into the Catalyst plan as a
  * `Literal`, which then appears verbatim (hex-encoded) in `explain()`
  * output, the Spark UI SQL tab, and event logs — for an
  * encryption-centric engine that leaks the secret through every
  * observability channel. `KeyHandle` closes that channel:
  *
  *  - the plan string (`toString`/`sql`) renders only the key LABEL
  *    (e.g. `graft_key(column:c_name)`), never the bytes;
  *  - evaluation returns the bytes directly; codegen reaches them
  *    through `ctx.addReferenceObj` (the expression's reference array),
  *    so generated code contains an opaque `references[i]` slot, not a
  *    key constant — and the expression stays inside WholeStageCodegen
  *    exactly like a Literal would;
  *  - `foldable = false` (the LeafExpression default) keeps the
  *    optimizer's ConstantFolding from re-materializing the bytes as a
  *    Literal in the optimized plan.
  *
  * The bytes still travel to executors inside the serialized task
  * binary — unavoidable for data-path decryption anywhere (enable
  * `spark.io.encryption.enabled` + RPC encryption in transit on real
  * clusters); what this node guarantees is that no HUMAN-facing plan
  * rendering ever contains key material.
  */
final case class KeyHandle(label: String, bytes: Array[Byte]) extends LeafExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = bytes

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftKeyBytes", bytes, "byte[]")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(ref, dataType))
  }

  override def toString: String = s"graft_key($label)"
  override def sql: String = s"graft_key('$label')"
}

object KeyHandle {
  /** Column wrapping a key for [[GcmKernel]] call sites. */
  def column(label: String, bytes: Array[Byte]): Column =
    graftshim.column(KeyHandle(label, bytes))
}
