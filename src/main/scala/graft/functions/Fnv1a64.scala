package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** FNV-1a 64-bit rolling hash over a string's UTF-8 bytes, as a native
  * Catalyst `Expression` with whole-stage codegen (document
  * fingerprinting for dedup; preferred over a Scala UDF so it stays
  * inside the generated loop — SURVEY §2.9 / builder "functions, not
  * UDFs" rule).
  */
case class Fnv1a64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "fnv1a64"

  override protected def nullSafeEval(input: Any): Any =
    Fnv1a64.hashBytes(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Fnv1a64.hashBytes($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Fnv1a64 =
    copy(child = newChild)
}

object Fnv1a64 {
  /** Callable from generated code. */
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def hashString(s: String): Long =
    hashBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
