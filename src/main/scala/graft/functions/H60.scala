package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native form of the engine's 60-bit md5-derived hash
  * ([[graft.ops.TextFns.h60]]): the composed
  * `conv(substring(md5(x),1,15),16,10)` chain allocates a 32-char hex
  * string, a substring, and re-parses it per row; this takes the first
  * 60 bits of the digest directly. Bit-identical to the composed form
  * (first 15 hex digits == first 60 bits, proven by the DuckDB oracle
  * compare, which still uses the string form).
  */
case class H60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "h60"

  override def nullSafeEval(input: Any): Any =
    H60.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.H60.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object H60 {
  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5(s), as a non-negative long. */
  def hash(s: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }
}
