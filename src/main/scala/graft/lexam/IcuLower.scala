package graft.lexam

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions.{call_function, col}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Spark 4.1's `lower()` of a UTF8_BINARY string, byte for byte:
  * ASCII-only input lowers byte-wise, anything else through ICU's
  * `UCharacter.toLowerCase` of the valid string (invalid UTF-8 becomes
  * U+FFFD first). Spark routes the same computation through
  * `CollationAwareUTF8String`, whose static initializer title-cases
  * every code point through ICU's break iterator: ~1.7 s the first time
  * a JVM lowers a string, against ~0.2 s for `UCharacter.toLowerCase`
  * itself. The LEXam search runs the first `lower()` of a session, so
  * it paid that cost inside the first search call. */
case class IcuLower(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "icu_lower"

  protected override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("icuLower", this, classOf[IcuLower].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  def compute(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  override protected def withNewChildInternal(newChild: Expression): IcuLower =
    copy(child = newChild)
}

object IcuLower {
  val Name = "icu_lower"

  /** `lower(col(name))` for a frame of `session`, without the first-call
    * cost; registers `icu_lower` in `session` when it is not there yet. */
  def lower(session: SparkSession, name: String): Column = {
    val reg = castToImpl(session).sessionState.functionRegistry
    if (!reg.functionExists(FunctionIdentifier(Name)))
      reg.createOrReplaceTempFunction(Name, exprs => IcuLower(exprs.head), "scala_udf")
    call_function(Name, col(name))
  }
}
