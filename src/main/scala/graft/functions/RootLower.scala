// Hosted inside the org.apache.spark.sql namespace: AbstractDataType and
// classic.ExpressionUtils are private[sql] (the NfcNormalize pattern).
package org.apache.spark.sql.graftfn

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Locale-independent lowercase as a codegen'd Catalyst expression, for
  * per-document gauges that lowercase every row.
  *
  * Why not Spark's `lower()`: in Spark 4.1 it takes the ICU case-mapping
  * path (`spark.sql.icu.caseMappings.enabled`). The first call in a JVM
  * runs `CollationAwareUTF8String`'s static initialiser, which calls
  * `UCharacter.toTitleCase` on every code point to fill a title-case
  * lookup table: about 1 s of one thread's CPU (the initialiser alone,
  * fresh JDK 17 JVM, 4-core VM), paid by whichever task lowercases
  * first. This expression does not use that class.
  *
  * Semantics: ASCII-only strings take `UTF8String.toLowerCaseAscii` (the
  * same fast path `lower()` takes); anything else is
  * `String.toLowerCase(Locale.ROOT)`, so the result does not depend on
  * the JVM's default locale (a Turkish default does not turn `I` into
  * dotless `ı`). That matches ICU's root-locale lowercase — final sigma
  * (`Σ` → `ς` at a word end), `İ` → `i̇`, `ẞ` → `ß` — for every code point
  * of the JDK's Unicode version. It differs where ICU knows newer
  * Unicode than the JDK: on JDK 17 (Unicode 13) against ICU 77
  * (Unicode 16), 67 capital letters added in Unicode 14–16 stay
  * unchanged here and are lowered by `lower()`: U+1C89, U+2C2F,
  * U+A7C0, U+A7CB, U+A7CC, U+A7D0, U+A7D6, U+A7D8, U+A7DA, U+A7DC,
  * Vithkuqi U+10570–U+10595 and Garay U+10D50–U+10D65. Invalid UTF-8
  * decodes to U+FFFD first, as in `lower()`.
  */
case class RootLower(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_lower"

  override def nullSafeEval(input: Any): Any =
    RootLower.exec(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"org.apache.spark.sql.graftfn.RootLower.exec($c)")

  override protected def withNewChildInternal(newChild: Expression): RootLower =
    copy(child = newChild)
}

object RootLower {

  def exec(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(s.toString.toLowerCase(java.util.Locale.ROOT))

  /** Column-API entry point. */
  def lower(text: Column): Column =
    ExpressionUtils.column(RootLower(ExpressionUtils.expression(text)))
}
