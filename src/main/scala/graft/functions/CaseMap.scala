package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `lower`/`upper` of a string with the exact bytes of Spark's default
  * (`spark.sql.icu.caseMappings.enabled=true`, UTF8_BINARY) case mapping.
  * [[map]] restates `CollationAwareUTF8String.toLowerCase`/`toUpperCase`
  * instead of calling them: that class's static initializer title-cases
  * all 1,114,112 code points (about 3 GB allocated and 1 s of CPU), paid
  * by whichever query maps case first in the JVM. The column is a
  * codegen'd `StaticInvoke` of [[map]], so eval and codegen run the same
  * helper; null in, null out. */
object CaseMap {

  /** Spark's default `upper` (or `lower`): byte-wise for ASCII, ICU's full
    * string case mapping otherwise. */
  def map(s: UTF8String, upper: Boolean): UTF8String =
    if (s.isFullAscii) { if (upper) s.toUpperCaseAscii else s.toLowerCaseAscii }
    else if (upper) UTF8String.fromString(UCharacter.toUpperCase(s.toValidString))
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  def lower(c: Column): Column = invoke(c, upper = false)
  def upper(c: Column): Column = invoke(c, upper = true)

  private def invoke(c: Column, upper: Boolean): Column =
    GraftSql.column(StaticInvoke(getClass, StringType, "map",
      Seq(GraftSql.expression(c), Literal(upper)), Seq(StringType, BooleanType)))
}
