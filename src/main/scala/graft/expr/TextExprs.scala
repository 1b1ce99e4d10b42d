package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Python `str.title` semantics as a codegen'd expression: a letter is
  * uppercased iff the PRECEDING character is not a letter; all other
  * letters are lowercased. Spark's `initcap` only title-cases at
  * whitespace — the documented delta (SURVEY §7.4 risk 3) is
  * digit/punctuation-adjacent letters: `"2x"` -> Python `"2X"`,
  * initcap `"2x"`. This expression closes that parity gap for
  * golden-output runs; `Cleaning.normalizeTitle` keeps initcap's
  * whitespace semantics, through [[InitCapBinary]].
  */
case class PyTitleCase(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "py_title"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"py_title requires a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      PyTitleCase.title(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.expr.PyTitleCase.title($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): PyTitleCase =
    copy(child = newChild)
}

object PyTitleCase {
  def apply(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      PyTitleCase(org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  def title(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var prevLetter = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLetter(c)) {
        sb.append(if (prevLetter) Character.toLowerCase(c)
                  else Character.toUpperCase(c))
        prevLetter = true
      } else { sb.append(c); prevLetter = false }
      i += 1
    }
    sb.toString
  }
}

/** Spark's `initcap` on UTF8_BINARY strings WITHOUT the ICU path:
  * lowercase, then uppercase each letter at the start of the string or
  * after a space (`UTF8String.toLowerCase().toTitleCase()`, the body of
  * `CollationSupport.InitCap.execBinary`). Under the default
  * `spark.sql.icu.caseMappings.enabled=true`, `initcap` takes the ICU
  * path instead, whose case-mapping tables initialize lazily on the
  * first call in the JVM: one task pays ~1.7 s of CPU and every other
  * concurrent `initcap` task waits on it (measured on a cold 4-core
  * IMDB pipeline run). On ASCII both paths give the same bytes, and
  * `Cleaning.normalizeTitle` only feeds this pure ASCII; CleaningSpec
  * checks the equality under both settings of the conf.
  */
case class InitCapBinary(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "initcap_binary"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"initcap_binary requires a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    input.asInstanceOf[UTF8String].toLowerCase().toTitleCase()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$c.toLowerCase().toTitleCase()")

  override protected def withNewChildInternal(newChild: Expression): InitCapBinary =
    copy(child = newChild)
}

object InitCapBinary {
  def apply(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      InitCapBinary(org.apache.spark.sql.graft.ColumnBridge.expression(c)))
}

/** Position-weighted character fingerprint,
  * sum(codepoint(c_i) * i) mod 1e9+7, 1-based, as a codegen'd tight
  * loop — replaces the interpreted aggregate-over-sequence HOF while
  * producing identical values (the DuckDB oracle is unchanged; the
  * HOF stays test-side as TextExprSpec's reference). */
case class CharFingerprint(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "char_fingerprint"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_fingerprint requires a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    CharFingerprint.fingerprint(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.CharFingerprint.fingerprint($c.toString())")

  override protected def withNewChildInternal(newChild: Expression): CharFingerprint =
    copy(child = newChild)
}

object CharFingerprint {
  def apply(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      CharFingerprint(org.apache.spark.sql.graft.ColumnBridge.expression(c)))

  def fingerprint(s: String): Long = {
    // iterate CODE POINTS with a 1-based position, matching both the
    // HOF formulation (ascii(substring(text, i, 1)) — character
    // indexed) and the oracle (unicode(text[i]))
    var sum = 0L
    var pos = 1L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      sum += cp.toLong * pos
      pos += 1
      i += Character.charCount(cp)
    }
    sum % 1000000007L
  }
}
