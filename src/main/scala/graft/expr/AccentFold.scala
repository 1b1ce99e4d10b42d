package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Accent folding as a native Catalyst expression with codegen
  * (SURVEY.md F1): Unicode NFKD-normalize then drop combining marks and
  * any remaining non-ASCII — `Déstiny` -> `Destiny`.
  *
  * The reference does this on the driver with pandas
  * (data_utils.py:180, applied via toPandas at data_utils.py:204-215 —
  * the X1 pessimization); here it is a distributed, codegen'd unary
  * expression that stays inside whole-stage codegen, so title
  * normalization no longer severs lineage or blocks pushdown.
  */
case class AccentFold(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"accent_fold requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "accent_fold"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(AccentFold.fold(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.expr.AccentFold.fold($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): AccentFold =
    copy(child = newChild)
}

object AccentFold {
  /** JVM-side fold, shared by interpreted eval and generated code. */
  def fold(s: String): String =
    java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKD)
      .replaceAll("\\p{M}+", "")
      .replaceAll("[^\\x00-\\x7F]", "")
}

/** Registration hooks for graft's custom expressions, rules and
  * strategies.
  *
  * Two paths, both idiomatic Spark:
  *  - config: `spark.sql.extensions=graft.expr.GraftExtensions`
  *    (SparkSessionExtensions), or
  *  - programmatic: `GraftExtensions.install(spark)` on an existing
  *    session (what `Sessions.harness` does).
  * After either, `accent_fold(col)` resolves in SQL and via
  * `functions.call_function("accent_fold", col)`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => CollapseAccentFold)
    ext.injectOptimizerRule(_ => graft.plans.Top1WindowToMaxBy)
    // the custom whole-operator pieces too: ONE config line delivers
    // the complete library surface (AsOf.join and the running-sum ride
    // also self-register via experimental.extraStrategies for sessions
    // built without it)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.RunningSumStrategy)
  }
}

object GraftExtensions {
  /** Programmatic twin of the config path, safe to call again on the
    * same session: adds each rule, strategy and SQL function at most
    * once. The rules go in
    * `experimental.extraOptimizations`, not `withExtensions`: that is
    * the batch every harness has planned with, and an extension added
    * after the shared test JVM's session exists is silently ignored. */
  def install(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.extraOptimizations ++= Seq(graft.plans.Top1WindowToMaxBy,
      CollapseAccentFold).filterNot(x.extraOptimizations.contains)
    x.extraStrategies ++= Seq(graft.plans.AsOfJoinStrategy,
      graft.plans.RunningSumStrategy).filterNot(x.extraStrategies.contains)
    GraftFunctions.register(spark)
  }
}

/** Optimizer rule: accent folding is idempotent, so nested applications
  * collapse to one — the shape that arises naturally when a cleaned
  * column is cleaned again by a downstream pipeline stage. Registered
  * via SparkSessionExtensions (config path) or
  * `spark.experimental.extraOptimizations` (programmatic). */
object CollapseAccentFold
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    plan.transformAllExpressions {
      case AccentFold(inner @ AccentFold(_)) => inner
    }
}

object GraftFunctions {

  private type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Int literal argument of a SQL call (e.g. shingle_hashes(text, 3));
    * non-literal shapes fail analysis with a clear message instead of a
    * MatchError. */
  private def intArg(e: Expression, fn: String): Int = e match {
    case lit if lit.foldable => lit.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn expects an integer literal, got $other")
    }
    case _ => throw new IllegalArgumentException(
      s"$fn expects a literal argument")
  }

  private def longArg(e: Expression, fn: String): Long = e match {
    case lit if lit.foldable => lit.eval() match {
      case n: Number => n.longValue()
      case other => throw new IllegalArgumentException(
        s"$fn expects an integer literal, got $other")
    }
    case _ => throw new IllegalArgumentException(
      s"$fn expects a literal argument")
  }

  private def d(name: String, clazz: Class[_],
                builder: Seq[Expression] => Expression): Descriptor =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)

  /** Every custom expression, SQL-callable — the full extension
    * surface is available to `spark.sql(...)` users, not only the
    * Column API. */
  private[graft] val descriptors: Seq[Descriptor] = Seq(
    d("accent_fold", classOf[AccentFold], es => AccentFold(es.head)),
    d("py_title_case", classOf[PyTitleCase], es => PyTitleCase(es.head)),
    d("initcap_binary", classOf[InitCapBinary], es => InitCapBinary(es.head)),
    d("char_fingerprint", classOf[CharFingerprint],
      es => CharFingerprint(es.head)),
    d("dot_product", classOf[DotProduct], es => DotProduct(es(0), es(1))),
    d("shingle_hashes", classOf[ShingleHashes],
      es => ShingleHashes(es.head, intArg(es(1), "shingle_hashes"))),
    d("minhash_sig", classOf[MinHashSig],
      es => MinHashSig(es.head, intArg(es(1), "minhash_sig"),
        longArg(es(2), "minhash_sig"))),
    d("simhash_sig", classOf[SimHashSig], es => SimHashSig(es.head)),
    d("sign_bits_sig", classOf[SignBitsSig],
      es => SignBitsSig(es.head, intArg(es(1), "sign_bits_sig"),
        intArg(es(2), "sign_bits_sig"), longArg(es(3), "sign_bits_sig"))))

  private[graft] val accentFoldDescriptor: Descriptor = descriptors.head

  /** Registers each function the session does not already have, so
    * a second call on the same session is a no-op (no "replaced a
    * previously registered function" warning per call). */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    descriptors.filterNot { case (id, _, _) => registry.functionExists(id) }
      .foreach { case (id, _, builder) =>
        registry.createOrReplaceTempFunction(id.funcName, builder, "built-in")
      }
  }
}
