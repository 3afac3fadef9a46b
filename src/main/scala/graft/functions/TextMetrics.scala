package graft.functions

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.rules.QualityRules

/** Static kernels shared by interpreted eval and generated code —
  * `doGenCode` emits direct calls into these, so the expressions stay
  * INSIDE whole-stage codegen (no UDF object, no encoder round-trip,
  * no closure serialization).
  */
object TextMetricsUtil {
  def wordCount(s: UTF8String): Int =
    if (s == null) 0 else QualityRules.wordCount(s.toString)

  def symbolRatio(s: UTF8String): Double =
    if (s == null) 0.0 else QualityRules.symbolRatio(s.toString)

  /** 64-bit polynomial rolling hash of the ws-normalized lowercased
    * text (graft.textstats.TextStats.fingerprint semantics).
    */
  def fingerprint(s: UTF8String): Long =
    if (s == null) 0L else graft.textstats.TextStats.fingerprint(s.toString)

  /** Distinct lowercased \s+-token ratio — value-identical to the
    * built-in chain
    * `size(array_distinct(array_remove(split(lower(x), "\\s+"), ""))) /
    *  size(array_remove(split(lower(x), "\\s+"), ""))`
    * on every token-ful input (same Java-regex ASCII \s token
    * boundaries) while the JVM's default locale lowercases as
    * `Locale.ROOT` does: the chain's `lower()` is
    * `UTF8String.toLowerCase`, which lowercases non-ASCII text under the
    * default locale, and this lowercases under `Locale.ROOT` whatever
    * the default, as the kernel's repetition rule and DuckDB's `lower`
    * do. Single-pass with no array allocation
    * ([[QualityRules.distinctRatioOfLower]] on the lowercased copy).
    * DELIBERATE delta on token-less
    * input (only [[QualityRules.isRegexSpace]] chars): the chain
    * divides by zero (ANSI error / non-ANSI NULL); this returns NaN —
    * unreachable in the pipeline (repetition rule gates on
    * wc >= repMinWords) and asserted in FunctionsSpec.
    */
  def distinctRatio(s: UTF8String): Double = {
    if (s == null) return Double.NaN
    val lower = s.toString.toLowerCase(Locale.ROOT)
    if (lower.forall(QualityRules.isRegexSpace)) Double.NaN
    else QualityRules.distinctRatioOfLower(lower)
  }
}

/** Custom Catalyst expressions (SURVEY.md §2.13 "Catalyst Expression
  * (optional)"): codegen'd scalar text metrics. Measured rationale:
  * per-stage timing showed the generic built-in chain for these metrics
  * (`size(split(...))`, `length(regexp_replace(...))`) allocating
  * arrays / running regexes per row; these single-pass expressions
  * compute the same values with zero allocation beyond the String and
  * participate in whole-stage codegen (no Scala-UDF serialization
  * boundary).
  */
case class WordCountExpr(child: Expression)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = IntegerType
  override protected def nullSafeEval(input: Any): Any =
    TextMetricsUtil.wordCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextMetricsUtil.wordCount($c)")
  override protected def withNewChildInternal(newChild: Expression): WordCountExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_word_count"
}

case class SymbolRatioExpr(child: Expression)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(input: Any): Any =
    TextMetricsUtil.symbolRatio(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextMetricsUtil.symbolRatio($c)")
  override protected def withNewChildInternal(newChild: Expression): SymbolRatioExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_symbol_ratio"
}

case class DistinctRatioExpr(child: Expression)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(input: Any): Any =
    TextMetricsUtil.distinctRatio(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextMetricsUtil.distinctRatio($c)")
  override protected def withNewChildInternal(newChild: Expression): DistinctRatioExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_distinct_ratio"
}

case class FingerprintExpr(child: Expression)
    extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def dataType: DataType = LongType
  override protected def nullSafeEval(input: Any): Any =
    TextMetricsUtil.fingerprint(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextMetricsUtil.fingerprint($c)")
  override protected def withNewChildInternal(newChild: Expression): FingerprintExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_fingerprint"
}

/** Column-API face of the custom expressions. */
object TextMetrics {
  def word_count(c: Column): Column = GraftBridge.column(WordCountExpr(GraftBridge.expression(c)))
  def symbol_ratio(c: Column): Column = GraftBridge.column(SymbolRatioExpr(GraftBridge.expression(c)))
  def fingerprint(c: Column): Column = GraftBridge.column(FingerprintExpr(GraftBridge.expression(c)))
  def distinct_ratio(c: Column): Column = GraftBridge.column(DistinctRatioExpr(GraftBridge.expression(c)))

  /** Every SQL function, (name, expression class, builder): the one
    * list that [[register]] and [[graft.GraftExtensions]] both install.
    */
  val sqlFunctions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("graft_word_count", classOf[WordCountExpr], es => WordCountExpr(es.head)),
    ("graft_symbol_ratio", classOf[SymbolRatioExpr], es => SymbolRatioExpr(es.head)),
    ("graft_fingerprint", classOf[FingerprintExpr], es => FingerprintExpr(es.head)),
    ("graft_distinct_ratio", classOf[DistinctRatioExpr], es => DistinctRatioExpr(es.head)))

  /** Register as SQL functions on a session (spark.sql("... graft_word_count(text) ...")). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
