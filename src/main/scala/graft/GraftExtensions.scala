package graft

import graft.functions.VectorFunctions
import graft.ops.TextAnalysis
import org.apache.spark.sql.{Column, GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering the engine's native expressions for SQL
  * use (`SELECT vec_cosine(a, b) ...`, `SELECT graft_strip_markup(text)
  * ...`):
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * // or: --conf spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * The vector functions are single custom Catalyst expressions; the text
  * functions are the engine's Column compositions re-exposed through the
  * function registry, so `FeatureStore.sql` users get the whole text-
  * analysis family without leaving SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "4.0.0", "", "scala_udf")

  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, usage, builder) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
}

object GraftExtensions {

  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    if (args.size != n) throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map("functionName" -> name,
        "expectedNum" -> n.toString, "actualNum" -> args.size.toString,
        "docroot" -> ""))

  /** Adapt a 1-arg Column function to a FunctionRegistry builder (eager
    * node conversion — see GraftSqlBridge.resolvedExpression). Arity is
    * checked: extra args silently ignored would return WRONG data.
    */
  private def one(name: String,
                  f: Column => Column): Seq[Expression] => Expression =
    args => {
      arity(name, 1, args)
      GraftSqlBridge.resolvedExpression(f(GraftSqlBridge.column(args.head)))
    }

  /** Every SQL-exposed engine function: (name, usage, builder). */
  private[graft] val functions
      : Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("vec_dot", "vec_dot(a, b) - dot product of two float arrays",
      (args: Seq[Expression]) => { arity("vec_dot", 2, args)
        VectorFunctions.DotProduct(args(0), args(1)) }),
    ("vec_cosine", "vec_cosine(a, b) - cosine similarity of two float arrays",
      (args: Seq[Expression]) => { arity("vec_cosine", 2, args)
        VectorFunctions.CosineSimilarity(args(0), args(1)) }),
    ("vec_l2", "vec_l2(a, b) - euclidean distance of two float arrays",
      (args: Seq[Expression]) => { arity("vec_l2", 2, args)
        VectorFunctions.L2Distance(args(0), args(1)) }),
    ("graft_token_count",
      "graft_token_count(text) - whitespace token count",
      one("graft_token_count", TextAnalysis.tokenCount)),
    ("graft_bpeish_token_count",
      "graft_bpeish_token_count(text) - BPE-ish subword token count",
      one("graft_bpeish_token_count", TextAnalysis.bpeishTokenCount)),
    ("graft_quality_score",
      "graft_quality_score(text) - heuristic document quality in [0, 1]",
      one("graft_quality_score", TextAnalysis.qualityScore)),
    ("graft_lang_id",
      "graft_lang_id(text) - n-gram/stopword language guess",
      one("graft_lang_id", TextAnalysis.languageId)),
    ("graft_fingerprint",
      "graft_fingerprint(text) - rolling-hash fingerprint of normalized text",
      one("graft_fingerprint", TextAnalysis.fingerprint)),
    ("graft_strip_markup",
      "graft_strip_markup(text) - drop tags/scripts/entities, squeeze whitespace",
      one("graft_strip_markup", TextAnalysis.stripMarkup)),
    ("graft_markup_ratio",
      "graft_markup_ratio(text) - fraction of characters that are markup",
      one("graft_markup_ratio", TextAnalysis.markupRatio)),
    ("graft_redact_pii",
      "graft_redact_pii(text) - mask emails, IPv4s and phone numbers",
      one("graft_redact_pii", TextAnalysis.redactPii)))

  /** Register the same functions on an already-built session. Names the
    * session already resolves (an earlier call, or the extension) are
    * skipped: re-registering replaces the function and logs a WARN each
    * time, once per function for every store built on the session.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
