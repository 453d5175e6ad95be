package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{GraftFunctions, PolyHash, TokenizeExpression}

/** SparkSessionExtensions injector: registers the engine's SQL functions so
  * plain `spark.sql` can call them. Enable with
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * or SparkSession.builder().withExtensions(new GraftExtensions()(_)).
  *
  *   graft_tokenize(text[, tokenizer])  -> rows (pos, term, status)
  *   poly_hash(str)                     -> bigint (base-131 fold mod 1e9+7)
  *   shingle_hash(str)                  -> bigint (base-31 fold)
  *   graft_match(indexPath, query)      -> index semi-join predicate
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    Functions.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    ext.injectOptimizerRule(graft.plans.GraftMatchRule)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  /** every SQL function of the engine: (name, usage, builder) — both
    * registration routes read this one list */
  private[graft] val Functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_tokenize", "tokenize text into (pos, term, status) rows", args => {
      val tok = args.lift(1) match {
        case Some(Literal(s: UTF8String, _)) => s.toString
        case _ => "TokenBigram"
      }
      TokenizeExpression(args.head, tok)
    }),
    ("poly_hash", "deterministic polynomial string hash (base 131, mod 1e9+7)",
      args => PolyHash(args.head, 131L, GraftFunctions.HashMod)),
    ("shingle_hash", "deterministic polynomial string hash (base 31, mod 1e9+7)",
      args => PolyHash(args.head, 31L, GraftFunctions.HashMod)),
    ("graft_match", "fulltext match predicate: graft_match('<indexPath>', '<query>') — " +
      "rewritten into an index semi-join by GraftMatchRule",
      args => graft.plans.GraftMatchMarker(args(0), args(1))))

  /** register the same functions on an already-created session (temp
    * functions; `spark.sql.extensions` is only honored at session build) */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    Functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    // optimizer-rule injection on a live session goes through the
    // experimental hook (spark.sql.extensions is build-time only)
    if (!spark.experimental.extraOptimizations.exists(_.isInstanceOf[graft.plans.GraftMatchRule]))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.GraftMatchRule(spark)
  }
}
