package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSim, Fnv1a, H60, MinhashSigs, Simhash, Tokens, WordCountMap}

/** SparkSessionExtensions entry point: injects the engine's native
  * expressions into the SQL function registry, so
  * `spark.sql("SELECT fnv1a(key), cosine_sim(a, b) ...")` works.
  *
  * Activate via `withExtensions(new GraftExtensions)` on a session
  * builder or `spark.sql.extensions=graft.GraftExtensions`; or call
  * [[GraftExtensions.register]] on an existing session (as
  * [[GraftSession.local]] does).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {

  private def desc(name: String, cls: Class[_])(build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Every SQL function the engine registers. `tokens` is the shared
    * whitespace tokenizer (`LATERAL VIEW explode(tokens(text))` gives
    * one row per token); `wc_map` is the one Generator (UDTF):
    * mapf-style fan-out callable from SQL.
    */
  private val functions = Seq(
    desc("fnv1a", classOf[Fnv1a])(args => Fnv1a(args.head)),
    desc("cosine_sim", classOf[CosineSim])(args => CosineSim(args.head, args(1))),
    desc("tokens", classOf[Tokens])(args => Tokens(args.head)),
    desc("h60", classOf[H60])(args => H60(args.head)),
    desc("simhash", classOf[Simhash])(args => Simhash(args.head)),
    desc("minhash_sigs", classOf[MinhashSigs])(args => MinhashSigs(args.head)),
    desc("wc_map", classOf[WordCountMap])(args => WordCountMap(args.head)))

  /** Register on an already-built session (test/driver convenience). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}
