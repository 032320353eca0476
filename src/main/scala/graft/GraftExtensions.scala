package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.PruneJsonPayloadFields

/** `SparkSessionExtensions` installer — the zero-code integration route:
  *
  * {{{ spark-submit --conf spark.sql.extensions=graft.GraftExtensions ... }}}
  *
  * injects every native graft function (fnv64, simhash64, minhash,
  * cosine_similarity, bounded_count_distinct, …) into the session's
  * FunctionRegistry at build time, so plain SQL users get the engine's
  * codegen'd kernels without touching the Scala API. GraftSession sets
  * the conf by default.
  *
  * It also injects one optimizer rule, `PruneJsonPayloadFields`: the
  * wire-path decode of `StreamingPipeline.fromJsonPayload` then parses
  * only the payload fields a query reads (3 of 20 for the reference
  * changelog, as the reference's KSQL stream declares only those). No
  * built-in rule prunes a parse that several field reads share, and
  * Structured Streaming re-optimizes every micro-batch, so the rule
  * reaches the stream. Catalyst's built-ins cover every other rewrite
  * the reference needs (SURVEY.md §4.1).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), builder))
    }
    ext.injectOptimizerRule(_ => PruneJsonPayloadFields)
  }
}
