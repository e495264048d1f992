package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.GraftFunctions

/** `SparkSessionExtensions` installer for the library's Catalyst
  * surface — the deployment path for a cluster where every session
  * should see the codegen'd expressions and aggregates WITHOUT
  * per-call temp registration:
  *
  * {{{
  * spark.sql.extensions = graft.GraftExtensions
  * }}}
  *
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`).
  * It injects the whole [[graft.functions.GraftFunctions]] table; the
  * per-object `register(spark)` helpers install the same table into
  * ad-hoc sessions, so plans are identical either way. Injected
  * functions resolve in SQL text too (`SELECT minhash_sig(tok) FROM
  * docs`), which the extensions spec asserts.
  */
final class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Conf-gated (spark.graft.fastDoubleDecimalSum, default false):
    // no-op unless the session opts into the clean-decimal contract.
    ext.injectOptimizerRule(_ => graft.plans.FastDoubleDecimalSumRule)
    GraftFunctions.all.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name), f.info, f.builder))
    }
  }
}
