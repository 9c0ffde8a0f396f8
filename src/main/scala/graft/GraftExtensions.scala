package graft

import org.apache.spark.sql.SparkSessionExtensions

/** Official library entry point for Spark's extension mechanism:
  *
  * {{{ spark-submit --conf spark.sql.extensions=graft.GraftExtensions ... }}}
  *
  * injects the native kernels ([[graft.functions.GraftFunctions.descriptions]])
  * into the session's function registry and installs the
  * [[graft.plans.DotProductRewrite]] optimizer rule, so a cluster user
  * gets the fused kernels with zero code changes — both the `graft_dot`
  * SQL spelling and the built-in `aggregate(zip_with(...))` spelling
  * compile to the codegen'd expression. The harness mains and the test
  * fixture build their sessions through this config, so the injection
  * path itself is exercised by every verify/bench run.
  *
  * This extension is the only install path: a session built without the
  * config has no `graft_*` functions and none of the rules below, and
  * nothing installs them into a session after it is built.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.descriptions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.DotProductRewrite)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
    ext.injectOptimizerRule(_ => graft.plans.JoinElimination)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    ext.injectResolutionRule(s => new graft.plans.ResolveV2Views(s))
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
