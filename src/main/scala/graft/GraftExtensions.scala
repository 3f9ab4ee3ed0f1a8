package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._
import graft.ops.Similarity
import graft.plans.{
  GroupedTopKStrategy, PartitionPrefixSumStrategy, SortedGroupReduceStrategy, WindowToTopKRule
}

/** The engine's one registration seam: every native function, planner
  * strategy and optimizer rule is installed here when a session is built,
  * so plans never depend on which API a session happened to call first.
  * [[graft.Sessions.builder]] applies it to every graft session; an
  * external session opts in with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT graft_dot_f(a.embedding, b.embedding) FROM ...
  *
  * A session built without it cannot resolve the `graft_*` names and
  * fails to plan the custom operators (an INTERNAL_ERROR caused by
  * "No plan for GroupedTopK ...").
  * The Scala Column helpers are thin `call_function` wrappers over the
  * names registered here.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_], arity: Int)(build: Seq[Expression] => Expression): Unit =
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        exprs => {
          require(exprs.length == arity,
            s"$name requires exactly $arity argument${if (arity == 1) "" else "s"}, " +
              s"got ${exprs.length}")
          build(exprs)
        }))
    fn("graft_dot_f", classOf[FloatDotProduct], 2)(a => FloatDotProduct(a(0), a(1)))
    fn("graft_dot_l", classOf[LongDotProduct], 2)(a => LongDotProduct(a(0), a(1)))
    fn("graft_sqdist_l", classOf[LongSqDist], 2)(a => LongSqDist(a(0), a(1)))
    fn("graft_nfc", classOf[NfcNormalize], 1)(a => NfcNormalize(a(0)))
    fn("graft_zorder2", classOf[ZOrder2], 2)(a => ZOrder2(a(0), a(1)))
    fn("graft_sorted_key_sum", classOf[SortedKeySum], 3)(a => SortedKeySum(a(0), a(1), a(2)))
    fn("graft_mmr_select", classOf[MmrSelect], 1)(a =>
      MmrSelect(a(0), Similarity.MmrK, Similarity.MmrLambda, Similarity.MmrMu))
    e.injectPlannerStrategy(_ => GroupedTopKStrategy)
    e.injectPlannerStrategy(_ => PartitionPrefixSumStrategy)
    e.injectPlannerStrategy(_ => SortedGroupReduceStrategy)
    e.injectOptimizerRule(_ => WindowToTopKRule)
  }
}
