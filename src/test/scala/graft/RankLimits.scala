package graft

import org.apache.spark.sql.catalyst.expressions.{DenseRank, Expression, Rank, RowNumber}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Plan probes for ranking filters (`row_number()`/`rank()`/`dense_rank()
  * <= k`, and `= 1`). Spark's `InferWindowGroupLimit` puts a
  * `WindowGroupLimit` under such a filter's window: each key keeps only
  * the rows that can still rank within k, before the exchange and again
  * after it, so the ranking `Window` above it never sorts a whole key.
  * Spark infers it only up to `spark.sql.optimizer.windowGroupLimitThreshold`
  * (1000); past that the window ranks every row of every key.
  */
object RankLimits extends AdaptiveSparkPlanHelper {

  private def ranks(e: Expression): Boolean = e.exists {
    case _: RowNumber | _: Rank | _: DenseRank => true
    case _ => false
  }

  /** Ranking filters of an optimized plan whose window has no
    * `WindowGroupLimit` below it. */
  def unlimitedRankFilters(plan: LogicalPlan): Seq[LogicalPlan] = plan.collect {
    case f @ Filter(cond, w: Window)
        if !w.child.isInstanceOf[WindowGroupLimit] &&
          w.windowExpressions.exists(e => ranks(e) && cond.references.contains(e.toAttribute)) => f
  }

  /** Whether an optimized plan holds a `WindowGroupLimit` node. */
  def hasGroupLimit(plan: LogicalPlan): Boolean =
    plan.exists(_.isInstanceOf[WindowGroupLimit])

  /** Ranking windows of an executed plan (through adaptive query stages)
    * that do not sit directly on a `WindowGroupLimitExec`, i.e. rank every
    * row of their keys. */
  def unboundedRankingWindows(plan: SparkPlan): Seq[WindowExec] = collect(plan) {
    case w: WindowExec if w.windowExpression.exists(ranks) &&
        !w.child.isInstanceOf[WindowGroupLimitExec] => w
  }
}
