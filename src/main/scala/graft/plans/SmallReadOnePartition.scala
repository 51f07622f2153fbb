package graft.plans

import graft.storage.FactTable
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, PLAN_EXPRESSION, WINDOW}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Optimizer rule: an aggregate or window over a small `FactTable` read
  * runs in one task, with no exchange.
  *
  * Spark plans an `Aggregate` or `Window` for a distributed input: a hash
  * exchange, a shuffle-map job and a result job. For a table of a few
  * parts that shape costs more than the work. When the operator sits over
  * only narrow operators and `FactTable` scans, and those scans' logged
  * bytes total at most 1 MiB and `spark.sql.autoBroadcastJoinThreshold`
  * (the size rule [[FactTable.oneTask]], which the Buffer flush's
  * one-task merge also follows), the rule puts `Repartition(1, shuffle = false)` — a
  * `coalesce(1)` — directly under it. The physical child then reports
  * `SinglePartition`, which satisfies every distribution an aggregate or
  * window asks for, so `EnsureRequirements` adds no exchange and the read
  * runs as one job with one task. Sizes come from the log
  * ([[FactTable.LogFileIndex]]), so nothing is listed or
  * opened, as in Shark's Partial DAG Execution (SIGMOD 2013), which picks
  * the plan from sizes it already knows.
  *
  * What the rule looks through below the operator: `Project`, `Filter`,
  * `Generate`, `EventTimeWatermark`, `Union`, and the tombstone mask's
  * broadcast left-anti `Join` (its left side only; the right side is the
  * broadcast keys). Leaves must be `HadoopFsRelation`s over a
  * `LogFileIndex`; a listed `spark.read.parquet` table never matches.
  * Anything else — a shuffle join, a repartition, another aggregate —
  * leaves the operator alone, which also makes the rule idempotent. So
  * does a subquery anywhere in the operator or below it: the
  * RewriteSubquery batch, which runs after this one, turns an `IN` or
  * `EXISTS` into a join under the coalesce, whose other side is never
  * counted.
  *
  * Guards: a streaming plan is returned unchanged (a stateful operator's
  * state-store partitioning must never change, or a checkpointed query
  * could not restart), and a negative threshold turns the rule off. A
  * plan with no aggregate or window returns at once, as every streaming
  * micro-batch's plan runs through the optimizer.
  */
object SmallReadOnePartition extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!plan.containsAnyPattern(AGGREGATE, WINDOW) || plan.isStreaming) return plan
    def small(op: UnaryNode) = !op.containsPattern(PLAN_EXPRESSION) &&
      loggedBytes(op.child).exists(FactTable.oneTask(_, conf))
    plan.transformDownWithPruning(_.containsAnyPattern(AGGREGATE, WINDOW)) {
      case a: Aggregate if small(a) => a.copy(child = Repartition(1, shuffle = false, a.child))
      case w: Window if small(w) => w.copy(child = Repartition(1, shuffle = false, w.child))
    }
  }

  /** Total logged bytes of the `FactTable` scans under a narrow chain, or
    * None when the chain holds anything else.
    */
  private def loggedBytes(plan: LogicalPlan): Option[Long] = plan match {
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case index: FactTable.LogFileIndex => Some(index.sizeInBytes)
        case _ => None
      }
      case _ => None
    }
    case _: Project | _: Filter | _: Generate | _: EventTimeWatermark | _: Union =>
      plan.children.foldLeft(Option(0L)) { (sum, c) =>
        for (s <- sum; b <- loggedBytes(c)) yield s + b
      }
    case j: Join if j.joinType == LeftAnti &&
        j.hint.rightHint.exists(_.strategy.contains(BROADCAST)) =>
      loggedBytes(j.left)
    case _ => None
  }
}
