package graft.model

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences,
  Expression, JoinedRow, Predicate, Unevaluable}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{JOIN, LOCAL_RELATION}

/** Optimizer rule: an inner or cross join of two driver-resident
  * relations (`LocalRelation`) is computed on the driver at planning time
  * and replaced by its result, then Spark's `ConvertToLocalRelation`
  * folds the projections and filters above it. A query whose leaves are
  * all small local relations — an RSP window firing over its buffered
  * triples, a join against VALUES rows — thus plans to a local table scan
  * and runs without a Spark job.
  *
  * The join is a nested loop that evaluates the full condition on every
  * pair, so it folds only while the pair count is within [[MaxRows]]
  * (which also bounds the output), and only for deterministic, evaluable
  * conditions; any other join, or one whose evaluation throws, is left
  * to Spark. */
object LocalJoinFold extends Rule[LogicalPlan] {
  /** The driver-side work bound: pairs the nested loop compares. */
  val MaxRows: Int = 1 << 14

  /** Adds the rule to the session's extra optimizations once. */
  def install(spark: SparkSession): Unit = synchronized {
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(this))
      exp.extraOptimizations = exp.extraOptimizations :+ this
  }

  def apply(plan: LogicalPlan): LogicalPlan = {
    // pruned: plans without both a join and a local relation (every query
    // over stored data) are skipped without a traversal
    val folded = plan.transformUpWithPruning(_.containsAllPatterns(JOIN, LOCAL_RELATION)) {
      case j @ Join(l: LocalRelation, r: LocalRelation, Inner | Cross, cond, _)
          if !l.isStreaming && !r.isStreaming &&
            l.data.size.toLong * r.data.size <= MaxRows &&
            cond.forall(c => c.deterministic && !hasUnevaluable(c)) =>
        fold(j, l, r).map(rows => LocalRelation(j.output, rows)).getOrElse(j)
    }
    if (folded eq plan) plan else ConvertToLocalRelation(folded)
  }

  private def hasUnevaluable(e: Expression): Boolean =
    e.exists(x => x.isInstanceOf[Unevaluable] && !x.isInstanceOf[AttributeReference])

  private def fold(j: Join, l: LocalRelation, r: LocalRelation): Option[Seq[InternalRow]] =
    try {
      val types = j.output.map(_.dataType)
      val keep: InternalRow => Boolean = j.condition match {
        case None => _ => true
        case Some(e) =>
          val p = Predicate.createInterpreted(
            BindReferences.bindReference(e, l.output ++ r.output))
          p.initialize(0)
          p.eval
      }
      val out = mutable.ArrayBuffer.empty[InternalRow]
      val joined = new JoinedRow
      for (lr <- l.data; rr <- r.data) {
        joined(lr, rr)
        if (keep(joined)) out += InternalRow.fromSeq(joined.toSeq(types))
      }
      Some(out.toSeq)
    } catch {
      case NonFatal(_) => None
    }
}
