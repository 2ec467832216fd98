package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}

/** A DataFrame over a logical plan that needs no analysis: a resolved
  * leaf, an analyzed plan, or a rewrite of one that keeps every attribute
  * and type — the RSP engine's prepared firing plans, whose placeholder
  * leaves are swapped for each firing's rows. The plan is marked analyzed,
  * so `QueryExecution` skips the analyzer and only optimizes and plans it
  * (measured on 4 cores: a warm firing of the `http_rsp_smoke` window
  * query took 18–19 ms with a second analysis, 13.5 ms without).
  * `Dataset.ofRows` and `setAnalyzed` are not public API; this one-method
  * bridge in the sql namespace reaches them. */
object PlanBridge {
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)
  }
}
