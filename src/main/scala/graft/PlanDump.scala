package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Diagnostic twin of [[Explain]]: prints the FLATTENED physical-operator
  * histogram per query (AQE stages and subqueries expanded) — the exact
  * node multiset `PlanShapeSpec` asserts against. Usage:
  * `runMain graft.PlanDump [sfDir] [q...]`.
  */
object PlanDump {

  /** Expand AQE wrappers, reused exchanges, and subqueries into one node seq. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val self: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case r: ReusedExchangeExec => Seq(r)
      case _ => p +: p.children.flatMap(flatten)
    }
    self ++ p.subqueries.flatMap(flatten)
  }

  def histogram(p: SparkPlan): Map[String, Int] =
    flatten(p).groupBy(_.getClass.getSimpleName).map { case (k, v) => k -> v.size }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q2_join_dim")
    val spark = Harness.session()
    for (n <- names) {
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      println(s"== $n")
      histogram(plan).toSeq.sortBy(_._1).foreach { case (k, c) => println(f"  $c%3d  $k") }
    }
  }
}
