package graft

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("PlanDump records the pins of an entry that returns a localCheckpointed frame (q21)") {
    val plans = graft.tools.PlanDump.executions(spark, SparkTestSession.sf, "q21_ngram_jaccard")
    assert(plans.size >= 2, plans.mkString("\n"))
    assert(plans.exists(_.contains("documents.parquet")), plans.mkString("\n"))
    // each execution carries its optimized, pre-AQE and executed plans
    val sections = Seq("== Optimized Logical Plan ==", "== Spark Plan (pre-AQE) ==", "== Physical Plan ==")
    assert(plans.forall(p => sections.forall(p.contains)), plans.mkString("\n"))
  }
}
