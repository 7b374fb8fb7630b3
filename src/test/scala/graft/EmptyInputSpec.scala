package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.Sinks
import graft.sources.Tables

/** Robustness sweep: EVERY SparkEntry query must execute (not throw)
  * on schema-correct but EMPTY fixture tables. Empty partitions are
  * the norm at 100 TB (filters and buckets that match nothing);
  * operators that crash on zero rows are not shippable.
  */
class EmptyInputSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  lazy val emptyDir: String = {
    val dir = "/tmp/graft-empty-fixtures"
    Tables.fixtureNames.foreach { n =>
      spark.read.parquet(s"${SparkTestSession.sf}/$n.parquet")
        .limit(0)
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    dir
  }

  test("every query runs to completion on empty tables") {
    val dir = emptyDir
    // each entry's window ends once the jobs it leaves running (a
    // broadcast for a pruned join side) end, so their failed tasks are
    // the entry's
    val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (failure, m) = Sinks.withMetrics(spark) {
        try {
          fn(spark, dir).collect() // force full execution
          None
        } catch {
          case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}")
        }
      }
      (failure, m.failedTasks.map(t => s"$name: $t"))
    }
    val failures = runs.flatMap(_._1)
    val failedTasks = runs.flatMap(_._2)
    assert(failures.isEmpty, s"queries failing on empty input:\n${failures.mkString("\n")}")
    assert(failedTasks.isEmpty,
      s"tasks failed on empty input:\n${failedTasks.toArray.mkString("\n")}")
  }
}
