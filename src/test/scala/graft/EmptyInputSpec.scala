package graft

import org.scalatest.funsuite.AnyFunSuite
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
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
    // each entry's jobs carry its name, also those a broadcast thread
    // submits after the entry returns
    val key = "graft.test.entry"
    val stageEntry = new java.util.concurrent.ConcurrentHashMap[Int, String]
    val failedTasks = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val sl = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
          .foreach(stageEntry.put(e.stageInfo.stageId, _))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.reason match {
          case org.apache.spark.Success => ()
          case r => failedTasks.add(
            s"${stageEntry.getOrDefault(e.stageId, "?")}: ${r.toString.linesIterator.next().take(300)}")
        }
    }
    val sc = spark.sparkContext
    val dir = emptyDir
    sc.addSparkListener(sl)
    val failures = try {
      val failed = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          sc.setLocalProperty(key, name)
          try {
            fn(spark, dir).collect() // force full execution
            None
          } catch {
            case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}")
          } finally sc.setLocalProperty(key, null)
      }
      // a job an entry leaves running ends after it returns: wait for it
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      org.apache.spark.graftbus.drainListenerBus(sc)
      failed
    } finally sc.removeSparkListener(sl)
    assert(failures.isEmpty, s"queries failing on empty input:\n${failures.mkString("\n")}")
    assert(failedTasks.isEmpty,
      s"tasks failed on empty input:\n${failedTasks.toArray.mkString("\n")}")
  }
}
