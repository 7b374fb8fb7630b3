package graft.tools

import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.GraftSession

/** Measurement harness for the stateful-streaming cost floor (the
  * round-5 verdict's "attributed by reasoning, not measurement"):
  * runs the q62 stream-stream attribution join under a configurable
  * (shuffle-partition count, state-store provider) pair and prints
  * each microbatch's duration breakdown plus the state-operator
  * metrics from StreamingQueryProgress — so the 20 s question
  * ("store machinery? microbatch overhead? 32 store instances?")
  * gets per-term numbers instead of a plausible story.
  *
  * Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_STREAM_PARTS (default
  * 32), SPARK_GRAFT_STATE_PROVIDER (hdfs | rocksdb).
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val parts = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "32").toInt
    val provider = sys.env.getOrElse("SPARK_GRAFT_STATE_PROVIDER", "hdfs")
    val spark = GraftSession.local(appName = "graft-stream-profile")
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    if (provider == "rocksdb")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val t0 = System.nanoTime()
    val q = graft.streaming.EventStream.attributionStream(spark, sfDir)
      .writeStream
      .outputMode(OutputMode.Append())
      .format("noop")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"CONFIG parts=$parts provider=$provider sf=$sfDir wall=$wall%.2f s")
    q.recentProgress.foreach { p =>
      val d = p.durationMs
      val so = p.stateOperators.headOption
      println(
        s"BATCH ${p.batchId} rows=${p.numInputRows} " +
          s"triggerMs=${d.get("triggerExecution")} addBatch=${d.get("addBatch")} " +
          s"getBatch=${d.get("getBatch")} planning=${d.get("queryPlanning")} " +
          s"walCommit=${d.get("walCommit")} offsets=${d.get("commitOffsets")} " +
          so.map(s =>
            s"stateRows=${s.numRowsTotal} updMs=${s.allUpdatesTimeMs} " +
              s"rmMs=${s.allRemovalsTimeMs} commitMs=${s.commitTimeMs} " +
              s"mem=${s.memoryUsedBytes}").getOrElse("no-state-op"))
    }
    spark.stop()
  }
}
