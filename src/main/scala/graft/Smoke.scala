package graft

/** Mirrors the driver's t1 smoke: SparkEntry.entry(spark) must return
  * rows > 0 on sf0.001. Prints ENTRY_ROWS=N and exits nonzero on 0.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "graft-smoke")
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"ENTRY_ROWS=$n")
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
