package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-oriented defaults this engine assumes.
  *
  * The reference (awslabs/lambda-refarch-mapreduce) hand-tunes its
  * parallelism: batch size = 60% of Lambda memory / avg object size
  * (`src/python/lambdautils.py:120-134`) and a concurrency cap
  * (`src/python/driver.py:199-203`). In Spark those are declarative
  * configs: file-split packing (`maxPartitionBytes`), shuffle
  * parallelism, and AQE, which re-sizes reducer counts at runtime the
  * way the reference's coordinator re-batches each reduce round
  * (`src/python/reducerCoordinator.py:153-159`).
  */
object GraftSession {

  /** Task threads of a local session (and the bench's store tag):
    * `SPARK_GRAFT_CPUS` if set, else every core of this machine.
    */
  def cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local-mode session; on a real cluster only `master` changes —
    * every config below is sized relative to cores/data, not hardware.
    */
  def local(cores: Int = GraftSession.cores, appName: String = "graft"): SparkSession =
    configure(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = cores
    ).getOrCreate()

  /** Apply graft's defaults to any builder (cluster or local). */
  def configure(
      b: SparkSession.Builder,
      shufflePartitions: Int
  ): SparkSession.Builder = b
    // One shuffle partition per core locally; on a 1000-executor
    // cluster this would be ~2-3x total cores. AQE coalesces down.
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // Skew-join splitting: the 100 TB posture for hot keys (the
    // reference has no answer to skew — its final single reducer IS
    // the skew cliff, README.md:149).
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // 128 MB splits — the same role as the reference's byte-budgeted
    // mapper batches (lambdautils.py:120-134).
    .config("spark.sql.files.maxPartitionBytes", (128 * 1024 * 1024).toString)
    .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
    .config("spark.sql.session.timeZone", "UTC")
    // fixture `events.ts` is parquet TIMESTAMP(NANOS) which Spark has
    // no native type for: read as long nanos; Tables.load converts.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // catalog tables (bucketed writes) land under /tmp, not the repo
    .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    .config("spark.ui.enabled", "false")
}
