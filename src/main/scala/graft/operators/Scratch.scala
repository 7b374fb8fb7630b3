package graft.operators

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-application scratch directories for the lifecycle entries that
  * render their own inputs (the q19 device, also q46/q59/q63/q64):
  * unique via `applicationId` so concurrent verify/bench sessions
  * never race, and deleted once no job started under the invocation
  * that wrote them can still read them — sessions stop accumulating
  * fixture copies in the temp dir. Local-mode layout; a production
  * pipeline writes these artifacts to a shared filesystem and KEEPS
  * them.
  */
object Scratch {

  private val invocation = new java.util.concurrent.atomic.AtomicLong

  private def dir(spark: SparkSession, tag: String, sfDir: String): String =
    System.getProperty("java.io.tmpdir", "/tmp") +
      s"/graft_${tag}_${spark.sparkContext.applicationId}/" +
      new java.io.File(sfDir).getName

  /** Run `body` against a fresh scratch dir and eagerly materialize the
    * (small) result it returns. The leaf is unique PER INVOCATION
    * (counter suffix), so a CONCURRENT invocation of the same operator
    * on a different fixture dir (parallel test suites do exactly this)
    * never sees it.
    *
    * The leaf is not deleted here. When AQE finds one join side empty it
    * prunes the other, and a job already started for that side (a
    * broadcast, submitted from its own thread, possibly after this
    * returns) still reads the leaf. So every job of the invocation
    * carries a job tag, and the leaf goes to [[Reaper]], which deletes
    * it at a later call once no job with that tag runs, or when the
    * application ends.
    */
  def withScratch(spark: SparkSession, tag: String, sfDir: String)(
      body: String => DataFrame): DataFrame = {
    val id = invocation.incrementAndGet()
    val path = dir(spark, tag, sfDir) + s"_$id"
    val sc = spark.sparkContext
    val reaper = reaperFor(spark)
    reaper.sweep()
    val jobTag = s"$TagPrefix$id"
    sc.addJobTag(jobTag)
    try body(path).localCheckpoint(true)
    finally {
      sc.removeJobTag(jobTag)
      reaper.defer(jobTag, path)
    }
  }

  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  private var reaper: Reaper = _

  private def reaperFor(spark: SparkSession): Reaper = synchronized {
    val sc = spark.sparkContext
    if (reaper == null || (reaper.sc ne sc)) {
      reaper = new Reaper(sc, spark.sessionState.newHadoopConf())
      sc.addSparkListener(reaper)
    }
    reaper
  }

  /** Scratch leaves waiting for the jobs tagged with their invocation.
    * Jobs are seen through the listener bus, so a sweep drains it first;
    * a job that starts after the sweep belongs to a later invocation,
    * whose leaf is not swept yet.
    */
  private final class Reaper(val sc: SparkContext, conf: Configuration) extends SparkListener {
    private val running = mutable.Map[Int, Seq[String]]() // job id -> its scratch tags
    private val pending = mutable.LinkedHashMap[String, String]() // tag -> leaf

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty(JobTags)))
        .toSeq.flatMap(_.split(',')).filter(_.startsWith(TagPrefix))
      if (tags.nonEmpty) synchronized { running(e.jobId) = tags }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { running.remove(e.jobId) }

    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
      val all = synchronized { val l = pending.values.toList; pending.clear(); l }
      all.foreach(remove)
    }

    def defer(tag: String, leaf: String): Unit = synchronized { pending(tag) = leaf }

    /** Delete every pending leaf whose invocation has no running job. */
    def sweep(): Unit = {
      // a bus that does not drain in time leaves every leaf for later
      try org.apache.spark.graftbus.drainListenerBus(sc)
      catch { case _: java.util.concurrent.TimeoutException => return }
      val idle = synchronized {
        val busy = running.values.flatten.toSet
        val done = pending.filter { case (t, _) => !busy(t) }
        pending --= done.keys
        done.values.toList
      }
      idle.foreach(remove)
    }

    private def remove(leaf: String): Unit = {
      val p = new Path(leaf)
      val fs = p.getFileSystem(conf)
      fs.delete(p, true)
      // empty-parent sweep: fails (harmlessly) while siblings exist
      try fs.delete(p.getParent, false)
      catch { case _: java.io.IOException => () }
    }
  }

  private val TagPrefix = "graft-scratch-"
  // SparkContext.SPARK_JOB_TAGS, the local property that carries job tags
  private val JobTags = "spark.job.tags"
}
