package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spark's own accounting, aggregated per job group. The benchmark runs
  * each measured operation inside [[window]], which tags its jobs with a
  * group and records the wall interval the group was active.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  private final class Agg {
    var jobs, stages, tasks, shuffleW, shuffleR, spill, cpuNs, runMs, gcMs, wallMs = 0L
    val taskIv = mutable.ArrayBuffer.empty[(Long, Long)]
    val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }
  private val groups = mutable.Map.empty[String, Agg]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val cores = spark.sparkContext.defaultParallelism

  private def agg(g: String): Agg = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = agg(g)
      a.tasks += 1
      a.taskIv += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      a.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.shuffleW += m.shuffleWriteMetrics.bytesWritten
        a.shuffleR += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
      }
    }
  }

  /** Runs `f` with its Spark jobs tagged `group`. */
  def window[T](group: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      val dt = System.currentTimeMillis() - t0
      synchronized(agg(group).wallMs += dt)
      sc.clearJobGroup()
    }
  }

  /** Events reach listeners asynchronously; wait until all posted ones
    * have been delivered.
    */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def jobs(group: String): Long = { drain(); synchronized(groups.get(group).map(_.jobs).getOrElse(0L)) }

  /** The spark.* layer metrics over every group named with `prefix`. */
  def report(prefix: String): Seq[Fmt.Metric] = {
    drain()
    synchronized {
      val as = groups.collect { case (g, a) if g.startsWith(prefix) => a }.toSeq
      def sum(f: Agg => Long): Long = as.map(f).sum
      val wallMs = sum(_.wallMs).toDouble
      val busyMs = Span.unionNs(as.flatMap(_.taskIv)).toDouble
      val widest = as.flatMap(_.taskMsByStage.values).sortBy(-_.length).headOption
      val skew = widest.map { ts =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (med > 0) ts.max / med else 1.0
      }.getOrElse(0.0)
      Seq(
        Fmt.Metric("spark.jobs", sum(_.jobs).toDouble, "count"),
        Fmt.Metric("spark.stages", sum(_.stages).toDouble, "count"),
        Fmt.Metric("spark.tasks", sum(_.tasks).toDouble, "count"),
        Fmt.Metric("spark.shuffle_write_bytes", sum(_.shuffleW).toDouble, "bytes"),
        Fmt.Metric("spark.shuffle_read_bytes", sum(_.shuffleR).toDouble, "bytes"),
        Fmt.Metric("spark.spill_bytes", sum(_.spill).toDouble, "bytes"),
        Fmt.Metric("spark.executor_cpu_s", sum(_.cpuNs) / 1e9, "s"),
        Fmt.Metric("spark.executor_run_s", sum(_.runMs) / 1e3, "s"),
        Fmt.Metric("spark.gc_s", sum(_.gcMs) / 1e3, "s"),
        Fmt.Metric("spark.idle_s", math.max(0.0, wallMs - busyMs) / 1e3, "s"),
        Fmt.Metric("spark.core_busy_frac", if (wallMs > 0) sum(_.runMs) / (wallMs * cores) else 0.0, "ratio"),
        Fmt.Metric("spark.task_skew", skew, "ratio"))
    }
  }
}
