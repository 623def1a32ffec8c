package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Task-level counters summed over the jobs of one job group (one span). */
final class Counters {
  var jobs = 0
  var stages = 0
  var stagesSkipped = 0
  var tasks = 0
  var failedTasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; stagesSkipped += o.stagesSkipped
    tasks += o.tasks; failedTasks += o.failedTasks; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes; inputBytes += o.inputBytes
    intervals ++= o.intervals
  }

  /** Milliseconds of [from, to) covered by at least one job. */
  def busyMs(from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    intervals.map { case (s, e) => (s.max(from), e.min(to)) }.filter { case (s, e) => e > s }
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - s.max(reach); reach = e }
      }
    covered
  }
}

/** Attributes every job, stage and task to the job group it ran under. */
final class JobListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counters]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val submitted = mutable.Set.empty[Int]

  private def group(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    jobStages(e.jobId) = e.stageIds
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    group(g).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
    stageGroup.get(e.stageInfo.stageId).foreach(g => group(g).stages += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    group(g).intervals += ((jobStart.getOrElse(e.jobId, e.time), e.time))
    group(g).stagesSkipped += jobStages.getOrElse(e.jobId, Nil).count(s => !submitted(s))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = group(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  def counters(g: String): Counters = synchronized(byGroup.getOrElse(g, new Counters))
}

/** One layer call of one unit: wall times split into build (the call) and run
  * (forcing its frames), plus the rows the layer handed on. */
final case class Span(unit: Int, layer: String, parent: String, startMs: Long, endMs: Long,
    buildS: Double, runS: Double, rowsOut: Long) {
  def group: String = Tracer.group(unit, layer)
}

object Tracer {
  val BenchCachePrefix = "perfbench_"
  def group(unit: Int, layer: String): String = s"perfbench.u$unit.$layer"
}

/**
 * Wraps each library call of a unit in a span. When tracing is off it only
 * runs the call and the actions the pipeline needs anyway. When on, every
 * span gets its own job group and `mat` pins the frames a layer returns in a
 * benchmark-owned cache, so the next layer starts from materialized inputs
 * and every job belongs to exactly one span.
 */
final class Tracer(spark: SparkSession, val unit: Int, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val views = mutable.ArrayBuffer.empty[String]
  private var rows = 0L

  def layer[T, R](name: String)(call: => T)(run: T => R): R =
    if (!enabled) run(call)
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(Tracer.group(unit, name), name)
      rows = 0L
      try {
        val t0 = System.nanoTime(); val w0 = System.currentTimeMillis()
        val built = call
        val t1 = System.nanoTime()
        val out = run(built)
        val t2 = System.nanoTime()
        spans += Span(unit, name, s"unit$unit", w0, System.currentTimeMillis(),
          (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows)
        out
      } finally sc.clearJobGroup()
    }

  /** Rows of each frame `mat` pinned in this unit, by tag. */
  val counts = mutable.Map.empty[String, Long]

  /** Materialize `df` once and hand back the pinned frame (identity when off).
    * `handedOn`: the frame feeds the next layer, so it counts as rows out. */
  def mat(df: DataFrame, tag: String, handedOn: Boolean = true): DataFrame =
    if (!enabled) df
    else {
      val v = s"${Tracer.BenchCachePrefix}u${unit}_$tag"
      df.createOrReplaceTempView(v)
      spark.catalog.cacheTable(v, StorageLevel.MEMORY_AND_DISK)
      views += v
      val pinned = spark.table(v)
      val n = pinned.count()
      counts(tag) = n
      if (handedOn) rows += n
      pinned
    }

  def addRows(n: Long): Unit = rows += n

  /** Drop the benchmark's own caches; the program's cut blocks stay. */
  def release(): Unit = {
    views.foreach { v => spark.catalog.uncacheTable(v); spark.catalog.dropTempView(v) }
    views.clear()
  }
}
