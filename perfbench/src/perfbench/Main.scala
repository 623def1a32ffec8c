package perfbench

import graft.recon.Publish
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One finished unit: its time, check outcome, load at start, and (when traced)
  * its spans and storage/sink counts. */
final case class Done(unit: Int, traced: Boolean, seconds: Double, ok: Boolean, load: Double,
    rows: Long, checked: Option[Checked], spans: Seq[Span], storage: Map[String, Long])

/**
 * Reconciliation pipeline benchmark. One process = one workload: set up a
 * local session (timed, several times), generate the workload's inputs from
 * the seed, then run units back to back (closed loop, one client) for the
 * given seconds, checking every unit's published output. Prints one JSON
 * result line last.
 *
 *   Main --workload NAME --seed N --seconds S --trace 0|1 --work DIR
 *
 * With --trace 1 untraced and traced units alternate: the untraced ones give
 * trace.overhead, the traced ones the per-layer metrics.
 */
object Main {
  // about 2% SALE/VOID rows and 1% duplicate groups; the rest exact 1:1
  val Light = Mix(tolerance = 0.05, boundary = 0.005, beyond = 0.005, zeroPairs = 0.01,
    duplicates = 0.01, maxMultiplicity = 3, aOnly = 0.02, bOnly = 0.02)
  // heavy fee drift in whole cents: ~50% within tolerance, ~10% beyond it
  val Heavy = Mix(tolerance = 0.42, boundary = 0.08, beyond = 0.10, zeroPairs = 0.01,
    duplicates = 0.06, maxMultiplicity = 4, aOnly = 0.02, bOnly = 0.02)
  val Day = 86400000L

  val Workloads: Map[String, Workload] = Seq(
    Workload("intraday_windows", groups = 1500, distinct = 8, Light, threePasses = false),
    Workload("daily_close", groups = 40000, distinct = 1, Light, threePasses = false, spanMs = Day),
    Workload("carryover_relaxed", groups = 3000, distinct = 1, Heavy, threePasses = true,
      carry = Some(Carry(priorShare = 1.0 / 3, storeRows = 30000)), spanMs = Day)
  ).map(w => w.name -> w).toMap

  /** Set-ups per run; setup_s is their median. Each costs about one unit, and
    * a comparison makes 48 runs in an hour, so two: their median is then the
    * mean of the cold set-up (with the JVM start) and a warm one. */
  val SetupRepeats = 2
  val HardCapS = 150.0

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val w = Workloads.getOrElse(arg(args, "workload"),
      throw new IllegalArgumentException(s"unknown workload; known: ${Workloads.keys.mkString(", ")}"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = Paths.get(arg(args, "work")).toAbsolutePath.toString
    val cores = Runtime.getRuntime.availableProcessors
    val procStart = System.nanoTime()
    val preMainS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // set-up: session start + one warm-up unit on the first input set,
    // repeated; the first repeat also carries the JVM start and generates the
    // inputs (generation time is not set-up time)
    var spark: SparkSession = null
    var generated: (IndexedSeq[UnitInput], String) = null
    var genS = 0.0
    val setups = (0 until SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cores, work)
      if (generated == null) {
        val g0 = System.nanoTime()
        generated = Pipeline.generate(spark, w, seed, s"$work/in")
        genS = (System.nanoTime() - g0) / 1e9
      }
      warmUp(spark, w, generated._1.head, s"$work/warm$i")
      (System.nanoTime() - t0) / 1e9 + (if (i == 0) preMainS - genS else 0.0)
    }
    val (inputs, digest) = generated

    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val root = s"$work/publish"
    val done = mutable.ArrayBuffer.empty[Done]
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    val minUnits = if (trace) 4 else 3
    while ((done.size < minUnits || elapsed < seconds) &&
      (System.nanoTime() - procStart) / 1e9 < HardCapS) {
      val i = done.size
      val traced = trace && i % 2 == 1
      val in = inputs(i % inputs.size)
      val load = loadAvg()
      val before = cutRdds(spark).keySet
      val t = new Tracer(spark, i, traced)
      val t0 = System.nanoTime()
      val result = try {
        val summary = Pipeline.unit(spark, w, in, root, t)
        val dt = (System.nanoTime() - t0) / 1e9
        val c = Pipeline.check(spark, root, i, in.expect, summary)
        if (!c.ok) System.err.println(s"[perfbench] unit $i FAILED check: ${c.problems.mkString("; ")}")
        (dt, c.ok, Some(c))
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] unit $i FAILED: $e")
          ((System.nanoTime() - t0) / 1e9, false, None)
      }
      val storage = if (traced) {
        val now = cutRdds(spark)
        val fresh = now.filter { case (id, _) => !before(id) }.values
        val (files, bytes) = publishedFiles(spark, root)
        Map("cut_rdds" -> fresh.size.toLong, "cut_mem_bytes" -> fresh.map(_._1).sum,
          "cut_disk_bytes" -> fresh.map(_._2).sum, "files_written" -> files, "bytes_written" -> bytes,
          "pairs" -> t.counts.getOrElse("pairs", 0L))
      } else Map.empty[String, Long]
      Publish.prune(spark, root, keep = 1)
      t.release()
      done += Done(i, traced, result._1, result._2, load, in.expect.inputRows, result._3, t.spans.toSeq, storage)
      System.err.println(f"[perfbench] unit $i traced=$traced ${result._1}%.4f s ok=${done.last.ok} load=$load%.2f")
    }
    val plain = done.filterNot(_.traced)
    val times = plain.map(_.seconds).toSeq
    val endToEnd = ListMap(
      "unit_p50_s" -> (Stats.median(times), "s"),
      "rows_per_s" -> (plain.map(_.rows).sum / times.sum, "rows/s"),
      "setup_s" -> (Stats.median(setups), "s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))

    val perLayer: ListMap[String, (Double, String)] =
      if (!trace) ListMap.empty
      else {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        layerMetrics(spark, listener, done.filter(_.traced).toSeq, Stats.median(times), cores)
      }
    val metrics = if (trace) perLayer else endToEnd
    val failed = done.count(!_.ok)

    val artifacts = Paths.get(work).getParent.resolve("artifacts")
    Files.createDirectories(artifacts)
    val tag = s"${w.name}-s$seed-t${if (trace) 1 else 0}"
    Files.write(artifacts.resolve(s"spans-$tag.jsonl"), done.flatMap(_.spans).map(s => Json(ListMap(
      "unit" -> s.unit, "name" -> s.layer, "parent" -> s.parent, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "build_s" -> s.buildS, "run_s" -> s.runS, "rows_out" -> s.rowsOut,
      "job_group" -> s.group))).mkString("", "\n", "\n").getBytes("UTF-8"))
    val env = ListMap(
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cores, "java" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"), "spark" -> spark.version,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory, "input_digest" -> digest,
      "input_sets" -> inputs.size, "generate_s" -> genS, "setup_s" -> setups,
      "units" -> done.map(d => ListMap("unit" -> d.unit, "traced" -> d.traced, "seconds" -> d.seconds,
        "ok" -> d.ok, "load1" -> d.load, "input_rows" -> d.rows,
        "counters" -> d.checked.map(_.counters).getOrElse(Map.empty),
        "problems" -> d.checked.map(_.problems).getOrElse(Seq("threw"))) ++ d.storage),
      "metrics" -> (endToEnd ++ perLayer).map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
    Files.write(artifacts.resolve(s"run-$tag.json"), Json(env).getBytes("UTF-8"))
    System.err.println(s"[perfbench] env nproc=$cores java=${System.getProperty("java.version")} " +
      s"spark=${spark.version} heap=${Runtime.getRuntime.maxMemory} digest=$digest " +
      f"generate=$genS%.2fs units=${done.size} samples=${times.size}")
    spark.stop()
    println(Json(ListMap(
      "correct" -> (failed == 0),
      "attempted" -> done.size,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })))
  }

  /** An untimed unit on the workload's first input set. It loads the session,
    * the library's classes and the generated code of every plan the timed
    * units run; a warm-up on other, smaller inputs left the first timed unit
    * 20-30% slow. */
  def warmUp(spark: SparkSession, w: Workload, in: UnitInput, dir: String): Unit = {
    val root = s"$dir/publish"
    val summary = Pipeline.unit(spark, w, in, root, new Tracer(spark, 0, false))
    val c = Pipeline.check(spark, root, 0, in.expect, summary)
    require(c.ok, s"warm-up unit failed its check: ${c.problems.mkString("; ")}")
  }

  /** Persisted RDDs that are not the benchmark's own caches: the program's cut blocks,
    * by RDD id, as (memory bytes, disk bytes). */
  def cutRdds(spark: SparkSession): Map[Int, (Long, Long)] =
    spark.sparkContext.getRDDStorageInfo
      .filterNot(r => r.name != null && r.name.contains(Tracer.BenchCachePrefix))
      .map(r => r.id -> (r.memSize, r.diskSize)).toMap

  /** Data files and bytes of the currently published version. */
  def publishedFiles(spark: SparkSession, root: String): (Long, Long) = {
    val files = Publish.currentVersion(spark, root)
      .flatMap(v => Option(new java.io.File(s"$root/v=$v").listFiles)).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-"))
    (files.length.toLong, files.map(_.length).sum)
  }

  val Layers = Seq("sources", "zero_effect", "reconcile", "sinks", "publish")

  /** Per-layer metrics over the traced units: times as medians, counts from the first traced unit. */
  def layerMetrics(spark: SparkSession, listener: JobListener,
      traced: Seq[Done], untracedP50: Double, cores: Int): ListMap[String, (Double, String)] = {
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    def med(f: Done => Double) = Stats.median(traced.map(f))
    val first = traced.head
    def span(u: Seq[Span], l: String) = u.find(_.layer == l).get
    def ctr(u: Seq[Span], l: String) = listener.counters(span(u, l).group)
    Layers.foreach { l =>
      out(s"$l.build_s") = (med(u => span(u.spans, l).buildS), "s")
      out(s"$l.run_s") = (med(u => span(u.spans, l).runS), "s")
      out(s"$l.jobs") = (med(u => ctr(u.spans, l).jobs.toDouble), "count")
      out(s"$l.task_s") = (med(u => ctr(u.spans, l).taskMs / 1e3), "s")
      out(s"$l.gc_s") = (med(u => ctr(u.spans, l).gcMs / 1e3), "s")
      out(s"$l.driver_gap_s") = (med { u =>
        val s = span(u.spans, l)
        (s.endMs - s.startMs - ctr(u.spans, l).busyMs(s.startMs, s.endMs)) / 1e3
      }, "s")
      out(s"$l.shuffle_write_bytes") = (med(u => ctr(u.spans, l).shuffleWriteBytes.toDouble), "bytes")
      out(s"$l.spill_bytes") = (med(u => ctr(u.spans, l).spillBytes.toDouble), "bytes")
      out(s"$l.rows_out") = (span(first.spans, l).rowsOut.toDouble, "rows")
    }
    val c = first.checked.map(_.counters).getOrElse(Map.empty[String, Long]).withDefaultValue(-1L)
    out("sources.input_bytes") = (ctr(first.spans, "sources").inputBytes.toDouble, "bytes")
    out("zero_effect.pairs") = (first.storage("pairs").toDouble, "count")
    Seq("matched_exact", "matched_tolerance", "matched_relaxed", "displaced", "dropped_middle",
      "a_remanent", "b_remanent", "ext_multi_consumed", "boundary_misses").foreach { k =>
      out(s"reconcile.$k") = (c(k).toDouble, "count")
    }
    out("checkpoints.cut_rdds") = (first.storage("cut_rdds").toDouble, "count")
    out("checkpoints.cut_mem_bytes") = (med(_.storage("cut_mem_bytes").toDouble), "bytes")
    out("checkpoints.cut_disk_bytes") = (med(_.storage("cut_disk_bytes").toDouble), "bytes")
    out("checkpoints.resident_bytes_end") =
      (cutRdds(spark).values.map { case (m, d) => m + d }.sum.toDouble, "bytes")
    out("sinks.bytes_written") = (first.storage("bytes_written").toDouble, "bytes")
    out("sinks.files_written") = (first.storage("files_written").toDouble, "count")
    out("sinks.write_amp") = (span(first.spans, "publish").rowsOut.toDouble /
      c("result_rows").max(1L), "ratio")
    val session = traced.map { u =>
      val all = new Counters
      u.spans.foreach(s => all += listener.counters(s.group))
      (u.seconds, all)
    }
    def smed(f: Counters => Double) = Stats.median(session.map(s => f(s._2)))
    out("spark.stages") = (smed(_.stages.toDouble), "count")
    out("spark.stages_skipped") = (smed(_.stagesSkipped.toDouble), "count")
    out("spark.tasks") = (smed(_.tasks.toDouble), "count")
    out("spark.failed_tasks") = (smed(_.failedTasks.toDouble), "count")
    out("spark.shuffle_read_bytes") = (smed(_.shuffleReadBytes.toDouble), "bytes")
    out("spark.fetch_wait_s") = (smed(_.fetchWaitMs / 1e3), "s")
    out("spark.core_busy") = (Stats.median(session.map { case (wall, c) => c.taskMs / 1e3 / (wall * cores) }), "ratio")
    out("trace.overhead") = (Stats.median(traced.map(_.seconds)) / untracedP50, "ratio")
    ListMap(out.toSeq: _*)
  }
}
