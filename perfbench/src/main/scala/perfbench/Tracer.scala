package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Wall-clock units and layer spans, measured from outside the library.
  *
  * A *unit* is one closed-loop step of a workload (a trading day's
  * refresh, one dashboard read, one curation pass); every unit is timed.
  * A *span* wraps one call into a layer inside a unit. While tracing is on,
  * a span sets the `perfbench.span` local property, so every job and stage
  * the call submits carries the span's id, and the listener charges the
  * stage's tasks to that span. Stages that read files (a `FileScanRDD` in
  * their lineage, with whatever Spark fuses into them) are also recorded
  * apart, so a read that only opens a lazy relation can be charged the
  * scans that its consumers run (see [[report]]). With tracing off, spans cost nothing: no
  * property, no listener, no per-span clock reads.
  *
  * `traced` is switched only between units. Switching removes the listener
  * from the bus, so an untraced unit runs exactly as an uninstrumented
  * program would; the difference between traced and untraced unit walls is
  * the tracing overhead. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val units = mutable.ArrayBuffer.empty[UnitRecord]
  private val spans = mutable.ArrayBuffer.empty[SpanRecord]
  private var current: Option[UnitRecord] = None
  private var nextSpan = 0
  private var listening = false

  private val counters = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val scanStages = mutable.HashSet.empty[Int]
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    private def spanOf(p: java.util.Properties): Option[Int] =
      Option(p).flatMap(x => Option(x.getProperty(Property))).map(_.toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      spanOf(e.properties).foreach { id =>
        counters.getOrElseUpdate(id, new Counters).jobs += 1
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val st = e.stageInfo
      spanOf(e.properties).foreach { id =>
        stageSpan(st.stageId) = id
        if (st.rddInfos.exists(_.name == "FileScanRDD")) {
          scanStages += st.stageId
          stageJob.get(st.stageId)
            .foreach(counters.getOrElseUpdate(id, new Counters).scanJobs += _)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val st = e.stageInfo
      if (scanStages(st.stageId)) stageSpan.get(st.stageId).foreach { id =>
        for (a <- st.submissionTime; b <- st.completionTime)
          counters.getOrElseUpdate(id, new Counters).scanIntervals += ((a, b))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val info = e.taskInfo
      if (info != null) taskIntervals += ((info.launchTime, info.finishTime))
      stageSpan.get(e.stageId).foreach { id =>
        val c = counters.getOrElseUpdate(id, new Counters)
        c.tasks += 1
        if (info != null) {
          c.taskMs += info.duration
          if (scanStages(e.stageId)) c.scanTaskMs += info.duration
        }
        val m = e.taskMetrics
        if (m != null) {
          c.recordsRead += m.inputMetrics.recordsRead
          c.bytesWritten += m.outputMetrics.bytesWritten
          c.recordsWritten += m.outputMetrics.recordsWritten
        }
      }
    }
  }

  /** Whether the next units are traced. */
  var traced: Boolean = false

  /** Time one unit of `kind`; returns the body's value. */
  def unit[T](kind: String)(body: => T): T = {
    require(current.isEmpty, "units do not nest")
    if (traced != listening) {
      ListenerBusAccess.drain(sc)
      if (traced) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
      listening = traced
    }
    val u = UnitRecord(units.size, kind, traced, System.currentTimeMillis(), System.nanoTime(),
      cpuNs())
    current = Some(u)
    try body
    finally {
      u.endNs = System.nanoTime()
      u.endMs = System.currentTimeMillis()
      u.cpu = (cpuNs() - u.startCpuNs) / 1e9
      current = None
      units += u
      System.err.println(f"perfbench: unit ${u.index} $kind${if (u.traced) " traced" else ""} ${u.wall}%.3f s")
    }
  }

  /** One call into a layer, named `<module>.<stage>`. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val u = current.getOrElse(sys.error(s"span $name outside a unit"))
      val id = nextSpan
      nextSpan += 1
      val previous = sc.getLocalProperty(Property)
      sc.setLocalProperty(Property, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += SpanRecord(id, name, u.index, (System.nanoTime() - t0) / 1e9)
        sc.setLocalProperty(Property, previous)
      }
    }

  /** Write every unit and every span, with the listener counts charged
    * to it, as JSON lines. */
  def dump(path: String): Unit = {
    ListenerBusAccess.drain(sc)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try synchronized {
      units.foreach { u =>
        out.println(Json.obj(Seq("unit" -> u.index, "kind" -> u.kind, "traced" -> u.traced,
          "start_ms" -> u.startMs, "wall_s" -> u.wall, "cpu_s" -> u.cpu)))
      }
      spans.foreach { s =>
        val c = counters.getOrElse(s.id, new Counters)
        out.println(Json.obj(Seq("span" -> s.id, "name" -> s.name, "unit" -> s.unit,
          "wall_s" -> s.wall, "jobs" -> c.jobs, "tasks" -> c.tasks, "task_ms" -> c.taskMs,
          "records_read" -> c.recordsRead, "bytes_written" -> c.bytesWritten,
          "records_written" -> c.recordsWritten, "scan_jobs" -> c.scanJobs.size,
          "scan_s" -> busyMs(c.scanIntervals.toSeq) / 1e3, "scan_task_ms" -> c.scanTaskMs)))
      }
    } finally out.close()
  }

  /** Finished units, in order. */
  def finished: Seq[UnitRecord] = units.toSeq

  /** Per-layer report over the traced units of `kind` (and the spans of
    * every traced unit, whatever its kind). The file scans run inside a
    * span named `n` are also charged to the stage `scanOwner(n)` names, if
    * any: per unit, the wall in which such scans ran, their jobs and their
    * task time. */
  def report(mainKind: String, scanOwner: String => Option[String]): LayerReport = {
    ListenerBusAccess.drain(sc)
    synchronized {
      val tracedUnits = units.filter(_.traced)
      val byUnit = spans.groupBy(_.unit)
      def counter(id: Int) = counters.getOrElse(id, new Counters)
      // (stage, unit, wall s, jobs, task ms)
      val own = spans.map { s =>
        (s.name, s.unit, s.wall, counter(s.id).jobs, counter(s.id).taskMs.toDouble)
      }
      val scans = byUnit.toSeq.flatMap { case (u, ss) =>
        ss.groupBy(s => scanOwner(s.name)).collect { case (Some(owner), os) =>
          val cs = os.map(s => counter(s.id))
          (owner, u, busyMs(cs.flatMap(_.scanIntervals).toSeq) / 1e3,
            cs.flatMap(_.scanJobs).distinct.size, cs.map(_.scanTaskMs).sum.toDouble)
        }
      }
      val perStage: Map[String, StageStats] = (own ++ scans).groupBy(_._1).map { case (name, ps) =>
        // per unit: the sum over the stage's parts in that unit
        val perUnit = ps.groupBy(_._2).values.map { us =>
          (us.map(_._3).sum, us.map(_._4).sum, us.map(_._5).sum)
        }.toSeq
        val ss = spans.filter(_.name == name)
        val cs = ss.map(s => counter(s.id))
        name -> StageStats(
          Stats.median(perUnit.map(_._1)),
          Stats.median(perUnit.map(_._2.toDouble)),
          Stats.median(perUnit.map(_._3)),
          cs.map(_.recordsRead).sum, cs.map(_.bytesWritten).sum,
          cs.map(_.recordsWritten).sum, ss.size)
      }
      val tracedWall = tracedUnits.map(_.wall).sum
      val covered = tracedUnits.flatMap(u => byUnit.getOrElse(u.index, Nil)).map(_.wall).sum
      // Idle: the share of traced wall in which no task ran. Task
      // intervals are clipped to the traced units' windows.
      val busy = tracedUnits.map { u =>
        busyMs(taskIntervals.toSeq
          .map { case (a, b) => (math.max(a, u.startMs), math.min(b, u.endMs)) })
      }.sum
      val tracedWallMs = tracedUnits.map(u => (u.endMs - u.startMs).toDouble).sum
      val main = units.filter(_.kind == mainKind)
      val tracedMain = main.filter(_.traced).map(_.wall)
      val plainMain = main.filterNot(_.traced).map(_.wall)
      val mainJobs = main.filter(_.traced).map { u =>
        byUnit.getOrElse(u.index, Nil).map(s => counter(s.id).jobs).sum.toDouble
      }
      val mainTasks = main.filter(_.traced).map { u =>
        byUnit.getOrElse(u.index, Nil).map(s => counter(s.id).tasks).sum.toDouble
      }
      LayerReport(
        stages = perStage,
        coverage = if (tracedWall > 0) covered / tracedWall else 0.0,
        idleFrac = if (tracedWallMs > 0) 1.0 - busy / tracedWallMs else 0.0,
        jobsPerUnit = Stats.median(mainJobs.toSeq),
        tasksPerUnit = Stats.median(mainTasks.toSeq),
        overheadFrac =
          if (tracedMain.nonEmpty && plainMain.nonEmpty)
            (Stats.median(tracedMain.toSeq) - Stats.median(plainMain.toSeq)) /
              Stats.median(plainMain.toSeq)
          else 0.0,
        tracedUnits = tracedMain.size, untracedUnits = plainMain.size)
    }
  }
}

object Tracer {
  val Property = "perfbench.span"

  /** Milliseconds covered by the union of the intervals (start, end). */
  def busyMs(intervals: Seq[(Long, Long)]): Long = {
    var busy = 0L
    var end = Long.MinValue
    intervals.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }

  /** CPU time of the whole JVM, which runs every task of a local session. */
  private def cpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  final case class UnitRecord(index: Int, kind: String, traced: Boolean,
                              startMs: Long, startNs: Long, startCpuNs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    /** Process CPU seconds spent during the unit. */
    var cpu: Double = 0.0
    def wall: Double = (endNs - startNs) / 1e9
  }

  final case class SpanRecord(id: Int, name: String, unit: Int, wall: Double)

  final class Counters {
    var jobs = 0
    var tasks = 0
    var taskMs = 0L
    var recordsRead = 0L
    var bytesWritten = 0L
    var recordsWritten = 0L
    /** The span's file-scan stages: their jobs, (submitted, completed)
      * times and task time. */
    val scanJobs = mutable.Set.empty[Int]
    val scanIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    var scanTaskMs = 0L
  }

  /** Medians are over the units in which the stage ran; the totals are
    * over the whole run. */
  final case class StageStats(wall: Double, jobs: Double, taskMs: Double,
                              recordsRead: Long, bytesWritten: Long,
                              recordsWritten: Long, calls: Int)

  final case class LayerReport(stages: Map[String, StageStats], coverage: Double,
                               idleFrac: Double, jobsPerUnit: Double,
                               tasksPerUnit: Double, overheadFrac: Double,
                               tracedUnits: Int, untracedUnits: Int)
}
