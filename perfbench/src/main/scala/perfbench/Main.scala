package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One benchmark run over seeded inputs already written to
  * `<work>/inputs`: set up (several times, timed), run the workload's
  * closed loop until the deadline, check the outputs, and print the
  * metrics.
  *
  * Usage: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--cpus <n>] [--fault <name>]
  * [--trace-out <file>]`.
  *
  * Stdout carries only metric lines, check verdicts and, last, one
  * `PERFBENCH_RESULT {json}` line for the wrapper script. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, cpus: Int, fault: Option[String],
                        traceOut: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def req(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(req("--workload"), req("--seed").toLong, req("--seconds").toDouble,
      req("--trace") == "1", req("--work"),
      kv.get("--cpus").map(_.toInt)
        .getOrElse(math.min(4, Runtime.getRuntime.availableProcessors())),
      kv.get("--fault"), kv.get("--trace-out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload: Workload = args.workload match {
      case "marketviz_daily" => new MarketvizDaily(args)
      case "curation_balanced" | "curation_dupheavy" => new Curation(args)
      case other => sys.error(s"unknown workload $other")
    }
    val out = new Outcome
    // A failed check has already printed its verdict.
    val ok = try { run(args, workload, out); true } catch { case _: CheckFailed => false }
    out.emit(args.trace, ok)
    // Spark's non-daemon threads must not keep the JVM alive.
    sys.exit(if (ok) 0 else 1)
  }

  def session(args: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def phase(name: String, t0: Long): Unit =
    System.err.println(f"perfbench: $name done at ${(System.nanoTime() - t0) / 1e9}%.1f s")

  private def run(args: Args, w: Workload, out: Outcome): Unit = {
    val t0 = System.nanoTime()
    var spark = session(args)
    phase("session", t0)
    out.detail("spark_version", spark.version)
    out.detail("jvm_version", System.getProperty("java.vm.version"))
    out.detail("local_n", args.cpus)

    // Set-up: session start and first touch of the inputs, several times
    // (the first in a cold JVM), then one warm-up on throw-away outputs.
    // setup_s is the median start-and-touch plus the warm-up.
    val starts = (0 until SetupRounds).map { i =>
      val s0 = if (i == 0) t0 else System.nanoTime()
      if (i > 0) {
        spark.stop()
        spark = session(args)
      }
      w.touch(spark)
      phase(s"start $i", t0)
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmUp(spark, out)
    val warm = (System.nanoTime() - w0) / 1e9
    phase("warm-up", t0)
    out.detail("start_samples_s", starts)
    out.detail("warmup_s", warm)
    out.e2e("setup_s", Stats.median(starts) + warm, "s")

    val tracer = new Tracer(spark.sparkContext)
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    w.measure(spark, tracer, deadline, out)
    phase("measure", t0)
    out.e2e("live_heap_mb", Heap.liveMb(), "MB")
    w.finish(spark, tracer, out)
    if (args.trace) {
      val r = tracer.report(w.mainKind, w.scanOwner)
      Layers.emit(r, w.layerExtras(r), out)
      out.detail("trace_overhead_frac", r.overheadFrac)
      out.detail("traced_units", r.tracedUnits)
      out.detail("untraced_units", r.untracedUnits)
      args.traceOut.foreach(tracer.dump)
    }
    spark.stop()
  }

  val SetupRounds = 3

  /** Whether another unit like the last one should start: the loop stops
    * once less than half such a unit fits before the deadline. */
  def timeLeft(deadlineNs: Long, lastWall: Double): Boolean =
    System.nanoTime() + (lastWall * 0.5e9).toLong < deadlineNs
}

final class CheckFailed(val name: String, msg: String) extends RuntimeException(msg)

/** Everything a run reports. */
final class Outcome {
  private val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val details = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.LinkedHashMap.empty[String, (Int, Int)]
  var attempted = 0
  var failed = 0

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)
  def detail(name: String, v: Any): Unit = details(name) = v

  /** Record one verdict; a failed check stops the run. */
  def check(name: String, ok: Boolean, what: => String): Unit = {
    val (p, n) = checks.getOrElse(name, (0, 0))
    checks(name) = (p + (if (ok) 1 else 0), n + 1)
    if (!ok) {
      println(s"check $name: FAIL $what")
      throw new CheckFailed(name, what)
    }
  }

  def emit(trace: Boolean, correct: Boolean): Unit = {
    checks.foreach { case (name, (p, n)) =>
      if (p == n) println(s"check $name: pass $p/$n")
    }
    val shown = if (trace) layerMetrics else e2eMetrics
    println(f"attempted $attempted, failed $failed, failed_frac ${
      if (attempted > 0) failed.toDouble / attempted else 0.0}%.4f")
    shown.foreach { case (k, (v, u)) => println(s"metric $k = ${Json.num(v)} $u") }
    val metrics = shown.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val checkJson = checks.map { case (k, (p, n)) =>
      s"${Json.str(k)}: {\"passed\": $p, \"run\": $n}" }.mkString("{", ", ", "}")
    println(s"PERFBENCH_RESULT {\"correct\": $correct, \"attempted\": $attempted, " +
      s"\"failed\": $failed, \"metrics\": $metrics, \"checks\": $checkJson, " +
      s"\"details\": ${Json.obj(details.toSeq)}}")
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString
  def value(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case o: Option[_] => o.map(value).getOrElse("null")
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}

/** Heap in use after full collections. Spark's cleaner releases
  * unreferenced checkpoints, shuffles and broadcasts only after a
  * collection finds them, so a few collections run with pauses between. */
object Heap {
  def liveMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(200) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** One workload: set-up, the timed loop, final checks. Its seeded inputs
  * are already under `<work>/inputs`. */
trait Workload {
  /** The unit kind that end-to-end latency and overhead are read from. */
  def mainKind: String = "refresh"
  def touch(spark: SparkSession): Unit
  /** Untimed units on throw-away outputs before the timed loop. */
  def warmUp(spark: SparkSession, out: Outcome): Unit
  def measure(spark: SparkSession, tracer: Tracer, deadlineNs: Long, out: Outcome): Unit
  def finish(spark: SparkSession, tracer: Tracer, out: Outcome): Unit
  /** The stage that the file scans run inside span `span` are also
    * charged to, if any (see [[Tracer.report]]). */
  def scanOwner(span: String): Option[String] = None
  /** The workload's values for [[Layers.Extras]] (the rest report 0). */
  def layerExtras(r: Tracer.LayerReport): Map[String, Double]
}
