package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built: every main and the test
  * harness take their session from here, so there is a single conf to
  * audit and no hand-copied builder to drift.
  *
  * Lanes: `SPARK_GRAFT_CPUS` when set, else every available processor;
  * shuffle partitions follow the lane count. Sessions run in UTC, read
  * TIMESTAMP(NANOS) parquet as nanos-longs (see [[Tables.events]], which
  * adapts to either `ts` encoding by schema), keep the UI off, log at
  * WARN, and put the default warehouse in a fresh temp dir so
  * `saveAsTable` never writes into the working tree.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, defaulting to `Runtime.availableProcessors`. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Get or create the session on `local[cpus]`. The caller owns its
    * lifecycle; mains use [[run]], which stops it. */
  def build(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Static conf, default 100: the full registry generates far more
      // distinct codegen classes than that, so the class cache thrashes —
      // the r8 evidence run shows q49 Janino-recompiling 66 classes on
      // EVERY run (~1-2 s of its fixed cost, and the component that
      // amplifies under ambient CPU load, which is where the r7
      // driver-vs-local 10.8 s/4.5 s divergence lives). One registry run
      // compiles ~2k distinct classes; cache them all.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` on a fresh default session and stop it afterwards, even
    * when `body` throws; returns the body's value, so a main can print
    * after the stop. */
  def run[A](body: SparkSession => A): A = {
    val spark = build()
    try body(spark) finally spark.stop()
  }
}
