package perfbench

import graft.marketviz.{Analytics, IndexCalculator, Ingest, SheetWriter}
import graft.sources.KeyedParquetStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The MarketViz daily cadence. Each simulated trading day fetches a
  * 21-trading-day window, split-adjusts it, upserts it into the
  * date-partitioned `stocks` store, computes the top-K index over the
  * window and upserts it into `index_data`, writes `index_data.xlsx`,
  * compacts both stores every few days, and then serves a fixed burst of
  * dashboard reads against the growing stores.
  *
  * Days 0 (which bootstraps the stores) and 1 are the warm-up; from day 2
  * on, a day's steps 2–6 are one timed `refresh` unit and each dashboard
  * read one `read` unit. */
final class MarketvizDaily(args: Main.Args) extends Workload {
  import MarketvizDaily._

  private val inputs = s"${args.work}/inputs"
  // The trading calendar is whatever dates the input feed holds.
  private var dates = IndexedSeq.empty[java.sql.Date]
  private def maxDays = dates.size - Window

  private lazy val stores = Stores(s"${args.work}/run")
  private var days = 0
  private val refreshWalls = collection.mutable.ArrayBuffer.empty[Double]
  private val readWalls = collection.mutable.ArrayBuffer.empty[Double]
  private var storeFiles = 0
  private var tracedRowsOut = 0L

  private def prices(spark: SparkSession) = spark.read.parquet(s"$inputs/prices.parquet")
  private def shares(spark: SparkSession) = spark.read.parquet(s"$inputs/shares.parquet")

  def touch(spark: SparkSession): Unit = {
    Seq(prices(spark), shares(spark)).foreach(_.write.format("noop").mode("overwrite").save())
    if (dates.isEmpty) dates = prices(spark).select("date").distinct().orderBy("date")
      .collect().map(_.getDate(0)).toIndexedSeq
  }

  /** The run's first two days: day 0 bootstraps the stores and serves
    * the read burst, day 1 is the first merge. The timed loop goes on from
    * day 2 against the same stores. */
  def warmUp(spark: SparkSession, out: Outcome): Unit = {
    val t = new Tracer(spark.sparkContext)
    t.unit("warm")(refresh(spark, t, 0))
    Reads.foreach(r => t.unit("warm")(read(spark, t, 0, r)))
    t.unit("warm")(refresh(spark, t, 1))
    days = WarmDays
  }

  def measure(spark: SparkSession, tracer: Tracer, deadlineNs: Long, out: Outcome): Unit = {
    while (days < maxDays &&
        (refreshWalls.size < 2 || Main.timeLeft(deadlineNs, cycles(tracer).last))) {
      val d = days
      // Traced runs alternate untraced and traced days to measure the
      // tracing overhead.
      tracer.traced = args.trace && d % 2 == 1
      out.attempted += 1
      tracer.unit("refresh")(refresh(spark, tracer, d))
      refreshWalls += tracer.finished.last.wall
      Reads.foreach { r =>
        out.attempted += 1
        try {
          tracer.unit("read")(read(spark, tracer, d, r))
          readWalls += tracer.finished.last.wall
        } catch { case scala.util.control.NonFatal(e) =>
          // a failed read counts against the run; the loop goes on
          out.failed += 1
          System.err.println(s"perfbench: day $d read $r failed: $e")
        }
      }
      tracer.traced = false
      val c0 = System.nanoTime()
      check(spark, d, out)
      System.err.println(f"perfbench: day $d checked in ${(System.nanoTime() - c0) / 1e9}%.3f s")
      days += 1
    }
    storeFiles = Seq(stores.stocks, stores.index).map(p => dataFiles(new java.io.File(p))).sum
    // Size once the stores are compacted, so it does not depend on where
    // the compaction cadence left off.
    Seq(stores.stocks, stores.index).foreach(p => KeyedParquetStore.compact(spark, p))
    val bytes = Seq(stores.stocks, stores.index).map(p => dirBytes(new java.io.File(p))).sum
    val rows = Seq(stores.stocks, stores.index)
      .map(p => KeyedParquetStore.read(spark, p).get.count()).sum
    out.detail("store_rows", rows)
    out.detail("store_bytes", bytes)
    out.e2e("out_bytes_per_row", bytes.toDouble / rows, "B")
  }

  def finish(spark: SparkSession, tracer: Tracer, out: Outcome): Unit = {
    val n = refreshWalls.size
    val tailP = Stats.tailPercentile(n)
    val readTailP = Stats.tailPercentile(readWalls.size)
    val q = math.max(1, n / 4)
    out.e2e("refresh_p50_s", Stats.median(refreshWalls.toSeq), "s")
    out.detail("refresh_cpu_p50_s",
      Stats.median(tracer.finished.filter(_.kind == "refresh").map(_.cpu)))
    out.e2e("cycle_p50_s", Stats.median(cycles(tracer)), "s")
    out.detail("days", days)
    out.detail("refresh_n", n)
    out.detail("refresh_tail_s", tailP.map(p => Stats.percentile(refreshWalls.toSeq, p)))
    out.detail("refresh_tail_pct", tailP)
    out.detail("refresh_growth",
      Stats.median(refreshWalls.takeRight(q).toSeq) / Stats.median(refreshWalls.take(q).toSeq))
    out.detail("dashboard_n", readWalls.size)
    out.detail("dashboard_p50_ms", Stats.median(readWalls.toSeq) * 1000)
    out.detail("dashboard_tail_ms",
      readTailP.map(p => Stats.percentile(readWalls.toSeq, p) * 1000))
    out.detail("dashboard_tail_pct", readTailP)
  }

  /** Per timed day: refresh plus its reads. */
  private def cycles(tracer: Tracer): Seq[Double] = {
    val us = tracer.finished
    val starts = us.indices.filter(i => us(i).kind == "refresh")
    starts.map { i =>
      us(i).wall + us.drop(i + 1).takeWhile(_.kind == "read").map(_.wall).sum
    }
  }

  /** Opening a store is lazy: the parquet scans run inside the analytics
    * call that consumes it, and are charged to `sources.store.read` too. */
  override def scanOwner(span: String): Option[String] =
    if (span.startsWith("marketviz.analytics.")) Some("sources.store.read") else None

  def layerExtras(r: Tracer.LayerReport): Map[String, Double] = {
    val merge = r.stages.get("sources.store.merge")
    val readStages = r.stages.filter { case (k, _) =>
      k == "sources.store.read" || k.startsWith("marketviz.analytics.") }.values
    Map(
      "sources.store.bytes_written_per_row" ->
        merge.filter(_.recordsWritten > 0)
          .map(m => m.bytesWritten.toDouble / m.recordsWritten).getOrElse(0.0),
      "sources.store.files" -> storeFiles.toDouble,
      "marketviz.analytics.rows_read_per_row_out" ->
        (if (tracedRowsOut > 0) readStages.map(_.recordsRead).sum.toDouble / tracedRowsOut
         else 0.0))
  }

  /** Steps 2–6 of day `d`. */
  private def refresh(spark: SparkSession, t: Tracer, d: Int): Unit = {
    val s = stores
    val window = dates.slice(d, d + Window)
    val raw = prices(spark)
      .filter(col("date").between(lit(window.head), lit(window.last)))
    val adjusted = t.span("marketviz.ingest") {
      graft.Pin.ser(Ingest.splitAdjust(raw, shares(spark)))
    }
    t.span("sources.store.merge") {
      KeyedParquetStore.upsert(spark, s.stocks, adjusted.withColumn("ver", lit(d)),
        Seq("ticker", "date"), Seq(col("ver")), partitionCols = Seq("date"),
        partitionValues = window.map(Seq(_)), incomingUnique = true)
    }
    val index = t.span("marketviz.index") {
      val idx = graft.Pin.ser(IndexCalculator.computeIndex(adjusted, K))
      if (args.fault.contains("drop_index_row") && d == WarmDays)
        idx.filter(col("date") =!= lit(window.last))
      else idx
    }
    t.span("sources.store.merge") {
      KeyedParquetStore.upsert(spark, s.index, index.withColumn("ver", lit(d)),
        Seq("date"), Seq(col("ver")), incomingUnique = true)
    }
    t.span("marketviz.export") {
      SheetWriter.writeXlsx(KeyedParquetStore.read(spark, s.index).get.drop("ver"), s.xlsx)
    }
    if (d > 0 && d % CompactEvery == 0) t.span("sources.store.compact") {
      KeyedParquetStore.compact(spark, s.stocks)
      KeyedParquetStore.compact(spark, s.index)
    }
  }

  /** One dashboard read against the stores as of day `d`. */
  private def read(spark: SparkSession, t: Tracer, d: Int, which: String): Unit = {
    val s = stores
    def store(p: String) = t.span("sources.store.read")(KeyedParquetStore.read(spark, p).get)
    val rnd = new scala.util.Random(args.seed * 1000003L + d)
    val stored = dates.take(d + Window)
    val point = stored(rnd.nextInt(stored.size))
    // up to two calendar days later: weekends exercise the fallback
    val asOf = java.sql.Date.valueOf(point.toLocalDate.plusDays(rnd.nextInt(3)))
    val rows = which match {
      case "stats" =>
        val index = store(s.index)
        t.span("marketviz.analytics.stats")(Analytics.statistics(index).collect())
      case "changes" =>
        val index = store(s.index)
        t.span("marketviz.analytics.changes")(Analytics.compositionChanges(index).collect())
      case "pie" =>
        val index = store(s.index)
        val stocks = store(s.stocks)
        t.span("marketviz.analytics.pie") {
          val latest = index.orderBy(col("date").desc).limit(1).select(col("composition"))
          Analytics.pieDistribution(stocks, latest, PieSlices).collect()
        }
      case "asof" =>
        val index = store(s.index)
        t.span("marketviz.analytics.asof")(Analytics.asOfComposition(index, asOf).collect())
      case "point" =>
        val index = store(s.index)
        t.span("marketviz.analytics.point")(IndexCalculator.indexAtDate(index, point).collect())
    }
    if (rows.isEmpty) throw new IllegalStateException(s"dashboard read $which returned no rows")
    if (t.traced) tracedRowsOut += rows.length
  }

  /** Outside the timed units: the stores' rows for day `d`'s window must
    * equal split-adjust and index recomputed from that day's batch, never
    * read through the store; the xlsx must hold one row per stored date. */
  private def check(spark: SparkSession, d: Int, out: Outcome): Unit = {
    val window = dates.slice(d, d + Window)
    def inWindow(df: DataFrame) =
      df.filter(col("date").between(lit(window.head), lit(window.last)))
    def stored(p: String, schema: org.apache.spark.sql.types.StructType, like: DataFrame) =
      inWindow(KeyedParquetStore.read(spark, p, schema = Some(schema)).get)
        .select(like.columns.map(col).toIndexedSeq: _*)
    val expectStocks = Ingest.splitAdjust(inWindow(prices(spark)), shares(spark))
    val expectIndex = IndexCalculator.computeIndex(expectStocks, K)
    val Seq((gotStocks, wantStocks), (gotIndex, wantIndex)) = Stats.compareHashes(
      stored(stores.stocks, StocksSchema, expectStocks) -> expectStocks,
      stored(stores.index, IndexSchema, expectIndex) -> expectIndex)
    out.check("marketviz.stocks_window", gotStocks == wantStocks,
      s"day $d: store (rows, hash) $gotStocks, recomputed $wantStocks")
    out.check("marketviz.index_window", gotIndex == wantIndex,
      s"day $d: store (rows, hash) $gotIndex, recomputed $wantIndex")
    val sheetRows = xlsxDataRows(stores.xlsx)
    out.check("marketviz.xlsx_rows", sheetRows == d + Window,
      s"day $d: xlsx has $sheetRows data rows, the store ${d + Window} dates")
  }
}

object MarketvizDaily {
  val Window = 21
  val WarmDays = 2
  val K = 100
  val PieSlices = 10
  val CompactEvery = 5
  val Reads: Seq[String] = Seq("stats", "changes", "pie", "asof", "point")

  private val Ver = org.apache.spark.sql.types.StructField("ver", org.apache.spark.sql.types.IntegerType)
  val StocksSchema = graft.marketviz.Schemas.stocks.add(Ver)
  val IndexSchema = graft.marketviz.Schemas.indexData.add(Ver)

  final case class Stores(root: String) {
    val stocks = s"$root/stocks"
    val index = s"$root/index_data"
    val xlsx = s"$root/index_data.xlsx"
  }

  /** Data rows of the first sheet (Performance), header excluded. */
  def xlsxDataRows(path: String): Long = {
    val zip = new java.util.zip.ZipFile(path)
    try {
      val xml = new String(zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml"))
        .readAllBytes(), "UTF-8")
      "<row ".r.findAllMatchIn(xml).size - 1L
    } finally zip.close()
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  def dataFiles(f: java.io.File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dataFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
