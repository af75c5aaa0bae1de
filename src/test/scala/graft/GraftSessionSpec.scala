package graft

import java.nio.file.{Files, Paths}

class GraftSessionSpec extends SparkSpec {
  test("the factory sets every conf value the mains and specs run under") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4000")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ==
      org.apache.logging.log4j.Level.WARN)
    val warehouse = Paths.get(
      new org.apache.hadoop.fs.Path(conf.get("spark.sql.warehouse.dir")).toUri.getPath)
    assert(Files.isDirectory(warehouse))
    assert(!warehouse.toAbsolutePath.normalize
      .startsWith(Paths.get("").toAbsolutePath.normalize),
      s"warehouse $warehouse sits under the working directory")
  }

  test("lane count defaults to SPARK_GRAFT_CPUS, else every available processor") {
    val want = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    assert(GraftSession.defaultCpus == want)
  }

  test("Verify's subset form refuses a non-empty outDir before any session starts") {
    val live = spark
    val out = Files.createTempDirectory("graft_verify")
    Files.writeString(out.resolve("stale.parquet"), "left by an earlier dump")
    val e = intercept[IllegalArgumentException] {
      Verify.main(Array("unread-sf-dir", out.toString, "q01_index_daily"))
    }
    assert(e.getMessage.contains("absent or empty outDir"))
    assert(out.toFile.list().toSeq == Seq("stale.parquet"))
    // GraftSession.run would have picked up this session and stopped it.
    assert(!live.sparkContext.isStopped)
  }

  test("Verify's subset form refuses unknown query names") {
    val out = Files.createTempDirectory("graft_verify")
    val e = intercept[IllegalArgumentException] {
      Verify.main(Array("unread-sf-dir", out.toString, "q01_index_daily", "no_such_query"))
    }
    assert(e.getMessage.contains("no_such_query"))
    assert(!spark.sparkContext.isStopped)
  }
}
