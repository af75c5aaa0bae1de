package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [query ...]`. With two
  * args it dumps the full registry — the correctness gate. With query
  * names it dumps only those (isolating one misbehaving query at a big
  * scale factor, where re-running the whole registry to reach it costs
  * half an hour per attempt), and only into an absent or empty outDir:
  * a partial dump next to stale parquet would let check.py verify the
  * wrong binaries (bitten in r9 — a "targeted" re-verification of
  * changed code actually compared the unchanged binaries' output). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      s"usage: graft.Verify <sfDir> <outDir> [query ...] (got ${args.length} args: " +
        s"${args.mkString(" ")})")
    val Array(sfDir, outDir) = args.take(2)
    val subset = args.drop(2).toSeq
    val registry = SparkEntry.queries
    // Checked before any session starts, so a refused subset dump
    // leaves outDir exactly as it found it.
    if (subset.nonEmpty) {
      val unknown = subset.filterNot(registry.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      val existing = Option(new java.io.File(outDir).list()).getOrElse(Array.empty[String])
      require(existing.isEmpty,
        s"a subset dump needs an absent or empty outDir, but $outDir holds " +
          s"${existing.length} entries — stale parquet beside a partial dump " +
          "would be re-verified as fresh; pick a throwaway dir")
    }
    val dumped =
      if (subset.isEmpty) registry
      else subset.distinct.map(n => n -> registry(n))
    GraftSession.run(spark => dump(spark, sfDir, outDir, dumped))
  }

  private def dump(spark: SparkSession, sfDir: String, outDir: String,
                   dumped: Iterable[(String, (SparkSession, String) => DataFrame)])
      : Unit = {
    // One loud schema-drift message up front beats N analysis errors
    // scattered through the registry dump (r9: regenerated events.parquet
    // silently failed 7 queries one at a time). DIAGNOSE, don't abort:
    // aborting here would zero the WHOLE dump over one drifted column,
    // when every query not touching it would still verify green.
    try Tables.verifySchemas(spark, sfDir)
    catch { case e: IllegalStateException =>
      System.err.println(s"[verify] SCHEMA PREFLIGHT FAILED — expect " +
        s"failures in queries touching these columns:\n${e.getMessage}")
    }
    new java.io.File(outDir).mkdirs()
    // repartition(1), NOT coalesce(1): coalesce is a narrow dependency,
    // so it propagates the 1-partition constraint INTO the final
    // computation stage — a query ending in a sort-merge join or global
    // window then executes single-threaded over the whole input
    // (measured: one sf10 dump task spilling a single-threaded SMJ for
    // 20+ minutes). repartition inserts an exchange after the result is
    // computed at full parallelism; only the KB-to-MB result rows cross
    // it to form the single output file check.py expects.
    dumped.foreach { case (name, fn) =>
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleSql(outDir, dumped.map(_._1).toSet)
  }

  /** Dump `oracleSql` (restricted to `names`) as `outDir/oracle_sql.json`
    * for tools/check.py, so a subset dump is check.py-runnable too. JSON
    * string escape covers backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. */
  private def writeOracleSql(outDir: String, names: Set[String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.view.filterKeys(names)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
