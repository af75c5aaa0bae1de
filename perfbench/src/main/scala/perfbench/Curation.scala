package perfbench

import graft.Pin
import graft.pipeline.{Dedup, Sampling, TextAnalysis}
import graft.sources.TarShards
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Curation → tar-shard export. One pass composes the
  * `q81_curation_full` chain stage for stage from the library's public
  * functions (quality gate, exact dedup, shingles, bands, confirm,
  * components, decontamination, token-budget selection, PII redaction and
  * chunking), then the training-export stages (`assignSplit` →
  * `deterministicShuffleRank` → `packBudget`) and `TarShards.write` into
  * a fresh directory. An untraced pass pins where the program does (q81's
  * features and shingles, q82's ranked chunks); a traced pass also pins
  * every other stage's output, so each stage runs inside its own span and
  * the cost of those pins shows in `trace.overhead_frac`, not in the
  * end-to-end figures. */
final class Curation(args: Main.Args) extends Workload {
  import Curation._

  private val corpus = s"${args.work}/inputs"
  private val passWalls = collection.mutable.ArrayBuffer.empty[Double]
  private var tarBytes = 0L
  private var samples = 0L
  private var passes = 0
  private var extras = Map.empty[String, Double]

  override def mainKind: String = "pass"

  def touch(spark: SparkSession): Unit =
    graft.Tables.documents(spark, corpus).write.format("noop").mode("overwrite").save()

  /** One pass into a throw-away directory. */
  def warmUp(spark: SparkSession, out: Outcome): Unit = {
    val t = new Tracer(spark.sparkContext)
    t.unit("warm")(pass(spark, t, s"${args.work}/warm"))
    MarketvizDaily.deleteRecursively(new java.io.File(s"${args.work}/warm"))
  }

  def measure(spark: SparkSession, tracer: Tracer, deadlineNs: Long, out: Outcome): Unit = {
    while (passes < MaxPasses && (passes < 2 || Main.timeLeft(deadlineNs, passWalls.last))) {
      val dir = s"${args.work}/tar-$passes"
      tracer.traced = args.trace && passes % 2 == 1
      out.attempted += 1
      val r = tracer.unit("pass")(pass(spark, tracer, dir))
      passWalls += tracer.finished.last.wall
      if (tracer.traced && extras.isEmpty) extras = dedupCounts(r)
      tracer.traced = false
      chunkHashes += Stats.contentHash(r.chunks)
      val packedRows = r.packed.count()
      out.check("curation.manifest_samples", r.manifestSamples == packedRows,
        s"pass $passes: manifest holds ${r.manifestSamples} samples, packed $packedRows rows")
      tarBytes = r.tarBytes
      samples = r.manifestSamples
      MarketvizDaily.deleteRecursively(new java.io.File(dir))
      passes += 1
    }
  }

  private val chunkHashes = collection.mutable.ArrayBuffer.empty[(Long, Long)]

  /** Every pass's chunk relation must equal the registry's own
    * `q81_curation_full` over the same corpus. */
  def finish(spark: SparkSession, tracer: Tracer, out: Outcome): Unit = {
    val want = Stats.contentHash(graft.SparkEntry.queries("q81_curation_full")(spark, corpus))
    chunkHashes.zipWithIndex.foreach { case (got, i) =>
      out.check("curation.chunks_vs_q81", got == want,
        s"pass $i: chunks (rows, hash) $got, q81_curation_full $want")
    }
    val docs = graft.Tables.documents(spark, corpus).count()
    val p50 = Stats.median(passWalls.toSeq)
    out.e2e("refresh_p50_s", p50, "s")
    out.e2e("cycle_p50_s", p50, "s")
    out.e2e("out_bytes_per_row", tarBytes.toDouble / samples, "B")
    out.detail("refresh_cpu_p50_s", Stats.median(tracer.finished.filter(_.kind == "pass").map(_.cpu)))
    out.detail("docs", docs)
    out.detail("passes", passes)
    out.detail("chunks", want._1)
    out.detail("curation_docs_per_s", docs / p50)
    out.detail("tar_bytes", tarBytes)
    out.detail("tar_samples", samples)
  }

  def layerExtras(r: Tracer.LayerReport): Map[String, Double] =
    extras ++ Map("sources.tar.mb" -> tarBytes / 1e6)

  /** Candidate pairs, the largest (band, sig) bucket, and confirmed
    * pairs per candidate, from one traced pass (outside its timing). */
  private def dedupCounts(r: PassFrames): Map[String, Double] = {
    val buckets = r.sigs.groupBy("band", "sig").count()
    val maxBucket = buckets.agg(max("count")).head().getLong(0)
    val candidates = r.sigs.select(col("band"), col("sig"), col("doc_id").as("doc_a"))
      .join(r.sigs.select(col("band"), col("sig"), col("doc_id").as("doc_b")),
        Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b")).select("doc_a", "doc_b").distinct().count()
    val confirmed = r.confirmed.count()
    Map(
      "pipeline.dedup.candidates" -> candidates.toDouble,
      "pipeline.dedup.max_bucket" -> maxBucket.toDouble,
      "pipeline.dedup.confirm_yield" ->
        (if (candidates > 0) confirmed.toDouble / candidates else 0.0))
  }

  /** A stage whose output the program leaves lazy: pinned inside its span
    * when traced, left lazy otherwise. */
  private def stage(t: Tracer, name: String)(df: => DataFrame): DataFrame =
    if (t.traced) t.span(name)(Pin.ser(df)) else df

  private def pass(spark: SparkSession, t: Tracer, outDir: String): PassFrames = {
    val raw = graft.Tables.documents(spark, corpus).select(col("doc_id"), col("text"))
    val evalDocs = raw.filter(col("doc_id") < 20)
    // q81 injects PII into the pool so a no-op redaction cannot pass.
    val pool = raw.filter(col("doc_id") >= 20)
      .select(col("doc_id"), concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com at 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 ref 99887766"), col("doc_id").cast("string")).as("text"))
    val feats = t.span("pipeline.scan_feature") {
      Pin.ser(TextAnalysis.qualityFilter(pool,
        minTokens = 40, maxStopwordRatio = 0.2, maxShortTokenRatio = 0.3)
        .select(col("doc_id"), col("n_tokens"), col("stopword_ratio")))
    }
    val qualityText = pool.join(feats.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val uniqueIds = stage(t, "pipeline.dedup.exact") {
      Dedup.exact(qualityText).select(col("kept_id").as("doc_id"))
    }
    val uniqueText = qualityText.join(uniqueIds, Seq("doc_id"), "left_semi")
    val sh = t.span("pipeline.shingle")(Pin.ser(TextAnalysis.hashedShingles(uniqueText, 3)))
    val sigs = stage(t, "pipeline.dedup.band") {
      Dedup.bandSigs(sh, numHashes = 16, rowsPerBand = 4)
    }
    val confirmed = stage(t, "pipeline.dedup.confirm") {
      Dedup.confirmedPairsForClustering(sigs, sh, threshold = 0.5)
    }
    val nearIds = stage(t, "pipeline.dedup.components") {
      Dedup.dropNonCanonical(uniqueText.select(col("doc_id")),
        Dedup.dedupClusters(confirmed))
    }
    val cleanIds = stage(t, "pipeline.decontaminate") {
      nearIds.join(Dedup.contaminatedExact(
        sh.join(nearIds, Seq("doc_id"), "left_semi"),
        TextAnalysis.hashedShingles(evalDocs, 3), minOverlap = 10),
        Seq("doc_id"), "left_anti")
    }
    val selected = stage(t, "pipeline.select") {
      Sampling.takeTokenBudget(
        feats.join(cleanIds, Seq("doc_id"), "left_semi"),
        "doc_id", col("stopword_ratio"), col("n_tokens"), budget = 20000L)
        .select(col("doc_id"))
    }
    val chunks = stage(t, "pipeline.redact_chunk") {
      val redacted = TextAnalysis.redactPii(col("text"))
        .collectFirst { case ("redacted", c) => c }.get
      val c = TextAnalysis.chunkDocuments(
        pool.join(selected, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), redacted.as("text")),
        maxTokens = 32, overlap = 8)
      if (args.fault.contains("alter_chunk"))
        c.withColumn("chunk_text", when(col("chunk_id") === 0 && col("doc_id") ===
          c.agg(min("doc_id")).head().getLong(0), concat(col("chunk_text"), lit(" x")))
          .otherwise(col("chunk_text")))
      else c
    }
    val (packed, manifestSamples, tarBytes) = export(t, chunks, outDir)
    PassFrames(chunks, packed, sigs, confirmed, manifestSamples, tarBytes)
  }

  /** The training export (q82's stages) over curated chunks, then the tar
    * shards. Returns (packed rows, manifest samples, tar bytes). */
  private def export(t: Tracer, chunks: DataFrame, outDir: String): (DataFrame, Long, Long) = {
    val packed = stage(t, "pipeline.pack") {
      val keyed = chunks.select(col("doc_id"), col("chunk_id"), col("n_chunk_tokens"),
        concat(col("doc_id").cast("string"), lit("#"), col("chunk_id").cast("string"))
          .as("chunk_key"))
      val ranked = Pin.ser(Sampling.deterministicShuffleRank(
        Sampling.assignSplit(keyed, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
        "chunk_key"))
      Seq("train", "val", "test").map { sp =>
        Sampling.packBudget(ranked.filter(col("split") === sp),
          "chunk_key", col("n_chunk_tokens"), budget = 2048, packBuckets = 16)
      }.reduce(_.unionByName(_))
        .select(col("doc_id"), col("chunk_id"), col("pack_bucket"), col("pack_id"),
          col("split"))
    }
    val manifest = t.span("sources.tar.sink") {
      val samples = packed.join(chunks, Seq("doc_id", "chunk_id")).select(
        concat(col("split"), lit("-"), col("pack_bucket")).as("shard"),
        format_string("%015d-%010d-%05d.txt",
          col("pack_id"), col("doc_id"), col("chunk_id")).as("key"),
        encode(col("chunk_text"), "UTF-8").as("payload"))
      TarShards.write(samples, outDir, "shard", "key", "payload")
        .agg(sum(col("n_samples")), sum(col("tar_bytes"))).head()
    }
    def long(i: Int) = if (manifest.isNullAt(i)) 0L else manifest.getLong(i)
    (packed, long(0), long(1))
  }
}

object Curation {
  val MaxPasses = 200

  final case class PassFrames(chunks: DataFrame, packed: DataFrame, sigs: DataFrame,
                              confirmed: DataFrame, manifestSamples: Long, tarBytes: Long)
}
