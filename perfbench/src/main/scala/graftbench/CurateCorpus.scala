package graftbench

import java.nio.file.Path

import graft.ext.{Dedup, Html, Pipeline, TextStats}
import graft.sources.{Warc, WarcGzip}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `curate_corpus`: training-data throughput. Each set-up writes a
  * generated crawl as member-gzip WARC. The timed loop runs the curation
  * pipeline over it, pass after pass, each stage materialised to parquet
  * as a checkpointed pipeline would be:
  *
  * `WarcGzip.read` → `Html.extractText` → `TextStats.signalSweep` filter →
  * `Dedup.dedupCorpus` → `Dedup.dedupLinesCorpus` → `Pipeline.packSequences`
  * shards written as parquet.
  *
  * Document-level dedup runs before line-level dedup: the other order
  * strips every line of both copies of an exact duplicate (each line then
  * occurs twice in the corpus), so no copy would survive.
  */
final class CurateCorpus(spark: SparkSession, rec: Recorder, seed: Long, work: Path) extends Workload {
  override def setups: Int = 5
  val nPages = 12000
  val exactShare = 0.1
  val nearShare = 0.1
  val lowShare = 0.05
  val bodyLines = 6
  val lineWords = 20
  val shards = 4
  val tokenBudget = 2048L
  /** Pages of the separate, smaller crawl the untimed warm-up pass runs on. */
  val warmupPages = 3000
  val stages = Seq("sources.warc_read", "ext.extract_text", "ext.signal_filter",
    "ext.dedup_corpus", "ext.dedup_lines", "ext.pack_shards")

  private var crawl: Gen.Crawl = _
  private val warcDir = work.resolve("crawl-warc").toString
  private val warmupDir = work.resolve("warmup-warc").toString
  private var pass = 0
  private var lastPass: Option[Path] = None

  def params: Map[String, Any] = Map("pages" -> nPages, "exact_share" -> exactShare,
    "near_share" -> nearShare, "low_quality_share" -> lowShare, "body_lines" -> bodyLines,
    "line_words" -> lineWords, "shards" -> shards, "token_budget" -> tokenBudget,
    "warmup_pages" -> warmupPages, "stages" -> stages)

  private def generate(seed: Long, pages: Int): Gen.Crawl =
    Gen.crawl(seed, pages, exactShare, nearShare, lowShare, bodyLines, lineWords)

  private def writeWarc(c: Gen.Crawl, dir: String): Unit = {
    import spark.implicits._
    val pages = spark.sparkContext.parallelize(c.pages.map(p => (p.uri, p.html)), Main.Cores)
      .toDF("uri", "html")
    WarcGzip.writeGzip(pages.select(Warc.formatResponse(col("uri"),
      lit("2024-01-01T00:00:00Z"), lit("text/html"), col("html")).as("record")), dir)
  }

  def setup(rep: Int, last: Boolean): Unit = rec.setup {
    crawl = generate(seed, nPages)
    writeWarc(crawl, warcDir)
  }

  /** One stage of pass `round` as one timed operation, its output
    * materialised to parquet at `out`. */
  private def materialise(name: String, round: Int, out: String, pages: Int)(df: => DataFrame): DataFrame = {
    val items = if (name == stages.head) pages.toLong else 0L
    rec.op(name, items, round)(rec.call(name)(df.write.mode("overwrite").parquet(out)))
    spark.read.parquet(out)
  }

  /** One pipeline pass over the `pages`-page crawl in `warc`; returns
    * (survivors, rows in the written shards). */
  private def runPass(round: Int, warc: String, pages: Int): (Long, Long) = {
    // the previous pass's outputs go now; the last pass's stay for traceExtras
    lastPass.foreach(Corpus.deleteTree)
    pass += 1
    val dir = work.resolve(s"pass-$pass")
    lastPass = Some(dir)
    def at(s: String) = dir.resolve(s).toString
    def stage(name: String, out: String)(df: => DataFrame) = materialise(name, round, at(out), pages)(df)
    val raw = stage(stages(0), "s1") {
      WarcGzip.read(spark, warc).filter(col("warc_type") === "response")
        .select(col("target_uri").as("id"), col("body").as("html"))
    }
    val text = stage(stages(1), "s2")(Html.extractText(raw, "html", "content").select("id", "content"))
    val kept = stage(stages(2), "s3") {
      TextStats.signalSweep(text, "content").filter(col("keep")).select("id", "content")
    }
    val unique = stage(stages(3), "s4")(Dedup.dedupCorpus(kept, "id", "content"))
    val clean = stage(stages(4), "s5") {
      Dedup.dedupLinesCorpus(unique, "id", "content")
        .select(col("id"), col("content_dedup").as("content"))
    }
    val packed = Pipeline.packSequences(clean, tokenBudget, shards)
    rec.op(stages(5), 0, round)(rec.call(stages(5))(packed.join(clean, "id").write
      .mode("overwrite").partitionBy("shard").parquet(at("shards"))))
    val survivors = clean.count()
    val shardRows = spark.read.parquet(at("shards")).count()
    (survivors, shardRows)
  }

  /** One pass over a smaller crawl of its own, which compiles the stage
    * plans and warms the JIT before the loop is timed. */
  def warmup(): Unit = {
    writeWarc(generate(seed + 1, warmupPages), warmupDir)
    runPass(-1, warmupDir, warmupPages)
    rec.ops.clear()
  }

  /** Passes until the time is up; a pass whose survivors or shard rows
    * differ from the planted unique count marks its last stage wrong. */
  def loop(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var round = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val (surv, rows) = runPass(round, warcDir, nPages)
      survivors += surv
      if (surv != crawl.uniques || rows != surv)
        rec.wrong(s"survivors=$surv shard_rows=$rows planted_unique=${crawl.uniques}")
      round += 1
    }
  }

  private val survivors = collection.mutable.ArrayBuffer[Long]()

  def verify(): Unit = {
    rec.check("survivors_equal_planted_unique",
      survivors.nonEmpty && survivors.forall(_ == crawl.uniques),
      s"planted_unique=${crawl.uniques} survivors=${survivors.distinct}")
    rec.info("pages") = crawl.pages.size
    rec.info("planted") = Map("unique" -> crawl.uniques, "exact_copies" -> crawl.exactCopies,
      "near_copies" -> crawl.nearCopies, "low_quality" -> crawl.lowQuality)
    rec.info("warc_bytes") = {
      val w = java.nio.file.Files.list(java.nio.file.Paths.get(warcDir))
      try w.toArray.map(p => java.nio.file.Files.size(p.asInstanceOf[Path])).sum finally w.close()
    }
  }

  override def traceExtras(): Unit = {
    // bucket diagnostics and the pair count for verify-per-pair, on the
    // filtered corpus the last timed pass wrote
    val kept = spark.read.parquet(lastPass.get.resolve("s3").toString)
    val stats = Dedup.lshBucketStats(kept, "id", "content").collect()
    rec.info("lsh_bucket_stats") = stats.map(r => r.getValuesMap[Any](r.schema.fieldNames).toMap).toSeq
    rec.info("near_pairs_kept") = rec.call("ext.near_pairs")(Dedup.minHashDupPairs(kept, "id", "content").count())
  }
}
