package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.Collection
import graft.index.Stores
import org.apache.spark.sql.SparkSession

/** `ingest_churn`: writes beside reads. Each set-up stages a generated
  * corpus as parquet and bulk-builds a collection from it (`addDf`, impact
  * sidecar, IVF-PQ index, MinHash dedup index). The timed loop runs write
  * cycles: an upsert batch (half of it overwrites live ids) with a
  * read-your-write `searchTopK`, then an id delete with a read that must
  * not see the deleted doc. `compact()` runs after every
  * `compactEvery` cycles, and the loop ends with `maintain()`.
  *
  * Every doc carries a token unique to its current version, so a read can
  * prove which version it sees. `directUpsertMaxBytes` is set below the
  * docs partition, so upserts take the O(batch) delta path, as they do on
  * any collection above the 64 MB default.
  */
final class IngestChurn(spark: SparkSession, rec: Recorder, seed: Long, work: Path) extends Workload {
  val nDocs = 2000
  val batch = 100
  val deletes = 20
  val compactEvery = 3
  val directUpsertMaxBytes = 64L * 1024
  val pqCentroids = 16
  val k = 10

  def params: Map[String, Any] = Map("docs" -> nDocs, "doc_words" -> Gen.DocWords,
    "vocab" -> Gen.VocabSize, "zipf_s" -> 1.0, "dim" -> Gen.Dim, "upsert_batch" -> batch,
    "overwrite_share" -> 0.5, "delete_batch" -> deletes, "compact_every" -> compactEvery,
    "direct_upsert_max_bytes" -> directUpsertMaxBytes, "ivfpq_centroids" -> pqCentroids)

  private var coll: Collection = _
  private var root: Path = _
  private val rng = new SplittableRandom(seed ^ 0xc4a21L)
  /** Live ids and the unique token of their current version. */
  private val live = mutable.LinkedHashMap[String, String]()
  private val liveIds = mutable.ArrayBuffer[String]()
  private val deleted = mutable.ArrayBuffer[(String, String)]()
  private var nextToken = 0L
  private var nextNew = 0
  private val buildS = mutable.ArrayBuffer[Double]()
  private var userBytes = 0L

  private def token(): String = { nextToken += 1; Gen.uniqueToken(nextToken) }

  private def withToken(d: Gen.Doc, tok: String): Gen.Doc = d.copy(content = s"${d.content} $tok")

  def setup(rep: Int, last: Boolean): Unit = {
    spark.conf.set("spark.graft.store.directUpsertMaxBytes", directUpsertMaxBytes.toString)
    spark.conf.set("spark.graft.compact.auto", "false")
    val r = work.resolve(s"churn-$rep")
    val stage = work.resolve(s"churn-stage-$rep").toString
    val tokens = (0 until nDocs).map(i => Gen.uniqueToken(1000000L + i))
    val c = rec.setup {
      val docs = Gen.docs(seed, nDocs).zip(tokens).map { case (d, t) => withToken(d, t) }
      Corpus.frame(spark, docs).write.mode("overwrite").parquet(stage)
      val c = Collection(spark, r.toString, "bench")
      rec.tracer.foreach(_.watchDir = Some(r))
      val t0 = System.nanoTime()
      rec.call("api.addDf")(c.addDf(spark.read.parquet(stage)))
      rec.call("api.createImpactIndex")(c.createImpactIndex())
      rec.call("api.createVectorIndex")(c.createVectorIndex(kind = "ivfpq", dim = Gen.Dim,
        numCentroids = pqCentroids, seed = seed))
      rec.call("api.createDedupIndex")(c.createDedupIndex())
      buildS += (System.nanoTime() - t0) / 1e9
      c
    }
    Corpus.deleteTree(java.nio.file.Paths.get(stage))
    if (last) {
      coll = c
      root = r
      Gen.docs(seed, nDocs).zip(tokens).foreach { case (d, t) => live(d.id) = t; liveIds += d.id }
    } else { c.deleteAll(); Corpus.deleteTree(r) }
  }

  private def pickLive(): String = liveIds(rng.nextInt(liveIds.size))

  private def removeLive(id: String): Unit = {
    live.remove(id)
    val i = liveIds.indexOf(id)
    liveIds(i) = liveIds.last
    liveIds.remove(liveIds.size - 1)
  }

  /** Ids of the rows a `searchTopK` for `tok` returns. */
  private def search(tok: String): Seq[String] =
    rec.call("api.searchTopK")(coll.searchTopK(tok, k).collect()).map(_.getAs[String]("id")).toSeq

  private def cycle(round: Int): Unit = {
    // upsert: half overwrites of live ids, half new ids
    val over = mutable.LinkedHashSet[String]()
    while (over.size < batch / 2) over += pickLive()
    val fresh = (0 until batch - over.size).map { _ => nextNew += 1; f"n$seed%d-$nextNew%07d" }
    val ids = over.toSeq ++ fresh
    val gen = Gen.docs(seed + 1000 + round, ids.size)
    val toks = ids.map(_ => token())
    val docs = gen.zip(ids).zip(toks).map { case ((d, id), t) => withToken(d.copy(id = id), t) }
    userBytes += docs.map(d => d.id.length + d.content.length + 4L * d.embedding.length).sum
    rec.op("upsert", ids.size, round)(rec.call("api.addDf")(coll.addDf(Corpus.frame(spark, docs, 1))))
    ids.zip(toks).foreach { case (id, t) => if (!live.contains(id)) liveIds += id; live(id) = t }
    rec.note("delta_depth", Stores.deltaCount(spark, Stores.docsDir(root.toString), "bench"))
    val probe = rng.nextInt(ids.size)
    rec.op("read_after_write", 1, round)(search(toks(probe))).foreach { got =>
      rec.note("hits", got.size)
      if (got != Seq(ids(probe))) rec.wrong(s"upserted ${ids(probe)} not found by its token: $got")
    }
    // delete
    val gone = mutable.LinkedHashSet[String]()
    while (gone.size < deletes) gone += pickLive()
    val goneToks = gone.toSeq.map(live)
    rec.op("delete", gone.size, round)(rec.call("api.delete")(coll.delete(gone.toSeq)))
    gone.zip(goneToks).foreach { case (id, t) => removeLive(id); deleted += ((id, t)) }
    rec.note("delta_depth", Stores.deltaCount(spark, Stores.docsDir(root.toString), "bench"))
    rec.op("read_after_delete", 1, round)(search(goneToks.head)).foreach { got =>
      rec.note("hits", got.size)
      if (got.nonEmpty) rec.wrong(s"deleted ${gone.head} still returned: $got")
    }
  }

  def warmup(): Unit = {
    cycle(-1)
    rec.ops.clear()
  }

  def loop(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var round = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      cycle(round)
      round += 1
      if (round % compactEvery == 0) {
        rec.op("compact", 0, round - 1)(rec.call("api.compact")(coll.compact()))
        val n = coll.count()
        rec.check("count_after_compaction_cycle", n == live.size, s"count=$n expected=${live.size}")
      }
    }
    rec.op("maintain", 0)(rec.call("api.maintain")(coll.maintain().collect())).foreach { r =>
      rec.info("maintain_report") = r.head.getValuesMap[Any](r.head.schema.fieldNames).toMap
      val clean = r.head.getAs[Long]("docs_delta_segments") == 0L && r.head.getAs[Long]("residue_swept") == 0L
      rec.check("maintain_nothing_to_repair", clean, r.head.toString)
    }
  }

  def verify(): Unit = {
    val n = coll.count()
    rec.check("count_after_maintain", n == live.size, s"count=$n expected=${live.size}")
    // a seeded sample of live docs must be found by their unique token,
    // and a sample of deleted ids must not be returned: one OR query each
    val vr = new SplittableRandom(seed + 29)
    val sample = (0 until 40).map(_ => liveIds(vr.nextInt(liveIds.size))).distinct
    val found = coll.queryFrame(sample.map(live).mkString(" OR ")).select("id").collect().map(_.getString(0)).toSet
    rec.check("live_tokens_found", found == sample.toSet,
      s"missing=${sample.filterNot(found).take(5)} extra=${found.diff(sample.toSet).take(5)}")
    if (deleted.nonEmpty) {
      val ds = (0 until 40).map(_ => deleted(vr.nextInt(deleted.size))).distinct
      val back = coll.queryFrame(ds.map(_._2).mkString(" OR ")).select("id").collect().map(_.getString(0)).toSet
      rec.check("deleted_ids_absent", back.isEmpty, s"returned=${back.take(5)}")
    }
    rec.info("build_s") = buildS.toSeq
    rec.info("live_docs") = live.size
    rec.info("user_bytes_written") = userBytes
  }

  override def traceExtras(): Unit = {
    val w = java.nio.file.Files.walk(root)
    val disk = try w.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size(_)).sum finally w.close()
    val liveBytes = coll.docs().selectExpr("sum(length(id) + length(content) + 4 * size(embedding))")
      .head().getLong(0)
    rec.info("disk_bytes") = disk
    rec.info("live_user_bytes") = liveBytes
  }
}
