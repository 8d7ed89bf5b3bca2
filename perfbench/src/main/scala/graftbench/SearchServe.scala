package graftbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import graft.api.Collection
import graft.ext.Ann
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

object Corpus {
  /** Generated docs as the (id, content, metadata, embedding) frame that
    * `Collection.addDf` takes. */
  def frame(spark: SparkSession, docs: Seq[Gen.Doc], partitions: Int = Main.Cores): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(docs.map(d =>
      (d.id, d.content, Map("lang" -> d.lang, "year" -> d.year.toString), d.embedding)),
      partitions).toDF("id", "content", "metadata", "embedding")
  }

  def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val w = java.nio.file.Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => java.nio.file.Files.delete(x))
      finally w.close()
    }

  /** Ranked rows (id, rank) of a `queryFrame`-shaped result. */
  def idRanks(rows: Array[Row]): Seq[(String, Double)] =
    rows.map(r => (r.getAs[String]("id"), Option(r.getAs[Any]("rank")).map(_.toString.toDouble).getOrElse(Double.NaN))).toSeq

  def nonIncreasing(xs: Seq[Double]): Boolean =
    xs.sliding(2).forall { case Seq(a, b) => a >= b - 1e-12; case _ => true }
}

/** `search_serve`: read-only serving from a freshly built collection with
  * an impact sidecar and an IVF index. The timed loop issues rounds of six
  * request kinds (single- and multi-term `searchTopK`, a prefix/OR query
  * that falls back to the full path, a filtered and ordered `query`,
  * `vectorTopK` and `hybridTopK`), terms drawn Zipf-skewed.
  */
final class SearchServe(spark: SparkSession, rec: Recorder, seed: Long, work: Path) extends Workload {
  val nDocs = 4000
  val k = 10
  val ivfCentroids = 64
  val ivfProbe = 8
  val recallFloor = 0.8
  val kinds = Seq("fts_single", "fts_multi", "fts_prefix_or", "filtered_query",
    "vector_topk", "hybrid_topk")

  def params: Map[String, Any] = Map("docs" -> nDocs, "doc_words" -> Gen.DocWords,
    "vocab" -> Gen.VocabSize, "zipf_s" -> 1.0, "dim" -> Gen.Dim, "k" -> k,
    "ivf_centroids" -> ivfCentroids, "ivf_nprobe" -> ivfProbe, "recall_floor" -> recallFloor,
    "request_kinds" -> kinds)

  private var coll: Collection = _
  private var docs: IndexedSeq[Gen.Doc] = _
  private val rng = new SplittableRandom(seed ^ 0x5e4c7L)
  /** Every request issued in the loop: (kind, query text, query vector). */
  private val issued = ArrayBuffer[(String, String, Array[Float])]()
  /** The loop's searchTopK answers as (id, rank) rows, by query text. */
  private val answers = collection.mutable.HashMap[String, Seq[(String, Double)]]()

  def setup(rep: Int, last: Boolean): Unit = {
    val root = work.resolve(s"search-$rep")
    val c = rec.setup {
      docs = Gen.docs(seed, nDocs)
      val c = Collection(spark, root.toString, "bench")
      rec.tracer.foreach(_.watchDir = Some(root))
      rec.call("api.addDf")(c.addDf(Corpus.frame(spark, docs)))
      rec.call("api.createImpactIndex")(c.createImpactIndex())
      rec.call("api.createVectorIndex")(c.createVectorIndex(kind = "ivf", dim = Gen.Dim,
        numCentroids = ivfCentroids, nprobe = ivfProbe, seed = seed))
      c
    }
    if (last) coll = c
    else { c.deleteAll(); Corpus.deleteTree(root) }
  }

  private def term(lo: Int): String = Gen.vocab(Gen.zipfRank(rng, lo))

  private val stop = Gen.vocab.take(10).toSet

  /** Two distinct non-stop words of one random doc, so the AND query has
    * at least one hit. */
  private def pairFromDoc(): String = {
    val ws = docs(rng.nextInt(docs.size)).content.split(' ').distinct.filterNot(stop)
    val a = ws(rng.nextInt(ws.length))
    val rest = ws.filter(_ != a)
    s"$a ${rest(rng.nextInt(rest.length))}"
  }

  private def queryVec(): Array[Float] = {
    val d = docs(rng.nextInt(docs.size)).embedding
    d.map(x => (x + 0.05 * Gen.gauss(rng)).toFloat)
  }

  /** Issue one request of `kind` as one timed operation, and mark the
    * operation wrong when the answer is malformed. */
  private def request(kind: String, round: Int): Unit = {
    val (q, v) = kind match {
      case "fts_single" => (term(10), null)
      case "fts_multi" => (pairFromDoc(), null)
      case "fts_prefix_or" => (s"${term(10).take(4)}* OR ${term(10)}", null)
      case "filtered_query" => (term(10), null)
      case "vector_topk" => (null, queryVec())
      case "hybrid_topk" => (term(10), queryVec())
    }
    issued += ((kind, q, v))
    rec.op(kind, 1, round) {
      kind match {
        case "fts_single" | "fts_multi" | "fts_prefix_or" =>
          val rows = Corpus.idRanks(rec.call("api.searchTopK")(coll.searchTopK(q, k).collect()))
          answers(q) = rows
          (rows.length, rows.length <= k && Corpus.nonIncreasing(rows.map(_._2)))
        case "filtered_query" =>
          val r = rec.call("api.query")(coll.query(q, limit = k,
            where = Map("lang" -> "en", "year" -> Map("$gte" -> 2012)), orderBy = Seq("-year")))
          val years = r.results.map(_.metadata("year").toInt)
          (r.results.size, r.results.size <= k && r.results.forall(_.metadata("lang") == "en") &&
            years.forall(_ >= 2012) && years.sliding(2).forall(p => p.size < 2 || p(0) >= p(1)))
        case "vector_topk" =>
          val rows = rec.call("api.vectorTopK")(coll.vectorTopK(Seq(("q", v.toSeq)), k).collect())
          (rows.length, rows.length == k)
        case "hybrid_topk" =>
          val rows = rec.call("api.hybridTopK")(coll.hybridTopK(q, v.toSeq, k).collect())
          (rows.length, rows.length <= k && rows.length > 0)
      }
    }.foreach { case (hits, sane) =>
      rec.note("hits", hits)
      if (!sane) rec.wrong(s"malformed answer to $kind '$q'")
    }
  }

  /** Two rounds: the first compiles the request plans, the second lets
    * the JIT settle before the loop is timed. */
  def warmup(): Unit = {
    (1 to 2).foreach(_ => kinds.foreach(request(_, -1)))
    rec.ops.clear()
    issued.clear()
    answers.clear()
  }

  def loop(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      request(kinds(i % kinds.size), i / kinds.size)
      i += 1
    }
  }

  def verify(): Unit = {
    val vr = new SplittableRandom(seed + 17)
    val fts = issued.filter(x => x._1.startsWith("fts_") && answers.contains(x._2))
    val sample = (0 until math.min(3, fts.size)).map(_ => fts(vr.nextInt(fts.size))._2).distinct
    sample.foreach { q =>
      val a = answers(q)
      val b = Corpus.idRanks(coll.queryFrame(q, limit = k).collect())
      val same = a.size == b.size && a.zip(b).forall { case ((i, x), (j, y)) =>
        i == j && math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)) }
      rec.check("searchTopK_equals_queryFrame", same, s"q='$q' got=${a.take(3)} want=${b.take(3)}")
    }
    val vecs = issued.filter(_._1 == "vector_topk")
    val vs = (0 until math.min(10, vecs.size)).map(i => (s"q$i", vecs(vr.nextInt(vecs.size))._3.toSeq))
    if (vs.nonEmpty) {
      def byQ(df: DataFrame) = df.collect().groupBy(_.getAs[String]("qid"))
        .map { case (q, rs) => q -> rs.map(_.getAs[String]("id")).toSet }
      val approx = byQ(coll.vectorTopK(vs, k))
      val exact = byQ(Ann.exactTopK(coll.docs(), vs, k))
      val recall = vs.map { case (q, _) =>
        approx.getOrElse(q, Set.empty).intersect(exact.getOrElse(q, Set.empty)).size.toDouble / k
      }.sum / vs.size
      rec.info("vector_recall_at_10") = recall
      rec.check("vector_recall_floor", recall >= recallFloor, f"recall@10=$recall%.3f floor=$recallFloor")
    }
  }

  override def traceExtras(): Unit = {
    // the collection is read-only, so each loop query takes the same arm now
    val topk = issued.collect { case (kind, q, _) if kind.startsWith("fts_") => q }
    val arm = topk.distinct.map(q => q -> graft.perfbench.SearchPath.certified(coll, q, k)).toMap
    rec.info("searchTopK_issued") = topk.size
    rec.info("searchTopK_certified") = topk.count(arm)
    val qs = issued.collect { case (_, q, _) if q != null => q }
    val reps = math.max(1, 20000 / math.max(1, qs.size))
    qs.foreach(graft.parse.QueryParser.parse)
    val t0 = System.nanoTime()
    (0 until reps).foreach(_ => qs.foreach(graft.parse.QueryParser.parse))
    rec.info("parse_us_per_query") = (System.nanoTime() - t0) / 1e3 / (reps * qs.size)
  }
}
