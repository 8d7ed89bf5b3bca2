package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one seeded workload against graft's
  * public API in one process and writes the raw run record (set-ups,
  * timed operations, checks, and on traced runs the spans) as JSON to
  * `--out`. `perfbench/run.py` builds this, runs it and turns the record
  * into metrics.
  *
  * {{{
  * java ... graftbench.Main --workload search_serve --seed 1 --seconds 10 \
  *   --trace 0 --work <work dir> --out <record.json>
  * }}}
  */
object Main {
  /** Closed-loop client threads and Spark cores: one caller, `local[4]`. */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = java.nio.file.Paths.get(a("work")).toAbsolutePath
    val builder = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.ui.enabled", "false")
      // loopback only: the run needs no network and no resolvable host name
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "200000")
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(if (trace) Some(new Tracer(spark)) else None)
    val heap = new HeapWatch
    val status = try {
      val w: Workload = workload match {
        case "search_serve" => new SearchServe(spark, rec, seed, work)
        case "ingest_churn" => new IngestChurn(spark, rec, seed, work)
        case "curate_corpus" => new CurateCorpus(spark, rec, seed, work)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      rec.info("params") = w.params
      val phases = collection.mutable.LinkedHashMap[String, Double]()
      def phase(name: String)(body: => Unit): Unit = {
        rec.tracer.foreach(_.phase = name.stripSuffix("s"))
        val t0 = System.nanoTime()
        body
        phases(name) = (System.nanoTime() - t0) / 1e9
      }
      rec.info("phase_s") = phases
      phases("jvm_to_session") = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      phase("setups")((1 to w.setups).foreach { i => w.setup(i, last = i == w.setups) })
      phase("warmup")(w.warmup())
      heap.start()
      phase("loop")(w.loop(seconds))
      heap.stop()
      phase("verify")(w.verify())
      if (trace) phase("trace_extras")(w.traceExtras())
      "ok"
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        s"error: ${e.getClass.getSimpleName}: ${e.getMessage}"
    }
    val out = collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "status" -> status, "setups_s" -> rec.setups.toSeq, "ops" -> rec.ops.toSeq,
      "checks" -> rec.checks.toSeq, "info" -> rec.info,
      "heap" -> heap.result, "cores" -> Cores)
    rec.tracer.foreach(t => out("trace_data") = t.dump())
    java.nio.file.Files.write(java.nio.file.Paths.get(a("out")),
      Json.write(out).getBytes("UTF-8"))
    spark.stop()
    if (status != "ok") sys.exit(3)
  }
}

/** One workload: repeated set-ups (the last one is kept for the loop), a
  * warm-up, the timed closed loop, untimed output checks, and on traced
  * runs the per-layer extras that need their own calls.
  */
trait Workload {
  /** Set-ups per run; `setup_s` is their median. */
  def setups: Int = 3
  def params: Map[String, Any]
  def setup(rep: Int, last: Boolean): Unit
  def warmup(): Unit
  def loop(seconds: Double): Unit
  def verify(): Unit
  def traceExtras(): Unit = ()
}

/** Driver heap during the timed loop: the old generation's peak (where
  * large driver-side collects land) and the sampled peak of all used heap.
  */
final class HeapWatch {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private val mem = ManagementFactory.getMemoryMXBean
  @volatile private var running = false
  @volatile private var sampled = 0L
  private var thread: Thread = _

  def start(): Unit = {
    pools.foreach(_.resetPeakUsage())
    running = true
    thread = new Thread(() => {
      while (running) {
        sampled = math.max(sampled, mem.getHeapMemoryUsage.getUsed)
        Thread.sleep(5)
      }
    })
    thread.setDaemon(true)
    thread.start()
  }

  def stop(): Unit = {
    running = false
    if (thread != null) thread.join()
  }

  def result: Map[String, Any] = Map(
    "sampled_peak_mb" -> sampled / 1048576.0,
    "pool_peak_mb" -> pools.map(p => p.getName -> p.getPeakUsage.getUsed / 1048576.0).toMap)
}
