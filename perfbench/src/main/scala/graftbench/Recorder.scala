package graftbench

import scala.collection.mutable.ArrayBuffer

/** What one run measured: set-up times, timed operations, output checks
  * and, on traced runs, the API-call spans the [[Tracer]] joins with
  * Spark's own events. All arithmetic on these numbers happens in
  * `perfbench/metrics.py`; this class only records.
  */
final class Recorder(val tracer: Option[Tracer]) {
  private val runStart = System.nanoTime()
  val setups = ArrayBuffer[Double]()
  val ops = ArrayBuffer[collection.mutable.Map[String, Any]]()
  val checks = ArrayBuffer[Map[String, Any]]()
  val info = collection.mutable.LinkedHashMap[String, Any]()

  private def msSince(t: Long): Double = (System.nanoTime() - t) / 1e6

  /** Time one set-up repetition. */
  def setup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setups += msSince(t0) / 1000.0
    r
  }

  /** Time one operation of the workload's closed loop. A throw counts as a
    * failed operation (the loop goes on); `items` is what the operation
    * moved (requests, user docs, pages). Returns the body's value.
    */
  def op[T](kind: String, items: Long, round: Int = -1)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val rec = collection.mutable.LinkedHashMap[String, Any](
      "kind" -> kind, "t0_ms" -> (t0 - runStart) / 1e6, "items" -> items, "round" -> round)
    val r = try Some(body) catch {
      case e: Exception =>
        rec("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
    rec("ms") = msSince(t0)
    rec("ok") = r.isDefined
    ops += rec
    r
  }

  /** Attach a value to the last operation's record. */
  def note(key: String, value: Any): Unit = ops.last(key) = value

  /** Mark the last operation as having returned a wrong answer. */
  def wrong(reason: String): Unit = {
    val last = ops.last
    last("ok") = false
    last("error") = reason.take(300)
  }

  /** An untimed output check. */
  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail.take(300))

  /** One call into a graft module's public function (the level-1 span of
    * a traced run). Untraced, this is just `body`.
    */
  def call[T](name: String)(body: => T): T = tracer match {
    case None => body
    case Some(t) => t.span(name)(body)
  }
}
