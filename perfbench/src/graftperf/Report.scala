package graftperf

import scala.collection.mutable

final case class Metric(value: Double, unit: String)

/** What one workload run measured and checked. `e2e` holds the gated
  * end-to-end metrics, `layer` the per-layer ones of a traced run, and
  * `info` every other named figure the run prints.
  */
final class Report(val workload: String) {
  val e2e   = mutable.LinkedHashMap.empty[String, Metric]
  val layer = mutable.LinkedHashMap.empty[String, Metric]
  val info  = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed    = 0L

  private val t0 = System.nanoTime()

  /** Logs a phase boundary to stderr (the run's log), with seconds since start. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.1f s  $name")

  def check(name: String, ok: Boolean, detail: => String): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  /** Runs one operation (trigger, append or query), counting it as
    * attempted and, when it throws, as failed.
    */
  def op(f: => Unit): Unit = {
    attempted += 1
    try f
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] operation failed: $e")
        e.printStackTrace()
    }
  }

  def toJson: String = Json.write(Map(
    "workload"  -> workload,
    "attempted" -> attempted,
    "failed"    -> failed,
    "checks"    -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
    "e2e"       -> e2e.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }.toMap,
    "layer"     -> layer.map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }.toMap,
    "info"      -> info.toMap))
}
