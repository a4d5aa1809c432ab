package graft.commands

/** Push-metrics seam — the reference's `Metrics::` subsystem re-expressed
  * in the repo's tick-driven control-plane style (the [[CommandLoop]]
  * pattern: no hidden timer threads; the host loop ticks, specs tick
  * deterministically).
  *
  * Mirrored semantics (all cited against `/root/reference`):
  *  - metric = named counter + description + severity
  *    (`src/Metrics/Metric.h:13-80`); here the value is a pull-supplier so
  *    the existing x5f2 counters report without double bookkeeping.
  *  - `Registrar` builds dotted full names from nested prefixes
  *    (`src/Metrics/Registrar.cpp:14-48`); the app prefix is
  *    `app.fqdn` with dots replaced by underscores in the host part
  *    (`apps/kafka-to-nexus.cpp:326-336`).
  *  - `Reporter` pushes every registered metric to ONE sink at a fixed
  *    cadence (`src/Metrics/Reporter.cpp:6-28`): a Carbon/Graphite sink
  *    every 10 s and a log sink every 60 s in the reference main
  *    (`apps/kafka-to-nexus.cpp:313-323`).
  *  - Carbon line format `"<name> <value> <epochSeconds>\n"` over TCP
  *    (`src/Metrics/CarbonSink.cpp:6-15`) — the transport is injected
  *    (tests: an in-memory buffer; production: a socket writer).
  *  - The log sink reports only metrics whose value CHANGED since its
  *    last report, with the delta and elapsed window
  *    (`src/Metrics/LogSink.cpp:15-30`).
  */
object MetricsReporter {

  sealed trait Severity
  object Severity {
    case object Debug   extends Severity
    case object Info    extends Severity
    case object Warning extends Severity
    case object Error   extends Severity
  }

  /** A named counter with a pull-supplier value (`Metric.h:23`). */
  final case class Metric(
      name: String,
      description: String,
      severity: Severity = Severity.Debug)(val value: () => Long)

  /** Registered metric + the reporter-local state the log sink needs
    * (`InternalMetric.h`: FullName, LastValue, LastTime).
    */
  final class InternalMetric(val metric: Metric, val fullName: String) {
    var lastValue: Long  = 0L
    var lastTimeMs: Long = 0L
  }

  /** One report destination (`src/Metrics/Sink.h`). */
  trait MetricSink {
    def reportMetric(m: InternalMetric, nowMs: Long): Unit
    /** Backpressure gate: an unhealthy sink skips the whole round
      * (`Reporter.cpp:7-21`).
      */
    def isHealthy: Boolean = true
    def kind: String
  }

  /** Carbon/Graphite plaintext protocol over an injected line transport
    * (`CarbonSink.cpp:6-15`; production wraps a TCP socket, specs an
    * in-memory buffer — the [[CommandTransport]] seam shape).
    */
  final class CarbonSink(send: String => Unit, healthy: () => Boolean = () => true)
      extends MetricSink {
    def kind = "carbon"
    override def isHealthy: Boolean = healthy()
    def reportMetric(m: InternalMetric, nowMs: Long): Unit =
      send(s"${m.fullName} ${m.metric.value()} ${nowMs / 1000}\n")
  }

  /** Line transport behind [[CarbonSink]]. */
  trait CarbonTransport {
    def send(line: String): Unit
    def healthy: Boolean = true
  }

  /** Production transport: lazy connect with a bounded timeout, reconnect
    * attempted on the next round after any failure, unhealthy while
    * disconnected — so a Graphite outage SKIPS report rounds (the
    * reference `CarbonConnection` reconnect posture, `Reporter.cpp:7-21`)
    * instead of throwing through the service loop and killing the active
    * write job. A failed send drops the line and marks the connection
    * down. Every failure path CLOSES the socket it abandons — healthy()
    * redials each round during an outage, and a long outage must not
    * bleed file descriptors out of the long-running service (the
    * reference reuses one asio connection for the same reason).
    * Last-colon parse admits IPv6 hosts; a malformed address fails fast
    * at construction.
    */
  final class ReconnectingCarbonTransport(hostPort: String, connectTimeoutMs: Int = 5000)
      extends CarbonTransport {
    private val splitAt = hostPort.lastIndexOf(':')
    require(splitAt > 0 && splitAt < hostPort.length - 1,
      s"carbon address '$hostPort' is not host:port")
    private val host = hostPort.substring(0, splitAt)
    private val port = hostPort.substring(splitAt + 1).toInt
    private var sock: java.net.Socket = null
    private var out: java.io.Writer   = null
    private def closeQuietly(): Unit = {
      if (out != null) try out.close() catch { case _: Exception => () }
      if (sock != null) try sock.close() catch { case _: Exception => () }
      out = null
      sock = null
    }
    private def connect(): Unit = {
      closeQuietly() // never abandon a previous half-open connection
      val s = new java.net.Socket()
      try {
        s.connect(new java.net.InetSocketAddress(host, port), connectTimeoutMs)
        sock = s
        out = new java.io.OutputStreamWriter(
          s.getOutputStream, java.nio.charset.StandardCharsets.UTF_8)
      } catch {
        case _: Exception =>
          try s.close() catch { case _: Exception => () } // a failed dial still holds an fd
          out = null
          sock = null
      }
    }
    override def healthy: Boolean = synchronized { if (out == null) connect(); out != null }
    /** Current connection state WITHOUT the redial side effect of
      * [[healthy]] (observability + tests).
      */
    def isConnected: Boolean = synchronized(out != null)
    def send(line: String): Unit = synchronized {
      if (out != null)
        try { out.write(line); out.flush() }
        catch { case _: java.io.IOException => closeQuietly() }
    }
  }

  /** Change-only log reporting with delta and elapsed window
    * (`LogSink.cpp:15-30`).
    */
  final class LogSink(log: (Severity, String) => Unit) extends MetricSink {
    def kind = "log"
    def reportMetric(m: InternalMetric, nowMs: Long): Unit = {
      val v    = m.metric.value()
      val diff = v - m.lastValue
      if (diff != 0) {
        val elapsed = nowMs - m.lastTimeMs
        m.lastValue = v
        m.lastTimeMs = nowMs
        log(m.metric.severity,
          s"""In the past $elapsed ms, $diff events of type "${m.fullName}" """ +
            s"have occurred (${m.metric.description}).")
      }
    }
  }

  /** Periodic pusher of all registered metrics to one sink
    * (`Reporter.cpp:6-28`), tick-driven: call [[tick]] from the host
    * loop; it fires when `periodMs` has elapsed since the last round.
    * `clock` seeds each metric's log-window baseline at registration
    * (the reference initializes `LastTime` at `InternalMetric`
    * construction — without it the first changed-metric log line claims
    * an epoch-sized elapsed window).
    */
  final class Reporter(val sink: MetricSink, val periodMs: Long,
      onUnhealthy: String => Unit = _ => (),
      clock: () => Long = () => System.currentTimeMillis()) {
    private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, InternalMetric]
    private var lastReportAt = Long.MinValue / 2 // first tick always reports

    def addMetric(m: Metric, fullName: String): Boolean = synchronized {
      if (metrics.contains(fullName)) false
      else {
        val im = new InternalMetric(m, fullName)
        im.lastTimeMs = clock()
        metrics(fullName) = im
        true
      }
    }
    def tryRemoveMetric(fullName: String): Boolean =
      synchronized(metrics.remove(fullName).nonEmpty)

    /** Returns true if a report round fired this tick. */
    def tick(nowMs: Long = System.currentTimeMillis()): Boolean = synchronized {
      if (nowMs - lastReportAt < periodMs) false
      else {
        lastReportAt = nowMs
        if (sink.isHealthy) metrics.values.foreach(sink.reportMetric(_, nowMs))
        else onUnhealthy(s"Unable to push metrics to the ${sink.kind} sink.")
        true
      }
    }
  }

  /** Dotted-prefix metric registration fanning out to every reporter
    * (`Registrar.cpp:14-48`). Returns the full name so callers can
    * deregister when the metric's owner goes away.
    */
  final class Registrar(prefix: String, reporters: Seq[Reporter]) {
    def registerMetric(m: Metric): String = {
      val fullName = if (prefix.isEmpty) m.name else s"$prefix.${m.name}"
      reporters.foreach(_.addMetric(m, fullName))
      fullName
    }
    def removeMetric(fullName: String): Unit =
      reporters.foreach(_.tryRemoveMetric(fullName))
    def getNewRegistrar(subPrefix: String): Registrar =
      new Registrar(if (prefix.isEmpty) subPrefix else s"$prefix.$subPrefix", reporters)
  }

  /** The reference main's naming root: `app.fqdn` with dots flattened in
    * the host part (`apps/kafka-to-nexus.cpp:326-330`).
    */
  def appPrefix(appName: String, fqdn: String): String =
    s"$appName.${fqdn.replace('.', '_')}"

  /** Register a [[graft.streaming.StreamingJob]]'s per-stream x5f2
    * counters under `<registrar prefix>.<stream>.<counter>` — the bridge
    * that carries the existing status counters onto the push path without
    * double bookkeeping (values are pulled from the job at report time).
    * Returns the registered full names so the caller can DEREGISTER them
    * when a new job replaces this one (otherwise later jobs with the
    * same stream paths would keep reporting the dead job's frozen
    * counters — addMetric rejects duplicate names by design).
    */
  def registerJob(job: graft.streaming.StreamingJob, registrar: Registrar): Seq[String] = {
    val live = job.metrics
    val streams = (job.streamKeys ++ live.keys).distinct
    streams.flatMap { stream =>
      // plan streams register their static counters at acceptance; the
      // per-table rows_written counters appear once batches flow (callers
      // re-invoke when the job's stream count changes — addMetric rejects
      // duplicates)
      val names = live.getOrElse(stream, Map.empty).keySet ++
        Set("events_written", "write_errors", "finished",
          "appends_fused", "appends_spark", "last_batch_ms")
      // stream keys are output-tree paths (entry/speed): dots flatten like
      // the fqdn, path levels become graphite name segments
      val sub = registrar.getNewRegistrar(stream.replace('.', '_').replace('/', '.'))
      names.toSeq.map { name =>
        sub.registerMetric(Metric(name, s"stream $stream counter $name")(
          () => job.counter(stream, name)))
      }
    }
  }
}
