package graft

import org.apache.spark.sql.SparkSession

import graft.commands.{CommandLoop, CommandTransport, Durations, Master, MetricsReporter}

/** The service entry point — CLI parity with the reference's
  * `apps/kafka-to-nexus.cpp:187-412` (option names, required options,
  * duration grammar, default service id) wiring `Master` + `CommandLoop`
  * over the [[graft.commands.CommandTransport]] seam: while idle poll the
  * job pool, while writing poll the (possibly run-specific) command
  * topic, heartbeat x5f2 on its own cadence, stop-monitor every tick.
  *
  * The transport is pluggable via [[Service.transportFactory]]: a real
  * deployment installs a kafka-clients-backed implementation (no Kafka
  * client library exists in this build, so the default factory fails
  * loudly); tests and embedded uses install an in-memory transport —
  * the end-to-end choreography is proven in ServiceSpec against it.
  */
object Service {

  final case class Config(
      brokers: String = "",
      commandStatusTopic: String = "",
      jobPoolTopic: String = "",
      hdfOutputPrefix: String = ".",
      grafanaCarbonAddress: String = "",
      serviceName: String = defaultServiceId,
      statusMasterIntervalMs: Long = 2000L,
      timeBeforeStartMs: Long = 10000L,
      timeAfterStopMs: Long = 10000L,
      pollIntervalMs: Long = 500L,
      // operational bound for embedded/sandboxed runs: exit after N ticks
      // (0 = run until the process is stopped, the reference's behavior)
      maxTicks: Long = 0L,
      printVersion: Boolean = false
  )

  /** `kafka-to-nexus`-style default service id: host + pid
    * (`MainOpt::getDefaultServiceId`).
    */
  def defaultServiceId: String =
    s"${java.net.InetAddress.getLocalHost.getHostName}:${ProcessHandle.current().pid()}"

  /** Cluster-hygiene session defaults, applied by the one session builder
    * ([[graft.core.Graft.session]], behind [[main]] and every tool) and
    * skipped per-key when the deployment already sets the key
    * (`--conf` / system property — spark-submit confs land in system
    * properties before the builder runs, so a present property means an
    * explicit operator choice and wins):
    *
    *  - `spark.cleaner.referenceTracking.cleanCheckpoints=true`: the
    *    reliable-checkpoint reuse pins ([[graft.operators.Reuse]]) write
    *    files under the checkpoint dir that Spark NEVER deletes by
    *    default — a long-running service leaks a checkpoint's worth of
    *    cluster disk per job without this.
    *  - `spark.sql.maxPlanStringLength=8m`: every action renders its
    *    plan for the listener bus, and a chain of operators composed
    *    without [[graft.operators.Reuse.lineageCut]]s between them
    *    multiplies the plan's subtrees (round 11, jstack-caught: 37
    *    minutes of driver CPU inside `TreeNode.generateTreeString` on an
    *    uncut six-operator chain); cuts fix the cause, this bounds the
    *    blast radius if a caller composes without them. Static SQL conf —
    *    must ride the context-creating builder, which is why it lives
    *    here and not in a post-hoc `spark.conf.set`.
    *  - `spark.sql.codegen.cache.maxEntries=5000`: the per-trigger
    *    working set of a multi-schema streaming job exceeds the default
    *    100-entry compiled-class LRU, so every trigger re-Janino-compiles
    *    most of its stages — measured 65 compiles/trigger (≈30% of the
    *    per-trigger fixed cost) at default vs 2 once sized (round 12,
    *    CodegenMetrics). 5000 also holds the whole 197-plan query suite,
    *    which Bench visits round-robin: at 100 entries every plan's
    *    classes are evicted between two visits and EVERY timed sample
    *    pays a fresh compile (~+0.08 s/query, round 10). Static SQL conf,
    *    builder-only, ~KBs per entry.
    */
  val clusterHygiene: Seq[(String, String)] = Seq(
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
    "spark.sql.maxPlanStringLength" -> (8 * 1024 * 1024).toString,
    "spark.sql.codegen.cache.maxEntries" -> "5000")

  /** Applies [[clusterHygiene]] to a session builder, key-by-key
    * overridable via system property (see [[clusterHygiene]] doc).
    */
  def withClusterHygiene(b: SparkSession.Builder): SparkSession.Builder =
    clusterHygiene.foldLeft(b) { case (bb, (k, v)) =>
      if (sys.props.contains(k)) bb else bb.config(k, v)
    }

  /** Installed by deployments/tests; the default refuses to start rather
    * than pretending a broker connection exists.
    */
  @volatile var transportFactory: Config => CommandTransport = { _ =>
    throw new IllegalStateException(
      "no Kafka client library on the classpath — install a " +
        "CommandTransport via Service.transportFactory")
  }

  /** Carbon transport for `--grafana-carbon-address host:port` —
    * production default is the lazy-reconnecting plaintext-graphite TCP
    * transport (outages skip report rounds instead of killing the
    * service, `src/Metrics/CarbonConnection.cpp`); tests install a
    * buffer.
    */
  @volatile var carbonSenderFactory: String => MetricsReporter.CarbonTransport =
    addr => new MetricsReporter.ReconnectingCarbonTransport(addr)

  /** Parse the reference's option surface. Unknown options and malformed
    * durations are errors, as in CLI11.
    */
  def parseArgs(args: Seq[String]): Either[String, Config] = {
    def dur(name: String, v: String): Either[String, Long] =
      Durations.parseMs(v).toRight(s"$name: cannot parse duration '$v'")
    @annotation.tailrec
    def go(rest: List[String], cfg: Config): Either[String, Config] = rest match {
      case Nil => Right(cfg)
      case "--version" :: t => go(t, cfg.copy(printVersion = true))
      case "--brokers" :: v :: t => go(t, cfg.copy(brokers = v))
      case "--command-status-topic" :: v :: t =>
        go(t, cfg.copy(commandStatusTopic = v))
      case "--job-pool-topic" :: v :: t => go(t, cfg.copy(jobPoolTopic = v))
      case "--hdf-output-prefix" :: v :: t =>
        go(t, cfg.copy(hdfOutputPrefix = v))
      case "--grafana-carbon-address" :: v :: t =>
        go(t, cfg.copy(grafanaCarbonAddress = v))
      case "--service-name" :: v :: t => go(t, cfg.copy(serviceName = v))
      case "--status-master-interval" :: v :: t => dur(rest.head, v) match {
        case Right(ms) => go(t, cfg.copy(statusMasterIntervalMs = ms))
        case Left(e)   => Left(e)
      }
      case "--time-before-start" :: v :: t => dur(rest.head, v) match {
        case Right(ms) => go(t, cfg.copy(timeBeforeStartMs = ms))
        case Left(e)   => Left(e)
      }
      case "--time-after-stop" :: v :: t => dur(rest.head, v) match {
        case Right(ms) => go(t, cfg.copy(timeAfterStopMs = ms))
        case Left(e)   => Left(e)
      }
      case "--poll-interval" :: v :: t => dur(rest.head, v) match {
        case Right(ms) => go(t, cfg.copy(pollIntervalMs = ms))
        case Left(e)   => Left(e)
      }
      case "--max-ticks" :: v :: t =>
        v.toLongOption match {
          case Some(n) => go(t, cfg.copy(maxTicks = n))
          case None    => Left(s"--max-ticks: not a number '$v'")
        }
      case other :: _ => Left(s"unknown option '$other'")
    }
    go(args.toList, Config()).flatMap { cfg =>
      if (cfg.printVersion) Right(cfg)
      else if (cfg.brokers.isEmpty) Left("--brokers is required")
      else if (cfg.commandStatusTopic.isEmpty)
        Left("--command-status-topic is required")
      else if (cfg.jobPoolTopic.isEmpty) Left("--job-pool-topic is required")
      else Right(cfg)
    }
  }

  /** The service loop (`Master::run`): returns the number of ticks run.
    * `shouldStop` is checked every iteration on top of `maxTicks`.
    */
  def run(
      spark: SparkSession,
      cfg: Config,
      transport: CommandTransport,
      shouldStop: () => Boolean = () => false,
      clock: () => Long = () => System.currentTimeMillis()
  ): Long = {
    val master = new Master(spark, cfg.serviceName, cfg.hdfOutputPrefix)
    val loop   = new CommandLoop(master, transport, cfg.statusMasterIntervalMs)
    // push-metrics reporters at the reference cadences
    // (`apps/kafka-to-nexus.cpp:313-323`): log every 60 s, Carbon every
    // 10 s when an address is configured
    val reporters = Seq(
      new MetricsReporter.Reporter(
        new MetricsReporter.LogSink((_, msg) => System.err.println(s"[graft] $msg")),
        periodMs = 60000, clock = clock)) ++
      (if (cfg.grafanaCarbonAddress.isEmpty) Nil
       else {
         val t = carbonSenderFactory(cfg.grafanaCarbonAddress)
         Seq(new MetricsReporter.Reporter(
           new MetricsReporter.CarbonSink(t.send, () => t.healthy),
           periodMs = 10000,
           onUnhealthy = msg => System.err.println(s"[graft] $msg"),
           clock = clock))
       })
    val registrar = new MetricsReporter.Registrar(
      MetricsReporter.appPrefix("kafka-to-nexus",
        java.net.InetAddress.getLocalHost.getHostName) + "." +
        cfg.serviceName.replace('.', '_').replace(':', '_'),
      reporters)
    // metric lifecycle: (re-)register only when the active job or its
    // stream count changes; a NEW job first deregisters the old job's
    // names so its suppliers stop reporting the dead job's frozen values,
    // and a job FINISHING with no successor (currentJob → None, the
    // master back at Idle) deregisters the same way — otherwise the dead
    // job's frozen counters would push to Carbon/log forever
    var regJob: graft.streaming.StreamingJob = null
    var regNames: Seq[String]                = Nil
    var regStreams                           = -1
    def deregister(): Unit = {
      regNames.foreach(registrar.removeMetric)
      regNames = Nil
      regJob = null
      regStreams = -1
    }
    var ticks  = 0L
    while (!shouldStop() && (cfg.maxTicks == 0L || ticks < cfg.maxTicks)) {
      loop.tick(clock())
      master.currentJob match {
        case Some(j) =>
          val live = j.liveStreamCount
          if (!(j eq regJob) || live != regStreams) {
            if (!(j eq regJob)) {
              deregister()
              regJob = j
            }
            regNames = (regNames ++ MetricsReporter.registerJob(j, registrar)).distinct
            regStreams = live
          }
        case None => if (regJob != null) deregister()
      }
      reporters.foreach(_.tick(clock()))
      ticks += 1
      if (cfg.pollIntervalMs > 0) Thread.sleep(cfg.pollIntervalMs)
    }
    ticks
  }

  def main(args: Array[String]): Unit =
    parseArgs(args.toIndexedSeq) match {
      case Left(err) =>
        System.err.println(s"graft-service: $err")
        sys.exit(2)
      case Right(cfg) if cfg.printVersion =>
        println("graft-service 0.1")
      case Right(cfg) =>
        val spark = graft.core.Graft.session(s"graft-service ${cfg.serviceName}")
        run(spark, cfg, transportFactory(cfg))
    }
}
