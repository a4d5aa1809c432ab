package graftperf

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM. `perfbench/run.py`
  * builds the classpath and launches it; see `perfbench/README.md`.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --tables <dir>`, the last the analytics tables. Runs at
  * `local[4]`; writes `<work>/result.json` (and, traced,
  * `<work>/spans.jsonl`).
  */
object Main {
  final case class Args(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      work: Path,
      tables: Path,
      cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("tables")).toAbsolutePath, cores = 4)
  }

  def session(a: Args): SparkSession = {
    val local = a.work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the analytics mix visits 21 plans per pass and the writer several
      // per trigger: a cache smaller than the working set recompiles every
      // visit, which no single deployed plan would pay
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val tracer = new Tracer
    val report = new Report(a.workload)
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    report.layer("setup.session_s") = Metric(sessionS, "s")
    try {
      a.workload match {
        case "ingest_live"   => Ingest.live(spark, a, tracer, report, sessionS)
        case "analytics_mix" => Mix.run(spark, a, tracer, report, sessionS)
        case other           => sys.error(s"unknown workload $other")
      }
      if (a.trace) {
        val all = tracer.allSpans(spark.sparkContext)
        Tracer.writeSpans(a.work.resolve("spans.jsonl"), all)
        Layers.attribute(all, report, a.cores)
        if (a.workload == "analytics_mix") {
          spark.stop()
          val single = session(a.copy(cores = 1))
          try Mix.singleCore(single, a, report) finally single.stop()
        }
      }
    } finally {
      Files.writeString(a.work.resolve("result.json"), report.toJson)
      spark.stop()
    }
  }
}
