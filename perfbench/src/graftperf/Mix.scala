package graftperf

import java.nio.file.Files

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `analytics_mix`: one closed-loop client running 16 `SparkEntry` queries over
  * the sf0.01 test tables shipped in `perfbench/data`, each forced through
  * the noop writer, in a seeded order per pass. An untimed pass writes
  * every output for the DuckDB oracle compare in `run.py`.
  */
object Mix {
  val Names: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q4_priority_check", "q9_product_profit",
    "q21_waiting_supplier", "w1_f144_stats", "w2_ev44_index_shift", "w8_tdct_explode",
    "asof_latest_click_skewsafe", "events_sessionize_skewsafe", "sample_token_budget_skewsafe",
    "dedup_clusters", "dedup_containment", "embed_knn_graph", "tfidf_top_terms",
    "text_lm_score")

  private def runQuery(spark: SparkSession, q: String, dir: String): Unit =
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, a: Main.Args, tracer: Tracer, report: Report,
      sessionS: Double): Unit = {
    val passes = math.max(2, a.seconds / 10)
    val dir = a.tables.toString

    // warm-up: an untimed pass that writes every output for the oracle
    // compare in run.py. Its queries run `a.cores` at a time, so their
    // cold planning, code generation and JIT overlap (24 s against 36 s
    // one after another on a loaded 4-core host).
    val qout = a.work.resolve("qout")
    val tWarm = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
    val outputs = try {
      Names.map { q =>
        pool.submit(new java.util.concurrent.Callable[Try[Unit]] {
          def call(): Try[Unit] = Try(SparkEntry.queries(q)(spark, dir).write
            .mode("overwrite").parquet(qout.resolve(q).toString))
        })
      }.map(_.get())
    } finally pool.shutdown()
    outputs.foreach(r => report.op(r.get))
    val warmS = (System.nanoTime() - tWarm) / 1e9
    Files.writeString(a.work.resolve("oracle.json"),
      Json.write(Names.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap))
    report.layer("setup.warmup_s") = Metric(warmS, "s")
    report.e2e("setup_s") = Metric(sessionS + warmS, "s")
    report.phase("warmed up")

    val rng = new scala.util.Random(a.seed)
    def passesOf(n: Int, t: Tracer) = measure(spark, dir, n, rng, t, report)
    // traced, the passes run untraced, traced, traced, untraced, so the
    // JIT's warm-up, still going in the first passes, slows both alike
    val (untraced, traced) =
      if (!a.trace) (passesOf(passes, new Tracer), None)
      else {
        val lead = (passes + 1) / 2
        val before = passesOf(lead, new Tracer)
        tracer.start(spark.sparkContext)
        val t = passesOf(passes, tracer)
        tracer.stop(spark.sparkContext)
        (before ++ passesOf(passes - lead, new Tracer), Some(t))
      }
    report.e2e ++= untraced.e2e
    report.phase("measured")
    report.info("mix_pass_s") = untraced.e2e("complete_s").value
    report.info("mix_geomean_s") = untraced.e2e("latency_s").value
    report.info("passes") = passes
    report.info("pass_s") = untraced.passS.map(x => f"$x%.3f").mkString(" ")
    Stats.tailInfo(report, "query", untraced.all)
    report.info("latency_of") = "mix_geomean_s: geomean over queries of the median wall, noop writer"
    report.info("throughput_of") = s"queries per second: ${Names.size} / median pass wall"
    report.info("complete_of") = "mix_pass_s: median wall of one pass over the queries"
    untraced.medians.foreach { case (q, m) => report.info(s"median_s.$q") = m }

    traced.foreach { t =>
      // overhead is the cost of tracing: higher latency, lower throughput
      t.e2e.foreach { case (k, m) =>
        val d = m.value - untraced.e2e(k).value
        report.layer(s"trace.overhead.$k") = Metric(if (k == "throughput_per_s") -d else d, m.unit)
      }
      report.layer("mix.compiles") = Metric(t.compiles / passes, "count")
    }
  }

  /** Single-core baseline of a traced run, in the same JVM on a fresh
    * `local[1]` session over the same tables: one measured pass, against
    * the 4-core median pass. The JVM's generated-code cache and JIT are
    * already warm from the 4-core passes, so it needs no warm-up pass.
    */
  def singleCore(spark: SparkSession, a: Main.Args, report: Report): Unit = {
    val dir = a.tables.toString
    val c1 = measure(spark, dir, 1, new scala.util.Random(a.seed), new Tracer, report)
    report.phase("single-core pass")
    report.layer("scaling.analytics_mix.c4_over_c1") =
      Metric(c1.e2e("complete_s").value / report.e2e("complete_s").value, "ratio")
  }

  /** Query and pass walls of some measured passes. */
  final case class Passes(
      perQuery: Map[String, Seq[Double]],
      passS: Seq[Double],
      compiles: Double) {
    def ++(o: Passes): Passes = Passes(
      perQuery.map { case (q, xs) => q -> (xs ++ o.perQuery.getOrElse(q, Nil)) },
      passS ++ o.passS, compiles + o.compiles)
    def all: Seq[Double] = perQuery.values.flatten.toSeq
    def medians: Map[String, Double] = perQuery.map { case (q, xs) => q -> Stats.median(xs) }
    def e2e: Map[String, Metric] = {
      val passMedian = Stats.median(passS)
      Map(
        "latency_s"        -> Metric(Stats.geomean(medians.values.toSeq), "s"),
        "throughput_per_s" -> Metric(Names.size / passMedian, "1/s"),
        "complete_s"       -> Metric(passMedian, "s"))
    }
  }

  /** `passes` closed-loop passes, each over every query in a seeded order. */
  private def measure(spark: SparkSession, dir: String, passes: Int, rng: scala.util.Random,
      tracer: Tracer, report: Report): Passes = {
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passS = mutable.ArrayBuffer.empty[Double]
    val cm = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val cc0 = cm.getCount
    (0 until passes).foreach { p =>
      val order = rng.shuffle(Names)
      val t0 = System.nanoTime()
      tracer.span(s"pass$p", "pass", "pass") {
        order.foreach { q =>
          val s = System.nanoTime()
          report.op(tracer.span(s"pass$p", q, "query")(runQuery(spark, q, dir)))
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (System.nanoTime() - s) / 1e9
        }
      }
      passS += (System.nanoTime() - t0) / 1e9
    }
    Passes(perQuery.map { case (q, xs) => q -> xs.toSeq }.toMap, passS.toSeq,
      (cm.getCount - cc0).toDouble)
  }
}
