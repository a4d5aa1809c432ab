package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-stage profile of named contract queries — the Spark-UI study from
  * the optimization guide (§1/§7) in headless form. For each query:
  * executes the plan through the noop sink (same timed action as Bench),
  * then prints every stage's wall time, task count, executor CPU vs run
  * time (compute-bound vs fetch/sched-bound), shuffle bytes, spill, and
  * finally the POST-AQE executed plan (`executedPlan` after the action —
  * what actually ran, including ReusedExchange / AQEShuffleRead nodes that
  * the static explain can't show). Builder tool; not part of the driver
  * contract.
  */
object OptProbe {
  private final class StageMeter extends SparkListener {
    case class Row(id: Int, name: String, wallMs: Long, tasks: Int,
      cpuMs: Long, runMs: Long, shufReadMB: Double, shufWriteMB: Double,
      inputMB: Double, spillMB: Double, records: Long)
    val rows = mutable.ArrayBuffer.empty[Row]
    private val taskAgg = mutable.Map.empty[Int, (Long, Long, Long, Int)] // cpu, run, records, n
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        val (c, r, rec, n) = taskAgg.getOrElse(t.stageId, (0L, 0L, 0L, 0))
        taskAgg(t.stageId) = (c + m.executorCpuTime / 1000000L,
          r + m.executorRunTime, rec + m.shuffleWriteMetrics.recordsWritten, n + 1)
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val i = s.stageInfo
      val wall = (for { a <- i.completionTime; b <- i.submissionTime } yield a - b).getOrElse(-1L)
      val (cpu, run, rec, n) = taskAgg.getOrElse(i.stageId, (0L, 0L, 0L, 0))
      val tm = i.taskMetrics
      rows += Row(i.stageId, i.name.takeWhile(_ != '\n'), wall, n, cpu, run,
        tm.shuffleReadMetrics.totalBytesRead / 1e6,
        tm.shuffleWriteMetrics.bytesWritten / 1e6,
        tm.inputMetrics.bytesRead / 1e6,
        (tm.memoryBytesSpilled + tm.diskBytesSpilled) / 1e6, rec)
    }
    def reset(): Unit = synchronized { rows.clear(); taskAgg.clear() }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.Graft.session("graft-opt-probe")
    val meter = new StageMeter
    spark.sparkContext.addSparkListener(meter)
    // The noop save runs its OWN QueryExecution (a write command wrapping
    // the df's plan) — df.queryExecution is never executed, so reading
    // df.queryExecution.executedPlan shows `isFinalPlan=false` and none
    // of the AQE-final nodes (ReusedExchange, AQEShuffleRead). Capture
    // the final plan from the listener instead.
    @volatile var finalPlan: String = "(no execution captured)"
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        finalPlan = qe.executedPlan.toString
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROBE_PASSES", "2").toInt
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm-up passes: JIT + codegen out of the profiled window (guide §1)
      (1 until passes).foreach { _ =>
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
      }
      meter.reset()
      spark.sparkContext.setJobDescription(s"optprobe: $name")
      val df = fn(spark, sfDir)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      println(s"\n===== $name  wall=${f"$wall%.3f"}s =====")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"tasks"}%6s ${"cpu_ms"}%8s ${"run_ms"}%8s ${"shR_MB"}%8s ${"shW_MB"}%8s ${"in_MB"}%8s ${"spill"}%6s ${"recW"}%10s  name")
      meter.rows.sortBy(_.id).foreach { r =>
        println(f"${r.id}%6d ${r.wallMs}%8d ${r.tasks}%6d ${r.cpuMs}%8d ${r.runMs}%8d ${r.shufReadMB}%8.2f ${r.shufWriteMB}%8.2f ${r.inputMB}%8.2f ${r.spillMB}%6.1f ${r.records}%10d  ${r.name}")
      }
      println(s"----- executed plan ($name) -----")
      // post-execution: the adaptive plan of the noop write is final
      println(finalPlan.take(sys.env.getOrElse("SPARK_GRAFT_PROBE_PLAN_CHARS", "20000").toInt))
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
