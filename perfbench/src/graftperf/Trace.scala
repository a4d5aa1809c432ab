package graftperf

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Benchmark spans wrap the benchmark's own calls into
  * the program; job spans are Spark jobs reported by the listener. Times
  * are `System.nanoTime` based.
  */
final case class Span(
    id: Int,
    parent: Int,
    op: String,    // trigger / query id the span belongs to
    name: String,
    layer: String,
    startNs: Long,
    endNs: Long,
    job: Option[JobStats] = None) {
  def ms: Double = (endNs - startNs) / 1e6
}

final case class JobStats(
    jobId: Int,
    callSite: String,
    var stages: Int = 0,
    var tasks: Long = 0,
    var runMs: Long = 0,
    var cpuNs: Long = 0,
    var shuffleBytes: Long = 0,
    var spillBytes: Long = 0)

/** Records benchmark spans in memory and, through a [[SparkListener]],
  * every Spark job with its tasks. Jobs are given a parent span by time:
  * the benchmark runs triggers and queries strictly one after another, so
  * the innermost benchmark span open when a job started caused it. Until
  * [[start]] and after [[stop]], [[span]] only runs its body and no
  * listener is attached.
  */
final class Tracer {
  @volatile var enabled = false
  private var started = false
  private val spans   = mutable.ArrayBuffer.empty[Span]
  private val stack   = mutable.Stack.empty[(Int, String, String, String, Long)]
  private var nextId  = 0
  // listener clock (epoch ms) → nanoTime
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val jobs       = mutable.LinkedHashMap.empty[Int, (Long, Long, JobStats)]
  private val stageToJob = mutable.Map.empty[Int, Int]

  val listener: SparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      // the result stage is named after the job's short call site; its
      // details hold the long one, searched when the short one is no layer
      val result = js.stageInfos.maxByOption(_.stageId)
      val short  = result.map(_.name).getOrElse("?")
      val site =
        if (Tracer.layerOf(short) != "other") short
        else result.toSeq.flatMap(_.details.split("\n")).map(_.trim)
          .find(l => Tracer.layerOf(l) != "other").getOrElse(short)
      js.stageIds.foreach(s => stageToJob(s) = js.jobId)
      jobs(js.jobId) = (js.time, -1L, JobStats(js.jobId, site))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(je.jobId).foreach { case (t0, _, st) => jobs(je.jobId) = (t0, je.time, st) }
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      stageToJob.get(sc.stageInfo.stageId).flatMap(jobs.get).foreach(_._3.stages += 1)
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      stageToJob.get(te.stageId).flatMap(jobs.get).foreach { case (_, _, st) =>
        st.tasks += 1
        val m = te.taskMetrics
        if (m != null) {
          st.runMs += m.executorRunTime
          st.cpuNs += m.executorCpuTime
          st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          st.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        }
      }
    }
  }

  def start(sc: SparkContext): Unit = {
    sc.addSparkListener(listener)
    enabled = true
    started = true
  }

  /** Stops recording after every event so far has been delivered; the
    * spans recorded until then stay.
    */
  def stop(sc: SparkContext): Unit = {
    org.apache.spark.PerfBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
    enabled = false
  }

  def span[T](op: String, name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack.push((id, op, name, layer, System.nanoTime()))
      try f
      finally {
        val (_, o, n, l, t0) = stack.pop()
        spans += Span(id, parent, o, n, l, t0, System.nanoTime())
      }
    }

  /** Every span, benchmark and job, after the listener bus has drained.
    * Job spans take the innermost benchmark span that contains their start.
    */
  def allSpans(sc: SparkContext): Seq[Span] = {
    if (!started) return Nil
    org.apache.spark.PerfBridge.drainListeners(sc)
    val bench = spans.sortBy(s => (s.startNs, -s.endNs)).toVector
    val jobSpans = synchronized(jobs.values.toVector).filter(_._2 >= 0).map {
      case (t0, t1, st) =>
        val s = t0 * 1000000L + clockOffsetNs
        val e = t1 * 1000000L + clockOffsetNs
        // innermost = the latest-starting span that contains the start
        val owner = bench.filter(b => b.startNs <= s && s <= b.endNs)
          .sortBy(b => (b.startNs, -b.endNs)).lastOption
        val id = nextId; nextId += 1
        Span(id, owner.map(_.id).getOrElse(-1), owner.map(_.op).getOrElse(""),
          st.callSite, Tracer.layerOf(st.callSite), s, e, Some(st))
    }
    bench ++ jobSpans
  }
}

object Tracer {
  /** Layer of a Spark job, by the file of the innermost program frame that
    * launched it (Spark's short call site).
    */
  def layerOf(callSite: String): String = {
    // "collect at StreamingJob.scala:412" or a stack frame "graft...(Rows.scala:88)"
    val file = callSite.split(" at |\\(").lastOption.getOrElse("").takeWhile(_ != ':')
    file match {
      case "StreamingJob.scala" | "StreamKernel.scala" | "BoundedRowsAgg.scala" => "kernel"
      case "WriterModules.scala"                       => "module"
      case "Rows.scala"                                => "renumber"
      case "NexusSink.scala" | "LocalParquet.scala"    => "append"
      case "Hdf5Export.scala" | "Hdf5Writer.scala"     => "export"
      case "Ingest.scala"                              => "decode"
      case _                                           => "other"
    }
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its length minus the part of it covered by
    * its children.
    */
  def selfNs(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> ((s.endNs - s.startNs) - covered(c, s.startNs, s.endNs))
    }.toMap
  }

  def writeSpans(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val self = selfNs(all)
    val sb = new StringBuilder
    all.sortBy(_.startNs).foreach { s =>
      sb ++= Json.write(scala.collection.immutable.ListMap(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> self(s.id)) ++
        s.job.toSeq.flatMap(j => Seq("job_id" -> j.jobId, "stages" -> j.stages,
          "tasks" -> j.tasks, "shuffle_bytes" -> j.shuffleBytes)))
      sb += '\n'
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
