package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.plans.NexusPlan
import graft.sources.Fixtures
import graft.streaming.StreamingJob

/** Batch driver — the Spark analog of `apps/file-maker.cpp:82-149`: a
  * nexus_structure plan + JSON message fixtures → populated output tree, no
  * Kafka. Like file-maker, which loads its fixtures into a stub consumer and
  * drives the service's own file-writing pipeline, it feeds each schema's
  * fixture frame to a [[StreamingJob]] as one micro-batch and finishes the
  * job: route, dedup, window, module transform, append and close-time
  * aggregates are the streaming service's, not a second copy.
  *
  * Default window [10 s, 15 s] matches file-maker (`apps/file-maker.cpp:131-133`).
  */
object FileMaker {

  def run(
      spark: SparkSession,
      nexusJson: String,
      messagesJson: String,
      outDir: String,
      startMs: Long = 10000,
      stopMs: Long = 15000,
      emitHdf5: Option[String] = None
  ): NexusPlan.Plan = {
    val plan = NexusPlan.parse(nexusJson)
    val job  = new StreamingJob(spark, plan, outDir, startMs, stopMs)
    Fixtures.messageFrames(spark, messagesJson).foreach { case (schemaId, frame) =>
      job.processBatch(schemaId, frame)
    }
    job.finish(emitHdf5)
    plan
  }

  def main(args: Array[String]): Unit = {
    val Array(nexusPath, messagesPath, outDir) = args.take(3)
    val spark = graft.core.Graft.session("graft-file-maker")
    run(spark,
      Files.readString(Paths.get(nexusPath)),
      Files.readString(Paths.get(messagesPath)),
      outDir,
      // optional 4th arg: emit a native HDF5 file from the populated tree
      emitHdf5 = args.lift(3))
    spark.stop()
  }
}
