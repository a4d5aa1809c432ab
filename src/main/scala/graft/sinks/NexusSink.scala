package graft.sinks

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.plans.NexusPlan

/** Parquet-mirror of the reference's NeXus/HDF5 output: the hierarchical
  * group tree becomes a directory tree of parquet tables plus a
  * `manifest.json` carrying everything that isn't tabular — group
  * attributes, static dataset values, links, per-dataset units, job
  * metadata.
  *
  * Mirrors the reference's two-phase lifecycle
  * (`src/FileWriterTask.cpp:81-87`, `src/HDFFile.cpp:210-282`): structure is
  * created once (`create`), after which only appends are allowed (SWMR
  * analog); links and metadata land at `close` like `Master::setToIdle`
  * (`src/Master.cpp:136-160`).
  */
final class NexusSink(outDir: String) {

  private var frozen = false

  private def iso(ms: Long): String =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .withZone(ZoneOffset.UTC)
      .format(Instant.ofEpochMilli(ms))

  /** Phase 1 — create the structure: directories per group, static dataset
    * values and all attributes into the manifest
    * (`HDFOperations::createHDFStructures`, `src/HDFOperations.cpp:375-467`).
    */
  def create(plan: NexusPlan.Plan): Unit = {
    require(!frozen, "structure already frozen")
    Files.createDirectories(Paths.get(outDir))
    val manifest = JObject(
      "groups" -> JArray(plan.groups.map(g =>
        JObject(
          "path"       -> JString(g.path),
          "attributes" -> attrsJson(g.attributes))).toList),
      "statics" -> JArray(plan.statics.map(s =>
        JObject(
          "path"       -> JString(s.path),
          "dtype"      -> s.dtype.map(JString).getOrElse(JNothing),
          "values"     -> s.values,
          "attributes" -> attrsJson(s.attributes))).toList),
      "links" -> JArray(plan.links.map(l =>
        JObject(
          "path"     -> JString(l.path),
          "target"   -> JString(l.target),
          "resolved" -> JString(resolveLink(l)))).toList),
      "streams" -> JArray(plan.streams.map(s =>
        JObject(
          "path"   -> JString(s.path),
          "module" -> JString(s.module),
          "source" -> JString(s.source),
          "topic"  -> JString(s.topic))).toList),
      // da00 plan-time constants: written once at structure creation
      // (`da00_Writer.cpp` constants handling; compared-for-consistency
      // checks are a runtime concern of the writer)
      "constants" -> JArray(plan.streams.filter(_.module == "da00").flatMap { s =>
        s.config.get("constants") match {
          case Some(JArray(cs)) => cs.map(c =>
            JObject("stream" -> JString(s.path), "spec" -> c))
          case _ => Nil
        }
      }.toList)
    )
    write("manifest.json", JsonMethods.pretty(JsonMethods.render(manifest)))
    frozen = true
  }

  /** Resolve a link target against the link's parent group, handling `../`
    * traversal like the reference's `addLinkToNode`
    * (`src/HDFOperations.cpp:478-512`).
    */
  private def resolveLink(l: NexusPlan.Link): String = {
    // absolute target: already a full path from the root
    if (l.target.startsWith("/")) return l.target.stripPrefix("/")
    val base  = l.path.split('/').dropRight(1)
    val stack = scala.collection.mutable.ArrayBuffer(base: _*)
    l.target.split('/').foreach {
      case ".." => if (stack.nonEmpty) stack.remove(stack.length - 1)
      case "." | "" => ()
      case p    => stack += p
    }
    stack.mkString("/")
  }

  private def attrsJson(as: Seq[NexusPlan.AttributeSpec]): JValue =
    JArray(as.map(a =>
      JObject(
        "name"   -> JString(a.name),
        "dtype"  -> a.dtype.map(JString).getOrElse(JNothing),
        "values" -> a.values)).toList)

  /** Phase 2 — append a table under a stream path. Ordering is carried by
    * the `row` column: small appends write one sorted file (the
    * reference's single-writer discipline,
    * `src/Stream/MessageWriter.cpp:31-36`); large appends range-partition
    * on `row` so the write parallelizes while order stays reconstructible
    * (readers sort by `row`; parquet row-group stats prune range reads —
    * the cue-index role, for free). Pass `rows` when already known to
    * avoid a count.
    */
  def append(
      streamPath: String,
      table: String,
      df: DataFrame,
      rows: Long = -1L,
      rowsPerFile: Long = 4L * 1024 * 1024
  ): Unit = {
    require(frozen, "create the structure before appending")
    val target = s"$outDir/data/$streamPath/$table"
    val shaped =
      if (rows > rowsPerFile) {
        val parts = math.min(((rows + rowsPerFile - 1) / rowsPerFile).toInt, 4096)
        df.repartitionByRange(parts, org.apache.spark.sql.functions.col("row"))
      } else df.coalesce(1)
    shaped
      .sortWithinPartitions("row")
      .write.mode(SaveMode.Append)
      // no job-level _SUCCESS marker: nothing in the mirror (or any
      // parquet reader) consumes it, and on the streaming hot path it is
      // one extra filesystem round-trip per append — ~20 ms/job measured
      // (round 12) plus one marker file per trigger per table. Scoped to
      // this write via the option (write options merge into the job's
      // Hadoop conf), so other writers in the session keep the default.
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(target)
  }

  /** Driver-side append of driver-materialized rows — no Spark job (see
    * [[LocalParquet]]; ~160 ms of fixed write-job cost saved per call).
    * Caller orders the rows; returns the count written.
    */
  def appendLocal(
      streamPath: String,
      table: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[InternalRow]
  ): Long = {
    require(frozen, "create the structure before appending")
    LocalParquet.write(s"$outDir/data/$streamPath/$table", schema, rows)
  }

  /** Phase 3 — close: job metadata (mdat start/end ISO strings,
    * `src/WriterModule/mdat/mdat_Writer.cpp:19-97`), per-stream units, and
    * final scalar aggregates — one row per table, written on the driver in
    * place of the table's previous content (a repeated close rewrites it).
    */
  def close(
      plan: NexusPlan.Plan,
      startMs: Long,
      stopMs: Long,
      unitsByStream: Map[String, Map[String, String]],
      finals: Map[String, Map[String, Row]],
      attrsByStream: Map[String, Map[String, String]] = Map.empty
  ): Unit = {
    finals.foreach { case (streamPath, tables) =>
      tables.foreach { case (name, row) =>
        val internal = InternalRow.fromSeq(row.toSeq.map {
          case s: String => UTF8String.fromString(s)
          case v         => v
        })
        LocalParquet.overwrite(s"$outDir/data/$streamPath/$name", row.schema, Seq(internal))
      }
    }
    val mdat = JObject(plan.mdats.flatMap { m =>
      m.items.collect {
        case "start_time" => "start_time" -> JString(iso(startMs))
        case "end_time"   => "end_time"   -> JString(iso(stopMs))
      }
    }.toList)
    val closing = JObject(
      "mdat"  -> mdat,
      "units" -> JObject(unitsByStream.map { case (p, us) =>
        p -> JObject(us.map { case (k, v) => k -> (JString(v): JValue) }.toList)
      }.toList),
      "group_attributes" -> JObject(attrsByStream.map { case (p, as) =>
        p -> JObject(as.map { case (k, v) => k -> (JString(v): JValue) }.toList)
      }.toList)
    )
    write("closing.json", JsonMethods.pretty(JsonMethods.render(closing)))
  }

  private def write(name: String, content: String): Unit =
    Files.writeString(Paths.get(outDir).resolve(name), content)
}
