package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names — builder-side fast
    // iteration on one query (the driver always calls with two args).
    val only: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else (_ => true)
    // alternate-strategy gate runs go through SPARK_GRAFT_EXTRA_CONF, e.g.
    // spark.graft.chunkNumbering=sampled re-runs the chunk+stitch queries
    // under the sampled numbering for an oracle-exact check
    val spark = graft.core.Graft.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Schema-drift canary: print each driver table's physical schema up
    // front and fail fast (readable observed-vs-expected message) if the
    // events ts vintage can't be normalized — round 5 lost 30 queries
    // silently to exactly that.
    graft.core.Graft.schemaCanary(spark, sfDir).foreach(System.err.println)
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors += name -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      } finally {
        // drop reuse-pin storage (Reuse persists + checkpoint blocks)
        // between queries — 196 accumulated DISK_ONLY pins would otherwise
        // exhaust local disk on a big-SF run. Unpersist the RDDs FIRST:
        // clearCache() removes cached plans' RDDs from persistentRdds, so
        // running it first would hide them from the sweep.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Errored queries recorded EXPLICITLY (name → message) so the round's
    // correctness artifact is self-describing — absent rows in the driver's
    // compare otherwise need cross-referencing against bench sentinels.
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
