package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

/** Deterministic hot-key corpus for the skew rehearsal (SCALE.md): remaps a
  * fixed percentage of events (by hash of the immutable event_id, default
  * 10%) onto user 0, modeling the one-device-emits-a-tenth-of-the-stream
  * regime that makes bare user-keyed window partitions a straggler at
  * 100 TB. Every other table is copied untouched so the output directory is
  * a complete corpus the bench harness (schema canary, warmup) accepts.
  *
  * Usage: `runMain graft.SkewGen [srcDir] [outDir]`
  * (defaults /root/repo/testdata_sf1 → /root/repo/testdata_skew;
  * SPARK_GRAFT_SKEW_PCT overrides the hot percentage).
  */
object SkewGen {
  def main(args: Array[String]): Unit = {
    val src    = args.headOption.getOrElse("/root/repo/testdata_sf1")
    val out    = if (args.length > 1) args(1) else "/root/repo/testdata_skew"
    val hotPct = sys.env.getOrElse("SPARK_GRAFT_SKEW_PCT", "10").toInt
    val spark  = graft.core.Graft.session("graft-skew-gen")

    spark.read.parquet(s"$src/events.parquet")
      .withColumn("user_id",
        when(pmod(xxhash64(col("event_id")), lit(100)) < hotPct, lit(0L))
          .otherwise(col("user_id")))
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // Files.walk streams must be closed (each holds open directory fds)
    def copyDir(a: Path, b: Path): Unit =
      scala.util.Using.resource(Files.walk(a)) { walk =>
        walk.forEach { p =>
          val q = b.resolve(a.relativize(p).toString)
          if (Files.isDirectory(p)) Files.createDirectories(q)
          else Files.copy(p, q, StandardCopyOption.REPLACE_EXISTING)
        }
      }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      copyDir(Paths.get(s"$src/$t.parquet"), Paths.get(s"$out/$t.parquet"))
    }

    val ev  = spark.read.parquet(s"$out/events.parquet")
    val n   = ev.count()
    val hot = ev.filter(col("user_id") === 0L).count()
    println(f"[skewgen] events: $n rows, hot user 0 holds $hot (${100.0 * hot / n}%.1f%%)")
    spark.stop()
  }
}
