package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: comma-separated name prefixes (the driver
    // never sets this — default is the full suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    def selected(name: String) = only.forall(_.exists(name.startsWith))
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist() internally (q31) must not leave cached
      // blocks pinned in executor storage for the rest of the run
      spark.catalog.clearCache()
    }
    // a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness
    def q(s: String): String = graft.io.JsonUtil.quote(s)
    // The driver keys its correctness report by the parquet dump's file
    // name (`qN_name.parquet`), not the bare query name — round 1 emitted
    // bare names only and every query came back `err:"no_oracle"`. Emit
    // each oracle entry under BOTH key shapes (harmless duplication; the
    // driver picks whichever it looks up), and ALSO drop a standalone
    // `<name>.sql` file beside each parquet so a file-based lookup works
    // regardless of JSON key shape.
    val entries = SparkEntry.oracleSql.toSeq.filter(kv => selected(kv._1)).flatMap { case (k, v) =>
      Seq(k -> v, s"$k.parquet" -> v)
    }
    val json = entries
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SparkEntry.oracleSql.filter(kv => selected(kv._1)).foreach { case (k, v) =>
      Files.writeString(Paths.get(s"$outDir/$k.sql"), v)
    }
    spark.stop()
  }
}
