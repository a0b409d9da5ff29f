package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg (local dev only): comma-separated query names;
    // a misspelled one fails here rather than dumping nothing for it
    val queries =
      if (args.length > 2) graft.tools.Timing.lookup(args(2).split(",").toSeq)
      else SparkEntry.queries.toSeq
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "verify")
    new java.io.File(outDir).mkdirs()
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
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
    // a null SQL (builder init-order bug) must cost one query, not the
    // whole correctness round
    val json = SparkEntry.oracleSql
      .filter { case (k, v) =>
        if (v == null) System.err.println(s"[verify] $k: null oracle SQL, skipped")
        v != null
      }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
