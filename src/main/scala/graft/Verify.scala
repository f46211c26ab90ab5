package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = Sessions.cpus(fallback = 4)
    val spark = Sessions.start("graft-verify", Sessions.base(s"local[$cpus]", cpus), "WARN")
    new java.io.File(outDir).mkdirs()
    // per-query watchdog: one pathological query must not eat the whole
    // round's correctness budget — cancel its job group and move on
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_S", "240").toLong
    // dev-only subset filter (unset for driver runs): comma-separated names
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def wanted(name: String) = only.forall(_.contains(name))
    SparkEntry.queries.toSeq.sortBy(_._1).filter(p => wanted(p._1)).foreach { case (name, fn) =>
      try Sessions.withDeadline(spark, name, timeoutSec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch {
        case e: Throwable =>
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
    val json = SparkEntry.oracleSql.filter(p => wanted(p._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
