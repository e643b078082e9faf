package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (every `Sql` oracle), for the DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local-iteration subset (comma-separated names). An unknown name
    // fails here, before the session starts.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(SparkEntry.resolveCsv(_).map(_.name).toSet)
    // Shared engine defaults (timezone, AQE floor) — same session config
    // surface as Bench and the CLI, so correctness runs exercise the
    // exact configuration the bench times.
    val spark = Sessions.local(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // A failed query must NEVER silently vanish from the correctness
    // report (r12 lost 5 broken queries that way): on exception, write the
    // output dir anyway with an _ERROR.txt marker so every declared query
    // yields a visible row — `err`, not absence. The marker also lands in
    // errors.json for one-glance triage.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.filter(e => only.forall(_.contains(e.name))).foreach { query =>
      val name = query.name
      try query.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${e.getMessage}"
        System.err.println(s"[verify] $name failed: $msg")
        failed(name) = msg
        val d = new java.io.File(s"$outDir/$name")
        d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR.txt"), msg)
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
    val json = SparkEntry.queries
      .collect { case SparkEntry.Query(k, _, SparkEntry.Sql(v), _) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
    spark.stop()
  }
}
