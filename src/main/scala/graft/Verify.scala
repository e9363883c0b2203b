package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.Verify")

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      // optional 3rd arg: comma-separated query-name prefixes to dump
      // (iteration aid; the driver always runs the 2-arg form)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSeq))
    }
    val spark = SparkEntry.localSession()
    new java.io.File(outDir).mkdirs()
    // A failed query must be LOUD: r7 had 5 queries die inside this loop
    // and the correctness report simply lacked their rows — a 151-green
    // report that read as perfect. Failures are collected, written to
    // _failed.json beside the results, logged one line per query, and
    // summed up on stdout so both the driver log and the output dir
    // carry the regression.
    var failed = List.empty[(String, String)]
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= (name, Option(e.getMessage).getOrElse(e.getClass.getName))
        log.error(s"$name failed: ${e.getMessage}")
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
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failed.sortBy(_._1)
      .map { case (n, m) => s"${q(n)}: ${q(m.take(300))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    if (failed.nonEmpty) {
      println(s"[verify] FAILED ${failed.size} queries: " +
        failed.map(_._1).sorted.mkString(", "))
    } else println("[verify] all queries dumped OK")
    spark.stop()
  }
}
