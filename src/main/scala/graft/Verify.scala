package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each selected SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare in `tools/check.py`.
  * `runMain graft.Verify <sfDir> <outDir> [query ...]`; the queries are
  * chosen by [[Harness.select]]. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: Verify <sfDir> <outDir> [query ...]")
      sys.exit(2)
    }
    val Seq(sfDir, outDir) = args.toSeq.take(2)
    val selected = Harness.select(args.toSeq.drop(2))
    val spark = Harness.session(Harness.cores)
    new java.io.File(outDir).mkdirs()
    val queries = SparkEntry.queries
    selected.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
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
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
