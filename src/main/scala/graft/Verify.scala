package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, nameFilter) = args match {
      case Array(s, o)    => (s, o, "")
      case Array(s, o, f) => (s, o, f) // filter for local iteration
    }
    val selected = NameFilter(nameFilter)
    val spark = GraftSession.local()
    BoundedWindows.quietWindowWarnings()
    new java.io.File(outDir).mkdirs()
    // A query that throws must stay VISIBLE: write an _ERROR sentinel in
    // its output slot (so the driver's compare reports `err` for the row
    // instead of silently omitting it — round 6 shipped "66/66 green" on
    // a 67-query surface that way) and exit non-zero at the end, matching
    // Bench's contract.
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed ::= name
        val slot = Paths.get(s"$outDir/$name")
        try {
          if (!Files.exists(slot)) Files.createDirectories(slot)
          Files.writeString(slot.resolve("_ERROR"),
            s"$name: ${Option(e.getMessage).getOrElse(e.getClass.getName)}\n")
        } catch { case se: Throwable =>
          System.err.println(s"[verify] $name sentinel write failed: $se")
        }
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.reverse.mkString(", ")}")
      sys.exit(1)
    }
  }
}
