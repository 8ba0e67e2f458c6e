package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query subset (local iteration;
    // the driver always runs the full map)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = Session()
    // GRAFT_ANSI=1 PINS ANSI SQL mode on for the silent-overflow
    // sweep — any Long product past 2^63 (the DSIR r14 finding)
    // becomes a LOUD error row in errors.json instead of garbage.
    // When unset, DO NOT touch the conf: the session default (ON in
    // Spark 4) is what every oracle row was written against —
    // explicitly forcing false here flipped size(null) from null to
    // the legacy −1 and failed ten null-gate rows (r15 finding:
    // never set a semantics conf to a value you didn't choose).
    if (sys.env.get("GRAFT_ANSI").contains("1"))
      spark.conf.set("spark.sql.ansi.enabled", "true")
    new java.io.File(outDir).mkdirs()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // recorded in errors.json below: a query that errors must show
        // up in the driver artifacts as BROKEN, not silently missing
        // (r7: 23 vanished rows read as dropped coverage, not breakage)
        errors(name) = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").linesIterator
            .take(1).mkString.take(300)
      }
      // LSH queries persist signature tables for their self-joins; keep
      // the 55-query session's cache footprint bounded
      spark.catalog.clearCache()
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
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}
