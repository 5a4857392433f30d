package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Extra args
  * beyond (sfDir, outDir) restrict the run to the named queries — the
  * local single-query iteration loop; the driver passes exactly two. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Harness.session(Harness.verifyConf(Harness.cpus()))
    new java.io.File(outDir).mkdirs()
    // A query that THROWS must leave a loud artifact, not just a stderr
    // line: round 6's driver compare reported "117/117 green" because the
    // three erroring queries simply had no output directory and so never
    // appeared in CORRECTNESS at all. `_failed.json` makes an incomplete
    // run self-describing, and tools/precommit.sh greps it red.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      // operators that persist() intermediates (collocations, length
      // outliers, LSH banding, ...) must not accumulate cached blocks
      // across the 100-query run — same hygiene as Bench's runOne
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
    // Always written (empty object when clean) so "no manifest" is
    // distinguishable from "manifest says clean".
    Files.writeString(Paths.get(s"$outDir/_failed.json"),
      failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // Exit 0 even when queries failed: the driver must still run the
    // DuckDB compare over the queries that DID produce output (an abort
    // here would zero the whole round). The manifest is the loud channel;
    // tools/precommit.sh turns a non-empty one into a red commit gate.
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
    spark.stop()
  }
}
