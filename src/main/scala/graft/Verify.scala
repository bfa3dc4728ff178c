package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check.py).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [q1,q2,...]` — the
  * optional third argument restricts both the parquet dumps and
  * oracle_sql.json to those names, so tools/check.py reports just the
  * subset; the full gate passes exactly two arguments. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.lift(2).map(_.split(",").toSet)
    val spark = Harness.session()
    try run(spark, sfDir, outDir, only) finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]]): Unit = {
    def wanted(name: String) = only.forall(_.contains(name))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => wanted(name) }
      .foreach { case (name, fn) =>
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
    // sf0.01-pinned golden oracles only apply at the scale they were
    // captured at; elsewhere those queries degrade to rows-only checks
    val sfName = Paths.get(sfDir).getFileName.toString
    val applicable =
      if (sfName == "sf0.01") SparkEntry.oracleSql
      else SparkEntry.oracleSql -- Oracles.pinnedToSf001
    val json = applicable
      .filter { case (name, _) => wanted(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
