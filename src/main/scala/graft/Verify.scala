package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import graft.core.GraftSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional trailing query names narrow the dump (local spot
    // checks at big SFs); the driver passes none and gets the full set
    val only = rest.toSet
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    // an unreadable SF dir would fail every loader with a full stack
    // trace; check it once and report each query failed without it
    val sfPath = new java.io.File(sfDir)
    val sfReadable = sfPath.isDirectory && sfPath.canRead
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // a query that fails must leave no earlier run's parquet behind
      // for the oracle compare to read
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$outDir/$name"))
      if (!sfReadable)
        System.err.println(
          s"[verify] $name failed: $sfDir is not a readable directory")
      else try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
    spark.stop()
  }
}
