package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1, naming
  * them, when any query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names: dump only those queries (dev iteration)
    val only = args.drop(2).toSet
    val spark = graft.core.Sessions.local()
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.filter(kv => only.isEmpty || only(kv._1)))
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
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }

  /** Write each builder's result to `outDir/<name>` as parquet and return
    * the names of the builders that threw. An earlier run's output is
    * deleted before each write, so a failed query leaves no stale parquet
    * for the compare to pass. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           builders: Map[String, graft.queries.Q.QueryFn]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    builders.toSeq.flatMap { case (name, fn) =>
      val out = s"$outDir/$name"
      graft.core.TempDirs.rmTree(out)
      try {
        fn(spark, sfDir).coalesce(1).write.parquet(out)
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
  }
}
