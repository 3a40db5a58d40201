package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, q) => (s, o, Some(q.split(',').toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Graft.session("graft-verify", s"local[$cpus]")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed(name) = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(500)
      }
      // index-building operators persist intermediates their lazy results
      // re-read (Cached[_] contract); a 100+-query session must not let
      // each query's MEMORY_AND_DISK residue accumulate against the next
      spark.catalog.clearCache()
    }
    // Self-describing failure record: a query that errors out produces no
    // parquet dir and would otherwise be silently ABSENT from the driver's
    // per-query report (round 10: 34 queries vanished and the regression
    // had to be reconstructed by diffing against the previous round).
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failed.map { case (k, v) =>
        s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Verify.oracleJson(spark, sfDir))
    spark.stop()
  }

  /** Full oracle map as a JSON object string: static oracles + the
    * data-dependent ones (BPE merges learned from the corpus via the
    * independent RefBpe trainer); a fixture failure must not zero every
    * other oracle. Shared by the Verify dump and Bench's comparator
    * mode. */
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def oracleJson(spark: SparkSession, sfDir: String): String = {
    def q(s: String): String = jsonStr(s)
    val dynamic =
      try SparkEntry.dataOracles(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] dataOracles failed: ${e.getMessage}")
        Map.empty[String, String]
      }
    (SparkEntry.oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
