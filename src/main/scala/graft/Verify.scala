package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // shared session defaults (Sessions.defaults) — the correctness gate
    // executes under exactly the conf the bench times.
    //
    // WindowExec-warning note: every unpartitioned window in the repo is
    // deliberately bounded — post-LIMIT top-K ranks (Curation.scoreWith/
    // lmQuality, the PQ/SQ8 codebook seeds) or the <=1001-row quality
    // lattice (q159) — and Spark 4 constant-folds any literal
    // partitionBy key back to an empty partition spec, so WindowExec's
    // blanket warning cannot be silenced site-by-site. Each site carries
    // its bounded-input audit comment; the logger is demoted centrally
    // (Sessions.local) so the log stays readable. A NEW warning source
    // must pass the same audit before this list grows.
    val spark = Sessions.local("graft-verify", defaultCpus = "4")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated substring filter for local iteration
    // (mirrors Bench's SPARK_GRAFT_ONLY); the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSeq)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }
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
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
