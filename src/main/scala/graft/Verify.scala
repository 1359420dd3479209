package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump only those
    // (local targeted re-checks; the driver's 2-arg call dumps everything)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, q) => (s, o, Some(q.split(',').toSet))
    }
    val spark = Bench.session(defaultCpus = "4", logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.warmCache(spark, sfDir)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
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
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of every query that SHOULD have produced a dump — so the
    // local gate can flag a query whose write failed (its dir is simply
    // absent, which a dirs-only scan would silently skip; ml_kmeans
    // demonstrated exactly that failure mode)
    val manifest = SparkEntry.queries.keys.toSeq.sorted
      .filter(k => only.forall(_.contains(k)))
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), manifest)
    spark.stop()
  }
}
