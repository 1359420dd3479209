package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Optimization-round evidence tool: dumps `explain("formatted")` for the
  * named queries as individual files (`<outdir>/<key>_<tag>.txt`), so a
  * round's before/after plan claims are reviewable as committed text.
  *
  *   sbt "runMain graft.PlanDump plans/r16 before cur,v_iq,ml_g"
  *
  * Uses the bench session shape (local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cpus) so the dumped plans match what the bench executes,
  * not the 4-core Plans.md layout.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outdir> <tag> <key,key,...> [dataDir]")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val keys = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(outDir)
    keys.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$tag.txt"), txt)
      println(s"wrote $outDir/${name}_$tag.txt (${txt.length} chars)")
    }
    // `cur` materializes via localCheckpoint inside the operator, so its
    // query plan is just the checkpoint scan; additionally dump the lazy
    // report aggregate over the pinned curation flags.
    if (keys.contains("cur")) {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(spark, dir)
      val lazyReport = graft.pipeline.Pipeline.flagReport(graft.pipeline.Pipeline.curationFlags(
        docs, docs.filter(col("doc_id") % 20 === 0), 0.2, Map("en" -> 0.5, "de" -> 0.25), 0.1))
      val txt = lazyReport.queryExecution.explainString(FormattedMode)
      Files.writeString(outDir.resolve(s"cur_flags_$tag.txt"), txt)
      println(s"wrote $outDir/cur_flags_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
