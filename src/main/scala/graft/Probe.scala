package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-key measurement main: forces each named `SparkEntry` key twice with
  * [[Bench.force]] (the bench's own pass) and reports its time and the jobs
  * and stages that pass ran.
  *
  *   sbt "runMain graft.Probe <dataDir> <key,key,...> [outDir]"
  *
  * Prints `FINAL <key> (<pass>) <s> s jobs= J stages= S` per pass. On
  * pass 2 (the warm one) it writes two plans per key to `outDir`
  * (default `target/probe`): `<key>_plan.txt`, the formatted plan before
  * execution, and `<key>_final.txt`, the executed plan of the forced
  * write, with the runtime reuse (ReusedExchange, reused query stages)
  * AQE's final plan shows. */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <dataDir> <key,key,...> [outDir]")
    val dir = args(0)
    val keys = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val outDir = Paths.get(if (args.length > 2) args(2) else "target/probe")
    val spark = Bench.session(defaultCpus = "32")
    SparkEntry.warmCache(spark, dir)

    // Jobs and stages per pass, counted by the pass's job tag (local
    // properties reach the jobs AQE and broadcasts submit from other
    // threads); the forced write's QueryExecution comes from the listener
    // on the same queue, after its jobs, so once it arrives the counts
    // are complete.
    val jobs = new ConcurrentHashMap[String, (Int, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(',')).foreach { tag =>
            jobs.merge(tag, (1, j.stageInfos.size), (a, b) => (a._1 + b._1, a._2 + b._2))
          }
    })
    val writes = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.simpleString(1).contains("NoopWrite")) writes.put(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    Files.createDirectories(outDir)
    for (name <- keys; pass <- 1 to 2) {
      val df = SparkEntry.queries(name)(spark, dir)
      val tag = s"probe-$name-$pass"
      spark.sparkContext.addJobTag(tag)
      val t0 = System.nanoTime()
      try Bench.force(df) finally spark.sparkContext.removeJobTag(tag)
      val s = (System.nanoTime() - t0) / 1e9
      val qe = writes.poll(60, TimeUnit.SECONDS)
      val (j, st) = jobs.getOrDefault(tag, (0, 0))
      println(f"FINAL $name%-8s($pass) $s%6.2f s jobs=$j%3d stages=$st%3d")
      if (pass == 2) {
        // `df` itself never ran (the write planned its own copy), so its
        // plan is still the pre-execution one
        Files.writeString(outDir.resolve(s"${name}_plan.txt"),
          df.queryExecution.explainString(FormattedMode))
        Files.writeString(outDir.resolve(s"${name}_final.txt"),
          Option(qe).fold("(no write plan received)")(_.executedPlan.toString))
        println(s"  wrote $outDir/${name}_plan.txt, ${name}_final.txt")
      }
    }
    spark.stop()
  }
}
