package org.apache.spark.ml

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.ml.util.{DefaultParamsReader, DefaultParamsWriter, MLWritable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Fanout
import org.json4s.{JArray, JObject, JString}

/** Parallel save/load of a fitted [[PipelineModel]], byte-compatible with
  * `PipelineModel.write` / `PipelineModel.load`'s on-disk layout (same
  * `metadata/` JSON shape, same `stages/<idx>_<uid>/` directories via
  * [[Pipeline.SharedReadWrite.getStagePath]], each stage written by its
  * OWN standard `MLWriter`) — models saved here load with stock Spark and
  * vice versa (spec-asserted).
  *
  * Why it exists: `SharedReadWrite.saveImpl`/`load` write and read the
  * pipeline stages SEQUENTIALLY, and each stage persist is a chain of
  * tiny driver-coordinated jobs (a one-row metadata text write plus one
  * or two small parquet writes/reads). On a pipeline whose stages are
  * KB-to-MB artifacts, wall-clock is the SUM of those per-stage job
  * latencies. Spark's scheduler happily overlaps independent jobs
  * submitted from different threads (optimization guide §2.6), and the
  * stage artifacts are independent by construction — so the stage
  * writes/reads fan out on a bounded pool owned by each call
  * ([[Fanout]], which runs every stage under the caller's job group and
  * other local properties) and wall-clock drops to the slowest single
  * stage. At cluster scale the win is the same mechanism, larger:
  * output-commit latency per stage directory is paid once,
  * concurrently, instead of serially.
  *
  * Lives in `org.apache.spark.ml` because the stage-path layout helper
  * and the metadata reader/writer (`DefaultParamsWriter`/`Reader`,
  * `SharedReadWrite`) are `private[ml]`; everything used is the stock
  * public Spark distribution's own persistence code, just re-driven
  * concurrently.
  */
object GraftParallelPersist {

  /** Save `model` under `path` (overwriting), stages in parallel.
    * Failure-safe: every stage is checked to be [[MLWritable]] before
    * anything is written, the model is written to a hidden sibling
    * directory, and only a complete write replaces `path` (by rename);
    * a failed save leaves the previous model at `path` loadable. */
  def save(model: PipelineModel, spark: SparkSession, path: String): Unit = {
    val stages = model.stages
    stages.find(!_.isInstanceOf[MLWritable]).foreach { s =>
      throw new UnsupportedOperationException("Pipeline write will fail on this pipeline " +
        s"because stage ${s.uid} of type ${s.getClass} is not MLWritable")
    }
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = sibling(target, "tmp")
    try {
      // the exact metadata SharedReadWrite.saveImpl writes: paramMap
      // overridden with the stage uids (the `stages` param itself is not
      // JSON-encodable), everything else DefaultParamsWriter's standard shape
      val jsonParams = JObject(List(
        "stageUids" -> JArray(stages.map(s => JString(s.uid)).toList)))
      DefaultParamsWriter.saveMetadata(model, tmp.toString, spark, None, Some(jsonParams))
      val stagesDir = new Path(tmp, "stages").toString
      Fanout.run(spark, "graft-ml-persist", stages.toSeq.zipWithIndex.map { case (stage, idx) =>
        () => stage.asInstanceOf[MLWritable].write.save(
          Pipeline.SharedReadWrite.getStagePath(stage.uid, idx, stages.length, stagesDir))
      })
      swapIn(fs, tmp, target)
    } finally {
      if (fs.exists(tmp)) fs.delete(tmp, true)
    }
  }

  /** Load a [[PipelineModel]] from `path`, stages in parallel. */
  def load(spark: SparkSession, path: String): PipelineModel = {
    val metadata = DefaultParamsReader.loadMetadata(
      path, spark, classOf[PipelineModel].getName)
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    val stageUids = (metadata.params \ "stageUids").extract[Seq[String]]
    val stagesDir = new Path(path, "stages").toString
    val stages = Fanout.run(spark, "graft-ml-persist", stageUids.zipWithIndex.map { case (uid, idx) =>
      () => {
        val stagePath = Pipeline.SharedReadWrite
          .getStagePath(uid, idx, stageUids.length, stagesDir)
        DefaultParamsReader
          .loadParamsInstanceReader[PipelineStage](stagePath, spark)
          .load(stagePath)
      }
    })
    val transformers = stages.map {
      case t: Transformer => t
      case other => throw new IllegalStateException(
        s"PipelineModel stage ${other.uid} is not a Transformer")
    }
    new PipelineModel(metadata.uid, transformers.toArray)
  }

  /** A hidden sibling of `target` (Hadoop listings skip `.`-names). */
  private def sibling(target: Path, kind: String): Path =
    new Path(target.getParent, s".${target.getName}.$kind-${java.util.UUID.randomUUID()}")

  /** Replace `target` with the complete write at `tmp`. The previous
    * target is renamed aside first (a rename onto an existing directory
    * would nest instead of replace), put back if the swap fails, and
    * deleted once the new model is in place. */
  private def swapIn(fs: FileSystem, tmp: Path, target: Path): Unit = {
    val old = sibling(target, "old")
    val hadOld = fs.exists(target)
    if (hadOld && !fs.rename(target, old))
      throw new IOException(s"cannot move the previous model at $target aside")
    if (!fs.rename(tmp, target)) {
      if (hadOld) fs.rename(old, target)
      throw new IOException(s"cannot move the new model into $target")
    }
    if (hadOld) fs.delete(old, true)
  }
}
