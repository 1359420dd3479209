package graft

import java.nio.file.Files

import org.apache.spark.ml.{GraftParallelPersist, Pipeline, PipelineModel, PipelineStage, Transformer}
import org.apache.spark.ml.feature.SQLTransformer
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.util.Identifiable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types.StructType

/** A pass-through stage with no `MLWriter`: a pipeline holding it cannot
  * be saved. */
class NotWritableStage(override val uid: String) extends Transformer {
  def this() = this(Identifiable.randomUID("notWritable"))
  override def transform(ds: Dataset[_]): DataFrame = ds.toDF()
  override def transformSchema(schema: StructType): StructType = schema
  override def copy(extra: ParamMap): NotWritableStage = defaultCopy(extra)
}

class ParallelPersistSpec extends SparkSpec {

  private lazy val df = spark.range(10).selectExpr("id", "cast(id as double) AS x")

  private def fitted(stages: PipelineStage*): PipelineModel =
    new Pipeline().setStages(stages.toArray).fit(df)

  private def sqlStages(n: Int): Seq[PipelineStage] = (0 until n).map(i =>
    new SQLTransformer().setStatement(s"SELECT *, x + $i AS c$i FROM __THIS__"))

  private def uids(m: PipelineModel): Seq[String] = m.stages.map(_.uid).toSeq

  test("save: a non-writable stage fails the save and leaves the previous model loadable") {
    val dir = Files.createTempDirectory("graft_persist_fail")
    val path = dir.resolve("model").toString
    val good = fitted(sqlStages(2): _*)
    GraftParallelPersist.save(good, spark, path)
    val bad = fitted(sqlStages(1) :+ new NotWritableStage(): _*)
    val e = intercept[UnsupportedOperationException] { GraftParallelPersist.save(bad, spark, path) }
    assert(e.getMessage.contains("not MLWritable"))
    assert(uids(GraftParallelPersist.load(spark, path)) === uids(good))
    assert(uids(PipelineModel.load(path)) === uids(good))
    assert(dir.toFile.list().toSeq === Seq("model"), "no temporary sibling may be left behind")
  }

  test("save: overwriting replaces the previous model") {
    val dir = Files.createTempDirectory("graft_persist_over")
    val path = dir.resolve("model").toString
    GraftParallelPersist.save(fitted(sqlStages(2): _*), spark, path)
    val next = fitted(sqlStages(3): _*)
    GraftParallelPersist.save(next, spark, path)
    assert(uids(GraftParallelPersist.load(spark, path)) === uids(next))
    assert(uids(PipelineModel.load(path)) === uids(next))
    assert(dir.toFile.list().toSeq === Seq("model"))
  }

  test("save and load: every job runs under the calling thread's job group") {
    val dir = Files.createTempDirectory("graft_persist_groups").toString
    val model = fitted(sqlStages(4): _*)
    def jobsUnder(group: String)(body: => Any): Seq[LoggedJob] = {
      spark.sparkContext.setJobGroup(group, s"persist spec $group")
      try JobLog.during(spark)(body)._2
      finally spark.sparkContext.clearJobGroup()
    }
    val runs = Seq(
      "persist-save-a" -> jobsUnder("persist-save-a")(GraftParallelPersist.save(model, spark, s"$dir/a")),
      "persist-save-b" -> jobsUnder("persist-save-b")(GraftParallelPersist.save(model, spark, s"$dir/b")),
      "persist-load-b" -> jobsUnder("persist-load-b")(GraftParallelPersist.load(spark, s"$dir/b")))
    runs.foreach { case (group, jobs) =>
      assert(jobs.nonEmpty, s"$group ran no job")
      assert(jobs.forall(_.group.contains(group)),
        s"$group: jobs under other groups: ${jobs.filterNot(_.group.contains(group)).map(_.group)}")
    }
  }
}
