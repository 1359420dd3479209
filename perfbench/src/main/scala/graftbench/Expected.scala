package graftbench

import java.nio.file.{Files, Path, StandardOpenOption}

import scala.jdk.CollectionConverters._

/** Recorded output digests, one text file per workload:
  * `seed <TAB> key <TAB> value` lines. A seed with recorded lines is
  * checked line by line; other seeds rely on the seed-independent
  * invariants. `--record` appends the lines of the current run instead
  * of checking (used once, to record the default seed). */
object Expected {
  @volatile var dir: Option[Path] = None
  @volatile var record = false

  private def file(workload: String): Option[Path] = dir.map(_.resolve(s"$workload.tsv"))

  private def recorded(workload: String, seed: Long): Map[String, String] =
    file(workload).filter(Files.exists(_)).map { f =>
      Files.readAllLines(f).asScala.map(_.split('\t'))
        .collect { case Array(s, k, v) if s == seed.toString => k -> v }.toMap
    }.getOrElse(Map.empty)

  def has(workload: String, seed: Long): Boolean = recorded(workload, seed).nonEmpty

  def check(workload: String, seed: Long, got: Seq[(String, Any)]): Option[String] = {
    val f = file(workload).getOrElse(return None)
    val fresh = got.map { case (k, v) => k -> v.toString }
    if (record) {
      Files.createDirectories(f.getParent)
      val lines = fresh.map { case (k, v) => s"$seed\t$k\t$v" }
      Files.write(f, lines.asJava, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      return None
    }
    val want = recorded(workload, seed)
    if (want.isEmpty) None
    else {
      val have = fresh.toMap
      val bad = (want.keySet ++ have.keySet).toSeq.sorted
        .filter(k => want.get(k) != have.get(k))
      if (bad.isEmpty) None
      else Some(s"$workload seed $seed: ${bad.size} outputs differ from the recorded digests, e.g. " +
        bad.take(3).map(k => s"$k want ${want.getOrElse(k, "-")} got ${have.getOrElse(k, "-")}").mkString("; "))
    }
  }
}
