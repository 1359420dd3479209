package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the driver-facing harness that no operator work may break. */
class HarnessContractSpec extends AnyFunSuite {

  test("every query has an oracle or a documented rows-only note, never a dangling oracle") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracles without queries: ${(os -- qs).mkString(", ")}")
  }

  test("bench stdout line is a CONSTANT-size summary inside the 2 KB archived tail") {
    // the archiver keeps only the last 2000 bytes of bench stdout, with
    // sbt's trailing "[success] Total time: …" line (~80 bytes) inside
    // that tail. Rounds 3-7 carried the full per-query dict on stdout and
    // funded fourteen key-rename batches squeezing under the budget; as
    // of round 8 the per-query dict lives ONLY in BENCH_FULL.json (a repo
    // file with no size cap — the archive contract) and stdout carries a
    // summary whose size does NOT grow with the query surface:
    //   {"metric":"total","value":N,"unit":"sec","n_queries":N,
    //    "timed":N,<"errors":{…} when any>,"sf":"…","full":"BENCH_FULL.json"}
    // Reconstruct the worst clean-run line (errors omitted: a run WITH
    // errors exits 1 and fails the round before archival matters) and pin
    // it far under budget regardless of how many queries exist.
    val line =
      s"""{"metric":"total","value":99999.99,"unit":"sec","n_queries":${SparkEntry.queries.size},""" +
        s""""timed":${SparkEntry.queries.size},"sf":"sf0.1","full":"BENCH_FULL.json"}"""
    val budget = 2000 - 81 /* sbt [success] line + newline */ - 1 /* own newline */
    assert(line.getBytes("UTF-8").length <= 200,
      s"bench stdout summary must stay constant-size (~130 bytes), got ${line.getBytes("UTF-8").length}")
    assert(line.getBytes("UTF-8").length <= budget)
    assert(!line.contains("\"queries\""),
      "per-query timings belong in BENCH_FULL.json, never on stdout — " +
        "that is what ended the key-rename treadmill")
  }

  test("no file under src/ carries a control byte other than tab, LF and CR") {
    // a raw control byte makes grep and git grep treat the whole file as
    // binary and hide every hit; spell it as a unicode escape instead
    val src = Paths.get("src")
    assert(Files.isDirectory(src.resolve("main/scala/graft")),
      s"src/ not found under ${Paths.get("").toAbsolutePath}")
    def control(b: Byte): Boolean =
      (b >= 0 && b < 0x20 && b != '\t' && b != '\n' && b != '\r') || b == 0x7f
    val walk = Files.walk(src)
    val offenders =
      try walk.iterator.asScala.filter(p => Files.isRegularFile(p))
        .filter((p: Path) => Files.readAllBytes(p).exists(control))
        .map(_.toString).toSeq.sorted
      finally walk.close()
    assert(offenders.isEmpty, s"control bytes in ${offenders.mkString(", ")}")
  }

  test("only the log module spells a manifest header line") {
    // the header-line format belongs to sources/TableLog.scala alone: a
    // header-prefix literal ("fstat=", "^version=", ...) anywhere else
    // under src/main is a second reader or writer of that format
    val keys = graft.sources.VersionedTable.HeaderLineRe.pattern
      .stripPrefix("^(?:").stripSuffix(")=")
    val literal = ("\"\\^?(?:" + keys + ")=").r
    val log = Paths.get("src/main/scala/graft/sources/TableLog.scala")
    assert(Files.isRegularFile(log), s"$log not found under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(Paths.get("src/main"))
    val offenders =
      try walk.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala") && p != log)
        .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (l, i) if literal.findFirstIn(l).isDefined => s"$p:${i + 1}"
        }).toSeq.sorted
      finally walk.close()
    assert(offenders.isEmpty, s"manifest header literals outside the log module: " +
      offenders.mkString(", "))
  }

  test("the library reads exactly three SPARK_GRAFT_* environment knobs") {
    // core count, bench input dir and the bench key filter. Any other
    // name under src/main is a mode switch no spec, bench or Verify run
    // exercises
    val knob = "SPARK_GRAFT_[A-Z0-9_]+".r
    val walk = Files.walk(Paths.get("src/main"))
    val names =
      try walk.iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .flatMap(p => knob.findAllIn(Files.readString(p)))
        .toSet
      finally walk.close()
    assert(names === Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_BENCH_ONLY"))
  }
}
