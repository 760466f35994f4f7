package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Drift guards over the sources: every session — the mains, the oracle
  * gate and the test fixture — comes from `Session.local`, so they all
  * run one configuration; the shelf's build stamp is read and written
  * only by `ArtifactShelf`, so its format and lock stay in one place;
  * `Pipeline` overwrites relations only through `ArtifactShelf.publish`;
  * the near-dup cluster rule, the admission split and the batch-id
  * charset rule each have one definition; and every top-level object
  * under `src/main/scala` defines a `main` or is named by another file
  * there or under `perfbench/src`, so no module lives on for its tests
  * alone.
  */
class SessionSpec extends AnyFunSuite {
  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
  }

  /** The 0-based indices of `p`'s non-comment lines matching `pattern`. */
  private def matching(p: Path, pattern: scala.util.matching.Regex): Seq[Int] =
    Files.readAllLines(p).asScala.zipWithIndex.collect {
      case (line, i) if !isComment(line) && pattern.findFirstIn(line).nonEmpty => i
    }.toSeq

  private val pipeline = Paths.get("src/main/scala/graft/Pipeline.scala")

  /** The `.scala` files under `root`. */
  private def scalaFiles(root: String): Vector[Path] =
    scala.util.Using.resource(Files.walk(Paths.get(root))) { walk =>
      walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
    }

  /** Non-comment lines matching `pattern` in the `.scala` files under
    * `roots`, outside the file named `owner`, as `path:line`.
    */
  private def offenders(roots: Seq[String], owner: String,
      pattern: scala.util.matching.Regex): Seq[String] = {
    val sources = roots.flatMap(scalaFiles)
    assert(sources.exists(_.endsWith(owner)),
      s"source scan found no $owner under ${Paths.get("").toAbsolutePath}")
    sources.filterNot(_.endsWith(owner)).flatMap { (p: Path) =>
      matching(p, pattern).map(i => s"$p:${i + 1}")
    }
  }

  test("sessions are built only by Session.local, and the test session carries its configuration") {
    val found = offenders(Seq("src/main/scala", "src/test/scala"), "Session.scala",
      """SparkSession\s*\.\s*builder\s*\(""".r)
    assert(found.isEmpty,
      s"build sessions with graft.Session.local, not a builder: ${found.mkString(", ")}")
    val conf = GraftTest.spark.conf
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("the shelf's build stamp is named only in ArtifactShelf") {
    val found = offenders(Seq("src/main/scala"), "ArtifactShelf.scala",
      "art_build_stamp".r)
    assert(found.isEmpty,
      s"read and write the build stamp through ArtifactShelf: ${found.mkString(", ")}")
  }

  test("the near-dup cluster rule and the admission split are written only by their owners") {
    val cut = offenders(Seq("src/main/scala"), "Dedup.scala", """jaccard"\) >= 0.5""".r)
    assert(cut.isEmpty,
      s"cluster near-dups through Dedup.nearDupLabels: ${cut.mkString(", ")}")
    val split = offenders(Seq("src/main/scala"), "Tables.scala", """expr\("\(max\(""".r)
    assert(split.isEmpty,
      s"split admission halves through Tables.admissionSplit: ${split.mkString(", ")}")
  }

  test("the batch-id charset rule is written once, in Pipeline's id helper") {
    val rule = """\.matches\("\[A-Za-z""".r
    val outside = offenders(Seq("src/main/scala"), "Pipeline.scala", rule)
    val inside = matching(pipeline, rule).size
    assert(outside.isEmpty && inside == 1,
      s"resolve batch ids through Pipeline.batchIdOf: $inside rules in " +
        s"Pipeline.scala, others at ${outside.mkString(", ")}")
  }

  test("Pipeline's only raw write is commitBatch's staged batch commit") {
    // Every other relation Pipeline overwrites goes through
    // ArtifactShelf.publish, the one place a publish's layout and
    // receipt are decided.
    val lines = Files.readAllLines(pipeline).asScala
    val start = lines.indexWhere(_.contains("def commitBatch("))
    val end = lines.indexWhere(_ == "  }", start)
    assert(start >= 0 && end > start, "found no commitBatch in Pipeline.scala")
    val (inCommit, outside) = matching(pipeline, """\.write\b""".r)
      .partition(i => i > start && i < end)
    assert(inCommit.size == 1 && outside.isEmpty,
      s"publish Pipeline relations through ArtifactShelf.publish: raw writes at " +
        s"${outside.map(i => s"Pipeline.scala:${i + 1}").mkString(", ")}, " +
        s"${inCommit.size} in commitBatch")
  }

  test("every top-level object is a main or is named by another source file") {
    val topLevel = """object (\w+)\b.*""".r
    val unreached = scalaFiles("src/main/scala").flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toVector
      lines.zipWithIndex.collect { case (topLevel(name), start) =>
        val end = lines.indexOf("}", start)
        val body = lines.slice(start, if (end < 0) lines.size else end)
        val isMain = body.exists(l => !isComment(l) && l.contains("def main("))
        lazy val named = offenders(Seq("src/main/scala", "perfbench/src"),
          p.toString, s"\\b$name\\.".r).nonEmpty
        name -> (isMain || named)
      }
    }.collect { case (name, false) => name }
    assert(unreached.isEmpty,
      s"delete objects that define no main and no other engine or benchmark file names: " +
        unreached.mkString(", "))
  }
}
