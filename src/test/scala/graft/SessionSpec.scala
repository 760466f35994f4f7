package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Drift guards over the sources: every session — the mains, the oracle
  * gate and the test fixture — comes from `Session.local`, so they all
  * run one configuration; the shelf's build stamp is read and written
  * only by `ArtifactShelf`, so its format and lock stay in one place;
  * and the near-dup cluster rule and the admission split each have one
  * definition.
  */
class SessionSpec extends AnyFunSuite {
  /** Non-comment lines matching `pattern` in the `.scala` files under
    * `roots`, outside the file named `owner`, as `path:line`.
    */
  private def offenders(roots: Seq[String], owner: String,
      pattern: scala.util.matching.Regex): Seq[String] = {
    val sources = roots.flatMap { root =>
      scala.util.Using.resource(Files.walk(Paths.get(root))) { walk =>
        walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      }
    }
    assert(sources.exists(_.endsWith(owner)),
      s"source scan found no $owner under ${Paths.get("").toAbsolutePath}")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
    }
    sources.filterNot(_.endsWith(owner)).flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if !isComment(line) && pattern.findFirstIn(line).nonEmpty =>
          s"$p:${i + 1}"
      }
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
}
