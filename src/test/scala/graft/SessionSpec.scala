package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Drift guard: every session — the mains, the oracle gate and the test
  * fixture — comes from `Session.local`, so they all run one
  * configuration.
  */
class SessionSpec extends AnyFunSuite {
  test("sessions are built only by Session.local, and the test session carries its configuration") {
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      scala.util.Using.resource(Files.walk(Paths.get(root))) { walk =>
        walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector
      }
    }
    assert(sources.exists(_.endsWith("Session.scala")),
      s"source scan found no Session.scala under ${Paths.get("").toAbsolutePath}")
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("*") || t.startsWith("//") || t.startsWith("/*")
    }
    val offenders = sources.filterNot(_.endsWith("Session.scala")).flatMap { (p: Path) =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if !isComment(line) && builder.findFirstIn(line).nonEmpty =>
          s"$p:${i + 1}"
      }
    }
    assert(offenders.isEmpty,
      s"build sessions with graft.Session.local, not a builder: ${offenders.mkString(", ")}")
    val conf = GraftTest.spark.conf
    assert(conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
