package graft

import org.apache.spark.sql.SparkSession

/** Shared test fixtures — ONE SparkSession and ONE frozen-artifact
  * shelf build per test JVM, referenced by every suite (object lazy
  * vals are JVM-global and initialization-synchronized), so the r14
  * suite split for parallel execution (`Test / testForkedParallel`)
  * neither multiplies the expensive fixtures nor races their
  * construction. local[8] (vs the historical per-suite local[4]) gives
  * the concurrently-running suites task slots to share; every spec's
  * assertions are partition-count-invariant by construction (content
  * hashes, explicit orderings, join-strategy plan shapes).
  */
object GraftTest {
  val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = Session.local(8)

  // ONE frozen-artifact shelf build shared by every shelf-consuming
  // spec across all suites (the full shelf build runs every trainer
  // pass — 14 refresh groups, 23 relations — paying it once per JVM,
  // not per suite, keeps the wall bounded).
  lazy val shelf: (String, Map[String, Long]) = {
    val tmp = java.nio.file.Files.createTempDirectory("shelf_shared").toString
    val counts = Pipeline.materializeFrozenArtifacts(spark, sf, tmp)._1
    (tmp, counts)
  }

  /** ONE writable real-directory copy of the shared shelf per caller
    * (r18, hoisted from the per-spec inline walk loops): the serve
    * append/compaction specs mutate their shelf, and symlink-copy
    * shelves are read-only by design. Closes the walk stream (it holds
    * directory handles; suites share one long-lived JVM).
    */
  def copyShelf(prefix: String): String = {
    import java.nio.file.{Files, Path, Paths}
    val dir = Files.createTempDirectory(prefix).toString
    scala.util.Using.resource(Files.walk(Paths.get(shelf._1))) { walk =>
      walk.forEach { (p: Path) =>
        val t = Paths.get(dir, Paths.get(shelf._1).relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(t)
        else Files.copy(p, t)
      }
    }
    dir
  }
}
