package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional third arg: comma-separated query names for fast local
    // iteration (the driver always calls with two args = full dump).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local(Session.cpus)
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Full query inventory + failures, so the local gate (tools/selfcheck.py)
    // can verify rows-only queries produced output instead of skipping them.
    val allKeys = SparkEntry.queries.keys.toSeq
      .filter(k => only.forall(_.contains(k))).sorted.map(q).mkString("[", ",", "]")
    def writeManifest(failed: List[String]): Unit =
      Files.writeString(Paths.get(s"$outDir/queries.json"),
        s"""{"queries": $allKeys, "failed": ${
          failed.sorted.map(q).mkString("[", ",", "]")}}""")
    // Both manifests are written BEFORE the ~165-query dump loop (and the
    // failure list rewritten after): a mid-loop kill — driver-side timeout,
    // OOM — previously left NO oracle_sql.json, and a consumer that
    // enumerates queries from it read the whole round as zero queries
    // (the r18 driver artifact: CORRECTNESS_r18 = {} / n_queries = 0 on a
    // tree whose local gate passed 165/165 four times). With the manifests
    // first, a partial dump still yields partial correctness: queries whose
    // parquet is missing fail individually instead of zeroing the set.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    writeManifest(Nil)
    var failed = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        writeManifest(failed)
      }
      // Release any subtrees the query pinned (dedup/ANN persist their
      // signature tables) so cache doesn't accumulate across ~50 queries.
      spark.catalog.clearCache()
    }
    writeManifest(failed)
    spark.stop()
  }
}
