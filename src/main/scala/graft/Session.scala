package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft session is built. Every main and the test
  * fixture call `local`, so the production entry points run the exact
  * configuration the oracle gate (`Verify`) and the ScalaTest suite
  * verify. A caller varies only the core count and, through `extra`,
  * settings that do not change query results (a warehouse dir).
  */
object Session {
  /** `SPARK_GRAFT_CPUS` if set, else the machine's core count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // r19: let AQE coalesce inside CACHED plans too (default false).
      // The shared-subtree persists (r14/r18) otherwise materialize and
      // re-scan at full shuffle-partition width regardless of size —
      // measured at sf0.1 local[32]: 3–4× the executor CPU on every
      // text-prep composite (keepbest 38–54 → 11.7 CPU-s, audit 47–49
      // → 17, x_llm_corpus_prep 37–42 → ~10) with walls flat-to-better.
      // Scale-correct, not a local[32] tune: AQE sizes partitions by
      // advisory bytes, so corpus-scale cache builds keep parallelism.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // events.ts may arrive as TIMESTAMP(NANOS); Tables.eventsRaw reads
      // it as a Long of epoch-nanos (the UTC zone covers the µs encoding).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
