package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Readers for the driver-generated testdata tables (see TESTDATA.md /
  * FIXTURES.md §B). Each table is a single parquet file per scale factor;
  * reads are lazy scans so Catalyst can push filters/pruning into the
  * parquet reader.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.ts arrives as epoch-nanos Long regardless of how the driver
    * generated the parquet. Two generations exist: TIMESTAMP(NANOS) (read
    * as Long via the nanosAsLong legacy conf, which every session sets
    * (Session.local) — full precision) and
    * TIMESTAMP(µs, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ; widened
    * to nanos here). Downstream operators always see a Long of epoch-nanos
    * and truncate to µs (`ts div 1000`) — the precision DuckDB's
    * `epoch_us(CAST(ts AS TIMESTAMP))` twin computes on either encoding.
    * The NTZ→epoch cast interprets the naive value in the session zone;
    * every entry point pins spark.sql.session.timeZone=UTC, matching
    * DuckDB's treat-naive-as-UTC epoch semantics.
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.TimestampType =>
        import org.apache.spark.sql.functions.{col, unix_micros, lit}
        df.withColumn("ts",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * lit(1000L))
      case other =>
        // A third driver encoding must fail loudly, not silently yield
        // nulls or a wrong epoch scale through a blanket cast.
        throw new IllegalStateException(
          s"events.ts has unsupported parquet type $other; expected " +
            "LongType (nanosAsLong) or TIMESTAMP/TIMESTAMP_NTZ")
    }
  }

  /** Keyless repartition UP to the session's default parallelism when a
    * narrow relation arrives with fewer partitions (r19). A small corpus
    * is one unsplittable parquet split, so every downstream wide
    * transform's FIRST stage — the expensive explode/hash/recode maps —
    * runs on 1–2 tasks while the rest of the session idles (guide §2.5:
    * repartition unsplittable inputs right after the read; measured: the
    * BPE r12 arm's wall ≈ its CPU before, −66% wall at both 8 and 32
    * cores after). Inert at cluster scale, where scans arrive pre-split
    * wider than the session — this never DOWN-partitions. Takes only
    * NARROW plans: the width probe reads df.rdd.getNumPartitions, and
    * under AQE that executes any shuffle or broadcast stage in the plan,
    * which the repartition then runs again. So any optimized-plan
    * operator other than a leaf (file scan, local, checkpointed or
    * cached relation), Project, Filter, Sample or Union is rejected
    * before the probe, without running a job.
    * Apply where the repartition amortizes: iterative loops and chains
    * whose first stage dominates their CPU — not blanket on every scan
    * (the sub-second relational tail would pay a shuffle for nothing).
    */
  private[graft] def widen(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.optimizedPlan.foreach {
      case _: LeafNode | _: Project | _: Filter | _: Sample | _: Union =>
      case op => throw new IllegalArgumentException(
        s"Tables.widen takes a narrow plan; found ${op.nodeName}")
    }
    val sc = df.sparkSession.sparkContext
    if (df.rdd.getNumPartitions < sc.defaultParallelism)
      df.repartition(sc.defaultParallelism)
    else df
  }

  /** The train-once admission split, the one place it is written: ids
    * below `(max(idCol) + 1) div 2` are the admitted (training) half,
    * the rest arrive after it. 0 on an empty relation, so both halves
    * are empty.
    */
  private[graft] def admissionSplit(df: DataFrame, idCol: String): Long = {
    val r = df.agg(expr(s"(max($idCol) + 1) div 2")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
