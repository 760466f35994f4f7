package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The serving layer: the reference dashboard's five chart dataflows
  * (portfolio_app/app.py) computed off the *materialized* mart parquet
  * written by Pipeline — the reference's read-only-scan serving pattern
  * (SURVEY.md §2 S9), with every pandas post-processing step expressed
  * inside the Spark plan.
  *
  * Chart analogs (kroger → testdata role mapping, FIXTURES.md §B):
  *   1 price-distribution box data: per-category price quartiles, ordered
  *     by median (app.py:81-140)
  *   2 geo map: per-nation rollup with shared color scale (app.py:146-256)
  *   3 stock stacked bar: recode + share-of-group (app.py:262-326)
  *   4 discount bar: HAVING-gated discount rollup (app.py:332-374)
  *   5 quadrant bubble: conditional aggs + global medians (app.py:380-439)
  *
  * Per-publish snapshot. The reference re-queries the marts on every page
  * load (layout-as-function, app.py:535) so a page always shows the latest
  * publish. Here every chart serves from a memo keyed by (session, chart,
  * input paths), and every call first takes a driver-side fingerprint of
  * the chart's inputs: name, length and mtime of each file under them
  * (one Hadoop `listFiles` per path). An entry built for another
  * fingerprint is replaced, and its cached frame unpersisted. A Spark
  * overwrite writes new part-file names, so a republish changes the
  * fingerprint and the next load recomputes; the per-load freshness is
  * kept. Charts 2–5 depend on the published files only: they are
  * collected once per fingerprint and served as local relations, so
  * probing and collecting them runs no Spark job. Chart 1 also depends
  * on its date window: it runs one aggregate per load over a persisted
  * projection of the fact, built once per fingerprint.
  *
  * Usage: runMain graft.Dashboard [sfDir] [martDir]
  */
object Dashboard {

  /** (path, length, mtime) of every file under a chart's inputs. */
  private type Fingerprint = Seq[(String, Long, Long)]

  private final case class MemoKey(spark: SparkSession, chart: String, paths: Seq[String])

  /** One memoized frame, built at most once by whichever load reaches it
    * first; concurrent loads of the same key wait for that build, loads
    * of other keys do not.
    */
  private final class MemoEntry(val fingerprint: Fingerprint, build: () => DataFrame) {
    @volatile private var built: DataFrame = null
    @volatile private var released = false
    lazy val frame: DataFrame = {
      val df = build()
      built = df
      if (released) df.unpersist(blocking = false)
      df
    }
    /** Unpersists the frame once it is built, now or when its build ends. */
    def release(): Unit = {
      released = true
      Option(built).foreach(_.unpersist(blocking = false))
    }
  }

  private val memoTable = new ConcurrentHashMap[MemoKey, MemoEntry]()

  private def fingerprint(spark: SparkSession, paths: Seq[String]): Fingerprint = {
    val conf = spark.sessionState.newHadoopConf()
    paths.flatMap { p =>
      val path = new Path(p)
      val files = path.getFileSystem(conf).listFiles(path, true)
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toVector.sorted
    }
  }

  /** `build`'s frame for the current files under `paths`: memoized while
    * their fingerprint holds, rebuilt once it changes. A fingerprint that
    * cannot be taken (inputs gone) drops the entry and throws.
    */
  private def memo(spark: SparkSession, chart: String, paths: Seq[String])(
      build: => DataFrame): DataFrame = {
    val key = MemoKey(spark, chart, paths)
    val fp = try fingerprint(spark, paths) catch {
      case e: Exception =>
        Option(memoTable.remove(key)).foreach(_.release())
        throw e
    }
    var replaced: Option[MemoEntry] = None
    val entry = memoTable.compute(key, (_, old) =>
      if (old != null && old.fingerprint == fp) old
      else { replaced = Option(old); new MemoEntry(fp, () => build) })
    replaced.foreach(_.release())
    entry.frame
  }

  /** `df` collected once and served as a local relation. */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Chart 1's input: the priced, branded rows of the materialized fact. */
  private[graft] def priceFact(spark: SparkSession, martDir: String): DataFrame =
    spark.read.parquet(s"$martDir/fact_prices")
      .filter(col("p_brand").isNotNull && col("regular_price") > 0)
      .select("p_brand", "regular_price", "effective_date")

  private def inWindow(fact: DataFrame, from: String, to: String): DataFrame =
    fact.filter(col("effective_date").between(from, to))

  /** Chart 1's quartile box data per brand, ordered by median. */
  private[graft] def boxData(fact: DataFrame): DataFrame =
    fact.groupBy(col("p_brand"))
      .agg(
        round(percentile(col("regular_price"), lit(0.25)), 4).as("q1"),
        round(percentile(col("regular_price"), lit(0.5)), 4).as("median"),
        round(percentile(col("regular_price"), lit(0.75)), 4).as("q3"),
        count(lit(1)).as("n"))
      .orderBy(desc("median"))

  /** Chart 1 built directly off the parquet, with the reference's
    * empty-input fallback (app.py:84-113): if the window has no rows,
    * re-plan unfiltered.
    */
  private[graft] def chart1Plan(spark: SparkSession, martDir: String,
      from: String, to: String): DataFrame = {
    val fact = priceFact(spark, martDir)
    val windowed = inWindow(fact, from, to)
    boxData(if (windowed.limit(1).isEmpty) fact else windowed)
  }

  /** The persisted chart-1 projection of this publish's fact, in one
    * partition: a load's grouped, ordered aggregate over it then plans no
    * exchange and runs as a single job. Three narrow columns of a served
    * mart; per-job scheduling, not the aggregate's CPU, is what a page
    * load waits on.
    */
  private def factSnapshot(spark: SparkSession, martDir: String): DataFrame =
    memo(spark, "chart1_fact", Seq(s"$martDir/fact_prices"))(
      priceFact(spark, martDir).coalesce(1).persist())

  /** Chart 1: quartile box data per brand from the materialized fact,
    * windowed to a date range — with the reference's empty-input fallback
    * (app.py:84-113). One collected aggregate per call over the persisted
    * projection of this publish's fact, and no separate emptiness probe:
    * the window is empty exactly when the grouped result has no rows, and
    * then the memoized unfiltered result is served instead.
    */
  def chart1BoxData(spark: SparkSession, martDir: String,
      from: String = "1998-01-01", to: String = "1998-03-31"): DataFrame = {
    val windowed = local(boxData(inWindow(factSnapshot(spark, martDir), from, to)))
    if (!windowed.isEmpty) windowed
    else memo(spark, "chart1_unfiltered", Seq(s"$martDir/fact_prices"))(
      local(boxData(factSnapshot(spark, martDir))))
  }

  /** Chart 2: mart ⋈ dim with a shared min/max color scale across two
    * series (the pandas concat / fillna dataflow, app.py:177-199).
    */
  def chart2GeoData(spark: SparkSession, sfDir: String, martDir: String): DataFrame =
    memo(spark, "chart2_geo",
      Seq(s"$martDir/mart_supplier_sales", s"$sfDir/nation.parquet"))(
      local(chart2Plan(spark, sfDir, martDir)))

  private[graft] def chart2Plan(spark: SparkSession, sfDir: String, martDir: String): DataFrame = {
    val mart = spark.read.parquet(s"$martDir/mart_supplier_sales")
    val nation = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    val perNation = mart.join(broadcast(nation),
        mart("s_nationkey") === nation("n_nationkey"), "left")
      .na.fill(Map("n_name" -> "N/A"))
      .groupBy("n_name")
      .agg(round(avg(col("avg_price")), 2).as("nation_avg_price"),
        sum(col("total_products")).as("total_products"))
    val scale = perNation.agg(
      min(col("nation_avg_price")).as("scale_min"),
      max(col("nation_avg_price")).as("scale_max"))
    perNation.crossJoin(broadcast(scale)).orderBy("n_name")
  }

  /** Chart 3: stock recode + share-of-group stacked-bar data. */
  def chart3StockShare(spark: SparkSession, martDir: String): DataFrame =
    memo(spark, "chart3_stock", Seq(s"$martDir/fact_prices"))(
      local(chart3Plan(spark, martDir)))

  private[graft] def chart3Plan(spark: SparkSession, martDir: String): DataFrame = {
    val fact = spark.read.parquet(s"$martDir/fact_prices")
    val counts = fact
      .groupBy(col("p_brand"),
        when(col("discount_pct") > 5, "Deep discount")
          .when(col("discount_pct") > 0, "Discounted")
          .otherwise("Full price").as("price_status"))
      .agg(count(lit(1)).as("n"))
    counts.withColumn("pct_of_brand",
        round(col("n") / sum(col("n")).over(Window.partitionBy(col("p_brand"))) * 100, 2))
      .orderBy("p_brand", "price_status")
  }

  /** Chart 4: discount rollup with HAVING gate, sorted on the aggregate. */
  def chart4DiscountBar(spark: SparkSession, martDir: String): DataFrame =
    memo(spark, "chart4_discount", Seq(s"$martDir/fact_prices"))(
      local(chart4Plan(spark, martDir)))

  private[graft] def chart4Plan(spark: SparkSession, martDir: String): DataFrame =
    spark.read.parquet(s"$martDir/fact_prices")
      .filter(col("discount_pct") > 0)
      .groupBy(col("p_brand"))
      .agg(round(avg(col("discount_pct")), 2).as("avg_discount_pct"),
        count(lit(1)).as("promo_items"))
      .filter(col("promo_items") >= 5)
      .orderBy(desc("avg_discount_pct"), col("p_brand"))

  /** Chart 5: quadrant bubble — conditional aggregates per brand plus the
    * global medians as quadrant reference lines, all in one plan.
    */
  def chart5Quadrant(spark: SparkSession, martDir: String): DataFrame =
    memo(spark, "chart5_quadrant", Seq(s"$martDir/fact_prices"))(
      local(chart5Plan(spark, martDir)))

  private[graft] def chart5Plan(spark: SparkSession, martDir: String): DataFrame = {
    val fact = spark.read.parquet(s"$martDir/fact_prices")
    val perBrand = fact.groupBy(col("p_brand"))
      .agg(
        round(avg(when(col("discount_pct") > 0, col("discount_pct"))), 2)
          .as("avg_discount_pct"),
        round(avg(col("regular_price")), 2).as("avg_regular_price"),
        countDistinct(col("l_partkey")).as("products"),
        count(lit(1)).as("n_rows"))
      .filter(col("n_rows") >= 5)
    val refs = perBrand.agg(
      round(percentile(col("avg_discount_pct"), lit(0.5)), 4).as("ref_discount"),
      round(percentile(col("avg_regular_price"), lit(0.5)), 4).as("ref_price"))
    perBrand.crossJoin(broadcast(refs)).orderBy("p_brand")
  }

  /** All five charts off one mart directory. */
  def charts(spark: SparkSession, sfDir: String, martDir: String): Map[String, DataFrame] = Map(
    "chart1_box"      -> chart1BoxData(spark, martDir),
    "chart2_geo"      -> chart2GeoData(spark, sfDir, martDir),
    "chart3_stock"    -> chart3StockShare(spark, martDir),
    "chart4_discount" -> chart4DiscountBar(spark, martDir),
    "chart5_quadrant" -> chart5Quadrant(spark, martDir))

  /** Per-chart degradation arm — the reference wraps EVERY chart in
    * try/except plus an empty-state alert (app.py:116,175,275,350,401 and
    * the per-chart `except` guards): a chart never propagates an
    * exception or an empty frame to the page. Spark analog: Left(alert
    * message) when the chart's plan fails to build/execute or yields no
    * rows, Right(df) otherwise. The emptiness probe is a `limit(1)`; on
    * the local relations the chart functions serve it runs no Spark job.
    */
  def render(chart: => DataFrame, emptyMsg: String, failMsg: String): Either[String, DataFrame] =
    try {
      val df = chart
      if (df.limit(1).isEmpty) Left(emptyMsg) else Right(df)
    } catch {
      case e: Exception => Left(s"$failMsg: ${e.getMessage}")
    }

  /** The five charts behind their degradation arms, with the reference's
    * alert texts; chart 1 over the window `from`..`to`.
    */
  def renderAll(spark: SparkSession, sfDir: String, martDir: String,
      from: String = "1998-01-01",
      to: String = "1998-03-31"): Map[String, Either[String, DataFrame]] = Map(
    "chart1_box" -> render(chart1BoxData(spark, martDir, from, to),
      "No price data available for the box plot.",
      "Price distribution chart unavailable"),
    "chart2_geo" -> render(chart2GeoData(spark, sfDir, martDir),
      "No store location data available for the map.",
      "Fulfillment & pricing map unavailable"),
    "chart3_stock" -> render(chart3StockShare(spark, martDir),
      "No stock-availability data available.",
      "Stock availability chart unavailable"),
    "chart4_discount" -> render(chart4DiscountBar(spark, martDir),
      "No promotional-discount data available.",
      "Discount-depth chart unavailable"),
    "chart5_quadrant" -> render(chart5Quadrant(spark, martDir),
      "No category value data available.",
      "Category value map unavailable"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val martDir = if (args.length > 1) args(1) else "/tmp/graft_pipeline"
    val spark = Session.local(Session.cpus)
    Pipeline.run(spark, sfDir, martDir)
    charts(spark, sfDir, martDir).toSeq.sortBy(_._1).foreach { case (name, df) =>
      println(s"$name: ${df.count()} rows")
    }
    spark.stop()
  }
}
