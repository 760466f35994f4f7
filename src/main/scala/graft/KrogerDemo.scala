package graft

import org.apache.spark.sql.functions._

/** End-to-end demo of the reference pipeline over its ACTUAL schema:
  * generate kroger-shaped raw data distributed (no API), run the staging
  * → dim → fact → mart models (ops.KrogerModels), run the 16-style schema
  * tests, and print layer row counts. A user of the reference can point
  * this at their own flattened raw tables instead of the generator.
  *
  * Usage: runMain graft.KrogerDemo [nProducts] [nLocations]
  */
object KrogerDemo {
  def main(args: Array[String]): Unit = {
    val nProducts = args.headOption.map(_.toLong).getOrElse(2000L)
    val nLocations = if (args.length > 1) args(1).toInt else 50
    val spark = Session.local(Session.cpus)

    val rawPrices = ops.KrogerDataGen.rawPrices(spark, nProducts, nLocations)
    val rawProducts = ops.KrogerDataGen.rawProducts(spark, nProducts)
    val rawLocations = ops.KrogerDataGen.rawLocations(spark, nLocations)

    val stgP = ops.KrogerModels.stgProducts(rawProducts)
    val stgL = ops.KrogerModels.stgLocations(rawLocations)
    val stgPr = ops.KrogerModels.stgPrices(rawPrices)
    val dimP = ops.KrogerModels.dimProducts(stgP)
    val dimL = ops.KrogerModels.dimLocations(stgL)
    val fact = ops.KrogerModels.factPrices(stgPr, dimP, dimL)

    val martLoc = ops.KrogerModels.martLocationSales(fact, dimL)
    val layers = Seq(
      "stg_products" -> stgP, "stg_locations" -> stgL, "stg_prices" -> stgPr,
      "dim_products" -> dimP, "dim_locations" -> dimL, "fact_prices" -> fact,
      "mart_category_distribution" -> ops.KrogerModels.martCategoryDistribution(fact),
      "mart_location_sales" -> martLoc,
      "mart_price_by_category" -> ops.KrogerModels.martPriceByCategory(fact))
    layers.foreach { case (name, df) => println(s"$name: ${df.count()} rows") }

    val tests = ops.KrogerModels.schemaTests(stgP, stgL, stgPr, dimP, dimL,
      fact, ops.KrogerModels.martCategoryDistribution(fact), martLoc,
      ops.KrogerModels.martPriceByCategory(fact))
    val violations = tests.filter(col("n_violations") > 0).count()
    println(s"schema tests: ${tests.count()} checks, $violations violations")
    require(violations == 0, "schema tests failed")
    spark.stop()
  }
}
