package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest operators for the reference's API-shaped nested JSON — the
  * generic, reusable form of SURVEY.md §2 rows S2-S6/P9/W3.
  *
  * Reference semantics (not code):
  *   - locations: nested address/geolocation flatten + cross-batch dedup
  *     by location_id (main_pipeline.py:172-228)
  *   - products: items[0] flatten into price/fulfillment/inventory,
  *     categories serialized to a JSON string, rows with no regular price
  *     skipped (main_pipeline.py:362-440)
  *   - INSERT OR REPLACE keyed upsert: last-write-wins per PK by
  *     fetched_at, reproduced as dedup-on-write (main_pipeline.py:326-352)
  *
  * Scale notes: flattens are narrow (no shuffle). The upsert shuffles once
  * on the PK; at 100 TB the raw layer would be range/bucket-partitioned on
  * the same key so the merge co-locates with the existing data.
  */
object KrogerIngest {

  /** Schema of the raw locations API payload (FIXTURES.md §A). */
  val locationSchema: StructType = StructType(Seq(
    StructField("locationId", StringType),
    StructField("name", StringType),
    StructField("chain", StringType),
    StructField("address", StructType(Seq(
      StructField("addressLine1", StringType),
      StructField("city", StringType),
      StructField("state", StringType),
      StructField("zipCode", StringType)))),
    StructField("geolocation", StructType(Seq(
      StructField("latitude", DoubleType),
      StructField("longitude", DoubleType))))))

  /** Schema of the raw products API payload (FIXTURES.md §A). */
  val productSchema: StructType = StructType(Seq(
    StructField("productId", StringType),
    StructField("description", StringType),
    StructField("brand", StringType),
    StructField("categories", ArrayType(StringType)),
    StructField("items", ArrayType(StructType(Seq(
      StructField("itemId", StringType),
      StructField("size", StringType),
      StructField("price", StructType(Seq(
        StructField("regular", DoubleType),
        StructField("promo", DoubleType),
        StructField("effectiveDate", StructType(Seq(StructField("value", StringType)))),
        StructField("expirationDate", StructType(Seq(StructField("value", StringType))))))),
      StructField("fulfillment", StructType(Seq(
        StructField("instore", BooleanType),
        StructField("delivery", BooleanType),
        StructField("curbside", BooleanType),
        StructField("shiptohome", BooleanType)))),
      StructField("inventory", StructType(Seq(StructField("stockLevel", StringType))))))))))

  /** S2: flatten nested location payloads, dedup across fetch batches. */
  def flattenLocations(raw: DataFrame): DataFrame =
    raw.select(
      col("locationId").as("location_id"),
      col("name"), col("chain"),
      col("address.addressLine1").as("address_line1"),
      col("address.city").as("city"),
      col("address.state").as("state"),
      col("address.zipCode").as("zip_code"),
      col("geolocation.latitude").as("latitude"),
      col("geolocation.longitude").as("longitude"),
      current_timestamp().as("fetched_at"))
      .dropDuplicates("location_id")

  /** S6/P9: flatten product payloads — items[0] struct access, categories
    * re-serialized to a JSON string, rows with no regular price skipped.
    * A payload whose `items` is empty or null has no items[0]: it reads as
    * a null item (`try_element_at`, which ANSI mode does not fail on) and
    * is skipped by the same no-price filter.
    */
  def flattenProducts(raw: DataFrame): DataFrame =
    raw.select(
      col("productId").as("product_id"),
      col("description"), col("brand"),
      to_json(col("categories")).as("categories"),
      try_element_at(col("items"), lit(1)).as("item"),
      current_timestamp().as("fetched_at"))
      .select(
        col("product_id"), col("description"), col("brand"), col("categories"),
        col("item.itemId").as("item_id"),
        col("item.size").as("size"),
        col("item.price.regular").as("regular_price"),
        col("item.price.promo").as("promo_price"),
        col("item.price.effectiveDate.value").as("effective_date"),
        col("item.price.expirationDate.value").as("expiration_date"),
        col("item.fulfillment.instore").as("fulfillment_instore"),
        col("item.fulfillment.delivery").as("fulfillment_delivery"),
        col("item.fulfillment.curbside").as("fulfillment_curbside"),
        col("item.fulfillment.shiptohome").as("fulfillment_shiptohome"),
        col("item.inventory.stockLevel").as("stock_level"),
        col("fetched_at"))
      .filter(col("regular_price").isNotNull)

  /** S5/S6/W3: INSERT OR REPLACE semantics — union existing + incoming,
    * keep the newest row per key. On an orderCol tie the INCOMING row wins
    * (REPLACE semantics: a re-ingested batch stamped with the same
    * fetched_at must still overwrite), enforced by an explicit source
    * priority column rather than union order, which Spark does not
    * guarantee to survive the window shuffle.
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
      orderCol: String): DataFrame = {
    val tagged = existing.withColumn("__src", lit(0))
      .unionByName(incoming.withColumn("__src", lit(1)))
    // Final tiebreak: a content hash over the whole row, so two same-key
    // same-timestamp rows inside one batch resolve identically on every
    // run and partitioning (arbitrary but deterministic — the reference's
    // sequential INSERT OR REPLACE keeps whichever applied last, an order
    // a distributed union does not preserve).
    val contentTiebreak = xxhash64(tagged.columns.map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(orderCol).desc, col("__src").desc, contentTiebreak.desc)
    tagged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }

  /** Parse raw JSON strings into the typed payload shape (spark.read.json
    * equivalent for pre-fetched API batches).
    */
  def parseProducts(spark: SparkSession, jsonLines: DataFrame): DataFrame =
    jsonLines.select(from_json(col("value"), productSchema).as("p")).select("p.*")

  def parseLocations(spark: SparkSession, jsonLines: DataFrame): DataFrame =
    jsonLines.select(from_json(col("value"), locationSchema).as("l")).select("l.*")
}
