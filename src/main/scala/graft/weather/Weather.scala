package graft.weather

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's core weather pipeline (reference weather_etl.py:62-90,
  * 145), re-expressed Spark-first: schema'd JSON scan (S2) → struct
  * flatten (P1/P2) → rename + timestamp cast (P3/P6) → latest-per-city
  * in the plan of the reference's own CTE SQL (S3/W1/F1).
  *
  * Unlike the reference (per-file json.loads + O(n²) pandas concat,
  * weather_etl.py:63-83), the scan is ONE declarative `read.json` over
  * the date-partitioned directory tree: Spark reads all files in
  * parallel, the explicit schema skips inference, and the per-day
  * directory layout becomes a `date` column derived from the file path —
  * so at scale, date predicates prune whole directories instead of the
  * reference's table-per-day naming hack (weather_etl.py:105).
  */
object Weather {

  /** Explicit source schema (SURVEY.md §1.2; fixture key-set verified
    * identical across all 27 docs, e.g. airflow/data/2023-08-11/London.txt). */
  val conditionSchema: StructType = StructType(Seq(
    StructField("text", StringType),
    StructField("icon", StringType),
    StructField("code", LongType)))

  val locationSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("region", StringType),
    StructField("country", StringType),
    StructField("lat", DoubleType),
    StructField("lon", DoubleType),
    StructField("tz_id", StringType),
    StructField("localtime_epoch", LongType),
    StructField("localtime", StringType)))

  val currentSchema: StructType = StructType(Seq(
    StructField("last_updated_epoch", LongType),
    StructField("last_updated", StringType),
    StructField("temp_c", DoubleType),
    StructField("temp_f", DoubleType),
    StructField("is_day", LongType),
    StructField("condition", conditionSchema),
    StructField("wind_mph", DoubleType),
    StructField("wind_kph", DoubleType),
    StructField("wind_degree", LongType),
    StructField("wind_dir", StringType),
    StructField("pressure_mb", DoubleType),
    StructField("pressure_in", DoubleType),
    StructField("precip_mm", DoubleType),
    StructField("precip_in", DoubleType),
    StructField("humidity", LongType),
    StructField("cloud", LongType),
    StructField("feelslike_c", DoubleType),
    StructField("feelslike_f", DoubleType),
    StructField("vis_km", DoubleType),
    StructField("vis_miles", DoubleType),
    StructField("uv", DoubleType),
    StructField("gust_mph", DoubleType),
    StructField("gust_kph", DoubleType)))

  val weatherSchema: StructType = StructType(Seq(
    StructField("location", locationSchema),
    StructField("current", currentSchema)))

  /** The raw feed layout, defined once for the batch scan and the stream:
    * one root directory, read recursively, keeping only `*.txt` files; the
    * partition date comes from the file's parent directory name, not from
    * file contents. Reading the single root, instead of a
    * `<root>/<any>/<any>.txt` glob that expands to one root path per landed
    * file, keeps the file listing one recursive walk from the root. */
  private val feedOptions = Map("pathGlobFilter" -> "*.txt", "recursiveFileLookup" -> "true")

  /** Rows of files whose parent directory is not a `yyyy-MM-dd` date get
    * an empty date and are dropped: only `<root>/<date>/<city>.txt` docs
    * are feed documents. */
  private def withFeedDate(raw: DataFrame): DataFrame =
    raw.withColumn("date",
        regexp_extract(input_file_name(), "/(\\d{4}-\\d{2}-\\d{2})/[^/]*$", 1))
      .filter(col("date") =!= "")

  /** S2: schema'd JSON scan over `dataDir/<date>/<city>.txt` (each file is
    * one single-line JSON doc, so the default JSON-lines reader applies).
    * `dates`, when given, restricts the scan to those date directories. */
  def readRaw(spark: SparkSession, dataDir: String, dates: Seq[String] = Nil): DataFrame = {
    val paths = if (dates.isEmpty) Seq(dataDir) else dates.map(d => s"$dataDir/$d")
    withFeedDate(spark.read.schema(weatherSchema).options(feedOptions).json(paths: _*))
  }

  /** The streaming form of [[readRaw]] over the whole feed, at most
    * `filesPerBatch` files per micro-batch. */
  def streamRaw(spark: SparkSession, dataDir: String, filesPerBatch: Int): DataFrame =
    withFeedDate(spark.readStream.schema(weatherSchema).options(feedOptions)
      .option("maxFilesPerTrigger", filesPerBatch).json(dataDir))

  /** S1: the REST API source (reference weather_etl.py:35-37 — one HTTP
    * GET per city, one JSON doc per response). The transport is a plain
    * `city => responseBody` function injected by the caller: production
    * wires an HTTP client on the DRIVER (9 tiny fetches — per-executor
    * fetching would multiply API quota for nothing), tests and offline
    * runs wire fixture content. Responses parse through the SAME pinned
    * schema as the file scan, so everything downstream of `from_json` is
    * shared with S2; `date` mirrors the reference's per-day layout key. */
  def fetchRaw(spark: SparkSession, fetch: String => String,
               cities: Seq[String], date: String): DataFrame = {
    import spark.implicits._
    val docs = cities.map(c => fetch(c))
    spark.createDataset(docs).toDF("raw")
      .select(from_json($"raw", weatherSchema).as("doc"))
      .select($"doc.location".as("location"), $"doc.current".as("current"))
      .withColumn("date", lit(date))
  }

  /** P1/P2/P3/P6: flatten both structs of the same row (the reference's
    * axis=1 concat, weather_etl.py:82, disappears — no join needed),
    * replace `condition` by its text leaf, rename name→city, parse the
    * single-digit-hour local time. 31 data columns + `date`. */
  def flatten(raw: DataFrame): DataFrame =
    raw.select(col("location.*"), col("current.*"), col("date"))
      .withColumn("condition", col("condition.text"))
      .withColumnRenamed("name", "city")
      .withColumn("localtime", to_timestamp(col("localtime"), "yyyy-MM-dd H:mm"))

  /** The reference's one real analytic query (weather_etl.py:145):
    * latest record per city, its CTE's `ROW_NUMBER() OVER (PARTITION BY
    * city ORDER BY localtime DESC)` kept where it is 1, the same Window →
    * Filter → Project plan written with the DataFrame API, so no view
    * name enters the session catalog (a temp view `weather` would
    * replace the caller's own view of that name and shadow a table
    * `weather`). One hash shuffle on `city` + in-partition sort — the
    * minimal latest-per-key plan at any scale. */
  def latestPerCity(spark: SparkSession, flat: DataFrame): DataFrame =
    flat.withColumn("rn", row_number().over(
        Window.partitionBy("city").orderBy(col("localtime").desc)))
      .filter(col("rn") === 1)
      .drop("rn")
}
