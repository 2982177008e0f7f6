package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.weather.Weather

/** Golden-fixture tests: the 27 reference weather docs (3 days × 9
  * cities, copied under src/test/resources/weather) through the full
  * ingest slice — scan, flatten, latest-per-city SQL. Expected values are
  * hand-read from the fixtures (e.g. 2023-08-11/London.txt: temp_c 17.0,
  * localtime "2023-08-11 2:46"). */
class WeatherSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val dataDir = getClass.getResource("/weather").getPath

  test("S2 scan reads all 27 docs with the declared schema and a path-derived date") {
    val raw = Weather.readRaw(spark, dataDir)
    assert(raw.count() === 27)
    assert(raw.schema.fieldNames.toSet === Set("location", "current", "date"))
    val dates = raw.select("date").distinct().collect().map(_.getString(0)).sorted
    assert(dates === Array("2023-08-09", "2023-08-10", "2023-08-11"))
    // no corrupt/unparsed docs: every struct is non-null
    assert(raw.filter("location IS NULL OR current IS NULL").count() === 0)
  }

  test("S2 scan survives a malformed doc: null structs, no job failure") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("weather_bad")
    val day = tmp.resolve("2023-08-11"); Files.createDirectories(day)
    new java.io.File(s"$dataDir/2023-08-11").listFiles().foreach { f =>
      Files.copy(f.toPath, day.resolve(f.getName), StandardCopyOption.REPLACE_EXISTING)
    }
    Files.writeString(day.resolve("Corrupt.txt"), """{"location": {"name": 12, truncated""")
    val raw = Weather.readRaw(spark, tmp.toString)
    assert(raw.count() === 10) // 9 good + 1 corrupt (default PERMISSIVE mode)
    assert(raw.filter("location IS NULL AND current IS NULL").count() === 1)
    // the good rows flatten exactly as before; the corrupt row is droppable
    val flat = Weather.flatten(raw).filter("city IS NOT NULL")
    assert(flat.count() === 9)
  }

  test("S1 fetch source: injected transport, same schema and flatten as the file scan") {
    import java.nio.file.{Files, Paths}
    val date = "2023-08-11"
    val cities = new java.io.File(s"$dataDir/$date").listFiles()
      .map(_.getName.stripSuffix(".txt")).sorted.toSeq
    // "HTTP" transport backed by the fixture bodies — what the test
    // injects where production injects a real client
    val fetch: String => String =
      city => Files.readString(Paths.get(s"$dataDir/$date/$city.txt"))
    val raw = Weather.fetchRaw(spark, fetch, cities, date)
    assert(raw.schema.fieldNames.toSet === Set("location", "current", "date"))
    assert(raw.count() === 9)
    // identical rows to the file scan restricted to that date
    val viaFiles = Weather.flatten(Weather.readRaw(spark, dataDir))
      .filter(org.apache.spark.sql.functions.col("date") === date)
    val viaFetch = Weather.flatten(raw)
    assert(viaFetch.select("city", "temp_c", "localtime_epoch").except(
      viaFiles.select("city", "temp_c", "localtime_epoch")).isEmpty)
    assert(viaFetch.count() === viaFiles.count())
  }

  test("P1/P2/P3/P6 flatten yields 31 data columns, city rename, parsed localtime") {
    val flat = Weather.flatten(Weather.readRaw(spark, dataDir))
    assert(flat.count() === 27)
    assert(flat.columns.length === 32) // 8 location + 23 current + date
    assert(flat.columns.contains("city") && !flat.columns.contains("name"))
    assert(flat.schema("condition").dataType.typeName === "string")
    assert(flat.schema("localtime").dataType.typeName === "timestamp")
    // one row per (city, date)
    assert(flat.select("city", "date").distinct().count() === 27)
    assert(flat.select("city").distinct().count() === 9)
  }

  test("W1 latest-per-city returns one row per city with the 2023-08-11 values") {
    val latest =
      Weather.latestPerCity(spark, Weather.flatten(Weather.readRaw(spark, dataDir)))
    assert(latest.count() === 9)
    assert(latest.select("city").distinct().count() === 9)
    val london = latest.filter("city = 'London'").collect()
    assert(london.length === 1)
    val row = london(0)
    assert(row.getAs[Double]("temp_c") === 17.0)
    assert(row.getAs[String]("condition") === "Partly cloudy")
    assert(row.getAs[java.sql.Timestamp]("localtime").toString.startsWith("2023-08-11 02:46"))
    // every city's surviving row is from the latest day
    assert(latest.filter("date <> '2023-08-11'").count() === 0)
  }

  test("S2 scan keeps only docs directly under a yyyy-MM-dd directory") {
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("weather_layout")
    val day = Files.createDirectories(tmp.resolve("2023-08-11"))
    val london = new java.io.File(s"$dataDir/2023-08-11/London.txt").toPath
    Files.copy(london, day.resolve("London.txt"))
    // strays: a root-level doc, a non-date directory, a nested directory
    // inside a date, and a non-.txt file in a date directory
    Files.copy(london, tmp.resolve("Root.txt"))
    Files.copy(london, Files.createDirectories(tmp.resolve("misc")).resolve("Misc.txt"))
    Files.copy(london, Files.createDirectories(day.resolve("old")).resolve("Old.txt"))
    Files.copy(london, day.resolve("London.json"))
    val raw = Weather.readRaw(spark, tmp.toString)
    assert(raw.count() === 1)
    assert(raw.select("date").head().getString(0) === "2023-08-11")
    assert(Weather.readRaw(spark, tmp.toString, Seq("2023-08-11")).count() === 1)
  }
}
