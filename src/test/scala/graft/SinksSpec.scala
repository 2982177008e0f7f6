package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.Publish
import graft.weather.Weather

/** Round-trip tests for the sink/catalog surface: write → read back →
  * identical data, through both the path and the catalog table. */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val flat =
    Weather.flatten(Weather.readRaw(spark, getClass.getResource("/weather").getPath))

  private def key(df: DataFrame): Set[(String, String, Double)] =
    df.select("city", "date", "temp_c").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet

  test("K4/K5 partitioned publish + catalog registration round-trips") {
    val dir = Files.createTempDirectory("graft_publish").toString
    Publish.publishPartitioned(spark, flat, s"$dir/weather", "weather_db", "weather_flat")
    // catalog read
    val viaTable = spark.table("weather_db.weather_flat")
    assert(viaTable.count() === 27)
    assert(key(viaTable) === key(flat))
    // path read: one directory per date partition
    val viaPath = spark.read.parquet(s"$dir/weather")
    assert(viaPath.count() === 27)
    assert(new java.io.File(s"$dir/weather").listFiles()
      .count(_.getName.startsWith("date=")) === 3)
    // partition pruning: a date predicate reads a single partition
    val pruned = viaTable.filter("date = '2023-08-11'")
    assert(pruned.count() === 9)
    // idempotent rerun (the reference's daily overwrite, §2.12)
    Publish.publishPartitioned(spark, flat, s"$dir/weather", "weather_db", "weather_flat")
    assert(spark.table("weather_db.weather_flat").count() === 27)
  }

  test("publishPartitioned rejects non-identifier db/table names") {
    val dir = Files.createTempDirectory("graft_badname").toString
    Seq("bad;db" -> "t", "bad`db" -> "t", "db" -> "t;DROP TABLE x", "db" -> "").foreach {
      case (db, table) =>
        intercept[IllegalArgumentException] {
          Publish.publishPartitioned(spark, flat, s"$dir/w", db, table)
        }
    }
  }

  test("K1 raw JSON sink round-trips") {
    val dir = Files.createTempDirectory("graft_rawjson").toString
    Publish.rawJson(flat.select("city", "date", "temp_c"), s"$dir/raw")
    val back = spark.read.json(s"$dir/raw")
    assert(back.count() === 27)
    assert(key(back) === key(flat))
  }

  test("K6 serveJson returns filtered JSON records with an All bypass") {
    val latest = Weather.latestPerCity(spark, flat)
    val one = Publish.serveJson(latest, "London")
    assert(one.startsWith("[") && one.endsWith("]"))
    assert(one.contains("\"city\":\"London\"") && one.contains("\"temp_c\":17.0"))
    assert(!one.contains("Paris"))
    val all = Publish.serveJson(latest, "All")
    assert(Seq("London", "Paris", "Tokyo").forall(all.contains))
  }

  /** The uncached answer: the filter and the JSON records of one job. */
  private def uncached(df: DataFrame, city: String): String =
    (if (city == "All") df else df.filter(col("city") === city))
      .toJSON.collect().mkString("[", ",", "]")

  /** A published predictions table: string city (one null), timestamp,
    * double (one null), partitioned by date; returns its name. */
  private def published(table: String, temps: Seq[Double],
                        dir: String = Files.createTempDirectory("graft_serve").toString): String = {
    val s = spark
    import s.implicits._
    val rows = Seq("London", "Paris", null).zip(temps).zipWithIndex.map {
      case ((c, t), i) => (c, java.sql.Timestamp.valueOf(s"2024-05-0${i + 1} 10:00:00"),
        if (i == 1) None else Some(t), "2024-05-01")
    }
    Publish.publishPartitioned(spark, rows.toDF("city", "at", "temp_c", "date"),
      s"$dir/$table", "serve_db", table)
    s"serve_db.$table"
  }

  test("serveJson answers byte-identically to the uncached filter for All, " +
      "one city and an absent city; a null city only under All") {
    val name = published("serve_same", Seq(17.5, 18.25, 3.0))
    val df = spark.table(name).filter(col("date") === "2024-05-01")
    Seq("All", "London", "Paris", "Tokyo", "London", "All").foreach { c =>
      assert(Publish.serveJson(df, c) === uncached(df, c), c)
    }
    assert(Publish.serveJson(df, "Tokyo") === "[]")
    // the null-city row (temp_c 3.0) is in the 'All' answer only
    assert(Publish.serveJson(df, "All").contains("\"temp_c\":3.0"))
    Seq("London", "Paris", "null", "").foreach(c =>
      assert(!Publish.serveJson(df, c).contains("3.0"), c))
  }

  test("serveJson sees a re-publish through the held frame and a fresh read, " +
      "a SQL INSERT into the published table and a DROP PARTITION") {
    val dir = Files.createTempDirectory("graft_serve").toString
    val name = published("serve_repub", Seq(10.0, 11.0, 12.0), dir)
    val held = spark.table(name).filter(col("date") === "2024-05-01")
    assert(Publish.serveJson(held, "London").contains("\"temp_c\":10.0"))
    published("serve_repub", Seq(20.0, 21.0, 22.0), dir)
    assert(Publish.serveJson(held, "London").contains("\"temp_c\":20.0"))
    val fresh = spark.table(name).filter(col("date") === "2024-05-01")
    assert(Publish.serveJson(fresh, "London") === uncached(fresh, "London"))
    assert(Publish.serveJson(fresh, "London").contains("\"temp_c\":20.0"))
    spark.sql(s"INSERT INTO $name VALUES ('Oslo', TIMESTAMP'2024-05-01 11:00:00', " +
      "5.5, '2024-05-01')")
    assert(Publish.serveJson(fresh, "Oslo").contains("\"temp_c\":5.5"))
    val after = spark.table(name).filter(col("date") === "2024-05-01")
    assert(Publish.serveJson(after, "Oslo").contains("\"temp_c\":5.5"))
    Seq(held, fresh, after).foreach(df =>
      assert(Publish.serveJson(df, "All") === uncached(df, "All")))
    // the table is external: dropping a partition keeps its files, and
    // only the catalog says the frame no longer reads them
    spark.sql(s"ALTER TABLE $name DROP PARTITION (date = '2024-05-01')")
    assert(Publish.serveJson(after, "All") === "[]")
  }

  test("serveJson sees a write made outside Spark once REFRESH TABLE runs, " +
      "through the held frame") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_serve").toString
    val name = published("serve_refresh", Seq(1.0, 2.0, 3.0), dir)
    val held = spark.table(name).filter(col("date") === "2024-05-01")
    assert(!Publish.serveJson(held, "All").contains("Oslo"))
    // a parquet file moved into the partition directory: Spark's listing
    // of the table does not know it until REFRESH TABLE
    val staged = s"$dir/staged"
    Seq(("Oslo", java.sql.Timestamp.valueOf("2024-05-01 11:00:00"), Option(7.5)))
      .toDF("city", "at", "temp_c").coalesce(1).write.parquet(staged)
    val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/serve_refresh/date=2024-05-01",
      "part-outside.parquet"))
    Publish.serveJson(held, "All")
    spark.sql(s"REFRESH TABLE $name")
    assert(Publish.serveJson(held, "Oslo").contains("\"temp_c\":7.5"))
    assert(Publish.serveJson(held, "All") === uncached(held, "All"))
  }

  test("serveJson keeps one answer per table: a frame lists only the " +
      "partition it reads, and another partition's answer replaces it") {
    val name = published("serve_days", Seq(1.0, 2.0, 3.0))
    def insertDay2(t: Double): Unit = spark.sql(s"INSERT INTO $name VALUES " +
      s"('Paris', TIMESTAMP'2024-05-02 10:00:00', $t, '2024-05-02')")
    insertDay2(4.0)
    val day1 = spark.table(name).filter(col("date") === "2024-05-01")
    val day2 = spark.table(name).filter(col("date") === "2024-05-02")
    def jobs(df: DataFrame): Int = SparkTestSession.jobsIn(Publish.serveJson(df, "All"))._2
    assert(jobs(day1) === 1)
    // a write to another partition leaves day 1's listing, and its answer, as they were
    insertDay2(5.0)
    assert(jobs(day1) === 0, "a write to date=2024-05-02 rebuilt the 2024-05-01 answer")
    assert(jobs(day2) === 1)
    assert(Publish.serveJson(day2, "All") === uncached(day2, "All"))
    assert(Publish.serveJson(day2, "Paris").contains("\"temp_c\":5.0"))
    // day 2's answer replaced day 1's: the table holds one
    assert(jobs(day1) === 1, "day 1's answer outlived a newer listing of its table")
    assert(Publish.serveJson(day1, "All") === uncached(day1, "All"))
    // one table read twice, a day each: a write to either day is seen
    val t = spark.table(name)
    val both = t.filter(col("date") === "2024-05-01").union(t.filter(col("date") === "2024-05-02"))
    assert(Publish.serveJson(both, "All") === uncached(both, "All"))
    insertDay2(6.0)
    assert(Publish.serveJson(both, "Paris").contains("\"temp_c\":6.0"),
      "a union's second read of the table was keyed on the first read's partition")
    assert(Publish.serveJson(both, "All") === uncached(both, "All"))
  }

  test("serveJson sees an overwrite of a path-based source; a frame listed " +
      "before an append keeps its own listing") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_serve_path").toString
    Seq(("London", 1.0)).toDF("city", "temp_c").write.parquet(dir + "/p")
    val held = spark.read.parquet(dir + "/p")
    assert(Publish.serveJson(held, "London") === "[{\"city\":\"London\",\"temp_c\":1.0}]")
    Seq(("London", 2.0)).toDF("city", "temp_c").write.mode("overwrite").parquet(dir + "/p")
    assert(Publish.serveJson(spark.read.parquet(dir + "/p"), "London") ===
      "[{\"city\":\"London\",\"temp_c\":2.0}]")
    val listed = spark.read.parquet(dir + "/p")
    Seq(("London", 3.0)).toDF("city", "temp_c").write.mode("append").parquet(dir + "/p")
    // the frame listed before the append reads one file, as uncached
    assert(Publish.serveJson(listed, "All") === uncached(listed, "All"))
    val after = spark.read.parquet(dir + "/p")
    assert(Publish.serveJson(after, "London") === uncached(after, "London"))
    assert(Publish.serveJson(after, "London").contains("3.0"))
  }

  test("serveJson serves a frame with a non-file leaf, a random source or " +
      "a clock read uncached and correct") {
    val s = spark
    import s.implicits._
    val local = Seq(("London", 1.0), ("Paris", 2.0)).toDF("city", "temp_c")
    Seq("All", "London", "Nowhere").foreach { c =>
      assert(Publish.serveJson(local, c) === uncached(local, c), c)
    }
    // files joined with a local relation: uncached, one job per request
    val name = published("serve_mixed", Seq(1.0, 2.0, 3.0))
    val mixed = spark.table(name).select("city", "temp_c")
      .join(Seq(("London", "UK")).toDF("city", "country"), "city")
    Seq("London", "London").foreach { c =>
      val (body, jobs) = SparkTestSession.jobsIn(Publish.serveJson(mixed, c))
      assert(body === uncached(mixed, c))
      assert(jobs >= 1, "a frame with a local leaf must not be served from a copy")
    }
    Seq(rand(), current_timestamp()).foreach { e =>
      val volatile = spark.table(name).withColumn("x", e)
      val (_, jobs) = SparkTestSession.jobsIn(
        Seq("London", "London").map(Publish.serveJson(volatile, _)))
      assert(jobs === 2, s"$e: a volatile frame must run on every request")
    }
  }

  test("serve law: after a publish the first request launches 1 job, the next 5 none") {
    val name = published("serve_law", Seq(1.0, 2.0, 3.0))
    val df = spark.table(name).filter(col("date") === "2024-05-01")
    val (_, first) = SparkTestSession.jobsIn(Publish.serveJson(df, "London"))
    assert(first === 1, s"first request launched $first job(s)")
    Seq("All", "Paris", "London", "Tokyo", "All").foreach { c =>
      val (_, jobs) = SparkTestSession.jobsIn(Publish.serveJson(df, c))
      assert(jobs === 0, s"request for $c launched $jobs job(s)")
    }
  }
}
