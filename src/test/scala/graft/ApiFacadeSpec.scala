package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GliderAnalytics
import graft.io.Sinks
import graft.sources.ApiJson

class ApiFacadeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private lazy val profiles = Seq(
    ("ru29-20210630T1343", ts("2021-06-30 14:00:00"), 39.1, -73.5, 1L),
    ("ru29-20210630T1343", ts("2021-07-02 10:00:00"), 39.2, -73.4, 2L),
    ("ru29-20210630T1343-delayed", ts("2021-06-30 14:00:00"), 39.1, -73.5, 3L),
    ("sp10-20220101T0000", ts("2022-01-01 00:00:00"), 10.0, 20.0, 4L)
  ).toDF("dataset_id", "time", "latitude", "longitude", "profile_id")

  private lazy val ga = GliderAnalytics(profiles)

  test("searchDatasets: delayed excluded by default, glider name parsed") {
    val s = ga.searchDatasets()
    assert(s.count() == 2)
    val ru = s.where($"dataset_id" === "ru29-20210630T1343").collect()(0)
    assert(ru.getAs[String]("glider") == "ru29")
    assert(ru.getAs[Long]("num_profiles") == 2)
    assert(ga.searchDatasets(includeDelayed = true).count() == 3)
    assert(ga.searchDatasets(datasetIds = Seq("sp10-20220101T0000")).count() == 1)
  }

  test("timeSeries: projection + time bounds + sort") {
    val t = ga.timeSeries("ru29-20210630T1343", Seq("latitude"),
      minTime = Some("2021-07-01 00:00:00"))
    assert(t.columns.toSeq == Seq("time", "latitude"))
    assert(t.count() == 1)
  }

  test("calendars and roll-ups compose from the facade") {
    assert(ga.ymdCalendar.columns.length == 2 + 31)
    assert(ga.deploymentsPerYear.where($"year" === 2021)
      .collect()(0).getAs[Long]("active") == 2)
    assert(ga.gliderDaysPerDay.where($"day" === lit("2021-06-30"))
      .collect()(0).getAs[Long]("active") == 2) // ru29 + its delayed twin
    assert(ga.gliderDaysPerDay.where($"day" === lit("2021-07-01"))
      .collect()(0).getAs[Long]("active") == 1) // gap day: ru29 range only
    assert(ga.profilesPerDay.collect().map(r => r.get(0).toString -> r.getLong(1)).toMap ==
      Map("2021-06-30" -> 2L, "2021-07-02" -> 1L, "2022-01-01" -> 1L))
  }

  test("mergeWithApi: orphan flag per join direction") {
    val api = Seq("ru29-20210630T1343", "unit_999-20200101T0000")
      .toDF("dataset_id")
    val merged = ga.mergeWithApi(api)
    val orphans = merged.where($"orphaned").select("dataset_id")
      .collect().map(_.getString(0)).toSeq
    assert(orphans == Seq("unit_999-20200101T0000"))
  }

  test("tracks emit one FeatureCollection per dataset") {
    val t = ga.tracks
    assert(t.count() == 3)
    assert(t.select("geojson").collect()
      .forall(_.getString(0).contains("FeatureCollection")))
  }

  test("ApiJson.dacRegistrations: renames, bool fill, epoch-ms timestamps") {
    val dir = Files.createTempDirectory("api").toFile
    val f = new java.io.File(dir, "dac.json")
    Files.writeString(f.toPath,
      """{"name":"ru29-20210630T1343","wmo_id":"4802960","completed":null,"delayed_mode":true,"created":1625068800000,"estimated_deploy_date":"x"}
        |{"name":"sp10-20220101T0000","wmo_id":null,"completed":false,"delayed_mode":null,"created":null}
        |""".stripMargin)
    val df = ApiJson.dacRegistrations(spark, f.getAbsolutePath)
    assert(df.columns.contains("dataset_id"))
    assert(!df.columns.contains("estimated_deploy_date"))
    val ru = df.where($"dataset_id" === "ru29-20210630T1343").collect()(0)
    assert(!ru.getAs[Boolean]("completed"))           // null → false
    assert(ru.getAs[Boolean]("delayed_mode"))
    assert(ru.getAs[java.sql.Timestamp]("created").toString
      .startsWith("2021-06-30"))
  }

  test("ApiJson.status: int→bool, fillna, coerce, orphaned derivation") {
    val dir = Files.createTempDirectory("api2").toFile
    val f = new java.io.File(dir, "status.json")
    Files.writeString(f.toPath,
      """{"dataset_id":"a","completed":1,"num_profiles":null,"start_date":"2021-06-30T14:00:00","tabledap":"http://x"}
        |{"dataset_id":"b","completed":0,"num_profiles":7,"start_date":"not-a-date","tabledap":null}
        |""".stripMargin)
    val df = ApiJson.status(spark, f.getAbsolutePath)
    val a = df.where($"dataset_id" === "a").collect()(0)
    val b = df.where($"dataset_id" === "b").collect()(0)
    assert(a.getAs[Boolean]("completed") && !b.getAs[Boolean]("completed"))
    assert(a.getAs[Long]("num_profiles") == 0L)       // fillna → 0
    assert(b.isNullAt(b.fieldIndex("start_date")))    // coerce → null
    assert(!a.getAs[Boolean]("orphaned") && b.getAs[Boolean]("orphaned"))
  }

  test("Sinks: csv, json records, geojson tracks round-trip") {
    val out = Files.createTempDirectory("sinks").toFile.getAbsolutePath
    Sinks.csv(ga.searchDatasets(), s"$out/csv", single = true)
    assert(spark.read.option("header", "true").csv(s"$out/csv").count() == 2)
    Sinks.jsonRecords(ga.searchDatasets(), s"$out/json")
    assert(spark.read.json(s"$out/json").count() == 2)
    Sinks.geojsonTracks(ga.tracks, "dataset_id", "geojson", s"$out/geo")
    val lines = spark.read.text(s"$out/geo")
    assert(lines.count() == 3)
    assert(lines.collect().forall(_.getString(0).contains("\t")))
  }
}
