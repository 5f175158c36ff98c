package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

class OperatorsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val profiles = Seq(
    // dataset A: 3 obs over 2 days with a time tie on the first instant
    ("A", ts("2021-06-01 03:00:00"), 39.10, -73.50, 1L),
    ("A", ts("2021-06-01 03:00:00"), 39.20, -73.40, 2L),
    ("A", ts("2021-06-03 01:00:00"), 39.30, -73.30, 3L),
    // dataset B: spans a year boundary with a gap
    ("B", ts("2021-12-30 12:00:00"), 10.0, 20.0, 4L),
    ("B", ts("2022-01-02 12:00:00"), 11.0, 21.0, 5L)
  ).toDF("dataset_id", "time", "latitude", "longitude", "profile_id")

  test("A1 dailyStats: size-semantics count, mean position") {
    val d = Profiles.dailyStats(profiles, "dataset_id", "time", "latitude", "longitude")
      .where($"dataset_id" === "A").orderBy("date").collect()
    assert(d.length == 2)
    assert(d(0).getAs[Long]("num_profiles") == 2)
    assert(math.abs(d(0).getAs[Double]("latitude") - 39.15) < 1e-9)
  }

  test("A2-A4/A15 summaries: first-row tiebreak, coverage, ceil days") {
    val s = Profiles.summaries(profiles, "dataset_id", "time", "latitude",
      "longitude", "profile_id").orderBy("dataset_id").collect()
    val a = s(0)
    // time tie at 03:00 broken by profile_id → first obs is profile 1
    assert(a.getAs[Double]("deployment_lat") == 39.10)
    assert(a.getAs[Long]("num_profiles") == 3)
    // Δt = 2021-06-01 03:00 → 06-03 01:00 = 1.916 days → ceil 2
    assert(a.getAs[Long]("days") == 2)
    val b = s(1)
    assert(b.getAs[Long]("days") == 3)
  }

  test("A14 deploymentDays: dense range includes gap days, crosses year") {
    val d = Profiles.deploymentDays(profiles, "dataset_id", "time")
      .where($"dataset_id" === "B").orderBy("day").collect()
    assert(d.map(_.getAs[java.sql.Date]("day").toString).toSeq ==
      Seq("2021-12-30", "2021-12-31", "2022-01-01", "2022-01-02"))
  }

  test("A10 ymd calendar: all 31 day columns, null empty cells, sums match raw") {
    val daily = Profiles.dailyStats(profiles, "dataset_id", "time",
      "latitude", "longitude")
    val cal = Calendars.ymdCalendar(daily, "date", col("num_profiles"))
    assert(cal.columns.toSeq ==
      Seq("year", "month") ++ (1 to 31).map(d => f"d$d%02d"))
    val june = cal.where($"year" === 2021 && $"month" === 6).collect()(0)
    assert(june.getAs[Long]("d01") == 2)
    assert(june.isNullAt(june.fieldIndex("d02")))
    assert(june.getAs[Long]("d03") == 1)
    // pivot total == raw row count
    val total = cal.select((1 to 31).map(d => coalesce(col(f"d$d%02d"), lit(0L)))
      .reduce(_ + _).as("t")).agg(sum("t")).collect()(0).getLong(0)
    assert(total == profiles.count())
  }

  test("A10 calendars: leap day lands in d29; ym fills all 12 months") {
    val leap = Seq(
      ("L", ts("2024-02-29 12:00:00"), 1.0),
      ("L", ts("2024-02-28 12:00:00"), 2.0),
      ("L", ts("2023-02-28 12:00:00"), 3.0) // non-leap year, same month
    ).toDF("id", "t", "v")
    val cal = Calendars.ymdCalendar(leap, "t", col("v"))
    val feb24 = cal.where($"year" === 2024 && $"month" === 2).head()
    assert(feb24.getAs[Double]("d29") == 1.0, "leap day must land in d29")
    assert(feb24.getAs[Double]("d28") == 2.0)
    val feb23 = cal.where($"year" === 2023 && $"month" === 2).head()
    assert(feb23.isNullAt(feb23.fieldIndex("d29")), "no leap day in 2023")
    val ym = Calendars.ymCalendar(leap, "t", col("v"))
    assert(ym.columns.toSeq == Seq("year") ++ (1 to 12).map(m => f"m$m%02d"),
      "ym pivot must carry all 12 month columns even for Feb-only data")
  }

  test("J2/J4 merge + orphan flag follows join direction") {
    val api = Seq(("A", "w1"), ("C", "w3")).toDF("dataset_id", "wmo_id")
    val catalog = Seq(("A", "urlA"), ("B", "urlB")).toDF("dataset_id", "tabledap")
    val left = Merges.withOrphanFlag(
      Merges.mergeWithApi(api, catalog, "dataset_id", mergeAll = true), "tabledap")
    assert(left.where($"orphaned").select("dataset_id").collect()
      .map(_.getString(0)).toSeq == Seq("C"))
    val right = Merges.mergeWithApi(api, catalog, "dataset_id", mergeAll = false)
    assert(right.count() == 2) // B kept, C dropped
    assert(Merges.orphans(api, catalog, "dataset_id").collect()
      .map(_.getString(0)).toSeq == Seq("C"))
  }

  test("J5 overlay: patch wins, base fills nulls") {
    val base = Seq((1, "x", 10.0), (2, "y", 20.0)).toDF("k", "name", "v")
    val patch = Seq((1, Some(99.0)), (2, None)).toDF("k", "v")
    val out = Merges.overlay(base, patch, "k", Seq("v")).orderBy("k").collect()
    assert(out(0).getAs[Double]("v") == 99.0)
    assert(out(1).getAs[Double]("v") == 20.0)
  }

  test("J7 delayed twin flag") {
    val cat = Seq("ru29-20210630T1343", "ru29-20210630T1343-delayed", "sp10-20220101T0000")
      .toDF("dataset_id")
    val flagged = Merges.delayedTwinFlag(cat, "dataset_id")
    val m = flagged.collect().map(r => r.getString(0) -> r.getAs[Boolean]("has_delayed_twin")).toMap
    assert(m("ru29-20210630T1343"))
    assert(!m("sp10-20220101T0000"))
  }

  test("P9 status filters: six predicates partition the space correctly") {
    val df = Seq(
      (1L, false, false, false), (2L, false, true, false),
      (3L, true, false, false), (4L, true, true, false),
      (5L, false, false, true), (6L, true, true, true)
    ).toDF("id", "delayed_mode", "completed", "orphaned")
    assert(StatusFilters.realTime(df).collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(StatusFilters.realTime(df, includeOrphaned = true)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 5L))
    assert(StatusFilters.realTimeActive(df).collect().map(_.getLong(0)).toSet == Set(1L))
    assert(StatusFilters.realTimeActive(df, includeOrphaned = true)
      .collect().map(_.getLong(0)).toSet == Set(1L, 5L))
    assert(StatusFilters.realTimeInactive(df).collect().map(_.getLong(0)).toSet == Set(2L))
    assert(StatusFilters.delayedModeActive(df).collect().map(_.getLong(0)).toSet == Set(3L))
    assert(StatusFilters.delayedModeInactive(df).collect().map(_.getLong(0)).toSet == Set(4L))
    assert(StatusFilters.delayedMode(df, includeOrphaned = true).count() == 3)
    // null flags treated as false
    val withNull = Seq((7L, null.asInstanceOf[java.lang.Boolean], java.lang.Boolean.FALSE,
      java.lang.Boolean.FALSE)).toDF("id", "delayed_mode", "completed", "orphaned")
    assert(StatusFilters.realTimeActive(withNull).count() == 1)
  }
}
