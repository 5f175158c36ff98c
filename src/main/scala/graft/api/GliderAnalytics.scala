package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.geo.GeoJson
import graft.operators.{Calendars, Merges, Profiles}

/** User-facing facade with the reference client's surface
  * (`GdacClient`, /root/reference/gdutils/__init__.py) re-expressed over
  * Spark. A reference user maps calls 1:1:
  *
  * | reference                            | here                         |
  * |--------------------------------------|------------------------------|
  * | `search_datasets(...)`               | `searchDatasets(...)`        |
  * | `datasets` (summaries ⋈ info)        | `datasets(info)`             |
  * | `get_dataset_time_series(...)`       | `timeSeries(...)`            |
  * | `daily_profile_positions`            | `dailyStats`                 |
  * | `profiles_per_yyyymmdd` & wide kin   | `dailyMatrix` (long form)    |
  * | `ymd_/ym_/md_*_calendar`             | `ymdCalendar` / `ymCalendar` / `mdCalendar` |
  * | `glider_days_per_yyyymmdd`           | `gliderDaysPerDay`           |
  * | `deployments_per_year`, `yearly_counts` | `deploymentsPerYear`, `yearlyCounts` |
  * | `merge_with_api(...)`                | `mergeWithApi(...)`          |
  * | GeoJSON `*_track.json`               | `tracks`                     |
  * | DAC KML render (recent_datasets_to_kml) | `tracksKml(path, ...)`    |
  * | `GdacPlotter.build_image_request`    | `graphUrl(...)`              |
  *
  * KEY ARCHITECTURAL DIFFERENCE (§3.1): the reference loops datasets
  * serially, two HTTP calls each; here `profiles` is ONE long-form table
  * for all datasets, every derived product is one data-parallel job, and
  * wide "matrices" stay long until the presentation edge. State is a plan,
  * not materialized frames — call `.cache()` on hot intermediates
  * explicitly.
  *
  * @param profiles long-form observation table
  * @param idCol dataset key, @param timeCol observation timestamp
  */
final case class GliderAnalytics(
    profiles: DataFrame,
    idCol: String = "dataset_id",
    timeCol: String = "time",
    latCol: String = "latitude",
    lonCol: String = "longitude",
    tiebreakCol: String = "profile_id") {

  /** §3.1 stage-3/4 in one shot: per-dataset summary rows (coverage,
    * bbox, deployment position, counts, days). */
  def searchDatasets(datasetIds: Seq[String] = Nil,
                     includeDelayed: Boolean = false): DataFrame = {
    val base0 =
      if (datasetIds.nonEmpty) profiles.where(col(idCol).isin(datasetIds: _*))
      else profiles
    val base =
      if (includeDelayed) base0
      else base0.where(!col(idCol).endsWith("delayed"))
    Profiles.summaries(base, idCol, timeCol, latCol, lonCol, tiebreakCol)
      .withColumn("glider",
        regexp_extract(col(idCol), "^(.*)-\\d{8}T\\d{4}", 1))
  }

  /** summaries ⟕ info (the `datasets` property; info is broadcast). */
  def datasets(info: DataFrame): DataFrame =
    Merges.joinInfo(searchDatasets(), info, idCol)

  /** S4/P14: projected + time-bounded observation slice, sorted. */
  def timeSeries(datasetId: String, variables: Seq[String],
                 minTime: Option[String] = None,
                 maxTime: Option[String] = None): DataFrame = {
    val vars = (Seq(timeCol) ++ variables).distinct
    var df = profiles.where(col(idCol) === datasetId)
    minTime.foreach(t => df = df.where(col(timeCol) >= lit(t)))
    maxTime.foreach(t => df = df.where(col(timeCol) <= lit(t)))
    df.select(vars.map(col): _*).orderBy(timeCol)
  }

  /** A1: per-(dataset, day) mean position + profile count. */
  def dailyStats: DataFrame =
    Profiles.dailyStats(profiles, idCol, timeCol, latCol, lonCol)

  /** Long-form replacement for the reference's wide date × dataset
    * matrices (J6 alignment is implicit). */
  def dailyMatrix: DataFrame =
    dailyStats.select(col(idCol), col("date"), col("num_profiles"))

  /** A14: dense per-dataset deployment-day ranges (gaps included). */
  def gliderDays: DataFrame = Profiles.deploymentDays(profiles, idCol, timeCol)

  /** A7 over glider-days: active datasets per calendar day. */
  def gliderDaysPerDay: DataFrame =
    gliderDays.groupBy("day").agg(countDistinct(col(idCol)).as("active"))

  /** A7 over the daily matrix: profiles across all datasets per day. */
  def profilesPerDay: DataFrame =
    dailyMatrix.groupBy("date").agg(sum("num_profiles").as("total"))

  /** A10 calendars over daily profile counts. */
  def ymdCalendar: DataFrame =
    Calendars.ymdCalendar(dailyMatrix, "date", col("num_profiles"))
  def ymCalendar: DataFrame =
    Calendars.ymCalendar(dailyMatrix, "date", col("num_profiles"))
  def mdCalendar: DataFrame =
    Calendars.mdCalendar(dailyMatrix, "date", col("num_profiles"))

  /** A9/A12. */
  def deploymentsPerYear: DataFrame =
    Calendars.activePerYear(profiles, timeCol, idCol)
  def yearlyCounts: DataFrame =
    Calendars.yearlyCounts(profiles, timeCol, idCol, lit(1L))

  /** J2–J4: enrich API registrations with the summary table; orphan flag
    * depends on join direction exactly like the reference. */
  def mergeWithApi(api: DataFrame, mergeAll: Boolean = true,
                   probeCol: String = "num_profiles"): DataFrame =
    Merges.withOrphanFlag(
      Merges.mergeWithApi(api, searchDatasets(), idCol, mergeAll), probeCol)

  /** S14/W2/F15: GeoJSON FeatureCollection per dataset. */
  def tracks: DataFrame =
    GeoJson.trackFeatureCollections(profiles, idCol, timeCol, latCol, lonCol)

  /** S15: the DAC weekly-KML workflow
    * (reference scripts/dac/recent_datasets_to_kml.py) — GeoJSON tracks
    * rendered into one KML document. */
  def tracksKml(path: String, docName: String = "glider tracks",
                statusUrlTemplate: String = ""): Unit =
    graft.io.Sinks.kml(tracks, idCol, "geojson", path, docName,
      statusUrlTemplate)

  /** S17: tabledap graph-image URL for a dataset
    * (reference GdacPlotter.build_image_request). */
  def graphUrl(server: String, datasetId: String, x: String, y: String,
               c: Option[String] = None, constraints: Seq[String] = Nil,
               plotParams: Seq[(String, String)] = graft.io.ErddapUrl.defaultPlotParams,
               response: String = "png"): String =
    graft.io.ErddapUrl.graphUrl(server, datasetId, x, y, c, constraints,
      plotParams, response)
}
