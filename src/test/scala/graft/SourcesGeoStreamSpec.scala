package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.geo.GeoJson
import graft.operators.Multimodal
import graft.sources.ErddapCsv
import graft.streaming.DailyRollup

class SourcesGeoStreamSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("ErddapCsv: units row skipped, NA tokens null, names normalized") {
    val dir = Files.createTempDirectory("erddap").toFile
    val f = new java.io.File(dir, "profiles.csv")
    Files.writeString(f.toPath,
      """time,latitude,longitude,Profile ID
        |UTC,degrees_north,degrees_east,1
        |2021-06-01T03:12:00Z,39.102,-73.514,1
        |2021-06-01T07:44:00Z,39.141,-73.488,2
        |2021-06-02T01:02:00Z,none,None,3
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("time", TimestampType), StructField("latitude", DoubleType),
      StructField("longitude", DoubleType), StructField("profile_id", LongType)))
    val df = ErddapCsv.read(spark, f.getAbsolutePath, schema)
    assert(df.count() == 3) // units row gone
    assert(df.columns.toSeq == Seq("time", "latitude", "longitude", "profile_id"))
    val r3 = df.where($"profile_id" === 3).collect()(0)
    assert(r3.isNullAt(1) && r3.isNullAt(2)) // none/None → null
  }

  test("ErddapCsv: data row with only a bad time cell is coerced, not dropped") {
    val dir = Files.createTempDirectory("erddap2").toFile
    val f = new java.io.File(dir, "profiles.csv")
    Files.writeString(f.toPath,
      """time,latitude,longitude,Profile ID
        |UTC,degrees_north,degrees_east,1
        |2021-06-01T03:12:00Z,39.102,-73.514,1
        |not-a-time,39.141,-73.488,2
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("time", TimestampType), StructField("latitude", DoubleType),
      StructField("longitude", DoubleType), StructField("profile_id", LongType)))
    val df = ErddapCsv.read(spark, f.getAbsolutePath, schema)
    assert(df.count() == 2) // units row dropped, bad-time row KEPT
    val bad = df.where($"profile_id" === 2).collect()(0)
    assert(bad.isNullAt(0)) // errors='coerce' → null time
  }

  test("ErddapCsv.withDatasetIdFromFilename: dataset id from each file name (S10)") {
    val dir = Files.createTempDirectory("erddap_dac").toFile
    Seq("ru29-20210630T1343_obs.csv", "sp10-20220101T0000_gts_obs.csv")
      .zipWithIndex.foreach { case (name, i) =>
        Files.writeString(new java.io.File(dir, name).toPath,
          s"time,latitude,Profile ID\nUTC,degrees_north,1\n2021-06-01T03:12:00Z,39.1,$i\n")
      }
    val schema = StructType(Seq(StructField("time", TimestampType),
      StructField("latitude", DoubleType), StructField("profile_id", LongType)))
    val df = ErddapCsv.withDatasetIdFromFilename(
      ErddapCsv.read(spark, dir.getAbsolutePath, schema))
    assert(df.select("profile_id", "dataset_id").as[(Long, String)].collect().toMap ==
      Map(0L -> "ru29-20210630T1343", 1L -> "sp10-20220101T0000"))
  }

  test("ErddapCsv.cleanCatalog drops allDatasets and delayed twins") {
    val cat = Seq("allDatasets", "ru29-20210630T1343", "ru29-20210630T1343-delayed")
      .toDF("dataset_id")
    assert(ErddapCsv.cleanCatalog(cat).collect().map(_.getString(0)).toSeq ==
      Seq("ru29-20210630T1343"))
    assert(ErddapCsv.cleanCatalog(cat, includeDelayed = true).count() == 2)
  }

  test("GeoJson track: ordered coords, bbox widened, parseable JSON") {
    val df = Seq(
      ("A", java.sql.Timestamp.valueOf("2021-06-01 07:00:00"), 39.1417, -73.4889),
      ("A", java.sql.Timestamp.valueOf("2021-06-01 03:00:00"), 39.1025, -73.5141)
    ).toDF("dataset_id", "time", "latitude", "longitude")
    val out = GeoJson.trackFeatureCollections(df, "dataset_id", "time",
      "latitude", "longitude").collect()(0)
    val json = out.getAs[String]("geojson")
    val parsed = spark.read.json(Seq(json).toDS())
    assert(parsed.select("type").collect()(0).getString(0) == "FeatureCollection")
    // earliest obs first in the LineString despite input order
    val coords = parsed.selectExpr("track.geometry.coordinates").collect()(0)
      .getSeq[scala.collection.Seq[Double]](0)
    assert(coords.head.toSeq == Seq(-73.514, 39.102)) // 3dp HALF_DOWN (39.1025 → .102)
    // bbox: mins HALF_DOWN, maxes HALF_UP — tie-break modes only, so both
    // round to NEAREST here (reference parity, not directional widening)
    val bbox = parsed.select("bbox").collect()(0).getSeq[Double](0)
    assert(bbox.toSeq == Seq(-73.514, 39.102, -73.489, 39.142))
  }

  test("streaming dailyStats == batch groupBy, with watermark + late data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val sdf = mem.toDF().toDF("ts", "event_type", "value")
    val agg = DailyRollup.dailyStats(sdf, "ts", "event_type", "value",
      watermark = "2 days")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("daily_out").start()
    try {
      mem.addData(
        (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "click", 1.0),
        (java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), "click", 2.0),
        (java.sql.Timestamp.valueOf("2024-01-02 00:30:00"), "view", 5.0))
      q.processAllAvailable()
      // late-but-within-watermark event updates day 1
      mem.addData((java.sql.Timestamp.valueOf("2024-01-01 23:00:00"), "click", 4.0))
      q.processAllAvailable()
      val got = spark.table("daily_out")
        .orderBy("event_type", "date").collect()
      assert(got.length == 2)
      assert(got(0).getAs[Long]("n") == 3)            // click day1: 3 events
      assert(got(0).getAs[Double]("total") == 7.0)
    } finally q.stop()
  }

  test("multimodal: synthetic media, stub features, frame sampling") {
    val docs = Seq((1L, "hello world this is a binary payload for testing"))
      .toDF("doc_id", "text")
    val media = Multimodal.syntheticMedia(docs, "doc_id", "text")
    assert(media.schema("media").dataType == BinaryType)
    val feats = Multimodal.extractFeatures(media, dim = 8).collect()(0)
    val f = feats.getSeq[Float](feats.fieldIndex("features"))
    assert(f.length == 8 && math.abs(f.sum - 1.0f) < 1e-3) // histogram normalized
    val frames = Multimodal.frameSample(media, frameBytes = 10, everyN = 2)
    assert(frames.count() == 3) // 48 bytes / 20 stride → 3 frames
    val meta = Multimodal.withResizedMeta(media, 320, 240).select("meta.width")
      .collect()(0).getInt(0)
    assert(meta == 320)
  }
}
