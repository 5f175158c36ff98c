package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.RoundHalfDown
import graft.operators.{Calendars, Merges, Profiles, StatusFilters}
import graft.sources.Tables

/** Driver contract — one `queries` entry (+ DuckDB `oracleSql` where SQL
  * can express it) per implemented operator from SURVEY.md §2.
  *
  * Conventions shared by every query/oracle pair (the driver hash-compares
  * values after sorting columns by name):
  *  - identical output column names on both sides;
  *  - deterministic row order: every query ends in ORDER BY over a unique
  *    key prefix (ties broken by explicit columns);
  *  - aggregate outputs type-aligned (counts → BIGINT, year/month → BIGINT);
  *  - sums/averages over non-integral doubles use `Parity.moneySum` (exact
  *    DECIMAL addition, order-independent) — rounding the output alone is
  *    NOT enough: a shuffle-order double sum can land a hair's width
  *    across a rounding boundary (observed at sf0.1), while integral-
  *    valued doubles (quantities) sum exactly under any order;
  *  - timestamps emitted as formatted strings or DATE casts.
  */
object SparkEntry {

  private val TsFmtSpark = "yyyy-MM-dd HH:mm:ss"
  private val TsFmtDuck = "%Y-%m-%d %H:%M:%S"

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the §3.1
    * search_datasets spine — per-dataset summaries joined with catalog
    * info, one shuffle + one broadcast join. */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d)
    val summaries = Profiles.summaries(li, "l_returnflag", "l_shipdate",
      "l_extendedprice", "l_discount", "l_orderkey")
    val info = li.groupBy("l_returnflag").agg(countDistinct("l_partkey").as("n_parts"))
    Merges.joinInfo(summaries, info, "l_returnflag")
  }

  // ---- query helpers -----------------------------------------------------

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)

  /** Queries whose SQL text is valid in BOTH Spark SQL and DuckDB run the
    * identical string through spark.sql over registered temp views. */
  private def shared(sql: String): ((SparkSession, String) => DataFrame, String) =
    ((s: SparkSession, d: String) => { Tables.registerAll(s, d); s.sql(sql) }, sql)

  // ---- A: aggregations ---------------------------------------------------

  // order-independent 2-dp-exact sums (see operators.Parity scaladoc)
  private def moneySum(c: Column) = graft.operators.Parity.moneySum(c)
  private def moneySumSql(x: String) = graft.operators.Parity.moneySumSql(x)

  private def qA1dailyStats(s: SparkSession, d: String): DataFrame =
    Profiles.daily(li(s, d), col("l_returnflag"), col("l_shipdate"),
        count(lit(1)).as("num_rows"),
        sum("l_quantity").as("sum_qty"),
        round(moneySum(col("l_extendedprice")) / count(lit(1)), 6).as("avg_price"))
      .orderBy("l_returnflag", "date")

  private val oA1 =
    s"""SELECT l_returnflag, CAST(l_shipdate AS DATE) AS date,
       |  CAST(count(*) AS BIGINT) AS num_rows, sum(l_quantity) AS sum_qty,
       |  round(${moneySumSql("l_extendedprice")} / count(*), 6) AS avg_price
       |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private def qSummaries(s: SparkSession, d: String): DataFrame =
    Profiles.summaries(li(s, d), "l_returnflag", "l_shipdate",
        "l_extendedprice", "l_discount", "l_orderkey")
      .withColumn("start_date", date_format(col("start_date"), TsFmtSpark))
      .withColumn("end_date", date_format(col("end_date"), TsFmtSpark))
      .orderBy("l_returnflag")

  private val oSummaries =
    s"""WITH f AS (
       |  SELECT l_returnflag, l_extendedprice, l_discount,
       |         row_number() OVER (PARTITION BY l_returnflag
       |           ORDER BY l_shipdate, l_orderkey, l_extendedprice, l_discount) AS rn
       |  FROM lineitem),
       |s AS (
       |  SELECT l_returnflag,
       |         strftime(min(l_shipdate), '$TsFmtDuck') AS start_date,
       |         strftime(max(l_shipdate), '$TsFmtDuck') AS end_date,
       |         min(l_extendedprice) AS lat_min, max(l_extendedprice) AS lat_max,
       |         min(l_discount) AS lon_min, max(l_discount) AS lon_max,
       |         CAST(count(*) AS BIGINT) AS num_profiles,
       |         CAST(ceil((epoch(max(l_shipdate)) - epoch(min(l_shipdate))) / 86400.0) AS BIGINT) AS days
       |  FROM lineitem GROUP BY 1)
       |SELECT s.l_returnflag, s.start_date, s.end_date, s.lat_min, s.lat_max,
       |       s.lon_min, s.lon_max, s.num_profiles,
       |       f.l_extendedprice AS deployment_lat, f.l_discount AS deployment_lon, s.days
       |FROM s JOIN f ON s.l_returnflag = f.l_returnflag AND f.rn = 1
       |ORDER BY s.l_returnflag""".stripMargin

  private def qA4firstRow(s: SparkSession, d: String): DataFrame =
    ord(s, d).groupBy("o_custkey")
      .agg(min(struct(col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))).as("f"))
      .select(col("o_custkey"),
        date_format(col("f.o_orderdate"), "yyyy-MM-dd").as("first_date"),
        col("f.o_totalprice").as("first_price"))
      .orderBy("o_custkey")

  private val oA4 =
    """WITH f AS (SELECT o_custkey, o_orderdate, o_totalprice,
      |  row_number() OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey) AS rn FROM orders)
      |SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS first_date,
      |       o_totalprice AS first_price
      |FROM f WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  private val (qA5distinct, oA5) = shared(
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2")

  private def qA7daily(s: SparkSession, d: String): DataFrame =
    Calendars.dailyTotals(li(s, d), "l_shipdate", col("l_quantity")).orderBy("date")
  private val oA7 =
    """SELECT CAST(l_shipdate AS DATE) AS date, sum(l_quantity) AS total
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  private def qA8yearly(s: SparkSession, d: String): DataFrame =
    Calendars.yearlyTotals(li(s, d), "l_shipdate", col("l_quantity")).orderBy("year")
  private val oA8 =
    """SELECT CAST(year(l_shipdate) AS BIGINT) AS year, sum(l_quantity) AS total
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  private def qA9active(s: SparkSession, d: String): DataFrame =
    Calendars.activePerYear(ord(s, d), "o_orderdate", "o_custkey").orderBy("year")
  private val oA9 =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS active
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  private def qA10ymd(s: SparkSession, d: String): DataFrame =
    Calendars.ymdCalendar(li(s, d), "l_shipdate", col("l_quantity"))
      .orderBy("year", "month")
  private val oA10ymd = {
    val cells = (1 to 31).map(dd =>
      f"sum(CASE WHEN day(l_shipdate) = $dd THEN l_quantity END) AS d$dd%02d")
      .mkString(",\n  ")
    s"""SELECT CAST(year(l_shipdate) AS BIGINT) AS year,
       |  CAST(month(l_shipdate) AS BIGINT) AS month,
       |  $cells
       |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  private def qA10ym(s: SparkSession, d: String): DataFrame =
    Calendars.ymCalendar(li(s, d), "l_shipdate", lit(1L)).orderBy("year")
  private val oA10ym = {
    val cells = (1 to 12).map(m =>
      f"CAST(sum(CASE WHEN month(l_shipdate) = $m THEN 1 END) AS BIGINT) AS m$m%02d")
      .mkString(",\n  ")
    s"""SELECT CAST(year(l_shipdate) AS BIGINT) AS year,
       |  $cells
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def qA10md(s: SparkSession, d: String): DataFrame =
    Calendars.mdCalendar(li(s, d), "l_shipdate", col("l_quantity")).orderBy("month")
  private val oA10md = {
    val cells = (1 to 31).map(dd =>
      f"sum(CASE WHEN day(l_shipdate) = $dd THEN l_quantity END) AS d$dd%02d")
      .mkString(",\n  ")
    s"""SELECT CAST(month(l_shipdate) AS BIGINT) AS month,
       |  $cells
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private def qA12yearlyCounts(s: SparkSession, d: String): DataFrame =
    Calendars.yearlyCounts(ord(s, d), "o_orderdate", "o_custkey",
        col("o_totalprice").cast("decimal(20,2)")) // exact, order-independent
      .withColumnRenamed("rows", "n_rows")
      .withColumn("total", round(col("total").cast("double"), 2))
      .orderBy("year")
  private val oA12 =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
      |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS deployments,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  round(${moneySumSql("o_totalprice")}, 2) AS total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  private def qA13windowTotal(s: SparkSession, d: String): DataFrame =
    Calendars.windowTotal(li(s, d), "l_shipdate", col("l_quantity"),
      "1996-01-01", "1996-12-31")
  private val oA13 =
    """SELECT sum(l_quantity) AS total FROM lineitem
      |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
      |  AND TIMESTAMP '1996-12-31 00:00:00'""".stripMargin

  private def qA14deploymentDays(s: SparkSession, d: String): DataFrame =
    Profiles.deploymentDays(li(s, d), "l_returnflag", "l_shipdate")
      .orderBy("l_returnflag", "day")
  private val oA14 =
    """WITH b AS (SELECT l_returnflag, CAST(min(l_shipdate) AS DATE) AS d0,
      |  CAST(max(l_shipdate) AS DATE) AS d1 FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |FROM b ORDER BY 1, 2""".stripMargin

  // ---- J: joins ----------------------------------------------------------

  private def qJ1enrich(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).withColumnRenamed("c_custkey", "o_custkey")
    val n = Tables.nation(s, d).withColumnRenamed("n_nationkey", "c_nationkey")
    Merges.joinInfo(Merges.joinInfo(ord(s, d), c, "o_custkey"), n, "c_nationkey")
      .select("o_orderkey", "c_name", "n_name", "o_totalprice")
      .orderBy("o_orderkey")
  }
  private val oJ1 =
    """SELECT o_orderkey, c_name, n_name, o_totalprice
      |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |LEFT JOIN nation ON c_nationkey = n_nationkey
      |ORDER BY o_orderkey""".stripMargin

  private def custOrders(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val api = Tables.customer(s, d).withColumnRenamed("c_custkey", "custkey")
    val erddap = ord(s, d).groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(moneySum(col("o_totalprice")), 2).as("sum_price"))
    (api, erddap)
  }

  private def qJ2mergeLeft(s: SparkSession, d: String): DataFrame = {
    val (api, erddap) = custOrders(s, d)
    Merges.withOrphanFlag(Merges.mergeWithApi(api, erddap, "custkey", mergeAll = true),
        "n_orders")
      .select("custkey", "c_name", "n_orders", "sum_price", "orphaned")
      .orderBy("custkey")
  }
  private val oJ2 =
    s"""SELECT c_custkey AS custkey, c_name, o.n_orders, o.sum_price,
      |  (o.n_orders IS NULL) AS orphaned
      |FROM customer LEFT JOIN (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |         round(${moneySumSql("o_totalprice")}, 2) AS sum_price
      |  FROM orders GROUP BY 1) o ON c_custkey = o_custkey
      |ORDER BY custkey""".stripMargin

  private def qJ3mergeRight(s: SparkSession, d: String): DataFrame = {
    val (api, erddap) = custOrders(s, d)
    Merges.mergeWithApi(api, erddap, "custkey", mergeAll = false)
      .select("custkey", "c_name", "n_orders", "sum_price")
      .orderBy("custkey")
  }
  private val oJ3 =
    s"""SELECT o.o_custkey AS custkey, c_name, o.n_orders, o.sum_price
      |FROM customer RIGHT JOIN (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
      |         round(${moneySumSql("o_totalprice")}, 2) AS sum_price
      |  FROM orders GROUP BY 1) o ON c_custkey = o_custkey
      |ORDER BY custkey""".stripMargin

  private def qJ4orphans(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d).select(col("o_custkey").as("c_custkey"))
    Merges.orphans(Tables.customer(s, d), o, "c_custkey")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }
  private val oJ4 =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  private def qJ5overlay(s: SparkSession, d: String): DataFrame = {
    val patch = li(s, d).groupBy(col("l_partkey").as("p_partkey"))
      .agg(round(max("l_extendedprice"), 2).as("p_retailprice"))
    Merges.overlay(Tables.part(s, d), patch, "p_partkey", Seq("p_retailprice"))
      .select("p_partkey", "p_name", "p_retailprice")
      .orderBy("p_partkey")
  }
  private val oJ5 =
    """SELECT p_partkey, p_name,
      |  coalesce(mx, p_retailprice) AS p_retailprice
      |FROM part JOIN (SELECT l_partkey, round(max(l_extendedprice), 2) AS mx
      |  FROM lineitem GROUP BY 1) AS mt ON p_partkey = l_partkey
      |ORDER BY p_partkey""".stripMargin

  private def qJ6pivotWide(s: SparkSession, d: String): DataFrame = {
    val p = li(s, d)
      .groupBy(to_date(col("l_shipdate")).as("date"))
      .pivot(col("l_returnflag"), Seq("A", "N", "R"))
      .agg(sum("l_quantity"))
    p.toDF(p.columns.map(c => if (Seq("A", "N", "R").contains(c)) s"rf_$c" else c)
        .toIndexedSeq: _*)
      .orderBy("date")
  }
  private val oJ6 =
    """SELECT CAST(l_shipdate AS DATE) AS date,
      |  sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS rf_A,
      |  sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS rf_N,
      |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS rf_R
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  private def qJ7semi(s: SparkSession, d: String): DataFrame = {
    val urgent = ord(s, d).where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    Tables.customer(s, d).join(broadcast(urgent), Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }
  private val oJ7 =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** q_j2's result computed through the SKEW tools, under the same hash
    * gate (oracle = oJ2 verbatim): the per-custkey aggregation runs as
    * `Skew.saltedAgg` (groupBy(key, salt) partial → groupBy(key) merge —
    * a hot key's rows spread over 16 reducers instead of funneling into
    * one) and the customer⋈agg left join as `Skew.saltedJoin` (fact side
    * salted, dim side exploded ×16, equi-join on (key, salt)). The
    * result is salt-invariant by construction — the merge phase sums
    * across salts and each fact row's single salt matches exactly one
    * replica — which is precisely what the hash gate proves. Money sums
    * stay decimal(20,2) through BOTH phases and round once after the
    * merge (partial-then-merge double sums would re-order float adds;
    * decimal partials keep the two-phase sum exact). */
  private def qJ8salted(s: SparkSession, d: String): DataFrame = {
    val api = Tables.customer(s, d)
      .select(col("c_custkey").as("custkey"), col("c_name"))
    val agg = graft.operators.Skew.saltedAgg(
      ord(s, d).select(col("o_custkey").as("custkey"), col("o_totalprice")),
      Seq("custkey"), saltBuckets = 16, Map(
        "n_orders" -> ((count(lit(1)), (c: String) => sum(col(c)).cast("long"))),
        "sum_price" -> ((sum(col("o_totalprice").cast("decimal(20,2)")),
          (c: String) => round(sum(col(c)).cast("double"), 2)))))
    graft.operators.Skew.saltedJoin(api, agg, "custkey",
        saltBuckets = 16, joinType = "left")
      .withColumn("orphaned", col("n_orders").isNull)
      .select("custkey", "c_name", "n_orders", "sum_price", "orphaned")
      .orderBy("custkey")
  }

  // ---- P: filters / predicates ------------------------------------------

  private def qP6prefix(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .where(col("p_name").startsWith("a") || col("p_type").endsWith("D"))
      .select("p_partkey", "p_name", "p_type")
      .orderBy("p_partkey")
  private val oP6 =
    """SELECT p_partkey, p_name, p_type FROM part
      |WHERE p_name LIKE 'a%' OR p_type LIKE '%D'
      |ORDER BY p_partkey""".stripMargin

  private def qP8inlist(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  private val oP8 =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      |ORDER BY c_custkey""".stripMargin

  private def qP9status(s: SparkSession, d: String): DataFrame = {
    val status = ord(s, d).select(
      col("o_orderkey"),
      (col("o_orderstatus") === "F").as("delayed_mode"),
      col("o_orderpriority").startsWith("1").as("completed"),
      (col("o_totalprice") > 300000d).as("orphaned"))
    StatusFilters.realTimeActive(status).select("o_orderkey").orderBy("o_orderkey")
  }
  private val oP9 =
    """SELECT o_orderkey FROM orders
      |WHERE NOT (o_orderstatus = 'F') AND NOT (o_orderpriority LIKE '1%')
      |  AND NOT (o_totalprice > 300000)
      |ORDER BY o_orderkey""".stripMargin

  private def qP12slice(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .where(col("ts").between(lit("2024-01-10 00:00:00"), lit("2024-01-12 00:00:00")))
      .select(col("event_id"), date_format(col("ts"), TsFmtSpark).as("ts_s"),
        col("event_type"), col("value"))
      .orderBy("event_id")
  private val oP12 =
    s"""SELECT event_id, strftime(ts, '$TsFmtDuck') AS ts_s, event_type, value
       |FROM events
       |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-12 00:00:00'
       |ORDER BY event_id""".stripMargin

  private val (qP14tail, oP14) = shared(
    s"""SELECT CAST(count(*) AS BIGINT) AS n,
      |  round(${moneySumSql("value")}, 2) AS sum_value
      |FROM events
      |WHERE ts >= (SELECT max(ts) - INTERVAL 24 HOURS FROM events)""".stripMargin)

  // ---- O/U: sorts, limits, set ops --------------------------------------

  private def qO3topk(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .orderBy(desc("o_orderdate"), col("o_orderkey"))
      .limit(100)
      .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
        col("o_totalprice"))
  private val oO3 =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od, o_totalprice
      |FROM orders ORDER BY o_orderdate DESC, o_orderkey LIMIT 100""".stripMargin

  private def qU1union(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d)
    o.where(col("o_orderstatus") === "F").select("o_orderkey", "o_orderstatus")
      .unionByName(
        o.where(col("o_orderstatus") === "P").select("o_orderkey", "o_orderstatus"))
      .orderBy("o_orderkey")
  }
  private val oU1 =
    """SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
      |UNION ALL
      |SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'P'
      |ORDER BY o_orderkey""".stripMargin

  // ---- F: scalar functions ----------------------------------------------

  private val (qF1scalars, oF1) = shared(
    """SELECT p_partkey,
      |  regexp_extract(p_name, '^([a-zA-Z0-9]+)', 1) AS first_word,
      |  upper(p_brand) AS brand_u,
      |  CASE WHEN instr(p_type, ' ') = 0 THEN p_type
      |       ELSE left(p_type, instr(p_type, ' ') - 1) END AS type_head,
      |  CAST(p_size AS BIGINT) * 2 AS size2,
      |  coalesce(NULL, p_name) AS name2,
      |  CAST(CAST(floor(p_retailprice) AS BIGINT) AS STRING) AS price_str
      |FROM part ORDER BY p_partkey""".stripMargin)

  private def qF6roundHalfDown(s: SparkSession, d: String): DataFrame =
    li(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        RoundHalfDown(col("l_extendedprice") / lit(7.0d), 3).as("rhd"))
      // (l_orderkey, l_linenumber) is not unique in the generated
      // lineitem, and tied rows can differ in price
      .orderBy("l_orderkey", "l_linenumber", "rhd")
  private val oF6 =
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_extendedprice / 7.0 >= 0
      |       THEN ceil(l_extendedprice / 7.0 * 1000 - 0.5) / 1000
      |       ELSE floor(l_extendedprice / 7.0 * 1000 + 0.5) / 1000 END AS rhd
      |FROM lineitem ORDER BY l_orderkey, l_linenumber, rhd""".stripMargin

  private def qF10format(s: SparkSession, d: String): DataFrame =
    ord(s, d).select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'").as("iso"))
      .orderBy("o_orderkey")
  private val oF10 =
    """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS iso
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- W/A/F supplements -------------------------------------------------

  /** W2: time-ordered per-key track assembly (first 20 ids per key). */
  private def qW2track(s: SparkSession, d: String): DataFrame =
    graft.operators.Profiles.orderedTrack(Tables.events(s, d), "event_type",
        "ts", "event_id", col("event_id"))
      .select(col("event_type"),
        expr("array_join(transform(slice(track, 1, 20), x -> cast(x AS string)), ',')")
          .as("track"))
      .orderBy("event_type")
  private val oW2 =
    """WITH r AS (SELECT event_type, event_id, row_number() OVER (
      |  PARTITION BY event_type ORDER BY ts, event_id) AS rn FROM events)
      |SELECT event_type, string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS track
      |FROM r WHERE rn <= 20 GROUP BY 1 ORDER BY 1""".stripMargin

  /** A10/A14 combo: glider-days calendar — distinct active ids per
    * (year, month) × day over the dense deployment ranges. */
  private def qA10gliderDays(s: SparkSession, d: String): DataFrame =
    Calendars.ymdCalendarDistinct(
        Profiles.deploymentDays(li(s, d), "l_returnflag", "l_shipdate"),
        "day", "l_returnflag")
      .orderBy("year", "month")
  private val oA10gliderDays = {
    val cells = (1 to 31).map(dd =>
      f"nullif(CAST(count(DISTINCT CASE WHEN day(day) = $dd THEN l_returnflag END) AS BIGINT), 0) AS d$dd%02d")
      .mkString(",\n  ")
    s"""WITH b AS (SELECT l_returnflag, CAST(min(l_shipdate) AS DATE) AS d0,
       |  CAST(max(l_shipdate) AS DATE) AS d1 FROM lineitem GROUP BY 1),
       |g AS (SELECT l_returnflag,
       |  CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM b)
       |SELECT CAST(year(day) AS BIGINT) AS year, CAST(month(day) AS BIGINT) AS month,
       |  $cells
       |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  /** F5: substring chop at a marker (summary truncation analog). */
  private val (qF5chop, oF5) = shared(
    """SELECT doc_id, substr(text, 1, 40) AS head40,
      |  CASE WHEN instr(text, 'value') = 0 THEN text
      |       ELSE left(text, instr(text, 'value') - 1) END AS chopped,
      |  CAST(length(text) AS BIGINT) AS len
      |FROM documents ORDER BY doc_id""".stripMargin)

  /** A6/P13: distinct values + group membership via HAVING. */
  private val (qA6unique, oA6) = shared(
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n
      |FROM customer GROUP BY 1 HAVING count(*) > 100 ORDER BY 1""".stripMargin)

  /** A16: exact interpolated percentiles (both engines use the
    * index = p·(n−1) linear-interpolation definition). */
  private def qA16percentiles(s: SparkSession, d: String): DataFrame =
    li(s, d).groupBy("l_returnflag").agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("qty_p50"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("qty_p90"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("price_p50"))
      .orderBy("l_returnflag")
  private val oA16 =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.5), 6) AS qty_p50,
      |  round(quantile_cont(l_quantity, 0.9), 6) AS qty_p90,
      |  round(quantile_cont(l_extendedprice, 0.5), 6) AS price_p50
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  /** A17: rollup subtotals (year × status with grand/partial totals;
    * NULLS FIRST on both sides — DuckDB defaults to NULLS LAST). */
  /** A20: CUBE subtotals — every (year × status) margin in one pass
    * (rollup's lattice completion; same NULLS FIRST + moneySum
    * discipline as q_a17). */
  private def qA20cube(s: SparkSession, d: String): DataFrame =
    ord(s, d).withColumn("yr", year(col("o_orderdate")).cast("long"))
      .cube("yr", "o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(moneySum(col("o_totalprice")), 2).as("total"))
      .orderBy(asc_nulls_first("yr"), asc_nulls_first("o_orderstatus"))
  private val oA20 =
    s"""SELECT yr, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  round(${moneySumSql("o_totalprice")}, 2) AS total
      |FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderstatus,
      |  o_totalprice FROM orders)
      |GROUP BY CUBE (yr, o_orderstatus)
      |ORDER BY yr NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  /** A21: key-skew diagnostic over a prospective shuffle key — one row
    * of (n_keys, n_rows, max_count, rank-defined p99_count, mean_count,
    * exact-rank-sum Gini) from the count-of-counts histogram; everything
    * past the one per-key count folds over DISTINCT SIZES, never keys.
    * The detector half of the Skew story (saltedAgg/saltedJoin are the
    * cure). */
  private def qA21skewReport(s: SparkSession, d: String): DataFrame =
    graft.operators.Skew.keySkewReport(Tables.events(s, d),
      Seq("user_id"), q = 0.99)
  private val oA21 =
    """WITH cnt AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |coc AS (SELECT c, CAST(count(*) AS BIGINT) AS k FROM cnt GROUP BY 1),
      |en AS (SELECT c, k,
      |    sum(k) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumk,
      |    coalesce(sum(k) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prevk,
      |    sum(k) OVER () AS nk,
      |    sum(c * k) OVER () AS nr,
      |    max(c) OVER () AS mx
      |  FROM coc),
      |s AS (SELECT max(nk) AS n_keys, max(nr) AS n_rows,
      |    max(mx) AS max_count,
      |    sum(c * (k * prevk + (k * (k + 1)) // 2)) AS rs,
      |    min(CASE WHEN cumk >= ceil(0.99 * CAST(nk AS DOUBLE))
      |      THEN c END) AS p99
      |  FROM en)
      |SELECT CAST(n_keys AS BIGINT) AS n_keys,
      |  CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(max_count AS BIGINT) AS max_count,
      |  CAST(p99 AS BIGINT) AS p99_count,
      |  round(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
      |    AS mean_count,
      |  round(2.0 * CAST(rs AS DOUBLE)
      |      / CAST(n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE)
      |    - CAST(n_keys + 1 AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
      |    AS gini
      |FROM s""".stripMargin

  /** J9: equi-join cardinality diagnostic — the exact self-join output
    * size on events.user_id (Σ c(k)² = the candidate-pair explosion a
    * bucket join on this key would produce) plus the hottest key's
    * share, computed from two count aggregates and a key-bounded join,
    * never the join itself. */
  private def qJ9joinCardinality(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    graft.operators.Skew.joinCardinality(ev, ev, "user_id")
  }
  private val oJ9 =
    """WITH ca AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |j AS (SELECT CAST(count(*) AS BIGINT) AS keys_shared,
      |    CAST(coalesce(sum(a.c * b.c), 0) AS BIGINT) AS est_rows,
      |    CAST(max(a.c * b.c) AS BIGINT) AS max_key_rows
      |  FROM ca a JOIN ca b USING (k)),
      |t AS (SELECT CAST(sum(c) AS BIGINT) AS n,
      |    CAST(count(*) AS BIGINT) AS nk FROM ca)
      |SELECT t.n AS n_left, t.n AS n_right, t.nk AS keys_left,
      |  t.nk AS keys_right, j.keys_shared, j.est_rows, j.max_key_rows,
      |  CASE WHEN j.est_rows > 0
      |    THEN round(CAST(j.max_key_rows AS DOUBLE)
      |      / CAST(j.est_rows AS DOUBLE), 6)
      |  END AS hot_key_frac
      |FROM t CROSS JOIN j""".stripMargin

  /** A19: hash-sampled quantiles vs exact — the "percentile on a 10%
    * deterministic sample" pattern that replaces a full-column sort at
    * 100 TB; the sampling error is part of the gated result (err
    * columns), not a claim. Sample membership is the md5-hash24
    * Bernoulli filter (engine-replayable); quantiles are the proven
    * percentile↔quantile_cont pair from q_a16. */
  private def qA19sampledQuantiles(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sampling
    val l = li(s, d).withColumn("_sk",
      concat_ws("|", col("l_orderkey"), col("l_linenumber")))
    val samp = Sampling.sampleByHash(l, "_sk", 0.1, salt = "q19")
    val full = l.groupBy("l_returnflag").agg(
      round(expr("percentile(l_quantity, 0.5)"), 6).as("full_p50"),
      round(expr("percentile(l_quantity, 0.9)"), 6).as("full_p90"))
    val sq = samp.groupBy("l_returnflag").agg(
      round(expr("percentile(l_quantity, 0.5)"), 6).as("samp_p50"),
      round(expr("percentile(l_quantity, 0.9)"), 6).as("samp_p90"))
    full.join(sq, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("full_p50"), col("samp_p50"),
        col("full_p90"), col("samp_p90"),
        round(abs(col("samp_p50") - col("full_p50")), 6).as("err_p50"),
        round(abs(col("samp_p90") - col("full_p90")), 6).as("err_p90"))
      .orderBy("l_returnflag")
  }
  private val oA19 =
    """WITH l AS (SELECT *, concat(CAST(l_orderkey AS VARCHAR), '|',
      |    CAST(l_linenumber AS VARCHAR)) AS sk FROM lineitem),
      |sm AS (SELECT * FROM l WHERE CAST(concat('0x',
      |    substr(md5(concat(sk, '|q19')), 1, 6)) AS BIGINT) < 1677721),
      |f AS (SELECT l_returnflag,
      |    round(quantile_cont(l_quantity, 0.5), 6) AS full_p50,
      |    round(quantile_cont(l_quantity, 0.9), 6) AS full_p90
      |  FROM l GROUP BY 1),
      |s AS (SELECT l_returnflag,
      |    round(quantile_cont(l_quantity, 0.5), 6) AS samp_p50,
      |    round(quantile_cont(l_quantity, 0.9), 6) AS samp_p90
      |  FROM sm GROUP BY 1)
      |SELECT f.l_returnflag, full_p50, samp_p50, full_p90, samp_p90,
      |  round(abs(samp_p50 - full_p50), 6) AS err_p50,
      |  round(abs(samp_p90 - full_p90), 6) AS err_p90
      |FROM f JOIN s USING (l_returnflag) ORDER BY 1""".stripMargin

  private def qA17rollup(s: SparkSession, d: String): DataFrame =
    ord(s, d).withColumn("yr", year(col("o_orderdate")).cast("long"))
      .rollup("yr", "o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round(moneySum(col("o_totalprice")), 2).as("total"))
      .orderBy(asc_nulls_first("yr"), asc_nulls_first("o_orderstatus"))
  private val oA17 =
    s"""SELECT yr, o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  round(${moneySumSql("o_totalprice")}, 2) AS total
      |FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderstatus,
      |      o_totalprice FROM orders) t
      |GROUP BY ROLLUP(yr, o_orderstatus)
      |ORDER BY yr NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  /** W4: analytic window pack — row_number, lag, running sum over a fully
    * deterministic ordering (running double sums accumulate in frame
    * order on both engines, so 2-dp-grid rounding is exact). */
  private def qW4windows(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ord(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("long").as("rn"),
        round(lag("o_totalprice", 1).over(w), 2).as("prev_price"),
        round(sum("o_totalprice").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_total"))
      .orderBy("o_custkey", "rn")
  }
  private val oW4 =
    """SELECT o_custkey, o_orderkey,
      |  CAST(row_number() OVER w AS BIGINT) AS rn,
      |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
      |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, rn""".stripMargin

  // ---- assembled maps ----------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_a1_daily_stats" -> qA1dailyStats _,
    "q_a2_summaries" -> qSummaries _,
    "q_a4_first_row" -> qA4firstRow _,
    "q_a5_distinct" -> qA5distinct,
    "q_a7_daily_totals" -> qA7daily _,
    "q_a8_yearly_totals" -> qA8yearly _,
    "q_a9_active_per_year" -> qA9active _,
    "q_a10_ymd_calendar" -> qA10ymd _,
    "q_a10_ym_calendar" -> qA10ym _,
    "q_a10_md_calendar" -> qA10md _,
    "q_a12_yearly_counts" -> qA12yearlyCounts _,
    "q_a13_window_total" -> qA13windowTotal _,
    "q_a14_deployment_days" -> qA14deploymentDays _,
    "q_j1_join_enrich" -> qJ1enrich _,
    "q_j2_merge_left" -> qJ2mergeLeft _,
    "q_j3_merge_right" -> qJ3mergeRight _,
    "q_j4_orphans" -> qJ4orphans _,
    "q_j5_overlay" -> qJ5overlay _,
    "q_j6_pivot_wide" -> qJ6pivotWide _,
    "q_j7_semi_join" -> qJ7semi _,
    "q_j8_salted_join" -> qJ8salted _,
    "q_p6_prefix_suffix" -> qP6prefix _,
    "q_p8_inlist" -> qP8inlist _,
    "q_p9_status_filters" -> qP9status _,
    "q_p12_time_slice" -> qP12slice _,
    "q_p14_relative_tail" -> qP14tail,
    "q_o3_sort_limit" -> qO3topk _,
    "q_u1_union_all" -> qU1union _,
    "q_f1_scalar_pack" -> qF1scalars,
    "q_f6_round_half_down" -> qF6roundHalfDown _,
    "q_f10_ts_format" -> qF10format _,
    "q_w2_ordered_track" -> qW2track _,
    "q_a10_gliderdays_calendar" -> qA10gliderDays _,
    "q_f5_substring_chop" -> qF5chop,
    "q_a6_unique_having" -> qA6unique,
    "q_a16_percentiles" -> qA16percentiles _,
    "q_a17_rollup" -> qA17rollup _,
    "q_a19_sampled_quantiles" -> qA19sampledQuantiles _,
    "q_a20_cube" -> qA20cube _,
    "q_a21_skew_report" -> qA21skewReport _,
    "q_j9_join_cardinality" -> qJ9joinCardinality _,
    "q_w4_window_pack" -> qW4windows _,
  ) ++ TextSimQueries.queries ++ PipelineQueries.queries

  def oracleSql: Map[String, String] = Map(
    "q_a1_daily_stats" -> oA1,
    "q_a2_summaries" -> oSummaries,
    "q_a4_first_row" -> oA4,
    "q_a5_distinct" -> oA5,
    "q_a7_daily_totals" -> oA7,
    "q_a8_yearly_totals" -> oA8,
    "q_a9_active_per_year" -> oA9,
    "q_a10_ymd_calendar" -> oA10ymd,
    "q_a10_ym_calendar" -> oA10ym,
    "q_a10_md_calendar" -> oA10md,
    "q_a12_yearly_counts" -> oA12,
    "q_a13_window_total" -> oA13,
    "q_a14_deployment_days" -> oA14,
    "q_j1_join_enrich" -> oJ1,
    "q_j2_merge_left" -> oJ2,
    "q_j3_merge_right" -> oJ3,
    "q_j4_orphans" -> oJ4,
    "q_j5_overlay" -> oJ5,
    "q_j6_pivot_wide" -> oJ6,
    "q_j7_semi_join" -> oJ7,
    "q_j8_salted_join" -> oJ2,
    "q_p6_prefix_suffix" -> oP6,
    "q_p8_inlist" -> oP8,
    "q_p9_status_filters" -> oP9,
    "q_p12_time_slice" -> oP12,
    "q_p14_relative_tail" -> oP14,
    "q_o3_sort_limit" -> oO3,
    "q_u1_union_all" -> oU1,
    "q_f1_scalar_pack" -> oF1,
    "q_f6_round_half_down" -> oF6,
    "q_f10_ts_format" -> oF10,
    "q_w2_ordered_track" -> oW2,
    "q_a10_gliderdays_calendar" -> oA10gliderDays,
    "q_f5_substring_chop" -> oF5,
    "q_a6_unique_having" -> oA6,
    "q_a16_percentiles" -> oA16,
    "q_a17_rollup" -> oA17,
    "q_a19_sampled_quantiles" -> oA19,
    "q_a20_cube" -> oA20,
    "q_a21_skew_report" -> oA21,
    "q_j9_join_cardinality" -> oJ9,
    "q_w4_window_pack" -> oW4,
  ) ++ TextSimQueries.oracleSql ++ PipelineQueries.oracleSql
}
