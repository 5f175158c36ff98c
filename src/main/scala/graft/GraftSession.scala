package graft

import org.apache.spark.sql.SparkSession

/** The library's RECOMMENDED SparkSession configuration — one place, so
  * the configuration the bench measures is the configuration every
  * harness (and any production caller that wants the measured behavior)
  * actually runs. Round-14 measured both engine configs on a 15-query
  * mid-cost slice with per-config attribution (−8.3 % / −2.9 %, no
  * regressions beyond fork noise); round-15 ships them as the single
  * shared builder the VERDICT asked for, instead of per-main copies that
  * can drift.
  */
object GraftSession {

  /** Engine configs that are scale-INDEPENDENT recommendations (guide
    * §2.2/§3.1/§9), applied to any caller-supplied builder:
    *
    *   - `adaptive.enabled`: AQE on (default since 3.2; stated so a
    *     caller with a stripped-down conf still gets it — every operator
    *     in this package leans on AQE coalescing/skew handling).
    *   - `coalescePartitions.parallelismFirst=false`: post-shuffle
    *     partitions coalesce to the ADVISORY SIZE (64 MiB default)
    *     instead of stopping early to preserve parallelism — the
    *     Spark-docs-recommended setting at any scale (fewer, larger
    *     reduce partitions; at 100 TB the advisory size governs, locally
    *     tiny shuffles fold to one task).
    *   - `preferSortMergeJoin=false`: the planner may pick shuffled-hash
    *     over sort-merge when its size bounds hold (skips both sorts;
    *     AQE skew splitting applies to SHJ too).
    *   - session time zone UTC: the package's oracle-parity convention
    *     (naive timestamps compare as wall-clock).
    */
  def recommended(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.join.preferSortMergeJoin", "false")

  /** The harness session every main (Bench, Verify, Harness) runs:
    * [[recommended]] plus the LOCAL-HARNESS bits that a production caller
    * would own instead — `local[cpus]` master with
    * `shuffle.partitions = cpus` (the driver's scaling contract:
    * $SPARK_GRAFT_CPUS governs both), the legacy nanos flag for the
    * older testdata generation's TIMESTAMP(NANOS) parquet, and no UI. */
  def local(cpus: String): SparkSession = {
    val spark = recommended(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftPlans.install(spark)
    spark
  }
}
