package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming layer (SURVEY.md §2.9 extension): the reference's
  * "real-time" is cron + lookback batch pulls
  * (/root/reference/scripts/dac/search_datasets.py:21-36); here the same
  * daily roll-ups (A1/A10) run incrementally over a stream with event-time
  * windows + watermark, so late observations within the watermark update
  * their day bucket and state is bounded.
  *
  * Works identically on a batch DataFrame (windowing functions are the
  * same), which is how the specs verify streaming == batch semantics.
  */
object DailyRollup {

  /** Per-(id, day) incremental stats: streaming A1. */
  def dailyStats(stream: DataFrame, tsCol: String, idCol: String,
                 valueCol: String, watermark: String = "2 days"): DataFrame =
    (if (stream.isStreaming) stream.withWatermark(tsCol, watermark) else stream)
      .groupBy(window(col(tsCol), "1 day").as("day_window"), col(idCol))
      .agg(count(lit(1)).as("n"), sum(valueCol).as("total"))
      .select(col(idCol), to_date(col("day_window.start")).as("date"),
        col("n"), col("total"))

  /** Per-(key, day) distinct-id HLL rollup — the streaming cardinality
    * twin of `Hll.groupedDistinctEstimate`: the register array is the
    * window's aggregation state (2^p bytes per open window, max-merge —
    * commutative, idempotent per distinct id, so late arrivals within
    * the watermark fold in exactly), where a streaming countDistinct
    * would keep per-id state per window. Emits the raw registers;
    * estimate with `Hll.estimate` (same fold-order contract as the
    * batch twin, so the estimates agree exactly — spec-gated). */
  def distinctRollup(stream: DataFrame, tsCol: String, keyCol: String,
                     idCol: String, p: Int = 6,
                     watermark: String = "2 days"): DataFrame =
    (if (stream.isStreaming) stream.withWatermark(tsCol, watermark) else stream)
      .groupBy(window(col(tsCol), "1 day").as("day_window"), col(keyCol))
      .agg(count(lit(1)).as("n"),
        graft.functions.Hll.sketch(p)(
          graft.operators.Sampling.hash60(col(idCol).cast("string")))
          .as("regs"))
      .select(col(keyCol), to_date(col("day_window.start")).as("date"),
        col("n"), col("regs"))
}
