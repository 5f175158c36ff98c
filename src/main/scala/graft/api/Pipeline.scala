package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Sampling, TextStats}

/** Library facade for the training-data curation flow — the composition
  * a pipeline user actually runs, end to end:
  *
  *   dedup (exact, keeper = min id) → quality gate → PII scrub →
  *   deterministic train/test split → token-budget shard packing.
  *
  * Every stage is one of the library's oracled operators with its
  * default scale shape (hash aggregate, map-side filter, keyed window);
  * the composition introduces no new shuffles beyond its stages. The
  * full chain is itself oracle-verified (q_e2e_curate) — the stages
  * compose without parity drift. */
object Pipeline {

  /** One row per surviving doc: the curated corpus with `split` and
    * `shard` assignments and the scrubbed text.
    *
    * `precomputedQuality`: optional (id, quality) frame — the compute-
    * on-raw-once reuse hook (round-15) for pipelines that already
    * materialized [[TextStats.qualityScore]] per doc. Caller owns the
    * equivalence: the frame must cover a SUPERSET of `docs` with unique
    * ids and the SAME id→text mapping, its first column matching
    * `idCol`'s values and its second being exactly
    * `qualityScore(textCol)` — scores that disagree silently mis-gate.
    * The quality gate then joins the precomputed verdict ids instead of
    * re-running the score regexes on its own filtered frame (at 100 TB,
    * one corpus scan shared across every consumer of the score). */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             groupCol: String, costCol: String,
             minQuality: Double = 0.3, testFraction: Double = 0.2,
             shardBudget: Long = 4000L,
             precomputedQuality: Option[DataFrame] = None): DataFrame = {
    val clash = Seq("_fp", "_pk", "split", "shard").filter(docs.columns.contains)
    require(clash.isEmpty,
      s"columns ${clash.mkString(", ")} collide with curate internals/outputs — alias them")
    // widen a narrow source ONCE at the chain's entry: the fingerprint,
    // quality and scrub regexes all evaluate scan-side, and a single-
    // row-group corpus file would hand them all to one task (round-15,
    // the Dedup.widenNarrow rationale; no-op at scale)
    val docsW = Dedup.widenNarrow(docs)
    val fp = TextStats.fingerprint(col(textCol))
    // exact dedup: keep the smallest id per fingerprint (one aggregate,
    // then a semi-join shaped as an inner join on (fp, id))
    val keepers = docsW.groupBy(fp.as("_fp")).agg(min(col(idCol)).as(idCol))
    val deduped = docsW.withColumn("_fp", fp)
      .join(keepers, Seq("_fp", idCol))
      .drop("_fp")
    val gated = precomputedQuality.fold(
        deduped.where(TextStats.qualityScore(col(textCol)) >= minQuality)) { q =>
        // row-identical by the hook contract: the score is a pure
        // per-row function of the text, so gating the subset against
        // verdicts computed on the superset keeps exactly the same rows
        val keepIds = q.where(col(q.columns(1)) >= lit(minQuality))
          .select(col(q.columns(0)).as(idCol))
        deduped.join(keepIds, Seq(idCol))
      }
      .withColumn(textCol, TextStats.scrubPii(col(textCol)))
    val split = Sampling.withSplit(gated, idCol, testFraction)
    // pack per (split, group): a composite packing key keeps train and
    // test shards disjoint
    Sampling.packIntoShards(
      split.withColumn("_pk", concat_ws("|", col("split"), col(groupCol))),
      "_pk", idCol, costCol, shardBudget).drop("_pk")
  }

  /** Shard manifest of `curate`: one row per (split, group, shard). */
  def curationManifest(docs: DataFrame, idCol: String, textCol: String,
                       groupCol: String, costCol: String,
                       minQuality: Double = 0.3, testFraction: Double = 0.2,
                       shardBudget: Long = 4000L,
                       precomputedQuality: Option[DataFrame] = None): DataFrame =
    curate(docs, idCol, textCol, groupCol, costCol, minQuality,
        testFraction, shardBudget, precomputedQuality)
      .groupBy("split", groupCol, "shard")
      .agg(count(lit(1)).as("n_docs"), sum(col(costCol)).as("cost_total"),
        min(col(idCol)).as("min_id"), max(col(idCol)).as("max_id"))

  /** `curate` upgraded to the strict modern recipe (the
    * RefinedWeb/FineWeb-style chain): exact dedup → Gopher rules →
    * PII scrub → corpus-wide EXACT SUBSTRING dedup → split → shard
    * packing. Stage order is load-bearing: the Gopher gate reads RAW
    * text (its symbol/bullet/ellipsis metrics vanish under
    * normalization) and the cheap per-doc filters run before the
    * corpus-wide gram pass pays for survivors only.
    *
    * Substring dedup rebuilds the text column as the kept normalized
    * token stream and REPLACES `costCol` with the kept-token count (the
    * honest token budget after span removal — a char-count cost computed
    * upstream of the removal would overpack shards); docs hollowed to
    * zero tokens drop out entirely. Every stage is an oracled operator
    * (q_t17, q_d11, q_e2e_curate's own stages); the composition is
    * spec-gated in PipelineOpsSpec. */
  /** `precomputedGopherMetrics`: optional [[TextStats.gopherMetrics]]
    * frame — the compute-on-raw-once reuse hook (round-15, the `curate`
    * quality hook's twin). Caller owns the equivalence: metrics for a
    * SUPERSET of `docs` with unique ids and the same id→text mapping,
    * computed by `gopherMetrics` with this package's tokenization —
    * the gate applies `gopher`'s thresholds to the shared metric
    * columns, which by construction equals running
    * `gopherQualityFlags(deduped, …, gopher)` (metrics are pure per-row
    * functions of the text). */
  def curateStrict(docs: DataFrame, idCol: String, textCol: String,
                   groupCol: String, costCol: String,
                   gramLen: Int = 50,
                   gopher: TextStats.GopherParams = TextStats.GopherParams(),
                   testFraction: Double = 0.2,
                   shardBudget: Long = 4000L,
                   precomputedGopherMetrics: Option[DataFrame] = None): DataFrame = {
    val clash = Seq("_fp", "_pk", "split", "shard").filter(docs.columns.contains)
    require(clash.isEmpty,
      s"columns ${clash.mkString(", ")} collide with curate internals/outputs — alias them")
    // see curate: widen a narrow source once at the chain's entry
    val docsW = Dedup.widenNarrow(docs)
    val fp = TextStats.fingerprint(col(textCol))
    val keepers = docsW.groupBy(fp.as("_fp")).agg(min(col(idCol)).as(idCol))
    val deduped = docsW.withColumn("_fp", fp)
      .join(keepers, Seq("_fp", idCol))
      .drop("_fp")
    val flags = precomputedGopherMetrics.getOrElse(
      TextStats.gopherMetrics(deduped, idCol, textCol))
    val gated = deduped
      .join(flags.where(TextStats.gopherKeep(gopher))
          .select(col("id").as(idCol)),
        Seq(idCol))
      .withColumn(textCol, TextStats.scrubPii(col(textCol)))
    val scrubbed = Dedup.exactSubstringDedup(gated, idCol, textCol, gramLen)
      .where(col("text_clean") =!= "") // fully hollowed docs drop out
    val rebuilt = gated.drop(textCol, costCol)
      .join(scrubbed.select(col("id").as(idCol),
          col("text_clean").as(textCol),
          (col("n_tokens") - col("n_removed")).as(costCol)),
        Seq(idCol))
    val split_ = Sampling.withSplit(rebuilt, idCol, testFraction)
    Sampling.packIntoShards(
      split_.withColumn("_pk", concat_ws("|", col("split"), col(groupCol))),
      "_pk", idCol, costCol, shardBudget).drop("_pk")
  }

  /** The last mile to a trainer: `curate`'s TRAIN split packed into
    * exact-`seqLen` training sequences with cross-boundary document
    * spans (`Sampling.packSequences`) — one span row per (doc,
    * sequence). The test split never enters the packer, so held-out
    * text cannot leak into a training sequence by construction. Adds
    * only the packer's keyed window beyond `curate`'s own stages. */
  def prepareSequences(docs: DataFrame, idCol: String, textCol: String,
                       groupCol: String, costCol: String, seqLen: Long,
                       minQuality: Double = 0.3,
                       testFraction: Double = 0.2,
                       precomputedQuality: Option[DataFrame] = None): DataFrame =
    Sampling.packSequences(
      curate(docs, idCol, textCol, groupCol, costCol, minQuality,
        testFraction,
        precomputedQuality = precomputedQuality)
        .where(col("split") === "train").drop("split", "shard"),
      groupCol, idCol, costCol, seqLen)

  // convenience delegates with library defaults -----------------------------

  def contamination(eval: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    Dedup.contamination(eval, benchmark, idCol, textCol, n = 3)

  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
                      minJaccard: Double = 0.5): DataFrame =
    Dedup.nearDupClusters(
      Dedup.jaccardPairs(docs, idCol, textCol, n = 3, minJaccard))
}
