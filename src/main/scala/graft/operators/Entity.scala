package graft.operators

import java.util.concurrent.atomic.AtomicLong

import graft.core.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Blocked fuzzy entity matching / resolution — record linkage over noisy
 * name-like columns (the classic Fellegi-Sunter blocking shape). The
 * reference pipeline has no joins at all (SURVEY §2.5); this is a
 * north-star operator at the same dataflow altitude as the dedup family:
 * candidate generation must never be all-pairs.
 *
 * Scale shape (the 100 TB lens):
 *   - matching runs over the DISTINCT normalized name set, not the record
 *     stream — a map-side-combinable distinct first, so a billion rows
 *     with a million distinct names do a million-row match;
 *   - candidates come from a cheap equi-join on a blocking key (name
 *     prefix by default) — work is sum over blocks of block²/2
 *     thresholded-levenshtein calls, never corpus². With the defaults
 *     (blockPrefix = 2, maxBlock = 10,000) no single block exceeds
 *     5·10⁷ comparisons ≈ one bounded task, the same df-cap contract
 *     `ngramJaccardPairs` uses;
 *   - oversized blocks (a degenerate prefix like "th") are EXCLUDED —
 *     bounded work, documented recall loss on pathological keys. The
 *     exclusion is observable two ways: an `observe()` metric
 *     (`excluded_blocks` / `excluded_names`, delivered to any
 *     QueryExecutionListener by the truncation [[fuzzyNamePairs]] runs
 *     before it returns) and the
 *     [[oversizedBlocks]] diagnostic, which returns the excluded
 *     (block, size) rows directly;
 *   - the edit-distance predicate uses Spark's thresholded levenshtein
 *     (early-exit row-wise; returns -1 past the cap) so the verifier
 *     costs O(maxDist * len) per candidate, not O(len²).
 */
object Entity {

  /** lower(trim(name)), the normalization both match and resolve share. */
  private def norm(nameCol: String): Column = lower(trim(col(nameCol)))

  /** Unique observe() names — Spark rejects duplicate observation names
   *  when one query composes several fuzzyNamePairs calls. */
  private val obsSeq = new AtomicLong(0L)

  /** Distinct normalized non-empty names with their blocking key. */
  private def blockedNames(df: DataFrame, nameCol: String,
      blockPrefix: Int): DataFrame =
    df.select(norm(nameCol).as("_nm"))
      .filter(length(col("_nm")) > 0).distinct()
      .withColumn("_blk", substring(col("_nm"), 1, blockPrefix))

  /**
   * Diagnostic for the bounded-work contract: the blocks [[fuzzyNamePairs]]
   * would EXCLUDE at these settings, as (block, n_names) rows ordered
   * largest first. Run it when recall on pathological prefixes matters —
   * a non-empty result is the signal to raise `maxBlock` or lengthen
   * `blockPrefix`.
   */
  def oversizedBlocks(df: DataFrame, nameCol: String, blockPrefix: Int = 2,
      maxBlock: Long = 10000L): DataFrame = {
    require(blockPrefix >= 1, "blockPrefix must be >= 1")
    require(maxBlock >= 1, "maxBlock must be >= 1")
    blockedNames(df, nameCol, blockPrefix)
      .groupBy(col("_blk").as("block")).agg(count(lit(1)).as("n_names"))
      .filter(col("n_names") > maxBlock)
      .orderBy(col("n_names").desc, col("block"))
  }

  /**
   * Candidate fuzzy pairs over the distinct normalized names of
   * `nameCol`: same `blockPrefix`-char prefix, Levenshtein distance
   * <= `maxDist`. Output (name_a, name_b, dist) with name_a < name_b,
   * one row per unordered pair. Blocks larger than `maxBlock` distinct
   * names are excluded (bounded-work contract: per-block cost is
   * block²/2 thresholded-levenshtein calls, so the worst single task is
   * maxBlock²/2 ≈ 5·10⁷ at the default). Exclusions surface through the
   * `graft.entity.N` observe() metric on the result and through
   * [[oversizedBlocks]].
   *
   * '''Recall-affecting default change (round 12):''' `blockPrefix` went
   * 1→2 and `maxBlock` 1,000,000→10,000. Callers relying on the old
   * defaults silently lose (a) all cross-prefix-2 matches and (b) ALL
   * pairs inside any block of 10k–1M distinct names. If your name
   * distribution has hot prefixes, check [[oversizedBlocks]] (or the
   * observe() metric) and raise `maxBlock` / lengthen `blockPrefix`
   * explicitly.
   */
  def fuzzyNamePairs(df: DataFrame, nameCol: String, blockPrefix: Int = 2,
      maxDist: Int = 3, maxBlock: Long = 10000L): DataFrame = {
    require(blockPrefix >= 1, "blockPrefix must be >= 1")
    require(maxDist >= 1, "maxDist must be >= 1")
    require(maxBlock >= 1, "maxBlock must be >= 1")
    val blocked = blockedNames(df, nameCol, blockPrefix)
    // block cap via a windowless count join: the block-count aggregate is
    // tiny (one row per block) and broadcast back onto the name set. The
    // observe() sits BEFORE the size filter so excluded blocks are
    // counted in the metrics even though they never reach the join.
    val sized = blocked.groupBy(col("_blk")).agg(count(lit(1)).as("_bn"))
      .observe(s"graft.entity.${obsSeq.incrementAndGet()}",
        sum(when(col("_bn") > maxBlock, 1L).otherwise(0L)).as("excluded_blocks"),
        sum(when(col("_bn") > maxBlock, col("_bn")).otherwise(0L)).as("excluded_names"))
      .filter(col("_bn") <= maxBlock).drop("_bn")
    // the filtered name set feeds BOTH sides of the self-join, so it is
    // truncated eagerly: the distinct + sizing join runs once, before
    // the self-join's two sides read the materialized blocks, and the
    // observation is filled in when that truncation's action reports
    val inBlock = Materialize.truncate(blocked.join(sized, Seq("_blk")))
    val a = inBlock.select(col("_blk"), col("_nm").as("name_a"))
    val b = inBlock.select(col("_blk"), col("_nm").as("name_b"))
    a.join(b, Seq("_blk"))
      .filter(col("name_a") < col("name_b"))
      // thresholded levenshtein: -1 past maxDist, true distance otherwise
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("name_a"), col("name_b"), col("dist").cast(LongType))
  }

  /**
   * Full entity resolution: fuzzy pairs -> connected components -> one
   * canonical (minimum) name per component. Every distinct normalized
   * name appears exactly once; names with no fuzzy neighbor are their own
   * canonical. Output (name, canon).
   *
   * Components come from [[Dedup.dupClusters]], which sees only the
   * matched-pair graph; singleton names re-attach with a left join.
   *
   * Shares [[fuzzyNamePairs]]' defaults — including the round-12
   * recall-affecting change documented there.
   */
  def resolveEntities(df: DataFrame, nameCol: String, blockPrefix: Int = 2,
      maxDist: Int = 3, maxBlock: Long = 10000L): DataFrame = {
    val pairs = fuzzyNamePairs(df, nameCol, blockPrefix, maxDist, maxBlock)
      .select(col("name_a").as("doc_a"), col("name_b").as("doc_b"))
    val clusters = Dedup.dupClusters(pairs)
      .select(col("doc_id").as("_nm"), col("cluster_id").as("_canon"))
    df.select(norm(nameCol).as("_nm"))
      .filter(length(col("_nm")) > 0).distinct()
      .join(clusters, Seq("_nm"), "left")
      .select(col("_nm").as("name"),
        coalesce(col("_canon"), col("_nm")).as("canon"))
  }
}
