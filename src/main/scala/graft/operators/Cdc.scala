package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Changelog compaction — the lakehouse ingest pair every 100 TB pipeline
 * runs nightly: latest-wins upsert compaction (CDC "merge") and SCD
 * Type 2 validity-interval history builds.
 */
object Cdc {

  /**
   * Latest-wins compaction: one row per key — the version with the
   * greatest `(versionCol, tieBreakCols...)` ordering. The caller must
   * make that ordering total per key (a changelog usually has a unique
   * (key, version) or a sequence-number tiebreak); equal orderings pick
   * an arbitrary winner, as any max does.
   *
   * Implemented as `max_by(struct(payload), struct(version, tiebreaks))`
   * — a hash aggregation with map-side partial combine, so the exchange
   * carries ONE candidate row per key per input partition regardless of
   * how many versions the changelog holds. The window `row_number() = 1`
   * form would instead sort-shuffle every version of every key; at
   * compaction scale (billions of updates over millions of keys) the
   * aggregate form is the only one that doesn't move the whole log.
   */
  def latestByKey(df: DataFrame, keyCols: Seq[String], versionCol: String,
      tieBreakCols: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "latestByKey needs at least one key column")
    val payload = df.columns.filterNot(keyCols.contains).toSeq
    require(payload.contains(versionCol), s"version column '$versionCol' " +
      "must exist and not be a key column")
    val ord = struct((versionCol +: tieBreakCols).map(col): _*)
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*), ord).as("_latest"))
      .select(keyCols.map(col) ++
        payload.map(c => col(s"_latest.`$c`").as(c)): _*)
  }

  /**
   * MERGE a change batch into a compacted snapshot — the nightly lakehouse
   * upsert: union, latest-wins per key, tombstones RETAINED. The
   * incremental contract (spec-pinned and oracle-checked): for any split
   * of a changelog into before/after,
   * `applyChanges(latestByKey(before), after) == latestByKey(whole log)`
   * — the incremental job equals the global recompute, so nightly merges
   * never drift from a from-scratch rebuild.
   *
   * `deleteCol` (boolean) marks tombstones. They stay in the OUTPUT
   * (and must stay in the stored snapshot): a dropped tombstone would
   * let an older, late-arriving change resurrect its key. Serve with
   * `.filter(!col(deleteCol))`; compact tombstones away only once the
   * pipeline's lateness horizon has passed (the Cassandra gc_grace
   * discipline, reference-adjacent by design).
   *
   * Scale shape = [[latestByKey]]'s: one map-side-combined aggregation
   * over snapshot ∪ changes; the snapshot side is already one row per
   * key, the changes side a (typically much smaller) delta.
   */
  def applyChanges(snapshot: DataFrame, changes: DataFrame,
      keyCols: Seq[String], versionCol: String,
      tieBreakCols: Seq[String] = Nil): DataFrame =
    latestByKey(snapshot.unionByName(changes), keyCols, versionCol, tieBreakCols)

  /**
   * SCD Type 2 history: orders each key's changelog by
   * `(versionCol, tieBreakCols...)`, compresses runs whose tracked
   * attributes did not change (null-safe compare), and emits validity
   * intervals `[valid_from, valid_to)` — `valid_to` null on the current
   * row. Two window passes over the SAME partitioning+ordering, so the
   * plan carries one exchange and the filter between them preserves the
   * sort; per-task state is one key's history (skew bounded by the
   * busiest key, the inherent limit of any per-key ordered pass).
   */
  def scd2(df: DataFrame, keyCols: Seq[String], versionCol: String,
      trackCols: Seq[String], tieBreakCols: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty, "scd2 needs at least one key column")
    require(trackCols.nonEmpty, "scd2 needs at least one tracked column")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((versionCol +: tieBreakCols).map(col): _*)
    val tracked = struct(trackCols.map(col): _*)
    df.withColumn("_prev", lag(tracked, 1).over(w))
      .filter(!(col("_prev") <=> tracked))
      .withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lead(col(versionCol), 1).over(w))
      .select((keyCols ++ trackCols).map(col) :+
        col("valid_from") :+ col("valid_to"): _*)
  }
}
