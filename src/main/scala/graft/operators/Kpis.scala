package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gold-layer KPI operators (/root/reference/final_kpis.py).
  */
object Kpis {

  /** The reference's `count_sent` (/root/reference/final_kpis.py:41-46):
    * GROUP BY lower(coalesce(col,'unknown')) → COUNT(*). One hash
    * aggregate with map-side partial aggregation. */
  def countByNormalized(df: DataFrame, c: String,
                        outKey: String = "key", outCount: String = "n"): DataFrame =
    df.groupBy(normalized(c).as(outKey)).agg(count(lit(1)).as(outCount))

  private def normalized(c: String): Column = lower(coalesce(col(c), lit("unknown")))

  /** Export a string→long count map as a key-sorted array of (key, n)
    * structs — the hashable cross-engine projection of the map shape:
    * engines don't agree on map representation, but an ordered entry
    * list is plain data both sides hash identically (the q38/q73
    * oracle pattern). */
  def sortedEntries(m: Column): Column =
    transform(array_sort(map_entries(m)),
      e => struct(e.getField("key").as("key"), e.getField("value").as("n")))

  /** Scalar projection of [[sortedEntries]]: `"k1=n1,k2=n2"`. The
    * driver's comparator sorts result rows column-wise in pandas,
    * which cannot order array cells — so the oracle-facing export
    * must be flat scalars. A key-sorted `key=n` join is the same
    * information, still deterministic, and hashable everywhere. */
  def entriesString(m: Column): Column =
    array_join(
      transform(array_sort(map_entries(m)),
        e => concat(e.getField("key"), lit("="), e.getField("value"))),
      ",")

  /** Full KPI record (/root/reference/final_kpis.py:48-55): one row —
    * totals + two sentiment-count maps + generation timestamp.
    *
    * Plan shape: both inputs are projected to (side, key) with a
    * boolean side flag (true = videos) and unioned; ONE hash aggregate
    * counts (side, key) with map-side partial aggregation, and ONE
    * global aggregate folds those counts into the record: per side,
    * `sum(n)` over that side's rows and a key-sorted string→long map
    * built from `collect_list` of that side's (key, n) structs (the
    * other side's rows are nulls, which `collect_list` skips). Two
    * exchanges and no join, so a record costs two shuffle-map jobs
    * whatever the data volume, and nothing here grows with it.
    *
    * Semantics are the reference's `count_sent` per input: the key is
    * `lower(coalesce(col, 'unknown'))` ([[countByNormalized]]). A
    * global aggregate always returns one row, so an empty input gives
    * a null total and an empty map for its side, and two empty inputs
    * still give one record. `generatedAtUtc` is caller-supplied so
    * outputs stay deterministic (SURVEY.md §7.4 non-determinism ban). */
  def kpiRecord(videos: DataFrame, comments: DataFrame,
                videoSentCol: String, commentSentCol: String,
                ingestDate: String, generatedAtUtc: String): DataFrame = {
    def tagged(df: DataFrame, c: String, isVideo: Boolean): DataFrame =
      df.select(lit(isVideo).as("side"), normalized(c).as("key"))
    val counts = tagged(videos, videoSentCol, isVideo = true)
      .unionByName(tagged(comments, commentSentCol, isVideo = false))
      .groupBy(col("side"), col("key")).agg(count(lit(1)).as("n"))
    def onSide(isVideo: Boolean, e: Column): Column =
      when(col("side") === lit(isVideo), e)
    def total(isVideo: Boolean): Column = sum(onSide(isVideo, col("n")))
    def counted(isVideo: Boolean): Column = map_from_entries(array_sort(
      collect_list(onSide(isVideo, struct(col("key"), col("n"))))))
    counts.agg(
      lit(ingestDate).as("ingest_date"),
      total(isVideo = true).as("total_videos"),
      total(isVideo = false).as("total_comments"),
      counted(isVideo = true).as("video_sentiment_counts"),
      counted(isVideo = false).as("comment_sentiment_counts"),
      lit(generatedAtUtc).as("generated_at_utc"))
  }
}
