package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.iso_duration_to_seconds

/** Silver-layer cleaning operators (SURVEY.md §2.2–§2.3): each is a
  * pure `DataFrame => DataFrame` so Catalyst sees one plan end-to-end
  * and pushdown/pruning stay automatic (§4.1).
  */
object Clean {

  /** Exactly the characters Python's `str.isspace()` accepts, i.e.
    * what the reference's argument-less `str.strip()` removes
    * (silver_clean_comments.py:45-47). Spark's
    * one-argument `trim` strips U+0020 only. */
  private[operators] val pyWhitespace: String =
    (Seq(0x09, 0x0a, 0x0b, 0x0c, 0x0d, 0x1c, 0x1d, 0x1e, 0x1f, 0x20, 0x85,
      0xa0, 0x1680) ++ (0x2000 to 0x200a) ++
      Seq(0x2028, 0x2029, 0x202f, 0x205f, 0x3000)).map(_.toChar).mkString

  /** Null-safe Python-`strip()` + drop-empty filter on a text column
    * (/root/reference/silver_clean_comments.py:45-47). */
  def trimNonEmpty(df: DataFrame, textCol: String): DataFrame =
    df.withColumn(textCol, trim(col(textCol), pyWhitespace))
      .filter(col(textCol).isNotNull && col(textCol) =!= "")

  /** Drop records carrying an error marker
    * (/root/reference/silver_clean_comments.py:42-43). */
  def dropErrors(df: DataFrame, errorCol: String = "error"): DataFrame =
    if (df.columns.contains(errorCol)) df.filter(col(errorCol).isNull).drop(errorCol)
    else df

  /** `c.get(field, default)` semantics
    * (/root/reference/silver_clean_comments.py:54). */
  def withDefault(df: DataFrame, c: String, default: Any): DataFrame =
    df.withColumn(c, coalesce(col(c), lit(default)))

  /** safe_int: cast-to-long, null on failure
    * (/root/reference/silver_transform_videos.py:12-16). try_cast is
    * exactly Python's try/except-int under non-ANSI semantics. */
  def safeLong(c: Column): Column = c.cast("string").try_cast("long")

  /** Unwrap the legacy `{meta..., items:[...]}` envelope into a bare
    * record table (/root/reference/final_kpis.py:33-34 reads both
    * shapes; the engine normalizes at ingest — SURVEY.md §1.1). */
  def explodeEnvelope(df: DataFrame, itemsCol: String = "items"): DataFrame =
    df.select(explode(col(itemsCol)).as("__item")).select(col("__item.*"))

  /** The reference's polymorphic gold read
    * (/root/reference/final_kpis.py:33-34: `videos if isinstance(videos,
    * list) else videos.get("items", [])`): a frame that still carries a
    * legacy `items` envelope is unwrapped; a bare record table passes
    * through unchanged. */
  def unwrapIfEnvelope(df: DataFrame, itemsCol: String = "items"): DataFrame =
    if (df.schema.fields.exists(f => f.name == itemsCol &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
      explodeEnvelope(df, itemsCol)
    else df

  /** Wrap a record table back into the legacy `{meta..., items:[...]}`
    * envelope (SURVEY.md §2.1 S9 write side — the reference's payload
    * construction at /root/reference/function_app.py:75-80,143-148).
    * One row out per input partition-collapse; only for legacy-format
    * interchange, never for engine-internal storage. */
  def wrapEnvelope(df: DataFrame, meta: Map[String, Any]): DataFrame = {
    val metaCols = meta.toSeq.map { case (k, v) => lit(v).as(k) }
    df.agg(collect_list(struct(df.columns.map(col): _*)).as("items"))
      .select((metaCols :+ size(col("items")).cast("long").as("count") :+ col("items")): _*)
  }

  /** Silver videos: the reference's nested projection + rename + safe
    * casts (/root/reference/silver_transform_videos.py:23-38), plus the
    * engine's duration_seconds enrichment (custom expression). */
  def silverizeVideos(bronzeItems: DataFrame): DataFrame =
    bronzeItems.select(
      col("id").as("video_id"),
      col("snippet.title").as("title"),
      to_timestamp(col("snippet.publishedAt")).as("published_at"),
      col("snippet.channelTitle").as("channel_title"),
      col("contentDetails.duration").as("duration"),
      iso_duration_to_seconds(col("contentDetails.duration")).as("duration_seconds"),
      safeLong(col("statistics.viewCount")).as("view_count"),
      safeLong(col("statistics.likeCount")).as("like_count"),
      safeLong(col("statistics.commentCount")).as("comment_count"))

  /** Silver comments: error filter, trim+non-empty, likes default 0
    * (/root/reference/silver_clean_comments.py:41-56). */
  def silverizeComments(bronzeItems: DataFrame): DataFrame = {
    val noErr = dropErrors(bronzeItems)
    val trimmed = trimNonEmpty(noErr, "text")
    trimmed.select(
      col("videoId"), col("commentId"),
      col("author"), col("text"),
      coalesce(col("likes"), lit(0L)).as("likes"),
      col("publishedAt"))
  }
}
