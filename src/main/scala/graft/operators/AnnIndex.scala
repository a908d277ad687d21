package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index — the build-once/probe-many shape a real
  * deployment runs at 100 TB.
  *
  * [[Similarity.ivfPqTopK]] trains and encodes per call, which is the
  * right shape for a one-shot query but wrong for a serving index:
  * training is a bounded-sample job you run once, encoding is one full
  * corpus pass you run once, and every query batch after that should
  * touch nothing but the persisted (neighbor_id, list, codes) table —
  * a few BYTES per corpus row — plus the model constants. This object
  * materializes exactly that split:
  *
  *  - `<path>/codes/`: the inverted file, parquet, partitioned by
  *    `list` so a probe with `nprobe` lists prunes to nprobe/nlist of
  *    the index files before any shuffle (AnnIndexSpec pins the
  *    dynamicpruningexpression partition filter on the codes scan).
  *  - `<path>/model/`: one parquet row carrying (nlist, m, ksub, dim)
  *    and the coarse centroids + PQ codebooks (dim·(nlist+ksub)
  *    doubles — driver-bounded by construction).
  *
  * Probing routes through the SAME [[Similarity.ivfPqProbe]] the
  * in-memory operator uses, so persisted and fresh indexes cannot
  * drift semantically (AnnIndexSpec pins byte equality of the two
  * paths under a shared model).
  */
object AnnIndex {

  /** The driver-side model of a persisted index. Sizes are bounded by
    * construction (dim·nlist + dim·ksub doubles), never by the corpus. */
  case class IvfPqModel(nlist: Int, m: Int, ksub: Int, dim: Int,
                        coarse: Array[Array[Double]],
                        books: Array[Array[Array[Double]]])

  /** Train (on a bounded deterministic sample when `maxTrainRows` > 0
    * — see [[Similarity.kmeansCentroids]]), encode the corpus once,
    * and persist codes + model under `path`. Returns the model so the
    * builder can probe immediately without re-reading it. */
  def buildIvfPq(corpus: DataFrame, idCol: String, vecCol: String,
                 path: String,
                 nlist: Int = 16, m: Int = 8, ksub: Int = 32,
                 maxTrainRows: Int = 0): IvfPqModel = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = corpus.select(size(col(vecCol))).head.getInt(0)
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val coarse = Similarity.kmeansCentroids(corpus, idCol, vecCol, nlist,
      maxTrainRows = maxTrainRows)
    val books = Similarity.pqCodebooks(corpus, idCol, vecCol, m, ksub, dim,
      maxTrainRows = maxTrainRows)
    // ONE corpus pass writes the inverted file; partitioning by list
    // is what makes the serving read prunable (a probe of nprobe
    // lists reads nprobe/nlist of the files, enforced by partition
    // pruning, not trusted)
    Similarity.ivfPqEncode(corpus, idCol, vecCol, coarse, books, m)
      .select(col("neighbor_id"), col("__list").as("list"),
        col("__codes").as("codes"))
      .write.mode(SaveMode.Overwrite).partitionBy("list")
      .parquet(s"$path/codes")
    Seq((nlist, m, ksub, dim,
        coarse.map(_.toSeq).toSeq,
        books.map(_.map(_.toSeq).toSeq).toSeq))
      .toDF("nlist", "m", "ksub", "dim", "coarse", "books")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/model")
    IvfPqModel(nlist, m, ksub, dim, coarse, books)
  }

  /** Load the model row back. One bounded collect (the model is
    * dim·(nlist+ksub) doubles regardless of corpus size). */
  def loadIvfPqModel(spark: SparkSession, path: String): IvfPqModel = {
    // collection.Seq, not the immutable default: Row materializes
    // nested arrays as mutable.ArraySeq
    import scala.collection.{Seq => CSeq}
    val r = spark.read.parquet(s"$path/model").head
    IvfPqModel(
      r.getAs[Int]("nlist"), r.getAs[Int]("m"),
      r.getAs[Int]("ksub"), r.getAs[Int]("dim"),
      r.getAs[CSeq[CSeq[Double]]]("coarse").map(_.toArray).toArray,
      r.getAs[CSeq[CSeq[CSeq[Double]]]]("books")
        .map(_.map(_.toArray).toArray).toArray)
  }

  /** Append new rows to a persisted index WITHOUT retraining: encode
    * them under the STORED model and append to the partitioned codes
    * table — the daily-ingest path of a serving index (training is a
    * once job; ingest must not repeat it). One pass over `newRows`,
    * bytes-only output, existing partitions untouched (parquet
    * append adds files under each `list=` directory). Appended
    * vectors are quantized by centroids/codebooks trained on the
    * original distribution — the standard IVF trade; rebuild when
    * drift accumulates. Callers own id uniqueness: appending an id
    * already present yields two index entries for it. */
  def appendIvfPq(newRows: DataFrame, idCol: String, vecCol: String,
                  path: String): Unit = {
    val spark = newRows.sparkSession
    val model = loadIvfPqModel(spark, path)
    val dim = newRows.select(size(col(vecCol))).head.getInt(0)
    require(dim == model.dim,
      s"appended vectors have dim $dim, index was built with dim ${model.dim}")
    Similarity.ivfPqEncode(newRows, idCol, vecCol, model.coarse, model.books,
        model.m)
      .select(col("neighbor_id"), col("__list").as("list"),
        col("__codes").as("codes"))
      .write.mode(SaveMode.Append).partitionBy("list")
      .parquet(s"$path/codes")
  }

  /** REPLACEMENT-semantics upsert of a persisted index — the
    * [[graft.operators.Similarity.upsertIvf]] contract applied to the
    * on-disk layout (r17; [[appendIvfPq]] stays the documented
    * caller-owns-uniqueness fast append): a delta id REPLACES its
    * stored entry, `deletedIds` drop, an id in both ends up present
    * (the delta is the newer fact), and duplicate ids WITHIN one
    * delta refuse loudly (no version order exists). Composes the
    * existing primitives in the only order that preserves
    * replacement on disk:
    *  1. tombstone ids(Δ) ∪ D ([[deleteIvfPq]]),
    *  2. [[compactIvfPq]] — physically drops them (victims-only
    *     partition rewrite) and clears the tombstones; skipping this
    *     and appending directly would leave id-only tombstones that
    *     swallow the NEW rows too,
    *  3. [[appendIvfPq]] the delta (encoded under the STORED model —
    *     run [[graft.operators.Similarity.ivfDriftCensus]] first to
    *     see when drift says re-train).
    * Cost: one delta-sized encode pass + rewrites of only the list
    * partitions holding a replaced/deleted id. */
  def upsertIvfPq(deltaRows: DataFrame, idCol: String, vecCol: String,
                  path: String, deletedIds: DataFrame,
                  deletedIdCol: String): Unit = {
    val spark = deltaRows.sparkSession
    val dups = deltaRows.groupBy(col(idCol))
      .count().filter(col("count") > 1).limit(1).count()
    require(dups == 0,
      "upsertIvfPq: duplicate ids within one delta batch — merge" +
        " order is undefined; split into sequential batches")
    deleteIvfPq(
      deltaRows.select(col(idCol))
        .unionByName(deletedIds.select(col(deletedIdCol).as(idCol))),
      idCol, path)
    compactIvfPq(spark, path)
    appendIvfPq(deltaRows, idCol, vecCol, path)
  }

  /** Mark ids deleted WITHOUT touching the codes table: tombstone
    * rows append to `<path>/tombstones/` (id-only parquet — bytes per
    * delete), and [[probeIvfPq]] anti-joins them out until
    * [[compactIvfPq]] physically drops the entries. This is the
    * standard serving-index delete shape (FAISS `remove_ids` rebuilds
    * the inverted lists; LSM stores tombstone-then-compact — at 100 TB
    * the latter is the only one that doesn't turn every delete into a
    * table rewrite). Deleting an id not in the index is a no-op by
    * construction (the anti-join matches nothing). Idempotent:
    * re-appending the same tombstone changes nothing semantically. */
  def deleteIvfPq(ids: DataFrame, idCol: String, path: String): Unit =
    ids.select(col(idCol).as("neighbor_id")).distinct()
      .write.mode(SaveMode.Append).parquet(s"$path/tombstones")

  /** The live tombstone set, or None when the index has none (fresh
    * build, or just compacted). */
  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Physically drop tombstoned entries: rewrite ONLY the `list=`
    * partitions that actually hold a tombstoned id (victims-only — a
    * delete feed touching 3 of 4096 lists rewrites 3 directories),
    * then clear the tombstone table. A list emptied entirely loses its
    * directory (dynamic overwrite can't rewrite a partition absent
    * from the written data — same explicit-delete discipline as
    * [[graft.sources.Maintenance.applyChanges]]). Probe results are
    * identical before and after (spec-pinned): compaction reclaims
    * bytes and probe-time anti-join work, never changes answers.
    * Idempotent — a failed compaction reruns (tombstones are cleared
    * only after the codes rewrite lands). */
  def compactIvfPq(spark: SparkSession, path: String): Unit = {
    tombstones(spark, path).foreach { ts =>
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val codes = spark.read.parquet(s"$path/codes")
      // victim lists: one column-pruned semi-join, |victims| ≤ nlist
      val victims = codes.join(ts, Seq("neighbor_id"), "left_semi")
        .select(col("list")).distinct().collect().map(_.get(0))
      if (victims.nonEmpty) {
        // read-what-you-overwrite: materialize before rewriting
        val next = CheckpointHygiene.materialize(
          codes.filter(col("list").isin(victims.toIndexedSeq: _*))
            .join(ts, Seq("neighbor_id"), "left_anti"))
        // force dynamic overwrite for this write only, whatever the
        // session says — static mode would silently DROP every
        // non-victim partition, and the session conf is shared
        next.write.mode(SaveMode.Overwrite).partitionBy("list")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(s"$path/codes")
        val surviving = next.select(col("list")).distinct()
          .collect().map(_.get(0)).toSet
        victims.filterNot(surviving).foreach { v =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/codes/list=$v"), true)
        }
      }
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/tombstones"), true)
    }
  }

  /** Probe a persisted index: read codes (partition-pruned to the
    * probed lists), drop any tombstoned entries (anti-join against the
    * id-only tombstone table — bounded by compaction cadence, and AQE
    * broadcasts it while it's small), run the shared ADC +
    * exact-re-rank pipeline. `corpus` supplies true vectors for the
    * |queries|·refine·k re-rank join only — the index never stores
    * embeddings. */
  def probeIvfPq(queries: DataFrame, corpus: DataFrame, path: String,
                 queryId: String, queryVec: String,
                 corpusId: String, corpusVec: String,
                 k: Int, nprobe: Int = 4, refine: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    val model = loadIvfPqModel(spark, path)
    val all = spark.read.parquet(s"$path/codes")
    val live = tombstones(spark, path)
      .fold(all)(ts => all.join(ts, Seq("neighbor_id"), "left_anti"))
    val encoded = live
      .select(col("neighbor_id"),
        col("list").cast("int").as("__list"), col("codes").as("__codes"))
    Similarity.ivfPqProbe(encoded, queries, corpus,
      queryId, queryVec, corpusId, corpusVec,
      k, nprobe, refine, model.coarse, model.books, model.m)
  }
}
