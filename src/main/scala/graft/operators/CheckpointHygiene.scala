package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.storage.StorageLevel

/** The engine's materialization substrate: every DataFrame checkpoint
  * is made here, once, instead of at each call site — the iterative
  * kernels' per-round state, the one-shot "read it twice, compute it
  * once" materializations, and the read-what-you-overwrite cuts of
  * the table rewriters.
  *
  *  - [[materialize]] checkpoints a frame eagerly, with any metrics
  *    (a row count, a normalizer sum, a fixpoint fingerprint) fused
  *    into the same job through `observe` — no separate count or
  *    collect per round. The checkpoint is reliable when the session
  *    has a checkpoint dir (it survives executor loss) and
  *    executor-local otherwise.
  *  - [[Rolling]] holds an iteration's state: each advance
  *    materializes the next frame and frees the one it replaces, so
  *    peak storage is two states, not one per round.
  *  - `reroot` gives the checkpoint fresh attribute ids, for loops
  *    that re-join frames descending from one table (Spark's
  *    ambiguous-self-join check trips on those after a few rounds);
  *    [[free]] still reaches the checkpointed RDD under it.
  *  - [[broadcastIfSmall]] and [[persistForKey]] decide, from a row
  *    count the kernel knows, whether a state frame is broadcast and
  *    whether a cache is laid out by its join key.
  *
  * [[free]] is the release for every checkpoint made here.
  * `Dataset.unpersist` cannot free them: checkpoint blocks are
  * RDD-level, not cacheManager entries, so they otherwise survive
  * until a driver GC lets ContextCleaner notice (on a long-lived
  * session that pins every superseded snapshot in the storage
  * region). Spark logs one "was locally checkpointed" warning per
  * freed local checkpoint. */
private[graft] object CheckpointHygiene {

  /** Row bound for [[broadcastIfSmall]]: a million skinny state rows
    * build a 16–24 MB broadcast. */
  val BroadcastMaxRows = 1000000L

  /** Row count from which [[persistForKey]] lays its cache out by
    * key. */
  val KeyedCacheMinRows = 200000L

  /** Free the blocks behind a checkpointed frame — also a re-rooted
    * one, whose plan reads the checkpoint through row conversions.
    * Safe only once nothing will read the frame again. */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => release(l.rdd)
      case _ => ()
    }

  /** Unpersists the first persisted or checkpointed RDD down the
    * one-to-one chain from `rdd`. */
  @scala.annotation.tailrec
  private def release(rdd: RDD[_]): Unit =
    if (rdd.getStorageLevel != StorageLevel.NONE || rdd.isCheckpointed)
      rdd.unpersist(blocking = false)
    else rdd.dependencies match {
      case Seq(d: org.apache.spark.OneToOneDependency[_]) => release(d.rdd)
      case _ => ()
    }

  /** `df` checkpointed now; `reroot` gives it fresh attribute ids. */
  def materialize(df: DataFrame, reroot: Boolean = false): DataFrame =
    checkpoint(df, reroot, Nil)._1

  /** `df` checkpointed now, with `metrics` (aliased aggregate
    * columns) computed by the same job; they come back by alias. */
  def materialize(df: DataFrame, metrics: Seq[Column]): (DataFrame, Map[String, Any]) =
    checkpoint(df, reroot = false, metrics)

  private def checkpoint(df: DataFrame, reroot: Boolean,
      metrics: Seq[Column]): (DataFrame, Map[String, Any]) = {
    val obs = org.apache.spark.sql.Observation()
    val observed = if (metrics.isEmpty) df else df.observe(obs, metrics.head, metrics.tail: _*)
    val ck =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) observed.checkpoint()
      else observed.localCheckpoint()
    val out = if (reroot) ck.sparkSession.createDataFrame(ck.rdd, ck.schema) else ck
    (out, if (metrics.isEmpty) Map.empty else obs.get)
  }

  /** An iteration's state. Each advance materializes the next frame
    * and frees the one it replaces; the frame it last returned stays
    * valid until the next advance or [[release]], so a kernel's
    * result may be that last frame. */
  final class Rolling(reroot: Boolean = false) {
    private var last: DataFrame = null

    def advance(df: DataFrame): DataFrame = advance(df, Nil)._1

    /** As [[advance]], with `metrics` observed as [[materialize]] does. */
    def advance(df: DataFrame, metrics: Seq[Column]): (DataFrame, Map[String, Any]) = {
      val next = checkpoint(df, reroot, metrics)
      release()
      last = next._1
      next
    }

    def release(): Unit = {
      if (last != null) free(last)
      last = null
    }
  }

  /** `df` with a broadcast hint when the kernel knows it holds at
    * most `rows` rows, `rows` ≤ [[BroadcastMaxRows]]. Checkpointed
    * state carries no statistics, so the planner assumes it enormous
    * and plans a sort-merge join that re-sorts the persisted edge
    * cache every round; the hint restores the broadcast join the
    * statistics would have picked. */
  def broadcastIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows >= 0 && rows <= BroadcastMaxRows) broadcast(df) else df

  /** `df` cached for repeated per-iteration joins on `key`, and its
    * row count. From [[KeyedCacheMinRows]] rows the cache is
    * re-laid-out hash(`key`) first, so every iteration's probe and
    * every `groupBy(key)` reads it with no further exchange — at
    * 100 TB, `iterations` full-edge shuffles saved for one extra
    * cache pass. Below it the adaptive layout stands: a fixture-sized
    * fixpoint reads its cache dozens of times, and pinning many
    * near-empty partitions costs more task launches than the
    * (broadcast-joined) exchanges could save. */
  def persistForKey(df: DataFrame, key: String): (DataFrame, Long) = {
    val base = df.persist()
    val n = base.count()
    if (n >= KeyedCacheMinRows) {
      val keyed = base.repartition(col(key)).persist()
      keyed.count()
      base.unpersist()
      (keyed, n)
    } else (base, n)
  }
}
