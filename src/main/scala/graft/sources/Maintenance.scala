package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.CheckpointHygiene.{free, materialize}

/** Partitioned-table maintenance: the small-files half of a 100 TB
  * lakehouse. Streaming ingest, per-partition appends (the
  * [[graft.operators.AnnIndex.appendIvfPq]] shape), and skewed
  * dynamic-overwrite writes all accumulate files far below the
  * parquet row-group sweet spot; scans then pay per-file open/footer
  * costs and the driver pays per-file listing. Compaction rewrites
  * ONLY the partitions that need it, through the same idempotent
  * dynamic-partition-overwrite machinery the engine's sinks use
  * ([[GraftSession]] `partitionOverwriteMode=dynamic`), so a
  * concurrent reader never sees a partially-deleted partition and a
  * failed compaction just reruns.
  *
  * Single-level `col=value` Hive layouts (the engine's S8 sink
  * shape). All filesystem access goes through the Hadoop FS API, so
  * any registered scheme works (the SchemeAgnosticSinkSpec
  * guarantee). */
object Maintenance {

  /** Per-partition file census of a Hive-partitioned parquet table:
    * `(partition "col=value", n_files, bytes)`. Driver-side listing —
    * one RPC per partition directory, |partitions| rows. */
  def fileStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val rows = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map { p =>
        val files = fs.listStatus(p.getPath).filter(f => f.isFile &&
          !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        (p.getPath.getName, files.length.toLong, files.map(_.getLen).sum)
      }.toSeq
    rows.toDF("partition", "n_files", "bytes")
  }

  /** Apply a change feed (the [[graft.operators.Relational.snapshotDiff]]
    * output shape: the table's columns plus an `op` column of
    * insert/update/delete) to a Hive-partitioned parquet table,
    * rewriting ONLY the partitions the changes touch — the MERGE-INTO
    * of this engine's plain-parquet lakehouse, and snapshotDiff's
    * apply-side twin (derive the delta, then apply it).
    *
    * Per touched partition: current rows anti-joined against
    * delete/update keys, then unioned with insert/update rows, then
    * dynamic-partition-overwritten (idempotent — a failed apply
    * reruns). Untouched partitions are never read or written. A touched
    * partition that the feed empties entirely is deleted outright:
    * dynamic overwrite cannot rewrite a partition absent from the
    * written data, so without the explicit delete its old files would
    * survive (e.g. a retention feed draining an old date).
    * CONSTRAINT, checked loudly: the partition column is immutable
    * under updates (an update row's partition must be the row's
    * current partition — date-partitioned tables satisfy this by
    * construction); a cross-partition move must be expressed as
    * delete + insert in the feed.
    *
    * A NULL partition value in the feed addresses the
    * `__HIVE_DEFAULT_PARTITION__` directory as a first-class
    * partition: its current rows are read and rewritten through the
    * same anti-join/union path (null-safe membership — see
    * `inTouched`), and its directory is deleted only when the feed
    * genuinely empties it. */
  def applyChanges(spark: SparkSession, path: String, partitionCol: String,
                   keyCols: Seq[String], changes: DataFrame): Unit = {
    require(keyCols.nonEmpty, "applyChanges needs at least one key column")
    val ops = changes.select(col("op")).distinct().collect().map(_.getString(0)).toSet
    require(ops.subsetOf(Set("insert", "update", "delete")),
      s"unknown ops in change feed: ${ops -- Set("insert", "update", "delete")}")
    val touched = changes.select(col(partitionCol).cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq
    if (touched.isEmpty) return
    // Null partition values (the __HIVE_DEFAULT_PARTITION__ directory)
    // need null-safe membership everywhere below: a plain
    // `isin(touched: _*)` NEVER matches a null row (three-valued
    // logic), so a feed touching the null partition would (a) skip
    // reading its current rows, (b) let the misplaced-keys guard pass
    // trivially, and then (c) see the partition as "emptied" and
    // recursively delete its directory — silent data loss. The
    // predicate below treats null as an ordinary partition value and
    // coalesces to false so its NEGATION is also decisive (the guard
    // fails loudly instead of filtering nulls away).
    val touchedNonNull = touched.filter(_ != null)
    val touchesNull = touched.contains(null)
    def inTouched(c: Column): Column = {
      val base =
        if (touchedNonNull.isEmpty) lit(false) else c.isin(touchedNonNull: _*)
      coalesce(if (touchesNull) base || c.isNull else base, lit(false))
    }
    // the immutability guard: any changed key already living OUTSIDE
    // the touched partitions would be silently duplicated (insert/
    // update) or silently survive (delete). One column-pruned
    // (keys, partition) scan semi-joined with the change keys — the
    // honest price of a loud failure instead of quiet corruption.
    val changeKeys = changes.select(keyCols.map(col): _*).distinct()
    val misplaced = spark.read.parquet(path)
      .select((keyCols :+ partitionCol).map(col): _*)
      .join(changeKeys, keyCols, "left_semi")
      .filter(!inTouched(col(partitionCol).cast("string")))
      .limit(1).collect()
    require(misplaced.isEmpty,
      s"change feed touches keys outside its partitions (first: " +
        s"${misplaced.headOption}); express cross-partition moves as delete + insert")
    val current = spark.read.parquet(path)
      .filter(inTouched(col(partitionCol).cast("string")))
    // ALL change keys are removed before re-adding insert/update rows:
    // an insert whose key somehow already exists replaces it instead
    // of duplicating, which is what makes re-applying the same feed
    // converge (idempotence — spec-pinned)
    val removeKeys = changes.select(keyCols.map(col): _*).distinct()
    val upserts = changes.filter(col("op").isin("insert", "update"))
      .select(current.columns.map(col).toIndexedSeq: _*)
    // same read-what-you-overwrite materialization as compaction
    val next = materialize(current.join(removeKeys, keyCols, "left_anti")
      .unionByName(upserts))
    try {
      next.write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(path)
      // dynamic overwrite only rewrites partitions PRESENT in `next`; a
      // feed that deletes every remaining row of a touched partition
      // leaves no rows for it, so its old files would silently survive.
      // Drop those directories explicitly (only after the write lands,
      // so a failed apply leaves the table rereadable and rerunnable).
      val surviving = next.select(col(partitionCol).cast("string"))
        .distinct().collect().map(_.getString(0)).toSet
      val emptied = touched.filterNot(surviving.contains)
      if (emptied.nonEmpty) {
        val root = new Path(path)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        emptied.foreach { v =>
          val dirName =
            if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
            else ExternalCatalogUtils.escapePathName(v)
          fs.delete(new Path(root, s"$partitionCol=$dirName"), true)
        }
      }
    } finally free(next)
  }

  /** Compact every partition whose file count exceeds what
    * `targetBytes` implies (`target_files = max(1, ceil(bytes /
    * targetBytes))`), leaving already-compact partitions byte-for-byte
    * untouched. One Spark job for all victims: rows are salted by a
    * deterministic hash of their content into `target_files` buckets
    * per partition, shuffled once, and rewritten via dynamic
    * overwrite. Returns the census with `target_files` and a
    * `compacted` flag — the no-silent-caps discipline: what was
    * rewritten (and what was skipped) is observable, not inferred.
    *
    * `minFiles` guards churn: a partition is only rewritten when it
    * has at least that many files AND more than its target. */
  def compactPartitions(spark: SparkSession, path: String, partitionCol: String,
                        targetBytes: Long = 128L << 20,
                        minFiles: Int = 2): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    import spark.implicits._
    val stats = fileStats(spark, path).collect().map { r =>
      val bytes = r.getLong(2)
      val target = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
      (r.getString(0), r.getLong(1), bytes, target,
        r.getLong(1) >= minFiles && r.getLong(1) > target)
    }
    val victims = stats.filter(_._5)
    if (victims.nonEmpty) {
      val prefix = partitionCol + "="
      require(victims.forall(_._1.startsWith(prefix)),
        s"table at $path is not partitioned by $partitionCol: " +
          victims.map(_._1).mkString(", "))
      val values = victims.map(_._1.stripPrefix(prefix)).toSeq
      val targets = victims.map(v => (v._1.stripPrefix(prefix), v._4)).toSeq
        .toDF(partitionCol, "__tf")
      val df = spark.read.parquet(path)
        .filter(col(partitionCol).cast("string").isin(values: _*))
      val dataCols = df.columns.filterNot(_ == partitionCol)
      // content-hash salt: deterministic (a retry re-salts identically),
      // spreads each partition's rows over exactly its target bucket
      // count; the shuffle keys are (partition, salt), so each reduce
      // task writes whole output files — no tiny residues
      val saltSrc =
        if (dataCols.isEmpty) lit(0) else hash(struct(dataCols.map(col).toIndexedSeq: _*))
      // materialize BEFORE the overwrite: Spark (rightly) refuses a
      // plan that reads the path it is overwriting; the checkpoint
      // cuts that lineage and bounds what must be held to the victim
      // partitions only — compact in partition batches when victims
      // exceed cluster storage
      val arranged = materialize(df
        .join(broadcast(targets), df(partitionCol).cast("string") ===
          targets(partitionCol).cast("string"))
        .drop(targets(partitionCol))
        .withColumn("__salt", pmod(saltSrc, col("__tf")))
        .repartition(math.max(1, victims.map(_._4).sum.toInt),
          col(partitionCol), col("__salt"))
        .drop("__salt", "__tf"))
      try
        arranged.write.mode(SaveMode.Overwrite)
          .partitionBy(partitionCol).parquet(path)
      finally free(arranged)
    }
    stats.toSeq.toDF("partition", "n_files", "bytes", "target_files", "compacted")
  }

  /** Write `df` as parquet with output files sized AT the target, not
    * at whatever `spark.sql.shuffle.partitions` happens to leave — the
    * write-side twin of [[compactPartitions]] (don't create the small
    * files you'd compact later). The row-count knob Spark exposes
    * (`maxRecordsPerFile`) needs a bytes→rows conversion that depends
    * on the table's actual parquet compression, so: (1) write a
    * `sampleRows`-row probe next to the target and measure REAL
    * encoded bytes/row (schema- and data-aware, unlike logical plan
    * stats, which track uncompressed in-memory width and overshoot
    * parquet by 5-10×); (2) round-robin repartition to
    * ceil(rows/rowsPerFile) so every output file lands near
    * `targetBytes`, with `maxRecordsPerFile` as the hard backstop.
    *
    * Costs one count + one tiny probe write over the naive write; the
    * input is persisted across the three passes and released before
    * returning. Small-sample compression skews conservative (short
    * parquet files dictionary-encode worse, so bytes/row is measured
    * HIGH and files land slightly UNDER target — the safe side of the
    * row-group sweet spot). Unpartitioned layout by design: Hive-
    * partitioned tables size per partition via [[compactPartitions]].
    * Returns a 1-row (total_rows, bytes_per_row, rows_per_file,
    * n_files) audit frame. */
  def sizedWrite(df: DataFrame, path: String, targetBytes: Long = 128L << 20,
                 sampleRows: Int = 10000,
                 mode: SaveMode = SaveMode.Overwrite): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(sampleRows > 0, s"sampleRows must be positive, got $sampleRows")
    val spark = df.sparkSession
    import spark.implicits._
    val cached = df.persist()
    try {
      val total = cached.count()
      if (total == 0L) {
        cached.write.mode(mode).parquet(path)
        return Seq((0L, 0L, 0L, 0L))
          .toDF("total_rows", "bytes_per_row", "rows_per_file", "n_files")
      }
      val probePath = new Path(path + "__sizing_probe")
      val fs = probePath.getFileSystem(spark.sessionState.newHadoopConf())
      val probeN = math.min(total, sampleRows.toLong)
      val (bytesPerRow, rowsPerFile) =
        try {
          cached.limit(probeN.toInt).coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(probePath.toString)
          val probeBytes = fs.listStatus(probePath)
            .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
            .map(_.getLen).sum
          val bpr = math.max(1L, probeBytes / probeN)
          (bpr, math.max(1L, targetBytes / bpr))
        } finally fs.delete(probePath, true)
      val nFiles = ((total + rowsPerFile - 1) / rowsPerFile).toInt
      cached.repartition(nFiles)
        .write.mode(mode)
        .option("maxRecordsPerFile", rowsPerFile)
        .parquet(path)
      Seq((total, bytesPerRow, rowsPerFile, nFiles.toLong))
        .toDF("total_rows", "bytes_per_row", "rows_per_file", "n_files")
    } finally cached.unpersist()
  }

  /** Column-encoding advisor: for each column, along ONE storage
    * order (`orderCol` — a unique total order, normally the write
    * sort key), the run structure and distinctness that decide
    * parquet encoding efficacy: few runs → RLE wins; low distinct →
    * dictionary wins; neither → plain. "Sort THEN write" decisions
    * (clusterByZ, sortWithinPartitions) should be made from this
    * table, not vibes.
    *
    * One [[graft.operators.Relational.globalRowNumber]] two-pass
    * (never a partition-less window) + one rn↔rn−1 self-join
    * evaluates EVERY requested column's run boundaries in a single
    * ordered pass; output is |cols| rows. Advisors run on samples —
    * point this at a representative slice, not 100 TB. */
  def encodingStats(df: DataFrame, cols: Seq[String],
      orderCol: String): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val base = graft.operators.Relational.globalRowNumber(
      df.select((orderCol +: cols).distinct.map(col): _*),
      Seq(col(orderCol)), "__rn")
    val prev = base.select(((col("__rn") + 1).as("__rn") +:
      cols.map(c => col(c).as(s"__p_$c"))): _*)
    val joined = base.join(prev, Seq("__rn"), "left")
      .persist()
    try {
      val out = cols.map { c =>
        joined.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col(c)).as("n_distinct"),
          sum(when(col(s"__p_$c").isNull ||
            !(col(c) <=> col(s"__p_$c")), 1L).otherwise(0L))
            .as("n_runs"))
          .withColumn("column", lit(c))
      }.reduce(_ unionByName _)
        .select(col("column"), col("n_rows"), col("n_distinct"),
          col("n_runs"),
          expr("(1000 * n_runs) div n_rows").as("runs_milli"),
          expr("(1000 * n_distinct) div n_rows").as("distinct_milli"))
      materialize(out)
    } finally joined.unpersist()
  }

  /** Order- and partition-invariant dataset content fingerprint —
    * "did this rewrite/compaction/migration change ANY row": each row
    * hashes to the first 48 bits of md5 over its chr(1)-joined
    * string-cast columns (chr(0) for null — distinguishable from the
    * empty string), and the dataset reduces to (count, xor, min,
    * max) of those hashes. XOR is commutative/associative and
    * overflow-free, so the fingerprint is identical under any
    * partitioning, ordering, or re-bucketing — the invariant a
    * storage-layout change must preserve — while any single-row
    * change flips it with probability 1 − 2⁻⁴⁸.
    *
    * One scan, one 4-value aggregate, nothing driver-sized. Caller
    * contract: columns must string-cast deterministically across
    * engines (ints/strings/booleans do; cast doubles/timestamps to
    * integer lanes first — the oracle discipline). */
  def datasetFingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "fingerprint needs at least one column")
    val parts = cols.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000")))
    val h = conv(substring(md5(concat_ws("\u0001", parts: _*)), 1, 12),
      16, 10).cast("long")
    df.select(h.as("__h")).agg(
      count(lit(1)).as("n_rows"),
      expr("bit_xor(__h)").as("xor_hash"),
      min(col("__h")).as("min_hash"),
      max(col("__h")).as("max_hash"))
  }

  /** Decomposable-aggregate partials for `valueCol` at `groupCols`
    * grain: (n, sum — milli-floored BIGINT, min, max). The summary
    * row format [[incrementalAggRefresh]] maintains; building it is
    * the LAST full scan the base data ever needs. */
  def aggPartials(df: DataFrame, groupCols: Seq[String],
      valueCol: String): DataFrame = {
    require(groupCols.nonEmpty, "aggPartials needs at least one group column")
    val v = floor(col(valueCol) * lit(1000)).cast("long")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(v).as("n"), coalesce(sum(v), lit(0L)).as("sum_milli"),
        min(v).as("min_milli"), max(v).as("max_milli"))
  }

  /** Incremental aggregate-table refresh for INSERT-ONLY deltas: fold
    * a new batch into an existing [[aggPartials]] summary WITHOUT
    * rescanning the base data — count/sum add, min/max combine; every
    * partial here is decomposable, which is exactly why the summary
    * stores (n, sum, min, max) and not avg. The materialized-view
    * maintenance step every reporting pipeline needs at 100 TB: cost
    * is O(|delta| + |summary|), and the summary is group-grain, not
    * row-grain. (Deletes/updates need the change-feed path
    * [[applyChanges]] plus a rebuild of the touched groups — min/max
    * are not decomposable under retraction; this method is the
    * append-only fast path and says so.)
    *
    * Contract: `summary` has exactly [[aggPartials]]' schema; groups
    * new in the delta appear, untouched groups pass through
    * unchanged (same rows, no rewrite amplification). One shuffle of
    * the delta to group grain + one summary-sized outer merge. */
  def incrementalAggRefresh(summary: DataFrame, delta: DataFrame,
      groupCols: Seq[String], valueCol: String): DataFrame = {
    val d = aggPartials(delta, groupCols, valueCol)
      .withColumnsRenamed(Map("n" -> "__dn", "sum_milli" -> "__ds",
        "min_milli" -> "__dmin", "max_milli" -> "__dmax"))
    summary.join(d, groupCols, "full_outer")
      .select(groupCols.map(col) ++ Seq(
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n"),
        (coalesce(col("sum_milli"), lit(0L))
          + coalesce(col("__ds"), lit(0L))).as("sum_milli"),
        least(col("min_milli"), col("__dmin")).as("min_milli"),
        greatest(col("max_milli"), col("__dmax")).as("max_milli")): _*)
  }
}
