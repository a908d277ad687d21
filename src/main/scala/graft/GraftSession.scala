package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * These settings are chosen for the 100-TB posture described in
  * SURVEY.md §7.4: AQE on (runtime shuffle coalescing + skew-join
  * splitting), dynamic partition overwrite (idempotent per-partition
  * reruns, mirroring the reference's `overwrite=True` sinks —
  * /root/reference/function_app.py:26-29), UTC session time zone for
  * oracle parity.
  */
object GraftSession {

  /** Apply graft defaults to an existing builder (used by Bench/Verify
    * which own master/parallelism settings). */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet stores TIMESTAMP(NANOS); Spark only reads nanos via
    // the legacy long mapping. Set once at construction so Tables.events
    // never has to flip session config mid-read (a session-global side
    // effect). Other tables are unaffected: none carry nanos timestamps.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.compression.codec", "zstd")
    .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
    // Shuffle writer policy: Spark default (bypassMergeThreshold=200).
    // r17 shipped bypassMergeThreshold=0 off a single-stage microbenchmark;
    // the driver's full-suite bench at local[32]/sf0.1 regressed 220->349 s
    // with cpu~wall on every blowup and the 8-core run BEATING 32 cores —
    // the UnsafeShuffleWriter's per-task execution-memory appetite under
    // 32-way concurrency is exactly that signature. Reverted per r17
    // verdict item 1; any future shuffle-writer policy change must carry
    // an A/B/A at driver settings (full suite, cold JVM).
    //
    // Compiled-code cache size. Spark keys generated classes on
    // (context class loader, code text), and in local mode the driver's
    // shuffle-exchange threads and the executor task threads carry
    // different loaders, so every distinct text takes two entries. One
    // iterative-kernels pass (q208 bfsLevels + q155 logistic training,
    // sf0.01, local[4]; measured while both still planned joins every
    // iteration, before logisticTrainInt became one tree aggregate per
    // iteration and bfsLevels a vertex-partitioned RDD frontier) compiled 829 times over only 65 distinct texts,
    // ~130 keys reused in the same cyclic order every call: the default
    // 100-entry LRU evicted each key before it came round again, so
    // every warm pass re-ran Janino on all 65 texts (~0.5 s of ~2.9
    // CPU-s) and HotSpot re-JITted the new classes. 1000 entries holds
    // that working set 7x over; warm passes then compile 0 classes and
    // the pass's CPU time drops ~25%. Static conf: read once, when
    // Spark's CodeGenerator is first used, so it must be set here.
    .config("spark.sql.codegen.cache.maxEntries", "1000")
    // keep the (test-only) metastore/warehouse out of the repo tree
    .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
    .config("javax.jdo.option.ConnectionURL",
      "jdbc:derby:;databaseName=/tmp/graft-metastore;create=true")

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = 4, shufflePartitions: Int = 32): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.LevenshteinThreshold.install(s)
    s
  }
}
