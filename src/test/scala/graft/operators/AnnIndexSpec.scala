package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.Tables

/** The persisted IVF-PQ index: build → persist → load → probe must be
  * semantically identical to the in-memory operator under a shared
  * model, the stored model must round-trip exactly, and sampled
  * training must keep recall above the same floor the full-corpus
  * model clears. */
class AnnIndexSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_annidx_").toString

  test("build → persist → load round-trips the model exactly") {
    val emb = Tables.embeddings(spark, sf)
    val path = tmp()
    val built = AnnIndex.buildIvfPq(emb, "vec_id", "embedding", path,
      nlist = 8, m = 4, ksub = 16, maxTrainRows = 500)
    val loaded = AnnIndex.loadIvfPqModel(spark, path)
    assert(loaded.nlist == 8 && loaded.m == 4 && loaded.ksub == 16 &&
      loaded.dim == built.dim)
    // doubles written to parquet and read back are bit-identical
    assert(loaded.coarse.map(_.toSeq).toSeq == built.coarse.map(_.toSeq).toSeq)
    assert(loaded.books.map(_.map(_.toSeq).toSeq).toSeq ==
      built.books.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("probing the persisted index equals ivfPqTopK under the same model") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
    val path = tmp()
    val model = AnnIndex.buildIvfPq(emb, "vec_id", "embedding", path,
      nlist = 8, m = 4, ksub = 16, maxTrainRows = 500)
    val persisted = AnnIndex.probeIvfPq(q, emb, path, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, nprobe = 3, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inMemory = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, nlist = 8, nprobe = 3,
        m = 4, ksub = 16, refine = 4,
        coarseOpt = Some(model.coarse), booksOpt = Some(model.books))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(persisted == inMemory)
    assert(persisted.nonEmpty)
  }

  test("codes land partitioned by list (prunable layout), vectors are NOT stored") {
    val emb = Tables.embeddings(spark, sf)
    val path = tmp()
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding", path,
      nlist = 8, m = 4, ksub = 16, maxTrainRows = 500)
    val listDirs = new java.io.File(s"$path/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("list="))
    assert(listDirs.nonEmpty, "codes must be hive-partitioned by list")
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.columns.sorted.toSeq == Seq("codes", "list", "neighbor_id"),
      "the index stores codes only — never embeddings")
    assert(codes.count() == emb.count())
  }

  test("probe scan of the codes table is dynamically partition-pruned to the probed lists") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
    val path = tmp()
    AnnIndex.buildIvfPq(emb, "vec_id", "embedding", path,
      nlist = 8, m = 4, ksub = 16, maxTrainRows = 500)
    val probe = AnnIndex.probeIvfPq(q, emb, path, "vec_id", "embedding",
      "vec_id", "embedding", k = 5, nprobe = 3, refine = 4)
    probe.collect()
    // the list=N layout is only worth anything if the probe join
    // actually prunes by it: the codes FileScan must carry a
    // dynamicpruningexpression partition filter (DPP), so a probe of
    // nprobe lists reads ~nprobe/nlist of the index files
    val plan = probe.queryExecution.executedPlan.toString
    val codesScan = plan.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("codes"))
      .orElse(plan.linesIterator.find(_.contains("dynamicpruningexpression")))
    assert(codesScan.exists(_.contains("dynamicpruningexpression")),
      s"codes scan must be DPP-pruned; plan:\n${plan.take(4000)}")
  }

  test("appendIvfPq: encode-only ingest equals a full encode under the stored model") {
    val emb = Tables.embeddings(spark, sf)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val q = emb.filter(col("vec_id") < 10)
    val path = tmp()
    val model = AnnIndex.buildIvfPq(half, "vec_id", "embedding", path,
      nlist = 8, m = 4, ksub = 16, maxTrainRows = 500)
    AnnIndex.appendIvfPq(rest, "vec_id", "embedding", path)
    // every appended row landed, partitions intact
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.count() == emb.count())
    // probing the appended index == probing a one-shot encode of the
    // FULL corpus under the same (half-trained) model — append cannot
    // drift from the encode path it reuses
    val persisted = AnnIndex.probeIvfPq(q, emb, path, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, nprobe = 3, refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = Similarity.ivfPqProbe(
        Similarity.ivfPqEncode(emb, "vec_id", "embedding",
          model.coarse, model.books, model.m),
        q, emb, "vec_id", "embedding", "vec_id", "embedding",
        5, 3, 4, model.coarse, model.books, model.m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(persisted == oneShot)
    assert(persisted.nonEmpty)
    // dimension mismatch is a loud error, not silent corruption
    val bad = emb.select(col("vec_id"), slice(col("embedding"), 1, 8).as("embedding"))
    intercept[IllegalArgumentException] {
      AnnIndex.appendIvfPq(bad, "vec_id", "embedding", path)
    }
  }

  test("upsertIvfPq: persisted replacement — stale entries physically " +
    "gone, deletions drop, probe equals a merged-corpus encode under " +
    "the stored model; duplicate delta ids refuse (r17)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val vid = col("vec_id")
    // A: everyone except the new cohort, with STALE (negated) vectors
    // for the re-ingest cohort; Δ re-ingests true vectors + new ids;
    // a third cohort deletes
    val isNew = vid % 7 === 3
    val isRepl = vid % 7 =!= 3 && vid % 5 === 0
    val isDel = vid % 7 =!= 3 && vid % 5 =!= 0 && vid % 11 === 0
    val a = emb.filter(!isNew).select(vid,
      when(isRepl, transform(col("embedding"), x => -x))
        .otherwise(col("embedding")).as("embedding"))
    val delta = emb.filter(isNew || isRepl).select(vid, col("embedding"))
    val deleted = emb.filter(isDel).select(vid)
    val merged = emb.filter(!isDel)
    val path = tmp()
    val model = AnnIndex.buildIvfPq(a, "vec_id", "embedding", path,
      nlist = 8, m = 4, ksub = 16, maxTrainRows = 500)
    AnnIndex.upsertIvfPq(delta, "vec_id", "embedding", path,
      deleted, "vec_id")
    // the codes table holds exactly the merged id set, one row each,
    // and no tombstones linger (compaction ran inside the upsert)
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.count() == merged.count())
    assert(codes.select(col("neighbor_id")).distinct().count() ==
      merged.count())
    assert(!new java.io.File(s"$path/tombstones").exists())
    // probe == one-shot encode of the TRUE merged corpus, same model
    val q = merged.filter(vid < 10)
    val persisted = AnnIndex.probeIvfPq(q, merged, path, "vec_id",
        "embedding", "vec_id", "embedding", k = 5, nprobe = 3,
        refine = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val oneShot = Similarity.ivfPqProbe(
        Similarity.ivfPqEncode(merged, "vec_id", "embedding",
          model.coarse, model.books, model.m),
        q, merged, "vec_id", "embedding", "vec_id", "embedding",
        5, 3, 4, model.coarse, model.books, model.m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(persisted == oneShot && persisted.nonEmpty)
    // duplicate ids within one delta refuse loudly, index untouched
    val before = spark.read.parquet(s"$path/codes").count()
    intercept[IllegalArgumentException] {
      AnnIndex.upsertIvfPq(
        delta.limit(1).unionByName(delta.limit(1)), "vec_id",
        "embedding", path, Seq.empty[Long].toDF("vec_id"), "vec_id")
    }
    assert(spark.read.parquet(s"$path/codes").count() == before)
  }

  test("delete lifecycle: build → append → delete → probe excludes → compact → probe unchanged") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 === 1)
    val q = emb.filter(col("vec_id") < 10)
    val path = tmp()
    AnnIndex.buildIvfPq(half, "vec_id", "embedding", path,
      nlist = 8, m = 4, ksub = 16, maxTrainRows = 500)
    AnnIndex.appendIvfPq(rest, "vec_id", "embedding", path)
    def probe() = AnnIndex.probeIvfPq(q, emb, path, "vec_id", "embedding",
        "vec_id", "embedding", k = 5, nprobe = 8, refine = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = probe()
    assert(before.nonEmpty)
    // delete every neighbor the probe currently returns except the
    // self-match — results MUST change, and deleted ids MUST vanish
    val victims = before.map(_._2).filter(_ >= 10L)
    assert(victims.nonEmpty, "fixture sanity: some non-query neighbors to delete")
    AnnIndex.deleteIvfPq(victims.toSeq.toDF("vec_id"), "vec_id", path)
    // plus an id that is NOT in the index: a no-op, not an error
    AnnIndex.deleteIvfPq(Seq(999999L).toDF("vec_id"), "vec_id", path)
    val afterDelete = probe()
    assert(afterDelete.nonEmpty)
    assert(afterDelete.forall(r => !victims.contains(r._2)),
      "tombstoned ids must not surface in probe results")
    val totalBefore = spark.read.parquet(s"$path/codes").count()
    AnnIndex.compactIvfPq(spark, path)
    // physical state: tombstoned entries gone, tombstone table gone
    assert(spark.read.parquet(s"$path/codes").count() == totalBefore - victims.size)
    assert(!new java.io.File(s"$path/tombstones").exists(),
      "compaction clears the tombstone table")
    // semantic state: probe answers identical to the tombstone-masked run
    assert(probe() == afterDelete,
      "compaction reclaims bytes, never changes answers")
    // idempotence: compacting a clean index is a no-op
    AnnIndex.compactIvfPq(spark, path)
    assert(probe() == afterDelete)
  }

  test("compact leaves the session conf alone and keeps non-victim lists under a static session") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(10.0f, 0f, 0f, 0f)), (2L, Array(10.1f, 0f, 0f, 0f)),
      (3L, Array(0f, 10.0f, 0f, 0f)), (4L, Array(0f, 10.2f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    // static: the mode that would drop every partition the compaction
    // does not rewrite, were the write to follow the session
    spark.conf.set(key, "static")
    try {
      val path = tmp()
      AnnIndex.buildIvfPq(vecs, "vec_id", "embedding", path,
        nlist = 2, m = 2, ksub = 2)
      val lists = spark.read.parquet(s"$path/codes")
        .select("neighbor_id", "list").as[(Long, Int)].collect().toMap
      assert(lists.values.toSet.size == 2, "fixture sanity: two lists in use")
      // one tombstone: its list is the only victim, the other list
      // is not rewritten and must survive as it is
      AnnIndex.deleteIvfPq(Seq(1L).toDF("vec_id"), "vec_id", path)
      val confBefore = spark.conf.getAll
      AnnIndex.compactIvfPq(spark, path)
      assert(spark.conf.getAll == confBefore,
        "compaction must not touch the session conf")
      assert(spark.conf.get(key) == "static")
      val left = spark.read.parquet(s"$path/codes")
        .select("neighbor_id").as[Long].collect().toSet
      assert(left == lists.keySet - 1L, "non-victim list must survive")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("compact deletes a list directory its tombstones fully empty") {
    import spark.implicits._
    // 2 tiny clusters far apart → nlist=2 puts each in its own list
    val vecs = Seq(
      (1L, Array(10.0f, 0f, 0f, 0f)), (2L, Array(10.1f, 0f, 0f, 0f)),
      (3L, Array(0f, 10.0f, 0f, 0f)), (4L, Array(0f, 10.2f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val path = tmp()
    AnnIndex.buildIvfPq(vecs, "vec_id", "embedding", path,
      nlist = 2, m = 2, ksub = 2)
    val lists = spark.read.parquet(s"$path/codes")
      .select("neighbor_id", "list").as[(Long, Int)].collect().toMap
    assert(lists.values.toSet.size == 2, "fixture sanity: two lists in use")
    // tombstone everything in one list
    val victimList = lists(1L)
    val victimIds = lists.collect { case (id, l) if l == victimList => id }.toSeq
    AnnIndex.deleteIvfPq(victimIds.toDF("vec_id"), "vec_id", path)
    AnnIndex.compactIvfPq(spark, path)
    val dirs = new java.io.File(s"$path/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!dirs.contains(s"list=$victimList"),
      "an emptied list loses its directory outright")
    val left = spark.read.parquet(s"$path/codes")
      .select("neighbor_id").as[Long].collect().toSet
    assert(left == lists.keySet -- victimIds, "other list untouched")
  }

  test("sampled training keeps recall above the q110 floor") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
        "vec_id", "embedding", 5, nlist = 8, nprobe = 4,
        m = 8, ksub = 16, refine = 8, maxTrainRows = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(pq.contains).toDouble / exact.size
    assert(recall >= 0.6, s"recall with sampled training=$recall")
  }

  test("trainSample determinism: two sampled trainings give the identical model") {
    val emb = Tables.embeddings(spark, sf)
    val a = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
      nlist = 8, maxTrainRows = 500)
    val b = Similarity.kmeansCentroids(
      emb.repartition(7), "vec_id", "embedding",
      nlist = 8, maxTrainRows = 500)
    // identical even across a different physical partitioning — the
    // sample is hash-ordered by id, not partition-dependent
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("rrfFuse: input row order is irrelevant (r15)") {
    import spark.implicits._
    val rng = new scala.util.Random(7L)
    val base = (1 to 40).map(i => ((i % 3).toLong, (i * 7 % 11).toLong,
      (i % 5 + 1).toLong))
    def fuse(rows: Seq[(Long, Long, Long)]) =
      graft.operators.Similarity.rrfFuse(rows.toDF("q", "d", "r"),
          "q", "d", "r", k = 4)
        .collect().map(r => (r.getAs[Long]("query"), r.getAs[Long]("doc")) ->
          ((r.getAs[Long]("rrf_micro"), r.getAs[Long]("rank")))).toMap
    val a = fuse(base)
    assert(a.nonEmpty && a == fuse(rng.shuffle(base)))
  }

  test("rrfFuse: hand fusion — consensus beats single-ranker, ties break on doc, floors exact (r15)") {
    import spark.implicits._
    // ranker A: q1 -> docs 7(r1), 8(r2), 9(r3); ranker B: q1 -> 8(r1), 5(r2)
    // rrf(60): doc8 = 1000000//61 + 1000000//62 = 16393 + 16129 = 32522
    //          doc7 = 16393; doc5 = 16129; doc9 = 1000000//63 = 15873
    val ranks = Seq((1L, 7L, 1L), (1L, 8L, 2L), (1L, 9L, 3L),
      (1L, 8L, 1L), (1L, 5L, 2L)).toDF("q", "d", "r")
    val got = graft.operators.Similarity.rrfFuse(ranks, "q", "d", "r", k = 3)
      .collect().map(r => r.getAs[Long]("doc") ->
        ((r.getAs[Long]("rrf_micro"), r.getAs[Long]("n_rankers"),
          r.getAs[Long]("rank")))).toMap
    assert(got(8L) == ((32522L, 2L, 1L)), s"doc8: ${got.get(8L)}")
    assert(got(7L) == ((16393L, 1L, 2L)))
    assert(got(5L) == ((16129L, 1L, 3L)))
    assert(!got.contains(9L) && got.size == 3) // k=3 cut drops doc9
    // equal scores tie-break on doc asc: two rankers each rank a
    // different doc first -> same 16393, doc 2 before doc 4
    val tied = Seq((1L, 4L, 1L), (1L, 2L, 1L)).toDF("q", "d", "r")
    val t = graft.operators.Similarity.rrfFuse(tied, "q", "d", "r", k = 2)
      .collect().map(r => r.getAs[Long]("doc") -> r.getAs[Long]("rank")).toMap
    assert(t == Map(2L -> 1L, 4L -> 2L))
  }
}
