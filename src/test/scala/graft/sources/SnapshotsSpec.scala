package graft.sources

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** [[Snapshots]] end to end: append/overwrite history, time travel,
  * rollback-as-commit, vacuum horizons, and the loud concurrent-commit
  * failure. */
class SnapshotsSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_snap_").toString

  private def rows(path: String, v: Int = -1): Set[Long] =
    Snapshots.readSnapshot(spark, path, v)
      .select(col("id")).as[Long].collect().toSet

  private def fsOf(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestLines(path: String, v: Int): Seq[String] = {
    val in = fsOf(path).open(
      new org.apache.hadoop.fs.Path(path, f"manifests/v$v%05d.manifest"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
    finally in.close()
  }

  private def schemaLine(path: String, v: Int): Option[String] =
    manifestLines(path, v).find(_.startsWith("schema="))

  private def dataFiles(path: String, v: Int): Seq[String] =
    manifestLines(path, v).filter(_.startsWith("file="))
      .map(f => s"$path/data/${f.stripPrefix("file=")}")

  /** What schema inference makes of snapshot `v`'s files: the read
    * every snapshot paid for before manifests carried a schema. */
  private def inferred(path: String, v: Int) =
    spark.read.parquet(dataFiles(path, v): _*).schema

  test("a snapshot carries its schema: equal to inference over a type zoo") {
    import org.apache.spark.sql.types._
    val meta = new MetadataBuilder().putString("comment", "a described column")
      .putLong("width", 7L).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = false, meta),
      StructField("amount", DecimalType(18, 2)),
      StructField("wide", DecimalType(38, 10), nullable = false),
      StructField("day", DateType),
      StructField("ts", TimestampType),
      StructField("ts_ntz", TimestampNTZType, nullable = false),
      StructField("blob", BinaryType),
      StructField("flag", BooleanType, nullable = false),
      StructField("ratio", DoubleType), StructField("small", ShortType),
      StructField("tags", ArrayType(StringType, containsNull = false), nullable = false),
      StructField("attrs", MapType(StringType,
        ArrayType(IntegerType, containsNull = false), valueContainsNull = false)),
      StructField("nested", StructType(Seq(
        StructField("a", IntegerType, nullable = false),
        StructField("b", ArrayType(StructType(Seq(
          StructField("x", FloatType, nullable = false),
          StructField("y", MapType(IntegerType, StringType, valueContainsNull = false)))),
          containsNull = false)))), nullable = false)))
    val rows = (0 until 6).map { i =>
      Row(i.toLong, s"n$i", if (i % 2 == 0) BigDecimal(i) / 4 else null,
        BigDecimal(i * 3) / 10, java.sql.Date.valueOf(f"2026-01-${i + 1}%02d"),
        java.sql.Timestamp.valueOf(f"2026-01-21 10:0$i:00"),
        java.time.LocalDateTime.of(2026, 1, 21, 10, i),
        Array[Byte](i.toByte, 1), i % 2 == 0, i * 0.5, i.toShort,
        Seq(s"t$i"), Map(s"k$i" -> Seq(i, i + 1)),
        Row(i, Seq(Row(i.toFloat, Map(i -> s"v$i")))))
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema).repartition(2)
    val path = tmp()
    Snapshots.commit(df, path)
    assert(schemaLine(path, 1).nonEmpty, "an overwrite writes the schema line")
    val read = Snapshots.readSnapshot(spark, path)
    assert(read.schema == inferred(path, 1),
      s"carried:\n${read.schema.treeString}\ninferred:\n${inferred(path, 1).treeString}")
    assert(read.schema("name").metadata == meta, "column metadata survives")
    assert(read.orderBy("id").collect().toSeq ==
      spark.read.schema(inferred(path, 1)).parquet(dataFiles(path, 1): _*)
        .orderBy("id").collect().toSeq)
  }

  test("schema line fail-safes: equal append keeps it, differing append and legacy manifests infer, rollback copies") {
    val path = tmp()
    Snapshots.commit(spark.range(0, 3).toDF(), path)                      // v1
    Snapshots.commit(spark.range(3, 5).toDF(), path)                      // v2 equal
    assert(schemaLine(path, 2) == schemaLine(path, 1) && schemaLine(path, 2).nonEmpty)
    // same column, another type: the append writes no schema line and
    // the read falls back to inference, as before snapshots carried one
    Snapshots.commit(spark.range(5, 6).select(col("id").cast("int").as("id")), path) // v3
    assert(schemaLine(path, 3).isEmpty)
    assert(Snapshots.readSnapshot(spark, path).schema == inferred(path, 3))
    // an append onto a manifest without the line stays without it
    Snapshots.commit(spark.range(6, 7).toDF(), path)                      // v4
    assert(schemaLine(path, 4).isEmpty)
    assert(rows(path) == (0L until 7L).toSet)
    // rollback copies the line of the version it restores, or its absence
    assert(Snapshots.rollback(spark, path, toVersion = 2) == 5)
    assert(schemaLine(path, 5) == schemaLine(path, 2))
    assert(rows(path) == (0L until 5L).toSet)
    assert(Snapshots.rollback(spark, path, toVersion = 3) == 6)
    assert(schemaLine(path, 6).isEmpty)
    // a legacy manifest (written before the schema line existed) reads
    // by inference: strip the line from v2 and publish it as v7
    val legacy = manifestLines(path, 2).filterNot(_.startsWith("schema="))
      .filterNot(_.startsWith("version=")).filterNot(_.startsWith("operation="))
      .map(_.stripPrefix("file="))
    Snapshots.writeManifest(fsOf(path), path, 7, "overwrite", legacy)
    assert(schemaLine(path, 7).isEmpty)
    assert(Snapshots.readSnapshot(spark, path).schema == inferred(path, 7))
    assert(rows(path) == (0L until 5L).toSet)
    assert(Snapshots.snapshots(spark, path).count() == 7L)
  }

  test("append/overwrite history stays readable; latest tracks commits") {
    val path = tmp()
    val v1 = Snapshots.commit(spark.range(0, 5).toDF(), path)
    val v2 = Snapshots.commit(spark.range(10, 15).toDF(), path)
    val v3 = Snapshots.commit(spark.range(100, 102).toDF(), path,
      overwrite = true)
    assert((v1, v2, v3) == ((1, 2, 3)))
    assert(Snapshots.latestVersion(spark, path).contains(3))
    // time travel: every version readable AFTER later commits
    assert(rows(path, 1) == (0L until 5L).toSet)
    assert(rows(path, 2) == ((0L until 5L) ++ (10L until 15L)).toSet)
    assert(rows(path, 3) == Set(100L, 101L))
    assert(rows(path) == Set(100L, 101L), "latest is the overwrite")
    val log = Snapshots.snapshots(spark, path)
      .as[(Int, String, Long)].collect().sortBy(_._1)
    assert(log.map(_._2).toSeq == Seq("overwrite", "append", "overwrite"))
  }

  test("rollback is a new commit; vacuum keeps the horizon readable") {
    val path = tmp()
    Snapshots.commit(spark.range(0, 3).toDF(), path)           // v1
    Snapshots.commit(spark.range(10, 13).toDF(), path)         // v2
    Snapshots.commit(spark.range(50, 51).toDF(), path, true)   // v3
    val v4 = Snapshots.rollback(spark, path, toVersion = 1)
    assert(v4 == 4 && rows(path) == Set(0L, 1L, 2L))
    assert(rows(path, 3) == Set(50L), "rollback must not destroy v3")
    // vacuum to the last 2 (v3, v4): v4 references v1's files, so
    // they SURVIVE; only v2's delta files die
    val deleted = Snapshots.vacuum(spark, path, keepLast = 2)
    assert(deleted.nonEmpty && deleted.forall(_.startsWith("v00002")),
      s"only v2's files should die: $deleted")
    assert(rows(path) == Set(0L, 1L, 2L), "latest survives vacuum")
    assert(rows(path, 3) == Set(50L))
    intercept[IllegalArgumentException] { rows(path, 2) } // manifest gone
  }

  test("orphans from a failed commit are vacuumed; empty commits refused") {
    val path = tmp()
    Snapshots.commit(spark.range(0, 3).toDF(), path)
    // simulate a failed commit: data files staged, manifest never lands
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val orphan = new org.apache.hadoop.fs.Path(path, "data/v99999-00000.parquet")
    val out = fs.create(orphan, true); out.write(1); out.close()
    val deleted = Snapshots.vacuum(spark, path, keepLast = 1)
    assert(deleted == Seq("v99999-00000.parquet"))
    assert(rows(path) == Set(0L, 1L, 2L))
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(spark.range(0, 0).toDF(), path)
    }
    assert(e.getMessage.contains("refusing to commit an empty snapshot"))
    // the refused commit publishes nothing and leaves no staging dir
    assert(Snapshots.latestVersion(spark, path).contains(1))
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .exists(_.getPath.getName.startsWith(".staging")))
    assert(Snapshots.vacuum(spark, path, keepLast = 1).isEmpty,
      "no part file of the empty commit may reach data/")
  }

  test("a commit runs its plan once: each enriched text reaches the endpoint once") {
    import graft.operators.{Enrich, FakeEndpoint, FakeTransport, HttpEnricher}
    FakeEndpoint.reset()
    val texts = (1 to 100).map(i => s"text $i")
    val df = texts.toDF("text").repartition(3)
    val enricher = new HttpEnricher("http://fake.local/enrich", new FakeTransport())
    val path = tmp()
    assert(Snapshots.commit(Enrich.enrichSentiment(df, "text", enricher,
      batchSize = 8), path) == 1)
    import scala.jdk.CollectionConverters._
    assert(FakeEndpoint.texts.asScala.toSeq.sorted == texts.sorted)
    assert(Snapshots.readSnapshot(spark, path).count() == 100L)
  }

  test("commitBatch: foreachBatch replays are exactly-once; empty batches skip") {
    val path = tmp()
    // micro-batch 0 lands
    assert(Snapshots.commitBatch(spark.range(0, 3).toDF(), path, batchId = 0)
      .contains(1))
    // sink failure → foreachBatch REPLAYS batch 0: must be a no-op
    assert(Snapshots.commitBatch(spark.range(0, 3).toDF(), path, batchId = 0)
      .isEmpty)
    assert(rows(path) == Set(0L, 1L, 2L))
    // batch 1 appends; an empty heartbeat batch commits nothing
    assert(Snapshots.commitBatch(spark.range(10, 12).toDF(), path, batchId = 1)
      .contains(2))
    assert(Snapshots.commitBatch(spark.range(0, 0).toDF(), path, batchId = 2)
      .isEmpty)
    assert(rows(path) == Set(0L, 1L, 2L, 10L, 11L))
    assert(Snapshots.latestVersion(spark, path).contains(2))
    // end to end through a real streaming query: two micro-batches,
    // then the same data replayed into a second query with the same
    // batch ids via a fresh stream — the table must not double-count
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream2 = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val path2 = tmp()
    def runOnce(): Unit = {
      val q = stream2.toDF().toDF("id").writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, id: Long) =>
          { Snapshots.commitBatch(df, path2, id); () })
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    stream2.addData(100L, 101L)
    runOnce()
    assert(rows(path2) == Set(100L, 101L))
    val v = Snapshots.latestVersion(spark, path2)
    // replay the same batch id against the committed table directly
    assert(Snapshots.commitBatch(Seq(100L, 101L).toDF("id"), path2, 0L).isEmpty)
    assert(Snapshots.latestVersion(spark, path2) == v,
      "a replayed micro-batch must not advance the table")
  }

  test("a concurrent commit to the same version fails loudly, table intact") {
    val path = tmp()
    Snapshots.commit(spark.range(0, 3).toDF(), path)
    // another writer lands v2 BETWEEN the loser's version pick and its
    // publish rename — replay the loser's side of that interleaving by
    // publishing v2 first and then driving the commit point directly
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(
      new org.apache.hadoop.fs.Path(path, "manifests/v00002.manifest"), true)
    out.write("version=2\noperation=append\n".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] {
      Snapshots.writeManifest(fs, path, 2, "append", Seq("vx.parquet"))
    }
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    assert(rows(path, 1) == Set(0L, 1L, 2L), "history intact after the loss")
    // and the next honest commit simply lands AFTER the winner
    assert(Snapshots.commit(spark.range(7, 8).toDF(), path) == 3)
  }
}
