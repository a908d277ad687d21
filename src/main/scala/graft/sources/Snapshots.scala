package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Manifest-based SNAPSHOT layer over plain parquet — the minimal
  * time-travel/rollback half of a 100 TB lakehouse, the public
  * Iceberg/Delta idea reduced to its load-bearing core: data files
  * are IMMUTABLE and a snapshot is nothing but a manifest listing
  * them, so
  *
  *   - readers of snapshot N never see a concurrent writer (its
  *     files aren't in N's manifest until its commit lands);
  *   - "overwrite" never deletes — it writes new files and a new
  *     manifest, so every previous snapshot stays readable
  *     (time travel) and rollback is a new manifest that lists an
  *     old file set (never a data move);
  *   - a failed write leaves at worst ORPHAN data files that no
  *     manifest references — [[vacuum]] reclaims them; it can never
  *     leave a half-visible table.
  *
  * Commit protocol (single-writer optimistic): stage the dataframe
  * to a scratch dir, move its part files into `data/` under
  * version-prefixed names, then publish `manifests/vNNNNN.manifest`
  * via create-temp + rename — the rename is the commit point, and a
  * concurrent commit to the same version fails the rename LOUDLY
  * instead of corrupting history. Readers resolve "latest" by
  * listing the manifest dir (no mutable pointer file to torn-write).
  * Manifests are line-oriented `key=value` text, driver-parseable,
  * one line per file:
  *
  * {{{
  * version=3
  * operation=append          (overwrite | append | rollback)
  * batch_id=7                (commitBatch only)
  * schema={"type":"struct",...}   (Spark's StructType JSON, one line)
  * file=v00001-00000.parquet
  * file=v00003-00000.parquet
  * }}}
  *
  * The `schema=` line is the read schema: the staged frame's schema
  * with every field, array element and map value made nullable, which
  * is what a parquet read of those files returns. [[readSnapshot]]
  * reads with it and so runs no schema-inference job. It fails safe:
  *
  *   - an overwrite writes the line;
  *   - an append keeps it only when the previous manifest carries a
  *     schema EQUAL to the new frame's (types, nullability, metadata);
  *     otherwise the new manifest has no schema line;
  *   - a rollback copies the line of the version it restores (or
  *     its absence);
  *   - a manifest without the line (any table written before it
  *     existed) is read by parquet schema inference, as it always was.
  *
  * Scale: all driver-side work is O(|files in snapshot|) listings —
  * the data plane is untouched Spark parquet I/O; at 100 TB the
  * manifest of a 100k-file table is a few MB of text read once per
  * query planning, the same order as the file listing a bare
  * parquet read already pays (and pinned to ONE consistent set). */
object Snapshots {

  private val DataDir = "data"
  private val ManifestDir = "manifests"
  private val ManifestRe = "v(\\d{5})\\.manifest".r

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def manifestPath(root: String, v: Int): Path =
    new Path(root, f"$ManifestDir/v$v%05d.manifest")

  private def versions(fs: FileSystem, root: String): Seq[Int] = {
    val dir = new Path(root, ManifestDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap(s => s.getPath.getName match {
      case ManifestRe(n) => Some(n.toInt)
      case _ => None
    }).sorted
  }

  /** Highest committed snapshot version, if any. */
  def latestVersion(spark: SparkSession, root: String): Option[Int] = {
    val vs = versions(fsOf(spark, root), root)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** One parsed manifest: its operation, its file list, the
    * micro-batch id of a [[commitBatch]], and the read schema when the
    * manifest carries one. */
  private case class Manifest(operation: String, files: Seq[String],
      batchId: Option[Long], schema: Option[StructType])

  /** The one manifest parser; None when version `v` has no manifest. */
  private def parseManifest(fs: FileSystem, root: String,
      v: Int): Option[Manifest] = {
    val p = manifestPath(root, v)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
        new String(bos.toByteArray, "UTF-8")
      } finally in.close()
      val lines = text.split("\n").toSeq.filter(_.nonEmpty)
      def value(key: String): Option[String] =
        lines.collectFirst { case l if l.startsWith(key + "=") =>
          l.stripPrefix(key + "=") }
      Some(Manifest(
        value("operation").getOrElse("unknown"),
        lines.filter(_.startsWith("file=")).map(_.stripPrefix("file=")),
        value("batch_id").map(_.toLong),
        value("schema").map(DataType.fromJson(_).asInstanceOf[StructType])))
    }
  }

  private def readManifest(fs: FileSystem, root: String, v: Int): Manifest = {
    val m = parseManifest(fs, root, v)
    require(m.nonEmpty, s"snapshot v$v does not exist under $root")
    m.get
  }

  private[sources] def writeManifest(fs: FileSystem, root: String, v: Int,
      op: String, files: Seq[String],
      batchId: Option[Long] = None, schema: Option[StructType] = None): Unit = {
    val tmp = new Path(root, f"$ManifestDir/.v$v%05d.tmp")
    val out = fs.create(tmp, true)
    try out.write((s"version=$v\noperation=$op\n" +
      batchId.map(b => s"batch_id=$b\n").getOrElse("") +
      schema.map(t => s"schema=${t.json}\n").getOrElse("") +
      files.map("file=" + _).mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    val dest = manifestPath(root, v)
    if (fs.exists(dest) || !fs.rename(tmp, dest)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"concurrent commit detected: snapshot v$v already exists under $root")
    }
  }

  /** `t` as a parquet read returns it: every field, array element and
    * map value nullable, at every depth (a map key itself can never be
    * null, but the fields nested in it become nullable too). Names,
    * types and column metadata are kept. */
  private def asRead(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = asRead(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asRead(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asRead(m.keyType), asRead(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Write `df`'s files into `data/` under version-prefixed names and
    * return them, or None when `df` has no rows. The row count rides
    * on the staging write itself (`observe`), so the plan runs once —
    * a separate emptiness probe would re-run it, and re-send every
    * row it reads to an enrichment endpoint upstream. An empty
    * result moves no part file; the staging dir (and its _SUCCESS
    * noise) is removed either way. Files become VISIBLE only when the
    * manifest commits. */
  private def stage(df: DataFrame, root: String, v: Int): Option[Seq[String]] = {
    val fs = fsOf(df.sparkSession, root)
    val staging = new Path(root, f".staging-v$v%05d")
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(staging.toString)
    val names = if (obs.get("n").asInstanceOf[Long] == 0L) None else {
      fs.mkdirs(new Path(root, DataDir))
      val parts = fs.listStatus(staging).toSeq
        .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
      Some(parts.zipWithIndex.map { case (s, i) =>
        val name = f"v$v%05d-$i%05d.parquet"
        val dest = new Path(root, s"$DataDir/$name")
        if (!fs.rename(s.getPath, dest))
          throw new IllegalStateException(s"could not move ${s.getPath} to $dest")
        name
      })
    }
    fs.delete(staging, true)
    names
  }

  /** Stage `df` as the next version and publish its manifest; None
    * (nothing published) when `df` has no rows. */
  private def publish(df: DataFrame, root: String, overwrite: Boolean,
      batchId: Option[Long]): Option[Int] = {
    val fs = fsOf(df.sparkSession, root)
    val prev = versions(fs, root)
    val next = if (prev.isEmpty) 1 else prev.max + 1
    val schema = asRead(df.schema).asInstanceOf[StructType]
    stage(df, root, next).map { fresh =>
      if (overwrite || prev.isEmpty)
        writeManifest(fs, root, next, "overwrite", fresh, batchId, Some(schema))
      else {
        val last = readManifest(fs, root, prev.max)
        writeManifest(fs, root, next, "append", last.files ++ fresh, batchId,
          last.schema.filter(_ == schema))
      }
      next
    }
  }

  /** Commit a new snapshot whose content is exactly `df` (overwrite)
    * or the previous snapshot plus `df` (append). Returns the new
    * version. Empty dataframes are rejected (after their staging
    * write, which counts the rows; nothing is published): parquet
    * needs at least one file to carry the schema, and a snapshot that
    * cannot be read back is a trap, not a table state. */
  def commit(df: DataFrame, root: String,
      overwrite: Boolean = false): Int = {
    val v = publish(df, root, overwrite, None)
    require(v.nonEmpty, "refusing to commit an empty snapshot")
    v.get
  }

  /** [[commit]] for Structured Streaming `foreachBatch` — the
    * exactly-once sink pattern: the manifest records the micro-batch
    * id, and a replayed batch (restart after a sink failure, the
    * at-least-once delivery foreachBatch gives) is detected by
    * scanning committed batch ids and SKIPPED, so the table sees
    * each micro-batch exactly once. Returns the committed version,
    * or None when the batch had already landed (or was empty — an
    * empty micro-batch is a heartbeat, not table state). Usage:
    * `.writeStream.foreachBatch((df, id) =>
    *    Snapshots.commitBatch(df, root, id): Unit)`. */
  def commitBatch(df: DataFrame, root: String, batchId: Long,
      overwrite: Boolean = false): Option[Int] = {
    val fs = fsOf(df.sparkSession, root)
    val already = versions(fs, root).exists { v =>
      parseManifest(fs, root, v).exists(_.batchId.contains(batchId))
    }
    if (already) None else publish(df, root, overwrite, Some(batchId))
  }

  /** Read snapshot `version` (latest when negative) — exactly the
    * files its manifest lists, whatever has been committed since. */
  def readSnapshot(spark: SparkSession, root: String,
      version: Int = -1): DataFrame = {
    val fs = fsOf(spark, root)
    val v = if (version >= 0) version else {
      val vs = versions(fs, root)
      require(vs.nonEmpty, s"no snapshots under $root")
      vs.max
    }
    val m = readManifest(fs, root, v)
    require(m.files.nonEmpty, s"snapshot v$v lists no files")
    val paths = m.files.map(f => s"$root/$DataDir/$f")
    m.schema.fold(spark.read)(t => spark.read.schema(t)).parquet(paths: _*)
  }

  /** Roll the table back to `toVersion`'s file set AS A NEW commit —
    * history only ever grows; the bad snapshots stay inspectable. */
  def rollback(spark: SparkSession, root: String, toVersion: Int): Int = {
    val fs = fsOf(spark, root)
    val target = readManifest(fs, root, toVersion)
    val next = versions(fs, root).max + 1
    writeManifest(fs, root, next, "rollback", target.files, schema = target.schema)
    next
  }

  /** Snapshot log: (version, operation, n_files), one row per
    * committed manifest — the audit surface. */
  def snapshots(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, root)
    versions(fs, root).map { v =>
      val m = readManifest(fs, root, v)
      (v, m.operation, m.files.size.toLong)
    }.toDF("version", "operation", "n_files")
  }

  /** Delete data files not referenced by the newest `keepLast`
    * manifests, then drop the older manifests — snapshots before the
    * horizon stop being readable, in exchange for space. Orphans from
    * failed commits (staged files whose manifest never landed) are
    * reclaimed too. Returns the deleted data-file names. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fs = fsOf(spark, root)
    val vs = versions(fs, root)
    require(vs.nonEmpty, s"no snapshots under $root")
    val keep = vs.takeRight(keepLast)
    val referenced = keep.flatMap(v => readManifest(fs, root, v).files).toSet
    val dataDir = new Path(root, DataDir)
    val victims = fs.listStatus(dataDir).toSeq
      .filter(s => s.isFile && !referenced.contains(s.getPath.getName))
      .map(_.getPath.getName).sorted
    victims.foreach(n => fs.delete(new Path(root, s"$DataDir/$n"), false))
    vs.dropRight(keepLast).foreach(v => fs.delete(manifestPath(root, v), false))
    victims
  }
}
