package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry}
import graft.operators.{Clean, Enrich, HttpEnricher, Kpis}
import graft.pipeline.Medallion
import graft.sources.Snapshots

/** The timed JVM of one benchmark run, started as a plain `java` process
  * by run.py. It builds the tuned session, runs one cold pass, warm-up
  * passes, then whole timed passes until `--seconds` have elapsed, and
  * writes everything it measured to `--result` as one JSON object.
  * run.py checks the outputs and prints the benchmark's result line.
  *
  * Arguments (all `--key value`): workload, data, work, result, seconds,
  * trace (0|1), warmup, cores, launch_ns (epoch nanoseconds at which
  * run.py started this process), queries (comma list, query workloads),
  * latency_us and batch (medallion fake endpoint). */
object PerfBench {

  def nowNs: Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val launchNs = args("launch_ns").toLong
    val workload = args("workload")
    val work = args("work")
    val cores = args("cores").toInt
    val trace = args("trace") == "1"
    val tracer = new Tracer(trace)
    val runSpan = tracer.open("run", 0L)

    val setupSpan = tracer.open("setup", runSpan.id)
    val t0 = System.nanoTime()
    val spark = GraftSession.tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false"))
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.LevenshteinThreshold.install(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    if (trace) tracer.attach(spark)

    val w: Workload = workload match {
      case "medallion" => new MedallionWorkload(spark, args, tracer)
      case _ => new QueryWorkload(spark, args, tracer)
    }
    val setupS = (nowNs - launchNs) / 1e9
    tracer.close(setupSpan)
    val probe = new HostProbe
    probe.warm(40)
    probe.start()

    // cold pass, warm-up passes, then whole timed passes
    val passes = ArrayBuffer.empty[PassResult]
    def runPass(kind: String): Unit = {
      val i = passes.size
      val span = tracer.open(s"pass.$kind", runSpan.id)
      val cpu0 = Cpu.sample()
      val probe0 = probe.cpuNs
      val gen0 = Codegen.compiles
      val s = System.nanoTime()
      val r = w.pass(i, span.id)
      val wall = (System.nanoTime() - s) / 1e9
      val cpu1 = Cpu.sample()
      val probe1 = probe.cpuNs
      val (probeS, probeN) = probe.between(s, s + (wall * 1e9).toLong)
      tracer.close(span)
      passes += r.copy(kind = kind, wallS = wall, spanId = span.id,
        probeS = probeS, probeTasks = probeN,
        cpuS = ((cpu1.processNs - cpu1.jitNs - probe1) -
          (cpu0.processNs - cpu0.jitNs - probe0)) / 1e9,
        jitCpuS = (cpu1.jitNs - cpu0.jitNs) / 1e9,
        codegenCompiles = Codegen.compiles - gen0)
      w.afterPass(i)
    }
    runPass("cold")
    val jvmAfterCold = Jvm.snapshot()
    for (_ <- 0 until args("warmup").toInt) runPass("warm")
    val budget = (args("seconds").toDouble * 1e9).toLong
    val timedStart = System.nanoTime()
    while (System.nanoTime() - timedStart < budget) runPass("timed")

    probe.shutdown()
    val checks = w.dumpForChecks()
    tracer.close(runSpan)

    val res = Map(
      "workload" -> workload,
      "cores" -> cores,
      "setup_s" -> setupS,
      "session_s" -> sessionS,
      "jvm_after_cold" -> jvmAfterCold,
      "passes" -> passes.map(_.toJson).toSeq,
      "checks" -> checks,
      "extra" -> w.extra)
    spark.stop()
    if (trace) write(s"$work/spans.json", tracer.toJson)
    write(args("result"), Json.render(res))
  }

  def write(path: String, text: String): Unit = {
    val pw = new PrintWriter(new File(path), "UTF-8")
    try pw.write(text) finally pw.close()
  }
}

/** What one pass did: operations attempted and failed, each operation's
  * outcome (query rows and time, commit version, endpoint counts), the
  * pass's wall time, the CPU time of every thread but the JIT compilers
  * and the host probe (`cpuS`), the JIT compilers' CPU time, the Janino
  * compilations, and the host probe's median task time over the pass
  * with the number of probe tasks it rests on. */
case class PassResult(attempted: Int, failed: Int, ops: Seq[Map[String, Any]],
    kind: String = "", wallS: Double = 0.0, spanId: Long = 0L,
    cpuS: Double = 0.0, jitCpuS: Double = 0.0, codegenCompiles: Long = 0L,
    probeS: Double = 0.0, probeTasks: Int = 0) {
  def toJson: Map[String, Any] = Map("kind" -> kind, "wall_s" -> wallS,
    "cpu_s" -> cpuS, "jit_cpu_s" -> jitCpuS, "codegen_compiles" -> codegenCompiles,
    "probe_s" -> probeS, "probe_tasks" -> probeTasks,
    "attempted" -> attempted, "failed" -> failed, "ops" -> ops, "span" -> spanId)
}

trait Workload {
  def pass(index: Int, parentSpan: Long): PassResult
  def afterPass(index: Int): Unit = ()
  def dumpForChecks(): Map[String, Any]
  def extra: Map[String, Any] = Map.empty
}

/** A fixed list of registry queries run back to back. Each query is
  * constructed (the query function, including its eager work), planned
  * (its executed plan is forced) and executed (its rows are collected,
  * as a caller consuming the result would). */
class QueryWorkload(spark: SparkSession, args: Map[String, String], tracer: Tracer)
    extends Workload {
  private val data = args("data")
  private val names = args("queries").split(",").toSeq
  private val t0 = System.nanoTime()
  private val registry = SparkEntry.queries
  val registryS: Double = (System.nanoTime() - t0) / 1e9
  private val selected = names.map(n => n -> registry.getOrElse(n,
    throw new IllegalArgumentException(s"no query $n in SparkEntry.queries")))
  private val oracle = SparkEntry.oracleSql
  private val lastRows = scala.collection.mutable.Map.empty[String, (Array[Row], StructType)]

  def pass(index: Int, parentSpan: Long): PassResult = {
    var failed = 0
    val ops = selected.map { case (name, fn) =>
      val q = tracer.open(s"query.$name", parentSpan)
      val start = System.nanoTime()
      try {
        val c = tracer.open("construct", q.id)
        val df = fn(spark, data)
        tracer.close(c)
        val p = tracer.open("plan", q.id)
        df.queryExecution.executedPlan
        tracer.close(p)
        val e = tracer.open("execute", q.id)
        val rows = df.collect()
        tracer.close(e)
        lastRows(name) = (rows, df.schema)
        Map("name" -> name, "rows" -> rows.length,
          "wall_s" -> (System.nanoTime() - start) / 1e9)
      } catch {
        case t: Throwable =>
          failed += 1
          lastRows.remove(name)
          Map("name" -> name, "error" -> (t.getClass.getSimpleName + ": " +
            String.valueOf(t.getMessage).take(300)))
      } finally tracer.close(q)
    }
    PassResult(selected.size, failed, ops)
  }

  /** The newest pass's rows of each query as parquet, plus its oracle
    * SQL, for the DuckDB comparison run.py makes. */
  def dumpForChecks(): Map[String, Any] = {
    val out = args("work") + "/results"
    val files = lastRows.toSeq.map { case (name, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").parquet(s"$out/$name")
      name -> Map("path" -> s"$out/$name", "sql" -> oracle.getOrElse(name, null))
    }
    Map("results" -> files.toMap)
  }

  override def extra: Map[String, Any] = Map("registry_s" -> registryS)
}

/** The reference's dataflow over seeded bronze envelopes: bronze JSON
  * -> silver (videos, comments) -> gold (rule sentiment on titles,
  * HTTP enrichment of comments against the in-process fake endpoint)
  * -> one KPI record per ingest_date. Every layer is committed with
  * `Snapshots.commit` and read back by the next layer. */
class MedallionWorkload(spark: SparkSession, args: Map[String, String], tracer: Tracer)
    extends Workload {
  private val bronze = args("data")
  private val root = args("work") + "/medallion"
  private val days: Seq[String] = new File(s"$bronze/comments").list().toSeq
    .filter(_.startsWith("ingest_date=")).map(_.stripPrefix("ingest_date=")).sorted
  private val batch = args("batch").toInt
  FakeEndpoint.latencyNanos = args("latency_us").toLong * 1000L
  private val enricher = new HttpEnricher("http://fake-endpoint/enrich", FakeEndpoint)
  // touch every entry point so class loading lands in setup
  locally {
    val entry = Seq[AnyRef](Medallion.silverVideos, Medallion.silverComments,
      Medallion.goldSentiment("title"), Kpis, Snapshots, Clean, Enrich)
    require(entry.forall(_ != null))
  }

  private def readDay(table: String, day: String, schema: String): DataFrame =
    spark.read.schema(schema).option("multiLine", "true")
      .json(s"$bronze/$table/ingest_date=$day")

  private def perDay(f: String => DataFrame): DataFrame =
    days.map(d => f(d).withColumn("ingest_date", lit(d))).reduce(_ unionByName _)

  private def passRoot(i: Int) = f"$root/pass-$i%03d"

  def pass(index: Int, parentSpan: Long): PassResult = {
    val r = passRoot(index)
    FakeEndpoint.reset()
    val ops = ArrayBuffer.empty[Map[String, Any]]
    var failed = 0
    def commit(table: String, df: => DataFrame, parent: Long): Unit = {
      val s = tracer.open(s"commit.$table", parent)
      try {
        val v = Snapshots.commit(df, s"$r/$table")
        ops += Map("name" -> table, "version" -> v)
      } catch {
        case t: Throwable =>
          failed += 1
          ops += Map("name" -> table, "error" -> (t.getClass.getSimpleName + ": " +
            String.valueOf(t.getMessage).take(300)))
      } finally tracer.close(s)
    }

    val silver = tracer.open("pipeline.silver", parentSpan)
    commit("silver_videos", perDay(d =>
      Medallion.silverVideos(Clean.explodeEnvelope(
        readDay("videos", d, Schemas.bronzeVideos)))), silver.id)
    commit("silver_comments", perDay(d =>
      Medallion.silverComments(Clean.explodeEnvelope(
        readDay("comments", d, Schemas.bronzeComments)))), silver.id)
    tracer.close(silver)

    val gold = tracer.open("pipeline.gold", parentSpan)
    commit("gold_videos", Medallion.goldSentiment("title")(
      Snapshots.readSnapshot(spark, s"$r/silver_videos")), gold.id)
    commit("gold_comments", Enrich.enrichSentiment(
      Snapshots.readSnapshot(spark, s"$r/silver_comments"), "text", enricher, batch),
      gold.id)
    tracer.close(gold)

    val kpi = tracer.open("pipeline.kpi", parentSpan)
    commit("kpis", {
      val gv = Snapshots.readSnapshot(spark, s"$r/gold_videos")
      val gc = Snapshots.readSnapshot(spark, s"$r/gold_comments")
      days.map(d => Kpis.kpiRecord(gv.filter(col("ingest_date") === d),
        gc.filter(col("ingest_date") === d), "sentiment", "sentiment", d,
        "2025-03-09T00:00:00Z")).reduce(_ unionByName _)
    }, kpi.id)
    tracer.close(kpi)

    val ep = FakeEndpoint.stats()
    PassResult(ops.size, failed, ops.toSeq :+ Map("name" -> "endpoint", "stats" -> ep))
  }

  /** Keep only the newest pass's tables: they are what run.py checks. */
  override def afterPass(index: Int): Unit =
    if (index > 0) deleteTree(new File(passRoot(index - 1)))

  def dumpForChecks(): Map[String, Any] = {
    val last = new File(root).list().filter(_.startsWith("pass-")).max
    val textsFile = args("work") + "/endpoint_texts.txt"
    FakeEndpoint.dumpTexts(textsFile)
    Map("root" -> s"$root/$last", "endpoint_texts" -> textsFile,
      "tables" -> Seq("silver_videos", "silver_comments", "gold_videos",
        "gold_comments", "kpis"))
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Bronze envelope schemas (FIXTURES.md A1/A2), given explicitly so no
  * pass pays JSON schema inference. */
object Schemas {
  val bronzeVideos: String =
    "channelId STRING, pulledAt STRING, videoCount BIGINT, items ARRAY<STRUCT<" +
      "id: STRING, snippet: STRUCT<title: STRING, publishedAt: STRING, " +
      "channelTitle: STRING>, statistics: STRUCT<viewCount: STRING, " +
      "likeCount: STRING, commentCount: STRING>, contentDetails: " +
      "STRUCT<duration: STRING>>>"
  val bronzeComments: String =
    "ingest_date STRING, video_count BIGINT, comment_count BIGINT, items ARRAY<" +
      "STRUCT<videoId: STRING, commentId: STRING, author: STRING, text: STRING, " +
      "likes: BIGINT, publishedAt: STRING, error: STRING>>"
}

/** CPU time of the whole process (every thread, live or ended) and of
  * HotSpot's JIT compiler threads alone, in nanoseconds. The compiler
  * threads are read from /proc/self/task/<tid>/{comm,schedstat}; run.py
  * starts the JVM with -XX:-UseDynamicNumberOfCompilerThreads so none of
  * them ends and takes its time with it. */
object Cpu {
  case class Sample(processNs: Long, jitNs: Long)
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def read(f: File): String =
    try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim
    catch { case _: java.io.IOException => "" }

  def sample(): Sample = {
    val tasks = Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    val jit = tasks.iterator.map { t =>
      val comm = read(new File(t, "comm"))
      if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre"))
        read(new File(t, "schedstat")).split(' ').headOption
          .filter(_.nonEmpty).map(_.toLong).getOrElse(0L)
      else 0L
    }.sum
    Sample(os.getProcessCpuTime, jit)
  }
}

/** Classes Spark has compiled with Janino so far (whole-stage codegen
  * and expression code that missed Spark's compiled-code cache). */
object Codegen {
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** JVM-wide counters read from the management beans. */
object Jvm {
  def snapshot(): Map[String, Any] = {
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    Map("jit_s" -> jit, "gc_s" -> gc, "heap_peak_mb" -> heapPeak)
  }
}
