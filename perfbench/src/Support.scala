package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.operators.HttpTransport

/** The benchmark's own copy of the lexicon rule the gold layer applies
  * (q21's SQL, the reference's fallback): whitespace tokens, lower-case
  * votes, label by majority, score = (pos - neg) / tokens. */
object Lexicon {
  val positive = Set("amazing", "best", "excellent", "fast", "good", "great", "love")
  val negative = Set("awful", "bad", "broken", "hate", "slow", "terrible", "worst")

  def label(text: String): (String, Double, String) = {
    val t = if (text == null) "" else text.trim
    val toks = if (t.isEmpty) Array.empty[String] else t.split("\\s+")
    val p = toks.count(w => positive.contains(w.toLowerCase))
    val n = toks.count(w => negative.contains(w.toLowerCase))
    val sentiment = if (p > n) "positive" else if (n > p) "negative" else "neutral"
    val emotion = if (p > n) "joy" else if (n > p) "anger" else "neutral"
    val score = if (toks.isEmpty) 0.0 else (p - n).toDouble / toks.length
    (sentiment, score, emotion)
  }
}

/** In-process stand-in for the enrichment endpoint: answers each POST
  * after a fixed latency with the lexicon labels, and counts requests,
  * texts, concurrency and time spent inside the endpoint. A Scala
  * object, so the task closures shipped to local executors all reach
  * this one instance. */
object FakeEndpoint extends HttpTransport {
  @volatile var latencyNanos: Long = 0L
  private val requests = new AtomicLong
  private val texts = new AtomicLong
  private val inFlight = new AtomicInteger
  private val maxInFlight = new AtomicInteger
  private val waitNs = new AtomicLong
  private val received = new ConcurrentLinkedQueue[String]
  @transient private lazy val mapper = new ObjectMapper()

  def reset(): Unit = {
    requests.set(0); texts.set(0); inFlight.set(0); maxInFlight.set(0)
    waitNs.set(0); received.clear()
  }

  def stats(): Map[String, Any] = Map(
    "requests" -> requests.get, "texts" -> texts.get,
    "max_in_flight" -> maxInFlight.get, "endpoint_wait_s" -> waitNs.get / 1e9)

  /** The texts the endpoint received in the newest pass, one JSON
    * string per line. */
  def dumpTexts(path: String): Unit = {
    val pw = new java.io.PrintWriter(path, "UTF-8")
    try received.forEach(t => pw.println(mapper.writeValueAsString(t)))
    finally pw.close()
  }

  override def post(url: String, body: String, timeoutMillis: Int): String = {
    val start = System.nanoTime()
    maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
    try {
      val arr = mapper.readTree(body).path("texts")
      val root = mapper.createObjectNode()
      val out = root.putArray("results")
      var i = 0
      while (i < arr.size) {
        val node = arr.get(i)
        val text = if (node.isNull) null else node.asText
        received.add(text)
        val (s, score, e) = Lexicon.label(text)
        out.addObject().put("sentiment", s).put("sentiment_score", score)
          .put("emotion", e).put("summary", if (text == null) "" else text.take(200))
        i += 1
      }
      texts.addAndGet(arr.size)
      val body2 = mapper.writeValueAsString(root)
      val due = start + latencyNanos
      var left = due - System.nanoTime()
      while (left > 0) { LockSupport.parkNanos(left); left = due - System.nanoTime() }
      body2
    } finally {
      requests.incrementAndGet()
      inFlight.decrementAndGet()
      waitNs.addAndGet(System.nanoTime() - start)
    }
  }
}

/** Spans kept in memory. With tracing off every call is a no-op apart
  * from the id counter, so untraced runs time the same code path. Each
  * closed span carries the scheduler/shuffle counts a [[Census]]
  * listener saw between its start and end. */
class Tracer(enabled: Boolean) {
  case class Span(id: Long, parent: Long, name: String, start: Long,
      counts0: Map[String, Double])
  private val ids = new AtomicLong
  private val done = ArrayBuffer.empty[Map[String, Any]]
  private val origin = System.nanoTime()
  private var census: Census = null

  def attach(spark: SparkSession): Unit = {
    census = new Census(spark)
    spark.sparkContext.addSparkListener(census)
  }

  def open(name: String, parent: Long): Span = {
    val id = ids.incrementAndGet()
    if (!enabled) Span(id, parent, name, 0L, Map.empty)
    else Span(id, parent, name, System.nanoTime(),
      if (census == null) Map.empty else census.totals())
  }

  def close(s: Span): Unit = if (enabled) {
    val end = System.nanoTime()
    val counts = if (census == null) Map.empty[String, Double] else {
      val c1 = census.totals()
      c1.map { case (k, v) => k -> (v - s.counts0.getOrElse(k, 0.0)) }
    }
    done += Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_s" -> (s.start - origin) / 1e9, "end_s" -> (end - origin) / 1e9,
      "counts" -> counts)
  }

  def toJson: String = Json.render(Map("spans" -> done.toSeq))
}

/** SparkListener totals: jobs, stages, tasks, executor run and GC time,
  * shuffle and spill bytes. `totals()` first drains the listener bus so
  * a span's counts include every event its work posted. */
class Census(spark: SparkSession) extends SparkListener {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_s", m.executorRunTime / 1e3)
      add("gc_s", m.jvmGCTime / 1e3)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_b", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      add("spill_b", m.diskBytesSpilled.toDouble)
      add("output_b", m.outputMetrics.bytesWritten.toDouble)
      add("input_b", m.inputMetrics.bytesRead.toDouble)
    }
  }

  def totals(): Map[String, Double] = {
    org.apache.spark.PerfBenchAccess.drain(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    c.asScala.toMap
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def render(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case ch if ch < ' ' => sb ++= f"\\u${ch.toInt}%04x"
        case ch => sb += ch
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Number => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        var first = true
        m.foreach { case (k, y) =>
          if (!first) sb += ','
          first = false
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case s: Iterable[_] =>
        sb += '['
        var first = true
        s.foreach { y => if (!first) sb += ','; first = false; go(y) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}

/** A thread that gauges how fast the host runs while a pass runs. It
  * repeats a fixed CPU task (scattered counter updates in a 4 MB table,
  * a sort and string hashing over 64 Ki seeded longs, the kinds of work
  * Spark's executors and driver do), each followed by an equal pause,
  * and records the
  * CPU time of every task. A shared host slows every thread when its
  * other tenants load the physical cores, which no thread count or CPU
  * accounting inside this VM removes; the run scales each pass's CPU
  * time by the probe's task time over the same interval (README: "Host
  * speed"). The probe's own CPU time is kept out of the pass's. */
class HostProbe extends Thread("host-probe") {
  setDaemon(true)
  private val n = 1 << 16
  private val bean = java.lang.management.ManagementFactory.getThreadMXBean
  private val ends = ArrayBuffer.empty[Long]
  private val cpus = ArrayBuffer.empty[Double]
  @volatile private var running = true
  @volatile private var sink = 0L

  private val keys = new Array[Long](n)
  private val table = new Array[Int](1 << 20)

  private def task(seed: Long): Long = {
    var x = seed
    var i = 0
    while (i < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      keys(i) = x >>> 40
      table((x >>> 44).toInt) += 1
      i += 1
    }
    java.util.Arrays.sort(keys)
    var h = 0L
    i = 0
    while (i < n) {
      h = h * 31 + java.lang.Long.toString(keys(i)).hashCode
      i += 8
    }
    h + table(0)
  }

  /** Runs the task `rounds` times in the calling thread so that it is
    * compiled before the probe's first sample. */
  def warm(rounds: Int): Unit = (0 until rounds).foreach(r => sink += task(r))

  override def run(): Unit = {
    var r = 0L
    while (running) {
      val c0 = bean.getCurrentThreadCpuTime
      sink += task(r)
      val cpu = (bean.getCurrentThreadCpuTime - c0) / 1e9
      val end = System.nanoTime()
      synchronized { ends += end; cpus += cpu }
      java.util.concurrent.locks.LockSupport.parkNanos((cpu * 1e9).toLong)
      r += 1
    }
  }

  /** CPU nanoseconds the probe thread has used so far. */
  def cpuNs: Long = bean.getThreadCpuTime(getId)

  /** Median task CPU seconds of the tasks that ended between the two
    * `System.nanoTime` instants, and how many there were. */
  def between(from: Long, to: Long): (Double, Int) = synchronized {
    val in = ends.indices.filter(i => ends(i) >= from && ends(i) <= to).map(cpus).sorted
    (if (in.isEmpty) Double.NaN else in(in.length / 2), in.length)
  }

  def shutdown(): Unit = { running = false; join() }
}
