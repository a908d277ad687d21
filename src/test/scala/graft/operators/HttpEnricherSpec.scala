package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.model.SentimentResult

/** In-process fake endpoint: counts requests, optionally fails the
  * first `failFirst` calls, and answers texts containing "good" as
  * positive. State lives in a companion-style registry keyed by name so
  * the serialized copy shipped into executor threads (same JVM under
  * local[*]) still increments the shared counters. */
object FakeEndpoint {
  val calls = new AtomicInteger(0)
  /** Every text of every request, in arrival order. */
  val texts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile var failFirst: Int = 0
  @volatile var responseFor: Seq[String] => String = wellFormed

  def reset(): Unit = {
    calls.set(0); texts.clear(); failFirst = 0; responseFor = wellFormed
  }

  def wellFormed(texts: Seq[String]): String = {
    val results = texts.map {
      case null => """{"sentiment":null}"""
      case t if t.contains("good") =>
        s"""{"sentiment":"positive","sentiment_score":0.5,"emotion":"joy","summary":"${t.take(20)}"}"""
      case t =>
        s"""{"sentiment":"neutral","sentiment_score":0.0,"emotion":"neutral","summary":"${t.take(20)}"}"""
    }
    s"""{"results":[${results.mkString(",")}]}"""
  }
}

class FakeTransport extends HttpTransport {
  override def post(url: String, body: String, timeoutMillis: Int): String = {
    val n = FakeEndpoint.calls.incrementAndGet()
    if (n <= FakeEndpoint.failFirst)
      throw new java.net.http.HttpTimeoutException(s"simulated timeout #$n after ${timeoutMillis}ms")
    val texts = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
      .readTree(body).path("texts")
    val seq = (0 until texts.size).map(i =>
      if (texts.get(i).isNull) null else texts.get(i).asText)
    seq.foreach(t => FakeEndpoint.texts.add(t))
    FakeEndpoint.responseFor(seq)
  }
}

class HttpEnricherSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def enricher(maxAttempts: Int = 3) = {
    val backoffs = scala.collection.mutable.ArrayBuffer.empty[Long]
    (new HttpEnricher("http://fake.local/enrich", new FakeTransport(),
      timeoutMillis = 50, maxAttempts = maxAttempts, backoffMillis = 100L,
      sleeper = backoffs.append(_)), backoffs)
  }

  test("happy path: one POST per batch of N, results applied in order") {
    FakeEndpoint.reset()
    val (e, _) = enricher()
    val df = (1 to 10).map(i => (i, if (i % 2 == 0) s"good text $i" else s"meh $i"))
      .toDF("id", "text").repartition(1)
    val out = Enrich.enrichSentiment(df, "text", e, batchSize = 4)
      .select("id", "sentiment").collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(FakeEndpoint.calls.get == 3) // ceil(10/4) requests, not 10
    assert(out(2) == "positive" && out(3) == "neutral" && out(10) == "positive")
  }

  test("retry-then-succeed: transient failures are retried with exponential backoff") {
    FakeEndpoint.reset()
    FakeEndpoint.failFirst = 2
    val (e, backoffs) = enricher(maxAttempts = 3)
    val got = e.enrichBatch(Seq("good stuff", "bad stuff"))
    assert(FakeEndpoint.calls.get == 3) // 2 failures + 1 success
    assert(backoffs.toSeq == Seq(100L, 200L)) // doubling schedule
    assert(got.map(_.sentiment) == Seq("positive", "neutral"))
  }

  test("timeout-then-fallback: exhausted retries degrade to the neutral record") {
    FakeEndpoint.reset()
    FakeEndpoint.failFirst = Int.MaxValue // endpoint never recovers
    val (e, backoffs) = enricher(maxAttempts = 3)
    val long = "x" * 300
    val got = e.enrichBatch(Seq(long, null))
    assert(FakeEndpoint.calls.get == 3) // bounded: exactly maxAttempts tries
    assert(backoffs.size == 2)
    assert(got == Seq(
      SentimentResult("neutral", 0.0, "neutral", "x" * 200),
      SentimentResult("neutral", 0.0, "neutral", "")))
  }

  test("malformed and mis-sized responses count as failed attempts") {
    FakeEndpoint.reset()
    FakeEndpoint.responseFor = _ => """{"results":[{"sentiment":"positive"}]}""" // 1 for 2
    val (e, _) = enricher(maxAttempts = 2)
    assert(e.enrichBatch(Seq("a", "b")).forall(_.sentiment == "neutral"))
    assert(FakeEndpoint.calls.get == 2)

    FakeEndpoint.reset()
    FakeEndpoint.responseFor = _ => "not json at all"
    val (e2, _) = enricher(maxAttempts = 2)
    assert(e2.enrichBatch(Seq("a")).head.sentiment == "neutral")
    assert(FakeEndpoint.calls.get == 2)
  }

  test("missing response fields fall back per field, not per batch") {
    FakeEndpoint.reset()
    FakeEndpoint.responseFor = _ =>
      """{"results":[{"sentiment":"positive","summary":"kept"}]}"""
    val (e, _) = enricher()
    val got = e.enrichBatch(Seq("hello")).head
    assert(got == SentimentResult("positive", 0.0, "neutral", "kept"))
  }
}
