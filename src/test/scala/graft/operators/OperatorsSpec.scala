package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.Tables

class RelationalSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("groupedTopK keeps exactly k rows per group in order") {
    val df = Seq(
      ("g1", 1, 10.0), ("g1", 2, 30.0), ("g1", 3, 20.0), ("g1", 4, 40.0),
      ("g2", 5, 5.0)).toDF("g", "id", "v")
    val got = Relational.groupedTopK(df, Seq(col("g")), Seq(col("v").desc, col("id")), 2)
      .orderBy("g", "id").collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got == Seq(("g1", 2), ("g1", 4), ("g2", 5)))
  }

  test("asofJoinForward matches a brute-force nearest-following lookup; >= inclusive") {
    val e = Tables.events(spark, sf).filter(col("event_id") < 300)
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val fast = Relational.asofJoinForward(e, o, "ts", "o_orderdate",
        "user_id", "o_custkey", Seq("o_orderkey"))
      .select("event_id", "o_orderkey").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // brute force: per event, the order with the SMALLEST date >= ts
    // (join + window min-by, the backward spec's pattern mirrored)
    val brute = e.join(o, col("user_id") === col("o_custkey") &&
        col("ts") <= col("o_orderdate"), "left")
      .groupBy(col("event_id"))
      .agg(min_by(col("o_orderkey"),
        struct(col("o_orderdate"), col("o_orderkey"))).as("o_orderkey"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(fast == brute)
    // inclusivity: a right row AT the left timestamp matches
    import spark.implicits._
    val lf = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "t")
    val rf = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 7L))
      .toDF("k", "rt", "v")
    val got = Relational.asofJoinForward(lf, rf, "t", "rt", "id", "k", Seq("v"))
      .select("v").head
    assert(got.getLong(0) == 7L, "simultaneous right row must be visible")
  }

  test("streaks: gaps-and-islands — runs collapse, earliest longest wins ties") {
    def d(s: String) = java.sql.Timestamp.valueOf(s"2026-01-$s 09:00:00")
    val evs = Seq(
      // user 1: [1,2,3] then [5,6] then [10] — longest 3 from Jan 1;
      // a same-day repeat must not extend a streak
      (1L, d("01")), (1L, d("02")), (1L, d("02")), (1L, d("03")),
      (1L, d("05")), (1L, d("06")), (1L, d("10")),
      // user 2: two 2-day streaks — the EARLIEST one must win the tie
      (2L, d("08")), (2L, d("09")), (2L, d("20")), (2L, d("21")))
    val got = Relational.streaks(evs.toDF("user_id", "ts"), "user_id", "ts")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDate(4).toString))).toMap
    assert(got(1L) == ((6L, 3L, 3L, "2026-01-01")))
    assert(got(2L) == ((4L, 2L, 2L, "2026-01-08")))
  }

  test("transitions: adjacency counts over the (ts, type) total order; ties fold by type") {
    def t(us: Long) = new java.sql.Timestamp(us)
    val evs = Seq(
      (1L, t(1), "a"), (1L, t(2), "b"), (1L, t(3), "a"),
      // simultaneous pair at t=5: type order folds b AFTER a → a→b
      (2L, t(5), "b"), (2L, t(5), "a"),
      (3L, t(9), "c"))  // single event: no transition
    val got = Relational.transitions(evs.toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("a", "b") -> 2L, ("b", "a") -> 1L))
  }

  test("histogram: integer-exact bins, edge clamping, empty bins emitted") {
    val df = Seq(-5L, 0L, 9L, 10L, 19L, 20L, 99L, 100L, 250L).toDF("v")
    val got = Relational.histogram(df, "v", lo = 0L, hi = 100L, nBins = 10)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == 10)
    assert(got(0) == ((0L, 3L)))    // -5 clamps in; 0 and 9 land here
    assert(got(1) == ((10L, 2L)))   // 10 and 19
    assert(got(2) == ((20L, 1L)))
    assert(got(9) == ((90L, 3L)))   // 99 plus the clamped 100 and 250
    assert((3 to 8).forall(b => got(b)._2 == 0L), "interior bins empty but present")
    assert(got.values.map(_._2).sum == 9L, "every row accounted for")
  }

  test("pairStats: hand-computed moments; corrFromStats recovers exact correlation") {
    // b = 2a exactly → corr 1; c is anti-correlated with a
    val df = Seq((1L, 2L, 3L), (2L, 4L, 2L), (3L, 6L, 1L)).toDF("a", "b", "c")
    val got = Relational.pairStats(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    assert(got(("a", "b")) == ((3L, 6L, 12L, 14L, 56L, 28L)))
    assert(got(("a", "c")) == ((3L, 6L, 6L, 14L, 14L, 10L)))
    val (n, sa, sb, saa, sbb, sab) = got(("a", "b"))
    assert(Relational.corrFromStats(n, sa, sb, saa, sbb, sab) == 1.0)
    val (n2, sa2, sc2, saa2, scc2, sac2) = got(("a", "c"))
    assert(Relational.corrFromStats(n2, sa2, sc2, saa2, scc2, sac2) == -1.0)
  }

  test("resampleOhlc: envelope per bucket; ties break by the (ts, value) total order") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val evs = Seq(
      ("a", ts("2026-01-01 10:00:05"), 5L),
      ("a", ts("2026-01-01 10:10:00"), 9L),
      ("a", ts("2026-01-01 10:10:00"), 1L),   // same ts as the 9: close picks 9
      ("a", ts("2026-01-01 11:00:00"), 7L),   // next bucket
      ("b", ts("2026-01-01 10:30:00"), 2L))
    val got = Relational.resampleOhlc(
        evs.toDF("k", "ts", "v"), "k", "ts", "v", "1 hour")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got(("a", "2026-01-01 10:00:00.0")) == ((5L, 9L, 1L, 9L, 3L)))
    assert(got(("a", "2026-01-01 11:00:00.0")) == ((7L, 7L, 7L, 7L, 1L)))
    assert(got(("b", "2026-01-01 10:00:00.0")) == ((2L, 2L, 2L, 2L, 1L)))
  }

  test("profile: nulls, distincts, min/max per column in one pass") {
    val df = Seq((1L, Some("a")), (2L, Some("b")), (3L, None), (3L, Some("a")))
      .toDF("id", "s")
    val got = Relational.profile(df, Seq("id", "s"), exact = true)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(got("id") == ((4L, 0L, 3L, "1", "3")))
    assert(got("s") == ((4L, 1L, 2L, "a", "b")))
  }

  test("expect: one pass, null predicate counts as violation") {
    val df = Seq((1L, Some(5.0)), (2L, Some(-1.0)), (3L, None)).toDF("id", "v")
    val got = Relational.expect(df, Seq(
        "v_positive" -> (col("v") > 0),
        "id_nonnull" -> col("id").isNotNull))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // v > 0: row 2 fails, row 3 is NULL → unknown is not passed
    assert(got("v_positive") == ((3L, 2L)))
    assert(got("id_nonnull") == ((3L, 0L)))
  }

  test("funnel: strict ordered chaining — equal timestamps do not chain; per-step firsts") {
    val evs = Seq(
      // user 1: clean 3-step conversion
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"),
      // user 2: click BEFORE the first view is ignored; the click AT the
      // view's timestamp must not chain (strict >); purchase earlier
      // than the matched click cannot complete the funnel
      (2L, 5L, "click"), (2L, 10L, "view"), (2L, 10L, "click"),
      (2L, 15L, "click"), (2L, 12L, "purchase"),
      // user 3: only a purchase — zero steps (no view)
      (3L, 1L, "purchase"),
      // user 4: view then purchase, no click — stops at 1
      (4L, 10L, "view"), (4L, 20L, "purchase"),
      // noise type is pruned before the shuffle, not matched
      (1L, 1L, "error"))
    val df = evs.toDF("user_id", "us", "event_type")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"), col("event_type"))
    val got = Relational.funnel(df, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getSeq[Any](2).map(Option(_))))).toMap
    assert(got(1L) == ((3, Seq(Some(10L), Some(20L), Some(30L)))))
    assert(got(2L) == ((2, Seq(Some(10L), Some(15L), None))))
    assert(got(3L) == ((0, Seq(None, None, None))))
    assert(got(4L) == ((1, Seq(Some(10L), None, None))))
  }

  test("retention: cohort = first-seen day; same-day repeats count once") {
    def day(off: Int, h: Int = 8) =
      java.sql.Timestamp.valueOf(f"2026-01-${1 + off}%02d $h%02d:00:00")
    val evs = Seq(
      (1L, day(0)), (1L, day(1)), (1L, day(1, 9)), (1L, day(3)),
      (2L, day(1)), (2L, day(3)))
    val got = Relational.retention(evs.toDF("user_id", "ts"), "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("2026-01-01", 0) -> 1L, ("2026-01-01", 1) -> 1L, ("2026-01-01", 3) -> 1L,
      ("2026-01-02", 0) -> 1L, ("2026-01-02", 2) -> 1L))
  }

  test("zorderBy: partitions are ordered, disjoint z-ranges (tight rectangles)") {
    val rnd = new scala.util.Random(11)
    val df = (1 to 2000).map(_ =>
      (rnd.nextInt(1 << 20).toLong, rnd.nextInt(1 << 20).toLong)).toDF("a", "b")
    val parts = Relational.zorderBy(df, col("a"), col("b"), numPartitions = 8)
      .select(col("a"), col("b"))
      .rdd.mapPartitionsWithIndex { (pid, it) =>
        val zs = it.map { r =>
          var z = 0L
          for (i <- 0 until 31) {
            z |= ((r.getLong(0) >> i) & 1L) << (2 * i)
            z |= ((r.getLong(1) >> i) & 1L) << (2 * i + 1)
          }
          z
        }.toSeq
        if (zs.isEmpty) Iterator.empty
        else Iterator((pid, zs.min, zs.max, zs == zs.sorted))
      }.collect().sortBy(_._1)
    assert(parts.nonEmpty)
    assert(parts.forall(_._4), "z sorted within every partition")
    parts.sliding(2).foreach {
      case Array((_, _, maxPrev, _), (_, minNext, _, _)) =>
        assert(maxPrev <= minNext, "partition z-ranges disjoint and ordered")
      case _ =>
    }
  }

  test("groupedTopKSalted equals the single-phase cap on a skewed group, any salt count") {
    // one mega-group (900 rows) + two small ones; ties on v break by id
    val rows = (0 until 900).map(i => ("hot", i, (i % 37).toDouble)) ++
      Seq(("a", 1000, 5.0), ("a", 1001, 9.0), ("b", 2000, 1.0))
    val df = rows.toDF("g", "id", "v")
    val order = Seq(col("v").desc, col("id").asc)
    val exact = Relational.groupedTopK(df, Seq(col("g")), order, 7)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    for (s <- Seq(1, 4, 64)) {
      val salted = Relational.groupedTopKSalted(df, Seq(col("g")), order, 7, s)
        .collect().map(r => (r.getString(0), r.getInt(1))).toSet
      assert(salted == exact, s"salts=$s must be exact")
    }
    // domainCap routes through the salted form unchanged
    val capDf = (0L until 50L).map(i => (i, s"see https://one.example/p id $i"))
      .toDF("doc_id", "text")
    val plain = graft.pipeline.Corpus.domainCap(capDf, "doc_id", "text", 5)
      .select("doc_id").as[Long].collect().toSet
    val viaSalt = graft.pipeline.Corpus.domainCap(capDf, "doc_id", "text", 5, salts = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(plain == viaSalt)
  }

  test("asofJoinBackward matches a brute-force lateral lookup on real data") {
    val e = Tables.events(spark, sf).filter(col("event_id") < 300)
      .select(col("event_id"), col("user_id"), col("ts"))
    val o = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    val fast = Relational.asofJoinBackward(e, o, "ts", "o_orderdate",
        "user_id", "o_custkey", Seq("o_orderkey"))
      .select("event_id", "o_orderkey").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    // brute force via join + window max-by
    val brute = e.join(o, col("user_id") === col("o_custkey") &&
        col("ts") >= col("o_orderdate"), "left")
      .groupBy(col("event_id"))
      .agg(max_by(col("o_orderkey"),
        struct(col("o_orderdate"), col("o_orderkey"))).as("o_orderkey"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(fast == brute)
  }

  test("sessionize: gap threshold splits sessions at µs precision") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val df = Seq(
      (1L, at(0)), (1L, at(100)), (1L, at(2000)),   // gap 1900 > 1800 → new session
      (1L, at(3799)),                               // gap 1799 → same session
      (2L, at(0))).toDF("user_id", "ts")
    val got = Relational.sessionize(df, "user_id", "ts", 1800L)
      .groupBy("user_id").agg(max("session_id").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L))
  }

  test("globalRowNumber: contiguous 1..N, equal to the single-window form, multi-partition") {
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
      .repartition(7) // force multiple input partitions
    val got = Relational.globalRowNumber(o,
        Seq(col("o_totalprice").desc, col("o_orderkey")))
      .select(col("o_orderkey"), col("row_num"))
      .as[(Long, Long)].collect().sortBy(_._2)
    val n = o.count()
    assert(got.map(_._2).toSeq === (1L to n).toSeq, "row numbers not contiguous 1..N")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val naive = o.withColumn("rn", row_number().over(w))
      .select(col("o_orderkey"), col("rn").cast("long"))
      .as[(Long, Long)].collect().sortBy(_._2)
    assert(got.toSeq === naive.toSeq)
  }

  test("intervalJoin: bucketed formulation matches the naive range join, no duplicate pairs") {
    val ev = Tables.events(spark, sf)
    val a = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("a_id"), col("ts").as("a_ts"))
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("b_id"), col("ts").as("b_ts"))
    val w = 3600L * 1000000L // 1 hour, wide enough for matches at sf0.001
    val got = Relational.intervalJoin(a, b, "user_id", "a_ts", "b_ts", w)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    val naive = a.join(b, Seq("user_id"))
      .filter(unix_micros(col("b_ts")) >= unix_micros(col("a_ts")) &&
        unix_micros(col("b_ts")) < unix_micros(col("a_ts")) + w)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    assert(got.nonEmpty, "test window produced no pairs — widen it")
    assert(got.size == got.distinct.size, "bucketed join emitted duplicate pairs")
    assert(got.sorted == naive.sorted)
  }

  test("scd2: collapses runs, null-safe payload compare, closed/open intervals") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val df = Seq(
      (1L, at(0), 1L, Some("a")), (1L, at(10), 2L, Some("a")), // run of a
      (1L, at(20), 3L, Some("b")),                             // change → b
      (1L, at(30), 4L, None), (1L, at(40), 5L, None),          // null state run
      (1L, at(50), 6L, Some("b")),                             // b AGAIN (new run)
      (2L, at(0), 7L, Some("x"))
    ).toDF("k", "ts", "id", "state")
    val got = Relational.scd2(df, "k", "ts", Seq("state"),
        tieBreak = Seq(col("id")))
      .select(col("k"), col("state"), col("valid_from"), col("valid_to"),
        col("is_current"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3.getTime))
    assert(got === Seq(
      (1L, Some("a"), at(0), Some(at(20)), false),
      (1L, Some("b"), at(20), Some(at(30)), false),
      (1L, None, at(30), Some(at(50)), false),
      (1L, Some("b"), at(50), None, true),
      (2L, Some("x"), at(0), None, true)))
    // intervals tile each key's timeline: next valid_from == valid_to
    got.groupBy(_._1).values.foreach { vs =>
      vs.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a._4.contains(b._3), "intervals must tile")
        case _ =>
      }
    }
  }

  test("scd2Lookup: version at ts, valid_from inclusive, pre-history null, one exchange") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Long) = new java.sql.Timestamp(base.getTime + sec * 1000)
    val states = Seq((1L, at(10), 11L, Some("a")), (1L, at(30), 12L, Some("b")),
        (2L, at(0), 13L, Some("x")))
      .toDF("k", "ts", "id", "state")
    val hist = Relational.scd2(states, "k", "ts", Seq("state"),
      tieBreak = Seq(col("id")))
    val facts = Seq(
      (1L, at(5), 100L),   // before first version → null
      (1L, at(10), 101L),  // exactly valid_from → "a" (inclusive)
      (1L, at(29), 102L),  // inside [10,30) → "a"
      (1L, at(30), 103L),  // boundary → "b"
      (1L, at(99), 104L),  // open-ended current → "b"
      (3L, at(50), 105L))  // key with no history → null
      .toDF("k", "ts", "fid")
    val got = Relational.scd2Lookup(facts, hist, "k", "ts", Seq("state"))
      .select(col("fid"), col("state"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got == Map(100L -> None, 101L -> Some("a"), 102L -> Some("a"),
      103L -> Some("b"), 104L -> Some("b"), 105L -> None))
    // the as-of union/window shape: one hash exchange for the lookup
    val plan = Relational.scd2Lookup(facts, hist.localCheckpoint(),
      "k", "ts", Seq("state")).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected one exchange for the point-in-time window, got $exchanges:\n$plan")
  }

  test("scd2: single shuffle — one Exchange in the physical plan") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val plan = Relational.scd2(ev, "user_id", "ts", Seq("event_type"),
      tieBreak = Seq(col("event_id"))).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"expected both window passes to share one hash exchange, got $exchanges:\n$plan")
  }

  test("forwardFill: per-key carry-forward, leading nulls stay null, fills reset per key") {
    val rows = Seq[(Long, Long, java.lang.Double)](
      (1L, 1L, null),      // leading null: nothing to carry yet
      (2L, 1L, 10.0),
      (3L, 1L, null),      // ← 10.0
      (4L, 1L, null),      // ← 10.0 (carries through runs)
      (5L, 1L, 20.0),
      (6L, 1L, null),      // ← 20.0, not 10.0
      (7L, 2L, null),      // other key: its own (empty) history
      (8L, 2L, 5.0),
      (9L, 2L, null))      // ← 5.0
    val got = Relational.forwardFill(
        rows.toDF("seq", "key", "v").repartition(5),
        Seq(col("key")), Seq(col("seq")), Seq("v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got == Map(
      1L -> None, 2L -> Some(10.0), 3L -> Some(10.0), 4L -> Some(10.0),
      5L -> Some(20.0), 6L -> Some(20.0),
      7L -> None, 8L -> Some(5.0), 9L -> Some(5.0)))
    // backward fill is the documented reversed-order call
    val back = Relational.forwardFill(
        rows.toDF("seq", "key", "v"),
        Seq(col("key")), Seq(col("seq").desc), Seq("v"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(back(1L) == Some(10.0) && back(9L) == None && back(7L) == Some(5.0))
  }

  test("snapshotDiff: insert/delete/update classification, null-safe, unchanged absent") {
    val old = Seq[(Long, String, java.lang.Long)](
      (1L, "a", 10L), (2L, "b", 20L), (3L, "c", null), (4L, "d", 40L))
      .toDF("id", "tag", "v")
    val neu = Seq[(Long, String, java.lang.Long)](
      (1L, "a", 10L),     // unchanged → absent
      (2L, "B", 20L),     // tag changed → update
      (3L, "c", null),    // null == null under <=> → unchanged, absent
      (5L, "e", 50L))     // fresh key → insert; 4 missing → delete
      .toDF("id", "tag", "v")
    val got = Relational.snapshotDiff(old, neu, Seq("id"), Seq("tag", "v"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), Option(r.getString(2))))).toMap
    assert(got == Map(
      2L -> (("update", Some("B"))),
      4L -> (("delete", None)),
      5L -> (("insert", Some("e")))), got.toString)
    // null → value and value → null are both updates (null-safe compare)
    val flips = Relational.snapshotDiff(
      Seq[(Long, java.lang.Long)]((1L, null), (2L, 2L)).toDF("id", "v"),
      Seq[(Long, java.lang.Long)]((1L, 1L), (2L, null)).toDF("id", "v"),
      Seq("id"), Seq("v")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(flips == Map(1L -> "update", 2L -> "update"))
  }

  test("snapshotDiff: randomized parity with a driver-side reference diff") {
    val rnd = new scala.util.Random(11)
    def table(): Map[Long, Option[Long]] =
      (0L until 40L).flatMap { id =>
        if (rnd.nextBoolean()) Some(id ->
          (if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(3).toLong)))
        else None
      }.toMap
    for (_ <- 1 to 5) {
      val o = table(); val n = table()
      val want = (o.keySet ++ n.keySet).flatMap { id =>
        (o.get(id), n.get(id)) match {
          case (None, Some(_))                    => Some(id -> "insert")
          case (Some(_), None)                    => Some(id -> "delete")
          case (Some(a), Some(b)) if a != b       => Some(id -> "update")
          case _                                  => None
        }
      }.toMap
      def df(m: Map[Long, Option[Long]]) =
        m.toSeq.map { case (k, v) => (k, v.map(Long.box).orNull) }
          .toDF("id", "v").repartition(3)
      val got = Relational.snapshotDiff(df(o), df(n), Seq("id"), Seq("v"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == want, s"old=$o\nnew=$n")
    }
  }

  test("concurrencyProfile: sweep line, end-exclusive touch, zero-length, invariance") {
    import spark.implicits._
    def ts(us: Long) = us
    // intervals: [0,10), [5,15), [10,20) — at t=10 the first ends as
    // the third starts: end-exclusive means active stays 2, not 3
    val df = Seq((0L, 10L), (5L, 15L), (10L, 20L), (7L, 7L))
      .toDF("s_us", "e_us")
      .select(timestamp_micros(col("s_us")).as("s"),
        timestamp_micros(col("e_us")).as("e"))
    val got = Relational.concurrencyProfile(df, "s", "e")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(r => r._1 -> r._4).toSeq ==
      Seq(0L -> 1L, 5L -> 2L, 7L -> 2L, 10L -> 2L, 15L -> 1L, 20L -> 0L),
      got.mkString(","))
    // the zero-length interval at 7 nets to zero but is visible in counts
    val at7 = got.find(_._1 == 7L).get
    assert(at7._2 == 1L && at7._3 == 1L)
    // profile ends at zero (every interval closes)
    assert(got.last._4 == 0L)
    // partitioning must not perturb the global running sum
    val re = Relational.concurrencyProfile(
        df.repartition(7), "s", "e")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(re.toSeq == got.toSeq)
  }

  test("twap: holding-duration weights, not sample counts; single-obs null") {
    import spark.implicits._
    // key 1: value 10 held 9 µs, value 100 held 1 µs, last obs unheld
    // → TWAP = (10·9 + 100·1) / 10 = 19.0 — the COUNT mean would say 38
    val df = Seq(
      (1L, 0L, 10.0), (1L, 9L, 100.0), (1L, 10L, 7.0),
      (2L, 5L, 42.0)).toDF("k", "us", "v")
      .select(col("k"), timestamp_micros(col("us")).as("ts"), col("v"))
    val got = Relational.twap(df, "k", "ts", "v")
      .as[(Long, Long, Long, Long, Option[Long], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 10L, 190000L, Some(19000L), Some(19.0))))
    // single observation: zero span, null TWAP
    assert(got(2L) == ((2L, 1L, 0L, 0L, None, None)))
    // partitioning must not perturb the integral
    val re = Relational.twap(df.repartition(5), "k", "ts", "v")
      .as[(Long, Long, Long, Long, Option[Long], Option[Double])]
      .collect().toSet
    assert(re == got.values.toSet)
    // net-NEGATIVE series: twap_milli TRUNCATES toward zero (the
    // documented semantics the q217 oracle replays via sign-split //):
    // Σ mv·dt = −10000·3 = −30000 over 7 µs → trunc(−30000/7) = −4285
    // (floor would say −4286)
    val neg = Seq((9L, 0L, -10.0), (9L, 3L, 0.0), (9L, 7L, 5.0))
      .toDF("k", "us", "v")
      .select(col("k"), timestamp_micros(col("us")).as("ts"), col("v"))
    val ng = Relational.twap(neg, "k", "ts", "v")
      .as[(Long, Long, Long, Long, Option[Long], Option[Double])].head()
    assert(ng._4 == -30000L && ng._5 == Some(-4285L), s"got $ng")
  }

  test("hotColdJoin: equals the plain join; hot path broadcasts while cold shuffles") {
    import spark.implicits._
    val big = (1L to 500L).map(i => (i, if (i <= 400) 7L else i % 50))
      .toDF("row_id", "k") // key 7 is hot (400 of 500 rows)
    val dim = (0L until 50L).map(k => (k, s"payload$k")).toDF("dk", "p")
    val hot = Seq(7L).toDF("hk")
    val got = Relational.hotColdJoin(big, dim, "k", "dk", hot, Seq("p"))
    val want = big.join(dim, col("k") === col("dk")).drop("dk")
    assert(got.count() == want.count())
    assert(got.as[(Long, Long, String)].collect().toSet ==
      want.as[(Long, Long, String)].collect().toSet)
    // with auto-broadcast off, the hot path must STILL broadcast
    // (explicit hint) while the cold path shuffles
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "-1")
      val p = Relational.hotColdJoin(big, dim, "k", "dk", hot, Seq("p"))
        .queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"hot path must broadcast:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"cold path must take the shuffled join:\n$p")
    } finally spark.conf.set(conf, old)
  }

  test("asofJoinNearest: min |Δt|, backward ties, equal-t exact, empty keys null") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 25L), (1L, 100L), (1L, 3L), (1L, 20L),
      (1L, 19L), (2L, 50L)).toDF("k", "t")
    val right = Seq((1L, 0L, "a"), (1L, 20L, "b"), (1L, 30L, "c"))
      .toDF("rk", "rt", "p")
    val got = Relational.asofJoinNearest(left, right, "t", "rt", "k", "rk",
        Seq("p"))
      .as[(Long, Long, Option[String])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 10L)).contains("a"))  // Δ10 both ways → backward
    assert(got((1L, 25L)).contains("b"))  // Δ5 both ways → backward
    assert(got((1L, 100L)).contains("c")) // only backward exists
    assert(got((1L, 3L)).contains("a"))   // backward closer
    assert(got((1L, 20L)).contains("b"))  // exact hit, Δ0
    assert(got((1L, 19L)).contains("b"))  // forward closer
    assert(got((2L, 50L)).isEmpty)        // key with no right rows
  }

  test("skewReport: exact imbalance factors, deterministic ties, TakeOrdered plan") {
    import spark.implicits._
    // hot key 70 rows, a 20, b 10 → n = 100, n_keys = 3, mean = 33
    val rows = Seq.fill(70)("hot") ++ Seq.fill(20)("a") ++ Seq.fill(10)("b")
    val df = rows.map(k => (k, 1)).toDF("k", "v").repartition(7)
    val got = Relational.skewReport(df, Seq("k"), topK = 2)
      .as[(String, Long, Long, Long)].collect()
    // share 70/100 = 0.7; xmean = 70e6 div 33 = 2_121_212
    assert(got(0) == (("hot", 70L, 700000L, 2121212L)), got.mkString(","))
    assert(got(1) == (("a", 20L, 200000L, 606060L)))
    // null keys are reported like values; ties break on the key
    val withNull = Seq(("x", 1), (null, 1), (null, 1), ("y", 1))
      .toDF("k", "v")
    val r2 = Relational.skewReport(withNull, Seq("k"), topK = 4)
      .as[(Option[String], Long, Long, Long)].collect()
    assert(r2.head._1.isEmpty && r2.head._2 == 2L)
    assert(r2.map(_._1).drop(1).flatten.toSeq == Seq("x", "y"))
    // global top-K must plan as TakeOrdered, not a full sort
    val p = Relational.skewReport(df, Seq("k"), topK = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("mergeIntervals: chains, end-exclusive touch, zero-length, invariance") {
    import spark.implicits._
    // key 1: [0,10) ∪ [5,15) ∪ [12,20) chain into one island [0,20);
    // [20,25) TOUCHES 20 — end-exclusive: new island. A zero-length
    // probe [6,6) rides inside the first island without extending it;
    // [30,30) alone is a zero-length island.
    val df = Seq(
      (1L, 0L, 10L), (1L, 5L, 15L), (1L, 12L, 20L), (1L, 20L, 25L),
      (1L, 6L, 6L), (1L, 30L, 30L),
      (2L, 100L, 200L),
      // reversed and null-ish rows are excluded by policy
      (2L, 500L, 400L)).toDF("k", "s_us", "e_us")
      .select(col("k"), timestamp_micros(col("s_us")).as("s"),
        timestamp_micros(col("e_us")).as("e"))
    val got = Relational.mergeIntervals(df, "k", "s", "e")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (1L, 0L, 4L, 0L, 20L, 20L),   // [0,10)+[5,15)+[12,20)+probe[6,6)
      (1L, 1L, 1L, 20L, 25L, 5L),   // touch at 20 starts fresh
      (1L, 2L, 1L, 30L, 30L, 0L),   // lone zero-length island
      (2L, 0L, 1L, 100L, 200L, 100L)), got.mkString(","))
    // partitioning must not perturb island assembly
    val re = Relational.mergeIntervals(df.repartition(7), "k", "s", "e")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2))
    assert(re.toSeq == got.toSeq)
  }

  test("polygonStats: shoelace signs, centroid, degenerate null, closing edge") {
    import spark.implicits._
    val rows = Seq(
      // unit square CCW: 2A = +2, centroid (0.5, 0.5)
      (1L, 1L, 0L, 0L), (1L, 2L, 1L, 0L), (1L, 3L, 1L, 1L),
      (1L, 4L, 0L, 1L),
      // same square CW: 2A = −2, same centroid
      (2L, 1L, 0L, 0L), (2L, 2L, 0L, 1L), (2L, 3L, 1L, 1L),
      (2L, 4L, 1L, 0L),
      // triangle (0,0)(6,0)(0,3): 2A = 18, centroid (2, 1)
      (3L, 1L, 0L, 0L), (3L, 2L, 6L, 0L), (3L, 3L, 0L, 3L),
      // degenerate: collinear spike, area 0
      (4L, 1L, 0L, 0L), (4L, 2L, 5L, 0L), (4L, 3L, 0L, 0L))
      .toDF("p", "i", "x", "y")
    val got = Relational.polygonStats(rows.toDF("p", "i", "x", "y"),
        "p", "i", "x", "y")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 2L, 2L, Some(500000L), Some(500000L))))
    assert(got(2L) == ((2L, 4L, -2L, 2L, Some(500000L), Some(500000L))))
    assert(got(3L) == ((3L, 3L, 18L, 18L, Some(2000000L),
      Some(1000000L))))
    assert(got(4L) == ((4L, 3L, 0L, 0L, None, None)))
  }

  test("periodOverPeriod: bucket sums, previous-existing lag, zero/missing baseline null") {
    import spark.implicits._
    def t(day: Int, off: Long = 0L) = new java.sql.Timestamp(
      (day.toLong * 86400 + off) * 1000L)
    val week = 7L * 86400000000L
    val rows = Seq(
      (1L, t(0), 1.0), (1L, t(1), 2.0),   // week 0: 3000
      (1L, t(8), 4.5),                    // week 1: 4500 (+50%)
      (1L, t(22), 9.0),                   // week 3 (week 2 silent)
      (2L, t(0), 0.0),                    // week 0: 0 → zero baseline
      (2L, t(8), 5.0))
    val got = Relational.periodOverPeriod(rows.toDF("k", "ts", "v"),
        "k", "ts", "v", week)
      .select("key", "period_idx", "n_rows", "sum_milli",
        "prev_period_idx", "pct_change_micro")
      .as[(Long, Long, Long, Long, Option[Long], Option[Long])]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got((1L, 0L)) == ((1L, 0L, 2L, 3000L, None, None)))
    assert(got((1L, 1L)) == ((1L, 1L, 1L, 4500L, Some(0L), Some(500000L))))
    // silent week 2: week 3 compares against week 1 and SAYS SO
    assert(got((1L, 3L))._5 == Some(1L))
    assert(got((1L, 3L))._6 == Some(1000000L)) // 4500 → 9000 = +100%
    // zero baseline → null, never infinity
    assert(got((2L, 1L)) == ((2L, 1L, 1L, 5000L, Some(0L), None)))
  }

  test("topMovers: smoothed rate ratio, absent-period items, deterministic cut") {
    import spark.implicits._
    def t(day: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime +
        day * 86400000L)
    val split = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
      .getTime * 1000L
    val rows =
      Seq.fill(8)(("steady", t(1))) ++ Seq.fill(8)(("steady", t(20))) ++
      Seq.fill(1)(("riser", t(1))) ++ Seq.fill(9)(("riser", t(20))) ++
      Seq.fill(9)(("faller", t(1))) ++ Seq.fill(1)(("faller", t(20))) ++
      Seq(("new", t(20)))
    val got = Relational.topMovers(rows.toDF("item", "ts"), "item",
        "ts", split, k = 4)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    // totals: before 18, after 19
    assert(got.map(_._1) == Seq("riser", "new", "steady", "faller"))
    val byItem = got.map(r => r._1 -> r).toMap
    assert(byItem("riser") == (("riser", 1L, 9L, 18L, 19L,
      (1000000L * 10 * 19) / (2 * 20))))
    assert(byItem("new") == (("new", 0L, 1L, 18L, 19L,
      (1000000L * 2 * 19) / (1 * 20))))
    assert(byItem("faller")._6 < 1000000L)
  }

  test("intervalGaps: holes only, zero-length contact not a gap, complements islands") {
    import spark.implicits._
    val df = Seq(
      // key 1: [0,10) [5,15) then hole (15,20), touch at 25 (no gap),
      // hole (30,40)
      (1L, 0L, 10L), (1L, 5L, 15L), (1L, 20L, 25L), (1L, 25L, 30L),
      (1L, 40L, 45L),
      // key 2: single interval — no interior, no gap
      (2L, 100L, 200L),
      // reversed row excluded by policy
      (2L, 500L, 400L)).toDF("k", "s_us", "e_us")
      .select(col("k"), timestamp_micros(col("s_us")).as("s"),
        timestamp_micros(col("e_us")).as("e"))
    val gaps = Relational.intervalGaps(df, "k", "s", "e")
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(gaps.toSeq == Seq((1L, 15L, 20L, 5L), (1L, 30L, 40L, 10L)))
    // complementarity: island spans + gap spans = covered hull
    val islands = Relational.mergeIntervals(df, "k", "s", "e")
      .filter(col("k") === 1L)
      .agg(sum(col("island_span_us"))).as[Long].collect()(0)
    assert(islands + gaps.map(_._4).sum == 45L - 0L)
  }

  test("associationRules: hand-computed lanes, presence dedup, min-support prune") {
    import spark.implicits._
    // baskets: {x,y}, {x,y}, {x,y,z}, {x}, {z,z} (dup z counts once)
    val bi = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "y"), (3L, "z"), (4L, "x"), (5L, "z"), (5L, "z"))
      .toDF("b", "i")
    val got = Relational.associationRules(bi, "b", "i")
      .as[(String, String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    // (x,y): n_ab=3, n_x=4, n_y=3, N=5 → support 600000,
    // conf x→y 750000, conf y→x 1000000, lift 3·5e6/(4·3) = 1250000
    assert(got(("x", "y")) ==
      (("x", "y", 3L, 4L, 3L, 5L, 600000L, 750000L, 1000000L, 1250000L)))
    // (y,z): n_ab=1 (basket 3), lift 1·5e6/(3·2) = 833333
    assert(got(("y", "z"))._10 == 833333L)
    assert(got.size == 3) // (x,y) (x,z) (y,z) — canonical, no self pairs
    // min-support prune keeps only the hot pair
    val pruned = Relational.associationRules(bi, "b", "i",
      minPairCount = 2L)
    assert(pruned.count() == 1)
  }

  test("ewmaMilli: per-step floors, key reset, null gap, negative floor") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1L, Some(1.0)), ("a", 2L, Some(2.0)), ("a", 3L, Some(1.0)),
      ("b", 1L, Some(-1.0)), ("b", 2L, Some(0.001)),
      ("c", 1L, Some(2.0)), ("c", 2L, None), ("c", 3L, Some(4.0)))
      .toDF("k", "ord", "v")
    val got = Relational.ewmaMilli(rows, "k", Seq("ord"), "v", 500L)
      .select("k", "ord", "ewma_milli")
      .as[(String, Long, Option[Long])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // a: 1000 → (500·2000+500·1000)//1000 = 1500 → (500+750)·1000//1000 = 1250
    assert(got(("a", 1L)) == Some(1000L))
    assert(got(("a", 2L)) == Some(1500L))
    assert(got(("a", 3L)) == Some(1250L))
    // b: -1000 → (500·1 + 500·(−1000))//1000 = −499500//1000 FLOORS to −500
    // (truncation would give −499 — the twap_milli lesson)
    assert(got(("b", 2L)) == Some(-500L))
    // c: null emits null and does not advance the state
    assert(got(("c", 2L)).isEmpty)
    assert(got(("c", 3L)) == Some(3000L))
  }

  test("sortedNeighborhoodPairs: window pairs, catches what blocking misses") {
    import spark.implicits._
    // "smith"/"smyth" sort adjacent but land in different equi blocks
    val df = Seq((1L, "smith"), (2L, "smyth"), (3L, "aaaa"), (4L, "zzzz"))
      .toDF("id", "k")
    val got = Relational.sortedNeighborhoodPairs(df, "id", "k", window = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // sort: aaaa(3) smith(1) smyth(2) zzzz(4); adjacent pairs only
    assert(got == Set((3L, 1L), (1L, 2L), (2L, 4L)))
    // window 3 adds the distance-2 pairs
    val w3 = Relational.sortedNeighborhoodPairs(df, "id", "k", window = 3)
      .count()
    assert(w3 == 5L)
  }

  test("giniCoefficient: equality 0, concentration, exact hand value") {
    import spark.implicits._
    def g(vs: Seq[Long]) =
      Relational.giniCoefficient(vs.toDF("v"), "v")
        .select("gini_micro").collect().head.getLong(0)
    assert(g(Seq(5L, 5L, 5L, 5L)) == 0L)
    // {0,0,0,10}: G = (2*(1*0+2*0+3*0+4*10) - 5*10)/(4*10) = 30/40
    assert(g(Seq(0L, 0L, 0L, 10L)) == 750000L)
    // {1,2,3,4}: (2*(1+4+9+16) - 5*10)/40 = 10/40
    assert(g(Seq(1L, 2L, 3L, 4L)) == 250000L)
    intercept[Exception] {
      g(Seq(-1L, 5L))
    }
  }

  test("bandJoin: bucket candidates equal the theta definition, negatives, no BNLJ") {
    import spark.implicits._
    val l = Seq((1L, -7L), (2L, 0L), (3L, 10L), (4L, 23L)).toDF("k", "v")
    val r = Seq((10L, -9L), (11L, 3L), (12L, 14L), (13L, 99L)).toDF("k", "v")
    val got = Relational.bandJoin(l, r, "k", "v", "k", "v", d = 5L)
      .select("l_key", "r_key").as[(Long, Long)].collect().toSet
    val want = (for {
      (lk, lv) <- Seq((1L, -7L), (2L, 0L), (3L, 10L), (4L, 23L))
      (rk, rv) <- Seq((10L, -9L), (11L, 3L), (12L, 14L), (13L, 99L))
      if math.abs(lv - rv) <= 5
    } yield (lk, rk)).toSet
    assert(got == want && want.nonEmpty)
    val p = Relational.bandJoin(l, r, "k", "v", "k", "v", 5L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
  }

  test("gridDistanceJoin: 3x3 cells equal the theta definition, negatives, boundary, no BNLJ") {
    import spark.implicits._
    // clusters straddling cell borders, negative quadrant, one pair
    // at EXACTLY dist r, one just over
    val pts = Seq((1L, 0L, 0L), (2L, 10L, 0L), (3L, -3L, -4L),
      (4L, 9L, 9L), (5L, 100L, 100L), (6L, 106L, 108L),
      (7L, -20L, -20L)).toDF("id", "x", "y")
    val got = Relational.gridDistanceJoin(pts, pts, "id", "x", "y",
        "id", "x", "y", r = 10L)
      .filter(col("l_id") < col("r_id"))
      .select("l_id", "r_id", "dist2").as[(Long, Long, Long)]
      .collect().toSet
    val raw = Seq((1L, 0L, 0L), (2L, 10L, 0L), (3L, -3L, -4L),
      (4L, 9L, 9L), (5L, 100L, 100L), (6L, 106L, 108L), (7L, -20L, -20L))
    val want = (for {
      (a, ax, ay) <- raw; (b, bx, by) <- raw
      d2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
      if a < b && d2 <= 100
    } yield (a, b, d2)).toSet
    assert(got == want && want.contains((1L, 2L, 100L))) // boundary kept
    assert(want.contains((5L, 6L, 100L)))     // 6²+8² = 100, cross-cell
    assert(!want.exists(t => t._2 == 7L))     // isolated point pairs nothing
    val p = Relational.gridDistanceJoin(pts, pts, "id", "x", "y",
        "id", "x", "y", 10L).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
  }

  test("touchAttribution: window endpoints inclusive, ties deterministic, unattributed visible") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val touches = Seq(
      (1L, ts(0), "A"),   // outside the 15s lookback of conv@20
      (1L, ts(5), "C"),   // exactly conv-W: inclusive
      (1L, ts(10), "B"),
      (1L, ts(20), "Z"),  // exactly at conv instant: inclusive
      (3L, ts(100), "a"), (3L, ts(100), "z")) // same-instant tie
      .toDF("user_id", "ts", "ch")
    val convs = Seq((1L, 900L, ts(20), 5.0), (2L, 901L, ts(50), 7.0),
      (3L, 902L, ts(100), 1.5)).toDF("user_id", "conv_id", "ts", "value")
    val got = Relational.touchAttribution(touches, convs, "user_id",
        "ts", "ch", "conv_id", "ts", "value", windowMicros = 15L * 1000000L)
      .select("conv_id", "value_milli", "n_touches", "first_channel",
        "last_channel")
      .as[(Long, Long, Long, Option[String], Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(900L) == ((5000L, 3L, Some("C"), Some("Z"))))
    assert(got(901L) == ((7000L, 0L, None, None)))
    assert(got(902L) == ((1500L, 2L, Some("a"), Some("z"))))
  }

  test("goldenRecord: per-field survivorship mixes sources, cluster-wide-null stays null") {
    import spark.implicits._
    val df = Seq(
      // cluster 1: full-tie on name broken by smaller id; phone only
      // on the low-priority record; addr won by recency within p=2
      (1L, 11L, 2L, 5L, "Alice", null.asInstanceOf[String], "addr-old"),
      (1L, 12L, 1L, 9L, null.asInstanceOf[String], "555-1234", null.asInstanceOf[String]),
      (1L, 13L, 2L, 5L, "Alicia", null.asInstanceOf[String], null.asInstanceOf[String]),
      (1L, 14L, 2L, 7L, null.asInstanceOf[String], null.asInstanceOf[String], "addr-new"),
      // cluster 2: all names null
      (2L, 21L, 1L, 1L, null.asInstanceOf[String], "p2", "a2"))
      .toDF("cluster_id", "id", "priority", "rev", "name", "phone", "addr")
    val got = Relational.goldenRecord(df, "cluster_id", "priority", "rev",
        "id", Seq("name", "phone", "addr"))
      .select("cluster_id", "n_records", "name", "phone", "addr")
      .as[(Long, Long, Option[String], Option[String], Option[String])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // name: ids 11/13 tie on (p=2, t=5), -id picks id=11 "Alice";
    // addr: (2,7) beats (2,5); phone survives from the p=1 record
    assert(got(1L) == ((4L, Some("Alice"), Some("555-1234"), Some("addr-new"))))
    assert(got(2L) == ((1L, None, Some("p2"), Some("a2"))))
  }

  test("intervalIntersectJoin: emit-once across buckets, half-open touch, oversize raises") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // left [0, 100s) spans many 10s buckets; right [35s, 45s) inside;
    // touching pair: [0,10) vs [10,20) must NOT match
    val l = Seq((1L, ts(0), ts(100)), (2L, ts(0), ts(10))).toDF("k", "s", "e")
    val r = Seq((1L, ts(35), ts(45)), (1L, ts(95), ts(200)),
      (2L, ts(10), ts(20))).toDF("k", "s", "e")
    val got = Relational.intervalIntersectJoin(l, r, "k", "s", "e",
        "s", "e", bucketMicros = 10L * 1000000L, maxBucketsPerInterval = 64)
      .select("k", "overlap_start_us", "overlap_end_us", "overlap_us")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 35000000L, 45000000L, 10000000L),   // fully inside, ONE row
      (1L, 95000000L, 100000000L, 5000000L)))  // partial tail clip
    val e2 = intercept[Exception] {
      Relational.intervalIntersectJoin(l, r, "k", "s", "e", "s", "e",
        bucketMicros = 1000000L, maxBucketsPerInterval = 8).collect()
    }
    assert(e2.getMessage.contains("covers >"), e2.getMessage)
  }

  test("slidingMedian: lower median of the trailing frame, spike-immune") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // values 1, 9, 2, 100, 3 with window 3: frames [1] [1,9] [1,9,2]
    // [9,2,100] [2,100,3] -> lower medians 1, 1, 2, 9, 3
    val df = Seq((1L, ts(0), 0L, 1.0), (1L, ts(1), 1L, 9.0),
      (1L, ts(2), 2L, 2.0), (1L, ts(3), 3L, 100.0), (1L, ts(4), 4L, 3.0))
      .toDF("k", "ts", "seq", "v")
    val got = Relational.slidingMedian(df, "k", "ts", "seq", "v", window = 3)
      .orderBy("seq").select("n_in_frame", "median_milli")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1000L), (2L, 1000L), (3L, 2000L),
      (3L, 9000L), (3L, 3000L)))
  }

  test("resampleLinear: interpolated grid, knot reproduction, aligned tail, dup-ts pooling") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val step = 60000000L // 60 s grid in micros
    val df = Seq(
      // A: obs at 30s=1.0 and 150s=4.0 -> grid 60s, 120s interpolate;
      //    then 150s..180s=4.0..1.0 with an ALIGNED final obs at 180s
      (1L, ts(30), 1.0), (1L, ts(150), 4.0), (1L, ts(180), 1.0),
      // B: duplicate timestamps pool to MIN; 0s..120s ramp 2.0 -> 5.0
      //    (0s and 120s are knots: reproduced exactly)
      (2L, ts(0), 2.0), (2L, ts(0), 7.0), (2L, ts(120), 5.0),
      // C: single unaligned observation -> no grid point at all
      (3L, ts(45), 9.0))
      .toDF("k", "ts", "v")
    val got = Relational.resampleLinear(df, "k", "ts", "v", step)
      .select("key", "grid_us", "value_milli")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 60000000L, 1750L),   // 1000 + 3000*30/120
      (1L, 120000000L, 3250L),  // 1000 + 3000*90/120
      (1L, 180000000L, 1000L),  // aligned final obs, exact knot
      (2L, 0L, 2000L),          // dup ts pooled to MIN(2000, 7000)
      (2L, 60000000L, 3500L),   // 2000 + 3000*60/120
      (2L, 120000000L, 5000L))) // knot
  }

  test("pointInPolygon: square, non-convex notch, half-open boundary") {
    import spark.implicits._
    val square = Seq((1L, 0L, 0L, 0L), (1L, 1L, 10L, 0L),
      (1L, 2L, 10L, 10L), (1L, 3L, 0L, 10L))
    // U-shape: notch from (10,10) to (20,10) carved out of the top
    val u = Seq((2L, 0L, 0L, 0L), (2L, 1L, 30L, 0L), (2L, 2L, 30L, 30L),
      (2L, 3L, 20L, 30L), (2L, 4L, 20L, 10L), (2L, 5L, 10L, 10L),
      (2L, 6L, 10L, 30L), (2L, 7L, 0L, 30L))
    val polys = (square ++ u).toDF("poly", "idx", "px", "py")
    val pts = Seq(
      (1L, 5L, 5L),    // square interior (and inside the U's base)
      (2L, 15L, 5L),   // square exterior; U base interior
      (3L, 0L, 5L),    // LEFT edges: inside both by the half-open rule
      (4L, 10L, 5L),   // RIGHT edge of square: outside it; in U's base
      (5L, 15L, 20L),  // inside the U's notch -> outside both
      (6L, 5L, 20L))   // U's left arm -> inside U only
      .toDF("id", "x", "y")
    val got = Relational.pointInPolygon(pts, "id", "x", "y",
        polys, "poly", "idx", "px", "py")
      .select("id", "poly").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (1L, 2L), (2L, 2L), (3L, 1L), (3L, 2L),
      (4L, 2L), (6L, 2L)))
  }

  test("pointInPolygon: broadcast-edges plan pin + BIGINT bound guards (r16)") {
    import spark.implicits._
    val pts = Tables.customer(spark, sf).select(
      col("c_custkey").as("id"),
      expr("pmod(c_custkey * 7919, 60000)").as("x"),
      expr("pmod(c_custkey * 4729, 30000)").as("y"))
    val polys = Seq((1L, 0L, 0L, 0L), (1L, 1L, 40000L, 0L),
      (1L, 2L, 40000L, 10000L), (1L, 3L, 10000L, 10000L),
      (1L, 4L, 10000L, 25000L), (1L, 5L, 0L, 25000L))
      .toDF("poly", "idx", "px", "py")
    val q = Relational.pointInPolygon(pts, "id", "x", "y",
      polys, "poly", "idx", "px", "py")
    val plan = q.queryExecution.executedPlan.toString
    // the edge table broadcasts; the row-scale points side is never
    // shuffled for the join (no sort-merge, no cartesian) — the only
    // exchange is the parity aggregate's, at matched-crossing grain
    // behind a map-side partial aggregate
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected a broadcast theta join, plan:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"))
    assert(q.count() > 0)
    // point-side guard: out-of-bound coordinates raise, never wrap
    val badPt = Seq((1L, 3000000000L, 5L)).toDF("id", "x", "y")
    val e1 = intercept[Exception] {
      Relational.pointInPolygon(badPt, "id", "x", "y",
        polys, "poly", "idx", "px", "py").collect()
    }
    assert(e1.getMessage != null && e1.getMessage.contains("point"))
    // vertex-side guard: the fence table is DATA here, so its bound
    // is an in-plan raise too
    val badPoly = Seq((1L, 0L, 0L, 0L), (1L, 1L, 4000000000L, 0L),
      (1L, 2L, 0L, 9L)).toDF("poly", "idx", "px", "py")
    val e2 = intercept[Exception] {
      Relational.pointInPolygon(Seq((1L, 1L, 1L)).toDF("id", "x", "y"),
        "id", "x", "y", badPoly, "poly", "idx", "px", "py").collect()
    }
    assert(e2.getMessage != null && e2.getMessage.contains("vertex"))
  }

  test("keySkewCensus: hand shares, null key counted, heap-limit plan (r16)") {
    import spark.implicits._
    val df = (Seq.fill(6)("hot") ++ Seq.fill(3)("warm") ++
      Seq("cold") ++ Seq(null.asInstanceOf[String])).toDF("k")
    val got = Relational.keySkewCensus(df, "k", topN = 2)
    val rows = got.collect().map(r => r.getAs[Long]("rank") ->
      ((Option(r.getAs[String]("key")), r.getAs[Long]("n"),
        r.getAs[Long]("n_rows"), r.getAs[Long]("n_keys"),
        r.getAs[Long]("share_milli")))).toMap
    assert(rows(1L) == ((Some("hot"), 6L, 11L, 4L, 545L)))
    assert(rows(2L) == ((Some("warm"), 3L, 11L, 4L, 272L)))
    assert(rows.size == 2)
    // the top-N cut is per-partition heaps, never a key-domain window
    assert(got.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
    // null-key count tie: NULLS LAST pinned (the DuckDB/oracle rule,
    // not Spark's nulls-first asc default — r16 review)
    val tie = (Seq.fill(2)("a") ++ Seq.fill(2)(null.asInstanceOf[String]))
      .toDF("k")
    val tr = Relational.keySkewCensus(tie, "k", topN = 2).collect()
      .map(r => r.getAs[Long]("rank") -> Option(r.getAs[String]("key")))
      .toMap
    assert(tr == Map(1L -> Some("a"), 2L -> None))
  }

  test("fdViolations: null counts as a value, clean FDs emit nothing") {
    import spark.implicits._
    val df = Seq(
      ("a", "x"), ("a", "x"),               // clean
      ("b", "x"), ("b", "y"),               // violation
      ("c", "x"), ("c", null.asInstanceOf[String])) // null vs x: violation
      .toDF("s", "l")
    val got = Relational.fdViolations(df, Seq("s"), "l")
      .select("s", "n_rows", "n_rhs")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map("b" -> ((2L, 2L)), "c" -> ((2L, 2L))))
  }

  test("collapseRareCategories: threshold, null passthrough, frequent kept") {
    import spark.implicits._
    val df = (Seq.fill(5)("big") ++ Seq("rare1", "rare2") ++
      Seq(null.asInstanceOf[String])).zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("id", "cat")
    val got = Relational.collapseRareCategories(df, "cat", minCount = 3L)
      .groupBy("cat").count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got == Map(Some("big") -> 5L, Some("__other") -> 2L,
      None -> 1L))
  }

  test("decayedCounts: shift weights, clamps, associative total") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ref = 1000000L * 1000000L // µs
    val h = 100L
    val rows = Seq(
      ("a", ts(1000000L)),        // age 0 -> 1000
      ("a", ts(1000000L - 150)),  // 1.5 half-lives -> k=1 -> 500
      ("a", ts(1000000L - 350)),  // k=3 -> 125
      ("b", ts(1000000L + 50)),   // future clamps -> 1000
      ("b", ts(1000000L - 100000L))) // k=1000 -> clamp 62 -> 0
      .toDF("k", "ts")
    val got = Relational.decayedCounts(rows, "k", "ts", ref, h)
      .select("k", "n_events", "decayed_milli")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("a") == ((3L, 1625L)))
    assert(got("b") == ((2L, 1000L)))
  }

  test("journeyEditDistance: encoding, off-alphabet, distance") {
    import spark.implicits._
    val rows = Seq(
      ("u1", 1L, "view"), ("u1", 2L, "click"), ("u1", 3L, "purchase"),
      ("u2", 1L, "view"), ("u2", 2L, "error"), ("u2", 3L, "click"),
      ("u3", 1L, "weird")) // off-alphabet -> '#'
      .toDF("k", "ord", "t")
    val got = Relational.journeyEditDistance(rows, "k", Seq("ord"), "t",
        alphabet = Seq("click", "error", "purchase", "signup", "view"),
        canonical = Seq("view", "click", "purchase"))
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("u1") == ((3L, 0L))) // exact funnel
    // u2 = "eba" vs "eac": sub b->a, sub a->c = 2
    assert(got("u2") == ((3L, 2L)))
    assert(got("u3") == ((1L, 3L))) // "#" vs "eac"
  }

  test("weightedMedian: weight dominance, tie stability, exclusions") {
    import spark.implicits._
    val df = Seq(
      ("a", 1.0, 1L), ("a", 2.0, 1L), ("a", 3.0, 10L), // weight wins -> 3000
      ("b", 1.0, 1L), ("b", 2.0, 1L),                   // lower median -> 1000
      ("c", 5.0, 0L), ("c", 7.0, 2L))                   // zero weight excluded
      .toDF("k", "v", "w")
    val got = Relational.weightedMedian(df, "k", "v", "w")
      .select("k", "w_total", "wmedian_milli")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("a") == ((12L, 3000L)))
    assert(got("b") == ((2L, 1000L)))
    assert(got("c") == ((2L, 7000L)))
  }

  test("forecastBacktest: lag lanes, MASE ratio, constant-series null") {
    import spark.implicits._
    // k=a: v = 1,2,3,4,1,2,3,4 (period 4): season-4 errors all 0
    val a = (1 to 8).map(i => ("a", i.toLong, (1 + (i - 1) % 4).toDouble))
    val c = (1 to 6).map(i => ("c", i.toLong, 5.0)) // constant: sae1 = 0
    val got = Relational.forecastBacktest((a ++ c).toDF("k", "ord", "v"),
        "k", Seq(col("ord")), "v", season = 4)
      .select("k", "sae_naive", "n_naive", "sae_seasonal", "n_seasonal",
        "mase_milli")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         Option(r.get(5)).map(_.asInstanceOf[Long]))).toMap
    // naive errors: |2-1|,|3-2|,|4-3|,|1-4|x.. = 1,1,1,3 repeating -> 7 rows
    assert(got("a")._1 == 1000L + 1000L + 1000L + 3000L + 1000L + 1000L + 1000L)
    assert(got("a")._2 == 7L)
    assert(got("a")._3 == 0L && got("a")._4 == 4L)
    assert(got("a")._5 == Some(0L)) // perfectly seasonal
    assert(got("c")._5.isEmpty)     // zero naive error -> undefined
  }

  test("abcClassify: tiers, first-key A, exact shares") {
    import spark.implicits._
    val m = Seq(("big", 80L), ("mid", 15L), ("sml", 4L), ("tny", 1L))
      .toDF("k", "v")
    val got = Relational.abcClassify(m, "k", "v")
      .select("k", "rank", "cum_before_milli", "abc_class")
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got("big") == ((1L, 0L, "A")))
    assert(got("mid") == ((2L, 800L, "B")))
    assert(got("sml") == ((3L, 950L, "C")))
    assert(got("tny") == ((4L, 990L, "C")))
  }

  test("cusumMilli: accumulation, slack bleed, alarm reset, null gap") {
    import spark.implicits._
    // target 10, slack 2 (drift 12000 milli), threshold 5000
    val rows = Seq(
      ("a", 1L, Some(14.0)), // s = 2000
      ("a", 2L, Some(14.0)), // s = 4000
      ("a", 3L, Some(14.0)), // s = 6000 > 5000 -> alarm, reset
      ("a", 4L, Some(13.0)), // restarts: s = 1000
      ("a", 5L, Some(5.0)),  // bleeds to max(0, 1000-7000) = 0
      ("b", 1L, None),       // null: no state change, null output
      ("b", 2L, Some(20.0))) // s = 8000 -> immediate alarm, reset
      .toDF("k", "ord", "v")
    val got = Relational.cusumMilli(rows, "k", Seq("ord"), "v",
        targetMilli = 10000L, slackMilli = 2000L, thresholdMilli = 5000L)
      .select("k", "ord", "cusum_milli", "alarm")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (Option(r.get(2)).map(_.asInstanceOf[Long]),
         Option(r.get(3)).map(_.asInstanceOf[Int]))).toMap
    assert(got(("a", 1L)) == ((Some(2000L), Some(0))))
    assert(got(("a", 2L)) == ((Some(4000L), Some(0))))
    assert(got(("a", 3L)) == ((Some(0L), Some(1))))
    assert(got(("a", 4L)) == ((Some(1000L), Some(0))))
    assert(got(("a", 5L)) == ((Some(0L), Some(0))))
    assert(got(("b", 1L)) == ((None, None)))
    assert(got(("b", 2L)) == ((Some(0L), Some(1))))
  }

  test("robustOutliers: lower median, MAD, strict flag, constant key") {
    import spark.implicits._
    val rows = Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0), ("a", 4L, 100.0),
      ("b", 5L, 7.0), ("b", 6L, 7.0), ("b", 7L, 7.5)) // near-constant
      .toDF("k", "id", "v")
    val got = Relational.robustOutliers(rows, "k", "v", k = 3L)
      .select("id", "med_milli", "mad_milli", "is_outlier")
      .as[(Long, Long, Long, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // a: sorted vm 1000,2000,3000,100000; lower median = rank 2 -> 2000
    // devs 1000,0,1000,98000 sorted 0,1000,1000,98000; MAD rank2 -> 1000
    // flag: dev > 3000 -> only the 100.0 point
    assert(got(1L) == ((2000L, 1000L, 0)))
    assert(got(4L) == ((2000L, 1000L, 1)))
    // b: median 7000 (rank 2 of 7000,7000,7500), MAD = 0 ->
    // any deviation flags strictly (> 0)
    assert(got(5L) == ((7000L, 0L, 0)))
    assert(got(7L) == ((7000L, 0L, 1)))
  }

  test("percentileRank: midrank, clamping, broadcast spine join") {
    import spark.implicits._
    val ref = Seq(10L, 10L, 20L, 30L).toDF("v")
    val q = Seq((1L, 5L), (2L, 10L), (3L, 15L), (4L, 30L), (5L, 99L))
      .toDF("id", "x")
    val got = Relational.percentileRank(q, "x", ref, "v", 0L, 63L)
      .select("id", "pct_milli").as[(Long, Long)].collect().toMap
    // N=4: v=5 -> (0+0)/8 = 0; v=10 -> (2*0+2)*1000/8 = 250;
    // v=15 -> (2*2+0)/8 = 500; v=30 -> (2*3+1)/8 = 875;
    // v=99 clamps to 63 -> (2*4)/8 = 1000
    assert(got == Map(1L -> 0L, 2L -> 250L, 3L -> 500L, 4L -> 875L,
      5L -> 1000L))
    // the probe-side join is against a broadcast spine
    val plan = Relational.percentileRank(q, "x", ref, "v", 0L, 63L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("sequenceNgrams: windows, order, short keys, distinct-key counts") {
    import spark.implicits._
    val df = Seq(
      ("u1", 1L, "a"), ("u1", 2L, "b"), ("u1", 3L, "a"), ("u1", 4L, "b"),
      ("u2", 1L, "a"), ("u2", 2L, "b"), ("u2", 3L, "a"),
      ("u3", 1L, "x"), ("u3", 2L, "y")) // too short for n=3
      .toDF("k", "ord", "t")
    val got = Relational.sequenceNgrams(df, "k", Seq("ord"), "t", 3)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map("a>b>a" -> ((2L, 2L)), "b>a>b" -> ((1L, 1L))))
    // n=1 degenerates to token counts
    val uni = Relational.sequenceNgrams(df, "k", Seq("ord"), "t", 1)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(uni == Map("a" -> 4L, "b" -> 3L, "x" -> 1L, "y" -> 1L))
  }

  test("skyline: dominance, all-dim ties co-survive, partition-invariant") {
    import spark.implicits._
    val rows = Seq(
      (1L, 10L, 1L), (2L, 1L, 10L), (3L, 5L, 5L), // frontier
      (4L, 5L, 5L),                               // exact tie with 3
      (5L, 4L, 5L), (6L, 10L, 0L), (7L, 1L, 1L))  // dominated
      .toDF("id", "a", "b")
    val want = Set(1L, 2L, 3L, 4L)
    for (parts <- Seq(1, 3, 8)) {
      val got = Relational.skyline(rows.repartition(parts), Seq("a", "b"))
        .select("id").as[Long].collect().toSet
      assert(got == want, s"parts=$parts")
    }
    // single dim degenerates to max (with ties)
    val one = Relational.skyline(rows, Seq("a"))
      .select("id").as[Long].collect().toSet
    assert(one == Set(1L, 6L))
  }

  test("winsorize: exact rank band, clamp, null exclusion, invariance") {
    import spark.implicits._
    val base = (1L to 20L).map(i => ("a", i, i.toDouble)).toDF("k", "id", "v")
    // p=10%: n=20 → lo rank (2000+999)//1000 = 2, hi rank 19
    val got = Relational.winsorize(base, Seq("k"), "v", pMilli = 100)
      .select("id", "lo_bound", "hi_bound", "value_w")
      .as[(Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2.0, 19.0, 2.0)))   // clamped up
    assert(got(20L) == ((20L, 2.0, 19.0, 19.0))) // clamped down
    assert(got(10L)._4 == 10.0)                  // interior untouched
    // partition invariance
    val re = Relational.winsorize(base.repartition(7), Seq("k"), "v", 100)
      .select("id", "value_w").as[(Long, Double)].collect().toMap
    assert((1L to 20L).forall(i => re(i) == got(i)._4))
    // null values are excluded, not clamped to something
    val withNull = base.unionByName(
      Seq(("a", 99L, Option.empty[Double])).toDF("k", "id", "v"))
    assert(Relational.winsorize(withNull, Seq("k"), "v", 100).count() == 20)
    intercept[IllegalArgumentException] {
      Relational.winsorize(base, Seq("k"), "v", 500)
    }
  }

  test("blockedLinkage: blocking, threshold, self-dedup, null blocks never match") {
    import spark.implicits._
    val recs = Seq(
      (1L, "b1", "martha"), (2L, "b1", "marhta"), (3L, "b1", "zzzzzz"),
      (4L, "b2", "martha"),             // same name, OTHER block: no pair
      (5L, null.asInstanceOf[String], "martha"),
      (6L, null.asInstanceOf[String], "martha")) // null blocks: no pair
      .toDF("id", "blk", "name")
    val got = Relational.blockedLinkage(recs, recs, Seq("blk"),
        "id", "name", minJwMicro = 900000L, selfDedup = true)
      .as[(String, Long, String, Long, String, Long)].collect()
    // only martha/marhta survive: same block, jw = 0.9611…
    assert(got.toSeq == Seq(("b1", 1L, "martha", 2L, "marhta", 961111L)))
    // threshold excludes the low-similarity same-block pair
    val loose = Relational.blockedLinkage(recs, recs, Seq("blk"),
        "id", "name", minJwMicro = 0L, selfDedup = true)
      .as[(String, Long, String, Long, String, Long)].collect()
    assert(loose.length == 3) // (1,2), (1,3), (2,3) — never null-block pairs
    assert(loose.forall(r => r._2 < r._4), "selfDedup must order ids")
    // two-table mode keeps every cross pair (no id ordering)
    val other = Seq((10L, "b1", "martha")).toDF("id", "blk", "name")
    val cross = Relational.blockedLinkage(other, recs, Seq("blk"),
        "id", "name", minJwMicro = 900000L)
      .as[(String, Long, String, Long, String, Long)].collect()
    assert(cross.map(_._4).sorted.toSeq == Seq(1L, 2L))
  }

  test("bloomPrunedJoin: equals the plain join; fact filters before its shuffle") {
    import spark.implicits._
    // range-backed (not a LocalRelation): ConvertToLocalRelation would
    // otherwise evaluate the Bloom filter at optimization time and
    // erase the Filter node this spec pins
    val fact = spark.range(0L, 2000L)
      .select((col("id") % 97).as("fk"),
        concat(lit("f"), col("id")).as("payload"))
    val dim = Seq((3L, "a"), (31L, "b"), (96L, "c"), (200L, "absent"))
      .toDF("dk", "dval")
    val pruned = Relational.bloomPrunedJoin(fact, dim, "fk", "dk",
      expectedDimKeys = 16)
    val plain = fact.join(dim, col("fk") === col("dk"))
    assert(pruned.collect().toSet == plain.collect().toSet)
    assert(pruned.count() == plain.count())
    // the probe-side Bloom test must appear as a Filter in the plan
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), p)
    // empty dim: empty result, schema intact
    val empty = Relational.bloomPrunedJoin(fact,
      dim.filter(col("dk") < 0), "fk", "dk", expectedDimKeys = 16)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == plain.columns.toSeq)
    // clamp guard fails loudly instead of degrading fpp silently
    val err = intercept[IllegalArgumentException] {
      Relational.bloomPrunedJoin(fact, dim, "fk", "dk",
        expectedDimKeys = Long.MaxValue / 2)
    }
    assert(err.getMessage.contains("clamp"))
  }

  test("cohortRetention: hand triangle, offset-0 self-check, dup collapse") {
    import spark.implicits._
    def ts(day: Int, h: Int = 0) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(1970, 1, 1, h, 0).plusDays(day.toLong))
    // u1: days 0 and 8 (periods 0,1); u2: day 1 (period 0);
    // u3: days 14 and 15 (both period 2 -> distinct collapses)
    val rows = Seq((1L, ts(0)), (1L, ts(8)), (2L, ts(1)),
      (3L, ts(14)), (3L, ts(15)), (3L, ts(15, 6)))
    val got = Relational.cohortRetention(rows.toDF("u", "t"), "u", "t", 7)
      .collect().map(r => (r.getAs[Long]("cohort"),
        r.getAs[Long]("period_offset")) ->
        ((r.getAs[Long]("n_active"), r.getAs[Long]("cohort_size"),
          r.getAs[Long]("retained_micro")))).toMap
    assert(got == Map(
      (0L, 0L) -> ((2L, 2L, 1000000L)),
      (0L, 1L) -> ((1L, 2L, 500000L)),
      (2L, 0L) -> ((1L, 1L, 1000000L))))
    // offset 0 is always exactly 10^6 — the structural self-check
    assert(got.collect { case ((_, 0L), (_, _, m)) => m }
      .forall(_ == 1000000L))
  }

  test("attribution: first/last/linear credits, window edge, remainder") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    // user 1: ch1@10, ch2@20, conv@25 (k=2: linear 500/500)
    // user 2: ch1@5 (OUT of 60s window? no - in), conv@30; plus a
    //   touch AFTER the conversion (ignored) and one older than the
    //   window (ignored)
    val rows = Seq(
      (1L, ts(10), 100L, "touch", "ch1"), (1L, ts(20), 101L, "touch", "ch2"),
      (1L, ts(25), 102L, "conv", null),
      (2L, ts(5), 200L, "touch", "ch1"), (2L, ts(30), 201L, "conv", null),
      (2L, ts(31), 202L, "touch", "ch2"),          // after conv
      (2L, ts(-100), 203L, "touch", "ch2"))        // beyond lookback
      .toDF("u", "t", "id", "typ", "ch")
    val got = Relational.attribution(rows, "u", "t", "id", "typ", "ch",
        "conv", lookbackSeconds = 60L)
      .collect().map(r => r.getAs[String]("channel") ->
        ((r.getAs[Long]("first_touch"), r.getAs[Long]("last_touch"),
          r.getAs[Long]("linear_milli"), r.getAs[Long]("n_touches")))).toMap
    assert(got("ch1") == ((2L, 1L, 1500L, 2L)))
    assert(got("ch2") == ((0L, 1L, 500L, 1L)))
    // largest-remainder: k=3 -> 334+333+333, earliest gets the extra
    val three = Seq(
      (9L, ts(1), 1L, "touch", "a"), (9L, ts(2), 2L, "touch", "b"),
      (9L, ts(3), 3L, "touch", "c"), (9L, ts(4), 4L, "conv", null))
      .toDF("u", "t", "id", "typ", "ch")
    val g3 = Relational.attribution(three, "u", "t", "id", "typ", "ch",
        "conv", 60L).collect()
      .map(r => r.getAs[String]("channel") -> r.getAs[Long]("linear_milli"))
      .toMap
    assert(g3 == Map("a" -> 334L, "b" -> 333L, "c" -> 333L))
    assert(g3.values.sum == 1000L)
  }

  test("streaks: islands, current-streak anchoring, dup collapse") {
    import spark.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(
      java.time.LocalDateTime.of(1970, 1, 1, 0, 0).plusDays(day.toLong))
    // daily periods. u1: days 1,2,3, 5,6, 9 -> streaks 3,2,1;
    // u2: days 8,9 -> streak 2 touching the last period (day 9);
    // u3: day 2 twice (collapses) -> one streak of 1, not current
    val rows = Seq(1L -> 1, 1L -> 2, 1L -> 3, 1L -> 5, 1L -> 6,
      1L -> 9, 2L -> 8, 2L -> 9, 3L -> 2, 3L -> 2)
      .map { case (u, d) => (u, ts(d)) }
    val got = Relational.streaks(rows.toDF("u", "t"), "u", "t", 1)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_active_periods"), r.getAs[Long]("n_streaks"),
          r.getAs[Long]("longest_streak"),
          r.getAs[Long]("current_streak")))).toMap
    assert(got(1L) == ((6L, 3L, 3L, 1L)))  // day-9 run of 1 is current
    assert(got(2L) == ((2L, 1L, 2L, 2L)))
    assert(got(3L) == ((1L, 1L, 1L, 0L)))  // not active at the end
  }

  test("hampel: spike flagged, level shift spared, constant-window edge") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    // a WIGGLY smooth series (nonzero local MAD — a flat series has
    // MAD 0 and rightly flags any deviation) with one spike at id 4
    val vals = Seq(10.0, 10.2, 10.4, 10.1, 99.0, 10.3, 10.2, 10.4)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      (1L, ts(i), i.toLong, v) }
    val got = Relational.hampel(rows.toDF("k", "t", "id", "v"),
        "k", "t", "id", "v", w = 2, kMilli = 3000L)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Boolean]("is_outlier")).toMap
    assert(got(4L), "the spike must be flagged")
    assert(got.filterKeys(_ != 4L).values.forall(!_),
      s"only the spike flags: $got")
    // a LEVEL SHIFT is not an outlier once the window is past the
    // boundary — the property global winsorization gets wrong
    val shift = (0 until 6).map(i => (2L, ts(i), i.toLong, 10.0)) ++
      (6 until 12).map(i => (2L, ts(i), i.toLong, 50.0))
    val g2 = Relational.hampel(shift.toDF("k", "t", "id", "v"),
        "k", "t", "id", "v", w = 2, kMilli = 3000L)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Boolean]("is_outlier")).toMap
    assert(!g2(2L) && !g2(9L), "deep inside each level: not outliers")
    // constant window: mad4 = 0 -> any deviation flags (textbook).
    // The deviant sits MID-SERIES: an edge deviant inflates its own
    // two-point window's MAD and is inherently undetectable at w=1
    // (the estimator's breakdown point), which is correct behavior.
    val const = Seq((3L, ts(0), 0L, 5.0), (3L, ts(1), 1L, 5.0),
      (3L, ts(2), 2L, 5.01), (3L, ts(3), 3L, 5.0), (3L, ts(4), 4L, 5.0))
    val g3 = Relational.hampel(const.toDF("k", "t", "id", "v"),
        "k", "t", "id", "v", w = 1, kMilli = 3000L)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Boolean]("is_outlier")).toMap
    assert(!g3(0L) && !g3(1L) && !g3(3L) && !g3(4L))
    assert(g3(2L), "deviation from a constant window flags")
  }

  test("transitionCensus: per-key adjacency, conditional milli, key isolation") {
    import spark.implicits._
    def ts(s: Int) = new java.sql.Timestamp(s * 1000L)
    // u1: a,b,a,c -> a->b, b->a, a->c; u2: b,a -> b->a
    val rows = Seq((1L, ts(1), 10L, "a"), (1L, ts(2), 11L, "b"),
      (1L, ts(3), 12L, "a"), (1L, ts(4), 13L, "c"),
      (2L, ts(1), 20L, "b"), (2L, ts(2), 21L, "a"))
      .toDF("u", "t", "id", "typ")
    val got = Relational.transitionCensus(rows, "u", "t", "id", "typ")
      .collect().map(r => (r.getAs[String]("from_type"),
        r.getAs[String]("to_type")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("from_total"),
          r.getAs[Long]("cond_milli")))).toMap
    assert(got == Map(
      ("a", "b") -> ((1L, 2L, 500L)),
      ("a", "c") -> ((1L, 2L, 500L)),
      ("b", "a") -> ((2L, 2L, 1000L))))
    // the LAST event of one key never chains into another key
    assert(!got.contains(("c", "b")))
    // same-timestamp events order by id (total order)
    val tie = Seq((3L, ts(5), 1L, "x"), (3L, ts(5), 2L, "y"))
      .toDF("u", "t", "id", "typ")
    val t2 = Relational.transitionCensus(tie, "u", "t", "id", "typ")
      .collect()
    assert(t2.length == 1 && t2.head.getAs[String]("from_type") == "x")
  }
  test("dwellTimes: hand intervals, state-at-start charging, open tails (r15)") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // key 1: a@0s -> b@10s -> a@25s -> (open a)
    //   a: events 2, intervals: a@0(10s) + a@25(open) -> dwell 10s,
    //      n_open 1; b: 1 event, interval 15s
    val rows = Seq(
      (1L, t("2024-01-01 00:00:00"), 1L, "a"),
      (1L, t("2024-01-01 00:00:10"), 2L, "b"),
      (1L, t("2024-01-01 00:00:25"), 3L, "a"),
      (2L, t("2024-01-01 00:00:00"), 4L, "x"))
    val got = Relational.dwellTimes(rows.toDF("u", "ts", "id", "et"),
        "u", "ts", "id", "et")
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[String]("state")) ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("n_intervals"),
          r.getAs[Long]("dwell_us"), r.getAs[Long]("n_open")))).toMap
    assert(got((1L, "a")) == ((2L, 1L, 10000000L, 1L)))
    assert(got((1L, "b")) == ((1L, 1L, 15000000L, 0L)))
    // a lone event is all-open: zero dwell, reported not guessed
    assert(got((2L, "x")) == ((1L, 0L, 0L, 1L)))
    assert(got.size == 3)
  }

  test("allenCensus: all 13 relations against a reference classifier") {
    import spark.implicits._
    def ref(as: Long, ae: Long, bs: Long, be: Long): String =
      if (as == bs && ae == be) "equals"
      else if (ae < bs) "before" else if (be < as) "after"
      else if (ae == bs) "meets" else if (be == as) "met_by"
      else if (as == bs && ae < be) "starts"
      else if (as == bs) "started_by"
      else if (ae == be && as > bs) "finishes"
      else if (ae == be) "finished_by"
      else if (as > bs && ae < be) "during"
      else if (as < bs && ae > be) "contains"
      else if (as < bs) "overlaps" else "overlapped_by"
    // a small grid that hits every relation class at least once
    val iv = (for (i <- 0L until 24L) yield
      (i % 2, i, (i * 7) % 12, (i * 7) % 12 + 1 + (i * 5) % 9)) ++
      Seq((9L, 100L, 0L, 10L), (9L, 101L, 0L, 10L), // equals
        (9L, 102L, 10L, 20L), (9L, 103L, 0L, 5L),   // meets/started_by
        (9L, 104L, 5L, 10L), (9L, 105L, 2L, 4L))    // finishes/during
    val got = Relational.allenCensus(iv.toDF("k", "id", "s", "e"),
        "k", "id", col("s"), col("e"))
      .collect().map(r => r.getAs[String]("relation") ->
        r.getAs[Long]("n")).toMap
    val expect = iv.groupBy(_._1).values.flatMap { g =>
      for (a <- g; b <- g if a._2 < b._2)
        yield ref(a._3, a._4, b._3, b._4)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got == expect, s"got $got expect $expect")
    assert(got.keySet.size == 13, s"classes ${got.keySet}")
  }

  test("maxDrawdown: running peak, worst drop, first trough, last value") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // 10,12,8,11,5,9: peaks 10,12..; drawdowns 0,0,4,1,7,3
    val df = Seq(10.0, 12.0, 8.0, 11.0, 5.0, 9.0).zipWithIndex
      .map { case (v, i) => (1L, ts(i.toLong), i.toLong, v) }
      .toDF("k", "ts", "seq", "v")
    val r = Relational.maxDrawdown(df, "k", "ts", "seq", "v")
      .collect().head
    assert(r.getAs[Long]("n") == 6L &&
      r.getAs[Long]("peak_milli") == 12000L &&
      r.getAs[Long]("last_milli") == 9000L &&
      r.getAs[Long]("max_drawdown_milli") == 7000L &&
      r.getAs[Long]("trough_ts_us") == 4000000L)
    // monotone series never draws down
    val up = (1 to 4).map(i => (2L, ts(i.toLong), i.toLong, i.toDouble))
      .toDF("k", "ts", "seq", "v")
    assert(Relational.maxDrawdown(up, "k", "ts", "seq", "v")
      .collect().head.getAs[Long]("max_drawdown_milli") == 0L)
  }

  test("rsiSma: exact rational after the frame fills, flat-frame NULL") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // 10,11,13,12,12: deltas 1,2,-1,0; window 3 fills at row 4
    val df = Seq(10.0, 11.0, 13.0, 12.0, 12.0).zipWithIndex
      .map { case (v, i) => (1L, ts(i.toLong), i.toLong, v) }
      .toDF("k", "ts", "seq", "v")
    val got = Relational.rsiSma(df, "k", "ts", "seq", "v", window = 3)
      .orderBy("seq").collect()
    assert(got.take(3).forall(r => r.isNullAt(r.fieldIndex("rsi_milli"))))
    assert(got(3).getAs[Long]("sum_gain_milli") == 3000L &&
      got(3).getAs[Long]("sum_loss_milli") == 1000L &&
      got(3).getAs[Long]("rsi_milli") == 75000L)
    assert(got(4).getAs[Long]("rsi_milli") == 66666L)
    // constant series: frame full but flat -> NULL, not 0/0
    val flat = (0 to 4).map(i => (2L, ts(i.toLong), i.toLong, 5.0))
      .toDF("k", "ts", "seq", "v")
    assert(Relational.rsiSma(flat, "k", "ts", "seq", "v", window = 3)
      .collect().forall(r => r.isNullAt(r.fieldIndex("rsi_milli"))))
  }

  test("saxSymbols: global quartile cuts, frame letters, negative floor") {
    import spark.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // global values 1..8 -> cuts at 2000/4000/6000; A frames paa
    // 1500,3500 -> a,b; B frames 5500,7500 -> c,d
    val df = ((1 to 4).map(i => ("A", ts(i.toLong), i.toLong, i.toDouble))
      ++ (5 to 8).map(i => ("B", ts(i.toLong), i.toLong, i.toDouble)))
      .toDF("k", "ts", "seq", "v")
    val got = Relational.saxSymbols(df, "k", "ts", "seq", "v", paaSize = 2)
      .collect().map(r => (r.getAs[String]("key"), r.getAs[Long]("frame"))
        -> ((r.getAs[Long]("paa_milli"), r.getAs[String]("letter")))).toMap
    assert(got == Map(("A", 0L) -> ((1500L, "a")), ("A", 1L) -> ((3500L, "b")),
      ("B", 0L) -> ((5500L, "c")), ("B", 1L) -> ((7500L, "d"))))
    // negative sums floor toward -inf (engine-agnostic division)
    val neg = Seq(("C", ts(1), 1L, -1.0), ("C", ts(2), 2L, -2.0))
      .toDF("k", "ts", "seq", "v")
    val n = Relational.saxSymbols(neg, "k", "ts", "seq", "v", paaSize = 2)
      .collect().head
    assert(n.getAs[Long]("paa_milli") == -1500L)
  }
}

class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("deltaCandidates: identical to from-scratch LSH on the merged " +
    "corpus (delta-side pairs), replacement, cap crossing, " +
    "delta-only minhash plan (r16)") {
    val a = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (10L, "completely different text about spark shuffles and joins"),
      (20L, "a third topic entirely: audio codecs and waveforms"))
      .toDF("doc_id", "text")
    def sigsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").as("id"),
        graft.functions.minhash_text(col("text"), 3, 64).as("sig"))
    // delta: a near-dup of doc 1 (new id), a unique doc, and a
    // REPLACEMENT of stored doc 20 moved into doc 10's neighborhood
    val delta = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again?"),
      (101L, "nothing like anything stored before in any bucket"),
      (20L, "completely different text about spark shuffles and more joins"))
      .toDF("doc_id", "text")
    val got = Dedup.deltaCandidates(sigsOf(a), "id", "sig", delta,
        "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val merged = a.filter(col("doc_id") =!= 20L).unionByName(delta)
    val deltaIds = Set(100L, 101L, 20L)
    val want = Dedup.minhashCandidates(merged, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .filter { case ((x, y), _) => deltaIds(x) || deltaIds(y) }.toMap
    assert(got == want, s"$got != $want")
    assert(want.nonEmpty &&
      got.keys.exists { case (x, y) => x == 1L && y == 100L })
    // cap crossing: the third identical doc pushes its bucket past
    // maxBucket = 2 — boilerplate both ways, nothing emits
    val many = (1L to 3L).map(i => (i, "same boilerplate text wall"))
      .toDF("doc_id", "text")
    val none = Dedup.deltaCandidates(
      sigsOf(many.filter(col("doc_id") <= 2L)), "id", "sig",
      many.filter(col("doc_id") === 3L), "doc_id", "text",
      maxBucket = 2)
    assert(none.count() == 0)
    // plan pin over a STORED signature table: the final plan carries
    // ZERO minhash_text — the store's signatures are consumed as DATA
    // (parquet scan), never re-derived from text, and the delta's one
    // minhash ran exactly once inside the eager delta-sized
    // checkpoint (whose values the identity assertions above already
    // pin); band_hashes appears for both sides as row-local
    // projections
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lsh_store_").toString
    sigsOf(a).write.mode("overwrite").parquet(dir)
    val plan = Dedup.deltaCandidates(spark.read.parquet(dir), "id",
        "sig", delta, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    val n = "minhash_text".r.findAllIn(plan).length
    assert(n == 0, s"a minhash_text re-derivation survives in the plan: $n")
    assert("band_hashes".r.findAllIn(plan).nonEmpty)
  }

  test("incremental dedup loop: deltaCandidates -> upsertComponents " +
    "== from-scratch clustering on the merged corpus (r16)") {
    val thr = 0.6
    val a = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (10L, "completely different text about spark shuffles and joins"),
      (20L, "a third topic entirely: audio codecs and waveforms"))
      .toDF("doc_id", "text")
    val sigs = a.select(col("doc_id").as("id"),
      graft.functions.minhash_text(col("text"), 3, 64).as("sig"))
    val basePairs = Dedup.minhashCandidates(a, "doc_id", "text")
      .filter(col("est_jaccard") >= thr)
    val labels = Graph.connectedComponentsStar(basePairs, "id_a", "id_b")
    val delta = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again?"),
      (101L, "completely different text about spark shuffles and joins!"))
      .toDF("doc_id", "text")
    val newPairs = Dedup.deltaCandidates(sigs, "id", "sig", delta,
        "doc_id", "text")
      .filter(col("est_jaccard") >= thr)
    val got = Graph.upsertComponents(labels, "id", "cluster",
        newPairs, "id_a", "id_b")
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("cluster")).toMap
    val want = Graph.connectedComponentsStar(
        Dedup.minhashCandidates(a.unionByName(delta), "doc_id", "text")
          .filter(col("est_jaccard") >= thr), "id_a", "id_b")
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("cluster")).toMap
    // every id the from-scratch clustering labels gets the SAME label
    // from the incremental loop (the loop additionally keeps labels
    // for ids with no surviving pairs — a superset, by design)
    assert(want.nonEmpty && want.forall { case (id, c) =>
      got.get(id).contains(c) }, s"$got vs $want")
    // the near-dup families actually merged across the delta
    assert(got(100L) == got(1L) && got(101L) == got(10L))
  }

  test("deltaBandPairs: pair-set parity with deltaCandidates on the " +
    "same minhash bands; shadowing; merged-membership cap; every " +
    "pair touches the delta (r17)") {
    val a = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (10L, "completely different text about spark shuffles and joins"),
      (20L, "a third topic entirely: audio codecs and waveforms"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again?"),
      (101L, "nothing like anything stored before in any bucket"),
      (20L, "completely different text about spark shuffles and more joins"))
      .toDF("doc_id", "text")
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").as("id"),
          graft.functions.minhash_text(col("text"), 3, 64).as("sig"))
        .select(col("id"),
          posexplode(graft.functions.band_hashes(col("sig"), 16))
            .as(Seq("band", "hash")))
    val got = Dedup.deltaBandPairs(bandsOf(a), "id", "band", "hash",
        bandsOf(delta), "id", "band", "hash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.deltaCandidates(
        a.select(col("doc_id").as("id"),
          graft.functions.minhash_text(col("text"), 3, 64).as("sig")),
        "id", "sig", delta, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty, s"$got != $want")
    // every emitted pair involves at least one delta id
    val deltaIds = Set(100L, 101L, 20L)
    assert(got.forall { case (x, y) => deltaIds(x) || deltaIds(y) })
    // merged-membership cap: three identical docs cross maxBucket=2
    val many = (1L to 3L).map(i => (i, "same boilerplate text wall"))
      .toDF("doc_id", "text")
    val none = Dedup.deltaBandPairs(
      bandsOf(many.filter(col("doc_id") <= 2L)), "id", "band", "hash",
      bandsOf(many.filter(col("doc_id") === 3L)), "id", "band", "hash",
      maxBucket = 2)
    assert(none.count() == 0)
    // shadowing: a delta id drops the stored rows of the same id —
    // id 20's STORED text would pair with nobody new, its DELTA text
    // pairs with 10; no pair may reflect the stale banding (the pair
    // (10, 20) must come from the delta text's buckets, which the
    // parity assertion above already pins against from-scratch)
    assert(got.contains((10L, 20L)))
  }

  test("exactDedup keeps one row per normalized text, smallest id") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("id", "text")
    val got = Dedup.exactDedup(df, "id", "text").select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 3L))
  }

  test("exactDedup: null ids lose ties — smallest non-null id wins its group") {
    val df = Seq(
      (null.asInstanceOf[java.lang.Long], "hello world"),
      (java.lang.Long.valueOf(7L), "Hello  World"),
      (java.lang.Long.valueOf(3L), "hello world"),
      (null.asInstanceOf[java.lang.Long], "only null id")).toDF("id", "text")
    val got = Dedup.exactDedup(df, "id", "text")
      .collect().map(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSet
    // the duplicated text keeps id=3 (not the null row); a group with only
    // null ids still keeps its one row
    assert(got == Set(Some(3L), None))
  }

  test("keepBest: preference column picks the survivor, id breaks ties, count == exactDedup") {
    val df = Seq(
      (1L, "Hello  World", 0.2),  // longer raw text, lower quality
      (2L, "hello world", 0.9),   // higher quality → wins on quality pref
      (3L, "other", 0.1)).toDF("id", "text", "quality")
    val byQuality = Dedup.keepBest(df, "id", "text", Seq(col("quality").desc))
      .select("id").as[Long].collect().sorted
    assert(byQuality.toSeq == Seq(2L, 3L))
    val byLength = Dedup.keepBest(df, "id", "text", Seq(length(col("text")).desc))
      .select("id").as[Long].collect().sorted
    assert(byLength.toSeq == Seq(1L, 3L))
    // equal preference → smallest id, matching exactDedup
    val tied = Dedup.keepBest(df, "id", "text", Seq(lit(0).asc))
      .select("id").as[Long].collect().sorted
    assert(tied.toSeq == Seq(1L, 3L))
    assert(Dedup.keepBest(df, "id", "text", Seq(col("quality").desc)).count() ==
      Dedup.exactDedup(df, "id", "text").count())
  }

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 60)
      .select(col("doc_id"), col("text"))
    val planted = docs.select((col("doc_id") + 1000).as("doc_id"),
      concat(col("text"), lit(" tiny suffix")).as("text"))
    val pairs = Dedup.minhashNearDups(docs.unionByName(planted), "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wanted = (0L until 60L).map(i => (i, i + 1000)).toSet
    val recall = wanted.count(pairs.contains).toDouble / wanted.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("stop-bucket cap drops are observable via capMetrics (no silent caps)") {
    val docs = (0L until 12L).map(i => (i, "same boilerplate text for every row here"))
      .toDF("id", "text")
    // identical docs land every one of the 16 band buckets at size 12 —
    // over the cap, so ALL are dropped and the metrics must say so
    val capped = Dedup.minhashCandidates(docs, "id", "text", maxBucket = 8)
    assert(capped.collect().isEmpty)
    val m = Dedup.capMetrics(capped)
      .collect { case (k, v) if k.contains(".minhash.") => v }.toSeq
    assert(m.nonEmpty, "no cap observation attached to the minhash plan")
    assert(m.map(_.getAs[Long]("dropped_buckets")).sum == 16L)
    assert(m.map(_.getAs[Long]("dropped_rows")).sum == 16L * 12L)
    // uncapped control: same corpus, no drops, all C(12,2) distinct pairs
    val open = Dedup.minhashCandidates(docs, "id", "text", maxBucket = 64)
    assert(open.collect().length == 66)
    val m2 = Dedup.capMetrics(open)
      .collect { case (k, v) if k.contains(".minhash.") => v }.toSeq
    assert(m2.map(_.getAs[Long]("dropped_buckets")).sum == 0L)
  }

  test("cap metric names are deterministic across rebuilds of the same pipeline") {
    val docs = (0L until 6L).map(i => (i, s"doc text number $i with words")).toDF("id", "text")
    def names(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      Dedup.capMetrics(df).keySet
    }
    val a = names(Dedup.minhashCandidates(docs, "id", "text"))
    val b = names(Dedup.minhashCandidates(docs, "id", "text"))
    // an r2 process-global counter made these differ, defeating
    // canonicalized-plan cache matching; now equal plans ⇒ equal names
    assert(a == b && a.nonEmpty)
    // different params ⇒ different plan ⇒ different name (no collisions)
    val c = names(Dedup.minhashCandidates(docs, "id", "text", maxBucket = 32))
    assert(c != a)
  }

  test("same LSH stage twice in one query: distinct labels compose, defaults collide") {
    val docs = (0L until 6L).map(i => (i, s"doc text number $i with words")).toDF("id", "text")
    val twice = Dedup.minhashCandidates(docs, "id", "text", label = "a")
      .unionByName(Dedup.minhashCandidates(docs, "id", "text", label = "b"))
    twice.collect()
    val names = Dedup.capMetrics(twice).keys.filter(_.contains(".minhash.")).toSet
    assert(names.size == 2, names.mkString(","))
    // Spark's duplicate-observation check exempts only the same
    // dataframeId, not semantically equal subtrees: the same call twice
    // with default labels shares a name across two Datasets → analysis
    // error, which the distinct labels above exist to avoid
    val dup = intercept[org.apache.spark.sql.AnalysisException] {
      Dedup.minhashCandidates(docs, "id", "text")
        .unionByName(Dedup.minhashCandidates(docs, "id", "text"))
        .collect()
    }
    assert(dup.getMessage.contains("DUPLICATED_METRICS_NAME"), dup.getMessage)
  }

  test("benfordAudit: digit extraction, spine zeros, nonpositive excluded") {
    import spark.implicits._
    // values: 1.5 -> 1500 -> '1'; 0.25 -> 250 -> '2'; 92.0 -> '9';
    // 0 and -3 excluded
    val df = Seq(1.5, 0.25, 92.0, 0.0, -3.0).toDF("v")
    val got = Relational.benfordAudit(df, "v")
      .select("digit", "n", "observed_milli", "expected_milli")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.keySet == (1L to 9L).toSet)
    assert(got(1L) == ((1L, 333L, 301L)))
    assert(got(2L) == ((1L, 333L, 176L)))
    assert(got(9L) == ((1L, 333L, 45L)))
    assert(got(5L) == ((0L, 0L, 79L)))
  }

  test("encodingStats: run counts along the storage order") {
    import spark.implicits._
    // ordered by id: a a a b b a | buckets 1 1 2 2 2 2
    val df = Seq((1L, "a", 1L), (2L, "a", 1L), (3L, "a", 2L),
      (4L, "b", 2L), (5L, "b", 2L), (6L, "a", 2L))
      .toDF("id", "k", "b")
    val got = graft.sources.Maintenance
      .encodingStats(df, Seq("k", "b"), "id")
      .select("column", "n_rows", "n_distinct", "n_runs")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got("k") == ((6L, 2L, 3L)))  // runs: aaa | bb | a
    assert(got("b") == ((6L, 2L, 2L)))  // runs: 11 | 2222
  }

  test("datasetFingerprint: partition/order invariant, flips on any row change") {
    import spark.implicits._
    val base = Tables.documents(spark, sf).select("doc_id", "lang", "source")
    def fp(df: org.apache.spark.sql.DataFrame) =
      graft.sources.Maintenance
        .datasetFingerprint(df, Seq("doc_id", "lang", "source"))
        .collect().head.toSeq
    val a = fp(base)
    assert(fp(base.repartition(13)) == a)
    assert(fp(base.orderBy(col("lang"))) == a)
    // any single-row mutation flips the xor lane
    val mutated = base.withColumn("lang",
      when(col("doc_id") === 7, lit("zz")).otherwise(col("lang")))
    assert(fp(mutated) != a)
    // null vs empty string are distinct rows
    val n1 = fp(Seq((1L, null: String, "s")).toDF("doc_id", "lang", "source"))
    val n2 = fp(Seq((1L, "", "s")).toDF("doc_id", "lang", "source"))
    assert(n1 != n2)
  }

  test("lshPowerCurve: S-shape, band/row tradeoff, hand-checked cell") {
    val curve = Dedup.lshPowerCurve(spark, numHashes = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3))
      .toMap
    // b=16, r=1 at s=0.5: p1=500, p=1000-(500/1000-fold)^16... hand:
    // y starts 1000, 16 folds of *500//1000 -> 1000*(0.5^16) floored
    // stepwise: 1000,500,250,125,62,31,15,7,3,1,0,... -> y=0, p=1000
    assert(curve((16L, 500L)) == 1000L)
    // b=1, r=16 at s=0.5: x folds to 0 -> p = 1000 - 1000 = 0
    assert(curve((1L, 500L)) == 0L)
    // monotone in s for fixed (b,r)
    for (b <- Seq(1L, 4L, 16L); s <- 100L to 800L by 100L)
      assert(curve((b, s)) <= curve((b, s + 100L)), s"b=$b s=$s")
    // more bands => more candidates at every s
    for (s <- 100L to 900L by 100L)
      assert(curve((16L, s)) >= curve((4L, s)) &&
        curve((4L, s)) >= curve((1L, s)), s"s=$s")
  }

  test("prefixFilterPairs: equals the all-pairs ground truth on real docs") {
    val docs = Tables.documents(spark, sf).limit(80)
    // independent driver-side ground truth: same shingle contract
    // (3-grams of \s+ tokens, distinct, whole-text fallback), exact
    // integer milli jaccard — no doubles anywhere
    def shingleSet(text: String): Set[String] = {
      val t = text.trim.split("\\s+").filter(_.nonEmpty)
      if (t.length >= 3) t.sliding(3).map(_.mkString(" ")).toSet
      else if (t.nonEmpty) Set(t.mkString(" "))
      else Set.empty
    }
    val sets = docs.select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> shingleSet(r.getString(1)))
      .filter(_._2.nonEmpty)
    def truthPairs(thr: Long) = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size.toLong
      jm = 1000L * inter / (sa.size + sb.size - inter)
      if jm >= thr
    } yield (ia, ib) -> jm).toMap
    for (thrMilli <- Seq(150L, 300L, 700L)) {
      val got = Dedup.prefixFilterPairs(docs, "doc_id", "text", thrMilli)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got == truthPairs(thrMilli), s"thr=$thrMilli")
    }
  }

  test("prefixFilterPairs: exact milli jaccard values and threshold edge") {
    val df = Seq(
      (1L, "a b c d"), (2L, "a b c e"),   // shingles {abc,bcd}/{abc,bce}: 1/3
      (3L, "a b c d"),                     // duplicate of 1: 1000
      (4L, "zz yy xx ww")).toDF("id", "text")
    val got = Dedup.prefixFilterPairs(df, "id", "text", 333L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 333L, (2L, 3L) -> 333L, (1L, 3L) -> 1000L))
    // at 334 the 1/3 pairs fall out
    val tight = Dedup.prefixFilterPairs(df, "id", "text", 334L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight == Set((1L, 3L)))
  }

  test("jaccardPairs pairs only within a block, exact jaccard values") {
    val df = Seq(
      (1L, "a b c d", "blk1"), (2L, "a b c e", "blk1"),
      (3L, "a b c d", "blk2"),   // identical to doc 1 but in another block
      (4L, "zz yy xx ww", "blk2")).toDF("id", "text", "blk")
    val got = Dedup.jaccardPairs(df, "id", "text", blockCol = col("blk"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // within blk1: shingle sets {abc,bcd} vs {abc,bce} → 1/3; doc 3 never
    // pairs with doc 1 (different block) despite identical text
    assert(got.keySet == Set((1L, 2L), (3L, 4L)))
    assert(math.abs(got((1L, 2L)) - 1.0 / 3.0) < 1e-15)
    assert(got((3L, 4L)) == 0.0)
  }

  test("containmentPairs: a quoted subset scores 1.0 where jaccard stays low") {
    // doc 2 is the first third of doc 1: every shingle of 2 is a
    // shingle of 1, so containment is exactly 1.0 while jaccard is
    // small — the asymmetric case symmetric dedup misses
    val df = Seq(
      (1L, "a b c d e f g h i j k l", "blk"),
      (2L, "a b c d", "blk"),
      (3L, "zz yy xx ww", "blk")).toDF("id", "text", "blk")
    val cont = Dedup.containmentPairs(df, "id", "text", blockCol = col("blk"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val jac = Dedup.jaccardPairs(df, "id", "text", blockCol = col("blk"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cont((1L, 2L)) == 1.0, s"subset must be fully contained: $cont")
    assert(jac((1L, 2L)) < 0.5, s"jaccard must miss the quote: $jac")
    assert(cont((1L, 3L)) == 0.0 && cont((2L, 3L)) == 0.0)
  }

  test("jaccardPairs: oversized blocks are dropped and the drop is observable") {
    val big = (0L until 20L).map(i => (i, s"text body $i", "hot")) ++
      Seq((100L, "a b c d", "cold"), (101L, "a b c e", "cold"))
    val df = big.toDF("id", "text", "blk")
    val pairs = Dedup.jaccardPairs(df, "id", "text", blockCol = col("blk"), maxBlock = 8)
    val rows = pairs.collect()
    // the 20-row hot block would be 190 pairs of O(block²) work — dropped
    // structurally, not by caller discipline; the small block survives
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((100L, 101L)))
    val m = Dedup.capMetrics(pairs)
      .collect { case (k, v) if k.contains(".jaccard.") => v }.toSeq
    assert(m.map(_.getAs[Long]("dropped_buckets")).sum == 1L)
    assert(m.map(_.getAs[Long]("dropped_rows")).sum == 20L)
  }

  test("embeddingNearDups: multi-table LSH recalls ≥0.9 of brute-force 0.95 pairs") {
    import graft.functions.cosine_similarity
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    // planted near-duplicates at cosine ≈ 0.98: scale alternating
    // components by (1 ± 0.15) — direction shifts but stays well above
    // the 0.95 threshold for unit-ish vectors
    val planted = emb.filter(col("vec_id") < 40)
      .select((col("vec_id") + 5000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * (lit(1.0f) + when(i % 2 === 0, lit(0.15f)).otherwise(lit(-0.15f))))
            .cast("float")).as("embedding"))
    val all = emb.unionByName(planted)
    val truth = all.select(col("vec_id").as("id_a"), col("embedding").as("__a"))
      .crossJoin(all.select(col("vec_id").as("id_b"), col("embedding").as("__b")))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine_similarity(col("__a"), col("__b")) >= 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.size >= 30, s"expected the planted pairs in the truth set, got ${truth.size}")
    val got = Dedup.embeddingNearDups(all, "vec_id", "embedding", threshold = 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(got.contains).toDouble / truth.size
    assert(recall >= 0.9, s"recall=$recall over ${truth.size} pairs")
    // precision is exact by construction: candidates are re-ranked with
    // the exact cosine before thresholding
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth)}")
  }

  test("semanticLosers: planted identical vectors drop with min-id witness; organic corpus untouched") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
    val losers = Dedup.semanticLosers(emb.unionByName(planted), "vec_id", "embedding",
        threshold = 0.99, nlist = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical vectors are guaranteed co-clustered (argmax over
    // identical cosine arrays), so every planted copy is found; the
    // organic corpus has no ≥0.99 pair, so nothing else drops
    assert(losers == (0L until 20L).map(i => (i + 500000) -> i).toMap)
  }

  test("semanticLosers/semanticDedup: identical-vector chain keeps exactly the smallest id") {
    val v = Array.fill(8)(0.5f)
    val other = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)
    val df = Seq((1L, v), (2L, v), (3L, v), (10L, other)).toDF("id", "vec")
    val losers = Dedup.semanticLosers(df, "id", "vec", threshold = 0.99, nlist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(losers == Set((2L, 1L), (3L, 1L)))
    val kept = Dedup.semanticDedup(df, "id", "vec", threshold = 0.99, nlist = 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L))
  }

  test("semantic cluster cap drops are observable via capMetrics (no silent caps)") {
    val v = Array.fill(4)(1.0f)
    val df = (1L to 6L).map(i => (i, v)).toDF("id", "vec")
    // one degenerate cluster of 6 > maxCluster 4 → everything dropped,
    // and the metrics must say so (same contract as the LSH caps)
    val capped = Dedup.semanticLosers(df, "id", "vec",
      threshold = 0.9, nlist = 1, maxCluster = 4)
    assert(capped.collect().isEmpty)
    val m = Dedup.capMetrics(capped)
      .collect { case (k, r) if k.contains(".semantic.") => r }.toSeq
    assert(m.nonEmpty, "no cap observation attached to the semantic plan")
    assert(m.map(_.getAs[Long]("dropped_buckets")).sum == 1L)
    assert(m.map(_.getAs[Long]("dropped_rows")).sum == 6L)
  }

  test("simhash candidates find planted near-duplicates") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 60)
      .select(col("doc_id"), col("text"))
    val planted = docs.select((col("doc_id") + 1000).as("doc_id"),
      concat(col("text"), lit(" x")).as("text"))
    val pairs = Dedup.simhashCandidates(docs.unionByName(planted), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wanted = (0L until 60L).map(i => (i, i + 1000)).toSet
    val recall = wanted.count(pairs.contains).toDouble / wanted.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("newDocuments: bloom-routed incremental dedup matches a driver-side recompute") {
    val docs = Tables.documents(spark, sf)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val seen = docs.filter(col("doc_id") % 2 === 0)
    val result = Dedup.newDocuments(batch, seen, "text", expectedSeen = 10000L)
    // over a real (non-local) source the probe survives into the
    // physical plan as the codegen'd Catalyst expression, not a UDF
    assert(result.queryExecution.executedPlan.toString.contains("might_contain"))
    val got = result.select("doc_id").as[Long].collect().toSet
    def norm(s: String) = s.toLowerCase.trim.replaceAll("\\s+", " ")
    val seenTexts = seen.select("text").as[String].collect().map(norm).toSet
    val want = batch.select("doc_id", "text").as[(Long, String)].collect()
      .collect { case (id, t) if !seenTexts.contains(norm(t)) => id }.toSet
    assert(got == want)
    assert(got.nonEmpty && got.size < batch.count())
  }

  test("newDocuments: empty seen side returns the batch unchanged") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 30)
    val none = docs.filter(lit(false))
    assert(Dedup.newDocuments(docs, none, "text").count() == docs.count())
  }

  test("newDocuments: planted overlap is dropped, normalization-insensitive") {
    val batch = Seq((1L, "Fresh Doc"), (2L, "SEEN   before"), (3L, "also new"))
      .toDF("id", "text")
    val seen = Seq((9L, "seen before"), (10L, "unrelated")).toDF("id", "text")
    val got = Dedup.newDocuments(batch, seen, "text", expectedSeen = 16L)
    assert(got.select("id").as[Long].collect().toSet == Set(1L, 3L))
  }

  test("contamination: verbatim copies flag exact, perturbed copies flag near, fresh stay clean") {
    val train = Tables.documents(spark, sf).filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
    val verbatim = train.filter(col("doc_id") < 10)
      .select((col("doc_id") + 1000).as("doc_id"), col("text"))
    val perturbed = train.filter(col("doc_id").between(20, 29))
      .select((col("doc_id") + 2000).as("doc_id"),
        concat(col("text"), lit(" small tail")).as("text"))
    val fresh = Seq((9001L, "completely unrelated fresh holdout document text"),
      (9002L, "another clean evaluation row nothing shared"))
      .toDF("doc_id", "text")
    val got = Dedup.contamination(
      verbatim.unionByName(perturbed).unionByName(fresh), train,
      "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2))).toMap
    // verbatim: exact (and near, est 1.0)
    (1000L until 1010L).foreach(id => assert(got(id) === (true, true), s"id=$id"))
    // perturbed: never exact; near with high recall at this threshold
    (2020L until 2030L).foreach(id => assert(!got(id)._1, s"id=$id"))
    assert((2020L until 2030L).count(got(_)._2) >= 8)
    // fresh: clean on both flags
    assert(got(9001L) === (false, false) && got(9002L) === (false, false))
  }

  test("connectedComponents: chains merge transitively, disjoint components stay apart") {
    // chain 1-2-3 (no 1-3 edge), pair 10-11, and a triangle 20-21-22:
    // every member must get its component's minimum id as the label
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val got = cc.as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connectedComponents: superseded round checkpoints are freed (storage hygiene)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = (0L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    Dedup.connectedComponents(pairs, "id_a", "id_b").collect()
    // only the FINAL round's label checkpoint may remain pinned (the
    // returned frame reads it); every earlier round and the edge cache
    // must be gone — a 10-round path would otherwise leave ~11 tables
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"connectedComponents left ${leaked.size} pinned RDDs: $leaked")
  }

  test("connectedComponents: converges on a long path (diameter ~ rounds)") {
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val got = cc.as[(Long, Long)].collect()
    assert(got.length === 13 && got.forall(_._2 == 0L))
  }

  test("connectedComponents: fails loudly instead of returning half-merged labels") {
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(pairs, "id_a", "id_b", maxRounds = 3)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("hammingPairs: structural recall — equals brute force, incl. negative hashes") {
    val rnd = new scala.util.Random(42)
    val base = (0L until 60L).map(i => (i, rnd.nextLong()))
    // planted near pairs: flip 0, 1, and 2 bits of existing hashes
    val planted = Seq(
      (100L, base(3)._2),
      (101L, base(7)._2 ^ (1L << 63)),           // sign-bit flip
      (102L, base(11)._2 ^ (1L << 5) ^ (1L << 40)))
    val all = base ++ planted
    val df = all.toDF("id", "hash")
    val got = Dedup.hammingPairs(df, "id", "hash", maxHamming = 2)
      .as[(Long, Long, Int)].collect().toSet
    val want = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 2
    } yield (ia, ib, d)).toSet
    assert(got === want)
    assert(want.size >= 3)  // the planted pairs are in the ground truth
  }

  test("hammingPairs: uneven chunk widths cover all 64 bits; null hashes ignored") {
    // chunks = 5 → widths 12,13,13,13,13: a pair differing only in the
    // top bits must still band together somewhere
    val df = Seq((1L, Some(0L)), (2L, Some(1L << 63)), (3L, None))
      .toDF("id", "hash")
    val got = Dedup.hammingPairs(df, "id", "hash", maxHamming = 1, chunks = 5)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 1)))
  }

  test("hammingPairs: chunks <= maxHamming fails loudly (pigeonhole guarantee)") {
    val df = Seq((1L, 0L)).toDF("id", "hash")
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingPairs(df, "id", "hash", maxHamming = 3, chunks = 2)
    }
    assert(e.getMessage.contains("pigeonhole"), e.getMessage)
  }

  test("duplicatedSpans: planted cross-doc substring found maximal, unique text silent") {
    import spark.implicits._
    // docs 1 and 2 share the 20-char block at positions 11..30 of
    // each; doc 3 is noise. k=8 → grams at 11..23 are hot, chaining
    // into ONE maximal span [11, 30] per doc (i−prev=1 ≤ k).
    val shared = "SHARED-BLOCK-20CHARS"
    assert(shared.length == 20)
    val df = Seq(
      (1L, "aaaaaaaaaa" + shared + "bbbbbbbbbb"),
      (2L, "cccccccccc" + shared + "dddddddddd"),
      (3L, "eeeeeeeeeeffffffffffgggggggggghhhhhhhhhh"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(df, "doc_id", "text", k = 8,
        maxChars = 120, minDocs = 2)
      .select("doc_id", "span_start", "span_end", "span_len")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 11L, 30L, 20L), (2L, 11L, 30L, 20L)))
  }

  test("duplicatedSpans: two hot runs beyond gap k stay separate islands") {
    import spark.implicits._
    // two 8-char shared blocks separated by >k unique chars in both
    // docs: positions 1..8 and 29..36 (doc A) — the gap between the
    // last hot gram of run 1 (pos 1) and the first of run 2 (pos 29)
    // is 28 > k=8, so two spans, each exactly the block.
    val b1 = "BLOCKONE"; val b2 = "BLOCKTWO"
    val df = Seq(
      (1L, b1 + "qqqqqqqqqqqqqqqqqqqq" + b2),
      (2L, b1 + "rrrrrrrrrrrrrrrrrrrr" + b2)).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(df, "doc_id", "text", k = 8,
        maxChars = 120, minDocs = 2)
      .select("doc_id", "span_idx", "span_start", "span_end")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 1L, 8L), (1L, 2L, 29L, 36L),
      (2L, 1L, 1L, 8L), (2L, 2L, 29L, 36L)))
  }

  test("duplicatedSpans: maxChars cap bounds the scan; minDocs=3 needs three docs") {
    import spark.implicits._
    val tail = "TAIL-DUPLICATED-BLOCK"
    val df = Seq(
      (1L, ("x" * 30) + tail),
      (2L, ("y" * 30) + tail)).toDF("doc_id", "text")
    // cap at 30 chars: the shared tail is outside the window → empty
    assert(Dedup.duplicatedSpans(df, "doc_id", "text", k = 8,
      maxChars = 30, minDocs = 2).count() == 0L)
    // minDocs=3 with only two sharers → empty; adding a third → found
    val three = df.unionByName(Seq((3L, ("z" * 30) + tail)).toDF("doc_id", "text"))
    assert(Dedup.duplicatedSpans(three, "doc_id", "text",
      k = 8, maxChars = 120, minDocs = 3).count() > 0L)
    assert(Dedup.duplicatedSpans(df, "doc_id", "text", k = 8,
      maxChars = 120, minDocs = 3).count() == 0L)
  }

  test("cdcChunks: partition invariants, rails, code points, shift resilience") {
    import spark.implicits._
    val text = (0 until 400).map(i => ('a' + (i * 31 + 7) % 26).toChar).mkString
    val df = Seq((1L, text), (2L, "XYZ" + text), (3L, ""),
        (4L, null.asInstanceOf[String]), (5L, "ab😀cd"))
      .toDF("doc_id", "text")
    val got = Dedup.cdcChunks(df, "doc_id", "text",
        minLen = 16, maxLen = 128, maskBits = 6)
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    // chunks reassemble exactly; positions/lengths consistent; every
    // non-tail chunk within [minLen, maxLen], tail may run short
    for (id <- Seq(1L, 2L)) {
      val cs = got(id)
      assert(cs.map(_._5).mkString == (if (id == 1L) text else "XYZ" + text))
      assert(cs.map(_._2) == (1L to cs.length))
      cs.foldLeft(0L) { case (at, (_, _, st, len, ch)) =>
        assert(st == at && len == ch.length); at + len
      }
      assert(cs.init.forall(c => c._4 >= 16 && c._4 <= 128))
      assert(cs.last._4 <= 128)
    }
    // a 3-char prefix insertion re-aligns: the two chunkings share
    // trailing content-defined chunks
    val shared = got(1L).map(_._5).toSet intersect got(2L).map(_._5).toSet
    assert(shared.nonEmpty)
    // empty and null texts emit nothing
    assert(!got.contains(3L) && !got.contains(4L))
    // the astral emoji is ONE code point: whole string is one tail
    // chunk of len 5 (under minLen, no interior boundary possible)
    assert(got(5L) == Seq((5L, 1L, 0L, 5L, "ab😀cd")))
  }

  test("winnowFingerprints: guarantee, determinism, short-doc edges") {
    import spark.implicits._
    val common = (1 to 12).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $common gamma"),
      (2L, s"$common zeta eta theta iota"),
      (3L, s"alpha beta $common gamma"),       // identical to 1
      (4L, "one two three four"),              // < k tokens (k=5)
      (5L, "one two three four five"))         // exactly k -> 1 kgram
      .toDF("id", "text")
    val fps = Dedup.winnowFingerprints(docs, "id", "text", k = 5, w = 4)
    val byId = fps.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("pos"),
        r.getAs[Long]("fingerprint")))
      .groupBy(_._1)
    // identical docs -> identical (pos, fingerprint) sets
    assert(byId(1L).map(t => (t._2, t._3)).toSet ==
      byId(3L).map(t => (t._2, t._3)).toSet)
    // the winnowing GUARANTEE: docs 1 and 2 share a 12-token span
    // >= w+k-1 = 8 tokens -> they must share >= 1 fingerprint value
    assert((byId(1L).map(_._3).toSet intersect
      byId(2L).map(_._3).toSet).nonEmpty)
    // < k tokens: nothing; == k tokens: exactly one pick at pos 0
    assert(!byId.contains(4L))
    assert(byId(5L).toSeq.map(t => t._2) == Seq(0L))
    // fingerprint count never exceeds window count
    val n1 = docs.filter($"id" === 1L).select(col("text")).head.getString(0)
      .split("\\s+").length
    assert(byId(1L).length <= n1 - 5 + 1 - 4 + 1)
    // pair mining finds the planted near-dup and respects the cap
    val pairs = Dedup.winnowPairs(fps, "id").collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("shared_fingerprints")).toMap
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) >= 1L)
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 3L)))
    // a fingerprint shared by MORE than maxBucket docs emits no pairs
    val many = (1L to 10L).map(i => (i, s"alpha beta $common gamma"))
      .toDF("id", "text")
    val capped = Dedup.winnowPairs(
      Dedup.winnowFingerprints(many, "id", "text", 5, 4), "id",
      maxBucket = 4)
    assert(capped.count() == 0L)
  }
}

class SimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** driver-side replay of the exact integer Lloyd recurrence */
  private def kmeansIntReplay(pts: Seq[(Long, Seq[Float])],
      init: Seq[(Long, Seq[Float])], rounds: Int,
      scale: Long): Map[Long, (Long, Long)] = {
    def q(v: Seq[Float]): Seq[Long] =
      v.map(x => math.floor(x.toDouble * scale).toLong)
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def sdiv(s: Long, n: Long): Long = if (s >= 0) s / n else -((-s) / n)
    val p = pts.map { case (i, v) => i -> q(v) }.toMap
    var c = init.map { case (i, v) => i -> q(v) }.toMap
    def assign(): Map[Long, (Long, Long)] = p.map { case (i, v) =>
      i -> c.toSeq.map { case (ci, m) => (d2(v, m), ci) }.min.swap
    }
    (1 to rounds).foreach { _ =>
      val a = assign()
      c = a.groupBy(_._2._1).map { case (ci, members) =>
        val vs = members.keys.map(p).toSeq
        ci -> vs.head.indices.map(j => sdiv(vs.map(_(j)).sum, vs.size)).toSeq
      }
    }
    assign()
  }

  test("kmeansInt: matches the integer Lloyd replay; separable clusters found") {
    val rnd = new scala.util.Random(31)
    // three well-separated blobs in 4-d (+ noise), ids interleaved
    val pts = Seq.tabulate(60) { i =>
      val center = i % 3
      (i.toLong, Seq.tabulate(4)(j =>
        (center * 2.0 + (if (j == center) 1.0 else 0.0) +
          rnd.nextDouble() * 0.2).toFloat))
    }
    val init = pts.filter(_._1 < 3).map { case (i, v) => (i, v) }
    val df = pts.toDF("vec_id", "embedding")
    val initDf = init.toDF("cid", "embedding")
    for (rounds <- Seq(1, 2, 3)) {
      val got = Similarity.kmeansInt(df, "vec_id", "embedding",
          initDf, "cid", "embedding", rounds)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == kmeansIntReplay(pts, init, rounds, 1000L), s"rounds=$rounds")
    }
    // after 2 rounds the blobs separate: all members of a blob share a cluster
    val a2 = Similarity.kmeansInt(df, "vec_id", "embedding",
        initDf, "cid", "embedding", 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    (0 until 3).foreach { blob =>
      val labels = pts.collect { case (i, _) if i % 3 == blob => a2(i) }.toSet
      assert(labels.size == 1, s"blob $blob split across clusters: $labels")
    }
    val re = Similarity.kmeansInt(df.repartition(7), "vec_id", "embedding",
        initDf, "cid", "embedding", 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(re == a2, "partitioning leaked into the clustering")
    intercept[IllegalArgumentException] {
      Similarity.kmeansInt(df, "vec_id", "embedding",
        initDf, "cid", "embedding", 0)
    }
  }

  /** driver-side replay of the integer power iteration */
  private def eigReplay(pts: Seq[Seq[Float]], rounds: Int,
      scale: Long): Map[Int, Long] = {
    def sdiv(a: Long, b: Long): Long = if (a >= 0) a / b else -((-a) / b)
    val q = pts.map(_.map(x => math.floor(x.toDouble * scale).toLong))
    val d = q.head.size
    val n = q.size.toLong
    val cov = Array.tabulate(d, d) { (i, j) =>
      val sij = q.map(r => r(i) * r(j)).sum
      val si = q.map(_(i)).sum; val sj = q.map(_(j)).sum
      n * sij - si * sj
    }
    var v = Array.fill(d)(scale)
    (1 to rounds).foreach { _ =>
      val w = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val den = math.max(w.map(math.abs).max / scale, 1L)
      v = w.map(sdiv(_, den))
    }
    v.zipWithIndex.map { case (x, i) => i -> x }.toMap
  }

  test("topEigenInt: matches the integer replay and finds the planted direction") {
    val rnd = new scala.util.Random(13)
    // anisotropic cloud: dominant variance along dim 1, some along 3
    val pts = Seq.tabulate(80) { _ =>
      val t = rnd.nextGaussian()
      Seq(rnd.nextGaussian() * 0.05, t * 0.9, rnd.nextGaussian() * 0.05,
        t * 0.3 + rnd.nextGaussian() * 0.1).map(_.toFloat)
    }
    val df = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    for (rounds <- Seq(1, 3)) {
      val got = Similarity.topEigenInt(df, "vec_id", "embedding", rounds)
        .as[(Int, Long)].collect().toMap
      assert(got == eigReplay(pts, rounds, 1000L), s"rounds=$rounds")
    }
    val v3 = Similarity.topEigenInt(df, "vec_id", "embedding", 3)
      .as[(Int, Long)].collect().toMap
    // the dominant coordinate is dim 1, with dim 3 correlated at ~1/3
    assert(math.abs(v3(1)) == Seq(0, 1, 2, 3).map(i => math.abs(v3(i))).max)
    assert(math.abs(v3(3)) > math.abs(v3(0)) && math.abs(v3(3)) > math.abs(v3(2)),
      s"correlated dim must outweigh noise dims: $v3")
    val re = Similarity.topEigenInt(df.repartition(7), "vec_id", "embedding", 3)
      .as[(Int, Long)].collect().toMap
    assert(re == v3, "partitioning leaked into the eigenvector")
  }

  test("bitextMine: margin beats raw similarity on a planted hub; mutual flag") {
    import spark.implicits._
    // t_hub has a big dot with EVERY source (a "close to everything"
    // sentence); t1 is s1's true pair, t2 is s2's. Raw-dot best for
    // both sources would be the hub; margin demotes it.
    val src = Seq(
      (0L, Array(10f, 0f, 1f)),
      (2L, Array(0f, 10f, 1f))).toDF("id", "vec")
    val tgt = Seq(
      (1L, Array(8f, 0f, 0f)),   // true pair of s0
      (3L, Array(0f, 8f, 0f)),   // true pair of s2
      (5L, Array(5f, 5f, 9f)))   // hub: high dot with both
      .toDF("id", "vec")
    val got = Similarity.bitextMine(src, tgt, "id", "vec", "id", "vec",
        k = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(4)))
      .toMap
    // raw dots: s0: t1=80e6, t5=59e6 -> raw best t1 already... use
    // margin ordering: each source keeps its true pair and the pair
    // is mutual; the hub is nobody's best
    assert(got(0L)._1 == 1L && got(0L)._2 == 1)
    assert(got(2L)._1 == 3L && got(2L)._2 == 1)
  }

  test("matryoshkaAgreement: full budget always agrees; prefix flips a planted pair") {
    import spark.implicits._
    // q1's nearest under the 2-dim prefix is c2, but full-dim is c1;
    // q2 agrees at every budget
    val corpus = Seq(
      (101L, Array(1.0f, 0.0f, 10.0f, 0f)), // c1: strong tail
      (102L, Array(2.0f, 0.0f, 0.0f, 0f)),  // c2: strong head
      (103L, Array(0.0f, 1.0f, 0.0f, 5f)))
      .toDF("id", "vec")
    val queries = Seq(
      (1L, Array(1.0f, 0.0f, 1.0f, 0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 1f)))
      .toDF("id", "vec")
    val got = Similarity.matryoshkaAgreement(queries, corpus,
        "id", "vec", "id", "vec", dims = Seq(2, 4))
      .select("dim_budget", "n_queries", "n_agree")
      .as[(Int, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(4) == ((2L, 2L))) // full budget agrees with itself
    assert(got(2) == ((2L, 1L))) // q1 flips to c2 at 2 dims
  }

  test("bruteForceTopK matches a driver-side exact computation") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 3), emb, "vec_id", "embedding", "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    // exact reference computation in scala
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]) = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    (0L until 3L).foreach { q =>
      val want = vecs.filter(_._1 != q)
        .map { case (id, v) => id -> cos(vecs(q), v) }
        .toSeq.sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSet
      assert(got(q) == want, s"query $q")
    }
  }

  test("bruteForceTopK fails loudly when the query side exceeds its broadcast contract") {
    val emb = Tables.embeddings(spark, sf)
    val e = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding",
        "vec_id", "embedding", k = 3, maxQueries = 10)
    }
    assert(e.getMessage.contains("lshTopK"), s"guard message should route to the scale path: $e")
  }

  test("lshTopK achieves reasonable recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(q, emb, "vec_id", "embedding", "vec_id", "embedding", 5,
        planes = 6, tables = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall") // approximate: sanity bound
  }

  test("ivfTopK: k-means quantizer trains and recall beats random probing") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, emb, "vec_id", "embedding",
        "vec_id", "embedding", 5, nlist = 8, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    // probing 3/8 lists at random would give ~0.375; the quantizer must beat it
    assert(recall >= 0.5, s"recall=$recall")
    assert(ivf.forall { case (a, b) => a != b })
  }

  test("ivfPqTopK: ADC shortlist + exact re-rank beats random probing; codes stay in range") {
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding",
        "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
        "vec_id", "embedding", 5, nlist = 8, nprobe = 4,
        m = 8, ksub = 16, refine = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(pq.contains).toDouble / exact.size
    // 4/8 lists at random ≈ 0.5 before quantization loss; the trained
    // quantizer + ADC shortlist must clear it
    assert(recall >= 0.6, s"recall=$recall")
    assert(pq.forall { case (a, b) => a != b }, "self-matches must be excluded")
    // every query returns exactly k rows (shortlist never starves at this SF)
    val perQuery = pq.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.values.forall(_ == 5), s"per-query counts: $perQuery")
  }

  test("pqCodebooks: one codebook per subspace, each ksub x dim/m") {
    val emb = Tables.embeddings(spark, sf)
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding",
      m = 4, ksub = 8, dim = 64)
    assert(books.length == 4)
    assert(books.forall(_.length == 8))
    assert(books.forall(_.forall(_.length == 16)))
    // subspaces differ: codebook 0 and 1 trained on different slices
    assert(books(0).head.toSeq != books(1).head.toSeq)
  }

  test("VectorMean typed Aggregator agrees with the posexplode centroids") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val viaAgg = emb.select(col("label"), col("embedding").as("v"))
      .as[(Int, Seq[Float])]
      .groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.VectorMean.asColumn.name("c"))
      .collect().map { case (l, c) => l -> c }.toMap
    val viaExplode = Similarity.centroids(emb, "label", "embedding")
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(viaAgg.keySet == viaExplode.keySet)
    viaAgg.foreach { case (l, c) =>
      c.zip(viaExplode(l)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"label $l")
      }
    }
  }

  test("centroids: mean vector per label, correct dimension") {
    val emb = Tables.embeddings(spark, sf)
    val got = Similarity.centroids(emb, "label", "embedding").collect()
    assert(got.length == 10)
    assert(got.forall(_.getSeq[Double](1).length == 64))
    // spot-check label 0 against driver-side mean of first component
    val exp = emb.filter(col("label") === 0)
      .select(element_at(col("embedding"), 1).cast("double")).collect().map(_.getDouble(0))
    val want = exp.sum / exp.length
    val c0 = got.find(_.getInt(0) == 0).get.getSeq[Double](1).head
    assert(math.abs(c0 - want) < 1e-9)
  }

  test("quantizeSq8: codes in [-127,127], reconstruction within one step, zero vector safe") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"), col("embedding"))
    val zero = Seq((999999L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeSq8(emb.unionByName(zero), "vec_id", "embedding")
      .collect()
    q.foreach { r =>
      val vec = r.getSeq[Float](1)
      val scale = r.getDouble(2)
      val codes = r.getSeq[Int](3)
      assert(codes.length == vec.length)
      assert(codes.forall(c => c >= -127 && c <= 127))
      if (scale == 0.0) assert(codes.forall(_ == 0))
      else {
        val step = scale / 127.0
        vec.zip(codes).foreach { case (v, c) =>
          // floor-based code: reconstruction sits within one step below
          assert(v.toDouble - c * step >= -1e-9 && v.toDouble - c * step <= step + 1e-9,
            s"v=$v c=$c scale=$scale")
        }
      }
    }
  }

  test("quantizeSq8: native kernels are bit-identical to the HOF formulation") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val kernel = Similarity.quantizeSq8(emb, "vec_id", "embedding")
      .select("vec_id", "scale", "codes")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Int](2)))).toMap
    val hof = emb
      .select(col("vec_id"), col("embedding"),
        array_max(transform(col("embedding"), v => abs(v.cast("double")))).as("scale"))
      .select(col("vec_id"), col("scale"),
        transform(col("embedding"),
          v => floor(v.cast("double") / greatest(col("scale"), lit(1e-300)) * 127.0)
            .cast("int")).as("codes"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getSeq[Int](2)))).toMap
    assert(kernel == hof)
  }

  test("randomProject: matches a driver-side reference; deterministic per seed") {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
    val got = Similarity.randomProject(emb, "vec_id", "embedding",
        outDim = 8, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(k: Int, j: Int): Long = {
      val h = md.digest(s"7:$k:$j".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xF) % 2 == 0) 1L else -1L
    }
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    vecs.foreach { case (id, v) =>
      val want = (0 until 8).map { k =>
        v.zipWithIndex.map { case (x, j) =>
          sign(k, j) * math.floor(x.toDouble * 10000L).toLong
        }.sum
      }
      assert(got(id) == want, s"vec $id")
    }
    val again = Similarity.randomProject(emb, "vec_id", "embedding",
        outDim = 8, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(again == got)
    val other = Similarity.randomProject(emb, "vec_id", "embedding",
        outDim = 8, seed = 8L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(other != got)
  }

  test("randomProject: identical inputs project identically; sign agreement tracks cosine") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val twin = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val p = Similarity.randomProject(emb.unionByName(twin),
        "vec_id", "embedding", outDim = 16, seed = 3L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    (0L until 10L).foreach { id =>
      assert(p(id) == p(id + 100000L), s"twin of $id diverged")
    }
  }

  test("randomProject: shuffle-free plan (row-local projection, matrix is a plan constant)") {
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val plan = Similarity.randomProject(emb, "vec_id", "embedding", outDim = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("hardNegatives: positives excluded BEFORE the rank, yield stays k") {
    // 1-d embeddings make similarity order transparent: cosine of
    // positive scalars is 1.0 for all, so rank falls to the id
    // tie-break — use 2-d instead with distinct angles. Query at 0°;
    // corpus items at increasing angles → decreasing cosine in id
    // order: ids 1,2,3,... are the true similarity ranking.
    val corpus = (1 to 12).map { i =>
      val a = i * 0.1
      (i.toLong, Seq(math.cos(a).toFloat, math.sin(a).toFloat))
    }.toDF("vec_id", "embedding")
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // positives are the TWO most-similar items (1, 2): filtering
    // after a top-5 would yield only 3 negatives; the contract
    // yields 5 — exactly ids 3..7
    val pos = Seq((0L, 1L), (0L, 2L)).toDF("qid", "item")
    val got = Similarity.hardNegatives(q, corpus, pos,
        "vec_id", "embedding", "vec_id", "embedding", "qid", "item", 5)
      .orderBy(col("cosine").desc)
      .as[(Long, Long, Double)].collect()
    assert(got.map(_._2).toSeq == Seq(3L, 4L, 5L, 6L, 7L),
      s"got ${got.toSeq}")
    assert(got.forall(_._1 == 0L))
    // self-exclusion: a corpus row with the query's own id never appears
    val withSelf = corpus.unionByName(q)
    val got2 = Similarity.hardNegatives(q, withSelf, pos,
        "vec_id", "embedding", "vec_id", "embedding", "qid", "item", 5)
      .as[(Long, Long, Double)].collect()
    assert(!got2.exists(_._2 == 0L))
  }

  /** deterministic synthetic vector for the upsertIvf fixtures */
  private def uivVec(seed: Long, dim: Int = 8): Seq[Float] =
    Seq.tabulate(dim)(j =>
      (((seed * 31 + j * j * 7 + 3) % 17 - 8) / 8.0).toFloat)

  test("upsertIvf: identity vs from-scratch re-encode — replacement, " +
    "deletion, new ids; probeCodes serves both states equal (r17)") {
    val dim = 8; val m = 2
    val coarse = Array.tabulate(4, dim)((c, p) =>
      ((c * 3 + p) % 5 - 2) / 2.0)
    val books = Array.tabulate(m, 4, dim / m)((mi, cc, p) =>
      ((mi + cc * 2 + p) % 7 - 3) / 4.0)
    // A carries STALE vectors (seed+1000) for the re-ingest cohort
    val a = (1L to 20L).map(i =>
      (i, if (i % 5 == 0) uivVec(i + 1000) else uivVec(i)))
      .toDF("vec_id", "embedding")
    val delta = ((1L to 20L).filter(_ % 5 == 0).map(i => (i, uivVec(i)))
      ++ Seq((100L, uivVec(100L)), (101L, uivVec(101L))))
      .toDF("vec_id", "embedding")
    val deleted = Seq(3L, 7L, 999L).toDF("vec_id") // 999 absent: no-op
    val mergedIds = ((1L to 20L).filterNot(Set(3L, 7L)) ++ Seq(100L, 101L))
    val merged = mergedIds.map(i => (i, uivVec(i)))
      .toDF("vec_id", "embedding")
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("neighbor_id") ->
        ((r.getAs[Int]("list"),
          r.getAs[Seq[Int]]("codes").toList))).toMap
    val stored = Similarity.ivfPqCodes(a, "vec_id", "embedding",
      coarse, books, m)
    val up = Similarity.upsertIvf(stored, delta, "vec_id", "embedding",
      deleted, "vec_id", coarse, books, m)
    val rb = Similarity.ivfPqCodes(merged, "vec_id", "embedding",
      coarse, books, m)
    val gotCodes = codesOf(up)
    assert(gotCodes == codesOf(rb), "upserted codes != rebuilt codes")
    assert(gotCodes.keySet == mergedIds.toSet)
    // serving identity: probeCodes answers from both states agree
    val q = merged.filter(col("vec_id") <= 2L)
    def topk(codes: org.apache.spark.sql.DataFrame) =
      Similarity.probeCodes(codes, q, merged, "vec_id", "embedding",
          "vec_id", "embedding", k = 3, nprobe = 4, refine = 2,
          coarse, books, m)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val t = topk(up)
    assert(t == topk(rb) && t.nonEmpty)
    // deleted ids serve from neither state
    assert(!t.exists(p => p._2 == 3L || p._2 == 7L))
  }

  test("upsertIvf: duplicate delta ids refuse loudly even on an EMPTY " +
    "stored index (the AQE empty-relation-pruning class, r16 advice)") {
    val coarse = Array.tabulate(2, 8)((c, p) => (c + p % 3).toDouble)
    val books = Array.tabulate(2, 2, 4)((mi, cc, p) =>
      (mi + cc + p).toDouble)
    val empty = Seq.empty[(Long, Int, Seq[Int])]
      .toDF("neighbor_id", "list", "codes")
    val dupDelta = Seq((1L, uivVec(1L)), (1L, uivVec(2L)))
      .toDF("vec_id", "embedding")
    val noDel = Seq.empty[Long].toDF("vec_id")
    val ex = intercept[Exception] {
      Similarity.upsertIvf(empty, dupDelta, "vec_id", "embedding",
        noDel, "vec_id", coarse, books, 2).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("duplicate"),
      s"wrong error: ${ex.getMessage}")
  }

  test("upsertIvf: plan never reads the stored corpus' vector file — " +
    "encode touches only the delta (r17 plan pin)") {
    val dim = 8; val m = 2
    val coarse = Array.tabulate(2, dim)((c, p) => (c + p % 3 + 1).toDouble)
    val books = Array.tabulate(m, 2, dim / m)((mi, cc, p) =>
      (mi + cc + p).toDouble)
    val base = java.nio.file.Files
      .createTempDirectory("graft_uiv_").toString
    val corpusDir = s"$base/corpus"; val codesDir = s"$base/codes"
    val deltaDir = s"$base/delta"
    (1L to 10L).map(i => (i, uivVec(i))).toDF("vec_id", "embedding")
      .write.parquet(corpusDir)
    Similarity.ivfPqCodes(spark.read.parquet(corpusDir), "vec_id",
        "embedding", coarse, books, m)
      .write.parquet(codesDir)
    Seq((100L, uivVec(100L))).toDF("vec_id", "embedding")
      .write.parquet(deltaDir)
    val up = Similarity.upsertIvf(spark.read.parquet(codesDir),
      spark.read.parquet(deltaDir), "vec_id", "embedding",
      Seq.empty[Long].toDF("vec_id"), "vec_id", coarse, books, m)
    up.count()
    val plan = up.queryExecution.executedPlan.toString
    assert(plan.contains(deltaDir), "delta scan missing from plan")
    assert(!plan.contains(corpusDir),
      s"stored corpus vector file is read by the upsert plan:\n$plan")
  }

  test("ivfAssignMicro: hand lanes, zero/null vectors drop, exact tie " +
    "takes the FIRST centroid (r17)") {
    // c0 == c1 manufactures an exact cosine tie; c2 is orthogonal
    val coarse = Array(Array(1.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0))
    val rows = Seq(
      (1L, Seq(2.0f, 0.0f)), (2L, Seq(0.0f, 3.0f)),
      (3L, Seq(0.0f, 0.0f)), (4L, null.asInstanceOf[Seq[Float]]))
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfAssignMicro(rows, "vec_id", "embedding",
        coarse)
      .collect().map(r => r.getAs[Long]("neighbor_id") ->
        ((r.getAs[Int]("list"), r.getAs[Long]("cos_micro"),
          r.getAs[Long]("err2_microsq")))).toMap
    // qv1 = (2e6, 0), qc0 = (1e6, 0): cos = 1.0 exactly,
    // err2 = 4e12 + 1e12 - 2*2e12 = 1e12; tie with c1 -> list 0
    assert(got(1L) == ((0, 1000000L, 1000000000000L)), s"${got(1L)}")
    assert(got(2L)._1 == 2 && got(2L)._2 == 1000000L)
    assert(!got.contains(3L) && !got.contains(4L) && got.size == 2)
    // a vector whose length differs from the centroids' refuses
    // loudly (it would otherwise skew census totals via null lists)
    val badDim = Seq((9L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.ivfAssignMicro(badDim, "vec_id", "embedding", coarse)
        .collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("centroid dim"))
  }

  test("ivfDriftCensus: masses, exact share floors, integer means, " +
    "empty lists visible on the spine (r17)") {
    val coarse = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0))
    val storedCodes = Seq((10L, 0), (11L, 0), (12L, 0), (13L, 1))
      .toDF("neighbor_id", "list")
    val delta = Seq(
      (1L, Seq(2.0f, 0.0f)), (2L, Seq(4.0f, 0.0f)), (3L, Seq(0.0f, 5.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.ivfDriftCensus(storedCodes, "list", delta,
        "vec_id", "embedding", coarse)
      .collect().map(r => r.getAs[Long]("list") ->
        ((r.getAs[Long]("stored_mass"), r.getAs[Long]("delta_mass"),
          Option(r.get(r.fieldIndex("stored_share_milli")))
            .map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("delta_share_milli")))
            .map(_.asInstanceOf[Long]),
          Option(r.get(r.fieldIndex("mean_cos_micro")))
            .map(_.asInstanceOf[Long])))).toMap
    // shares: stored 3/4 and 1/4 -> 750/250; delta 2/3 and 1/3 ->
    // 666/333; axis-aligned vectors have cos exactly 1.0
    assert(got(0L) == ((3L, 2L, Some(750L), Some(666L), Some(1000000L))))
    assert(got(1L) == ((1L, 1L, Some(250L), Some(333L), Some(1000000L))))
    assert(got(2L) == ((0L, 0L, Some(0L), Some(0L), None)))
    assert(got.size == 3)
  }

  /** driver replay of the exact integer MMR greedy (same double ops
    * as the engine lanes — floor(1e6·dot/(√·√)) — so scores match
    * bit-for-bit) */
  private def mmrReplay(cands: Seq[(Long, Long, Seq[Float])], k: Int,
      lam: Long): Seq[(Int, Long, Long)] = {
    case class C(doc: Long, rel: Long, qv: Seq[Long], nv2: Long)
    val cs = cands.map { case (d, r, v) =>
      val qv = v.map(x => math.floor(x.toDouble * 1e6).toLong)
      C(d, r, qv, qv.map(x => x * x).sum)
    }
    def sim(a: C, b: C): Long =
      if (a.nv2 > 0 && b.nv2 > 0)
        math.floor(1e6 * (a.qv.zip(b.qv).map { case (x, y) => x * y }.sum
          .toDouble / (math.sqrt(a.nv2.toDouble) *
            math.sqrt(b.nv2.toDouble)))).toLong
      else 0L
    var sel = Vector.empty[(C, Long)]
    var rem = cs
    while (sel.size < k && rem.nonEmpty) {
      val scored = rem.map { c =>
        val ms = if (sel.isEmpty) 0L else sel.map(s => sim(c, s._1)).max
        (c, lam * c.rel * 1000L - (1000L - lam) * ms)
      }
      val best = scored.minBy { case (c, s) => (-s, c.doc) }
      sel :+= best
      rem = rem.filterNot(_.doc == best._1.doc)
    }
    sel.zipWithIndex.map { case ((c, s), i) => (i + 1, c.doc, s) }
  }

  test("mmrRerank: diversity beats a near-duplicate, lambda=1000 is " +
    "pure relevance, short lists truncate, zero vectors score sim 0, " +
    "cap refuses (r17)") {
    val vecs = Seq(
      (1L, 900L, Seq(1.0f, 0.0f)),
      (2L, 880L, Seq(1.0f, 0.01f)),   // near-dup of doc 1
      (3L, 500L, Seq(0.0f, 1.0f)),    // orthogonal, much lower rel
      (4L, 870L, Seq(0.999f, 0.02f))) // another near-dup
    val df = vecs.map { case (d, r, v) => (1, d, r, v) }
      .toDF("query", "doc", "rel", "embedding")
    def run(k: Int, lam: Long, mc: Int = 256) =
      Similarity.mmrRerank(df, "query", "doc", "rel", "embedding",
          k, lam, mc)
        .orderBy(col("rank"))
        .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc"),
          r.getAs[Long]("score_nano"))).toSeq
    val got = run(3, 700L)
    assert(got == mmrReplay(vecs, 3, 700L), s"$got")
    // the diversity term actually flips the order: pure relevance
    // would rank doc 2 second; MMR promotes the orthogonal doc 3
    assert(got.map(_._2).take(2) == Seq(1L, 3L))
    // lambda = 1000: similarity is ignored — pure rel desc, doc asc
    assert(run(3, 1000L).map(_._2) == Seq(1L, 2L, 4L))
    // k beyond the list: every candidate emits, ranks contiguous
    assert(run(10, 700L).map(_._1) == Seq(1, 2, 3, 4))
    // a zero vector is never "similar" to anything: with a rel above
    // the near-dups' penalized scores it takes rank 2
    val withZero = vecs :+ ((9L, 600L, Seq(0.0f, 0.0f)))
    val gz = Similarity.mmrRerank(
        withZero.map { case (d, r, v) => (1, d, r, v) }
          .toDF("query", "doc", "rel", "embedding"),
        "query", "doc", "rel", "embedding", 5, 700L)
      .orderBy(col("rank"))
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("doc"),
        r.getAs[Long]("score_nano"))).toSeq
    assert(gz == mmrReplay(withZero, 5, 700L), s"$gz")
    // bounded-candidates contract refuses loudly
    val ex = intercept[Exception] { run(2, 700L, mc = 3) }
    assert(ex.getMessage != null && ex.getMessage.contains("maxCandidates"))
  }

  test("embeddingDrift: identical sides cos ~ 1e6, opposed sides " +
    "negative, one-sided labels carry null cos (r17)") {
    val stored = Seq(
      ("a", Seq(1.0f, 2.0f)), ("a", Seq(3.0f, 4.0f)),
      ("b", Seq(1.0f, 0.0f)), ("gone", Seq(5.0f, 5.0f)))
      .toDF("label", "embedding")
    val delta = Seq(
      ("a", Seq(1.0f, 2.0f)), ("a", Seq(3.0f, 4.0f)),
      ("b", Seq(-2.0f, 0.0f)), ("new", Seq(9.0f, 9.0f)))
      .toDF("label", "embedding")
    val got = Similarity.embeddingDrift(stored, delta, "label",
        "embedding")
      .collect().map(r => r.getAs[String]("label") ->
        ((r.getAs[Long]("stored_mass"), r.getAs[Long]("delta_mass"),
          Option(r.get(r.fieldIndex("cos_micro")))
            .map(_.asInstanceOf[Long])))).toMap
    // identical centroid sums: cos = 1.0 up to the one double chain
    // (sqrt(x)*sqrt(x) may land an ulp under x) -> 999999 or 1000000
    val aCos = got("a")._3.get
    assert(got("a")._1 == 2L && got("a")._2 == 2L &&
      (aCos == 999999L || aCos == 1000000L), s"$aCos")
    // exactly opposed 1-d direction: cos = -1.0; floor(-1e6 - ulp)
    val bCos = got("b")._3.get
    assert(bCos == -1000000L || bCos == -1000001L, s"$bCos")
    assert(got("gone") == ((1L, 0L, None)))
    assert(got("new") == ((0L, 1L, None)))
  }
}

class EnrichSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("mapPartitions enricher and pure-expression twin agree on real docs") {
    val d = Tables.documents(spark, sf).select(col("doc_id"), col("text")).limit(200)
    val a = Enrich.enrichSentiment(d, "text")
      .select("doc_id", "sentiment", "sentiment_score", "emotion")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getString(3))).toMap
    val b = Enrich.ruleSentimentColumns(d, "text")
      .select("doc_id", "sentiment", "sentiment_score", "emotion")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2), r.getString(3))).toMap
    assert(a == b)
  }

  test("parseSentimentJson: valid JSON, fenced JSON, and garbage fallback") {
    val df = Seq(
      """{"sentiment":"positive","sentiment_score":0.9,"emotion":"joy","summary":"ok"}""",
      "```json\n{\"sentiment\":\"negative\",\"sentiment_score\":-0.5,\"emotion\":\"anger\",\"summary\":\"bad\"}\n```",
      "total garbage not json").toDF("raw")
    val got = Enrich.parseSentimentJson(df, "raw")
      .select("sentiment", "sentiment_score", "summary").collect()
    assert(got(0).getString(0) == "positive" && got(0).getDouble(1) == 0.9)
    assert(got(1).getString(0) == "negative", "markdown fences must be stripped")
    assert(got(2).getString(0) == "neutral" && got(2).getString(2) == "total garbage not json")
  }

  test("enrichSentiment preserves input columns and row count") {
    val d = Tables.documents(spark, sf).limit(50)
    val out = Enrich.enrichSentiment(d, "text")
    assert(out.count() == 50)
    assert(d.columns.toSet.subsetOf(out.columns.toSet))
  }
}

class KpisSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("countByNormalized: lower-cases and null→unknown (final_kpis.py:41-46)") {
    val df = Seq("Positive", "positive", null, "NEGATIVE").toDF("sentiment")
    val got = Kpis.countByNormalized(df, "sentiment").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("positive" -> 2L, "unknown" -> 1L, "negative" -> 1L))
  }

  test("kpiRecord: single row, map totals equal row counts (kpis.json shape)") {
    val v = Seq("positive", "positive", "neutral").toDF("sentiment")
    val c = Seq("negative", null).toDF("sentiment")
    val row = Kpis.kpiRecord(v, c, "sentiment", "sentiment",
      "2026-01-21", "2026-01-21T00:00:00Z").head
    assert(row.getAs[Long]("total_videos") == 3L)
    assert(row.getAs[Long]("total_comments") == 2L)
    val vm = row.getAs[Map[String, Long]]("video_sentiment_counts")
    assert(vm == Map("positive" -> 2L, "neutral" -> 1L))
    val cm = row.getAs[Map[String, Long]]("comment_sentiment_counts")
    assert(cm == Map("negative" -> 1L, "unknown" -> 1L))
  }

  /** The two-aggregate formula kpiRecord replaced, kept as the
    * reference: each side reduced to one row on its own, then the two
    * rows cross-joined. */
  private def twoAggregateKpi(videos: org.apache.spark.sql.DataFrame,
      comments: org.apache.spark.sql.DataFrame, date: String,
      at: String): org.apache.spark.sql.DataFrame = {
    def asMap: org.apache.spark.sql.Column =
      map_from_entries(array_sort(collect_list(struct(col("key"), col("n")))))
    val v = Kpis.countByNormalized(videos, "sentiment").agg(
      sum(col("n")).as("total_videos"), asMap.as("video_sentiment_counts"))
    val c = Kpis.countByNormalized(comments, "sentiment").agg(
      sum(col("n")).as("total_comments"), asMap.as("comment_sentiment_counts"))
    v.crossJoin(c).select(lit(date).as("ingest_date"),
      col("total_videos"), col("total_comments"),
      col("video_sentiment_counts"), col("comment_sentiment_counts"),
      lit(at).as("generated_at_utc"))
  }

  test("kpiRecord equals the two-aggregate formula: seeded labels, empty sides, schema") {
    val labels = Seq("positive", "Positive", "NEGATIVE", "neutral", "Neutral",
      "mixed", null)
    val rnd = new scala.util.Random(20261020L)
    def side(n: Int): org.apache.spark.sql.DataFrame =
      Seq.fill(n)(labels(rnd.nextInt(labels.size))).toDF("sentiment")
        .repartition(3)
    val empty = Seq.empty[String].toDF("sentiment")
    val cases = Seq.tabulate(4)(_ => (side(1 + rnd.nextInt(60)),
      side(1 + rnd.nextInt(200)))) ++
      Seq((empty, side(17)), (side(9), empty), (empty, empty))
    cases.zipWithIndex.foreach { case ((v, c), i) =>
      val got = Kpis.kpiRecord(v, c, "sentiment", "sentiment", "2026-01-21", "t0")
      val want = twoAggregateKpi(v, c, "2026-01-21", "t0")
      assert(got.schema == want.schema, s"case $i schema: ${got.schema} vs ${want.schema}")
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(g.size == 1 && g == w, s"case $i: $g vs $w")
      // map entry order too: both maps are key-sorted
      def entries(df: org.apache.spark.sql.DataFrame) = df.select(
        map_entries(col("video_sentiment_counts")),
        map_entries(col("comment_sentiment_counts"))).collect().toSeq
      assert(entries(got) == entries(want), s"case $i map entry order")
    }
    // an empty side is a null total and an empty map
    val row = Kpis.kpiRecord(empty, empty, "sentiment", "sentiment", "d", "t").head
    assert(row.isNullAt(1) && row.isNullAt(2))
    assert(row.getMap[String, Long](3).isEmpty && row.getMap[String, Long](4).isEmpty)
  }
}

class CleanSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("trimNonEmpty drops null/blank text after trimming (silver_clean_comments.py:45-47)") {
    val df = Seq("  keep me  ", "", "   ", null).toDF("text")
    val got = Clean.trimNonEmpty(df, "text").as[String].collect().toSeq
    assert(got == Seq("keep me"))
  }

  test("trimNonEmpty strips what Python's str.strip() strips, not just U+0020") {
    val df = Seq("\t\n", "\r\n  \r\n", "\u3000", " x\t").toDF("text")
    assert(Clean.trimNonEmpty(df, "text").as[String].collect().toSeq == Seq("x"))
    // every str.isspace() character goes; U+200B (not isspace) stays
    val all = Clean.pyWhitespace
    assert(all.length == 29)
    val edge = Seq(all + "a b" + all, all, "\u200bz\u200b").toDF("text")
    assert(Clean.trimNonEmpty(edge, "text").as[String].collect().toSeq ==
      Seq("a b", "\u200bz\u200b"))
  }

  test("silverizeVideos: nested projection, safe casts, duration parse, unicode") {
    val bronze = spark.read.json(Seq(
      """{"id":"v1","snippet":{"title":"Тест 🎧 episode","publishedAt":"2026-01-20T10:00:00Z","channelTitle":"chan"},
         "statistics":{"viewCount":"1234","likeCount":"not_a_number","commentCount":null},
         "contentDetails":{"duration":"PT2H47M24S"}}""").toDS)
    val row = Clean.silverizeVideos(bronze).head
    assert(row.getAs[String]("video_id") == "v1")
    assert(row.getAs[String]("title") == "Тест 🎧 episode")
    assert(row.getAs[Long]("view_count") == 1234L)
    assert(row.isNullAt(row.fieldIndex("like_count")))    // safe_int null on failure
    assert(row.isNullAt(row.fieldIndex("comment_count")))
    assert(row.getAs[Long]("duration_seconds") == 2 * 3600 + 47 * 60 + 24)
  }

  test("silverizeComments: error-skip + trim filter + likes default 0") {
    val bronze = Seq(
      ("v1", "c1", "au", " text ok ", null.asInstanceOf[java.lang.Long], "2026-01-20T00:00:00Z", null.asInstanceOf[String]),
      ("v1", "c2", "au", "   ", 5L: java.lang.Long, "2026-01-20T00:00:00Z", null.asInstanceOf[String]),
      ("v1", "c3", "au", "boom", 7L: java.lang.Long, "2026-01-20T00:00:00Z", "quota_exceeded"))
      .toDF("videoId", "commentId", "author", "text", "likes", "publishedAt", "error")
    val got = Clean.silverizeComments(bronze).collect()
    assert(got.length == 1)
    assert(got.head.getAs[String]("commentId") == "c1")
    assert(got.head.getAs[Long]("likes") == 0L)
    assert(got.head.getAs[String]("text") == "text ok")
  }

  test("explodeEnvelope unwraps items arrays (final_kpis.py:33-34 shim)") {
    val env = spark.read.json(Seq(
      """{"ingest_date":"2026-01-21","rows":2,"items":[{"a":1},{"a":2}]}""").toDS)
    val got = Clean.explodeEnvelope(env).select("a").as[Long].collect().sorted
    assert(got.toSeq == Seq(1L, 2L))
  }

  test("wrapEnvelope round-trips through explodeEnvelope (function_app.py:75-80)") {
    val records = Seq(("v1", 5L), ("v2", 7L)).toDF("id", "n")
    val env = Clean.wrapEnvelope(records, Map("ingest_date" -> "2026-01-21"))
    val row = env.head
    assert(row.getAs[String]("ingest_date") == "2026-01-21")
    assert(row.getAs[Long]("count") == 2L)
    val back = Clean.explodeEnvelope(env).select("id", "n").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(back == Set(("v1", 5L), ("v2", 7L)))
  }
}

class MultimodalSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("withMediaMeta sniffs magic bytes and hashes payloads") {
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 0xE0.toByte, 1, 2)
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10)
    val df = Seq((1, jpeg), (2, png), (3, Array[Byte](1, 2, 3))).toDF("id", "payload")
    val got = Multimodal.withMediaMeta(df, "payload")
      .select("id", "media_format", "media_size_bytes").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1) == ("jpeg", 6L))
    assert(got(2) == ("png", 6L))
    assert(got(3) == ("unknown", 3L))
  }

  test("resizeImages: exact dims, solid fill survives bilinear, null-safe") {
    val base = Seq((1L, 32, 20, 0xCC3366), (2L, 3, 3, 0x112233))
      .toDF("id", "w", "h", "rgb")
    val encoded = Multimodal.encodeSolidPng(base, "id", "w", "h", "rgb")
    val resized = Multimodal.resizeImages(
      encoded.select(col("id"), col("payload")), "id", "payload", 8, 6)
    val got = resized.collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("resized")).toMap
    // both payloads (down- AND up-scaled) land at exactly 8x6 with
    // the solid color intact — bilinear over a constant field is
    // the constant
    for ((id, rgb) <- Seq(1L -> 0xCC3366, 2L -> 0x112233)) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(got(id)))
      assert(img.getWidth == 8 && img.getHeight == 6)
      assert((img.getRGB(0, 0) & 0xFFFFFF) == rgb &&
        (img.getRGB(7, 5) & 0xFFFFFF) == rgb, s"id $id color")
    }
    // corrupt and null payloads -> null output, never a throw
    val bad = Seq((3L, Array[Byte](1, 2, 3)),
      (4L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val rb = Multimodal.resizeImages(bad, "id", "payload", 8, 6)
      .collect().map(r => r.getLong(0) -> r.isNullAt(2)).toMap
    assert(rb == Map(3L -> true, 4L -> true))
    // guard: absurd targets refused at plan time
    intercept[IllegalArgumentException] {
      Multimodal.resizeImages(bad, "id", "payload", 0, 6)
    }
  }

  test("extractFeatures: deterministic stub features, fixed dim, null-safe") {
    val df = Seq((1, "abc".getBytes), (2, "abc".getBytes), (3, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload")
    val got = Multimodal.extractFeatures(df, "payload").collect()
      .map(r => r.getInt(0) -> Option(r.getSeq[Float](2))).toMap
    assert(got(1).get.length == 8)
    assert(got(1) == got(2))          // deterministic
    assert(got(3).isEmpty)            // null payload → null features
  }

  test("ImageIoDecoder: real JDK decode — dimensions and channel means; junk/null → null") {
    import java.awt.image.BufferedImage
    def img(w: Int, h: Int, rgb: Int, fmt: String): Array[Byte] = {
      val im = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => im.setRGB(x, y, rgb)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, bos)
      bos.toByteArray
    }
    val df = Seq(
      (1L, img(32, 16, 0xFF0000, "png")),  // solid red PNG (lossless)
      (2L, img(8, 8, 0x00FF00, "png")),    // solid green PNG
      (3L, img(20, 20, 0x0000FF, "jpg")),  // solid blue JPEG (lossy)
      (4L, "definitely not an image".getBytes("UTF-8")),
      (5L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val got = Multimodal.extractFeatures(df, "payload",
        decoder = new Multimodal.ImageIoDecoder, batchSize = 2)
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Float](2))).toMap
    val red = got(1L).get
    assert(red(0) == 32.0f && red(1) == 16.0f && red(2) == 2.0f)
    assert(red(3) == 1.0f && red(4) == 0.0f && red(5) == 0.0f)  // exact: PNG is lossless
    assert(math.abs(red(6) - 0.299f) < 1e-6)
    val green = got(2L).get
    assert(green(0) == 8.0f && green(4) == 1.0f && green(3) == 0.0f)
    val blue = got(3L).get                 // JPEG decode: near-solid blue
    assert(blue(0) == 20.0f && blue(1) == 20.0f)
    assert(blue(5) > 0.9f && blue(3) < 0.1f && blue(4) < 0.1f)
    assert(got(4L).isEmpty)                // undecodable → null, not a crash
    assert(got(5L).isEmpty)                // null payload → null
  }

  test("WavDecoder: real JDK decode — format, duration, and amplitude; junk/null → null") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    def wav(hz: Double, seconds: Double, amp: Double, rate: Float = 8000f): Array[Byte] = {
      val nFrames = (rate * seconds).toInt
      val pcm = new Array[Byte](nFrames * 2)
      (0 until nFrames).foreach { i =>
        val s = (math.sin(2 * math.Pi * hz * i / rate) * amp * 32767).toInt
        pcm(2 * i) = (s & 0xFF).toByte
        pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      }
      val fmt = new AudioFormat(rate, 16, 1, true, false)
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val df = Seq(
      (1L, wav(440, 1.0, 0.5)),   // 1 s of 440 Hz at half amplitude
      (2L, wav(100, 0.25, 1.0)),  // quarter second, full amplitude
      (3L, "not audio at all".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val got = Multimodal.extractFeatures(df, "payload",
        decoder = new Multimodal.WavDecoder, batchSize = 2)
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Float](2))).toMap
    val tone = got(1L).get
    assert(tone(0) == 8000.0f && tone(1) == 1.0f && tone(2) == 16.0f)
    assert(math.abs(tone(4) - 1000.0f) < 1.0f)            // ~1000 ms
    assert(math.abs(tone(5) - 0.5 / math.sqrt(2)) < 0.01) // sine rms = amp/√2
    assert(tone(6) > 0.49f && tone(6) <= 0.51f)           // peak ≈ amp
    val loud = got(2L).get
    assert(math.abs(loud(4) - 250.0f) < 1.0f && loud(6) > 0.95f)
    assert(got(3L).isEmpty)
    assert(got(4L).isEmpty)
  }

  test("interleave: merged order, text-before-image ties, per-doc sequence ids") {
    val texts = Seq((1L, 0L, "intro"), (1L, 2L, "middle"), (1L, 4L, "outro"),
      (2L, 0L, "solo")).toDF("d", "p", "txt")
    val media = Seq((1L, 1L, "sha-a"), (1L, 2L, "sha-b"), (3L, 0L, "sha-c"))
      .toDF("d", "p", "ref")
    val got = Multimodal.interleave(texts, "d", "p", "txt",
        media, "d", "p", "ref")
      .as[(Long, Long, String, String, String)].collect()
      .groupBy(_._1).map { case (d, xs) =>
        d -> xs.sortBy(_._2).map(r => (r._3, Option(r._4).getOrElse(r._5))).toSeq
      }
    // pos 2 ties: the text segment precedes the image
    assert(got(1L) == Seq(("text", "intro"), ("media", "sha-a"),
      ("text", "middle"), ("media", "sha-b"), ("text", "outro")))
    assert(got(2L) == Seq(("text", "solo")))
    assert(got(3L) == Seq(("media", "sha-c")))
    // seq ids are dense 0..n-1 per doc
    val ids = Multimodal.interleave(texts.repartition(5), "d", "p", "txt",
        media.repartition(3), "d", "p", "ref")
      .as[(Long, Long, String, String, String)].collect()
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sorted.toSeq }
    assert(ids(1L) == (0L until 5L) && ids(2L) == Seq(0L) && ids(3L) == Seq(0L))
  }

  test("audioEnergyWindows: gated bursts alternate exactly; junk contributes nothing") {
    // 1600 frames, gate = window = 400 → windows 0..3, even = burst
    val params = Seq((1L, 8000, 1600, 4096, 400), (2L, 8000, 1200, 8192, 400))
      .toDF("doc_id", "rate", "nframes", "amp", "gate")
    val wav = Multimodal.encodePcmWavGated(params, "rate", "nframes", "amp", "gate")
    val junk = Seq((9L, "not audio".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val got = Multimodal.audioEnergyWindows(
        wav.select(col("doc_id"), col("payload")).unionByName(junk),
        "doc_id", "payload", windowFrames = 400)
      .as[(Long, Int, Long, Long, Double, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got.keySet == Set((1L, 0), (1L, 1), (1L, 2), (1L, 3),
      (2L, 0), (2L, 1), (2L, 2)), s"windows: ${got.keySet}")
    assert(got((1L, 0)) == ((400L, 400L * 4096 * 4096, 0.125, true)))
    assert(got((1L, 1)) == ((400L, 0L, 0.0, false)))
    assert(got((1L, 2))._1 == 400L)
    assert(got((2L, 0)) == ((400L, 400L * 8192 * 8192, 0.25, true)))
    assert(got((2L, 2)) == ((400L, 400L * 8192 * 8192, 0.25, true)))
    // an UNALIGNED window size exercises the cross-buffer carry path
    // (399·2-byte samples stride the 8192-byte read boundary) and a
    // final partial window
    val odd = Multimodal.audioEnergyWindows(wav.filter(col("doc_id") === 1),
        "doc_id", "payload", windowFrames = 399)
      .as[(Long, Int, Long, Long, Double, Boolean)].collect().sortBy(_._2)
    assert(odd.map(_._3).sum == 1600L, "every sample lands in exactly one window")
    assert(odd.last._3 == 1600L % 399)
    assert(odd.map(_._4).sum == 800L * 4096 * 4096,
      "total energy is burst-half only, regardless of window alignment")
  }

  test("sampleFramePlan emits n frames per row with monotone offsets") {
    val df = Seq((1, "0123456789".getBytes)).toDF("id", "payload")
    val got = Multimodal.sampleFramePlan(df, "id", "payload", 4)
      .orderBy("frame_index").collect().map(r => r.getAs[Long]("byte_offset"))
    assert(got.length == 4 && got.toSeq == got.sorted.toSeq)
  }

  /** reference dHash of the pattern formula, computed without a codec */
  private def patternDHash(seed: Long, perturb: Long): Long = {
    def gray(x: Int, y: Int): Long =
      (seed * 31 + x.toLong * x * 7 + y.toLong * 13 + x.toLong * y * 3 +
        (if (x == 0 && y == 0) perturb else 0L)) % 256
    var bits = 0L
    for (y <- 0 until 8; x <- 0 until 8)
      if (gray(x + 1, y) > gray(x, y)) bits |= 1L << (y * 8 + x)
    bits
  }

  test("encodePatternPng → dHash: real codec round-trip equals the formula hash") {
    val df = Seq((7L, 0L), (8L, 0L), (7L, 128L)).toDF("seed", "perturb")
    val got = Multimodal.dHash(
        Multimodal.encodePatternPng(df, "seed", "perturb", width = 9, height = 8),
        "payload")
      .select("seed", "perturb", "dhash").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((7L, 0L)) == patternDHash(7, 0))
    assert(got((8L, 0L)) == patternDHash(8, 0))
    assert(got((7L, 128L)) == patternDHash(7, 128))
    assert(got((7L, 0L)) != got((8L, 0L)))  // the pattern discriminates seeds
    // a one-pixel perturbation moves at most one bit (only bit 0 sees (0,0))
    assert(java.lang.Long.bitCount(got((7L, 0L)) ^ got((7L, 128L))) <= 1)
  }

  test("dHash: resolution-independent grid; junk and null payloads → null") {
    // same solid color at two resolutions → identical (degenerate) hash
    def solid(w: Int, h: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => im.setRGB(x, y, 0x336699)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "png", bos)
      bos.toByteArray
    }
    val df = Seq((1L, solid(9, 8)), (2L, solid(90, 80)),
      (3L, "not an image".getBytes("UTF-8")),
      (4L, null.asInstanceOf[Array[Byte]])).toDF("id", "payload")
    val got = Multimodal.dHash(df, "payload").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got(1L) == Some(0L) && got(2L) == Some(0L))
    assert(got(3L).isEmpty && got(4L).isEmpty)
  }

  test("parseSrt: cues, CRLF, dot separator, multi-line text, malformed audit") {
    import spark.implicits._
    val good = "1\n00:00:01,500 --> 00:00:04,000\nHello there\nsecond line\n\n" +
      "2\n01:02:03.250 --> 01:02:05,000\nNext cue"
    val crlf = good.replace("\n", "\r\n")
    val bad = "1\n00:00:01,500 --> 00:00:04,000\nok\n\n" +
      "x\n00:00:05,000 --> 00:00:06,000\nbad cue number\n\n" +
      "3\n00:00:09,000 --> 00:00:08,000\nend before start"
    val df = Seq((1L, good), (2L, crlf), (3L, bad)).toDF("id", "srt")
    val got = Multimodal.parseSrt(df, "id", "srt")
      .as[(Long, Long, Option[Long], Option[Long], Option[Long],
        Option[Long], Option[String], Boolean)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    assert(got((1L, 0L)) == ((1L, 0L, Some(1L), Some(1500L), Some(4000L),
      Some(2500L), Some("Hello there\nsecond line"), true)))
    // dot millisecond separator, hour/minute fields exact
    assert(got((1L, 1L)) == ((1L, 1L, Some(2L), Some(3723250L),
      Some(3725000L), Some(1750L), Some("Next cue"), true)))
    // CRLF input parses identically
    assert(got((2L, 0L))._4 == Some(1500L) &&
      got((2L, 1L))._7 == Some("Next cue"))
    // malformed blocks are null audit rows; the good neighbor parses
    assert(got((3L, 0L))._8 && got((3L, 0L))._7 == Some("ok"))
    assert(!got((3L, 1L))._8 && got((3L, 1L))._3.isEmpty) // bad cue no
    assert(!got((3L, 2L))._8)                             // end < start
  }

  test("mulawToPcm: G.711 table anchors and JDK cross-check") {
    // published anchors: 0x00 -> -32124, 0x80 -> +32124, 0xFF/0x7F -> 0
    assert(Multimodal.mulawToPcm(0x00.toByte) == -32124)
    assert(Multimodal.mulawToPcm(0x80.toByte) == 32124)
    assert(Multimodal.mulawToPcm(0xFF.toByte) == 0)
    assert(Multimodal.mulawToPcm(0x7F.toByte) == 0)
    // cross-implementation: the JDK's own ULAW->PCM converter agrees
    // on every byte value
    val ulawFmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1,
      8000f, false)
    val pcmFmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1,
      2, 8000f, false)
    val raw = Array.tabulate[Byte](256)(_.toByte)
    val in = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw), ulawFmt, raw.length.toLong)
    val conv = javax.sound.sampled.AudioSystem
      .getAudioInputStream(pcmFmt, in)
    val outBytes = conv.readAllBytes()
    assert(outBytes.length == 512)
    (0 until 256).foreach { i =>
      val jdk = ((outBytes(2 * i) & 0xFF) |
        (outBytes(2 * i + 1) << 8)).toShort.toInt
      assert(jdk == Multimodal.mulawToPcm(i.toByte),
        s"byte $i: jdk $jdk vs formula ${Multimodal.mulawToPcm(i.toByte)}")
    }
  }

  test("mulawEnergy: census over the stub, non-mulaw WAV refused") {
    val base = Seq((5L, 8000, 40), (6L, 8000, 0))
      .toDF("doc_id", "rate", "nf")
    val built = Multimodal.encodeMulawWav(base, "rate", "nf", "doc_id")
    val got = Multimodal.mulawEnergy(built, "doc_id", "payload")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val expected = (0 until 40).map(k =>
      Multimodal.mulawToPcm(((5 * 7 + k * 13) % 256).toByte).toLong)
    val r5 = got(5L)
    assert(r5.getAs[Long]("ok") == 1L &&
      r5.getAs[Long]("sample_rate") == 8000L &&
      r5.getAs[Long]("n_samples") == 40L &&
      r5.getAs[Long]("sum_abs") == expected.map(math.abs).sum &&
      r5.getAs[Long]("sum_sq") == expected.map(p => p * p).sum &&
      r5.getAs[Long]("min_pcm") == expected.min &&
      r5.getAs[Long]("max_pcm") == expected.max)
    // zero-frame file: ok with empty census, null extrema
    val r6 = got(6L)
    assert(r6.getAs[Long]("ok") == 1L && r6.getAs[Long]("n_samples") == 0L
      && r6.isNullAt(r6.fieldIndex("min_pcm")))
    // a PCM (tag 1) WAV is NOT a µ-law payload: refused, ok = 0
    val pcm = Multimodal.encodePcmWav(
      Seq((8000, 10, 100)).toDF("rate", "nf", "amp"), "rate", "nf", "amp")
    val j = Multimodal.mulawEnergy(
      pcm.withColumn("doc_id", lit(9L)), "doc_id", "payload")
      .collect().head
    assert(j.getAs[Long]("ok") == 0L)
  }

  test("pcmEnergy: per-channel census over the multichannel stub, " +
    "malformation refused, zero frames (r16)") {
    val base = Seq((5L, 16000, 7, 3), (6L, 8000, 0, 2))
      .toDF("doc_id", "rate", "nf", "nc")
    val built = Multimodal.encodePcmWavMulti(base, "rate", "nf", "nc",
      "doc_id")
    val got = Multimodal.pcmEnergy(built, "doc_id", "payload")
      .collect().map(r => (r.getAs[Long]("id"),
        if (r.isNullAt(r.fieldIndex("channel"))) -1L
        else r.getAs[Long]("channel")) -> r).toMap
    // hand replay of the construction for doc 5, channel 1
    def pcm(seed: Long, k: Int, c: Int): Long =
      (seed * 7 + k * 13 + c * 31) % 65536L - 32768L
    for (c <- 0 until 3) {
      val xs = (0 until 7).map(k => pcm(5L, k, c))
      val r = got((5L, c.toLong))
      assert(r.getAs[Long]("ok") == 1L &&
        r.getAs[Long]("sample_rate") == 16000L &&
        r.getAs[Long]("n_channels") == 3L &&
        r.getAs[Long]("n_frames") == 7L &&
        r.getAs[Long]("sum_abs") == xs.map(math.abs).sum &&
        r.getAs[Long]("sum_sq") == xs.map(x => x * x).sum &&
        r.getAs[Long]("min_pcm") == xs.min &&
        r.getAs[Long]("max_pcm") == xs.max)
    }
    // zero frames: one row per channel, ok, 0 sums, null extrema
    for (c <- 0 until 2) {
      val r = got((6L, c.toLong))
      assert(r.getAs[Long]("ok") == 1L &&
        r.getAs[Long]("n_frames") == 0L &&
        r.isNullAt(r.fieldIndex("min_pcm")))
    }
    assert(got.size == 5)
    // a µ-law (tag 7) payload is NOT linear PCM: refused, ok = 0
    val ml = Multimodal.encodeMulawWav(
      Seq((7L, 8000, 10)).toDF("doc_id", "rate", "nf"), "rate", "nf",
      "doc_id")
    val j = Multimodal.pcmEnergy(ml, "doc_id", "payload").collect()
    assert(j.length == 1 && j.head.getAs[Long]("ok") == 0L)
    // truncated data chunk (not a block-align multiple): refused
    val torn = built.filter(col("doc_id") === 5L)
      .select(col("doc_id"), expr("substring(payload, 1, 57)")
        .as("payload")) // 44 header + 13 bytes: tears mid-frame
    val t = Multimodal.pcmEnergy(torn, "doc_id", "payload").collect()
    assert(t.length == 1 && t.head.getAs[Long]("ok") == 0L)
    // random garbage never throws: ok = 0 (strict-walk posture)
    val rnd = new scala.util.Random(42)
    val junk = (1L to 50L).map(i => (i,
      rnd.nextBytes(rnd.nextInt(200)))).toDF("doc_id", "payload")
    val g = Multimodal.pcmEnergy(junk, "doc_id", "payload").collect()
    assert(g.forall(_.getAs[Long]("ok") == 0L) && g.length == 50)
    // adversarial declared chunk length near Int.MaxValue: the Long
    // bounds check must refuse (a wrapped Int guard would accept and
    // throw out-of-bounds mid-decode — r16 review)
    val evil = java.nio.ByteBuffer.allocate(60)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evil.put("RIFF".getBytes("US-ASCII")).putInt(52)
      .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
      .putInt(16).putShort(1).putShort(1).putInt(8000).putInt(16000)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(2147483616)
    val ev = Multimodal.pcmEnergy(
      Seq((1L, evil.array())).toDF("doc_id", "payload"),
      "doc_id", "payload").collect()
    assert(ev.length == 1 && ev.head.getAs[Long]("ok") == 0L)
  }

  test("encodeAiff -> aiffEnergy: hand census through the 80-bit " +
    "extended rate, malformations refused, fuzz never throws (r17)") {
    def pcm(seed: Long, k: Long, c: Long) =
      (seed * 7 + k * 13 + c * 31) % 65536 - 32768
    // 11025 is not a power of two: the extended-float mantissa
    // normalization does real work
    val base = Seq((5L, 11025, 4, 2), (6L, 8000, 0, 1))
      .toDF("doc_id", "rate", "nf", "nc")
      .select(col("doc_id"), col("rate").cast("int").as("rate"),
        col("nf").cast("int").as("nf"), col("nc").cast("int").as("nc"))
    val built = Multimodal.encodeAiff(base, "rate", "nf", "nc", "doc_id")
    val got = Multimodal.aiffEnergy(built, "doc_id", "payload").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("channel")) -> r)
      .toMap
    for (c <- 0L until 2L) {
      val r = got((5L, c))
      val ps = (0L until 4L).map(k => pcm(5L, k, c))
      assert(r.getAs[Long]("ok") == 1L &&
        r.getAs[Long]("sample_rate") == 11025L &&
        r.getAs[Long]("n_channels") == 2L &&
        r.getAs[Long]("n_frames") == 4L)
      assert(r.getAs[Long]("sum_abs") == ps.map(math.abs).sum &&
        r.getAs[Long]("sum_sq") == ps.map(p => p * p).sum &&
        r.getAs[Long]("min_pcm") == ps.min &&
        r.getAs[Long]("max_pcm") == ps.max)
    }
    // zero frames: ok with zero sums and null extrema
    val z = got((6L, 0L))
    assert(z.getAs[Long]("ok") == 1L && z.getAs[Long]("n_frames") == 0L &&
      z.isNullAt(z.fieldIndex("min_pcm")))
    assert(got.size == 3)
    // malformations: single-field corruptions refuse with ok = 0
    val good = built.filter(col("doc_id") === 5L)
      .select(col("payload")).head.getAs[Array[Byte]](0)
    def patched(f: Array[Byte] => Unit): Array[Byte] = {
      val b = good.clone(); f(b); b
    }
    // layout: 12 FORM hdr | 8+18 COMM (ch@20, frames@22, bits@26,
    // ext rate@28..37) | SSND hdr@38 (off@46, blk@50) | data@54
    val cases = Seq[(String, Array[Byte])](
      "magic" -> patched(b => b(8) = 'X'.toByte),
      "bits8" -> patched { b => b(26) = 0; b(27) = 8 },
      "neg-rate-sign" -> patched(b =>
        b(28) = (b(28) | 0x80).toByte),
      "fractional-rate" -> patched(b => b(37) = 1.toByte),
      "denormal-mantissa" -> patched(b =>
        b(30) = (b(30) & 0x7f).toByte),
      "nonzero-blocksize" -> patched(b => b(53) = 4.toByte),
      "frame-count-lies" -> patched(b => b(25) = 9.toByte),
      "truncated" -> good.take(60))
    cases.foreach { case (name, bytes) =>
      val r = Multimodal.aiffEnergy(
        Seq((1L, bytes)).toDF("doc_id", "payload"),
        "doc_id", "payload").collect()
      assert(r.length == 1 && r.head.getAs[Long]("ok") == 0L, name)
    }
    // random garbage never throws (strict-walk family property)
    val rnd = new scala.util.Random(13)
    val junk = (1L to 60L).map(i => (i,
      rnd.nextBytes(rnd.nextInt(160)))).toDF("doc_id", "payload")
    val g = Multimodal.aiffEnergy(junk, "doc_id", "payload").collect()
    assert(g.forall(_.getAs[Long]("ok") == 0L) && g.length == 60)
  }

  test("encodeBmp24 -> bmpStats: hand sums, origin catches row order " +
    "and stride pad, top-down twin, malformations refused, fuzz " +
    "never throws (r17)") {
    def v(seed: Long, x: Long, y: Long, c: Long) =
      (seed * 31 + x * x * 7 + y * 13 + c * 17) % 256
    // w=3 forces a 3-byte stride pad (9 -> 12); the top-down twin
    // stores the SAME logical pixels in reversed row order
    val base = Seq((1L, 3, 2, false, 5L), (2L, 3, 2, true, 5L))
      .toDF("doc_id", "w", "h", "td", "seed")
    val built = Multimodal.encodeBmp24(base, "w", "h", "td", "seed")
    val lens = built.select(col("doc_id"),
        octet_length(col("payload")).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lens(1L) == 54 + 12 * 2 && lens(2L) == 54 + 12 * 2)
    val got = Multimodal.bmpStats(built, "doc_id", "payload").collect()
      .map(r => r.getAs[Long]("id") -> r).toMap
    def sumC(c: Long) = (for { x <- 0L until 3L; y <- 0L until 2L }
      yield v(5L, x, y, c)).sum
    Seq(1L, 2L).foreach { id =>
      val r = got(id)
      assert(r.getAs[Long]("ok") == 1L && r.getAs[Long]("width") == 3L &&
        r.getAs[Long]("height") == 2L && r.getAs[Long]("n_pixels") == 6L)
      assert(r.getAs[Long]("topdown") == (if (id == 2L) 1L else 0L))
      assert(r.getAs[Long]("sum_b") == sumC(0) &&
        r.getAs[Long]("sum_g") == sumC(1) &&
        r.getAs[Long]("sum_r") == sumC(2))
      // the position-sensitive lane: logical (0,0) regardless of the
      // stored row order
      assert(r.getAs[Long]("origin_b") == v(5L, 0, 0, 0) &&
        r.getAs[Long]("origin_g") == v(5L, 0, 0, 1) &&
        r.getAs[Long]("origin_r") == v(5L, 0, 0, 2))
    }
    // malformations: each single-field corruption of a valid file
    // refuses with ok = 0
    val good = built.filter(col("doc_id") === 1L)
      .select(col("payload")).head.getAs[Array[Byte]](0)
    def patched(f: Array[Byte] => Unit): Array[Byte] = {
      val b = good.clone(); f(b); b
    }
    val cases = Seq[(String, Array[Byte])](
      "magic" -> patched(b => b(0) = 'X'.toByte),
      "bpp32" -> patched(b => b(28) = 32.toByte),
      "compressed" -> patched(b => b(30) = 1.toByte),
      "planes" -> patched(b => b(26) = 2.toByte),
      "hdrsize" -> patched(b => b(14) = 56.toByte),
      "zero-width" -> patched { b =>
        b(18) = 0; b(19) = 0; b(20) = 0; b(21) = 0 },
      "hostile-pixoff" -> patched { b =>
        b(10) = -1; b(11) = -1; b(12) = -1; b(13) = 0x7f },
      "minvalue-height" -> patched { b =>
        b(22) = 0; b(23) = 0; b(24) = 0; b(25) = 0x80.toByte },
      "truncated" -> good.take(60))
    cases.foreach { case (name, bytes) =>
      val r = Multimodal.bmpStats(
        Seq((1L, bytes)).toDF("doc_id", "payload"),
        "doc_id", "payload").collect()
      assert(r.length == 1 && r.head.getAs[Long]("ok") == 0L, name)
    }
    // random garbage never throws (strict-walk family property)
    val rnd = new scala.util.Random(7)
    val junk = (1L to 60L).map(i => (i,
      rnd.nextBytes(rnd.nextInt(180)))).toDF("doc_id", "payload")
    val g = Multimodal.bmpStats(junk, "doc_id", "payload").collect()
    assert(g.forall(_.getAs[Long]("ok") == 0L) && g.length == 60)
  }
}
