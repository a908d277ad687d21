package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Pins [[Learn.logisticTrainInt]] against an independent in-memory
  * reference implementation of the same fixed-point contract, plus
  * behavioral checks: the learned gate separates a separable toy,
  * prediction is the training forward pass, and the fixed-point
  * arithmetic (sign-split division, hard sigmoid) matches hand
  * computation. */
class LearnSpec extends SparkTestBase {
  import spark.implicits._

  test("emd1d: identical -> 0, one-cell shift scales with distance, exact ratio") {
    def mk(vs: Seq[Long]) = vs.toDF("v")
    def emd(a: Seq[Long], b: Seq[Long]) =
      Learn.emd1d(mk(a), mk(b), "v", lo = 0L, rangeBits = 6, bits = 6)
        .select("emd_micro").collect().head.getLong(0)
    // identical samples
    assert(emd(Seq(1L, 5L, 9L), Seq(1L, 5L, 9L)) == 0L)
    // all mass shifted by 1 cell vs by 8 cells: EMD scales 8x
    assert(emd(Seq(10L, 10L), Seq(11L, 11L)) == 1000000L)
    assert(emd(Seq(10L, 10L), Seq(18L, 18L)) == 8000000L)
    // unequal sizes stay exact: {0,0} vs {0,1,1}: cdfA=(1,1...) cdfB=(1/3,1,..)
    // cell0: |2*3-1*2|=4 -> 4e6/6 = 666666
    assert(emd(Seq(0L, 0L), Seq(0L, 1L, 1L)) == 666666L)
  }

  test("didEstimate: parallel-trends algebra, missing cell nulls") {
    val rows = Seq(
      (1, 0, 10.0), (1, 0, 12.0),  // T pre mean 11000
      (1, 1, 20.0), (1, 1, 24.0),  // T post mean 22000
      (0, 0, 5.0), (0, 1, 8.0))    // C: 5000 -> 8000
      .toDF("tr", "po", "v")
    val got = Learn.didEstimate(rows, "tr", "po", "v").collect().head
    assert(got.getAs[Long]("did_milli") == (22000L - 11000L) - (8000L - 5000L))
    val missing = Learn.didEstimate(
      rows.filter(col("po") === 0), "tr", "po", "v").collect().head
    assert(missing.isNullAt(missing.fieldIndex("did_milli")))
  }

  test("kaplanMeier: textbook curve, censoring leaves risk set silently") {
    // 6 subjects: events at t=2 (1), t=4 (2); censored at t=3, 5, 5
    val rows = Seq((2L, 1L), (3L, 0L), (4L, 1L), (4L, 1L), (5L, 0L),
      (5L, 0L)).toDF("dur", "ev")
    val got = Learn.kaplanMeier(rows, "dur", "ev")
      .select("duration", "n_events", "n_at_risk", "survival_milli")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // t=2: n=6, d=1 -> 1000*5//6 = 833
    assert(got(2L) == ((1L, 6L, 833L)))
    // t=3: censored only -> curve flat at 833, risk drops to 5
    assert(got(3L) == ((0L, 5L, 833L)))
    // t=4: n=4, d=2 -> (833*2)//4 = 416
    assert(got(4L) == ((2L, 4L, 416L)))
    // t=5: censored only
    assert(got(5L) == ((0L, 2L, 416L)))
  }

  test("kaplanMeier: grid wider than maxGrid raises loudly in-plan") {
    val wide = Seq.tabulate(10)(i => (i.toLong, 1L)).toDF("dur", "ev")
    val ex = intercept[Exception] {
      Learn.kaplanMeier(wide, "dur", "ev", maxGrid = 4).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("maxGrid=4")),
      s"expected the loud grid guard, got: $ex")
    // at the limit itself the fold still runs
    assert(Learn.kaplanMeier(wide, "dur", "ev", maxGrid = 10).count() == 10L)
  }

  test("trendSlopes: exact slope, negative trend, degenerate key") {
    def ts(h: Int) = new java.sql.Timestamp(3600L * 1000 * h)
    val rows = Seq(
      // a: y = 2.0 + 1.0 per hour -> slope 1000 milli/h = 1000000 micro
      ("a", ts(0), 2.0), ("a", ts(1), 3.0), ("a", ts(2), 4.0),
      // b: y = 5.0 - 0.5/h -> slope -500000 micro
      ("b", ts(10), 5.0), ("b", ts(12), 4.0),
      // c: one point -> den 0 -> null slope
      ("c", ts(3), 9.0))
      .toDF("k", "ts", "v")
    val got = Learn.trendSlopes(rows, "k", "ts", "v")
      .select("k", "slope_micro", "mean_milli")
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(2))).toMap
    assert(got("a") == ((Some(1000000L), 3000L)))
    assert(got("b") == ((Some(-500000L), 4500L)))
    assert(got("c") == ((None, 9000L)))
  }

  test("ndcgAtK: perfect ranking, inversions, zero-rel null, top-k cutoff") {
    val rows = Seq(
      // q1: system ranks rel 3,2,1 by score desc -> perfect
      (1L, 10.0, 3L), (1L, 9.0, 2L), (1L, 8.0, 1L),
      // q2: worst order of 2,0
      (2L, 10.0, 0L), (2L, 9.0, 2L),
      // q3: all zero rel
      (3L, 10.0, 0L), (3L, 9.0, 0L))
      .toDF("q", "score", "rel")
    val got = Learn.ndcgAtK(rows, "q", "rel",
        Seq(col("score").desc), k = 10)
      .select("q", "dcg_micro", "idcg_micro", "ndcg_milli")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long])))
      .toMap
    // q1 perfect: dcg = idcg = 3*1000000 + 2*630929 + 1*500000
    val full = 3L * 1000000L + 2L * 630929L + 500000L
    assert(got(1L) == ((full, full, Some(1000L))))
    // q2: dcg = 2*630929; idcg = 2*1000000 -> 630
    assert(got(2L) == ((1261858L, 2000000L, Some(630L))))
    assert(got(3L) == ((0L, 0L, None)))
    // rank-11 docs contribute nothing
    val many = (1 to 12).map(i => (9L, 100.0 - i, 1L)).toDF("q", "score", "rel")
    val capped = Learn.ndcgAtK(many, "q", "rel", Seq(col("score").desc), 10)
      .select("dcg_micro").collect().head.getLong(0)
    assert(capped == Learn.ndcgAtK(many.filter(col("score") >= 90),
      "q", "rel",
      Seq(col("score").desc), 10).select("dcg_micro").collect().head.getLong(0))
  }

  test("conformal: rank-exact threshold, coverage, small-cal empty") {
    val cal = (1 to 19).map(i => i.toDouble / 10).toDF("score") // 0.1..1.9
    val test = Seq(0.05, 1.0, 1.75, 1.85, 5.0).toDF("score")
    // n=19, alpha=0.1: k = ceil(20*0.9) = 18 -> threshold 1.8 (1800)
    val got = Learn.conformal(cal, test, "score", alphaMilli = 100L)
      .select("n_cal", "k", "thr_milli", "n_test", "covered",
        "coverage_milli")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.toSeq == Seq((19L, 18L, 1800L, 5L, 3L, 600L)))
    // k > n: alpha tiny with 2 cal points -> ceil(3*0.999) = 3 > 2
    val tiny = Learn.conformal(Seq(1.0, 2.0).toDF("score"), test,
      "score", alphaMilli = 1L)
    assert(tiny.count() == 0)
  }

  test("hedgeWeights: per-step floors, round order, clamping, normalization") {
    val rewards = Seq(
      ("a", 1L, 1000L), ("a", 2L, 1000L),
      ("b", 1L, 0L), ("b", 2L, 500L),
      ("c", 1L, 5000L), // clamps to 1000
      ("d", 2L, 250L), ("d", 1L, 249L)) // order by round: 249 then 250
      .toDF("arm", "rnd", "x")
    val got = Learn.hedgeWeights(rewards, "arm", "rnd", "x", etaMilli = 200L)
      .select("arm", "w_final", "p_milli")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // a: 1000 -> 1200 -> (1200*1200)//1000 = 1440
    assert(got("a")._1 == 1440L)
    // b: 1000 -> *1000//1000 = 1000 -> (1000*1100)//1000 = 1100
    assert(got("b")._1 == 1100L)
    // c: one clamped round: 1200
    assert(got("c")._1 == 1200L)
    // d: floor((200*249)/1000) = 49 -> 1049; then +50 -> (1049*1050)//1000 = 1101
    assert(got("d")._1 == 1101L)
    val tot = 1440L + 1100L + 1200L + 1101L
    assert(got("a")._2 == 1000L * 1440L / tot)
    assert(got.values.map(_._2).sum <= 1000L) // floors never over-allocate
  }

  // reference trainer: same contract, plain Scala. Feature ids and
  // labels are optional so null rows can be fed; N counts every label
  // row, and each label row (duplicates included) trains once.
  private def refTrain(feats: Seq[(Long, Option[Long])],
      labels: Seq[(Long, Option[Long])], dim: Int, iters: Int,
      lrNum: Long = 1L, lrDen: Long = 4L): Map[Long, Long] = {
    def sdiv(a: Long, b: Long): Long = if (a >= 0) a / b else -((-a) / b)
    val n = labels.size.toLong
    val byEx = feats.collect { case (ex, Some(f)) => ex -> f }.distinct
      .groupMap(_._1)(_._2)
    var w = Map.empty[Long, Long].withDefaultValue(0L)
    (1 to iters).foreach { _ =>
      val errs = labels.collect { case (ex, Some(y)) if byEx.contains(ex) =>
        val s = byEx(ex).map(w).sum
        val p = math.max(0L, math.min(1000L, 500L + sdiv(s, 4L)))
        ex -> (p - 1000L * y)
      }
      val grad = errs.flatMap { case (ex, e) => byEx(ex).map(_ -> e) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      w = (0L until dim.toLong).map { f =>
        f -> (w(f) - grad.get(f).map(g =>
          sdiv(g * lrNum, n * lrDen)).getOrElse(0L))
      }.toMap.withDefaultValue(0L)
    }
    w
  }

  private def train(feats: Seq[(Long, Option[Long])],
      labels: Seq[(Long, Option[Long])], dim: Int,
      iters: Int): Map[Long, Long] =
    Learn.logisticTrainInt(feats.toDF("ex_id", "feature_id"),
        labels.toDF("ex_id", "y"), dim, iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("logisticTrainInt: matches the independent reference on a random fixture") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    val feats = (0L until 30L).flatMap { ex =>
      (0 until 1 + rnd.nextInt(5)).map(_ =>
        ex -> Option(rnd.nextInt(dim).toLong))
    }
    val labels = (0L until 30L).map(ex => ex -> Option(ex % 2))
    val dupLabels = labels ++ labels.take(7)
    val nullY = labels.map { case (ex, y) => ex -> y.filter(_ => ex % 5 != 0) }
    val cases = Seq(
      "as drawn" -> ((feats, labels)),
      "duplicate (ex, feature) rows" -> ((feats ++ feats.take(10), labels)),
      "duplicate label rows" -> ((feats, dupLabels)),
      "null y" -> ((feats, nullY)),
      "null and out-of-range feature_id" -> ((feats ++ Seq(
        1L -> None, 2L -> Some(dim.toLong), 3L -> Some(-1L),
        4L -> Some(dim + 40L)), labels)),
      "an example whose features are all out of range" -> ((feats ++ Seq(
        40L -> Some(dim.toLong), 40L -> Some(-3L), 40L -> None),
        labels :+ (40L -> Option(1L)))))
    cases.foreach { case (name, (fs, ls)) =>
      assert(train(fs, ls, dim, 5) == refTrain(fs, ls, dim, 5), name)
    }
    // rows that change the model on this fixture: a label row counted
    // once, or a null-y row left out of N, would train otherwise
    assert(refTrain(feats, dupLabels, dim, 5) !=
      refTrain(feats, dupLabels.distinct, dim, 5))
    assert(refTrain(feats, nullY, dim, 5) !=
      refTrain(feats, nullY.filter(_._2.isDefined), dim, 5))
  }

  test("logisticTrainInt: learns a separable toy; predict is the forward pass") {
    // positive docs say 'good', negative docs say 'bad'
    val docs = (0L until 40L).map { i =>
      (i, if (i % 2 == 0) "good stuff here" else "bad noise there")
    }.toDF("ex_id", "text")
    val dim = 32
    val f = Learn.hashedFeatures(docs, "ex_id", "text", dim)
    val l = (0L until 40L).map(i => (i, 1L - (i % 2))).toDF("ex_id", "y")
    val w = Learn.logisticTrainInt(f, l, dim, iterations = 20)
    val p = Learn.logisticPredictInt(f, w)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val pos = (0L until 40L by 2).map(p).toSet
    val neg = (1L until 40L by 2).map(p).toSet
    assert(pos.size == 1 && neg.size == 1,
      "identical examples must score identically")
    assert(pos.head > 500L && neg.head < 500L,
      s"separable toy must separate: pos=${pos.head} neg=${neg.head}")
  }

  test("logisticTrainInt: labeled example with no features is inert; unlabeled ignored") {
    val f = Seq((1L, 0L), (2L, 1L), (99L, 2L)).toDF("ex_id", "feature_id")
    val l = Seq((1L, 1L), (2L, 0L), (3L, 1L)).toDF("ex_id", "y") // 3: no feats
    val model = Learn.logisticTrainInt(f, l, dim = 4, iterations = 1)
    assert(model.schema == StructType(Seq(
      StructField("feature_id", LongType, nullable = false),
      StructField("weight", LongType, nullable = false))))
    val w = model.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // N = 3; err(1) = 500-1000 = -500 -> g(f0) = -500, upd = -(500//12) = -41
    assert(w(0L) == 41L)
    assert(w(1L) == -41L) // err(2) = +500
    assert(w(2L) == 0L)   // ex 99 unlabeled: its feature untouched
    assert(w(3L) == 0L)
  }

  test("logisticTrainInt: guards fail loudly") {
    val f = Seq((1L, 0L)).toDF("ex_id", "feature_id")
    val l = Seq((1L, 1L)).toDF("ex_id", "y")
    intercept[IllegalArgumentException] {
      Learn.logisticTrainInt(f, l, dim = 0, iterations = 1)
    }
    intercept[IllegalArgumentException] {
      Learn.logisticTrainInt(f, l, dim = 4, iterations = 0)
    }
    intercept[IllegalArgumentException] {
      Learn.logisticTrainInt(f, l.filter(col("y") < 0), dim = 4, iterations = 1)
    }
    // the model is a driver-side array broadcast every iteration
    val big = intercept[IllegalArgumentException] {
      Learn.logisticTrainInt(f, l, dim = (1 << 24) + 1, iterations = 1)
    }
    assert(big.getMessage.contains("dim must be at most 16777216"),
      big.getMessage)
  }

  test("learn-the-gate e2e: train on half the corpus, exact-evaluate on the rest") {
    // lexically separable quality classes with per-doc variation
    val docs = (0L until 200L).map { i =>
      val noise = s"tok${i % 17} tok${(i * 7) % 23}"
      if (i % 2 == 0)
        (i, s"a clear and useful article about topic${i % 5} $noise")
      else
        (i, s"buy cheap pills now click here win prize $noise")
    }.toDF("doc_id", "text")
    val labels = (0L until 200L).map(i => (i, if (i % 2 == 0) 1L else 0L))
      .toDF("ex_id", "y")
    val feats = Learn.hashedFeatures(docs, "doc_id", "text", dim = 128)
    // split by id arithmetic: ids 0,1 (mod 4) train; 2,3 (mod 4) held out
    val w = Learn.logisticTrainInt(
      feats.filter(col("ex_id") % 4 < 2),
      labels.filter(col("ex_id") % 4 < 2), dim = 128, iterations = 40)
    // held-out scoring + EXACT evaluation: the signal words are
    // disjoint across classes, so the learned gate must rank every
    // held-out prose doc above every held-out spam doc
    val scored = Learn.logisticPredictInt(
        feats.filter(col("ex_id") % 4 >= 2), w)
      .join(labels, Seq("ex_id"))
      .select(col("logit_milli").as("s"), col("y"))
    val auc = Learn.aucExact(scored, "s", "y")
      .select(col("auc")).as[Double].head()
    assert(auc == 1.0, s"separable classes must rank perfectly, got $auc")
    // and the sweep exposes a perfect operating point: some threshold
    // with zero false positives and zero false negatives
    val perfect = Learn.thresholdSweep(scored, "s", "y")
      .filter(col("fp") === 0 && col("fn") === 0)
    assert(!perfect.isEmpty, "no perfect threshold despite AUC 1.0")
  }

  // brute-force AUC over all P·N pairs: 2 per concordant, 1 per tie
  private def refAuc(rows: Seq[(Long, Long)]): (Long, Long) = {
    val pos = rows.filter(_._2 == 1L).map(_._1)
    val neg = rows.filter(_._2 == 0L).map(_._1)
    val num2 = (for (p <- pos; n <- neg) yield {
      if (p > n) 2L else if (p == n) 1L else 0L
    }).sum
    (num2, 2L * pos.size * neg.size)
  }

  test("aucExact: matches all-pairs brute force, with ties and under repartition") {
    val rnd = new scala.util.Random(11)
    // scores drawn from a SMALL range so ties are guaranteed
    val rows = Seq.tabulate(300)(i =>
      (rnd.nextInt(20).toLong, if (rnd.nextInt(3) == 0) 1L else 0L))
    val df = rows.toDF("s", "y")
    val got = Learn.aucExact(df, "s", "y")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    val (num2, den2) = refAuc(rows)
    assert(got.length == 1)
    assert(got.head._3 == num2 && got.head._4 == den2,
      s"exact rational mismatch: ${got.head} vs ($num2, $den2)")
    assert(got.head._5 == 1000000L * num2 / den2, "auc_micro lane")
    assert(got.head._6 == num2.toDouble / den2)
    val re = Learn.aucExact(df.repartition(13), "s", "y")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(re.head == got.head, "partitioning leaked into the AUC")
    // perfect separation → 1.0; inverted → 0.0; all-tied → 0.5
    val perfect = Seq((5L, 1L), (6L, 1L), (1L, 0L), (2L, 0L)).toDF("s", "y")
    assert(Learn.aucExact(perfect, "s", "y")
      .select(col("auc")).as[Double].head() == 1.0)
    val tied = Seq((3L, 1L), (3L, 0L), (3L, 1L)).toDF("s", "y")
    assert(Learn.aucExact(tied, "s", "y")
      .select(col("auc")).as[Double].head() == 0.5)
  }

  test("thresholdSweep: every operating point matches the brute-force confusion") {
    val rnd = new scala.util.Random(23)
    val rows = Seq.tabulate(200)(i =>
      (rnd.nextInt(15).toLong, if (rnd.nextInt(2) == 0) 1L else 0L))
    val df = rows.toDF("s", "y")
    val got = Learn.thresholdSweep(df, "s", "y")
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    val thresholds = rows.map(_._1).distinct
    assert(got.keySet == thresholds.toSet, "one row per distinct score")
    thresholds.foreach { t =>
      val tp = rows.count(r => r._1 >= t && r._2 == 1L).toLong
      val fp = rows.count(r => r._1 >= t && r._2 == 0L).toLong
      val tn = rows.count(r => r._1 < t && r._2 == 0L).toLong
      val fn = rows.count(r => r._1 < t && r._2 == 1L).toLong
      val (_, gtp, gfp, gtn, gfn, prec, rec) = got(t)
      assert((gtp, gfp, gtn, gfn) == ((tp, fp, tn, fn)), s"t=$t")
      assert(prec == tp.toDouble / (tp + fp), s"precision t=$t")
      assert(rec == tp.toDouble / math.max(tp + fn, 1L), s"recall t=$t")
    }
  }

  test("binaryScoreCurve: exclusive running totals cross partition boundaries") {
    // 40 distinct scores forced through a tiny range partitioning so
    // the offset join is exercised, not just the within-partition window
    val rows = (0L until 40L).flatMap(s =>
      Seq.fill(((s % 3) + 1).toInt)((s, (s % 2))))
    val df = rows.toDF("s", "y").repartition(11)
    val got = Learn.binaryScoreCurve(df, "s", "y")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    var cp = 0L; var cn = 0L
    got.foreach { case (s, np, nn, cpb, cnb) =>
      assert(cpb == cp && cnb == cn, s"score=$s")
      cp += np; cn += nn
    }
    assert(got.map(_._1).toSeq == (0L until 40L),
      "every distinct score appears exactly once, in order")
  }

  test("naiveBayes: exact sufficient statistics; hand-computed log-scores; ties") {
    import spark.implicits._
    val train = Seq(
      (1L, "buy pills now", "spam"), (2L, "buy now", "spam"),
      (3L, "meeting at noon", "ham"), (4L, "lunch meeting", "ham"),
      (5L, "unlabeled text", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "y")
    val model = Learn.naiveBayesTrain(train, "text", "y")
    val m = model.as[(String, String, Long, Long, Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    // vocab: buy pills now meeting at noon lunch = 7; null label excluded
    assert(m(("buy", "spam")) == (("buy", "spam", 2L, 5L, 2L, 4L, 7L)))
    assert(m(("meeting", "ham")) == (("meeting", "ham", 2L, 5L, 2L, 4L, 7L)))
    assert(!m.contains(("unlabeled", "spam")) && !m.contains(("text", "ham")))
    assert(m.size == 7) // 3 spam-observed + 4 ham-observed pairs
    val test = Seq((10L, "buy pills zzz"), (11L, "meeting noon"),
      (12L, "")).toDF("doc_id", "text")
    val pred = Learn.naiveBayesPredict(model, test, "doc_id", "text")
      .as[(Long, String, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // hand-computed: spam score for doc 10 =
    // ln(2/4) + ln(3/12) + ln(2/12) + ln(1/12)   (zzz unseen → n_tc=0)
    val s10 = math.log(0.5) + math.log(3.0 / 12) + math.log(2.0 / 12) +
      math.log(1.0 / 12)
    assert(pred(10L)._1 == "spam" && math.abs(pred(10L)._2 - s10) < 1e-12)
    assert(pred(11L)._1 == "ham")
    // empty doc: equal priors → deterministic smallest-label tie-break
    assert(pred(12L)._1 == "ham" &&
      math.abs(pred(12L)._2 - math.log(0.5)) < 1e-12)
  }

  test("driftChi2: hand-computed cells, one-sided categories, empty side") {
    import spark.implicits._
    val a = Seq("x", "x", "x", "y").toDF("c")
    val b = Seq("x", "y", "y", "y", "z", "z").toDF("c")
    val got = Learn.driftChi2(a, b, "c")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // N=10, Na=4, Nb=6; x: t=4, num=10·3−4·4=14, n2=196,
    // dena=160, denb=240 → 1225000 + 816666
    assert(got("x") == (("x", 3L, 1L, 14L, 2041666L)))
    // y: num=10·1−16=−6, n2=36 → 225000 + 150000
    assert(got("y") == (("y", 1L, 3L, -6L, 375000L)))
    // z absent from A: num=10·0−4·2=−8, n2=64, dena=80, denb=120
    assert(got("z") == (("z", 0L, 2L, -8L, 800000L + 533333L)))
    // true chi2 within a micro of the exact floors' sum
    val micro = got.values.map(_._5).sum
    val expected = // Σ (o−e)²/e over all six cells
      math.pow(3 - 1.6, 2) / 1.6 + math.pow(1 - 2.4, 2) / 2.4 +
        math.pow(1 - 1.6, 2) / 1.6 + math.pow(3 - 2.4, 2) / 2.4 +
        math.pow(0 - 0.8, 2) / 0.8 + math.pow(2 - 1.2, 2) / 1.2
    assert(math.abs(micro / 1e6 - expected) < 6e-6)
    // an empty snapshot contributes zero, never a division error
    val oneSided = Learn.driftChi2(a, b.filter(col("c") === "nope"), "c")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(oneSided.forall(r => r._3 == 0L && r._5 == 0L))
  }

  test("voteLabels: majority, smallest-label ties, exact agreement") {
    import spark.implicits._
    val votes = Seq(
      (1L, "b"), (1L, "a"), (1L, "a"), (1L, "b"),     // tie → 'a'
      (2L, "c"), (2L, "c"), (2L, "c"),                 // unanimous
      (3L, "x"), (3L, "y"), (3L, "y")).toDF("item", "label")
    val got = Learn.voteLabels(votes, "item", "label")
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "a", 2L, 4L, 2L, 500L)))
    assert(got(2L) == ((2L, "c", 3L, 3L, 1L, 1000L)))
    assert(got(3L) == ((3L, "y", 2L, 3L, 2L, 666L)))
  }

  test("targetEncode: leave-one-out, smoothing toward prior, singleton = prior") {
    import spark.implicits._
    // global: n=6, s=3 → prior 1/2. m=2.
    val rows = Seq((1L, "a", 1L), (2L, "a", 0L), (3L, "a", 1L),
      (4L, "b", 0L), (5L, "b", 1L), (6L, "c", 0L)).toDF("id", "cat", "y")
    val got = Learn.targetEncode(rows, "cat", "y", smoothing = 2L)
      .select("id", "n_cat", "enc_micro")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // row 1 (a, y=1): (s_c−y + m·p)/(n_c−1+m) = (1 + 1)/(4) = 1/2
    assert(got(1L) == ((1L, 3L, 500000L)))
    // row 2 (a, y=0): (2 + 1)/4 = 3/4
    assert(got(2L) == ((2L, 3L, 750000L)))
    // row 6 (c singleton): prior exactly = 1/2
    assert(got(6L) == ((6L, 1L, 500000L)))
    // LOO: the row's own label never leaks — flipping it changes
    // every OTHER a-row's encoding but not the relationship
    val flipped = rows.withColumn("y",
      when(col("id") === 1L, 0L).otherwise(col("y")))
    val f = Learn.targetEncode(flipped, "cat", "y", 2L)
      .select("id", "enc_micro").as[(Long, Long)].collect().toMap
    // row 1 now: s_a=1, s_all=2 → (1·6 + 2·2)·10⁶ // (4·6) = 416666
    assert(f(1L) == 416666L)
  }

  test("termChi2: hand-computed 2×2 floors, presence dedup, tie order, minDf") {
    import spark.implicits._
    val docs = Seq((1L, "cat dog", "en"), (2L, "cat cat", "en"),
      (3L, "chien", "fr"), (4L, "cat chien", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = Learn.termChi2(docs, "doc_id", "text", "lang")
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    // (chien, fr): perfect association [[2,0],[0,2]] → χ² = N = 4
    assert(got(("fr", "chien")) ==
      (("fr", "chien", 2L, 0L, 0L, 2L, 4000000L, 1L)))
    // (dog, en): [[1,0],[1,2]] → 4/3, staged floors 2·5e5 + 2·166666;
    // "cat cat" counts once (presence) so (cat, en) is [[2,1],[0,1]]
    assert(got(("en", "dog"))._7 == 1333332L)
    assert(got(("en", "cat")) ==
      (("en", "cat", 2L, 1L, 0L, 1L, 1333332L, 1L))) // tie → term asc
    assert(got(("en", "dog"))._8 == 2L)
    assert(got(("fr", "cat"))._8 == 2L)
    assert(got.size == 4)
    // minDf prunes the hapax
    val pruned = Learn.termChi2(docs, "doc_id", "text", "lang", minDf = 2L)
    assert(!pruned.select("term").as[String].collect().contains("dog"))
  }

  test("passAtK: telescoped binomial, short-circuits, undefined lane") {
    import spark.implicits._
    // task A: n=10, c=2 → pass@3 = 1 − C(8,3)/C(10,3) = 8/15;
    // milli = 1000 − (8·7·6·1000)//(10·9·8) = 534
    val a = (1 to 10).map(i => ("A", i <= 2))
    val b = (1 to 6).map(i => ("B", i <= 3))  // n−c = 3 < 5... with k=3: n−c=3 ≥ 3
    val d = (1 to 2).map(i => ("D", false))   // n=2 < k → null
    val e = (1 to 8).map(i => ("E", i <= 6))  // n−c=2 < 3 → 1000
    val got = Learn.passAtK((a ++ b ++ d ++ e).toDF("task", "ok"),
        "task", "ok", k = 3)
      .as[(String, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(got("A") == (("A", 10L, 2L, Some(534L))))
    // B: 1 − C(3,3)/C(6,3) = 1 − 1/20 → 1000 − 1000·(3·2·1)//(6·5·4)
    //   = 1000 − 50 = 950
    assert(got("B") == (("B", 6L, 3L, Some(950L))))
    assert(got("D") == (("D", 2L, 0L, None)))
    assert(got("E") == (("E", 8L, 6L, Some(1000L))))
    // c = 0 → pass@k = 0 exactly
    val z = Learn.passAtK(
        (1 to 5).map(_ => ("Z", false)).toDF("task", "ok"),
        "task", "ok", k = 3)
      .as[(String, Long, Long, Option[Long])].head()
    assert(z == (("Z", 5L, 0L, Some(0L))))
  }

  test("calibrationError: hand bins, exact gaps, cleared-denominator ECE") {
    import spark.implicits._
    val scored = Seq((true, 900L), (false, 900L), (true, 100L),
      (false, 100L), (false, 100L)).toDF("y", "s")
    val got = Learn.calibrationError(scored, "y", "s", bins = 2)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // bin 0: n=3, c=1, s=300 → acc 333, conf 100, gap |1000−300|=700
    assert(got(0L) == ((0L, 3L, 1L, 300L, 333L, 100L, 700L, 300000L)))
    // bin 1: n=2, c=1, s=1800 → acc 500, conf 900, gap 800;
    // ECE = (700+800)·1000 // 5 = 300000 micro = 0.3 exactly
    assert(got(1L) == ((1L, 2L, 1L, 1800L, 500L, 900L, 800L, 300000L)))
    // score 1000 lands in the TOP bin, not out of range
    val edge = Learn.calibrationError(
        Seq((true, 1000L)).toDF("y", "s"), "y", "s", bins = 10)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].head()
    assert(edge._1 == 9L && edge._8 == 0L)
  }

  test("fleissKappa: hand-computed chain, single-vote exclusion, degenerate") {
    import spark.implicits._
    // item A {x,x,y}: pairs=2, P=2/6 → 333333; item B {x,x}: P=1 →
    // 1000000; item C {z} excluded (no pairs). po = floor avg =
    // 666666. Pooled (A,B only): T_x=4, T_y=1, N=5 → pe =
    // 17e6//25 = 680000. kappa = 1e6·(−13334)//320000 → −41668.
    val votes = Seq(("A", "x"), ("A", "x"), ("A", "y"),
      ("B", "x"), ("B", "x"), ("C", "z")).toDF("item", "label")
    val got = Learn.fleissKappa(votes, "item", "label")
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .head()
    assert(got == ((2L, 5L, 2L, Some(666666L), Some(680000L),
      Some(-41668L))))
    // all-agree corpus: po = 1, pe < 1, kappa = 1 exactly
    val perfect = Seq(("A", "x"), ("A", "x"), ("B", "y"), ("B", "y"))
      .toDF("item", "label")
    val p = Learn.fleissKappa(perfect, "item", "label")
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .head()
    assert(p._4 == Some(1000000L) && p._5 == Some(500000L) &&
      p._6 == Some(1000000L))
    // one label everywhere: pe = 1 → kappa undefined (null)
    val mono = Seq(("A", "k"), ("A", "k"), ("B", "k"), ("B", "k"))
      .toDF("item", "label")
    val m = Learn.fleissKappa(mono, "item", "label")
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .head()
    assert(m._4 == Some(1000000L) && m._5 == Some(1000000L) &&
      m._6.isEmpty)
    // nothing but single votes: empty po lane, zeroed pe lane
    val singles = Seq(("A", "x"), ("B", "y")).toDF("item", "label")
    val s0 = Learn.fleissKappa(singles, "item", "label")
      .as[(Long, Long, Long, Option[Long], Option[Long], Option[Long])]
      .head()
    assert(s0 == ((0L, 0L, 0L, None, None, None)))
  }

  test("cohenKappa: textbook table, perfect disagreement, degenerate pe=1") {
    import spark.implicits._
    // the classic 50-item table: 20 yes-yes, 15 no-no, 10 A-yes/B-no,
    // 5 A-no/B-yes → po=0.7, pe=0.5, κ=0.4
    val items = (0 until 50).map(_.toLong)
    def lab(i: Long, yes: Boolean) = (i, if (yes) "yes" else "no")
    val a = items.map(i => lab(i, i < 30)).toDF("item", "l")
    val b = items.map(i => lab(i, i < 20 || (i >= 30 && i < 35)))
      .toDF("item", "l")
    val got = Learn.cohenKappa(a, b, "item", "l")
      .as[(Long, Long, Long, Long, Option[Long])].head()
    assert(got == ((50L, 35L, 700000L, 500000L, Some(400000L))))
    // perfect disagreement on a symmetric table → κ = −1 exactly
    val pa = Seq((1L, "yes"), (2L, "no")).toDF("item", "l")
    val pb = Seq((1L, "no"), (2L, "yes")).toDF("item", "l")
    val neg = Learn.cohenKappa(pa, pb, "item", "l")
      .as[(Long, Long, Long, Long, Option[Long])].head()
    assert(neg == ((2L, 0L, 0L, 500000L, Some(-1000000L))))
    // both annotators constant and identical: pe=1 → κ undefined (null)
    val ca = Seq((1L, "k"), (2L, "k")).toDF("item", "l")
    val deg = Learn.cohenKappa(ca, ca, "item", "l")
      .as[(Long, Long, Long, Long, Option[Long])].head()
    assert(deg == ((2L, 2L, 1000000L, 1000000L, None)))
  }

  test("stump: candidates hand-checked, training finds the separating split, predict is exact") {
    // y = 1 iff x >= 5; z is a useless constant feature
    val df = (1L to 10L).map(x => (if (x >= 5) 1L else 0L, x, 7L))
      .toDF("y", "x", "z")
    val cand = Learn.stumpCandidates(df, "y", Seq("x", "z"))
      .select("feature", "threshold", "n0_left", "n1_left", "n0_right",
        "n1_right", "score_micro")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    // z has one distinct value -> right side empty -> no candidate
    assert(!cand.exists(_._1 == "z"))
    // x <= 4: left pure 4/0, right pure 0/6 -> 1e6·16/4 + 1e6·36/6
    val at4 = cand.find(c => c._1 == "x" && c._2 == 4L).get
    assert(at4 == (("x", 4L, 4L, 0L, 0L, 6L, 4000000L + 6000000L)))
    // x = 10 (the max) is excluded; thresholds 1..9 remain
    assert(cand.filter(_._1 == "x").map(_._2).sorted.toSeq == (1L to 9L))
    val model = Learn.trainStump(df, "y", Seq("x", "z"))
    val m = model.select("feature", "threshold", "left_class", "right_class")
      .as[(String, Long, Long, Long)].head()
    assert(m == (("x", 4L, 0L, 1L)))
    val pred = Learn.stumpPredict(df, "y", Seq("x", "z"), model)
      .select("tp", "fp", "tn", "fn", "accuracy_milli")
      .as[(Long, Long, Long, Long, Long)].head()
    assert(pred == ((6L, 0L, 4L, 0L, 1000L)))
  }

  test("trainTree2: root + per-side stumps on their partitions, deterministic ties") {
    // y = 1 iff x<=4 AND z<=4 on the 8x8 grid: root ties x/z at
    // threshold 4 (feature asc -> x), left child separates on z,
    // right child is pure (tie -> smallest feature/threshold)
    val df = (for { x <- 1L to 8L; z <- 1L to 8L }
      yield (if (x <= 4 && z <= 4) 1L else 0L, x, z)).toDF("y", "x", "z")
    val got = Learn.trainTree2(df, "y", Seq("x", "z"))
      .select("node", "feature", "threshold", "n0_left", "n1_left",
        "n0_right", "n1_right", "left_class", "right_class")
      .as[(String, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("root") == (("root", "x", 4L, 16L, 16L, 32L, 0L, 0L, 0L)))
    assert(got("left") == (("left", "z", 4L, 0L, 16L, 16L, 0L, 1L, 0L)))
    assert(got("right") == (("right", "x", 5L, 8L, 0L, 24L, 0L, 0L, 0L)))
  }

  test("trainTree2: a side with no admissible split emits no row") {
    // left partition (x<=1) has ONE distinct value on every feature
    val df = Seq((1L, 1L, 9L), (0L, 5L, 9L), (0L, 6L, 9L), (0L, 7L, 9L))
      .toDF("y", "x", "z")
    val nodes = Learn.trainTree2(df, "y", Seq("x", "z"))
      .select("node").as[String].collect().toSet
    assert(nodes.contains("root") && !nodes.contains("left"))
  }

  test("rrfFuse: integer fold, partial source, tie breaks doc asc, topK") {
    val rankings = Seq(
      (1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3), // source A
      (1L, 20L, 1), (1L, 10L, 2))               // source B (partial)
      .toDF("q", "doc", "rank")
    val got = Learn.rrfFuse(rankings, "q", "doc", "rank", k = 0, topK = 2)
      .select("doc", "n_sources", "rrf_micro", "fused_rank")
      .as[(Long, Long, Long, Int)].collect().sortBy(_._4)
    // both 10 and 20 fuse to 1.5e6 -> tie -> doc asc
    assert(got.toSeq == Seq((10L, 2L, 1500000L, 1), (20L, 2L, 1500000L, 2)))
  }

  test("autocorrelation: hand-computed lag-1 ACF, constant and short series null") {
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def t(i: Int) = new java.sql.Timestamp(ts.getTime + i * 1000L)
    val rows =
      // ramp 1,2,3,4: num=20e6, den=80e6 -> 0.25
      Seq(("A", 1), ("A", 2), ("A", 3), ("A", 4)).zipWithIndex.map {
        case ((k, v), i) => (k, t(i), i.toLong, v.toDouble) } ++
      // alternating 1,-1,1,-1: -48e6/64e6 -> -0.75 (negative lane)
      Seq(("B", 1), ("B", -1), ("B", 1), ("B", -1)).zipWithIndex.map {
        case ((k, v), i) => (k, t(i), i.toLong, v.toDouble) } ++
      // constant -> den 0 -> null; single point -> no pairs -> null
      Seq(("C", t(0), 0L, 5.0), ("C", t(1), 1L, 5.0), ("D", t(0), 0L, 9.0))
    val df = rows.toDF("k", "ts", "seq", "v")
    val got = Learn.autocorrelation(df, "k", "ts", "seq", "v", k = 1)
      .select("k", "n", "acf_micro")
      .as[(String, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("A") == ((4L, Some(250000L))))
    assert(got("B") == ((4L, Some(-750000L))))
    assert(got("C") == ((2L, None)))
    assert(got("D") == ((1L, None)))
  }

  test("mrrMapAtK: exact AP terms, miss-in-topk zero, no-relevant null") {
    import spark.implicits._
    val rows =
      // A: rel at ranks 2 and 4 -> rr 1/2, AP (1/2 + 2/4)/2 = 1/2
      (1 to 5).map(i => ("A", i.toLong, if (i == 2 || i == 4) 1L else 0L)) ++
      // B: only relevant at rank 12 -> outside k=10: rr 0, ap 0
      (1 to 12).map(i => ("B", i.toLong, if (i == 12) 1L else 0L)) ++
      // C: nothing relevant -> nulls
      (1 to 2).map(i => ("C", i.toLong, 0L))
    val df = rows.toDF("q", "ord", "rel")
    val got = Learn.mrrMapAtK(df, "q", "rel", Seq(col("ord").asc), k = 10)
      .select("q", "n_rel", "first_rel_rank", "rr_micro", "ap_micro")
      .as[(String, Long, Option[Long], Option[Long], Option[Long])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("A") == ((2L, Some(2L), Some(500000L), Some(500000L))))
    assert(got("B") == ((1L, Some(12L), Some(0L), Some(0L))))
    assert(got("C") == ((0L, None, None, None)))
  }

  test("rboAtK: identical lists sum the suffix table, disjoint lists report 0") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1L), (1L, 20L, 2L), (2L, 30L, 1L))
      .toDF("q", "doc", "rank")
    val b = Seq((1L, 10L, 1L), (1L, 20L, 2L), (2L, 40L, 1L))
      .toDF("q", "doc", "rank")
    val got = Learn.rboAtK(a, b, "q", "doc", "rank", k = 10, pMilli = 900L)
      .select("query", "n_common", "rbo_micro")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // (suffix(1) + suffix(2)) div 2520 = (593248859 + 341248859) div 2520
    assert(got(1L) == ((2L, 370832L)))
    assert(got(2L) == ((0L, 0L)))
  }

  test("kendallTau: perfect, reversed, tie classes, single point") {
    import spark.implicits._
    val rows = Seq(
      (1L, 1.0, 1.0), (1L, 2.0, 2.0), (1L, 3.0, 3.0),   // tau 1
      (2L, 1.0, 3.0), (2L, 2.0, 2.0), (2L, 3.0, 1.0),   // tau -1
      (3L, 1.0, 1.0), (3L, 1.0, 2.0), (3L, 2.0, 1.0),   // tx=ty=1, D=1
      (4L, 5.0, 5.0))                                    // null
    val df = rows.toDF("k", "x", "y")
    val got = Learn.kendallTau(df, "k", "x", "y")
      .select("key", "n", "concordant", "discordant", "ties_x", "ties_y",
        "ties_xy", "tau_a_milli", "tau_b")
      .as[(Long, Long, Long, Long, Long, Long, Long, Option[Long], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 3L, 0L, 0L, 0L, 0L, Some(1000L), Some(1.0))))
    assert(got(2L) == ((2L, 3L, 0L, 3L, 0L, 0L, 0L, Some(-1000L), Some(-1.0))))
    assert(got(3L) == ((3L, 3L, 0L, 1L, 1L, 1L, 0L, Some(-333L), Some(-0.5))))
    assert(got(4L) == ((4L, 1L, 0L, 0L, 0L, 0L, 0L, None, None)))
  }

  test("seasonalAnomalies: exact squared flag, constant cell silent, minN gate") {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val rows =
      // hour-0 cell: five 1.0s and one 10.0 -> z = 2.24: flagged at
      // k=2.0, NOT at k=2.5 (the exact boundary arithmetic)
      (0 until 5).map(i => (1L, t(i * 10L), 1.0)) ++ Seq((1L, t(55L), 10.0)) ++
      // hour-1 cell: constant -> RHS 0, nothing flags
      (0 until 3).map(i => (1L, t(3600L + i), 5.0)) ++
      // hour-2 cell: below minN -> never flags even though wild
      Seq((1L, t(7200L), 0.0), (1L, t(7201L), 100.0))
    val df = rows.toDF("k", "ts", "v")
    val at2000 = Learn.seasonalAnomalies(df, "k", "ts", "v",
        kMilli = 2000L, minN = 3L)
      .select("season", "value_milli", "n_in_season")
      .as[(Long, Long, Long)].collect().toSeq
    assert(at2000 == Seq((0L, 10000L, 6L)))
    val at2500 = Learn.seasonalAnomalies(df, "k", "ts", "v",
        kMilli = 2500L, minN = 3L)
    assert(at2500.isEmpty)
  }

  test("ipsValue: per-row weights, negative reward lane, no-match null SNIPS") {
    import spark.implicits._
    val log = Seq(
      ("x", "x", 2.0, 500L),   // wr = 4e6, w = 2000
      ("y", "x", 9.0, 100L),   // unmatched -> 0
      ("x", "x", -0.5, 250L),  // wr = -2e6, w = 4000
      ("z", "w", 1.0, 1000L))  // unmatched
      .toDF("a", "pa", "reward", "p")
    val got = Learn.ipsValue(log, "a", "pa", "reward", "p")
      .select("n", "n_match", "sum_w_milli", "ips_micro", "snips_milli")
      .as[(Long, Long, Long, Long, Option[Long])].collect()(0)
    assert(got == ((4L, 2L, 6000L, 500000L, Some(333L))))
    val none = Learn.ipsValue(log.filter(col("a") =!= col("pa")),
        "a", "pa", "reward", "p")
      .select("n", "n_match", "ips_micro", "snips_milli")
      .as[(Long, Long, Long, Option[Long])].collect()(0)
    assert(none == ((2L, 0L, 0L, None)))
  }

  test("theilSenSlopes: outlier-robust median slope, degenerate keys null") {
    import spark.implicits._
    def t(h: Int) = new java.sql.Timestamp(1700000000000L + h * 3600000L)
    val rows = Seq(
      // slopes 4000, 500, -3000 -> lower median 500 milli/hour
      (1L, t(0), 1.0), (1L, t(1), 5.0), (1L, t(2), 2.0),
      // same hour twice: no distinct-x pair
      (2L, t(0), 1.0), (2L, t(0), 9.0),
      // single point
      (3L, t(5), 4.0))
    val df = rows.toDF("k", "ts", "v")
    val got = Learn.theilSenSlopes(df, "k", "ts", "v")
      .select("key", "n", "n_slopes", "slope_micro")
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 3L, Some(500000000L))))
    assert(got(2L) == ((2L, 0L, None)))
    assert(got(3L) == ((1L, 0L, None)))
  }

  test("boostStumpRound: base mean, residual gain, negative-side leaf step") {
    import spark.implicits._
    // base = 500; residuals -500,-500,+500,+500; split at f<=1:
    // gain = (-1000)^2/2 + 1000^2/2 = 1e6; lr=300 steps -150/+150
    val df = Seq((0L, 1L), (0L, 1L), (1L, 2L), (1L, 2L)).toDF("y", "f")
    val got = Learn.boostStumpRound(df, "y", Seq("f"), lrMilli = 300L)
      .select("base_milli", "feature", "threshold", "n_left", "n_right",
        "sum_left_milli", "sum_right_milli", "gain",
        "left_value_milli", "right_value_milli")
      .as[(Long, String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == Seq((500L, "f", 1L, 2L, 2L, -1000L, 1000L, 1000000L,
      350L, 650L)))
  }

  test("isotonicFit: pooling, same-x pre-pool, negative floor (not truncate)") {
    import spark.implicits._
    val rows = Seq(
      // key 1: 3,1,2 -> all pool to avg 2
      (1L, 1L, 3.0), (1L, 2L, 1.0), (1L, 3L, 2.0),
      // key 2: x=1 pools {1,2}, then 0 violates -> one block avg 1
      (2L, 1L, 1.0), (2L, 1L, 2.0), (2L, 2L, 0.0),
      // key 3: -1 then {-2,-2.5} -> merged sum -5500/3 floors to -1833334
      (3L, 1L, -1.0), (3L, 2L, -2.0), (3L, 2L, -2.5))
    val df = rows.toDF("k", "x", "y")
    val got = Learn.isotonicFit(df, "k", "x", "y")
      .select("key", "x", "n_at_x", "y_sum_milli", "fit_micro")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 1L, 1L, 3000L, 2000000L),
      (1L, 2L, 1L, 1000L, 2000000L),
      (1L, 3L, 1L, 2000L, 2000000L),
      (2L, 1L, 2L, 3000L, 1000000L),
      (2L, 2L, 1L, 0L, 1000000L),
      (3L, 1L, 1L, -1000L, -1833334L),
      (3L, 2L, 2L, -4500L, -1833334L)))
  }

  test("lorenzCurve: equality diagonal, concentration, closure at (1e6, 1e6)") {
    import spark.implicits._
    // perfect equality: 4 units of 5.0 in 4 bands → curve on the
    // diagonal
    val eq = (1 to 4).map(i => (i.toLong, 5.0)).toDF("id", "v")
    val g1 = Learn.lorenzCurve(eq, "id", "v", points = 4)
      .select("band", "cum_pop_micro", "cum_value_micro")
      .as[(Long, Long, Option[Long])].collect().sortBy(_._1)
    assert(g1.map(r => (r._2, r._3.get)).toSeq ==
      Seq((250000L, 250000L), (500000L, 500000L),
        (750000L, 750000L), (1000000L, 1000000L)))
    // one whale: {0,0,0,100} → first three bands hold 0% of value
    val whale = Seq((1L, 0.0), (2L, 0.0), (3L, 0.0), (4L, 100.0))
      .toDF("id", "v")
    val g2 = Learn.lorenzCurve(whale, "id", "v", 4)
      .select("band", "cum_value_micro")
      .as[(Long, Option[Long])].collect().sortBy(_._1)
    assert(g2.map(_._2.get).toSeq == Seq(0L, 0L, 0L, 1000000L))
    // zero total → null shares, populations still reported
    val z = Learn.lorenzCurve(Seq((1L, 0.0), (2L, 0.0)).toDF("id", "v"),
        "id", "v", 2)
      .select("cum_pop_micro", "cum_value_micro")
      .as[(Long, Option[Long])].collect()
    assert(z.forall(_._2.isEmpty) && z.map(_._1).max == 1000000L)
  }

  test("mannWhitneyU: hand ranks, midrank ties, AUC endpoints") {
    import spark.implicits._
    // group1 {1,2,3}, group2 {4,5}: complete separation downward —
    // R1 = 1+2+3 = 6 → 2U1 = 12 − 12 = 0 → AUC 0
    val sep = Seq((true, 1.0), (true, 2.0), (true, 3.0),
      (false, 4.0), (false, 5.0)).toDF("g", "v")
    val a = Learn.mannWhitneyU(sep, "g", "v")
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect()(0)
    assert(a == ((3L, 2L, 12L, 0L, 12L, Some(0L))))
    // reversed: AUC 1e6
    val rev = Seq((false, 1.0), (false, 2.0), (true, 3.0),
      (true, 4.0)).toDF("g", "v")
    val b = Learn.mannWhitneyU(rev, "g", "v")
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect()(0)
    assert(b._6 == Some(1000000L) && b._4 == 2L * b._1 * b._2)
    // ties split: g1 {1, 2}, g2 {2}: ranks 1, 2.5, 2.5 →
    // R1d = 2 + 5 = 7; 2U1 = 7 − 6 = 1 → AUC = 1e6·1/4 = 250000
    val tie = Seq((true, 1.0), (true, 2.0), (false, 2.0)).toDF("g", "v")
    val c = Learn.mannWhitneyU(tie, "g", "v")
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect()(0)
    assert(c == ((2L, 1L, 7L, 1L, 3L, Some(250000L))))
    // one empty group → null AUC, counts still reported
    val solo = Seq((true, 1.0), (true, 2.0)).toDF("g", "v")
    val s0 = Learn.mannWhitneyU(solo, "g", "v")
      .as[(Long, Long, Long, Long, Long, Option[Long])].collect()(0)
    assert(s0._1 == 2L && s0._2 == 0L && s0._6.isEmpty)
  }

  test("decileLift: perfect model concentrates, uniform is flat, cuts exact") {
    import spark.implicits._
    // 20 rows, 4 positives, score == 1000·y (perfect separation),
    // 4 buckets of 5: bucket 0 holds all positives
    val rows = (1 to 20).map(i =>
      (i.toLong, i <= 4, if (i <= 4) 1000L else 0L))
    val got = Learn.decileLift(rows.toDF("id", "y", "sm"), "id", "y",
        "sm", buckets = 4)
      .as[(Long, Long, Long, Long, Long, Long, Option[Long])]
      .collect().sortBy(_._1)
    // (bucket, n_rows, n_pos, rate_micro, cum_n, cum_pos, lift)
    assert(got(0) == ((0L, 5L, 4L, 800000L, 5L, 4L, Some(4000000L))))
    assert(got(1)._3 == 0L && got(1)._7 == Some(2000000L)) // 8/40 → 2×
    assert(got(3)._5 == 20L && got(3)._6 == 4L &&
      got(3)._7 == Some(1000000L)) // full population: lift 1
    // no positives → lift null everywhere
    val none = Learn.decileLift(rows.map(r => (r._1, false, r._3))
        .toDF("id", "y", "sm"), "id", "y", "sm", 4)
      .as[(Long, Long, Long, Long, Long, Long, Option[Long])].collect()
    assert(none.forall(_._7.isEmpty))
  }

  test("brierScore: oracle/hedge/anti endpoints, exact mean floor") {
    import spark.implicits._
    val rows = Seq(
      (1L, true, 1000L), (1L, false, 0L),    // perfect: 0
      (2L, true, 500L), (2L, false, 500L),   // constant hedge: 250000
      (3L, true, 0L), (3L, false, 1000L),    // confidently wrong: 1e6
      (4L, true, 700L), (4L, false, 100L))   // (300² + 100²)/2 = 50000
    val got = Learn.brierScore(rows.toDF("g", "y", "sm"), "g", "y", "sm")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got == Map(1L -> 0L, 2L -> 250000L, 3L -> 1000000L,
      4L -> 50000L))
  }

  test("seasonalDecompose: components sum back, season cells, ragged edges") {
    import spark.implicits._
    def t(hr: Long, m: Long) =
      new java.sql.Timestamp((hr * 3600 + m * 60) * 1000L)
    // key 1: hour-0 values 1.0/3.0 daily, hour-1 values 10.0 — small
    // series, halfWindow 1 so trends are hand-checkable
    val rows = Seq(
      (1L, t(0, 0), 1L, 1.0), (1L, t(1, 0), 2L, 10.0),
      (1L, t(24, 0), 3L, 3.0), (1L, t(25, 0), 4L, 10.0))
    val got = Learn.seasonalDecompose(rows.toDF("k", "ts", "id", "v"),
        "k", "ts", "v", Seq("id"), halfWindow = 1)
      .select("ts_us", "season", "value_milli", "trend_milli",
        "seasonal_milli", "residual_milli")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // row 1 (1.0): trend = (1000+10000)/2 = 5500; row 2 (10.0):
    // trend = (1000+10000+3000)/3 = 4666; row 3 (3.0): trend =
    // (10000+3000+10000)/3 = 7666; row 4: (3000+10000)/2 = 6500.
    // season 0 det: 1000-5500 = -4500, 3000-7666 = -4666 → mean
    // trunc((-9166)/2) = -4583; season 1 det: 5334, 3500 → 4417
    val r1 = got(0L)
    assert(r1._2 == 0L && r1._4 == 5500L && r1._5 == -4583L)
    assert(r1._3 == r1._4 + r1._5 + r1._6) // exact reassembly
    val r2 = got(3600000000L)
    assert(r2._2 == 1L && r2._4 == 4666L && r2._5 == 4417L)
    // every row reassembles exactly: v == trend + seasonal + residual
    got.values.foreach(r => assert(r._3 == r._4 + r._5 + r._6))
  }

  test("rollingOls: exact slope on a line, window gate, noise-robust sign") {
    import spark.implicits._
    // key 1: y = 2·x exactly → slope_micro = 2000000 once the window
    // fills; before that NULL
    val rows = (1 to 6).map(i => (1L, i.toLong, 2.0 * i)) ++
      // key 2: descending → negative slope
      (1 to 4).map(i => (2L, i.toLong, 10.0 - 3.0 * i))
    val got = Learn.rollingOls(rows.toDF("k", "o", "v"), "k", Seq("o"),
        "v", window = 3)
      .select("key", "x", "n_window", "slope_micro")
      .as[(Long, Long, Long, Option[Long])].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got((1L, 1L))._4.isEmpty && got((1L, 2L))._4.isEmpty)
    (3L to 6L).foreach(x => assert(got((1L, x))._4 == Some(2000000L)))
    (3L to 4L).foreach(x => assert(got((2L, x))._4 == Some(-3000000L)))
  }

  test("itemCooccurrence: exact cosine² ranks, tie to smaller item, heavy user excluded") {
    import spark.implicits._
    // users: u1{a,b}, u2{a,b}, u3{a,c}, u4{a} (dup row dedups)
    val ui = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "c"), (4L, "a"), (4L, "a"))
    val got = Learn.itemCooccurrence(ui.toDF("u", "i"), "u", "i", k = 2)
      .select("item_a", "item_b", "n_a", "n_b", "n_ab", "score_nano",
        "rank")
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._7) -> r).toMap
    // a: n=4; b: n=2; c: n=1. (a,b): n_ab=2 → 1e9·4/(4·2)=5e8;
    // (a,c): 1 → 1e9/(4·1)=2.5e8. b ranks before c for a.
    assert(got(("a", 1L)) == (("a", "b", 4L, 2L, 2L, 500000000L, 1L)))
    assert(got(("a", 2L)) == (("a", "c", 4L, 1L, 1L, 250000000L, 2L)))
    // symmetric direction: b's best co-item is a with cos² = 4/(2·4)
    assert(got(("b", 1L)) == (("b", "a", 2L, 4L, 2L, 500000000L, 1L)))
    // a bot user with too many items is excluded entirely
    val bot = ui ++ (1 to 50).map(j => (9L, s"x$j"))
    val capped = Learn.itemCooccurrence(bot.toDF("u", "i"), "u", "i",
      k = 3, maxItemsPerUser = 10)
    assert(capped.filter(col("item_a").startsWith("x")).count() == 0)
    assert(capped.filter(col("item_a") === "a").count() == 2)
  }

  test("quantileNormalize: equal distributions after, ragged ranks, ties resolved") {
    import spark.implicits._
    // key 1: 1,2,3  key 2: 10,20,30  key 3: 5,6 (ragged)
    val rows = Seq((1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 3.0),
      (2L, 1L, 10.0), (2L, 2L, 20.0), (2L, 3L, 30.0),
      (3L, 1L, 5.0), (3L, 2L, 6.0))
    val got = Learn.quantileNormalize(rows.toDF("k", "o", "v"), "k",
        Seq("o"), "v")
      .select("key", "rank", "n_keys_at_rank", "norm_milli")
      .as[(Long, Long, Long, Long)].collect().toSet
    // rank 1 mean = (1000+10000+5000)/3 = 5333; rank 2 = 9333
    // (floored); rank 3 only keys 1,2 → (3000+30000)/2 = 16500
    assert(got == Set(
      (1L, 1L, 3L, 5333L), (2L, 1L, 3L, 5333L), (3L, 1L, 3L, 5333L),
      (1L, 2L, 3L, 9333L), (2L, 2L, 3L, 9333L), (3L, 2L, 3L, 9333L),
      (1L, 3L, 2L, 16500L), (2L, 3L, 2L, 16500L)))
    // after normalization every full-length key carries the SAME
    // value multiset — the operator's defining property
    val norm = Learn.quantileNormalize(rows.toDF("k", "o", "v"), "k",
        Seq("o"), "v")
      .select("key", "norm_milli").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(norm(1L) == norm(2L))
  }

  test("cupedAdjust: variance removed, expectation kept, zero-var covariate no-op") {
    import spark.implicits._
    // y = x + arm effect: arm 0 adds 0, arm 1 adds 1; x varies 1..4.
    // θ should be ~1 and adjusted means should recover the pure arm
    // effects around the grand mean.
    val rows = Seq(
      (0L, 1.0, 1.0), (0L, 2.0, 2.0), (0L, 3.0, 3.0), (0L, 4.0, 4.0),
      (1L, 1.0, 2.0), (1L, 2.0, 3.0), (1L, 3.0, 4.0), (1L, 4.0, 5.0))
    val got = Learn.cupedAdjust(rows.toDF("arm", "pre", "post"),
        "arm", "pre", "post")
      .select("arm", "n", "mean_post_micro", "mean_adj_micro",
        "theta_milli")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(0L) == ((0L, 4L, 2500000L, 2500000L, 1000L)))
    assert(got(1L) == ((1L, 4L, 3500000L, 3500000L, 1000L)))
    // identical x everywhere → Var(x) = 0 → adjustment is a no-op
    val flat = Seq((0L, 7.0, 1.0), (0L, 7.0, 3.0), (1L, 7.0, 5.0))
    val g2 = Learn.cupedAdjust(flat.toDF("arm", "pre", "post"),
        "arm", "pre", "post")
      .select("arm", "mean_post_micro", "mean_adj_micro", "theta_milli")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(g2(0L) == ((0L, 2000000L, 2000000L, 0L)))
    assert(g2(1L) == ((1L, 5000000L, 5000000L, 0L)))
    // CUPED actually reduces spread when arms have unbalanced x:
    // arm 0 drew low x, arm 1 high x, same true effect 0
    val skewed = Seq((0L, 1.0, 1.0), (0L, 2.0, 2.0),
      (1L, 3.0, 3.0), (1L, 4.0, 4.0))
    val g3 = Learn.cupedAdjust(skewed.toDF("arm", "pre", "post"),
        "arm", "pre", "post")
      .select("arm", "mean_post_micro", "mean_adj_micro")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // raw means 1.5 vs 3.5 (pure covariate imbalance); adjusted both
    // collapse to the grand mean 2.5
    assert(g3(0L)._3 == 2500000L && g3(1L)._3 == 2500000L)
    assert(g3(0L)._2 == 1500000L && g3(1L)._2 == 3500000L)
  }

  test("holtLinear: hand-traced recurrence, seed, horizon, key isolation") {
    import spark.implicits._
    // α=1/2, β=1/2, series 1, 5, 9 (milli 1000, 5000, 9000):
    // l1=1000 b1=0; l2=(5000+1000)/2=3000, b2=(2000+0)/2=1000;
    // l3=(9000+4000)/2=6500, b3=(3500+1000)/2=2250
    val rows = Seq((1L, 1L, 1.0), (1L, 2L, 5.0), (1L, 3L, 9.0),
      (2L, 1L, 4.0)) // single row: level = y, trend 0
    val got = Learn.holtLinear(rows.toDF("k", "o", "v"), "k", Seq("o"),
        "v", aNum = 1L, aDen = 2L, bNum = 1L, bDen = 2L, horizon = 2L)
      .select("key", "n", "level_milli", "trend_milli", "forecast_milli")
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r)
      .toMap
    assert(got(1L) == ((1L, 3L, 6500L, 2250L, 11000L)))
    assert(got(2L) == ((2L, 1L, 4000L, 0L, 4000L)))
    // negative values ride the truncating lane deterministically
    val neg = Seq((1L, 1L, -1.0), (1L, 2L, -5.0))
    val gn = Learn.holtLinear(neg.toDF("k", "o", "v"), "k", Seq("o"),
        "v", 1L, 2L, 1L, 2L, 1L)
      .select("level_milli", "trend_milli")
      .as[(Long, Long)].collect()(0)
    // l2 = (-5000 + -1000)/2 = -3000; b2 = (-2000)/2 = -1000
    assert(gn == ((-3000L, -1000L)))
  }

  test("changepointBinary: argmax split, earliest tie, negative means, n<2 silent") {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val rows =
      // key 1: level shift 1.0 -> 5.0 after 3 rows; scores peak at
      // t=3 (78e6 vs 66e6/58.8e6 at the neighbors), baseline 54e6
      (0 until 3).map(i => (1L, t(i), 1.0)) ++
      (3 until 6).map(i => (1L, t(i), 5.0)) ++
      // key 2: constant 2.0 x4 -> every split scores the baseline
      // 16e6; the tie must resolve to the EARLIEST t=1
      (0 until 4).map(i => (2L, t(i), 2.0)) ++
      // key 3: single row -> no split exists, emits nothing
      Seq((3L, t(0), 7.0)) ++
      // key 4: net-negative left segment exercises the sign-split
      // mean: (-1,-1,3) splits after t=2, left mean -1000 exact
      Seq((4L, t(0), -1.0), (4L, t(1), -1.0), (4L, t(2), 3.0))
    val got = Learn.changepointBinary(rows.toDF("k", "ts", "v"),
        "k", "ts", "v")
      .select("key", "n", "split_idx", "split_ts_us", "left_mean_milli",
        "right_mean_milli", "score", "baseline")
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 2L, 4L))
    assert(got(1L) == ((1L, 6L, 3L, 2000000L, 1000L, 5000L,
      78000000L, 54000000L)))
    assert(got(2L) == ((2L, 4L, 1L, 0L, 2000L, 2000L,
      16000000L, 16000000L)))
    assert(got(4L) == ((4L, 3L, 2L, 1000000L, -1000L, 3000L,
      11000000L, 333333L)))
  }

  test("spearmanRho: perfect monotone -> 1, reversed -> -1, ties handled") {
    def rho(xy: Seq[(Double, Double)]): Double =
      Learn.spearmanRho(xy.toDF("x", "y"), "x", "y")
        .select("rho").collect().head.getDouble(0)
    assert(math.abs(rho(Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0),
      (4.0, 44.0))) - 1.0) < 1e-12)
    assert(math.abs(rho(Seq((1.0, 4.0), (2.0, 3.0), (3.0, 2.0),
      (4.0, 1.0))) + 1.0) < 1e-12)
    // ties: x = (1,1,2), y = (5,5,9) — still perfectly concordant
    // under midranks: a = dmr_x - (n+1) = (3,3,6)-4 = (-1,-1,2),
    // b likewise -> rho = 1
    assert(math.abs(rho(Seq((1.0, 5.0), (1.0, 5.0), (2.0, 9.0))) - 1.0)
      < 1e-12)
    // exact component lanes: n=3 above, num = dx = dy = 6 (doubled)
    val row = Learn.spearmanRho(
      Seq((1.0, 5.0), (1.0, 5.0), (2.0, 9.0)).toDF("x", "y"), "x", "y")
      .select(col("n"), col("num").cast("long"), col("dx").cast("long"),
        col("dy").cast("long")).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2),
      row.getLong(3)) == ((3L, 6L, 6L, 6L)))
    // the exact integer gate lane (r13: the oracle-checked output
    // carries rho_micro, not the IEEE double)
    def rhoMicro(xy: Seq[(Double, Double)]): Long =
      Learn.spearmanRho(xy.toDF("x", "y"), "x", "y")
        .select("rho_micro").collect().head.getLong(0)
    assert(rhoMicro(Seq((1.0, 10.0), (2.0, 20.0), (3.0, 30.0),
      (4.0, 44.0))) == 1000000L)
    assert(rhoMicro(Seq((1.0, 4.0), (2.0, 3.0), (3.0, 2.0),
      (4.0, 1.0))) == -1000000L)
    // hand case rho = 0.8 exactly: ranks x=(1,2,3,4), y=(1,3,2,4)
    // -> num=16 dx=dy=20 (doubled lanes), 1e12*256/400 = 800000^2
    assert(rhoMicro(Seq((1.0, 1.0), (2.0, 3.0), (3.0, 2.0),
      (4.0, 4.0))) == 800000L)
  }

  test("ksTwoSample: disjoint supports -> D=1, identical -> D=0, hand case") {
    def ks(rows: Seq[(Long, Double)]) = {
      val r = Learn.ksTwoSample(rows.toDF("g", "v"), "g", "v")
        .collect().head
      (r.getAs[Long]("n1"), r.getAs[Long]("n2"),
        r.getAs[Long]("d_num"), r.getAs[Long]("d_micro"))
    }
    // group1 all below group0: at the boundary F1=1, F2=0 -> D=1
    assert(ks(Seq((1L, 1.0), (1L, 2.0), (0L, 5.0), (0L, 6.0))) ==
      ((2L, 2L, 4L, 1000000L)))
    // identical distributions -> D = 0
    assert(ks(Seq((1L, 1.0), (0L, 1.0), (1L, 2.0), (0L, 2.0))) ==
      ((2L, 2L, 0L, 0L)))
    // hand case: g1 = {1, 3}, g0 = {2, 3, 4}; at v=1: |1*3-0*2|=3;
    // v=2: |3-2|=1; v=3: |6-4|=2; v=4: |6-6|=0 -> D=3/6
    assert(ks(Seq((1L, 1.0), (1L, 3.0), (0L, 2.0), (0L, 3.0),
      (0L, 4.0))) == ((2L, 3L, 3L, 500000L)))
  }

  test("krippendorffAlpha: perfect agreement -> 1e6, partial hand case, drops") {
    // 3 raters, 2 items, all agree -> alpha = 1
    val perfect = Seq((1L, 0L, "a"), (1L, 1L, "a"), (1L, 2L, "a"),
      (2L, 0L, "b"), (2L, 1L, "b"), (2L, 2L, "b"))
      .toDF("item", "rater", "label")
    val p = Learn.krippendorffAlpha(perfect, "item", "rater", "label", 3)
      .collect().head
    assert(p.getAs[Long]("alpha_micro") == 1000000L)
    assert(p.getAs[Long]("n_items") == 2L && p.getAs[Long]("n") == 6L)
    assert(p.getAs[Long]("dropped_items") == 0L)
    // one item unanimous 'a', one split b/b/a, one item incomplete
    // (dropped): N=6, margins a=4 b=2. DoNum = item2: 2*(3-2)+1*(3-1)=4.
    // DeNum = 4*2 + 2*4 = 16. alpha = 1 - (4/(6*2))/(16/(6*5))
    //       = 1 - (4*5)/(2*16) = 1 - 20/32 = 0.375
    val mixed = Seq((1L, 0L, "a"), (1L, 1L, "a"), (1L, 2L, "a"),
      (2L, 0L, "b"), (2L, 1L, "b"), (2L, 2L, "a"),
      (3L, 0L, "a"))
      .toDF("item", "rater", "label")
    val m = Learn.krippendorffAlpha(mixed, "item", "rater", "label", 3)
      .collect().head
    assert(m.getAs[Long]("dropped_items") == 1L)
    assert(m.getAs[Long]("do_num") == 4L && m.getAs[Long]("de_num") == 16L)
    assert(m.getAs[Long]("alpha_micro") == 375000L)
  }

  test("bradleyTerry: dominant player ranks top, symmetric stays flat") {
    // 0 beats everyone twice; 1 and 2 split their games
    val games = Seq((0L, 1L), (0L, 1L), (0L, 2L), (0L, 2L),
      (1L, 2L), (2L, 1L)).toDF("w", "l")
    val got = Learn.bradleyTerry(games, "w", "l", rounds = 4)
      .collect().map(r => r.getAs[Long]("item") ->
        (r.getAs[Long]("w"), r.getAs[Long]("n"),
          r.getAs[Long]("p_milli"))).toMap
    assert(got(0L)._1 == 4L && got(0L)._2 == 4L)
    assert(got(1L)._1 == 1L && got(2L)._1 == 1L)
    assert(got(0L)._3 > got(1L)._3 && got(0L)._3 > got(2L)._3)
    // 1 and 2 are symmetric (same record vs 0, split head-to-head)
    assert(got(1L)._3 == got(2L)._3)
    // normalization: sum p = 1000 * k (within the GREATEST(1,) floor)
    assert(math.abs(got.values.map(_._3).sum - 3000L) <= 3L)
  }

  test("qiniCurve: perfect uplift model concentrates, null arms loud") {
    // 8 units, scores rank true-uplift first: treated responders at
    // top scores, control responders at bottom
    val df = Seq(
      (1L, 1L, true, 800L), (2L, 1L, true, 700L),   // treated, respond
      (3L, 0L, false, 600L), (4L, 0L, false, 500L), // control, no
      (5L, 1L, false, 400L), (6L, 0L, false, 300L),
      (7L, 1L, false, 200L), (8L, 0L, true, 100L)   // control responder last
    ).toDF("id", "w", "y", "s")
    val got = Learn.qiniCurve(df, "id", "w", "y", "s", buckets = 4)
      .collect().map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("cum_n1"), r.getAs[Long]("cum_n0"),
          r.getAs[Long]("cum_r1"), r.getAs[Long]("cum_r0"),
          r.getAs[Long]("uplift_micro"), r.getAs[Long]("qini_micro")))
      .toMap
    // bucket 0 = top quartile {1,2}: both treated responders ->
    // n1=2 n0=0 r1=2 r0=0: control arm empty -> uplift null,
    // qini = 1e6*(2*0 - 0*2)/0 -> n0=0 null too
    val b0 = got(0L)
    assert(b0._1 == 2L && b0._2 == 0L && b0._3 == 2L)
    // full population (bucket 3): n1=4 n0=4 r1=2 r0=1 ->
    // uplift = 1e6*(2*4-1*4)/(16) = 250000; qini = 1e6*4/4 = 1000000
    val b3 = got(3L)
    assert(b3 == ((4L, 4L, 2L, 1L, 250000L, 1000000L)))
    // nulls surfaced, not zeroed
    val row0 = Learn.qiniCurve(df, "id", "w", "y", "s", buckets = 4)
      .filter(col("bucket") === 0).collect().head
    assert(row0.isNullAt(row0.fieldIndex("uplift_micro")))
    assert(row0.isNullAt(row0.fieldIndex("qini_micro")))
  }

  test("cusum: arms accumulate, alarm fires and resets, key isolation") {
    // target 10, slack 1, h 5 (milli: x1000). key A values:
    // 14,14,6,6,6 -> gp: 3,6(alarm,reset),0,0,0
    //                gn: 0,0,      3,6(alarm),0... recompute below
    val rows = Seq(("A", 1L, 14.0), ("A", 2L, 14.0), ("A", 3L, 6.0),
      ("A", 4L, 6.0), ("A", 5L, 6.0), ("B", 1L, 10.0))
      .toDF("k", "ord", "v")
    val got = Learn.cusum(rows, "k", Seq("ord"), "v",
      targetMilli = 10000L, slackMilli = 1000L, hMilli = 5000L)
      .collect().map(r => (r.getString(0), r.getAs[Long]("ord")) ->
        (r.getAs[Long]("g_pos"), r.getAs[Long]("g_neg"),
          r.getAs[Boolean]("alarm"))).toMap
    // ord1: gp = max(0, 0+14000-10000-1000) = 3000; gn = 0
    assert(got(("A", 1L)) == ((3000L, 0L, false)))
    // ord2: gp = 3000+3000 = 6000 > 5000 -> alarm, reset
    assert(got(("A", 2L)) == ((6000L, 0L, true)))
    // ord3 (post-reset): gp = 0; gn = max(0, 0 - (6000-10000) - 1000) = 3000
    assert(got(("A", 3L)) == ((0L, 3000L, false)))
    // ord4: gn = 3000+3000 = 6000 -> alarm
    assert(got(("A", 4L)) == ((0L, 6000L, true)))
    // ord5 (post-reset): gn = 3000 again
    assert(got(("A", 5L)) == ((0L, 3000L, false)))
    // key B starts fresh: on-target value moves nothing
    assert(got(("B", 1L)) == ((0L, 0L, false)))
  }

  test("fellegiSunter: exact rational ratio, verdicts, loud overflow guard") {
    val pairs = Seq((1L, true, true), (2L, true, false),
      (3L, false, false)).toDF("id", "a1", "a2")
    val got = Learn.fellegiSunter(pairs, Seq("a1", "a2"),
      mMilli = Seq(900L, 800L), uMilli = Seq(100L, 200L),
      upperMicro = 30000000L, lowerMicro = 1000000L)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("ratio_micro"), r.getAs[String]("verdict"))).toMap
    // both agree: (900*800)/(100*200) = 36 -> 36e6 micro -> match
    assert(got(1L) == ((36000000L, "match")))
    // agree/disagree: (900*200)/(100*800) = 2.25 -> possible
    assert(got(2L) == ((2250000L, "possible")))
    // both disagree: (100*200)/(900*800) = 1/36 -> 27777 -> nonmatch
    assert(got(3L) == ((27777L, "nonmatch")))
    // pathological parameters fail at plan build with the bound
    val e = intercept[IllegalArgumentException] {
      Learn.fellegiSunter(pairs, Seq.fill(10)("a1"),
        mMilli = Seq.fill(10)(999L), uMilli = Seq.fill(10)(1L),
        upperMicro = 2L, lowerMicro = 1L)
    }
    assert(e.getMessage.contains("ratio_micro"))
  }

  test("bhFdr: hand-computed boundary, all-noise rejects nothing") {
    // m=4, q=0.25 (250000 micro): sorted p = 10000, 60000, 200000,
    // 900000. BH: rank1: 4*10000 <= 1*250000 T; rank2: 4*60000=240000
    // <= 500000 T; rank3: 4*200000=800000 > 750000 F; rank4:
    // 4*900000 > 1000000 F -> k*=2, reject exactly the two smallest.
    val df = Seq((1L, 200000L), (2L, 10000L), (3L, 900000L),
      (4L, 60000L)).toDF("id", "p")
    val got = Learn.bhFdr(df, "id", "p", qMicro = 250000L)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("rank"), r.getAs[Boolean]("rejected"))).toMap
    assert(got(2L) == ((1L, true)) && got(4L) == ((2L, true)))
    assert(got(1L) == ((3L, false)) && got(3L) == ((4L, false)))
    // step-up property: a later p UNDER the line rescues earlier ones
    // above it: p = 240000, 245000 at q=0.5, m=2: rank1 2*240000 <=
    // 500000 T; rank2 2*245000 <= 1000000 T -> both rejected
    val up = Learn.bhFdr(Seq((1L, 240000L), (2L, 245000L)).toDF("id", "p"),
      "id", "p", qMicro = 500000L).collect()
    assert(up.forall(_.getAs[Boolean]("rejected")))
    // pure noise near 1 rejects nothing
    val noise = Learn.bhFdr(Seq((1L, 990000L), (2L, 999000L))
      .toDF("id", "p"), "id", "p", qMicro = 50000L).collect()
    assert(noise.forall(!_.getAs[Boolean]("rejected")))
  }

  test("wilsonInterval: known value, degenerate rates stay in [0,1]") {
    val df = Seq(("a", true), ("a", true), ("a", false), ("a", true),
      ("b", false), ("b", false), ("c", true)).toDF("k", "ok")
    val got = Learn.wilsonInterval(df, "k", "ok")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("s"),
          r.getAs[Double]("wilson_low"), r.getAs[Double]("wilson_high")))
      .toMap
    // a: n=4, s=3, p̂=0.75 -> Wilson 95%: [0.3006, 0.9544] (textbook)
    val (n, sc, lo, hi) = got("a")
    assert(n == 4L && sc == 3L)
    assert(math.abs(lo - 0.30064) < 5e-4 && math.abs(hi - 0.95449) < 5e-4)
    // all-failure and all-success: bounds stay inside [0,1] and
    // don't collapse to a zero-width interval (the Wilson point)
    assert(got("b")._3 >= -1e-12 && got("b")._4 > 0.0 && got("b")._4 < 1.0)
    assert(got("c")._3 > 0.0 && got("c")._4 <= 1.0 + 1e-12)
  }

  test("splitConformal: exact k-th smallest threshold, coverage flags") {
    // calib scores 1..9 (milli 1000..9000), alpha=0.2 -> k =
    // ceil(10*0.8) = 8 -> threshold = 8000
    val calib = (1 to 9).map(_.toDouble).toDF("score")
    val test = Seq((1L, 7.5), (2L, 8.0), (3L, 8.5)).toDF("id", "score")
    val got = Learn.splitConformal(calib, test, "score", alphaMilli = 200L)
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("threshold_milli"), r.getAs[Boolean]("covered")))
      .toMap
    assert(got(1L) == ((8000L, true)) && got(2L) == ((8000L, true)))
    assert(got(3L) == ((8000L, false)))
    // calibration too small for the level: k = ceil(2*0.99..) wait —
    // n=1, alpha=10 -> k = ceil(2*0.99) = 2 > 1 -> null threshold,
    // nothing covered
    val tiny = Learn.splitConformal(Seq(1.0).toDF("score"),
      Seq((1L, 0.5)).toDF("id", "score"), "score", alphaMilli = 10L)
      .collect().head
    assert(tiny.isNullAt(tiny.fieldIndex("threshold_milli")))
    assert(!tiny.getAs[Boolean]("covered"))
  }

  test("dispersionIndex: constant -> 0, bursty > 1e6, exact hand case") {
    val df = Seq(("flat", 5L), ("flat", 5L), ("flat", 5L),
      ("burst", 1L), ("burst", 1L), ("burst", 10L)).toDF("k", "v")
    val got = Learn.dispersionIndex(df, "k", "v")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Long]("sum_v"),
          r.getAs[Long]("sum_v2"), r.getAs[Long]("vmr_micro"))).toMap
    assert(got("flat") == ((3L, 15L, 75L, 0L)))
    // burst: n=3, S=12, S2=102; VMR = (3*102-144)/(3*12) = 162/36 = 4.5
    assert(got("burst") == ((3L, 12L, 102L, 4500000L)))
  }

  test("mcnemar: hand 2x2, direction sign, degenerate concordant-only") {
    // 3x(T,T), 1x(T,F), 4x(F,T), 2x(F,F)
    val rows = Seq.fill(3)((true, true)) ++ Seq((true, false)) ++
      Seq.fill(4)((false, true)) ++ Seq.fill(2)((false, false))
    val r = Learn.mcnemar(rows.toDF("a", "b"), "a", "b").collect().head
    assert((r.getAs[Long]("n00"), r.getAs[Long]("n01"),
      r.getAs[Long]("n10"), r.getAs[Long]("n11")) == ((2L, 4L, 1L, 3L)))
    // chi2 = (4-1)^2/5 = 1.8; delta = +3/5
    assert(r.getAs[Long]("chi2_micro") == 1800000L)
    assert(r.getAs[Long]("delta_micro") == 600000L)
    // B worse than A -> negative direction
    val r2 = Learn.mcnemar((Seq.fill(3)((true, false)) ++
      Seq((false, true))).toDF("a", "b"), "a", "b").collect().head
    assert(r2.getAs[Long]("delta_micro") == -500000L)
    // no discordant pairs -> NULL statistic, not a division blowup
    val r3 = Learn.mcnemar(Seq((true, true), (false, false))
      .toDF("a", "b"), "a", "b").collect().head
    assert(r3.isNullAt(r3.fieldIndex("chi2_micro")))
    // null rows excluded
    val r4 = Learn.mcnemar(Seq[(java.lang.Boolean, java.lang.Boolean)](
      (true, null), (true, false)).toDF("a", "b"), "a", "b").collect().head
    assert(r4.getAs[Long]("n10") == 1L && r4.getAs[Long]("n11") == 0L)
  }

  test("cliffsDelta: hand pairs with ties, perfect separation, sign") {
    // g1 = {1,2,3}, g2 = {2,4}: gt=1, lt=4, tie=1 -> delta = -3/6
    val rows = Seq((true, 1.0), (true, 2.0), (true, 3.0),
      (false, 2.0), (false, 4.0))
    val r = Learn.cliffsDelta(rows.toDF("g", "v"), "g", "v").collect().head
    assert((r.getAs[Long]("n1"), r.getAs[Long]("n2"),
      r.getAs[Long]("gt_pairs"), r.getAs[Long]("lt_pairs")) ==
      ((3L, 2L, 1L, 4L)))
    assert(r.getAs[Long]("delta_micro") == -500000L)
    // all of group1 above group2 -> +1.0 exactly
    val sep = Seq((true, 10.0), (true, 11.0), (false, 1.0))
    val rs = Learn.cliffsDelta(sep.toDF("g", "v"), "g", "v").collect().head
    assert(rs.getAs[Long]("delta_micro") == 1000000L)
    // identical distributions -> 0
    val same = Seq((true, 5.0), (false, 5.0))
    assert(Learn.cliffsDelta(same.toDF("g", "v"), "g", "v")
      .collect().head.getAs[Long]("delta_micro") == 0L)
  }

  test("tvDistance: hand distributions incl. one-sided categories") {
    // g1: a,a,b (n1=3); g2: a,c (n2=2)
    // tv_num = |2*2-1*3| + |1*2-0| + |0-1*3| = 1+2+3 = 6; TV = 6/12 = 0.5
    val rows = Seq((true, "a"), (true, "a"), (true, "b"),
      (false, "a"), (false, "c"))
    val r = Learn.tvDistance(rows.toDF("g", "c"), "g", "c").collect().head
    assert((r.getAs[Long]("n1"), r.getAs[Long]("n2"),
      r.getAs[Long]("n_cats"), r.getAs[Long]("tv_num")) ==
      ((3L, 2L, 3L, 6L)))
    assert(r.getAs[Long]("tv_micro") == 500000L)
    // identical distributions -> 0; disjoint supports -> exactly 1
    val same = Seq((true, "x"), (false, "x"))
    assert(Learn.tvDistance(same.toDF("g", "c"), "g", "c")
      .collect().head.getAs[Long]("tv_micro") == 0L)
    val disj = Seq((true, "x"), (false, "y"))
    assert(Learn.tvDistance(disj.toDF("g", "c"), "g", "c")
      .collect().head.getAs[Long]("tv_micro") == 1000000L)
  }

  test("gwetAC1: textbook panel, dropped items, single-category null") {
    // 4 complete items: (y,y),(y,y),(y,n),(n,n) + 1 dropped (1 rating)
    // n=4 a=3 m_y=5 m_n=3 K=2: pen=5*3+3*5=30
    // num = 4*4*1*3-30 = 18; den = 4*16*1-30 = 34 -> floor(18e6/34)
    val rows = Seq((1L, 0L, "y"), (1L, 1L, "y"), (2L, 0L, "y"),
      (2L, 1L, "y"), (3L, 0L, "y"), (3L, 1L, "n"), (4L, 0L, "n"),
      (4L, 1L, "n"), (5L, 0L, "y"))
    val r = Learn.gwetAC1(rows.toDF("i", "r", "c"), "i", "r", "c")
      .collect().head
    assert((r.getAs[Long]("n_items"), r.getAs[Long]("agree"),
      r.getAs[Long]("k_cats"), r.getAs[Long]("pe_num"),
      r.getAs[Long]("dropped_items")) == ((4L, 3L, 2L, 30L, 1L)))
    assert(r.getAs[Long]("ac1_micro") == 529411L)
    // all raters always say the same single category -> K=1 -> NULL
    val uni = Seq((1L, 0L, "y"), (1L, 1L, "y"))
    val ru = Learn.gwetAC1(uni.toDF("i", "r", "c"), "i", "r", "c")
      .collect().head
    assert(ru.isNullAt(ru.fieldIndex("ac1_micro")))
    // kappa-paradox regime: AC1 stays high where kappa collapses
    // 9 items (y,y), 1 item (y,n): po=0.9, skewed prevalence
    val skew = (1L to 9L).flatMap(i => Seq((i, 0L, "y"), (i, 1L, "y"))) ++
      Seq((10L, 0L, "y"), (10L, 1L, "n"))
    val rk = Learn.gwetAC1(skew.toDF("i", "r", "c"), "i", "r", "c")
      .collect().head
    assert(rk.getAs[Long]("ac1_micro") > 850000L)
  }

  test("concentration: hand HHI/Simpson, uniform vs point mass, n=1 guard") {
    // a,a,a,b: N=4 sum_sq=10 coll=6 -> HHI=10/16, Simpson=6/12
    val r = Learn.concentration(Seq("a", "a", "a", "b").toDF("c"), "c")
      .collect().head
    assert((r.getAs[Long]("n"), r.getAs[Long]("n_cats"),
      r.getAs[Long]("sum_sq"), r.getAs[Long]("coll_num")) ==
      ((4L, 2L, 10L, 6L)))
    assert(r.getAs[Long]("hhi_micro") == 625000L)
    assert(r.getAs[Long]("simpson_micro") == 500000L)
    // point mass -> both exactly 1
    val p = Learn.concentration(Seq("x", "x").toDF("c"), "c").collect().head
    assert(p.getAs[Long]("hhi_micro") == 1000000L &&
      p.getAs[Long]("simpson_micro") == 1000000L)
    // uniform over 4 -> HHI = 1/4; Simpson = 0 (no collision possible)
    val u = Learn.concentration(Seq("a", "b", "c", "d").toDF("c"), "c")
      .collect().head
    assert(u.getAs[Long]("hhi_micro") == 250000L &&
      u.getAs[Long]("simpson_micro") == 0L)
    // n=1: Simpson undefined (N-1 = 0) -> NULL, HHI = 1
    val one = Learn.concentration(Seq("z").toDF("c"), "c").collect().head
    assert(one.getAs[Long]("hhi_micro") == 1000000L &&
      one.isNullAt(one.fieldIndex("simpson_micro")))
  }

  test("srmCheck: hand chi2, zero-observed design arm, unexpected lane") {
    // design 500/500, observed a:6 b:4 plus 2 rows in an unknown arm
    val rows = (Seq.fill(6)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c"))
      .toDF("arm")
    val got = Learn.srmCheck(rows, "arm", Map("a" -> 500L, "b" -> 500L))
      .collect().map(r => r.getAs[String]("arm") -> r).toMap
    assert(got.size == 2)
    // num_a = 1000*6 - 10*500 = 1000; term = 1e6*1e6/(1000*10*500)
    assert(got("a").getAs[Long]("n") == 6L &&
      got("a").getAs[Long]("num") == 1000L &&
      got("a").getAs[Long]("term_micro") == 200000L)
    assert(got("b").getAs[Long]("num") == -1000L &&
      got("b").getAs[Long]("term_micro") == 200000L)
    assert(got("a").getAs[Long]("srm_micro") == 400000L)
    assert(got("a").getAs[Long]("unexpected_rows") == 2L)
    // a designed arm NOBODY reached still gets its row (the worst
    // SRM must be visible)
    val g2 = Learn.srmCheck(Seq("a").toDF("arm"), "arm",
        Map("a" -> 500L, "b" -> 300L, "c" -> 200L))
      .collect().map(r => r.getAs[String]("arm") -> r).toMap
    assert(g2.size == 3 && g2("c").getAs[Long]("n") == 0L)
    // N=1: terms 500000 + 300000 + 200000
    assert(g2("a").getAs[Long]("srm_micro") == 1000000L)
    // weights must sum to 1000
    intercept[IllegalArgumentException] {
      Learn.srmCheck(rows, "arm", Map("a" -> 600L, "b" -> 500L))
    }
  }

  test("logRank: hand risk table, censoring holds risk set, null guard") {
    // g1: t=1 event, t=3 event; g0: t=2 event, t=4 CENSORED
    // event-time table: t=1 (n=4,n1=2,d=1,d1=1), t=2 (n=3,n1=1,d=1),
    // t=3 (n=2,n1=1,d=1,d1=1); censored t=4 row holds risk only
    val rows = Seq((true, 1L, 1L), (true, 3L, 1L),
      (false, 2L, 1L), (false, 4L, 0L))
    val r = Learn.logRank(rows.toDF("g", "t", "e"), "g", "t", "e")
      .collect().head
    // e1 = 500000 + 333333 + 500000; staged v = 250000+222222+250000
    assert((r.getAs[Long]("d1"), r.getAs[Long]("d_total"),
      r.getAs[Long]("e1_micro"), r.getAs[Long]("v_micro")) ==
      ((2L, 3L, 1333333L, 722222L)))
    assert(r.getAs[Long]("oe_micro") == 666667L)
    assert(r.getAs[Long]("chi2_micro") == 666667L * 666667L / 722222L)
    // identical groups -> oe ~ 0 exactly (symmetric table)
    val sym = Seq((true, 1L, 1L), (false, 1L, 1L),
      (true, 2L, 1L), (false, 2L, 1L))
    val rs = Learn.logRank(sym.toDF("g", "t", "e"), "g", "t", "e")
      .collect().head
    assert(rs.getAs[Long]("oe_micro") == 0L)
    // no events at all -> V = 0 -> chi2 NULL, not a division blowup
    val cens = Seq((true, 1L, 0L), (false, 2L, 0L))
    val rc = Learn.logRank(cens.toDF("g", "t", "e"), "g", "t", "e")
      .collect().head
    assert(rc.getAs[Long]("d_total") == 0L &&
      rc.isNullAt(rc.fieldIndex("chi2_micro")))
  }

  test("kruskalWallis: hand floor chain, all-tied guard, tracks H at size") {
    def run(rows: Seq[(String, Double)]) = {
      val r = Learn.kruskalWallis(rows.toDF("g", "v"), "g", "v")
        .collect().head
      (r.getAs[Long]("n"), r.getAs[Long]("k_groups"),
        r.getAs[Long]("h_micro"), r.getAs[Long]("tie_t"),
        if (r.isNullAt(r.fieldIndex("h_corr_micro"))) null
        else java.lang.Long.valueOf(r.getAs[Long]("h_corr_micro")))
    }
    // A:{1,2} B:{3} C:{4,5}: doubled ranks 2,4,6,8,10 -> floor chain
    // s1 = (3,7,32), t3 = (1.5e6, 3.5e6, 16e6), h = 21e6 - 18e6
    val hand = Seq("A" -> 1.0, "A" -> 2.0, "B" -> 3.0,
      "C" -> 4.0, "C" -> 5.0)
    assert(run(hand) == ((5L, 3L, 3000000L, 0L,
      java.lang.Long.valueOf(3000000L))))
    // every value tied: correction denominator hits zero -> NULL
    val allTied = Seq("A" -> 7.0, "A" -> 7.0, "B" -> 7.0, "B" -> 7.0)
    assert(run(allTied) == ((4L, 2L, -600000L, 60L, null)))
    // at realistic size the floor chain tracks the textbook H
    val rnd = new scala.util.Random(31)
    val big = Seq.tabulate(240)(i =>
      (s"g${i % 3}", rnd.nextInt(40).toDouble + (i % 3) * 2.0))
    val got = run(big)
    // reference double H over milli-quantized values with midranks
    // (midrank = cumBefore + (c+1)/2)
    val vals = big.map { case (g, v) => (g, math.floor(v * 1000).toLong) }
    val n = vals.size
    val cums = vals.map(_._2).groupBy(identity).view.mapValues(_.size)
      .toSeq.sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (v, c)) =>
        (v, c.toLong, cum + c) }.drop(1)
      .map { case (v, c, cum) => v -> ((cum - c) + (c + 1) / 2.0) }.toMap
    val rsum = vals.groupBy(_._1).view.mapValues(vs =>
      (vs.size, vs.map(x => cums(x._2)).sum)).toMap
    val h = 12.0 / (n.toDouble * (n + 1)) *
      rsum.values.map { case (nj, rj) => rj * rj / nj }.sum - 3.0 * (n + 1)
    assert(math.abs(got._3 - h * 1e6) < 3 * 3000000.0 / n * 3 + 50000,
      s"h_micro ${got._3} vs double ${h * 1e6}")
  }

  test("friedmanTest: perfect ordering, within-block ties, dropped blocks") {
    def run(rows: Seq[(Long, String, Double)]) = {
      val out = Learn.friedmanTest(rows.toDF("b", "t", "v"),
        "b", "t", "v", k = 3).collect()
      (out.map(r => r.getAs[String]("treatment") ->
        r.getAs[Long]("rank_sum2")).toMap,
        out.head.getAs[Long]("n_blocks"),
        out.head.getAs[Long]("dropped_blocks"),
        out.head.getAs[Long]("chi2_micro"))
    }
    // A always best, C always worst across 3 blocks -> max chi2 = 6
    val perfect = for (b <- 1L to 3L; (t, v) <- Seq("A" -> 1.0,
      "B" -> 2.0, "C" -> 3.0)) yield (b, t, v + b)
    assert(run(perfect.toSeq) ==
      ((Map("A" -> 6L, "B" -> 12L, "C" -> 18L), 3L, 0L, 6000000L)))
    // an incomplete block drops without disturbing the statistic
    val withTail = perfect.toSeq ++ Seq((9L, "A", 1.0), (9L, "B", 2.0))
    assert(run(withTail) ==
      ((Map("A" -> 6L, "B" -> 12L, "C" -> 18L), 3L, 1L, 6000000L)))
    // a within-block tie takes the doubled midrank (B=C -> dmr 5,5)
    val tied = (for (b <- 1L to 2L; (t, v) <- Seq("A" -> 1.0,
      "B" -> 2.0, "C" -> 3.0)) yield (b, t, v)) ++
      Seq((3L, "A", 1.0), (3L, "B", 7.0), (3L, "C", 7.0))
    val (sums, b2, d2, chi2) = run(tied.toSeq)
    assert(sums == Map("A" -> 6L, "B" -> 13L, "C" -> 17L))
    assert(b2 == 3L && d2 == 0L && chi2 == 4500000L)
  }

  test("cochranQ: textbook 2x2x... table, all-agree NULL, dropped blocks") {
    def run(rows: Seq[(Long, String, Boolean)]) = {
      val out = Learn.cochranQ(rows.toDF("b", "t", "y"), "b", "t", "y",
        k = 3).collect()
      (out.map(r => r.getAs[String]("treatment") ->
        r.getAs[Long]("passes")).toMap,
        out.head.getAs[Long]("n_blocks"),
        out.head.getAs[Long]("dropped_blocks"),
        if (out.head.isNullAt(out.head.fieldIndex("q_micro"))) null
        else java.lang.Long.valueOf(out.head.getAs[Long]("q_micro")))
    }
    // T=(3,2,1), R=(2,1,3,0): Q = 2*(3*14-36)/(18-14) = 3
    val hand = Seq(
      (1L, "A", true), (1L, "B", true), (1L, "C", false),
      (2L, "A", true), (2L, "B", false), (2L, "C", false),
      (3L, "A", true), (3L, "B", true), (3L, "C", true),
      (4L, "A", false), (4L, "B", false), (4L, "C", false))
    assert(run(hand) == ((Map("A" -> 3L, "B" -> 2L, "C" -> 1L),
      4L, 0L, java.lang.Long.valueOf(3000000L))))
    // every block unanimous -> zero denominator -> NULL
    val agree = Seq((1L, "A", true), (1L, "B", true), (1L, "C", true),
      (2L, "A", false), (2L, "B", false), (2L, "C", false))
    assert(run(agree)._4 == null)
    // incomplete block drops, statistic unchanged
    val tail = hand ++ Seq((9L, "A", true))
    assert(run(tail) == ((Map("A" -> 3L, "B" -> 2L, "C" -> 1L),
      4L, 1L, java.lang.Long.valueOf(3000000L))))
  }

  test("preferenceCycles: RPS triad, both rotations, ties drop, transitive clean") {
    def run(cmp: Seq[(Long, Long)]) = {
      val r = Learn.preferenceCycles(cmp.toDF("w", "l"), "w", "l")
        .collect().head
      (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_edges"),
        r.getAs[Long]("n_triads"), r.getAs[Long]("n_cycles"))
    }
    // rock-paper-scissors, each direction twice -> one cyclic triad
    val rps = Seq((1L, 2L), (1L, 2L), (2L, 3L), (2L, 3L),
      (3L, 1L), (3L, 1L))
    assert(run(rps) == ((3L, 3L, 1L, 1L)))
    // the BACKWARD rotation is a cycle too
    val back = Seq((2L, 1L), (3L, 2L), (1L, 3L))
    assert(run(back) == ((3L, 3L, 1L, 1L)))
    // transitive triangle: a triad, but no cycle
    val trans = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(run(trans) == ((3L, 3L, 1L, 0L)))
    // a TIED pair carries no direction: the triad dissolves
    val tied = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L))
    assert(run(tied) == ((3L, 2L, 0L, 0L)))
    // cycle_micro: one cycle among two triads (add a transitive
    // triangle sharing nothing) -> 500000
    val mixed = rps ++ Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val r = Learn.preferenceCycles(mixed.toDF("w", "l"), "w", "l")
      .collect().head
    assert(r.getAs[Long]("n_triads") == 2L &&
      r.getAs[Long]("cycle_micro") == 500000L)
  }

  test("cliffsDelta: randomized all-pairs brute-force parity, partition-stable") {
    val rnd = new scala.util.Random(17)
    // small value range -> heavy ties, both groups present
    val rows = Seq.tabulate(160)(i =>
      (i % 3 == 0, rnd.nextInt(12).toDouble / 2))
    val g1 = rows.filter(_._1).map(v => math.floor(v._2 * 1000).toLong)
    val g2 = rows.filterNot(_._1).map(v => math.floor(v._2 * 1000).toLong)
    val gt = (for (a <- g1; b <- g2) yield if (a > b) 1L else 0L).sum
    val lt = (for (a <- g1; b <- g2) yield if (a < b) 1L else 0L).sum
    val expect = (if (gt >= lt) 1L else -1L) *
      (1000000L * math.abs(gt - lt) / (g1.size.toLong * g2.size))
    val df = rows.toDF("g", "v")
    def got(d: org.apache.spark.sql.DataFrame) =
      Learn.cliffsDelta(d, "g", "v").collect().head
    val r = got(df)
    assert((r.getAs[Long]("gt_pairs"), r.getAs[Long]("lt_pairs")) ==
      ((gt, lt)))
    assert(r.getAs[Long]("delta_micro") == expect)
    // partitioning must not leak into any lane
    assert(got(df.repartition(13)).toSeq == r.toSeq)
  }

  test("gwetAC1: randomized panels track the textbook formula") {
    val rnd = new scala.util.Random(29)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 17
      val rows = (1L to n.toLong).flatMap { i =>
        val base = rnd.nextInt(4)
        val r2 = if (rnd.nextInt(5) == 0) rnd.nextInt(4) else base
        Seq((i, 0L, base.toString), (i, 1L, r2.toString))
      }
      val got = Learn.gwetAC1(rows.toDF("i", "r", "c"), "i", "r", "c")
        .collect().head
      // reference: double-precision AC1 from the definition
      val byItem = rows.groupBy(_._1).values.toSeq
      val agree = byItem.count(p => p.map(_._3).distinct.size == 1)
      val cats = rows.map(_._3).distinct.sorted
      val k = cats.size
      val po = agree.toDouble / n
      val pe = cats.map { c =>
        val pi = rows.count(_._3 == c).toDouble / (2 * n)
        pi * (1 - pi) / (k - 1)
      }.sum
      val ac1 = (po - pe) / (1 - pe)
      val micro = got.getAs[Long]("ac1_micro")
      assert(math.abs(micro - ac1 * 1e6) <= 2,
        s"trial $trial: micro $micro vs double ${ac1 * 1e6}")
    }
  }

  test("jonckheereTerpstra: hand pairs, tie-corrected variance, grid guard") {
    // g0={1,2} g1={2,3} g2={4,5}: pair contributions 7+8+8 -> JT2=23
    val rows = Seq((0L, 1.0), (0L, 2.0), (1L, 2.0), (1L, 3.0),
      (2L, 4.0), (2L, 5.0))
    val out = Learn.jonckheereTerpstra(rows.toDF("g", "v"), "g", "v")
      .collect().head
    assert(out.getAs[Long]("n") == 6L && out.getAs[Long]("k_groups") == 3L)
    assert(out.getAs[Long]("jt2") == 23L)
    // e_jt2 = (36 - 12)/2; Var(JT) = 438/72 + 0 + 12/240 = 6.1333...
    // and the lane is Var(JT2) = 4*Var(JT) = 24.5333... (doubled
    // statistic, doubled-consistent variance — the pageTrend rule)
    assert(out.getAs[Long]("e_jt2") == 12L)
    assert(out.getAs[Long]("var_micro") == 24533333L)
    // n < 3 -> variance NULL, statistic still defined
    val tiny = Learn.jonckheereTerpstra(
      Seq((0L, 1.0), (1L, 2.0)).toDF("g", "v"), "g", "v").collect().head
    assert(tiny.getAs[Long]("jt2") == 2L &&
      tiny.isNullAt(tiny.fieldIndex("var_micro")))
    // grid guard raises loudly
    val err = intercept[Exception] {
      Learn.jonckheereTerpstra(rows.toDF("g", "v"), "g", "v",
        maxGrid = 2L).collect()
    }
    assert(err.getMessage != null &&
      err.getMessage.contains("jonckheereTerpstra"))
  }

  test("pageTrend: perfect trend, dropped blocks, non-numeric raises") {
    // 3 blocks, values 1<2<3 for treatments 0<1<2 -> L2 = 84
    val perfect = for (b <- 1L to 3L; (t, v) <- Seq(0L -> 1.0,
      1L -> 2.0, 2L -> 3.0)) yield (b, t, v + b)
    val out = Learn.pageTrend(perfect.toDF("b", "t", "v"),
      "b", "t", "v", k = 3).collect()
    val sums = out.map(r => r.getAs[String]("treatment") ->
      (r.getAs[Long]("order_idx"), r.getAs[Long]("rank_sum2"))).toMap
    assert(sums == Map("0" -> ((1L, 6L)), "1" -> ((2L, 12L)),
      "2" -> ((3L, 18L))))
    val h = out.head
    assert(h.getAs[Long]("l2") == 84L && h.getAs[Long]("e_l2") == 72L &&
      h.getAs[Long]("n_blocks") == 3L &&
      h.getAs[Long]("dropped_blocks") == 0L &&
      h.getAs[Long]("var_micro") == 24000000L)
    // incomplete block drops without disturbing the statistic
    val tail = perfect ++ Seq((9L, 0L, 1.0))
    val t2 = Learn.pageTrend(tail.toDF("b", "t", "v"),
      "b", "t", "v", k = 3).collect().head
    assert(t2.getAs[Long]("l2") == 84L &&
      t2.getAs[Long]("dropped_blocks") == 1L)
    // non-numeric treatment label raises loudly
    val bad = Seq((1L, "A", 1.0), (1L, "B", 2.0), (1L, "C", 3.0))
    val err = intercept[Exception] {
      Learn.pageTrend(bad.toDF("b", "t", "v"), "b", "t", "v", k = 3)
        .collect()
    }
    assert(err.getMessage != null && err.getMessage.contains("pageTrend"))
  }

  test("kendallW: unanimity W=1, ties, dropped raters") {
    // 3 raters agree on a<b<c exactly -> W = 1
    val unanimous = for (r <- 1L to 3L; (i, v) <- Seq("a" -> 1.0,
      "b" -> 2.0, "c" -> 3.0)) yield (r, i, v + r * 0.001)
    val out = Learn.kendallW(unanimous.toDF("r", "i", "v"),
      "r", "i", "v").collect()
    val sums = out.map(r => r.getAs[String]("item") ->
      r.getAs[Long]("rank_sum2")).toMap
    assert(sums == Map("a" -> 6L, "b" -> 12L, "c" -> 18L))
    val h = out.head
    assert(h.getAs[Long]("n_items") == 3L &&
      h.getAs[Long]("m_raters") == 3L &&
      h.getAs[Long]("dropped_raters") == 0L &&
      h.getAs[Long]("s4") == 72L && h.getAs[Long]("tie_tt") == 0L &&
      h.getAs[Long]("w_micro") == 1000000L)
    // rater 3 ties b=c: S4=62, TT=6 -> w = 186/198
    val tied = (for (r <- 1L to 2L; (i, v) <- Seq("a" -> 1.0,
      "b" -> 2.0, "c" -> 3.0)) yield (r, i, v)) ++
      Seq((3L, "a", 1.0), (3L, "b", 2.0), (3L, "c", 2.0))
    val t = Learn.kendallW(tied.toDF("r", "i", "v"), "r", "i", "v")
      .collect().head
    assert(t.getAs[Long]("s4") == 62L && t.getAs[Long]("tie_tt") == 6L &&
      t.getAs[Long]("w_micro") == 939393L)
    // a rater missing an item drops (and counts) without disturbing
    val dropped = unanimous ++ Seq((9L, "a", 1.0), (9L, "b", 2.0))
    val d = Learn.kendallW(dropped.toDF("r", "i", "v"), "r", "i", "v")
      .collect().head
    assert(d.getAs[Long]("m_raters") == 3L &&
      d.getAs[Long]("dropped_raters") == 1L &&
      d.getAs[Long]("w_micro") == 1000000L)
  }

  test("moodMedianTest: exact lower median, per-group terms, degenerate NULL") {
    // A={1,2,3} B={4,5,6}: lower median 3, a=b=3, both terms 3e6
    val rows = Seq(("A", 1.0), ("A", 2.0), ("A", 3.0),
      ("B", 4.0), ("B", 5.0), ("B", 6.0))
    val out = Learn.moodMedianTest(rows.toDF("g", "v"), "g", "v")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(out("A").getAs[Long]("n_j") == 3L &&
      out("A").getAs[Long]("above_j") == 0L &&
      out("A").getAs[Long]("term_micro") == 3000000L)
    assert(out("B").getAs[Long]("above_j") == 3L &&
      out("B").getAs[Long]("term_micro") == 3000000L)
    assert(out("A").getAs[Long]("n") == 6L &&
      out("A").getAs[Long]("above_total") == 3L &&
      out("A").getAs[Long]("median_milli") == 3000L)
    // all values equal -> nothing above the median -> terms NULL
    val flat = Learn.moodMedianTest(
      Seq(("A", 2.0), ("B", 2.0)).toDF("g", "v"), "g", "v").collect()
    assert(flat.forall(r => r.isNullAt(r.fieldIndex("term_micro"))))
  }

  test("mannKendall: monotone verdicts, ties, order tiebreak") {
    def run(rows: Seq[(Long, Long, Long, Double)]) =
      Learn.mannKendall(rows.toDF("k", "o", "e", "v"), "k",
        col("o"), col("e"), "v")
        .collect().map(r => r.getAs[Long]("key") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("s"),
            r.getAs[Long]("var18"), r.getAs[String]("trend")))).toMap
    // key 1: strictly increasing n=10 -> S=45, significant inc;
    // key 2: decreasing -> dec; key 3: n=3 too short -> none
    val rows = (1L to 10L).map(i => (1L, i, i, i.toDouble)) ++
      (1L to 10L).map(i => (2L, i, i, -i.toDouble)) ++
      (1L to 3L).map(i => (3L, i, i, i.toDouble))
    val got = run(rows)
    assert(got(1L) == ((10L, 45L, 2250L, "inc")))
    assert(got(2L) == ((10L, -45L, 2250L, "dec")))
    assert(got(3L) == ((3L, 3L, 66L, "none")))
    // tied values: series 1,1,2 -> S=2, var18 = 66 - 18 = 48
    assert(run(Seq((4L, 1L, 1L, 1.0), (4L, 2L, 2L, 1.0),
      (4L, 3L, 3L, 2.0)))(4L) == ((3L, 2L, 48L, "none")))
    // duplicate order breaks by tie column: 5,3,4 -> two inversions
    assert(run(Seq((5L, 1L, 1L, 5.0), (5L, 1L, 2L, 3.0),
      (5L, 2L, 3L, 4.0)))(5L)._2 == -1L)
    // null key / order / tie rows DROP under the filter discipline
    // instead of detonating the non-nullable Long encoder (r14
    // advice) — same verdict as the clean key-1 series above
    val withNulls = Learn.mannKendall(
      ((1L to 10L).map(i => (Option(1L), Option(i), Option(i),
          Option(i.toDouble))) ++ Seq(
        (None, Option(1L), Option(1L), Option(9.0)),
        (Option(1L), None, Option(1L), Option(9.0)),
        (Option(1L), Option(1L), None, Option(9.0))))
        .toDF("k", "o", "e", "v"), "k", col("o"), col("e"), "v")
      .collect().map(r => r.getAs[Long]("key") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("s"),
          r.getAs[Long]("var18"), r.getAs[String]("trend")))).toMap
    assert(withNulls.size == 1)
    // the 10 clean rows give S=45 inc; key-1's two null-order/tie
    // rows dropped (they'd otherwise add value 9.0 twice)
    assert(withNulls(1L) == ((10L, 45L, 2250L, "inc")))
  }

  test("exactQuantiles: lower-quantile ranks, ties, q extremes (r15)") {
    // group A: milli 1000..10000 in 1000 steps (n=10): rank(q) =
    // ceil(10q/1000) -> p250 = rank 3 = 3000, p500 = rank 5, p990 =
    // rank 10 = 10000, p1 = rank 1 = 1000
    // group B: 5x the value 7.0 -> every quantile = 7000
    val rows = (1L to 10L).map(i => ("A", i.toDouble)) ++
      (1 to 5).map(_ => ("B", 7.0))
    val got = Learn.exactQuantiles(rows.toDF("g", "v"), "g", "v",
        Seq(1L, 250L, 500L, 990L, 1000L))
      .collect().map(r => (r.getAs[String]("group"),
        r.getAs[Long]("q_milli")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("value_milli")))).toMap
    assert(got(("A", 1L)) == ((10L, 1000L)))
    assert(got(("A", 250L)) == ((10L, 3000L)))
    assert(got(("A", 500L)) == ((10L, 5000L)))
    assert(got(("A", 990L)) == ((10L, 10000L)))
    assert(got(("A", 1000L)) == ((10L, 10000L)))
    assert(Seq(1L, 250L, 500L, 990L, 1000L).forall(q =>
      got(("B", q)) == ((5L, 7000L))))
    assert(got.size == 10)
    // bad quantiles refused loudly
    intercept[IllegalArgumentException] {
      Learn.exactQuantiles(rows.toDF("g", "v"), "g", "v", Seq(0L))
    }
    intercept[IllegalArgumentException] {
      Learn.exactQuantiles(rows.toDF("g", "v"), "g", "v", Seq(500L, 500L))
    }
  }

  test("rank-family batch ops: non-castable values DROP, never corrupt (r16)") {
    // a string value column with one junk row: the cast filter must
    // drop it (the mannKendall r15-advice discipline, applied to the
    // whole family this round)
    val rows = Seq((1L, 1L, "5.0"), (1L, 2L, "abc"), (1L, 3L, "7.0"),
      (1L, 4L, "6.0")).toDF("k", "o", "v")
    val clean = Seq((1L, 1L, 5.0), (1L, 3L, 7.0), (1L, 4L, 6.0))
      .toDF("k", "o", "v")
    def rt(df: org.apache.spark.sql.DataFrame) =
      Learn.runsTestAt(df, "k", col("o"), col("o"), "v", 5500L)
        .collect().map(_.toSeq).toSeq
    assert(rt(rows) == rt(clean))
    def pt(df: org.apache.spark.sql.DataFrame) =
      Learn.pettittTest(df, "k", col("o"), col("o"), "v")
        .collect().map(_.toSeq).toSeq
    assert(pt(rows) == pt(clean))
    def dw(df: org.apache.spark.sql.DataFrame) =
      Learn.durbinWatson(df, "k", col("o"), col("o"), "v")
        .collect().map(_.toSeq).toSeq
    assert(dw(rows) == dw(clean))
    def eq(df: org.apache.spark.sql.DataFrame) =
      Learn.exactQuantiles(df.withColumnRenamed("k", "g"), "g", "v",
        Seq(500L)).collect().map(_.toSeq).toSeq
    assert(eq(rows) == eq(clean))
  }

  test("exactQuantilesWeighted: replication equivalence, zero drop, " +
    "negative raise, weight-1 == unweighted (r16)") {
    val qs = Seq(250L, 500L, 900L, 990L)
    // integer weights == row replication of the unweighted kernel
    val weighted = Seq(("A", 1.0, 3L), ("A", 2.0, 1L), ("A", 5.0, 6L),
      ("B", 4.0, 2L), ("B", 9.0, 0L)) // B's 9.0 has weight 0 -> absent
    val replicated = weighted.flatMap { case (g, v, w) =>
      Seq.fill(w.toInt)((g, v)) }
    val gotW = Learn.exactQuantilesWeighted(
        weighted.toDF("g", "v", "w"), "g", "v", col("w"), qs)
      .collect().map(r => (r.getAs[String]("group"),
        r.getAs[Long]("q_milli")) ->
        ((r.getAs[Long]("total_weight"), r.getAs[Long]("value_milli"))))
      .toMap
    val gotR = Learn.exactQuantiles(
        replicated.toDF("g", "v"), "g", "v", qs)
      .collect().map(r => (r.getAs[String]("group"),
        r.getAs[Long]("q_milli")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("value_milli")))).toMap
    assert(gotW == gotR, s"$gotW != $gotR")
    // zero-weight 9.0 never surfaces even at q=990
    assert(gotW(("B", 990L))._2 == 4000L)
    // weight 1 everywhere == the unweighted operator exactly
    val rows = (1L to 10L).map(i => ("A", i.toDouble, 1L))
    val a = Learn.exactQuantilesWeighted(rows.toDF("g", "v", "w"),
        "g", "v", col("w"), qs)
      .withColumnRenamed("total_weight", "n").collect().toSet
    val b = Learn.exactQuantiles(
      rows.map(t => (t._1, t._2)).toDF("g", "v"), "g", "v", qs)
      .collect().toSet
    assert(a == b)
    // a negative weight raises in-plan, never corrupts ranks
    val err = intercept[Exception] {
      Learn.exactQuantilesWeighted(
        Seq(("A", 1.0, -2L)).toDF("g", "v", "w"), "g", "v", col("w"),
        qs).collect()
    }
    assert(err.getMessage != null &&
      err.getMessage.contains("negative weight"))
  }

  test("runsTest: hand runs, at-median drops, alternation extremes (r15)") {
    def run(rows: Seq[(Long, Long, Double)]) =
      Learn.runsTest(rows.toDF("k", "o", "v"), "k", col("o"), col("o"), "v")
        .collect().map(r => r.getAs[Long]("key") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("n1"), r.getAs[Long]("n2"),
            r.getAs[Long]("r"), r.getAs[Long]("e_r_micro"),
            r.getAs[Long]("var_micro")))).toMap
    // key 1: values 1,1,2,2 -> lower median 1 (rank (4+1)//2 = 2);
    // at-median rows (the two 1s) DROP -> n=2 all-above -> 1 run,
    // n1=2, n2=0: E[R] = (2 + 0)/2 + 1 = 1 exactly, Var = 0
    // key 2: 1,9,1,9,1,9 -> median 1 drops three -> 9s only: 1 run
    // key 3: 1,9,2,8,3,7,4,6 -> lower median = rank-4 element = 4,
    //   which IS present and drops -> 7 rows, signs -+-+-++ ->
    //   6 runs, n1=4 above, n2=3 below: E[R] = (7 + 24)/7 ->
    //   4428571; Var = 10^6*24*(24-7)/(49*6) = 1387755 (floor)
    val got = run(
      Seq((1L, 1L, 1.0), (1L, 2L, 1.0), (1L, 3L, 2.0), (1L, 4L, 2.0)) ++
      Seq((2L, 1L, 1.0), (2L, 2L, 9.0), (2L, 3L, 1.0), (2L, 4L, 9.0),
        (2L, 5L, 1.0), (2L, 6L, 9.0)) ++
      Seq((3L, 1L, 1.0), (3L, 2L, 9.0), (3L, 3L, 2.0), (3L, 4L, 8.0),
        (3L, 5L, 3.0), (3L, 6L, 7.0), (3L, 7L, 4.0), (3L, 8L, 6.0)))
    assert(got(1L) == ((2L, 2L, 0L, 1L, 1000000L, 0L)), s"k1 ${got(1L)}")
    assert(got(2L) == ((3L, 3L, 0L, 1L, 1000000L, 0L)), s"k2 ${got(2L)}")
    assert(got(3L) == ((7L, 4L, 3L, 6L, 4428571L, 1387755L)),
      s"k3 ${got(3L)}")
    // sorted sequence = minimal runs: 1..8 -> median 4 drops ->
    // 3 below, 4 above in order -> exactly 2 runs (clumped verdict)
    assert(run((1L to 8L).map(i => (9L, i, i.toDouble)))(9L)._4 == 2L)
    // the fixed-threshold (SPC) form equals the median form when the
    // threshold IS the median (shared census tail, r15)
    val rows9 = (1L to 8L).map(i => (9L, i, i.toDouble))
    val atMed = Learn.runsTestAt(rows9.toDF("k", "o", "v"), "k",
        col("o"), col("o"), "v", thresholdMilli = 4000L)
      .collect().map(r => (r.getAs[Long]("n"), r.getAs[Long]("n1"),
        r.getAs[Long]("n2"), r.getAs[Long]("r"))).head
    assert(atMed == ((7L, 4L, 3L, 2L)), s"atMed $atMed")
  }

  test("durbinWatson: hand lags, constant series, independence scale (r15)") {
    def run(rows: Seq[(Long, Long, Double)]) =
      Learn.durbinWatson(rows.toDF("k", "o", "v"), "k", col("o"),
          col("o"), "v")
        .collect().map(r => r.getAs[Long]("key") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("num_milli2"),
            r.getAs[Long]("den_milli2"),
            if (r.isNullAt(r.fieldIndex("dw_micro"))) -1L
            else r.getAs[Long]("dw_micro")))).toMap
    // key 1: milli 1000,3000,2000 -> diffs 2000,-1000 -> num = 5e6,
    // den = 1+9+4 = 14e6 -> dw = 10^6*5/14 = 357142 (floor)
    // key 2: constant zeros -> den 0 -> NULL
    // key 3: perfect alternation -1,1,-1,1 -> num = 3*(2000^2)=12e6,
    // den = 4e6 -> dw = 3000000 (toward 4e6 = negative autocorr)
    val got = run(Seq((1L, 1L, 1.0), (1L, 2L, 3.0), (1L, 3L, 2.0),
      (2L, 1L, 0.0), (2L, 2L, 0.0),
      (3L, 1L, -1.0), (3L, 2L, 1.0), (3L, 3L, -1.0), (3L, 4L, 1.0)))
    assert(got(1L) == ((3L, 5000000L, 14000000L, 357142L)),
      s"k1 ${got(1L)}")
    assert(got(2L) == ((2L, 0L, 0L, -1L)))
    assert(got(3L) == ((4L, 12000000L, 4000000L, 3000000L)))
  }

  test("siegelTukey: zigzag ranks, extremes verdict, small-n none") {
    // g1={0,100} holds both extremes of {0,49,50,51,100}: zigzag
    // ranks 1,4,5,3,2 -> R1 = 3, U1 = 0, n too small for significance
    val small = Seq((true, 0.0, 1L), (false, 49.0, 2L),
      (false, 50.0, 3L), (false, 51.0, 4L), (true, 100.0, 5L))
    val s = Learn.siegelTukey(small.toDF("g", "v", "e"), "g", "v", "e")
      .collect().head
    assert(s.getAs[Long]("n1") == 2L && s.getAs[Long]("n2") == 3L &&
      s.getAs[Long]("r1") == 3L && s.getAs[Long]("u1") == 0L &&
      s.getAs[String]("dispersed") == "none")
    // 20 extreme g1 values around 21 central g2 values: R1 is the
    // minimum possible (210), U1 = 0, and the verdict flags g1
    val big = ((1 to 10).flatMap(i => Seq((true, 100.0 + i, 100L + i),
      (true, -(100.0 + i), 200L + i))) ++
      (-10 to 10).map(i => (false, i.toDouble, 300L + i)))
    val b = Learn.siegelTukey(big.toDF("g", "v", "e"), "g", "v", "e")
      .collect().head
    assert(b.getAs[Long]("n1") == 20L && b.getAs[Long]("n2") == 21L &&
      b.getAs[Long]("r1") == 210L && b.getAs[Long]("u1") == 0L &&
      b.getAs[String]("dispersed") == "g1")
  }

  test("hodgesLehmannShift: pairwise-difference lower median, guards") {
    // x={0,2}, y={10,20}: diffs 8,10,18,20 -> lower median 10
    val rows = Seq((false, 0.0), (false, 2.0), (true, 10.0),
      (true, 20.0))
    val out = Learn.hodgesLehmannShift(rows.toDF("g", "v"), "g", "v")
      .collect().head
    assert(out.getAs[Long]("n1") == 2L && out.getAs[Long]("n2") == 2L &&
      out.getAs[Long]("k_pairs") == 4L &&
      out.getAs[Long]("hl_shift_milli") == 10000L)
    // pure shift of the SAME distribution: y = x + 7 recovers 7000
    val shift = (1 to 5).map(i => (false, i.toDouble)) ++
      (1 to 5).map(i => (true, i + 7.0))
    val s = Learn.hodgesLehmannShift(shift.toDF("g", "v"), "g", "v")
      .collect().head
    assert(s.getAs[Long]("hl_shift_milli") == 7000L)
    // one empty group: NULL estimate, zero pairs
    val solo = Learn.hodgesLehmannShift(
      Seq((true, 1.0), (true, 2.0)).toDF("g", "v"), "g", "v")
      .collect().head
    assert(solo.getAs[Long]("k_pairs") == 0L &&
      solo.isNullAt(solo.fieldIndex("hl_shift_milli")))
    // difference-grid guard raises loudly
    val err = intercept[Exception] {
      Learn.hodgesLehmannShift(rows.toDF("g", "v"), "g", "v",
        maxGrid = 2L).collect()
    }
    assert(err.getMessage != null &&
      err.getMessage.contains("hodgesLehmannShift"))
  }

  test("andersonDarling: hand terms, tails weighted") {
    // g1={1,10} g2={5,6}: terms at i=1..3 are 333333, 0, 333333
    val rows = Seq((true, 1.0, 1L), (false, 5.0, 2L), (false, 6.0, 3L),
      (true, 10.0, 4L))
    val out = Learn.andersonDarling(rows.toDF("g", "v", "e"),
      "g", "v", "e").collect().head
    assert(out.getAs[Long]("n1") == 2L && out.getAs[Long]("n2") == 2L &&
      out.getAs[Long]("ad_micro") == 666666L)
    // interleaved identical-ish samples score far lower than a
    // separated pair of the same sizes
    def ad(rows: Seq[(Boolean, Double, Long)]) =
      Learn.andersonDarling(rows.toDF("g", "v", "e"), "g", "v", "e")
        .collect().head.getAs[Long]("ad_micro")
    val inter = (1 to 40).map(i => (i % 2 == 0, i.toDouble, i.toLong))
    val split = (1 to 40).map(i => (i <= 20, i.toDouble, i.toLong))
    assert(ad(split) > 10L * ad(inter),
      s"split ${ad(split)} vs inter ${ad(inter)}")
  }

  test("energyDistance: hand sums, pure shift, identical zero") {
    // x={0,2} y={10,20}: AA=10000 BB=2000 AB=56000 (milli), E=22.0
    val rows = Seq((false, 0.0), (false, 2.0), (true, 10.0),
      (true, 20.0))
    val out = Learn.energyDistance(rows.toDF("g", "v"), "g", "v")
      .collect().head
    assert(out.getAs[Long]("sum_aa") == 10000L &&
      out.getAs[Long]("sum_bb") == 2000L &&
      out.getAs[Long]("sum_ab") == 56000L &&
      out.getAs[Long]("e_micro") == 22000000L)
    // identical samples: E = 0 exactly
    val same = Seq((false, 1.0), (false, 7.0), (true, 1.0), (true, 7.0))
    assert(Learn.energyDistance(same.toDF("g", "v"), "g", "v")
      .collect().head.getAs[Long]("e_micro") == 0L)
    // ties inside a group contribute zero distance, not an error
    val tied = Seq((false, 5.0), (false, 5.0), (true, 5.0))
    assert(Learn.energyDistance(tied.toDF("g", "v"), "g", "v")
      .collect().head.getAs[Long]("e_micro") == 0L)
  }

  test("pettittTest: level shift located, K2 exact under ties") {
    // 1,1,1,5,5,5: dmr 4/10, U2 = -3,-6,-9,-6,-3,0 -> K2=9 at pos 3
    val rows = (1 to 6).map(i =>
      (1L, i.toLong, i.toLong, if (i <= 3) 1.0 else 5.0))
    val out = Learn.pettittTest(rows.toDF("k", "o", "e", "v"), "k",
      col("o"), col("e"), "v").collect().head
    assert(out.getAs[Long]("n") == 6L && out.getAs[Long]("k2") == 9L &&
      out.getAs[Long]("cp_pos") == 3L &&
      out.getAs[Long]("cp_order") == 3L)
    // a constant series has K2 = 0 (every u2 is 0)
    val flat = (1 to 5).map(i => (2L, i.toLong, i.toLong, 3.0))
    assert(Learn.pettittTest(flat.toDF("k", "o", "e", "v"), "k",
      col("o"), col("e"), "v").collect().head.getAs[Long]("k2") == 0L)
  }

  test("robustLocation: median/MAD/trim exact, outlier-immune") {
    // 1..9 plus an outlier 1000: median 5 (pos 6 of 10 -> lower
    // median = 5), MAD = lower median of |v-5| = {0..4,995} -> 2,
    // trim 10% (k=1): keep positions 2..9 = values 2..9 -> mean 5.5
    val rows = ((1 to 9).map(_.toDouble) :+ 1000.0).map(Tuple1(_))
    val out = Learn.robustLocation(rows.toDF("v"), "v",
      alphaMilli = 100L).collect().head
    assert(out.getAs[Long]("n") == 10L &&
      out.getAs[Long]("median_milli") == 5000L &&
      out.getAs[Long]("mad_milli") == 2000L &&
      out.getAs[Long]("trim_k") == 1L &&
      out.getAs[Long]("trimmed_mean_milli") == 5500L)
    // constant data: MAD 0, trimmed mean = the constant
    val const = Seq.fill(6)(Tuple1(3.0))
    val c = Learn.robustLocation(const.toDF("v"), "v").collect().head
    assert(c.getAs[Long]("median_milli") == 3000L &&
      c.getAs[Long]("mad_milli") == 0L &&
      c.getAs[Long]("trimmed_mean_milli") == 3000L)
    // negative values floor consistently
    val neg = Seq(-1.5, -0.5, 0.5).map(Tuple1(_))
    val nres = Learn.robustLocation(neg.toDF("v"), "v").collect().head
    assert(nres.getAs[Long]("median_milli") == -500L &&
      nres.getAs[Long]("trimmed_mean_milli") == -500L)
  }

  test("robustLocation: bounded-collect fast path == forced-distributed spine path (r18)") {
    // the driverGraph discipline: the count-gated driver selection and
    // the prefix-sum spine path must agree row-for-row on data with
    // ties, negatives and asymmetric tails — cap 0 forces the spines
    def run(): org.apache.spark.sql.Row = Learn.robustLocation(
      (Seq(-7.25, -7.25, -1.5, 0.0, 0.0, 0.0, 2.5, 2.5, 3.75, 100.0, 100.0)
        .map(Tuple1(_))).toDF("v"), "v", alphaMilli = 150L).collect().head
    val fast = run()
    spark.conf.set("spark.graft.driverStats.maxRuns", "0")
    val dist = try run()
      finally spark.conf.unset("spark.graft.driverStats.maxRuns")
    assert(fast == dist, s"fast=$fast dist=$dist")
  }

  test("etaSquared: textbook ANOVA decomposition, constant NULL") {
    // A={1,3} B={5,7}: SSB=16, SST=20 -> eta^2 = 0.8
    val rows = Seq(("A", 1.0), ("A", 3.0), ("B", 5.0), ("B", 7.0))
    val out = Learn.etaSquared(rows.toDF("c", "v"), "c", "v")
      .collect().map(r => r.getAs[String]("category") -> r).toMap
    assert(out("A").getAs[Long]("n_c") == 2L &&
      out("A").getAs[Long]("sum_milli") == 4000L &&
      out("A").getAs[Long]("n") == 4L &&
      out("A").getAs[Long]("eta2_micro") == 800000L)
    // category explains nothing when means coincide
    val flat = Seq(("A", 1.0), ("A", 3.0), ("B", 1.0), ("B", 3.0))
    assert(Learn.etaSquared(flat.toDF("c", "v"), "c", "v")
      .collect().head.getAs[Long]("eta2_micro") == 0L)
    // constant values: zero SST -> NULL, not division by zero
    val const = Seq(("A", 2.0), ("B", 2.0))
    val c = Learn.etaSquared(const.toDF("c", "v"), "c", "v")
      .collect().head
    assert(c.isNullAt(c.fieldIndex("eta2_micro")))
  }

  test("cramersV: perfect association V=1, independence V=0") {
    val perfect = Seq.fill(5)(("x", "p")) ++ Seq.fill(5)(("y", "q"))
    val p = Learn.cramersV(perfect.toDF("a", "b"), "a", "b")
      .collect().head
    assert(p.getAs[Long]("n") == 10L && p.getAs[Long]("r_cats") == 2L &&
      p.getAs[Long]("chi2_micro") == 10000000L &&
      p.getAs[Long]("v_milli") == 1000L)
    val indep = (for (a <- Seq("x", "y"); b <- Seq("p", "q");
      _ <- 1 to 4) yield (a, b))
    val i = Learn.cramersV(indep.toDF("a", "b"), "a", "b")
      .collect().head
    assert(i.getAs[Long]("chi2_micro") == 0L &&
      i.getAs[Long]("v_milli") == 0L)
    // degenerate 1xC table: V undefined
    val deg = Seq(("x", "p"), ("x", "q"))
    val d = Learn.cramersV(deg.toDF("a", "b"), "a", "b").collect().head
    assert(d.isNullAt(d.fieldIndex("v_milli")))
  }

  test("poissonBootstrap: deterministic draws, Poisson(1) statistics") {
    val rows = (1L to 2000L).map(i => (i, (i % 100).toDouble))
    val df = rows.toDF("id", "v")
    val a = Learn.poissonBootstrap(df, "id", "v", b = 20, seed = 3L)
      .collect().map(r => r.getAs[Long]("rep") ->
        ((r.getAs[Long]("n_eff"), r.getAs[Long]("sum_milli"),
          r.getAs[Long]("mean_milli")))).toMap
    assert(a.size == 20)
    // deterministic: an identical run reproduces every replicate
    val a2 = Learn.poissonBootstrap(df, "id", "v", b = 20, seed = 3L)
      .collect().map(r => r.getAs[Long]("rep") ->
        ((r.getAs[Long]("n_eff"), r.getAs[Long]("sum_milli"),
          r.getAs[Long]("mean_milli")))).toMap
    assert(a == a2)
    // a different seed draws differently
    val b3 = Learn.poissonBootstrap(df, "id", "v", b = 20, seed = 4L)
      .collect().map(r => r.getAs[Long]("rep") ->
        r.getAs[Long]("n_eff")).toMap
    assert((0L until 20L).exists(r => b3(r) != a(r)._1))
    // Poisson(1): E[w] = 1, so n_eff tracks n within ~4 sigma
    // (sigma = sqrt(n) ~ 45 at n = 2000)
    a.values.foreach { case (nEff, _, _) =>
      assert(math.abs(nEff - 2000L) < 180L, s"n_eff $nEff")
    }
    // replicate means bracket the true mean (49.5 -> 49500 milli)
    val means = a.values.map(_._3).toSeq
    assert(means.min < 49500L && means.max > 49500L,
      s"means ${means.min}..${means.max}")
  }

  test("cucconiTest: hand ranks, symmetric X=Y case, micro lanes") {
    // g1={1,10} g2={5,6}: pooled ranks g1={1,4}, S=17, X=Y=12,
    // D5=7740 -> u2=v2=uv=93023; q=387, p=-363 -> c_micro=1499995
    val rows = Seq((true, 1.0, 1L), (false, 5.0, 2L), (false, 6.0, 3L),
      (true, 10.0, 4L))
    val out = Learn.cucconiTest(rows.toDF("g", "v", "e"), "g", "v", "e")
      .collect().head
    assert(out.getAs[Long]("n1") == 2L && out.getAs[Long]("n2") == 2L &&
      out.getAs[Long]("x6") == 12L && out.getAs[Long]("y6") == 12L &&
      out.getAs[Long]("u2_micro") == 93023L &&
      out.getAs[Long]("v2_micro") == 93023L &&
      out.getAs[Long]("uv_micro") == 93023L &&
      out.getAs[Long]("c_micro") == 1499995L)
    // one empty group: micro lanes NULL
    val solo = Learn.cucconiTest(
      Seq((true, 1.0, 1L), (true, 2.0, 2L)).toDF("g", "v", "e"),
      "g", "v", "e").collect().head
    assert(solo.isNullAt(solo.fieldIndex("c_micro")))
  }

  test("cramerVonMises: hand U and T, identical samples near zero") {
    // g1={1,10} g2={5,6}: U = 2*(0+4) + 2*(1+1) = 12, T = 12/96
    val rows = Seq((true, 1.0, 1L), (false, 5.0, 2L), (false, 6.0, 3L),
      (true, 10.0, 4L))
    val out = Learn.cramerVonMises(rows.toDF("g", "v", "e"),
      "g", "v", "e").collect().head
    assert(out.getAs[Long]("n1") == 2L && out.getAs[Long]("n2") == 2L &&
      out.getAs[Long]("u") == 12L &&
      out.getAs[Long]("t_micro") == 125000L)
    // perfectly interleaved samples: T sits at its minimum (small)
    val inter = (1 to 20).map(i => (i % 2 == 0, i.toDouble, i.toLong))
    val t2 = Learn.cramerVonMises(inter.toDF("g", "v", "e"),
      "g", "v", "e").collect().head.getAs[Long]("t_micro")
    assert(math.abs(t2) < 50000L, s"interleaved t_micro $t2")
  }

  test("quadeTest: range-weighted blocks, hand f, balanced zero") {
    // ranges 1,2,4 -> q2 = 2,4,6; b3 flips the winner:
    // Sj = (-12, +12), A = 112 -> f = 2*288/48 = 12
    val rows = Seq(
      (1L, 0L, 1.0), (1L, 1L, 2.0),
      (2L, 0L, 1.0), (2L, 1L, 3.0),
      (3L, 0L, 4.0), (3L, 1L, 8.0))
    // b3 must have range 4 and t1 winning: values 4, 8
    val out = Learn.quadeTest(rows.toDF("b", "t", "v"), "b", "t", "v",
      k = 2).collect()
    val sums = out.map(r => r.getAs[String]("treatment") ->
      r.getAs[Long]("s_j2")).toMap
    assert(sums == Map("0" -> -12L, "1" -> 12L))
    assert(out.head.getAs[Long]("n_blocks") == 3L &&
      out.head.getAs[Long]("f_micro") == 12000000L)
    // perfectly balanced wins -> Sj = 0, f = 0 (denominator > 0)
    val bal = Seq((1L, 0L, 1.0), (1L, 1L, 2.0),
      (2L, 0L, 1.0), (2L, 1L, 3.0),
      (3L, 0L, 8.0), (3L, 1L, 4.0))
    val b2 = Learn.quadeTest(bal.toDF("b", "t", "v"), "b", "t", "v",
      k = 2).collect().head
    assert(b2.getAs[Long]("f_micro") == 0L)
  }

  test("holmAdjust: staircase monotone, cap at 1, rejections") {
    val hs = Seq(("a", 10L), ("b", 200L), ("c", 300L), ("d", 400000L))
    val out = Learn.holmAdjust(hs.toDF("h", "p"), "h", "p")
      .collect().map(r => r.getAs[String]("id") ->
        ((r.getAs[Long]("rank"), r.getAs[Long]("adj_micro"),
          r.getAs[Boolean]("reject_05")))).toMap
    assert(out("a") == ((1L, 40L, true)))
    assert(out("b") == ((2L, 600L, true)))
    assert(out("c") == ((3L, 600L, true))) // running max holds 600
    assert(out("d") == ((4L, 400000L, false)))
    // cap: big p times many hypotheses saturates at 1e6
    val cap = Learn.holmAdjust(
      Seq(("x", 900000L), ("y", 900001L)).toDF("h", "p"), "h", "p")
      .collect().map(_.getAs[Long]("adj_micro")).toSet
    assert(cap == Set(1000000L))
    // hypothesis-count guard raises loudly
    val err = intercept[Exception] {
      Learn.holmAdjust(hs.toDF("h", "p"), "h", "p",
        maxHypotheses = 2L).collect()
    }
    assert(err.getMessage != null && err.getMessage.contains("holmAdjust"))
  }
}
