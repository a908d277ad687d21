package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.tokens

/** In-engine training of the hashed linear quality classifier that
  * [[TextOps.linearScore]] serves — the CCNet/fastText-style step a
  * training-data pipeline runs to learn its own quality gate from
  * labeled examples instead of shipping hand-set weights.
  *
  * Everything is INTEGER fixed point (milli-units) on purpose — the
  * q134/q140 oracle discipline: with a hard-sigmoid (the
  * piecewise-linear σ̃ quantized inference stacks already use) and
  * sign-split truncating division, a bounded training run is a pure
  * function of (features, labels) and replays as unrolled BIGINT SQL,
  * so the LEARNED WEIGHTS themselves are hash-comparable across
  * engines (q155). Real float LR would train marginally better but
  * could never be value-pinned; the hard-sigmoid gradient is the
  * standard straight-through surrogate and costs nothing at this
  * precision.
  *
  * Scale shape (batch gradient descent, the MLlib shape): one pass
  * builds one row per labeled example — its label and the set of its
  * in-range feature ids — and persists it. Each iteration then
  * broadcasts the dense `dim`-long weight array and runs ONE job, a
  * `treeAggregate` of the `dim`-long gradient over the persisted
  * examples: no join, no corpus-sized shuffle, no checkpoint. The
  * update happens on the driver. The model is driver-held, so `dim`
  * is bounded (2^24 buckets, 128 MiB of weights).
  */
object Learn {

  /** Hashed binary bag-of-words features: one (ex_id, feature_id) row
    * per DISTINCT (example, bucket) — presence features, the robust
    * default for quality gates. Same engine-neutral md5-mod-dim
    * bucketing as [[TextOps.linearScore]], so a model trained here
    * serves there unchanged. */
  def hashedFeatures(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    df.select(col(idCol).as("ex_id"),
        explode(tokens(lower(col(textCol)))).as("__t"))
      .filter(col("__t") =!= "")
      .select(col("ex_id"),
        (conv(substring(md5(col("__t")), 1, 8), 16, 10).cast("long") % dim)
          .as("feature_id"))
      .distinct()
  }

  /** Sign-split truncating division: `sign(a) · (|a| div b)` for
    * b > 0. Spark's integral `div` truncates toward zero while
    * DuckDB's `//` floors — they differ exactly on negative
    * dividends, so every division in the training loop goes through
    * this nonnegative-dividend form, which both engines evaluate
    * identically (and the q155 oracle mirrors the CASE verbatim). */
  private def sdiv(a: Column, b: Column): Column =
    when(a >= 0, floor(a / b)).otherwise(-floor(-a / b)).cast("long")

  /** Hard sigmoid in milli-units: clamp(500 + s/4, 0, 1000) — the
    * standard piecewise-linear σ approximation (σ(x) ≈ x/4 + 1/2 on
    * [−2, 2], saturated outside). */
  private def hardSigmoidMilli(s: Column): Column =
    greatest(lit(0L), least(lit(1000L), lit(500L) + sdiv(s, lit(4L))))

  /** [[sdiv]] on driver/executor longs: Java's `/` truncates, which on
    * a nonnegative dividend is the floor both engines take. */
  private def sdivLong(a: Long, b: Long): Long =
    if (a >= 0) a / b else -((-a) / b)

  /** Batch-gradient-descent training of a binary logistic classifier
    * over presence features, all arithmetic BIGINT milli-units.
    *
    * `features`: (ex_id, feature_id) — [[hashedFeatures]] output.
    *             Duplicate rows count once; null and out-of-range
    *             (outside [0, dim)) feature ids are ignored.
    * `labels`:   (ex_id, y) with y ∈ {0, 1}. Unlabeled examples,
    *             null-`y` rows and labeled examples with no in-range
    *             feature contribute no gradient (their error reaches
    *             no weight); a duplicated label row trains twice.
    *
    * Per iteration, with p̃ᵢ = hard-sigmoid(Σ_{f∈xᵢ} w_f) and
    * errᵢ = p̃ᵢ − 1000·yᵢ:
    *   w_f ← w_f − sign(g_f) · (|g_f| · lrNum) div (N · lrDen)
    * where g_f = Σ_{i: f∈xᵢ} errᵢ and N = |labels| (every label row,
    * null `y` included) — plain averaged gradient descent with
    * learning rate lrNum/lrDen, every division through the sign-split
    * form.
    *
    * Shape: the examples table (one `groupBy(ex_id)` to the in-range
    * feature sets, inner-joined to the labels) is built and persisted
    * once, and N is counted once. Each iteration broadcasts the weight
    * array and tree-aggregates the gradient array: one job, with no
    * shuffle at five example partitions or fewer (past that
    * `treeAggregate` adds one combine level that moves `dim`-long
    * partial sums, never rows).
    * The model lives on the driver, so `dim` ≤ 2^24.
    *
    * Returns the dense model: (feature_id, weight), both non-null
    * BIGINT, for all `dim` buckets, read from a broadcast of the final
    * weights. */
  def logisticTrainInt(features: DataFrame, labels: DataFrame, dim: Int,
      iterations: Int, lrNum: Long = 1L, lrDen: Long = 4L): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    require(dim <= (1 << 24), s"dim must be at most ${1 << 24}: the " +
      s"weights are a driver-side array broadcast every iteration, got $dim")
    require(iterations >= 1 && iterations <= 10000,
      s"iterations must be in [1,10000], got $iterations")
    require(lrNum > 0 && lrDen > 0, "learning rate must be positive")
    val spark = features.sparkSession
    val l = labels.select(col("ex_id"), col("y").cast("long").as("__y"))
    val n = l.count()
    require(n > 0, "labels is empty")
    val examples = features
      .filter(col("feature_id") >= 0 && col("feature_id") < dim)
      .groupBy(col("ex_id"))
      .agg(collect_set(col("feature_id").cast("int")).as("__f"))
      .join(l.filter(col("__y").isNotNull), Seq("ex_id"))
      .select(col("__y"), col("__f"))
      .rdd.map(r => (r.getLong(0), r.getSeq[Int](1).toArray))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val den = n * lrDen
    var w = new Array[Long](dim)
    for (_ <- 1 to iterations) {
      val bw = spark.sparkContext.broadcast(w)
      val g = examples.treeAggregate(new Array[Long](dim))(
        (acc, ex) => {
          val (y, fs) = ex
          val wv = bw.value
          var s = 0L
          fs.foreach(f => s += wv(f))
          val p = math.max(0L, math.min(1000L, 500L + sdivLong(s, 4L)))
          val e = p - 1000L * y
          fs.foreach(f => acc(f) += e)
          acc
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
      bw.destroy()
      w = Array.tabulate(dim)(f => w(f) - sdivLong(g(f) * lrNum, den))
    }
    examples.unpersist(blocking = false)
    val bw = spark.sparkContext.broadcast(w)
    val weight = udf((f: Long) => bw.value(f.toInt))
    spark.range(dim)
      .select(col("id").as("feature_id"), weight(col("id")).as("weight"))
  }

  /** Score examples with a trained integer model: milli-logit and
    * hard-sigmoid milli-probability per example — the exact forward
    * pass of the training loop, so train-time and serve-time
    * probabilities agree to the bit. */
  def logisticPredictInt(features: DataFrame,
      weights: DataFrame): DataFrame =
    features.join(weights, Seq("feature_id"))
      .groupBy(col("ex_id"))
      .agg(sum(col("weight")).as("logit_milli"))
      .select(col("ex_id"), col("logit_milli"),
        hardSigmoidMilli(col("logit_milli")).as("p_milli"))

  /** Per-distinct-score label counts with EXCLUSIVE running totals —
    * the one pass both classifier-evaluation finishes
    * ([[thresholdSweep]], [[aucExact]]) read. For each distinct value
    * of `scoreCol` (a quantized model output — [[logisticPredictInt]]
    * milli-units, [[TextOps.linearScore]] — so its cardinality is
    * bounded by the score scale, NOT the corpus): the positive/
    * negative counts at that score plus the counts strictly below it.
    *
    * The corpus-sized work is ONE hash aggregate to the score grain.
    * The running totals are the engine's one two-pass prefix sum
    * ([[Relational.runningSums]]) over the score-grain table, each
    * "below" count the inclusive sum minus the score's own count —
    * NEVER a partition-less global window, so the curve stays
    * parallel even for a fine-grained score scale.
    *
    * Returns (score, n_pos, n_neg, cum_pos_below, cum_neg_below),
    * one row per distinct score. Labels must be 0/1. */
  def binaryScoreCurve(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val lbl = col(labelCol).cast("long")
    val grain = scored
      .groupBy(col(scoreCol).cast("long").as("score"))
      .agg(sum(lbl).as("n_pos"),
        sum(lit(1L) - lbl).as("n_neg"))
    Relational.runningSums(grain, Seq(col("score")),
        Seq("__pos" -> col("n_pos"), "__neg" -> col("n_neg")))
      .select(col("score"), col("n_pos"), col("n_neg"),
        (col("__pos") - coalesce(col("n_pos"), lit(0L))).as("cum_pos_below"),
        (col("__neg") - coalesce(col("n_neg"), lit(0L))).as("cum_neg_below"))
  }

  /** Confusion matrix at EVERY operating point of a quantized scorer
    * — predict positive at `score >= t` for each distinct score t —
    * with precision/recall as exact-integer ratios divided once at
    * the end (two BIGINTs through one IEEE division are
    * engine-identical, the q133 posture). The sweep a pipeline runs
    * to pick its quality-gate threshold: row count = distinct scores
    * (score-scale-bounded), each row exact, so the chosen threshold
    * is reproducible to the integer.
    *
    * tp/fp/tn/fn all derive from [[binaryScoreCurve]]'s totals:
    * tp(t) = P − cum_pos_below(t), fp(t) = N − cum_neg_below(t),
    * fn(t) = cum_pos_below(t), tn(t) = cum_neg_below(t). */
  def thresholdSweep(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val curve = binaryScoreCurve(scored, scoreCol, labelCol)
    val totals = curve.agg(
      (sum(col("n_pos")).cast("long")).as("__tp_all"),
      (sum(col("n_neg")).cast("long")).as("__tn_all"))
    curve.crossJoin(broadcast(totals))
      .select(col("score").as("threshold"),
        (col("__tp_all") - col("cum_pos_below")).as("tp"),
        (col("__tn_all") - col("cum_neg_below")).as("fp"),
        col("cum_neg_below").as("tn"),
        col("cum_pos_below").as("fn"))
      .withColumn("precision",
        col("tp").cast("double") / (col("tp") + col("fp")))
      .withColumn("recall",
        col("tp").cast("double") /
          greatest(col("tp") + col("fn"), lit(1L)))
  }

  /** EXACT area under the ROC curve — the Mann–Whitney two-sample
    * statistic over all P·N (positive, negative) pairs: a concordant
    * pair (s⁺ > s⁻) counts 2, a tied pair counts 1, discordant 0, so
    *
    *   2·P·N·AUC = Σ_s n_pos(s)·(2·cum_neg_below(s) + n_neg(s))
    *
    * and both sides are BIGINTs — no ranks, no floats, no sampling:
    * the numerator/denominator pair hash-compares across engines and
    * the double is one IEEE division. Evaluating a quality gate on a
    * held-out split is a per-round pipeline act; an exact AUC makes
    * regressions between rounds attributable to the MODEL, never to
    * evaluation noise. Returns one row:
    * (n_pos, n_neg, auc_num2, auc_den2, auc). */
  def aucExact(scored: DataFrame, scoreCol: String,
      labelCol: String): DataFrame =
    binaryScoreCurve(scored, scoreCol, labelCol)
      .agg(sum(col("n_pos")).cast("long").as("n_pos"),
        sum(col("n_neg")).cast("long").as("n_neg"),
        sum(col("n_pos") * (lit(2L) * col("cum_neg_below") + col("n_neg")))
          .cast("long").as("auc_num2"))
      .select(col("n_pos"), col("n_neg"), col("auc_num2"),
        (lit(2L) * col("n_pos") * col("n_neg")).as("auc_den2"))
      // auc_micro is the oracle-gated lane (r13: the exact floored
      // rational — single-row global stats carry no IEEE float at
      // the gate after the q381/q383 driver-hash lesson); the DECIMAL
      // product keeps 10⁶·num exact past num ≈ 9·10¹², where BIGINT
      // would wrap
      .withColumn("auc_micro", expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * auc_num2)
          |  div GREATEST(CAST(auc_den2 AS DECIMAL(38,0)), 1)
          |  AS BIGINT)""".stripMargin))
      .withColumn("auc",
        col("auc_num2").cast("double") /
          greatest(col("auc_den2"), lit(1L)))

  /** Multinomial Naive Bayes training — the GENERATIVE classifier
    * next to [[logisticTrainInt]]'s discriminative gate (the
    * fastText-family baseline corpus pipelines reach for first:
    * one counting pass, no iterations, naturally multiclass —
    * domain/topic/quality labeling at corpus scale).
    *
    * Output is the SPARSE model: one row per OBSERVED (token, y)
    * with the exact sufficient statistics, class and global scalars
    * denormalized on: `token, y, n_tc` (token count in class),
    * `n_y` (class token total), `docs_y` (class docs), `docs_total`,
    * `vocab` (distinct observed tokens corpus-wide). Every column is
    * an exact BIGINT count — the model table itself value-oracles
    * (q207); the smoothed log-probabilities are derived at predict
    * time (`ln((n_tc+1)/(n_y+V))`, Laplace) and spec-pinned.
    *
    * Scale shape: one skinny explode + one (y, token) hash
    * aggregate; class/global stats are class-count- and 1-row-sized
    * aggregates that broadcast back. Null-label docs are excluded
    * everywhere (train on the labeled subset). */
  def naiveBayesTrain(df: DataFrame, textCol: String,
      labelCol: String): DataFrame = {
    val labeled = df.filter(col(labelCol).isNotNull)
    val toks = labeled.select(col(labelCol).as("y"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .filter(col("token") =!= "")
    val ntc = toks.groupBy(col("y"), col("token"))
      .agg(count(lit(1)).as("n_tc"))
    val ny = ntc.groupBy(col("y")).agg(sum(col("n_tc")).as("n_y"))
    val docsY = labeled.groupBy(col(labelCol).as("y"))
      .agg(count(lit(1)).as("docs_y"))
    val totals = docsY.agg(sum(col("docs_y")).as("docs_total"))
    val vocab = ntc.select(col("token")).distinct()
      .agg(count(lit(1)).as("vocab"))
    ntc.join(ny, Seq("y")).join(docsY, Seq("y"))
      .crossJoin(broadcast(totals)).crossJoin(broadcast(vocab))
      .select(col("token"), col("y"), col("n_tc"), col("n_y"),
        col("docs_y"), col("docs_total"), col("vocab"))
  }

  /** Score and classify with a [[naiveBayesTrain]] model: per doc and
    * class, `ln(docs_y/docs_total) + Σ_t tf·ln((n_tc+1)/(n_y+V))`
    * with unseen (token, class) pairs contributing the n_tc = 0
    * smoothing mass — the standard Laplace multinomial. Returns one
    * row per doc: `(id, label, log_score)` for the winning class,
    * ties broken by smallest label (deterministic). Docs with no
    * tokens classify by prior alone.
    *
    * Scale shape: class scalars broadcast; the doc-token table joins
    * the model at (token, y) grain — skinny both sides; one (id, y)
    * aggregate, one small per-doc top-1 window. */
  def naiveBayesPredict(model: DataFrame, df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val classes = model
      .select(col("y"), col("n_y"), col("docs_y"), col("docs_total"),
        col("vocab")).distinct()
    val docToks = df.select(col(idCol).as("id"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("id"), col("token")).agg(count(lit(1)).as("tf"))
    val contrib = docToks
      .crossJoin(broadcast(classes))
      .join(model.select(col("token"), col("y"), col("n_tc")),
        Seq("token", "y"), "left")
      .groupBy(col("id"), col("y"))
      .agg(sum(col("tf") *
        (log(coalesce(col("n_tc"), lit(0L)) + lit(1L)) -
          log((col("n_y") + col("vocab")).cast("double")))).as("__ll"))
    val prior = log(col("docs_y").cast("double") /
      col("docs_total").cast("double"))
    val scored = df.select(col(idCol).as("id")).distinct()
      .crossJoin(broadcast(classes.select(col("y"), prior.as("__prior"))))
      .join(contrib, Seq("id", "y"), "left")
      .select(col("id"), col("y"),
        (col("__prior") + coalesce(col("__ll"), lit(0.0))).as("log_score"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("log_score").desc, col("y").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("y").as("label"), col("log_score"))
  }

  /** Categorical drift detection between two corpus snapshots — the
    * chi-square test of homogeneity over a category column (source
    * mix, language mix, label mix): did the distribution SHIFT
    * between yesterday's crawl and today's? The monitoring gate a
    * training pipeline runs before it trusts a new snapshot.
    *
    * Exact-integer core: with snapshot totals Nₐ, N_b (N = Nₐ+N_b)
    * and per-category counts a, b (t = a+b), the cell deviation
    * a − Nₐ·t/N scales by N to the BIGINT `num = N·a − Nₐ·t`, and
    * the cell's chi-square contribution (a−e)²/e becomes
    * num²/(N·Nₐ·t) — replayed per side as the staged micro floor
    * `(num²//den)·10⁶ + ((num² mod den)·10⁶)//den` (the twap/BM25
    * discipline; all operands nonnegative, so `//` == `div`).
    * Safe while N·max(count) < 3·10⁹ (num² < 2⁶³) — counts are at
    * CATEGORY grain, so this holds far beyond any real label/source
    * vocabulary; the heavy work is the two counting aggregates, the
    * arithmetic runs on |categories| rows. A category absent from
    * one side keeps t > 0, so dens only vanish when a whole SNAPSHOT
    * is empty — that side's cells contribute 0 (guarded, num is 0
    * there too); both cells of a category share `num` magnitude
    * (N·a − Nₐ·t = −(N·b − N_b·t)).
    *
    * Output: one row per category seen in either snapshot —
    * (category, n_a, n_b, num, chi2_micro = contribₐ+contrib_b in
    * micro-units) — plus the caller sums chi2_micro for the
    * statistic (df = categories−1). Physical shape: two hash
    * aggregates + one full-outer at category grain + one broadcast
    * of the 1-row totals; the corpora stream once each. */
  def driftChi2(dfA: DataFrame, dfB: DataFrame,
      catCol: String): DataFrame = {
    val a = dfA.groupBy(col(catCol).as("category"))
      .agg(count(lit(1)).as("n_a"))
    val b = dfB.groupBy(col(catCol).as("category"))
      .agg(count(lit(1)).as("n_b"))
    val cells = a.join(b, Seq("category"), "full_outer")
      .select(col("category"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    chi2FromCells(cells, Nil)
  }

  /** The [[driftChi2]] arithmetic over PRE-AGGREGATED cells
    * (category, n_a, n_b), with totals computed per `keys` group
    * (empty keys = one global comparison). Shared by [[driftChi2]]
    * and [[driftChi2Windows]]; counts come in, the exact staged
    * micro floors come out. */
  private[operators] def chi2FromCells(cells: DataFrame,
      keys: Seq[String]): DataFrame = {
    val kc = keys.map(col)
    val joined =
      if (keys.isEmpty) {
        val tot = cells.agg(sum(col("n_a")).as("__na"),
          sum(col("n_b")).as("__nb"))
        cells.crossJoin(broadcast(tot))
      } else {
        // per-key totals as a PARTITIONED window sum, not a join back
        // onto cells' own aggregate (same-lineage joins trip
        // conflicting-reference resolution; the window is bounded by
        // |categories| rows per key anyway)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(kc: _*)
        cells.withColumn("__na", sum(col("n_a")).over(w))
          .withColumn("__nb", sum(col("n_b")).over(w))
      }
    // the squared term and denominators run in DECIMAL(38,0): num²
    // overflows BIGINT already at N·max_count ≳ 3·10⁹ (nine bins of a
    // million-row table!), and decimal keeps the chain EXACT to
    // N ≈ 10¹⁰ rows per snapshot ((n2 % den)·10⁶ < 10³⁶·10⁶ < 10³⁸);
    // `div`/`%` on decimals are still integral and floor like `//` on
    // the nonnegative operands. The cells table is category-grain, so
    // decimal cost is irrelevant.
    joined
      .withColumn("__n", col("__na") + col("__nb"))
      .withColumn("__t", col("n_a") + col("n_b"))
      .withColumn("num", col("__n") * col("n_a") - col("__na") * col("__t"))
      .withColumn("__n2",
        col("num").cast("decimal(38,0)") * col("num"))
      .withColumn("__dena",
        col("__n").cast("decimal(38,0)") * col("__na") * col("__t"))
      .withColumn("__denb",
        col("__n").cast("decimal(38,0)") * col("__nb") * col("__t"))
      .withColumn("chi2_micro",
        when(col("__dena") > 0,
          expr("(__n2 div __dena) * 1000000L + ((__n2 % __dena) * 1000000L) div __dena"))
          .otherwise(0L) +
          when(col("__denb") > 0,
            expr("(__n2 div __denb) * 1000000L + ((__n2 % __denb) * 1000000L) div __denb"))
            .otherwise(0L))
      .select(kc ++ Seq(col("category"), col("n_a"), col("n_b"),
        col("num"), col("chi2_micro")): _*)
  }

  /** Windowed drift monitoring — [[driftChi2]] per TIME WINDOW
    * against a fixed baseline: `counts` is a (windowKey, category,
    * n_b) table (typically the sink of
    * [[graft.streaming.StreamOps.categoryCountsStream]] — the
    * streaming half maintains counts with bounded state; THIS batch
    * half computes the statistic on read, the standard monitor
    * split), `baseline` the trusted reference corpus. Every window
    * is compared against the full baseline over the UNION of
    * categories (a window missing a baseline category is itself
    * drift — those cells surface with n_b = 0, and stream-only
    * categories with n_a = 0). Baseline counts aggregate once and
    * broadcast; cells stay at |windows|·|categories| grain. */
  def driftChi2Windows(counts: DataFrame, windowKey: String,
      catCol: String, countCol: String, baseline: DataFrame,
      baselineCatCol: String): DataFrame = {
    // no self-join (wins × base vs observed would share lineage —
    // conflicting-reference territory): fold each window's observed
    // counts into a map, broadcast the baseline as a 1-row map, and
    // explode the UNION of category keys — both per-window maps are
    // bounded by the category vocabulary, so state stays tiny
    val baseMap = baseline.groupBy(col(baselineCatCol).as("category"))
      .agg(count(lit(1)).as("n_a"))
      .agg(map_from_entries(collect_list(struct(col("category"),
        col("n_a")))).as("__bm"))
    val perWin = counts.groupBy(col(windowKey))
      .agg(map_from_entries(collect_list(struct(
        col(catCol), col(countCol).cast("long")))).as("__m"))
    val cells = perWin.crossJoin(broadcast(baseMap))
      .withColumn("category",
        explode(array_union(map_keys(col("__bm")), map_keys(col("__m")))))
      .select(col(windowKey), col("category"),
        coalesce(element_at(col("__bm"), col("category")), lit(0L))
          .as("n_a"),
        coalesce(element_at(col("__m"), col("category")), lit(0L))
          .as("n_b"))
    chi2FromCells(cells, Seq(windowKey))
  }

  /** Annotation aggregation by majority vote — the labeling-pipeline
    * reducer: many (item, annotator, label) judgments collapse to one
    * winning label per item with an agreement score. Ties break to
    * the LEXICOGRAPHICALLY SMALLEST winning label (deterministic, no
    * annotator priority). agreement_milli = ⌊1000·winner_votes/
    * n_votes⌋ — exact, nonneg, floor==truncate on both engines.
    * Duplicate (item, annotator) rows count once each — a re-vote is
    * a distinct judgment; callers wanting last-vote-wins dedup first.
    *
    * Physical shape: one hash aggregate at (item, label) grain, then
    * an item-partitioned row_number over (votes desc, label asc) —
    * the window input is at (item, label) grain (≤ |label vocab|
    * rows per item, not |votes|), so state bounds at item grain and
    * a million-vote item costs the same as a three-vote item. A
    * lexicographic-struct max can't encode votes-desc-then-STRING-asc
    * in one struct ordering, hence the tiny window instead. */
  def voteLabels(df: DataFrame, itemCol: String,
      labelCol: String): DataFrame = {
    val counts = df.groupBy(col(itemCol).as("item"),
        col(labelCol).as("label"))
      .agg(count(lit(1)).as("votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("item"))
      .orderBy(col("votes").desc, col("label").asc)
    val totals = counts.groupBy(col("item"))
      .agg(sum(col("votes")).as("n_votes"),
        count(lit(1)).as("n_distinct_labels"))
    counts.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .join(totals, Seq("item"))
      .select(col("item"), col("label").as("winner"),
        col("votes").as("winner_votes"), col("n_votes"),
        col("n_distinct_labels"),
        expr("(1000 * votes) div n_votes").as("agreement_milli"))
  }

  /** Leave-one-out target encoding — the feature-engineering
    * workhorse for high-cardinality categoricals: replace a category
    * with the (smoothed) mean label of its OTHER members, so the
    * feature carries signal without leaking the row's own label
    * (plain mean encoding memorizes singletons — the classic
    * overfit). Smoothing blends toward the global prior with
    * pseudo-count m: enc = (s_c − y + m·p)/(n_c − 1 + m),
    * p = s_all/n_all.
    *
    * Exact-integer form — denominators clear instead of nesting
    * rationals: enc_micro = ⌊10⁶·((s_c−y)·n_all + m·s_all) /
    * ((n_c−1+m)·n_all)⌋, products in DECIMAL(38,0) (exact to
    * ~10¹⁰ rows). A singleton category (n_c = 1) collapses to the
    * prior exactly; labels must be integral 0/1 (gate upstream).
    *
    * One hash aggregate at category grain + one join back on the
    * category key (reuses the aggregate's partitioning) + a 1-row
    * broadcast: the corpus shuffles once. Output: input columns +
    * (n_cat, enc_micro). */
  def targetEncode(df: DataFrame, catCol: String, labelCol: String,
      smoothing: Long = 20L): DataFrame = {
    require(smoothing >= 1, s"smoothing must be >= 1, got $smoothing")
    val y = col(labelCol).cast("long")
    val cats = df.groupBy(col(catCol))
      .agg(count(lit(1)).as("n_cat"), sum(y).as("__sc"))
    val tot = df.agg(count(lit(1)).as("__nall"),
      coalesce(sum(y), lit(0L)).as("__sall"))
    df.join(cats, Seq(catCol))
      .crossJoin(broadcast(tot))
      .withColumn("__num",
        (lit(1000000L).cast("decimal(38,0)") *
          ((col("__sc") - y).cast("decimal(38,0)") * col("__nall") +
            lit(smoothing) * col("__sall"))))
      .withColumn("__den",
        (col("n_cat") - 1L + smoothing).cast("decimal(38,0)") *
          col("__nall"))
      .withColumn("enc_micro", expr("__num div __den"))
      .drop("__sc", "__nall", "__sall", "__num", "__den")
  }

  /** χ² feature selection — which terms discriminate a class? For
    * every (term, class) pair with at least one in-class occurrence,
    * the one-vs-rest 2×2 presence contingency (n11 in-class-with-term
    * … n00 rest-without-term) and its χ² statistic, ranked per class —
    * the classic supervised vocabulary pruner (feature selection for
    * the [[naiveBayesTrain]] / [[logisticTrainInt]] family), and the
    * "which tokens mark this slice" diagnostic for corpus audits.
    *
    * Presence semantics: a document counts once per distinct term
    * (`array_distinct` before the explode — same convention as
    * [[hashedFeatures]]). The statistic is the [[chi2FromCells]]
    * staged-floor arithmetic applied to the 2×2 table (categories =
    * present/absent, columns = class/rest), summed over the two
    * category rows — so the micro lanes replay exactly in DuckDB and
    * stay exact to ~10¹⁰ documents (DECIMAL(38,0) products).
    *
    * Scale shape: one corpus shuffle to (doc, term) distinct grain,
    * one hash aggregate at (term, class) grain, a term-partitioned
    * window for document frequencies (≤ |classes| rows per term), a
    * broadcast of class sizes, and a class-partitioned ranking window
    * at vocabulary grain (post-`minDf`; for web-scale vocabularies
    * raise `minDf` — the df≥2 cut alone removes the hapax half of a
    * natural vocabulary). No self-joins, nothing driver-side. */
  def termChi2(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, minDf: Long = 1L): DataFrame = {
    require(minDf >= 1, s"minDf must be >= 1, got $minDf")
    val base = df.select(col(idCol).as("__doc"),
      col(labelCol).as("label"), col(textCol).as("__text"))
    val docTerm = base.select(col("__doc"), col("label"),
      explode(array_distinct(tokens(lower(col("__text"))))).as("term"))
    val tc = docTerm.groupBy(col("term"), col("label"))
      .agg(count(lit(1)).as("n11"))
    val wT = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term"))
    val cls = base.groupBy(col("label")).agg(count(lit(1)).as("__cn"))
    val tot = base.agg(count(lit(1)).as("__nd"))
    val counts = tc.withColumn("__df", sum(col("n11")).over(wT))
      .filter(col("__df") >= minDf)
      .join(broadcast(cls), Seq("label"))
      .crossJoin(broadcast(tot))
      .select(col("label"), col("term"), col("n11"),
        (col("__df") - col("n11")).as("n10"),
        (col("__cn") - col("n11")).as("n01"),
        (col("__nd") - col("__cn") - col("__df") + col("n11")).as("n00"))
    val cells = counts.select(col("label"), col("term"),
      explode(array(
        struct(lit("present").as("category"),
          col("n11").as("n_a"), col("n10").as("n_b")),
        struct(lit("absent").as("category"),
          col("n01").as("n_a"), col("n00").as("n_b")))).as("__c"))
      .select(col("label"), col("term"), col("__c.category"),
        col("__c.n_a"), col("__c.n_b"))
    val scored = chi2FromCells(cells, Seq("label", "term"))
      .groupBy(col("label"), col("term"))
      .agg(
        sum(when(col("category") === "present", col("n_a"))).as("n11"),
        sum(when(col("category") === "present", col("n_b"))).as("n10"),
        sum(when(col("category") === "absent", col("n_a"))).as("n01"),
        sum(when(col("category") === "absent", col("n_b"))).as("n00"),
        sum(col("chi2_micro")).as("chi2_micro"))
    val wL = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
      .orderBy(col("chi2_micro").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(wL).cast("long"))
  }

  /** pass@k — the sampled-eval estimator (Codex-paper form): a task
    * with n samples and c correct has pass@k = 1 − C(n−c,k)/C(n,k),
    * the chance a random k-subset contains at least one correct
    * sample — the unbiased way to score "generate n, submit k"
    * pipelines. Exact-integer lanes: the binomial ratio telescopes
    * to Π_{i<k}(n−c−i) / Π_{i<k}(n−i), both products DECIMAL(38,0)
    * (exact while n^k < 10³⁶ — n ≤ 100 samples at k ≤ 16 is far
    * inside), and pass_milli = 1000 − (1000·num) div den. Tasks
    * with n < k are null (the estimator is undefined — surfacing
    * beats clamping); n−c < k short-circuits to 1000 exactly (no
    * all-wrong k-subset exists). One hash aggregate at task grain;
    * the arithmetic runs on |tasks| rows. */
  def passAtK(df: DataFrame, taskCol: String, okCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")
    val agg = df.groupBy(col(taskCol).as("task"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(okCol), 1L).otherwise(0L)).as("c"))
    val num = (0 until k).map(i => col("n") - col("c") - i)
      .foldLeft(lit(java.math.BigDecimal.ONE).cast("decimal(38,0)"))(_ * _)
    val den = (0 until k).map(i => col("n") - i)
      .foldLeft(lit(java.math.BigDecimal.ONE).cast("decimal(38,0)"))(_ * _)
    agg
      .withColumn("__num", num).withColumn("__den", den)
      .withColumn(s"pass_at_${k}_milli",
        when(col("n") < k, lit(null).cast("long"))
          .when(col("n") - col("c") < k, 1000L)
          .otherwise(lit(1000L) -
            expr("(__num * 1000) div __den").cast("long")))
      .drop("__num", "__den")
  }

  /** Expected calibration error — does a classifier's confidence MEAN
    * what it says? Scores bucket into `bins` equal-width confidence
    * bands; per band the accuracy–confidence gap, and overall
    * ECE = Σ_b (n_b/N)·|acc_b − conf_b|, which clears denominators
    * to the EXACT integer form Σ_b |1000·c_b − s_b| / (1000·N)
    * (c_b = correct, s_b = summed milli scores) — no rational-of-
    * rationals, one staged micro floor. Scores must already be
    * integer milli in [0,1000] (the [[logisticPredictInt]] /
    * [[hardSigmoidMilli]] lane discipline); score 1000 lands in the
    * top bin. Output: one row per non-empty bin (bin, n, n_correct,
    * sum_score_milli, acc_milli, conf_milli, gap_num =
    * |1000·c_b − s_b|) with the corpus ece_micro repeated beside
    * (broadcast 1-row join — bins are few, the duplication is
    * free and saves callers a second pass). */
  def calibrationError(df: DataFrame, labelCol: String,
      scoreMilliCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2,1000], got $bins")
    val binned = df
      .filter(col(scoreMilliCol).isNotNull && col(labelCol).isNotNull)
      .select(
        least(lit(bins - 1L),
          expr(s"($scoreMilliCol * $bins) div 1000")).as("bin"),
        col(labelCol).cast("long").as("__y"),
        col(scoreMilliCol).cast("long").as("__s"))
    val perBin = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_correct"),
        sum(col("__s")).as("sum_score_milli"))
      .withColumn("gap_num",
        abs(lit(1000L) * col("n_correct") - col("sum_score_milli")))
    val tot = perBin.agg(
      coalesce(sum(col("n")), lit(0L)).as("__nn"),
      coalesce(sum(col("gap_num")), lit(0L)).as("__g"))
    perBin.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_correct"),
        col("sum_score_milli"),
        expr("(1000 * n_correct) div n").as("acc_milli"),
        expr("sum_score_milli div n").as("conf_milli"),
        col("gap_num"),
        // 10⁶·Σg/(1000·N) reduces to 1000·Σg/N — one floor, and
        // 1000·Σg ≤ 10⁶·N stays in BIGINT to N ≈ 10¹² rows
        expr("(1000 * __g) div __nn").as("ece_micro"))
  }

  /** Fleiss' kappa — chance-corrected agreement for MANY annotators
    * (the [[cohenKappa]] sibling when judgments come from a pool, not
    * a fixed pair): items carry n_i ≥ 2 judgments each; per-item
    * agreement P_i = Σ_j c_ij(c_ij−1) / (n_i(n_i−1)) (the fraction
    * of concordant judgment pairs), P̄_o their mean, and
    * P̄_e = Σ_j p_j² from the pooled label proportions. Variable
    * n_i is allowed (the natural crowdsourcing shape); single-vote
    * items are excluded — they have no pairs to agree.
    *
    * DEFINED floor arithmetic (exact on both engines, no LCM of the
    * varying n_i(n_i−1) denominators): pi_micro floors per item,
    * po_micro floors their sum over I, pe_micro floors
    * 10⁶·Σ(T_j²)/N² with T_j the pooled label totals, and
    * kappa_micro = 10⁶·(po−pe)/(10⁶−pe) through the sign-split
    * `div`. The cumulative floor bias is < 2 micro-units — the
    * operator's published contract is this integer chain, and the
    * q-oracle replays it term for term. Safe while N ≤ 3·10⁶
    * pooled judgments (10⁶·T² < 2⁶³, the cohenKappa bound).
    *
    * Single-vote items are excluded from BOTH lanes — P̄_e pools the
    * same judgment set P̄_o averages over, so a flood of unpaired
    * drive-by votes cannot move the chance model.
    *
    * One (item, label) aggregate → item grain → two tiny rollups;
    * the label lane re-joins the first aggregate at item grain. One
    * row out: (n_items, n_judgments, n_categories, po_micro,
    * pe_micro, kappa_micro). */
  def fleissKappa(df: DataFrame, itemCol: String,
      labelCol: String): DataFrame = {
    val counts = df.groupBy(col(itemCol).as("item"),
        col(labelCol).as("label"))
      .agg(count(lit(1)).as("c"))
    val itemsNi = counts.groupBy(col("item"))
      .agg(sum(col("c")).as("ni"),
        sum(col("c") * (col("c") - 1L)).as("pairs"))
      .filter(col("ni") >= 2)
    val items = itemsNi
      .select(expr("(1000000 * pairs) div (ni * (ni - 1))").as("pi_micro"))
    val po = items.agg(count(lit(1)).as("n_items"),
      coalesce(sum(col("pi_micro")), lit(0L)).as("__pisum"))
    val labels = counts
      .join(itemsNi.select(col("item")), Seq("item"))
      .groupBy(col("label"))
      .agg(sum(col("c")).as("tj"))
    val pe = labels.agg(
      coalesce(sum(col("tj")), lit(0L)).as("n_judgments"),
      count(lit(1)).as("n_categories"),
      coalesce(sum(col("tj") * col("tj")), lit(0L)).as("__t2"))
    po.crossJoin(pe)
      .withColumn("po_micro",
        when(col("n_items") > 0, expr("__pisum div n_items")))
      .withColumn("pe_micro",
        when(col("n_judgments") > 0,
          expr("(1000000 * __t2) div (n_judgments * n_judgments)")))
      .withColumn("kappa_micro",
        when(col("pe_micro") < 1000000L && col("po_micro").isNotNull, expr(
          """CASE WHEN 1000000L * (po_micro - pe_micro) >= 0
            | THEN (1000000L * (po_micro - pe_micro)) div (1000000L - pe_micro)
            | ELSE -((-(1000000L * (po_micro - pe_micro)))
            |        div (1000000L - pe_micro))
            | END""".stripMargin)))
      .select(col("n_items"), col("n_judgments"), col("n_categories"),
        col("po_micro"), col("pe_micro"), col("kappa_micro"))
  }

  /** Cohen's kappa between two annotators — chance-corrected
    * agreement over the items BOTH labeled (inner join on item):
    * κ = (p_o − p_e)/(1 − p_e) with p_o = diag/N and
    * p_e = Σ_label row·col / N². Exact-integer form: κ's numerator
    * and denominator clear to BIGINT — κ = (N·diag − Σrc) /
    * (N² − Σrc) — and ship as `kappa_micro` through the
    * sign-split integer `div` (κ can be negative: worse-than-chance
    * annotators; `div` truncates, so the split floors both signs
    * identically to DuckDB's `//` on the mirrored nonnegative
    * form). Safe while N ≤ 3·10⁶ (10⁶·N² < 2⁶³) — N is the
    * CO-LABELED item count, and doubly-annotated overlap sets are
    * audit samples, not corpora. Degenerate p_e = 1 (both
    * annotators constant and identical) → null kappa, agreement
    * still 1.
    *
    * One row out: (n_items, n_agree, po_micro, pe_micro,
    * kappa_micro). Physical shape: item-grain inner join, one
    * (labelA, labelB) contingency aggregate (|labels|² rows), then
    * driver-sized arithmetic — the corpus pays the join; kappa
    * itself is computed on the contingency table. */
  def cohenKappa(dfA: DataFrame, dfB: DataFrame, itemCol: String,
      labelCol: String): DataFrame = {
    val pairs = dfA.select(col(itemCol).as("item"),
        col(labelCol).as("__la"))
      .join(dfB.select(col(itemCol).as("item"), col(labelCol).as("__lb")),
        Seq("item"))
    val cont = pairs.groupBy(col("__la"), col("__lb"))
      .agg(count(lit(1)).as("c"))
    val rows = cont.groupBy(col("__la")).agg(sum(col("c")).as("r"))
    val cols = cont.groupBy(col("__lb")).agg(sum(col("c")).as("k"))
    val sums = cont.agg(
      coalesce(sum(col("c")), lit(0L)).as("n"),
      coalesce(sum(when(col("__la") === col("__lb"), col("c"))
        .otherwise(0L)), lit(0L)).as("n_agree"))
    val src = rows.join(cols, col("__la") === col("__lb"))
      .agg(coalesce(sum(col("r") * col("k")), lit(0L)).as("src"))
    sums.crossJoin(src)
      .select(col("n").as("n_items"), col("n_agree"),
        expr("(1000000 * n_agree) div n").as("po_micro"),
        expr("(1000000 * src) div (n * n)").as("pe_micro"),
        when(col("n") * col("n") =!= col("src"), expr(
          """CASE WHEN 1000000L * (n * n_agree - src) >= 0
            | THEN (1000000L * (n * n_agree - src)) div (n * n - src)
            | ELSE -((-(1000000L * (n * n_agree - src))) div (n * n - src))
            | END""".stripMargin)).as("kappa_micro"))
  }

  /** Per-key OLS trend slope over event time — "is this source's
    * quality/volume drifting, and how fast": slope = (n·Σxy − Σx·Σy)
    * / (n·Σx² − (Σx)²) with x = whole HOURS since the key's first
    * event (per-key re-centering keeps x² sums small and is
    * shift-invariant — the slope doesn't change, the overflow
    * envelope does) and y = value·1000. The cross products run in
    * DECIMAL(38,0) (the driftChi2 discipline: BIGINT dies at
    * n·Σxy·10⁶ ≳ 9·10¹⁸, decimal keeps the chain exact past any
    * realistic key) and the final division is the sign-split
    * truncating form both engines floor identically on.
    *
    * One window (per-key min — partitioned, never global) + one hash
    * aggregate; output is key-grain. Keys with < 2 distinct x (all
    * events in one hour) have zero denominator → null slope. */
  def trendSlopes(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
    val staged = df
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("__x0", min(col("__us")).over(w))
      .withColumn("__x", expr("(__us - __x0) div 3600000000"))
      .withColumn("__y", floor(col(valueCol) * lit(1000)).cast("long"))
    staged.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__x")).as("sx"), sum(col("__y")).as("sy"),
        sum(col("__x") * col("__x")).as("sxx"),
        sum(col("__x") * col("__y")).as("sxy"))
      .withColumn("__num", col("n").cast("decimal(38,0)") * col("sxy")
        - col("sx").cast("decimal(38,0)") * col("sy"))
      .withColumn("__den", col("n").cast("decimal(38,0)") * col("sxx")
        - col("sx").cast("decimal(38,0)") * col("sx"))
      .withColumn("slope_micro", when(col("__den") > 0, expr(
        """CASE WHEN __num >= 0
          | THEN CAST((__num * 1000) div __den AS BIGINT)
          | ELSE -CAST(((-__num) * 1000) div __den AS BIGINT)
          | END""".stripMargin)))
      .withColumn("mean_milli", expr("sy div n"))
      .drop("__num", "__den")
  }

  /** 1e6/log2(rank+1) for ranks 1..10, floored to micro units — the
    * nDCG discount table as FIXED integer constants, so the metric
    * never computes a runtime logarithm and every engine agrees
    * bit-for-bit (the constants ARE the metric definition here, the
    * same way BLEU fixes its n-gram weights). */
  private val NdcgDiscMicro = Seq(1000000L, 630929L, 500000L, 430676L,
    386852L, 356207L, 333333L, 315464L, 301029L, 289064L)

  /** nDCG@k retrieval quality per query — graded-relevance ranking
    * eval (the retrieval counterpart of [[passAtK]]): DCG = Σ rel·
    * disc(rank) over the system's top-k, IDCG the same over the
    * relevance-ideal order, ndcg = 1000·DCG / IDCG. Integer micro
    * lanes with the fixed discount table above; ideal-order ties
    * need no tiebreak (equal rel at equal rank contributes equally,
    * so the value is tie-permutation invariant — the q270 rank
    * discipline). `ranking` must totally order within a query.
    * Queries with all-zero relevance emit null ndcg. Two per-query
    * windows + one aggregate — partitioned by query, never global. */
  def ndcgAtK(df: DataFrame, queryCol: String, relCol: String,
      ranking: Seq[Column], k: Int): DataFrame = {
    require(k >= 1 && k <= NdcgDiscMicro.size,
      s"k must be in [1,${NdcgDiscMicro.size}], got $k")
    require(ranking.nonEmpty, "ranking must be non-empty")
    val disc = array(NdcgDiscMicro.map(lit): _*)
    val staged = df
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(queryCol)).orderBy(ranking: _*)))
      .withColumn("__ir", row_number().over(
        Window.partitionBy(col(queryCol)).orderBy(col(relCol).desc)))
    staged.groupBy(col(queryCol))
      .agg(
        sum(when(col("__r") <= k,
          col(relCol) * element_at(disc, col("__r"))).otherwise(0L))
          .as("dcg_micro"),
        sum(when(col("__ir") <= k,
          col(relCol) * element_at(disc, col("__ir"))).otherwise(0L))
          .as("idcg_micro"))
      .withColumn("ndcg_milli", when(col("idcg_micro") > 0,
        expr("(1000 * dcg_micro) div idcg_micro")))
  }

  /** Exact 1-D earth-mover's (Wasserstein-1) distance between two
    * samples on a bounded integer grid — the ORDERED drift measure
    * [[driftChi2]] can't be: chi-square scores "how many rows moved
    * bin", EMD scores "how FAR the mass moved" (a one-bin shift and
    * a ten-bin shift look identical to χ², wildly different here).
    * EMD₁ = Σ_cells |cdfA − cdfB| in cell widths; kept exact by
    * cross-multiplying the counts — Σ|cumA·NB − cumB·NA| — and
    * dividing once: emd_micro = 10⁶·Σ / (NA·NB), all DECIMAL(38,0)
    * (Σ can reach cells·NA·NB). Values clamp onto [lo, lo+2^rangeBits)
    * shifted down to `bits` cells — the [[graft.operators.Layout.quantize]]
    * contract, bounds being design constants.
    *
    * Two grid-grain aggregates + one spine window (bounded — the
    * spine contract); corpus size appears only in the first pass. */
  def emd1d(dfA: DataFrame, dfB: DataFrame, valueCol: String,
      lo: Long, rangeBits: Int, bits: Int): DataFrame = {
    val cells = 1L << bits
    def gridCounts(df: DataFrame, out: String) =
      df.select(graft.operators.Layout.quantize(col(valueCol), lo,
        rangeBits, bits).as("cell"))
        .groupBy(col("cell")).agg(count(lit(1)).as(out))
    val spine = dfA.sparkSession.range(0, cells).toDF("cell")
      .join(gridCounts(dfA, "na_c"), Seq("cell"), "left")
      .join(gridCounts(dfB, "nb_c"), Seq("cell"), "left")
      .na.fill(0L, Seq("na_c", "nb_c"))
    val tot = spine.agg(sum(col("na_c")).as("__na"),
      sum(col("nb_c")).as("__nb"))
    val w = Window.orderBy(col("cell"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = spine
      .withColumn("cum_a", sum(col("na_c")).over(w))
      .withColumn("cum_b", sum(col("nb_c")).over(w))
      .crossJoin(broadcast(tot))
    cum.agg(
        max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
        sum(abs(col("cum_a").cast("decimal(38,0)") * col("__nb")
          - col("cum_b").cast("decimal(38,0)") * col("__na"))).as("__s"))
      .withColumn("emd_micro", when(col("n_a") > 0 && col("n_b") > 0,
        expr("CAST((__s * 1000000) div " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")))
      .drop("__s")
  }

  /** Difference-in-differences over a 2×2 (treated × post) design —
    * the pre-trend-controlled effect estimate an A/B readout needs
    * when assignment wasn't randomized: DiD = (T̄post − T̄pre) −
    * (C̄post − C̄pre), every group mean a sign-split milli floor
    * (floors applied per group mean — the defined estimator here —
    * then exact integer subtraction). One 4-group aggregate; any
    * missing cell nulls the estimate loudly. */
  def didEstimate(df: DataFrame, treatCol: String, postCol: String,
      valueCol: String): DataFrame = {
    val g = df.groupBy(col(treatCol).cast("int").as("treated"),
        col(postCol).cast("int").as("post"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col(valueCol) * lit(1000)).cast("long")).as("s"))
      .withColumn("mean_milli", expr(
        """CASE WHEN s >= 0 THEN s div n ELSE -((-s) div n) END"""))
    val cell = (t: Int, p: Int) => max(when(col("treated") === t &&
      col("post") === p, col("mean_milli")))
    g.agg(
        count(lit(1)).as("n_cells"),
        cell(1, 0).as("t_pre"), cell(1, 1).as("t_post"),
        cell(0, 0).as("c_pre"), cell(0, 1).as("c_post"))
      .withColumn("did_milli", when(col("n_cells") === 4,
        (col("t_post") - col("t_pre")) - (col("c_post") - col("c_pre"))))
  }

  /** Kaplan–Meier survival curve with right-censoring — retention /
    * time-to-churn / document-lifetime estimation where "still alive
    * at cutoff" must not count as death (dropping censored rows
    * biases survival DOWN; treating them as events biases it further
    * — the censoring column is the whole point). Ŝ(t) = Π_{tᵢ ≤ t}
    * (nᵢ − dᵢ)/nᵢ over distinct event times, with per-step milli
    * floors so the curve is a defined integer trajectory (the
    * hedge/EWMA discipline); censored rows leave the risk set
    * without stepping the product.
    *
    * The corpus-sized work is ONE aggregate to the distinct-duration
    * grid; the reverse-cumulative risk window and the product fold
    * run on that bounded grid (the spine contract), never on rows.
    * The contract is ENFORCED, not documentary: the fold passes the
    * whole grid through one collect_list row, so a grid wider than
    * `maxGrid` raises loudly in-plan (quantize durations — days,
    * not micros — before calling) instead of silently building a
    * corpus-sized single row. */
  def kaplanMeier(df: DataFrame, durationCol: String,
      eventCol: String, maxGrid: Int = 1 << 20): DataFrame = {
    require(maxGrid > 0, s"maxGrid must be positive, got $maxGrid")
    val g = df.select(col(durationCol).cast("long").as("t"),
        col(eventCol).cast("long").as("e"))
      .filter(col("t").isNotNull && col("t") >= 0)
      .groupBy(col("t"))
      .agg(count(lit(1)).as("ct"), sum(col("e")).as("dt"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(0, Window.unboundedFollowing)
    val risk = g.withColumn("n_risk", sum(col("ct")).over(w))
    risk.agg(sort_array(collect_list(struct(col("t"), col("ct"),
        col("dt"), col("n_risk")))).as("__s0"))
      // the guard must live INSIDE the consumed column (the
      // giniCoefficient discipline — a separate guard column would
      // be pruned away unevaluated)
      .withColumn("__s", when(size(col("__s0")) > maxGrid, raise_error(
          concat(lit("kaplanMeier: distinct-duration grid has "),
            size(col("__s0")).cast("string"),
            lit(s" points > maxGrid=$maxGrid — quantize $durationCol" +
              " to a bounded grid before calling")))
          .cast("array<struct<t:bigint,ct:bigint,dt:bigint,n_risk:bigint>>"))
        .otherwise(col("__s0")))
      .drop("__s0")
      .withColumn("__surv", expr(
        """aggregate(__s,
          |  named_struct('s', cast(1000 as bigint),
          |    'out', cast(array() as array<bigint>)),
          |  (acc, x) -> named_struct(
          |    's', (acc.s * (x.n_risk - x.dt)) div x.n_risk,
          |    'out', array_append(acc.out,
          |      (acc.s * (x.n_risk - x.dt)) div x.n_risk)),
          |  acc -> acc.out)""".stripMargin))
      .select(explode(arrays_zip(col("__s"), col("__surv"))).as("__z"))
      .select(col("__z.__s.t").as("duration"),
        col("__z.__s.ct").as("n_ending"),
        col("__z.__s.dt").as("n_events"),
        col("__z.__s.n_risk").as("n_at_risk"),
        col("__z.__surv").as("survival_milli"))
  }

  /** Two-group log-rank test — "do the two survival curves differ",
    * the inferential partner of [[kaplanMeier]] (retention A/B
    * tests, time-to-churn, time-to-first-alarm): at each distinct
    * EVENT time t, with n at risk (n₁ in group 1), d events
    * (d₁ in group 1),
    *   E₁ₜ = d·n₁/n,   Vₜ = d·(n₁/n)(1−n₁/n)(n−d)/(n−1)
    * and the statistic is (Σd₁ − ΣE₁)²/ΣV. All lanes are floored
    * integer micro with STAGED divisions (the driftChi2 discipline;
    * each stage documented ≤ 10³³ in DECIMAL(38,0), good to
    * n ≈ 10⁹ subjects):
    *   e1_micro_t = ⌊10⁶·d·n₁ / n⌋
    *   v_micro_t  = ⌊⌊⌊10⁶·d·n₁ / n⌋·(n−n₁) / n⌋·(n−d)
    *                 / max(n−1, 1)⌋
    *   oe_micro   = 10⁶·Σd₁ − Σe1_micro
    *   chi2_micro = ⌊oe_micro² / Σv_micro⌋    (the 10⁶ scales
    *                cancel: oe² carries 10¹², V carries 10⁶)
    * Per-time floors sum (< |event times| micro off the real sums —
    * deterministic in both engines, the srmCheck convention).
    * Censored rows hold the risk set without contributing events.
    *
    * Shape: one (time)-grain aggregate carrying both groups' run
    * and event counts, ONE suffix-sum window over the bounded
    * distinct-time grid (the kaplanMeier spine contract), one
    * scalar aggregate. */
  def logRank(df: DataFrame, groupCol: String, timeCol: String,
      eventCol: String): DataFrame = {
    val g = df
      .filter(col(timeCol).isNotNull && col(groupCol).isNotNull &&
        col(eventCol).isNotNull)
      .select(col(groupCol).cast("boolean").as("__g1"),
        col(timeCol).cast("long").as("__t"),
        col(eventCol).cast("long").as("__e"))
      .filter(col("__t") >= 0)
      .groupBy(col("__t"))
      .agg(count(lit(1)).as("__ct"),
        sum(when(col("__g1"), 1L).otherwise(0L)).as("__ct1"),
        sum(col("__e")).as("__dt"),
        sum(when(col("__g1"), col("__e")).otherwise(0L)).as("__dt1"))
    val w = Window.orderBy(col("__t"))
      .rowsBetween(0, Window.unboundedFollowing)
    val risk = g
      .withColumn("__n", sum(col("__ct")).over(w))
      .withColumn("__n1", sum(col("__ct1")).over(w))
      .filter(col("__dt") > 0)
    risk
      .agg(coalesce(sum(col("__dt1")), lit(0L)).as("d1"),
        coalesce(sum(col("__dt")), lit(0L)).as("d_total"),
        coalesce(sum(expr(
          """(CAST(1000000 AS DECIMAL(38,0)) * __dt * __n1) div __n""")),
          lit(0L)).as("__e1"),
        // staged so every div result fits BIGINT (ratios ≤ 1 keep
        // each stage ≤ 10⁶·d) while every product runs in DECIMAL
        coalesce(sum(expr(
          """(CAST((CAST((CAST(1000000 AS DECIMAL(38,0)) * __dt * __n1)
            |    div __n AS DECIMAL(38,0)) * (__n - __n1)) div __n
            |  AS DECIMAL(38,0)) * (__n - __dt))
            |  div GREATEST(__n - 1, 1)""".stripMargin)),
          lit(0L)).as("__v"))
      .withColumn("e1_micro", col("__e1").cast("long"))
      .withColumn("v_micro", col("__v").cast("long"))
      .withColumn("__oe", expr(
        "CAST(1000000 AS DECIMAL(38,0)) * d1 - __e1"))
      .withColumn("oe_micro", col("__oe").cast("long"))
      .withColumn("chi2_micro", when(col("__v") > 0, expr(
        "CAST((ABS(__oe) * ABS(__oe)) div __v AS BIGINT)")))
      .select("d1", "d_total", "e1_micro", "v_micro", "oe_micro",
        "chi2_micro")
  }

  /** Split-conformal calibration + coverage audit — the
    * distribution-free "how wrong can the model be" wrapper: the
    * threshold is the k-th smallest calibration nonconformity score
    * (milli-quantized) at k = ⌈(n+1)·(1−α)⌉, which guarantees
    * P(test score ≤ threshold) ≥ 1−α exchangeably; the test lane
    * then reports realized coverage. Rank-exact — no interpolated
    * quantiles, so engines agree on ties (the q270 discipline) — and
    * k > n (tiny calibration sets) fails loudly rather than silently
    * emitting +∞.
    *
    * Shape: one window rank over the CALIBRATION set only (small by
    * design — that's what "split" buys; the partition-less rank runs
    * on it alone, never on test data), the 1-row threshold broadcast
    * to the test scan. A calibration set too small for the requested
    * α (k > n) yields an EMPTY frame — no finite threshold exists. */
  def conformal(cal: DataFrame, test: DataFrame, scoreCol: String,
      alphaMilli: Long): DataFrame = {
    require(alphaMilli >= 1 && alphaMilli <= 999,
      s"alphaMilli must be in [1,999], got $alphaMilli")
    val qm = 1000L - alphaMilli
    def milli(df: DataFrame) = df.select(
      floor(col(scoreCol) * lit(1000)).cast("long").as("__s"))
    val scored = milli(cal)
    // rank-exact k-selection on the RUN-GRAIN prefix-sum spine (the
    // robustLocation pattern): the r15 partition-less-window lint
    // caught the original row_number().over(Window.orderBy(__s)) —
    // a one-task funnel over the whole calibration slice, row-scale
    // at 100 TB. Runs + two-pass prefix sums select the same
    // quantized threshold with no bare window anywhere.
    val runs = CheckpointHygiene.materialize(
      scored.groupBy(col("__s")).agg(count(lit(1)).as("__c")))
    val cum = graft.operators.Relational.globalPrefixSum(runs,
      Seq(col("__s").asc), "__c", "__cc")
    val n = runs.agg(coalesce(sum(col("__c")), lit(0L)).as("n_cal"))
    val thr = cum.crossJoin(broadcast(n))
      .withColumn("__k", expr(s"((n_cal + 1) * $qm + 999) div 1000"))
      .filter(col("__cc") >= col("__k"))
      .groupBy(col("n_cal"), col("__k"))
      .agg(min(col("__s")).as("thr_milli"))
      .select(col("n_cal"), col("__k").cast("long").as("k"),
        col("thr_milli"))
    milli(test).crossJoin(broadcast(thr))
      .groupBy(col("n_cal"), col("k"), col("thr_milli"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("__s") <= col("thr_milli"), 1L).otherwise(0L))
          .as("covered"))
      .withColumn("coverage_milli", expr("(1000 * covered) div n_test"))
  }

  /** Hedge / multiplicative-weights data-mixing controller — the
    * online reweighter for domain sampling ("which sources earned
    * more of the next epoch's token budget"): per arm (domain),
    * w₀ = 1000 and wᵣ₊₁ = ⌊wᵣ · (1000 + ⌊η·xᵣ/1000⌋) / 1000⌋ over
    * the arm's reward sequence xᵣ ∈ [0,1000] milli (clamped here, so
    * callers can feed raw averages), then p = ⌊1000·w / Σw⌋. The
    * per-step floor keeps every weight BIGINT-exact (the hash-pinned
    * trajectory discipline of [[Relational.ewmaMilli]]).
    *
    * The fold is per-arm sequential but arms are few (domains): one
    * hash aggregate gathers each arm's (round, reward) list, a
    * Catalyst `aggregate` HOF folds it in round order — codegen, no
    * RDD, no shuffle beyond the one aggregate — and the 1-row total
    * broadcasts back for normalization. Rounds must be unique per
    * arm; missing rounds simply don't multiply (a gap is not a zero
    * reward). */
  def hedgeWeights(rewards: DataFrame, armCol: String, roundCol: String,
      rewardCol: String, etaMilli: Long): DataFrame = {
    require(etaMilli >= 0 && etaMilli <= 1000,
      s"etaMilli must be in [0,1000], got $etaMilli")
    val ordered = sort_array(collect_list(struct(col(roundCol).as("r"),
      greatest(lit(0L), least(lit(1000L), col(rewardCol).cast("long")))
        .as("x"))))
    val folded = rewards.groupBy(col(armCol).as("arm"))
      .agg(aggregate(
        transform(ordered, s => s.getField("x")), lit(1000L),
        (acc, x) => sdiv(acc * (lit(1000L) + sdiv(lit(etaMilli) * x,
          lit(1000L))), lit(1000L)))
        .as("w_final"))
    val tot = folded.agg(sum(col("w_final")).as("__tot"))
    folded.crossJoin(broadcast(tot))
      .withColumn("p_milli", expr("(1000 * w_final) div __tot"))
      .drop("__tot")
  }

  /** Decision-stump split scoring over quantized numeric features —
    * the CART split-selection step (Breiman et al. 1984) as a
    * relational operator, all-integer like [[logisticTrainInt]]. For
    * every (feature, threshold) candidate — thresholds are the
    * feature's observed distinct values, the only points where the
    * partition changes — emit the left/right class counts of the
    * split `x ≤ t` and the purity score
    *
    *   score_micro = (10⁶·(n0L²+n1L²)) div nL
    *               + (10⁶·(n0R²+n1R²)) div nR
    *
    * (maximizing this MINIMIZES weighted Gini impurity: n·G =
    * n − Σside (n0²+n1²)/nside; the 10⁶ floor makes the argmax an
    * integer function of the counts — engine-exact, q155 discipline).
    * Candidates with an empty right side (t = max) are excluded —
    * they are not splits.
    *
    * Shape: one corpus-sized union-project (|features| skinny
    * copies), ONE hash aggregate to (feature, value) grain — the
    * data reduction — then windows ONLY over the model-sized grain
    * table (|distinct values| rows, partitioned by feature; never a
    * corpus window). Callers pre-quantize continuous features (e.g.
    * ×100) — thresholds on raw doubles would not be engine-stable. */
  def stumpCandidates(df: DataFrame, labelCol: String,
      features: Seq[String]): DataFrame = {
    require(features.nonEmpty, "stumpCandidates needs at least one feature")
    val y = col(labelCol).cast("long")
    val stacked = features.map { f =>
      df.filter(col(f).isNotNull)
        .select(lit(f).as("feature"), col(f).cast("long").as("threshold"),
          y.as("__y"))
    }.reduce(_ unionByName _)
    val grain = stacked.groupBy(col("feature"), col("threshold"))
      .agg(sum(col("__y")).as("__c1"),
        (count(lit(1)) - sum(col("__y"))).as("__c0"))
    val wCum = Window.partitionBy(col("feature")).orderBy(col("threshold"))
    val wAll = Window.partitionBy(col("feature"))
    grain
      .withColumn("n1_left", sum(col("__c1")).over(wCum))
      .withColumn("n0_left", sum(col("__c0")).over(wCum))
      .withColumn("__t1", sum(col("__c1")).over(wAll))
      .withColumn("__t0", sum(col("__c0")).over(wAll))
      .withColumn("n1_right", col("__t1") - col("n1_left"))
      .withColumn("n0_right", col("__t0") - col("n0_left"))
      .filter(col("n1_right") + col("n0_right") > 0)
      .withColumn("score_micro", expr(
        """(1000000 * (n0_left*n0_left + n1_left*n1_left))
          |  div (n0_left + n1_left)
          |+ (1000000 * (n0_right*n0_right + n1_right*n1_right))
          |  div (n0_right + n1_right)""".stripMargin))
      .select(col("feature"), col("threshold"), col("n0_left"),
        col("n1_left"), col("n0_right"), col("n1_right"), col("score_micro"))
  }

  /** The chosen stump: argmax score over [[stumpCandidates]], ties
    * broken (feature, threshold) ascending — fully deterministic.
    * Adds each side's majority class (ties → class 0, the
    * conservative default). The window runs over the MODEL-sized
    * candidate table, not the corpus. */
  def trainStump(df: DataFrame, labelCol: String,
      features: Seq[String]): DataFrame = {
    val cand = stumpCandidates(df, labelCol, features)
    val w = Window.orderBy(col("score_micro").desc, col("feature").asc,
      col("threshold").asc)
    cand.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).drop("__rk")
      .withColumn("left_class",
        when(col("n1_left") > col("n0_left"), 1L).otherwise(0L))
      .withColumn("right_class",
        when(col("n1_right") > col("n0_right"), 1L).otherwise(0L))
  }

  /** Apply a trained stump (broadcast 1-row model, the
    * logisticPredictInt pattern): predicted class + confusion-matrix
    * rollup (tp/fp/tn/fn, accuracy_milli). */
  def stumpPredict(df: DataFrame, labelCol: String, features: Seq[String],
      model: DataFrame): DataFrame = {
    require(features.nonEmpty, "stumpPredict needs the feature list")
    val m = broadcast(model.select(col("feature"), col("threshold"),
      col("left_class"), col("right_class")))
    val x = map(features.flatMap(f => Seq(lit(f), col(f).cast("long"))): _*)
    val pred = when(element_at(x, col("feature")) <= col("threshold"),
      col("left_class")).otherwise(col("right_class"))
    val y = col(labelCol).cast("long")
    df.crossJoin(m)
      .select(y.as("__y"), pred.as("__p"))
      .agg(sum(when(col("__y") === 1 && col("__p") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("__y") === 0 && col("__p") === 1, 1L).otherwise(0L)).as("fp"),
        sum(when(col("__y") === 0 && col("__p") === 0, 1L).otherwise(0L)).as("tn"),
        sum(when(col("__y") === 1 && col("__p") === 0, 1L).otherwise(0L)).as("fn"))
      .withColumn("n", col("tp") + col("fp") + col("tn") + col("fn"))
      .withColumn("accuracy_milli",
        expr("(1000 * (tp + tn)) div n"))
  }

  /** Depth-2 decision tree: the root stump plus one stump per side,
    * each trained on its partition — recursive partitioning made
    * explicit (and the reason forests shuffle at feature-grain, not
    * row-grain: every level is ONE aggregate pass over its subset,
    * never a per-node scan of the corpus). Output: three model rows
    * `node ∈ {root, left, right}` with the q316 candidate columns +
    * majority classes. A side whose subset admits no split (single
    * distinct value on every feature, or empty) emits NO row — the
    * root's majority class for that side already decides, and a
    * fabricated degenerate split would poison downstream predict.
    *
    * The 1-row root model is collected to the driver to build the
    * two side predicates — model-bounded driver data (the
    * logisticTrainInt posture), never corpus rows. */
  def trainTree2(df: DataFrame, labelCol: String,
      features: Seq[String]): DataFrame = {
    val root = trainStump(df, labelCol, features)
    val r = root.select(col("feature"), col("threshold")).collect()(0)
    val (rf, rt) = (r.getString(0), r.getLong(1))
    val leftDf = df.filter(col(rf).cast("long") <= rt)
    val rightDf = df.filter(col(rf).cast("long") > rt)
    root.withColumn("node", lit("root"))
      .unionByName(trainStump(leftDf, labelCol, features)
        .withColumn("node", lit("left")))
      .unionByName(trainStump(rightDf, labelCol, features)
        .withColumn("node", lit("right")))
      .select(col("node"), col("feature"), col("threshold"),
        col("n0_left"), col("n1_left"), col("n0_right"), col("n1_right"),
        col("score_micro"), col("left_class"), col("right_class"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — THE standard way
    * hybrid retrieval merges a lexical ranking (BM25, q140) with a
    * vector ranking (ANN, q110): per (query, doc),
    *   rrf_micro = Σ_sources 10⁶ div (k + rank)
    * floored per source (integer, engine-exact; k=60 is the
    * paper's constant, exposed). Input: (query, doc, rank) with rank
    * 1-based; several source tables union upstream. One hash
    * aggregate at (query, doc) grain, then the grouped top-`topK`
    * via the [[Relational.groupedTopK]] window shape — no global
    * sort. Ties (possible: the floor quantizes) break (doc asc) —
    * deterministic. */
  def rrfFuse(rankings: DataFrame, queryCol: String, docCol: String,
      rankCol: String, k: Int = 60, topK: Int = 10): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val fused = rankings
      .filter(col(rankCol) >= 1)
      .groupBy(col(queryCol), col(docCol))
      .agg(count(lit(1)).as("n_sources"),
        sum(expr(s"1000000 div ($k + ${rankCol})")).as("rrf_micro"))
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("rrf_micro").desc, col(docCol).asc)
    fused.withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= topK)
  }

  /** Per-key lag-`k` autocorrelation of a value series, exact to the
    * micro floor — "does this metric remember itself k steps back"
    * (seasonality detection, anomaly pre-screening, the ACF number
    * behind every correlogram). Series order is (tsCol, seqCol) — a
    * total order, so ties cannot flip the pairing.
    *
    * Exactness: values quantize to milli floors v; the mean never
    * materializes as a rounded number — both sums are multiplied
    * through by n (m = S/n):
    *   num = Σ_{t≤n−k} (n·vₜ − S)(n·vₜ₊ₖ − S)
    *   den = Σ_{all t} (n·vₜ − S)²
    *   acf_micro = (10⁶·num) div den   (sign-split, so DuckDB's
    *               flooring `//` replays Spark's truncating div)
    * with DECIMAL(38,0) products — n·v ≤ 38 digits holds far past
    * any per-key series that fits an executor. Keys with den = 0
    * (constant series) or fewer than k+1 points yield null, never a
    * fake 0.
    *
    * Shape: ONE shuffle on the key — the lead window and the
    * whole-partition totals ride the same partitioning (no second
    * exchange; the totals are window aggregates, not a join), then a
    * key-grain hash aggregate. No partition-less window, state
    * bounded by key grain. */
  def autocorrelation(df: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, valueCol: String, k: Int): DataFrame = {
    require(k >= 1, s"lag must be >= 1, got $k")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(seqCol))
    val part = Window.partitionBy(col(keyCol))
    val staged = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol), col(tsCol), col(seqCol),
        floor(col(valueCol) * lit(1000)).cast("long").as("__v"))
      .withColumn("__lead", lead(col("__v"), k).over(w))
      .withColumn("__n", count(lit(1)).over(part))
      .withColumn("__s", sum(col("__v")).over(part))
    val c = (x: Column) =>
      (col("__n") * x - col("__s")).cast("decimal(38,0)")
    staged.groupBy(col(keyCol))
      .agg(max(col("__n")).as("n"),
        sum(when(col("__lead").isNotNull, c(col("__v")) * c(col("__lead")))).as("__num"),
        sum(c(col("__v")) * c(col("__v"))).as("__den"))
      .select(col(keyCol), col("n"), lit(k).as("lag"),
        when(col("__den") > 0 && col("__num").isNotNull, expr(
          """CAST(CASE WHEN __num >= 0
            | THEN (__num * 1000000) div __den
            | ELSE -(((-__num) * 1000000) div __den) END AS BIGINT)"""
            .stripMargin)).as("acf_micro"))
  }

  /** One gradient-boosting round with a regression stump on the
    * residuals — the step [[trainStump]]'s classifier family takes
    * toward GBDT (Friedman 2001): base prediction = global label
    * mean (milli, sign-split floor), residuals rₜ = 1000·y − base,
    * then the stump maximizing the squared-error reduction
    *   gain = S_L²/n_L + S_R²/n_R   (S = Σ residuals per side — the
    * constant-total identity makes this THE regression split score,
    * as Σ(r−r̄)² decomposes), ties (feature, threshold) ascending.
    * Leaf updates are learning-rate-scaled mean residuals:
    *   step_milli = sign-split (lrMilli·S) div (1000·n),
    *   leaf value = base + step.
    *
    * All integer: gain's squares run in DECIMAL(38,0) (the
    * driftChi2/trendSlopes envelope — |S| ≤ 1000·n, so BIGINT dies
    * near n ≈ 3·10⁹ while decimal keeps the chain exact) and every
    * division is replayable floor/truncate. Same shuffle shape as
    * [[stumpCandidates]]: one stacked pass, (feature, value)-grain
    * aggregate, windows ONLY over the model-sized candidate table.
    * Returns ONE row: base, chosen split, side stats, gain
    * (milli² units), leaf steps and values. */
  def boostStumpRound(df: DataFrame, labelCol: String,
      features: Seq[String], lrMilli: Long = 300L): DataFrame = {
    require(features.nonEmpty, "boostStumpRound needs at least one feature")
    require(lrMilli >= 1 && lrMilli <= 1000,
      s"lrMilli must be in [1,1000], got $lrMilli")
    val y = col(labelCol).cast("long")
    val base = broadcast(df
      .agg(count(lit(1)).as("__n"), sum(y).as("__sy"))
      .select(expr(
        """CASE WHEN __sy >= 0 THEN (1000 * __sy) div __n
          | ELSE -((-(1000 * __sy)) div __n) END""".stripMargin)
        .as("base_milli")))
    val staged = df.crossJoin(base)
      .select(features.map(col) :+
        (y * 1000 - col("base_milli")).as("__res"): _*)
    val stacked = features.map { f =>
      staged.filter(col(f).isNotNull)
        .select(lit(f).as("feature"), col(f).cast("long").as("threshold"),
          col("__res"))
    }.reduce(_ unionByName _)
    val grain = stacked.groupBy(col("feature"), col("threshold"))
      .agg(count(lit(1)).as("__c"), sum(col("__res")).as("__s"))
    val wCum = Window.partitionBy(col("feature")).orderBy(col("threshold"))
    val wAll = Window.partitionBy(col("feature"))
    val scored = grain
      .withColumn("n_left", sum(col("__c")).over(wCum))
      .withColumn("sum_left_milli", sum(col("__s")).over(wCum))
      .withColumn("n_right", sum(col("__c")).over(wAll) - col("n_left"))
      .withColumn("sum_right_milli",
        sum(col("__s")).over(wAll) - col("sum_left_milli"))
      .filter(col("n_right") > 0)
      .withColumn("gain", expr(
        """CAST((CAST(sum_left_milli AS DECIMAL(38,0)) * sum_left_milli)
          |  div n_left
          |+ (CAST(sum_right_milli AS DECIMAL(38,0)) * sum_right_milli)
          |  div n_right AS BIGINT)""".stripMargin))
    val wTop = Window.orderBy(col("gain").desc, col("feature").asc,
      col("threshold").asc)
    def step(s: String, n: String) = expr(
      s"""CASE WHEN $s >= 0 THEN ($lrMilli * $s) div (1000 * $n)
         | ELSE -(($lrMilli * -$s) div (1000 * $n)) END""".stripMargin)
    scored.withColumn("__rk", row_number().over(wTop))
      .filter(col("__rk") === 1)
      .crossJoin(base)
      .withColumn("left_value_milli",
        col("base_milli") + step("sum_left_milli", "n_left"))
      .withColumn("right_value_milli",
        col("base_milli") + step("sum_right_milli", "n_right"))
      .select(col("base_milli"), col("feature"), col("threshold"),
        col("n_left"), col("n_right"), col("sum_left_milli"),
        col("sum_right_milli"), col("gain"), col("left_value_milli"),
        col("right_value_milli"))
  }

  /** Exact single change-point detection per key — binary
    * segmentation's first split (Scott & Knott 1974 lineage), the
    * OFFLINE counterpart of the cusum alarm (cusum asks "has the
    * level shifted as data streams by"; this asks "where did this
    * recorded series shift"). For every split position t the
    * objective is the two-segment SSE reduction, which by the
    * constant-total identity is
    *   score(t) = S_L²/n_L + S_R²/n_R   (the [[boostStumpRound]]
    * gain, applied to an ORDERED series instead of a feature
    * threshold), and the change point is argmax score, ties earliest
    * t. Integer lanes: values milli, squares in DECIMAL(38,0), each
    * score floored once to BIGINT before the argmax — deterministic
    * and replayable. Output per key: n, split_idx (rows in the left
    * segment), split_ts_us (last left-segment timestamp), left/right
    * means (milli, sign-split), score and the no-split baseline
    * S²/n. Keys with n < 2 emit nothing (no split exists).
    *
    * ONE shuffle: a key-ordered prefix window and the key-local
    * argmax window ride the same partitioning. */
  def changepointBinary(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val wOrd = Window.partitionBy(col("key"))
      .orderBy(col("ts_us"), col("value_milli"))
    val wAll = Window.partitionBy(col("key"))
    val staged = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol)).as("ts_us"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("value_milli"))
      .withColumn("__i", row_number().over(wOrd).cast("long"))
      .withColumn("__sl", sum(col("value_milli")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__s", sum(col("value_milli")).over(wAll))
      .filter(col("__i") < col("__n")) // split AFTER row i
      .withColumn("score", expr(
        """CAST((CAST(__sl AS DECIMAL(38,0)) * __sl) div __i
          |  + (CAST(__s - __sl AS DECIMAL(38,0)) * (__s - __sl))
          |    div (__n - __i) AS BIGINT)""".stripMargin))
    def meanMilli(s: String, n: String) = expr(
      s"""CASE WHEN $s >= 0 THEN $s div $n
         | ELSE -((-$s) div $n) END""".stripMargin)
    staged
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("key"))
          .orderBy(col("score").desc, col("__i").asc)))
      .filter(col("__rk") === 1)
      .select(col("key"), col("__n").as("n"),
        col("__i").as("split_idx"), col("ts_us").as("split_ts_us"),
        meanMilli("__sl", "__i").as("left_mean_milli"),
        meanMilli("(__s - __sl)", "(__n - __i)").as("right_mean_milli"),
        col("score"),
        expr("""CAST((CAST(__s AS DECIMAL(38,0)) * __s) div __n
               | AS BIGINT)""".stripMargin).as("baseline"))
  }

  /** Seasonal z-score anomaly flags, EXACT — the profile-baseline
    * member of the anomaly family ([[Relational.robustOutliers]] is
    * the static-MAD one, cusum the sequential one): each observation
    * is compared against its OWN (key, hour-of-week) population —
    * "is this Tuesday-9am value abnormal FOR Tuesday 9am" — which is
    * what makes weekly-periodic metrics flaggable without
    * deseasonalizing first.
    *
    * No sqrt, no floats: |v−μ| > k·σ squares to
    *   10⁶·(n·v − S)² > kMilli²·(n·Q − S²)
    * with S = Σv, Q = Σv² over the season cell (candidate included —
    * population form), all in DECIMAL(38,0) products (exact past any
    * cell that fits an executor; Q stays in BIGINT up to ~3·10⁶ rows
    * per cell at |v| ≤ 5·10⁵ milli — the documented envelope). The
    * flag set is therefore a pure integer function of the corpus.
    * Cells with fewer than `minN` observations never flag (no
    * baseline) and constant cells flag nothing (RHS 0 needs LHS > 0).
    *
    * Shape: ONE shuffle — whole-partition window aggregates on
    * (key, season); flagged rows only come out. */
  def seasonalAnomalies(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, kMilli: Long, minN: Long = 3L): DataFrame = {
    require(kMilli >= 1, s"kMilli must be positive, got $kMilli")
    require(minN >= 2, s"minN must be >= 2, got $minN")
    val w = Window.partitionBy(col("key"), col("season"))
    df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol)).as("ts_us"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("value_milli"))
      .withColumn("season", expr("(ts_us div 3600000000) % 168"))
      .withColumn("n_in_season", count(lit(1)).over(w))
      .withColumn("__s", sum(col("value_milli")).over(w))
      .withColumn("__q",
        sum(col("value_milli") * col("value_milli")).over(w))
      .filter(col("n_in_season") >= minN)
      .filter(expr(
        s"""1000000 * CAST(n_in_season * value_milli - __s AS DECIMAL(38,0))
           |  * (n_in_season * value_milli - __s)
           |> $kMilli * $kMilli
           |  * (CAST(n_in_season AS DECIMAL(38,0)) * __q
           |     - CAST(__s AS DECIMAL(38,0)) * __s)""".stripMargin))
      .select(col("key"), col("season"), col("ts_us"),
        col("value_milli"), col("n_in_season"))
  }

  /** Off-policy evaluation of a deterministic target policy on
    * logged bandit data — IPS (Horvitz–Thompson) and SNIPS
    * (self-normalized, Swaminathan & Joachims 2015), THE standard
    * counterfactual answer to "what would my new routing/ranking
    * policy have earned on last month's traffic" without deploying
    * it. Inputs per logged row: the logged action, the target
    * policy's action for the same context (callers compute it — a
    * join against a policy table or a pure expression), the realized
    * reward, and the LOGGING policy's propensity of the logged
    * action (milli, > 0).
    *
    * Integer lanes (micro/milli, every floor documented):
    * matched rows contribute wr = sign-split (10⁶·r_milli) div
    * p_milli — exactly 10⁶·(r/p) — and w = 10⁶ div p_milli — exactly
    * 10³·(1/p); then
    *   ips_micro  = sign-split Σwr div n          (mean of r/p over
    *                ALL rows — unmatched rows contribute 0),
    *   snips_milli = sign-split Σwr div Σw        (matched mass
    *                normalized by matched inverse propensity).
    * SNIPS is undefined (null) when nothing matches. One hash
    * aggregate over the log — no shuffle beyond it, no driver state;
    * the estimator is a pure integer function of the log. */
  def ipsValue(df: DataFrame, actionCol: String, policyActionCol: String,
      rewardCol: String, propensityMilliCol: String): DataFrame = {
    val matched = col(actionCol) === col(policyActionCol)
    val staged = df
      .select(matched.as("__m"),
        floor(col(rewardCol) * 1000).cast("long").as("__r"),
        col(propensityMilliCol).cast("long").as("__p"))
      .withColumn("__wr", when(col("__m"), expr(
        """CASE WHEN __r >= 0 THEN (1000000 * __r) div __p
          | ELSE -((1000000 * -__r) div __p) END""".stripMargin))
        .otherwise(0L))
      .withColumn("__w", when(col("__m"), expr("1000000 div __p"))
        .otherwise(0L))
    staged.agg(count(lit(1)).as("n"),
        sum(col("__m").cast("long")).as("n_match"),
        sum(col("__wr")).as("__swr"), sum(col("__w")).as("sum_w_milli"))
      .select(col("n"), col("n_match"), col("sum_w_milli"),
        expr("""CASE WHEN __swr >= 0 THEN __swr div n
               | ELSE -((-__swr) div n) END""".stripMargin).as("ips_micro"),
        when(col("sum_w_milli") > 0, expr(
          """CASE WHEN __swr >= 0 THEN __swr div sum_w_milli
            | ELSE -((-__swr) div sum_w_milli) END""".stripMargin))
          .as("snips_milli"))
  }

  /** lcm(1..10) — the shared denominator that keeps precision@i sums
    * EXACT for any cutoff k ≤ 10 (2520/i is an integer for every
    * i ≤ 10), so MAP needs no per-term floor at all. */
  private val PrecLcm = 2520L

  /** MRR@k + MAP@k per query — the binary-relevance retrieval pair
    * next to [[ndcgAtK]]'s graded metric (the three numbers every
    * retrieval eval reports). Relevance is `relCol > 0`; `ranking`
    * must totally order within a query (the ndcg contract).
    *
    *  - `rr_micro` = 10⁶ div (rank of the first relevant result),
    *    0 when no relevant result lands in the top k — the standard
    *    MRR@k convention (a miss contributes zero to the mean).
    *  - `ap_micro`: AP@k = (Σ_{i≤k, rel_i} precision@i) / min(R, k)
    *    with R = total relevant for the query. Each precision@i term
    *    is carried as cum_i·(2520/i) — an EXACT integer because 2520
    *    is lcm(1..10) — so the only floor is the single final
    *    division: ap_micro = (10⁶·Σ) div (2520·min(R,k)). Queries
    *    with R = 0 emit null ap/rr (no relevant documents exist —
    *    "nothing to find" is not a zero-quality ranking).
    *
    * One per-query window + one hash aggregate — partitioned by
    * query, never global (the ndcgAtK shape). */
  def mrrMapAtK(df: DataFrame, queryCol: String, relCol: String,
      ranking: Seq[Column], k: Int): DataFrame = {
    require(k >= 1 && k <= 10, s"k must be in [1,10], got $k")
    require(ranking.nonEmpty, "ranking must be non-empty")
    val w = Window.partitionBy(col(queryCol)).orderBy(ranking: _*)
    val staged = df
      .withColumn("__rel", (col(relCol) > 0).cast("long"))
      .withColumn("__r", row_number().over(w))
      .withColumn("__cum", sum(col("__rel")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    staged.groupBy(col(queryCol))
      .agg(
        sum(col("__rel")).as("n_rel"),
        min(when(col("__rel") === 1, col("__r"))).cast("long")
          .as("first_rel_rank"),
        sum(when(col("__rel") === 1 && col("__r") <= k,
          col("__cum") * expr(s"$PrecLcm div __r"))
          .otherwise(0L)).as("__apsum"))
      .withColumn("rr_micro", when(col("n_rel") === 0, lit(null))
        .when(col("first_rel_rank") <= k,
          expr("1000000 div first_rel_rank")).otherwise(0L))
      .withColumn("ap_micro", when(col("n_rel") > 0, expr(
        s"(1000000 * __apsum) div ($PrecLcm * least(n_rel, $k))")))
      .drop("__apsum")
  }

  /** Rank-biased overlap @ k (Webber et al. 2010) between two
    * rankings of the same query set — THE rank-similarity measure for
    * comparing retrieval systems (unlike Kendall it is top-weighted
    * and handles non-conjoint lists: exactly the A/B-ranker-diff use
    * case). RBO@k = Σ_{d≤k} (1−p)p^{d−1}·|A_d ∩ B_d|/d, p the
    * persistence parameter (`pMilli`/1000).
    *
    * Integer lane: the depth weights are FIXED micro constants
    * w_d = ⌊10⁶(1−p)p^{d−1}⌋ (BigInt-exact at build time — the
    * NdcgDiscMicro move: the table IS the metric), each term's /d
    * rides the exact 2520 = lcm(1..10) trick of [[mrrMapAtK]], and
    * because an item pair present in both top-d's for every d ≥
    * max(rankA, rankB) contributes a SUFFIX of the weight table, the
    * whole metric collapses to one lookup per common item:
    * rbo_micro = (Σ_items suffix(max(ra, rb))) div 2520. No per-depth
    * loop, no explode — one broadcast-able inner join on (query, doc)
    * + one hash aggregate, then a left join onto the query spine so
    * disjoint rankings report 0, not absence. */
  def rboAtK(rankA: DataFrame, rankB: DataFrame, queryCol: String,
      docCol: String, rankCol: String, k: Int = 10,
      pMilli: Long = 900L): DataFrame = {
    require(k >= 1 && k <= 10, s"k must be in [1,10], got $k")
    require(pMilli >= 0 && pMilli < 1000,
      s"pMilli must be in [0,1000), got $pMilli")
    // w_d·(2520/d), then suffix-summed: suffix(m) = Σ_{d≥m} w_d·2520/d
    val wMicro = (1 to k).map { d =>
      (BigInt(10).pow(6) * BigInt(1000 - pMilli) *
        BigInt(pMilli).pow(d - 1) / BigInt(1000).pow(d)).toLong
    }
    val terms = wMicro.zipWithIndex.map { case (w, i) =>
      w * (PrecLcm / (i + 1))
    }
    val suffix = terms.scanRight(0L)(_ + _).init // suffix(m) at index m-1
    val sufCol = array(suffix.map(lit): _*)
    def side(df: DataFrame, out: String) = df
      .filter(col(rankCol) >= 1 && col(rankCol) <= k)
      .select(col(queryCol).as("query"), col(docCol).as("doc"),
        col(rankCol).cast("long").as(out))
    val joined = side(rankA, "__ra").join(side(rankB, "__rb"),
        Seq("query", "doc"))
      .withColumn("__c",
        element_at(sufCol, greatest(col("__ra"), col("__rb")).cast("int")))
    val spine = rankA.select(col(queryCol).as("query"))
      .unionByName(rankB.select(col(queryCol).as("query"))).distinct()
    spine.join(
        joined.groupBy(col("query"))
          .agg(count(lit(1)).as("n_common"), sum(col("__c")).as("__s")),
        Seq("query"), "left")
      .select(col("query"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        expr(s"coalesce(__s, 0L) div $PrecLcm").as("rbo_micro"))
  }

  /** Per-key Theil–Sen trend estimate — the ROBUST sibling of
    * [[trendSlopes]]' least-squares line (Sen 1968; 29% breakdown
    * point vs OLS's zero: one wild outlier row cannot move it):
    * slope = MEDIAN over all point pairs with distinct x of
    * (y_j−y_i)/(x_j−x_i). Same staging as trendSlopes (x = per-key
    * min-centered hour, y = milli floor).
    *
    * Exactness: pair slopes stay RATIONALS — ordering is the
    * cross-multiplication comparator (dy₁·dx₂ < dy₂·dx₁, dx > 0;
    * products ≤ |dy|·|dx| bounded far under 2⁶³ at key grain), the
    * lower median (index (m−1)/2 — the q311 data-value convention)
    * is selected without ever dividing, and only the selected
    * rational is floored once: slope_micro = sign-split truncating
    * (10⁶·dy) div dx. Equal rationals in different representations
    * floor identically, so the output is representation-independent
    * — which is what lets the oracle enumerate pairs in a different
    * order and still hash-match. Keys with no distinct-x pair emit
    * null.
    *
    * Scale shape: ONE shuffle (groupByKey on raw (key, μs, y) rows —
    * the per-key min-centering happens INSIDE mapGroups, so no
    * separate window pass or its second exchange); O(n²) pair slopes
    * and an O(m log m) sort per key — key-grain state, the
    * [[kendallTau]] posture (Theil–Sen is quadratic by definition;
    * run it on key-sized series, not corpora). */
  def theilSenSlopes(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).cast("long").as("key"),
        unix_micros(col(tsCol)).as("__us"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__y"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val raw = it.map(t => (t._2, t._3)).toArray
        val us0 = raw.iterator.map(_._1).min
        val pts = raw.map { case (us, y) => ((us - us0) / 3600000000L, y) }
        val n = pts.length
        val slopes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val dx = pts(j)._1 - pts(i)._1
            if (dx != 0L) {
              val dy = pts(j)._2 - pts(i)._2
              slopes += (if (dx > 0) (dy, dx) else (-dy, -dx))
            }
            j += 1
          }
          i += 1
        }
        val m = slopes.length
        if (m == 0) TheilSenRow(key, n, 0L, None)
        else {
          val arr = slopes.sortWith { case ((a, b), (c, d)) => a * d < c * b }
          val (dy, dx) = arr((m - 1) / 2)
          val num = 1000000L * dy
          val micro = if (num >= 0) num / dx else -((-num) / dx)
          TheilSenRow(key, n, m.toLong, Some(micro))
        }
      }
      .toDF()
  }

  /** Per-key Kendall rank correlation between two value columns —
    * "do these two quality signals rank my documents the same way"
    * (metric-agreement audits, feature redundancy screens). Exact
    * integer pair counts via Knight's O(n log n) algorithm (1966):
    * sort by (x, y), then discordant = strict inversions of the y
    * sequence counted by merge sort — pairs tied in x sit y-ascending
    * (no inversion), pairs tied in y are never strict. All five
    * pair-classes are exact BIGINTs; n₀ = n(n−1)/2,
    *   tau_a_milli = sign-split (1000·(C−D)) div n₀   (truncating,
    *   the twap_milli lane), and tau_b = (C−D)/√((n₀−Tx)(n₀−Ty))
    * as the IEEE lane — the product is exact in a double up to 2⁵³
    * (per-key n ≤ ~9·10⁷ pairs — far past executor-resident key
    * grain), sqrt and divide are correctly rounded, so the double is
    * ALSO engine-exact (the q219 jaro argument). Keys with n < 2 or
    * a constant side emit null tau.
    *
    * Scale shape: ONE shuffle (groupByKey on the key), per-key
    * O(n log n) CPU and O(n) memory inside mapGroups — key-grain
    * state bound, the q43 typed-mapGroups posture. Ties everywhere
    * are handled by COUNTING, never by ordering luck. `xCol`/`yCol`
    * are milli-quantized; the key must be integral. */
  def kendallTau(df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(keyCol).cast("long"),
        floor(col(xCol) * 1000).cast("long"),
        floor(col(yCol) * 1000).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val rows = it.map(t => (t._2, t._3)).toArray
        val n = rows.length.toLong
        val n0 = n * (n - 1) / 2
        def tiePairs(ks: Iterator[Long]): Long =
          ks.map(m => m * (m - 1) / 2).sum
        val tx = tiePairs(rows.groupBy(_._1).valuesIterator.map(_.length.toLong))
        val ty = tiePairs(rows.groupBy(_._2).valuesIterator.map(_.length.toLong))
        val txy = tiePairs(rows.groupBy(identity).valuesIterator.map(_.length.toLong))
        java.util.Arrays.sort(rows, Ordering.Tuple2[Long, Long])
        // strict inversions of the y sequence (merge sort count)
        val ys = rows.map(_._2)
        val buf = new Array[Long](ys.length)
        var inv = 0L
        def merge(lo: Int, mid: Int, hi: Int): Unit = {
          var i = lo; var j = mid; var o = lo
          while (i < mid && j < hi) {
            if (ys(j) < ys(i)) { inv += mid - i; buf(o) = ys(j); j += 1 }
            else { buf(o) = ys(i); i += 1 }
            o += 1
          }
          while (i < mid) { buf(o) = ys(i); i += 1; o += 1 }
          while (j < hi) { buf(o) = ys(j); j += 1; o += 1 }
          System.arraycopy(buf, lo, ys, lo, hi - lo)
        }
        def msort(lo: Int, hi: Int): Unit = if (hi - lo > 1) {
          val mid = lo + (hi - lo) / 2
          msort(lo, mid); msort(mid, hi); merge(lo, mid, hi)
        }
        msort(0, ys.length)
        val d = inv
        val c = n0 - tx - ty + txy - d
        val tauA = if (n0 > 0) {
          val num = 1000L * (c - d)
          Some(if (num >= 0) num / n0 else -((-num) / n0))
        } else None
        val denB = (n0 - tx) * (n0 - ty)
        val tauB = if (denB > 0)
          Some((c - d).toDouble / math.sqrt(denB.toDouble))
        else None
        KendallRow(key, n, c, d, tx, ty, txy, tauA, tauB)
      }
      .toDF()
  }

  /** Per-key isotonic regression (PAVA) — the standard monotone
    * calibrator (Zadrozny & Elkan 2002 use; Best & Chakravarti 1990
    * algorithm): given (x, y) points per key, fit the nondecreasing
    * step function minimizing Σ(y−ŷ)². Classic pipeline use: turn a
    * model score x into a calibrated probability from observed y.
    *
    * Exactness contract: ties at the same x pool FIRST (their exact
    * milli sum and count), then pool-adjacent-violators runs on
    * (sum, count) RATIONAL blocks — every average comparison is the
    * cross-multiplication S₁·C₂ > S₂·C₁, so no division happens
    * until the single output floor: fit_micro = floorDiv(1000·S, C)
    * (floor, not truncate — negative y series floor identically to
    * DuckDB's `//`). The fitted value is therefore
    * ⌊10⁶·(exact PAVA fit on y)⌋ bit-for-bit on any engine, which is
    * what makes it oracle-able: by the max-min characterization,
    * fit(i) = max_{a≤i} min_{b≥i} avg(y[a..b]), and because floor is
    * monotone the floor commutes through both the max and the min —
    * the oracle replays interval prefix-sum floors with one window +
    * one aggregate and needs no sequential pooling at all.
    *
    * Scale shape: ONE exchange — an explicit hash(key) repartition
    * that the (key, x) tie-pool, the per-key collect, and the O(n)
    * stack PAVA all ride (hash(key) satisfies the (key, x) clustering
    * requirement, so neither aggregate re-shuffles; the closure-keyed
    * groupByKey alternative would pay a second full exchange). The
    * trade: raw rows shuffle instead of (key, x) partials — the right
    * side of the trade when x is near-distinct per key (the common
    * calibration shape); heavy-tie callers can pre-pool. Key-grain
    * state, the kendallTau posture. */
  def isotonicFit(df: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(keyCol).cast("long").as("key"),
        col(xCol).cast("long").as("x"),
        floor(col(yCol) * 1000).cast("long").as("y_milli"))
      .repartition(col("key"))
      .groupBy(col("key"), col("x"))
      .agg(count(lit(1)).as("c"), sum(col("y_milli")).as("s"))
      .groupBy(col("key"))
      .agg(collect_list(struct(col("x"), col("c"), col("s"))).as("__pts"))
      .as[(Long, Seq[(Long, Long, Long)])]
      .flatMap { case (key, rawPts) =>
        val pts = rawPts.toArray.sortBy(_._1)
        // stack of blocks (startIdx, count, sum); merge while the new
        // block's average is NOT above the previous block's
        val xs = pts.map(_._1)
        val stack = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
        var i = 0
        while (i < pts.length) {
          var (st, c, s) = (i, pts(i)._2, pts(i)._3)
          // violator: prev avg >= new avg (S_p·C_n > S_n·C_p merges;
          // equality keeps blocks separate — same fit either way, and
          // separate blocks preserve finer x grain)
          while (stack.nonEmpty && {
            val (_, pc, ps) = stack.last
            ps * c > s * pc
          }) { val (pst, pc, ps) = stack.remove(stack.length - 1)
               st = pst; c += pc; s += ps }
          stack += ((st, c, s))
          i += 1
        }
        stack.iterator.flatMap { case (st, c, s) =>
          val fit = Math.floorDiv(1000L * s, c)
          val end = st + {
            // block spans pooled x positions st until the next block
            var e = st
            var cc = 0L
            while (cc < c) { cc += pts(e)._2; e += 1 }
            e - st
          }
          (st until end).iterator.map { j =>
            IsotonicRow(key, xs(j), pts(j)._2, pts(j)._3, fit)
          }
        }
      }
      .toDF()
  }

  /** Lorenz curve points, EXACT — the concentration picture behind
    * the q302 Gini scalar: rank units by value ascending, cut into
    * `points` population bands, and report each band's cumulative
    * population and value shares in micro (one floored division
    * each). Reads "the bottom 50% of users hold 9.3% of the value".
    * Ranking and cumulative sums ride [[Relational.globalRowNumber]]
    * / [[Relational.globalPrefixSum]] — the two-pass spine, no
    * single-partition window; per-band reduction is one aggregate.
    * Ties order by `idCol` (total order, engine-stable). Negative
    * values are accepted in the ranking (net-position curves dip
    * below zero mid-curve); shares are reported only for a POSITIVE
    * total — a nonpositive total leaves cum_value_micro null rather
    * than dividing by a sign-ambiguous denominator. */
  def lorenzCurve(df: DataFrame, idCol: String, valueCol: String,
      points: Int = 10): DataFrame = {
    require(points >= 2 && points <= 1000,
      s"points must be in [2,1000], got $points")
    val staged = df
      .filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("__id"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    val cum = Relational.globalPrefixSum(staged,
      Seq(col("__v").asc, col("__id").asc), "__v", "__cum")
    cum.crossJoin(broadcast(cum.agg(count(lit(1)).as("__n"),
        sum(col("__v")).as("__t"))))
      .withColumn("band", expr(s"((__r - 1) * $points) div __n"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), max(col("__r")).as("__rmax"),
        expr("max_by(__cum, __r)").as("cum_value_milli"),
        max(col("__n")).as("__n"), max(col("__t")).as("__t"))
      .withColumn("cum_pop_micro",
        expr("(1000000 * __rmax) div __n"))
      // the 10⁶ product runs in DECIMAL(38,0) (the mannWhitneyU /
      // emd1d discipline): in BIGINT it would silently wrap past
      // cum_value_milli ≈ 9.2e12 (total value ~9.2e9) and could even
      // flip the sign branch; the oracle's HUGEINT cast is the same
      // guard on the DuckDB side
      .withColumn("cum_value_micro", when(col("__t") > 0, expr(
        """CASE WHEN cum_value_milli >= 0
          |  THEN CAST((CAST(1000000 AS DECIMAL(38,0)) * cum_value_milli)
          |    div __t AS BIGINT)
          |  ELSE -CAST((CAST(1000000 AS DECIMAL(38,0)) * -cum_value_milli)
          |    div __t AS BIGINT) END"""
          .stripMargin)))
      .select(col("band"), col("n_rows"), col("cum_pop_micro"),
        col("cum_value_milli"), col("cum_value_micro"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum), EXACT — the nonparametric
    * two-sample comparison an A/B review reaches for when means lie:
    * pooled MIDRANKS carried DOUBLED (midrank of a tie run =
    * (min+max)/2, so 2·midrank = min_rank + max_rank is always an
    * integer — no halves, no floats), then
    *   2·U₁ = 2·R₁ − n₁(n₁+1),  2·U₂ = 2·n₁n₂ − 2·U₁,
    * and the probability-of-superiority reading auc_micro =
    * ⌊10⁶·2U₁ / (2·n₁·n₂)⌋ (ties counted half, the standard
    * convention — 500000 = stochastically equal). One row out.
    *
    * Ranks come from VALUE-grain tie runs: one aggregate to distinct
    * values, [[Relational.globalPrefixSum]] for the cumulative
    * counts (min_rank = cum − run + 1, max_rank = cum), then one
    * join back — never a row-grain global sort window. */
  def mannWhitneyU(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val staged = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("boolean").as("__g1"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    val runs = staged.groupBy(col("__v"))
      .agg(count(lit(1)).as("__run"),
        sum(when(col("__g1"), 1L).otherwise(0L)).as("__run1"))
    val cum = Relational.globalPrefixSum(runs, Seq(col("__v").asc),
        "__run", "__cum")
      // doubled midrank of every row at this value: min+max ranks
      .withColumn("__dmr", (col("__cum") - col("__run") + 1L) +
        col("__cum"))
    val out = cum.agg(
      sum(col("__run1")).as("n1"),
      sum(col("__run") - col("__run1")).as("n2"),
      sum(expr("CAST(__dmr AS DECIMAL(38,0)) * __run1")).as("__r1d"))
      .withColumn("r1_doubled", expr("CAST(__r1d AS DECIMAL(38,0))"))
      .withColumn("u1_doubled",
        expr("CAST(__r1d - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS DECIMAL(38,0))"))
      .withColumn("u2_doubled",
        expr("CAST(2 * CAST(n1 AS DECIMAL(38,0)) * n2 - (__r1d - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) AS DECIMAL(38,0))"))
      .withColumn("auc_micro", when(col("n1") > 0 && col("n2") > 0, expr(
        """CAST((1000000 * (__r1d - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)))
          |  div (2 * CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"""
          .stripMargin)))
    out.select(col("n1"), col("n2"),
      col("r1_doubled").cast("long").as("r1_doubled"),
      col("u1_doubled").cast("long").as("u1_doubled"),
      col("u2_doubled").cast("long").as("u2_doubled"), col("auc_micro"))
  }

  /** Robust location summary — the three numbers a monitoring page
    * should quote instead of mean/stddev when the data has tails:
    * the exact LOWER median, the MAD (median absolute deviation —
    * the robust scale), and the α-trimmed mean, all engine-exact on
    * the milli grid:
    *   median  — position ⌈n/2⌉ via cumulated value runs;
    *   MAD     — the same selection over the |v − median| runs
    *             (a second run table derived from the first);
    *   trimmed — drop k = ⌊α_milli·n/1000⌋ rows from EACH end by
    *             run-overlap arithmetic (kept = clamp(cum, k, n−k)),
    *             one sign-split floored division.
    * Output is one row: n, median_milli, mad_milli, trim_k,
    * trimmed_mean_milli (NULL when everything trims away).
    *
    * Shape: one row-scale runs aggregate, then two
    * [[Relational.globalPrefixSum]] spines (values, deviations) at
    * run grain + broadcast scalars — never a partition-less
    * row-scale window. */
  def robustLocation(df: DataFrame, valueCol: String,
      alphaMilli: Long = 50L): DataFrame = {
    require(alphaMilli >= 0 && alphaMilli < 500,
      s"alphaMilli must be in [0,500), got $alphaMilli")
    val staged = df.filter(col(valueCol).isNotNull)
      .select(floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    // run-grain and materialized: the two spines and the derived
    // deviation runs all read it; N is observed in the one
    // materialization ([[CheckpointHygiene.materialize]]) and rebases
    // every rank/trim cut as a literal — the old broadcast(scal) arms
    // re-ran the runs aggregate per consumer
    val (runs, obsVals) = CheckpointHygiene.materialize(
      staged.groupBy(col("__v")).agg(count(lit(1)).as("__c")),
      Seq(coalesce(sum(col("__c")), lit(0L)).as("N"), count(lit(1)).as("R")))
    val n = obsVals("N").asInstanceOf[Long]
    val nRuns = obsVals("R").asInstanceOf[Long]
    val rank = (n + 1) / 2
    val k = alphaMilli * n / 1000
    // Bounded-collect fast path (the driverGraph idiom — count-gated,
    // loud conf, identical results, spec-pinned against the
    // distributed path): below the cap the RUN table — value-domain-
    // grain, two longs per row — is collected once and the three
    // order-statistic selections run in exact driver arithmetic,
    // collapsing two prefix-sum spines (each a sort checkpoint +
    // offsets collect + window action cascade) into one collect. At
    // the 200k default the collect is ~20 MB of rows, freed on
    // return. Past the cap the distributed spine path runs unchanged
    // (the 100 TB posture).
    val runsCap = df.sparkSession.conf
      .getOption("spark.graft.driverStats.maxRuns")
      .map(_.toLong).getOrElse(200000L)
    if (nRuns <= runsCap) {
      val arr = runs.collect()
      val vs = new Array[Long](arr.length)
      val cs = new Array[Long](arr.length)
      val idx = arr.indices.sortBy(i => arr(i).getLong(0))
      var i = 0
      while (i < idx.length) {
        vs(i) = arr(idx(i)).getLong(0); cs(i) = arr(idx(i)).getLong(1)
        i += 1
      }
      // one cumulative sweep: median selection + trimmed-mean lanes
      var cum = 0L
      var med: Option[Long] = None
      var nk = 0L
      var sk = BigInt(0)
      i = 0
      while (i < vs.length) {
        val before = cum
        cum += cs(i)
        if (med.isEmpty && cum >= rank && n > 0) med = Some(vs(i))
        val kept = math.max(0L, math.min(cum, n - k) - math.max(before, k))
        if (kept > 0) { nk += kept; sk += BigInt(kept) * BigInt(vs(i)) }
        i += 1
      }
      // MAD: runs of |v − med| (two monotone frontiers around the
      // median merged by increasing deviation — no re-sort needed)
      val mad: Option[Long] = med.map { m =>
        // index of first v >= m
        var lo = java.util.Arrays.binarySearch(vs, m)
        if (lo < 0) lo = -lo - 1
        var left = if (lo < vs.length && vs(lo) == m) lo - 1 else lo - 1
        var right = if (lo < vs.length && vs(lo) == m) lo else lo
        var dcum = 0L
        var res = 0L
        var found = false
        while (!found && (left >= 0 || right < vs.length)) {
          val dl = if (left >= 0) m - vs(left) else Long.MaxValue
          val dr = if (right < vs.length) vs(right) - m else Long.MaxValue
          if (dl <= dr) {
            // equal deviations on both sides belong to ONE dev run
            val d = dl
            dcum += cs(left); left -= 1
            if (dr == d) { dcum += cs(right); right += 1 }
            if (dcum >= rank) { res = d; found = true }
          } else {
            dcum += cs(right); right += 1
            if (dcum >= rank) { res = dr; found = true }
          }
        }
        res
      }
      val trimmed: Option[Long] =
        if (nk > 0) Some(((if (sk >= 0) BigInt(1) else BigInt(-1)) *
          (sk.abs / nk)).toLong)
        else None
      def litOpt(v: Option[Long]): Column =
        v.map(lit(_)).getOrElse(lit(null)).cast("long")
      return staged.sparkSession.range(1)
        .select(lit(n).as("n"), litOpt(med).as("median_milli"),
          litOpt(mad).as("mad_milli"),
          (if (n > 0) lit(k).cast("long") else lit(null).cast("long"))
            .as("trim_k"),
          litOpt(trimmed).as("trimmed_mean_milli"))
    }
    val cum = Relational.globalPrefixSum(runs, Seq(col("__v").asc),
      "__c", "__cum")
    // ONE pass over the cumulative spine yields the median AND the
    // trimmed-mean lanes; its 1-ROW result is pulled to the driver and
    // every downstream reference becomes a literal (r18: as a
    // broadcast arm this subtree — the whole value spine — re-executed
    // once per consuming action: the deviation spine's checkpoint AND
    // the final select each replayed it; a 3-field row is driver
    // territory, guide §5 notwithstanding — it is the same posture as
    // the observe-fused scalars everywhere else in this file)
    val mtRow = cum
      .withColumn("__kept", greatest(lit(0L),
        least(col("__cum"), lit(n - k))
          - greatest(col("__cum") - col("__c"), lit(k))))
      .agg(min(when(col("__cum") >= lit(rank), col("__v"))).as("__med"),
        coalesce(sum(col("__kept")), lit(0L)).as("__nk"),
        coalesce(sum(col("__kept").cast("decimal(38,0)") * col("__v")),
          lit(0).cast("decimal(38,0)")).as("__sk"))
      .first()
    val med: Option[Long] =
      if (mtRow.isNullAt(0)) None else Some(mtRow.getLong(0))
    val nk = mtRow.getLong(1)
    val sk = BigInt(mtRow.getDecimal(2).toBigInteger)
    // trimmed mean as the same sign-split BIGINT floor, now in exact
    // driver arithmetic (BigInt / on nonnegative operands == div)
    val trimmed: Option[Long] =
      if (nk > 0) Some(((if (sk >= 0) BigInt(1) else BigInt(-1)) *
        (sk.abs / nk)).toLong)
      else None
    // deviation runs read the checkpointed runs table with the median
    // inlined — no broadcast arm, no spine replay
    val mad: Option[Long] = med.flatMap { m =>
      val devRuns = runs
        .groupBy(abs(col("__v") - lit(m)).as("__d"))
        .agg(sum(col("__c")).as("__c"))
      val devCum = Relational.globalPrefixSum(devRuns,
        Seq(col("__d").asc), "__c", "__cum")
      val madRow = devCum
        .filter(col("__cum") >= lit(rank))
        .agg(min(col("__d")).as("__mad"))
        .first()
      if (madRow.isNullAt(0)) None else Some(madRow.getLong(0))
    }
    // one row of driver literals — nothing left to execute
    def litOpt(v: Option[Long]): Column =
      v.map(lit(_)).getOrElse(lit(null)).cast("long")
    staged.sparkSession.range(1)
      .select(lit(n).as("n"), litOpt(med).as("median_milli"),
        litOpt(mad).as("mad_milli"),
        (if (n > 0) lit(k).cast("long") else lit(null).cast("long"))
          .as("trim_k"),
        litOpt(trimmed).as("trimmed_mean_milli"))
  }

  /** Exact per-group quantile table — the [[robustLocation]] median
    * selection generalized to any quantile list and any group column
    * (p50/p90/p99 SLO reporting, per-source length budgets): for
    * each group and each q (milli), the LOWER quantile — the value
    * at rank ⌈q·n/1000⌉ of the group\'s milli-quantized values —
    * selected exactly on the run-grain cumulative spine, never by
    * interpolation (Spark\'s `percentile` returns an interpolated
    * DOUBLE; this is the integer-exact, cross-engine-replayable
    * complement, and at 100 TB the runs table per group is the
    * value-domain size, not the row count).
    *
    * Output grain: (group, q_milli) with n and value_milli lanes.
    * Shape: one row-scale (group, value) runs aggregate, group-keyed
    * cumulative windows, a broadcast quantile list, one final
    * (group, q) aggregate — no partition-less window anywhere. */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      qMillis: Seq[Long]): DataFrame =
    exactQuantilesWeighted(df, groupCol, valueCol, lit(1L), qMillis)
      .withColumnRenamed("total_weight", "n")

  /** [[exactQuantiles]] generalized to a WEIGHT column — the
    * token-budget form a data-mixing pipeline actually asks for
    * ("p90 of document length weighted by tokens": where does 90% of
    * the token MASS sit, not 90% of the documents). Same run-grain
    * cumulative spine with weights summed instead of counted: for
    * each group and q (milli), the value at weighted rank
    * ⌈q·W/1000⌉ where W = Σ weights. The unweighted form IS this
    * kernel at weight 1 — one source of truth.
    *
    * Weight contract: weights cast to BIGINT; zero-weight rows are
    * absent by definition and drop silently; a NEGATIVE weight would
    * corrupt every downstream rank silently, so it RAISES in-plan
    * (loud-guard discipline). Null weights drop with the null
    * filter. Output grain: (group, q_milli) with total_weight and
    * value_milli lanes. Shape identical to [[exactQuantiles]]: one
    * row-scale (group, value) runs aggregate (weights map-side
    * combine), group-keyed windows, broadcast quantile list. */
  def exactQuantilesWeighted(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: Column,
      qMillis: Seq[Long]): DataFrame = {
    require(qMillis.nonEmpty && qMillis.forall(q => q >= 1 && q <= 1000),
      s"qMillis must be non-empty with every q in [1,1000], got $qMillis")
    require(qMillis.distinct.size == qMillis.size,
      s"duplicate quantiles in $qMillis")
    val staged = df
      .filter(col(groupCol).isNotNull &&
        col(valueCol).try_cast("double").isNotNull &&
        weightCol.try_cast("long").isNotNull)
      .select(col(groupCol).cast("string").as("group"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"),
        weightCol.cast("long").as("__w0"))
      .withColumn("__w", when(col("__w0") >= 0L, col("__w0"))
        .otherwise(raise_error(concat(
          lit("exactQuantilesWeighted: negative weight "),
          col("__w0").cast("string"),
          lit(" would silently corrupt ranks"))).cast("long")))
      .filter(col("__w") > 0L)
    val runs = staged.groupBy(col("group"), col("__v"))
      .agg(sum(col("__w")).as("__c"))
    val wg = Window.partitionBy(col("group"))
    val cum = runs
      .withColumn("__cc", sum(col("__c")).over(wg.orderBy(col("__v"))))
      .withColumn("__n", sum(col("__c")).over(wg))
    val qs = qMillis.sorted.map(q => lit(q)).toArray
    cum
      .select(col("group"), col("__v"), col("__cc"), col("__n"),
        explode(array(qs: _*)).as("q_milli"))
      .filter(col("__cc") >= expr("(q_milli * __n + 999) div 1000"))
      .groupBy(col("group"), col("q_milli"))
      .agg(max(col("__n")).as("total_weight"),
        min(col("__v")).as("value_milli"))
  }

  /** Correlation ratio η² — "how much of this numeric column does
    * that categorical column explain" (the ANOVA-style effect size
    * every dataset profiler wants next to the q128 pair stats;
    * chi-square families can't see numeric structure, Pearson can't
    * see categories): η² = SS_between / SS_total over milli-
    * quantized values,
    *   SSB·n² = Σ_c (s_c·n − s·n_c)²/n_c,  SST·n = n·Σv² − s²
    * — per-category terms floor INDEPENDENTLY (the [[moodMedianTest]]
    * discipline, replayed identically by the oracle):
    *   term_c = ⌊(s_c·n − s·n_c)² / n_c⌋
    *   eta2_micro = ⌊10⁶·Σterm_c / (n·(n·Σv² − s²))⌋, NULL when the
    * values are constant (zero SST). Output is category grain with
    * scalar lanes repeated.
    *
    * Shape: ONE row-scale aggregate (category sums ride map-side
    * partials; Σv² in the same pass), then category-grain math +
    * broadcast scalars. */
  def etaSquared(df: DataFrame, catCol: String,
      valueCol: String): DataFrame = {
    val staged = df
      .filter(col(catCol).isNotNull && col(valueCol).isNotNull)
      .select(col(catCol).cast("string").as("__c"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    // category-grain and checkpointed: four consumers below would
    // otherwise each replay the row-scale aggregate
    val cats = CheckpointHygiene.materialize(staged.groupBy(col("__c"))
      .agg(count(lit(1)).as("__nc"),
        coalesce(sum(col("__v")), lit(0L)).as("__sc"),
        coalesce(sum(expr("CAST(__v AS DECIMAL(38,0)) * __v")),
          lit(0).cast("decimal(38,0)")).as("__q")))
    val scal = cats.agg(
      coalesce(sum(col("__nc")), lit(0L)).as("__n"),
      coalesce(sum(col("__sc")), lit(0L)).as("__s"),
      coalesce(sum(col("__q")), lit(0).cast("decimal(38,0)"))
        .as("__qq"))
    val terms = cats.crossJoin(broadcast(scal))
      .withColumn("term", expr(
        """CAST((CAST(__sc AS DECIMAL(38,0)) * __n
          |    - CAST(__s AS DECIMAL(38,0)) * __nc)
          |  * (CAST(__sc AS DECIMAL(38,0)) * __n
          |    - CAST(__s AS DECIMAL(38,0)) * __nc)
          |  div __nc AS DECIMAL(38,0))""".stripMargin))
    val eta = terms.agg(
      coalesce(sum(col("term")), lit(0).cast("decimal(38,0)"))
        .as("__ssb"),
      max(col("__n")).as("__n2"), max(col("__s")).as("__s2"),
      max(col("__qq")).as("__qq2"))
      .select(expr(
        """CASE WHEN CAST(__n2 AS DECIMAL(38,0)) * __qq2
          |    - CAST(__s2 AS DECIMAL(38,0)) * __s2 > 0 THEN
          |  CAST((1000000 * __ssb)
          |    div (CAST(__n2 AS DECIMAL(38,0))
          |      * (CAST(__n2 AS DECIMAL(38,0)) * __qq2
          |        - CAST(__s2 AS DECIMAL(38,0)) * __s2)) AS BIGINT)
          |END""".stripMargin)
          .as("eta2_micro"))
    cats.select(col("__c").as("category"), col("__nc").as("n_c"),
        col("__sc").as("sum_milli"))
      .crossJoin(broadcast(scal.select(col("__n").as("n"))))
      .crossJoin(broadcast(eta))
  }

  /** Cramér's V — the symmetric categorical↔categorical association
    * (the profiler companion of [[etaSquared]]; q260's per-term χ²
    * ranks features, this SUMMARIZES one pair): over the (a, b)
    * contingency counts with row sums rᵢ, column sums cⱼ,
    *   χ² = Σᵢⱼ n·nᵢⱼ²/(rᵢcⱼ) − n
    * with documented per-cell floors
    *   chi2_micro = Σᵢⱼ ⌊10⁶·n·nᵢⱼ² / (rᵢcⱼ)⌋ − 10⁶·n,
    * and V = √(χ²/(n·(min(R,C)−1))) through the q381 FLOOR(SQRT())
    * lane: chi2_micro div (n·(k−1)) is exactly 10⁶·V² floored
    * (≤ 10⁶ — double-exact, never within half-ulp of an integer
    * boundary), so v_milli = FLOOR(SQRT(·)) = ⌊10³·V⌋ on any
    * engine. NULL for a degenerate 1×C or R×1 table. One row:
    * n, r_cats, c_cats, chi2_micro, v_milli.
    *
    * Shape: ONE row-scale aggregate (the (a, b) contingency); row
    * and column sums derive from it (the [[jonckheereTerpstra]]
    * runs discipline); scalars broadcast. */
  def cramersV(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val staged = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
    // contingency-grain and checkpointed: margins, scalars, and the
    // chi2 join all read it — one row-scale pass, not four
    val cont = CheckpointHygiene.materialize(staged.groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n")))
    val rows = cont.groupBy(col("__a")).agg(sum(col("__n")).as("__r"))
    val cols2 = cont.groupBy(col("__b")).agg(sum(col("__n")).as("__cc"))
    val scal = cont.agg(coalesce(sum(col("__n")), lit(0L)).as("n"))
      .crossJoin(broadcast(rows.agg(count(lit(1)).as("r_cats"))))
      .crossJoin(broadcast(cols2.agg(count(lit(1)).as("c_cats"))))
    val chi = cont
      .join(rows, Seq("__a")).join(cols2, Seq("__b"))
      .crossJoin(broadcast(scal))
      .agg(coalesce(sum(expr(
        """(1000000 * CAST(n AS DECIMAL(38,0)) * __n * __n)
          |  div (CAST(__r AS DECIMAL(38,0)) * __cc)""".stripMargin)),
        lit(0).cast("decimal(38,0)")).as("__sumterms"))
    scal.crossJoin(broadcast(chi))
      .withColumn("chi2_micro", expr(
        "CAST(__sumterms - 1000000 * CAST(n AS DECIMAL(38,0)) AS BIGINT)"))
      .withColumn("v_milli", expr(
        """CASE WHEN LEAST(r_cats, c_cats) >= 2 AND chi2_micro >= 0 THEN
          |  CAST(FLOOR(SQRT(chi2_micro div
          |    (n * (LEAST(r_cats, c_cats) - 1)))) AS BIGINT) END"""
          .stripMargin))
      .select("n", "r_cats", "c_cats", "chi2_micro", "v_milli")
  }

  /** Deterministic Poisson bootstrap — THE way to bootstrap a
    * statistic at data scale (Chamandy et al., Google 2012): true
    * resampling needs n draws with replacement per replicate
    * (a global coordination no cluster wants); weighting each row
    * independently with w ~ Poisson(1) is the standard streaming
    * approximation, embarrassingly parallel and one aggregate per
    * replicate. Here the draws are DETERMINISTIC — w comes from the
    * md5(id:rep:seed) 48-bit uniform against the FIXED Poisson(1)
    * inverse-CDF thresholds ⌊cdf·2⁴⁸⌋ (w capped at 10, tail mass
    * < 10⁻⁷ — documented) — so replicates are reproducible,
    * auditable, and oracle-replayable. Output is replicate grain:
    * n_eff = Σw, sum_milli = Σw·v, and the floored replicate mean;
    * downstream takes CI percentiles.
    *
    * Shape: rows × b map-side work (the bootstrap's inherent cost)
    * into ONE replicate-grain aggregate with map-side partials. */
  def poissonBootstrap(df: DataFrame, idCol: String, valueCol: String,
      b: Int, seed: Long): DataFrame = {
    require(b >= 1 && b <= 1000, s"b must be in [1,1000], got $b")
    // ⌊CDF_Poisson(1)(k)·2^48⌋ for k = 0..9
    val thresholds = Seq(103548857136060L, 207097714272121L,
      258872142840152L, 276130285696162L, 280444821410164L,
      281307728552965L, 281451546410098L, 281472091818260L,
      281474659994280L, 281474945347172L)
    val staged = df
      .filter(col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    staged
      .withColumn("rep", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__u", conv(substring(md5(concat(col("__id"),
        lit(":"), col("rep").cast("string"), lit(":" + seed))),
        1, 12), 16, 10).cast("long"))
      .withColumn("__w", thresholds.foldLeft(lit(0L))((acc, t) =>
        acc + when(col("__u") >= t, 1L).otherwise(0L)))
      .groupBy(col("rep").cast("long").as("rep"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("__w")), lit(0L)).as("n_eff"),
        coalesce(sum(col("__w") * col("__v")), lit(0L)).as("sum_milli"))
      .withColumn("mean_milli", when(col("n_eff") > 0L, expr(
        """CASE WHEN sum_milli >= 0 THEN sum_milli div n_eff
          |  ELSE -((-sum_milli) div n_eff) END""".stripMargin)))
  }

  /** Cucconi test — the JOINT location-scale two-sample test (older
    * and usually more powerful than the Lepage combination: one
    * statistic catches "the new model is shifted AND noisier" that
    * [[mannWhitneyU]] and [[siegelTukey]] each only half-see). With
    * pooled ranks 1..N (ties broken by `seqCol` — the siegelTukey
    * total-order contract) and S = Σ R², S̄ = Σ(N+1−R)² over group 1:
    *   X = 6S − n₁(N+1)(2N+1),  Y = 6S̄ − n₁(N+1)(2N+1)
    *   U² = 5X²/D₅, V² = 5Y²/D₅, UV = 5XY/D₅,
    *     D₅ = n₁n₂(N+1)(2N+1)(8N+11)
    *   C = (U² + V² − 2ρUV)/(2(1−ρ²)),
    *     ρ = p/q, p = 2(N²−4) − q, q = (2N+1)(8N+11)
    * — ALL rational (U and V share the same √D, so UV is exact).
    * Gate lanes: the integer X/Y and the floored micros
    * u2/v2/uv_micro (sign-split) plus c_micro composed from the
    * floored micros by the documented formula
    *   c_micro = (q²(u2+v2) − 2pq·uv) div (2(q²−p²))
    * — deterministic in both engines (the oracle replays the same
    * floors). Exact inside DECIMAL(38,0) to N ≈ 8·10⁵.
    *
    * Shape: the two-pass global row-number spine + one scalar
    * aggregate; no partition-less row-scale window, no joins. */
  def cucconiTest(df: DataFrame, groupCol: String, valueCol: String,
      seqCol: String): DataFrame = {
    val staged = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("boolean").as("__g1"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"),
        col(seqCol).cast("long").as("__s"))
    val pos = Relational.globalRowNumber(staged,
      Seq(col("__v").asc, col("__s").asc), "__r")
    val agg = pos.agg(
      sum(when(col("__g1"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("__g1"), 1L).otherwise(0L)).as("n2"),
      count(lit(1)).as("__N"),
      coalesce(sum(when(col("__g1"), col("__r"))), lit(0L)).as("__R1"),
      coalesce(sum(when(col("__g1"),
        col("__r").cast("decimal(38,0)") * col("__r"))),
        lit(0).cast("decimal(38,0)")).as("__S"))
    agg
      // Σ(N+1−R)² over g1 = n1(N+1)² − 2(N+1)·ΣR + ΣR²
      .withColumn("__Sb", expr(
        """CAST(n1 AS DECIMAL(38,0)) * (__N + 1) * (__N + 1)
          |  - 2 * (__N + 1) * CAST(__R1 AS DECIMAL(38,0)) + __S"""
          .stripMargin))
      .withColumn("__x", expr(
        """6 * __S - CAST(n1 AS DECIMAL(38,0)) * (__N + 1)
          |  * (2 * __N + 1)""".stripMargin))
      .withColumn("__y", expr(
        """6 * __Sb - CAST(n1 AS DECIMAL(38,0)) * (__N + 1)
          |  * (2 * __N + 1)""".stripMargin))
      .withColumn("__d5", expr(
        """CAST(n1 AS DECIMAL(38,0)) * n2 * (__N + 1) * (2 * __N + 1)
          |  * (8 * __N + 11)""".stripMargin))
      .withColumn("__q", expr(
        "CAST(2 * __N + 1 AS DECIMAL(38,0)) * (8 * __N + 11)"))
      .withColumn("__p", expr(
        "2 * (CAST(__N AS DECIMAL(38,0)) * __N - 4) - __q"))
      .withColumn("u2_micro", expr(
        """CASE WHEN n1 > 0 AND n2 > 0 THEN
          |  CAST((5000000 * __x * __x) div __d5 AS BIGINT) END"""
          .stripMargin))
      .withColumn("v2_micro", expr(
        """CASE WHEN n1 > 0 AND n2 > 0 THEN
          |  CAST((5000000 * __y * __y) div __d5 AS BIGINT) END"""
          .stripMargin))
      .withColumn("uv_micro", expr(
        """CASE WHEN n1 > 0 AND n2 > 0 THEN
          |  (CASE WHEN __x * __y >= 0 THEN 1L ELSE -1L END) *
          |  CAST((5000000 * ABS(__x * __y)) div __d5 AS BIGINT) END"""
          .stripMargin))
      .withColumn("c_micro", expr(
        """CASE WHEN n1 > 0 AND n2 > 0 THEN
          |  (CASE WHEN __q * __q * (u2_micro + v2_micro)
          |      - 2 * __p * __q * uv_micro >= 0 THEN 1L ELSE -1L END) *
          |  CAST(ABS(__q * __q * CAST(u2_micro + v2_micro
          |        AS DECIMAL(38,0)) - 2 * __p * __q * uv_micro)
          |    div (2 * (__q * __q - __p * __p)) AS BIGINT) END"""
          .stripMargin))
      .select(col("n1"), col("n2"),
        col("__x").cast("long").as("x6"),
        col("__y").cast("long").as("y6"),
        col("u2_micro"), col("v2_micro"), col("uv_micro"),
        col("c_micro"))
  }

  /** Two-sample Cramér–von Mises criterion — the WHOLE-DISTRIBUTION
    * two-sample test (KS reacts to the single worst ecdf gap; CvM
    * integrates the squared gap everywhere, catching diffuse drift
    * KS under-weights). Anderson's exact rank form with the pooled
    * (value, seq) total order (documented tiebreak): with rᵢ the
    * pooled ranks of sample 1 (own-sample index i) and sⱼ of
    * sample 2,
    *   U = n₁·Σᵢ(rᵢ−i)² + n₂·Σⱼ(sⱼ−j)²
    *   T = 6U − n₁n₂(4n₁n₂−1) over 6n₁n₂N, floored once:
    *   t_micro = sgn·⌊10⁶·|6U − n₁n₂(4n₁n₂−1)| / (6n₁n₂N)⌋.
    * The own-sample index never needs a per-group window: for a
    * sample-1 row at pooled position r, r − i is EXACTLY the count
    * of sample-2 rows before it — one inclusive prefix sum of the
    * group indicator gives both differences.
    *
    * Shape: one [[Relational.globalPrefixSum]] pass + one scalar
    * aggregate; no joins, no partition-less row window. */
  def cramerVonMises(df: DataFrame, groupCol: String, valueCol: String,
      seqCol: String): DataFrame = {
    val staged = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("boolean").as("__g1"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"),
        col(seqCol).cast("long").as("__s"))
      .withColumn("__i1", when(col("__g1"), 1L).otherwise(0L))
    val pos = Relational.globalPrefixSum(staged,
      Seq(col("__v").asc, col("__s").asc), "__i1", "__c1")
    pos.agg(
      sum(col("__i1")).as("n1"),
      sum(lit(1L) - col("__i1")).as("n2"),
      count(lit(1)).as("__N"),
      // g1 row: (r − i)² = (r − c1)²; g2 row: (s − j)² = c1²
      coalesce(sum(when(col("__g1"),
        expr("CAST(__r - __c1 AS DECIMAL(38,0)) * (__r - __c1)"))
        .otherwise(expr("CAST(__c1 AS DECIMAL(38,0)) * __c1"))),
        lit(0).cast("decimal(38,0)")).as("__s1x"),
      coalesce(sum(when(col("__g1"),
        expr("CAST(__r - __c1 AS DECIMAL(38,0)) * (__r - __c1)"))),
        lit(0).cast("decimal(38,0)")).as("__sg1"))
      .withColumn("__sg2", col("__s1x") - col("__sg1"))
      .withColumn("__u", expr(
        "CAST(n1 AS DECIMAL(38,0)) * __sg1 + CAST(n2 AS DECIMAL(38,0)) * __sg2"))
      .withColumn("u", col("__u").cast("long"))
      .withColumn("t_micro", expr(
        """CASE WHEN n1 > 0 AND n2 > 0 THEN
          |  (CASE WHEN 6 * __u - CAST(n1 AS DECIMAL(38,0)) * n2
          |      * (4 * CAST(n1 AS DECIMAL(38,0)) * n2 - 1) >= 0
          |    THEN 1L ELSE -1L END) *
          |  CAST(ABS(1000000 * (6 * __u - CAST(n1 AS DECIMAL(38,0))
          |      * n2 * (4 * CAST(n1 AS DECIMAL(38,0)) * n2 - 1)))
          |    div (6 * CAST(n1 AS DECIMAL(38,0)) * n2 * __N)
          |    AS BIGINT) END""".stripMargin))
      .select("n1", "n2", "u", "t_micro")
  }

  /** Two-sample Anderson–Darling (the k=2 Scholz–Stephens form) —
    * the tail-sensitive member of the ecdf-test family: KS sees the
    * worst gap, [[cramerVonMises]] integrates it uniformly, AD
    * up-weights the TAILS by 1/(i(N−i)) — the right screen when the
    * drift that matters is out in the extremes (latency p99s, rare
    * tokens, outlier scores). Exact rank form over the pooled
    * (value, seq) total order: with M_i = sample-1 count among the
    * first i pooled rows,
    *   A² = (1/(n₁n₂)) Σ_{i=1}^{N−1} (N·M_i − n₁·i)² / (i(N−i))
    * Each term floors INDEPENDENTLY at micro scale (documented —
    * denominators vary per i, and the oracle replays the identical
    * per-term floors):
    *   ad_micro = Σᵢ ⌊10⁶·(N·Mᵢ − n₁·i)² / (n₁n₂·i·(N−i))⌋.
    *
    * Shape: one [[Relational.globalPrefixSum]] pass (M_i IS the
    * prefix count of the group indicator) + one scalar aggregate. */
  def andersonDarling(df: DataFrame, groupCol: String, valueCol: String,
      seqCol: String): DataFrame = {
    val staged = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("boolean").as("__g1"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"),
        col(seqCol).cast("long").as("__s"))
      .withColumn("__i1", when(col("__g1"), 1L).otherwise(0L))
    val pos = Relational.globalPrefixSum(staged,
      Seq(col("__v").asc, col("__s").asc), "__i1", "__m")
    val scal = staged.agg(
      sum(col("__i1")).as("__n1"),
      sum(lit(1L) - col("__i1")).as("__n2"),
      count(lit(1)).as("__N"))
    pos.crossJoin(broadcast(scal))
      .filter(col("__r") < col("__N")) // i = 1 .. N-1
      .agg(max(col("__n1")).as("n1"), max(col("__n2")).as("n2"),
        coalesce(sum(expr(
          """CAST(1000000 * CAST(__N * __m - __n1 * __r
            |    AS DECIMAL(38,0)) * (__N * __m - __n1 * __r)
            |  div (CAST(__n1 AS DECIMAL(38,0)) * __n2 * __r
            |    * (__N - __r)) AS BIGINT)""".stripMargin)),
          lit(0L)).as("ad_micro"))
      .select(col("n1"), col("n2"),
        when(col("n1") > 0L && col("n2") > 0L, col("ad_micro"))
          .as("ad_micro"))
  }

  /** Energy distance two-sample test (Székely & Rizzo) — the
    * metric-space member of the family: where rank tests see order
    * only, the E-statistic sees DISTANCES,
    *   E = 2·AB/(n₁n₂) − AA/n₁² − BB/n₂²
    * with AB = ΣΣ|x−y|, AA = ΣΣ|x−x′|, BB = ΣΣ|y−y′| — all three
    * EXACT integers from value-run prefix sums (never a pairwise
    * product): within one sorted run table, Σ pairwise |Δ| =
    * Σ_k c_k·v_k·(2·cum_k − c_k − n) + tie-free closed form via
    * cumulative counts and cumulative sums; the CROSS sum reuses
    * the same cumulative lanes on the pooled grid. One sign-split
    * floor over the common denominator n₁²n₂²:
    *   e_micro = ⌊10³·2·(AB·n₁n₂ − AA·n₂² − BB·n₁²)/(n₁²n₂²)⌋
    * (milli sums × 10³ = micro of the ORIGINAL value scale; |v| ≤ 10⁶ keeps Σ|Δ| ≤ N²·10⁹
    * inside DECIMAL(38,0) to N ≈ 10¹⁴). */
  def energyDistance(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val staged = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("boolean").as("__g1"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    // run-grain and CHECKPOINTED: the spine materializes once instead
    // of re-running the row-scale runs aggregate per consumer
    val runs = CheckpointHygiene.materialize(staged.groupBy(col("__v"))
      .agg(sum(when(col("__g1"), 1L).otherwise(0L)).as("__c1"),
        sum(when(!col("__g1"), 1L).otherwise(0L)).as("__c2")))
    // cumulative counts and value-weighted sums per group over the
    // pooled sorted grid — all four lanes in ONE spine pass
    // (globalPrefixSums), reused by all three pairwise sums:
    // Σ_{i<j}|v_j − v_i| over a multiset =
    // Σ_rows v·(cntBelow) − sumBelow  (computed at run grain)
    val cum = Relational.globalPrefixSums(
      runs.withColumn("__s1",
          col("__c1").cast("decimal(38,0)") * col("__v"))
        .withColumn("__s2",
          col("__c2").cast("decimal(38,0)") * col("__v")),
      Seq(col("__v").asc),
      Seq("__c1" -> "__q1", "__c2" -> "__q2",
        "__s1" -> "__t1", "__s2" -> "__t2"))
    val agg = cum.agg(
      coalesce(sum(col("__c1")), lit(0L)).as("n1"),
      coalesce(sum(col("__c2")), lit(0L)).as("n2"),
      // AA: for each run, pairs against STRICTLY-below same-group
      // rows: c1·(v·below1 − sumBelow1); within-run ties add zero
      coalesce(sum(expr(
        """CAST(__c1 AS DECIMAL(38,0)) * (CAST(__v AS DECIMAL(38,0))
          |  * (__q1 - __c1) - (__t1 - __s1))""".stripMargin)),
        lit(0).cast("decimal(38,0)")).as("__aa"),
      coalesce(sum(expr(
        """CAST(__c2 AS DECIMAL(38,0)) * (CAST(__v AS DECIMAL(38,0))
          |  * (__q2 - __c2) - (__t2 - __s2))""".stripMargin)),
        lit(0).cast("decimal(38,0)")).as("__bb"),
      // AB: group-1 rows against strictly-below group-2 rows, plus
      // group-2 rows against at-or-below group-1 rows (ties land
      // once, distance 0 contributes nothing either way)
      coalesce(sum(expr(
        """CAST(__c1 AS DECIMAL(38,0)) * (CAST(__v AS DECIMAL(38,0))
          |  * (__q2 - __c2) - (__t2 - __s2))
          |+ CAST(__c2 AS DECIMAL(38,0)) * (CAST(__v AS DECIMAL(38,0))
          |  * (__q1 - __c1) - (__t1 - __s1))""".stripMargin)),
        lit(0).cast("decimal(38,0)")).as("__ab"))
    agg.select(col("n1"), col("n2"),
      col("__aa").cast("long").as("sum_aa"),
      col("__bb").cast("long").as("sum_bb"),
      col("__ab").cast("long").as("sum_ab"),
      expr("""CASE WHEN n1 > 0 AND n2 > 0 THEN
        |  (CASE WHEN 2 * __ab * n1 * n2 - 2 * __aa
        |      * CAST(n2 AS DECIMAL(38,0)) * n2 - 2 * __bb
        |      * CAST(n1 AS DECIMAL(38,0)) * n1 >= 0
        |    THEN 1L ELSE -1L END) *
        |  CAST(ABS(1000 * (2 * __ab * CAST(n1 AS DECIMAL(38,0)) * n2
        |      - 2 * __aa * CAST(n2 AS DECIMAL(38,0)) * n2
        |      - 2 * __bb * CAST(n1 AS DECIMAL(38,0)) * n1))
        |    div (CAST(n1 AS DECIMAL(38,0)) * n1 * n2 * n2)
        |    AS BIGINT) END""".stripMargin).as("e_micro"))
  }

  /** Per-key Pettitt changepoint test — WHERE did the level shift
    * (the rank-based, distribution-free complement of the CUSUM
    * lanes, and the location companion of [[mannKendall]]'s trend
    * verdict): for each prefix t of the key's series in (order,
    * tiebreak) time order, the statistic
    *   U_t = Σ_{i≤t} dmr_i − t·(n+1)
    * (dmr = doubled midranks of the key's own values; Σdmr − t(n+1)
    * = 2Σmidrank − t(n+1) is EXACTLY the textbook U_t — NOT 2·U_t;
    * the doubling lives in the midranks only, which is what keeps
    * U_t integer under ties), K2 = max_t |U_t| (the __u2/k2 lane
    * names record the doubled-MIDRANK construction, not a doubled
    * statistic), and the change point is the EARLIEST t attaining
    * K2 (deterministic under ties). Emitted per key with the n lane;
    * consumers plug K = k2 DIRECTLY (no halving) into the standard
    * approximation p ≈ 2exp(−6K²/(n³+n²)) — kept out of the gate
    * (transcendental).
    *
    * Shape: two keyed windows (value ranks, running time sum) + one
    * key-grain aggregate — key-sized partitions, never global. */
  def pettittTest(df: DataFrame, keyCol: String, orderCol: Column,
      tieCol: Column, valueCol: String): DataFrame = {
    val staged = df
      .filter(col(keyCol).isNotNull &&
        col(valueCol).try_cast("double").isNotNull &&
        orderCol.try_cast("long").isNotNull &&
        tieCol.try_cast("long").isNotNull)
      .select(col(keyCol).as("key"), orderCol.cast("long").as("__o"),
        tieCol.cast("long").as("__t"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    val wRank = Window.partitionBy(col("key")).orderBy(col("__v"))
    val wTies = Window.partitionBy(col("key"), col("__v"))
    val wTime = Window.partitionBy(col("key"))
      .orderBy(col("__o"), col("__t"))
    val wKey = Window.partitionBy(col("key"))
    val ranked = staged
      .withColumn("__dmr", lit(2L) * rank().over(wRank).cast("long")
        + count(lit(1)).over(wTies) - 1L)
      .withColumn("__n", count(lit(1)).over(wKey))
      .withColumn("__pos", row_number().over(wTime).cast("long"))
      .withColumn("__u2",
        sum(col("__dmr")).over(wTime.rowsBetween(
          Window.unboundedPreceding, Window.currentRow))
          - col("__pos") * (col("__n") + 1L))
      .withColumn("__k2", max(abs(col("__u2"))).over(wKey))
    ranked.groupBy(col("key"))
      .agg(max(col("__n")).as("n"), max(col("__k2")).as("k2"),
        min(when(abs(col("__u2")) === col("__k2"), col("__o")))
          .as("cp_order"),
        min(when(abs(col("__u2")) === col("__k2"), col("__pos")))
          .as("cp_pos"))
  }

  /** Quade test — the block design test that WEIGHTS blocks by how
    * much they discriminate ([[friedmanTest]] treats a block where
    * all models score ~equal the same as one with huge spread;
    * Quade ranks blocks by their value RANGE and weights their
    * within-block ranks accordingly — usually more powerful at
    * small k). Doubled lanes throughout: within-block dmr (the
    * friedman spine), block-range doubled midranks Q2 from the
    * value-run prefix-sum spine (never a block-scale window), and
    *   S2ᵢⱼ = Q2ᵢ·(dmrᵢⱼ − (k+1)),  Sⱼ = Σᵢ S2ᵢⱼ,
    *   f_micro = ⌊10⁶·(b−1)·ΣSⱼ² / (b·ΣS2² − ΣSⱼ²)⌋
    * (scales cancel; NULL when every block is internally tied —
    * zero denominator). Fixed-panel discipline as friedman. Output
    * is treatment grain with scalar lanes repeated. */
  def quadeTest(df: DataFrame, blockCol: String, treatmentCol: String,
      valueCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 1000, s"k must be in [2,1000], got $k")
    val rated = df
      .filter(col(blockCol).isNotNull && col(treatmentCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(blockCol).as("__b"),
        col(treatmentCol).cast("string").as("__t"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
      .groupBy(col("__b"), col("__t")).agg(min(col("__v")).as("__v"))
    val sized = rated.groupBy(col("__b")).agg(count(lit(1)).as("__m"),
      (max(col("__v")) - min(col("__v"))).as("__rng"))
    val full = sized.filter(col("__m") === k.toLong)
      .select(col("__b"), col("__rng"))
    val dropped = sized.filter(col("__m") =!= k.toLong)
      .agg(count(lit(1)).as("dropped_blocks"))
    // block-range doubled midranks from the RANGE-run spine (the
    // kruskalWallis dmr construction — block count never funnels
    // through one partition)
    val rruns = full.groupBy(col("__rng")).agg(count(lit(1)).as("__c"))
    val rdmr = Relational.globalPrefixSum(rruns, Seq(col("__rng").asc),
        "__c", "__cum")
      .select(col("__rng"),
        ((col("__cum") - col("__c") + 1L) + col("__cum")).as("__q2"))
    val blocks = full.join(rdmr, Seq("__rng")).select(col("__b"),
      col("__q2"))
    val kept = rated.join(blocks, Seq("__b"))
    val wRank = Window.partitionBy(col("__b")).orderBy(col("__v"))
    val wTies = Window.partitionBy(col("__b"), col("__v"))
    val cells = kept
      .withColumn("__dmr", lit(2L) * rank().over(wRank).cast("long")
        + count(lit(1)).over(wTies) - 1L)
      .withColumn("__s2", expr(
        s"CAST(__q2 AS DECIMAL(38,0)) * (__dmr - ${k + 1})"))
    val sums = cells.groupBy(col("__t").as("treatment"))
      .agg(coalesce(sum(col("__s2")), lit(0).cast("decimal(38,0)"))
        .as("__sj"))
    val a = cells.agg(coalesce(sum(expr("__s2 * __s2")),
      lit(0).cast("decimal(38,0)")).as("__a"))
    val bn = full.agg(count(lit(1)).as("n_blocks"))
    val scal = sums.agg(coalesce(sum(expr("__sj * __sj")),
        lit(0).cast("decimal(38,0)")).as("__bsum"))
      .crossJoin(broadcast(a)).crossJoin(broadcast(bn))
      .select(col("n_blocks"),
        expr(s"""CASE WHEN CAST(n_blocks AS DECIMAL(38,0)) * __a
          |    - __bsum > 0 THEN
          |  CAST((1000000 * (n_blocks - 1) * __bsum)
          |    div (CAST(n_blocks AS DECIMAL(38,0)) * __a - __bsum)
          |    AS BIGINT) END""".stripMargin).as("f_micro"))
    sums
      .select(col("treatment"), col("__sj").cast("long").as("s_j2"))
      .crossJoin(broadcast(scal))
      .crossJoin(broadcast(dropped))
      .withColumn("k", lit(k.toLong))
      .select("treatment", "s_j2", "n_blocks", "k", "dropped_blocks",
        "f_micro")
  }

  /** Holm step-down multiple-testing correction — the uniformly-
    * more-powerful drop-in for Bonferroni (and the FWER companion of
    * the q392 Benjamini–Hochberg FDR lane): hypotheses sort by
    * p ascending, raw adjusted p is (m−j+1)·pⱼ capped at 1, and the
    * step-down running MAX makes the adjustments monotone. Micro
    * lanes in, micro lanes out — pure integer arithmetic. Rejection
    * at α = 0.05 is adj ≤ 50000.
    *
    * Shape: hypothesis grain — m is the number of TESTS (a design
    * quantity, like srmCheck's arm table), so the ordering window is
    * bounded by contract (require-guarded ≤ 10⁶), never data-sized. */
  def holmAdjust(df: DataFrame, idCol: String, pMicroCol: String,
      maxHypotheses: Long = 1000000L): DataFrame = {
    val staged = df
      .filter(col(idCol).isNotNull && col(pMicroCol).isNotNull)
      .select(col(idCol).cast("string").as("id"),
        col(pMicroCol).cast("long").as("p_micro"))
    val m = staged.agg(count(lit(1)).as("__m"))
    val w = Window.orderBy(col("p_micro"), col("id"))
    val wMax = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged.crossJoin(broadcast(m))
      .withColumn("__m", when(col("__m") > maxHypotheses,
        raise_error(concat(lit("holmAdjust: "), col("__m"),
          lit(s" hypotheses > maxHypotheses=$maxHypotheses — this is" +
            " a per-test table, not a per-row one"))))
        .otherwise(col("__m")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__raw",
        least((col("__m") - col("rank") + 1L) * col("p_micro"),
          lit(1000000L)))
      .withColumn("adj_micro", max(col("__raw")).over(wMax))
      .withColumn("reject_05", col("adj_micro") <= 50000L)
      .select("id", "p_micro", "rank", "adj_micro", "reject_05")
  }

  /** Hodges–Lehmann two-sample shift estimator — THE robust "how
    * much did the metric move" number (the point estimate behind
    * [[mannWhitneyU]], 95% breakdown-free where a difference of
    * means chases outliers): the median of all n₁·n₂ pairwise
    * differences y − x. Never materializes pairs — on the milli
    * grid the difference DISTRIBUTION is the convolution of the two
    * groups' value RUNS (|Vx|·|Vy| skinny products, guarded by
    * `maxGrid` with a loud in-plan raise — value-grid-bounded like
    * [[jonckheereTerpstra]], independent of row count), prefix-
    * summed once for the exact LOWER median (position ⌈n₁n₂/2⌉ —
    * a value from the grid, deterministic under ties, no
    * interpolation). */
  def hodgesLehmannShift(df: DataFrame, groupCol: String,
      valueCol: String, maxGrid: Long = 1L << 24): DataFrame = {
    require(maxGrid > 0, s"maxGrid must be positive, got $maxGrid")
    val staged = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("boolean").as("__g1"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    val rx = staged.filter(!col("__g1")).groupBy(col("__v"))
      .agg(count(lit(1)).as("__cx"))
      .select(col("__v").as("__vx"), col("__cx"))
    val ry = staged.filter(col("__g1")).groupBy(col("__v"))
      .agg(count(lit(1)).as("__cy"))
      .select(col("__v").as("__vy"), col("__cy"))
    val sizes = rx.agg(count(lit(1)).as("__nvx"))
      .crossJoin(ry.agg(count(lit(1)).as("__nvy")))
    val diffs = ry.crossJoin(rx).crossJoin(broadcast(sizes))
      .withColumn("__c", when(col("__nvx") * col("__nvy") > maxGrid,
        raise_error(concat(lit("hodgesLehmannShift: difference grid "),
          col("__nvx") * col("__nvy"),
          lit(s" cells > maxGrid=$maxGrid — quantize $valueCol" +
            " coarser"))))
        .otherwise(col("__cx").cast("decimal(38,0)") * col("__cy")))
      .groupBy((col("__vy") - col("__vx")).as("__d"))
      .agg(coalesce(sum(col("__c")), lit(0).cast("decimal(38,0)"))
        .as("__cd"))
    val cum = Relational.globalPrefixSum(diffs, Seq(col("__d").asc),
      "__cd", "__cum")
    val scal = staged.agg(
      sum(when(col("__g1"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("__g1"), 1L).otherwise(0L)).as("n2"))
    val hl = cum.crossJoin(broadcast(scal))
      .filter(col("__cum") >=
        expr("(CAST(n1 AS DECIMAL(38,0)) * n2 + 1) div 2"))
      .agg(min(col("__d")).as("hl_shift_milli"))
    scal.crossJoin(broadcast(hl))
      .select(col("n1"), col("n2"),
        expr("n1 * n2").as("k_pairs"),
        when(col("n1") > 0L && col("n2") > 0L, col("hl_shift_milli"))
          .as("hl_shift_milli"))
  }

  /** Siegel–Tukey dispersion test — do two groups differ in SPREAD
    * around a common center (variance drift between model versions,
    * annotator consistency, sensor jitter) without assuming any
    * distribution: rank the POOLED sample from the extremes inward
    * (most-extreme values get the lowest ranks — the zigzag
    * 1, n, n−1, 2, 3, n−2 … assignment), then Mann–Whitney on the
    * ranks; a significantly SMALLER rank sum means that group holds
    * the extremes, i.e. is more dispersed. Ranks come from a closed
    * form over the global position p (via [[Relational
    * .globalRowNumber]] — never a partition-less window): with
    * i = p on the left half and j = n+1−p on the right,
    *   left: odd i → 2i−1, even i → 2i;
    *   right: odd j → 2j, even j → 2j−1.
    * The test assumes effectively-continuous data; ties across the
    * group boundary break by the caller's `seqCol` (documented —
    * deterministic, and the oracle replays the same total order).
    * Verdict lanes stay integer: U₁ = R₁ − n₁(n₁+1)/2 and the
    * two-sided α = 0.05 normal check
    *   30000·(2U₁ − n₁n₂)² > 38416·n₁n₂(n+1)
    * (z² = 1.96², cross-multiplied; DECIMAL(38,0) inside). */
  def siegelTukey(df: DataFrame, groupCol: String, valueCol: String,
      seqCol: String): DataFrame = {
    val staged = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("boolean").as("__g1"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"),
        col(seqCol).cast("long").as("__s"))
    val pos = Relational.globalRowNumber(staged,
      Seq(col("__v").asc, col("__s").asc), "__p")
    val scal = staged.agg(count(lit(1)).as("__N"))
    val ranked = pos.crossJoin(broadcast(scal))
      .withColumn("__st", expr(
        """CASE WHEN __p <= (__N + 1) div 2 THEN
          |  CASE WHEN __p % 2 = 1 THEN 2 * __p - 1 ELSE 2 * __p END
          |ELSE
          |  CASE WHEN (__N + 1 - __p) % 2 = 1 THEN 2 * (__N + 1 - __p)
          |    ELSE 2 * (__N + 1 - __p) - 1 END
          |END""".stripMargin))
    ranked.agg(
      sum(when(col("__g1"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("__g1"), 1L).otherwise(0L)).as("n2"),
      coalesce(sum(when(col("__g1"), col("__st")).otherwise(0L)),
        lit(0L)).as("r1"),
      coalesce(sum(when(!col("__g1"), col("__st")).otherwise(0L)),
        lit(0L)).as("__r2"))
      .withColumn("u1", expr("r1 - n1 * (n1 + 1) div 2"))
      .withColumn("__sig", expr(
        """n1 > 0 AND n2 > 0 AND
          |  30000 * CAST(2 * u1 - n1 * n2 AS DECIMAL(38,0))
          |    * (2 * u1 - n1 * n2)
          |  > 38416 * CAST(n1 AS DECIMAL(38,0)) * n2 * (n1 + n2 + 1)"""
          .stripMargin))
      .withColumn("dispersed", expr(
        """CASE WHEN NOT __sig THEN 'none'
          |  WHEN r1 * n2 < __r2 * n1 THEN 'g1' ELSE 'g2' END"""
          .stripMargin))
      .select("n1", "n2", "r1", "u1", "dispersed")
  }

  /** Spearman rank correlation — the monotone-association check
    * beside [[kendallTau]] (Spearman is Pearson over ranks; it is
    * what a feature-vs-label or judge-vs-judge monotonicity audit
    * actually reports). Ranks are VALUE-grain midranks carried
    * DOUBLED (the [[mannWhitneyU]] trick: 2·midrank = min_rank +
    * max_rank is always an integer), built per variable from one
    * aggregate to distinct values + [[Relational.globalPrefixSum]] —
    * never a row-grain global sort window — then joined back.
    *
    * Output components are EXACT DECIMAL(38,0) lanes (safe far past
    * 10¹² rows, where the BIGINT equivalents wrap near 10⁶):
    * centered doubled ranks a−(n+1), b−(n+1) (Σdmr = n(n+1), so the
    * mean of a doubled midrank is exactly n+1 — centering costs no
    * division), num = Σāb̄, dx = Σā², dy = Σb̄².
    *
    * The headline lane is `rho_micro`, an EXACT INTEGER (the r12
    * verdict's ask — q381's raw-double `rho` was bit-exact in local
    * replay yet red at the driver's hasher, so the gate lane now
    * follows the house integer-micro convention):
    *   rho_micro = sgn(num) · ⌊√⌊10¹²·num²/(dx·dy)⌋⌋
    * where the inner ratio is pure floored integer arithmetic after
    * reducing num/dx/dy by ONE shared power-of-ten D (digit-length
    * of the max component minus 10 — shared D preserves the ratio
    * exactly, floors perturb it by ≤ D/term ≈ 10⁻⁹ relative, far
    * under micro granularity), and the outer √ runs on an integer
    * ≤ ~10¹² — exactly representable in double, IEEE-correctly-
    * rounded in both engines, and never within half-ulp of an
    * integer boundary (√(m²−1) ≈ m − 1/(2m), half-ulp at m ≈ 10⁶
    * is ~10⁻¹⁰), so FLOOR(SQRT(...)) is deterministic isqrt.
    * `rho` (the raw IEEE double) is kept for library users and the
    * ScalaTest spec but dropped from the oracle-checked q381 output.
    * Pathology guard: if one variance is > 10¹⁰× the other the
    * reduced lane floors to 0 → NULL (both engines), documented. */
  def spearmanRho(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val staged = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(floor(col(xCol) * 1000).cast("long").as("__x"),
        floor(col(yCol) * 1000).cast("long").as("__y"))
    def dmr(v: String): DataFrame = {
      val runs = staged.groupBy(col(v)).agg(count(lit(1)).as("__run"))
      Relational.globalPrefixSum(runs, Seq(col(v).asc), "__run", "__cum")
        .select(col(v),
          ((col("__cum") - col("__run") + 1L) + col("__cum")).as(s"__dmr$v"))
    }
    staged
      .join(dmr("__x"), Seq("__x"))
      .join(dmr("__y"), Seq("__y"))
      .crossJoin(broadcast(staged.agg(count(lit(1)).as("__n"))))
      .select(col("__n"),
        (col("__dmr__x") - (col("__n") + 1L)).cast("decimal(38,0)").as("__a"),
        (col("__dmr__y") - (col("__n") + 1L)).cast("decimal(38,0)").as("__b"))
      .agg(max(col("__n")).as("n"),
        sum(col("__a") * col("__b")).cast("decimal(38,0)").as("num"),
        sum(col("__a") * col("__a")).cast("decimal(38,0)").as("dx"),
        sum(col("__b") * col("__b")).cast("decimal(38,0)").as("dy"))
      .withColumn("__dv", expr(
        """CAST(CONCAT('1', REPEAT('0', GREATEST(0,
          |  LENGTH(CAST(GREATEST(ABS(num), dx, dy) AS STRING)) - 10)))
          |  AS DECIMAL(38,0))""".stripMargin))
      .withColumn("__nr", expr("CAST(ABS(num) div __dv AS DECIMAL(38,0))"))
      .withColumn("__xr", expr("dx div __dv"))
      .withColumn("__yr", expr("dy div __dv"))
      .withColumn("rho_micro", expr(
        """CASE WHEN dx > 0 AND dy > 0 AND __xr > 0 AND __yr > 0 THEN
          |  (CASE WHEN num < 0 THEN -1L ELSE 1L END) *
          |  CAST(FLOOR(SQRT(CAST(
          |    (CAST(1000000000000 AS DECIMAL(38,0)) * __nr * __nr)
          |      div (CAST(__xr AS DECIMAL(38,0)) * __yr)
          |    AS DOUBLE))) AS BIGINT) END""".stripMargin))
      .withColumn("rho", when(col("dx") > 0 && col("dy") > 0,
        col("num").cast("double") /
          sqrt(col("dx").cast("double") * col("dy").cast("double"))))
      .drop("__dv", "__nr", "__xr", "__yr")
  }

  /** Two-sample Kolmogorov–Smirnov statistic, EXACT — the
    * distribution-shift test beside [[mannWhitneyU]]'s location test
    * (train-vs-eval feature drift, old-vs-new scrape score shift):
    *   D = max over values of |F₁(v) − F₂(v)|
    * reported as the exact integer lane d_num = max|c₁·n₂ − c₂·n₁|
    * over a common denominator n₁·n₂, plus d_micro = ⌊10⁶·d_num /
    * (n₁·n₂)⌋. BOTH the cross-products and the 10⁶ scaling run in
    * DECIMAL(38,0) — BIGINT silently wraps (non-ANSI) once each arm
    * exceeds ~3·10⁹ rows while the DuckDB HUGEINT oracle stays
    * exact; only the final reported d_num narrows to BIGINT.
    *
    * Shape: one aggregate to value-grain runs with per-group counts,
    * one [[Relational.globalPrefixSum]] pass for BOTH cumulative
    * lanes (the pair rides a single struct-free trick: prefix-sum
    * the total run and the group-1 run in two calls would exchange
    * twice, so group-2's cumulative is derived as cum_total − cum_1),
    * one max. Never a row-grain sort. */
  def ksTwoSample(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val staged = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("boolean").as("__g1"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    val runs = staged.groupBy(col("__v"))
      .agg(count(lit(1)).as("__run"),
        sum(when(col("__g1"), 1L).otherwise(0L)).as("__run1"))
    val cumAll = Relational.globalPrefixSum(runs, Seq(col("__v").asc),
      "__run", "__cumt")
    // second lane rides the SAME ranked frame: prefix-sum of __run1
    // re-derived from the one exchange via a window inside blocks
    // would duplicate globalPrefixSum's internals; a second call is
    // one more exchange on the (distinct-value)-grain table — tiny
    // relative to the row-grain input, and keeps both lanes exact.
    val cum1 = Relational.globalPrefixSum(runs.select(col("__v"),
        col("__run1")), Seq(col("__v").asc), "__run1", "__cum1")
      .select(col("__v"), col("__cum1"))
    cumAll.join(cum1, Seq("__v"))
      .crossJoin(broadcast(staged.agg(
        sum(when(col("__g1"), 1L).otherwise(0L)).as("__n1"),
        sum(when(col("__g1"), 0L).otherwise(1L)).as("__n2"))))
      // the cross-products themselves in DECIMAL(38,0) — BIGINT
      // silently wraps (non-ANSI) once each arm exceeds ~3e9 rows,
      // while the DuckDB oracle's HUGEINT lane stays exact (r12
      // advice; the mannWhitneyU discipline)
      .select(col("__n1"), col("__n2"),
        abs(col("__cum1").cast("decimal(38,0)") * col("__n2") -
          (col("__cumt") - col("__cum1")).cast("decimal(38,0)") *
            col("__n1")).as("__dn"))
      .agg(max(col("__n1")).as("n1"), max(col("__n2")).as("n2"),
        max(col("__dn")).as("__dnd"))
      .withColumn("d_micro", when(col("n1") > 0 && col("n2") > 0, expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * __dnd)
          |  div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"""
          .stripMargin)))
      // the reported d_num lane stays BIGINT (oracle-schema parity);
      // d_micro above divides the DECIMAL before any narrowing
      .withColumn("d_num", col("__dnd").cast("long"))
      .select("n1", "n2", "d_num", "d_micro")
  }

  /** Krippendorff's alpha (nominal data, fixed panel of `m` raters)
    * — the agreement coefficient label-quality reviews standardize
    * on when [[cohenKappa]]'s two-rater / [[fleissKappa]]'s
    * complete-design assumptions need the missing-data-aware frame.
    * This implementation pins the FIXED-PANEL design: items with
    * exactly `m` non-null ratings participate (a partial item has no
    * within-unit pair denominator that stays rational with a single
    * common denominator — the lanes would need per-item floors);
    * everything else is dropped and COUNTED (dropped_items), never
    * silently ignored.
    *
    *   Do = Σ_u Σ_c n_uc(m − n_uc) / (N(m−1)),  N = m·items
    *   De = Σ_c N_c(N − N_c) / (N(N−1))
    *   α  = 1 − Do/De = ((m−1)·DeNum − DoNum·(N−1)) / ((m−1)·DeNum)
    * reported as alpha_micro (sign-split floor, DECIMAL products —
    * exact to ~10¹⁸ ratings). Two aggregates ((item,cat) then item /
    * cat) + one broadcast of the category totals: no row-grain
    * shuffle beyond the first groupBy. */
  def krippendorffAlpha(df: DataFrame, itemCol: String, raterCol: String,
      valueCol: String, m: Int): DataFrame = {
    require(m >= 2, s"panel size must be >= 2, got $m")
    val rated = df
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(itemCol).as("__i"), col(raterCol).as("__r"),
        col(valueCol).cast("string").as("__c"))
      // one rating per (item, rater); conflicting duplicates collapse
      // to the SMALLEST label (string order) — dropDuplicates would
      // keep a partition-order-dependent row (the friedmanTest
      // fixed-panel discipline)
      .groupBy(col("__i"), col("__r")).agg(min(col("__c")).as("__c"))
    val sized = rated.groupBy(col("__i"))
      .agg(count(lit(1)).as("__mi"))
    val full = sized.filter(col("__mi") === m.toLong).select(col("__i"))
    val kept = rated.join(full, Seq("__i"), "left_semi")
    val uc = kept.groupBy(col("__i"), col("__c"))
      .agg(count(lit(1)).as("__nuc"))
    val doNum = uc.agg(coalesce(sum(col("__nuc") * (lit(m.toLong) -
      col("__nuc"))), lit(0L)).as("do_num"))
    val cat = kept.groupBy(col("__c")).agg(count(lit(1)).as("__nc"))
    val totals = cat
      .crossJoin(broadcast(cat.agg(coalesce(sum(col("__nc")), lit(0L))
        .as("__nt"))))
      .agg(max(col("__nt")).as("n"),
        coalesce(sum(col("__nc").cast("decimal(38,0)") *
          (col("__nt") - col("__nc"))), lit(0L).cast("decimal(38,0)"))
          .as("de_num"))
    val dropped = sized.filter(col("__mi") =!= m.toLong)
      .agg(count(lit(1)).as("dropped_items"))
    doNum.crossJoin(totals).crossJoin(broadcast(dropped))
      .select(lit(m.toLong).as("m"),
        expr(s"n div ${m}").as("n_items"),
        col("n").cast("long").as("n"), col("do_num"),
        col("de_num").cast("long").as("de_num_l"),
        col("dropped_items"),
        when(col("de_num") > 0, expr(
          s"""CASE WHEN (${m - 1} * de_num - CAST(do_num AS DECIMAL(38,0)) * (n - 1)) >= 0
             |  THEN CAST((1000000 * (${m - 1} * de_num
             |    - CAST(do_num AS DECIMAL(38,0)) * (n - 1)))
             |    div (${m - 1} * de_num) AS BIGINT)
             |  ELSE -CAST((1000000 * -(${m - 1} * de_num
             |    - CAST(do_num AS DECIMAL(38,0)) * (n - 1)))
             |    div (${m - 1} * de_num) AS BIGINT) END"""
            .stripMargin)).as("alpha_micro"))
      .drop("de_num").withColumnRenamed("de_num_l", "de_num")
  }

  /** McNemar's test for PAIRED binary outcomes — "did model B beat
    * model A on the same eval set": each row is one item with both
    * models' pass/fail, and only the DISCORDANT cells carry signal
    * (b = A-wrong/B-right, c = A-right/B-wrong). Emits the full
    * 2×2 census plus the exact continuity-free statistic as an
    * integer lane:
    *   chi2_micro = ⌊10⁶·(b−c)² / (b+c)⌋      (NULL when b+c = 0)
    * and the sign-split direction lane
    *   delta_micro = sgn(b−c)·⌊10⁶·|b−c| / (b+c)⌋
    * (the marginal-change rate — positive means B wins more flips).
    * All products in DECIMAL(38,0): (b−c)²·10⁶ wraps BIGINT past
    * b+c ≈ 3·10⁶, long before any real eval set stops fitting.
    * Shape: ONE aggregate over the paired rows — no exchange beyond
    * the partial-agg combine. Null-either-side rows are excluded
    * (an unpaired item has no McNemar cell). */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame =
    df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("boolean").as("__a"),
        col(bCol).cast("boolean").as("__b"))
      .agg(
        sum(when(!col("__a") && !col("__b"), 1L).otherwise(0L)).as("n00"),
        sum(when(!col("__a") && col("__b"), 1L).otherwise(0L)).as("n01"),
        sum(when(col("__a") && !col("__b"), 1L).otherwise(0L)).as("n10"),
        sum(when(col("__a") && col("__b"), 1L).otherwise(0L)).as("n11"))
      .withColumn("chi2_micro", expr(
        """CASE WHEN n01 + n10 > 0 THEN
          |  CAST((CAST(1000000 AS DECIMAL(38,0)) *
          |      (CAST(n01 AS DECIMAL(38,0)) - n10) *
          |      (CAST(n01 AS DECIMAL(38,0)) - n10))
          |    div CAST(n01 + n10 AS DECIMAL(38,0)) AS BIGINT) END"""
          .stripMargin))
      .withColumn("delta_micro", expr(
        """CASE WHEN n01 + n10 > 0 THEN
          |  (CASE WHEN n01 >= n10 THEN 1L ELSE -1L END) *
          |  CAST((CAST(1000000 AS DECIMAL(38,0)) * ABS(CAST(n01 AS DECIMAL(38,0)) - n10))
          |    div CAST(n01 + n10 AS DECIMAL(38,0)) AS BIGINT) END"""
          .stripMargin))

  /** Cliff's delta — the ordinal effect size the MWU family's
    * p-value-shaped lanes don't give: over all cross-group pairs,
    *   δ = (#(x₁ > x₂) − #(x₁ < x₂)) / (n₁·n₂) ∈ [−1, 1]
    * (equivalently the rank-biserial correlation of
    * [[mannWhitneyU]]). Computed EXACTLY at value grain — one run
    * census with both group counts, one [[Relational.globalPrefixSum]]
    * of the group-2 runs, then gt = Σ c₁(v)·#{group2 < v} and
    * lt = Σ c₁(v)·#{group2 > v} in DECIMAL(38,0); never an
    * all-pairs join. delta_micro is the sign-split floored rational
    * (the q384 discipline — no IEEE float in the gate lanes). */
  def cliffsDelta(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val staged = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("boolean").as("__g1"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    val runs = staged.groupBy(col("__v"))
      .agg(sum(when(col("__g1"), 1L).otherwise(0L)).as("__run1"),
        sum(when(col("__g1"), 0L).otherwise(1L)).as("__run2"))
    val cum2 = Relational.globalPrefixSum(runs, Seq(col("__v").asc),
      "__run2", "__cum2")
    cum2
      .crossJoin(broadcast(staged.agg(
        sum(when(col("__g1"), 1L).otherwise(0L)).as("__n1"),
        sum(when(col("__g1"), 0L).otherwise(1L)).as("__n2"))))
      .agg(max(col("__n1")).as("n1"), max(col("__n2")).as("n2"),
        coalesce(sum(expr(
          "CAST(__run1 AS DECIMAL(38,0)) * (__cum2 - __run2)")),
          lit(0).cast("decimal(38,0)")).as("__gt"),
        coalesce(sum(expr(
          "CAST(__run1 AS DECIMAL(38,0)) * (__n2 - __cum2)")),
          lit(0).cast("decimal(38,0)")).as("__lt"))
      .withColumn("gt_pairs", col("__gt").cast("long"))
      .withColumn("lt_pairs", col("__lt").cast("long"))
      .withColumn("delta_micro", expr(
        """CASE WHEN n1 > 0 AND n2 > 0 THEN
          |  (CASE WHEN __gt >= __lt THEN 1L ELSE -1L END) *
          |  CAST((CAST(1000000 AS DECIMAL(38,0)) * ABS(__gt - __lt))
          |    div (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT) END"""
          .stripMargin))
      .select("n1", "n2", "gt_pairs", "lt_pairs", "delta_micro")
  }

  /** Total variation distance between two snapshots' CATEGORY
    * distributions — the corpus-drift number beside [[driftChi2]]'s
    * test statistic (TV is the fraction of mass that must move:
    * directly interpretable, bounded [0,1], no df):
    *   TV = ½·Σ_c |p₁(c) − p₂(c)|
    * EXACT over the common denominator n₁·n₂:
    *   tv_num = Σ_c |c₁(c)·n₂ − c₂(c)·n₁|   (DECIMAL(38,0))
    *   tv_micro = ⌊10⁶·tv_num / (2·n₁·n₂)⌋
    * A category absent from one side contributes its full count —
    * the category-grain aggregate carries both conditional sums, so
    * absence is a zero lane, not a missing row. Shape: ONE
    * category-grain aggregate (the only exchange that scales) + a
    * broadcast scalar of the totals. */
  def tvDistance(df: DataFrame, groupCol: String,
      catCol: String): DataFrame = {
    val staged = df
      .filter(col(catCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("boolean").as("__g1"),
        col(catCol).cast("string").as("__c"))
    val cats = staged.groupBy(col("__c"))
      .agg(sum(when(col("__g1"), 1L).otherwise(0L)).as("__c1"),
        sum(when(col("__g1"), 0L).otherwise(1L)).as("__c2"))
    cats
      .crossJoin(broadcast(staged.agg(
        sum(when(col("__g1"), 1L).otherwise(0L)).as("__n1"),
        sum(when(col("__g1"), 0L).otherwise(1L)).as("__n2"))))
      .agg(max(col("__n1")).as("n1"), max(col("__n2")).as("n2"),
        count(lit(1)).as("n_cats"),
        coalesce(sum(expr(
          "ABS(CAST(__c1 AS DECIMAL(38,0)) * __n2 - CAST(__c2 AS DECIMAL(38,0)) * __n1)")),
          lit(0).cast("decimal(38,0)")).as("__tvn"))
      .withColumn("tv_num", col("__tvn").cast("long"))
      .withColumn("tv_micro", when(col("n1") > 0 && col("n2") > 0, expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * __tvn)
          |  div (2 * CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"""
          .stripMargin)))
      .select("n1", "n2", "n_cats", "tv_num", "tv_micro")
  }

  /** Gwet's AC1 — the chance-corrected agreement coefficient that
    * stays sane under prevalence skew (the known kappa paradox:
    * [[cohenKappa]] collapses when one label dominates, exactly the
    * regime of rare-unsafe-content labeling). TWO-RATER fixed
    * design on item grain (the [[krippendorffAlpha]] m=2 frame):
    * items with exactly 2 ratings participate, others are counted
    * in `dropped_items`. With n complete items, a agreeing, and
    * per-category pooled counts m_c over both raters (Σm_c = 2n),
    * K observed categories:
    *   pe = Σ_c π_c(1−π_c)/(K−1),  π_c = m_c/(2n)
    *   AC1 = (po − pe)/(1 − pe),   po = a/n
    * cleared to ONE exact rational over D = 4n²(K−1):
    *   num = 4n(K−1)·a − Σ m_c(2n−m_c),  den = D − Σ m_c(2n−m_c)
    * with ac1_micro the sign-split floor (q384 discipline). K = 1
    * (a single observed category) leaves pe undefined → NULL.
    * DECIMAL(38,0) lanes hold to n ≈ 10¹⁵/K. Shape: item-grain
    * aggregate + two tiny category/scalar aggregates. */
  def gwetAC1(df: DataFrame, itemCol: String, raterCol: String,
      valueCol: String): DataFrame = {
    val rated = df
      .filter(col(itemCol).isNotNull && col(raterCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(itemCol).as("__i"), col(raterCol).as("__r"),
        col(valueCol).cast("string").as("__c"))
      // conflicting duplicate (item, rater) rows collapse to the
      // SMALLEST label (string order), deterministically — the
      // friedmanTest/cochranQ fixed-panel discipline; dropDuplicates
      // would keep a partition-order-dependent row
      .groupBy(col("__i"), col("__r")).agg(min(col("__c")).as("__c"))
    val sized = rated.groupBy(col("__i")).agg(count(lit(1)).as("__mi"),
      countDistinct(col("__c")).as("__nc"))
    val full = sized.filter(col("__mi") === 2L)
    val agree = full.agg(count(lit(1)).as("n"),
      coalesce(sum(when(col("__nc") === 1L, 1L).otherwise(0L)), lit(0L))
        .as("agree"))
    val kept = rated.join(full.select(col("__i")), Seq("__i"), "left_semi")
    val cat = kept.groupBy(col("__c")).agg(count(lit(1)).as("__mc"))
    val catStats = cat
      .crossJoin(broadcast(agree.select(col("n").as("__nn"))))
      .agg(count(lit(1)).as("k_cats"),
        coalesce(sum(expr(
          "CAST(__mc AS DECIMAL(38,0)) * (2 * __nn - __mc)")),
          lit(0).cast("decimal(38,0)")).as("__pen"))
    val dropped = sized.filter(col("__mi") =!= 2L)
      .agg(count(lit(1)).as("dropped_items"))
    agree.crossJoin(broadcast(catStats)).crossJoin(broadcast(dropped))
      .withColumn("__num", expr(
        """4 * CAST(n AS DECIMAL(38,0)) * (k_cats - 1) * agree - __pen"""))
      .withColumn("__den", expr(
        """4 * CAST(n AS DECIMAL(38,0)) * n * (k_cats - 1) - __pen"""))
      .withColumn("ac1_micro", expr(
        """CASE WHEN k_cats >= 2 AND __den > 0 THEN
          |  (CASE WHEN __num >= 0 THEN 1L ELSE -1L END) *
          |  CAST((CAST(1000000 AS DECIMAL(38,0)) * ABS(__num))
          |    div __den AS BIGINT) END""".stripMargin))
      .select(col("n").as("n_items"), col("agree"), col("k_cats"),
        col("__pen").cast("long").as("pe_num"), col("dropped_items"),
        col("ac1_micro"))
  }

  /** Concentration indices of a categorical distribution — the
    * "is one domain/source/language eating the corpus" monitors,
    * both EXACT rationals (no logs, unlike Shannon entropy — these
    * are the diversity numbers that replay engine-to-engine):
    *   HHI      = Σ (n_c/N)²            (Herfindahl–Hirschman)
    *   Simpson  = Σ n_c(n_c−1) / (N(N−1))   (collision probability,
    *              the unbiased finite-sample form)
    * emitted as floored micro lanes plus the exact integer
    * components (n, n_cats, sum_sq = Σn_c², coll_num = Σn_c(n_c−1)).
    * DECIMAL(38,0) holds 10⁶·Σn_c² to N ≈ 10¹⁶. Shape: one
    * category-grain aggregate + one scalar aggregate. */
  def concentration(df: DataFrame, catCol: String): DataFrame =
    df.filter(col(catCol).isNotNull)
      .groupBy(col(catCol)).agg(count(lit(1)).as("__nc"))
      .agg(coalesce(sum(col("__nc")), lit(0L)).as("n"),
        count(lit(1)).as("n_cats"),
        coalesce(sum(expr("CAST(__nc AS DECIMAL(38,0)) * __nc")),
          lit(0).cast("decimal(38,0)")).as("__ss"),
        coalesce(sum(expr("CAST(__nc AS DECIMAL(38,0)) * (__nc - 1)")),
          lit(0).cast("decimal(38,0)")).as("__cn"))
      .withColumn("sum_sq", col("__ss").cast("long"))
      .withColumn("coll_num", col("__cn").cast("long"))
      .withColumn("hhi_micro", when(col("n") > 0, expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * __ss)
          |  div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"""
          .stripMargin)))
      .withColumn("simpson_micro", when(col("n") > 1, expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * __cn)
          |  div (CAST(n AS DECIMAL(38,0)) * (n - 1)) AS BIGINT)"""
          .stripMargin)))
      .select("n", "n_cats", "sum_sq", "coll_num", "hhi_micro",
        "simpson_micro")

  /** Sample-ratio-mismatch (SRM) check — the first thing to run on
    * any A/B assignment log: does each arm's observed count match
    * its DESIGNED allocation? Goodness-of-fit chi-square against
    * fixed milli weights (Σw = 1000 enforced), EXACT via cleared
    * denominators (the [[driftChi2]] staging):
    *   num_c       = 1000·n_c − N·w_c
    *   term_micro  = ⌊10⁶·num_c² / (1000·N·w_c)⌋
    *   srm_micro   = Σ_c term_micro   (sum of per-term floors —
    *                 deterministic in both engines; each floor is
    *                 < 1 micro off, so the total is < |arms| micro
    *                 off the real statistic)
    * Rows arrive from the DESIGN side (a broadcast of the expected
    * arms), so an arm with zero observations still gets its row —
    * the worst SRM of all would otherwise be invisible. Observed
    * rows in arms OUTSIDE the design are counted in
    * `unexpected_rows` (a data bug lane) and excluded from N.
    * DECIMAL(38,0) keeps num² exact to N ≈ 10¹⁶. Shape: one arm
    * aggregate + broadcast scalars. */
  def srmCheck(df: DataFrame, armCol: String,
      expectedMilli: Map[String, Long]): DataFrame = {
    require(expectedMilli.nonEmpty && expectedMilli.values.forall(_ > 0),
      "expected weights must be positive")
    require(expectedMilli.values.sum == 1000L,
      s"expected milli weights must sum to 1000, got ${expectedMilli.values.sum}")
    val spark = df.sparkSession
    import spark.implicits._
    val design = expectedMilli.toSeq.sortBy(_._1)
      .toDF("arm", "expected_milli")
    val obs = df.filter(col(armCol).isNotNull)
      .select(col(armCol).cast("string").as("arm"))
      .groupBy(col("arm")).agg(count(lit(1)).as("n"))
    val joined = broadcast(design).join(obs, Seq("arm"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val scal = obs
      .join(broadcast(design.select(col("arm"))), Seq("arm"), "left_anti")
      .agg(coalesce(sum(col("n")), lit(0L)).as("unexpected_rows"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    joined
      .withColumn("__N", sum(col("n")).over(wAll))
      .withColumn("num", expr(
        "CAST(1000 AS DECIMAL(38,0)) * n - CAST(__N AS DECIMAL(38,0)) * expected_milli"))
      .withColumn("term_micro", when(col("__N") > 0, expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * num * num)
          |  div (CAST(1000 AS DECIMAL(38,0)) * __N * expected_milli)
          |  AS BIGINT)""".stripMargin)))
      .withColumn("srm_micro", sum(col("term_micro")).over(wAll))
      .crossJoin(broadcast(scal))
      .select(col("arm"), col("n"), col("expected_milli"),
        col("num").cast("long").as("num"), col("term_micro"),
        col("srm_micro"), col("unexpected_rows"))
  }

  /** Kruskal–Wallis H — the k-GROUP generalization of
    * [[mannWhitneyU]] (is ANY of the k snapshots/sources/model
    * variants' score distributions shifted): with doubled global
    * midranks R2ⱼ = Σ 2·midrank over group j (the value-grain
    * machinery of [[spearmanRho]] — one run census, one prefix sum,
    * never a row sort),
    *   H = 3·Σⱼ R2ⱼ²/nⱼ / (N(N+1)) − 3(N+1)
    * emitted as h_micro via staged floors whose every div result
    * fits BIGINT to N ≈ 10⁹ (R2ⱼ ≤ 2nⱼN, so s1 ≤ 4nⱼN ≤ 4N²):
    *   s1ⱼ = ⌊R2ⱼ² / (nⱼ·N)⌋,  t3ⱼ = ⌊3·10⁶·s1ⱼ / (N+1)⌋,
    *   h_micro = Σt3ⱼ − 3(N+1)·10⁶
    * plus the tie lanes: tie_t = Σ(t³−t) over tie groups and the
    * corrected h_corr_micro = ⌊h_micro·(N³−N) / (N³−N − tie_t)⌋
    * (shared power-of-ten reduction keeps the big cubes in range —
    * the q381 idiom; all-tied data has zero denominator → NULL).
    * Per-group floors sum — < k micro off the real statistic, the
    * srmCheck convention. Shape: one value-grain census + one
    * [[Relational.globalPrefixSum]] + one (group)-grain aggregate. */
  def kruskalWallis(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val staged = df
      .filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    val runs = staged.groupBy(col("__v")).agg(count(lit(1)).as("__run"))
    val dmr = Relational.globalPrefixSum(runs, Seq(col("__v").asc),
        "__run", "__cum")
      .select(col("__v"),
        ((col("__cum") - col("__run") + 1L) + col("__cum")).as("__dmr"),
        col("__run"))
    val ties = dmr.agg(coalesce(sum(expr(
      """CAST(__run AS DECIMAL(38,0)) * __run * __run - __run""")),
      lit(0).cast("decimal(38,0)")).as("__T"))
    val groups = staged.join(dmr.select(col("__v"), col("__dmr")), Seq("__v"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__nj"),
        coalesce(sum(col("__dmr").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("__r2"))
    val scal = staged.agg(count(lit(1)).as("__N"))
    groups
      .crossJoin(broadcast(scal))
      .select(col("__g"), col("__nj"), col("__N"), expr(
        """CAST((CAST(3000000 AS DECIMAL(38,0)) *
          |    CAST((__r2 * __r2)
          |      div (CAST(__nj AS DECIMAL(38,0)) * __N) AS DECIMAL(38,0)))
          |  div (__N + 1) AS DECIMAL(38,0))""".stripMargin).as("__t3"))
      .agg(max(col("__N")).as("n"), count(lit(1)).as("k_groups"),
        coalesce(sum(col("__t3")), lit(0).cast("decimal(38,0)"))
          .as("__sum3"))
      .crossJoin(broadcast(ties))
      .withColumn("h_micro", expr(
        """CAST(__sum3 - 3 * (CAST(n AS DECIMAL(38,0)) + 1) * 1000000
          |  AS BIGINT)""".stripMargin))
      .withColumn("tie_t", col("__T").cast("long"))
      .withColumn("__cube", expr(
        "CAST(n AS DECIMAL(38,0)) * n * n - n"))
      .withColumn("__dv", expr(
        """CAST(CONCAT('1', REPEAT('0', GREATEST(0,
          |  LENGTH(CAST(GREATEST(__cube, 1) AS STRING)) - 15)))
          |  AS DECIMAL(38,0))""".stripMargin))
      .withColumn("h_corr_micro", expr(
        """CASE WHEN __cube - __T > 0 AND (__cube - __T) div __dv > 0 THEN
          |  (CASE WHEN h_micro >= 0 THEN 1L ELSE -1L END) *
          |  CAST((CAST(ABS(h_micro) AS DECIMAL(38,0)) * (__cube div __dv))
          |    div ((__cube - __T) div __dv) AS BIGINT) END"""
          .stripMargin))
      .select("n", "k_groups", "h_micro", "tie_t", "h_corr_micro")
  }

  /** Friedman test — the WITHIN-BLOCK k-treatment rank test (the
    * repeated-measures sibling of [[kruskalWallis]], and the right
    * test for "k models scored on the SAME prompts": ranking within
    * each prompt removes prompt difficulty, which KW would smear
    * across groups). Blocks with other than exactly `k` treatments
    * are DROPPED and counted (the [[krippendorffAlpha]] fixed-panel
    * discipline; duplicate (block, treatment) rows collapse to one
    * deterministic value — the smallest). Within-block ties take
    * DOUBLED midranks: dmr = 2·rank_min + ties_at_value − 1.
    * With R2ⱼ = Σ_blocks dmr over treatment j and b complete blocks:
    *   χ²_F = 3·Σⱼ R2ⱼ² / (b·k(k+1)) − 3·b(k+1)
    * via staged floors sized like [[kruskalWallis]]'s
    * (s1ⱼ = ⌊R2ⱼ²/(b·k)⌋ ≤ 4bk fits BIGINT to b ≈ 10¹⁵/k²):
    * chi2_micro = Σ⌊3·10⁶·s1ⱼ/(k+1)⌋ − 3b(k+1)·10⁶.
    * Output is TREATMENT grain (rank sums are the per-model
    * leaderboard) with the scalar lanes repeated per row — the
    * srmCheck convention.
    *
    * Shape: block-grain windows (each partition is one block's ≤ k
    * rows), one treatment-grain aggregate, broadcast scalars. */
  def friedmanTest(df: DataFrame, blockCol: String, treatmentCol: String,
      valueCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 1000, s"k must be in [2,1000], got $k")
    val rated = df
      .filter(col(blockCol).isNotNull && col(treatmentCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(blockCol).as("__b"),
        col(treatmentCol).cast("string").as("__t"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
      .groupBy(col("__b"), col("__t")).agg(min(col("__v")).as("__v"))
    val sized = rated.groupBy(col("__b")).agg(count(lit(1)).as("__m"))
    val full = sized.filter(col("__m") === k.toLong).select(col("__b"))
    val dropped = sized.filter(col("__m") =!= k.toLong)
      .agg(count(lit(1)).as("dropped_blocks"))
    val kept = rated.join(full, Seq("__b"), "left_semi")
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("__v"))
    val wTies = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b"), col("__v"))
    val ranked = kept
      .withColumn("__rmin", rank().over(wRank).cast("long"))
      .withColumn("__ce", count(lit(1)).over(wTies))
      .withColumn("__dmr", lit(2L) * col("__rmin") + col("__ce") - 1L)
    val sums = ranked.groupBy(col("__t").as("treatment"))
      .agg(coalesce(sum(col("__dmr").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("__r2"))
    val scal = full.agg(count(lit(1)).as("__bN"))
    val terms = sums.crossJoin(broadcast(scal))
      .withColumn("__t3", expr(
        s"""CAST((CAST(3000000 AS DECIMAL(38,0)) *
           |    CAST((__r2 * __r2)
           |      div (CAST(__bN AS DECIMAL(38,0)) * $k) AS DECIMAL(38,0)))
           |  div ${k + 1} AS DECIMAL(38,0))""".stripMargin))
    val chi2 = terms.agg(
      coalesce(sum(col("__t3")), lit(0).cast("decimal(38,0)")).as("__s3"),
      max(col("__bN")).as("__b2"))
      .select(expr(
        s"""CAST(__s3 - 3 * CAST(__b2 AS DECIMAL(38,0)) * ${k + 1}
           |  * 1000000 AS BIGINT)""".stripMargin).as("chi2_micro"),
        col("__b2").as("n_blocks"))
    terms
      .select(col("treatment"), col("__r2").cast("long").as("rank_sum2"))
      .crossJoin(broadcast(chi2))
      .crossJoin(broadcast(dropped))
      .withColumn("k", lit(k.toLong))
      .select("treatment", "rank_sum2", "n_blocks", "k",
        "dropped_blocks", "chi2_micro")
  }

  /** Cochran's Q — the BINARY-outcome sibling of [[friedmanTest]]
    * and the k-treatment generalization of [[mcnemar]] (k models'
    * pass/fail on the SAME eval items): with b complete blocks,
    * Tⱼ = passes of treatment j, Rᵢ = passes within block i,
    *   Q = (k−1)·(k·ΣTⱼ² − (ΣT)²) / (k·ΣRᵢ − ΣRᵢ²)
    * — a PURE rational, so q_micro is one sign-free floored
    * division over DECIMAL(38,0) products (exact to b ≈ 10¹⁵/k).
    * Blocks where every treatment agrees contribute nothing to the
    * denominator; if ALL blocks agree the statistic is undefined →
    * NULL. Fixed-panel discipline (non-k blocks drop and count).
    * Output is treatment grain (Tⱼ is the pass leaderboard) with
    * scalar lanes repeated — the [[friedmanTest]] convention.
    *
    * Shape: one (block, treatment) census, block- and
    * treatment-grain aggregates, broadcast scalars. */
  def cochranQ(df: DataFrame, blockCol: String, treatmentCol: String,
      outcomeCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 1000, s"k must be in [2,1000], got $k")
    val rated = df
      .filter(col(blockCol).isNotNull && col(treatmentCol).isNotNull &&
        col(outcomeCol).isNotNull)
      .select(col(blockCol).as("__b"),
        col(treatmentCol).cast("string").as("__t"),
        col(outcomeCol).cast("boolean").cast("long").as("__y"))
      .groupBy(col("__b"), col("__t")).agg(max(col("__y")).as("__y"))
    val sized = rated.groupBy(col("__b")).agg(count(lit(1)).as("__m"))
    val full = sized.filter(col("__m") === k.toLong).select(col("__b"))
    val dropped = sized.filter(col("__m") =!= k.toLong)
      .agg(count(lit(1)).as("dropped_blocks"))
    val kept = rated.join(full, Seq("__b"), "left_semi")
    val tj = kept.groupBy(col("__t").as("treatment"))
      .agg(coalesce(sum(col("__y")), lit(0L)).as("passes"))
    val rows = kept.groupBy(col("__b"))
      .agg(coalesce(sum(col("__y")), lit(0L)).as("__r"))
      .agg(count(lit(1)).as("__bN"),
        coalesce(sum(col("__r")), lit(0L)).as("__sr"),
        coalesce(sum(expr("CAST(__r AS DECIMAL(38,0)) * __r")),
          lit(0).cast("decimal(38,0)")).as("__sr2"))
    val tstats = tj.agg(
      coalesce(sum(expr("CAST(passes AS DECIMAL(38,0)) * passes")),
        lit(0).cast("decimal(38,0)")).as("__st2"),
      coalesce(sum(col("passes")), lit(0L)).as("__st"))
    val scal = rows.crossJoin(broadcast(tstats))
      .withColumn("__num", expr(
        s"""${k - 1} * ($k * __st2
           |  - CAST(__st AS DECIMAL(38,0)) * __st)""".stripMargin))
      .withColumn("__den", expr(
        s"CAST($k AS DECIMAL(38,0)) * __sr - __sr2"))
      .select(col("__bN").as("n_blocks"),
        when(col("__den") > 0, expr(
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * __num)
            |  div __den AS BIGINT)""".stripMargin)).as("q_micro"))
    tj.crossJoin(broadcast(scal))
      .crossJoin(broadcast(dropped))
      .withColumn("k", lit(k.toLong))
      .select("treatment", "passes", "n_blocks", "k", "dropped_blocks",
        "q_micro")
  }

  /** Jonckheere–Terpstra test — the ORDERED-alternative k-group rank
    * test ([[kruskalWallis]] asks "any group differs"; JT asks "do
    * the groups TREND with their order" — the right test for dose-,
    * size-, or version-ordered cohorts, e.g. model checkpoints or
    * data-mix fractions). Group order is the ascending LONG cast of
    * `groupCol`. With the DOUBLED statistic (ties count once,
    * strict inequalities twice — integer by construction):
    *   JT2 = Σ_{gᵢ<gⱼ} (2·#{x<y} + #{x=y}),  x∈gᵢ, y∈gⱼ
    * plus the exact null-mean lane e_jt2 = (n² − Σnᵢ²)/2 and the
    * tie-corrected null variance OF THE DOUBLED STATISTIC —
    * Var(JT2) = 4·Var(JT), so z² = 10⁶·(jt2−e_jt2)²/var_micro with
    * NO factor-of-2 bookkeeping (the [[pageTrend]] convention; all
    * three lanes ride the same doubling). Lehmann 1975's three-term
    * form, floored once over the common denominator 18·n(n−1)(n−2)
    * (= 72·d₃/4):
    *   var_micro = ⌊10⁶·4·(A·d₃ + 2B + 9(n−2)C) / (72·d₃)⌋
    * with A = n(n−1)(2n+5) − Σnᵢ(nᵢ−1)(2nᵢ+5) − Σtᵥ(tᵥ−1)(2tᵥ+5),
    * B = Σnᵢ(nᵢ−1)(nᵢ−2)·Σtᵥ(tᵥ−1)(tᵥ−2), C = Σnᵢ(nᵢ−1)·Σtᵥ(tᵥ−1),
    * d₃ = n(n−1)(n−2) (NULL when n < 3). Exact to n ≈ 2·10⁵
    * (10⁶·2n⁶ inside DECIMAL(38,0)); values quantize to milli.
    *
    * Shape: NEVER all-pairs — (group, value)-run grain densified to
    * the |V|·k grid (guarded by `maxGrid`, loud in-plan raise), one
    * per-group cumulative window (k partitions over ≤|V| rows) and
    * one per-value window (≤k rows each), then scalar aggregates. */
  def jonckheereTerpstra(df: DataFrame, groupCol: String,
      valueCol: String, maxGrid: Long = 1L << 22): DataFrame = {
    require(maxGrid > 0, s"maxGrid must be positive, got $maxGrid")
    val staged = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("long").as("__g"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    val runs = staged.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
    val vals = runs.select(col("__v")).distinct()
    val grps = runs.select(col("__g")).distinct()
    val sizes = vals.agg(count(lit(1)).as("__nv"))
      .crossJoin(grps.agg(count(lit(1)).as("__ng")))
    val grid = vals.crossJoin(broadcast(grps))
      .join(runs, Seq("__g", "__v"), "left")
      .na.fill(0L, Seq("__c"))
      .crossJoin(broadcast(sizes))
      // guard INSIDE the consumed column (the kaplanMeier pattern)
      .withColumn("__c", when(col("__nv") * col("__ng") > maxGrid,
        raise_error(concat(lit("jonckheereTerpstra: value grid "),
          col("__nv") * col("__ng"),
          lit(s" cells > maxGrid=$maxGrid — quantize $valueCol coarser"))))
        .otherwise(col("__c")))
    val wBelow = Window.partitionBy(col("__g")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wPrev = Window.partitionBy(col("__v")).orderBy(col("__g"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val jt = grid
      .withColumn("__below", coalesce(sum(col("__c")).over(wBelow), lit(0L)))
      .withColumn("__A", coalesce(sum(col("__below")).over(wPrev), lit(0L)))
      .withColumn("__B", coalesce(sum(col("__c")).over(wPrev), lit(0L)))
      .agg(coalesce(sum(col("__c").cast("decimal(38,0)") *
        (lit(2) * col("__A") + col("__B"))),
        lit(0).cast("decimal(38,0)")).as("__jt2"))
    // group/tie censuses derive from the RUNS table (runs-grain, one
    // row-scale exchange total), never from a second pass over rows
    val gstats = runs.groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"))
      .agg(count(lit(1)).as("__k"),
        coalesce(sum(col("__n")), lit(0L)).as("__N"),
        coalesce(sum(expr("CAST(__n AS DECIMAL(38,0)) * __n")),
          lit(0).cast("decimal(38,0)")).as("__sn2"),
        coalesce(sum(expr(
          "CAST(__n AS DECIMAL(38,0)) * (__n - 1) * (2 * __n + 5)")),
          lit(0).cast("decimal(38,0)")).as("__sg1"),
        coalesce(sum(expr("CAST(__n AS DECIMAL(38,0)) * (__n - 1)")),
          lit(0).cast("decimal(38,0)")).as("__sg2"),
        coalesce(sum(expr(
          "CAST(__n AS DECIMAL(38,0)) * (__n - 1) * (__n - 2)")),
          lit(0).cast("decimal(38,0)")).as("__sg3"))
    val tstats = runs.groupBy(col("__v"))
      .agg(sum(col("__c")).as("__t"))
      .agg(coalesce(sum(expr(
        "CAST(__t AS DECIMAL(38,0)) * (__t - 1) * (2 * __t + 5)")),
        lit(0).cast("decimal(38,0)")).as("__st1"),
        coalesce(sum(expr("CAST(__t AS DECIMAL(38,0)) * (__t - 1)")),
          lit(0).cast("decimal(38,0)")).as("__st2"),
        coalesce(sum(expr(
          "CAST(__t AS DECIMAL(38,0)) * (__t - 1) * (__t - 2)")),
          lit(0).cast("decimal(38,0)")).as("__st3"))
    jt.crossJoin(broadcast(gstats)).crossJoin(broadcast(tstats))
      .withColumn("__A0", expr(
        """CAST(__N AS DECIMAL(38,0)) * (__N - 1) * (2 * __N + 5)
          |  - __sg1 - __st1""".stripMargin))
      .withColumn("__d3", expr(
        "CAST(__N AS DECIMAL(38,0)) * (__N - 1) * (__N - 2)"))
      .select(col("__N").as("n"), col("__k").as("k_groups"),
        col("__jt2").cast("long").as("jt2"),
        expr("""CAST((CAST(__N AS DECIMAL(38,0)) * __N - __sn2) div 2
          |  AS BIGINT)""".stripMargin).as("e_jt2"),
        expr("""CASE WHEN __N >= 3 THEN
          |  CAST((1000000 * (__A0 * __d3 + 2 * __sg3 * __st3
          |      + 9 * (__N - 2) * __sg2 * __st2))
          |    div (18 * __d3) AS BIGINT) END""".stripMargin)
          .as("var_micro"))
  }

  /** Page's trend test — the ORDERED-alternative sibling of
    * [[friedmanTest]] (JT for independent groups, Page for the
    * SAME blocks: "do k models scored on shared prompts improve in
    * version order?"). Treatment order is the ascending LONG cast
    * of `treatmentCol`. Doubled within-block midranks (the
    * friedman dmr), R2ⱼ their per-treatment sums, and the doubled
    * Page statistic (integer by construction):
    *   L2 = Σⱼ j·R2ⱼ   (j = 1..k in treatment order)
    * with exact null-mean lane e_l2 = b·k(k+1)²/2 and the no-tie
    * null variance lane (ties only shrink it — documented):
    *   var_micro = ⌊10⁶·b·k²(k+1)(k²−1)/36⌋.
    * Fixed-panel discipline: non-k blocks drop and count; duplicate
    * (block, treatment) rows collapse to the smallest value. Output
    * is treatment grain (rank sums + their order index) with scalar
    * lanes repeated — the [[friedmanTest]] convention.
    *
    * Shape: block-grain windows, one treatment-grain aggregate, a
    * k-row ordering window (k ≤ 1000 by contract), broadcast
    * scalars. */
  def pageTrend(df: DataFrame, blockCol: String, treatmentCol: String,
      valueCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 1000, s"k must be in [2,1000], got $k")
    val rated = df
      .filter(col(blockCol).isNotNull && col(treatmentCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(blockCol).as("__b"),
        // the trend NEEDS an order: non-numeric labels raise loudly
        // rather than silently casting to null and dropping
        when(col(treatmentCol).cast("long").isNull,
          raise_error(concat(lit("pageTrend: treatment label '"),
            col(treatmentCol).cast("string"),
            lit("' is not numeric-castable — the ordered test needs " +
              "numeric treatment order indexes"))))
          .otherwise(col(treatmentCol).cast("long")).as("__t"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
      .groupBy(col("__b"), col("__t")).agg(min(col("__v")).as("__v"))
    val sized = rated.groupBy(col("__b")).agg(count(lit(1)).as("__m"))
    val full = sized.filter(col("__m") === k.toLong).select(col("__b"))
    val dropped = sized.filter(col("__m") =!= k.toLong)
      .agg(count(lit(1)).as("dropped_blocks"))
    val kept = rated.join(full, Seq("__b"), "left_semi")
    val wRank = Window.partitionBy(col("__b")).orderBy(col("__v"))
    val wTies = Window.partitionBy(col("__b"), col("__v"))
    val sums = kept
      .withColumn("__dmr", lit(2L) * rank().over(wRank).cast("long")
        + count(lit(1)).over(wTies) - 1L)
      .groupBy(col("__t"))
      .agg(coalesce(sum(col("__dmr")), lit(0L)).as("rank_sum2"))
    // k-row frame: the ordering window is bounded by the k contract
    val wOrd = Window.orderBy(col("__t"))
    val idx = sums.withColumn("order_idx",
      row_number().over(wOrd).cast("long"))
    val scal = idx.agg(coalesce(sum(col("order_idx") *
        col("rank_sum2")), lit(0L)).as("l2"))
      .crossJoin(broadcast(full.agg(count(lit(1)).as("n_blocks"))))
      .select(col("l2"), col("n_blocks"),
        expr(s"CAST(n_blocks * $k * ${k + 1} * ${k + 1} div 2 AS BIGINT)")
          .as("e_l2"),
        expr(s"""CAST((1000000 * CAST(n_blocks AS DECIMAL(38,0))
          |  * $k * $k * ${k + 1} * (${k.toLong * k} - 1)) div 36
          |  AS BIGINT)""".stripMargin).as("var_micro"))
    idx
      .select(col("__t").cast("string").as("treatment"),
        col("order_idx"), col("rank_sum2"))
      .crossJoin(broadcast(scal))
      .crossJoin(broadcast(dropped))
      .withColumn("k", lit(k.toLong))
      .select("treatment", "order_idx", "rank_sum2", "n_blocks", "k",
        "dropped_blocks", "l2", "e_l2", "var_micro")
  }

  /** Kendall's W (coefficient of concordance) — HOW MUCH do m raters
    * agree on a ranking of n items (0 = random, 1 = unanimous): the
    * effect-size companion of [[friedmanTest]] (same block-rank
    * spine with raters as blocks) and the rank-based sibling of
    * [[krippendorffAlpha]]. The panel is ALL distinct items; raters
    * not covering the full panel drop and count (fixed-panel
    * discipline; duplicate (rater, item) ratings collapse to the
    * smallest value). Doubled within-rater midranks sum to R2ᵢ per
    * item; with S4 = Σᵢ(R2ᵢ − m(n+1))² (= 4·S, integer) and the
    * within-rater tie term TT = Σᵥ(tᵥ³−tᵥ):
    *   w_micro = ⌊10⁶·3·S4 / (m²(n³−n) − m·TT)⌋  (NULL if n < 2 or
    *   every rater ties everything). Exact while m²n³ ≲ 10³⁶.
    * Output is item grain (R2ᵢ is the consensus leaderboard) with
    * scalar lanes repeated — the [[friedmanTest]] convention.
    *
    * Shape: rater-grain windows, one item-grain aggregate,
    * broadcast scalars; never all-pairs. */
  def kendallW(df: DataFrame, raterCol: String, itemCol: String,
      valueCol: String): DataFrame = {
    val rated = df
      .filter(col(raterCol).isNotNull && col(itemCol).isNotNull &&
        col(valueCol).isNotNull)
      .select(col(raterCol).cast("string").as("__r"),
        col(itemCol).cast("string").as("__i"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
      .groupBy(col("__r"), col("__i")).agg(min(col("__v")).as("__v"))
    val nI = rated.select(col("__i")).distinct()
      .agg(count(lit(1)).as("__ni"))
    val sized = rated.groupBy(col("__r")).agg(count(lit(1)).as("__m"))
      .crossJoin(broadcast(nI))
    val full = sized.filter(col("__m") === col("__ni")).select(col("__r"))
    val dropped = sized.filter(col("__m") =!= col("__ni"))
      .agg(count(lit(1)).as("dropped_raters"))
    val kept = rated.join(full, Seq("__r"), "left_semi")
    val wRank = Window.partitionBy(col("__r")).orderBy(col("__v"))
    val wTies = Window.partitionBy(col("__r"), col("__v"))
    val ranked = kept
      .withColumn("__dmr", lit(2L) * rank().over(wRank).cast("long")
        + count(lit(1)).over(wTies) - 1L)
    val tt = ranked.groupBy(col("__r"), col("__v"))
      .agg(count(lit(1)).as("__t"))
      .agg(coalesce(sum(expr(
        "CAST(__t AS DECIMAL(38,0)) * __t * __t - __t")),
        lit(0).cast("decimal(38,0)")).as("__tt"))
    val mScal = full.agg(count(lit(1)).as("__mr"))
    val items = ranked.groupBy(col("__i").as("item"))
      .agg(coalesce(sum(col("__dmr")), lit(0L)).as("rank_sum2"))
    val s4 = items.crossJoin(broadcast(mScal)).crossJoin(broadcast(nI))
      .agg(coalesce(sum(expr(
        """CAST(rank_sum2 - __mr * (__ni + 1) AS DECIMAL(38,0))
          |  * (rank_sum2 - __mr * (__ni + 1))""".stripMargin)),
        lit(0).cast("decimal(38,0)")).as("__s4"),
        max(col("__mr")).as("m_raters"), max(col("__ni")).as("n_items"))
    val scal = s4.crossJoin(broadcast(tt))
      .select(col("n_items"), col("m_raters"),
        col("__s4").cast("long").as("s4"),
        col("__tt").cast("long").as("tie_tt"),
        expr("""CASE WHEN m_raters >= 1 AND n_items >= 2 AND
          |    CAST(m_raters AS DECIMAL(38,0)) * m_raters *
          |      (CAST(n_items AS DECIMAL(38,0)) * n_items * n_items
          |        - n_items) - m_raters * __tt > 0 THEN
          |  CAST((3000000 * __s4) div
          |    (CAST(m_raters AS DECIMAL(38,0)) * m_raters *
          |      (CAST(n_items AS DECIMAL(38,0)) * n_items * n_items
          |        - n_items) - m_raters * __tt) AS BIGINT) END"""
          .stripMargin).as("w_micro"))
    items.crossJoin(broadcast(scal)).crossJoin(broadcast(dropped))
      .select("item", "rank_sum2", "n_items", "m_raters",
        "dropped_raters", "s4", "tie_tt", "w_micro")
  }

  /** Mood's median test — the k-group location test that asks only
    * "which side of the GLOBAL median does each observation fall"
    * (maximally robust to outliers and monotone transforms; the
    * coarse sibling of [[kruskalWallis]], and the right screen when
    * values are heavy-tailed scores or clipped quantities). Values
    * quantize to milli; the global median is the exact LOWER median
    * (the value at position ⌈n/2⌉ — deterministic under ties, no
    * averaging). Per group j with nⱼ rows and aⱼ strictly above the
    * median, a = Σaⱼ, b = n − a, and dⱼ = aⱼ·n − a·nⱼ, the χ²
    * contribution of group j is dⱼ²/(nⱼ·a·b); each term floors
    * INDEPENDENTLY (documented — the oracle replays the same
    * per-term floor):  term_micro = ⌊10⁶·dⱼ² / (nⱼ·a·b)⌋, NULL when
    * a = 0 or b = 0. Output is group grain with scalar lanes
    * repeated — the [[friedmanTest]] convention.
    *
    * Shape: ONE row-scale exchange (the (group, value) runs); the
    * global runs, the two-pass [[Relational.globalPrefixSum]] median
    * spine (never a partition-less window), and the group censuses
    * are all runs-grain; broadcast scalars. */
  def moodMedianTest(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val staged = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("__g"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    // one row-scale exchange: the (group, value) runs, CHECKPOINTED —
    // every downstream aggregate is runs-grain, and before the
    // checkpoint each broadcast arm (scal, med, above, final) re-ran
    // the row-scale exchange from scratch (the q435 plan carried 124
    // Exchanges for one row of output). N is observed in the
    // materialization ([[CheckpointHygiene.materialize]]) and rebases
    // as a literal; integer div semantics unchanged — Column./ is
    // DOUBLE division and would shift the cut to ceil(N/2)+1 on even N.
    val (gruns, obsN) = CheckpointHygiene.materialize(
      staged.groupBy(col("__g"), col("__v")).agg(count(lit(1)).as("__c")),
      Seq(coalesce(sum(col("__c")), lit(0L)).as("N")))
    val n = obsN("N").asInstanceOf[Long]
    val runs = gruns.groupBy(col("__v")).agg(sum(col("__c")).as("__c"))
    val cum = Relational.globalPrefixSum(runs, Seq(col("__v").asc),
      "__c", "__cum")
    val med = cum
      .filter(col("__cum") >= lit((n + 1) / 2))
      .agg(min(col("__v")).as("__med"))
    // group-grain and checkpointed: read twice (above total + final);
    // the above total is observe-fused the same way
    val (groups, obsA) = CheckpointHygiene.materialize(
      gruns.crossJoin(broadcast(med))
        .groupBy(col("__g"))
        .agg(coalesce(sum(col("__c")), lit(0L)).as("__nj"),
          coalesce(sum(when(col("__v") > col("__med"), col("__c"))
            .otherwise(0L)), lit(0L)).as("__aj"),
          min(col("__med")).as("__med")),
      Seq(coalesce(sum(col("__aj")), lit(0L)).as("A")))
    val a = obsA("A").asInstanceOf[Long]
    groups
      .select(col("__g").as("g"), col("__nj").as("n_j"),
        col("__aj").as("above_j"),
        expr(s"""CASE WHEN $a > 0 AND $n - $a > 0 THEN
          |  CAST((1000000 * CAST(__aj * $n - $a * __nj
          |      AS DECIMAL(38,0)) * (__aj * $n - $a * __nj))
          |    div (CAST(__nj AS DECIMAL(38,0)) * $a * ($n - $a))
          |    AS BIGINT) END""".stripMargin).as("term_micro"),
        lit(n).as("n"), lit(a).as("above_total"),
        col("__med").as("median_milli"))
  }

  /** Per-key Wald–Wolfowitz runs test — "is this ordered sequence
    * RANDOM, or does it clump" (the shuffle-quality gate a training
    * pipeline runs on shard orderings, interleave outputs, and
    * residual signs — [[mannKendall]] asks about monotone DRIFT;
    * runs asks about SERIAL clustering, which MK cannot see): per
    * key, values milli-quantize, dichotomize against the key's own
    * lower median (rows AT the median drop — the classic treatment),
    * and in (order, tiebreak) order the lanes are
    *   n1, n2  — above/below counts,  r — the number of runs,
    *   e_r_micro   = ⌊10⁶·(n + 2n₁n₂) / n⌋        (= 10⁶·E[R])
    *   var_micro   = ⌊10⁶·2n₁n₂(2n₁n₂−n) / (n²(n−1))⌋  (NULL n<2)
    * — both exact single floors over DECIMAL(38,0) (n ≤ 10⁹ safe).
    * Too-few-runs (r ≪ E[R]) means clumping/sorting; too-many means
    * oscillation.
    *
    * Shape: one run-grain median spine per key (keyed windows over
    * value runs), one lag window, one key-grain aggregate — key-sized
    * partitions, never global. */
  def runsTest(df: DataFrame, keyCol: String, orderCol: Column,
      tieCol: Column, valueCol: String): DataFrame = {
    // r15 advice: null (or non-castable) order/tie values must DROP,
    // not sort nulls-first into the run sequence — the r14 null-filter
    // discipline, applied to all staged columns.
    val staged = df
      .filter(col(keyCol).isNotNull &&
        col(valueCol).try_cast("double").isNotNull &&
        orderCol.try_cast("long").isNotNull &&
        tieCol.try_cast("long").isNotNull)
      .select(col(keyCol).as("key"), orderCol.cast("long").as("__o"),
        tieCol.cast("long").as("__t"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    val wKey = Window.partitionBy(col("key"))
    val wRank = wKey.orderBy(col("__v"), col("__o"), col("__t"))
    // lower median by rank over the key's own series
    val med = staged
      .withColumn("__rn", row_number().over(wRank).cast("long"))
      .withColumn("__n0", count(lit(1)).over(wKey))
      .filter(col("__rn") === expr("(__n0 + 1) div 2"))
      .select(col("key"), col("__v").as("__med"))
    val signs = staged.join(med, Seq("key"))
      .filter(col("__v") =!= col("__med"))
      .select(col("key"), col("__o"), col("__t"),
        (col("__v") > col("__med")).as("__s"))
    runsCensusTail(signs)
  }

  /** [[runsTest]] against a FIXED reference value instead of each
    * key's own median — the SPC form ("runs about the target"): rows
    * AT the threshold drop exactly like at-median rows, and the lanes
    * are identical. This is the variant with an exact O(1)-state
    * streaming twin ([[graft.streaming.StreamOps.runsTestStream]]) —
    * the median form can't stream exactly because every arrival
    * re-ranks history. */
  def runsTestAt(df: DataFrame, keyCol: String, orderCol: Column,
      tieCol: Column, valueCol: String, thresholdMilli: Long): DataFrame = {
    val signs = df
      .filter(col(keyCol).isNotNull &&
        col(valueCol).try_cast("double").isNotNull &&
        orderCol.try_cast("long").isNotNull &&
        tieCol.try_cast("long").isNotNull)
      .select(col(keyCol).as("key"), orderCol.cast("long").as("__o"),
        tieCol.cast("long").as("__t"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
      .filter(col("__v") =!= thresholdMilli)
      .select(col("key"), col("__o"), col("__t"),
        (col("__v") > thresholdMilli).as("__s"))
    runsCensusTail(signs)
  }

  /** Shared census tail of the runs-test family: (key, __o, __t,
    * __s) sign rows → run/above/below counts and the exact E[R] /
    * Var(R) micro lanes. One keyed lag window + one key-grain
    * aggregate. */
  private def runsCensusTail(signs: DataFrame): DataFrame = {
    val wTime = Window.partitionBy(col("key"))
      .orderBy(col("__o"), col("__t"))
    signs
      .withColumn("__chg",
        when(lag(col("__s"), 1).over(wTime).isNull ||
          lag(col("__s"), 1).over(wTime) =!= col("__s"), 1L)
          .otherwise(0L))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("__s"), 1L).otherwise(0L)), lit(0L))
          .as("n1"),
        coalesce(sum(when(!col("__s"), 1L).otherwise(0L)), lit(0L))
          .as("n2"),
        coalesce(sum(col("__chg")), lit(0L)).as("r"))
      .select(col("key"), col("n"), col("n1"), col("n2"), col("r"),
        expr("""CASE WHEN n > 0 THEN
          |  CAST((1000000 * (CAST(n AS DECIMAL(38,0))
          |    + 2 * CAST(n1 AS DECIMAL(38,0)) * n2)) div n AS BIGINT)
          |END""".stripMargin).as("e_r_micro"),
        expr("""CASE WHEN n >= 2 THEN
          |  CAST((1000000 * (2 * CAST(n1 AS DECIMAL(38,0)) * n2)
          |    * (2 * CAST(n1 AS DECIMAL(38,0)) * n2 - n))
          |  div (CAST(n AS DECIMAL(38,0)) * n * (n - 1)) AS BIGINT)
          |END""".stripMargin).as("var_micro"))
  }

  /** Per-key Durbin–Watson statistic — lag-1 serial correlation of an
    * ordered series ("are these residuals/metrics independent, or
    * does each value drag the next"): with milli-quantized values in
    * (order, tiebreak) order,
    *   dw_micro = ⌊10⁶·Σ(vₜ−vₜ₋₁)² / Σvₜ²⌋   (NULL when Σv² = 0)
    * — numerator and denominator both exact BIGINT sums of milli²
    * terms in DECIMAL(38,0) (exact to ~10¹⁹ milli² mass per key),
    * one floor at the end. DW ≈ 2·10⁶ means independence; → 0 means
    * positive autocorrelation; → 4·10⁶ negative. The caller centers
    * values (residuals) if the textbook statistic is wanted —
    * documented, matching the engine's no-hidden-arithmetic posture.
    *
    * Shape: one keyed lag window + one key-grain aggregate. */
  def durbinWatson(df: DataFrame, keyCol: String, orderCol: Column,
      tieCol: Column, valueCol: String): DataFrame = {
    val staged = df
      .filter(col(keyCol).isNotNull &&
        col(valueCol).try_cast("double").isNotNull &&
        orderCol.try_cast("long").isNotNull &&
        tieCol.try_cast("long").isNotNull)
      .select(col(keyCol).as("key"), orderCol.cast("long").as("__o"),
        tieCol.cast("long").as("__t"),
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v"))
    val wTime = Window.partitionBy(col("key"))
      .orderBy(col("__o"), col("__t"))
    staged
      .withColumn("__d", col("__v") - lag(col("__v"), 1).over(wTime))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(expr("CAST(__d AS DECIMAL(38,0)) * __d")),
          lit(0).cast("decimal(38,0)")).as("__num"),
        coalesce(sum(expr("CAST(__v AS DECIMAL(38,0)) * __v")),
          lit(0).cast("decimal(38,0)")).as("__den"))
      .select(col("key"), col("n"),
        col("__num").cast("long").as("num_milli2"),
        col("__den").cast("long").as("den_milli2"),
        expr("""CASE WHEN __den > 0 THEN
          |  CAST((1000000 * __num) div __den AS BIGINT)
          |END""".stripMargin).as("dw_micro"))
  }

  /** Per-key Mann–Kendall trend test — "is this series monotonically
    * drifting" for every key at once (the significance companion of
    * [[theilSenSlopes]], which estimates the slope MK tests): with
    * observations in time order (ties in `orderCol` broken by
    * `tieCol` — a deterministic TOTAL order, documented),
    *   S = Σ_{i<j} sgn(xⱼ − xᵢ)
    * computed exactly as S = n(n−1)/2 − T − 2·D where D counts
    * strict value inversions in time order (Knight's merge-sort, the
    * [[kendallTau]] machinery — never all-pairs) and T the tied-value
    * pairs; the tie-corrected null variance rides the integer lane
    *   var18 = n(n−1)(2n+5) − Σᵥ tᵥ(tᵥ−1)(2tᵥ+5)   (= 18·Var(S))
    * and the two-sided α = 0.05 normal verdict is the exact integer
    * comparison 180000·(|S|−1)² > 38416·var18 (z² = 1.96², BigInt —
    * no overflow at any key size): trend ∈ inc/dec/none. Values
    * compare RAW (sign tests only — no arithmetic, so doubles are
    * engine-exact). Key-grain state, the [[kendallTau]] posture. */
  def mannKendall(df: DataFrame, keyCol: String, orderCol: Column,
      tieCol: Column, valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // full null-filter discipline (r14 advice): a null key / order /
    // tie / value — or a non-castable one, which the cast turns into
    // null — would hit the non-nullable encoder and fail the job at
    // runtime; filter on the CAST result for ALL FOUR columns so
    // both cases drop (r15 advice: the value lane needs the cast
    // filter too — a non-castable string value is exactly the same
    // failure class), matching the pettittTest/kendallTau posture.
    df.filter(col(valueCol).try_cast("double").isNotNull &&
        col(keyCol).try_cast("long").isNotNull &&
        orderCol.try_cast("long").isNotNull &&
        tieCol.try_cast("long").isNotNull)
      .select(col(keyCol).cast("long"), orderCol.cast("long"),
        tieCol.cast("long"), col(valueCol).cast("double"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (key, it) =>
        val rows = it.map(t => (t._2, t._3, t._4)).toArray
        java.util.Arrays.sort(rows, Ordering.Tuple3[Long, Long, Double]
          .on((t: (Long, Long, Double)) => t))
        val n = rows.length.toLong
        val n0 = n * (n - 1) / 2
        val tieCensus = rows.groupBy(_._3).valuesIterator
          .map(_.length.toLong).toArray
        val tPairs = tieCensus.iterator.map(t => t * (t - 1) / 2).sum
        val var18 = n * (n - 1) * (2 * n + 5) -
          tieCensus.iterator.map(t => t * (t - 1) * (2 * t + 5)).sum
        // strict inversions of the value sequence in time order
        val ys = rows.map(_._3)
        val buf = new Array[Double](ys.length)
        var inv = 0L
        def merge(lo: Int, mid: Int, hi: Int): Unit = {
          var i = lo; var j = mid; var o = lo
          while (i < mid && j < hi) {
            if (ys(j) < ys(i)) { inv += mid - i; buf(o) = ys(j); j += 1 }
            else { buf(o) = ys(i); i += 1 }
            o += 1
          }
          while (i < mid) { buf(o) = ys(i); i += 1; o += 1 }
          while (j < hi) { buf(o) = ys(j); j += 1; o += 1 }
          System.arraycopy(buf, lo, ys, lo, hi - lo)
        }
        def msort(lo: Int, hi: Int): Unit = if (hi - lo > 1) {
          val mid = lo + (hi - lo) / 2
          msort(lo, mid); msort(mid, hi); merge(lo, mid, hi)
        }
        msort(0, ys.length)
        val s = n0 - tPairs - 2 * inv
        val sig = s != 0L && var18 > 0L &&
          BigInt(math.abs(s) - 1).pow(2) * 180000 >
            BigInt(38416) * var18
        val trend = if (!sig) "none" else if (s > 0) "inc" else "dec"
        MannKendallRow(key, n, s, var18, trend)
      }
      .toDF()
  }

  /** Preference transitivity audit — the data-quality gate BEFORE
    * [[bradleyTerry]] fits anything: BT (and every Elo-style
    * leaderboard) assumes a latent total order, but real pairwise
    * comparison data contains rock-paper-scissors cycles (rater
    * disagreement, prompt-dependent strength), and fitting through
    * them silently launders intransitivity into noise. Census:
    *   n_pairs   — unordered pairs with ≥ 1 comparison
    *   n_edges   — pairs with a strict majority direction (ties
    *               carry no direction and drop — documented)
    *   n_triads  — triples with all three majority edges present
    *   n_cycles  — triads whose directions rotate (a→b→c→a)
    *   cycle_micro = ⌊10⁶·n_cycles / n_triads⌋ (NULL when no triads)
    * All exact integers. Shape: one (winner, loser)-grain census
    * (the only row-scale exchange), then triangle enumeration on
    * the EDGE table — joins at pair grain, counted once per triangle
    * via the a<b<c spine for triads and the rotation-class minimum
    * for cycles; never touches row-grain data again. */
  def preferenceCycles(df: DataFrame, winnerCol: String,
      loserCol: String): DataFrame = {
    val pairs = df
      .filter(col(winnerCol).isNotNull && col(loserCol).isNotNull &&
        col(winnerCol) =!= col(loserCol))
      .select(col(winnerCol).cast("long").as("__w"),
        col(loserCol).cast("long").as("__l"))
      .groupBy(least(col("__w"), col("__l")).as("lo"),
        greatest(col("__w"), col("__l")).as("hi"))
      .agg(sum(when(col("__w") < col("__l"), 1L).otherwise(0L))
        .as("__wins_lo"),
        sum(when(col("__w") > col("__l"), 1L).otherwise(0L))
          .as("__wins_hi"))
    val edges = pairs
      .filter(col("__wins_lo") =!= col("__wins_hi"))
      .select(when(col("__wins_lo") > col("__wins_hi"), col("lo"))
        .otherwise(col("hi")).as("u"),
        when(col("__wins_lo") > col("__wins_hi"), col("hi"))
          .otherwise(col("lo")).as("v"))
    // undirected triangle spine: a<b<c with all three edges present
    val und = edges.select(least(col("u"), col("v")).as("a"),
      greatest(col("u"), col("v")).as("b"))
    val triads = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"), col("e3.a") === col("e1.a") &&
        col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"),
        col("e2.b").as("z"))
    // a triangle is cyclic iff no vertex beats both others: with
    // directions d(xy), d(yz), d(xz) over the a<b<c spine, the two
    // rotations are exactly (x→y, y→z, z→x) and (y→x, z→y, x→z)
    val dir = edges.select(col("u"), col("v"))
    val marked = triads
      .join(dir.select(col("u").as("x"), col("v").as("y"),
        lit(1L).as("__dxy")), Seq("x", "y"), "left")
      .join(dir.select(col("u").as("y"), col("v").as("z"),
        lit(1L).as("__dyz")), Seq("y", "z"), "left")
      .join(dir.select(col("u").as("x"), col("v").as("z"),
        lit(1L).as("__dxz")), Seq("x", "z"), "left")
      .withColumn("__cyc",
        // forward rotation: x→y, y→z, z→x (i.e. NOT x→z);
        // backward: y→x, z→y, x→z
        when(col("__dxy").isNotNull && col("__dyz").isNotNull &&
          col("__dxz").isNull, 1L)
          .when(col("__dxy").isNull && col("__dyz").isNull &&
            col("__dxz").isNotNull, 1L)
          .otherwise(0L))
    val tri = marked.agg(count(lit(1)).as("n_triads"),
      coalesce(sum(col("__cyc")), lit(0L)).as("n_cycles"))
    pairs.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(edges.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(tri))
      .withColumn("cycle_micro", when(col("n_triads") > 0, expr(
        "CAST((1000000 * n_cycles) div n_triads AS BIGINT)")))
  }

  /** Bradley–Terry preference-strength fitting, EXACT bounded-round
    * MM — the model behind every pairwise-preference leaderboard
    * (RLHF comparison data, arena-style model rankings, judge
    * calibration): given (winner, loser) rows, fit strengths p with
    * the minorize–maximize update (Hunter 2004)
    *   p_i ← W_i / Σ_j n_ij/(p_i + p_j)
    * walked in integer MILLI lanes with two-level floors so the
    * whole trajectory replays engine-to-engine:
    *   denom_i = Σ_j ⌊10⁹·n_ij / (p_i + p_j)⌋   (p in milli)
    *   p_i'    = max(1, ⌊10⁹·W_i / denom_i⌋)    (floor at 1 milli —
    * the all-loss item would otherwise pin to 0 and break later
    * denominators), then normalized to Σp = 1000·k exactly:
    *   p_i'' = max(1, ⌊1000·k·p_i' / Σp'⌋).
    * Rounds are BOUNDED (default 4): each is one join of the pair
    * census against the current ratings (item-keyed shuffle, the
    * PageRank posture) — the census itself is computed once. Items
    * and pairs stay distributed; nothing collects. */
  def bradleyTerry(df: DataFrame, winnerCol: String, loserCol: String,
      rounds: Int = 4): DataFrame = {
    require(rounds >= 1 && rounds <= 16,
      s"rounds must be in [1,16], got $rounds")
    val games = df
      .filter(col(winnerCol).isNotNull && col(loserCol).isNotNull &&
        col(winnerCol) =!= col(loserCol))
      .select(col(winnerCol).cast("long").as("__w"),
        col(loserCol).cast("long").as("__l"))
    // undirected pair census with per-direction wins
    val pairs = games
      .select(least(col("__w"), col("__l")).as("__a"),
        greatest(col("__w"), col("__l")).as("__b"),
        when(col("__w") < col("__l"), 1L).otherwise(0L).as("__aw"))
      .groupBy(col("__a"), col("__b"))
      .agg(count(lit(1)).as("__n"), sum(col("__aw")).as("__awins"))
      .persist()
    val wins = games.groupBy(col("__w").as("item"))
      .agg(count(lit(1)).as("w"))
    val items = games.select(col("__w").as("item"))
      .union(games.select(col("__l").as("item"))).distinct()
      .join(wins, Seq("item"), "left")
      .na.fill(0L, Seq("w"))
    val matches = pairs.select(col("__a").as("item"), col("__n"))
      .union(pairs.select(col("__b").as("item"), col("__n")))
      .groupBy(col("item")).agg(sum(col("__n")).as("n"))
    // the per-round materialization is REQUIRED, not hygiene: each
    // round's plan references `terms` twice (the union) and `updated`
    // twice (direct + the broadcast total), so an uncut lineage grows
    // ~4x per round — Catalyst planning alone goes exponential
    // (measured: a 6-row fixture hung for minutes at rounds = 4). The
    // ratings roll through a [[CheckpointHygiene.Rolling]] state, and
    // the item count k is observed in the first materialization.
    val state = new CheckpointHygiene.Rolling()
    val (base, baseObs) = state.advance(items.join(matches, Seq("item"))
      .withColumn("p", lit(1000L)), Seq(count(lit(1)).as("k")))
    val k = baseObs("k").asInstanceOf[Long]
    var cur = base
    for (_ <- 1 to rounds) {
      val pa = cur.select(col("item").as("__a"), col("p").as("__pa"))
      val pb = cur.select(col("item").as("__b"), col("p").as("__pb"))
      val terms = pairs.join(pa, Seq("__a")).join(pb, Seq("__b"))
        .withColumn("__t", expr(
          "(CAST(1000000000 AS DECIMAL(38,0)) * __n) div (__pa + __pb)"))
      val denom = terms.select(col("__a").as("item"), col("__t"))
        .union(terms.select(col("__b").as("item"), col("__t")))
        .groupBy(col("item"))
        .agg(sum(col("__t")).cast("decimal(38,0)").as("__d"))
      // the normalizer total is FUSED into the round's checkpoint via
      // observe ([[CheckpointHygiene.Rolling]]): the old
      // crossJoin(broadcast(tot)) ran `updated`'s subtree twice (once
      // for the broadcast job, once in the checkpointed plan) and paid
      // a broadcast exchange per round; the observed sum rebases as an
      // inlined literal over the one materialization. Same DECIMAL(38,0)
      // lane: sum(__p1) observed as DECIMAL cannot wrap, and the
      // rebase SQL is unchanged but for the literal.
      val (updated, obs) = state.advance(cur.drop("p").join(denom, Seq("item"))
        .withColumn("__p1", greatest(lit(1L), expr(
          """CAST((CAST(1000000000 AS DECIMAL(38,0)) * w)
            |  div __d AS BIGINT)""".stripMargin)))
        .drop("__d"),
        Seq(sum(col("__p1").cast("decimal(38,0)")).as("t")))
      val totSql = Option(obs("t"))
        .map(v => s"CAST('$v' AS DECIMAL(38,0))")
        .getOrElse("CAST(NULL AS DECIMAL(38,0))")
      cur = updated
        .withColumn("p", greatest(lit(1L), expr(
          s"""CAST((CAST(1000 AS DECIMAL(38,0)) * ${k} * __p1)
             |  div $totSql AS BIGINT)""".stripMargin)))
        .drop("__p1")
    }
    pairs.unpersist()
    cur.select(col("item"), col("w"), col("n"), col("p").as("p_milli"))
  }

  /** Variance-to-mean ratio (index of dispersion), EXACT — the
    * burstiness census behind token-dispersion and user-activity
    * audits (VMR 1 = Poisson-like, ≫1 = bursty/clumped, <1 =
    * regular). Per key over count-valued rows:
    *   vmr_micro = ⌊10⁶·(n·Σv² − (Σv)²) / (n·Σv)⌋
    * (population variance over mean, common denominator n·Σv —
    * division happens ONCE, at the end). Squares ride DECIMAL(38,0)
    * (the driftChi2 envelope); one aggregate per key, no window, no
    * second pass. Σv = 0 or n = 0 → null. */
  def dispersionIndex(df: DataFrame, keyCol: String,
      valueCol: String): DataFrame = {
    df.filter(col(valueCol).isNotNull)
      .select(col(keyCol), col(valueCol).cast("long").as("__v"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("sum_v"),
        sum(col("__v").cast("decimal(38,0)") * col("__v")).as("__s2"))
      .withColumn("vmr_micro", when(col("sum_v") > 0, expr(
        """CAST((1000000 * (n * __s2 - CAST(sum_v AS DECIMAL(38,0)) * sum_v))
          |  div (CAST(n AS DECIMAL(38,0)) * sum_v) AS BIGINT)"""
          .stripMargin)))
      .select(col(keyCol), col("n"), col("sum_v"),
        col("__s2").cast("long").as("sum_v2"), col("vmr_micro"))
  }

  /** Qini / uplift gains curve, EXACT — the treatment-effect sibling
    * of [[decileLift]] (uplift models rank by PREDICTED INCREMENTAL
    * response; the Qini curve is how they are actually evaluated):
    * rank all units by score descending, cut into equal-count
    * buckets, and report per bucket the CUMULATIVE treated/control
    * counts and responders plus
    *   uplift_micro = ⌊10⁶·(r₁n₀ − r₀n₁) / (n₁n₀)⌋
    *   qini_micro   = ⌊10⁶·(r₁n₀ − r₀n₁) / n₀⌋   (Radcliffe's q(k))
    * both exact DECIMAL rationals. Global rank rides
    * [[Relational.globalRowNumber]]; cumulative sums come from the
    * decileLift parameter-sized triangular join. Empty arms yield
    * null lanes, never division noise. */
  def qiniCurve(df: DataFrame, idCol: String, treatCol: String,
      yCol: String, scoreMilliCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2,1000], got $buckets")
    val staged = df
      .filter(col(yCol).isNotNull && col(scoreMilliCol).isNotNull &&
        col(treatCol).isNotNull)
      .select(col(idCol).as("__id"),
        col(treatCol).cast("boolean").cast("long").as("__w"),
        col(yCol).cast("boolean").cast("long").as("__y"),
        col(scoreMilliCol).cast("long").as("__s"))
    val ranked = Relational.globalRowNumber(staged,
      Seq(col("__s").desc, col("__id").asc), "__r")
    val per = ranked
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("__n"))))
      .withColumn("bucket", expr(s"((__r - 1) * $buckets) div __n"))
      .groupBy(col("bucket"))
      .agg(sum(col("__w")).as("__n1"),
        sum(lit(1L) - col("__w")).as("__n0"),
        sum(col("__w") * col("__y")).as("__r1"),
        sum((lit(1L) - col("__w")) * col("__y")).as("__r0"))
    val cum = per.select(col("bucket").as("__b2"), col("__n1").as("__cn1"),
      col("__n0").as("__cn0"), col("__r1").as("__cr1"),
      col("__r0").as("__cr0"))
    per.join(cum, col("__b2") <= col("bucket"))
      .groupBy(col("bucket"))
      .agg(sum(col("__cn1")).as("cum_n1"), sum(col("__cn0")).as("cum_n0"),
        sum(col("__cr1")).as("cum_r1"), sum(col("__cr0")).as("cum_r0"))
      .withColumn("uplift_micro",
        when(col("cum_n1") > 0 && col("cum_n0") > 0, expr(
          """CASE WHEN cum_r1 * CAST(cum_n0 AS DECIMAL(38,0))
            |    - cum_r0 * CAST(cum_n1 AS DECIMAL(38,0)) >= 0
            |  THEN CAST((1000000 * (cum_r1 * CAST(cum_n0 AS DECIMAL(38,0))
            |    - cum_r0 * CAST(cum_n1 AS DECIMAL(38,0))))
            |    div (CAST(cum_n1 AS DECIMAL(38,0)) * cum_n0) AS BIGINT)
            |  ELSE -CAST((1000000 * -(cum_r1 * CAST(cum_n0 AS DECIMAL(38,0))
            |    - cum_r0 * CAST(cum_n1 AS DECIMAL(38,0))))
            |    div (CAST(cum_n1 AS DECIMAL(38,0)) * cum_n0) AS BIGINT)
            |  END""".stripMargin)))
      .withColumn("qini_micro",
        when(col("cum_n0") > 0, expr(
          """CASE WHEN cum_r1 * CAST(cum_n0 AS DECIMAL(38,0))
            |    - cum_r0 * CAST(cum_n1 AS DECIMAL(38,0)) >= 0
            |  THEN CAST((1000000 * (cum_r1 * CAST(cum_n0 AS DECIMAL(38,0))
            |    - cum_r0 * CAST(cum_n1 AS DECIMAL(38,0))))
            |    div CAST(cum_n0 AS DECIMAL(38,0)) AS BIGINT)
            |  ELSE -CAST((1000000 * -(cum_r1 * CAST(cum_n0 AS DECIMAL(38,0))
            |    - cum_r0 * CAST(cum_n1 AS DECIMAL(38,0))))
            |    div CAST(cum_n0 AS DECIMAL(38,0)) AS BIGINT)
            |  END""".stripMargin)))
      .orderBy(col("bucket"))
  }

  /** Two-sided CUSUM drift detection, EXACT — the SEQUENTIAL member
    * of the drift family (driftChi2/EMD/KS compare whole snapshots;
    * CUSUM raises the alarm AT THE ROW where a small persistent
    * shift accumulates — pipeline quality regressions, feed
    * corruption, model-score drift). Per key, in event order:
    *   g⁺ₜ = max(0, g⁺ₜ₋₁ + (vₜ − target − slack))
    *   g⁻ₜ = max(0, g⁻ₜ₋₁ − (vₜ − target) − slack)
    * alarm when either exceeds `h`, then BOTH reset (the standard
    * restart form — repeated drifts re-alarm). All lanes integer
    * milli (v milli-quantized, the ewmaMilli staging), so the whole
    * trajectory replays engine-to-engine.
    *
    * Sequential per key by definition → the [[Relational.ewmaMilli]]
    * shape: one key shuffle, sorted partitions, O(1) streaming
    * state; keys parallelize. Null values do not advance the state.
    * Output: input columns + (g_pos, g_neg, alarm). */
  def cusum(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String, targetMilli: Long, slackMilli: Long,
      hMilli: Long): DataFrame = {
    require(slackMilli >= 0, s"slack must be >= 0, got $slackMilli")
    require(hMilli > 0, s"h must be positive, got $hMilli")
    require(orderCols.nonEmpty, "orderCols must define a total order")
    // collision-proof staging name: if the input already carries a
    // column with the candidate name, withColumn would REPLACE it in
    // place (not append), and the positional dropRight below would
    // silently discard the caller's real last column (r12 advice)
    val mv = Iterator.from(0).map(i => s"__mv$i")
      .find(n => !df.columns.contains(n)).get
    val staged = df.withColumn(mv,
      floor(col(valueCol) * lit(1000)).cast("long"))
    val ki = staged.columns.indexOf(keyCol)
    val vi = staged.columns.indexOf(mv)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
    df.sparkSession.createDataFrame(
      staged.repartition(col(keyCol))
        .sortWithinPartitions((col(keyCol) +: orderCols.map(col)): _*)
        .rdd.mapPartitions { rows =>
          var curKey: Any = null
          var first = true
          var gp = 0L
          var gn = 0L
          rows.map { r =>
            val k = r.get(ki)
            if (first || k != curKey) {
              curKey = k; first = false; gp = 0L; gn = 0L
            }
            val extra: Seq[Any] =
              if (r.isNullAt(vi)) Seq(null, null, null)
              else {
                val v = r.getLong(vi)
                gp = math.max(0L, gp + (v - targetMilli - slackMilli))
                gn = math.max(0L, gn - (v - targetMilli) - slackMilli)
                val alarm = gp > hMilli || gn > hMilli
                val out = Seq(gp, gn, alarm)
                if (alarm) { gp = 0L; gn = 0L }
                out
              }
            Row.fromSeq(r.toSeq.dropRight(1) ++ extra)
          }
        },
      StructType(staged.schema.fields.dropRight(1) ++ Seq(
        StructField("g_pos", LongType), StructField("g_neg", LongType),
        StructField("alarm", BooleanType))))
  }

  /** Fellegi–Sunter record-linkage scoring, EXACT — the probabilistic
    * match weight behind every serious entity-resolution system
    * (Fellegi & Sunter 1969): per candidate pair, each field
    * contributes m/u on agreement and (1−m)/(1−u) on disagreement;
    * the product is the likelihood ratio the match/possible/nonmatch
    * decision thresholds cut. Parameters arrive in MILLI
    * (m, u ∈ (0, 1000) per field) and the ratio is an exact rational:
    *   num = Π (agreeᵢ ? mᵢ : 1000−mᵢ),  den = Π (agreeᵢ ? uᵢ : 1000−uᵢ)
    * with ratio_micro = ⌊10⁶·num/den⌋ — no logs, no floats, so the
    * score replays engine-to-engine (the log-weight ordering is the
    * ratio ordering; thresholds are given in micro directly).
    * ≤ 10 fields keeps 10⁶·Π < 10³⁸ inside the DECIMAL(38,0)
    * product lanes, and the PARAMETER-worst-case ratio (all fields
    * at their most informative) is required to fit BIGINT at plan
    * build — a pathological m/u set fails LOUDLY with the computed
    * bound, never wraps at runtime.
    *
    * Row-local column arithmetic over the candidate-pair table —
    * pair GENERATION stays with the blocked/banded family (q253);
    * this operator never multiplies the pair count. */
  def fellegiSunter(pairs: DataFrame, agreeCols: Seq[String],
      mMilli: Seq[Long], uMilli: Seq[Long],
      upperMicro: Long, lowerMicro: Long): DataFrame = {
    require(agreeCols.nonEmpty && agreeCols.size <= 10,
      s"1..10 agreement fields, got ${agreeCols.size}")
    require(mMilli.size == agreeCols.size && uMilli.size == agreeCols.size,
      "m/u must align with agreeCols")
    require((mMilli ++ uMilli).forall(v => v > 0 && v < 1000),
      "m/u must be in (0, 1000) milli")
    require(upperMicro > lowerMicro, "upper must exceed lower")
    val worstNum = mMilli.map(m => BigInt(math.max(m, 1000L - m))).product
    val worstDen = uMilli.map(u => BigInt(math.min(u, 1000L - u))).product
    val worstMicro = BigInt(1000000) * worstNum / worstDen
    require(worstMicro <= Long.MaxValue,
      s"worst-case ratio_micro $worstMicro exceeds BIGINT; " +
        "rescale m/u or reduce fields")
    val num = agreeCols.zip(mMilli).map { case (c, m) =>
      when(col(c), lit(m)).otherwise(lit(1000L - m)).cast("decimal(38,0)")
    }.reduce(_ * _)
    val den = agreeCols.zip(uMilli).map { case (c, u) =>
      when(col(c), lit(u)).otherwise(lit(1000L - u)).cast("decimal(38,0)")
    }.reduce(_ * _)
    pairs
      .withColumn("fs_num", num.cast("decimal(38,0)"))
      .withColumn("fs_den", den.cast("decimal(38,0)"))
      .withColumn("ratio_micro", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * fs_num) div fs_den AS BIGINT)"))
      .withColumn("verdict",
        when(col("ratio_micro") >= upperMicro, lit("match"))
          .when(col("ratio_micro") <= lowerMicro, lit("nonmatch"))
          .otherwise(lit("possible")))
      .drop("fs_num", "fs_den")
  }

  /** Benjamini–Hochberg FDR control, EXACT — the multiple-testing
    * gate an eval suite needs the moment it compares many model
    * variants / slices at once (m tests at per-test α inflate false
    * positives; BH bounds the FALSE DISCOVERY RATE at q): sort
    * p-values ascending, find the largest rank k with
    *   p_(k) ≤ k·q/m   ⟺   m·p_micro ≤ k·q_micro   (pure integers),
    * reject exactly ranks 1..k. Ranking rides
    * [[Relational.globalRowNumber]] (ties broken by id — total
    * order), k comes from one aggregate over the cross-multiplied
    * flag, and the verdict joins back as a broadcast scalar. The
    * m·p product rides DECIMAL (m·10⁶ wraps BIGINT near m ≈ 10¹³).
    * Output: (id, p_micro, rank, rejected). */
  def bhFdr(df: DataFrame, idCol: String, pMicroCol: String,
      qMicro: Long): DataFrame = {
    require(qMicro > 0 && qMicro < 1000000,
      s"qMicro must be in (0, 1e6), got $qMicro")
    val staged = df
      .filter(col(pMicroCol).isNotNull && col(idCol).isNotNull)
      .select(col(idCol).as("id"), col(pMicroCol).cast("long").as("p_micro"))
    val ranked = Relational.globalRowNumber(staged,
      Seq(col("p_micro").asc, col("id").asc), "rank")
    val withM = ranked.crossJoin(broadcast(
      staged.agg(count(lit(1)).as("__m"))))
    val kstar = withM
      .filter(expr(s"CAST(__m AS DECIMAL(38,0)) * p_micro <= CAST(rank AS DECIMAL(38,0)) * $qMicro"))
      .agg(coalesce(max(col("rank")), lit(0L)).as("__k"))
    withM.crossJoin(broadcast(kstar))
      .select(col("id"), col("p_micro"), col("rank"),
        (col("rank") <= col("__k")).as("rejected"))
  }

  /** Wilson score interval for a binomial rate, per key — the
    * confidence bound a dashboard should show instead of ±1.96·SE
    * (the normal interval collapses at p→0/1 and small n; Wilson
    * stays inside [0,1] and is the standard for CTR/defect-rate
    * reporting). One aggregate per key; the interval itself is the
    * one float lane, computed in a PINNED operation order so both
    * engines produce identical bits (IEEE +,·,/,√ are correctly
    * rounded; only the order is a convention, and the oracle mirrors
    * it exactly):
    *   denom  = n + z²
    *   center = (s + z²/2) / denom
    *   margin = z·√(s·(n−s)/n + z²/4) / denom
    * with s·(n−s) exact in BIGINT then one double division (exact to
    * 2⁵³ — n beyond 3·10⁹ per key should pre-aggregate). n = 0 →
    * null bounds. */
  def wilsonInterval(df: DataFrame, keyCol: String, successCol: String,
      z: Double = 1.96): DataFrame = {
    require(z > 0, s"z must be positive, got $z")
    val agg = df
      .filter(col(successCol).isNotNull)
      .select(col(keyCol),
        col(successCol).cast("boolean").cast("long").as("__s"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("__s")).as("s"))
    val zz = z * z
    val denom = col("n").cast("double") + lit(zz)
    val center = (col("s").cast("double") + lit(zz / 2)) / denom
    val margin = (lit(z) * sqrt(
      (col("s") * (col("n") - col("s"))).cast("double") /
        col("n").cast("double") + lit(zz / 4))) / denom
    agg.select(col(keyCol), col("n"), col("s"),
      when(col("n") > 0, center - margin).as("wilson_low"),
      when(col("n") > 0, center + margin).as("wilson_high"))
  }

  /** Split conformal prediction threshold, EXACT — the
    * distribution-free coverage guarantee eval pipelines reach for
    * (Vovk; Angelopoulos & Bates 2023 tutorial form): given a
    * CALIBRATION set of nonconformity scores, the level-α threshold
    * is the k-th smallest score with
    *   k = ⌈(n+1)(1−α)⌉   (integer: ((n+1)·(1000−α_milli) + 999) div 1000),
    * and any test score ≤ threshold is covered with probability
    * ≥ 1−α. k > n (tiny calibration sets) → null threshold, nothing
    * covered — surfaced, not clamped.
    *
    * The k-th smallest comes from the value census + one
    * [[Relational.globalPrefixSum]] pass (first value whose
    * cumulative count reaches k) — value-grain, never a row-grain
    * global sort. Test rows then compare against the broadcast
    * scalar. Output: test rows + (threshold_milli, covered). */
  def splitConformal(calib: DataFrame, test: DataFrame,
      scoreCol: String, alphaMilli: Long): DataFrame = {
    require(alphaMilli > 0 && alphaMilli < 1000,
      s"alphaMilli must be in (0, 1000), got $alphaMilli")
    val cs = calib.filter(col(scoreCol).isNotNull)
      .select(floor(col(scoreCol) * 1000).cast("long").as("__v"))
    val runs = cs.groupBy(col("__v")).agg(count(lit(1)).as("__run"))
    val cum = Relational.globalPrefixSum(runs, Seq(col("__v").asc),
      "__run", "__cum")
    val thr = cum
      .crossJoin(broadcast(cs.agg(count(lit(1)).as("__n"))))
      .withColumn("__k", expr(
        s"((__n + 1) * (1000 - $alphaMilli) + 999) div 1000"))
      .filter(col("__cum") >= col("__k") && col("__k") <= col("__n"))
      .agg(min(col("__v")).as("threshold_milli"))
    test.crossJoin(broadcast(thr))
      .withColumn("__score_milli", floor(col(scoreCol) * 1000).cast("long"))
      .withColumn("covered", when(col("threshold_milli").isNotNull,
        col("__score_milli") <= col("threshold_milli")).otherwise(lit(false)))
      .drop("__score_milli")
  }

  /** Decile lift / gains table, EXACT — the scoring-model report
    * every targeting review reads: rank the population by score
    * (ties broken by `idCol` — a total order, so the bucketing is
    * deterministic), cut into `buckets` equal-count bands via integer
    * arithmetic bucket = ⌊(rank−1)·buckets / n⌋, and report per band
    * the positive rate plus CUMULATIVE capture and lift:
    *   lift_micro = ⌊10⁶·cum_pos·N / (cum_n·P)⌋
    * (top-decile lift 3·10⁶ = "3× better than random"). The global
    * rank rides [[Relational.globalRowNumber]] — two passes, never a
    * single-partition window; cumulative sums come from a tiny
    * bucket×bucket triangular join (buckets² rows, parameter-sized),
    * not a partition-less window. P = 0 leaves lift null. */
  def decileLift(df: DataFrame, idCol: String, yCol: String,
      scoreMilliCol: String, buckets: Int = 10): DataFrame = {
    require(buckets >= 2 && buckets <= 1000,
      s"buckets must be in [2,1000], got $buckets")
    val staged = df
      .filter(col(yCol).isNotNull && col(scoreMilliCol).isNotNull)
      .select(col(idCol).as("__id"),
        col(yCol).cast("boolean").cast("long").as("__y"),
        col(scoreMilliCol).cast("long").as("__s"))
    val ranked = Relational.globalRowNumber(staged,
      Seq(col("__s").desc, col("__id").asc), "__r")
    val per = ranked
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("__n"),
        sum(col("__y")).as("__p"))))
      .withColumn("bucket", expr(s"((__r - 1) * $buckets) div __n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__y")).as("n_pos"),
        max(col("__n")).as("__n"), max(col("__p")).as("__p"))
      .withColumn("rate_micro", expr("(1000000 * n_pos) div n_rows"))
    val cum = per.select(col("bucket").as("__b2"),
      col("n_rows").as("__cn"), col("n_pos").as("__cp"))
    per.join(cum, col("__b2") <= col("bucket"))
      .groupBy(col("bucket"), col("n_rows"), col("n_pos"),
        col("rate_micro"), col("__n"), col("__p"))
      .agg(sum(col("__cn")).as("cum_n"), sum(col("__cp")).as("cum_pos"))
      .withColumn("lift_micro", when(col("__p") > 0, expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * cum_pos * __n)
          |  div (CAST(cum_n AS DECIMAL(38,0)) * __p) AS BIGINT)"""
          .stripMargin)))
      .select(col("bucket"), col("n_rows"), col("n_pos"),
        col("rate_micro"), col("cum_n"), col("cum_pos"),
        col("lift_micro"))
  }

  /** Brier score per group, EXACT — the proper scoring rule
    * [[calibrationError]] bins can only approximate: mean squared
    * error between the milli probability and the {0, 1000} outcome.
    * With d = score_milli − 1000·y each term is an exact BIGINT
    * square, so the only floor is the final division:
    * brier_micro = ⌊Σd² / n⌋ — micro units because milli² = 10⁻⁶ of
    * the unit square. 0 = oracle forecaster, 250000 = the constant
    * 0.5 hedge, 1000000 = confidently wrong every time. One hash
    * aggregate. */
  def brierScore(df: DataFrame, groupCol: String, yCol: String,
      scoreMilliCol: String): DataFrame = {
    df.filter(col(yCol).isNotNull && col(scoreMilliCol).isNotNull)
      .select(col(groupCol).as("group"),
        (col(scoreMilliCol).cast("long") -
          lit(1000L) * col(yCol).cast("boolean").cast("long")).as("__d"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(__d AS DECIMAL(38,0)) * __d")).as("__sq"))
      .select(col("group"), col("n"),
        expr("CAST(__sq div n AS BIGINT)").as("brier_micro"))
  }

  /** Classical seasonal decomposition (the moving-average STL
    * ancestor), EXACT: value = trend + seasonal + residual, where
    * trend is the centered ±halfWindow ROWS moving average, the
    * seasonal term is each (key, season) cell's mean DETRENDED value,
    * and the residual is what's left — every mean one sign-split
    * truncating division to milli, so q359 replays all three
    * components. Season = hour-of-day from epoch micros (24 cells) —
    * the [[seasonalAnomalies]] convention at day grain.
    *
    * Edge rows average over the rows that exist (standard ragged-end
    * moving average, count from the same frame — no padding, no
    * NULL). Window frames are ROWS over a fully tie-broken order, so
    * both engines see identical frames. Two window passes + one
    * (key, season)-partitioned window, all riding one hash(key)
    * family of partitionings. */
  def seasonalDecompose(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, tieBreak: Seq[String],
      halfWindow: Int = 12): DataFrame = {
    require(halfWindow >= 1, "halfWindow must be >= 1")
    val ord = (col("ts_us") +: tieBreak.map(col)).map(_.asc)
    val wT = Window.partitionBy(col("key")).orderBy(ord: _*)
      .rowsBetween(-halfWindow, halfWindow)
    def sdivE(n: String, d: String) =
      expr(s"""CASE WHEN $n >= 0 THEN $n div $d
              | ELSE -((-($n)) div $d) END""".stripMargin)
    val staged = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select((col(keyCol).as("key") +:
        unix_micros(col(tsCol)).as("ts_us") +:
        floor(col(valueCol).cast("double") * 1000).cast("long").as("value_milli") +:
        tieBreak.map(col)): _*)
      .withColumn("season",
        pmod(expr("ts_us div 3600000000"), lit(24L)))
      .withColumn("__tn", count(lit(1)).over(wT))
      .withColumn("__ts", sum(col("value_milli")).over(wT))
      .withColumn("trend_milli", sdivE("__ts", "__tn"))
      .withColumn("__det", col("value_milli") - col("trend_milli"))
    val wS = Window.partitionBy(col("key"), col("season"))
    staged
      .withColumn("__sn", count(lit(1)).over(wS))
      .withColumn("__ss", sum(col("__det")).over(wS))
      .withColumn("seasonal_milli", sdivE("__ss", "__sn"))
      .withColumn("residual_milli",
        col("value_milli") - col("trend_milli") - col("seasonal_milli"))
      .select(col("key"), col("ts_us"), col("value_milli"), col("season"),
        col("trend_milli"), col("seasonal_milli"), col("residual_milli"))
  }

  /** Rolling OLS slope per key — the windowed trend detector (the
    * moving cousin of the global [[theilSenSlopes]]/trend family): on
    * each row, the exact least-squares slope of the trailing `window`
    * (value vs within-key row index), emitted in micro units with ONE
    * sign-split truncating division:
    *   slope = (nΣxy − ΣxΣy) / (nΣxx − (Σx)²).
    * x is the ROW INDEX (1,2,…) rather than raw epoch micros — that
    * keeps every product BIGINT-exact (epoch² would overflow) and
    * reads as "milli-units per step". Rows before the window fills,
    * and degenerate windows (den = 0, impossible with distinct
    * indices but guarded), emit NULL. All trailing ROWS frames over
    * one fully tie-broken (key, order) sort — a single exchange. */
  def rollingOls(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String, window: Int): DataFrame = {
    require(window >= 2, s"window $window must be >= 2")
    val wOrd = Window.partitionBy(col("key"))
      .orderBy(orderCols.map(col(_).asc): _*)
    val wIn = wOrd.rowsBetween(-(window - 1), Window.currentRow)
    df.filter(col(valueCol).isNotNull)
      .select((col(keyCol).as("key") +:
        floor(col(valueCol).cast("double") * 1000).cast("long").as("y") +:
        orderCols.map(col)): _*)
      .withColumn("x", row_number().over(wOrd).cast("long"))
      .withColumn("__n", count(lit(1)).over(wIn))
      .withColumn("__sx", sum(col("x")).over(wIn))
      .withColumn("__sy", sum(col("y")).over(wIn))
      .withColumn("__sxy", sum(col("x") * col("y")).over(wIn))
      .withColumn("__sxx", sum(col("x") * col("x")).over(wIn))
      .withColumn("__num", // y is milli already: ×1000 lands on micro
        lit(1000L) * (col("__n") * col("__sxy") - col("__sx") * col("__sy")))
      .withColumn("__den",
        col("__n") * col("__sxx") - col("__sx") * col("__sx"))
      .withColumn("slope_micro",
        when(col("__n") === window && col("__den") =!= 0, expr(
          """CASE WHEN __num >= 0 THEN __num div __den
            | ELSE -((-__num) div __den) END""".stripMargin)))
      .select((col("key") +: orderCols.map(col) ++:
        Seq(col("x"), col("y").as("value_milli"),
          col("__n").as("n_window"), col("slope_micro"))): _*)
  }

  /** Item-item co-occurrence similarity with exact top-k — the
    * "users who touched X also touched Y" primitive every
    * recommender / related-items surface starts from. Presence-based
    * (distinct user-item), cosine-squared scored: cos²(a,b) =
    * n_ab² / (n_a·n_b), carried as score_nano = ⌊10⁹·n_ab²/(n_a·n_b)⌋
    * — ONE floored division per pair, and the (score_nano DESC,
    * item_b ASC) ranking is the pinned deterministic contract (exact
    * rational ties and floor-collisions both resolve to the smaller
    * co-item).
    *
    * Scale posture: the user self-join is the canonical co-occurrence
    * cost — Σ_u items(u)² pairs — so users above `maxItemsPerUser`
    * are EXCLUDED up front (the q107 domain-cap posture: a bot user
    * with 10⁶ items must not mint 10¹² pairs; exclusion is the
    * documented, deterministic choice and the cap is a parameter).
    * Then: one distinct, one user-keyed self-join, one (a,b)
    * aggregate, one broadcast-sized item-count join, one per-item
    * rank window. */
  def itemCooccurrence(df: DataFrame, userCol: String, itemCol: String,
      k: Int, maxItemsPerUser: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxItemsPerUser >= 2, "maxItemsPerUser must be >= 2")
    val ui = df
      .filter(col(userCol).isNotNull && col(itemCol).isNotNull)
      .select(col(userCol).as("u"), col(itemCol).as("i"))
      .distinct()
    val light = ui.join(
      ui.groupBy(col("u")).agg(count(lit(1)).as("__c"))
        .filter(col("__c") > maxItemsPerUser).select(col("u")),
      Seq("u"), "left_anti")
      .persist()
    val ni = light.groupBy(col("i")).agg(count(lit(1)).as("n"))
    val pairs = light.select(col("u"), col("i").as("item_a"))
      .join(light.select(col("u"), col("i").as("item_b")), Seq("u"))
      .filter(col("item_a") =!= col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
    val w = Window.partitionBy(col("item_a"))
      .orderBy(col("score_nano").desc, col("item_b").asc)
    val out = pairs
      .join(broadcast(ni.select(col("i").as("item_a"), col("n").as("n_a"))),
        Seq("item_a"))
      .join(broadcast(ni.select(col("i").as("item_b"), col("n").as("n_b"))),
        Seq("item_b"))
      .withColumn("score_nano", expr(
        """CAST((CAST(1000000000 AS DECIMAL(38,0)) * n_ab * n_ab)
          |  div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"""
          .stripMargin))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("item_a"), col("item_b"), col("n_a"), col("n_b"),
        col("n_ab"), col("score_nano"), col("rank"))
    out
  }

  /** Quantile normalization — the cross-sample distribution equalizer
    * (microarray batch-correction lineage, and the right tool whenever
    * per-source score scales must be made comparable before a global
    * threshold): rank each key's values, average the values AT EACH
    * RANK across keys, and hand every observation its rank's
    * cross-key mean. After it, every key's empirical distribution is
    * the same reference distribution, by construction.
    *
    * Ranks are row_number over (value_milli, orderCols) so ties are
    * fully resolved and both engines rank identically; keys of
    * unequal length contribute to exactly the ranks they have (the
    * reference mean at rank r averages over the keys reaching r —
    * the standard ragged extension, documented rather than padded).
    * Mean is one sign-split floored division to milli.
    *
    * Shuffle shape: one key-partitioned rank window, one rank-keyed
    * aggregate (ranks-many rows), one broadcast-sized join back on
    * rank. No global sort, no single-partition window. */
  def quantileNormalize(df: DataFrame, keyCol: String,
      orderCols: Seq[String], valueCol: String): DataFrame = {
    val ord = (col("value_milli") +: orderCols.map(col)).map(_.asc)
    val w = Window.partitionBy(col("key")).orderBy(ord: _*)
    val ranked = df
      .filter(col(valueCol).isNotNull)
      .select((col(keyCol).as("key") +:
        floor(col(valueCol).cast("double") * 1000).cast("long").as("value_milli") +:
        orderCols.map(col)): _*)
      .withColumn("rank", row_number().over(w).cast("long"))
    val ref = ranked.groupBy(col("rank"))
      .agg(count(lit(1)).as("__n"), sum(col("value_milli")).as("__s"))
      .select(col("rank"), col("__n").as("n_keys_at_rank"),
        expr("""CASE WHEN __s >= 0 THEN __s div __n
               | ELSE -((-__s) div __n) END""".stripMargin)
          .as("norm_milli"))
    ranked.join(ref, "rank")
      .select(col("key"), col("rank"), col("value_milli"),
        col("n_keys_at_rank"), col("norm_milli"))
  }

  /** CUPED variance reduction (Deng et al. 2013) — adjust an
    * experiment metric by its pre-period covariate so arm means keep
    * their expectations but shed the variance the pre-period already
    * explains: ŷ = y − θ·(x − x̄), θ = Cov(x,y)/Var(x), θ POOLED over
    * all units (arm-blind, which is what keeps the adjustment
    * unbiased under randomization).
    *
    * Integer lanes throughout: x,y floored to milli; θ carried as the
    * exact BIGINT pair (θ_num, θ_den) = (n·Σxy − Σx·Σy, n·Σxx − Σx²)
    * in DECIMAL(38,0); each arm's adjusted mean is ONE sign-split
    * floored division of the exact cross-multiplied numerator, so
    * q351 replays every column in HUGEINT. Output per arm: n,
    * mean_post_micro (unadjusted), mean_adj_micro, and the shared
    * theta_milli diagnostic. Degenerate Var(x) = 0 → θ = 0 (no
    * adjustment — nothing to explain), null-safe.
    *
    * Two aggregates (global + per-arm) over one staged scan; the
    * global row broadcasts. */
  def cupedAdjust(df: DataFrame, armCol: String, preCol: String,
      postCol: String): DataFrame = {
    val staged = df
      .filter(col(preCol).isNotNull && col(postCol).isNotNull &&
        col(armCol).isNotNull)
      .select(col(armCol).as("arm"),
        floor(col(preCol) * 1000).cast("long").as("x"),
        floor(col(postCol) * 1000).cast("long").as("y"))
    val g = staged.agg(
      count(lit(1)).as("gn"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
    val a = staged.groupBy(col("arm")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sxa"), sum(col("y")).as("sya"))
    a.crossJoin(broadcast(g))
      .withColumn("tnum", expr(
        "CAST(gn AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("tden", expr(
        "CAST(gn AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("mean_post_micro", expr(
        """CASE WHEN sya >= 0 THEN (1000 * CAST(sya AS DECIMAL(38,0))) div n
          | ELSE -((1000 * CAST(-sya AS DECIMAL(38,0))) div n) END"""
          .stripMargin).cast("long"))
      .withColumn("__anum", expr(
        """1000 * (CAST(sya AS DECIMAL(38,0)) * tden * gn
          |  - tnum * (CAST(sxa AS DECIMAL(38,0)) * gn - CAST(sx AS DECIMAL(38,0)) * n))"""
          .stripMargin))
      .withColumn("__aden", expr("CAST(n AS DECIMAL(38,0)) * tden * gn"))
      .withColumn("mean_adj_micro", expr(
        """CASE WHEN tden = 0 THEN mean_post_micro
          | WHEN __anum >= 0 THEN CAST(__anum div __aden AS BIGINT)
          | ELSE CAST(-((-__anum) div __aden) AS BIGINT) END"""
          .stripMargin))
      .withColumn("theta_milli", expr(
        """CASE WHEN tden = 0 THEN CAST(0 AS BIGINT)
          | WHEN tnum >= 0 THEN CAST((1000 * tnum) div tden AS BIGINT)
          | ELSE CAST(-((1000 * (-tnum)) div tden) AS BIGINT) END"""
          .stripMargin))
      .select(col("arm"), col("n"), col("mean_post_micro"),
        col("mean_adj_micro"), col("theta_milli"))
  }

  /** Holt linear (double-exponential) smoothing per key, EXACT — the
    * trend-aware member of the smoothing family (EWMA is the
    * level-only one): with rational gains α = aNum/aDen,
    * β = bNum/bDen,
    *   l_t = trunc((aNum·y_t + (aDen−aNum)·(l + b)) / aDen)
    *   b_t = trunc((bNum·(l_t − l) + (bDen−bNum)·b) / bDen)
    * TRUNCATING division at every step (Java `/` == Spark `div` ==
    * DuckDB integer `//` — measured, not assumed: DuckDB's integer
    * `//` truncates toward zero, it does not floor), seeded l₁ = y₁,
    * b₁ = 0, so the whole recurrence is a BIGINT walk q352 replays
    * per key. Output: key, n, level_milli, trend_milli,
    * forecast_milli(h) = level + h·trend.
    *
    * The recurrence is inherently serial PER KEY (level and trend are
    * coupled), so it runs as a key-partitioned sorted scan with O(1)
    * state — keys parallelize, rows stream. */
  def holtLinear(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String, aNum: Long, aDen: Long, bNum: Long, bDen: Long,
      horizon: Long = 1L): DataFrame = {
    require(aDen > 0 && bDen > 0 && aNum >= 0 && aNum <= aDen &&
      bNum >= 0 && bNum <= bDen, "gains must be rationals in [0, 1]")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
    import org.apache.spark.sql.types._
    def fdiv(a: Long, b: Long): Long = a / b // trunc == DuckDB int `//`
    val in = df
      .filter(col(valueCol).isNotNull)
      .select((col(keyCol).as("__k") +:
        floor(col(valueCol).cast("double") * 1000).cast("long").as("__v") +:
        orderCols.map(col)): _*)
      .repartition(col("__k"))
      .sortWithinPartitions("__k", orderCols: _*)
    val keyField = in.schema.fields(0)
    val outSchema = StructType(Seq(keyField.copy(name = "key"),
      StructField("n", LongType, nullable = false),
      StructField("level_milli", LongType, nullable = false),
      StructField("trend_milli", LongType, nullable = false),
      StructField("forecast_milli", LongType, nullable = false)))
    val enc = ExpressionEncoder(RowEncoder.encoderFor(outSchema))
    in.mapPartitions { rows =>
      val it = rows.buffered
      new Iterator[Row] {
        def hasNext: Boolean = it.hasNext
        def next(): Row = {
          val key = it.head.get(0)
          var first = true
          var l = 0L; var b = 0L; var n = 0L
          while (it.hasNext && it.head.get(0) == key) {
            val y = it.next().getLong(1)
            if (first) { l = y; b = 0L; first = false }
            else {
              // loud-overflow multiplies (r16: the streaming twin's
              // Math.*Exact posture — a wrapped Long would silently
              // diverge from the documented BIGINT walk)
              val lp = l
              l = fdiv(Math.addExact(Math.multiplyExact(aNum, y),
                Math.multiplyExact(aDen - aNum, Math.addExact(l, b))),
                aDen)
              b = fdiv(Math.addExact(
                Math.multiplyExact(bNum, Math.subtractExact(l, lp)),
                Math.multiplyExact(bDen - bNum, b)), bDen)
            }
            n += 1
          }
          Row(key, n, l, b, l + horizon * b)
        }
      }
    }(enc)
  }
}

/** [[Learn.kendallTau]] per-key result row — top-level for the
  * Encoder TypeTag. */
private[operators] case class KendallRow(key: Long, n: Long,
    concordant: Long, discordant: Long, ties_x: Long, ties_y: Long,
    ties_xy: Long, tau_a_milli: Option[Long], tau_b: Option[Double])

/** [[Learn.isotonicFit]] fitted row — one per pooled x position. */
private[operators] case class IsotonicRow(key: Long, x: Long,
    n_at_x: Long, y_sum_milli: Long, fit_micro: Long)

/** [[Learn.theilSenSlopes]] per-key result row. */
private[operators] case class TheilSenRow(key: Long, n: Long,
    n_slopes: Long, slope_micro: Option[Long])

/** [[Learn.mannKendall]] per-key result row. */
private[operators] case class MannKendallRow(key: Long, n: Long,
    s: Long, var18: Long, trend: String)
