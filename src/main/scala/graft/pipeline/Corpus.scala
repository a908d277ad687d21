package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions._
import graft.operators.Dedup

/** Training-corpus curation: the LLM-data-pipeline operator families
  * composed into one lazy plan (quality gate → language filter →
  * exact dedup → near-dup removal → token accounting).
  *
  * This is the 100-TB shape of the reference's silver stage: where the
  * reference trims/filters 20 comments serially
  * (/root/reference/silver_clean_comments.py:41-56), a pretraining
  * pipeline gates billions of documents through exactly these steps.
  * Everything below is a constant number of shuffles; the near-dup
  * step is MinHash-LSH (one shuffle, stop-bucket capped).
  */
object Corpus {

  case class Config(
      minQuality: Double = 0.3,
      keepLangs: Seq[String] = Seq("en"),
      nearDupJaccard: Double = 0.8,
      shingleWidth: Int = 3)

  /** Curation output: the surviving rows, plus the persisted internal
    * frame when `materialize = true` so the caller owns its lifecycle
    * (`result.unpersist()` once the curated frame is written). */
  case class CurationResult(curated: DataFrame, persisted: Option[DataFrame]) {
    /** Evict the internal dedup-diamond cache entry (no-op when not
      * materialized). Call after the curated output is materialized. */
    def unpersist(): Unit = persisted.foreach(_.unpersist())
  }

  /** Filter + dedup a document table; returns the surviving rows with
    * quality/token metadata attached.
    *
    * The exact-dedup subtree feeds BOTH sides of the final anti-join
    * (the keep side directly, the drop side through the LSH candidate
    * pass), and Catalyst does no cross-branch common-subexpression
    * elimination — in one lazy plan the scan + quality kernels +
    * dedup window execute twice. `materialize = true` persists the
    * deduped frame (memory-and-disk) so that diamond is computed
    * once; at 100 TB the equivalent standard move is writing the
    * deduped silver table before the near-dup pass. Lifecycle: the
    * persisted entry is INTERNAL — unpersisting the returned frame
    * does not evict it; absent an explicit eviction it lingers until
    * the frame is garbage-collected and Spark's ContextCleaner runs.
    * For deterministic cleanup use [[curateStaged]] and call
    * `unpersist()` on the result. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             langCol: String, cfg: Config = Config(),
             materialize: Boolean = false): DataFrame =
    curateStaged(docs, idCol, textCol, langCol, cfg, materialize).curated

  /** [[curate]] with the persisted internal handle exposed for
    * explicit lifecycle control. */
  def curateStaged(docs: DataFrame, idCol: String, textCol: String,
                   langCol: String, cfg: Config = Config(),
                   materialize: Boolean = false): CurationResult = {
    // 1. row-local gates (all codegen'd; pushed as far down as Catalyst likes)
    val gated = docs
      .withColumn("quality", quality_score(col(textCol)))
      .withColumn("n_tokens", token_count(col(textCol)))
      .withColumn("est_bpe_tokens", token_estimate(col(textCol)))
      .filter(col("quality") >= cfg.minQuality &&
        lower(col(langCol)).isin(cfg.keepLangs.map(_.toLowerCase): _*))

    // 2. exact dedup on normalized text (keep smallest id)
    val deduped = Dedup.exactDedup(gated, idCol, textCol)
    val exact =
      if (materialize)
        deduped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else deduped

    // 3. near-dup removal: drop the LARGER id of each near-dup pair
    val losers = Dedup.minhashCandidates(exact, idCol, textCol,
        shingleWidth = cfg.shingleWidth)
      .filter(col("est_jaccard") >= cfg.nearDupJaccard)
      .select(col("id_b").as(idCol)).distinct()
    CurationResult(exact.join(losers, Seq(idCol), "left_anti"),
      if (materialize) Some(exact) else None)
  }

  /** Stratified downsampling — cap over-represented strata in a
    * training mix (e.g. keep 10% of English web text but all of a rare
    * language). Per-stratum Bernoulli sampling via `sampleBy`: one
    * scan, no shuffle, executor-local RNG seeded per partition, so the
    * expected kept fraction is exact and no coordination is needed at
    * any corpus size. Strata absent from `fractions` are DROPPED
    * (fraction 0) — pass 1.0 explicitly to keep a stratum whole. */
  def stratifiedSample(df: DataFrame, strataCol: String,
                       fractions: Map[String, Double], seed: Long): DataFrame =
    df.stat.sampleBy(strataCol, fractions, seed)

  /** Exact-quota deterministic mixture sampling — "take exactly N_s
    * documents of stratum s", the data-mixing step that turns a curated
    * pool into a training mix with pinned per-source counts (where
    * [[stratifiedSample]] keeps an *expected* fraction, this keeps an
    * exact count, reproducibly). Selection rule: the N_s rows whose
    * seeded hash `md5(id || ':' || seed)` sorts lowest within the
    * stratum — a uniform, engine-independent permutation, so the
    * chosen set is stable across runs, clusters, and engines (q85's
    * DuckDB oracle replays it verbatim). Strata absent from `quotas`
    * are dropped, mirroring [[stratifiedSample]].
    *
    * Scale shape: the naive form is one window over every stratum —
    * at 100 TB a billion-row stratum funnels through a single
    * partition's sort. Instead, two passes: (1) an aggregate counts
    * each stratum; (2) rows are pre-filtered to hash-fraction ≤
    * (2·quota + 16)/count (a broadcast of |strata| cutoffs), and only
    * those survivors per stratum — not the stratum — are ranked. The
    * additive +16 is what makes SMALL quotas safe: a multiplicative-
    * only margin leaves P(survivors < quota) ≈ 1% at quota 5 (the
    * binomial tail depends on the quota, not the stratum size),
    * while mean 2q+16 pushes the undershoot below 1e-5 at quota 1
    * and far beyond for larger quotas. A stratum whose cutoff
    * reaches 1 skips the filter entirely, so the guard never drops
    * below quota in the regimes where the bound is loose. */
  /** Seeded uniform permutation hash shared by [[quotaSample]] and
    * [[hashSplit]]: md5 of `id || ':' || seed`, engine-independent. */
  private def seededHash(id: org.apache.spark.sql.Column, seed: Long) =
    md5(concat(id.cast("string"), lit(":" + seed)))

  /** Uniform (0,1) fraction from [[seededHash]]'s first 8 hex chars —
    * the leading bits that dominate its lexicographic order, so
    * fraction thresholds and hash-rank orderings agree. */
  private def seededFraction(id: org.apache.spark.sql.Column, seed: Long) =
    conv(substring(seededHash(id, seed), 1, 8), 16, 10).cast("long")
      .cast("double") / lit(4294967296.0)

  def quotaSample(df: DataFrame, strataCol: String, idCol: String,
                  quotas: Map[String, Long], seed: Long): DataFrame = {
    require(quotas.values.forall(_ >= 0), "quotas must be non-negative")
    val hash = seededHash(col(idCol), seed)
    val frac = seededFraction(col(idCol), seed)
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
    val quotaMap = typedLit(quotas)
    val cutoffs = counts.select(col(strataCol),
      coalesce(quotaMap(col(strataCol)), lit(0L)).as("__quota"),
      least(lit(1.0),
        (lit(2.0) * coalesce(quotaMap(col(strataCol)), lit(0L)).cast("double")
          + lit(16.0)) / col("__n")).as("__cutoff"))
    val survivors = df
      .join(broadcast(cutoffs), Seq(strataCol))
      .filter(col("__quota") > 0 &&
        (col("__cutoff") >= 1.0 || frac <= col("__cutoff")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(hash, col(idCol))
    survivors
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("__quota"))
      .drop("__quota", "__cutoff", "__rk")
  }

  /** Deterministic train/val/test assignment: each row gets the split
    * whose cumulative weight interval contains its seeded hash
    * fraction. Row-local (no shuffle, no sampling state), reproducible
    * across runs/engines/cluster sizes, and STABLE UNDER GROWTH — a
    * document keeps its split when the corpus around it changes, which
    * is the property that keeps eval sets uncontaminated across corpus
    * versions (a fraction-of-position split reassigns everything on
    * every insert). Weights must sum to 1. */
  def hashSplit(df: DataFrame, idCol: String,
                splits: Seq[(String, Double)], seed: Long): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0) &&
      math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must be positive and sum to 1: $splits")
    val frac = seededFraction(col(idCol), seed)
    val bounds = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val assign = splits.dropRight(1).zip(bounds.dropRight(1))
      .foldRight(lit(splits.last._1): org.apache.spark.sql.Column) {
        case (((name, _), ub), acc) => when(frac < ub, lit(name)).otherwise(acc)
      }
    df.withColumn("split", assign)
  }

  /** One-row corpus report: docs surviving, tokens kept, mean quality. */
  def report(curated: DataFrame): DataFrame =
    curated.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      sum(col("est_bpe_tokens")).as("total_bpe_tokens"),
      avg(col("quality")).as("mean_quality"))

  /** [[report]] with the quality aggregate made cross-engine exact: a
    * double `avg` depends on partial-aggregation order, so instead
    * export the integer sum of floor(quality·1e6) — each addend is
    * bit-determined (the quality kernel is oracle-exact per row, q34)
    * and integer addition is order-free. Same pattern as the q36/q54
    * centroid anchors. */
  def reportExact(curated: DataFrame): DataFrame =
    curated.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).cast("long").as("total_tokens"),
      sum(col("est_bpe_tokens")).cast("long").as("total_bpe_tokens"),
      sum(floor(col("quality") * 1e6).cast("long")).as("sum_quality_micros"))

  /** Token-budget selection: per group (source/domain/epoch bucket),
    * take documents in `orderCols` order until the group's token
    * budget is filled — the mixture-construction step that turns
    * per-source token targets ("30% web, 100 B tokens of code, …")
    * into a concrete document set. A document is kept iff the
    * cumulative token count UP TO AND INCLUDING it is ≤ the group's
    * budget, so the mix may undershoot by at most one document and
    * never overshoots; groups absent from `budgets` are dropped
    * entirely (an explicit mixture is a whitelist).
    *
    * `orderCols` must totally order each group (include an id
    * tiebreak) — it is the priority policy: doc_id for "earliest
    * first", a seeded hash for an unbiased random mix (q85's trick), a
    * quality rank for "best first". Keeps a `cum_tokens` column for
    * auditability.
    *
    * Scale: ONE hash shuffle on `groupCol`; the running sum is an O(1)
    * per-key window state, the budget filter is row-local, and the
    * budget map ships as a literal CASE (mixtures enumerate sources —
    * dozens, not millions). Cumulative integer sums are order-exact,
    * so the selection is reproducible on any cluster size. */
  def tokenBudgetSelect(df: DataFrame, groupCol: String,
                        orderCols: Seq[org.apache.spark.sql.Column],
                        tokenCol: String,
                        budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty, "tokenBudgetSelect needs at least one group budget")
    require(budgets.values.forall(_ >= 0), s"budgets must be non-negative: $budgets")
    val budget = budgets.tail.foldLeft(
      when(col(groupCol) === budgets.head._1, lit(budgets.head._2))) {
        case (acc, (g, b)) => acc.when(col(groupCol) === g, lit(b))
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(orderCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // whitelist BEFORE the window: non-mixture groups never enter the
    // shuffle (the filter also pushes to the scan)
    df.filter(col(groupCol).isin(budgets.keys.toSeq: _*))
      .withColumn("cum_tokens", sum(col(tokenCol).cast("long")).over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** Relative quality gate: drop each group's bottom `q` fraction by
    * `scoreCol` — "cut the worst 20% PER LANGUAGE", the
    * distribution-aware complement to [[Config.minQuality]]'s absolute
    * threshold (an absolute cutoff over-prunes languages whose score
    * distribution sits lower and under-prunes ones that sit higher).
    * A row survives iff its percent_rank within the group ≥ `q`;
    * `tieBreak` must totalize the order (score ties are real — short
    * docs quantize) or survivors flip between runs.
    *
    * One hash shuffle on the group + a per-group sort; O(1) window
    * state. The sort is the honest cost of an exact per-group
    * quantile; when a group is a whole 100 TB language and exactness
    * isn't required, compute an `approx_percentile(score, q)` per
    * group (one agg, sketch-sized) and gate with a broadcast join
    * against that threshold table instead — same API shape, documented
    * trade (the q58 sketch-vs-exact pattern). */
  def dropBottomQuantile(df: DataFrame, groupCol: String, scoreCol: String,
                         tieBreak: Seq[org.apache.spark.sql.Column],
                         q: Double): DataFrame = {
    require(q >= 0.0 && q < 1.0, s"q must be in [0, 1), got $q")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(scoreCol).asc +: tieBreak: _*)
    df.withColumn("__pr", percent_rank().over(w))
      .filter(col("__pr") >= q)
      .drop("__pr")
  }

  /** The sketch path for [[dropBottomQuantile]] when a group is a
    * whole 100 TB language and the per-group sort is not worth
    * exactness: ONE `approx_percentile` aggregate derives each group's
    * q-threshold (sketch-sized state, map-side partials), the
    * |groups|-row threshold table broadcasts, and the gate is a
    * row-local `score >= threshold` — no sort, no window, no second
    * corpus pass. `accuracy` trades sketch memory for rank error
    * exactly as `percentile_approx` documents (rank error ≤
    * 1/accuracy); rows AT the threshold all survive (no tiebreak —
    * a rank cut that precise is what the exact variant is for). */
  def dropBottomQuantileApprox(df: DataFrame, groupCol: String,
                               scoreCol: String, q: Double,
                               accuracy: Int = 10000): DataFrame = {
    require(q >= 0.0 && q < 1.0, s"q must be in [0, 1), got $q")
    val thresholds = df.groupBy(col(groupCol))
      .agg(percentile_approx(col(scoreCol), lit(q), lit(accuracy))
        .as("__thresh"))
    df.join(broadcast(thresholds), Seq(groupCol))
      .filter(col(scoreCol) >= col("__thresh"))
      .drop("__thresh")
  }

  /** Exact deterministic WEIGHTED sampling — k rows chosen with
    * probability proportional to an integer weight (quality tiers,
    * duplication counts, importance scores), with NO float randomness
    * anywhere: each row holds `weight` virtual lottery tickets, ticket
    * i keyed by the engine-neutral seeded md5 of `(id, i, seed)`, and
    * the row's sort key is its BEST ticket (an `array_min` over a
    * generated sequence — computed row-local, never exploded). The
    * global k smallest keys win: more tickets → stochastically
    * smaller best key → proportionally higher selection odds (the
    * lottery form of A-ES reservoir sampling, integer-exact so any
    * engine replays the identical winner set).
    *
    * Shape at scale: one row-local O(weight) hash loop per row (hence
    * the loud `maxWeight` guard — huge weights belong to the float
    * A-ES variant), then a global top-k that plans as
    * TakeOrderedAndProject: per-partition heaps and one k-row merge,
    * never a global sort. Zero-weight rows hold no tickets and cannot
    * be selected. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, seed: Long, maxWeight: Int = 1024): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = col(weightCol).cast("int")
    val ticket = (i: org.apache.spark.sql.Column) =>
      md5(concat_ws(":", col(idCol).cast("string"), i.cast("string"),
        lit(seed.toString)))
    // the guard lives INSIDE the sort key so it cannot be pruned away
    df.filter(w >= 1)
      .withColumn("__key",
        when(w <= maxWeight,
          array_min(transform(sequence(lit(1), w), i => ticket(i))))
          .otherwise(raise_error(concat(
            lit(s"weightedSample: weight above $maxWeight for id "),
            col(idCol).cast("string"),
            lit(" — use a float A-ES sampler for huge weights")))))
      .orderBy(col("__key"), col(idCol))
      .limit(k)
      .drop("__key")
  }

  /** Robust per-group outlier flag — median/MAD (median absolute
    * deviation), the distribution-free cousin of the z-score: a row is
    * an outlier iff `|x - median| > k·MAD`. Unlike mean/stddev, both
    * statistics are rank-based, so one corrupt billion-token document
    * (or a fat-fingered metric) cannot drag the threshold toward
    * itself — the standard gate for metric columns with unknown,
    * heavy-tailed distributions (doc lengths, event values, scores).
    *
    * Shape at scale: two group-key aggregates (median, then MAD over
    * the re-joined deviations) with map-side partials, each producing
    * a |groups|-row table that joins back un-hinted (AQE broadcasts
    * while it fits — the TF-IDF lesson); the flag itself is row-local.
    * `percentile` is the exact sort-based aggregate — for a group the
    * size of a 100 TB language, swap `approx_percentile` in via the
    * [[dropBottomQuantileApprox]] trade (same API shape, rank error ≤
    * 1/accuracy); exactness here is what makes the oracle possible.
    * On integral inputs every statistic is a half-integer, so median,
    * MAD, and the `k·MAD` comparison are IEEE-exact cross-engine. */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     k: Double = 3.0, out: String = "is_outlier"): DataFrame = {
    require(k >= 0.0, s"k must be non-negative, got $k")
    val med = df.groupBy(col(groupCol))
      .agg(percentile(col(valueCol), lit(0.5)).as("__med"))
    val dev = df.join(med, Seq(groupCol))
      .withColumn("__dev", abs(col(valueCol) - col("__med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(percentile(col("__dev"), lit(0.5)).as("__mad"))
    dev.join(mad, Seq(groupCol))
      .withColumn(out, col("__dev") > lit(k) * col("__mad"))
      .drop("__dev")
      .withColumnRenamed("__med", "group_median")
      .withColumnRenamed("__mad", "group_mad")
  }

  /** Deterministic epoch shuffle: a contiguous global training order
    * 1..N from a seeded hash of the id — "shuffle the corpus for
    * epoch k" as a pure function of (id, seed, epoch), so any run,
    * engine, or resumed job derives the identical order, and each
    * epoch's order is independent of every other's. The order column
    * is [[graft.pipeline.Corpus.quotaSample]]'s engine-neutral seeded
    * md5; the numbering is [[graft.operators.Relational.globalRowNumber]]
    * (range-partitioned two-pass — NO single-partition global window),
    * so the shape is a parallel sort + per-partition numbering at any
    * corpus size. */
  def epochShuffle(df: DataFrame, idCol: String, seed: Long,
                   epoch: Int, out: String = "epoch_pos"): DataFrame =
    graft.operators.Relational.globalRowNumber(
      df, Seq(seededHash(col(idCol), seed * 1000003L + epoch), col(idCol)),
      out)

  /** Temperature-rebalanced mixture sampling — the multilingual /
    * multi-source rule q_s ∝ p_s^α (XLM-R-family) expressed as exact
    * deterministic per-stratum quotas: the rarest stratum is kept
    * whole and every other stratum s is downsampled to
    * `ceil(n_s · (n_min/n_s)^(1-α))` rows. α = 1 keeps everything
    * (proportional); α → 0 forces the uniform mix. Selection within a
    * stratum is [[quotaSample]]'s seeded-md5 rank, so the chosen set
    * is reproducible across runs, engines, and cluster sizes.
    *
    * Cross-engine exactness: the quota formula deliberately avoids
    * any cross-strata float reduction (no Σ n^α normalizer whose
    * addition order varies) — it is one IEEE-exact division, one
    * power, one multiply, one ceil per stratum, each correctly
    * rounded, so an independent engine replaying the same expression
    * lands on the identical integers. α = 0.5 (the common choice)
    * routes through `sqrt`, which IEEE 754 requires exactly rounded;
    * other α use `pow`, where a last-ulp divergence across libm
    * implementations is possible in principle (never observed on the
    * tested strata; the quota would shift by at most one row).
    *
    * Scale shape: same as [[quotaSample]] — one counting aggregate,
    * a broadcast of |strata| quota rows, the hash-fraction prefilter
    * (≤ (2·quota+16)/n) so only ~2·quota survivors per stratum reach
    * the rank window, never the raw stratum. */
  def temperatureSample(df: DataFrame, strataCol: String, idCol: String,
                        alpha: Double = 0.5, seed: Long = 42L): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val hash = seededHash(col(idCol), seed)
    val frac = seededFraction(col(idCol), seed)
    val counts = df.groupBy(col(strataCol)).agg(count(lit(1)).as("__n"))
    val nMin = counts.agg(min(col("__n")).as("__n_min"))
    val ratio = col("__n_min").cast("double") / col("__n").cast("double")
    val factor =
      if (alpha == 0.5) sqrt(ratio) else pow(ratio, lit(1.0 - alpha))
    val quotas = counts.crossJoin(broadcast(nMin))
      .select(col(strataCol), col("__n"),
        ceil(col("__n").cast("double") * factor).cast("long").as("__quota"))
    val survivors = df
      .join(broadcast(quotas), Seq(strataCol))
      .filter(col("__quota") >= col("__n") ||
        frac <= least(lit(1.0),
          (lit(2.0) * col("__quota").cast("double") + lit(16.0))
            / col("__n").cast("double")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(hash, col(idCol))
    survivors
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("__quota"))
      .drop("__n", "__quota", "__rk")
  }

  /** Per-domain document cap — web-corpus over-representation control:
    * keep at most `maxPerDomain` documents per URL host (highest
    * preference first, smallest id on ties), and pass documents with
    * NO url through uncapped (provenance-less docs are someone else's
    * policy problem, not this operator's). The host is the FIRST URL
    * host mentioned in `textCol` (row-local codegen'd regexp,
    * case-folded), attached as a `host` column on the output.
    *
    * Shape: one hash shuffle on host + a running row_number within
    * each host ([[graft.operators.Relational.groupedTopK]] — no global
    * sort, no driver state); the no-URL branch is a shuffle-free scan
    * unioned back. Host skew (half the web is on a handful of CDNs)
    * is bounded by the cap itself at emit, but the window input still
    * funnels a mega-host through one partition — at 100 TB pair this
    * with a pre-aggregation or salt the host when one host exceeds a
    * partition (the [[graft.operators.Relational.saltedJoin]] move). */
  def domainCap(df: DataFrame, idCol: String, textCol: String,
                maxPerDomain: Int,
                preferBy: Seq[org.apache.spark.sql.Column] = Seq.empty,
                salts: Int = 1): DataFrame = {
    require(maxPerDomain > 0, s"maxPerDomain must be positive, got $maxPerDomain")
    val host = lower(regexp_extract(col(textCol),
      graft.operators.TextOps.UrlHostRe, 1))
    val withHost = df.withColumn("host", when(host =!= "", host))
    val linked = withHost.filter(col("host").isNotNull)
    val order = preferBy :+ col(idCol).asc
    // salts > 1 routes through the two-phase exact cap (identical
    // result) when one host can exceed a partition — the 100 TB
    // mega-host case; see Relational.groupedTopKSalted.
    val capped =
      if (salts > 1)
        graft.operators.Relational.groupedTopKSalted(
          linked, Seq(col("host")), order, maxPerDomain, salts)
      else
        graft.operators.Relational.groupedTopK(
          linked, Seq(col("host")), order, maxPerDomain)
    capped.unionByName(withHost.filter(col("host").isNull))
  }

  /** Curriculum training order: documents sorted by an easiness/
    * difficulty bin (ascending), seeded-shuffled WITHIN each bin, and
    * numbered contiguously 1..N — "easy first, random within
    * difficulty", the standard curriculum-learning data order, as a
    * pure function of (id, bin, seed). Same engine shape as
    * [[epochShuffle]]: a range-partitioned parallel sort + two-pass
    * numbering ([[graft.operators.Relational.globalRowNumber]]), no
    * single-partition window at any corpus size. */
  def curriculumOrder(df: DataFrame, idCol: String, binCol: String,
                      seed: Long, out: String = "curriculum_pos"): DataFrame =
    graft.operators.Relational.globalRowNumber(
      df, Seq(col(binCol).asc, seededHash(col(idCol), seed), col(idCol)), out)

  /** Round-robin source interleaving: global training order that
    * cycles through the strata (rank-1 of every source, then rank-2 of
    * every source, …), so any contiguous batch window sees a near-
    * uniform source mix even when stratum sizes are wildly skewed —
    * the "homogeneous batches" ordering a mixture-trained run wants
    * after [[temperatureSample]] fixed the proportions. Within a
    * source the cycle order is the seeded hash (deterministic);
    * sources that run out simply drop out of later cycles. Shape: one
    * rank window per stratum (hash shuffle on the stratum key) + the
    * two-pass global numbering — no global window. */
  def roundRobinOrder(df: DataFrame, idCol: String, strataCol: String,
                      seed: Long, out: String = "mix_pos"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(seededHash(col(idCol), seed), col(idCol))
    graft.operators.Relational.globalRowNumber(
      df.withColumn("__cycle", row_number().over(w)),
      Seq(col("__cycle"), col(strataCol), col(idCol)), out)
      .drop("__cycle")
  }

  /** The curation pipeline composed end to end — "raw documents in,
    * ordered training mix out" as ONE lazy plan:
    *
    *  1. Gopher quality gate ([[graft.operators.TextOps.gopherGate]],
    *     row-local, runs at the scan)
    *  2. exact dedup on normalized-text fingerprint
    *     ([[graft.operators.Dedup.exactDedup]], one shuffle)
    *  3. temperature rebalancing across `strataCol`
    *     ([[temperatureSample]], exact per-stratum quotas)
    *  4. round-robin source interleaving + contiguous global order
    *     ([[roundRobinOrder]])
    *
    * Five shuffles and a parallel sort total, each stage documented at
    * its own operator; q116 oracle-replays the WHOLE chain in DuckDB.
    * This is the [[curate]] family at mixture scope: where curate
    * gates and dedups one source, this balances and orders the
    * multi-source corpus a trainer actually consumes. */
  def buildTrainingMix(docs: DataFrame, idCol: String, textCol: String,
                       strataCol: String,
                       alpha: Double = 0.5, seed: Long = 42L,
                       minWords: Long = 50L, minStopwords: Int = 2): DataFrame = {
    val gated = docs.filter(graft.operators.TextOps.gopherGate(textCol,
      minWords = minWords, minStopwords = minStopwords))
    val deduped = Dedup.exactDedup(gated, idCol, textCol)
    val sampled = temperatureSample(deduped, strataCol, idCol, alpha, seed)
    roundRobinOrder(sampled, idCol, strataCol, seed)
  }

  /** URL-keyed page dedup — the web-corpus first pass: two crawls of
    * the same page differ in tracking params, fragment, case, and
    * mirror noise, so the dedup key is [[graft.functions.canonical_url]]
    * of the document's FIRST URL, and ONE document survives per
    * canonical key — best `preferBy` first, smallest id on ties
    * ([[graft.operators.Dedup.keepBest]]'s policy, keyed by URL
    * instead of content fingerprint; content-identical pages on
    * DIFFERENT urls are [[graft.operators.Dedup.exactDedup]]'s job,
    * run after this). Documents with no URL pass through untouched.
    * Shape: one hash shuffle on the canonical key + a running
    * row_number — [[graft.operators.Relational.groupedTopK]] at k=1. */
  def dedupByUrl(df: DataFrame, idCol: String, textCol: String,
                 preferBy: Seq[org.apache.spark.sql.Column] = Seq.empty): DataFrame = {
    // (?i): crawls spell schemes/hosts in any case — UrlRe itself
    // stays case-sensitive for PII masking fidelity
    val key = canonical_url(
      regexp_extract(col(textCol), "(?i)" + graft.operators.TextOps.UrlRe, 0))
    val withKey = df.withColumn("canonical_url", key)
    val kept = graft.operators.Relational.groupedTopK(
      withKey.filter(col("canonical_url").isNotNull),
      Seq(col("canonical_url")), preferBy :+ col(idCol).asc, 1)
    kept.unionByName(withKey.filter(col("canonical_url").isNull))
  }

  /** Global NTILE without the single-partition window: SQL `NTILE(n)
    * OVER (ORDER BY …)` funnels the whole table through ONE task — the
    * plan WindowExec warns about and the one shape that cannot scale.
    * This computes the identical assignment from
    * [[graft.operators.Relational.globalRowNumber]]'s two-pass
    * contiguous rank plus NTILE's closed form (`q = c/n`, `r = c%n`:
    * the first `r` buckets take `q+1` rows, the rest `q`), with the
    * 1-row count broadcast-joined — range-partitioned sort parallelism
    * end to end. Appends `rank` (1-based, `orderBy` order) and `out`
    * (bucket 1..n, SQL-NTILE-identical — spec-pinned against Spark's
    * own `ntile`). */
  def quantileBuckets(df: DataFrame, orderBy: Seq[org.apache.spark.sql.Column],
                      n: Int, out: String = "bucket"): DataFrame = {
    require(n >= 1, s"bucket count must be >= 1, got $n")
    val ranked = graft.operators.Relational.globalRowNumber(df, orderBy, out = "rank")
    val cnt = ranked.agg(count(lit(1)).cast("long").as("__c"))
    val q = floor(col("__c") / n).cast("long")
    val r = col("__c") % n
    val bucket = when(lit(n.toLong) >= col("__c"), col("rank")) // degenerate: ≤1 row/bucket
      .when(col("rank") <= r * (q + 1L), floor((col("rank") - 1L) / (q + 1L)) + 1L)
      .otherwise(r + floor((col("rank") - 1L - r * (q + 1L)) / q) + 1L)
    ranked.crossJoin(broadcast(cnt))
      .withColumn(out, bucket.cast("long"))
      .drop("__c")
  }

  /** CCNet-style perplexity tiers: score every document with the
    * corpus-trained [[graft.operators.TextOps.bigramLm]] fluency
    * (add-one-smoothed bigram log likelihood — no external LM), then
    * cut the corpus into `n` equal quantile tiers, best first —
    * head/middle/tail for n = 3, the mixture knob CCNet samples from
    * (keep head, downweight tail). Docs with <2 tokens have no
    * bigrams and are absent, like the LM itself. One corpus scoring
    * job + the two-pass global rank; no single-partition window. */
  def perplexityTiers(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    val lm = graft.operators.TextOps.bigramLm(docs, idCol, textCol)
    val tiers = quantileBuckets(lm,
      Seq(col("avg_logprob").desc, col(idCol).asc), n, out = "tier_idx")
    tiers.withColumn("tier",
      when(col("tier_idx") === 1L, "head")
        .when(col("tier_idx") === n.toLong, "tail")
        .otherwise("middle"))
  }

  /** DSIR-style importance selection (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every `raw` document by how target-like its hashed bag-of-words
    * is under two corpus-level unigram models, and keep the top `k`.
    * This is the data-selection step a pretraining pipeline runs to
    * tilt a web-scale crawl toward a high-quality target domain
    * (Wikipedia/books) without training a classifier.
    *
    * INTEGER-QUANTIZED variant — the q134/q155 oracle discipline:
    * per hashed bucket g (same engine-neutral md5-mod-dim bucketing
    * as [[graft.operators.Learn.hashedFeatures]], but with COUNTS,
    * the DSIR feature) the smoothed count ratio
    *
    *   r(g) = min( (scale·(n_target(g)+α)) div (n_raw(g)+α),
    *               scale·maxRatio )
    *
    * and score(doc) = Σ_g c_g(doc)·r(g). Two deliberate, documented
    * deviations from the paper, both needed for cross-engine
    * hash-exactness and both standard in the importance-weighting
    * literature: (1) per-token ratios are aggregated ARITHMETICALLY
    * (sum of ratios) instead of geometrically (sum of logs) — ln has
    * no engine-portable integer form; the true-log double scoring is
    * spec-pinned against this on a planted corpus (CorpusSpec);
    * (2) weights are TRUNCATED at maxRatio (truncated importance
    * sampling), which also bounds the products: with the measured
    * max n_target guarded against `scale` overflow, every
    * score ≤ n_tokens(doc)·scale·maxRatio stays far inside BIGINT.
    * The global normalizers (N+α·dim) of the paper's p̂ cancel out
    * of the RANKING and are dropped, so scores are in
    * "scale·count-ratio" units, not probability units.
    *
    * Selection is deterministic top-k (score desc, id asc) — the
    * paper's Gumbel-top-k resampling ablation shows plain top-k
    * within noise, and determinism is what makes the result
    * hash-comparable (q167 unrolls the whole thing in DuckDB).
    *
    * Scale shape: two corpus token-count aggregates (one per corpus,
    * shuffled on the dim-bounded bucket id), a dim-row ratio table
    * that BROADCASTS onto the raw-side per-(doc, bucket) counts, one
    * per-doc aggregate, and a TakeOrdered top-k — no corpus-sized
    * join, no window. Docs whose text yields zero tokens carry no
    * evidence and are absent (never selected). */
  def importanceResample(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, dim: Int, k: Int, alpha: Long = 1L,
      scale: Long = 1000000L, maxRatio: Long = 1000L): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    require(k > 0, s"k must be positive, got $k")
    require(alpha > 0, s"alpha must be positive, got $alpha")
    require(maxRatio > 0 && scale > 0 && scale <= Long.MaxValue / maxRatio,
      s"need 0 < scale, 0 < maxRatio, scale*maxRatio in BIGINT; " +
        s"got scale=$scale maxRatio=$maxRatio")
    def bucket(t: org.apache.spark.sql.Column) =
      conv(substring(md5(t), 1, 8), 16, 10).cast("long") % dim
    def bucketCounts(df: DataFrame): DataFrame =
      df.select(explode(tokens(lower(col(textCol)))).as("__t"))
        .filter(col("__t") =!= "")
        .select(bucket(col("__t")).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val counts = bucketCounts(target).withColumnRenamed("n", "__nt")
      .join(bucketCounts(raw).withColumnRenamed("n", "__nr"),
        Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("__nt"), lit(0L)).as("__nt"),
        coalesce(col("__nr"), lit(0L)).as("__nr"))
      .persist() // dim-bounded; read for the guard and the ratio table
    try {
      val maxNtRow = counts.agg(max(col("__nt"))).first()
      val maxNt = if (maxNtRow.isNullAt(0)) 0L else maxNtRow.getLong(0)
      require(maxNt + alpha <= Long.MaxValue / scale,
        s"scale·(maxTargetCount+α) would overflow: scale=$scale maxNt=$maxNt")
      val ratios = counts.select(col("bucket"),
        least(
          expr(s"(CAST($scale AS BIGINT) * (__nt + $alpha)) div (__nr + $alpha)"),
          lit(scale * maxRatio)).as("__r"))
      val feats = raw
        .select(col(idCol), explode(tokens(lower(col(textCol)))).as("__t"))
        .filter(col("__t") =!= "")
        .select(col(idCol), bucket(col("__t")).as("bucket"))
        .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("__c"))
      val scored = feats.join(broadcast(ratios), Seq("bucket"))
        .groupBy(col(idCol))
        .agg(sum(col("__c")).as("n_tokens"),
          sum(col("__c") * col("__r")).as("score"))
      // materialize before the ratio table unpersists
      graft.operators.CheckpointHygiene.materialize(scored
        .orderBy(col("score").desc, col(idCol).asc)
        .limit(k))
    } finally {
      counts.unpersist()
    }
  }

  /** Contrastive training pairs (the DPR/CLIP-text recipe): for every
    * document long enough to hold two chunks, the ANCHOR is its first
    * `chunkWidth`-char chunk, the POSITIVE its second (adjacent text
    * is the standard weak-supervision positive), and the NEGATIVE is
    * the anchor of the NEXT document on a seeded-hash ring — an
    * unbiased random-other-document negative that is deterministic
    * (a pure function of (corpus, chunkWidth, seed), q189-replayable)
    * and structurally self-exclusive (a ring has no fixed points for
    * N ≥ 2; the lone-document corpus yields no pairs rather than a
    * degenerate self-negative).
    *
    * Shape: one row-local chunk pass; the ring order is the
    * [[graft.operators.Relational.globalRowNumber]] two-pass rank on
    * (md5(id:seed), id) — parallel, never a global window; one 1-row
    * count broadcast and ONE join (rank → rank % N + 1) pairs each
    * anchor with its neighbor. Emits (doc_id, anchor, positive,
    * neg_doc_id, negative). */
  def contrastivePairs(docs: DataFrame, idCol: String, textCol: String,
      chunkWidth: Int, seed: Long = 0L): DataFrame = {
    require(chunkWidth > 0, s"chunkWidth must be positive, got $chunkWidth")
    val eligible = docs
      .filter(length(col(textCol)) > chunkWidth)
      .select(col(idCol).cast("long").as("doc_id"),
        substring(col(textCol), 1, chunkWidth).as("anchor"),
        col(textCol).substr(lit(chunkWidth + 1), lit(chunkWidth))
          .as("positive"))
    val ranked = graft.operators.Relational.globalRowNumber(eligible,
      Seq(md5(concat(col("doc_id").cast("string"), lit(":" + seed))),
        col("doc_id")), "__rk")
    val nDf = ranked.agg(max(col("__rk")).as("__n"))
    ranked.crossJoin(broadcast(nDf))
      .withColumn("__partner", col("__rk") % col("__n") + 1)
      .filter(col("__partner") =!= col("__rk"))
      .join(ranked.select(col("__rk").as("__partner"),
        col("doc_id").as("neg_doc_id"), col("anchor").as("negative")),
        Seq("__partner"))
      .select(col("doc_id"), col("anchor"), col("positive"),
        col("neg_doc_id"), col("negative"))
  }

  /** One-row DATASET CARD (the Datasheets-for-Datasets reporting
    * practice, reduced to its reproducible core): corpus size, token
    * totals, empties, the language inventory as a KEY-SORTED
    * `lang=n` string (the q38 map-export discipline — flat and
    * hashable cross-engine), the majority language with min-name
    * ties, and exact token extremes; `avg_tokens` is the one double
    * step (two exact BIGINTs through one division). Every column is
    * a pure function of the corpus, so two runs — or two engines —
    * must produce the identical card (q200); a drifting card IS the
    * regression signal. Cost: one corpus aggregate + a
    * language-bounded aggregate; the card row assembles from 1-row
    * broadcast frames. */
  def datasetCard(docs: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("__id"),
      col(langCol).cast("string").as("__lang"),
      graft.functions.token_count(col(textCol)).as("__nt"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      sum(col("__nt")).cast("long").as("n_tokens"),
      sum(when(col("__nt") === 0, 1L).otherwise(0L)).as("n_empty"),
      max(col("__nt")).as("max_tokens"),
      min(col("__nt")).as("min_tokens"))
    val langAgg = base.groupBy(col("__lang"))
      .agg(count(lit(1)).as("__c"))
    val langStats = langAgg.agg(
      count(lit(1)).as("n_langs"),
      max(col("__c")).as("__mc"),
      array_join(array_sort(collect_list(
        concat(col("__lang"), lit("="), col("__c")))), ",").as("lang_hist"))
    val top = langAgg.crossJoin(broadcast(langStats.select(col("__mc"))))
      .filter(col("__c") === col("__mc"))
      .agg(min(col("__lang")).as("top_lang"))
    stats.crossJoin(broadcast(langStats.drop("__mc")))
      .crossJoin(broadcast(top))
      .crossJoin(broadcast(langStats.select(col("__mc").as("top_lang_docs"))))
      .select(col("n_docs"), col("n_tokens"), col("n_empty"),
        col("max_tokens"), col("min_tokens"), col("n_langs"),
        col("top_lang"), col("top_lang_docs"), col("lang_hist"),
        // the oracle-gated mean lane is the exact floored rational
        // (r13: single-row global stats carry no IEEE float at the
        // gate); avg_tokens stays for library users, dropped at q200
        when(col("n_docs") > 0, expr(
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * n_tokens)
            |  div n_docs AS BIGINT)""".stripMargin))
          .as("avg_tokens_micro"),
        (col("n_tokens").cast("double") / col("n_docs")).as("avg_tokens"))
  }

  /** Exact-k GLOBAL uniform sample without replacement — the
    * "give me 10k docs for human eval / labeling / a quality probe"
    * primitive beside the per-stratum members of the family
    * ([[quotaSample]] pins counts per stratum; [[stratifiedSample]]
    * keeps expected fractions; this pins ONE corpus-wide count).
    * Selection is the k rows whose [[seededHash]] priority sorts
    * lowest (ties broken by id) — a seeded uniform permutation, so
    * the sample is reproducible across runs, engines, and cluster
    * sizes, and REFERENTIALLY STABLE under corpus growth in one
    * direction: a row leaves the sample only when a new row with a
    * smaller priority displaces it, never by reshuffling.
    *
    * Physical shape is the point: `orderBy(priority).limit(k)` plans
    * as TakeOrderedAndProject (spec-pinned) — a size-k heap PER
    * PARTITION, then one k-row merge — never a global sort, never a
    * window. Reservoir sampling's distributed analogue, without
    * reservoir state: at 100 TB the corpus streams once and only
    * k·partitions rows move. k is an Int (the result lands on one
    * reducer — by construction this operator is for k that fit). */
  def prioritySample(df: DataFrame, idCol: String, k: Int,
                     seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    df.orderBy(seededHash(col(idCol), seed), col(idCol)).limit(k)
  }

  /** Neyman (minimum-variance) sample allocation with exact
    * largest-remainder rounding — "how many eval examples per
    * stratum": nₕ ∝ Nₕ·Sₕ (bigger AND more variable strata deserve
    * more samples), apportioned to integers by Hamilton's method so
    * Σ alloc = k EXACTLY (floor-and-distribute: base = ⌊k·wₕ/W⌋,
    * the k − Σbase leftovers go to the largest remainders,
    * stratum-name tiebreak). Capped at Nₕ — a stratum can't give
    * more rows than it has; the overflow re-distributes NOWHERE
    * (reported via alloc < base cases staying visible), keeping the
    * arithmetic a pure function of the inputs.
    *
    * Strata stats arrive precomputed (group grain — the corpus-sized
    * aggregate is the caller's one pass); everything here is
    * |strata|-row arithmetic: one rank window over the strata table,
    * no data-sized motion. */
  def neymanAllocation(strata: DataFrame, stratumCol: String,
      nCol: String, sCol: String, k: Long): DataFrame = {
    require(k >= 0, s"k must be >= 0, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc, col(stratumCol))
    val weighted = strata.select(col(stratumCol),
        col(nCol).cast("long").as("n_stratum"),
        col(sCol).cast("long").as("s_stratum"))
      .withColumn("__w", col("n_stratum") * col("s_stratum"))
    val tot = weighted.agg(sum(col("__w")).as("__wt"))
    val based = weighted.crossJoin(broadcast(tot))
      .filter(col("__wt") > 0)
      .withColumn("__base", expr(s"($k * __w) div __wt"))
      .withColumn("__rem", expr(s"($k * __w) % __wt"))
      .withColumn("__rank", row_number().over(w))
    val spill = based.agg((lit(k) - sum(col("__base"))).as("__left"))
    based.crossJoin(broadcast(spill))
      .withColumn("alloc", least(col("n_stratum"),
        col("__base") + when(col("__rank") <= col("__left"), 1L)
          .otherwise(0L)))
      .select(col(stratumCol), col("n_stratum"), col("s_stratum"),
        col("__w").as("weight"), col("alloc"))
  }

  /** Water-filling (max-min fair) budget allocation across groups —
    * the epoch planner's fairness lane, complementing
    * [[tokenBudgetSelect]]'s fixed per-group caps: given each group's
    * SUPPLY (tokens it could contribute) and one global `budget`,
    * find the integer water level L and allocate min(supply, L) per
    * group, never exceeding the budget. Groups below the level give
    * everything; groups above are capped EQUALLY — no group starves
    * because another is huge. Up to |groups|−1 budget units stay
    * unallocated (the floor remainder — reported, not hidden).
    *
    * Exact integer derivation on the sorted supplies: with supplies
    * ascending, after the i−1 smallest are fully taken (prefix
    * cum_{i−1}), the remaining m_i groups split what's left; the
    * level is ⌊(budget − cum_{i−1}) / m_i⌋ at the FIRST i where that
    * stays below s_i (else every group is fully funded). One sort of
    * a |groups|-row table + one 1-row broadcast back: the data-sized
    * input was already reduced to per-group supplies by the caller's
    * aggregate, so every step here is group-grain. */
  def waterFill(supplies: DataFrame, groupCol: String, supplyCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("supply"), col(groupCol))
    val ranked = supplies
      .select(col(groupCol), col(supplyCol).cast("long").as("supply"))
      .withColumn("__cum",
        coalesce(sum(col("supply")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
      .withColumn("__m", count(lit(1)).over(
        w.rowsBetween(0, org.apache.spark.sql.expressions.Window
          .unboundedFollowing)))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cand", expr(s"($budget - __cum) div __m"))
    // the FIRST (ascending-supply) row whose candidate level stays
    // below its supply fixes the level; later candidates are computed
    // under a false "all smaller fully taken" premise and must not
    // win — hence the lexicographic (rank, cand) min, not min(cand)
    val level = ranked
      .agg(coalesce(min(when(col("__cand") < col("supply"),
        struct(col("__rn"), col("__cand")))).getField("__cand"),
        lit(Long.MaxValue)).as("__level"))
    ranked.crossJoin(broadcast(level))
      .select(col(groupCol), col("supply"),
        least(col("supply"), col("__level")).as("alloc"))
  }

  /** Largest-remainder (Hamilton) apportionment — split an integer
    * budget of `seats` across groups proportionally to an integer
    * weight, EXACTLY: base = ⌊seats·w / W⌋ per group, then the
    * leftover seats go to the largest remainders (seats·w mod W),
    * ties to the smallest group key. Σ seats is exactly the budget by
    * construction — the property "proportional-ish allocation" loses
    * whenever someone rounds independently per group. This is the
    * sampling-budget splitter quota pipelines need when
    * [[neymanAllocation]]'s variance weighting is overkill.
    *
    * One weight aggregate (broadcast scalars), remainder ranking via
    * [[graft.operators.Relational.globalRowNumber]] (group-grain —
    * two bounded passes, no single-partition window). Negative or
    * null weights are rejected rows (excluded, like a null class). */
  def largestRemainder(df: DataFrame, groupCol: String,
      weightCol: String, seats: Long): DataFrame = {
    require(seats >= 0, s"seats must be >= 0, got $seats")
    val g = df
      .filter(col(weightCol).isNotNull && col(weightCol) >= 0 &&
        col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("group"))
      .agg(sum(col(weightCol).cast("long")).as("w"))
    val wSum = g.agg(coalesce(sum(col("w")), lit(0L)).as("__W"))
    val based = g.crossJoin(broadcast(wSum))
      .withColumn("base_seats",
        when(col("__W") > 0, expr(s"($seats * w) div __W")).otherwise(0L))
      .withColumn("remainder",
        when(col("__W") > 0, expr(s"($seats * w) % __W")).otherwise(0L))
    val leftover = based.agg((lit(seats) -
      coalesce(sum(col("base_seats")), lit(0L))).as("__L"))
    val ranked = graft.operators.Relational.globalRowNumber(based,
      Seq(col("remainder").desc, col("group").asc), "__rk")
    ranked.crossJoin(broadcast(leftover))
      .withColumn("extra", when(col("__rk") <= col("__L"), 1L)
        .otherwise(0L))
      .withColumn("seats", col("base_seats") + col("extra"))
      .select(col("group"), col("w"), col("base_seats"),
        col("remainder"), col("extra"), col("seats"))
  }

  /** Systematic PPS (probability-proportional-to-size) selection,
    * EXACT — the survey/curation sampler that picks `k` slots along
    * the cumulative weight line at the midpoints (2i+1)·W/(2k),
    * i = 0..k−1, entirely in integers: with f(x) = ⌊(2k·x + W) /
    * (2W)⌋ counting selection points below x, an item covering
    * (cumPrev, cum] is selected f(cum) − f(cumPrev) times (an item
    * heavier than W/k can legitimately win multiple slots — PPS
    * semantics, reported, not clipped). Σ n_selected = k exactly:
    * f(W) = k, f(0) = 0, and f telescopes. Items are laid on the
    * line in (item) order — deterministic, growth-sensitive only
    * after the insertion point, like any systematic design.
    *
    * The GLOBAL running sum of weights rides
    * [[graft.operators.Relational.globalPrefixSum]]'s two-level scan
    * — never a partition-less window; cost stays item-grain at any
    * item count. */
  def ppsSystematic(df: DataFrame, itemCol: String, weightCol: String,
      k: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val g = df
      .filter(col(weightCol).isNotNull && col(weightCol) > 0 &&
        col(itemCol).isNotNull)
      .groupBy(col(itemCol).as("item"))
      .agg(sum(col(weightCol).cast("long")).as("w"))
    val wSum = g.agg(coalesce(sum(col("w")), lit(0L)).as("__W"))
    val cumDf = graft.operators.Relational.globalPrefixSum(g,
      Seq(col("item").asc), "w", "cum")
    cumDf.crossJoin(broadcast(wSum))
      .withColumn("__prev", col("cum") - col("w"))
      .withColumn("n_selected", expr(
        s"""CAST((2 * $k * CAST(cum AS DECIMAL(38,0)) + __W)
           |    div (2 * CAST(__W AS DECIMAL(38,0)))
           |  - (2 * $k * CAST(__prev AS DECIMAL(38,0)) + __W)
           |    div (2 * CAST(__W AS DECIMAL(38,0))) AS BIGINT)"""
          .stripMargin))
      .withColumn("selected", col("n_selected") >= 1)
      .select(col("item"), col("w"), col("cum"), col("n_selected"),
        col("selected"))
  }

  /** K-fold split assignment with a GROUP-LEAKAGE audit — the
    * train/eval split check every fine-tune review should run: rows
    * that share a group (user, document family, conversation) must
    * land in one fold together, or eval scores are contaminated by
    * near-duplicates of training rows. Returns one row per fold
    * comparing the two assignment policies:
    *   - GROUP policy (correct): fold = h(group) mod k — n_rows,
    *     n_groups per fold;
    *   - ROW policy (the naive bug): fold = h(id) mod k —
    *     row_assign_rows per fold, and split_groups = how many
    *     groups this fold shares with at least one other fold under
    *     it (each split group counts in EVERY fold it touches —
    *     the per-fold contamination surface, not a global scalar).
    * h = first 8 md5 hex digits of "value:seed" (the seededHash
    * spine — engine `conv(substr(md5(..)..),16,10)`, oracle
    * `('0x' || substr(md5(..)..))::BIGINT`, byte-identical).
    *
    * Shape: one row-grain projection, then fold-grain and
    * (fold,group)-grain aggregates — the distinct pair table is the
    * only exchange that scales with groups, never all-pairs. */
  def foldLeakage(df: DataFrame, idCol: String, groupCol: String,
      k: Int, seed: Long = 42L): DataFrame = {
    require(k >= 2 && k <= 1000, s"k must be in [2,1000], got $k")
    def fold(c: org.apache.spark.sql.Column) =
      pmod(conv(substring(seededHash(c, seed), 1, 8), 16, 10)
        .cast("long"), lit(k.toLong))
    val staged = df
      .filter(col(idCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).as("__g"),
        fold(col(groupCol)).as("__gf"), fold(col(idCol)).as("__rf"))
    val byGroupPolicy = staged.groupBy(col("__gf").as("fold"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("__g")).as("n_groups"))
    val byRowPolicy = staged.groupBy(col("__rf").as("fold"))
      .agg(count(lit(1)).as("row_assign_rows"))
    val pairs = staged.select(col("__rf"), col("__g")).distinct()
    val splitGroups = pairs.groupBy(col("__g"))
      .agg(count(lit(1)).as("__nf"))
      .filter(col("__nf") > 1L)
      .select(col("__g"))
    val perFold = pairs.join(splitGroups, Seq("__g"), "left_semi")
      .groupBy(col("__rf").as("fold"))
      .agg(count(lit(1)).as("split_groups"))
    byGroupPolicy
      .join(byRowPolicy, Seq("fold"), "full_outer")
      .join(perFold, Seq("fold"), "full_outer")
      .select(col("fold"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_groups"), lit(0L)).as("n_groups"),
        coalesce(col("row_assign_rows"), lit(0L)).as("row_assign_rows"),
        coalesce(col("split_groups"), lit(0L)).as("split_groups"))
  }

  /** Balanced class downsampling — equalize label counts by keeping
    * exactly min-class-count rows PER CLASS, selected by the
    * deterministic md5(id:seed) priority (the q89 split-coin: stable
    * under corpus growth for the rows that stay, replayable by any
    * engine, and free of RNG state). The classifier-training
    * counterpart of [[domainCap]]: there the cap is a parameter, here
    * it's the rarest class's size. Ties inside one priority value
    * (hash collisions) break on the id — a total order. Rows with a
    * null class or id are excluded (they can't be balanced into a
    * class).
    *
    * One class-count aggregate (broadcast scalar of the min), one
    * class-partitioned rank window — a single exchange on the class
    * key. */
  def classBalance(df: DataFrame, idCol: String, classCol: String,
      seed: Long): DataFrame = {
    val pri = md5(concat(col(idCol).cast("string"), lit(":"),
      lit(seed.toString)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(classCol)).orderBy(pri.asc, col(idCol).asc)
    val base = df.filter(col(idCol).isNotNull && col(classCol).isNotNull)
    val minCount = base.groupBy(col(classCol))
      .agg(count(lit(1)).as("__c"))
      .agg(min(col("__c")).as("__m"))
    base.crossJoin(broadcast(minCount))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= col("__m"))
      .drop("__rk", "__m")
  }
}
