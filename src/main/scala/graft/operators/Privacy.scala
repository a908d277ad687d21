package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Re-identification-risk gates for released datasets — the
  * STRUCTURED-side privacy family next to the free-text side
  * (`TextOps.redactPii` / `luhnCards` scrub what a value CONTAINS;
  * these gate what a row's value COMBINATION reveals). The reference
  * pipeline republishes per-user comment records verbatim
  * (/root/reference/silver_clean_comments.py:40-56 keeps author ids);
  * a real release pipeline must first check how identifying the kept
  * columns are in combination — the k-anonymity model (Sweeney 2002,
  * public literature).
  *
  * All operators are exact and deterministic: group sizes are plain
  * counts, flags are comparisons, suppression is a null-out. Physical
  * shape is one hash aggregate at quasi-identifier grain plus (for
  * row-grain output) one shuffled join back on the same keys — the
  * aggregate reuses the join's partitioning, and at 100 TB the QI
  * grain table is corpus-sized only in the degenerate all-unique
  * case, exactly the case the gate exists to catch.
  */
object Privacy {

  /** Equivalence-class profile for a quasi-identifier combination:
    * one row per distinct QI tuple with its population `class_size`
    * and `k_anonymous = class_size >= k` — the release gate. A
    * dataset is k-anonymous iff every row's class has ≥ k members;
    * the violating classes (k_anonymous = false) are exactly the
    * rows a linker could single out with outside knowledge of the
    * QI columns. Null QI values group as values (SQL GROUP BY
    * semantics) — "unknown ZIP" is itself a linkable attribute. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
      k: Int): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymity needs at least one QI column")
    require(k >= 2 && k <= 1000000, s"k must be in [2,1000000], got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .withColumn("k_anonymous", col("class_size") >= k)
  }

  /** Row-grain suppression release: rows whose QI class has ≥ k
    * members pass through unchanged; rows in smaller classes keep
    * their non-QI payload but every QI column is nulled (suppressed)
    * — the simplest k-anonymization that never publishes a
    * linkable combination and never drops a row (row counts, joins
    * on the row key, and non-QI aggregates stay exact). `suppressed`
    * flags what happened to each row so downstream accounting can
    * separate the lanes.
    *
    * One aggregate + one NULL-SAFE equi-join on the QI keys (`<=>`:
    * a null-QI row must find its own class — "unknown ZIP" rows are
    * a class, and a plain equi-join would orphan them with a null
    * flag); the join reuses the aggregate's hash partitioning (same
    * keys), so the corpus shuffles once. */
  def suppress(df: DataFrame, quasiCols: Seq[String],
      k: Int): DataFrame = {
    val classes = kAnonymity(df, quasiCols, k)
      .select(quasiCols.map(c => col(c).as(s"__qi_$c")) :+
        col("k_anonymous"): _*)
    val cond = quasiCols.map(c => col(c) <=> col(s"__qi_$c"))
      .reduce(_ && _)
    val joined = df.join(classes, cond, "left")
    val out = df.columns.map { c =>
      if (quasiCols.contains(c))
        when(col("k_anonymous"), col(c)).as(c)
      else col(c)
    }
    joined.select(out :+ (!col("k_anonymous")).as("suppressed"): _*)
  }

  /** Distinct-l-diversity check on top of [[kAnonymity]]: a class
    * can be large (k-safe) yet reveal its SENSITIVE attribute when
    * every member shares one value — 500 patients in the class, all
    * with the same diagnosis, is a disclosure with no
    * re-identification at all. One row per QI class with
    * `n_sensitive_values` (distinct sensitive values inside the
    * class) and `l_diverse = n_sensitive_values >= l`. Exact
    * distinct at class grain — two-level hash aggregate, no
    * approximation (the sketch family trades exactness for state
    * only when the grain explodes; a class's distinct-value count
    * is bounded by the sensitive vocabulary). */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "lDiversity needs at least one QI column")
    require(l >= 2 && l <= 1000000, s"l must be in [2,1000000], got $l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitiveCol)).as("n_sensitive_values"))
      .withColumn("l_diverse", col("n_sensitive_values") >= l)
  }

  /** t-closeness audit (Li et al. 2007) — the third leg of the
    * anonymity triad ([[kAnonymity]] counts, [[lDiversity]] distinct
    * values, this one measures DISTRIBUTIONS): per equivalence class,
    * the total-variation distance between the class's sensitive-value
    * distribution and the global one (TVD = EMD under the uniform
    * categorical ground metric — the standard categorical reading of
    * the paper),
    *   tvd = ½ Σ_v |n_cv/n_c − N_v/N|,
    * carried EXACTLY as tvd_micro = ⌊10⁶·Σ|n_cv·N − N_v·n_c| /
    * (2·n_c·N)⌋ — cross-multiplied in DECIMAL(38,0), one floor.
    * A class is t-close when tvd_micro ≤ tMicro. Values a class
    * lacks still contribute (the spine is classes × global values);
    * null sensitive values are excluded up front.
    *
    * Shape: three hash aggregates (value grain, class grain,
    * class×value grain), the spine join is classes × |values| —
    * sensitive-attribute cardinality, not row count. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, tMicro: Long): DataFrame = {
    require(quasiCols.nonEmpty, "tCloseness needs at least one QI column")
    require(tMicro >= 0 && tMicro <= 1000000, s"tMicro $tMicro out of range")
    val base = df.filter(col(sensitiveCol).isNotNull)
      .select((quasiCols.map(col) :+ col(sensitiveCol).as("__v")): _*)
      .persist()
    val gv = base.groupBy(col("__v")).agg(count(lit(1)).as("__nv"))
    val total = base.count()
    val cls = base.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
    val cv = base.groupBy((quasiCols.map(col) :+ col("__v")): _*)
      .agg(count(lit(1)).as("__ncv"))
    val out = CheckpointHygiene.materialize(cls.crossJoin(broadcast(gv))
      .join(cv, quasiCols :+ "__v", "left")
      .withColumn("__ncv0", coalesce(col("__ncv"), lit(0L)))
      .withColumn("__term", abs(
        expr(s"CAST(__ncv0 AS DECIMAL(38,0)) * $total") -
          expr("CAST(__nv AS DECIMAL(38,0)) * class_size")))
      .groupBy((quasiCols.map(col) :+ col("class_size")): _*)
      .agg(sum(col("__term")).as("__num"))
      .withColumn("tvd_micro", expr(
        s"""CAST((1000000 * __num)
           |  div (2 * CAST(class_size AS DECIMAL(38,0)) * $total)
           |  AS BIGINT)""".stripMargin))
      .withColumn("t_close", col("tvd_micro") <= tMicro)
      .drop("__num"))
    base.unpersist()
    out
  }

  /** Randomized response (Warner 1965 — the local-DP mechanism that
    * needs no transcendental noise): each unit reports its TRUE bool
    * with probability p and the FLIP with 1−p, and the aggregate
    * debiases exactly: π̂ = (ȳ_reported − (1−p)) / (2p−1). Here the
    * "coin" is a deterministic keyed hash — first 8 hex of
    * md5(id:salt) compared against the p·2³² threshold (the q89
    * split convention: lowercase fixed-width hex compares as the
    * integer) — so the mechanism is replayable cross-engine while
    * keeping the per-row flip unpredictable without the salt. p must
    * be pNum/2^pBits with 2p > 1 (require), so the threshold is an
    * EXACT 32-bit integer and the debias denominator is nonzero.
    *
    * Output per group: n, n_reported_true, and est_milli — the
    * debiased true-rate estimate, ONE sign-split floored division of
    * BIGINT-exact cross-multiplied terms:
    *   est = 1000·(2^bits·yes − (2^bits−num)·n) / ((2·num − 2^bits)·n).
    * Estimates may legally fall outside [0,1000] on small n — survey
    * literature clips downstream, the engine reports the unbiased
    * value. One row-local hash + one hash aggregate, no joins. */
  def randomizedResponse(df: DataFrame, groupCol: String, idCol: String,
      truthCol: String, pNum: Long, pBits: Int, salt: Long): DataFrame = {
    require(pBits >= 1 && pBits <= 32, s"pBits $pBits out of [1,32]")
    val den = 1L << pBits
    require(pNum > den / 2 && pNum < den,
      s"p = $pNum/$den must satisfy 1/2 < p < 1 (p = 1 is no mechanism)")
    // report truth iff hash32 < p·2^32, i.e. hex < threshold hex
    val thrHex = f"${pNum << (32 - pBits)}%08x"
    val h = substring(md5(concat(col(idCol).cast("string"),
      lit(":"), lit(salt.toString))), 1, 8)
    val reported = col(truthCol) =!= (h >= lit(thrHex))
    df.filter(col(truthCol).isNotNull && col(idCol).isNotNull)
      .select(col(groupCol).as("group"), reported.as("__r"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n"),
        sum(col("__r").cast("long")).as("n_reported_true"))
      .withColumn("est_milli", expr(
        s"""CASE WHEN 1000 * ($den * n_reported_true - ${den - pNum} * n) >= 0
           | THEN (1000 * ($den * n_reported_true - ${den - pNum} * n))
           |   div ((2 * $pNum - $den) * n)
           | ELSE -((-(1000 * ($den * n_reported_true - ${den - pNum} * n)))
           |   div ((2 * $pNum - $den) * n)) END""".stripMargin)
        .cast("long"))
  }

  /** Per-user contribution bounding — the universal PREPARATION step
    * of every user-level differential-privacy release (and a skew
    * killer in its own right): global sensitivity of a count/sum is
    * unbounded until each user contributes at most k rows. Keeps a
    * DETERMINISTIC, engine-independent k-subset per user: rows rank
    * by (md5(id:seed), id) — the [[randomizedResponse]] seeded-hash
    * family — so reruns, backfills, and the DuckDB oracle all select
    * the SAME rows (a nondeterministic cap would make the release
    * unauditable). Returns the capped rows with their `__rank`;
    * aggregate downstream as usual — any per-user count is now ≤ k
    * by construction.
    *
    * Shape: one keyed window (partitions are per-user row sets —
    * user grain, never global), zero joins. */
  def capContributions(df: DataFrame, userCol: String, idCol: String,
      k: Int, seed: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(md5(concat(col(idCol).cast("string"), lit(":" + seed))),
        col(idCol).cast("string"))
    df.filter(col(userCol).isNotNull && col(idCol).isNotNull)
      .withColumn("__rank", row_number().over(w).cast("long"))
      .filter(col("__rank") <= k.toLong)
  }

  /** t-closeness under the ORDERED ground metric — the companion of
    * [[tCloseness]] (which uses the uniform categorical metric /
    * TVD): for a NUMERIC sensitive attribute, Li et al.'s paper
    * prescribes the ordered EMD, which catches what TVD structurally
    * cannot — a class whose salaries are all shifted HIGH has small
    * per-value overlaps (large TVD lanes everywhere in any case) but
    * crucially EMD grows with the DISTANCE mass must travel, so
    * "slightly high everywhere" and "extreme outliers" rank
    * differently (the classic "all the small ZIP's salaries are
    * high" attack).
    * Per QI class, the ordered Earth-Mover's Distance between the
    * class's and the global value distribution over the m-point
    * global grid, EXACT over cleared denominators:
    *   emd_num = Σᵢ |cumᵢ(class)·N − cumᵢ(global)·n|
    *   t_micro = ⌊10⁶·emd_num / (n·N·(m−1))⌋      (m ≥ 2; the
    *   1-value grid has zero distance by definition → t_micro 0)
    * DECIMAL(38,0) lanes hold Σ to m·N² ≈ 10³⁸ (N·√m ≲ 10¹⁶).
    *
    * Shape: one global value census (prefix-summed on the BOUNDED
    * quantized grid), one (class, value) census, then each class
    * meets the grid via a classes×grid expansion with a
    * forward-fill window for the class's cumulative between its own
    * value points — the expansion IS t-closeness's cost
    * (|classes|·m rows), so quantize the sensitive attribute to the
    * grid you can afford (privacy releases do anyway). Null QI
    * values form their own class (the [[suppress]] convention);
    * null sensitive values are excluded. */
  def tClosenessOrdered(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String): DataFrame = {
    require(quasiCols.nonEmpty,
      "tClosenessOrdered needs at least one QI column")
    val staged = df.filter(col(sensitiveCol).isNotNull)
      .select(quasiCols.map(col) :+
        floor(col(sensitiveCol) * 1000).cast("long").as("__v"): _*)
    val grid = staged.groupBy(col("__v")).agg(count(lit(1)).as("__g"))
    val wg = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
    val gridCum = grid
      .withColumn("__gcum", sum(col("__g")).over(wg))
      .crossJoin(broadcast(grid.agg(
        coalesce(sum(col("__g")), lit(0L)).as("__N"),
        count(lit(1)).as("__m"))))
      .select(col("__v"), col("__gcum"), col("__N"), col("__m"))
    val classes = staged.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
    val classVals = staged.groupBy(quasiCols.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
      .select(quasiCols.map(c => col(c).as(s"__qi_$c")) ++
        Seq(col("__v").as("__v2"), col("__c")): _*)
    // classes x grid expansion (broadcast grid: bounded by design);
    // the class's CUMULATIVE count at each grid point is simply the
    // running sum of its own per-value counts (absent values add 0),
    // so one window does the forward fill
    val qiKeys = quasiCols.map(c => col(c))
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy(qiKeys: _*).orderBy(col("__v"))
    classes.join(broadcast(gridCum))
      .join(classVals,
        quasiCols.map(c => col(c) <=> col(s"__qi_$c")).reduce(_ && _) &&
          col("__v") === col("__v2"), "left")
      .drop(quasiCols.map(c => s"__qi_$c"): _*).drop("__v2")
      .withColumn("__cfill", sum(coalesce(col("__c"), lit(0L))).over(wc))
      .groupBy(quasiCols.map(col) :+ col("n"): _*)
      .agg(coalesce(sum(expr(
        "ABS(CAST(__cfill AS DECIMAL(38,0)) * __N - CAST(__gcum AS DECIMAL(38,0)) * n)")),
        lit(0).cast("decimal(38,0)")).as("__emd"),
        max(col("__N")).as("__N2"), max(col("__m")).as("__m2"))
      .withColumn("t_micro", expr(
        """CASE WHEN __m2 >= 2 THEN
          |  CAST((CAST(1000000 AS DECIMAL(38,0)) * __emd)
          |    div (CAST(n AS DECIMAL(38,0)) * __N2 * (__m2 - 1))
          |    AS BIGINT)
          |ELSE 0L END""".stripMargin))
      .select(quasiCols.map(col) ++
        Seq(col("n"), col("__emd").cast("long").as("emd_num"),
          col("t_micro")): _*)
  }
}
