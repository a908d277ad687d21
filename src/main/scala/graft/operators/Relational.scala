package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Typed row for [[Relational.maxEventGap]]. */
case class KeyedTs(key: Long, tsMicros: Long)
case class KeyGap(key: Long, max_gap_us: Long, n_events: Long)

/** Typed rows for [[Relational.funnel]]. */
case class KeyedTypedTs(key: Long, tsMicros: Long, etype: String)
case class FunnelRow(key: Long, steps_completed: Int, step_ts: Seq[Option[Long]])

/** Relational building blocks the reference implies but never wrote
  * (SURVEY.md §2.4–§2.7): grouped top-k (the `min(n,100)` per-video
  * comment clamp done right — /root/reference/function_app.py:99) and
  * a scalable as-of join (the events-table time-series need).
  *
  * Plain joins / set ops / windows are deliberately NOT wrapped: the
  * Spark API already is the engine surface, and Catalyst picks
  * broadcast-hash vs shuffled-hash vs sort-merge on its own.
  */
object Relational {

  /** Top-k rows per group, deterministic given a total tiebreak in
    * `orderBy`. Physical shape: one hash shuffle on `partitionCols`,
    * then a running `row_number` — no global sort, no driver collect;
    * scales linearly with data at fixed k. */
  def groupedTopK(df: DataFrame, partitionCols: Seq[Column],
                  orderBy: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** [[groupedTopK]] for SKEWED groups: a mega-group (half the web on
    * one CDN host, a bot user) funnels its whole window input through
    * one partition in the single-phase form. Two exact phases instead:
    * rows first compete within (group, salt) — `salts` random buckets
    * per group, so the hot group's pre-filter runs `salts`-wide in
    * parallel — then the per-salt top-k survivors (≤ salts·k rows per
    * group, whatever the group's true size) meet in the final exact
    * per-group window. Any row in the true global top-k is in its
    * salt's top-k, so the result EQUALS single-phase groupedTopK
    * (parity spec); the only cost is a second (tiny) shuffle. Use
    * when a group can exceed a partition; for bounded groups the
    * plain form's single shuffle wins. */
  def groupedTopKSalted(df: DataFrame, partitionCols: Seq[Column],
                        orderBy: Seq[Column], k: Int,
                        salts: Int = 16): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    // salt = row-content hash: deterministic, and ANY assignment is
    // correct (the two-phase result is exact regardless of how rows
    // split across salts)
    val salted = df.withColumn("__salt",
      pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(salts)))
    val local = groupedTopK(salted, partitionCols :+ col("__salt"), orderBy, k)
      .drop("__salt")
    groupedTopK(local, partitionCols, orderBy, k)
  }

  /** Backward as-of join: for each left row, attach the payload of the
    * right row with the greatest `rightTime <= leftTime` for the same
    * key (SQL: DuckDB's `ASOF JOIN`).
    *
    * Implementation is the union+window trick (SURVEY.md §2.4): tag
    * both sides, union by name, and take `last(struct(payload…),
    * ignoreNulls)` over (key ORDER BY time, side) — right rows sort
    * before left rows at equal timestamps, so an exactly-simultaneous
    * right row is visible to the left row (`>=` semantics). The fill
    * carries the whole payload STRUCT (non-null for every right row),
    * not each column independently: a matched right row whose payload
    * VALUE is null therefore wins over a stale older row — identical
    * null semantics to [[graft.plans.AsOfJoinExec]].
    *
    * Scale rationale: a naive range join is O(|L|·|R|) per key
    * (BroadcastNestedLoopJoin); this is ONE hash shuffle of L∪R on the
    * key plus a per-partition sort — the same cost profile as a
    * sort-merge join, and AQE can still coalesce the output. Duplicate
    * right timestamps per key must be pre-deduplicated by the caller if
    * a deterministic winner is required.
    *
    * @param payload right-side columns to carry (must not collide with
    *                left column names)
    */
  def asofJoinBackward(left: DataFrame, right: DataFrame,
                       leftTime: String, rightTime: String,
                       leftKey: String, rightKey: String,
                       payload: Seq[String]): DataFrame = {
    val leftCols = left.columns
    val l = left
      .withColumn("__k", col(leftKey))
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
    val r0 = right.select(
      (col(rightKey).as("__k") +: col(rightTime).as("__t") +: lit(0).as("__side")
        +: payload.map(col)): _*)
    // Align schemas: left lacks payload cols, right lacks left cols.
    val unioned = l.unionByName(r0, allowMissingColumns = true)
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Non-null for every RIGHT row (struct of possibly-null fields), null
    // for left rows — so ignoreNulls skips left rows but never a matched
    // right row, even one whose payload values are all null.
    val tagged = unioned.withColumn("__payload",
      when(col("__side") === 0, struct(payload.map(col): _*)))
    val filled = tagged.withColumn("__payload",
      last(col("__payload"), ignoreNulls = true).over(w))
    filled.filter(col("__side") === 1)
      .select((leftCols.toSeq.map(col) ++
        payload.map(p => col(s"__payload.$p").as(p))): _*)
  }

  /** Forward as-of join — [[asofJoinBackward]] mirrored: for each left
    * row, attach the payload of the right row with the SMALLEST
    * `rightTime >= leftTime` for the same key (the "next reading /
    * next state change" lookup; SQL: DuckDB `ASOF JOIN … ON l.t <=
    * r.t`). Same union+window shape and null semantics; the window
    * runs current-row→following with `first(ignoreNulls)`, and right
    * rows sort AFTER left rows at equal timestamps so an
    * exactly-simultaneous right row is still visible (`>=`
    * inclusivity). One hash shuffle of L∪R on the key. */
  def asofJoinForward(left: DataFrame, right: DataFrame,
                      leftTime: String, rightTime: String,
                      leftKey: String, rightKey: String,
                      payload: Seq[String]): DataFrame = {
    val leftCols = left.columns
    val l = left
      .withColumn("__k", col(leftKey))
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(0))
    val r0 = right.select(
      (col(rightKey).as("__k") +: col(rightTime).as("__t") +: lit(1).as("__side")
        +: payload.map(col)): _*)
    val unioned = l.unionByName(r0, allowMissingColumns = true)
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t").asc, col("__side").asc)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val tagged = unioned.withColumn("__payload",
      when(col("__side") === 1, struct(payload.map(col): _*)))
    val filled = tagged.withColumn("__payload",
      first(col("__payload"), ignoreNulls = true).over(w))
    filled.filter(col("__side") === 0)
      .select((leftCols.toSeq.map(col) ++
        payload.map(p => col(s"__payload.$p").as(p))): _*)
  }

  /** NEAREST as-of join — the third member of the as-of family
    * ([[asofJoinBackward]] `rt ≤ t`, [[asofJoinForward]] `rt ≥ t`):
    * for each left row, the right row minimizing `|rt − t|` for the
    * same key, ties (equidistant before/after) resolved BACKWARD —
    * the "closest sensor reading" lookup neither direction alone
    * answers. Output contract matches the siblings: left columns ++
    * payload, null payload when the key has no right rows at all.
    *
    * ONE union + ONE hash shuffle + per-partition sort, with BOTH
    * directional fills as two frames over the same window ordering
    * (right rows sort before left at equal timestamps, so a
    * simultaneous right row is caught by the backward frame with
    * Δ = 0 — which beats anything the forward frame could offer, so
    * forward's equal-t blindness under this ordering is harmless).
    * Distances compare in EXACT integer micros for timestamp keys
    * (double cast would round µs ties differently than the q214
    * oracle's integer math); other numeric key types compare as
    * doubles. Duplicate right timestamps per key must be
    * pre-deduplicated by the caller, as with the siblings. */
  def asofJoinNearest(left: DataFrame, right: DataFrame,
                      leftTime: String, rightTime: String,
                      leftKey: String, rightKey: String,
                      payload: Seq[String]): DataFrame = {
    require(!payload.contains("__rt"), "payload may not contain __rt")
    val leftCols = left.columns
    val l = left
      .withColumn("__k", col(leftKey))
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(1))
    val r0 = right.select(
      (col(rightKey).as("__k") +: col(rightTime).as("__t") +: lit(0).as("__side")
        +: payload.map(col)): _*)
    val unioned = l.unionByName(r0, allowMissingColumns = true)
    val isTs = left.schema(leftTime).dataType ==
      org.apache.spark.sql.types.TimestampType
    def num(c: Column): Column = if (isTs) unix_micros(c) else c.cast("double")
    val ord = Seq(col("__t").asc, col("__side").asc)
    val wb = Window.partitionBy(col("__k")).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("__k")).orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val tagged = unioned.withColumn("__payload",
      when(col("__side") === 0,
        struct((col("__t").as("__rt") +: payload.map(col)): _*)))
    val both = tagged
      .withColumn("__b", last(col("__payload"), ignoreNulls = true).over(wb))
      .withColumn("__f", first(col("__payload"), ignoreNulls = true).over(wf))
    val t = num(col("__t"))
    val chosen = when(col("__b").isNull, col("__f"))
      .when(col("__f").isNull, col("__b"))
      .when(t - num(col("__b.__rt")) <= num(col("__f.__rt")) - t, col("__b"))
      .otherwise(col("__f"))
    both.filter(col("__side") === 1)
      .withColumn("__c", chosen)
      .select((leftCols.toSeq.map(col) ++
        payload.map(p => col(s"__c.$p").as(p))): _*)
  }

  /** Interval-concurrency profile — the sweep line over [start, end)
    * intervals: for each distinct boundary timestamp, how many
    * intervals are ACTIVE from that instant until the next boundary
    * (concurrent sessions, overlapping downloads, peak-load
    * accounting). End-exclusive semantics mean an interval ending at
    * t and another starting at t never overlap — so all of a
    * timestamp's +1/−1 deltas collapse into one NET delta first
    * (groupBy t), which also makes intra-timestamp ordering
    * irrelevant by construction.
    *
    * The running sum over ordered distinct timestamps is GLOBAL —
    * the NTILE trap — so it is the engine's one two-pass prefix sum,
    * [[runningSums]]. No partition-less window at any scale.
    * Zero-length intervals net to 0 and reversed
    * (end < start) intervals are excluded (both documented
    * policies); output: (t_us, n_starts, n_ends, active). */
  def concurrencyProfile(df: DataFrame, startCol: String,
      endCol: String): DataFrame = {
    val base = df
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        unix_micros(col(endCol)) >= unix_micros(col(startCol)))
    val deltas = base
      .select(unix_micros(col(startCol)).as("t_us"), lit(1L).as("__d"))
      .unionByName(base
        .select(unix_micros(col(endCol)).as("t_us"), lit(-1L).as("__d")))
      .groupBy(col("t_us"))
      .agg(sum(when(col("__d") === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("__d") === -1L, 1L).otherwise(0L)).as("n_ends"),
        sum(col("__d")).as("__net"))
    runningSums(deltas, Seq(col("t_us")), Seq("active" -> col("__net")))
      .select(col("t_us"), col("n_starts"), col("n_ends"), col("active"))
  }

  /** Time-weighted average (TWAP) per key — the step-function
    * integral the point-in-time family needs beside OHLC (q125):
    * each observation holds its value until the NEXT observation, so
    * the mean weights each value by its holding duration, not its
    * sample count — the correct summary for irregularly-sampled
    * series (a sensor that reports hourly and one that reports on
    * change must not average differently).
    *
    * Integer-exact core: values quantize to milli-units
    * (⌊value·1000⌋ — one correctly-rounded IEEE multiply, identical
    * on any engine), durations are exact BIGINT micros from
    * `lead(ts)`, and the integral Σ milli·Δt_us / Σ Δt_us is one
    * BIGINT division — the q217 oracle replays every column. The
    * true-double `twap` rides beside it, derived from the SAME
    * integer sums (exact integers in doubles up to 2⁵³, then one
    * IEEE division — engine-stable). Keys with one observation have
    * zero span → null TWAP (nothing was held for any duration).
    * Output: key ++ (n_obs, span_us, twap_num, twap_milli, twap).
    * `twap_milli`'s division TRUNCATES toward zero (Spark `div`) —
    * the documented semantics for negative dividends (net-negative
    * value series) — and the q217 oracle replays exactly that via
    * the sign-split `CASE` over DuckDB's flooring `//` (the
    * Learn.sdiv bridge), so the lanes agree for ALL inputs; the
    * double lane is sign-free anyway. Duplicate timestamps per key
    * carry zero duration,
    * so their (arbitrary) relative order cannot change the
    * integral.
    *
    * One key-partitioned window + one hash aggregate; no
    * partition-less window, state bounds at key grain. */
  def twap(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__t"))
    val staged = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol), unix_micros(col(tsCol)).as("__t"),
        floor(col(valueCol) * lit(1000)).cast("long").as("__mv"))
      .withColumn("__dt", lead(col("__t"), 1).over(w) - col("__t"))
    staged.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_obs"),
        coalesce(sum(col("__dt")), lit(0L)).as("span_us"),
        coalesce(sum(col("__mv") * col("__dt")), lit(0L)).as("twap_num"))
      .select(col(keyCol), col("n_obs"), col("span_us"), col("twap_num"),
        when(col("span_us") > 0,
          expr("twap_num div span_us")).as("twap_milli"),
        when(col("span_us") > 0,
          col("twap_num").cast("double") /
            col("span_us").cast("double") / lit(1000.0)).as("twap"))
  }

  /** Per-key exponentially weighted moving average, exact integer
    * milli lanes — the online smoother beside [[twap]]'s integral
    * (monitoring dashboards, per-source quality trends, rate
    * estimators): s₁ = v₁, sₜ = ⌊(α·vₜ + (1000−α)·sₜ₋₁)/1000⌋ with
    * α in milli and values milli-quantized (⌊value·1000⌋ — the twap
    * staging). The PER-STEP floor is the semantics, not a shortcut:
    * it keeps every state BIGINT-exact so the whole trajectory
    * replays engine-to-engine (the closed-form Σα(1−α)ᵏ weights
    * would need floats and could never be value-pinned). Floor (not
    * truncate) division — Math.floorDiv here; the oracle floors
    * explicitly via the subtract-nonneg-mod form, because DuckDB's
    * integer `//` TRUNCATES toward zero (measured, not assumed) —
    * so negative series agree too.
    *
    * A per-step-floored recurrence is inherently SEQUENTIAL per key
    * (no associative reformulation survives the floor), so this is
    * the [[graft.operators.Packing.packGreedy]] shape, not a window:
    * one shuffle to co-locate each key, a sort within partitions on
    * (key, orderCols), and a single streaming pass with O(1) state —
    * a key longer than executor memory still streams, and
    * parallelism is across keys (the natural unit; a global EWMA of
    * an unpartitioned 100 TB stream is a design error upstream).
    * `orderCols` must be a deterministic total order per key (ts
    * plus a unique tiebreaker) or the trajectory is not well-defined.
    * Null values emit a null state and do NOT advance the smoother
    * (a gap is not a zero). Output: input columns + ewma_milli. */
  def ewmaMilli(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String, alphaMilli: Long): DataFrame = {
    require(alphaMilli >= 1 && alphaMilli <= 1000,
      s"alphaMilli must be in [1,1000], got $alphaMilli")
    require(orderCols.nonEmpty, "orderCols must define a total order")
    val staged = df.withColumn("__mv",
      floor(col(valueCol) * lit(1000)).cast("long"))
    val ki = staged.columns.indexOf(keyCol)
    val vi = staged.columns.indexOf("__mv")
    val a = alphaMilli
    df.sparkSession.createDataFrame(
      staged.repartition(col(keyCol))
        .sortWithinPartitions((col(keyCol) +: orderCols.map(col)): _*)
        .rdd.mapPartitions { rows =>
          var curKey: Any = null
          var first = true
          var has = false
          var s = 0L
          rows.map { r =>
            val k = r.get(ki)
            if (first || k != curKey) {
              curKey = k; first = false; has = false; s = 0L
            }
            val out: Any =
              if (r.isNullAt(vi)) null
              else {
                val v = r.getLong(vi)
                s = if (!has) v
                    else Math.floorDiv(
                      Math.addExact(Math.multiplyExact(a, v),
                        Math.multiplyExact(1000L - a, s)), 1000L)
                has = true
                s
              }
            org.apache.spark.sql.Row.fromSeq(r.toSeq.dropRight(1) :+ out)
          }
        },
      org.apache.spark.sql.types.StructType(
        staged.schema.fields.dropRight(1) :+
          org.apache.spark.sql.types.StructField("ewma_milli",
            org.apache.spark.sql.types.LongType, nullable = true)))
  }

  /** Skyline (Pareto frontier) over long-typed `dims`, all maximized:
    * keep rows not dominated by any other row (p dominates q ⇔ p ≥ q
    * on every dim and p > q on at least one; exact ties on all dims
    * dominate neither way, so duplicates co-survive). The
    * multi-objective "best documents" selector — quality vs length vs
    * recency — where any single weighted score bakes in an arbitrary
    * tradeoff.
    *
    * Physical shape is the classic two-phase distributed skyline:
    * (1) a LOCAL frontier per partition (imperative frontier scan —
    * genuinely sequential, the sanctioned mapPartitions case), which
    * shrinks n to the partition frontiers, then (2) the same scan
    * once over the unioned candidates on one partition. Correct
    * because dominance is transitive: any global survivor survives
    * its own partition, and any globally dominated row is dominated
    * by some phase-2 survivor. Phase-2 input is Σ local frontiers —
    * for real corpora orders of magnitude below n (frontier size
    * concentrates around O(ln^{k-1} n) for independent dims); a
    * pathological all-frontier input degrades to a single-node
    * O(f²) pass, observable, not silent. */
  def skyline(df: DataFrame, dims: Seq[String]): DataFrame = {
    require(dims.nonEmpty, "skyline needs at least one dimension")
    val idx = dims.map(d => df.columns.indexOf(d))
    require(idx.forall(_ >= 0), s"missing dim among ${dims.mkString(",")}")
    val schema = df.schema
    dims.foreach { d =>
      require(schema(d).dataType == org.apache.spark.sql.types.LongType,
        s"skyline dims must be LONG, $d is ${schema(d).dataType}")
    }
    def localFrontier(it: Iterator[org.apache.spark.sql.Row])
        : Iterator[org.apache.spark.sql.Row] = {
      val frontier = scala.collection.mutable.ArrayBuffer
        .empty[(Array[Long], org.apache.spark.sql.Row)]
      def dominates(a: Array[Long], b: Array[Long]): Boolean = {
        var ge = true; var gt = false; var i = 0
        while (i < a.length && ge) {
          if (a(i) < b(i)) ge = false
          else if (a(i) > b(i)) gt = true
          i += 1
        }
        ge && gt
      }
      it.foreach { r =>
        val v = idx.map(i => r.getLong(i)).toArray
        if (!frontier.exists(f => dominates(f._1, v))) {
          val keep = frontier.filterNot(f => dominates(v, f._1))
          frontier.clear()
          frontier ++= keep
          frontier += ((v, r))
        }
      }
      frontier.iterator.map(_._2)
    }
    val local = df.sparkSession.createDataFrame(
      df.rdd.mapPartitions(localFrontier), schema)
    df.sparkSession.createDataFrame(
      local.coalesce(1).rdd.mapPartitions(localFrontier), schema)
  }

  /** Percentile rank (milli, midrank convention) of `valueCol`
    * against a REFERENCE distribution — the score-normalization lane
    * every quality gate needs ("is this document long/clean/dense
    * relative to the trusted sub-corpus?"): pct = (2·|ref < v| +
    * |ref = v|)·1000 / (2·N), BIGINT throughout.
    *
    * Scale shape: the reference collapses to counts on the bounded
    * integer grid [lo, hi] (both lanes clamp onto it — the quantize
    * contract; out-of-range values rank as the nearest edge), a dense
    * spine of hi−lo+1 rows carries the cumulative counts, and the
    * probe side BROADCAST-equi-joins the spine. No range join, no
    * per-row subquery, no global sort of the data: the only
    * partition-less window runs over the SPINE, whose size is a
    * design constant, not a data size. */
  def percentileRank(df: DataFrame, valueCol: String, ref: DataFrame,
      refCol: String, lo: Long, hi: Long,
      out: String = "pct_milli"): DataFrame = {
    require(hi > lo, "empty grid")
    require(hi - lo <= (1L << 22), "spine must stay broadcast-sized")
    def clamp(c: Column) = greatest(lit(lo), least(lit(hi), c.cast("long")))
    val cnts = ref.select(clamp(col(refCol)).as("__v"))
      .groupBy("__v").agg(count(lit(1)).as("__eq"))
    val spine = df.sparkSession.range(lo, hi + 1).toDF("__v")
      .join(cnts, Seq("__v"), "left")
      .na.fill(0L, Seq("__eq"))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ecdf = spine.withColumn("__lt",
      coalesce(sum(col("__eq")).over(w), lit(0L)))
    val n = ref.agg(count(lit(1)).as("__n"))
    df.withColumn("__v", clamp(col(valueCol)))
      .join(broadcast(ecdf), Seq("__v"))
      .crossJoin(broadcast(n))
      .withColumn(out, expr("(1000 * (2 * __lt + __eq)) div (2 * __n)"))
      .drop("__v", "__lt", "__eq", "__n")
  }

  /** Sorted-neighborhood candidate pairs — the OTHER classic blocking
    * scheme beside [[blockedLinkage]]'s equi blocks: sort the corpus
    * by a fuzzy key (normalized name, phonetic code, canonical URL)
    * and emit every pair within `window` positions. Where equi
    * blocking misses near-boundary matches entirely (typo in the
    * blocking key → different block), sorted neighborhood catches
    * anything the sort brings close, at exactly n·(window−1)/…
    * bounded candidates — no quadratic block blowup possible, BY
    * CONSTRUCTION (the knob is output size, not a hope).
    *
    * Global order via [[globalRowNumber]] (two-pass, no
    * partition-less window); the rn-distance pairing is [[bandJoin]]
    * on row numbers. Scoring is the caller's next stage (Jaro,
    * jaccard, exact-key) — this operator only proposes. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      sortKeyCol: String, window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val rn = globalRowNumber(
      df.select(col(idCol).as("__id"), col(sortKeyCol).as("__k")),
      Seq(col("__k"), col("__id")), "__rn")
    val pairs = bandJoin(rn, rn, "__id", "__rn", "__id", "__rn",
      d = (window - 1).toLong)
    pairs.filter(col("lv") < col("rv")) // each unordered pair once
      .select(col("l_key").as("id_a"), col("r_key").as("id_b"),
        (col("rv") - col("lv")).as("rank_gap"))
  }

  /** Gini coefficient of a non-negative quantity in exact micro
    * units — "how concentrated is the corpus" (token mass over
    * sources, traffic over hosts): G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) /
    * (n·Σxᵢ) over the ascending sort, cross-multiplied in
    * DECIMAL(38,0) and floored once. Σ i·xᵢ needs every value's
    * GLOBAL rank — the [[globalRowNumber]] two-pass again, never a
    * partition-less window. Negative values are rejected loudly
    * (Gini over mixed signs is undefined); an all-zero total nulls
    * the coefficient. */
  def giniCoefficient(df: DataFrame, valueCol: String): DataFrame = {
    val ranked = globalRowNumber(
      df.select(col(valueCol).cast("long").as("__v")),
      Seq(col("__v")), "__i")
    ranked.agg(
        count(lit(1)).as("n"),
        sum(col("__v")).as("total"),
        min(col("__v")).as("__min"),
        sum(col("__i").cast("decimal(38,0)") * col("__v")).as("__iwx"))
      // the negative-input error must live INSIDE the output column —
      // a dropped guard column would be pruned away unevaluated
      .withColumn("gini_micro",
        when(col("__min") < 0, raise_error(lit(
          "giniCoefficient: negative values are undefined")).cast("long"))
        .when(col("total") > 0,
          expr("""CAST(((2 * __iwx - (CAST(n AS DECIMAL(38,0)) + 1) * total)
            | * 1000000) div (CAST(n AS DECIMAL(38,0)) * total) AS BIGINT)"""
            .stripMargin)))
      .drop("__min", "__iwx")
  }

  /** Numeric band join — all (left, right) pairs with |lv − rv| ≤ d
    * — WITHOUT the nested-loop theta join Spark would otherwise
    * plan: quantize both sides to width-d buckets (floor division —
    * sign-correct via the sign-split form), explode the LEFT side to
    * its bucket ±1, equi-join on bucket, then exact-filter. Each
    * true pair matches in exactly one candidate bucket (the right
    * row's own), so no dedup pass. Shuffle cost: 3·|L| + |R| skinny
    * rows on bucket keys vs |L|·|R| comparisons for the BNLJ — the
    * interval-join discipline (q81) applied to distance predicates
    * (near-duplicate prices, sensor alignment, tolerance matching). */
  def bandJoin(left: DataFrame, right: DataFrame, lKeyCol: String,
      lValCol: String, rKeyCol: String, rValCol: String,
      d: Long): DataFrame = {
    require(d >= 1, s"band width must be >= 1, got $d")
    val l = left.select(col(lKeyCol).as("l_key"),
        col(lValCol).cast("long").as("lv"))
      .withColumn("__b", expr(
        s"CASE WHEN lv >= 0 THEN lv div $d ELSE -(((-lv) + $d - 1) div $d) END"))
      .withColumn("__cand", explode(array(col("__b") - 1, col("__b"),
        col("__b") + 1)))
    val r = right.select(col(rKeyCol).as("r_key"),
        col(rValCol).cast("long").as("rv"))
      .withColumn("__cand", expr(
        s"CASE WHEN rv >= 0 THEN rv div $d ELSE -(((-rv) + $d - 1) div $d) END"))
    l.join(r, Seq("__cand"))
      .filter(abs(col("lv") - col("rv")) <= d)
      .select(col("l_key"), col("r_key"), col("lv"), col("rv"),
        (col("lv") - col("rv")).as("delta"))
  }

  /** 2-D grid distance join — all (left, right) pairs within
    * Euclidean distance `r` of each other (integer coordinates,
    * exact squared-distance filter, no floating trig) — [[bandJoin]]
    * lifted to the plane: spatial blocking for store/sensor/venue
    * proximity, and the standard pre-join for embedding coordinates
    * already projected to 2-D. Both sides quantize to r×r cells
    * (sign-split floor division); the LEFT side explodes to its 3×3
    * cell neighborhood, the right stays in its own cell, one equi
    * join on (cell_x, cell_y), then the exact dx²+dy² ≤ r² filter.
    * Every true pair meets in EXACTLY one candidate cell (the right
    * row's own), so no dedup pass. Shuffle: 9·|L| + |R| skinny rows
    * on cell keys — never the |L|·|R| BNLJ a distance theta join
    * plans. Cell occupancy is the skew knob: pick `r` so a cell
    * holds O(points·r²/area) rows, exactly how geo joins (Uber H3,
    * S2) are sized in production. */
  def gridDistanceJoin(left: DataFrame, right: DataFrame,
      lIdCol: String, lxCol: String, lyCol: String,
      rIdCol: String, rxCol: String, ryCol: String, r: Long): DataFrame = {
    require(r >= 1, s"radius must be >= 1, got $r")
    def cell(v: String) = expr(
      s"CASE WHEN $v >= 0 THEN $v div $r ELSE -((((-$v)) + $r - 1) div $r) END")
    val l = left.select(col(lIdCol).as("l_id"),
        col(lxCol).cast("long").as("lx"), col(lyCol).cast("long").as("ly"))
      .withColumn("__bx", cell("lx")).withColumn("__by", cell("ly"))
      .withColumn("__cx", explode(array(col("__bx") - 1, col("__bx"),
        col("__bx") + 1)))
      .withColumn("__cy", explode(array(col("__by") - 1, col("__by"),
        col("__by") + 1)))
      .drop("__bx", "__by")
    val rt = right.select(col(rIdCol).as("r_id"),
        col(rxCol).cast("long").as("rx"), col(ryCol).cast("long").as("ry"))
      .withColumn("__cx", cell("rx")).withColumn("__cy", cell("ry"))
    l.join(rt, Seq("__cx", "__cy"))
      .withColumn("dist2", (col("lx") - col("rx")) * (col("lx") - col("rx"))
        + (col("ly") - col("ry")) * (col("ly") - col("ry")))
      .filter(col("dist2") <= r * r)
      .select(col("l_id"), col("r_id"), col("lx"), col("ly"),
        col("rx"), col("ry"), col("dist2"))
  }

  /** Point-in-polygon classification by INTEGER ray casting — the
    * containment half of the spatial family ([[gridDistanceJoin]] is
    * the proximity half): geofences, region rollups, service-area
    * assignment. A point is inside a polygon iff a horizontal ray to
    * +∞ crosses an ODD number of edges; the crossing test is the
    * standard half-open rule kept fully integral by cross-
    * multiplication —
    *   crossing ⇔ (y₁ > y) ≠ (y₂ > y)  AND
    *     ((x−x₁)(y₂−y₁) − (x₂−x₁)(y−y₁)) compared against 0 with the
    *     sign of (y₂−y₁)
    * — no division, so the classification is engine-exact
    * (boundary points classify by the half-open rule's parity:
    * deterministic, same on every engine, and the usual convention
    * that shared borders assign a point to exactly one of two
    * adjacent polygons stacked vertically). Polygons arrive as
    * (poly, idx, x, y) vertex rows in boundary order (closing edge
    * added automatically); they may be non-convex.
    *
    * Shape: the edge table is polygon-sized — BROADCAST — so the
    * scan is one pass over points with |E| row-local tests each,
    * then a (point, poly) parity aggregate; returns only inside
    * pairs (id, poly, n_crossings). Use for polygon tables that fit
    * a broadcast (geofences, admin regions); tiling into
    * [[gridDistanceJoin]]-style cells is the documented path past
    * that. */
  def pointInPolygon(points: DataFrame, idCol: String, xCol: String,
      yCol: String, polygons: DataFrame, polyCol: String, idxCol: String,
      pxCol: String, pyCol: String): DataFrame = {
    // the Geo.pointInPolygon BIGINT-exact bound, enforced on BOTH
    // data sides (here the vertices are rows, not plan-time literals,
    // so the vertex guard is an in-plan raise too): a silent BIGINT
    // wrap in the cross products would return wrong containment with
    // no error (r15 verdict item 4 hardening)
    val bound = 1100000000L
    def guarded(c: Column, side: String): Column =
      when(c.isNull || (c >= -bound && c <= bound), c)
        .otherwise(raise_error(concat(
          lit(s"pointInPolygon: $side coordinate exceeds |v| <= " +
            s"$bound (the BIGINT-exact bound): "),
          c.cast("string"))).cast("long"))
    val wOrd = Window.partitionBy(col("__poly")).orderBy(col("__idx"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val verts = polygons.select(col(polyCol).as("__poly"),
      col(idxCol).cast("long").as("__idx"),
      guarded(col(pxCol).cast("long"), "vertex").as("x1"),
      guarded(col(pyCol).cast("long"), "vertex").as("y1"))
    val edges = verts
      .withColumn("x2", coalesce(
        lead(col("x1"), 1).over(Window.partitionBy(col("__poly"))
          .orderBy(col("__idx"))), first(col("x1")).over(wOrd)))
      .withColumn("y2", coalesce(
        lead(col("y1"), 1).over(Window.partitionBy(col("__poly"))
          .orderBy(col("__idx"))), first(col("y1")).over(wOrd)))
    val p = points.select(col(idCol).as("id"),
      guarded(col(xCol).cast("long"), "point").as("x"),
      guarded(col(yCol).cast("long"), "point").as("y"))
    // compare the two cross products WITHOUT subtracting (r16 advice):
    // each product is <= 4b^2 ~ 4.84e18 < Long.MaxValue at the bound,
    // but their difference can reach 8b^2 ~ 9.68e18 and wrap — the
    // comparison form is overflow-free for every guard-admitted input
    val cpA = (col("x") - col("x1")) * (col("y2") - col("y1"))
    val cpB = (col("x2") - col("x1")) * (col("y") - col("y1"))
    p.crossJoin(broadcast(edges))
      .filter(((col("y1") > col("y")) =!= (col("y2") > col("y"))) &&
        when(col("y2") > col("y1"), cpA < cpB).otherwise(cpA > cpB))
      .groupBy(col("id"), col("__poly").as("poly"))
      .agg(count(lit(1)).as("n_crossings"))
      .filter(col("n_crossings") % 2 === 1)
  }

  /** Key-skew census — the diagnostic a data engineer runs BEFORE
    * choosing a shuffle strategy ("is this join key salt-worthy"):
    * the top-`topN` keys by row count with their exact milli share
    * of the table, plus scalar lanes (n_rows, n_keys) riding along.
    * A max share near 1000 means one key owns the table (salt or
    * broadcast); a flat top-N means hash partitioning is fine. NULL
    * keys count as a key (they hash to one partition too — exactly
    * the skew this census exists to catch).
    *
    * Shape: ONE row-scale hash aggregate at key grain (map-side
    * combines), then key-grain scalars; the top-N cut is
    * `orderBy.limit` (TakeOrderedAndProject — per-partition heaps,
    * never a key-domain-wide window) and only the ≤ topN survivors
    * see the parameter-bounded rank window. */
  def keySkewCensus(df: DataFrame, keyCol: String,
      topN: Int = 10): DataFrame = {
    require(topN >= 1 && topN <= 1000, s"topN must be in [1,1000], got $topN")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
    val scal = counts.agg(coalesce(sum(col("n")), lit(0L)).as("n_rows"),
      count(lit(1)).as("n_keys"))
    // NULLS LAST explicitly: Spark's asc default is nulls-first,
    // DuckDB's is nulls-last — a count tie involving the null key
    // would otherwise diverge from the oracle ordering (r16 review)
    val top = counts
      .orderBy(col("n").desc, col("key").asc_nulls_last).limit(topN)
    val w = Window.orderBy(col("n").desc, col("key").asc_nulls_last)
    top
      .withColumn("rank", row_number().over(w).cast("long"))
      .crossJoin(broadcast(scal))
      .select(col("rank"), col("key"), col("n"), col("n_rows"),
        col("n_keys"),
        expr("(1000 * n) div n_rows").as("share_milli"))
  }

  /** Functional-dependency audit: the lhs→rhs groups that VIOLATE
    * determinism (more than one rhs value for one lhs tuple) — the
    * schema-contract check profiling should run before anyone claims
    * "source determines language". One hash aggregate at (lhs, rhs)
    * grain then one at lhs grain; output is violation-sized. Nulls
    * are ordinary values (two rhs of null and 'x' is a violation —
    * null-safe distinctness). */
  def fdViolations(df: DataFrame, lhs: Seq[String],
      rhs: String): DataFrame = {
    require(lhs.nonEmpty, "lhs must be non-empty")
    df.groupBy(lhs.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(rhs)).as("__nd"),
        sum(when(col(rhs).isNull, 1L).otherwise(0L)).as("__nn"))
      .withColumn("n_rhs",
        col("__nd") + when(col("__nn") > 0, 1L).otherwise(0L))
      .filter(col("n_rhs") > 1)
      .drop("__nd", "__nn")
  }

  /** Long-tail category collapsing: every category of `catCol` with
    * fewer than `minCount` rows becomes `other` — the cardinality
    * guard before one-hot/target encoding (a 10⁶-category column is
    * a modeling bug and a shuffle bomb). Census + broadcast-sized
    * frequent-set join back (the frequent set is small BY
    * CONSTRUCTION: ≤ N/minCount categories can pass). Null stays
    * null (absence is not a category). */
  def collapseRareCategories(df: DataFrame, catCol: String,
      minCount: Long, other: String = "__other"): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val frequent = df.filter(col(catCol).isNotNull)
      .groupBy(col(catCol).as("__cat"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount)
      .select(col("__cat"))
    df.join(broadcast(frequent), col(catCol) === col("__cat"), "left")
      .withColumn(catCol, when(col(catCol).isNull, lit(null))
        .when(col("__cat").isNotNull, col(catCol))
        .otherwise(lit(other)))
      .drop("__cat")
  }

  /** Recency-decayed counts with power-of-two half-lives: each event
    * weighs 1000 ≫ ⌊age/halfLife⌋ milli (exact integer halving per
    * elapsed half-life — the trending/popularity score that never
    * needs a float exp), summed per key. Unlike a trajectory EWMA
    * this is ASSOCIATIVE (the weight depends only on the row and the
    * fixed `refTsUs`), so it map-side combines like any sum — the
    * scale-friendly decay. `refTsUs` is a parameter (the scoring
    * instant), never a same-job aggregate. Future rows clamp to age
    * 0; ages ≥ 63 half-lives weigh 0 exactly. */
  def decayedCounts(df: DataFrame, keyCol: String, tsCol: String,
      refTsUs: Long, halfLifeSec: Long): DataFrame = {
    require(halfLifeSec > 0, s"halfLifeSec must be > 0, got $halfLifeSec")
    df.withColumn("__w", expr(s"1000L div shiftleft(1L, CAST(" +
        s"least(62L, greatest(0L, (${refTsUs}L - unix_micros($tsCol)) " +
        s"div ${halfLifeSec * 1000000L}L)) AS INT))"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("__w")).as("decayed_milli"))
  }

  /** Per-key journey edit distance to a canonical path: encode each
    * key's ordered `tokenCol` sequence over a FIXED alphabet (one
    * char per token, '#' for anything off-alphabet) and Levenshtein
    * it against the canonical encoding — "how far is each user's
    * actual funnel from the designed one", unit costs. The encode is
    * a per-key ordered gather (sessionization contract) + pure
    * string ops; the distance is the codegen built-in. Alphabet is
    * caller-fixed (≤ 26 tokens) so the encoding — and the oracle —
    * is deterministic, not data-dependent. */
  def journeyEditDistance(df: DataFrame, keyCol: String,
      orderCols: Seq[String], tokenCol: String, alphabet: Seq[String],
      canonical: Seq[String]): DataFrame = {
    require(alphabet.nonEmpty && alphabet.size <= 26 &&
      alphabet.distinct == alphabet, "alphabet: <= 26 distinct tokens")
    require(canonical.forall(alphabet.contains),
      "canonical path must be on the alphabet")
    def enc(t: String): String =
      ('a' + alphabet.indexOf(t)).toChar.toString
    val canonStr = canonical.map(enc).mkString
    val mapping = map(alphabet.flatMap(t =>
      Seq(lit(t), lit(enc(t)))): _*)
    val seqCol = sort_array(collect_list(
      struct((orderCols.map(col) :+ col(tokenCol)): _*)))
    df.groupBy(col(keyCol))
      .agg(seqCol.as("__s"))
      .withColumn("__m", mapping)
      .withColumn("journey", array_join(expr(
        s"transform(__s, x -> coalesce(element_at(__m, x.$tokenCol), '#'))"),
        ""))
      .select(col(keyCol),
        length(col("journey")).cast("long").as("journey_len"),
        levenshtein(col("journey"), lit(canonStr)).cast("long")
          .as("edit_distance"))
  }

  /** Exact weighted lower median per key: the smallest value whose
    * inclusive cumulative weight reaches half the total (2·cum ≥ W —
    * integer form, no halving division). The robust center when rows
    * aren't equal (token-weighted quality, duration-weighted
    * latency); rank-defined like [[robustOutliers]]' median, so ties
    * are engine-invariant. One key-partitioned ordered window + one
    * aggregate. Null values/weights and non-positive weights are
    * excluded (a weightless row carries no vote). */
  def weightedMedian(df: DataFrame, keyCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    val staged = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull &&
        col(weightCol) > 0)
      .select(col(keyCol),
        floor(col(valueCol) * lit(1000)).cast("long").as("__v"),
        col(weightCol).cast("long").as("__w"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wn = Window.partitionBy(col(keyCol))
    staged
      .withColumn("__cum", sum(col("__w")).over(w))
      .withColumn("__tot", sum(col("__w")).over(wn))
      .groupBy(col(keyCol))
      .agg(max(col("__tot")).as("w_total"),
        min(when(lit(2) * col("__cum") >= col("__tot"), col("__v")))
          .as("wmedian_milli"))
  }

  /** Seasonal-naive forecast backtest (MASE lanes): per key, in
    * event order, score the lag-`season` forecast against the lag-1
    * naive baseline — the "is there even seasonality worth modeling"
    * gate run before any forecasting work. Absolute errors in milli,
    * each lane averaged over exactly the rows where ITS lag exists,
    * and MASE as the cross-multiplied exact ratio
    * (1000·saeₛ·n₁)/(sae₁·nₛ) — no intermediate float means. One
    * key-partitioned window pass + one aggregate; null MASE when the
    * naive error is zero (a constant series beats nothing). */
  def forecastBacktest(df: DataFrame, keyCol: String,
      orderCols: Seq[Column], valueCol: String, season: Int): DataFrame = {
    require(season >= 2, s"season must be >= 2, got $season")
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
    val staged = df
      .withColumn("__v", floor(col(valueCol) * lit(1000)).cast("long"))
      .withColumn("__e1", abs(col("__v") - lag(col("__v"), 1).over(w)))
      .withColumn("__es", abs(col("__v") - lag(col("__v"), season).over(w)))
    staged.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("__e1")).as("sae_naive"),
        count(col("__e1")).as("n_naive"),
        sum(col("__es")).as("sae_seasonal"),
        count(col("__es")).as("n_seasonal"))
      .withColumn("mase_milli",
        when(col("sae_naive") > 0 && col("n_seasonal") > 0,
          expr("(1000 * sae_seasonal * n_naive) div (sae_naive * n_seasonal)")))
  }

  /** ABC (Pareto) classification: rank keys by a metric descending
    * and tier them by the cumulative share BEFORE each key — A while
    * the running total is still under 80%, B under 95%, C after —
    * the inventory-analysis classic ("which sources are the 20%
    * carrying 80% of tokens"). Exclusive-cumulative tiering makes
    * the first key always A and the boundaries ties-stable; all
    * lanes integer milli. One global rank over the KEY-grain
    * aggregate the caller provides (key cardinality, not corpus). */
  def abcClassify(df: DataFrame, keyCol: String,
      metricCol: String): DataFrame = {
    val w = Window.orderBy(col("metric").desc, col(keyCol))
    val staged = df
      .select(col(keyCol), col(metricCol).cast("long").as("metric"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("__cumBefore", coalesce(sum(col("metric")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val tot = staged.agg(sum(col("metric")).as("__t"))
    staged.crossJoin(broadcast(tot))
      .withColumn("cum_before_milli", expr("(1000 * __cumBefore) div __t"))
      .withColumn("share_milli", expr("(1000 * metric) div __t"))
      .withColumn("abc_class",
        when(col("cum_before_milli") < 800, "A")
          .when(col("cum_before_milli") < 950, "B")
          .otherwise("C"))
      .drop("__cumBefore", "__t")
  }

  /** Benford first-digit audit — the cheap fraud/synthetic-data
    * smell test: naturally-occurring multiplicative quantities put
    * ~30.1% of leading digits at 1 (P(d) = log10(1+1/d)); uniform
    * or fabricated values don't. Digits come from the milli-
    * quantized value's decimal string (positive values only — sign
    * and zero carry no leading digit), observed shares in milli
    * against the FIXED floored expectation table (301, 176, 124,
    * 96, 79, 66, 57, 51, 45 — constants ARE the metric, the nDCG
    * discipline), absolute deviation per digit. One aggregate + a
    * 9-row spine so absent digits report 0, not silence. */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val expected = Seq(301L, 176L, 124L, 96L, 79L, 66L, 57L, 51L, 45L)
    val counts = df.filter(col(valueCol) > 0)
      .select(substring(floor(col(valueCol) * lit(1000)).cast("long")
        .cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("__t"))
    df.sparkSession.range(1, 10).toDF("digit")
      .join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(tot))
      .withColumn("observed_milli", expr("(1000 * n) div __t"))
      .withColumn("expected_milli",
        element_at(array(expected.map(lit): _*), col("digit").cast("int")))
      .withColumn("dev_milli",
        abs(col("observed_milli") - col("expected_milli")))
      .drop("__t")
  }

  /** Per-key one-sided CUSUM change detector — the drift ALARM to
    * [[robustOutliers]]'s point flags: sₜ = max(0, sₜ₋₁ + (yₜ −
    * target − slack)) accumulates only sustained upward excess
    * (single spikes bleed off through the slack), and s > h raises an
    * alarm and RESTARTS the statistic, so repeated regime shifts each
    * alarm once. All milli lanes, value milli-quantized; the per-step
    * max/reset makes the recurrence sequential per key — the
    * [[ewmaMilli]] shape exactly: one shuffle to co-locate keys, one
    * ordered streaming pass, O(1) state. `orderCols` must totally
    * order within a key. Null values emit null and don't advance. */
  def cusumMilli(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String, targetMilli: Long, slackMilli: Long,
      thresholdMilli: Long): DataFrame = {
    require(slackMilli >= 0 && thresholdMilli > 0, "bad CUSUM params")
    require(orderCols.nonEmpty, "orderCols must define a total order")
    val staged = df.withColumn("__mv",
      floor(col(valueCol) * lit(1000)).cast("long"))
    val ki = staged.columns.indexOf(keyCol)
    val vi = staged.columns.indexOf("__mv")
    val drift = targetMilli + slackMilli
    df.sparkSession.createDataFrame(
      staged.repartition(col(keyCol))
        .sortWithinPartitions((col(keyCol) +: orderCols.map(col)): _*)
        .rdd.mapPartitions { rows =>
          var curKey: Any = null
          var first = true
          var s = 0L
          rows.map { r =>
            val k = r.get(ki)
            if (first || k != curKey) { curKey = k; first = false; s = 0L }
            var out: Any = null
            var alarm: Any = null
            if (!r.isNullAt(vi)) {
              s = math.max(0L, s + r.getLong(vi) - drift)
              val fired = s > thresholdMilli
              if (fired) s = 0L
              out = s
              alarm = if (fired) 1 else 0
            }
            org.apache.spark.sql.Row.fromSeq(
              r.toSeq.dropRight(1) :+ out :+ alarm)
          }
        },
      org.apache.spark.sql.types.StructType(
        staged.schema.fields.dropRight(1) :+
          org.apache.spark.sql.types.StructField("cusum_milli",
            org.apache.spark.sql.types.LongType, nullable = true) :+
          org.apache.spark.sql.types.StructField("alarm",
            org.apache.spark.sql.types.IntegerType, nullable = true)))
  }

  /** Per-key robust outlier flags via median absolute deviation —
    * the anomaly gate that survives the anomalies (a mean/stddev
    * z-score moves WITH the outliers it should flag; the median and
    * MAD don't budge until half the data is bad). All lanes integer:
    * value milli-quantized, median = LOWER median (the value at rank
    * ⌊(n+1)/2⌋ — rank-defined, so engines agree on ties without any
    * interpolation float), MAD the same rank over |v − med|, flag =
    * |v − med| > k·MAD strictly (a constant key has MAD 0: any
    * deviation flags — documented, not hidden).
    *
    * Shape: two rank passes (window partitioned BY KEY — no global
    * sort), each reduced to a |keys|-row table joined back (AQE
    * broadcasts it). State bounds at key grain; skew in one key costs
    * one partition's sort, not a plan change. */
  def robustOutliers(df: DataFrame, keyCol: String, valueCol: String,
      k: Long = 3L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def lowerMedian(in: DataFrame, c: String, out: String): DataFrame = {
      val w = Window.partitionBy(col(keyCol)).orderBy(col(c))
      val wn = Window.partitionBy(col(keyCol))
      in.withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wn))
        .filter(col("__rn") === expr("(__n + 1) div 2"))
        .select(col(keyCol), col(c).as(out))
    }
    val staged = df.withColumn("value_milli",
      floor(col(valueCol) * lit(1000)).cast("long"))
    val med = lowerMedian(staged, "value_milli", "med_milli")
    val dev = staged.join(med, Seq(keyCol))
      .withColumn("__dev", abs(col("value_milli") - col("med_milli")))
    val mad = lowerMedian(dev.select(col(keyCol), col("__dev")), "__dev",
      "mad_milli")
    dev.join(mad, Seq(keyCol))
      .withColumn("is_outlier",
        (col("__dev") > lit(k) * col("mad_milli")).cast("int"))
      .drop("__dev")
  }

  /** Global n-gram census over per-key ordered token sequences
    * (behavioral motifs: "view>click>purchase") — the sequence
    * counterpart of market-basket sets. Each key's events are
    * gathered and ordered (`orderCols` must totally order within a
    * key), consecutive n-windows joined with '>', then counted
    * globally with map-side partial aggregation. Per-key state is the
    * key's own event list — the sessionization contract (a key's
    * history fits an executor; parallelism is across keys); distinct
    * n-grams are bounded by |alphabet|^n, so the final aggregate is
    * small no matter the corpus. */
  def sequenceNgrams(df: DataFrame, keyCol: String, orderCols: Seq[String],
      tokenCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(orderCols.nonEmpty, "orderCols must define a total order")
    val seqCol = sort_array(collect_list(
      struct((orderCols.map(col) :+ col(tokenCol)): _*)))
    val grams = df.groupBy(col(keyCol))
      .agg(seqCol.as("__s"))
      .withColumn("__t", expr(s"transform(__s, x -> x.$tokenCol)"))
      // sequence(1, k) DESCENDS when k < 1 — guard short sequences
      .withColumn("__g", when(size(col("__t")) >= n,
        transform(sequence(lit(1), size(col("__t")) - n + 1),
          i => array_join(slice(col("__t"), i, lit(n)), ">")))
        .otherwise(array().cast("array<string>")))
    grams.select(col(keyCol), explode(col("__g")).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col(keyCol)).as("n_keys"))
  }

  /** Differential hot/cold equi join — the surgical alternative to
    * blanket salting ([[saltedJoin]] replicates the build side
    * ×buckets for EVERY key): rows whose key is in `hotKeys` (the
    * handful [[skewReport]] names) join against a BROADCAST of the
    * dim's matching slice — no shuffle, no straggler, since the hot
    * slice is by definition few keys; every other row takes the
    * normal shuffled join, now free of its stragglers. Semantics are
    * exactly `big ⋈ dim` (inner, on bigKey = dimKey), returning
    * big.* ++ payload — q216 oracles the whole result against the
    * plain SQL join.
    *
    * Scale accounting: dim is read twice (hot slice + cold path) —
    * the hot slice is |hotKeys| rows (broadcast-sized by
    * construction); the big side splits by one broadcast semi/anti
    * pair against the tiny hot-key set, costing no shuffle. Works
    * when dim is far too big to broadcast WHOLE — only its hot
    * rows travel. `payload` names must not collide with big's
    * columns (the as-of family's contract). */
  def hotColdJoin(big: DataFrame, dim: DataFrame,
      bigKey: String, dimKey: String,
      hotKeys: DataFrame, payload: Seq[String]): DataFrame = {
    val hk = broadcast(
      hotKeys.select(col(hotKeys.columns.head).as("__hk")).distinct())
    val dimSel = dim.select((col(dimKey).as("__dk") +: payload.map(col)): _*)
    val hotDim = broadcast(
      dimSel.join(hk, col("__dk") === col("__hk"), "left_semi"))
    val hotJoin = big
      .join(hk, col(bigKey) === col("__hk"), "left_semi")
      .join(hotDim, col(bigKey) === col("__dk"))
      .drop("__dk")
    val coldJoin = big
      .join(hk, col(bigKey) === col("__hk"), "left_anti")
      .join(dimSel, col(bigKey) === col("__dk"))
      .drop("__dk")
    hotJoin.unionByName(coldJoin)
  }

  /** Skew-resistant equi join: salt the skewed (left) side's key into
    * `saltBuckets` sub-keys and explode the build (right) side across
    * all buckets, so one hot key spreads over `saltBuckets` tasks
    * instead of one straggler. Use when a handful of keys dominate and
    * AQE's skew-join split isn't available (e.g. the join feeds an
    * aggregation that must stay co-partitioned). Right side is
    * replicated ×saltBuckets — keep it the smaller input. */
  def saltedJoin(skewed: DataFrame, other: DataFrame,
                 leftKey: String, rightKey: String,
                 saltBuckets: Int = 16): DataFrame = {
    val salted = skewed.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)).cast("int"))
    val exploded = other.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(exploded,
        salted(leftKey) === exploded(rightKey) &&
          salted("__salt") === exploded("__salt"))
      .drop("__salt")
  }

  /** Largest inter-event gap per key, via the TYPED Dataset API
    * (`groupByKey.mapGroups` — SURVEY.md §1.1 "Dataset[T] where type
    * safety helps"). Sorting happens inside each group's iterator;
    * state is one group at a time per task, never the whole partition.
    * The same computation is SQL-expressible (lag window), which is
    * exactly why it's oracle-checked. */
  def maxEventGap(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("long").as("key"),
        unix_micros(col(tsCol)).as("tsMicros"))
      .as[KeyedTs]
      .groupByKey(_.key)
      .mapGroups { (k, rows) =>
        val ts = rows.map(_.tsMicros).toArray
        java.util.Arrays.sort(ts)
        var maxGap = 0L
        var i = 1
        while (i < ts.length) { maxGap = math.max(maxGap, ts(i) - ts(i - 1)); i += 1 }
        KeyGap(k, maxGap, ts.length.toLong)
      }
      .toDF()
  }

  /** One-pass column PROFILE — per column: row count, null count,
    * distinct count, min and max (as strings, so one schema fits every
    * column type): the data-quality summary a pipeline computes before
    * trusting a new drop. ALL columns profile in ONE aggregate pass
    * over the data (one job, map-side partials). `exact = true` uses
    * `count_distinct` — Spark expands the plan ×|cols| for multiple
    * distinct aggregates, the right trade for a profile you want
    * oracle-exact; `exact = false` (the 100 TB default) uses
    * `approx_count_distinct` (one HLL sketch per column, no expand). */
  def profile(df: DataFrame, cols: Seq[String],
              exact: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        (if (exact) count_distinct(col(c)) else approx_count_distinct(col(c)))
          .as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    one.select(explode(array(cols.map { c =>
        struct(lit(c).as("column"), col("__n").as("n_rows"),
          (col("__n") - col(s"__nn_$c")).as("n_nulls"),
          col(s"__nd_$c").as("n_distinct"),
          col(s"__min_$c").as("min_value"), col(s"__max_$c").as("max_value"))
      }: _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Declarative CONSTRAINT CHECK (the dbt-test / Deequ shape): every
    * named predicate is evaluated over the whole frame in ONE
    * aggregate pass, returning (check, n_rows, n_violations) per
    * constraint — a row whose predicate is null (three-valued SQL on
    * null inputs) counts as a violation, because "unknown" is not
    * "passed". Constraints are data, not code paths: adding one adds
    * a column to the same single job. */
  def expect(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "expect needs at least one check")
    val aggs = checks.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"__v_$i")
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    one.select(explode(array(checks.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(name).as("check"), col("__n").as("n_rows"),
          coalesce(col(s"__v_$i"), lit(0L)).as("n_violations"))
      }: _*)).as("__c"))
      .select(col("__c.*"))
  }

  /** Exact fixed-width HISTOGRAM over an integer metric column: bin
    * `i` covers `[lo + i·(hi-lo)/nBins, …)`, out-of-range values clamp
    * into the edge bins (so the bar chart always accounts for every
    * row — no silent drops). Binning is pure INTEGER arithmetic
    * (`(v-lo)·nBins / (hi-lo)`, floored), so bin assignment is
    * cross-engine exact — no float width, no rounding edge. One hash
    * aggregate, |bins| output rows; empty bins are emitted with count
    * 0 via a range spine join (AQE broadcasts — bins are tiny). */
  def histogram(df: DataFrame, valueCol: String, lo: Long, hi: Long,
                nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, s"need hi > lo and nBins > 0, got [$lo, $hi) x $nBins")
    // `div` (integer division), not `/` (double): bit-exact at any
    // magnitude. Negative numerators truncate toward zero, but the
    // greatest(0, _) clamp swallows them either way.
    val bin = expr(
      s"least(${nBins - 1}, greatest(0, " +
        s"CAST(((CAST($valueCol AS BIGINT) - ${lo}L) * $nBins) DIV ${hi - lo}L AS INT)))")
    val counts = df.select(bin.as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val spine = df.sparkSession.range(nBins)
      .select(col("id").cast("int").as("bin"))
    spine.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        expr(s"${lo}L + (CAST(bin AS BIGINT) * ${hi - lo}L) DIV $nBins").as("bin_lo"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** One-pass PAIRWISE moment statistics over integer metric columns —
    * per (a, b) pair with a < b: n, Σa, Σb, Σa², Σb², Σab: everything
    * Pearson correlation, covariance, or a least-squares fit needs,
    * in ONE aggregate over the data (k columns → k(k-1)/2 pairs, all
    * in the same job, map-side partials). The export is deliberately
    * the integer moments, not the correlation: integer sums are
    * order-free and cross-engine exact, while the final float
    * division is one local operation the caller (or [[corrFromStats]])
    * does — the TF-IDF integer-core discipline. Callers pre-scale
    * (cents idiom) and keep values small enough that Σv² fits a long
    * (loud overflow under ANSI mode, never silent wrap). */
  def pairStats(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "pairStats needs at least two columns")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = pairs.zipWithIndex.flatMap { case ((a, b), ix) =>
      val ca = col(a).cast("long"); val cb = col(b).cast("long")
      Seq(sum(ca).as(s"__sa_$ix"), sum(cb).as(s"__sb_$ix"),
        sum(ca * ca).as(s"__saa_$ix"), sum(cb * cb).as(s"__sbb_$ix"),
        sum(ca * cb).as(s"__sab_$ix"))
    }
    val one = df.agg(count(lit(1)).as("__n"), aggs: _*)
    one.select(explode(array(pairs.zipWithIndex.map { case ((a, b), ix) =>
        struct(lit(a).as("col_a"), lit(b).as("col_b"), col("__n").as("n"),
          col(s"__sa_$ix").as("sum_a"), col(s"__sb_$ix").as("sum_b"),
          col(s"__saa_$ix").as("sum_aa"), col(s"__sbb_$ix").as("sum_bb"),
          col(s"__sab_$ix").as("sum_ab"))
      }: _*)).as("__p"))
      .select(col("__p.*"))
  }

  /** Pearson correlation from [[pairStats]] moments (the local float
    * step, library-side by design — see pairStats). */
  def corrFromStats(n: Long, sumA: Long, sumB: Long, sumAa: Long,
                    sumBb: Long, sumAb: Long): Double = {
    val cov = n.toDouble * sumAb - sumA.toDouble * sumB
    val va = n.toDouble * sumAa - sumA.toDouble * sumA
    val vb = n.toDouble * sumBb - sumB.toDouble * sumB
    if (va <= 0 || vb <= 0) 0.0 else cov / math.sqrt(va * vb)
  }

  /** Ordered event-sequence FUNNEL per key — "did the user do A, then
    * B strictly later, then C strictly later" (product-analytics
    * conversion funnels, pipeline-stage progression): returns one row
    * per key with how many steps completed in order and the timestamp
    * (µs) each step first completed at. Step i matches the EARLIEST
    * qualifying event strictly after step i-1's match — the standard
    * strict-order funnel; simultaneous (same-µs) events do not chain.
    *
    * Shape at scale: rows are filtered to the step types BEFORE the
    * shuffle (a funnel over 3 of 50 event types moves 3/50ths of the
    * data), then one groupByKey; the fold sorts one key's relevant
    * events at a time — per-task state is a single user's funnel
    * events, never a partition (the [[maxEventGap]] discipline). The
    * k-step chain costs ONE shuffle total, where the equivalent
    * window/join formulation pays one per step. */
  def funnel(df: DataFrame, keyCol: String, tsCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(keyCol).cast("long").as("key"),
        unix_micros(col(tsCol)).as("tsMicros"), col(typeCol).as("etype"))
      .filter(col("etype").isin(steps: _*))
      .as[KeyedTypedTs]
      .groupByKey(_.key)
      .mapGroups { (k, rows) =>
        val evs = rows.toArray
        java.util.Arrays.sort(evs, Ordering.by((e: KeyedTypedTs) => e.tsMicros))
        val ts = Array.fill[Option[Long]](steps.length)(None)
        var reached = 0
        var lastTs = Long.MinValue
        evs.foreach { e =>
          if (reached < steps.length && e.etype == steps(reached) &&
              e.tsMicros > lastTs) {
            ts(reached) = Some(e.tsMicros); lastTs = e.tsMicros; reached += 1
          }
        }
        FunnelRow(k, reached, ts.toSeq)
      }
      .toDF()
  }

  /** Activity STREAKS per key (gaps-and-islands): distinct active
    * days collapse into maximal runs of consecutive days via the
    * classic `day - row_number()` island id (consecutive days share
    * it, any gap shifts it); one row per key reports total active
    * days, number of streaks, and the longest streak with its start
    * (ties → the EARLIEST longest streak, a total order, so the
    * result is deterministic and cross-engine exact). Shapes: the
    * distinct-(key, day) projection is the data reduction (the
    * [[retention]] argument), the window partitions by key — no
    * global window — and the rollups are key-sized. */
  def streaks(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val activity = df
      .select(col(keyCol).as("__k"), to_date(col(tsCol)).as("__day"))
      .distinct()
    val w = Window.partitionBy(col("__k")).orderBy(col("__day"))
    val islands = activity
      .withColumn("__island", date_sub(col("__day"), row_number().over(w)))
      .groupBy(col("__k"), col("__island"))
      .agg(count(lit(1)).as("__d"), min(col("__day")).as("__start"))
    // earliest-longest pick: order by (days, recency-negated start);
    // epoch-day negation keeps it one struct max
    val neg = -datediff(col("__start"), lit("1970-01-01").cast("date"))
    islands.groupBy(col("__k").as(keyCol))
      .agg(sum(col("__d")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(struct(col("__d").as("d"), neg.as("neg"), col("__start").as("s")))
          .as("__best"))
      .select(col(keyCol), col("n_active_days"), col("n_streaks"),
        col("__best.d").as("longest_streak_days"),
        col("__best.s").as("longest_streak_start"))
  }

  /** Adjacent event TRANSITION counts — the Markov transition table
    * of an event stream: per key, order events by (time, type) — a
    * total order over the observable fields, so simultaneous events
    * fold deterministically — and count every (from, to) adjacency.
    * The path-analysis / Sankey primitive. One key-partitioned window
    * (lag) + one hash aggregate on |types|² groups. */
  def transitions(df: DataFrame, keyCol: String, tsCol: String,
                  typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col("__to"))
    df.select(col(keyCol), col(tsCol), col(typeCol).as("__to"))
      .withColumn("__from", lag(col("__to"), 1).over(w))
      .filter(col("__from").isNotNull)
      .groupBy(col("__from").as("from_type"), col("__to").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Cohort RETENTION: group users by the day they first appeared
    * (their cohort) and count, for each (cohort, day-offset), how many
    * came back — the activity-curve table behind every retention
    * chart. Pure aggregates: distinct (key, day) activity (the one
    * corpus-sized shuffle, and the data reduction itself), a per-key
    * min for the cohort, a key-equi join both sides of which are
    * (key, day)-sized, and a final |cohorts × offsets| rollup. A user
    * active twice on a day counts once (the distinct), so the final
    * count needs no count_distinct state. */
  def retention(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val activity = df
      .select(col(keyCol).as("__k"), to_date(col(tsCol)).as("__day"))
      .distinct()
    val first = activity.groupBy(col("__k")).agg(min(col("__day")).as("__cohort"))
    activity.join(first, Seq("__k"))
      .groupBy(col("__cohort").as("cohort_day"),
        datediff(col("__day"), col("__cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** OHLC RESAMPLE — per (key, time bucket): open (value at the
    * earliest event), high, low, close (value at the latest event),
    * and event count — the downsampling step behind any metric or
    * price chart, and the generic "reduce a raw event stream to
    * fixed-width buckets without losing the envelope" operator.
    * One hash aggregate on (key, bucket) with map-side partials — no
    * window, no sort, no self-join; open/close ride lexicographic
    * struct min/max ((ts, value) pairs — timestamp ties break toward
    * the smaller value for open and the larger for close, a total
    * order, so the result is deterministic and cross-engine exact). */
  def resampleOhlc(df: DataFrame, keyCol: String, tsCol: String,
                   valueCol: String, width: String): DataFrame = {
    val us = unix_micros(col(tsCol))
    val pair = struct(us.as("ts"), col(valueCol).as("v"))
    df.groupBy(col(keyCol), window(col(tsCol), width).as("__w"))
      .agg(min(pair).getField("v").as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max(pair).getField("v").as("close"),
        count(lit(1)).as("n_events"))
      .select(col(keyCol), col("__w.start").as("bucket_start"),
        col("open"), col("high"), col("low"), col("close"), col("n_events"))
  }

  /** Sessionize an event stream: assign a session id per key where a
    * new session starts after `gapSeconds` of inactivity. Batch analog
    * of Structured Streaming's `session_window` (which
    * [[graft.streaming.StreamOps.sessionAgg]] uses for streams).
    * One shuffle on the key; per-partition sort; no state on driver. */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
                 gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    val prev = lag(col(tsCol), 1).over(w)
    // microsecond precision: second-truncated arithmetic misclassifies
    // gaps that straddle the threshold by <1s
    df.withColumn("__new_session",
        when(prev.isNull ||
          unix_micros(col(tsCol)) - unix_micros(prev) > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("__new_session"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__new_session")
  }

  /** Snapshot diff — derive a change feed (CDC) from two versions of
    * a keyed table: `insert` (key only in `newDf`), `delete` (key
    * only in `oldDf`), `update` (key in both, any of `compareCols`
    * differs under null-safe comparison). Unchanged keys are NOT
    * emitted — a change feed carries changes. The batch complement of
    * [[scd2]]: scd2 compacts a history INTO versioned rows; this
    * recovers the delta BETWEEN two materializations (backfill
    * reconciliation, incremental-sync feeds, migration validation).
    *
    * One shuffle: a full outer join on the keys; the op column is a
    * row-local case. Returns the key columns + `op`, plus every
    * compared column from the NEW side (null for deletes) — what a
    * downstream apply needs. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String], compareCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    require(compareCols.nonEmpty, "snapshotDiff needs at least one compare column")
    val o = oldDf.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__old", lit(1))
    val n = newDf.select((keyCols ++ compareCols).map(col): _*)
      .withColumn("__new", lit(1))
    val renamedOld = compareCols.foldLeft(o)((d, c) => d.withColumnRenamed(c, s"__o_$c"))
    val joined = renamedOld.join(n, keyCols, "full_outer")
    val changed = compareCols
      .map(c => !(col(s"__o_$c") <=> col(c)))
      .reduce(_ || _)
    joined
      .withColumn("op",
        when(col("__old").isNull, "insert")
          .when(col("__new").isNull, "delete")
          .when(changed, "update"))
      .filter(col("op").isNotNull)
      .select(keyCols.map(col) ++ Seq(col("op")) ++ compareCols.map(col): _*)
  }

  /** Forward fill (last observation carried forward): per key in
    * `orderBy` order, each null in the listed columns takes the most
    * recent non-null value; nulls before a key's first observation
    * stay null. THE standard gap repair for sensor/metric/SCD streams
    * before resampling or feature extraction. One shuffle on the
    * partition keys, per-partition sort, running `last(ignoreNulls)`
    * frame — a PARTITIONED window, so it scales with key cardinality
    * (never the partition-less-window trap). Backward fill is the
    * same call with the order columns reversed. */
  def forwardFill(df: DataFrame, partitionBy: Seq[Column],
                  orderBy: Seq[Column], cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "forwardFill needs at least one column to fill")
    val w = Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Time-window (interval) join: every (left, right) pair sharing
    * `keyCol` with `rightTs ∈ [leftTs, leftTs + window)` — click→
    * purchase attribution, impression→conversion, log correlation.
    *
    * A naive formulation is an equi-join on the key with a range
    * predicate — correct, but one hot key (a bot user, a default id)
    * concentrates every candidate pair on one task, and keys with many
    * events pay O(n·m) comparisons. This one BUCKETS time by the window
    * width: the right side explodes to its own bucket and the previous
    * one (any right row within `window` of a left row lands in one of
    * the two), the join runs on (key, bucket) — so candidate pairs are
    * bounded per (key, window-width slice) rather than per key — and
    * the exact range predicate decides. Each right row appears in 2
    * buckets, so shuffle volume is 2×|right| + |left|, keyed by
    * (key, bucket); a pair cannot match twice because the left row has
    * exactly one bucket. Callers must pre-rename colliding columns
    * (everything except `keyCol` must be distinct across the sides). */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTsCol: String, rightTsCol: String,
                   windowMicros: Long): DataFrame = {
    require(windowMicros > 0, s"windowMicros must be positive, got $windowMicros")
    val l = left
      .withColumn("__lt", unix_micros(col(leftTsCol)))
      .withColumn("__bucket", floor(col("__lt") / windowMicros))
    val r = right
      .withColumn("__rt", unix_micros(col(rightTsCol)))
      .withColumn("__rb", floor(col("__rt") / windowMicros))
      .withColumn("__bucket", explode(array(col("__rb"), col("__rb") - 1)))
      .drop("__rb")
    l.join(r, Seq(keyCol, "__bucket"))
      .filter(col("__rt") >= col("__lt") && col("__rt") < col("__lt") + windowMicros)
      .drop("__bucket", "__lt", "__rt")
  }

  /** Contiguous global row numbers 1..N in `orderCols` order WITHOUT
    * the single-partition global window. `ROW_NUMBER() OVER (ORDER BY
    * …)` with no PARTITION BY funnels the entire dataset through one
    * task — the canonical 100 TB bottleneck. A row number is the
    * running sum of 1, so this is [[runningSums]]' two-pass shape.
    * Ranks depend only on the total order, so the result is identical
    * whatever the partitioning; `orderCols` must be a total order
    * (include a tiebreak) for determinism. */
  def globalRowNumber(df: DataFrame, orderCols: Seq[Column],
                      out: String = "row_num"): DataFrame =
    runningSums(df, orderCols, Seq(out -> lit(1L)))

  /** `df` with the INCLUSIVE running sum of each integral value column
    * in `sums` (output name -> value) over `orderCols`, nulls counting
    * as 0 — the engine's one global prefix sum that never funnels
    * through a partition-less window. Two passes:
    *  1. a range-partitioned sort, materialized, and each partition's
    *     totals collected (|partitions| rows to the driver, not data);
    *  2. a partition-local running sum plus the broadcast totals of
    *     the preceding partitions.
    * The sorted frame is materialized so both passes read the SAME
    * rows: re-running the sort can shift rows across partition
    * boundaries (RangePartitioner boundary sampling and AQE react to
    * input order, and an upstream retry may replay nondeterministic
    * data), and then pass 2's partitions would disagree with pass 1's
    * totals. Exclusive sums are inclusive minus the row's own value.
    * Rows tied in `orderCols` are summed in an arbitrary order. */
  private[operators] def runningSums(df: DataFrame, orderCols: Seq[Column],
      sums: Seq[(String, Column)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val sorted = CheckpointHygiene.materialize(
      df.orderBy(orderCols: _*).withColumn("__pid", spark_partition_id()))
    val totals = sums.map { case (_, v) => coalesce(sum(v), lit(0L)) }
    val parts = sorted.groupBy(col("__pid")).agg(totals.head, totals.tail: _*)
      .orderBy(col("__pid")).collect()
    val offs = sums.indices.map(i => s"__off$i")
    val before = sums.indices.map(i => parts.scanLeft(0L)(_ + _.getLong(i + 1)))
    val offsetDf = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(parts.indices.map(p =>
        Row.fromSeq(parts(p).getInt(0) +: before.map(_(p)))): _*),
      StructType(StructField("__pid", IntegerType, nullable = false) +:
        offs.map(StructField(_, LongType, nullable = false))))
    val w = Window.partitionBy(col("__pid")).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sums.zip(offs)
      .foldLeft(sorted.join(broadcast(offsetDf), Seq("__pid"))) {
        case (d, ((name, v), off)) =>
          d.withColumn(name, coalesce(sum(v).over(w), lit(0L)) + col(off))
      }
      .drop("__pid" +: offs: _*)
  }

  /** Z-ORDER table layout ([[graft.functions.zorder2]] as a
    * clustering operator): range-partition, then sort, by the Morton
    * key of two columns, so every output partition — and every parquet
    * row group written from it — covers a tight RECTANGLE in (a, b)
    * space. Min/max column stats then prune scans on EITHER predicate
    * (`a BETWEEN …` or `b BETWEEN …`) from the same single layout,
    * where a plain sort serves only its leading column — the
    * data-skipping trick multi-dimensional query patterns need at
    * 100 TB (one layout, two prunable dimensions).
    *
    * Shape: one `repartitionByRange` shuffle (sampled boundaries →
    * balanced files regardless of key skew) + an in-partition sort;
    * `numPartitions` sizes output files for the target scale. The
    * helper key is dropped after the sort — projection keeps the
    * partitioning. */
  def zorderBy(df: DataFrame, a: Column, b: Column,
               numPartitions: Int): DataFrame = {
    require(numPartitions > 0, s"numPartitions must be positive, got $numPartitions")
    df.withColumn("__z", graft.functions.zorder2(a, b))
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** SCD2 (type-2 slowly-changing-dimension) compaction of a
    * changelog: per key, collapse consecutive rows whose payload is
    * unchanged and emit one row per distinct run with a
    * `[valid_from, valid_to)` interval and an `is_current` flag — the
    * standard "history table from an event stream" derivation (CDC
    * apply-changes, user-state timelines, dimension versioning).
    *
    * Payload comparison is null-safe (`<=>`): a null payload value is
    * a state like any other, and a null→null step is NOT a change.
    * `tieBreak` must make `(tsCol, tieBreak)` a total order per key —
    * with ties left unordered the run boundaries are nondeterministic.
    *
    * Physical shape: ONE hash shuffle on `keyCol`. Both window passes
    * (lag to find run starts, lead over the filtered runs to close
    * intervals) need the same `(key, ts)` partitioning+ordering, and
    * the intermediate filter preserves both, so Catalyst plans a
    * single Exchange + Sort and the second window reuses them. Window
    * state is O(1) per key — no per-key buffering, no driver state —
    * so the shape survives 100 TB with any number of keys; one hot key
    * degrades to one big sorted partition, the same bound as any
    * per-key history derivation. */
  def scd2(df: DataFrame, keyCol: String, tsCol: String,
           payloadCols: Seq[String],
           tieBreak: Seq[Column] = Nil): DataFrame = {
    require(payloadCols.nonEmpty, "scd2 needs at least one payload column")
    val ord = col(tsCol) +: tieBreak
    val w = Window.partitionBy(col(keyCol)).orderBy(ord: _*)
    val changed = payloadCols
      .map(c => !(col(c) <=> lag(col(c), 1).over(w)))
      .reduce(_ || _)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__chg", col("__rn") === 1 || changed)
      .filter(col("__chg"))
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__rn", "__chg")
  }

  /** Point-in-time (SCD2) lookup: join each fact to the dimension
    * VERSION that was valid at the fact's timestamp —
    * `valid_from ≤ ts < valid_to` with a null `valid_to` open-ended —
    * the temporal join every event-against-dimension pipeline needs
    * to avoid leaking future attribute values into the past. Facts
    * before the key's first version keep NULL version columns
    * (unattributable history stays visible, the q308 posture).
    *
    * Physically an as-of-backward join, NOT a range join: versions
    * and facts union into one stream tagged so a version at t sorts
    * BEFORE a fact at t (valid_from is inclusive), and one
    * `last(non-null)` running window per key carries the current
    * version struct onto every fact row — ONE hash exchange on the
    * key, O(1) window state, no interval self-join, no BNLJ. Assumes
    * `history` is well-formed SCD2 (consecutive, non-overlapping —
    * what [[scd2]] emits); overlapping versions would resolve to the
    * latest-starting one rather than erroring. */
  def scd2Lookup(facts: DataFrame, history: DataFrame, keyCol: String,
      tsCol: String, versionCols: Seq[String]): DataFrame = {
    require(versionCols.nonEmpty, "scd2Lookup needs version columns")
    val factCols = facts.columns.toSeq
    val vStruct = struct(versionCols.map(col): _*)
    val h = history.select(col(keyCol).as("__k"),
      unix_micros(col("valid_from")).as("__t"), lit(0).as("__tag"),
      vStruct.as("__v"),
      lit(null).cast(facts.select(struct(factCols.map(col): _*))
        .schema.fields(0).dataType).as("__frow"))
    val f = facts.select(col(keyCol).as("__k"),
      unix_micros(col(tsCol)).as("__t"), lit(1).as("__tag"),
      lit(null).cast(h.schema("__v").dataType).as("__v"),
      struct(factCols.map(col): _*).as("__frow"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__t"), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.unionByName(f)
      .withColumn("__cur", last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .select(factCols.map(c => col(s"__frow.$c").as(c)) ++
        versionCols.map(c => col(s"__cur.$c").as(c)): _*)
  }

  /** Join-skew diagnostic — the measurement half of [[saltedJoin]]
    * (you salt the keys this report names): the top-K heaviest join
    * keys with exact integer imbalance factors. Per reported key:
    * `key_rows`, `share_micro` (1e6·key_rows div total rows — the
    * fraction of the table one reducer would receive), and
    * `xmean_micro` (1e6·key_rows div ⌊total/n_keys⌋ — how many times
    * the MEAN key this one weighs, staged so the widest product is
    * 1e6·key_rows and BIGINT-safe to ~10¹² rows per key;
    * 1e6 ≈ perfectly uniform). A key at
    * xmean_micro ≫ 10⁷ with share_micro in the percents is the one
    * that turns a 1000-executor shuffle into a one-straggler wait.
    *
    * Shape: one hash aggregate to key grain (shuffle volume =
    * |keys|), a broadcast 1-row scalar, and a global top-K that
    * plans as TakeOrdered (per-partition heaps, never a full sort).
    * Ties break on the key columns ascending — deterministic, so
    * q212 hash-replays. Null keys group like any other value (they
    * hot-spot joins just the same). */
  def skewReport(df: DataFrame, keyCols: Seq[String],
      topK: Int = 20): DataFrame = {
    require(keyCols.nonEmpty, "skewReport needs at least one key column")
    require(topK >= 1 && topK <= 10000, s"topK must be in [1,10000], got $topK")
    val keys = keyCols.map(col)
    val counts = df.groupBy(keys: _*).agg(count(lit(1)).as("key_rows"))
    val scalars = counts
      .agg(count(lit(1)).as("__nk"), sum(col("key_rows")).as("__n"))
    counts.crossJoin(broadcast(scalars))
      .select(keys ++ Seq(col("key_rows"),
        expr("(1000000 * key_rows) div __n").as("share_micro"),
        expr("(1000000 * key_rows) div greatest(1L, __n div __nk)")
          .as("xmean_micro")): _*)
      .orderBy(col("key_rows").desc +: keys.map(_.asc): _*)
      .limit(topK)
  }

  /** Market-basket association rules — the co-occurrence analytics
    * family (support / confidence / lift) over (basket, item) rows:
    * which items appear together more than chance predicts? The
    * retail classic, and the same shape mines co-cited documents,
    * co-clicked results, and co-failing tests. Presence semantics:
    * (basket, item) dedups first — a basket with the same item
    * twice counts once, the standard convention.
    *
    * Exact micro lanes (all floors replayable): support =
    * n_ab/n_baskets, both conditional confidences n_ab/n_a and
    * n_ab/n_b, and lift = n_ab·N/(n_a·n_b) — the lift products run
    * in DECIMAL(38,0) (exact to ~10¹⁰ baskets). Pairs are canonical
    * (item_a < item_b); `minPairCount` prunes the tail BEFORE the
    * stats joins (the support-threshold step every a-priori-family
    * miner applies first).
    *
    * Physical shape: one distinct, one self-equi-join on the basket
    * key (candidate pairs cost Σ|basket|² — the blockedLinkage
    * economics; a mega-basket is the skewReport case), pair-grain
    * aggregate, two item-grain joins for the marginals, one 1-row
    * broadcast for N. Nothing driver-side. */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 1L): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be >= 1, got $minPairCount")
    val bi = df.select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .distinct()
    val scal = bi.agg(countDistinct(col("basket")).as("n_baskets"))
    val items = bi.groupBy(col("item")).agg(count(lit(1)).as("cnt"))
    val pairs = bi.select(col("basket"), col("item").as("item_a"))
      .join(bi.select(col("basket"), col("item").as("item_b")), Seq("basket"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
    pairs
      .join(items.select(col("item").as("item_a"), col("cnt").as("n_a")),
        Seq("item_a"))
      .join(items.select(col("item").as("item_b"), col("cnt").as("n_b")),
        Seq("item_b"))
      .crossJoin(broadcast(scal))
      .withColumn("__ln",
        lit(1000000L).cast("decimal(38,0)") * col("n_ab") * col("n_baskets"))
      .withColumn("__ld", col("n_a").cast("decimal(38,0)") * col("n_b"))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_baskets"),
        expr("(1000000 * n_ab) div n_baskets").as("support_micro"),
        expr("(1000000 * n_ab) div n_a").as("conf_ab_micro"),
        expr("(1000000 * n_ab) div n_b").as("conf_ba_micro"),
        expr("__ln div __ld").as("lift_micro"))
  }

  /** Per-group winsorization — the VALUE-side robust cleaner beside
    * [[graft.pipeline.Corpus.robustOutliers]]'s row gate: instead of
    * dropping outlier rows, clamp the value column to the group's
    * [p, 1−p] EXACT quantile band, so heavy tails stop dominating
    * sums/means but every row (and its other columns) survives. The
    * band uses the discrete lower-quantile convention in integer
    * milli: lo = value at rank max(1, ⌈pMilli·n/1000⌉), hi = value
    * at rank n+1−that — rank positions are integer arithmetic, the
    * extracted VALUE at a rank is tie-order-independent (equal
    * values are equal), and the clamp is two IEEE comparisons; no
    * float quantile estimation anywhere, so the q-oracle replays it
    * exactly (percentile_approx sketches can't promise that — the
    * exact band is the point, like q78's exact percentiles).
    *
    * Physical shape: ONE hash partition by the group keys carries a
    * ranking window, a same-partition conditional-extract window
    * (no second exchange), and the row-local clamp. A group's rows
    * sort within its partition — the [[groupedTopK]] caveat on
    * mega-groups applies (salt or pre-aggregate a pathological
    * group). Output: input columns + lo_bound, hi_bound, value_w. */
  def winsorize(df: DataFrame, keyCols: Seq[String], valueCol: String,
      pMilli: Int): DataFrame = {
    require(pMilli >= 1 && pMilli < 500,
      s"pMilli must be in [1,500), got $pMilli")
    val kc = keyCols.map(col)
    val wOrd = Window.partitionBy(kc: _*).orderBy(col(valueCol))
    val wAll = Window.partitionBy(kc: _*)
    val ranked = df
      .filter(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__lor",
        greatest(lit(1L), expr(s"(__n * $pMilli + 999) div 1000")))
      .withColumn("__hir", col("__n") + 1L - col("__lor"))
    ranked
      .withColumn("lo_bound",
        max(when(col("__rn") === col("__lor"), col(valueCol))).over(wAll))
      .withColumn("hi_bound",
        max(when(col("__rn") === col("__hir"), col(valueCol))).over(wAll))
      .withColumn("value_w",
        greatest(col("lo_bound"), least(col("hi_bound"), col(valueCol))))
      .drop("__rn", "__n", "__lor", "__hir")
  }

  /** Blocked fuzzy record linkage — entity resolution's standard
    * two-step: a BLOCKING equi-join proposes candidate pairs (only
    * records sharing every `blockCols` value can match — the step
    * that turns the O(N²) all-pairs comparison into Σ|block|², the
    * only reason fuzzy matching scales at all), then the
    * transposition-tolerant Jaro–Winkler kernel (q219's codegen'd
    * expression, micro-floored so thresholds are integer-exact)
    * scores each candidate and pairs below `minJwMicro` drop.
    * For self-linkage (`a` eq-shaped with `b` and `selfDedup`),
    * each unordered pair surfaces once (id_a < id_b) and trivial
    * self-pairs never; for two-table linkage every cross pair is a
    * real candidate. Null block keys never match (SQL equi-join),
    * which is the correct blocking posture — an unknown block is
    * not a shared block.
    *
    * One shuffled equi-join on the block keys (skew caveat: a
    * mega-block degrades toward all-pairs — exactly what
    * [[skewReport]] is for; cap or split hot blocks upstream), the
    * scoring all row-local codegen. Output: blockCols ++ (id_a,
    * name_a, id_b, name_b, jw_micro). */
  def blockedLinkage(a: DataFrame, b: DataFrame, blockCols: Seq[String],
      idCol: String, nameCol: String, minJwMicro: Long,
      selfDedup: Boolean = false): DataFrame = {
    require(blockCols.nonEmpty, "blockedLinkage needs at least one block key")
    require(minJwMicro >= 0 && minJwMicro <= 1000000,
      s"minJwMicro must be in [0,1e6], got $minJwMicro")
    val left = a.select(blockCols.map(col) ++
      Seq(col(idCol).as("id_a"), col(nameCol).as("name_a")): _*)
    val right = b.select(blockCols.map(col) ++
      Seq(col(idCol).as("id_b"), col(nameCol).as("name_b")): _*)
    val jw = floor(graft.functions.jaro_winkler(col("name_a"),
      col("name_b")) * 1000000).cast("long")
    left.join(right, blockCols)
      .filter(if (selfDedup) col("id_a") < col("id_b") else lit(true))
      .withColumn("jw_micro", jw)
      .filter(col("jw_micro") >= minJwMicro)
  }

  /** Bloom-pruned shuffled join — the runtime-filter shape for the
    * join Spark can't broadcast AND can't prune statically: fact ⋈
    * dim where dim is too big for autoBroadcast but touches only a
    * sliver of the fact's keys (an incremental batch joining a
    * catalog, a filtered dim joining full history). A plain
    * sort-merge/shuffled-hash join shuffles the WHOLE fact; here one
    * pass over dim builds a Bloom filter of its join keys
    * (Catalyst's `BloomFilterAggregate`, the sketch behind Spark's
    * own runtime row-filtering — which only fires on selective
    * broadcastable creation-side plans; this operator is the manual
    * form for when it doesn't), and the fact filters on the
    * codegen'd `BloomFilterMightContain` BEFORE its shuffle. The
    * join result is EXACT for any fpp: a Bloom filter has no false
    * negatives, so no matching fact row is dropped, and false
    * positives are eliminated by the equi-join itself — the sketch
    * only routes rows. Shuffle volume falls from |fact| to
    * |matching| + fpp·|fact|.
    *
    * The [[graft.operators.Dedup.newDocuments]] clamp discipline
    * applies verbatim: `expectedDimKeys` must upper-bound dim's
    * distinct key count, and the require fails loudly before
    * `BloomFilterAggregate`'s silent 4M-item/8MB cap degrades fpp
    * toward 1 (raise the two runtime.bloomFilter confs alongside).
    * Null join keys never match an equi-join, so the probe filter
    * dropping them (mightContain(null) is null → filter false) is
    * semantics-preserving. Inner joins only — outer forms must keep
    * non-matching rows, exactly what the pruning removes. */
  def bloomPrunedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, expectedDimKeys: Long = 1L << 20,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.bridge
    import org.apache.spark.sql.types.BinaryType

    require(expectedDimKeys > 0,
      s"expectedDimKeys must be positive, got $expectedDimKeys")
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedDimKeys, fpp)
    val conf = fact.sparkSession.conf
    val maxItems =
      conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    val maxBits =
      conf.get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    require(expectedDimKeys <= maxItems && numBits <= maxBits,
      s"BloomFilterAggregate would silently clamp this sketch " +
        s"(expectedDimKeys=$expectedDimKeys vs maxNumItems=$maxItems, " +
        s"numBits=$numBits vs maxNumBits=$maxBits), degrading fpp toward 1 " +
        "and shuffling the whole fact anyway. Raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems / maxNumBits " +
        "alongside expectedDimKeys.")
    val dimHash = bridge.toExpression(xxhash64(col(dimKey)))
    val bloomAgg = bridge.toColumn(
      new BloomFilterAggregate(dimHash,
        Literal(expectedDimKeys), Literal(numBits)).toAggregateExpression())
    val sketch = dim.select(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    if (sketch == null)
      // empty dim: inner join is empty — keep the schema, skip the work
      return fact.join(dim, col(factKey) === col(dimKey)).limit(0)
    val mightContain = bridge.toColumn(BloomFilterMightContain(
      Literal(sketch, BinaryType),
      bridge.toExpression(xxhash64(col(factKey)))))
    fact.filter(mightContain).join(dim, col(factKey) === col(dimKey))
  }

  /** Interval coalescing (gaps-and-islands) — merge each key's
    * overlapping [start, end) intervals into maximal disjoint
    * islands: user sessions from raw spans, effective on-call
    * coverage, time-under-load. The dual of [[concurrencyProfile]]
    * (which counts overlap; this one DISSOLVES it).
    *
    * End-exclusive discipline matches the family: an interval
    * starting exactly where another ends ([1,3) then [3,5)) does NOT
    * overlap it and starts a new island — only `start < running max
    * end` chains. Zero-length intervals ([t, t)) are kept and behave
    * as points: they chain into a covering island but never extend
    * one, and alone they form a zero-length island. Reversed
    * (end < start) and null-bounded rows are excluded (the
    * concurrencyProfile policy).
    *
    * Physical shape: ONE key-partitioned ordered window (running max
    * of end over the preceding frame → island-break flag → running
    * sum = island id), then ONE hash aggregate at (key, island)
    * grain. Everything is exact BIGINT micros; no partition-less
    * window, state bounds at key grain — a key's intervals sort
    * within its partition, islands never cross keys. Ties on start
    * order by end then input order; the running-max frame makes the
    * result independent of tie order (max is commutative).
    * Output: key, island_idx (0-based per key), island rows/bounds. */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: String,
      endCol: String): DataFrame = {
    val wOrd = Window.partitionBy(col(keyCol))
      .orderBy(col("__s"), col("__e"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val flagged = df
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        unix_micros(col(endCol)) >= unix_micros(col(startCol)))
      .select(col(keyCol), unix_micros(col(startCol)).as("__s"),
        unix_micros(col(endCol)).as("__e"))
      .withColumn("__maxe", max(col("__e")).over(wPrev))
      .withColumn("__brk",
        when(col("__maxe").isNull || col("__s") >= col("__maxe"), 1L)
          .otherwise(0L))
      .withColumn("island_idx", sum(col("__brk")).over(wOrd) - 1L)
    flagged.groupBy(col(keyCol), col("island_idx"))
      .agg(count(lit(1)).as("n_intervals"),
        min(col("__s")).as("island_start_us"),
        max(col("__e")).as("island_end_us"))
      .withColumn("island_span_us",
        col("island_end_us") - col("island_start_us"))
  }

  /** Period-over-period change per key — the WoW/MoM lane of every BI
    * review: bucket events into epoch-aligned periods of `periodUs`,
    * aggregate value per (key, period), and compare each period to
    * the key's PREVIOUS EXISTING period (lag over the aggregated
    * series — an empty period in between reads as "previous" here;
    * emitting zero-rows for silent periods is a spine join the caller
    * can add when calendar-strict comparison is wanted, and the
    * prev_period_idx column makes the distinction auditable).
    * pct_change_micro = ⌊10⁶·(cur − prev) / |prev|⌋ sign-split, NULL
    * on a zero or missing baseline — never ±∞, never invented zeros.
    *
    * One (key, period) hash aggregate + one key-partitioned lag
    * window at PERIOD grain (aggregated — tiny next to the events). */
  def periodOverPeriod(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, periodUs: Long): DataFrame = {
    require(periodUs >= 1, "periodUs must be >= 1")
    val w = Window.partitionBy(col("key")).orderBy(col("period_idx"))
    df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("key"),
        expr(s"unix_micros($tsCol) div $periodUs").as("period_idx"),
        floor(col(valueCol) * 1000).cast("long").as("__v"))
      .groupBy(col("key"), col("period_idx"))
      .agg(count(lit(1)).as("n_rows"), sum(col("__v")).as("sum_milli"))
      .withColumn("prev_period_idx", lag(col("period_idx"), 1).over(w))
      .withColumn("prev_sum_milli", lag(col("sum_milli"), 1).over(w))
      .withColumn("pct_change_micro",
        when(col("prev_sum_milli").isNotNull &&
            col("prev_sum_milli") =!= 0, expr(
          """CASE WHEN 1000000 * (sum_milli - prev_sum_milli) >= 0
            |  THEN (1000000 * (sum_milli - prev_sum_milli))
            |    div abs(prev_sum_milli)
            |  ELSE -((-(1000000 * (sum_milli - prev_sum_milli)))
            |    div abs(prev_sum_milli)) END""".stripMargin)))
  }

  /** Global running sum WITHOUT a partition-less window: rows are
    * [[globalRowNumber]]ed in `orderCols` order, then the prefix sum
    * rides a TWO-LEVEL scan — a within-block running window over
    * rank-blocks of 1024 plus broadcast block offsets (block offsets
    * from a block-grain triangular join: blocks² rows, block count =
    * n/1024, never data-sized on one reducer). Appends `out`
    * (inclusive prefix sum of `valueCol`) and `__r` (the global
    * rank). The scalable spine under PPS sampling, Mann–Whitney
    * ranks, Lorenz curves — anywhere "cumulative over everything"
    * must not funnel through one partition. */
  def globalPrefixSum(df: DataFrame, orderCols: Seq[Column],
      valueCol: String, out: String): DataFrame =
    globalPrefixSums(df, orderCols, Seq(valueCol -> out))

  /** N prefix sums over ONE global ordering in ONE spine pass — the
    * multi-lane form of [[globalPrefixSum]]: one global row-number
    * pass, one block-totals aggregate carrying every lane, one
    * block-offset self-join, one in-block cumulative window computing
    * every lane in a single WindowExec. Stacking the single-lane form
    * N times re-sorts, re-ranks and re-materializes the spine N times
    * for the SAME ordering (energyDistance stacked four). */
  def globalPrefixSums(df: DataFrame, orderCols: Seq[Column],
      valueOuts: Seq[(String, String)]): DataFrame = {
    require(valueOuts.nonEmpty, "need at least one (valueCol, out) lane")
    val ranked = globalRowNumber(df, orderCols, "__r")
      .withColumn("__blk", expr("(__r - 1) div 1024"))
    val wIn = Window.partitionBy(col("__blk")).orderBy(col("__r"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val totAggs = valueOuts.map { case (v, _) =>
      sum(col(v)).as(s"__bw_$v") }
    val blkTotals = ranked.groupBy(col("__blk"))
      .agg(totAggs.head, totAggs.tail: _*)
    val offAggs = valueOuts.map { case (v, _) =>
      coalesce(sum(col(s"__w2_$v")), lit(0L)).as(s"__off_$v") }
    val blkOffsets = blkTotals.as("x").join(
        blkTotals.select(col("__blk").as("__b2") +:
          valueOuts.map { case (v, _) =>
            col(s"__bw_$v").as(s"__w2_$v") }: _*),
        col("__b2") < col("x.__blk"), "left")
      .groupBy(col("x.__blk"))
      .agg(offAggs.head, offAggs.tail: _*)
    val withinCols = valueOuts.foldLeft(ranked) { case (d, (v, _)) =>
      d.withColumn(s"__within_$v", sum(col(v)).over(wIn)) }
    val joined = withinCols.join(broadcast(blkOffsets), Seq("__blk"))
    val summed = valueOuts.foldLeft(joined) { case (d, (v, out)) =>
      d.withColumn(out, col(s"__within_$v") + col(s"__off_$v")) }
    summed.drop("__blk" +: valueOuts.flatMap { case (v, _) =>
      Seq(s"__within_$v", s"__off_$v") }: _*)
  }

  /** Polygon area + centroid by the integer shoelace formula — the
    * measurement half of the geometry family ([[pointInPolygon]] is
    * the membership half): per polygon (vertices as rows, ordered by
    * `idxCol`, last implicitly closing to first),
    *   2A = Σᵢ (xᵢ·yᵢ₊₁ − xᵢ₊₁·yᵢ)   (signed: CCW positive)
    *   C  = Σᵢ (vᵢ + vᵢ₊₁)·crossᵢ / (3·2A).
    * Cross products stay BIGINT (|coords| ≤ ~10⁹ documented), the
    * centroid sums ride DECIMAL(38,0), and each centroid coordinate
    * is ONE sign-split truncating division to micro. Zero-area
    * (degenerate) polygons report null centroids. The closing edge
    * comes from a first_value window — one key-partitioned sort, one
    * aggregate, no self-join. */
  def polygonStats(df: DataFrame, polyCol: String, idxCol: String,
      xCol: String, yCol: String): DataFrame = {
    val wOrd = Window.partitionBy(col("poly")).orderBy(col("__i"))
    val wAll = Window.partitionBy(col("poly"))
      .orderBy(col("__i"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def sdivE(n: String, d: String) =
      expr(s"""CASE WHEN ($n) >= 0 THEN ($n) div ($d)
              | ELSE -((-($n)) div ($d)) END""".stripMargin)
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull &&
        col(idxCol).isNotNull)
      .select(col(polyCol).as("poly"), col(idxCol).as("__i"),
        col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
      .withColumn("__xn", coalesce(lead(col("x"), 1).over(wOrd),
        first(col("x")).over(wAll)))
      .withColumn("__yn", coalesce(lead(col("y"), 1).over(wOrd),
        first(col("y")).over(wAll)))
      .withColumn("__cross", col("x") * col("__yn") - col("__xn") * col("y"))
      .groupBy(col("poly"))
      .agg(count(lit(1)).as("n_vertices"),
        sum(col("__cross")).as("area2"),
        sum(expr("CAST(x + __xn AS DECIMAL(38,0)) * __cross")).as("__sx"),
        sum(expr("CAST(y + __yn AS DECIMAL(38,0)) * __cross")).as("__sy"))
      .withColumn("cx_micro", when(col("area2") =!= 0,
        sdivE("1000000 * __sx * (CASE WHEN area2 >= 0 THEN 1 ELSE -1 END)",
          "3 * CAST(abs(area2) AS DECIMAL(38,0))").cast("long")))
      .withColumn("cy_micro", when(col("area2") =!= 0,
        sdivE("1000000 * __sy * (CASE WHEN area2 >= 0 THEN 1 ELSE -1 END)",
          "3 * CAST(abs(area2) AS DECIMAL(38,0))").cast("long")))
      .select(col("poly"), col("n_vertices"), col("area2"),
        abs(col("area2")).as("area2_abs"), col("cx_micro"),
        col("cy_micro"))
  }

  /** Top movers between two periods — the "what changed" report every
    * monitoring review starts from: per item, occurrence counts
    * before/after `splitTsUs`, and a smoothed relative-rate score
    *   score_micro = ⌊10⁶·(c₂+1)·(n₁+1) / ((c₁+1)·(n₂+1))⌋
    * (add-one smoothing so items absent from one period rank sanely
    * instead of dividing by zero; n are period totals so the score is
    * a RATE ratio, immune to overall volume shifts). 10⁶ = unchanged;
    * the top-k by (score DESC, item ASC) are the risers — run it with
    * the periods swapped for the fallers. Items missing from a period
    * count 0 via the conditional-sum spine. Products in
    * DECIMAL(38,0): exact to ~10¹⁵ rows per period. Output is the
    * top-k ordered by (score DESC, item ASC) — deterministic, no
    * rank column (a global row_number would plan the partition-less
    * window this codebase bans).
    *
    * Two hash aggregates at item grain + one broadcast scalar row +
    * one TakeOrdered top-k — no shuffle wider than the item set. */
  def topMovers(df: DataFrame, itemCol: String, tsCol: String,
      splitTsUs: Long, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val staged = df
      .filter(col(itemCol).isNotNull && col(tsCol).isNotNull)
      .select(col(itemCol).as("item"),
        (unix_micros(col(tsCol)) < splitTsUs).as("__before"))
    val counts = staged.groupBy(col("item"))
      .agg(sum(when(col("__before"), 1L).otherwise(0L)).as("c_before"),
        sum(when(!col("__before"), 1L).otherwise(0L)).as("c_after"))
    val totals = counts.agg(sum(col("c_before")).as("n_before"),
      sum(col("c_after")).as("n_after"))
    counts.crossJoin(broadcast(totals))
      .withColumn("score_micro", expr(
        """CAST((CAST(1000000 AS DECIMAL(38,0)) * (c_after + 1)
          |  * (n_before + 1))
          |  div (CAST(c_before + 1 AS DECIMAL(38,0)) * (n_after + 1))
          |  AS BIGINT)""".stripMargin))
      .orderBy(col("score_micro").desc, col("item").asc)
      .limit(k)
  }

  /** The complement of [[mergeIntervals]]: the maximal UNCOVERED gaps
    * between a key's intervals — outage/SLA analysis asks for the
    * holes, not the islands. A gap opens wherever an interval's start
    * strictly exceeds the running max of all earlier ends (same
    * (start, end) ordering and running-max window as mergeIntervals,
    * so the two operators are provably complementary on the same
    * input: island spans + gap spans = max(end) − min(start) per
    * key). Rows before the key's first interval and after its last
    * emit nothing — the domain is the covered hull, by definition.
    * Zero-length contacts (start == running max) are NOT gaps, the
    * same strictness mergeIntervals uses to split islands.
    *
    * One key-partitioned sort window, then a filter — no join, no
    * second shuffle. Output: key, gap_start_us, gap_end_us,
    * gap_span_us, one row per gap. */
  def intervalGaps(df: DataFrame, keyCol: String, startCol: String,
      endCol: String): DataFrame = {
    val wPrev = Window.partitionBy(col(keyCol))
      .orderBy(col("__s"), col("__e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        unix_micros(col(endCol)) >= unix_micros(col(startCol)))
      .select(col(keyCol), unix_micros(col(startCol)).as("__s"),
        unix_micros(col(endCol)).as("__e"))
      .withColumn("__maxe", max(col("__e")).over(wPrev))
      .filter(col("__maxe").isNotNull && col("__s") > col("__maxe"))
      .select(col(keyCol), col("__maxe").as("gap_start_us"),
        col("__s").as("gap_end_us"),
        (col("__s") - col("__maxe")).as("gap_span_us"))
  }

  /** First/last-touch conversion attribution: for every conversion
    * event, find the key's touch events within the lookback window
    * `conv_ts − windowMicros ≤ touch_ts ≤ conv_ts` (inclusive at the
    * conversion instant) and credit the conversion's value to the
    * earliest and latest touch's channel — the two endpoint models
    * every marketing/causal pipeline starts from. Output: one row
    * PER CONVERSION (conversions with no in-window touch keep null
    * channels — unattributed spend must stay visible, the q304
    * posture): key, conv id/ts/value plus n_touches, first/last
    * channel and their timestamps.
    *
    * Built ON [[intervalJoin]] (left = touches, right = conversions,
    * window + 1 µs for the inclusive upper bound), so candidate pairs
    * are bounded per (key, window slice) — a bot key with 10⁶ touches
    * never concentrates on one task — then ONE hash aggregate at
    * conversion grain: endpoints ride lexicographic struct min/max
    * ((ts, channel) — same-instant ties break toward the smaller
    * channel string, a total order, so the credit is deterministic),
    * and the final left join restores untouched conversions. */
  def touchAttribution(touches: DataFrame, convs: DataFrame,
      keyCol: String, touchTsCol: String, channelCol: String,
      convIdCol: String, convTsCol: String, valueCol: String,
      windowMicros: Long): DataFrame = {
    require(windowMicros > 0, s"windowMicros must be positive, got $windowMicros")
    val t = touches.select(col(keyCol), col(touchTsCol).as("__tts"),
      col(channelCol).as("__ch"))
    val c = convs.select(col(keyCol), col(convIdCol).as("conv_id"),
      col(convTsCol).as("__cts"), col(valueCol).as("__cv"))
    val pair = struct(unix_micros(col("__tts")).as("ts"), col("__ch").as("ch"))
    val credited = intervalJoin(t, c, keyCol, "__tts", "__cts",
        windowMicros + 1L)
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_touches"),
        min(pair).as("__first"), max(pair).as("__last"))
      .select(col("conv_id"), col("n_touches"),
        col("__first.ch").as("first_channel"),
        col("__first.ts").as("first_touch_us"),
        col("__last.ch").as("last_channel"),
        col("__last.ts").as("last_touch_us"))
    c.select(col(keyCol), col("conv_id"),
        unix_micros(col("__cts")).as("conv_ts_us"),
        floor(col("__cv") * lit(1000)).cast("long").as("value_milli"))
      .join(credited, Seq("conv_id"), "left")
      .withColumn("n_touches", coalesce(col("n_touches"), lit(0L)))
  }

  /** Field-level survivorship (golden-record merge): one output row
    * per cluster of duplicate records, where EACH listed field is
    * taken from its best non-null source independently — highest
    * `priorityCol`, then latest `tsCol`, then smallest `idCol` — the
    * master-data-management step after identity resolution
    * ([[sortedNeighborhoodPairs]] / linkage pairs decide WHO matches;
    * this decides what the merged record SAYS). Row-level keep-best
    * (Dedup.keepBest) throws away a better phone number living on a
    * worse record; field-level merge is why MDM pipelines exist.
    *
    * ONE hash aggregate at cluster grain: per field, the survivor
    * rides max(struct(priority, ts, −id, value)) over non-null
    * values only — lexicographic struct comparison IS the tie-break
    * chain, and −id makes the final tie deterministic without a
    * second pass. Null only when the field is null across the whole
    * cluster. */
  def goldenRecord(df: DataFrame, clusterCol: String, priorityCol: String,
      tsCol: String, idCol: String, fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "goldenRecord needs at least one field")
    val aggs = fields.map { f =>
      max(when(col(f).isNotNull,
        struct(col(priorityCol).as("p"), col(tsCol).as("t"),
          (-col(idCol)).as("ni"), col(f).as("v"))))
        .getField("v").as(f)
    }
    df.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_records"), aggs: _*)
  }

  /** Interval-INTERSECTION join: every overlapping (left, right)
    * interval pair sharing `keyCol`, with the clipped intersection
    * [max(starts), min(ends)) and its width — outage ∩ SLA-window
    * accounting, policy ∩ session overlap, downtime attribution.
    * Half-open semantics: touching intervals (l_end == r_start) do
    * NOT overlap.
    *
    * Both sides explode to the width-`bucketMicros` buckets they
    * cover; the join runs on (key, bucket); a pair that shares many
    * buckets is emitted ONCE — by the bucket containing the
    * intersection's start (the emit-once discipline of bandJoin/
    * gridDistanceJoin, here chosen per-pair instead of per-side
    * because BOTH sides explode). Fan-out is interval_length/bucket
    * + 1 rows per interval — pick `bucketMicros` near the typical
    * interval length; a single interval longer than
    * `maxBucketsPerInterval` buckets raises rather than silently
    * exploding the shuffle (the no-silent-caps rule). */
  def intervalIntersectJoin(left: DataFrame, right: DataFrame,
      keyCol: String, lStartCol: String, lEndCol: String,
      rStartCol: String, rEndCol: String, bucketMicros: Long,
      maxBucketsPerInterval: Int = 1024): DataFrame = {
    require(bucketMicros > 0, s"bucketMicros must be positive, got $bucketMicros")
    require(maxBucketsPerInterval >= 1, "maxBucketsPerInterval must be >= 1")
    def stage(df: DataFrame, sCol: String, eCol: String, s: String,
        e: String): DataFrame = {
      val sUs = unix_micros(col(sCol)); val eUs = unix_micros(col(eCol))
      val b0 = floor(sUs / bucketMicros)
      // end is exclusive: an interval ending ON a bucket edge does
      // not cover that bucket
      val b1 = floor((eUs - 1) / bucketMicros)
      df.filter(col(sCol).isNotNull && col(eCol).isNotNull && eUs > sUs)
        .select(col(keyCol), sUs.as(s), eUs.as(e),
          explode(sequence(b0,
            when(b1 - b0 >= maxBucketsPerInterval, raise_error(concat(
              lit(s"intervalIntersectJoin: interval covers > $maxBucketsPerInterval buckets at "),
              sUs)).cast("long")).otherwise(b1))).as("__b"))
    }
    val l = stage(left, lStartCol, lEndCol, "l_start_us", "l_end_us")
    val r = stage(right, rStartCol, rEndCol, "r_start_us", "r_end_us")
    l.join(r, Seq(keyCol, "__b"))
      .withColumn("overlap_start_us", greatest(col("l_start_us"), col("r_start_us")))
      .withColumn("overlap_end_us", least(col("l_end_us"), col("r_end_us")))
      .filter(col("overlap_end_us") > col("overlap_start_us") &&
        col("__b") === floor(col("overlap_start_us") / bucketMicros))
      .withColumn("overlap_us", col("overlap_end_us") - col("overlap_start_us"))
      .drop("__b")
  }

  /** Sliding LOWER median over the trailing `window` rows per key —
    * the robust smoother a noisy metric stream actually wants (one
    * spike moves a moving average by spike/n; it moves the moving
    * median not at all). "Lower median" = element ⌈k/2⌉ of the
    * sorted frame — a VALUE FROM THE DATA, not an interpolation, so
    * it is type-stable, engine-exact, and identical in both lanes
    * (avg-of-two-middles would reintroduce float division).
    *
    * Frame order is (tsCol, seqCol) — a total order. One
    * key-partitioned window; per-row cost O(window log window) for
    * the sort of a BOUNDED frame (window is a config constant, so
    * this is O(1) state per row at any corpus size — the same
    * argument as resampleOhlc's envelope). */
  def slidingMedian(df: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, valueCol: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("ts_us"), col(seqCol))
      .rowsBetween(-(window - 1L), Window.currentRow)
    df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol), unix_micros(col(tsCol)).as("ts_us"), col(seqCol),
        floor(col(valueCol) * lit(1000)).cast("long").as("__v"))
      .withColumn("__frame", collect_list(col("__v")).over(w))
      .select(col(keyCol), col("ts_us"), col(seqCol).as("seq"),
        col("__v").as("value_milli"),
        size(col("__frame")).cast("long").as("n_in_frame"),
        expr("element_at(array_sort(__frame), CAST((size(__frame)+1) div 2 AS INT))")
          .as("median_milli"))
  }

  /** Per-key maximum drawdown — the canonical "how bad did it get"
    * summary for any level series (loss curves, quality scores,
    * account balances): max over time of (running peak − value),
    * with the peak, the final value, and when the worst drawdown
    * bottomed. Values are milli floors; everything else is integer
    * max/lag arithmetic, so the summary is engine-exact. Frame
    * order is (tsCol, seqCol) — a total order.
    *
    * Shape: one key-partitioned running-max window + one key-grain
    * aggregate; no global window, no joins. */
  def maxDrawdown(df: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("ts_us"), col("__seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol)).as("ts_us"),
        col(seqCol).as("__seq"),
        floor(col(valueCol) * 1000).cast("long").as("__v"))
      .withColumn("__peak", max(col("__v")).over(w))
      .withColumn("__dd", col("__peak") - col("__v"))
      .withColumn("__ddmax",
        max(col("__dd")).over(Window.partitionBy(col("key"))))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        max(col("__peak")).as("peak_milli"),
        max(struct(col("ts_us"), col("__seq"), col("__v")))
          .getField("__v").as("last_milli"),
        max(col("__dd")).as("max_drawdown_milli"),
        // where the worst drawdown first bottomed (earliest instant
        // attaining the max — deterministic under ties)
        min(when(col("__dd") === col("__ddmax"), col("ts_us")))
          .as("trough_ts_us"))
  }

  /** Per-key SMA-variant RSI (relative strength index) over the
    * trailing `window` one-step deltas — the bounded momentum gauge
    * (0..100) dashboards put beside [[ewmaMilli]]: gains vs losses
    * over the lookback, as ONE exact rational
    *   rsi_milli = ⌊100000·Σgains / (Σgains + Σlosses)⌋
    * (the simple-average form — Wilder's recursive smoothing would
    * compound float error; the SMA variant is standard and exact).
    * NULL until `window` deltas exist and when the frame is flat
    * (Σg + Σl = 0). Deltas of milli floors are integers, so both
    * lanes replay bit-identically. Frame order is (tsCol, seqCol).
    *
    * Shape: one key-partitioned lag + one bounded ROWS frame per
    * key; O(1) state per row, no joins. */
  def rsiSma(df: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, valueCol: String, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val wOrd = Window.partitionBy(col("key"))
      .orderBy(col("ts_us"), col("seq"))
    val wSum = wOrd.rowsBetween(-(window - 1L), Window.currentRow)
    df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol)).as("ts_us"),
        col(seqCol).as("seq"),
        floor(col(valueCol) * 1000).cast("long").as("value_milli"))
      .withColumn("__d",
        col("value_milli") - lag(col("value_milli"), 1).over(wOrd))
      .withColumn("__nd", count(col("__d")).over(wSum))
      .withColumn("sum_gain_milli",
        coalesce(sum(greatest(col("__d"), lit(0L))).over(wSum), lit(0L)))
      .withColumn("sum_loss_milli",
        coalesce(sum(greatest(-col("__d"), lit(0L))).over(wSum), lit(0L)))
      .withColumn("rsi_milli", when(
        col("__nd") >= window.toLong &&
          col("sum_gain_milli") + col("sum_loss_milli") > 0L,
        expr("""(100000 * sum_gain_milli)
          | div (sum_gain_milli + sum_loss_milli)""".stripMargin)))
      .drop("__d", "__nd")
  }

  /** SAX symbolization (Lin et al. 2003, made exact) — compress each
    * key's series into frame-grain SYMBOLS so motif mining, indexing,
    * and cheap whole-corpus similarity run on letters instead of
    * floats: consecutive `paaSize`-row frames (in (ts, seq) order)
    * average to a PAA value, then discretize against the GLOBAL
    * exact value quartiles (classic SAX z-normalizes per series and
    * cuts at Gaussian breakpoints — IEEE all the way down; the exact
    * variant cuts at the corpus's own lower-quartile VALUES from the
    * [[globalPrefixSum]] run spine, which keeps every lane integer
    * and the alphabet calibrated to the data actually seen):
    * letter = a/b/c/d by how many breakpoints the frame's
    * floor-divided PAA mean strictly exceeds.
    *
    * Shape: one value-run census + the two-pass prefix-sum spine for
    * the three cut positions (never a partition-less window over
    * rows), one keyed numbering window, one (key, frame) aggregate,
    * broadcast breakpoints. */
  def saxSymbols(df: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, valueCol: String, paaSize: Int): DataFrame = {
    require(paaSize >= 1, s"paaSize must be >= 1, got $paaSize")
    val staged = df.filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol)).as("ts_us"),
        col(seqCol).as("__seq"),
        floor(col(valueCol) * 1000).cast("long").as("__v"))
    val runs = staged.groupBy(col("__v")).agg(count(lit(1)).as("__c"))
    val cum = globalPrefixSum(runs, Seq(col("__v").asc), "__c", "__cum")
    val scal = staged.agg(count(lit(1)).as("__N"))
    val cuts = cum.crossJoin(broadcast(scal))
      .agg(
        min(when(col("__cum") >= expr("(__N + 3) div 4"), col("__v")))
          .as("b1"),
        min(when(col("__cum") >= expr("(__N + 1) div 2"), col("__v")))
          .as("b2"),
        min(when(col("__cum") >= expr("(3 * __N + 3) div 4"), col("__v")))
          .as("b3"))
    val wOrd = Window.partitionBy(col("key"))
      .orderBy(col("ts_us"), col("__seq"))
    staged
      .withColumn("__r", row_number().over(wOrd).cast("long") - 1L)
      .withColumn("frame", expr(s"__r div $paaSize"))
      .groupBy(col("key"), col("frame"))
      .agg(count(lit(1)).as("n_in_frame"),
        sum(col("__v")).as("__s"), min(col("ts_us")).as("frame_start_us"))
      // floor division (negative-safe) so both engines agree
      .withColumn("paa_milli", expr(
        """CASE WHEN __s >= 0 THEN __s div n_in_frame
          |  ELSE -((-__s + n_in_frame - 1) div n_in_frame) END"""
          .stripMargin))
      .crossJoin(broadcast(cuts))
      .withColumn("letter", expr(
        """CHR(97 + CASE WHEN paa_milli > b1 THEN 1 ELSE 0 END
          |  + CASE WHEN paa_milli > b2 THEN 1 ELSE 0 END
          |  + CASE WHEN paa_milli > b3 THEN 1 ELSE 0 END)""".stripMargin))
      .select("key", "frame", "frame_start_us", "n_in_frame",
        "paa_milli", "letter")
  }

  /** Allen interval-relation census — classify every same-key
    * interval pair into Allen's 13 relations (the complete, mutually
    * exclusive vocabulary of how two spans can relate: before /
    * meets / overlaps / starts / during / finishes, their inverses,
    * and equals). The census is the structural fingerprint of an
    * interval table — a scheduling log dominated by `overlaps` and a
    * session log dominated by `before` are different worlds, and
    * joins ([[intervalJoin]]) or gap audits pick different plans for
    * each. Pairs are ordered by `idCol` (a.id < b.id), so each pair
    * counts once and the inverse relations are genuinely informative.
    *
    * Shape: one per-key self-join — pair count is Σ nₖ², the
    * [[graft.operators.Learn.preferenceCycles]] bounded-key
    * discipline (intervals per key fit an executor; cap upstream
    * when a key is corpus-sized). Output is relation grain. */
  def allenCensus(df: DataFrame, keyCol: String, idCol: String,
      startCol: Column, endCol: Column): DataFrame = {
    val base = df
      .filter(col(keyCol).isNotNull && col(idCol).isNotNull)
      .select(col(keyCol).as("__k"), col(idCol).cast("long").as("__id"),
        startCol.cast("long").as("__s"), endCol.cast("long").as("__e"))
      .filter(col("__s").isNotNull && col("__e").isNotNull &&
        col("__s") <= col("__e"))
    val a = base.select(col("__k"), col("__id").as("__ia"),
      col("__s").as("__as"), col("__e").as("__ae"))
    val b = base.select(col("__k"), col("__id").as("__ib"),
      col("__s").as("__bs"), col("__e").as("__be"))
    a.join(b, Seq("__k")).filter(col("__ia") < col("__ib"))
      .withColumn("relation", expr(
        """CASE
          |  WHEN __as = __bs AND __ae = __be THEN 'equals'
          |  WHEN __ae < __bs THEN 'before'
          |  WHEN __be < __as THEN 'after'
          |  WHEN __ae = __bs THEN 'meets'
          |  WHEN __be = __as THEN 'met_by'
          |  WHEN __as = __bs AND __ae < __be THEN 'starts'
          |  WHEN __as = __bs THEN 'started_by'
          |  WHEN __ae = __be AND __as > __bs THEN 'finishes'
          |  WHEN __ae = __be THEN 'finished_by'
          |  WHEN __as > __bs AND __ae < __be THEN 'during'
          |  WHEN __as < __bs AND __ae > __be THEN 'contains'
          |  WHEN __as < __bs THEN 'overlaps'
          |  ELSE 'overlapped_by'
          |END""".stripMargin))
      .groupBy(col("relation")).agg(count(lit(1)).as("n"))
  }

  /** Per-key resampling onto a regular epoch-aligned grid with LINEAR
    * interpolation — the irregular→regular bridge every time-series
    * consumer eventually needs (model features at fixed cadence,
    * joining sensors sampled at different rates): grid instants are
    * multiples of `stepUs` inside [min ts, max ts] per key, and each
    * takes v₀ + (v₁−v₀)·(g−t₀)/(t₁−t₀) from its bracketing
    * observations ([[forwardFill]] is the step-function sibling;
    * [[Relational]]'s as-of family picks one side, this blends both).
    *
    * Exactness: values are milli floors; the interpolation division
    * is ONE sign-split truncating div of exact BIGINT products
    * (|Δv|·step ≤ 10⁶·10¹² — products stay far under 2⁶³ for any
    * realistic cadence), so the resampled series is engine-exact.
    * Duplicate timestamps pre-pool to their MIN value (deterministic;
    * a duplicate-ts series is a data bug this operator refuses to
    * launder through interpolation luck). Grid points equal to an
    * observation time reproduce that observation exactly
    * ((g−t₀) = 0 — no drift at the knots).
    *
    * Shape: ONE exchange — an explicit hash(key) repartition that
    * both the (key, ts) tie-pool aggregate and the lead window ride
    * (hash(key) satisfies the (key, ts) clustering, so neither
    * re-shuffles — the isotonicFit single-exchange move), then a
    * row-local sequence explode — output size is (span/step) per
    * key, never a cross join; no global window anywhere. */
  def resampleLinear(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, stepUs: Long): DataFrame = {
    require(stepUs >= 1, s"stepUs must be positive, got $stepUs")
    val obs = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol)).as("__t"),
        floor(col(valueCol) * 1000).cast("long").as("__v"))
      .repartition(col("key"))
      .groupBy(col("key"), col("__t"))
      .agg(min(col("__v")).as("__v"))
    val w = Window.partitionBy(col("key")).orderBy(col("__t"))
    val seg = obs
      .withColumn("__t1", lead(col("__t"), 1).over(w))
      .withColumn("__v1", lead(col("__v"), 1).over(w))
    val interior = seg.filter(col("__t1").isNotNull)
      .withColumn("__g0",
        expr(s"((__t + $stepUs - 1) div $stepUs) * $stepUs"))
      .filter(col("__g0") < col("__t1"))
      .withColumn("grid_us",
        explode(sequence(col("__g0"), col("__t1") - 1, lit(stepUs))))
      .withColumn("value_milli", col("__v") + expr(
        """CASE WHEN (__v1 - __v) * (grid_us - __t) >= 0
          | THEN ((__v1 - __v) * (grid_us - __t)) div (__t1 - __t)
          | ELSE -((-((__v1 - __v) * (grid_us - __t))) div (__t1 - __t))
          | END""".stripMargin))
    val last = seg.filter(col("__t1").isNull &&
        col("__t") % stepUs === 0)
      .select(col("key"), col("__t").as("grid_us"),
        col("__v").as("value_milli"))
    interior.select(col("key"), col("grid_us"), col("value_milli"))
      .unionByName(last)
  }

  /** Cohort retention triangle — the product-analytics staple over
    * an activity log: bucket time into fixed `periodDays` windows
    * (integer epoch-day division — no calendar arithmetic to
    * disagree about), cohort(u) = a user's FIRST active period,
    * then count distinct users active at each (cohort, offset) and
    * divide by the cohort's size:
    *   retained_micro = ⌊10⁶·n_active / cohort_size⌋
    * offset 0 is the cohort itself (retained_micro = 10⁶ exactly —
    * a built-in self-check).
    *
    * Shape: one (user, period) distinct (the only row-scale
    * exchange), then a user-grain aggregate that carries each
    * user's period LIST alongside the min — a user's distinct
    * periods are bounded by timespan/periodDays (hundreds for
    * years of weekly periods), never by their row count, so the
    * list is safe and the explode replaces what would otherwise be
    * a second row-scale shuffle joining activity back to cohorts.
    * Cohort sizes are cohort-grain (tiny) and broadcast. */
  def cohortRetention(df: DataFrame, userCol: String, tsCol: String,
      periodDays: Int): DataFrame = {
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    val activity = df
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).cast("long").as("__u"),
        expr(s"CAST(FLOOR(unix_timestamp($tsCol) / 86400) AS BIGINT) div ${periodDays}L")
          .as("__p"))
      .distinct()
    val perUser = activity.groupBy(col("__u"))
      .agg(min(col("__p")).as("__c0"), collect_list(col("__p")).as("__ps"))
    val sizes = perUser.groupBy(col("__c0").as("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    perUser.select(col("__c0"), explode(col("__ps")).as("__p"))
      .groupBy(col("__c0").as("cohort"),
        (col("__p") - col("__c0")).as("period_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort"))
      .withColumn("retained_micro", expr(
        "CAST((1000000 * n_active) div cohort_size AS BIGINT)"))
  }

  /** Dwell-time census — how long does each key SPEND in each state
    * (the duration companion of [[transitionCensus]], which counts
    * steps but not time): per key, events order by (ts, id) (a total
    * order) and the interval from each event to its successor is
    * charged to the state AT the interval\'s start. Per (key, state):
    *   n_events    — observations entering the state
    *   n_intervals — closed intervals (successor exists)
    *   dwell_us    — exact Σ(next_ts − ts) over closed intervals
    *   n_open      — trailing events with no successor (their dwell
    *                 is UNKNOWN, reported rather than guessed — a
    *                 caller with a horizon can add it)
    * All BIGINT; out-of-order duplicates are fine (the total order
    * decides adjacency, matching transitionCensus exactly).
    *
    * Shape: one key-partitioned lead window (the row-scale
    * exchange) + one (key, state) hash aggregate. */
  def dwellTimes(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val staged = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull && col(typeCol).isNotNull)
      .select(col(keyCol).as("key"),
        unix_micros(col(tsCol)).as("__us"),
        col(idCol).cast("long").as("__id"),
        col(typeCol).cast("string").as("state"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key"))
      .orderBy(col("__us").asc, col("__id").asc)
    staged
      .withColumn("__nxt", lead(col("__us"), 1).over(w))
      .groupBy(col("key"), col("state"))
      .agg(count(lit(1)).as("n_events"),
        coalesce(sum(when(col("__nxt").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_intervals"),
        coalesce(sum(when(col("__nxt").isNotNull,
          col("__nxt") - col("__us")).otherwise(0L)), lit(0L))
          .as("dwell_us"),
        coalesce(sum(when(col("__nxt").isNull, 1L).otherwise(0L)),
          lit(0L)).as("n_open"))
  }

  /** Session transition census — the first-order Markov structure
    * of an event log: per key, order events by (ts, id) (a total
    * order) and count every adjacent (from_type → to_type) step,
    * with the row-conditional transition rate as an exact milli
    * lane:
    *   cond_milli = ⌊1000·n(from,to) / Σ_to' n(from,to')⌋
    * The behavioral-analytics twin of the text bigram LM (q97):
    * same census, event grain instead of token grain.
    *
    * Shape: one key-partitioned window (the row-scale exchange),
    * one (from,to) hash aggregate, and a from-grain window at
    * TYPE-VOCABULARY grain for the denominators. */
  def transitionCensus(df: DataFrame, keyCol: String, tsCol: String,
      idCol: String, typeCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k"))
      .orderBy(col("__ts").asc, col("__id").asc)
    val steps = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull && col(typeCol).isNotNull)
      .select(col(keyCol).as("__k"), unix_micros(col(tsCol)).as("__ts"),
        col(idCol).cast("long").as("__id"),
        col(typeCol).cast("string").as("__t"))
      .withColumn("__prev", lag(col("__t"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("from_type"), col("__t").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    steps
      .withColumn("from_total", sum(col("n")).over(wf))
      .withColumn("cond_milli",
        expr("CAST((1000 * n) div from_total AS BIGINT)"))
  }

  /** Hampel outlier filter — the rolling robust cousin of
    * [[winsorize]] (which clamps against GLOBAL per-group rank
    * bands; Hampel flags against each point's LOCAL neighborhood,
    * so a level-shifted series doesn't condemn half its points):
    * per key, over the centered window of ±w rows in (ts, id)
    * order, flag values more than k·MAD from the window median.
    * EXACT integer lanes via the doubled-median trick (2·median of
    * n values is always an integer — the mannWhitneyU discipline):
    *   med2  = doubled window median of milli values
    *   mad4  = doubled median of |2v − med2|   (4× units)
    *   outlier ⇔ 2000·|2v − med2| > k_milli·mad4
    * A constant window (mad4 = 0) flags ANY deviation — the
    * textbook Hampel convention. Boundary rows see their clamped
    * (smaller) window, identically in both engines.
    *
    * Shape: ONE key-partitioned window whose state is the 2w+1
    * VALUES (bounded by the parameter, not the data); the per-row
    * sorts are O(w log w) on that constant-sized array. */
  def hampel(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
      valueCol: String, w: Int = 3, kMilli: Long = 3000L): DataFrame = {
    require(w >= 1 && w <= 1000, s"w must be in [1,1000], got $w")
    require(kMilli >= 0, s"kMilli must be >= 0, got $kMilli")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("ts_us"), col("id"))
      .rowsBetween(-w, w)
    df.filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(idCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("key"), unix_micros(col(tsCol)).as("ts_us"),
        col(idCol).cast("long").as("id"),
        floor(col(valueCol) * 1000).cast("long").as("value_milli"))
      .withColumn("__win", sort_array(collect_list(col("value_milli"))
        .over(win)))
      .withColumn("__n", size(col("__win")))
      .withColumn("med2_milli", expr(
        """IF(__n % 2 = 1,
          |  2L * element_at(__win, CAST((__n + 1) div 2 AS INT)),
          |  element_at(__win, CAST(__n div 2 AS INT))
          |    + element_at(__win, CAST(__n div 2 + 1 AS INT)))"""
          .stripMargin))
      // bind the sorted deviations once as a lambda variable (the
      // winnowing CollapseProject lesson; here w is tiny, but the
      // idiom costs nothing)
      .withColumn("mad4_milli", expr(
        """element_at(transform(array(
          |  array_sort(transform(__win, x -> ABS(2L * x - med2_milli)))),
          |  sd -> IF(__n % 2 = 1,
          |    2L * element_at(sd, CAST((__n + 1) div 2 AS INT)),
          |    element_at(sd, CAST(__n div 2 AS INT))
          |      + element_at(sd, CAST(__n div 2 + 1 AS INT)))), 1)"""
          .stripMargin))
      .withColumn("is_outlier", expr(
        s"2000L * ABS(2L * value_milli - med2_milli) > $kMilli * mad4_milli"))
      .drop("__win", "__n")
  }

  /** Activity streaks — the engagement metric beside
    * [[cohortRetention]]'s triangle: per user, consecutive-period
    * runs of activity (integer epoch-day periods, the
    * cohortRetention quantization), summarized as
    *   n_active_periods · n_streaks · longest_streak ·
    *   current_streak (the run touching the DATASET's last period —
    *   0 if the user wasn't active then; "current" is relative to
    *   the data, so the operator stays deterministic rather than
    *   clock-dependent).
    * Runs come from the classic islands trick: within a user,
    * period − dense-rank is constant exactly on consecutive runs —
    * one key-partitioned window at (user, period) grain, then two
    * bounded aggregates. */
  def streaks(df: DataFrame, userCol: String, tsCol: String,
      periodDays: Int): DataFrame = {
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    val activity = df
      .filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).cast("long").as("__u"),
        expr(s"CAST(FLOOR(unix_timestamp($tsCol) / 86400) AS BIGINT) div ${periodDays}L")
          .as("__p"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__u")).orderBy(col("__p"))
    val runs = activity
      .withColumn("__isl", col("__p") - row_number().over(w))
      .groupBy(col("__u"), col("__isl"))
      .agg(count(lit(1)).as("__len"), max(col("__p")).as("__end"))
    val lastP = activity.agg(max(col("__p")).as("__last"))
    runs
      .crossJoin(broadcast(lastP))
      .groupBy(col("__u").as("user_id"))
      .agg(sum(col("__len")).as("n_active_periods"),
        count(lit(1)).as("n_streaks"),
        max(col("__len")).as("longest_streak"),
        coalesce(max(when(col("__end") === col("__last"), col("__len"))),
          lit(0L)).as("current_streak"))
  }

  /** Multi-touch attribution over an event log — credit each
    * conversion to the marketing/touch events that preceded it
    * within `lookbackSeconds`, under the three standard policies at
    * once, all EXACT:
    *   - first_touch / last_touch: full credit to the earliest /
    *     latest touch in the window (ties broken by the id column —
    *     a total order, so the credit is deterministic);
    *   - linear_milli: 1000 milli split evenly with the remainder
    *     to the EARLIEST touches (largest-remainder discipline —
    *     per conversion the credits sum to exactly 1000).
    * Output is channel grain: (channel, first_touch, last_touch,
    * linear_milli, n_touches). Conversions with zero in-window
    * touches earn nobody credit (count them upstream if needed).
    *
    * Shape: touches⋈conversions is a user-keyed equi join with the
    * time band as a residual filter (the q81 interval-join posture —
    * pairs are bounded by touches-per-user-per-window, never
    * |touches|·|conversions|); per-conversion ranks ride ONE window
    * partitioned by conversion id over those bounded pairs; the
    * final channel aggregate is tiny. */
  def attribution(df: DataFrame, userCol: String, tsCol: String,
      idCol: String, typeCol: String, channelCol: String,
      conversionType: String, lookbackSeconds: Long): DataFrame = {
    require(lookbackSeconds > 0, "lookbackSeconds must be positive")
    val base = df.filter(col(userCol).isNotNull && col(tsCol).isNotNull &&
      col(idCol).isNotNull && col(typeCol).isNotNull)
    val conv = base.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("__cu"), unix_micros(col(tsCol)).as("__ct"),
        col(idCol).cast("long").as("__cid"))
    val touch = base.filter(col(typeCol) =!= conversionType &&
        col(channelCol).isNotNull)
      .select(col(userCol).as("__tu"), unix_micros(col(tsCol)).as("__tt"),
        col(idCol).cast("long").as("__tid"),
        col(channelCol).cast("string").as("__ch"))
    val pairs = conv.join(touch, col("__cu") === col("__tu") &&
      col("__tt") <= col("__ct") &&
      col("__tt") > col("__ct") - lookbackSeconds * 1000000L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cid"))
      .orderBy(col("__tt").asc, col("__tid").asc)
    val ranked = pairs
      .withColumn("__rk", row_number().over(w))
      .withColumn("__k", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__cid"))))
    ranked
      .withColumn("__linear",
        expr("1000L div __k") +
          when(col("__rk") <= expr("1000L % __k"), 1L).otherwise(0L))
      .groupBy(col("__ch").as("channel"))
      .agg(sum(when(col("__rk") === 1L, 1L).otherwise(0L)).as("first_touch"),
        sum(when(col("__rk") === col("__k"), 1L).otherwise(0L))
          .as("last_touch"),
        sum(col("__linear")).as("linear_milli"),
        count(lit(1)).as("n_touches"))
  }
}
