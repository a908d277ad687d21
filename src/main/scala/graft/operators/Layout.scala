package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical data layout for scan-time skipping and stable placement —
  * the storage-side levers a 100 TB corpus lives or dies by. The
  * reference materializes every layer as flat JSON blobs
  * (/root/reference/function_app.py:151-156 writes one file per run
  * with no ordering contract), which forces full scans of every layer
  * for any predicate; at Spark scale the cure is (a) multi-dimensional
  * clustering so min/max footer stats actually prune, and (b)
  * deterministic, minimal-movement shard placement for incremental
  * re-partitioning.
  *
  * Everything here is pure `Column` arithmetic (whole-stage codegen,
  * no UDFs) and BIGINT-exact, so layouts are reproducible run-to-run
  * and cross-engine (the DuckDB oracles replay the same bit math).
  */
object Layout {

  /** Morton (Z-order) value: interleave the low `bits` bits of each
    * column, column i owning bit positions i, i+k, i+2k, … (k =
    * cols.size). Linearizing a k-dim space this way keeps points that
    * are close in EVERY dimension close on the line, so range-
    * partitioning by z clusters each file in a small k-dim box and a
    * box predicate prunes most files via parquet min/max stats —
    * single-column sorting only ever prunes its leading dimension.
    *
    * Inputs must be non-negative and are masked to `bits` bits
    * (callers quantize first — see [[quantize]]); k·bits ≤ 63 keeps
    * the z-value in a signed long. Pure bit shifts — codegen'd,
    * branch-free, no shuffle of its own. */
  def zValue(cols: Seq[Column], bits: Int): Column = {
    val k = cols.size
    require(k >= 2, "z-order needs at least 2 dimensions")
    require(bits >= 1 && k * bits <= 63, s"k*bits must fit a long, got $k*$bits")
    val terms = for {
      b <- 0 until bits
      (c, i) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)),
      b * k + i)
    terms.reduce(_ + _)
  }

  /** Bucket a value onto the uniform grid [lo, lo+2^rangeBits) →
    * [0, 2^bits): (v − lo) >> (rangeBits − bits), clamped into range —
    * a pure shift, so the bucket math is BIGINT-exact on every engine
    * (a multiply-then-divide lane would detour through doubles in
    * Spark). Power-of-two ranges only; callers pad `rangeBits` up.
    * The quantizer is part of the layout contract: `lo`/`rangeBits`
    * must come from a PREVIOUS run's bounds (or fixed domain
    * knowledge), never a same-job global aggregate — that would add a
    * full pass before the write. */
  def quantize(c: Column, lo: Long, rangeBits: Int, bits: Int): Column = {
    require(rangeBits >= bits && bits >= 1 && rangeBits <= 62,
      s"need 1 <= bits <= rangeBits <= 62, got $bits/$rangeBits")
    val scaled = shiftright(c.cast("long") - lit(lo), rangeBits - bits)
    greatest(lit(0L), least(lit((1L << bits) - 1), scaled))
  }

  /** Z-order clustering: range-partition on the z-value (sampled range
    * boundaries — Spark's RangePartitioner, one extra sampling pass,
    * no full sort) and sort within partitions, so every output file
    * covers a contiguous z-range = a small k-dim box. The z column is
    * dropped: it is layout, not data. */
  def clusterByZ(df: DataFrame, dims: Seq[Column], bits: Int,
      numPartitions: Int): DataFrame = {
    val z = zValue(dims, bits)
    df.withColumn("__z", z)
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** Hilbert-curve index of a 2-D cell — [[zValue]]'s
    * better-locality sibling (Hilbert 1891; xy2d form as in Warren,
    * Hacker's Delight §16): CONSECUTIVE indexes are always
    * Manhattan-adjacent cells (the curve never jumps, unlike Z-order's
    * quadrant seams), so range-partitioning by h gives strictly
    * tighter per-file bounding boxes — the layout Databricks/Delta
    * adopted over Z-order for exactly this reason (public docs).
    *
    * Implementation: the standard bits-1..0 descent (reflect+rotate
    * per quadrant), but as a CHAIN of narrow projections over plain
    * when/bitwise columns — each step references the previous step's
    * attributes, so the expression tree stays linear in `bits`
    * (inlining the fold into one expression would double the tree per
    * step: 4^bits nodes) and everything stays inside whole-stage
    * codegen. No UDF, no shuffle. Inputs must already be quantized
    * non-negative cells < 2^bits ([[quantize]]); appends `out`. */
  def hilbertIndex(df: DataFrame, xCol: Column, yCol: Column, bits: Int,
      out: String = "h"): DataFrame = {
    require(bits >= 1 && 2 * bits <= 62,
      s"need 1 <= bits <= 31, got $bits")
    // reflections use the FULL-grid constant n-1 (the canonical xy2d
    // form): coordinates stay in [0, n) every step, so the bitwise
    // quadrant tests never meet a negative value
    val mirror = (1L << bits) - 1
    var cur = df.withColumn("__hx", xCol.cast("long"))
      .withColumn("__hy", yCol.cast("long"))
      .withColumn(out, lit(0L))
    var s = 1L << (bits - 1)
    while (s > 0) {
      cur = cur
        .withColumn("__rx",
          when(col("__hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("__ry",
          when(col("__hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
      cur = cur
        .withColumn(out, col(out) + lit(s * s) *
          (lit(3L) * col("__rx")).bitwiseXOR(col("__ry")))
        .withColumn("__nx", when(col("__ry") === 0,
          when(col("__rx") === 1, lit(mirror) - col("__hy"))
            .otherwise(col("__hy"))).otherwise(col("__hx")))
        .withColumn("__ny", when(col("__ry") === 0,
          when(col("__rx") === 1, lit(mirror) - col("__hx"))
            .otherwise(col("__hx"))).otherwise(col("__hy")))
        .withColumn("__hx", col("__nx"))
        .withColumn("__hy", col("__ny"))
      s >>= 1
    }
    cur.drop("__hx", "__hy", "__rx", "__ry", "__nx", "__ny")
  }

  /** Hilbert clustering — [[clusterByZ]] with the h-curve: same
    * range-partition + sort-within shape, tighter boxes. */
  def clusterByHilbert(df: DataFrame, xCol: Column, yCol: Column,
      bits: Int, numPartitions: Int): DataFrame = {
    hilbertIndex(df, xCol, yCol, bits, out = "__h")
      .repartitionByRange(numPartitions, col("__h"))
      .sortWithinPartitions(col("__h"))
      .drop("__h")
  }

  /** Per-partition min/max zone map over `statCols` — what parquet
    * footer stats will contain after [[clusterByZ]], computed without
    * writing: one pass, no shuffle (spark_partition_id grouping is
    * map-side only under AQE coalescing off). Used by the specs to
    * PROVE a layout prunes, and operationally as a skipping index. */
  def zoneMap(df: DataFrame, statCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +: statCols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"))
    }
    df.withColumn("__pid", spark_partition_id())
      .groupBy(col("__pid"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Fraction (milli) of zone-map partitions a conjunctive box
    * predicate `col BETWEEN lo AND hi` (per dim) can SKIP: a partition
    * survives only if every queried dim's [min,max] intersects its
    * box. Driver-free — returns a 1-row DataFrame. */
  def pruneStats(zones: DataFrame, box: Map[String, (Long, Long)]): DataFrame = {
    val hit = box.map { case (c, (lo, hi)) =>
      col(s"${c}_max") >= lit(lo) && col(s"${c}_min") <= lit(hi)
    }.reduce(_ && _)
    zones.agg(
      count(lit(1)).as("n_parts"),
      sum(when(hit, 1L).otherwise(0L)).as("parts_hit"),
      (lit(1000L) * sum(when(hit, 0L).otherwise(1L)) / count(lit(1)))
        .cast("long").as("skip_milli"))
  }

  /** Run census under a candidate sort order — the ENCODING half of
    * the layout question ([[zoneMap]]/[[pruneStats]] answer the
    * SKIPPING half): parquet RLE/dictionary pages compress by run
    * length, so "sort by what before writing?" is answered by
    * counting, per column, the value runs the candidate order
    * produces. Returns one row per census column:
    * (column, n_rows, runs, rle_ratio_micro = ⌊10⁶·runs/n⌋) — lower
    * ratio = longer runs = smaller files and faster scans.
    *
    * Exact and order-deterministic: rows are ranked by the TOTAL
    * order `orderCols` via [[Relational.globalRowNumber]] (two
    * passes, never a 1-partition window), adjacent pairs meet
    * through ONE rank-keyed self-join (r ↔ r+1), and a run boundary
    * is a null-safe inequality (`<=>` / IS DISTINCT FROM — null runs
    * count like value runs). One aggregate emits every column's
    * boundary count; the per-column rows come from a literal stack,
    * not a second pass. */
  def runCensus(df: DataFrame, orderCols: Seq[Column],
      censusCols: Seq[String]): DataFrame = {
    require(censusCols.nonEmpty, "censusCols must be non-empty")
    val ranked = graft.operators.Relational.globalRowNumber(
      df, orderCols, "__r")
    val nxt = ranked.select(((col("__r") - 1L).as("__r") +:
      censusCols.map(c => col(c).as(s"__nx_$c"))): _*)
    val joined = ranked.join(nxt, Seq("__r"))
    val aggs = count(lit(1)).as("__pairs") +: censusCols.map { c =>
      // coalesce: a 1-row input has no adjacent pairs, and an empty
      // sum is null — the single row is still exactly one run
      coalesce(sum(when(!(col(c) <=> col(s"__nx_$c")), 1L).otherwise(0L)),
        lit(0L)).as(s"__b_$c")
    }
    val one = joined.agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("n_rows"))))
    val stacked = censusCols.map { c =>
      one.select(lit(c).as("column"), col("n_rows"),
        when(col("n_rows") > 0, col(s"__b_$c") + 1L).otherwise(lit(0L))
          .as("runs"))
    }.reduce(_ unionByName _)
    stacked.withColumn("rle_ratio_micro",
      when(col("n_rows") > 0, expr("(1000000 * runs) div n_rows")))
  }

  /** Rendezvous (highest-random-weight) shard assignment: each key
    * goes to argmax over nodes of md5(key ⊕ node). The property that
    * matters at fleet scale: adding or removing ONE node moves ONLY
    * the keys that mapped to it (1/n of data), where mod-n hashing
    * reshuffles nearly everything. md5 is the engine-portable lane
    * (same bytes everywhere); fixed-width lowercase hex compares
    * lexicographically exactly as the 128-bit integer would, so the
    * argmax needs no hex→int parse. Broadcast-free: nodes ride in as
    * a literal array, the per-row work is |nodes| hashes — O(1) state,
    * no shuffle, no join. */
  def rendezvousAssign(df: DataFrame, keyCol: String, nodes: Seq[String],
      out: String = "node"): DataFrame = {
    require(nodes.nonEmpty && nodes.distinct.size == nodes.size,
      "nodes must be non-empty and distinct")
    val weighted = nodes.map { n =>
      struct(md5(concat(col(keyCol).cast("string"), lit("@"), lit(n)))
        .as("w"), lit(n).as("n"))
    }
    df.withColumn(out, array_max(array(weighted: _*)).getField("n"))
  }

  /** Movement audit for a topology change: assignment under `nodes`
    * vs under `nodes` minus `removed`. Rendezvous guarantees
    * moved ⇔ (before == removed); emitting both lanes makes the
    * guarantee a data-level assertion (oracle + spec), not a comment. */
  def rendezvousMovement(df: DataFrame, keyCol: String,
      nodes: Seq[String], removed: String): DataFrame = {
    require(nodes.contains(removed), s"$removed not in nodes")
    val before = rendezvousAssign(df, keyCol, nodes, "node_before")
    rendezvousAssign(before, keyCol, nodes.filterNot(_ == removed),
      "node_after")
      .withColumn("moved", (col("node_before") =!= col("node_after"))
        .cast("int"))
  }

  /** Distributed Douglas–Peucker polyline simplification, EXACT —
    * keep the endpoints; for every segment find the interior point
    * farthest from the chord and split there if it exceeds eps,
    * recurse. The distance test is division-free and sqrt-free:
    * perpendicular distance d = |cross| / |chord| is compared as
    * cross² > eps² · |chord|² with cross in BIGINT and the squares in
    * DECIMAL(38,0) — exact for |Δx|,|Δy| ≤ ~7·10⁸ and eps ≤ 10⁹
    * (enforced bound on eps; coordinate spread is the caller's
    * contract, documented not scanned). A degenerate chord (both
    * endpoints at one coordinate) falls back to point distance
    * dx²+dy² > eps². Argmax ties break to the SMALLEST index, so the
    * kept set is deterministic and the q345 recursive-CTE replay is
    * hash-exact.
    *
    * The recursion is run LEVEL-SYNCHRONOUS across all keys: each
    * round joins the splittable segment frontier to the points once
    * (key-partitioned, interior-filtered), aggregates the per-segment
    * max and its earliest index, emits terminal segments, and explodes
    * split segments into their two children — so one round is a
    * constant number of shuffles regardless of how many polylines or
    * segments are in flight, and the number of rounds is the
    * simplification DEPTH (≤ log n for balanced splits). `maxRounds`
    * bounds the loop; an unfinished frontier fails loudly rather than
    * returning a silently-unsimplified remainder.
    *
    * Output: one row per KEPT point — (key, i, x, y) with i the
    * 1-based position in the ordered polyline. */
  def douglasPeucker(df: DataFrame, keyCol: String, orderCols: Seq[String],
      xCol: String, yCol: String, eps: Long,
      maxRounds: Int = 64): DataFrame = {
    require(eps >= 0 && eps <= 1000000000L, s"eps $eps out of [0, 1e9]")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__k")).orderBy(orderCols.map(col): _*)
    val pts = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((col(keyCol).as("__k") +: col(xCol).cast("long").as("__x") +:
        col(yCol).cast("long").as("__y") +: orderCols.map(col)): _*)
      .withColumn("__i", row_number().over(w).cast("long"))
      .select("__k", "__i", "__x", "__y")
      .persist()
    val ends = pts.groupBy(col("__k"))
      .agg(min(col("__i")).as("lo"), max(col("__i")).as("hi"))
    // per round: ONE aggregate does max-score, threshold, and the
    // smallest-index argmax together (min_by on the (-d, i) struct —
    // lexicographic struct ordering IS max-d-then-min-i), so there is
    // no join-back. It is materialized with the next frontier's size
    // observed in the same job, the round's only action, and the next
    // frontier and new terminal segments are views over it, so no
    // round's plan nests the previous round's. The terminal union is
    // checkpointed every few rounds, not per round.
    val (first, n0) = CheckpointHygiene.materialize(
      ends.filter(col("hi") > col("lo") + 1), Seq(count(lit(1)).as("n")))
    var active = first
    var activeCount = n0("n").asInstanceOf[Long]
    var terminal = ends.filter(col("hi") <= col("lo") + 1)
    val settled = new CheckpointHygiene.Rolling()
    // materializations the terminal union still reads; the frontier
    // reads the last one
    val pending = scala.collection.mutable.ArrayBuffer(first)
    var rounds = 0
    while (activeCount > 0) {
      require(rounds < maxRounds,
        s"frontier not empty after $maxRounds rounds ($activeCount segments)")
      val a = pts.select(col("__k"), col("__i").as("lo"),
        col("__x").as("ax"), col("__y").as("ay"))
      val b = pts.select(col("__k"), col("__i").as("hi"),
        col("__x").as("bx"), col("__y").as("by"))
      val interior = active.join(a, Seq("__k", "lo")).join(b, Seq("__k", "hi"))
        .join(pts, Seq("__k"))
        .filter(col("__i") > col("lo") && col("__i") < col("hi"))
        .withColumn("__d", expr(
          """CASE WHEN ax = bx AND ay = by THEN
            |  CAST(__x - ax AS DECIMAL(38,0)) * (__x - ax)
            |    + CAST(__y - ay AS DECIMAL(38,0)) * (__y - ay)
            |ELSE
            |  CAST((bx - ax) * (__y - ay) - (by - ay) * (__x - ax)
            |    AS DECIMAL(38,0))
            |  * ((bx - ax) * (__y - ay) - (by - ay) * (__x - ax))
            |END""".stripMargin))
        .withColumn("__thr", expr(
          s"""CASE WHEN ax = bx AND ay = by
             |  THEN CAST($eps AS DECIMAL(38,0)) * $eps
             |  ELSE CAST($eps AS DECIMAL(38,0)) * $eps
             |    * (CAST(bx - ax AS DECIMAL(38,0)) * (bx - ax)
             |       + CAST(by - ay AS DECIMAL(38,0)) * (by - ay))
             |END""".stripMargin))
      // a split segment's children (lo, m) and (m, hi) stay open when
      // they still hold an interior point
      val (m, obs) = CheckpointHygiene.materialize(
        interior.groupBy(col("__k"), col("lo"), col("hi"))
          .agg(max(col("__d")).as("maxd"), max(col("__thr")).as("thr"),
            expr("min_by(__i, struct(-__d, __i))").as("m")),
        Seq(coalesce(sum(when(col("maxd") > col("thr"),
          (col("m") > col("lo") + 1).cast("long") +
            (col("hi") > col("m") + 1).cast("long"))), lit(0L)).as("n")))
      pending += m
      val newTerminal = m.filter(col("maxd") <= col("thr"))
        .select(col("__k"), col("lo"), col("hi"))
      val children = m.filter(col("maxd") > col("thr"))
        .select(col("__k"), explode(array(
          struct(col("lo"), col("m").as("hi")),
          struct(col("m").as("lo"), col("hi")))).as("c"))
        .select(col("__k"), col("c.lo").as("lo"), col("c.hi").as("hi"))
      active = children.filter(col("hi") > col("lo") + 1)
      activeCount = obs("n").asInstanceOf[Long]
      terminal = terminal
        .unionByName(newTerminal)
        .unionByName(children.filter(col("hi") <= col("lo") + 1))
      rounds += 1
      if (rounds % 4 == 0) {
        terminal = settled.advance(terminal)
        pending.init.foreach(CheckpointHygiene.free)
        pending.remove(0, pending.size - 1)
      }
    }
    val kept = terminal.select(col("__k"), col("lo").as("__i"))
      .unionByName(terminal.select(col("__k"), col("hi").as("__i")))
      .distinct()
    val out = kept.join(pts, Seq("__k", "__i"))
      .select(col("__k").as("key"), col("__i").as("i"),
        col("__x").as("x"), col("__y").as("y"))
    // materialize before releasing the frames it reads
    val result = CheckpointHygiene.materialize(out)
    pending.foreach(CheckpointHygiene.free)
    settled.release(); pts.unpersist()
    result
  }
}
