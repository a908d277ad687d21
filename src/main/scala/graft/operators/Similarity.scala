package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions._

/** Similarity search over embedding columns (Array[Float]) —
  * SURVEY.md §7.4 north-star ops.
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query set is
  *    broadcast (small side), so the "cross join" is a
  *    BroadcastNestedLoopJoin that streams the corpus once — no
  *    shuffle of the corpus, scales to any corpus size at fixed
  *    |queries|·k output.
  *  - [[lshTopK]]: approximate — sign-bit LSH buckets first, exact
  *    cosine re-rank within buckets. Bucket join is an equi shuffle
  *    join; probes only same-bucket corpus rows, the scale path when
  *    |queries| is also large.
  */
object Similarity {

  /** Exact top-k neighbors by cosine for each query vector.
    * Deterministic tiebreak: higher cosine first, then smaller corpus id.
    *
    * The query side is BROADCAST: this operator's contract is a small
    * query set against an arbitrarily large corpus. `maxQueries`
    * makes a contract violation fail loudly (one bounded
    * `limit(maxQueries+1).count()` job — never a full scan of a huge
    * query frame) instead of OOMing the driver mid-broadcast; when
    * |queries| is genuinely large, use [[lshTopK]] / [[ivfTopK]],
    * whose probe joins shuffle on bucket keys and never broadcast. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     queryId: String, queryVec: String,
                     corpusId: String, corpusVec: String,
                     k: Int, maxQueries: Int = 100000): DataFrame = {
    val nq = queries.limit(maxQueries + 1).count()
    require(nq <= maxQueries,
      s"bruteForceTopK broadcasts the query side; got > $maxQueries query rows. " +
        "Raise maxQueries deliberately or use lshTopK/ivfTopK for large query sets.")
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_similarity(col("__qv"), col("__cv")).as("cosine"))
    Relational.groupedTopK(scored,
      Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k)
  }

  /** Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    * (Cormack et al. 2009): given ONE stacked table of per-ranker
    * top-k lists (query, doc, rank — rows from [[bruteForceTopK]],
    * [[graft.operators.TextOps.bm25TopKJoin]], or any ranker the
    * caller unions in), each (query, doc) scores
    *   rrf_micro = Σ_rankers ⌊10⁶ / (kRrf + rank)⌋
    * (kRrf = 60, the paper's constant; per-term floors make the lane
    * BIGINT cross-engine exact — no floats anywhere), and each query
    * keeps its fused top-k by (rrf_micro desc, doc asc). RRF needs
    * only RANKS, never the rankers' incomparable raw scores — that
    * is the whole point, and what makes a BM25+cosine hybrid
    * oracle-able when the cosine itself is float.
    *
    * 100 TB shape: input is already top-k-per-ranker (|queries|·k·
    * rankers rows, NEVER corpus-scale); one (query, doc) aggregate +
    * the grouped top-k window (WindowGroupLimit). n_rankers rides
    * along so consumers can tell consensus hits from single-ranker
    * ones.
    *
    * One kernel, two contracts: the aggregate+window tail IS
    * [[graft.operators.Learn.rrfFuse]] — this form adds the
    * long-cast id lanes and the (rank, n_rankers) column contract on
    * top of it, so the Cormack fold has exactly one source of
    * truth. */
  def rrfFuse(ranks: DataFrame, queryCol: String, docCol: String,
      rankCol: String, k: Int, kRrf: Long = 60L): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1,1000], got $k")
    require(kRrf >= 1 && kRrf <= Int.MaxValue,
      s"kRrf must be in [1, ${Int.MaxValue}], got $kRrf")
    val cast = ranks
      .select(col(queryCol).cast("long").as("query"),
        col(docCol).cast("long").as("doc"),
        col(rankCol).cast("long").as("__r"))
    Learn.rrfFuse(cast, "query", "doc", "__r",
        k = kRrf.toInt, topK = k)
      .select(col("query"), col("doc"), col("rrf_micro"),
        col("n_sources").as("n_rankers"),
        col("fused_rank").cast("long").as("rank"))
  }

  /** Hard-negative mining — the contrastive-training data assembler
    * (the DPR/Contriever recipe): for every query, the top-k corpus
    * items MOST similar to it that are NOT its known positives.
    * "Hard" is the point — random negatives are trivially separable
    * and teach nothing; the highest-scoring non-positives are the
    * examples that move a bi-encoder.
    *
    * Ordering: positives are anti-joined out BEFORE the top-k, not
    * after — filtering after would silently return fewer than k
    * negatives whenever positives occupy top slots (they do; that's
    * what makes them positives). Self-matches (corpus id == query
    * id) are excluded like [[bruteForceTopK]]. Tie-break: higher
    * cosine first, then smaller corpus id.
    *
    * Returns (query_id, negative_id, cosine).
    *
    * Shape at scale: queries AND the positive-pair list broadcast
    * (both are training-set-sized — the bruteForceTopK contract,
    * same loud `maxQueries` guard); the corpus streams ONCE through
    * score → anti-join → salted grouped top-k, shuffling only
    * (query, id, score) triples, never corpus vectors. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    positives: DataFrame,
                    queryId: String, queryVec: String,
                    corpusId: String, corpusVec: String,
                    posQueryId: String, posItemId: String,
                    k: Int, maxQueries: Int = 100000): DataFrame = {
    val nq = queries.limit(maxQueries + 1).count()
    require(nq <= maxQueries,
      s"hardNegatives broadcasts the query side; got > $maxQueries query rows. " +
        "Raise maxQueries deliberately or mine via lshTopK/ivfTopK buckets.")
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
    val p = positives.select(col(posQueryId).as("query_id"),
      col(posItemId).as("negative_id"))
    val c = corpus.select(col(corpusId).as("negative_id"), col(corpusVec).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("negative_id"))
      .join(broadcast(p), Seq("query_id", "negative_id"), "left_anti")
      .select(col("query_id"), col("negative_id"),
        cosine_similarity(col("__qv"), col("__cv")).as("cosine"))
    Relational.groupedTopK(scored,
      Seq(col("query_id")),
      Seq(col("cosine").desc, col("negative_id").asc), k)
  }

  /** Approximate top-k via standard multi-table sign-bit LSH:
    * `tables` independent hash tables of `planes` hyperplanes each;
    * candidates are corpus rows sharing a bucket with the query in ANY
    * table (plus 1-bit multi-probe flips within each table for
    * recall), re-ranked by exact cosine. More tables → higher recall
    * at linearly more candidate volume; probing stays an equi shuffle
    * join on (table, bucket) — never a cross join. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              queryId: String, queryVec: String,
              corpusId: String, corpusVec: String,
              k: Int, planes: Int = 8, tables: Int = 4): DataFrame = {
    def sigs(df: DataFrame, id: String, vec: String, idOut: String, vecOut: String) =
      df.select(col(id).as(idOut), col(vec).as(vecOut),
          array((0 until tables).map(t =>
            cosine_lsh_signature(col(vec), planes, planeOffset = t * planes)): _*)
            .as("__sigs"))
        .select(col(idOut), col(vecOut),
          posexplode(col("__sigs")).as(Seq("__table", "__sig")))
    val c = sigs(corpus, corpusId, corpusVec, "neighbor_id", "__cv")
      .withColumnRenamed("__sig", "__bucket")
    // multi-probe: original bucket + each 1-bit flip within the table
    val probes = (-1 until planes).map(p => lit(if (p < 0) 0L else 1L << p))
    val q = sigs(queries, queryId, queryVec, "query_id", "__qv")
      .withColumn("__flip", explode(array(probes: _*)))
      .withColumn("__bucket", col("__sig").bitwiseXOR(col("__flip")))
      .select(col("query_id"), col("__qv"), col("__table"), col("__bucket"))
    val scored = c.join(q, Seq("__table", "__bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_similarity(col("__qv"), col("__cv")).as("cosine"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    Relational.groupedTopK(scored,
      Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k)
  }

  /** Deterministic bounded training sample for the ANN model trainers:
    * hash-order by id, keep `maxTrainRows`. Hash order rather than
    * "first N ids" because real corpora arrive id-clustered (by crawl
    * time, by domain) and a clustered prefix trains a biased
    * quantizer; xxhash64 is uniform, partitioning-independent, and
    * replays identically run to run. The plan is TakeOrdered
    * (driver-bounded at maxTrainRows rows), not a full sort, and the
    * result is PERSISTED for the duration of training — Lloyd runs
    * `iterations` passes over it, and at 100 TB each recompute of an
    * unpersisted TakeOrdered would be another full corpus scan. The
    * caller must `unpersist()` the returned frame (the trainers below
    * do, in `finally`). */
  private def trainSample(corpus: DataFrame, idCol: String,
                          maxTrainRows: Int): (DataFrame, Boolean) =
    if (maxTrainRows <= 0) (corpus, false)
    else (corpus.orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(maxTrainRows).persist(), true)

  /** Lightweight Lloyd's k-means for the IVF coarse quantizer: the
    * MODEL (nlist × dim doubles) is the only thing collected to the
    * driver — assignments and centroid updates are DataFrame
    * aggregations. Deterministic: init = first nlist vectors by id.
    * Two Lloyd iterations are the default: each costs a full corpus
    * pass (2 jobs), and a coarse quantizer only has to spread the
    * lists — the recall spec stays comfortably above the random-probe
    * baseline at 2, so the third pass bought nothing but runtime.
    *
    * `maxTrainRows > 0` bounds training cost regardless of corpus
    * size by fitting on a deterministic [[trainSample]] — the standard
    * ANN posture (FAISS trains on ~max(10k·k, 256·k) points, not the
    * collection): a coarse quantizer estimates nlist cluster means,
    * which a bounded uniform sample pins to within sampling error, so
    * recall moves marginally while training cost stops scaling with
    * the corpus. SCALING.md "ANN model training" has the measured
    * trade; RecallProbe re-measures the floors with sampling on. */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nlist: Int, iterations: Int = 2,
                      maxTrainRows: Int = 0): Array[Array[Double]] = {
    val (train, ownsCache) = trainSample(corpus, idCol, maxTrainRows)
    try {
      var centroids = train.orderBy(col(idCol)).limit(nlist)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      (0 until iterations).foreach { _ =>
        val assigned = withNearestCentroid(
          train.select(col(vecCol).as("__v")), "__v", centroids, "__c")
        val updated = assigned
          .select(col("__c"), posexplode(col("__v")).as(Seq("__pos", "__x")))
          .groupBy(col("__c"), col("__pos"))
          .agg(avg(col("__x")).as("__m"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (c, rows) =>
            c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
          }
        centroids = centroids.indices
          .map(c => updated.getOrElse(c, centroids(c)))
          .toArray
      }
      centroids
    } finally if (ownsCache) { train.unpersist(); () }
  }

  /** INTEGER-QUANTIZED Lloyd's k-means with caller-supplied initial
    * centroids — the ORACLE-PINNED sibling of [[kmeansCentroids]]
    * (which trains in floats and is spec-bounded): vectors quantize
    * to `floor(v·scale)` BIGINTs, every distance is an exact integer
    * sum of squares, every centroid update a sign-split BIGINT floor
    * division, ties in assignment break toward the smallest cluster
    * id — so the whole run is a pure function of (points, init,
    * rounds, scale) and a DuckDB oracle unrolls it round by round
    * (q182), the [[Graph.pageRankInt]] discipline applied to
    * clustering. Quantization moves each coordinate < 1/scale — far
    * inside cluster geometry for any realistic embedding spread —
    * and buys cross-engine bit equality floats can never give.
    *
    * Shape per round (the standard distributed Lloyd): the points
    * are exploded ONCE to (id, pos, v) and persisted; assignment is
    * a broadcast join against the model-sized (cid, pos, m) table +
    * two hash aggregates (per-(id, cid) distances, per-id argmin);
    * the update is one join + one (cid, pos) aggregate. Centroids
    * roll through a [[CheckpointHygiene.Rolling]] state (model-sized — keeps the plan
    * flat). A cluster that loses every point disappears rather than
    * being re-seeded — deterministic, and the oracle agrees.
    *
    * Returns the final assignment (vec_id, cluster, dist2) against
    * the post-round centroids. */
  def kmeansInt(points: DataFrame, idCol: String, vecCol: String,
      init: DataFrame, initIdCol: String, initVecCol: String,
      rounds: Int, scale: Long = 1000L): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"rounds must be in [1, 20], got $rounds")
    require(scale > 0, s"scale must be positive, got $scale")
    import org.apache.spark.storage.StorageLevel
    def quant(c: Column): Column =
      transform(c, v => floor(v.cast("double") * scale).cast("long"))
    val pe = points.select(col(idCol).cast("long").as("vec_id"),
        posexplode(quant(col(vecCol))).as(Seq("pos", "v")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var ce = init.select(col(initIdCol).cast("long").as("cid"),
      posexplode(quant(col(initVecCol))).as(Seq("pos", "m")))
    def assign(c: DataFrame): DataFrame = pe
      .join(broadcast(c), Seq("pos"))
      .groupBy(col("vec_id"), col("cid"))
      .agg(sum((col("v") - col("m")) * (col("v") - col("m"))).as("d"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("cid"))).as("__m"))
      .select(col("vec_id"), col("__m.cid").as("cid"), col("__m.d").as("d"))
    val state = new CheckpointHygiene.Rolling()
    for (_ <- 1 to rounds) {
      val a = assign(ce)
      ce = state.advance(a.join(pe, Seq("vec_id"))
        .groupBy(col("cid"), col("pos"))
        .agg(sum(col("v")).as("__s"), count(lit(1)).as("__n"))
        // sign-split: Spark `div` truncates, DuckDB `//` floors; the
        // nonnegative-dividend form is identical in both (Learn.sdiv)
        .select(col("cid"), col("pos"),
          when(col("__s") >= 0, expr("__s div __n"))
            .otherwise(-expr("(-__s) div __n")).cast("long").as("m")))
    }
    val result = CheckpointHygiene.materialize(assign(ce)
      .select(col("vec_id"), col("cid").as("cluster"), col("d").as("dist2")))
    state.release()
    pe.unpersist()
    result
  }

  /** EXACT second-moment table of the embedding columns — the
    * mean/covariance/correlation statistics that feed whitening, PCA
    * prep, feature-drift monitoring, and redundant-dimension audits.
    * Vectors quantize to `floor(v·scale)` BIGINTs ([[kmeansInt]]'s
    * lattice), so every accumulated statistic is an exact integer:
    * per dimension pair (i ≤ j), n, Σqᵢ, Σqⱼ, Σqᵢqⱼ and the
    * covariance numerator n·Σqᵢqⱼ − Σqᵢ·Σqⱼ — order-independent,
    * partitioning-independent, hash-exact across engines (q197);
    * correlation is the one double step (two exact integers through
    * multiply/sqrt/divide, spelled identically in the oracle), NULL
    * when a dimension is constant.
    *
    * Shape: two row-local generators (no self-join — the pair
    * explosion never shuffles) feeding ONE hash aggregate whose
    * map-side partials collapse n·d² rows to d²/2 per partition
    * before the exchange — the shuffle moves O(partitions·d²)
    * partial sums, not data. The d² blowup is CPU inside codegen,
    * the honest cost of exact moments; for d ≤ a few hundred this is
    * scan-bound. Diagonal variances join back model-sized. */
  def embeddingMoments(df: DataFrame, idCol: String, vecCol: String,
      scale: Long = 1000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val q = transform(col(vecCol),
      v => floor(v.cast("double") * scale).cast("long"))
    val e1 = df.select(col(idCol).cast("long").as("id"), q.as("__q"))
      .select(col("id"), col("__q"),
        posexplode(col("__q")).as(Seq("i", "qi")))
    val e2 = e1.select(col("i"), col("qi"),
        posexplode(col("__q")).as(Seq("j", "qj")))
      .filter(col("j") >= col("i"))
    val m = e2.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("qi")).as("s_i"),
        sum(col("qj")).as("s_j"), sum(col("qi") * col("qj")).as("s_ij"))
      .withColumn("cov_num",
        col("n") * col("s_ij") - col("s_i") * col("s_j"))
    val diag = m.filter(col("i") === col("j"))
      .select(col("i").as("__dd"), col("cov_num").as("__vv"))
    m.join(broadcast(diag.select(col("__dd").as("i"),
        col("__vv").as("__var_i"))), Seq("i"))
      .join(broadcast(diag.select(col("__dd").as("j"),
        col("__vv").as("__var_j"))), Seq("j"))
      .select(col("i"), col("j"), col("n"), col("s_i"), col("s_j"),
        col("s_ij"), col("cov_num"),
        when(col("__var_i") > 0 && col("__var_j") > 0,
          col("cov_num").cast("double") /
            sqrt(col("__var_i").cast("double") * col("__var_j").cast("double")))
          .as("corr"))
  }

  /** Leading eigenvector of the embedding covariance by INTEGER
    * power iteration — the PCA direction that drives whitening,
    * anisotropy diagnosis ("all my embeddings point the same way"),
    * and ABS/top-direction removal; computed with the
    * [[Graph.pageRankInt]] discipline so the vector is bit-identical
    * on any engine (q198 unrolls it): the exact [[embeddingMoments]]
    * covariance numerators form the matrix, v₀ = scale·𝟙, and each
    * round is w = C·v followed by the integer renormalization
    * v′ = w div max(1, max|w| div scale) — every step BIGINT, signs
    * handled by the sign-split form. Converges like float power
    * iteration (ratio of top eigenvalues) with ≤ 1/scale per-entry
    * quantization noise per round.
    *
    * Scale shape: the ONE corpus pass is the moments aggregate; the
    * matrix is model-sized (d² rows, materialized once) and every
    * iteration is a model-sized join + aggregate + 1-row broadcast —
    * iterations cost nothing at corpus scale. Overflow is guarded
    * against the MEASURED max |cov entry| (one scalar collect).
    * Returns (pos, v) with |v| ≤ ~scale, sign fixed by the
    * all-positive start. */
  def topEigenInt(df: DataFrame, idCol: String, vecCol: String,
      rounds: Int, scale: Long = 1000L): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"rounds must be in [1, 20], got $rounds")
    require(scale > 0, s"scale must be positive, got $scale")
    val m = embeddingMoments(df, idCol, vecCol, scale)
      .select(col("i"), col("j"), col("cov_num"))
    val full = CheckpointHygiene.materialize(m.unionByName(m.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cov_num"))))
    val stats = full.agg(max(abs(col("cov_num"))).as("mx"),
      countDistinct(col("i")).as("d")).first()
    val maxAbs = if (stats.isNullAt(0)) 0L else stats.getLong(0)
    val dims = stats.getLong(1)
    require(dims > 0, "no dimensions — empty input")
    // per-round |v| ≤ 2·scale (the integer renormalization's worst
    // flooring case), so |w| ≤ maxAbs·2·scale·d must fit in a long
    require(maxAbs <= Long.MaxValue / math.max(2L * scale * dims, 1L),
      s"covariance magnitude $maxAbs would overflow at scale=$scale, d=$dims")
    var v = full.select(col("i").as("pos")).distinct()
      .select(col("pos"), lit(scale).as("v"))
    // the last state is the result; the matrix is freed under it
    val state = new CheckpointHygiene.Rolling()
    for (_ <- 1 to rounds) {
      val w = full
        .join(v.select(col("pos").as("j"), col("v").as("__vj")), Seq("j"))
        .groupBy(col("i")).agg(sum(col("cov_num") * col("__vj")).as("__w"))
      val mx = w.agg(greatest(expr(s"max(abs(__w)) div $scale"), lit(1L))
        .as("__den"))
      v = state.advance(w.crossJoin(broadcast(mx))
        .select(col("i").as("pos"),
          when(col("__w") >= 0, expr("__w div __den"))
            .otherwise(-expr("(-__w) div __den")).cast("long").as("v")))
    }
    CheckpointHygiene.free(full)
    v
  }

  /** Per-vector score along a direction — dot(q, e) over the
    * quantized lattice, exact BIGINT. With e = [[topEigenInt]] this
    * is the anisotropy diagnosis / ABS-style top-direction removal
    * primitive (Arora et al. 2017's "all-but-the-top" reads exactly
    * this projection): corpora whose scores share one sign are
    * degenerate for cosine retrieval, and subtracting the projection
    * whitens them. One broadcast join of the model-sized direction
    * against the exploded vectors + one per-vector aggregate.
    * Returns (vec_id, dot, dir_sq) — the caller divides once if it
    * wants the scalar projection coefficient. */
  def principalScores(df: DataFrame, idCol: String, vecCol: String,
      direction: DataFrame, posCol: String, valCol: String,
      scale: Long = 1000L): DataFrame = {
    require(scale > 0, s"scale must be positive, got $scale")
    val q = transform(col(vecCol),
      v => floor(v.cast("double") * scale).cast("long"))
    val e = df.select(col(idCol).cast("long").as("vec_id"),
        posexplode(q).as(Seq("pos", "qv")))
    val dir = direction.select(col(posCol).cast("int").as("pos"),
      col(valCol).cast("long").as("ev"))
    val dirSq = dir.agg(sum(col("ev") * col("ev")).as("dir_sq"))
    e.join(broadcast(dir), Seq("pos"))
      .groupBy(col("vec_id"))
      .agg(sum(col("qv") * col("ev")).as("dot"))
      .crossJoin(broadcast(dirSq))
  }

  /** A trained model as ONE plan constant. A matrix spelled as nested
    * `lit()` nodes (ksub·dim literals) makes the expression tree —
    * and the generated Java — grow with the model, and every fresh
    * training produces a never-before-seen plan, so Janino recompiles
    * seconds' worth of code per run (measured: q110 ~6 s with literal
    * codebooks, ~1.5 s with typedLit). `typedLit` ships the same
    * doubles as a single ArrayData constant the codegen just
    * references. */
  private def litMat(m: Array[Array[Double]]): Column =
    typedLit(m.map(_.toSeq).toSeq)

  /** Append the argmax-cosine centroid index (the IVF list id). Pure
    * expression: the centroid table is a [[litMat]] constant, one
    * native cosine kernel call per centroid per row via transform.
    * Package-visible: [[Dedup.semanticLosers]] reuses it as the
    * SemDeDup cluster assignment. */
  private[operators] def withNearestCentroid(df: DataFrame, vecCol: String,
                                  centroids: Array[Array[Double]],
                                  out: String): DataFrame = {
    val dists = transform(litMat(centroids),
      cc => cosine_similarity(col(vecCol), cc))
    // coalesce makes the list id NON-NULLABLE (a null vector lands in
    // sentinel list -1, same "joins nothing real" outcome): equi joins
    // on a nullable key make InferFiltersFromConstraints synthesize an
    // isnotnull predicate whose alias-substituted tree can leak the
    // OTHER side's attributes across the join under AQE — an
    // unresolvable binding at runtime (observed on q110's probe join;
    // the q87 inferred-filter family).
    df.withColumn(out,
      coalesce((array_position(dists, array_max(dists)) - 1).cast("int"),
        lit(-1)))
  }

  /** IVF approximate top-k: corpus rows are bucketed by nearest coarse
    * centroid (nlist lists); each query probes its `nprobe` closest
    * lists and re-ranks with exact cosine. The classic
    * inverted-file trade: recall grows with nprobe, cost with
    * corpus/nlist · nprobe. Join is an equi shuffle on the list id;
    * the model rides along as plan literals (no side files). */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              queryId: String, queryVec: String,
              corpusId: String, corpusVec: String,
              k: Int, nlist: Int = 16, nprobe: Int = 4,
              centroidsOpt: Option[Array[Array[Double]]] = None,
              maxTrainRows: Int = 0): DataFrame = {
    val centroids = centroidsOpt.getOrElse(
      kmeansCentroids(corpus, corpusId, corpusVec, nlist,
        maxTrainRows = maxTrainRows))
    val c = withNearestCentroid(
      corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv")),
      "__cv", centroids, "__list")
    // query side: nprobe closest lists via sort of (-dist, index) pairs
    val qd = transform(litMat(centroids),
      cc => cosine_similarity(col("__qv"), cc))
    val probes = slice(
      transform(
        array_sort(zip_with(qd, sequence(lit(0), lit(centroids.length - 1)),
          (d, i) => struct((-d).as("nd"), i.as("idx")))),
        s => s.getField("idx")),
      1, nprobe)
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("__list", explode(probes))
    val scored = c.join(q, Seq("__list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_similarity(col("__qv"), col("__cv")).as("cosine"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
    Relational.groupedTopK(scored,
      Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k)
  }

  /** Product-quantization codebooks, trained JOINTLY: every Lloyd
    * iteration is ONE corpus pass that assigns all m subspaces (m
    * argmin-L2 expressions per row) and updates every codebook cell
    * through a single posexplode aggregate keyed by (subspace,
    * cluster, position) — not one k-means run per subspace, which
    * costs m× the passes for the identical result shape. The model
    * is m × ksub × (dim/m) = `dim·ksub` doubles, driver-bounded like
    * the IVF coarse model; init = subvectors of the first ksub
    * corpus vectors by id (deterministic). Assignment minimizes
    * Euclidean distance via the ‖c‖² − 2·x·c expansion (‖x‖² is
    * rank-invariant). `maxTrainRows` bounds training to a
    * deterministic [[trainSample]], same rationale as
    * [[kmeansCentroids]]. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int, dim: Int,
                  iterations: Int = 2,
                  maxTrainRows: Int = 0): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val (train, ownsCache) = trainSample(corpus, idCol, maxTrainRows)
    try {
      val head = train.orderBy(col(idCol)).limit(ksub)
        .select(col(vecCol)).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      var books: Array[Array[Array[Double]]] =
        (0 until m).map(mi => head.map(v => v.slice(mi * sub, (mi + 1) * sub))).toArray
      (0 until iterations).foreach { _ =>
        val updated = train.select(col(vecCol).as("__v"))
          .withColumn("__subs", pqSubvectors(col("__v"), m, sub))
          .withColumn("__as", pqAssignments(col("__subs"), books))
          .select(posexplode(col("__v")).as(Seq("__pos", "__x")), col("__as"))
          .withColumn("__mi", (col("__pos") / sub).cast("int"))
          .select(col("__mi"), element_at(col("__as"), col("__mi") + 1).as("__c"),
            col("__pos"), col("__x").cast("double").as("__xd"))
          .groupBy(col("__mi"), col("__c"), col("__pos"))
          .agg(avg(col("__xd")).as("__mean"))
          .collect()
        val byCell = updated.map(r =>
          (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
        books = Array.tabulate(m)(mi => Array.tabulate(ksub)(c =>
          Array.tabulate(sub)(p =>
            byCell.getOrElse((mi, c, mi * sub + p), books(mi)(c)(p)))))
      }
      books
    } finally if (ownsCache) { train.unpersist(); () }
  }

  /** The vector cut into its m subvectors, as one array<array> column
    * — materialize this ONCE (withColumn) so downstream per-codeword
    * lambdas do an O(1) element access instead of re-slicing. */
  private def pqSubvectors(vec: Column, m: Int, sub: Int): Column =
    array((0 until m).map(mi => slice(vec, mi * sub + 1, sub)): _*)

  /** The m per-subspace nearest-codeword indices, as one array<int>
    * column over a materialized [[pqSubvectors]] column. Codebooks
    * and their squared norms ride as typedLit constants ([[litMat]]
    * rationale); argmin-L2 via ‖c‖² − 2·x·c. */
  private def pqAssignments(subs: Column,
                            books: Array[Array[Array[Double]]]): Column = {
    val booksLit = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val normsLit = typedLit(books.map(_.map(c => c.map(x => x * x).sum).toSeq).toSeq)
    array(books.indices.map { mi =>
      val sv = element_at(subs, mi + 1)
      val costs = zip_with(
        element_at(booksLit, mi + 1), element_at(normsLit, mi + 1),
        (cb, c2) => c2 - lit(2.0) * vec_dot(sv, cb))
      (array_position(costs, array_min(costs)) - 1).cast("int")
    }: _*)
  }

  /** IVF-PQ approximate top-k — the 100 TB memory tier below
    * [[ivfTopK]]: corpus vectors are routed to coarse lists (IVF) AND
    * compressed to `m` one-byte codes (product quantization, one
    * codebook of `ksub` centroids per subspace, encoded by minimal
    * Euclidean distance via the ‖c‖² − 2·q·c expansion). The probe
    * join then shuffles (id, list, m codes) — a few BYTES per corpus
    * row instead of the full float vector, which is the entire point
    * at scale: candidate generation never moves embeddings.
    *
    * Scoring is standard ADC: each query builds its m × ksub
    * dot-product table once (row-local literals — the model rides in
    * the plan), a candidate's approximate dot is m table lookups
    * (`zip_with` + `aggregate`, codegen'd), the top `refine·k` by ADC
    * are re-ranked by exact cosine — fetching TRUE vectors only for
    * those |queries|·refine·k rows through an equi join back to the
    * corpus. Recall is measured, not hoped: the q110 oracle pins a
    * per-query floor vs brute force exactly like q32/q53. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                queryId: String, queryVec: String,
                corpusId: String, corpusVec: String,
                k: Int, nlist: Int = 16, nprobe: Int = 4,
                m: Int = 4, ksub: Int = 16, refine: Int = 4,
                coarseOpt: Option[Array[Array[Double]]] = None,
                booksOpt: Option[Array[Array[Array[Double]]]] = None,
                maxTrainRows: Int = 0): DataFrame = {
    val dim = corpus.select(size(col(corpusVec))).head.getInt(0)
    val coarse = coarseOpt.getOrElse(
      kmeansCentroids(corpus, corpusId, corpusVec, nlist,
        maxTrainRows = maxTrainRows))
    val books = booksOpt.getOrElse(
      pqCodebooks(corpus, corpusId, corpusVec, m, ksub, dim,
        maxTrainRows = maxTrainRows))
    val encoded = ivfPqEncode(corpus, corpusId, corpusVec, coarse, books, m)
    ivfPqProbe(encoded, queries, corpus, queryId, queryVec,
      corpusId, corpusVec, k, nprobe, refine, coarse, books, m)
  }

  /** The (neighbor_id, __list, __codes) inverted file of a corpus —
    * the IVF-PQ index table. The full vector is DROPPED here, and the
    * lineage is DETACHED (RDD round-trip): with the alias tree
    * visible, InferFiltersFromConstraints substitutes the corpus-side
    * __list definition across the probe-join equality and plants a
    * filter referencing corpus attributes on the QUERY branch — an
    * invalid plan that fails binding at runtime (Spark optimizer
    * edge; observed as INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND). The
    * boundary is also the honest index shape: a real deployment
    * materializes exactly this (id, list, codes) table — FAISS's
    * inverted file — which is what [[AnnIndex.buildIvfPq]] persists
    * to parquet so query batches probe without re-encoding. */
  private[operators] def ivfPqEncode(corpus: DataFrame,
                                     corpusId: String, corpusVec: String,
                                     coarse: Array[Array[Double]],
                                     books: Array[Array[Array[Double]]],
                                     m: Int): DataFrame = {
    val sub = books(0)(0).length
    val encodedPlan = withNearestCentroid(
        corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv")),
        "__cv", coarse, "__list")
      .withColumn("__subs", pqSubvectors(col("__cv"), m, sub))
      .withColumn("__codes", pqAssignments(col("__subs"), books))
      .select(col("neighbor_id"), col("__list"), col("__codes"))
    corpus.sparkSession.createDataFrame(encodedPlan.rdd, encodedPlan.schema)
  }

  /** Probe a pre-encoded inverted file ([[ivfPqEncode]] output or its
    * parquet round-trip via [[AnnIndex]]) — the serving half of
    * [[ivfPqTopK]], identical whether the index was just built or
    * loaded from disk. `corpus` is consulted only for the exact
    * re-rank join (true vectors for |queries|·refine·k shortlist
    * rows); candidate generation touches codes alone. */
  private[operators] def ivfPqProbe(encoded: DataFrame,
                                    queries: DataFrame, corpus: DataFrame,
                                    queryId: String, queryVec: String,
                                    corpusId: String, corpusVec: String,
                                    k: Int, nprobe: Int, refine: Int,
                                    coarse: Array[Array[Double]],
                                    books: Array[Array[Array[Double]]],
                                    m: Int): DataFrame = {
    val sub = books(0)(0).length

    // query side: nprobe lists + the m×ksub ADC table (codebooks as
    // one typedLit constant — see litMat)
    val booksLit = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val qd = transform(litMat(coarse),
      cc => cosine_similarity(col("__qv"), cc))
    val probes = slice(
      transform(
        array_sort(zip_with(qd, sequence(lit(0), lit(coarse.length - 1)),
          (d, i) => struct((-d).as("nd"), i.as("idx")))),
        s => s.getField("idx")),
      1, nprobe)
    val qtab = array((0 until m).map { mi =>
      val sv = element_at(col("__qsubs"), mi + 1)
      transform(element_at(booksLit, mi + 1), cb => vec_dot(sv, cb))
    }: _*)
    // the query vector rides the probe side next to its ADC table —
    // both are |queries|-sized, and carrying it avoids re-joining the
    // `queries` frame at re-rank time (a second lineage use of the
    // same frame trips Spark's self-join attribute dedup)
    val q = queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .withColumn("__qsubs", pqSubvectors(col("__qv"), m, sub))
      .withColumn("__qtab", qtab)
      // explode_outer: plain explode triggers InferFiltersFromGenerate,
      // which re-inlines the alias-substituted probes tree (it reaches
      // back to the raw vector attribute) into a filter that can no
      // longer bind after the projection — the q87 trap, here fatal
      // (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at runtime). probes is
      // never null or empty (nprobe ≥ 1), so semantics are identical.
      .withColumn("__list", explode_outer(probes))
      .select(col("query_id"), col("__qv"), col("__qtab"), col("__list"))

    // ADC score = m table lookups per candidate; the CORPUS side never
    // ships vectors through candidate generation (codes only — the
    // side that scales)
    val adc = aggregate(
      zip_with(col("__qtab"), col("__codes"),
        (tab, cd) => element_at(tab, cd + 1)),
      lit(0.0), (acc, x) => acc + x)
    val cand = encoded.join(q, Seq("__list"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(adc).as("__adc"), first(col("__qv")).as("__qv"))
    val shortlist = Relational.groupedTopK(cand,
      Seq(col("query_id")),
      Seq(col("__adc").desc, col("neighbor_id").asc), refine * k)

    // exact re-rank: fetch TRUE corpus vectors only for the shortlist
    val rescored = shortlist
      .join(corpus.select(col(corpusId).as("neighbor_id"),
        col(corpusVec).as("__cv")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_similarity(col("__qv"), col("__cv")).as("cosine"))
    Relational.groupedTopK(rescored,
      Seq(col("query_id")),
      Seq(col("cosine").desc, col("neighbor_id").asc), k)
  }

  /** The coarse IVF assignment of a corpus as a clean (neighbor_id,
    * list) table — the codes table of a PLAIN (non-PQ) inverted file,
    * and the stored-mass input of [[ivfDriftCensus]]. One pass, pure
    * expressions (the centroid model rides as a plan constant), no
    * shuffle; null vectors land in sentinel list -1 (the
    * [[withNearestCentroid]] contract). */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
                coarse: Array[Array[Double]]): DataFrame =
    withNearestCentroid(
        corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        "__cv", coarse, "__list")
      .select(col("neighbor_id"), col("__list").cast("int").as("list"))

  /** The (neighbor_id, list, codes) inverted-file rows of a corpus
    * under a FIXED model — the public face of [[ivfPqEncode]], in the
    * clean column names [[AnnIndex]] persists. This is the table
    * [[upsertIvf]] maintains and [[probeCodes]] serves from. */
  def ivfPqCodes(corpus: DataFrame, idCol: String, vecCol: String,
                 coarse: Array[Array[Double]],
                 books: Array[Array[Array[Double]]], m: Int): DataFrame =
    ivfPqEncode(corpus, idCol, vecCol, coarse, books, m)
      .select(col("neighbor_id"), col("__list").cast("int").as("list"),
        col("__codes").as("codes"))

  /** Serve approximate top-k FROM a codes table ([[ivfPqCodes]] /
    * [[upsertIvf]] output) under the model that built it — the
    * in-memory twin of [[AnnIndex.probeIvfPq]], sharing the exact
    * same [[ivfPqProbe]] pipeline (ADC candidate generation over
    * codes, exact cosine re-rank fetching true vectors only for the
    * |queries|·refine·k shortlist). */
  def probeCodes(codes: DataFrame, queries: DataFrame, corpus: DataFrame,
                 queryId: String, queryVec: String,
                 corpusId: String, corpusVec: String,
                 k: Int, nprobe: Int, refine: Int,
                 coarse: Array[Array[Double]],
                 books: Array[Array[Array[Double]]], m: Int): DataFrame =
    ivfPqProbe(
      codes.select(col("neighbor_id"), col("list").cast("int").as("__list"),
        col("codes").as("__codes")),
      queries, corpus, queryId, queryVec, corpusId, corpusVec,
      k, nprobe, refine, coarse, books, m)

  /** Incremental IVF-PQ index maintenance — the similarity-search
    * member of the incremental-maintenance family
    * ([[graft.operators.TextOps.upsertIndex]] for retrieval,
    * [[graft.operators.Graph.upsertComponents]] for cluster labels,
    * [[Dedup.deltaCandidates]] for LSH candidates; r16 verdict item
    * 1 closes the family here): merge a DELTA vector batch and a
    * deletion list into a stored (neighbor_id, list, codes) table
    * WITHOUT re-encoding the corpus and WITHOUT re-training.
    * Semantics are exactly
    *   upsertIvf(ivfPqCodes(A), Δ, D) ==
    *     ivfPqCodes((A ∖ ids(Δ) ∖ D) ∪ Δ)
    * under the SAME model — a delta id REPLACES its stored entry
    * (the [[graft.operators.TextOps.upsertIndex]] replacement
    * contract, vs [[AnnIndex.appendIvfPq]]'s documented
    * caller-owns-uniqueness append), a deleted id's entry drops, and
    * an id in both Δ and D ends up present (the delta is the newer
    * fact). The q492 oracle census pins the identity against a
    * from-scratch re-encode of the merged corpus, including
    * [[probeCodes]] answers served from both states.
    *
    * Delta vectors are quantized by the STORED centroids/codebooks —
    * the standard IVF trade ([[AnnIndex.appendIvfPq]] scaladoc); run
    * [[ivfDriftCensus]] BEFORE this merge to see when accumulated
    * drift says re-train.
    *
    * 100 TB shape: encoding (the only vector read) touches ONLY the
    * delta — the stored corpus contributes code ROWS through one
    * anti-join against the delta-sized removed-id set (AQE broadcasts
    * it); with the [[AnnIndex]] list-partitioned layout the
    * replacement rewrite prunes to the delta's touched lists.
    * Duplicate ids WITHIN one delta are refused loudly (no version
    * order exists; the upsertIndex discipline — the guard rides the
    * delta-codes path, which is never empty-relation-pruned because
    * the census aggregate always has exactly one row). */
  def upsertIvf(storedCodes: DataFrame, deltaVectors: DataFrame,
                idCol: String, vecCol: String,
                deletedIds: DataFrame, deletedIdCol: String,
                coarse: Array[Array[Double]],
                books: Array[Array[Array[Double]]], m: Int): DataFrame = {
    val dupCensus = deltaVectors.groupBy(col(idCol).as("neighbor_id"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .agg(count(lit(1)).as("__dups"))
    def dupGuard(c: Column): Column =
      when(col("__dups") > 0,
        raise_error(concat(lit("upsertIvf: "),
          col("__dups").cast("string"),
          lit(" duplicate vector ids within one delta batch — merge" +
            " order is undefined; split into sequential batches"))))
        .otherwise(c)
    val deltaCodes = ivfPqCodes(deltaVectors, idCol, vecCol, coarse, books, m)
      .crossJoin(broadcast(dupCensus))
      .select(dupGuard(col("neighbor_id")).as("neighbor_id"),
        col("list"), col("codes"))
    val removed = deltaVectors.select(col(idCol).as("neighbor_id"))
      .unionByName(deletedIds.select(col(deletedIdCol).as("neighbor_id")))
      .distinct()
    storedCodes
      .select(col("neighbor_id"), col("list").cast("int").as("list"),
        col("codes"))
      .join(removed, Seq("neighbor_id"), "left_anti")
      .unionByName(deltaCodes)
  }

  /** ENGINE-EXACT coarse assignment on the µ-quantized lattice — the
    * deterministic twin of [[ivfAssign]] for monitoring lanes: every
    * element quantizes to ⌊10⁶·v⌋ BIGINT first (centroid elements
    * likewise), per-centroid dot products and both squared norms are
    * then EXACT integers, and the cosine each centroid competes with
    * derives from those integers through correctly-rounded IEEE
    * double ops (÷, √, ×) — bit-identical in any engine, so even an
    * exact argmax TIE breaks the same way everywhere (first centroid
    * index wins), which is what lets a DuckDB oracle replay the
    * assignment value-for-value (q493). The float-kernel
    * [[ivfAssign]] serves the index (its sums ride engine-specific
    * accumulation order); this one serves the CENSUS, where a lane
    * that can flip on summation order is not monitorable.
    *
    * One row per non-null, non-zero vector: (neighbor_id, list,
    * cos_micro = ⌊10⁶·cos(qv, qc_list)⌋, err2_microsq =
    * ‖qv − qc_list‖² exactly, in squared-µ units — equal to
    * nv² + nc² − 2·dot, all BIGINT). Zero/null vectors drop (no
    * cosine exists). Pure per-row plan-constant arithmetic — nlist·
    * dim integer multiplies per row, no shuffle. */
  def ivfAssignMicro(corpus: DataFrame, idCol: String, vecCol: String,
                     coarse: Array[Array[Double]]): DataFrame = {
    val qc: Array[Array[Long]] =
      coarse.map(_.map(x => math.floor(x * 1e6).toLong))
    require(qc.forall(r => r.exists(_ != 0L)),
      "ivfAssignMicro: a centroid quantizes to the zero vector on the" +
        " µ-lattice — no cosine exists to assign by")
    val qcLit = typedLit(qc.map(_.toSeq).toSeq)
    val qcN2 = typedLit(qc.map(r => r.map(x => x * x).sum).toSeq)
    // qv and nv2 bind as LAMBDA VARIABLES (nested one-element
    // transforms) so the quantize pass and the norm fold evaluate
    // once per row, not once per centroid (the CollapseProject
    // inlining trap, documented in the winnowing post-mortem)
    val qvExpr = transform(col("__cv"),
      x => floor(x.cast("double") * lit(1000000L)).cast("long"))
    val rowStruct = flatten(transform(array(qvExpr), qv => {
      val nv2Expr = aggregate(qv, lit(0L), (a, x) => a + x * x)
      transform(array(nv2Expr), nv2 => {
        val dots = transform(qcLit, c =>
          aggregate(zip_with(qv, c, (a, b) => a * b),
            lit(0L), (acc, x) => acc + x))
        val coses = zip_with(dots, qcN2, (d, n2) =>
          d.cast("double") /
            (sqrt(nv2.cast("double")) * sqrt(n2.cast("double"))))
        val idx = (array_position(coses, array_max(coses)) - 1).cast("int")
        when(nv2 > 0, struct(
          idx.as("list"),
          floor(element_at(coses, idx + 1) * lit(1000000L))
            .cast("long").as("cos_micro"),
          (nv2 + element_at(qcN2, idx + 1) -
            lit(2L) * element_at(dots, idx + 1)).as("err2_microsq")))
      })
    }))
    // a vector whose length differs from the centroids' would zip to
    // null dots and emit a null-list row that silently skews the
    // census totals — refuse loudly instead (dimension mismatch is a
    // caller bug, never data)
    val dim = qc(0).length
    val dimGuard = when(size(col("__cv")) === dim, lit(true))
      .otherwise(raise_error(concat(
        lit("ivfAssignMicro: vector length "),
        size(col("__cv")).cast("string"),
        lit(s" != centroid dim $dim"))).cast("boolean"))
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .filter(col("__cv").isNotNull)
      .filter(dimGuard)
      .select(col("neighbor_id"), explode(rowStruct).as("__r"))
      .filter(col("__r").isNotNull)
      .select(col("neighbor_id"), col("__r.list").as("list"),
        col("__r.cos_micro").as("cos_micro"),
        col("__r.err2_microsq").as("err2_microsq"))
  }

  /** IVF drift census — the monitoring row a deployment computes
    * BEFORE [[upsertIvf]] (the vector twin of
    * [[graft.operators.TextOps.vocabDrift]] before upsertIndex):
    * per coarse list, how the delta's assignment mass compares to the
    * stored index's, and how well the stored centroids still fit the
    * delta. A delta whose mass redistributes across lists, or whose
    * assignment cosine sags / quantization error grows vs earlier
    * batches, is the re-train signal — the stored model was fit to a
    * distribution the corpus has drifted away from.
    *
    * One row per list (a literal nlist-row spine, so empty lists are
    * visible — a list the delta abandoned is itself a drift signal):
    * stored_mass / delta_mass (exact counts; the stored side comes
    * from the CODES table — no stored vector is ever read),
    * stored_share_milli / delta_share_milli (⌊1000·mass/total⌋, null
    * on an empty side), mean_cos_micro and mean_err2_microsq
    * (integer means of [[ivfAssignMicro]]'s exact per-row lanes;
    * null when the list got no delta). Delta assignment rides the
    * µ-lattice ([[ivfAssignMicro]] scaladoc: a monitoring lane that
    * can flip on summation order is not monitorable); null/zero
    * delta vectors are excluded.
    *
    * Shape: one pass over the delta (plan-constant integer
    * arithmetic), one list-grain aggregate per side, broadcast
    * scalar totals — the stored codes table contributes one
    * column-pruned count aggregate. */
  def ivfDriftCensus(storedCodes: DataFrame, listCol: String,
                     deltaVectors: DataFrame, idCol: String,
                     vecCol: String,
                     coarse: Array[Array[Double]]): DataFrame = {
    val spark = storedCodes.sparkSession
    import spark.implicits._
    val nlist = coarse.length
    val spine = (0 until nlist).map(_.toLong).toDF("list")
    val stored = storedCodes
      .groupBy(col(listCol).cast("long").as("list"))
      .agg(count(lit(1)).as("stored_mass"))
    val delta = ivfAssignMicro(deltaVectors, idCol, vecCol, coarse)
      .select(col("list").cast("long").as("list"),
        col("cos_micro").as("__cosq"), col("err2_microsq").as("__errq"))
      .groupBy(col("list"))
      .agg(count(lit(1)).as("delta_mass"),
        sum(col("__cosq")).as("__cossum"),
        sum(col("__errq")).as("__errsum"))
    val totals = stored.agg(
        coalesce(sum(col("stored_mass")), lit(0L)).as("__stot"))
      .crossJoin(delta.agg(
        coalesce(sum(col("delta_mass")), lit(0L)).as("__dtot")))
    spine
      .join(stored, Seq("list"), "left")
      .join(delta, Seq("list"), "left")
      .crossJoin(broadcast(totals))
      .select(col("list"),
        coalesce(col("stored_mass"), lit(0L)).as("stored_mass"),
        coalesce(col("delta_mass"), lit(0L)).as("delta_mass"),
        when(col("__stot") > 0, expr(
          "(1000 * coalesce(stored_mass, 0L)) div __stot"))
          .as("stored_share_milli"),
        when(col("__dtot") > 0, expr(
          "(1000 * coalesce(delta_mass, 0L)) div __dtot"))
          .as("delta_share_milli"),
        when(col("delta_mass") > 0, expr("__cossum div delta_mass"))
          .as("mean_cos_micro"),
        when(col("delta_mass") > 0, expr("__errsum div delta_mass"))
          .as("mean_err2_microsq"))
      .orderBy(col("list"))
  }

  /** Group-grain embedding-drift census — [[ivfDriftCensus]]'s
    * label-space sibling and the exact vector twin of
    * [[graft.operators.TextOps.vocabDrift]] (r16 verdict item 6):
    * per group label, the milli cosine between the STORED corpus
    * centroid and the DELTA batch centroid, with mass lanes riding
    * along. A label whose delta centroid swings away from its stored
    * centroid (cos_micro sagging from ~10⁶) means that slice of the
    * ingest distribution moved — retrain/re-embed before the
    * downstream ANN index quietly loses recall.
    *
    * Exactness contract (the q36 anchor discipline): every element
    * quantizes to ⌊10⁶·v⌋ BIGINT first, centroids are represented by
    * their exact integer SUM vectors (order-independent — never a
    * float mean), and the cosine derives from three exact
    * DECIMAL(38,0) quantities (the dot and both squared norms):
    * cos_micro = ⌊10⁶ · dot / (√na · √nb)⌋ — integer-exact inputs
    * through correctly-rounded IEEE double ops, bit-identical in any
    * engine (q494 oracle replays the whole chain). Labels present on
    * only one side carry null cosine lanes (nothing to compare —
    * which is itself the signal: a brand-new or vanished label).
    *
    * Shape: one posexplode + (label, pos) aggregate per side (the
    * [[centroids]] shape), a label-grain join, full outer so
    * one-sided labels stay visible. */
  def embeddingDrift(stored: DataFrame, delta: DataFrame,
                     labelCol: String, vecCol: String): DataFrame = {
    def sums(df: DataFrame, massName: String, prefix: String) = {
      val q = df.select(col(labelCol).as("label"),
          posexplode(transform(col(vecCol),
            x => floor(x.cast("double") * lit(1000000L)).cast("long")))
            .as(Seq("pos", "qv")))
      val mass = df.filter(col(vecCol).isNotNull)
        .groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as(massName))
      // cast BEFORE the sum: a Long sum can overflow at ~10¹³ rows of
      // µ-quantized mass per (label, pos); decimal accumulates exactly
      // (and DuckDB's SUM(BIGINT) returns HUGEINT, the same widening)
      q.groupBy(col("label"), col("pos"))
        .agg(sum(col("qv").cast("decimal(38,0)")).as("s"))
        .groupBy(col("label"))
        .agg(sum(col("s") * col("s")).as(s"${prefix}_norm2"),
          array_sort(collect_list(struct(col("pos"), col("s"))))
            .as(s"__${prefix}_vec"))
        .join(mass, Seq("label"))
    }
    val a = sums(stored, "stored_mass", "stored")
    val b = sums(delta, "delta_mass", "delta")
    val dot = aggregate(
      zip_with(col("__stored_vec"), col("__delta_vec"),
        (x, y) => x.getField("s") * y.getField("s")),
      lit(0).cast("decimal(38,0)"),
      (acc, t) => (acc + t).cast("decimal(38,0)"))
    a.join(b, Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("stored_mass"), lit(0L)).as("stored_mass"),
        coalesce(col("delta_mass"), lit(0L)).as("delta_mass"),
        when(col("stored_norm2") > 0 && col("delta_norm2") > 0,
          floor(lit(1000000L) *
            (dot.cast("double") /
              (sqrt(col("stored_norm2").cast("double")) *
                sqrt(col("delta_norm2").cast("double")))))
            .cast("long"))
          .as("cos_micro"))
      .orderBy(col("label"))
  }

  /** MMR diversified re-ranking (Carbonell & Goldstein 1998) — the
    * step between retrieval and consumption that every RAG/context
    * assembler runs: greedily pick k documents maximizing
    *   λ·relevance(d) − (1−λ)·max_{s∈selected} sim(d, s)
    * so near-duplicate hits don't crowd the context window (the
    * first pick is pure relevance — the max over an empty set is 0,
    * the published convention). Ties break (score desc, doc asc),
    * deterministic.
    *
    * Exactness contract (the [[ivfAssignMicro]] µ-lattice): relevance
    * arrives as an INTEGER milli lane (the BM25/TF-IDF floors),
    * vectors quantize to ⌊10⁶·v⌋, similarity is the micro cosine from
    * exact integer dots/norms through correctly-rounded double ops,
    * and the combined score is one integer nano lane
    *   score_nano = λ_milli·rel_milli·1000 − (1000−λ_milli)·sim_micro
    * — bit-identical in any engine, so the q501 oracle replays the
    * whole greedy selection stage by stage. A zero-norm vector
    * contributes similarity 0 (nothing to be redundant with).
    *
    * Shape: this re-ranks a BOUNDED per-query candidate list (a
    * retrieval top-N — the serving contract; `maxCandidates` makes a
    * violation fail loudly in-plan, never OOM a task), so the whole
    * greedy loop is ONE hash aggregate (collect per query) plus
    * row-local higher-order-function arithmetic — k·|cand|·|sel|·dim
    * integer multiplies per query, no shuffle beyond the collect, no
    * driver loop, no UDF. */
  def mmrRerank(candidates: DataFrame, queryCol: String, docCol: String,
                relMilliCol: String, vecCol: String, k: Int,
                lambdaMilli: Long = 700L,
                maxCandidates: Int = 256): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1,64], got $k")
    require(lambdaMilli >= 0L && lambdaMilli <= 1000L,
      s"lambdaMilli must be in [0,1000], got $lambdaMilli")
    require(maxCandidates >= k,
      s"maxCandidates ($maxCandidates) must be >= k ($k)")
    val quant = candidates.select(col(queryCol).as("query"),
        col(docCol).cast("long").as("__doc"),
        col(relMilliCol).cast("long").as("__rel"),
        transform(col(vecCol),
          x => floor(x.cast("double") * lit(1000000L)).cast("long"))
          .as("__qv"))
      .filter(col("__doc").isNotNull && col("__rel").isNotNull)
      .withColumn("__nv2",
        coalesce(aggregate(col("__qv"), lit(0L), (a, x) => a + x * x),
          lit(0L)))
    val candType = "array<struct<doc:bigint,rel:bigint," +
      "qv:array<bigint>,nv2:bigint>>"
    val selType = "array<struct<rank:int,doc:bigint,rel:bigint," +
      "qv:array<bigint>,nv2:bigint,score:bigint>>"
    val grouped = quant.groupBy(col("query"))
      .agg(collect_list(struct(col("__doc").as("doc"),
        col("__rel").as("rel"), col("__qv").as("qv"),
        col("__nv2").as("nv2"))).as("__cand"))
      .select(col("query"),
        when(size(col("__cand")) <= maxCandidates, col("__cand"))
          .otherwise(raise_error(concat(
            lit("mmrRerank: a query carries "),
            size(col("__cand")).cast("string"),
            lit(s" candidates > maxCandidates=$maxCandidates — this" +
              " operator re-ranks a bounded retrieval top-N; cut" +
              " upstream or raise the bound")))
            .cast(candType)).as("__cand"))
    def simMicro(a: Column, b: Column): Column = {
      val dot = aggregate(
        zip_with(a.getField("qv"), b.getField("qv"), (x, y) => x * y),
        lit(0L), (acc, t) => acc + t)
      when(a.getField("nv2") > 0 && b.getField("nv2") > 0,
        floor(lit(1000000L) * (dot.cast("double") /
          (sqrt(a.getField("nv2").cast("double")) *
            sqrt(b.getField("nv2").cast("double"))))).cast("long"))
        .otherwise(lit(0L))
    }
    def scoreOf(c: Column, sel: Column): Column = {
      val maxSim = when(size(sel) === 0, lit(0L))
        .otherwise(aggregate(sel, lit(-2000000L),
          (m, s) => greatest(m, simMicro(c, s))))
      lit(lambdaMilli) * c.getField("rel") * lit(1000L) -
        lit(1000L - lambdaMilli) * maxSim
    }
    val zero = struct(
      expr(s"CAST(array() AS $selType)").as("sel"),
      col("__cand").as("rem"))
    val stepped = aggregate(sequence(lit(1), lit(k)), zero, (st, _) => {
      val sel = st.getField("sel"); val rem = st.getField("rem")
      val withScore = transform(rem, c =>
        struct(c.getField("doc").as("doc"), c.getField("rel").as("rel"),
          c.getField("qv").as("qv"), c.getField("nv2").as("nv2"),
          scoreOf(c, sel).as("score")))
      val best = aggregate(withScore,
        lit(null).cast("struct<doc:bigint,rel:bigint," +
          "qv:array<bigint>,nv2:bigint,score:bigint>"),
        (acc, c) => when(acc.isNull ||
            c.getField("score") > acc.getField("score") ||
            (c.getField("score") === acc.getField("score") &&
              c.getField("doc") < acc.getField("doc")), c)
          .otherwise(acc))
      struct(
        when(best.isNull, sel).otherwise(concat(sel, array(struct(
          (size(sel) + 1).cast("int").as("rank"),
          best.getField("doc").as("doc"), best.getField("rel").as("rel"),
          best.getField("qv").as("qv"), best.getField("nv2").as("nv2"),
          best.getField("score").as("score"))))).as("sel"),
        when(best.isNull, rem).otherwise(
          filter(rem, c => c.getField("doc") =!= best.getField("doc")))
          .as("rem"))
    })
    grouped
      .select(col("query"), explode(stepped.getField("sel")).as("__s"))
      .select(col("query"), col("__s.rank").as("rank"),
        col("__s.doc").as("doc"), col("__s.rel").as("rel_milli"),
        col("__s.score").as("score_nano"))
  }

  /** Per-vector SQ8 scalar quantization — the storage compressor an
    * ANN index runs before writing a 100 TB embedding column (4 bytes
    * per float → 1 byte per code + one float scale per vector). Code
    * rule: floor(v / max|v| · 127) ∈ [−127, 127], with a zero vector
    * mapping to all-zero codes. Pure per-row expressions (no shuffle,
    * no UDF), and every step — abs-max, divide, floor — is IEEE-double
    * deterministic, so q87's DuckDB oracle replays it exactly.
    * Reconstruction error is bounded by one quantization step:
    * |code/127 · max|v| − v| ≤ max|v|/127 (pinned in SimilaritySpec). */
  def quantizeSq8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    // both columns are native fused kernels (graft.expr.VecAbsMax /
    // Sq8Codes — zero-vector guard max(scale, 1e-300) inside), not
    // HOFs: interpreted transform lambdas cost ~2 frames per element,
    // 4× the quantize stage at sf0.1, and this operator's whole point
    // is compressing EVERY embedding at 100 TB. The kernel arithmetic
    // is bit-identical to the two-step HOF formulation (abs-max pass,
    // then floor(v / max(scale,1e-300) · 127) per element), so the q87
    // oracle and the reconstruction-error bound are unchanged. Being
    // plain codegen'd expressions, they also survive optimizer
    // transplants cheaply — an inferred-filter copy of a HOF tree
    // re-evaluated array_max per element (see q87's posexplode_outer
    // note in SparkEntry).
    df.select(col(idCol), col(vecCol),
      vec_abs_max(col(vecCol)).as("scale"),
      sq8_codes(col(vecCol)).as("codes"))

  /** Seeded signed random projection — the Johnson-Lindenstrauss
    * dimension-reduction step a 100 TB embedding pipeline runs BEFORE
    * indexing (project 768→64 once, then every downstream ANN/dedup
    * pass moves 12× fewer bytes). Achlioptas-style ±1 matrix: sign of
    * cell (k, j) is the parity of the first hex digit of
    * `md5("$seed:$k:$j")` — an engine-independent derivation, so the
    * exact same matrix is reconstructable anywhere (the q85 seeded-md5
    * discipline) and the projection is a pure function of (vector,
    * seed), never of cluster state.
    *
    * Outputs are INTEGER units on purpose: each input component is
    * floor-quantized to `quantScale` units (`floor(v·quantScale)` —
    * float→double widening and one double multiply are IEEE-identical
    * everywhere), then summed under ±1 signs in BIGINT, which is
    * order-independent — a float dot product would not hash-match
    * across engines or even across partitionings (the q134 argument).
    * Quantization error per output is bounded by inDim/2 units —
    * irrelevant at quantScale=10000 against unit-norm vectors.
    *
    * Scale posture: zero shuffle — the sign matrix ships as ONE
    * typedLit plan constant (never Janino-inlined per cell), each row
    * is outDim·inDim fused multiply-adds, and the skinny (id,
    * projected) output is what downstream stages shuffle instead of
    * raw vectors. */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int, seed: Long = 42L, quantScale: Long = 10000L): DataFrame = {
    require(outDim >= 1 && outDim <= 4096, s"outDim out of range: $outDim")
    require(quantScale >= 1, s"quantScale must be positive: $quantScale")
    val inDim = df.select(size(col(vecCol))).first().getInt(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    val signs: Seq[Seq[Int]] = (0 until outDim).map { k =>
      (0 until inDim).map { j =>
        val hex = md.digest(s"$seed:$k:$j".getBytes("UTF-8"))
        // parity of the FIRST HEX DIGIT = parity of the high nibble
        if (((hex(0) >> 4) & 0xF) % 2 == 0) 1 else -1
      }
    }
    val q = transform(col(vecCol),
      v => floor(v.cast("double") * quantScale).cast("long"))
    df.select(col(idCol),
      transform(typedLit(signs),
        ks => aggregate(zip_with(q, ks, (x, sg) => x * sg), lit(0L),
          (acc, t) => acc + t)).as("projected"))
  }

  /** Per-label centroid of embeddings — the vector-average Aggregator
    * family (SURVEY.md §2.5). Pure built-ins: element-wise sum via
    * zip_with fold over an aggregated array is quadratic, so instead
    * posexplode → group — one shuffle, linear. */
  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("v")).as("mean_v"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v")))).as("__pairs"))
      .select(col("label"),
        transform(col("__pairs"), p => p.getField("mean_v")).as("centroid"))

  /** Margin-based bitext mining (the LASER/CCMatrix criterion):
    * score(x, y) = sim(x, y) relative to the MEAN of each side's
    * top-k neighborhood — absolute similarity lies (some sentences
    * are just "close to everything"), margin doesn't. Integer lanes:
    * sim = milli-quantized dot (BIGINT-exact), margin_milli =
    * (2000·dot) / (avgₖ(x-side) + avgₖ(y-side)), pairs with
    * non-positive denominators dropped (they cannot rank). Emits
    * each source's best target by (margin desc, tgt asc) with the
    * MUTUAL flag — x's best is y AND y's best is x — the standard
    * extraction filter.
    *
    * Brute-force tier (both sides bounded — audit/sample scale; the
    * production path swaps the pair generator for [[ivfTopK]]):
    * one pair scan, two per-side top-k windows partitioned by id,
    * never global. */
  def bitextMine(src: DataFrame, tgt: DataFrame, sIdCol: String,
      sVecCol: String, tIdCol: String, tVecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def quant(df: DataFrame, id: String, vec: String, oid: String,
        ov: String) =
      df.select(col(id).as(oid), transform(col(vec),
        x => floor(x.cast("double") * lit(1000)).cast("long")).as(ov))
    val pairs = quant(src, sIdCol, sVecCol, "src_id", "sv")
      .crossJoin(quant(tgt, tIdCol, tVecCol, "tgt_id", "tv"))
      .withColumn("dot", aggregate(
        zip_with(col("sv"), col("tv"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x))
      .select(col("src_id"), col("tgt_id"), col("dot"))
    def topAvg(part: String, out: String) = {
      val w = Window.partitionBy(col(part))
        .orderBy(col("dot").desc, col(if (part == "src_id") "tgt_id"
          else "src_id"))
      // sign-split floors: sum/dot can be negative and Spark's div
      // truncates where DuckDB's // floors (the q217 lesson)
      pairs.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= k)
        .groupBy(col(part))
        .agg(expr("""CASE WHEN sum(dot) >= 0 THEN sum(dot) div count(1)
          ELSE -((-sum(dot)) div count(1)) END""").as(out))
    }
    val scored = pairs
      .join(topAvg("src_id", "__ax"), Seq("src_id"))
      .join(topAvg("tgt_id", "__ay"), Seq("tgt_id"))
      .filter(col("__ax") + col("__ay") > 0)
      .withColumn("margin_milli", expr(
        """CASE WHEN dot >= 0 THEN (2000 * dot) div (__ax + __ay)
          ELSE -((-(2000 * dot)) div (__ax + __ay)) END"""))
    def bestBy(part: String, other: String) = {
      val w = Window.partitionBy(col(part))
        .orderBy(col("margin_milli").desc, col(other))
      scored.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col(part), col(other), col("dot"), col("margin_milli"))
    }
    val fwd = bestBy("src_id", "tgt_id")
    val bwd = bestBy("tgt_id", "src_id")
      .select(col("src_id").as("__bs"), col("tgt_id").as("__bt"))
    fwd.join(bwd, fwd("src_id") === col("__bs") &&
        fwd("tgt_id") === col("__bt"), "left")
      .withColumn("mutual", col("__bs").isNotNull.cast("int"))
      .select(col("src_id"), col("tgt_id"), col("dot"),
        col("margin_milli"), col("mutual"))
  }

  /** Matryoshka truncation audit: at each prefix budget d, does the
    * top-1 neighbor under the d-dim dot product agree with the
    * full-dimension top-1? The question every MRL deployment asks
    * before shipping truncated embeddings — answered on a SAMPLE of
    * queries (the [[bruteForceTopK]] small-query contract: the
    * streaming side is the corpus, the output is |dims| rows).
    * Vectors milli-quantize first (⌊double(x)·1000⌋ per component) so
    * every dot is BIGINT-exact and the argmax — (dot desc, id asc)
    * tiebreak — is hash-replayable; self-pairs are excluded. */
  def matryoshkaAgreement(queries: DataFrame, corpus: DataFrame,
      qIdCol: String, qVecCol: String, cIdCol: String, cVecCol: String,
      dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims == dims.sorted && dims.distinct == dims,
      "dims must be ascending and distinct")
    def quant(df: DataFrame, id: String, vec: String, oid: String,
        ov: String) =
      df.select(col(id).as(oid), transform(col(vec),
        x => floor(x.cast("double") * lit(1000)).cast("long")).as(ov))
    val pairs = quant(queries, qIdCol, qVecCol, "qid", "qv")
      .crossJoin(quant(corpus, cIdCol, cVecCol, "cid", "cv"))
      .filter(col("qid") =!= col("cid"))
    def dotAt(d: Int): Column = aggregate(
      zip_with(slice(col("qv"), 1, d), slice(col("cv"), 1, d),
        (x, y) => x * y),
      lit(0L), (acc, x) => acc + x)
    val stacked = pairs.select((col("qid") +: col("cid") +:
        dims.map(d => dotAt(d).as(s"__d$d"))): _*)
      .select(col("qid"), col("cid"),
        explode(array(dims.map(d =>
          struct(lit(d).as("d"), col(s"__d$d").as("dot"))): _*)).as("__b"))
      .select(col("qid"), col("cid"), col("__b.d").as("dim_budget"),
        col("__b.dot").as("dot"))
    val top1 = stacked.groupBy(col("dim_budget"), col("qid"))
      .agg(max(struct(col("dot"), (-col("cid")).as("nid"))).as("__best"))
      .select(col("dim_budget"), col("qid"),
        (-col("__best.nid")).as("cid"))
    val full = top1.filter(col("dim_budget") === dims.max)
      .select(col("qid"), col("cid").as("__fcid"))
    top1.join(full, Seq("qid"))
      .groupBy(col("dim_budget"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("cid") === col("__fcid"), 1L).otherwise(0L))
          .as("n_agree"))
      .withColumn("agree_milli", expr("(1000 * n_agree) div n_queries"))
  }
}
