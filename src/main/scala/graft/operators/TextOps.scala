package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{lcs_length, mean_token_len, shingle_hashes, shingles, token_count, tokens}

/** Corpus-level text statistics (north-star text-analysis family,
  * SURVEY.md §7.4).
  */
object TextOps {

  /** Term frequencies per document: (id, token, tf). One explode +
    * one hash aggregate; tokens are lower-cased. */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc"), explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("doc"), col("token"))
      .agg(count(lit(1)).as("tf"))

  /** Exact boilerplate detection: w-shingles appearing in at least
    * `minDocs` documents, with their document frequency. Shingles are
    * DISTINCT per document ([[graft.functions.shingles]]), so the
    * count is a document frequency, not an occurrence count — exactly
    * the signal for a stop-shingle list (site chrome, license headers,
    * navigation text) that then feeds cleaning or explains the LSH
    * stop-bucket drops.
    *
    * One explode + one hash aggregate with map-side partials. Note the
    * honest scale cost: `minDocs` filters AFTER the final aggregation,
    * and partial aggregation only collapses shingles that repeat within
    * a partition, so the final shuffle still carries the full
    * count-1 unique-shingle tail (which dominates a natural corpus).
    * That is inherent to exact document frequency — any exact pre-prune
    * needs the same global count this computes. When the shuffle volume
    * matters at 100 TB, use [[frequentShingleHashes]]: same semantics
    * over 8-byte hashed keys instead of shingle strings. */
  def frequentShingles(df: DataFrame, textCol: String, shingleWidth: Int = 3,
                       minDocs: Long = 2L): DataFrame =
    df.select(explode(shingles(col(textCol), shingleWidth)).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** [[frequentShingles]] over 64-bit hashed shingle keys — the 100 TB
    * variant of exact document frequency. The fused
    * [[graft.functions.shingle_hashes]] kernel emits one long per
    * distinct shingle straight from raw text, so the aggregation
    * shuffles 8-byte keys instead of shingle strings (~3-5× less
    * volume on the count-1 tail that dominates a natural corpus) and
    * the hot-set join key downstream is a long, not a string.
    * Semantics match the string form modulo 64-bit collisions
    * (expected collisions ≈ m²/2⁶⁵ for m distinct shingles — ~0.03
    * for a billion; spec pins the DF histogram equal to the string
    * formulation, and q75 oracle-checks it against DuckDB's). */
  def frequentShingleHashes(df: DataFrame, textCol: String, shingleWidth: Int = 3,
                            minDocs: Long = 2L): DataFrame =
    df.select(explode(shingle_hashes(col(textCol), shingleWidth)).as("shingle_hash"))
      .groupBy(col("shingle_hash"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document boilerplate ratio: the fraction of a document's
    * DISTINCT w-shingles whose corpus document-frequency is at least
    * `minDocs` — the C4-style curation signal adapted to shingles
    * (the reference corpus has no line structure to dedup on). A doc
    * dominated by corpus-frequent shingles is site chrome / license
    * header / template text; callers threshold `boilerplate_ratio`
    * to drop or down-weight it.
    *
    * Shuffle plan: the per-doc ratio and the hot-shingle vocabulary
    * are two aggregates over the same exploded shingle child (the
    * [[tfidf]] layout); the hot side then joins back onto the
    * per-doc shingles. The hot vocabulary is the REPEATING head of
    * the shingle distribution — orders of magnitude smaller than the
    * unique tail — so Catalyst/AQE broadcast it at any realistic
    * `minDocs`; no hint is forced so a pathological corpus (every
    * shingle repeated) degrades to a shuffle join instead of an OOM. */
  def boilerplateRatio(df: DataFrame, idCol: String, textCol: String,
                       shingleWidth: Int = 3, minDocs: Long = 2L): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"),
      explode(shingles(col(textCol), shingleWidth)).as("shingle"))
    val hot = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__n_docs"))
      .filter(col("__n_docs") >= minDocs)
      .select(col("shingle"), lit(1).as("__hot"))
    sh.join(hot, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hot"), lit(0))).cast("long").as("n_hot"))
      .withColumn("boilerplate_ratio",
        col("n_hot").cast("double") / col("n_shingles"))
  }

  /** Approximate heavy-hitter shingles — the sketch alternative to
    * exact document frequency when even the hashed shuffle
    * ([[frequentShingleHashes]]) is too much: Spark's single-pass
    * `stat.freqItems` (Karp/Misra-Gries family) finds every shingle
    * appearing in more than `support` fraction of exploded rows with
    * NO shuffle of the unique tail — one pass, driver gets only the
    * candidate set. May contain false positives (the algorithm's
    * contract); no false negatives above support. Returns one row with
    * the candidate array.
    *
    * `sampleFraction < 1` first takes an executor-local Bernoulli
    * sample of the documents — statistically sound for a screening
    * sketch, since a shingle at frequency `support` still appears
    * ~support·p·N times in a p-sample (relative error ∝
    * 1/√(p·N·support)). This matters because freqItems is an
    * interpreted RDD aggregate whose per-row cost dwarfs the codegen'd
    * exact aggregates at small N (measured: full-corpus sketch 3.1 s
    * vs exact q61 0.42 s at sf0.1) — its value is the no-shuffle
    * single pass over a corpus whose unique tail would dominate a
    * shuffle, and a screen at that scale samples. */
  def approxHeavyShingles(df: DataFrame, textCol: String,
                          shingleWidth: Int = 3, support: Double = 0.01,
                          sampleFraction: Double = 1.0, seed: Long = 42L): DataFrame = {
    val base = if (sampleFraction < 1.0) df.sample(withReplacement = false, sampleFraction, seed) else df
    base.select(explode(shingles(col(textCol), shingleWidth)).as("shingle"))
      .stat.freqItems(Seq("shingle"), support)
  }

  /** [[boilerplateRatio]] over hashed shingle keys — identical ratios
    * (modulo 64-bit collisions), but the explode, both aggregates, and
    * the hot-set join all key on 8-byte longs instead of shingle
    * strings: the 100 TB pairing of [[frequentShingleHashes]]. Parity
    * with the string form is spec-pinned. */
  def boilerplateRatioHashed(df: DataFrame, idCol: String, textCol: String,
                             shingleWidth: Int = 3, minDocs: Long = 2L): DataFrame = {
    val sh = df.select(col(idCol).as("doc_id"),
      explode(shingle_hashes(col(textCol), shingleWidth)).as("shingle_hash"))
    val hot = sh.groupBy(col("shingle_hash"))
      .agg(count(lit(1)).as("__n_docs"))
      .filter(col("__n_docs") >= minDocs)
      .select(col("shingle_hash"), lit(1).as("__hot"))
    sh.join(hot, Seq("shingle_hash"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hot"), lit(0))).cast("long").as("n_hot"))
      .withColumn("boilerplate_ratio",
        col("n_hot").cast("double") / col("n_shingles"))
  }

  /** TF-IDF table: (doc, token, tf, dfreq, tfidf) with
    * tfidf = tf · ln(N / dfreq).
    *
    * Shuffle plan: explode is narrow; tf and document-frequency are
    * two hash aggregates over the same exploded child; the corpus
    * size N rides along as a broadcast single-row cross join. The
    * document-frequency side is vocabulary-sized — bounded on a
    * curated corpus but BILLIONS of unique tokens on natural 100 TB
    * web text — so no broadcast is forced: AQE broadcasts it when the
    * aggregated side is actually small and degrades to a shuffle join
    * (token is already the shuffle key of both aggregates, so the
    * join reuses that partitioning) instead of a driver/executor OOM —
    * the same posture as [[boilerplateRatio]]'s hot side.
    * Nothing is collected to the driver. */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = termFrequencies(df, idCol, textCol)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("dfreq"))
    val n = df.agg(count(lit(1)).as("n"))
    tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n))
      .select(col("doc"), col("token"), col("tf"), col("dfreq"),
        (col("tf").cast("double") *
          log(col("n").cast("double") / col("dfreq").cast("double"))).as("tfidf"))
  }

  /** BM25 relevance scoring of every document against a fixed query —
    * the retrieval-quality signal a training-data pipeline uses to
    * mine topical subsets from a web corpus ("find the docs that
    * look like math/code/medical text") and the standard first-stage
    * ranker in front of embedding re-rank.
    *
    * Okapi BM25 with k1=1.2, b=0.75: per matched term,
    * idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)), summed over
    * the query terms. Two scores per document:
    *
    *  - `bm25` (double): the real thing, Lucene-flavoured
    *    idf = ln(1 + (N−df+0.5)/(df+0.5)). ln is library-side only —
    *    libm rounding differs across engines (the q45/q97
    *    discipline) — so this column is spec-pinned, not
    *    oracle-hashed.
    *  - `bm25_milli` (BIGINT): the oracle-exact integer core. With
    *    k1=6/5 and b=3/4 every factor is rational; the idf surrogate
    *    is the ln-free odds ratio (2N−2df+1)/(2df+1). The naive
    *    single-fraction form (idfNum·44·L·tf·10³ over
    *    idfDen·(20·L·tf+6·L+18·dl·N)) overflows BIGINT once
    *    N·L·tf ≈ 10¹⁴ — far below web scale — so the rational is
    *    staged with every intermediate bounded:
    *      am  = greatest(1, (1000·L) div N)      — avgdl, milli-tokens
    *      rel = (10⁶·dl) div am                  — dl/avgdl, milli
    *      tfm = (44·10⁶·tf) div (2·10⁴·tf + 6000 + 18·rel)
    *                                             — tf part, milli, ≤2200
    *      term = (idfNum·tfm) div idfDen
    *    L cancels out of the tf part (÷N, then ÷avgdl), so the widest
    *    products are 1000·L (needs Σ tokens ≤ 9·10¹⁵ — thousands of
    *    times a 100 TB text corpus), 10⁶·dl, 44·10⁶·tf, and
    *    idfNum·tfm ≤ (2N+1)·2200 (needs N ≤ 2·10¹⁵ docs). A pure
    *    BIGINT floor-division recurrence DuckDB replays with `//`
    *    (q114/q134 discipline), summed exactly per doc. Same weak
    *    monotonicity in (tf, dl, df) as BM25 up to the milli
    *    quantisation of the tf part; tie-broken identically on any
    *    engine. The `greatest(1, ·)` guard covers the corner where
    *    most docs are empty and avgdl < 1/1000 token.
    *
    * Docs matching no query term score (0, 0) and are kept — a
    * retrieval filter that silently dropped non-matches would bias
    * the corpus mix measurement.
    *
    * Scale shape: one corpus explode filtered TO THE QUERY TERMS
    * (skinny — |terms| rows per doc max) + a per-doc length pass from
    * the same tokenize; df/N/L are term- or 1-row-sized aggregates
    * broadcast as scalars (the only broadcasts — the r5 lesson);
    * final per-doc aggregate is one shuffle on doc id. Integer
    * domain: terms ≤ ~40, idfNum ≤ 2N+1 — products stay far under
    * 2⁶³ for corpora to ~10⁹ docs × 10⁵ avg tokens; milli units (not micro)
    * keep the widest product ~2¹⁵ under the BIGINT edge at that
    * scale, and overflow throws under ANSI rather than silently
    * wrapping. */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.size <= 64,
      s"terms must be 1..64 query tokens, got ${terms.size}")
    require(terms.forall(t => t.nonEmpty && t == t.toLowerCase),
      "query terms must be non-empty and lower-case (tokens are lower-cased)")
    val toked = df.select(col(idCol).as("doc"),
      tokens(lower(col(textCol))).as("__toks"))
    val dl = toked.select(col("doc"), size(col("__toks")).cast("long").as("dl"))
    val tf = toked
      .select(col("doc"), explode(col("__toks")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    scoreBm25(tf.join(dfreq, Seq("token")), dl)
  }

  /** Shared BM25 scoring tail: `tfdf` rows are (doc, token, tf, df),
    * `dl` is the FULL doc universe (doc, dl) — zero-length docs
    * included, so non-matching docs score (0, 0) instead of
    * vanishing. Both the scan path ([[bm25]]) and the serving path
    * ([[bm25FromIndex]]) reduce to this, which is what makes their
    * q140/q210 parity a structural fact rather than a coincidence. */
  private def scoreBm25(tfdf: DataFrame, dl: DataFrame): DataFrame = {
    val scalars = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("l"))
    val scored = tfdf
      .join(dl, Seq("doc"))
      .crossJoin(broadcast(scalars))
      .select(col("doc"),
        // real BM25 (k1=1.2, b=0.75, Lucene idf) — library-side ln
        (log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl") * col("n") / col("l"))))
          .as("__s"),
        // integer core: milli-units, staged floor divisions so every
        // intermediate stays bounded (see scaladoc overflow analysis)
        expr("""((2*n - 2*df + 1) *
               |  ((44000000 * tf) div
               |   (20000 * tf + 6000 +
               |    18 * ((1000000 * dl) div greatest(1L, (1000 * l) div n)))))
               |div (2*df + 1)"""
          .stripMargin.replace("\n", " ")).as("__m"))
      .groupBy(col("doc"))
      .agg(sum(col("__s")).as("bm25"), sum(col("__m")).as("bm25_milli"))
    dl.select(col("doc"))
      .join(scored, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("bm25"), lit(0.0)).as("bm25"),
        coalesce(col("bm25_milli"), lit(0L)).as("bm25_milli"))
  }

  /** BM25-scored top-k retrieval JOIN — the end-to-end query-side
    * lane a training-data pipeline actually runs (r14 verdict item
    * 6): a query SET (not one fixed term list) joins the corpus
    * postings and each query gets its own top-k scored documents.
    * "Mine the docs that look like each of these 10k seed prompts"
    * is this operator; [[bm25]] is its single-query special case.
    *
    * Scoring is the [[bm25]] integer milli-lane (k1=1.2, b=0.75,
    * Lucene idf in staged floor divisions — cross-engine exact, no
    * transcendentals in the gate): per (query, doc), the sum of its
    * matched terms' milli scores over DISTINCT query tokens. Only
    * matching docs rank — retrieval semantics, unlike the scoring
    * table's keep-zero-rows convention.
    *
    * 100 TB shape: the query set is broadcast-sized BY CONTRACT
    * (maxQueries loud guard) — query tokens broadcast into the
    * postings scan, so the corpus shuffles ONCE on (doc, token) for
    * tf and once on token for df, never per query; per-(query, doc)
    * scores aggregate on a (query, doc) key; the final cut is the
    * GROUPED top-k discipline — a query-partitioned rank window the
    * optimizer executes as WindowGroupLimit (per-partition heaps),
    * never a score-all-docs global sort materialized anywhere. */
  def bm25TopKJoin(df: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, maxQueries: Long = 100000L): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1,1000], got $k")
    val qTerms = queryTermTable(queries, queryIdCol, queryTextCol,
      maxQueries, "bm25TopKJoin")
    val toked = df.select(col(idCol).as("doc"),
      graft.functions.tokens(lower(col(textCol))).as("__toks"))
    val dl = toked.select(col("doc"),
      size(col("__toks")).cast("long").as("dl"))
    val termSet = qTerms.select(col("token")).distinct()
    val tf = toked.select(col("doc"), explode(col("__toks")).as("token"))
      .join(broadcast(termSet), Seq("token"))
      .groupBy(col("doc"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    bm25TopKTail(qTerms, tf.join(dfreq, Seq("token")), dl, k)
  }

  /** [[bm25TopKJoin]] SERVED FROM the [[invertedIndex]] table — the
    * deployment pairing of [[bm25FromIndex]]: the corpus is
    * tokenized ONCE into the index, and every query set after that
    * touches |terms| posting ranges plus the doc-length sidecar
    * (here derived by one index aggregate + a left join over the
    * `docs` id universe), never the text. Identical output to
    * `bm25TopKJoin(corpus, ...)` by construction (shared
    * [[bm25TopKTail]]; df = the index's token-grain doc_freq, dl =
    * per-doc tf sum) — spec-pinned row-for-row, the q140/q210
    * discipline. */
  def bm25TopKJoinFromIndex(index: DataFrame, docs: DataFrame,
      idCol: String, queries: DataFrame, queryIdCol: String,
      queryTextCol: String, k: Int,
      maxQueries: Long = 100000L): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1,1000], got $k")
    val qTerms = queryTermTable(queries, queryIdCol, queryTextCol,
      maxQueries, "bm25TopKJoinFromIndex")
    val dlIdx = index.groupBy(col("doc")).agg(sum(col("tf")).as("dl"))
    val dl = docs.select(col(idCol).as("doc")).distinct()
      .join(dlIdx, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("dl"), lit(0L)).as("dl"))
    val termSet = qTerms.select(col("token")).distinct()
    val tfdf = index.join(broadcast(termSet), Seq("token"))
      .select(col("doc"), col("token"), col("tf"),
        col("doc_freq").as("df"))
    bm25TopKTail(qTerms, tfdf, dl, k)
  }

  /** Shared query-side staging for the top-k join family: (query,
    * token) pairs, lower-cased, deduped, with the loud in-plan
    * broadcast-posture guard (the kaplanMeier pattern) — sound only
    * while the query set is dimension-sized. */
  private def queryTermTable(queries: DataFrame, queryIdCol: String,
      queryTextCol: String, maxQueries: Long, opName: String): DataFrame = {
    require(maxQueries >= 1, s"maxQueries must be positive, got $maxQueries")
    val nq = queries.agg(count(lit(1)).as("__nq"))
    queries
      .crossJoin(broadcast(nq))
      .select(when(col("__nq") > maxQueries,
          raise_error(concat(lit(s"$opName: "), col("__nq"),
            lit(s" queries > maxQueries=$maxQueries — shuffle-join the " +
              "query side instead of broadcasting it"))))
          .otherwise(col(queryIdCol).cast("long")).as("query"),
        explode(array_distinct(
          graft.functions.tokens(lower(col(queryTextCol))))).as("token"))
      .filter(col("token") =!= "")
      .distinct()
  }

  /** Shared scoring + ranking tail of the top-k join family: `tfdf`
    * rows are (doc, token, tf, df), `dl` the doc universe — the
    * [[scoreBm25]] integer milli kernel summed per (query, doc) over
    * the broadcast (query, token) table, then the grouped top-k cut
    * (per-query rank window -> WindowGroupLimit, never a global
    * sort). */
  private def bm25TopKTail(qTerms: DataFrame, tfdf: DataFrame,
      dl: DataFrame, k: Int): DataFrame = {
    // the 1-row (n, Σdl) scalar pair rebases as driver literals (r18:
    // as a broadcast arm it re-ran the dl subtree once per consuming
    // action — the PRF loop consumes the tail three times)
    val s = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("l")).first()
    bm25TopKTailLit(qTerms, tfdf, dl, k, s.getLong(0),
      if (s.isNullAt(1)) None else Some(s.getLong(1)))
  }

  private def bm25TopKTailLit(qTerms: DataFrame, tfdf: DataFrame,
      dl: DataFrame, k: Int, n: Long, l: Option[Long]): DataFrame = {
    val lSql = l.map(_.toString).getOrElse("CAST(NULL AS BIGINT)")
    val perTerm = tfdf
      .join(dl, Seq("doc"))
      .select(col("doc"), col("token"),
        expr(s"""((2*$n - 2*df + 1) *
               |  ((44000000 * tf) div
               |   (20000 * tf + 6000 +
               |    18 * ((1000000 * dl) div greatest(1L, (1000 * $lSql) div $n)))))
               |div (2*df + 1)"""
          .stripMargin.replace("\n", " ")).as("__m"))
    val perQueryDoc = perTerm
      .join(broadcast(qTerms), Seq("token"))
      .groupBy(col("query"), col("doc"))
      .agg(sum(col("__m")).as("bm25_milli"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query"))
      .orderBy(col("bm25_milli").desc, col("doc").asc)
    perQueryDoc
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Pseudo-relevance-feedback retrieval (Rocchio/RM1-style query
    * expansion) — the classic two-pass IR loop, closing the
    * retrieval family: pass 1 retrieves each query's `kFeedback`
    * BM25 top docs FROM the index; the `mExpand` terms with the
    * highest summed tf across those feedback docs (ties: token asc)
    * that are NOT already query terms join the query with unit
    * weight; pass 2 re-retrieves top `k` with the expanded term set.
    * Everything stays on the integer milli BM25 kernel — ranks,
    * floors and Σtf only, which is what keeps a feedback loop
    * oracle-able end to end (q486 replays BOTH passes and the
    * expansion choice verbatim).
    *
    * 100 TB shape: queries broadcast (the [[bm25TopKJoin]]
    * maxQueries contract); the feedback doc set is |queries|·k —
    * broadcast back into the index for candidate mining; both
    * scoring passes touch only matched-term posting ranges plus the
    * dl sidecar, never the text; top-k cuts are per-query rank
    * windows (WindowGroupLimit), never a global sort. */
  def bm25PrfTopKJoin(index: DataFrame, docs: DataFrame, idCol: String,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      kFeedback: Int, mExpand: Int, k: Int,
      maxQueries: Long = 100000L): DataFrame = {
    require(kFeedback >= 1 && kFeedback <= 1000,
      s"kFeedback must be in [1,1000], got $kFeedback")
    require(mExpand >= 1 && mExpand <= 64,
      s"mExpand must be in [1,64], got $mExpand")
    require(k >= 1 && k <= 1000, s"k must be in [1,1000], got $k")
    // query-grain and checkpointed: referenced by the feedback tail's
    // broadcast, the candidate anti-join AND the pass-2 union — each
    // reference otherwise replays the tokenize + guard chain (r18)
    val qTerms = CheckpointHygiene.materialize(queryTermTable(queries,
      queryIdCol, queryTextCol, maxQueries, "bm25PrfTopKJoin"))
    val dlIdx = index.groupBy(col("doc")).agg(sum(col("tf")).as("dl"))
    // the doc-length sidecar is materialized ONCE (r18: both scoring
    // passes read it; unmaterialized, each pass re-ran the index
    // aggregate and the doc-universe scan) — this is the deployment
    // shape the docstring promises (the sidecar lives beside the
    // index), and its scalars rebase as literals inside the tails
    val (dl, obsVals) = CheckpointHygiene.materialize(
      docs.select(col(idCol).as("doc")).distinct()
        .join(dlIdx, Seq("doc"), "left")
        .select(col("doc"), coalesce(col("dl"), lit(0L)).as("dl")),
      Seq(count(lit(1)).as("n"), sum(col("dl")).as("l")))
    val nDl = obsVals("n").asInstanceOf[Long]
    val lDl = Option(obsVals("l")).map(_.asInstanceOf[Long])
    def tfdfFor(terms: DataFrame) =
      index.join(broadcast(terms.select(col("token")).distinct()),
          Seq("token"))
        .select(col("doc"), col("token"), col("tf"),
          col("doc_freq").as("df"))
    val feedback = bm25TopKTailLit(qTerms, tfdfFor(qTerms), dl, kFeedback,
        nDl, lDl)
      .select(col("query"), col("doc"))
    val cand = index.select(col("doc"), col("token"), col("tf"))
      .join(broadcast(feedback), Seq("doc"))
      .groupBy(col("query"), col("token"))
      .agg(sum(col("tf")).as("__ft"))
      .join(qTerms, Seq("query", "token"), "left_anti")
    val wExp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query"))
      .orderBy(col("__ft").desc, col("token").asc)
    val expansion = cand
      .withColumn("__r", row_number().over(wExp))
      .filter(col("__r") <= mExpand)
      .select(col("query"), col("token"))
    // query-sized and materialized ([[CheckpointHygiene]]): the
    // expanded term table is referenced twice in pass 2 (term-set
    // pruning + the scoring tail's broadcast), and each reference
    // would otherwise replay the whole pass-1 chain including an
    // index scan
    val qTerms2 = CheckpointHygiene.materialize(qTerms.unionByName(expansion))
    bm25TopKTailLit(qTerms2, tfdfFor(qTerms2), dl, k, nDl, lDl)
  }

  /** BM25 served FROM the [[invertedIndex]] table instead of
    * rescanning text — the retrieval shape a deployment actually
    * runs: at 100 TB the corpus is tokenized ONCE into the index;
    * every query after that touches |terms| posting ranges plus the
    * doc-length table, never the text. `docs` is the full doc-id
    * universe (one column, `idCol`) — zero-token docs are absent
    * from the index but must still score (0, 0), exactly like
    * [[bm25]]'s empty-tokenization docs; a real deployment keeps
    * this doc-length sidecar beside the index (here derived by one
    * index aggregate + a left join).
    *
    * Identical output to `bm25(corpus, ...)` by construction (shared
    * [[scoreBm25]] tail; df = the index's token-grain doc_freq, dl =
    * Σ tf per doc): spec-pinned row-for-row and q210 oracle-replayed
    * with the q140 SQL. */
  def bm25FromIndex(index: DataFrame, docs: DataFrame, idCol: String,
      terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty && terms.size <= 64,
      s"terms must be 1..64 query tokens, got ${terms.size}")
    require(terms.forall(t => t.nonEmpty && t == t.toLowerCase),
      "query terms must be non-empty and lower-case (tokens are lower-cased)")
    val dlIdx = index.groupBy(col("doc")).agg(sum(col("tf")).as("dl"))
    val dl = docs.select(col(idCol).as("doc")).distinct()
      .join(dlIdx, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("dl"), lit(0L)).as("dl"))
    val tfdf = index.filter(col("token").isin(terms: _*))
      .select(col("doc"), col("token"), col("tf"),
        col("doc_freq").as("df"))
    scoreBm25(tfdf, dl)
  }

  /** Per-document bigram language-model statistics — the corpus-
    * fluency quality signal (the CCNet/KenLM-family filter: score each
    * document by how typical its word transitions are of the corpus,
    * then drop the tail). Trains the model and scores the documents in
    * one distributed job; no external LM.
    *
    * Output per document (documents with <2 tokens produce no bigrams
    * and are absent, like the SQL inner unnest): `n_bigrams`,
    * `sum_bigram_count` (Σ corpus count of the doc's bigrams),
    * `sum_head_count` (Σ corpus count of each bigram's head word in
    * head position — the exact bigram-MLE denominator c(w1) = Σw2
    * c(w1,w2)), and `avg_logprob` = mean over the doc's bigrams of
    * ln((c(w1,w2)+1) / (c_head(w1)+V)) — add-one-smoothed bigram log
    * likelihood, V = head-vocabulary size. The integer columns are the
    * oracle-checkable core (q97); the float score derives from them
    * row-locally and is pinned by spec against a hand-computed corpus.
    *
    * Scale shape: the corpus explodes to skinny (doc_id, bigram)
    * rows; bigram counts are one hash aggregate with map-side
    * partials; head counts derive from the BIGRAM COUNT table
    * (vocab-sized input — never a re-explode of the corpus). The
    * exploded frame itself feeds both the count pass and the
    * join-back pass, so the tokenize+explode computes twice (the
    * inherent shape of corpus-statistics-joined-back-per-row, same as
    * [[tfidf]]); persist the exploded frame upstream when tokenize
    * cost dominates scan cost. Both count joins are
    * shuffled equi-joins deliberately left UN-hinted — the vocabulary
    * of a natural web corpus runs to billions of bigrams, so forcing a
    * broadcast here is the driver-OOM anti-pattern (the r5 TF-IDF
    * lesson); AQE still broadcasts when a side is actually small. Only
    * the 1-row V scalar is broadcast. Final per-doc aggregate is one
    * shuffle on doc_id. Everything stays in whole-stage codegen. */
  def bigramLm(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // name the token array before the HOF lambdas reference it: a
    // nested HOF re-evaluates non-lambda subtrees per element (q30)
    val toked = df.select(col(idCol).as("doc_id"),
      tokens(lower(col(textCol))).as("__toks"))
    val n1 = greatest(size(col("__toks")) - 1, lit(0))
    val bg = toked.select(col("doc_id"),
      explode(zip_with(
        slice(col("__toks"), lit(1), n1), slice(col("__toks"), lit(2), n1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
    val bc = bg.groupBy(col("bigram")).agg(count(lit(1)).as("bn"))
    val hc = bc
      .groupBy(split(col("bigram"), " ", 2).getItem(0).as("__head"))
      .agg(sum(col("bn")).as("hn"))
    val v = hc.agg(count(lit(1)).as("__v"))
    bg.join(bc, Seq("bigram"))
      .withColumn("__head", split(col("bigram"), " ", 2).getItem(0))
      .join(hc, Seq("__head"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("bn")).as("sum_bigram_count"),
        sum(col("hn")).as("sum_head_count"),
        avg(log((col("bn") + lit(1)).cast("double") /
          (col("hn") + col("__v")).cast("double"))).as("avg_logprob"))
  }

  /** Token vocabulary for tokenizer training: the global top-`topN`
    * tokens with counts and a deterministic dense rank (count
    * descending, token ascending — ties never reorder across runs).
    * One explode + one hash aggregate with map-side partials, then a
    * global top-k (`TakeOrdered`, never a full sort); the final
    * ranking window runs over the topN survivors only, so the
    * single-partition stage is vocabulary-sized by construction, not
    * corpus-sized. */
  def vocabulary(df: DataFrame, textCol: String, topN: Int): DataFrame = {
    require(topN > 0, s"topN must be positive, got $topN")
    val counts = df
      .select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(topN)
    counts.withColumn("rank", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("token"))))
  }

  /** Vocabulary coverage audit: per `groupCol` group (language,
    * source, domain), how much of the corpus a tokenizer/vocab
    * actually covers — the go/no-go check a pipeline runs BEFORE
    * committing to a trained vocab ([[vocabulary]], [[bpeTrain]],
    * [[wordPieceVocab]], [[unigramTrain]] all feed it): total and
    * DISTINCT out-of-vocabulary rates. A vocab that looks fine on the
    * majority language routinely shows 90%+ OOV on a minority slice —
    * exactly what the per-group breakdown surfaces.
    *
    * Shape: the vocab is model-sized → broadcast onto the exploded
    * token stream (no corpus-side shuffle for the membership test);
    * one aggregate for token totals (map-side combinable) + one
    * (group, token) distinct for the type-level rates. Rates divide
    * two identically-derived BIGINTs as doubles, the q92 oracle
    * discipline. Groups whose text yields no tokens are absent. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    vocab: DataFrame, pieceCol: String,
                    groupCol: String): DataFrame = {
    val v = vocab.select(col(pieceCol).cast("string").as("__piece"))
      .distinct().withColumn("__in", lit(1))
    val marked = df
      .select(col(groupCol), explode(tokens(lower(col(textCol)))).as("__t"))
      .filter(col("__t") =!= "")
      .join(broadcast(v), col("__t") === col("__piece"), "left")
    val oov = when(col("__in").isNull, 1L).otherwise(0L)
    val words = marked.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_words"), sum(oov).as("n_oov"))
    val types = marked.select(col(groupCol), col("__t"), col("__in"))
      .distinct()
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_distinct"), sum(oov).as("n_distinct_oov"))
    words.join(types, Seq(groupCol))
      .select(col(groupCol), col("n_words"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_words")).as("oov_rate"),
        col("n_distinct"), col("n_distinct_oov"),
        (col("n_distinct_oov").cast("double") / col("n_distinct"))
          .as("distinct_oov_rate"))
  }

  /** Per-document n-gram repetition statistics — the Gopher-family
    * repetition quality filters (duplicate n-gram fraction and
    * most-common-n-gram fraction) used to drop degenerate/looping text
    * from training corpora. For each `n` in `ns`, over the document's
    * token n-grams (count m = n_tokens − n + 1):
    *  - `dup{n}_frac`  = (m − distinct n-grams) / m — the fraction of
    *    n-gram positions that repeat an earlier occurrence;
    *  - `top{n}_frac`  = occurrences of the most frequent n-gram / m.
    * Documents shorter than n tokens score 0.0 on both.
    *
    * Entirely row-local — no explode, no shuffle, no UDF: each n-gram
    * array is built once per row, sorted, and folded in one linear
    * pass (equal n-grams are adjacent after the sort, so duplicate
    * count and longest run fall out of one adjacent-compare fold; the
    * sort order itself never affects the counts). The token array is
    * NAMED in a separate projection first, so the n-gram lambdas
    * reference an attribute, not the tokenize tree — a nested HOF
    * re-evaluates its non-lambda subtrees per element (the q30 22×
    * lesson). Per-row cost is O(m·n) build + O(m log m) sort; at
    * 100 TB this is the shape you want — a per-doc score computed
    * where the doc already is, nothing moved. Fractions divide two
    * identically-derived numbers, so the q92 DuckDB oracle matches
    * bit-exactly. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      ns: Seq[Int] = Seq(2, 5)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), s"ns must be positive, got $ns")
    def ngramFold(n: Int): Column = {
      val t = col("__toks")
      val ng = when(size(t) >= n,
        array_sort(transform(sequence(lit(0), size(t) - n),
          i => concat_ws(" ", slice(t, i + lit(1), lit(n))))))
        .otherwise(array().cast("array<string>"))
      // one adjacent-compare pass over the sorted n-grams: `run` is the
      // current equal-run length, `maxrun` the top n-gram's count,
      // `dups` the positions equal to their predecessor (= m − distinct)
      aggregate(ng,
        struct(lit("").as("prev"), lit(0L).as("run"),
          lit(0L).as("maxrun"), lit(0L).as("dups")),
        (acc, x) => {
          val same = x === acc.getField("prev")
          val run = when(same, acc.getField("run") + 1L).otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("maxrun"), run).as("maxrun"),
            (acc.getField("dups") + when(same, 1L).otherwise(0L)).as("dups"))
        })
    }
    val withToks = df.select(col(idCol), tokens(lower(col(textCol))).as("__toks"))
    val withFolds = ns.foldLeft(withToks)((d, n) =>
      d.withColumn(s"__st$n", ngramFold(n)))
    withFolds.select(
      col(idCol) +:
        size(col("__toks")).cast("long").as("n_tokens") +:
        ns.flatMap { n =>
          val m = greatest(size(col("__toks")) - (n - 1), lit(0)).cast("double")
          val st = col(s"__st$n")
          Seq(
            when(m > 0, st.getField("dups").cast("double") / m)
              .otherwise(lit(0.0)).as(s"dup${n}_frac"),
            when(m > 0, st.getField("maxrun").cast("double") / m)
              .otherwise(lit(0.0)).as(s"top${n}_frac"))
        }: _*)
  }

  /** Cross-document duplicate-span coverage — the exact-substring-dedup
    * signal (RefinedWeb/C4 family): for each document, the fraction of
    * its k-token windows (EVERY position, not distinct — this measures
    * how much of the document is covered by text that also occurs
    * elsewhere) whose window occurs in at least `minDocs` DISTINCT
    * documents. Complements [[repetitionStats]] (within-doc repetition)
    * and [[boilerplateRatio]] (distinct-shingle document frequency).
    * Returns (doc_id, n_windows, n_dup_windows, dup_span_frac), one row
    * per input document (zero-window docs score 0).
    *
    * Shape: positional window explode → distinct-doc-frequency
    * aggregate → hot set joined back onto the exploded child → per-doc
    * aggregate. Same posture as [[boilerplateRatio]]: the hot side is
    * the repeating head of the window distribution, so AQE broadcasts
    * it when genuinely small and degrades to a shuffle join (already
    * partitioned on the window key) instead of an OOM — no hint is
    * forced. For the 100 TB corpus use [[duplicateSpanStatsHashed]]:
    * identical counts over 8-byte xxhash64 keys (collision odds
    * ≈ m²/2⁶⁵), so the explode/aggregate/join shuffle longs, not
    * window strings. */
  def duplicateSpanStats(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, minDocs: Long = 2L): DataFrame =
    spanStats(df, idCol, textCol, k, minDocs, hashed = false)

  /** [[duplicateSpanStats]] over 64-bit hashed window keys — the
    * 100 TB variant (parity with the string form is spec-pinned). */
  def duplicateSpanStatsHashed(df: DataFrame, idCol: String, textCol: String,
                               k: Int = 4, minDocs: Long = 2L): DataFrame =
    spanStats(df, idCol, textCol, k, minDocs, hashed = true)

  private def spanStats(df: DataFrame, idCol: String, textCol: String,
                        k: Int, minDocs: Long, hashed: Boolean): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    // named token attribute: the window lambda must not re-evaluate the
    // tokenize tree per element (see repetitionStats)
    val t = col("__toks")
    val grams = when(size(t) >= k,
      transform(sequence(lit(0), size(t) - k),
        i => concat_ws(" ", slice(t, i + lit(1), lit(k)))))
      .otherwise(array().cast("array<string>"))
    val g = df.select(col(idCol).as("doc_id"), tokens(lower(col(textCol))).as("__toks"))
      .select(col("doc_id"), explode(grams).as("__gram"))
      .select(col("doc_id"),
        (if (hashed) xxhash64(col("__gram")) else col("__gram")).as("__w"))
    val hot = g.groupBy(col("__w"))
      .agg(countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__w"), lit(1).as("__hot"))
    val per = g.join(hot, Seq("__w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("__hot"), lit(0))).cast("long").as("n_dup_windows"))
    df.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_dup_windows").cast("double") / col("n_windows"), lit(0.0))
          .as("dup_span_frac"))
  }

  /** PII redaction patterns — deliberately restricted to constructs
    * with identical semantics in Java regex and RE2-family engines
    * (ASCII classes, greedy quantifiers; no backreferences or
    * lookaround), so the operator carries a DuckDB oracle (q84). */
  val UrlRe = "https?://[^\\s]+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongDigitsRe = "[0-9]{6,}"

  /** Mask URLs, email addresses, and long digit runs (phone numbers,
    * account ids) in `textCol` — the scrub every shipped training
    * corpus needs. Purely row-local codegen'd regexp work: one corpus
    * pass, no shuffle, no UDF. Counts are taken per pattern on the
    * ORIGINAL text (so a digit run inside a URL is counted once as a
    * URL and once as a digit run — documented, deterministic);
    * redaction is sequential URL → email → digits, so nested matches
    * are masked exactly once. */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      regexp_count(col(textCol), lit(UrlRe)).cast("long").as("n_urls"),
      regexp_count(col(textCol), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col(textCol), lit(LongDigitsRe)).cast("long").as("n_digit_runs"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), UrlRe, "<URL>"),
          EmailRe, "<EMAIL>"),
        LongDigitsRe, "<NUM>").as("redacted"))

  /** Payment-card candidate: 13–19 digits with optional single
    * space/dash separators, delimited by non-digits. Uses Java
    * lookaround (unlike [[UrlRe]]'s portable subset) — legitimate
    * here because the q229 oracle replays candidates BY CONSTRUCTION
    * (it plants the digit runs), never by re-running this regex in
    * RE2. */
  private val CardCandidateRe = "(?<!\\d)(?:\\d[ -]?){12,18}\\d(?!\\d)"

  /** Luhn sum of a non-empty all-digit string. `doubleOddFromRight`
    * false = validate a full number (double positions 2,4,… from the
    * right, ISO/IEC 7812); true = the payload variant used to DERIVE
    * a check digit (the to-be-appended digit shifts parity by one). */
  private def luhnSum(digits: Column, doubleOddFromRight: Boolean): Column = {
    val chars = split(digits, "")
    val n = size(chars)
    aggregate(sequence(lit(1), n), lit(0), (acc, i) => {
      val d = element_at(chars, i.cast("int")).cast("int")
      val p = n - i + 1 // 1-based position from the right
      val dbl = if (doubleOddFromRight) p % 2 === 1 else p % 2 === 0
      acc + when(dbl, when(d > 4, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
  }

  /** ISO/IEC 7812 Luhn validity of an all-digit string (non-empty). */
  def luhnValid(digits: Column): Column = luhnSum(digits, false) % 10 === 0

  /** The check digit that makes `base || digit` Luhn-valid. */
  def luhnCheckDigit(base: Column): Column =
    (lit(10) - luhnSum(base, true) % 10) % 10

  /** Checksum-validated card-number detection — the high-precision
    * member of the PII family ([[redactPii]] masks every long digit
    * run; here only runs that PASS the Luhn checksum are treated as
    * card numbers, so invoice ids and phone numbers survive while a
    * real PAN with a 1-in-10 checksum cannot hide behind format
    * variation — spaces and dashes between groups are handled).
    * Returns (doc_id, n_candidates, n_valid, cards, redacted):
    * candidates are 13–19-digit delimited runs, `cards` the
    * comma-joined VALID ones in document order, `redacted` the text
    * with each valid candidate replaced by `<CARD>` (invalid runs
    * untouched — masking a non-card number is data loss, the
    * opposite failure [[redactPii]] accepts by design).
    *
    * Shape at scale: pure row-local expressions — one
    * regexp_extract_all, a per-candidate Luhn fold (≤19 digits each),
    * and a replace fold over the valid list; no UDF, no shuffle,
    * no state. */
  def luhnCards(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cands = regexp_extract_all(col(textCol), lit(CardCandidateRe), lit(0))
    val valid = filter(cands, c =>
      luhnValid(regexp_replace(c, "[^0-9]", "")))
    df.select(col(idCol).as("doc_id"),
      size(cands).cast("long").as("n_candidates"),
      size(valid).cast("long").as("n_valid"),
      array_join(valid, ",").as("cards"),
      aggregate(valid, col(textCol),
        (acc, c) => replace(acc, c, lit("<CARD>"))).as("redacted"))
  }

  /** Keyword alternation shared by [[codeSignals]] and its q236
    * oracle — common across C-family/Python/Scala/JS; \b bounds are
    * in the Java∩RE2 subset. */
  private val CodeKeywordRe = "\\b(def|class|return|import|function|" +
    "const|var|val|public|void|if|else|for|while)\\b"

  /** Code-vs-prose signals — the routing gate a mixed crawl needs
    * BEFORE text quality scoring (C4's prose heuristics would junk
    * perfectly good source files; a code-aware mix routes them to
    * the code pipeline instead). Pure structural counters, each a
    * line-grain integer:
    *
    *  - `n_brace_lines` / `n_semi_lines` — nonblank lines ending
    *    (after trim) in a brace / a semicolon
    *  - `n_indent_lines` — lines starting with 4+ spaces or a tab
    *  - `n_keyword_hits` — [[CodeKeywordRe]] matches over the doc
    *  - `code_milli` — ⌊1000·(brace+semi+indent)/(3·n_lines)⌋, the
    *    single floor-division routing score (NULL when no nonblank
    *    lines — nothing to classify)
    *
    * Shape at scale: row-local split + array filters + one regex
    * count; no explode, no shuffle, no UDF. */
  def codeSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    val nonblank = filter(lines, l => trim(l) =!= "")
    val nLines = size(nonblank).cast("long")
    val nBrace = size(filter(nonblank, l => trim(l).rlike("[{}]$"))).cast("long")
    val nSemi = size(filter(nonblank, l => trim(l).rlike(";$"))).cast("long")
    val nIndent = size(filter(lines, l =>
      l.rlike("^(    |\t)") && trim(l) =!= "")).cast("long")
    val nKw = size(regexp_extract_all(col(textCol), lit(CodeKeywordRe), lit(0)))
      .cast("long")
    df.select(col(idCol).as("doc_id"),
        nLines.as("n_lines"), nBrace.as("n_brace_lines"),
        nSemi.as("n_semi_lines"), nIndent.as("n_indent_lines"),
        nKw.as("n_keyword_hits"))
      .withColumn("code_milli",
        when(col("n_lines") > 0, expr(
          "(1000 * (n_brace_lines + n_semi_lines + n_indent_lines)) " +
          "div (3 * n_lines)")))
  }

  /** Lexical diversity via the COLLISION (Simpson) index — the
    * EXACT-integer member of the diversity family, next to the
    * spec-only Shannon lane: `coll_sq = Σ c_i²` (c_i = count of the
    * i-th distinct token) is the unnormalized probability that two
    * random token draws collide; `simpson_milli = ⌊1000·Σc²/N²⌋`
    * normalizes it and `gini_milli = 1000 − simpson_milli` is the
    * Gini–Simpson diversity. High collision = repetitive junk (SEO
    * keyword stuffing, template loops) that [[repetitionStats]]'s
    * window-dup measure misses when the repetition is SHUFFLED —
    * collision probability is order-free by construction. All-BIGINT
    * (the q140 ln-free discipline: same monotonicity as entropy,
    * exactly replayable); `entropy_milli_nats` is the true Shannon
    * H·1000 in nats, double, spec-pinned — derived from the SAME
    * exact counts, never exported through an oracle (IEEE ln).
    *
    * Docs with zero tokens emit no row (nothing to measure — the
    * [[unigramSegment]] absent-doc posture). Returns (doc_id,
    * n_tokens, n_distinct_tokens, coll_sq, simpson_milli,
    * gini_milli, entropy_milli_nats).
    *
    * Shape at scale: one tokenize+explode, a (doc, token) hash
    * aggregate, then a doc-grain hash aggregate — both with map-side
    * partials; no window, no collect. */
  def diversityStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tc = df.select(col(idCol).as("doc_id"),
        explode(tokens(lower(col(textCol)))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("__c"))
    tc.groupBy(col("doc_id"))
      .agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("n_distinct_tokens"),
        sum(col("__c") * col("__c")).as("coll_sq"),
        sum(col("__c").cast("double") * log(col("__c").cast("double")))
          .as("__clnc"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        col("coll_sq"),
        expr("(1000 * coll_sq) div (n_tokens * n_tokens)").as("simpson_milli"),
        (lit(1000L) - expr("(1000 * coll_sq) div (n_tokens * n_tokens)"))
          .as("gini_milli"),
        ((log(col("n_tokens").cast("double")) -
          col("__clnc") / col("n_tokens").cast("double")) * 1000.0)
          .as("entropy_milli_nats"))
  }

  private val MonthNames = Seq("january", "february", "march", "april",
    "may", "june", "july", "august", "september", "october", "november",
    "december")

  /** Document-date extraction — the freshness/dating signal a corpus
    * curriculum and a recrawl scheduler both need (a page's publish
    * date is rarely in metadata; it IS in the text). Three explicit
    * surface forms, each its own audit lane:
    *
    *  - `iso`      `2024-03-17`
    *  - `us`       `3/17/2024` (month/day/year — the US convention,
    *               DOCUMENTED; day-first locales need their own lane,
    *               silently guessing is the one wrong answer)
    *  - `textual`  `March 17, 2024` (full month names)
    *
    * One output row per match: (doc_id, kind, pos, raw, iso) with
    * `pos` the 0-based match index within its lane and `iso` the
    * normalized `yyyy-MM-dd` — NULL when the match is
    * calendar-invalid (`2024-13-40` matches the iso SHAPE; the
    * explicit Gregorian gate — month 1–12, day within the month's
    * length including leap February — rejects it but the row
    * survives, the extractLinks audit posture: malformed evidence
    * is measurable, never silently dropped). Validation is pure
    * integer CASE arithmetic, NO date type: engine date parsers
    * disagree on edge semantics (and Spark 4 ANSI throws); the
    * explicit calendar is deterministic and oracle-replayable.
    *
    * Shape at scale: three regexp_extract_all lanes + posexplode,
    * all row-local codegen; no UDF, no shuffle, no locale object. */
  /** Human-readable quantity parsing — "3.5 GiB", "120ms", "2h" into
    * exact integer bytes / milliseconds, the normalization every log
    * and config analytics pass needs before it can aggregate. One
    * anchored regexp per lane (RE2-compatible — no lookarounds, so
    * the q69 cross-engine regex discipline holds), unit factors as a
    * CASE table: decimal prefixes are 1000-based (KB/MB/GB/TB), IEC
    * i-forms 1024-based (KiB/MiB/GiB/TiB) — the ambiguity resolved
    * EXPLICITLY, not guessed; durations ms/s/m/h/d → milliseconds.
    * The numeric part parses as an IEEE double (correctly rounded
    * from the string in both engines) and the single floor after the
    * factor multiply is the only rounding. Unparseable/null input →
    * null output, never 0. Row-local codegen — zero shuffles. */
  def sizeToBytes(s: Column): Column = {
    val re = "^([0-9]+(?:\\.[0-9]+)?)\\s*([KMGT]i?B|B)$"
    val num = nullif(regexp_extract(trim(s), re, 1), lit("")).cast("double")
    val unit = regexp_extract(trim(s), re, 2)
    val mult = when(unit === "B", 1L)
      .when(unit === "KB", 1000L).when(unit === "MB", 1000000L)
      .when(unit === "GB", 1000000000L).when(unit === "TB", 1000000000000L)
      .when(unit === "KiB", 1024L).when(unit === "MiB", 1048576L)
      .when(unit === "GiB", 1073741824L)
      .when(unit === "TiB", 1099511627776L)
    floor(num * mult).cast("long")
  }

  /** Homoglyph skeleton (the Unicode TR39 confusables idea, scoped to
    * the high-traffic lookalike set): map Cyrillic/Greek/fullwidth
    * characters that RENDER like Latin onto their Latin skeletons, so
    * "pаypаl.com" (Cyrillic а) and "paypal.com" collapse to the same
    * string — the domain/brand spoof detector's first pass. One
    * `translate` over lowercased input (single-codepoint map — both
    * engines' translate walk characters identically), composable with
    * strip_invisible upstream for zero-width tricks. `spoofed` =
    * skeleton differs from the lowercased input: some lookalike was
    * present. Row-local codegen, zero shuffles. */
  // Cyrillic a-likes then Greek lookalikes, \u-escaped so the
  // mapping is reviewable in any diff
  private val HomoglyphFrom =
    "\u0430\u0435\u043E\u0440\u0441\u0443\u0445\u0456\u0458\u0455" +
      "\u0501\u051B\u051D\u03BF\u03BD\u03B1\u03C1\u03BA\u03C5"
  private val HomoglyphTo = "aeopcyxijsdqwovapku"
  def homoglyphSkeleton(s: Column): Column =
    translate(lower(s), HomoglyphFrom, HomoglyphTo)

  /** Duration token → exact milliseconds; see [[sizeToBytes]]. */
  def durationToMillis(s: Column): Column = {
    val re = "^([0-9]+(?:\\.[0-9]+)?)\\s*(ms|s|m|h|d)$"
    val num = nullif(regexp_extract(trim(s), re, 1), lit("")).cast("double")
    val unit = regexp_extract(trim(s), re, 2)
    val mult = when(unit === "ms", 1L).when(unit === "s", 1000L)
      .when(unit === "m", 60000L).when(unit === "h", 3600000L)
      .when(unit === "d", 86400000L)
    floor(num * mult).cast("long")
  }

  def extractDates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val isoRe = "\\d{4}-\\d{2}-\\d{2}"
    val usRe = "\\d{1,2}/\\d{1,2}/\\d{4}"
    val textRe = "(?i)(?:" + MonthNames.map(m =>
      m.capitalize).mkString("|") + ") \\d{1,2}, \\d{4}"
    def lane(re: String, kind: String) =
      df.select(col(idCol).as("doc_id"),
          posexplode(regexp_extract_all(col(textCol), lit(re), lit(0)))
            .as(Seq("pos", "raw")))
        .withColumn("kind", lit(kind))
    val all = lane(isoRe, "iso")
      .unionByName(lane(usRe, "us"))
      .unionByName(lane(textRe, "textual"))
    val y = when(col("kind") === "iso", substring(col("raw"), 1, 4))
      .when(col("kind") === "us", regexp_extract(col("raw"), "/(\\d{4})$", 1))
      .otherwise(regexp_extract(col("raw"), ", (\\d{4})$", 1))
    val m = when(col("kind") === "iso", substring(col("raw"), 6, 2))
      .when(col("kind") === "us", regexp_extract(col("raw"), "^(\\d{1,2})/", 1))
      .otherwise(array_position(typedLit(MonthNames),
        lower(regexp_extract(col("raw"), "^([A-Za-z]+)", 1))).cast("string"))
    val d = when(col("kind") === "iso", substring(col("raw"), 9, 2))
      .when(col("kind") === "us", regexp_extract(col("raw"), "/(\\d{1,2})/", 1))
      .otherwise(regexp_extract(col("raw"), " (\\d{1,2}),", 1))
    val yi = y.cast("int"); val mi = m.cast("int"); val di = d.cast("int")
    val leap = (yi % 4 === 0 && yi % 100 =!= 0) || yi % 400 === 0
    val daysInMonth = when(mi.isin(1, 3, 5, 7, 8, 10, 12), 31)
      .when(mi.isin(4, 6, 9, 11), 30)
      .when(mi === 2, when(leap, 29).otherwise(28))
      .otherwise(0)
    val valid = mi.between(1, 12) && di.between(1, daysInMonth)
    all.select(col("doc_id"), col("kind"), col("pos").cast("long").as("pos"),
      col("raw"),
      when(valid, concat(y, lit("-"), lpad(m, 2, "0"), lit("-"),
        lpad(d, 2, "0"))).as("iso"))
  }

  /** Mojibake signature: a latin-1-visible UTF-8 lead byte followed
    * by continuation-range chars — 'Ã©' where 'é' was meant. Covers
    * 2-byte (lead U+00C2–00DF) and 3-byte (lead U+00E0–00EF) UTF-8
    * sequences. */
  private val MojibakeRe =
    "[\\u00C2-\\u00DF][\\u0080-\\u00BF]|" +
    "[\\u00E0-\\u00EF][\\u0080-\\u00BF]{2}"

  /** Mojibake repair — undo the single most common real-corpus text
    * corruption: UTF-8 bytes DECODED AS latin-1 somewhere upstream
    * ('café' shipped as 'cafÃ©'; crawled pages mislabel charsets
    * constantly, and one bad hop bakes the damage into the corpus).
    * The inverse transform is exact: re-encode latin-1 → decode
    * UTF-8. Repair is gated three ways (the ftfy posture — fixing
    * text you shouldn't is worse than leaving mojibake):
    *
    *  1. the [[MojibakeRe]] signature must appear (cheap pre-filter);
    *  2. the re-encoded bytes must be VALID UTF-8 (`is_valid_utf8` —
    *     stock `decode(…, 'UTF-8')` THROWS on malformed input in
    *     Spark 4, so the candidate is built by the no-validation
    *     binary→string cast and only promoted when valid); a lone
    *     'Ã' before a space proves the text was never round-tripped
    *     UTF-8, and the original is kept;
    *  3. the repair must actually change the text.
    *
    * Known ambiguity, documented: text that GENUINELY contains a
    * lead-byte char followed by continuation-range chars is
    * indistinguishable from damage by construction — the sequences
    * are vanishingly rare in intentional text, which is why this
    * family of repair is safe in practice.
    *
    * Returns (doc_id, text, is_mojibake, repaired, n_fixed_chars) —
    * `n_fixed_chars` = char-length saved (each repaired 2/3-byte
    * sequence collapses to one char). Pure row-local
    * encode/decode/regexp codegen — no UDF, no shuffle; q230 replays
    * it on constructed corruption. */
  def fixMojibake(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val rawFix = encode(t, "ISO-8859-1").cast("string")
    val isMoj = t.rlike(MojibakeRe) && is_valid_utf8(rawFix) && rawFix =!= t
    val repaired = when(isMoj, rawFix).otherwise(t)
    df.select(col(idCol).as("doc_id"), t.as(textCol),
      isMoj.as("is_mojibake"),
      repaired.as("repaired"),
      (length(t) - length(repaired)).cast("long").as("n_fixed_chars"))
  }

  /** Host capture: group 1 of a URL match — scheme and `://` skipped,
    * host ends at the first `/`, `:`, `?`, `#`, or whitespace.
    * Java∩RE2-portable like [[UrlRe]]. */
  val UrlHostRe = "https?://([^\\s/:?#]+)"

  /** Per-domain link accounting — the provenance signal web-corpus
    * curation keys on (per-domain caps, blocklists, domain-level
    * dedup all start from "how many docs/links per host"). Extracts
    * every URL host mentioned in `textCol` (row-local codegen'd
    * regexp, one corpus pass) and aggregates per host: documents
    * mentioning it, total link mentions. One explode + one hash
    * aggregate with map-side partials — the q61 document-frequency
    * shape over hosts, so the shuffle carries (host, doc_id) pairs
    * only and survives any corpus size. Case-normalized (hosts are
    * case-insensitive); a doc with no URLs contributes nothing. */
  def domainStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(regexp_extract_all(col(textCol), lit(UrlHostRe), lit(1)))
          .as("host"))
      .select(col("doc_id"), lower(col("host")).as("host"))
      .groupBy(col("host"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_mentions"))

  /** The Gopher-family document quality gate (Rae et al. 2021 §A1.1,
    * adapted to this corpus's whitespace tokens): per-document rule
    * booleans plus the conjunction, so callers can gate on
    * `passes_gopher` or audit which rule rejects. Rules:
    *
    *  - `r_word_count`:   word count in [minWords, maxWords]
    *  - `r_mean_len`:     mean word length in [minMeanLen, maxMeanLen]
    *  - `r_alpha_words`:  ≥ minAlphaWordRatio of words contain a letter
    *  - `r_symbol`:       (# chars + `...` runs) / words ≤ maxSymbolWordRatio
    *  - `r_stopwords`:    ≥ minStopwords DISTINCT stopwords from the
    *                      paper's 8-word list appear
    *
    * Entirely row-local (one pass over each document, all codegen'd
    * builtins — no shuffle, no UDF): the gate runs as a scan-side
    * filter at any corpus size and Catalyst pushes consumers' column
    * pruning straight through it. All ratio arithmetic is plain
    * double over exact integer counts — cross-engine reproducible. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50L, maxWords: Long = 100000L,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolWordRatio: Double = 0.1,
                  minAlphaWordRatio: Double = 0.8,
                  minStopwords: Int = 2): DataFrame = {
    val t = tokens(col(textCol))
    val nWords = token_count(col(textCol))
    val meanLen = mean_token_len(col(textCol))
    val alphaRatio = when(nWords > 0,
      size(filter(t, x => x.rlike("[A-Za-z]"))).cast("double")
        / nWords.cast("double")).otherwise(lit(0.0))
    val nSymbols = (regexp_count(col(textCol), lit("#"))
      + regexp_count(col(textCol), lit("\\.\\.\\."))).cast("long")
    val symbolRatio = when(nWords > 0,
      nSymbols.cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    val nStops = size(array_distinct(transform(
      filter(t, x => lower(x).isin(GopherStops.map(lit(_)): _*)),
      x => lower(x)))).cast("long")
    df.select(col(idCol),
        nWords.as("n_words"), meanLen.as("mean_word_len"),
        alphaRatio.as("alpha_word_ratio"), symbolRatio.as("symbol_word_ratio"),
        nStops.as("n_stopwords"))
      .withColumn("r_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_mean_len",
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen)
      .withColumn("r_alpha_words", col("alpha_word_ratio") >= minAlphaWordRatio)
      .withColumn("r_symbol", col("symbol_word_ratio") <= maxSymbolWordRatio)
      .withColumn("r_stopwords", col("n_stopwords") >= minStopwords)
      .withColumn("passes_gopher",
        col("r_word_count") && col("r_mean_len") && col("r_alpha_words") &&
          col("r_symbol") && col("r_stopwords"))
  }

  /** Gopher's "must contain ≥2 of" stopword list (the paper's own 8
    * words — a deliberate subset of the quality kernel's broader
    * [[graft.functions.stopword_ratio]] list). */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The [[gopherRules]] conjunction as ONE boolean column — the
    * filter form for pipelines that gate without materializing the
    * per-rule audit columns ([[graft.pipeline.Corpus.buildTrainingMix]]).
    * Same expressions, same thresholds, row-local codegen. */
  def gopherGate(textCol: String,
                 minWords: Long = 50L, maxWords: Long = 100000L,
                 minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                 maxSymbolWordRatio: Double = 0.1,
                 minAlphaWordRatio: Double = 0.8,
                 minStopwords: Int = 2): Column = {
    val t = tokens(col(textCol))
    val nWords = token_count(col(textCol))
    val meanLen = mean_token_len(col(textCol))
    val alphaRatio = when(nWords > 0,
      size(filter(t, x => x.rlike("[A-Za-z]"))).cast("double")
        / nWords.cast("double")).otherwise(lit(0.0))
    val nSymbols = (regexp_count(col(textCol), lit("#"))
      + regexp_count(col(textCol), lit("\\.\\.\\."))).cast("long")
    val symbolRatio = when(nWords > 0,
      nSymbols.cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    val nStops = size(array_distinct(transform(
      filter(t, x => lower(x).isin(GopherStops.map(lit(_)): _*)),
      x => lower(x)))).cast("long")
    nWords >= minWords && nWords <= maxWords &&
      meanLen >= minMeanLen && meanLen <= maxMeanLen &&
      alphaRatio >= minAlphaWordRatio && symbolRatio <= maxSymbolWordRatio &&
      nStops >= minStopwords
  }

  /** One learned BPE merge: rank-th most frequent adjacent symbol
    * pair, its concatenation, and the weighted pair count that won. */
  case class BpeMerge(rank: Int, left_sym: String, right_sym: String,
                      merged: String, pair_count: Long)

  /** Corpus-scale BPE merge training (Sennrich et al. 2016) — the
    * tokenizer-vocabulary step of a training-data pipeline, run as
    * DataFrame aggregations. State is the WORD-FREQUENCY table (one
    * row per distinct word with its symbol array — vocabulary-sized,
    * not corpus-sized: the one corpus pass is the initial word
    * count), so each round is one shuffle over the vocab table: count
    * adjacent symbol pairs weighted by word frequency (overlapping
    * positions count, the paper's rule), select a BATCH of merges
    * (below), and rewrite symbol arrays with chained greedy
    * left-to-right folds (an `aggregate` HOF — 'aaa' + (a,a) →
    * [aa,a], exactly the reference regex-replace semantics).
    * Early-stops when the best pair drops below `minPairCount`.
    * Returns the merge table (rank, left_sym, right_sym, merged,
    * pair_count) — the artifact a tokenizer ships. Lineage is
    * checkpointed every few merges so plan depth stays bounded at
    * large `numMerges`.
    *
    * Batched merge selection (r7 verdict: one driver round-trip per
    * merge is 32k sequential Spark jobs for a real vocab): each round
    * takes up to `batchMerges` candidates from the sorted pair table
    * and keeps the maximal PREFIX that is provably the next
    * single-merge argmax chain — so batched and single-merge training
    * produce IDENTICAL merge tables (BpeBatchSpec pins it), the batch
    * just collapses driver round-trips. The prefix argument, using
    * only pre-round counts (all available in the same pair table):
    *  - applying (l, r) → M only destroys pairs (·, l) / (r, ·) and
    *    creates pairs involving M, so a later candidate with
    *    `r_j ∉ {l_i}` and `l_j ∉ {r_i}` keeps its exact count, and
    *    every other old pair can only fall in preference;
    *  - a created pair (x, M) / (M, y) inherits at most the count of
    *    the destroyed (x, l_i) / (r_i, y) it came from, so if
    *    `max cnt(·, l_i) < c_j` and `max cnt(r_i, ·) < c_j` no new
    *    pair can outrank candidate j before its turn;
    *  - ALIAS GUARD: if the created string `l_i + r_i` already occurs
    *    as a symbol in the pair table (reachable two ways, e.g. "abc"
    *    = a+bc = ab+c), created pairs MERGE INTO existing pair counts
    *    instead of starting fresh, so the inherit bound above no
    *    longer caps them — such a merge may be selected but ends the
    *    prefix;
    *  - a prefix (never a subsequence) is kept, so the sorted order —
    *    the sequential tie-break (count desc, l, r) — is the
    *    selection order. Selection stops at the first candidate that
    *    fails any test; worst case the batch is 1 and the round IS
    *    the sequential step. */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
               minPairCount: Long = 2L, batchMerges: Int = 8): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    require(batchMerges >= 1, s"batchMerges must be >= 1, got $batchMerges")
    val spark = df.sparkSession
    // the ONE corpus-sized pass; checkpointed immediately so merge
    // iterations fold over the materialized vocabulary table instead
    // of replaying the corpus word count until the first periodic
    // checkpoint (measured 3× the corpus scans without this). Each
    // periodic checkpoint frees the snapshot it replaces; none
    // outlives the call.
    val state = new CheckpointHygiene.Rolling()
    var words = state.advance(df
      .select(explode(tokens(lower(col(textCol)))).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__w")).agg(count(lit(1)).as("__freq"))
      .select(split(col("__w"), "").as("__sym"), col("__freq")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var j = 0
    var sinceCkpt = 0
    var go = true
    while (j < numMerges && go) {
      val n = size(col("__sym"))
      val pairs = words.filter(n >= 2)
        .select(col("__freq"), explode(zip_with(
            slice(col("__sym"), lit(1), n - 1), slice(col("__sym"), lit(2), n - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("__p"))
        .groupBy(col("__p.l").as("__l"), col("__p.r").as("__r"))
        .agg(sum(col("__freq")).as("__cnt"))
        .persist() // 2–3 bounded jobs this round read it; freed below
      val budget = math.min(batchMerges, numMerges - j)
      val top = pairs
        .orderBy(col("__cnt").desc, col("__l").asc, col("__r").asc)
        .limit(budget).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .takeWhile(_._3 >= minPairCount) // prefix cut — order is the tie-break
      if (top.isEmpty) { pairs.unpersist(); go = false }
      else {
        val batch =
          if (top.length == 1) top.toSeq
          else {
            // per-symbol count maxima feeding the created-pair bound;
            // restricted to the ≤2·budget symbols the candidates use
            val ls = top.map(_._1).distinct.toSeq
            val rs = top.map(_._2).distinct.toSeq
            val maxIntoL = pairs.filter(col("__r").isin(ls: _*))
              .groupBy(col("__r")).agg(max(col("__cnt")).as("__m"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            val maxFromR = pairs.filter(col("__l").isin(rs: _*))
              .groupBy(col("__l")).agg(max(col("__cnt")).as("__m"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            // alias guard input: which candidate created-strings are
            // already live symbols in the pair table (tiny job — the
            // isin list is ≤ budget strings)
            val ms = top.map(t => t._1 + t._2).distinct.toSeq
            val aliased = pairs
              .filter(col("__l").isin(ms: _*) || col("__r").isin(ms: _*))
              .select(explode(array(col("__l"), col("__r"))).as("__s"))
              .filter(col("__s").isin(ms: _*))
              .distinct().collect().map(_.getString(0)).toSet
            val sel = scala.collection.mutable.ArrayBuffer(top.head)
            var k = 1
            var safe = true
            while (safe && k < top.length) {
              val (l, r, c) = top(k)
              safe = sel.forall { case (sl, sr, _) =>
                r != sl && l != sr && !aliased.contains(sl + sr) &&
                  maxIntoL.getOrElse(sl, 0L) < c &&
                  maxFromR.getOrElse(sr, 0L) < c
              }
              if (safe) { sel += top(k); k += 1 }
            }
            sel.toSeq
          }
        pairs.unpersist()
        batch.zipWithIndex.foreach { case ((l, r, cnt), i) =>
          merges += BpeMerge(j + i + 1, l, r, l + r, cnt)
        }
        // chained greedy left-to-right folds, one per batch merge, in
        // selection order — identical to applying them sequentially;
        // And short-circuits, so the element_at(-1) lookback never
        // runs on an empty accumulator
        val folded = batch.foldLeft(col("__sym")) { case (symCol, (l, r, _)) =>
          aggregate(symCol, array().cast("array<string>"),
            (acc, s) =>
              when(size(acc) > 0 &&
                  element_at(acc, -1) === lit(l) && s === lit(r),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
              .otherwise(concat(acc, array(s))))
        }
        words = words.select(folded.as("__sym"), col("__freq"))
        j += batch.length
        sinceCkpt += batch.length
        if (sinceCkpt >= 3) {
          words = state.advance(words)
          sinceCkpt = 0
        }
      }
    }
    // the merge table is driver-side state; no checkpoint outlives the call
    state.release()
    spark.createDataFrame(merges.toSeq)
  }

  /** Apply one BPE merge to a symbol sequence, greedy left-to-right —
    * the exact per-merge semantics of [[bpeTrain]]'s `aggregate` fold
    * (and of a string `replace` over single-char-encoded symbols, what
    * the q119 oracle replays). Pure; exposed for specs and reuse. */
  def bpeApplyMerge(syms: IndexedSeq[String], l: String, r: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** BPE ENCODING — apply a learned merge table ([[bpeTrain]]'s
    * artifact) to the corpus and return per-document token accounting
    * `(idCol, n_words, n_bpe_tokens)`: what a training pipeline runs
    * to budget, pack, and bill sequences in REAL tokenizer tokens
    * rather than whitespace words.
    *
    * Merges apply IN RANK ORDER, each greedy left-to-right
    * ([[bpeApplyMerge]]) — byte-identical to the training-time fold,
    * so encoding the training corpus reproduces exactly the symbol
    * state training ended with (rank-priority re-scan encoders differ
    * only when two merge paths produce colliding symbol strings).
    *
    * Shape at scale: the encode loop runs once per DISTINCT word — a
    * vocabulary-sized `mapPartitions` (cost independent of corpus
    * size, O(word_len · merges) per word), with the merge table
    * collected once and shipped in the task closure (a tokenizer
    * artifact is bounded — 32–100k rows, guarded below). The corpus
    * itself pays one explode, one join against the vocab-sized
    * encoded-word table (un-hinted — AQE broadcasts while it fits,
    * the TF-IDF lesson), and one hash aggregate with map-side
    * partials. No corpus-sized state, no UDF in the corpus path. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: DataFrame, maxMerges: Int = 1 << 20): DataFrame = {
    val ranked = merges
      .select(col("rank").cast("int"), col("left_sym"), col("right_sym"))
      .orderBy(col("rank"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    require(ranked.length <= maxMerges,
      s"merge table has ${ranked.length} rows (> $maxMerges) — not a tokenizer artifact")
    val wordsPerDoc = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("__w"))
      .filter(col("__w") =!= "")
    val distinctWords = wordsPerDoc.select(col("__w")).distinct()
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__w",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("__n_syms",
        org.apache.spark.sql.types.LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema))
    val encoded = distinctWords.mapPartitions { rows =>
      rows.map { row =>
        val w = row.getString(0)
        var syms: IndexedSeq[String] = w.split("").toIndexedSeq.filter(_.nonEmpty)
        ranked.foreach { case (l, r) =>
          if (syms.length >= 2) syms = bpeApplyMerge(syms, l, r)
        }
        org.apache.spark.sql.Row(w, syms.length.toLong)
      }
    }(enc)
    wordsPerDoc.join(encoded, Seq("__w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("__n_syms")).as("n_bpe_tokens"))
  }

  /** Unigram-LM (SentencePiece-style) Viterbi segmentation — the
    * OTHER mainstream subword tokenizer family, completing the
    * tokenizer surface next to [[bpeTrain]]/[[bpeEncode]]: given a
    * vocabulary of (piece, cost) — cost being a scaled negative log
    * probability, lower = better — segment every word into the
    * minimum-total-cost sequence of pieces by dynamic programming.
    *
    * DP contract (replayed verbatim by the q141 recursive-CTE
    * oracle, so every clause here is pinned cross-engine):
    * best(0)=0; best(p) = min over k in 1..min(p, maxPieceLen) of
    * best(p−k) + cost(word[p−k..p)), where a 1-char piece absent
    * from the vocabulary costs `unkCost` (segmentation always
    * exists) and longer absent pieces are not candidates. Piece
    * reconstruction walks backward choosing the SMALLEST k that
    * achieves best(p) — the deterministic tie-break (e.g. with
    * {merge:250, me:80, rge:170, mer:150, ge:100} the 250-cost tie
    * between "merge", "me rge" and "mer ge" resolves to "mer ge":
    * the last piece with the smallest k achieving 250 is "ge").
    * Costs are BIGINTs throughout — integer DP is a pure function
    * of (word, vocab), hash-comparable on any engine.
    *
    * Shape at scale (the [[bpeEncode]] argument): the DP runs once
    * per DISTINCT word — vocabulary-sized mapPartitions work,
    * O(len·maxPieceLen) per word with the piece table collected once
    * into the task closure (a tokenizer artifact is bounded — guarded
    * at `maxVocab`). No corpus-sized driver state. */
  def unigramSegmentWords(words: DataFrame, wordCol: String,
      vocab: DataFrame, unkCost: Long = 1000L,
      maxVocab: Int = 1 << 20): DataFrame = {
    val pieceArr = vocab.select(col("piece"), col("cost").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(pieceArr.nonEmpty, "vocab is empty")
    require(pieceArr.length <= maxVocab,
      s"vocab has ${pieceArr.length} rows (> $maxVocab) — not a tokenizer artifact")
    require(pieceArr.forall(_._1.nonEmpty), "vocab contains an empty piece")
    require(unkCost >= 0, s"unkCost must be >= 0, got $unkCost")
    val pieces = pieceArr.toMap
    val maxLen = pieces.keysIterator.map(_.length).max
    require(maxLen <= 64, s"longest vocab piece is $maxLen chars (> 64)")

    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("word",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("segmentation",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_pieces",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("total_cost",
        org.apache.spark.sql.types.LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema))
    words.select(col(wordCol).cast("string").as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
      .distinct()
      .mapPartitions { rows =>
        rows.map { row =>
          val w = row.getString(0)
          val (segs, cost) = viterbiPieces(w, pieces, maxLen, unkCost)
          org.apache.spark.sql.Row(w, segs.mkString(" "),
            segs.length.toLong, cost)
        }
      }(enc)
  }

  /** The shared Viterbi DP core of [[unigramSegmentWords]] and
    * [[unigramTrain]]'s E-step — extracting it is what GUARANTEES the
    * trainer segments exactly like the encoder it trains for (the
    * train→segment parity the spec pins). Contract is the q141 one
    * verbatim: best(0)=0; best(p)=min over k of best(p−k)+cost; a
    * 1-char miss costs `unkCost` when `unkCost >= 0` and is not a
    * candidate when `unkCost < 0` (training mode — every single char
    * is in the vocabulary by construction, so unk cannot occur);
    * backward walk takes the SMALLEST k achieving best(p). */
  private[operators] def viterbiPieces(w: String, pieces: Map[String, Long],
      maxLen: Int, unkCost: Long): (List[String], Long) = {
    val n = w.length
    def costOf(sub: String, k: Int): Long = pieces.get(sub) match {
      case Some(c) => c
      case None    => if (k == 1 && unkCost >= 0) unkCost else Long.MinValue
    }
    val best = new Array[Long](n + 1)
    var p = 1
    while (p <= n) {
      var m = Long.MaxValue
      var k = 1
      val kMax = math.min(p, maxLen)
      while (k <= kMax) {
        val c = costOf(w.substring(p - k, p), k)
        if (c != Long.MinValue && best(p - k) + c < m) m = best(p - k) + c
        k += 1
      }
      if (m == Long.MaxValue)
        throw new IllegalStateException(
          s"word '$w' not coverable by the vocabulary at position $p")
      best(p) = m
      p += 1
    }
    val segs = scala.collection.mutable.ListBuffer.empty[String]
    var i = n
    while (i > 0) {
      var chosen = -1
      var k = 1
      val kMax = math.min(i, maxLen)
      while (chosen < 0 && k <= kMax) {
        val c = costOf(w.substring(i - k, i), k)
        if (c != Long.MinValue && best(i - k) + c == best(i)) chosen = k
        k += 1
      }
      segs.prepend(w.substring(i - chosen, i))
      i -= chosen
    }
    (segs.toList, best(n))
  }

  /** Corpus-level [[unigramSegmentWords]]: per-document piece count
    * and total segmentation cost. The corpus pays one explode, one
    * join against the vocabulary-sized segmented-word table
    * (un-hinted — AQE broadcasts while it fits), and one hash
    * aggregate — the [[bpeEncode]] corpus shape exactly. */
  def unigramSegment(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, unkCost: Long = 1000L): DataFrame = {
    val wordsPerDoc = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("word"))
      .filter(col("word") =!= "")
    val encoded = unigramSegmentWords(
      wordsPerDoc.select(col("word")), "word", vocab, unkCost)
    wordsPerDoc.join(encoded, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("total_cost")).as("total_cost"))
  }

  /** Unigram-LM vocabulary TRAINING — the SentencePiece-style trainer
    * producing the (piece, cost) table [[unigramSegmentWords]]
    * consumes, completing the tokenizer-training surface next to
    * [[bpeTrain]] (BPE trains by merging, unigram by seeding big and
    * pruning down).
    *
    * Algorithm — Viterbi hard-EM, every step integer and
    * deterministic (the q114/q134 oracle discipline):
    *
    *  1. SEED: every substring of every distinct corpus word up to
    *     `maxPieceLen` chars, weighted by corpus word frequency. All
    *     single characters are kept unconditionally (coverage — a
    *     vocabulary that cannot spell a word is useless; SentencePiece
    *     protects required chars the same way); the top
    *     `seedSize − |chars|` multi-char substrings by
    *     (count DESC, piece ASC) with count ≥ `minCount` join them.
    *  2. E-step: segment every distinct word with the current costs
    *     through the SAME Viterbi core the encoder uses
    *     ([[viterbiPieces]] — smallest-last-piece tie-break included),
    *     and count corpus-weighted piece usage.
    *  3. M-step: keep all single chars plus the top
    *     `vocabSize − |chars|` multi-char pieces by
    *     (usage DESC, piece ASC) with usage ≥ 1, and re-cost every
    *     kept piece as `cost = (1000·U) div u1` where
    *     `u1 = max(usage, 1)` (a protected char Viterbi never used
    *     still needs a finite cost) and `U = Σ u1` — the ln-free
    *     inverse-frequency surrogate of −log p, same monotonicity,
    *     exactly replayable with BIGINT `//` (the q140 BM25 move: the
    *     oracle pins the integer surrogate, the spec pins the real-ln
    *     column). Repeat from 2 `iterations` times.
    *
    * Returns (piece, cost BIGINT, count BIGINT, cost_ln DOUBLE) —
    * `cost` feeds [[unigramSegmentWords]] directly; `cost_ln` is
    * 1000·ln(U/u1) milli-nats for callers who want the true LM cost
    * (spec-pinned against driver math, not oracle-hashed: ln).
    *
    * Shape at scale: the corpus pays ONE tokenize+explode and one
    * word-frequency aggregate (persisted across rounds); seeding is a
    * row-local substring explode (≤ len·maxPieceLen rows per DISTINCT
    * word) into a hash aggregate with map-side partials, topped by
    * `orderBy.limit` — TakeOrdered, the q24 distributed top-k, NEVER a
    * partition-less window over the corpus-sized substring table. Each
    * EM round is vocabulary-sized mapPartitions work per distinct word
    * (the [[bpeEncode]] argument) + one piece-level aggregate; only
    * vocabulary-sized artifacts (≤ `seedSize` rows, a tokenizer
    * artifact by definition) are ever collected. */
  def unigramTrain(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int, iterations: Int = 2, maxPieceLen: Int = 6,
      seedSize: Int = 0, minCount: Long = 2L): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(maxPieceLen >= 2 && maxPieceLen <= 16,
      s"maxPieceLen must be in [2, 16], got $maxPieceLen")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val spark = df.sparkSession
    import spark.implicits._
    val seedN = if (seedSize > 0) seedSize else 4 * vocabSize

    val wordFreq = df.select(explode(tokens(lower(col(textCol)))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .persist() // read once per EM round + once for seeding
    try {
      val subs = wordFreq
        .select(col("word"), col("freq"),
          explode(sequence(lit(1), length(col("word")))).as("p"))
        .select(col("word"), col("freq"), col("p"),
          explode(sequence(lit(1),
            least(lit(maxPieceLen), length(col("word")) - col("p") + 1)))
            .as("k"))
        .select(expr("substr(word, p, k)").as("piece"), col("freq"))
      val pieceCounts = subs.groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
      val chars = pieceCounts.filter(length(col("piece")) === 1)
        .as[(String, Long)].collect().sortBy(_._1)
      require(chars.nonEmpty, "corpus has no tokens to train on")
      require(chars.length < seedN,
        s"alphabet size ${chars.length} leaves no room in seedSize $seedN")
      val multiSeeds = pieceCounts
        .filter(length(col("piece")) > 1 && col("cnt") >= minCount)
        .orderBy(col("cnt").desc, col("piece").asc)
        .limit(seedN - chars.length)
        .as[(String, Long)].collect()

      // (piece, usage) → (piece, cost, u1) under the integer surrogate
      def recost(kept: Seq[(String, Long)]): Array[(String, Long, Long)] = {
        val u1 = kept.map { case (p, u) => (p, math.max(u, 1L)) }
        val total = u1.map(_._2).sum
        u1.map { case (p, u) => (p, 1000L * total / u, u) }.toArray
      }
      var vocab = recost(chars.toIndexedSeq ++ multiSeeds)

      for (_ <- 1 to iterations) {
        val pieces = vocab.map(t => t._1 -> t._2).toMap
        val maxLen = pieces.keysIterator.map(_.length).max
        val usage = wordFreq.as[(String, Long)]
          .mapPartitions { rows =>
            rows.flatMap { case (w, f) =>
              // unkCost -1: training mode — chars cover everything
              val (segs, _) = viterbiPieces(w, pieces, maxLen, -1L)
              segs.groupBy(identity).iterator
                .map { case (p, occ) => (p, occ.size * f) }
            }
          }
          .toDF("piece", "u")
          .groupBy(col("piece")).agg(sum(col("u")).as("u"))
          .as[(String, Long)].collect().toMap // ≤ |vocab| rows
        val keptChars = chars.map { case (c, _) => (c, usage.getOrElse(c, 0L)) }
        val keptMultis = usage.iterator
          .filter { case (p, u) => p.length > 1 && u >= 1L }
          .toArray.sortBy { case (p, u) => (-u, p) }
          .take(math.max(0, vocabSize - chars.length))
        vocab = recost(keptChars.toIndexedSeq ++ keptMultis)
      }
      val total = vocab.map(_._3).sum
      vocab.toIndexedSeq
        .map { case (p, c, u) => (p, c, u, 1000.0 * math.log(total.toDouble / u)) }
        .toDF("piece", "cost", "count", "cost_ln")
    } finally { wordFreq.unpersist(); () }
  }

  /** Hashed linear model scoring — the fastText-family classifier
    * shape used for corpus quality/topic gating (score every document
    * with a trained linear model over hashed bag-of-words features).
    * Feature id of a token is an engine-neutral md5 hash mod `dim`
    * (the seeded-md5 discipline of [[graft.pipeline.Corpus]]); the
    * model is a (featureCol, weightCol) DataFrame — model-sized, so
    * AQE broadcasts it (no forced hint); the logit is the sum of
    * matched weights over token OCCURRENCES (bag-of-words with
    * counts). Features absent from the model score 0 (the
    * hashing-trick OOV contract). Returns (doc_id, n_tokens, logit).
    *
    * Shape at scale: one explode + one broadcast-able join + one hash
    * aggregate with map-side partials — the [[termFrequencies]] plan
    * with a model lookup fused in; no UDF, no driver-side model
    * state. Numeric note: double summation order is engine- and
    * partition-dependent in general; with fixed-point (dyadic
    * rational) weights — the quantized form real scoring models ship
    * in — every partial sum is exact and the logit is reproducible
    * bit-for-bit anywhere (what the q109 oracle pins). */
  def linearScore(df: DataFrame, idCol: String, textCol: String,
                  weights: DataFrame, dim: Int,
                  featureCol: String = "feature_id",
                  weightCol: String = "weight"): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokens(lower(col(textCol)))).as("token"))
    val fid = conv(substring(md5(col("token")), 1, 8), 16, 10)
      .cast("long") % dim
    toks.withColumn("feature_id", fid).drop("token")
      .join(weights.select(col(featureCol).as("feature_id"),
        col(weightCol).as("__w")), Seq("feature_id"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__w"), lit(0.0))).as("logit"))
  }

  /** Corpus-frequent segment removal — the RefinedWeb/CCNet line-dedup
    * family generalized to fixed-width token segments (this corpus has
    * no line structure): every document is cut into consecutive
    * `segTokens`-token segments, a segment appearing in ≥ `minDocs`
    * DISTINCT documents (site chrome, license boilerplate, navigation
    * text) is deleted from every document that carries it, and the
    * survivors are reassembled in order. Returns
    * (doc_id, n_segments, n_dropped, cleaned_text); `cleaned_text` is
    * null when every segment was boilerplate. Documents whose text is
    * empty produce no output row (no segments to keep or drop).
    *
    * Shuffle plan: the document-frequency aggregate groups on the
    * segment's 64-bit xxhash, not the segment string — the count-1
    * unique tail that dominates a natural corpus shuffles 8-byte keys
    * (the [[frequentShingleHashes]] argument; collisions ≈ m²/2⁶⁵).
    * The per-doc side then left-joins the hot-hash set — the REPEATING
    * head of the distribution, orders of magnitude smaller than the
    * tail, so AQE broadcasts it at any realistic `minDocs` (no forced
    * hint — the r5 TF-IDF lesson). Reassembly is one hash aggregate
    * over (doc, segment) rows: collect_list of (idx, seg) structs,
    * array_sort, join — no window, no global sort. */
  def dedupSegments(df: DataFrame, idCol: String, textCol: String,
                    segTokens: Int = 10, minDocs: Long = 2L): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    // tokens materialized as a column FIRST: an expression nested
    // inside a transform() lambda re-evaluates per outer element
    // (per segment), so slicing must reference an attribute — the
    // tokenize-inside-lambda trap measured at 22× once (minhash).
    val base = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
    val nSeg = ceil(size(col("__t")).cast("double") / segTokens).cast("int")
    val withSegs = base.select(col("doc_id"),
      transform(sequence(lit(0), greatest(nSeg, lit(1)) - 1),
        i => array_join(slice(col("__t"), i * segTokens + 1, lit(segTokens)), " "))
        .as("__segs"))
    val segs = withSegs.select(col("doc_id"),
        posexplode(col("__segs")).as(Seq("seg_idx", "seg")))
      .filter(length(col("seg")) > 0)
      .withColumn("__h", xxhash64(col("seg")))
    // document frequency: per-doc segment dedup is ROW-LOCAL
    // (array_distinct before the explode — the shingles() move), so
    // the aggregate shuffles each doc's distinct 8-byte hashes once,
    // with map-side partials; no (doc, seg) distinct exchange.
    val hot = withSegs.select(
        explode(array_distinct(filter(col("__segs"), s => length(s) > 0))).as("seg"))
      .select(xxhash64(col("seg")).as("__h"))
      .groupBy(col("__h"))
      .agg(count(lit(1)).as("__n_docs"))
      .filter(col("__n_docs") >= minDocs)
      .select(col("__h"), lit(1).as("__hot"))
    segs.join(hot, Seq("__h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("__hot").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        array_sort(collect_list(when(col("__hot").isNull,
          struct(col("seg_idx"), col("seg"))))).as("__kept"))
      .select(col("doc_id"), col("n_segments"), col("n_dropped"),
        when(size(col("__kept")) > 0,
          array_join(transform(col("__kept"), s => s.getField("seg")), " "))
          .as("cleaned_text"))
  }

  /** Benchmark decontamination at SPAN granularity — the
    * finer-grained partner of [[graft.operators.Dedup.contamination]]
    * (which flags whole documents): remove from every TRAINING
    * document each `segTokens`-token segment whose text appears
    * ANYWHERE in the test corpus, at any token alignment. Whole-doc
    * contamination checks miss a benchmark answer quoted inside an
    * otherwise-clean page; span removal excises exactly the quoted
    * material and keeps the rest (the GPT-3/PaLM decontamination
    * appendix shape).
    *
    * Train side: the [[dedupSegments]] fixed-segment decomposition
    * (row-local, distinct 8-byte hashes shuffled once). Test side:
    * EVERY k-token window (sliding — alignment between train
    * segments and test text is arbitrary, so only the sliding side
    * catches all placements), distinct-hashed. The asymmetry is the
    * scale argument: the sliding O(tokens·k) explode runs over the
    * TEST corpus, which is benchmark-sized, while the 100 TB train
    * corpus pays only the fixed-segment pass; the hash join then
    * moves 8-byte keys. A tail segment shorter than `segTokens` can
    * never equal a full k-token window, so short segments are
    * structurally safe, never dropped.
    *
    * Returns the [[dedupSegments]] contract: (doc_id, n_segments,
    * n_dropped, cleaned_text) with cleaned_text NULL when everything
    * was contaminated. */
  def decontaminateSpans(train: DataFrame, idCol: String, textCol: String,
      test: DataFrame, testTextCol: String,
      segTokens: Int = 10): DataFrame = {
    require(segTokens > 0, s"segTokens must be positive, got $segTokens")
    val base = train.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
    val nSeg = ceil(size(col("__t")).cast("double") / segTokens).cast("int")
    val withSegs = base.select(col("doc_id"),
      transform(sequence(lit(0), greatest(nSeg, lit(1)) - 1),
        i => array_join(slice(col("__t"), i * segTokens + 1, lit(segTokens)), " "))
        .as("__segs"))
    val segs = withSegs.select(col("doc_id"),
        posexplode(col("__segs")).as(Seq("seg_idx", "seg")))
      .filter(length(col("seg")) > 0)
      .withColumn("__h", xxhash64(col("seg")))
    val tt = test.select(tokens(col(testTextCol)).as("__tt"))
      .filter(size(col("__tt")) >= segTokens)
    val hot = tt.select(explode(transform(
        sequence(lit(1), size(col("__tt")) - (segTokens - 1)),
        i => xxhash64(array_join(slice(col("__tt"), i, lit(segTokens)), " "))))
        .as("__h"))
      .distinct()
      .withColumn("__hot", lit(1))
    segs.join(hot, Seq("__h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("__hot").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        array_sort(collect_list(when(col("__hot").isNull,
          struct(col("seg_idx"), col("seg"))))).as("__kept"))
      .select(col("doc_id"), col("n_segments"), col("n_dropped"),
        when(size(col("__kept")) > 0,
          array_join(transform(col("__kept"), s => s.getField("seg")), " "))
          .as("cleaned_text"))
  }

  /** Interpolated Kneser–Ney bigram model (Kneser & Ney 1995; the
    * standard n-gram smoothing) — the MODEL-TABLE complement to
    * [[graft.pipeline.Corpus]]'s bigram perplexity scoring: one row
    * per observed bigram with the full KN decomposition
    *
    *   p_KN(w|u) = max(c(u,w) − D, 0)/c(u) + D·N1+(u·)/c(u) · p_cont(w)
    *   p_cont(w) = N1+(·w) / N1+(··)
    *
    * where N1+(u·)/N1+(·w) are distinct-continuation counts and
    * D = discountNum/discountDen (default 3/4, the textbook 0.75).
    * The continuation distribution is KN's insight: "Francisco" is
    * frequent but follows only "San", so its backoff weight should be
    * tiny — type counts, not token counts, carry the backoff.
    *
    * Fixed point (the q140/q134 discipline): `pkn_milli` stages the
    * two terms as BIGINT `div` floors —
    *   (1000·max(den·c−num, 0)) div (den·c_u)
    *     + (num·N1+(u·)·cont_milli) div (den·c_u)
    * with cont_milli = (1000·N1+(·w)) div N1+(··) — so the model
    * table is a pure integer function of the corpus, hash-exact on
    * any engine (q157). The true-double column `pkn` rides along for
    * LM consumers (spec-pinned, excluded from the oracle hash).
    *
    * Shape at scale: one corpus explode into the bigram-count
    * aggregate, then THREE vocabulary-sized aggregates off it (head
    * totals, tail continuation counts, the scalar type total — the
    * count table is persisted across them) and model-sized joins
    * back. Nothing corpus-sized is collected or windowed. */
  def knBigramLm(df: DataFrame, textCol: String,
      discountNum: Long = 3L, discountDen: Long = 4L): DataFrame = {
    require(discountNum > 0 && discountNum < discountDen,
      s"discount must be in (0,1), got $discountNum/$discountDen")
    val toked = df.select(tokens(lower(col(textCol))).as("__toks"))
    val n1 = greatest(size(col("__toks")) - 1, lit(0))
    val bg = toked.select(explode(zip_with(
        slice(col("__toks"), lit(1), n1), slice(col("__toks"), lit(2), n1),
        (a, b) => struct(a.as("head"), b.as("tail")))).as("__b"))
      .select(col("__b.head").as("head"), col("__b.tail").as("tail"))
    val bc = bg.groupBy(col("head"), col("tail"))
      .agg(count(lit(1)).as("c_uw"))
      .persist() // three derived aggregates + the final join read it
    val hc = bc.groupBy(col("head"))
      .agg(sum(col("c_uw")).as("c_u"), count(lit(1)).as("n1_head"))
    val tc = bc.groupBy(col("tail")).agg(count(lit(1)).as("n1_tail"))
    val tt = bc.agg(count(lit(1)).as("__T"))
    val out = bc.join(hc, Seq("head")).join(tc, Seq("tail"))
      .crossJoin(broadcast(tt))
      .withColumn("cont_milli", expr("(1000 * n1_tail) div __T"))
      .withColumn("pkn_milli", expr(
        s"(1000 * greatest($discountDen * c_uw - $discountNum, 0)) div " +
          s"($discountDen * c_u) + " +
          s"($discountNum * n1_head * cont_milli) div ($discountDen * c_u)"))
      .withColumn("pkn",
        greatest(col("c_uw") - lit(discountNum).cast("double") / discountDen,
          lit(0.0)) / col("c_u") +
          (lit(discountNum).cast("double") / discountDen) * col("n1_head") /
            col("c_u") * (col("n1_tail").cast("double") / col("__T")))
      .select(col("head"), col("tail"), col("c_uw"), col("c_u"),
        col("n1_head"), col("n1_tail"), col("cont_milli"),
        col("pkn_milli"), col("pkn"))
    // materialize, then release bc — a persisted count table left in
    // the CacheManager outlives the call on a shared session (the
    // bpeTrain/unigramTrain hygiene rule; CorpusSpec asserts it)
    val result = CheckpointHygiene.materialize(out)
    bc.unpersist()
    result
  }

  /** CONTENT-DEFINED segmentation (the gear/Rabin chunking idea at
    * token grain): a segment boundary falls AFTER every token whose
    * content hash is ≡ 0 (mod divisor) — boundaries depend only on
    * LOCAL CONTENT, never on position. That is the property
    * fixed-width segmentation ([[dedupSegments]]'s decomposition)
    * cannot have: insert one token near the top of a page and every
    * fixed window downstream shifts, so shared boilerplate stops
    * matching; content-defined boundaries RE-SYNCHRONIZE immediately
    * after the edit, so the identical downstream segments hash
    * identically again (spec-pinned: variable prefixes, same shared
    * segment). Expected segment length is `divisor` tokens
    * (geometric), tunable per corpus.
    *
    * Shape: explode to (doc, pos, token), one per-document window
    * (exclusive running boundary count = segment id), ordered
    * struct-collect reassembly — the [[Packing.spanCorrupt]] shape.
    * Returns (doc_id, seg_idx, n_seg_tokens, segment); the segment
    * INCLUDES its boundary token as last element, so segments
    * concatenate back to the document. */
  def cdcSegments(df: DataFrame, idCol: String, textCol: String,
      divisor: Int = 8): DataFrame = {
    require(divisor >= 2 && divisor <= (1 << 20),
      s"divisor must be in [2, 2^20], got $divisor")
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(tokens(col(textCol))).as(Seq("__p0", "tok")))
      .select(col("doc_id"), (col("__p0") + 1).cast("int").as("pos"),
        col("tok"))
    val isB = conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
      .%(divisor) === 0
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    toks
      .withColumn("__sid",
        coalesce(sum(when(isB, 1L).otherwise(0L)).over(w), lit(0L)))
      .groupBy(col("doc_id"), col("__sid"))
      .agg(count(lit(1)).as("n_seg_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok").as("v")))),
          s => s.getField("v")), " ").as("segment"))
      .select(col("doc_id"), col("__sid").as("seg_idx"),
        col("n_seg_tokens"), col("segment"))
  }

  /** [[cdcSegments]] + cross-document excision — [[dedupSegments]]'s
    * contract (drop segments appearing in ≥ minDocs documents, keep
    * the rest in order) on the SHIFT-RESISTANT decomposition, so
    * boilerplate is caught at any offset. One extra aggregate over
    * the segment table (hot 8-byte hashes, AQE-broadcast back — the
    * dedupSegments join shape) and one per-doc ordered reassembly.
    * Returns (doc_id, n_segments, n_dropped, cleaned_text), NULL
    * cleaned_text when everything was boilerplate. */
  def cdcDedupSegments(df: DataFrame, idCol: String, textCol: String,
      divisor: Int = 8, minDocs: Long = 2L): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val segs = cdcSegments(df, idCol, textCol, divisor)
      .withColumn("__h", xxhash64(col("segment")))
    val hot = segs.groupBy(col("__h"))
      .agg(countDistinct(col("doc_id")).as("__n"))
      .filter(col("__n") >= minDocs)
      .select(col("__h"), lit(1).as("__hot"))
    segs.join(hot, Seq("__h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("__hot").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        array_sort(collect_list(when(col("__hot").isNull,
          struct(col("seg_idx"), col("segment"))))).as("__kept"))
      .select(col("doc_id"), col("n_segments"), col("n_dropped"),
        when(size(col("__kept")) > 0,
          array_join(transform(col("__kept"), s => s.getField("segment")), " "))
          .as("cleaned_text"))
  }

  /** DEFLATE compression ratio per document — the cheap
    * whole-document repetition signal (machine-generated spam, SEO
    * keyword walls, and template farms compress far better than
    * prose; n-gram stats ([[repetitionStats]]) see LOCAL repetition,
    * the compressor sees ALL of it at once, which is why
    * compression-ratio filters ship in public curation stacks).
    * Batched mapPartitions with ONE `java.util.zip.Deflater` per
    * partition (native zlib, reset between docs — allocation-free in
    * the loop), fixed level for determinism within a JVM/zlib
    * build; cross-library byte-for-byte output is NOT guaranteed by
    * the DEFLATE spec, so this is spec-verified (planted repetitive
    * vs prose ordering, partition invariance), not oracle-hashed —
    * the documented boundary, same as q46's fixture client. Returns
    * (doc_id, n_bytes, n_compressed, ratio) with ratio =
    * n_compressed/n_bytes (low = repetitive), 1.0 for empty docs. */
  def compressionSignal(df: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame = {
    require(level >= 1 && level <= 9, s"level must be in [1, 9], got $level")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_bytes",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_compressed",
        org.apache.spark.sql.types.LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema))
    val ii = df.schema.fieldIndex(idCol)
    val ti = df.schema.fieldIndex(textCol)
    val lv = level
    val counted = df.mapPartitions { rows =>
      val deflater = new java.util.zip.Deflater(lv)
      val buf = new Array[Byte](65536)
      rows.map { r =>
        val id = r.getLong(ii)
        val text = if (r.isNullAt(ti)) "" else r.getString(ti)
        val bytes = text.getBytes("UTF-8")
        deflater.reset()
        deflater.setInput(bytes)
        deflater.finish()
        var total = 0L
        while (!deflater.finished()) total += deflater.deflate(buf)
        org.apache.spark.sql.Row(id, bytes.length.toLong, total)
      }
    }(enc)
    counted.select(col("doc_id"), col("n_bytes"), col("n_compressed"),
      when(col("n_bytes") > 0,
        col("n_compressed").cast("double") / col("n_bytes"))
        .otherwise(lit(1.0)).as("ratio"))
  }

  /** Per-document Unicode SCRIPT profile — the writing-system signal
    * under language ID ([[graft.operators.Kpis]] q33's n-gram
    * heuristic tells en from de; it cannot tell "this page is
    * Cyrillic" or "this is CJK with Latin boilerplate", which is the
    * FIRST routing decision a multilingual crawl makes). Counts
    * characters per script by EXPLICIT codepoint ranges (not
    * engine-specific script classes — the ranges mean the same bytes
    * in Java regex and RE2, so a DuckDB oracle counts identically,
    * q184): Latin (ASCII letters + Latin-1/Extended), Cyrillic,
    * Greek, Arabic, Hebrew, Devanagari, Han, Kana
    * (Hiragana+Katakana), Hangul. `dominant_script` is the argmax
    * with a FIXED precedence order on ties (the declaration order
    * below), 'none' when no scripted character occurs. Pure
    * row-local length-difference counting — one codegen pass. */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(cls: String): Column =
      (length(t) - length(regexp_replace(t, cls, ""))).cast("long")
    val counts = Seq(
      "latin" -> cnt("[A-Za-z\\u00C0-\\u024F]"),
      "cyrillic" -> cnt("[\\u0400-\\u04FF]"),
      "greek" -> cnt("[\\u0370-\\u03FF]"),
      "arabic" -> cnt("[\\u0600-\\u06FF]"),
      "hebrew" -> cnt("[\\u0590-\\u05FF]"),
      "devanagari" -> cnt("[\\u0900-\\u097F]"),
      "han" -> cnt("[\\u4E00-\\u9FFF]"),
      "kana" -> cnt("[\\u3040-\\u30FF]"),
      "hangul" -> cnt("[\\uAC00-\\uD7AF]"))
    val named = counts.map { case (n, c) => c.as(s"n_$n") }
    val m = greatest(counts.map(_._2): _*)
    val dominant = counts.foldRight(lit("none")) { case ((n, c), acc) =>
      when(m > 0 && c === m, n).otherwise(acc)
    }
    // foldRight keeps declaration order as precedence: the FIRST
    // script reaching the max wins the tie
    df.select((col(idCol).as("doc_id") +: named :+
      dominant.as("dominant_script")): _*)
  }

  /** Invisible/format-character hygiene — zero-width spaces and
    * joiners, soft hyphens, BOMs, and directionality marks survive
    * copy-paste into web text, split tokens invisibly (breaking
    * dedup keys and tokenizers), and are a known spam/cloaking
    * vector; every serious corpus pipeline strips them before
    * fingerprinting. Counts then removes them: (doc_id,
    * n_invisible, cleaned_text). The class — ZWSP/ZWNJ/ZWJ (200B–D),
    * word joiner (2060), BOM/ZWNBSP (FEFF), soft hyphen (AD),
    * LRM/RLM (200E–F) — is explicit codepoints, engine-neutral
    * (q185). Row-local, one codegen pass. */
  def stripInvisible(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cls = "[\\u200B\\u200C\\u200D\\u200E\\u200F\\u2060\\uFEFF\\u00AD]"
    val cleaned = regexp_replace(col(textCol), cls, "")
    df.select(col(idCol).as("doc_id"),
      (length(col(textCol)) - length(cleaned)).cast("long").as("n_invisible"),
      cleaned.as("cleaned_text"))
  }

  /** The C4 cleaning rules (Raffel et al. 2020 §2.2 — the other
    * canonical web-corpus gate next to [[gopherRules]], which
    * REJECTS whole documents; C4 additionally EDITS them at line
    * grain):
    *
    *   line-level (drop the line): doesn't end in terminal
    *   punctuation (`.`, `!`, `?`, closing `"`); fewer than
    *   `minLineWords` words; mentions "javascript" (the cookie/JS
    *   warning boilerplate);
    *   page-level (drop the page): fewer than `minSentences`
    *   sentences — counted as terminal-punctuation marks across the
    *   KEPT lines, the paper's own heuristic grain; contains
    *   "lorem ipsum"; contains `{` (code); contains any `badWords`
    *   token (the paper's blocklist, caller-supplied).
    *
    * Entirely row-local array algebra — split, `filter`, `aggregate`
    * — one codegen pass, no shuffle, no UDF; page flags read the
    * ORIGINAL text (a dropped line still poisons its page, exactly
    * the paper's order of operations). Returns per document:
    * (doc_id, n_lines, n_kept, n_sentences, has_lorem, has_brace,
    * has_badword, passes_c4, cleaned_text) with cleaned_text the
    * kept lines rejoined (NULL when none survive) — audit columns
    * first, the one-boolean gate last, the [[gopherRules]]
    * contract. */
  def c4Rules(df: DataFrame, idCol: String, textCol: String,
      badWords: Seq[String], minSentences: Int = 5,
      minLineWords: Int = 3): DataFrame = {
    require(minSentences >= 0 && minLineWords >= 0,
      "thresholds must be nonnegative")
    val lines = split(col(textCol), "\n")
    def keepLine(l: Column): Column = {
      val t = trim(l)
      t.rlike("[.!?\"]$") &&
        size(split(t, "\\s+")) >= minLineWords &&
        !lower(t).contains("javascript")
    }
    val kept = filter(lines, keepLine _)
    val low = lower(col(textCol))
    val badword =
      if (badWords.isEmpty) lit(false)
      else arrays_overlap(tokens(low),
        typedLit(badWords.map(_.toLowerCase)))
    df.select(col(idCol).as("doc_id"),
        size(lines).cast("long").as("n_lines"),
        kept.as("__k"),
        low.contains("lorem ipsum").as("has_lorem"),
        col(textCol).contains("{").as("has_brace"),
        badword.as("has_badword"))
      .select(col("doc_id"), col("n_lines"),
        size(col("__k")).cast("long").as("n_kept"),
        aggregate(col("__k"), lit(0L), (acc, l) =>
          acc + (length(l) - length(regexp_replace(l, "[.!?]", "")))
            .cast("long")).as("n_sentences"),
        col("has_lorem"), col("has_brace"), col("has_badword"),
        col("__k"))
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        col("n_sentences"), col("has_lorem"), col("has_brace"),
        col("has_badword"),
        (col("n_sentences") >= minSentences && !col("has_lorem") &&
          !col("has_brace") && !col("has_badword")).as("passes_c4"),
        when(size(col("__k")) > 0, array_join(col("__k"), "\n"))
          .as("cleaned_text"))
  }

  /** Sentence-boundary pattern: split at whitespace that (a) follows
    * terminal punctuation `[.!?]` (possibly repeated — the char class
    * matches the LAST of a run), (b) does NOT follow a known
    * abbreviation ("Dr. Smith" stays one sentence), and (c) precedes
    * an uppercase letter or digit (so "version 2.0 is", "e.g. lower"
    * never split). Java regex only — bounded lookbehinds — because
    * the ENGINE splits; oracles replay on constructed text where the
    * expected sentences are the construction (q179), the
    * [[graft.operators.Web.htmlToText]] discipline. */
  private[operators] val SentenceSplitRe =
    "(?<=[.!?])(?<!\\b(?:Mr|Mrs|Ms|Dr|Prof|Sr|Jr|St|vs|etc)\\.)\\s+(?=[A-Z0-9])"

  /** Rule-based sentence segmentation — the text-analysis primitive
    * under line-level quality filtering (C4 keeps lines with ≥3
    * sentences-worth of terminal punctuation, readability scores
    * count words per sentence, sentence-grain dedup needs the
    * segments): one row per sentence with its 0-based index,
    * whitespace-trimmed, empty segments dropped. Pure row-local
    * codegen (`split` + `posexplode`) — no shuffle, no UDF; a 100 TB
    * corpus pays exactly one pass. */
  def sentences(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), SentenceSplitRe))
          .as(Seq("sent_idx", "sentence")))
      .filter(length(trim(col("sentence"))) > 0)
      .select(col("doc_id"), col("sent_idx"),
        trim(col("sentence")).as("sentence"))

  /** WITHIN-document duplicate-line removal — keep the FIRST
    * occurrence of every distinct line, preserving order (the Dolma/
    * RefinedWeb within-doc pass: navigation chrome, repeated
    * headers, and cookie banners repeat INSIDE a page; corpus-wide
    * segment dedup ([[dedupSegments]]) only sees repetition ACROSS
    * documents, and [[repetitionStats]] only measures). Entirely
    * row-local array algebra: `array_position` gives each line's
    * FIRST index, so `filter((x, i) → position(x) == i+1)` keeps
    * exactly the first copies — O(lines²) per document inside one
    * codegen stage, no shuffle, no state. Returns (doc_id, n_lines,
    * n_dropped, cleaned_text) — the [[dedupSegments]] contract at
    * line grain. */
  def dedupDocLines(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), split(col(textCol), "\n").as("__l"))
      .select(col("doc_id"), size(col("__l")).cast("long").as("n_lines"),
        filter(col("__l"), (x, i) =>
          array_position(col("__l"), x) === (i + 1).cast("long")).as("__k"))
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - size(col("__k"))).cast("long").as("n_dropped"),
        array_join(col("__k"), "\n").as("cleaned_text"))

  /** Stupid Backoff trigram scoring (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — THE web-scale LM
    * smoothing, designed exactly for this distributed-count setting):
    * score query trigrams (w1, w2, w3) against the corpus's n-gram
    * counts with
    *
    *   S(w3 | w1 w2) = c(w1 w2 w3) / c(w1 w2)           if seen,
    *                 = α · c(w2 w3) / c(w2)              else if seen,
    *                 = α² · c(w3) / T                    otherwise
    *
    * α = alphaNum/alphaDen (the paper's 0.4 as 2/5). No discounting,
    * no normalization — the paper's point is that at web scale the
    * cheap score ranks as well as Kneser–Ney ([[knBigramLm]] is the
    * principled sibling for when a true distribution is needed).
    *
    * Integer lane `sb_milli` stages every branch as one BIGINT floor
    * division of exact counts (the q140/q157 oracle discipline);
    * the `sb` double lane divides the same exact integers once per
    * branch. Unseen w3 scores 0; the total-count divisor is floored
    * at 1 so an empty corpus scores everything 0 instead of dividing
    * by zero (both lanes spell the same guard, as does the oracle).
    *
    * Shape at scale: three corpus passes build the trigram / bigram /
    * unigram count tables (shuffles keyed by the n-gram — the
    * MapReduce LM-construction shape of the paper); scoring is five
    * left joins of the QUERY table (benchmark-sized) against them
    * plus one 1-row total, so the corpus is never rescanned per
    * query. Tables come back deduplicated by key, so the joins cannot
    * fan out. */
  /** Per-DOCUMENT fluency under a Stupid Backoff LM trained on a
    * SEPARATE reference corpus — the CCNet-style filter loop
    * ([[graft.pipeline.Corpus.perplexityTiers]]'s shape) at the
    * web-scale smoothing: each document's trigrams score against the
    * reference counts (unseen trigrams exercise the real backoff —
    * scoring a corpus against itself never would) and reduce to
    * (n_trigrams, sum_sb_milli, mean_sb_milli, mean_sb) — the
    * integer mean a BIGINT floor, the double the one mirrored
    * division. Gibberish backs off to the α²-unigram floor on most
    * trigrams; fluent text rides seen-trigram ratios — the ranking
    * signal a quality gate thresholds (q201 replays it end to end).
    *
    * Shape: [[stupidBackoffScore]] over the DISTINCT document
    * trigrams (n-gram-keyed joins, the MapReduce LM shape), then one
    * join back to the per-occurrence trigram stream + one per-doc
    * aggregate. Documents with fewer than 3 tokens have no trigrams
    * and drop (no fluency evidence either way, documented). */
  def stupidBackoffDocScore(lmCorpus: DataFrame, lmTextCol: String,
      docs: DataFrame, idCol: String, textCol: String,
      alphaNum: Long = 2L, alphaDen: Long = 5L): DataFrame = {
    val toked = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens(lower(col(textCol))).as("__t"))
    val n2 = greatest(size(col("__t")) - 2, lit(0))
    val docTris = toked.select(col("doc_id"), explode(zip_with(
        slice(col("__t"), lit(1), n2),
        zip_with(slice(col("__t"), lit(2), n2), slice(col("__t"), lit(3), n2),
          (b, c) => struct(b.as("b"), c.as("c"))),
        (a, bc) => struct(a.as("a"), bc.getField("b").as("b"),
          bc.getField("c").as("c")))).as("__g"))
      .select(col("doc_id"), col("__g.a").as("w1"), col("__g.b").as("w2"),
        col("__g.c").as("w3"))
    val scored = stupidBackoffScore(lmCorpus, lmTextCol,
        docTris.select(col("w1"), col("w2"), col("w3")).distinct(),
        "w1", "w2", "w3", alphaNum, alphaDen)
      .select(col("w1"), col("w2"), col("w3"), col("sb_milli"))
    docTris.join(scored, Seq("w1", "w2", "w3"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(col("sb_milli")).cast("long").as("sum_sb_milli"))
      .select(col("doc_id"), col("n_trigrams"), col("sum_sb_milli"),
        expr("sum_sb_milli div n_trigrams").as("mean_sb_milli"),
        (col("sum_sb_milli").cast("double") / col("n_trigrams"))
          .as("mean_sb"))
  }

  def stupidBackoffScore(corpus: DataFrame, textCol: String,
      queries: DataFrame, w1Col: String, w2Col: String, w3Col: String,
      alphaNum: Long = 2L, alphaDen: Long = 5L): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen,
      s"alpha must be in (0,1), got $alphaNum/$alphaDen")
    val toked = corpus.select(tokens(lower(col(textCol))).as("__t"))
    val n1 = greatest(size(col("__t")) - 1, lit(0))
    val n2 = greatest(size(col("__t")) - 2, lit(0))
    val tri = toked.select(explode(zip_with(
        slice(col("__t"), lit(1), n2),
        zip_with(slice(col("__t"), lit(2), n2), slice(col("__t"), lit(3), n2),
          (b, c) => struct(b.as("b"), c.as("c"))),
        (a, bc) => struct(a.as("a"), bc.getField("b").as("b"),
          bc.getField("c").as("c")))).as("__g"))
      .select(col("__g.a").as("w1"), col("__g.b").as("w2"),
        col("__g.c").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("__c3"))
    val bi = toked.select(explode(zip_with(
        slice(col("__t"), lit(1), n1), slice(col("__t"), lit(2), n1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("__g"))
      .select(col("__g.a").as("wa"), col("__g.b").as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("__c2"))
    val uni = toked.select(explode(col("__t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("__c1"))
    val total = uni.agg(sum(col("__c1")).cast("long").as("__T"))
    queries
      .select(col(w1Col).as("w1"), col(w2Col).as("w2"), col(w3Col).as("w3"))
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("wa").as("w1"), col("wb").as("w2"),
        col("__c2").as("__c2ctx")), Seq("w1", "w2"), "left")
      .join(bi.select(col("wa").as("w2"), col("wb").as("w3"),
        col("__c2").as("__c2tail")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("__c1").as("__c1ctx")),
        Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("__c1").as("__c1w")),
        Seq("w3"), "left")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("w3"),
        coalesce(col("__c3"), lit(0L)).as("c3"),
        coalesce(col("__c2ctx"), lit(0L)).as("c2_ctx"),
        coalesce(col("__c2tail"), lit(0L)).as("c2_tail"),
        coalesce(col("__c1ctx"), lit(0L)).as("c1_ctx"),
        coalesce(col("__c1w"), lit(0L)).as("c1_w"),
        col("__T"))
      .withColumn("sb_milli",
        // seen trigram ⇒ c2_ctx ≥ c3 > 0; seen tail bigram ⇒ w2 seen
        // ⇒ c1_ctx > 0 — each branch's divisor is positive by its guard
        when(col("c3") > 0, expr("(1000 * c3) div c2_ctx"))
          .when(col("c2_tail") > 0,
            expr(s"($alphaNum * 1000 * c2_tail) div ($alphaDen * c1_ctx)"))
          .otherwise(expr(s"($alphaNum * $alphaNum * 1000 * c1_w) div " +
            s"($alphaDen * $alphaDen * greatest(__T, 1))")))
      .withColumn("sb",
        when(col("c3") > 0, col("c3").cast("double") / col("c2_ctx"))
          .when(col("c2_tail") > 0,
            lit(alphaNum).cast("double") / alphaDen *
              col("c2_tail") / col("c1_ctx"))
          .otherwise(lit(alphaNum * alphaNum).cast("double") /
            (alphaDen * alphaDen) * col("c1_w") /
            greatest(col("__T"), lit(1L))))
      .drop("__T")
  }

  // ───────────────────────── WordPiece ─────────────────────────

  /** One learned WordPiece merge: the rank-th merge with its
    * likelihood-score ingredients — pair count and the two symbol
    * counts whose product is the denominator. All BIGINT, so the
    * whole table is oracle-hashable. */
  case class WpMerge(rank: Int, left_sym: String, right_sym: String,
                     merged: String, pair_count: Long,
                     left_count: Long, right_count: Long)

  /** WordPiece vocabulary TRAINING (Schuster & Nakajima 2012; the
    * BERT tokenizer family) — the THIRD mainstream subword trainer
    * next to [[bpeTrain]] (frequency-greedy merges) and
    * [[unigramTrain]] (seed-big-and-prune): WordPiece merges like BPE
    * but scores a candidate pair by the likelihood gain
    * `count(l,r) / (count(l) · count(r))` — preferring merges whose
    * parts rarely occur apart — and marks every non-word-initial
    * symbol with the `##` continuation prefix, so the learned pieces
    * are position-aware (`hu` and `##hu` are different symbols with
    * different counts).
    *
    * Determinism contract (the q150 oracle replays it verbatim):
    * symbols of a word are `[first char, ##c2, ##c3, …]`; each round
    * counts adjacent pairs and symbol occurrences corpus-weighted,
    * and selects the single pair maximizing
    * `CAST(cnt AS DOUBLE) / CAST(lc·rc AS DOUBLE)` with ties broken
    * by (left_sym ASC, right_sym ASC). Both engines evaluate the
    * identical one-multiply-one-divide IEEE-754 expression (counts
    * ≪ 2⁵³, so the operands are exact), making the score — and
    * therefore the argmax — engine-independent; the merged symbol is
    * `left + right-without-##`, and the rewrite is the same greedy
    * left-to-right fold as BPE (non-overlapping, exactly DuckDB's
    * `replace` semantics — the q114 argument). Stops early when the
    * best pair's count falls below `minPairCount`.
    *
    * Shape at scale (the [[bpeTrain]] posture): state is the
    * word-frequency table — vocabulary-sized, not corpus-sized; the
    * one corpus pass is the initial word count. Each round is two
    * vocab-table aggregates (pair counts, symbol counts), two
    * broadcast-sized joins onto the ≤1-row argmax, and one driver
    * round-trip. bpeTrain's provable merge batching does not port:
    * applying a merge changes the DENOMINATOR counts of every
    * candidate sharing a symbol, so no prefix of the sorted
    * candidate list is stable under the earlier selections — the
    * likelihood score makes WordPiece inherently sequential (real
    * trainers accept this; vocab training is a bounded offline job,
    * and each round's cost is vocabulary-, not corpus-, sized). */
  def wordPieceTrain(df: DataFrame, textCol: String, numMerges: Int,
                     minPairCount: Long = 1L): DataFrame = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    val spark = df.sparkSession
    // the ONE corpus-sized pass; checkpointed so rounds fold over the
    // materialized vocab table (the bpeTrain lesson)
    val state = new CheckpointHygiene.Rolling()
    var words = state.advance(df
      .select(explode(tokens(lower(col(textCol)))).as("__w"))
      .filter(col("__w") =!= "")
      .groupBy(col("__w")).agg(count(lit(1)).as("__freq"))
      .select(
        concat(
          array(substring(col("__w"), 1, 1)),
          transform(
            slice(split(col("__w"), ""), lit(2),
              greatest(length(col("__w")) - 1, lit(0))),
            c => concat(lit("##"), c))).as("__sym"),
        col("__freq")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[WpMerge]
    var j = 0
    var sinceCkpt = 0
    var go = true
    while (j < numMerges && go) {
      val n = size(col("__sym"))
      val pairs = words.filter(n >= 2)
        .select(col("__freq"), explode(zip_with(
            slice(col("__sym"), lit(1), n - 1), slice(col("__sym"), lit(2), n - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("__p"))
        .groupBy(col("__p.l").as("__l"), col("__p.r").as("__r"))
        .agg(sum(col("__freq")).as("__cnt"))
      val symCnt = words
        .select(col("__freq"), explode(col("__sym")).as("__s"))
        .groupBy(col("__s")).agg(sum(col("__freq")).as("__sc"))
      val top = pairs
        .join(symCnt.select(col("__s").as("__l"), col("__sc").as("__lc")), Seq("__l"))
        .join(symCnt.select(col("__s").as("__r"), col("__sc").as("__rc")), Seq("__r"))
        .orderBy(
          (col("__cnt").cast("double") /
            (col("__lc") * col("__rc")).cast("double")).desc,
          col("__l").asc, col("__r").asc)
        .limit(1).collect()
      if (top.isEmpty || top.head.getAs[Long]("__cnt") < minPairCount) go = false
      else {
        val row = top.head
        val (l, r) = (row.getAs[String]("__l"), row.getAs[String]("__r"))
        val merged = l + r.stripPrefix("##")
        merges += WpMerge(j + 1, l, r, merged,
          row.getAs[Long]("__cnt"), row.getAs[Long]("__lc"),
          row.getAs[Long]("__rc"))
        val folded = aggregate(col("__sym"), array().cast("array<string>"),
          (acc, s) =>
            when(size(acc) > 0 &&
                element_at(acc, -1) === lit(l) && s === lit(r),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
            .otherwise(concat(acc, array(s))))
        words = words.select(folded.as("__sym"), col("__freq"))
        j += 1
        sinceCkpt += 1
        if (sinceCkpt >= 3) {
          words = state.advance(words)
          sinceCkpt = 0
        }
      }
    }
    state.release()
    spark.createDataFrame(merges.toSeq)
  }

  /** The encode vocabulary a [[wordPieceTrain]] run implies: every
    * word-initial character and `##`-prefixed continuation character
    * the corpus contains (the alphabet — WordPiece always keeps it,
    * else a word it must spell becomes unencodable) plus every merged
    * symbol. One vocab-sized pass over the distinct-word table; the
    * merge table is bounded by construction. Returns a single
    * `piece` column. */
  def wordPieceVocab(df: DataFrame, textCol: String,
                     merges: DataFrame): DataFrame = {
    val w = df.select(explode(tokens(lower(col(textCol)))).as("__w"))
      .filter(col("__w") =!= "").distinct()
    val starts = w.select(substring(col("__w"), 1, 1).as("piece"))
    val conts = w.select(explode(
        slice(split(col("__w"), ""), lit(2),
          greatest(length(col("__w")) - 1, lit(0)))).as("__c"))
      .select(concat(lit("##"), col("__c")).as("piece"))
    starts.unionByName(conts).unionByName(merges.select(col("merged").as("piece")))
      .distinct()
  }

  /** WordPiece ENCODING, word level — greedy longest-match-first
    * (the BERT `WordpieceTokenizer` contract, and NOT the same
    * algorithm as training-time merge application — real WordPiece
    * encoders match greedily against the final vocab): starting at
    * the word head, repeatedly take the LONGEST vocab piece matching
    * at the cursor (continuation positions match `##`-prefixed
    * pieces); if no piece matches, the WHOLE word becomes the
    * unknown token (one `[UNK]`, n_pieces = 1, is_unk = true) — the
    * all-or-nothing BERT rule. Returns one row per distinct word:
    * (word, segmentation, n_pieces, is_unk). Pure function of
    * (word, vocab) — the q151 oracle replays the greedy walk in a
    * recursive CTE over the replayed training vocab.
    *
    * Shape at scale (the [[bpeEncode]] argument): one pass per
    * DISTINCT word — vocabulary-sized mapPartitions work,
    * O(len · maxPieceLen) per word, with the vocab collected once
    * into the task closure (a tokenizer artifact, guarded at
    * `maxVocab`). */
  def wordPieceEncodeWords(words: DataFrame, wordCol: String,
      vocab: DataFrame, unkToken: String = "[UNK]",
      maxVocab: Int = 1 << 20): DataFrame = {
    val pieceArr = vocab.select(col("piece")).collect().map(_.getString(0))
    require(pieceArr.nonEmpty, "vocab is empty")
    require(pieceArr.length <= maxVocab,
      s"vocab has ${pieceArr.length} rows (> $maxVocab) — not a tokenizer artifact")
    require(pieceArr.forall(_.nonEmpty), "vocab contains an empty piece")
    val pieces = pieceArr.toSet
    // longest CORE length (## stripped) bounds the match window
    val maxLen = pieceArr.iterator.map(p => p.stripPrefix("##").length).max
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("word",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("segmentation",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("n_pieces",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("is_unk",
        org.apache.spark.sql.types.BooleanType)))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema))
    words.select(col(wordCol).cast("string").as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
      .distinct()
      .mapPartitions { rows =>
        rows.map { row =>
          val w = row.getString(0)
          val segs = greedyPieces(w, pieces, maxLen)
          if (segs == null)
            org.apache.spark.sql.Row(w, unkToken, 1L, true)
          else
            org.apache.spark.sql.Row(w, segs.mkString(" "),
              segs.length.toLong, false)
        }
      }(enc)
  }

  /** The greedy longest-match-first core of [[wordPieceEncodeWords]]
    * — extracted so specs can pin it against hand-computed
    * segmentations. Returns null when the word is unencodable (the
    * all-or-nothing `[UNK]` rule). */
  private[operators] def greedyPieces(w: String, pieces: Set[String],
      maxLen: Int): List[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var pos = 0
    while (pos < w.length) {
      var k = math.min(w.length - pos, maxLen)
      var hit = -1
      while (hit < 0 && k >= 1) {
        val core = w.substring(pos, pos + k)
        val cand = if (pos == 0) core else "##" + core
        if (pieces.contains(cand)) hit = k else k -= 1
      }
      if (hit < 0) return null
      out += (if (pos == 0) w.substring(0, hit) else "##" + w.substring(pos, pos + hit))
      pos += hit
    }
    out.toList
  }

  /** Corpus-level WordPiece token accounting: per document
    * (n_words, n_wp_tokens, n_unk_words) — what a training pipeline
    * runs to budget sequences in real tokenizer tokens. `[UNK]`
    * counts as one token (the BERT rule). One corpus explode, one
    * join against the vocab-sized encoded-word table (un-hinted —
    * AQE broadcasts while it fits), one hash aggregate. */
  def wordPieceEncode(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val wordsPerDoc = df
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("word"))
      .filter(col("word") =!= "")
    val encoded = wordPieceEncodeWords(
      wordsPerDoc.select(col("word")), "word", vocab)
    wordsPerDoc.join(encoded, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_wp_tokens"),
        sum(when(col("is_unk"), 1L).otherwise(0L)).as("n_unk_words"))
  }

  /** Positional inverted index — the retrieval-serving structure
    * behind [[bm25]]/[[tfidf]] scoring (a 100 TB corpus is searched
    * against its index, not rescanned per query; this materializes
    * that index as a table). One row per posting (token, doc):
    * `token, doc_freq` (documents containing the token), `total_tf`
    * (corpus occurrences), `doc, tf`, `positions` (0-based token
    * offsets, ascending, comma-joined — the phrase/proximity-query
    * payload) and `positions_delta` (gap-encoded form of the same
    * list — what a real index compresses, since gaps are small and
    * varint-friendly; emitted alongside so the encode is
    * value-checked, q205).
    *
    * Layout contract: rows cluster by token (the serving access
    * path); a deployment writes this `repartition(token)` +
    * bucketed/sorted so one token's postings are one partition-local
    * range. Shape: one skinny posexplode (doc, pos, token), one
    * (doc, token) aggregate, one token-grain window for doc_freq —
    * no corpus-width shuffle beyond the posting aggregate itself. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    withTokenStats(postingRows(df, idCol, textCol))

  /** The tokenize→posting half of [[invertedIndex]]: one row per
    * (token, doc) with tf and the formatted position lists, WITHOUT
    * the token-grain doc_freq/total_tf stats. Shared verbatim by
    * [[invertedIndex]] (whole corpus) and [[upsertIndex]] (delta
    * only) so the posting construction has one source of truth. */
  private def postingRows(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toked = df.select(col(idCol).as("doc"),
      posexplode(tokens(lower(col(textCol)))).as(Seq("pos", "token")))
      .filter(col("token") =!= "")
    toked.groupBy(col("token"), col("doc"))
      .agg(count(lit(1)).as("tf"),
        array_sort(collect_list(col("pos").cast("long"))).as("__ps"))
      .select(col("token"), col("doc"), col("tf"),
        array_join(col("__ps"), ",").as("positions"),
        array_join(zip_with(col("__ps"),
            concat(array(lit(0L)),
              slice(col("__ps"), lit(1), size(col("__ps")) - 1)),
            (a, b) => a - b), ",").as("positions_delta"))
  }

  /** The stats half of [[invertedIndex]]: token-grain doc_freq /
    * total_tf windows over posting rows, emitting the canonical
    * index column order. */
  private def withTokenStats(postings: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("token"))
    postings
      .withColumn("doc_freq", count(lit(1)).over(w))
      .withColumn("total_tf", sum(col("tf")).over(w))
      .select(col("token"), col("doc_freq"), col("total_tf"),
        col("doc"), col("tf"), col("positions"), col("positions_delta"))
  }

  /** Incremental inverted-index maintenance — the deployment lane the
    * whole-corpus [[invertedIndex]] build lacks (r15 verdict item 1):
    * merge a DELTA corpus (new documents plus re-ingested versions of
    * existing ones) and a deletion list into an existing index
    * WITHOUT re-tokenizing the corpus. Semantics are exactly
    *   upsertIndex(invertedIndex(A), Δ, D) ==
    *     invertedIndex((A ∖ ids(Δ) ∖ D) ∪ Δ)
    * — a delta doc REPLACES any same-id document (its old postings
    * drop before the new ones insert), a deleted id's postings drop,
    * and a doc id in both Δ and D ends up present (the delta is the
    * newer fact). The q481 oracle census pins this identity against
    * a from-scratch DuckDB rebuild of the merged corpus.
    *
    * How it stays delta-sized: tokenization (the only text scan)
    * touches ONLY `deltaDocs` — plan-pinned in TextOpsSpec: exactly
    * one PosExplode in the whole merged plan, fed by the delta
    * relation, never the indexed corpus. The index contributes
    * posting ROWS only: removals are one anti-join against the
    * delta-sized removed-id set (AQE broadcasts it), and
    * doc_freq/total_tf recompute only at TOUCHED-token grain — a
    * token is touched iff a posting of it was added or removed;
    * every other index row passes through byte-identical with its
    * stats intact (correct precisely because none of its postings
    * changed). With the documented token-clustered index layout the
    * touched-token semi-join prunes to touched buckets — the
    * Maintenance.scala MERGE discipline applied to postings. */
  def upsertIndex(index: DataFrame, deltaDocs: DataFrame, idCol: String,
      textCol: String, deletedIds: DataFrame,
      deletedIdCol: String): DataFrame = {
    // duplicate ids WITHIN one delta are ambiguous (no version order
    // exists to say which text wins) and would otherwise merge both
    // versions' positions into one corrupt posting — refuse loudly
    // (r16 review); sequential batches are how replacement is said.
    val dupCensus = deltaDocs.groupBy(col(idCol).as("doc"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
      .agg(count(lit(1)).as("__dups"))
    def dupGuard(c: Column): Column =
      when(col("__dups") > 0,
        raise_error(concat(lit("upsertIndex: "),
          col("__dups").cast("string"),
          lit(" duplicate doc ids within one delta batch — merge" +
            " order is undefined; split into sequential batches"))))
        .otherwise(c)
    // the guard rides the DELTA POSTING path (r16 advice): on an
    // empty stored index AQE empty-relation propagation can prune the
    // index-side anti/semi joins before the removed-branch guard ever
    // evaluates, but every deltaPost row flows into the recomputed
    // output — and corruption requires delta postings to exist, so a
    // guard on deltaPost covers exactly the cases that can corrupt.
    // dupCensus is a global aggregate (always 1 row), so the
    // crossJoin below can never be empty-pruned.
    val deltaPost = postingRows(deltaDocs, idCol, textCol)
      .crossJoin(broadcast(dupCensus))
      .select(col("token"), dupGuard(col("doc")).as("doc"),
        col("tf"), col("positions"), col("positions_delta"))
    val removed = deltaDocs.select(col(idCol).as("doc"))
      .crossJoin(broadcast(dupCensus))
      .select(dupGuard(col("doc")).as("doc"))
      .unionByName(deletedIds.select(col(deletedIdCol).as("doc")))
      .distinct()
    val survivors = index.join(removed, Seq("doc"), "left_anti")
    val touched = deltaPost.select(col("token"))
      .unionByName(
        index.join(removed, Seq("doc"), "left_semi").select(col("token")))
      .distinct()
    val untouched = survivors.join(touched, Seq("token"), "left_anti")
      .select(col("token"), col("doc_freq"), col("total_tf"),
        col("doc"), col("tf"), col("positions"), col("positions_delta"))
    val recomputed = withTokenStats(
      survivors.join(touched, Seq("token"), "left_semi")
        .select(col("token"), col("doc"), col("tf"),
          col("positions"), col("positions_delta"))
        .unionByName(deltaPost))
    untouched.unionByName(recomputed)
  }

  /** Vocabulary-drift census of an ingest batch against a stored
    * index — the monitoring row a deployment computes BEFORE calling
    * [[upsertIndex]] ("is today's crawl suddenly 40% unseen tokens"
    * = language shift, encoding breakage, or spam — all caught by
    * one number). Batch-grain lanes, all exact BIGINT:
    * n_docs, n_occurrences, n_distinct_tokens, n_new_tokens
    * (distinct, absent from the index vocab), new_occurrences
    * (occurrence mass carried by new tokens), oov_milli =
    * ⌊1000·new_occurrences / n_occurrences⌋ (null on an empty batch).
    *
    * Shape: tokenize ONLY the delta (the [[upsertIndex]] contract);
    * the index contributes its distinct-token vocab through one
    * left-anti join at delta-token grain. */
  def vocabDrift(index: DataFrame, deltaDocs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val post = postingRows(deltaDocs, idCol, textCol)
      .select(col("token"), col("doc"), col("tf"))
    val vocab = index.select(col("token")).distinct()
    val perTok = post.groupBy(col("token"))
      .agg(sum(col("tf")).as("__occ"))
    val newTok = perTok.join(vocab, Seq("token"), "left_anti")
    val docs = deltaDocs.agg(count(lit(1)).as("n_docs"))
    val tot = perTok.agg(
      coalesce(sum(col("__occ")), lit(0L)).as("n_occurrences"),
      count(lit(1)).as("n_distinct_tokens"))
    val nov = newTok.agg(count(lit(1)).as("n_new_tokens"),
      coalesce(sum(col("__occ")), lit(0L)).as("new_occurrences"))
    docs.crossJoin(tot).crossJoin(nov)
      .select(col("n_docs"), col("n_occurrences"),
        col("n_distinct_tokens"), col("n_new_tokens"),
        col("new_occurrences"),
        when(col("n_occurrences") > 0,
          expr("(1000 * new_occurrences) div n_occurrences"))
          .as("oov_milli"))
  }

  /** [[upsertIndex]] with no deletions — the pure ingest-partition
    * merge (the reference's daily `ingest_date` overwrite model,
    * function_app.py:72-73, re-expressed as index maintenance). */
  def upsertIndex(index: DataFrame, deltaDocs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    upsertIndex(index, deltaDocs, idCol, textCol,
      deltaDocs.select(col(idCol)).limit(0), idCol)

  /** Exact phrase matching SERVED FROM the positional inverted index
    * ([[invertedIndex]]) — the query-side counterpart of
    * [[bm25FromIndex]]: a k-term phrase matches doc at position p iff
    * term i sits at p+i for every i. The standard postings algorithm,
    * declarative: each term's postings explode to (doc, pos − i)
    * alignment keys, and a phrase start is an alignment carrying ALL
    * k phrase slots — one hash aggregate on (doc, align) counting
    * DISTINCT slots (repeated words in the phrase occupy distinct
    * slots, so "the the" works). Only the phrase terms' postings are
    * read — the big index scan prunes on the token predicate (the
    * BM25-from-index argument); no document text is touched.
    * Returns (doc, start_pos) per occurrence. */
  def phraseMatches(index: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must be non-empty")
    val k = phrase.length
    val slots = phrase.zipWithIndex.map { case (t, i) =>
      index.filter(col("token") === lit(t))
        .select(col("doc"),
          explode(transform(split(col("positions"), ","),
            p => p.cast("long"))).as("__p"))
        .select(col("doc"), (col("__p") - i).as("__align"),
          lit(i).as("__slot"))
    }.reduce(_ unionByName _)
    slots.groupBy(col("doc"), col("__align"))
      .agg(countDistinct(col("__slot")).as("__n"))
      .filter(col("__n") === k && col("__align") >= 0)
      .select(col("doc"), col("__align").as("start_pos"))
  }

  /** Flesch Reading-Ease readability scoring — the curation signal
    * between length heuristics (quality_score) and LM fluency
    * (q133/q178): flag text that is structurally hard to read.
    * Counted quantities are DEFINED regex-exactly so both engines
    * agree: words = whitespace tokens, sentences = runs of terminal
    * punctuation `[.!?]+` (min 1), syllables ≈ vowel-group runs
    * `[aeiouy]+` of the lower-cased text (the standard public
    * approximation). The milli score is the staged-integer form of
    * 1000·(206.835 − 1.015·w/s − 84.6·syl/w):
    * `206835 − (1015·w) div s − (84600·syl) div w` — every operand
    * BIGINT, replayed verbatim by the q220 oracle; the true-double
    * lane rides beside it for human use (not hashed — division
    * order is engine-dependent). Zero-word docs are excluded (no
    * denominator, nothing to read). Row-local; one projection. */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = token_count(col(textCol))
    val s = greatest(lit(1L), regexp_count(col(textCol), lit("[.!?]+")).cast("long"))
    val syl = regexp_count(lower(col(textCol)), lit("[aeiouy]+")).cast("long")
    df.select(col(idCol), w.as("n_words"), s.as("n_sentences"),
        syl.as("n_vowel_groups"))
      .filter(col("n_words") > 0)
      .withColumn("flesch_milli",
        expr("206835 - (1015 * n_words) div n_sentences" +
          " - (84600 * n_vowel_groups) div n_words"))
      .withColumn("flesch",
        lit(206.835) - lit(1.015) * col("n_words") / col("n_sentences") -
          lit(84.6) * col("n_vowel_groups") / col("n_words"))
  }

  /** PMI collocation mining (Church & Hanks 1990) — the phrase
    * discovery pass a tokenizer/corpus pipeline runs to find
    * multiword units ("new york", "machine learning") worth atomic
    * treatment. For adjacent lower-cased token bigrams with count ≥
    * `minCount`: the exact micro-quantized PMI RATIO
    * `q_micro = ((1_000_000·c_xy) div c_x) · N_b div c_y` where N_b
    * is the corpus bigram total — ln-free (PMI = ln of the same
    * ratio is monotone in it, so thresholds and ranking transfer),
    * staged exactly like [[bm25]]'s integer core so every
    * intermediate stays bounded: 10⁶·c_xy/c_x ≤ 10⁶ and the second
    * product tops out near 10⁶·N_b — BIGINT-safe to corpora of
    * ~10¹² bigrams. The true-double `pmi` (ln(c_xy·N_b/(c_x·c_y)))
    * rides beside it, spec-pinned (q206 hashes the integer lane —
    * cross-engine ln floors are not deterministic; integer division
    * is). Output: w1, w2, c_xy, c_x, c_y, n_bigrams, q_micro, pmi.
    *
    * Scale shape: one corpus explode to (doc-local) bigrams, one
    * count aggregate per table (bigram, unigram, 1-row total);
    * unigram counts join back at bigram-vocabulary grain (skinny),
    * the scalar broadcasts. */
  def collocations(df: DataFrame, textCol: String,
      minCount: Long = 5L): DataFrame = {
    val toks = df.select(tokens(lower(col(textCol))).as("__t"))
      .filter(size(col("__t")) >= 2)
    val bigrams = toks.select(explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
      .filter(col("w1") =!= "" && col("w2") =!= "")
    val cxy = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val uni = df.select(explode(tokens(lower(col(textCol)))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nb = bigrams.agg(count(lit(1)).as("n_bigrams"))
    cxy
      .join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        col("n_bigrams"),
        expr("((1000000 * c_xy) div c_x) * n_bigrams div c_y").as("q_micro"),
        log(col("c_xy").cast("double") * col("n_bigrams").cast("double") /
          (col("c_x").cast("double") * col("c_y").cast("double"))).as("pmi"))
  }

  /** ROUGE-N overlap scoring between paired texts — the
    * reference-based eval/decontamination metric next to the
    * corpus-similarity family (q90 contamination is embedding-side;
    * this is the n-gram side): for each (candidate, reference) pair,
    * the CLIPPED n-gram overlap Σ_g min(count_cand(g), count_ref(g))
    * and the exact milli floors of recall (ROUGE-N proper,
    * overlap/ref_total), precision (BLEU-n's modified precision
    * numerator over cand_total), and F1 — which for a shared clipped
    * overlap collapses to 2·overlap/(cand_total+ref_total), one
    * division, no rational-of-rationals. All counts are exact
    * BIGINTs over lower-cased whitespace n-grams (the corpus
    * tokenization, space-joined like `shingles` — but WITHOUT its
    * dedup or short-text fallback: ROUGE counts multiplicity, and a
    * text shorter than n grams has zero n-grams, not one partial);
    * empty sides yield 0 totals and null ratios rather than
    * dropping the pair (audit rows).
    *
    * Physical shape: each side tokenizes and explodes to (pair,
    * gram, cnt) at n-gram grain, ONE inner join on (pair, gram)
    * takes the min (clipping — grams absent from either side clip
    * to 0 and can't contribute), then a pair-grain aggregate; the
    * pair id rides the shuffle so a 10⁹-pair eval set spreads by
    * pair, never by gram. No driver state, no windows. */
  /** BLEU evaluation lanes — the 4-gram sibling of [[rougeN]] for
    * machine-translation-style scoring: per (candidate, reference)
    * pair, the CLIPPED match and total counts for n = 1..4 plus the
    * exact milli precisions p_n and their product. BLEU proper is
    * BP·(p₁p₂p₃p₄)^¼ — a 4th root and an exp/ln brevity penalty
    * that no two libms agree on to the last ulp — so the published
    * integer contract is everything UNDER the root: `prod_milli4`
    * (= Π pₙ_milli, ≤ 10¹², exact BIGINT) is monotone-equivalent to
    * unsmoothed BLEU at fixed BP (the BM25 ln-free discipline), and
    * `brevity_ok` (cand ≥ ref length — BP = 1 exactly) pins the
    * penalty branch; a caller wanting the real number computes
    * `bp·(prod/1e12)^0.25` in one local step from these lanes.
    * Any pₙ with zero total (candidate shorter than n tokens) nulls
    * that lane and the product — unsmoothed BLEU is undefined
    * there, and surfacing the null beats silently smoothing.
    *
    * Physical shape: ONE explode carries all four gram orders as
    * tagged (n, gram) rows — not four passes — then one (pair, n,
    * gram) clip join and a conditional-sum pivot back to pair
    * grain; shuffles spread by pair exactly like [[rougeN]]. */
  def bleuLanes(pairs: DataFrame, pairCol: String, candCol: String,
      refCol: String): DataFrame = {
    val orders = 1 to 4
    def gramsN(t: Column, n: Int): Column =
      if (n == 1) t
      else when(size(t) >= n,
        transform(sequence(lit(1), size(t) - lit(n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    def tagged(c: Column): Column = {
      val t = tokens(lower(c))
      flatten(array(orders.map(n =>
        transform(gramsN(t, n),
          g => struct(lit(n).as("n"), g.as("gram")))): _*))
    }
    def side(c: String, out: String) = pairs
      .select(col(pairCol).as("pair"), explode(tagged(col(c))).as("g"))
      .groupBy(col("pair"), col("g.n").as("n"), col("g.gram").as("gram"))
      .agg(count(lit(1)).as(out))
    val mAggs = orders.map(n => sum(when(col("n") === n,
      least(col("__cc"), col("__cr"))).otherwise(0L)).as(s"m$n"))
    val matches = side(candCol, "__cc")
      .join(side(refCol, "__cr"), Seq("pair", "n", "gram"))
      .groupBy(col("pair"))
      .agg(mAggs.head, mAggs.tail: _*)
    val base = pairs.select(col(pairCol).as("pair"),
      token_count(lower(col(candCol))).as("cand_tokens"),
      token_count(lower(col(refCol))).as("ref_tokens"))
    val out = base.join(matches, Seq("pair"), "left")
    val withT = orders.foldLeft(out) { (df, n) =>
      df.withColumn(s"t$n",
          greatest(col("cand_tokens") - (n - 1), lit(0L)))
        .withColumn(s"m$n", coalesce(col(s"m$n"), lit(0L)))
        .withColumn(s"p${n}_milli",
          when(col(s"t$n") > 0, expr(s"(1000 * m$n) div t$n")))
    }
    withT
      .withColumn("prod_milli4",
        col("p1_milli") * col("p2_milli") * col("p3_milli") *
          col("p4_milli"))
      .withColumn("brevity_ok", col("cand_tokens") >= col("ref_tokens"))
  }

  /** chrF lanes (Popović 2015) — the character-level member of the
    * MT/LLM eval family next to [[bleuLanes]] (word n-grams) and
    * [[rougeN]] (clipped recall): per (pair, order n ∈ 1..maxN), the
    * clipped character-n-gram match count and both totals, with
    * exact milli precision/recall floors. The COUNTED QUANTITIES are
    * defined exactly (the bleuLanes discipline): both sides strip
    * ALL whitespace (`\s+` → "", the sacreBLEU default), grams are
    * the `len−n+1` substrings of the stripped text, case preserved,
    * matches clip at min(count_cand, count_ref) per gram. Orders
    * where a side is shorter than n have total 0 and a NULL milli
    * lane (nothing to divide).
    *
    * Physical shape: ONE tagged explode carries all orders (the
    * bleuLanes shape); the stripped string binds as a LAMBDA
    * VARIABLE so the regex strip evaluates once per row, not once
    * per position (the CollapseProject inlining trap, documented in
    * the winnowing post-mortem). Shuffles spread by pair. */
  def chrfLanes(pairs: DataFrame, pairCol: String, candCol: String,
      refCol: String, maxN: Int = 6): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in [1,8], got $maxN")
    val orders = 1 to maxN
    def strip(c: Column): Column =
      regexp_replace(coalesce(c, lit("")), "\\s+", "")
    def tagged(c: Column): Column =
      flatten(transform(array(strip(c)), s =>
        flatten(array(orders.map(n =>
          when(length(s) >= n,
            transform(sequence(lit(1), length(s) - lit(n - 1)),
              i => struct(lit(n).as("n"), s.substr(i, lit(n)).as("gram"))))
            .otherwise(array().cast(
              "array<struct<n:int,gram:string>>"))): _*))))
    def side(c: String, out: String) = pairs
      .select(col(pairCol).as("pair"), explode(tagged(col(c))).as("g"))
      .groupBy(col("pair"), col("g.n").as("n"), col("g.gram").as("gram"))
      .agg(count(lit(1)).as(out))
    val m = side(candCol, "__cc")
      .join(side(refCol, "__cr"), Seq("pair", "n", "gram"))
      .groupBy(col("pair"), col("n"))
      .agg(sum(least(col("__cc"), col("__cr"))).as("__m"))
    val base = pairs
      .select(col(pairCol).as("pair"),
        length(strip(col(candCol))).cast("long").as("__lc"),
        length(strip(col(refCol))).cast("long").as("__lr"))
      .select(col("pair"), col("__lc"), col("__lr"),
        explode(array(orders.map(lit): _*)).as("n"))
      .select(col("pair"), col("n"),
        greatest(col("__lc") - col("n") + 1L, lit(0L)).as("tc"),
        greatest(col("__lr") - col("n") + 1L, lit(0L)).as("tr"))
    base.join(m, Seq("pair", "n"), "left")
      .select(col("pair"), col("n").cast("long").as("n"),
        coalesce(col("__m"), lit(0L)).as("m"), col("tc"), col("tr"),
        when(col("tc") > 0,
          expr("(1000 * coalesce(__m, 0L)) div tc")).as("prec_milli"),
        when(col("tr") > 0,
          expr("(1000 * coalesce(__m, 0L)) div tr")).as("rec_milli"))
  }

  /** Pair-grain chrF2 from [[chrfLanes]] — the number a reviewer
    * quotes: macro-averaged milli precision/recall over the orders
    * where EITHER side has grams (tc + tr > 0; a too-short side
    * contributes 0 to the average, the standard treatment), then
    *   chrf2_milli = ⌊5·chrP·chrR / (4·chrP + chrR)⌋   (β = 2)
    * — every stage a single integer floor, NULL when both averages
    * are zero (nothing was generated or referenced). */
  def chrF(pairs: DataFrame, pairCol: String, candCol: String,
      refCol: String, maxN: Int = 6): DataFrame =
    chrfLanes(pairs, pairCol, candCol, refCol, maxN)
      .filter(col("tc") + col("tr") > 0)
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_orders"),
        sum(coalesce(col("prec_milli"), lit(0L))).as("__sp"),
        sum(coalesce(col("rec_milli"), lit(0L))).as("__sr"))
      .select(col("pair"), col("n_orders"),
        expr("__sp div n_orders").as("chrp_milli"),
        expr("__sr div n_orders").as("chrr_milli"),
        expr("""CASE WHEN 4 * (__sp div n_orders)
          |  + (__sr div n_orders) > 0 THEN
          |  (5 * (__sp div n_orders) * (__sr div n_orders))
          |  div (4 * (__sp div n_orders) + (__sr div n_orders))
          |END""".stripMargin).as("chrf2_milli"))

  /** Corpus-grain chrF2 — the number actually quoted for a model or a
    * dataset (r16 verdict item 5): clipped matches and totals sum
    * over ALL pairs BEFORE any ratio (micro-average, the sacreBLEU
    * convention — a macro mean of per-pair scores would let a
    * hundred empty pairs drown one long document, which is exactly
    * the bug micro-averaging exists to avoid). Lanes ride the q488
    * [[chrfLanes]] machinery unchanged: per order, m/tc/tr become
    * corpus sums, milli P/R floor from the summed integers, then the
    * [[chrF]] macro-over-orders average and β=2 floor produce one
    * corpus row (n_pairs, n_orders, chrp_milli, chrr_milli,
    * chrf2_milli). Orders with no grams on either side across the
    * whole corpus drop from the order average (the chrF rule at
    * corpus grain). One extra order-grain aggregate over the q488
    * lanes — nothing new shuffles at corpus scale. */
  def chrfCorpus(pairs: DataFrame, pairCol: String, candCol: String,
      refCol: String, maxN: Int = 6): DataFrame = {
    val perOrder = chrfLanes(pairs, pairCol, candCol, refCol, maxN)
      .groupBy(col("n"))
      .agg(sum(col("m")).as("m"), sum(col("tc")).as("tc"),
        sum(col("tr")).as("tr"))
      .select(col("n"), col("m"), col("tc"), col("tr"),
        when(col("tc") > 0, expr("(1000 * m) div tc")).as("prec_milli"),
        when(col("tr") > 0, expr("(1000 * m) div tr")).as("rec_milli"))
    val nPairs = pairs.agg(count(lit(1)).as("n_pairs"))
    perOrder
      .filter(col("tc") + col("tr") > 0)
      .agg(count(lit(1)).as("n_orders"),
        sum(coalesce(col("prec_milli"), lit(0L))).as("__sp"),
        sum(coalesce(col("rec_milli"), lit(0L))).as("__sr"))
      .crossJoin(broadcast(nPairs))
      // n_orders = 0 (empty/blank corpus) must yield null lanes, not
      // an ANSI divide-by-zero
      .select(col("n_pairs"), col("n_orders"),
        when(col("n_orders") > 0, expr("__sp div n_orders"))
          .as("chrp_milli"),
        when(col("n_orders") > 0, expr("__sr div n_orders"))
          .as("chrr_milli"),
        when(col("n_orders") > 0, expr(
          """CASE WHEN 4 * (__sp div n_orders)
            |  + (__sr div n_orders) > 0 THEN
            |  (5 * (__sp div n_orders) * (__sr div n_orders))
            |  div (4 * (__sp div n_orders) + (__sr div n_orders))
            |END""".stripMargin)).as("chrf2_milli"))
  }

  /** Corpus-grain BLEU lanes — [[bleuLanes]] micro-averaged the
    * sacreBLEU way (r16 verdict item 5): per order, clipped matches
    * and candidate totals sum over ALL pairs before the precision
    * floor, and the brevity comparison uses the corpus-summed
    * candidate/reference lengths (one short sentence does not
    * penalize a corpus whose totals balance — the Papineni 2002
    * definition). Same integer discipline as the pair lanes: exact
    * milli precisions, the monotone product lane, and the summed
    * length lanes + brevity_ok flag instead of the libm-unstable
    * exp/4th-root (callers that want the float BLEU derive it from
    * these exact lanes). One row out. */
  def bleuCorpus(pairs: DataFrame, pairCol: String, candCol: String,
      refCol: String): DataFrame = {
    val l = bleuLanes(pairs, pairCol, candCol, refCol)
    val orders = 1 to 4
    // coalesce(.., 0): an empty corpus must census as zeros, not a
    // row of null sums
    val aggs = orders.flatMap(n => Seq(
      coalesce(sum(col(s"m$n")), lit(0L)).as(s"m$n"),
      coalesce(sum(col(s"t$n")), lit(0L)).as(s"t$n"))) ++ Seq(
      coalesce(sum(col("cand_tokens")), lit(0L)).as("cand_tokens"),
      coalesce(sum(col("ref_tokens")), lit(0L)).as("ref_tokens"))
    val g = l.agg(count(lit(1)).as("n_pairs"), aggs: _*)
    val withP = orders.foldLeft(g) { (df, n) =>
      df.withColumn(s"p${n}_milli",
        when(col(s"t$n") > 0, expr(s"(1000 * m$n) div t$n")))
    }
    withP
      .withColumn("prod_milli4",
        col("p1_milli") * col("p2_milli") * col("p3_milli") *
          col("p4_milli"))
      .withColumn("brevity_ok", col("cand_tokens") >= col("ref_tokens"))
  }

  /** Corpus-grain ROUGE-N — the third member of the micro-average
    * family beside [[chrfCorpus]] and [[bleuCorpus]]: clipped
    * overlap and both n-gram totals sum over ALL pairs before the
    * recall/precision/F1 floors (one summary's length cannot drown
    * the corpus number). One row: n_pairs, overlap, cand_ngrams,
    * ref_ngrams, and the three milli floors (null on a zero
    * denominator — empty corpora census as zeros, never divide). */
  def rougeCorpus(pairs: DataFrame, pairCol: String, candCol: String,
      refCol: String, n: Int): DataFrame =
    rougeN(pairs, pairCol, candCol, refCol, n)
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("overlap")), lit(0L)).as("overlap"),
        coalesce(sum(col("cand_ngrams")), lit(0L)).as("cand_ngrams"),
        coalesce(sum(col("ref_ngrams")), lit(0L)).as("ref_ngrams"))
      .select(col("n_pairs"), col("overlap"), col("cand_ngrams"),
        col("ref_ngrams"),
        when(col("ref_ngrams") > 0,
          expr("(1000 * overlap) div ref_ngrams")).as("recall_milli"),
        when(col("cand_ngrams") > 0,
          expr("(1000 * overlap) div cand_ngrams")).as("precision_milli"),
        when(col("cand_ngrams") + col("ref_ngrams") > 0,
          expr("(2000 * overlap) div (cand_ngrams + ref_ngrams)"))
          .as("f1_milli"))

  def rougeN(pairs: DataFrame, pairCol: String, candCol: String,
      refCol: String, n: Int): DataFrame = {
    require(n >= 1 && n <= 8, s"n must be in [1,8], got $n")
    def grams(c: Column): Column = {
      val t = tokens(lower(c))
      if (n == 1) t
      else when(size(t) >= n,
        transform(sequence(lit(1), size(t) - lit(n - 1)),
          i => concat_ws(" ", slice(t, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }
    def side(c: String, out: String) = pairs
      .select(col(pairCol).as("pair"), explode(grams(col(c))).as("gram"))
      .groupBy(col("pair"), col("gram"))
      .agg(count(lit(1)).as(out))
    val cand = side(candCol, "__cc")
    val ref = side(refCol, "__cr")
    val totals = pairs.select(col(pairCol).as("pair"),
      greatest(token_count(lower(col(candCol))) - (n - 1), lit(0L))
        .as("cand_ngrams"),
      greatest(token_count(lower(col(refCol))) - (n - 1), lit(0L))
        .as("ref_ngrams"))
    val overlap = cand.join(ref, Seq("pair", "gram"))
      .groupBy(col("pair"))
      .agg(sum(least(col("__cc"), col("__cr"))).as("overlap"))
    totals.join(overlap, Seq("pair"), "left")
      .select(col("pair"), col("cand_ngrams"), col("ref_ngrams"),
        coalesce(col("overlap"), lit(0L)).as("overlap"))
      .withColumn("recall_milli", when(col("ref_ngrams") > 0,
        expr("(1000 * overlap) div ref_ngrams")))
      .withColumn("precision_milli", when(col("cand_ngrams") > 0,
        expr("(1000 * overlap) div cand_ngrams")))
      .withColumn("f1_milli",
        when(col("cand_ngrams") + col("ref_ngrams") > 0,
          expr("(2000 * overlap) div (cand_ngrams + ref_ngrams)")))
  }

  /** ROUGE-L — the LCS member of the summary-eval family beside
    * [[rougeN]] (q241) and [[bleuLanes]] (q252): longest common
    * SUBSEQUENCE of the token streams, so in-order agreement scores
    * without requiring contiguous n-grams (Lin 2004's sentence-level
    * form). Same integer lanes as rougeN: recall = lcs/|ref|,
    * precision = lcs/|cand|, and the symmetric f1 = 2·lcs/(|c|+|r|),
    * all exact milli floors.
    *
    * The DP is O(|c|·|r|) per pair — quadratic in document length —
    * so `maxTokens` truncates both sides first (0 = no cap; the
    * sentence/summary use case sits well under any sane cap, and a
    * 100 TB corpus pass NEEDS the bound: a single 10⁵-token outlier
    * pair would cost 10¹⁰ cell updates). Row-local codegen kernel
    * ([[graft.expr.LcsKernel]]), no shuffle beyond the caller's
    * pairing join. */
  def rougeL(pairs: DataFrame, pairCol: String, candCol: String,
      refCol: String, maxTokens: Int = 0): DataFrame = {
    require(maxTokens >= 0, s"maxTokens must be >= 0, got $maxTokens")
    def toks(c: Column): Column = {
      val t = tokens(lower(c))
      if (maxTokens > 0) slice(t, 1, maxTokens) else t
    }
    pairs.select(col(pairCol).as("pair"),
        toks(col(candCol)).as("__ct"), toks(col(refCol)).as("__rt"))
      .select(col("pair"),
        size(col("__ct")).cast("long").as("cand_tokens"),
        size(col("__rt")).cast("long").as("ref_tokens"),
        lcs_length(col("__ct"), col("__rt")).as("lcs"))
      .withColumn("recall_milli", when(col("ref_tokens") > 0,
        expr("(1000 * lcs) div ref_tokens")))
      .withColumn("precision_milli", when(col("cand_tokens") > 0,
        expr("(1000 * lcs) div cand_tokens")))
      .withColumn("f1_milli",
        when(col("cand_tokens") + col("ref_tokens") > 0,
          expr("(2000 * lcs) div (cand_tokens + ref_tokens)")))
  }

  /** Blocklist hit counts: one row per (doc, pattern) with the number
    * of (overlapping) occurrences, zero-hit pairs omitted. One
    * Aho–Corasick pass per document ([[graft.functions.blocklist_counts]])
    * — O(n) per doc regardless of |patterns|, where the regex
    * formulation is O(n·|patterns|). Narrow-map only until the final
    * explode (which emits ≤ hits rows, not |patterns| rows, thanks to
    * the filter-before-alias shape below); no shuffle. */
  def blocklistCounts(df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[String]): DataFrame = {
    val pats = array(patterns.map(lit): _*)
    df.select(col(idCol),
        posexplode(graft.functions.blocklist_counts(col(textCol), patterns))
          .as(Seq("__i", "n_matches")))
      .filter(col("n_matches") > 0)
      .select(col(idCol), element_at(pats, col("__i") + 1).as("pattern"),
        col("n_matches").cast("long").as("n_matches"))
  }

  /** Span-level blocklist hits: one row per match with its byte
    * offset — [[blocklistCounts]]'s audit twin (WHERE did the banned
    * phrase occur), same single Aho–Corasick pass. Byte offsets ==
    * char offsets for ASCII patterns over ASCII text; multibyte text
    * keeps byte semantics (documented on the kernel). */
  def blocklistHits(df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[String]): DataFrame = {
    val pats = array(patterns.map(lit): _*)
    df.select(col(idCol),
        explode(graft.functions.blocklist_hits(col(textCol), patterns))
          .as("__h"))
      .select(col(idCol),
        element_at(pats, col("__h.pat") + 1).as("pattern"),
        col("__h.pos").cast("long").as("pos"))
  }

  /** Length-preserving redaction: every blocklist span masked to '*'
    * per byte, overlaps merged — the enforcement step on top of
    * [[blocklistHits]], still one automaton pass per document. */
  def redactBlocklist(df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[String]): DataFrame =
    df.withColumn(textCol,
      graft.functions.blocklist_redact(col(textCol), patterns))

  /** RAKE keyphrase extraction (Rose et al. 2010 — public-domain
    * rapid automatic keyword extraction): candidate phrases are
    * MAXIMAL runs of non-stopword tokens; each word scores
    * deg(w)/freq(w) within its document (deg = summed length of the
    * phrases containing each occurrence — co-occurrence degree;
    * freq = occurrence count among candidates), and a phrase scores
    * the sum of its words' scores. Integer lane:
    * `score_milli = Σ_w (1000·deg(w)) div freq(w)` — engine-exact.
    *
    * Output: (doc_id, phrase_idx, phrase, n_words, score_milli), one
    * row per candidate occurrence, phrase_idx numbering occurrences
    * in text order. `maxChars` caps the scan (q303 contract).
    *
    * Shape: tokenize+flag+islands are row-local + one doc-partitioned
    * window; word stats are two doc-grain aggregates joined back at
    * (doc, word) — all corpus-linear, no cross-doc state (RAKE is
    * per-document by construction, which is what makes it
    * embarrassingly parallel at 100 TB). */
  def rakePhrases(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String], maxChars: Int = 200): DataFrame = {
    require(stopwords.nonEmpty, "rakePhrases needs a stopword list")
    require(maxChars >= 1, "maxChars must be positive")
    val toks = df.select(col(idCol).as("doc_id"),
        posexplode(tokens(lower(substring(col(textCol), 1, maxChars))))
          .as(Seq("pos", "w")))
      .withColumn("__stop", col("w").isin(stopwords: _*))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = toks
      .withColumn("__brk", when(col("__stop") ||
        lag(col("__stop"), 1, true).over(wOrd), 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__brk")).over(wOrd))
      .filter(!col("__stop"))
    val phrases = islands.groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("pos")).as("__p0"),
        count(lit(1)).as("n_words"),
        array_join(transform(array_sort(collect_list(
          struct(col("pos"), col("w")))), s => s.getField("w")), " ")
          .as("phrase"))
    val withLen = islands.join(
      phrases.select(col("doc_id"), col("__isl"), col("n_words")),
      Seq("doc_id", "__isl"))
    val wordStats = withLen.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("__freq"), sum(col("n_words")).as("__deg"))
    val scored = withLen.join(wordStats, Seq("doc_id", "w"))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(sum(expr("(1000 * __deg) div __freq")).as("score_milli"))
    val wIdx = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("__p0"))
    phrases.join(scored, Seq("doc_id", "__isl"))
      .withColumn("phrase_idx", row_number().over(wIdx) - 1)
      .select(col("doc_id"), col("phrase_idx"), col("phrase"),
        col("n_words"), col("score_milli"))
  }

  /** URL-safe slug: strip accents (the q143 codegen expression, so
    * é→e survives cross-engine byte-exact), lowercase, every
    * non-alphanumeric run → one '-', leading/trailing dashes
    * trimmed. Empty/whitespace-only input slugs to the empty string
    * (visible, not null) — a title that produces no slug is a
    * content bug the pipeline must surface. Row-local, codegen'd. */
  def slugify(c: Column): Column =
    regexp_replace(
      regexp_replace(lower(graft.functions.strip_accents(c)),
        "[^a-z0-9]+", "-"),
      "^-+|-+$", "")

  /** SFT chat-transcript linting — the structural gate instruction-
    * tuning data must pass before a single token is trained on:
    * conversations arrive as JSON turn arrays
    * (`[{"role":…,"content":…},…]`), and silently-malformed ones
    * (missing system turn, two user turns in a row, empty
    * assistant replies, truncated JSON) poison a chat template at
    * fine-tune time. Per row:
    *   - n_turns, starts_system (first role == 'system'),
    *   - alternates: after the optional leading system turn, roles
    *     must read user, assistant, user, … exactly,
    *   - has_empty: any null/whitespace-only content,
    *   - valid: parseable ∧ n_turns ≥ 2 ∧ starts_system ∧
    *     alternates ∧ ¬has_empty.
    * Unparseable JSON yields null census lanes and valid = false —
    * countable, never dropped. Pure row-local expressions
    * (from_json + zip_with/forall/exists HOFs, each argument bound
    * ONCE): zero exchange, one pass at 100 TB. */
  def chatLint(df: DataFrame, idCol: String, chatCol: String): DataFrame = {
    val turnType = "array<struct<role:string,content:string>>"
    val parsed = from_json(col(chatCol), org.apache.spark.sql.types
      .DataType.fromDDL(turnType))
    val out = df.withColumn("__t", parsed)
      .withColumn("n_turns", size(col("__t")).cast("long"))
      .withColumn("starts_system",
        element_at(col("__t"), 1).getField("role") === "system")
      // body = turns after the optional system prefix; zip with the
      // 0-based position and demand the exact user/assistant comb
      .withColumn("__body", when(col("starts_system"),
        slice(col("__t"), lit(2), greatest(col("n_turns") - 1, lit(0))
          .cast("int"))).otherwise(col("__t")))
      // sequence(0, -1) would generate a DESCENDING ramp on an empty
      // body and null-pad the zip — pin the vacuous case explicitly
      .withColumn("alternates", when(size(col("__body")) === 0, lit(true))
        .otherwise(forall(zip_with(col("__body"),
            sequence(lit(0), size(col("__body")) - 1),
            (t, i) => t.getField("role") ===
              when(i % 2 === 0, "user").otherwise("assistant")),
          x => x)))
      .withColumn("has_empty", exists(col("__t"),
        t => t.getField("content").isNull ||
          length(trim(t.getField("content"))) === 0))
    out.select(col(idCol), col("n_turns"), col("starts_system"),
        col("alternates"), col("has_empty"),
        coalesce(col("n_turns") >= 2 && col("starts_system") &&
          col("alternates") && !col("has_empty"), lit(false))
          .as("valid"))
  }

  /** Corpus vocabulary-richness census with the Chao1 estimate of
    * UNSEEN vocabulary — the "how much more is out there" number a
    * corpus-growth review reads before buying more crawl (Chao 1984;
    * the bias-corrected form, defined even when no token occurs
    * exactly twice):
    *   chao1_milli = 1000·S + ⌊1000·f₁(f₁−1) / (2(f₂+1))⌋
    * where S = distinct tokens, f₁ = hapax (once-seen), f₂ =
    * twice-seen. Also hapax_micro = ⌊10⁶·f₁/S⌋ — the classic
    * crawl-freshness signal (a rising hapax share means the corpus
    * is still discovering vocabulary). One row out.
    *
    * Shape: explode → ONE token-grain aggregate (count per token,
    * map-side partial) → one count-of-counts aggregate over the
    * token-grain table (vocab-bounded) → scalars. The f₁(f₁−1)
    * product rides DECIMAL(38,0) (f₁ can reach vocab size — 10⁹
    * hapax would wrap the BIGINT square). */
  def vocabRichness(df: DataFrame, textCol: String): DataFrame = {
    val tok = df
      .select(explode(tokens(lower(col(textCol)))).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    tok.agg(count(lit(1)).as("vocab"),
        sum(col("__c")).as("n_tokens"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__c") === 2L, 1L).otherwise(0L)).as("f2"))
      .withColumn("hapax_micro",
        when(col("vocab") > 0, expr("(1000000 * f1) div vocab")))
      .withColumn("chao1_milli", when(col("vocab") > 0, expr(
        """1000 * vocab +
          |  CAST((CAST(1000 AS DECIMAL(38,0)) * f1 * (f1 - 1))
          |    div (2 * (f2 + 1)) AS BIGINT)""".stripMargin)))
  }

  /** Good–Turing frequency re-estimation table (Good 1953, the
    * Katz/Kneser-Ney building block): from the corpus count-of-counts
    * N_r, the adjusted count for everything seen r times is
    *   r*_milli = ⌊1000·(r+1)·N_{r+1} / N_r⌋
    * (null where N_{r+1} = 0 — the raw estimator is undefined there,
    * and a smoothing layer, not this operator, owns that choice),
    * plus the leave-one-out mass check p_micro = ⌊10⁶·r·N_r / N⌋ and
    * the unseen-mass estimate p0_micro = ⌊10⁶·N₁/N⌋ on every row
    * (constant lane — keeps the table self-contained). Rows for
    * 1 ≤ r ≤ maxR.
    *
    * Shape: token census (one shuffle) → count-of-counts aggregate
    * (vocab-grain) → self-join on r+1 over the ≤ maxR-row table —
    * the heavy exchange is the first one only. */
  def goodTuring(df: DataFrame, textCol: String,
      maxR: Int = 10): DataFrame = {
    require(maxR >= 1 && maxR <= 1000, s"maxR must be in [1,1000], got $maxR")
    val counts = df
      .select(explode(tokens(lower(col(textCol)))).as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
    val freqOfFreq = counts.groupBy(col("__c").as("r"))
      .agg(count(lit(1)).as("n_r"))
    val totals = counts.agg(sum(col("__c")).as("__n"),
      sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("__f1"))
    freqOfFreq.filter(col("r") <= maxR.toLong)
      .join(freqOfFreq.select((col("r") - 1L).as("r"),
        col("n_r").as("__nr1")), Seq("r"), "left")
      .crossJoin(broadcast(totals))
      .select(col("r"), col("n_r"),
        when(col("__nr1").isNotNull, expr(
          """CAST((CAST(1000 AS DECIMAL(38,0)) * (r + 1) * __nr1)
            |  div n_r AS BIGINT)""".stripMargin)).as("r_star_milli"),
        when(col("__n") > 0, expr(
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * r * n_r)
            |  div __n AS BIGINT)""".stripMargin)).as("p_micro"),
        when(col("__n") > 0, expr(
          """CAST((CAST(1000000 AS DECIMAL(38,0)) * __f1)
            |  div __n AS BIGINT)""".stripMargin)).as("p0_micro"))
      .orderBy(col("r"))
  }

  /** Nucleus (top-p) vocabulary cut — per group, the MINIMAL prefix
    * of tokens (ordered by count DESC, token ASC — a total order, so
    * the cut is deterministic) whose cumulative count reaches
    * p_milli/1000 of the group's total:
    *   keep token t  ⟺  1000·(cum(t) − count(t)) < p_milli·total
    * (mass strictly BEFORE t hasn't covered p yet — the standard
    * nucleus rule, which always keeps the top token and stops at
    * the first covering prefix). The curation use: truncating a
    * per-domain token/label distribution to its head before
    * building mixing weights or a tokenizer seed vocabulary.
    * Emits kept rows with exact integer lanes (cnt, rank, cum,
    * total) — no ratios, fully oracle-able.
    *
    * Shape: one (group, token) hash aggregate (the row-scale
    * exchange), then ONE window pair partitioned by group at VOCAB
    * grain — heavy groups are bounded by their distinct-token
    * count, not their row count. */
  def nucleusCut(df: DataFrame, groupCol: String, tokenCol: String,
      pMilli: Long): DataFrame = {
    require(pMilli >= 1 && pMilli <= 1000,
      s"pMilli must be in [1,1000], got $pMilli")
    val counts = df
      .filter(col(groupCol).isNotNull && col(tokenCol).isNotNull)
      .select(col(groupCol).as("group"),
        col(tokenCol).cast("string").as("token"))
      .groupBy(col("group"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group"))
      .orderBy(col("cnt").desc, col("token").asc)
    val wt = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("total", sum(col("cnt")).over(wt))
      // DECIMAL products: 1000·cum wraps BIGINT only past 9e15 rows
      // per group, but the ORACLE side rides HUGEINT — keep parity
      .filter(expr(s"CAST(1000 AS DECIMAL(38,0)) * (cum - cnt) < CAST($pMilli AS DECIMAL(38,0)) * total"))
  }

  /** Vocabulary growth census (the empirical Heaps-law curve): for
    * each id threshold k in `grid`, the number of distinct tokens
    * whose FIRST occurrence (by document id order) lies at id ≤ k,
    * plus how many documents that prefix holds — the "how fast does
    * new vocabulary arrive as the corpus grows" planning number for
    * tokenizer/vocab sizing. All lanes exact integers.
    *
    * Shape: one token-grain min-id aggregate (the row-scale
    * exchange), then each token meets the BROADCAST grid (|grid| ≤
    * dozens) in a nested-loop that emits ≤ |grid| skinny rows per
    * token — never a row-grain sort or a per-k rescan. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      grid: Seq[Long]): DataFrame = {
    require(grid.nonEmpty && grid.size <= 64,
      s"grid must have 1..64 thresholds, got ${grid.size}")
    val spark = df.sparkSession
    import spark.implicits._
    val gridDf = grid.distinct.sorted.toDF("k")
    val base = df.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("__d"),
        lower(col(textCol)).as("__x"))
    val firstDoc = base
      .select(col("__d"), explode(graft.functions.tokens(col("__x")))
        .as("__t"))
      .filter(col("__t") =!= "")
      .groupBy(col("__t")).agg(min(col("__d")).as("__fd"))
    val vocabAt = firstDoc
      .join(broadcast(gridDf), col("__fd") <= col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("vocab"))
    val docsAt = base.select(col("__d")).distinct()
      .join(broadcast(gridDf), col("__d") <= col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_docs"))
    docsAt.join(vocabAt, Seq("k"), "left")
      .select(col("k"), col("n_docs"),
        coalesce(col("vocab"), lit(0L)).as("vocab"))
  }

  /** Per-document n-gram NOVELTY in corpus order — the "how much of
    * this document is new material" curve ([[vocabGrowth]] is the
    * corpus-level cumulative view; this is the per-doc derivative):
    * an n-gram is novel to the document holding its FIRST occurrence
    * by id order. Lanes per doc: n_grams (occurrences),
    * n_distinct_grams, n_novel (distinct grams first seen here),
    * novelty_micro = ⌊10⁶·n_novel / n_distinct_grams⌋. Near-dup docs
    * score ≈ 0 the second time they appear — an ordering-aware dedup
    * signal; a rising tail says the corpus is still finding new
    * material. Docs with < n tokens emit no row (no grams to judge).
    *
    * Shape: one (id, gram) explode (the row-scale exchange), a
    * gram-grain min-id aggregate, and a gram-keyed join back at
    * distinct-(id, gram) grain — the vocabGrowth posture with the
    * join replacing the broadcast grid. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 1 && n <= 16, s"n must be in [1,16], got $n")
    val grams = df.filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("__d"),
        graft.functions.tokens(lower(col(textCol))).as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col("__d"), explode(expr(
        s"""transform(sequence(0, size(__toks) - $n),
           |  i -> concat_ws(' ', slice(__toks, i + 1, $n)))"""
          .stripMargin)).as("__gram"))
    val perDoc = grams.groupBy(col("__d"), col("__gram"))
      .agg(count(lit(1)).as("__occ"))
    val firstDoc = perDoc.groupBy(col("__gram"))
      .agg(min(col("__d")).as("__fd"))
    perDoc.join(firstDoc, Seq("__gram"))
      .groupBy(col("__d").as(idCol))
      .agg(sum(col("__occ")).as("n_grams"),
        count(lit(1)).as("n_distinct_grams"),
        sum(when(col("__fd") === col("__d"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_micro", expr(
        "CAST((1000000 * n_novel) div n_distinct_grams AS BIGINT)"))
  }

  /** Credential/secret scan — the "did a key leak into the training
    * corpus" gate beside [[redactPii]]'s contact-info masks. Counts
    * per document, all from RE2-safe patterns (the oracle engine's
    * regex dialect is the constraint: no lookarounds):
    *   - n_aws_keys: AWS access-key ids `AKIA[0-9A-Z]{16}`;
    *   - n_pem: PEM private-key headers;
    *   - n_hex32: maximal hex runs ≥ 32 chars (API-secret shaped —
    *     a COUNT lane only: long hashes are common in honest text);
    *   - n_luhn_valid: maximal digit runs of 13–19 digits that pass
    *     the Luhn checksum (payment-card shaped) — the checksum is
    *     evaluated in-plan by a higher-order fold over the reversed
    *     digits (runs are ≤ 19 chars, so the nested-lambda
    *     re-evaluation cost is bounded — the minhash O(w²) trap
    *     does not bite at this width);
    *   - has_secret: the high-precision trio (aws | pem | luhn).
    * Row-local, zero exchange; maximal-run extraction (`[0-9]+`,
    * `[0-9a-fA-F]+`) has identical semantics in Java regex and RE2,
    * unlike bounded-repetition matches inside longer runs. */
  def secretScan(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // re-project the text under a FIXED internal name before the expr
    // lanes — the user's column name never gets spliced into SQL text,
    // so names needing backticks (spaces, dots, hyphens) just work
    // (the Column-API discipline of the rest of the repo)
    val t = col("__txt")
    df.select(col(idCol), col(textCol).as("__txt"))
      .select(col(idCol),
        regexp_count(t, lit("AKIA[0-9A-Z]{16}")).cast("long").as("n_aws_keys"),
        regexp_count(t, lit("-----BEGIN [A-Z ]*PRIVATE KEY-----"))
          .cast("long").as("n_pem"),
        expr(s"""CAST(size(filter(regexp_extract_all(__txt,
               |  '[0-9a-fA-F]+', 0), r -> length(r) >= 32)) AS BIGINT)"""
          .stripMargin).as("n_hex32"),
        expr(s"""CAST(size(filter(regexp_extract_all(__txt, '[0-9]+', 0),
               |  r -> length(r) >= 13 AND length(r) <= 19 AND
               |    aggregate(sequence(1, length(r)), 0, (acc, i) ->
               |      acc + CASE WHEN i % 2 = 1
               |        THEN CAST(substring(reverse(r), i, 1) AS INT)
               |        ELSE CASE
               |          WHEN 2 * CAST(substring(reverse(r), i, 1) AS INT) > 9
               |          THEN 2 * CAST(substring(reverse(r), i, 1) AS INT) - 9
               |          ELSE 2 * CAST(substring(reverse(r), i, 1) AS INT)
               |        END END) % 10 = 0)) AS BIGINT)""".stripMargin)
          .as("n_luhn_valid"))
      .withColumn("has_secret",
        col("n_aws_keys") > 0 || col("n_pem") > 0 || col("n_luhn_valid") > 0)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — corpus
    * keywords as the PageRank of the word co-occurrence graph:
    * adjacent lowercase whitespace tokens form undirected edges, and
    * [[Graph.pageRankInt]]'s exact integer recurrence ranks the
    * vocabulary (same floored lanes as the crawl ranks, so the
    * oracle unrolls the identical iterations). A word is central
    * when many distinct words co-occur with it — corpus-level
    * keyword/topic surface, the graph-based complement of RAKE
    * (q323) and TF-IDF.
    *
    * Node ids ride the 60-bit md5 spine (the [[Quality
    * .datasetFingerprint]] convention — engine-replayable; collision
    * odds are birthday-negligible below ~10⁸ vocab). Output: the
    * `topK` tokens by (pr DESC, token ASC) — a deterministic total
    * order.
    *
    * Shape: one row-local pair explode (adjacent zip, never a
    * token×token product), one distinct on canonical pairs, then the
    * pageRankInt joins; topK is a TakeOrdered, not a global sort. */
  def textRank(df: DataFrame, textCol: String, iterations: Int = 3,
      topK: Int = 50): DataFrame = {
    require(topK >= 1 && topK <= 10000, s"topK $topK out of [1,10000]")
    def tid(c: Column) = conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val base = df.filter(col(textCol).isNotNull)
      .select(tokens(lower(col(textCol))).as("__l0"))
      .select(expr("filter(__l0, x -> x <> '')").as("__l"))
      .filter(size(col("__l")) >= 2)
    val und = base
      .select(expr("slice(__l, 1, size(__l) - 1)").as("__h"),
        expr("slice(__l, 2, size(__l) - 1)").as("__t"))
      .select(explode(arrays_zip(col("__h"), col("__t"))).as("__p"))
      .select(col("__p.__h").as("a"), col("__p.__t").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"))
      .distinct()
    val edges = und.select(tid(col("lo")).as("s"), tid(col("hi")).as("t"))
      .unionByName(und.select(tid(col("hi")).as("s"),
        tid(col("lo")).as("t")))
    val names = und.select(col("lo").as("token"))
      .unionByName(und.select(col("hi").as("token"))).distinct()
      .withColumn("node", tid(col("token")))
    Graph.pageRankInt(edges, "s", "t", iterations)
      .join(names, Seq("node"))
      .orderBy(col("pr").desc, col("token").asc)
      .limit(topK)
      .select(col("token"), col("pr"))
  }
}
