package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Lexical (BM25) and hybrid (reciprocal-rank-fusion) retrieval — the
  * search tier that sits NEXT TO the vector stack: the reference serves
  * pure embedding search (`hsnw_trial.py:286-300` ranks by vector
  * distance alone); a production corpus-search deployment pairs that
  * with a term-statistics scorer and fuses the two rankings. Both
  * operators here are single declarative plans with bit-exact oracle
  * arithmetic.
  *
  * Oracle-exactness contract (see [[graft.OracleSql]]): the only
  * transcendental is `ln` in the per-DISTINCT-term idf, immediately
  * rounded to fixed-point micro-nats (`floor(x·1e6 + 0.5)` — the same
  * accepted floor-boundary posture as level sampling); every other step
  * is integer arithmetic or IEEE +,−,×,÷ in a fixed association order,
  * and per-document scores are assembled as a FIXED-ORDER chain of
  * per-term conditional sums (each summing at most one row), never an
  * order-dependent float aggregation.
  */
object Retrieval {

  /** BM25 (k1 = 1.2, b = 0.75) top-k document retrieval for a fixed
    * term query.
    *
    * Per matched (doc, term):
    * {{{
    *   idf_fp = floor(ln(2(N+1) / (2·df+1)) · 1e6 + 0.5)        // micro-nats, BIGINT
    *   score  = (idf_fp / 1e6) · (22·tf·L) / (10·tf·L + 3·L + 9·dl·N)
    * }}}
    * where N = corpus docs, L = corpus tokens, dl = doc tokens — the
    * k1/b constants folded into exact integer coefficients by
    * multiplying through by 10·L (k1+1 = 11/5, k1(1−b) = 3/10,
    * k1·b = 9/10). The idf form ln((N−df+0.5)/(df+0.5) + 1) simplifies
    * to ln(2(N+1)/(2df+1)) exactly. Doc score = Σ over the query's
    * terms in the caller's order, as a left-associated chain of
    * single-row conditional sums.
    *
    * Scale shape: ONE token-explode scan feeds both the doc-length
    * partial agg and the tf partial agg — the `isin(queryTerms)` filter
    * is pushed below the tf shuffle, so only query-term postings ever
    * shuffle (O(matched docs × |query|) rows, not the corpus stream).
    * df and corpus totals are one-row / |query|-row broadcasts; the
    * final top-k is TakeOrderedAndProject. No windows, no driver
    * collects — the 100 TB plan is the same plan.
    *
    * Output: (idCol, bm25) — top k by score descending, ties by id.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query")
    val toks = docs.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
    scoreChain(bm25Grouped(toks, idCol, queryTerms), idCol, queryTerms)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** Phrase BM25 — [[bm25TopK]] with word n-gram shingles as the unit:
    * exact phrase matching ("spark window" must appear contiguously)
    * with the same scoring math, tf = phrase occurrences, dl = the doc's
    * shingle count, df = docs containing the phrase. Same oracle-exact
    * arithmetic; the shingle explode is one linear scan exactly like the
    * token explode (n−1 extra rows per doc, nothing quadratic) — the
    * token array is materialized by a projection BEFORE the shingle
    * lambda reads it (the [[TextFunctions.wordShinglesFromTokens]]
    * contract: an inline split re-tokenizes the doc once per shingle).
    */
  def bm25PhraseTopK(docs: DataFrame, idCol: String, textCol: String,
                     phrases: Seq[String], n: Int = 2, k: Int = 10): DataFrame = {
    require(phrases.nonEmpty, "bm25PhraseTopK: empty query")
    require(phrases.forall(_.split(" ").length == n),
      s"bm25PhraseTopK: every phrase must have exactly $n words")
    val toks = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("w"))
      .select(col(idCol),
        explode(TextFunctions.wordShinglesFromTokens(col("w"), n)).as("tok"))
    scoreChain(bm25Grouped(toks, idCol, phrases), idCol, phrases)
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** [[bm25TopK]] with a dense 1-based rank column — the form rank
    * fusion consumes. Rank is assigned AFTER the global top-k limit
    * (TakeOrdered), so the window sorts k rows in one tiny task; the
    * ordering (score desc, id) is total, making rank-after-limit equal
    * to global rank.
    *
    * Output: (idCol, rank, bm25).
    */
  def bm25RankedTopK(docs: DataFrame, idCol: String, textCol: String,
                     queryTerms: Seq[String], k: Int = 10): DataFrame =
    bm25TopK(docs, idCol, textCol, queryTerms, k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("bm25").desc, col(idCol))).cast("int"))
      .select(col(idCol), col("rank"), col("bm25"))

  /** Batch BM25 — [[bm25TopK]] for a TABLE of queries at once, the
    * production shape when thousands of term queries hit the corpus in
    * one pass. `queries` is (qidCol, termCol): one row per query term.
    *
    * The single-query form keeps scores exactly in the float domain by
    * unrolling a fixed-order per-term chain — impossible for a dynamic
    * query table — so the batch form moves the per-(doc, term)
    * contribution itself to fixed-point micro-nats
    * (`floor(c·1e6 + 0.5)`, BIGINT): per-(qid, doc) totals become
    * INTEGER sums, order-independent at any parallelism, and the
    * reported score is one exact division back to double. Single- and
    * batch-form scores therefore differ by < 1e-6·|query| — the
    * documented price of arbitrary batch width.
    *
    * Scale shape: the token stream joins the (broadcast) query-term
    * table once — only matching postings survive into the (doc, term)
    * tf aggregate; df and corpus totals are broadcast; per-qid top-k
    * runs through the bounded-heap TopKByDist aggregate (shuffle
    * O(queries × k), the [[Knn.exactTopK]] machinery). Output:
    * (qidCol, rank, idCol, bm25).
    */
  def bm25TopKBatch(docs: DataFrame, idCol: String, textCol: String,
                    queries: DataFrame, qidCol: String = "qid",
                    termCol: String = "term", k: Int = 10): DataFrame = {
    val qterms = queries.select(col(qidCol), col(termCol).as("tok")).distinct()
    val toks = docs.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("lt"))
    // postings restricted to ANY query's terms before the tf shuffle
    val wanted = qterms.select(col("tok")).distinct()
    val tf = toks.join(broadcast(wanted), "tok")
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("tok"),
        floor(log((lit(2.0) * (col("nd") + 1)) / (col("df") * 2 + 1)) *
          lit(1e6) + lit(0.5)).cast("long").as("idf_fp"))
    val contrib = tf.join(dl, idCol)
      .join(broadcast(idf), "tok")
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("tok"),
        floor(((col("idf_fp").cast("double") / lit(1e6)) *
          ((col("tf") * 22 * col("lt")).cast("double") /
           (col("tf") * 10 * col("lt") + lit(3) * col("lt") + col("dl") * 9 * col("nd"))
             .cast("double"))) * lit(1e6) + lit(0.5)).cast("long").as("c_fp"))
    val scored = contrib.join(broadcast(qterms), "tok")
      .groupBy(col(qidCol), col(idCol))
      .agg(sum(col("c_fp")).as("score_fp"))
      .select(col(qidCol), col(idCol),
        (lit(0.0) - col("score_fp").cast("double") / lit(1e6)).as("negscore"))
    scored
      .groupBy(col(qidCol))
      .agg(org.apache.spark.sql.graft.TopKAggregate.topKByDist(
        col("negscore"), col(idCol), k).as("top"))
      .select(col(qidCol), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col(qidCol), (col("pos") + 1).cast("int").as("rank"),
        col("entry.id").as(idCol),
        (lit(0.0) - col("entry.dist")).as("bm25"))
  }

  /** Reciprocal-rank fusion (Cormack et al.: score = Σ 1/(k₀+rank)) of
    * two ranked lists over the same id space — the standard hybrid
    * lexical+vector combiner. Ids present in one list only contribute
    * that list's term; the two reciprocal terms are added in a fixed
    * order, so scores are bit-exact.
    *
    * Scale shape: a k×k full-outer equi-join of two already-tiny top-k
    * tables — negligible next to the retrievals that produced them.
    *
    * Output: (idCol, rrf) — top k by fused score descending, ties by id.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              k0: Int = 60, k: Int = 10): DataFrame = {
    val left = a.select(col(idCol), col("rank").as("rank_a"))
    val right = b.select(col(idCol), col("rank").as("rank_b"))
    left.join(right, Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(lit(1.0) / (lit(k0) + col("rank_a")), lit(0.0)) +
         coalesce(lit(1.0) / (lit(k0) + col("rank_b")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }

  /** Fixed-point DCG discounts: floor(10⁶ / log2(r+1) + 0.5) for ranks
    * r = 1..k — computed ONCE driver-side and inlined as integer LITERALS
    * into both engines (the Spark plan and the SQL oracle read the same
    * constants), so no runtime transcendental exists anywhere and the
    * binary-relevance DCG is an order-independent BIGINT sum.
    */
  def ndcgWeightsFp(k: Int): Seq[Long] = {
    require(k >= 1 && k <= 100, s"ndcgWeightsFp: k in [1, 100], got $k")
    (1 to k).map(r => math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)
  }

  /** Prefix sums of [[ndcgWeightsFp]] — ideal-DCG@m for m = 1..k. */
  def ndcgIdealFp(k: Int): Seq[Long] = ndcgWeightsFp(k).scanLeft(0L)(_ + _).tail

  /** Ranked-retrieval evaluation — precision@k, recall@k, reciprocal rank
    * and binary-relevance nDCG@k per query against a ground-truth
    * relevance table (the retrieval twin of the dedup tier's
    * `pairMetrics` / the vector tier's recall evaluator).
    *
    * Exactness: precision/recall/RR are pure rationals (one
    * fixed-association division each); the nDCG log2 discounts are the
    * [[ndcgWeightsFp]] fixed-point LITERALS, so `dcg_fp`/`idcg_fp` are
    * integer sums and `ndcg` is one exact double division — bit-exact at
    * any parallelism, no libm call in either engine.
    *
    * `ranked`: (qidCol, rank, idCol) — dense 1-based ranks;
    * `truth`: (qidCol, idCol) distinct relevant pairs.
    * Queries with no relevant doc retrieved report 0 hits, rr = 0 and
    * ndcg = 0; `idcg_fp` truncates the ideal ranking at k (standard
    * nDCG@k — a query with more relevant docs than k normalizes by the
    * best achievable top-k page).
    *
    * Scale shape: one equi-join of the (already top-k-sized) ranking
    * with the truth table + two partial aggs — O(queries × k) rows end
    * to end; the discount lookup is a literal-array `element_at`
    * projection, not a join.
    */
  def rankedEval(ranked: DataFrame, truth: DataFrame, qidCol: String = "qid",
                 idCol: String = "doc_id", k: Int = 10): DataFrame = {
    val warr = array(ndcgWeightsFp(k).map(lit): _*)
    val carr = array(ndcgIdealFp(k).map(lit): _*)
    val nRel = truth.groupBy(col(qidCol)).agg(count(lit(1)).as("n_rel"))
    val hits = ranked.filter(col("rank") <= k)
      .join(truth, Seq(qidCol, idCol))
      .groupBy(col(qidCol))
      .agg(count(lit(1)).as("hits_at_k"), min(col("rank")).as("first_rel_rank"),
        sum(element_at(warr, col("rank").cast("int"))).as("dcg_fp"))
    nRel.join(hits, Seq(qidCol), "left")
      .select(col(qidCol), col("n_rel"),
        coalesce(col("hits_at_k"), lit(0L)).as("hits_at_k"),
        (coalesce(col("hits_at_k"), lit(0L)).cast("double") / lit(k)).as("prec_at_k"),
        (coalesce(col("hits_at_k"), lit(0L)).cast("double") / col("n_rel").cast("double"))
          .as("recall_at_k"),
        coalesce(lit(1.0) / col("first_rel_rank"), lit(0.0)).as("rr"),
        coalesce(col("dcg_fp"), lit(0L)).as("dcg_fp"),
        element_at(carr, least(col("n_rel"), lit(k.toLong)).cast("int")).as("idcg_fp"))
      .withColumn("ndcg", col("dcg_fp").cast("double") / col("idcg_fp").cast("double"))
  }

  /** Per-document bigram language-model score under the corpus's own
    * unsmoothed bigram LM (P(w₂|w₁) = n_pair/n_first — every document
    * bigram is by construction in the corpus counts, so probabilities
    * are always positive): the model-free perplexity-style quality
    * signal a training-data pipeline filters on (documents whose token
    * transitions are atypical for the corpus score low).
    *
    * Exactness: log-probabilities are fixed-pointed to micro-nats per
    * DISTINCT bigram (`floor(ln(n_pair/n_first)·1e6 + 0.5)` — BIGINT),
    * so the per-document total is an INTEGER sum — order-independent at
    * any parallelism, no float aggregation anywhere. The reported
    * per-bigram average is one fixed-association double division pair.
    *
    * Scale shape: the token stream collapses once to per-doc bigram
    * counts, `localCheckpoint`ed by default because that table feeds
    * BOTH the LM estimation branch and the final scoring join — without
    * materialization the corpus explode would run twice (one corpus
    * scan, not two, is the 100 TB difference). First-word totals are a
    * second partial agg over the already-vocabulary-sized pair table;
    * scoring joins doc bigram counts to the pair table on bigram (plain
    * equi-join — both sides shrink to distinct-bigram granularity
    * before joining) and partial-aggs per doc.
    *
    * Output: (idCol, n_bigrams, lp_total_fp, avg_nats), one row per
    * document with ≥1 bigram.
    */
  def lmDocScores(docs: DataFrame, idCol: String, textCol: String,
                  materialize: Boolean = true): DataFrame = {
    // The bigram stream is hash-repartitioned on (id, bigram) and the
    // count runs as a ONE-PHASE aggregate on top (the exchange satisfies
    // its ClusteredDistribution(id, bigram)). r17 keyed the exchange on
    // bigram alone, which also satisfies it but sent every copy of a
    // Zipfian head bigram to one task. The r16 shape ran partial
    // aggregation keyed (id, bigram) before its exchange — over a corpus
    // bigram stream those keys are MOSTLY UNIQUE, so the partial pass
    // built a giant per-task hash table only to emit nearly every row
    // unchanged (pure buffer
    // churn; guide §1.2 step 2). Interleaved min-of-3 at 1M docs:
    // 39.4 → 33.2 s for the docScores DAG (and 63.4 → 39.8 s for q96
    // end-to-end in a separate paired run). Two negatives pinned by the
    // same probe (OptProbe17 lmabc): the checkpoint does NOT carry the
    // partitioning downstream (LogicalRDD reports UnknownPartitioning, so
    // the LM-estimate and scoring-join exchanges remain), and DROPPING the
    // checkpoint to rely on ReuseExchange is 2× worse (66.9 s — the
    // subtree re-evaluates per consumer; no reuse fires).
    val docBgAll = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("w"))
      .select(col(idCol),
        explode(TextFunctions.wordShinglesFromTokens(col("w"), 2)).as("bigram"))
      .repartition(col(idCol), col("bigram"))
      .groupBy(col(idCol), col("bigram")).agg(count(lit(1)).as("n"))
    val docBg = if (materialize) Checkpoints.tracked(docBgAll) else docBgAll
    val pairCounts = docBg.groupBy("bigram").agg(sum(col("n")).as("n_pair"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    val firstCounts = pairCounts.groupBy("w1").agg(sum(col("n_pair")).as("n_first"))
    val lp = pairCounts.join(firstCounts, "w1")
      .select(col("bigram"),
        floor(log(col("n_pair").cast("double") / col("n_first").cast("double")) *
          lit(1e6) + lit(0.5)).cast("long").as("lp_fp"))
    docBg.join(lp, "bigram")
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(col("n") * col("lp_fp")).as("lp_total_fp"))
      .select(col(idCol), col("n_bigrams"), col("lp_total_fp"),
        ((col("lp_total_fp").cast("double") / lit(1e6)) /
          col("n_bigrams").cast("double")).as("avg_nats"))
  }

  /** The shared BM25 dataflow up to the per-doc grouped per-term sums:
    * (idCol, c_0 … c_{n−1}) with cᵢ = the single (doc, termᵢ)
    * contribution or null. `toks` is the exploded (idCol, tok) unit
    * stream — plain tokens for word BM25, n-gram shingles for phrase
    * BM25.
    */
  private def bm25Grouped(toks: DataFrame, idCol: String,
                          queryTerms: Seq[String]): DataFrame = {
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("lt"))
    val tf = toks.filter(col("tok").isin(queryTerms: _*))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("tok"),
        floor(log((lit(2.0) * (col("nd") + 1)) / (col("df") * 2 + 1)) *
          lit(1e6) + lit(0.5)).cast("long").as("idf_fp"))
    val pairs = tf.join(dl, idCol)
      .join(broadcast(idf), "tok")
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("tok"),
        ((col("idf_fp").cast("double") / lit(1e6)) *
          ((col("tf") * 22 * col("lt")).cast("double") /
           (col("tf") * 10 * col("lt") + lit(3) * col("lt") + col("dl") * 9 * col("nd"))
             .cast("double"))).as("c"))
    val perTerm = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, col("c"))).as(s"c_$i")
    }
    pairs.groupBy(col(idCol)).agg(perTerm.head, perTerm.tail: _*)
  }

  /** The bigram LM itself, as a reusable artifact: (bigram, lp_fp) with
    * lp_fp = floor(ln(P(w₂|w₁))·1e6 + 0.5) micro-nats — the conditional
    * table [[lmDocScores]] estimates internally, exposed so a TRAINED
    * corpus LM can be frozen (written as parquet) and applied to OTHER
    * text: held-out scoring, ingest-time filtering
    * ([[graft.streaming.StreamingOps.streamingLmScore]]), drift checks.
    * Two partial aggs over the corpus bigram stream; vocabulary-sized
    * output.
    */
  def lmTable(corpus: DataFrame, textCol: String): DataFrame = {
    val pairCounts = corpus
      .select(TextFunctions.tokens(col(textCol)).as("w"))
      .select(explode(TextFunctions.wordShinglesFromTokens(col("w"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_pair"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
    val firstCounts = pairCounts.groupBy("w1").agg(sum(col("n_pair")).as("n_first"))
    pairCounts.join(firstCounts, "w1")
      .select(col("bigram"),
        floor(log(col("n_pair").cast("double") / col("n_first").cast("double")) *
          lit(1e6) + lit(0.5)).cast("long").as("lp_fp"))
  }

  /** Score documents under a FROZEN LM ([[lmTable]] output) — the CCNet
    * deployment shape: the LM is trained once on a reference corpus
    * (Wikipedia, a curated slice) and applied to ARRIVING text, so the
    * scored documents never influence the model. Bigrams the LM has
    * never seen take the `unkLpFp` floor penalty (micro-nats; default
    * −20 nats ≈ a 1-in-5×10⁸ transition) — unseen transitions are
    * exactly what the filter must punish, and the constant keeps the
    * arithmetic integer-exact.
    *
    * Scale shape: doc bigram counts partial-agg before the LM join (an
    * equi-join at distinct-bigram granularity on both sides); per-doc
    * totals are BIGINT sums — order-independent at any parallelism.
    * Output mirrors [[lmDocScores]]: (idCol, n_bigrams, lp_total_fp,
    * avg_nats), one row per doc with ≥ 1 bigram.
    */
  def lmScoreAgainst(docs: DataFrame, lm: DataFrame, idCol: String, textCol: String,
                     unkLpFp: Long = -20000000L): DataFrame = {
    val docBg = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("w"))
      .select(col(idCol),
        explode(TextFunctions.wordShinglesFromTokens(col("w"), 2)).as("bigram"))
      .groupBy(col(idCol), col("bigram")).agg(count(lit(1)).as("n"))
    docBg.join(lm, Seq("bigram"), "left")
      .select(col(idCol), col("n"), coalesce(col("lp_fp"), lit(unkLpFp)).as("lp"))
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(col("n") * col("lp")).as("lp_total_fp"))
      .select(col(idCol), col("n_bigrams"), col("lp_total_fp"),
        ((col("lp_total_fp").cast("double") / lit(1e6)) /
          col("n_bigrams").cast("double")).as("avg_nats"))
  }

  /** CCNet-style perplexity bucketing: every document assigned to
    * `head` / `middle` / `tail` by its per-bigram log-probability under
    * the corpus's OWN bigram LM ([[lmDocScores]]) — the standard
    * LM-quality partition of a web corpus (head = most fluent third,
    * tail = least). CCNet computes percentile thresholds over the score
    * distribution; the scale-sane form of that is a HISTOGRAM: scores
    * quantize to centi-nat bins (`floor(avg_nats · binsPerNat)`, exact
    * IEEE multiply + floor), bin counts are one partial agg, and the
    * two cut points come from cumulative counts over the bin table —
    * whole bins share a bucket, which is exactly the resolution a
    * percentile-on-a-sample gives. No global sort of documents exists
    * anywhere.
    *
    * Bucket rule (integer arithmetic, deterministic): with c = docs in
    * bins ≥ this bin (better-or-equal fluency) and t = total docs,
    * `head` iff 3c ≤ t, `middle` iff 3c ≤ 2t, else `tail`.
    *
    * Scale shape: the binned score table is one row per doc
    * (localCheckpointed — it feeds both the histogram and the final
    * label join); the bin table is value-bounded (avg_nats spans at
    * most ~ln(corpus bigrams) nats → a few thousand centi-nat bins), so
    * the cumulative pass is a broadcast self-join over a tiny table and
    * the label join back to docs is a broadcast hash join. One corpus
    * scan end-to-end on top of [[lmDocScores]]'s own single-scan shape.
    *
    * Output: (idCol, avg_nats, bin, bucket), one row per document with
    * ≥ 1 bigram.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        binsPerNat: Int = 100): DataFrame = {
    val binned = Checkpoints.tracked(lmDocScores(docs, idCol, textCol)
      .select(col(idCol), col("avg_nats"),
        floor(col("avg_nats") * lit(binsPerNat.toDouble)).cast("long").as("bin")))
    val bins = binned.groupBy("bin").agg(count(lit(1)).as("n"))
    val tot = bins.agg(sum(col("n")).as("t"))
    val cum = bins.select(col("bin"))
      .join(broadcast(bins.select(col("bin").as("bin2"), col("n").as("n2"))),
        col("bin2") >= col("bin"))
      .groupBy("bin").agg(sum(col("n2")).as("c"))
    val lab = cum.crossJoin(broadcast(tot))
      .select(col("bin"),
        when(col("c") * 3 <= col("t"), lit("head"))
          .when(col("c") * 3 <= col("t") * 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
    binned.join(broadcast(lab), Seq("bin"))
      .select(col(idCol), col("avg_nats"), col("bin"), col("bucket"))
  }

  /** Frozen corpus statistics for scoring AGAINST a corpus without
    * recomputing it — (idf_fp per term, doc count, token count), the
    * inputs [[graft.streaming.StreamingOps.standingQueryScores]] needs.
    * Driver-side collect is ≤ |terms| + 1 rows (bounded meta, the
    * centroid-geometry convention).
    */
  def bm25Stats(docs: DataFrame, idCol: String, textCol: String,
                terms: Seq[String]): (Map[String, Long], Long, Long) = {
    val toks = docs.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val dl = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val st = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("lt")).head()
    val (nd, lt) = (st.getLong(0), st.getLong(1))
    val idf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("tok")).agg(countDistinct(col(idCol)).as("df"))
      .select(col("tok"),
        floor(log((lit(2.0) * (lit(nd) + 1)) / (col("df") * 2 + 1)) *
          lit(1e6) + lit(0.5)).cast("long").as("idf_fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (idf, nd, lt)
  }

  /** Delta-encoded posting lists — the inverted-index LAYOUT step: for
    * every surviving vocabulary term, its postings as (tok, df, doc_id,
    * gap) rows where `gap` is the id delta to the previous posting in
    * doc-id order (the delta encoding every production inverted index
    * applies before compressing postings; emitting it relationally makes
    * the table a direct sink for an external index builder, and the gap
    * distribution is itself a corpus statistic — small gaps = clustered
    * terms).
    *
    * Scale shape: the (tok, doc_id) distinct and the df partial-agg are
    * map-side-combining aggregations; the ONLY window partitions by tok,
    * AFTER the df band filter — `maxDf` caps every window partition
    * (stopword-class terms with corpus-sized posting lists are exactly
    * what the band excludes, the same hot-key discipline as the LSH df
    * caps), so no task ever sorts more than `maxDf` rows per term.
    * First posting of each list carries gap = doc_id − (−1) (list-start
    * sentinel, keeps gap non-null and the first gap distinguishable).
    */
  def postingLists(docs: DataFrame, idCol: String, textCol: String,
                   minDf: Long = 1L, maxDf: Long = 1000L): DataFrame = {
    require(minDf >= 1 && maxDf >= minDf, "postingLists: 1 <= minDf <= maxDf")
    val posting = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .distinct()
    val dfs = posting.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(minDf, maxDf))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tok")).orderBy(col("doc_id"))
    posting.join(dfs, "tok") // df band: bounds every window partition below
      .withColumn("gap", col("doc_id") - lag(col("doc_id"), 1, -1L).over(w))
      .select(col("tok"), col("df"), col("doc_id"), col("gap"))
  }

  /** LEB128 varint bytes of one non-negative long gap, as `array<int>` —
    * 7 payload bits per byte, continuation bit 0x80 while higher bits
    * remain; ≤ 10 bytes covers the full 63-bit gap range. Pure codegen'd
    * builtins (sequence/transform/filter + shifts), and the identical
    * integer arithmetic spells in DuckDB — which is what makes the
    * ENCODED BYTES oracle-able, not just the gap values.
    */
  private def leb128(gapCol: String): org.apache.spark.sql.Column =
    expr(s"""filter(transform(sequence(0, 9), i ->
            |  IF(i = 0 OR shiftright($gapCol, 7 * i) > 0,
            |     CAST((shiftright($gapCol, 7 * i) & 127)
            |          + IF(shiftright($gapCol, 7 * (i + 1)) > 0, 128, 0) AS INT),
            |     -1)), b -> b >= 0)""".stripMargin)

  /** The byte-compressed half of [[postingLists]]: per surviving term ONE
    * row `(tok, df, n_bytes, postings_hex)` where `postings_hex` is the
    * hex spelling of the term's gap stream varint-encoded (LEB128 — the
    * byte layout real index formats ship). Hex instead of `binary` so the
    * value is engine-portable text; [[decodePostingHex]] restores the
    * doc-id list (round-trip spec-pinned).
    *
    * Scale shape: identical to [[postingLists]] — the df band runs BEFORE
    * the per-term window AND before the per-term reassembly, so both the
    * window partition and the collect_list buffer are ≤ maxDf rows; the
    * per-gap encoding is a codegen'd array expression, no UDF. Fan-out is
    * one row per term, ≤ ~5·maxDf bytes each.
    */
  def postingBytes(docs: DataFrame, idCol: String, textCol: String,
                   minDf: Long = 1L, maxDf: Long = 1000L): DataFrame =
    postingLists(docs, idCol, textCol, minDf, maxDf)
      .withColumn("vb", leb128("gap"))
      .withColumn("hexpart",
        array_join(transform(col("vb"), b => lpad(hex(b), 2, "0")), ""))
      .groupBy(col("tok"), col("df"))
      .agg(
        sum(size(col("vb"))).cast("long").as("n_bytes"),
        array_join(
          transform(array_sort(collect_list(struct(col("doc_id"), col("hexpart")))),
            s => s("hexpart")),
          "").as("postings_hex"))

  /** Driver-side decode of [[postingBytes]]' hex stream back to the doc-id
    * list: LEB128 gaps, first gap measured from the −1 list-start sentinel
    * ([[postingLists]]' convention), then a prefix sum.
    */
  def decodePostingHex(hex: String): Seq[Long] = {
    require(hex.length % 2 == 0, s"decodePostingHex: odd hex length ${hex.length}")
    val bytes = hex.grouped(2).map(Integer.parseInt(_, 16)).toArray
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    var doc = -1L
    var i = 0
    while (i < bytes.length) {
      var gap = 0L
      var shift = 0
      var cont = true
      while (cont) {
        require(i < bytes.length, "decodePostingHex: truncated varint")
        val b = bytes(i); i += 1
        gap |= (b & 0x7fL) << shift
        shift += 7
        cont = (b & 0x80) != 0
      }
      doc += gap
      ids += doc
    }
    ids.toSeq
  }

  /** Left-associated coalesce chain over the per-term sums → `bm25`. */
  private def scoreChain(grouped: DataFrame, idCol: String,
                         queryTerms: Seq[String]): DataFrame = {
    val score = queryTerms.indices
      .map(i => coalesce(col(s"c_$i"), lit(0.0)))
      .reduceLeft(_ + _)
    grouped.select(col(idCol), score.as("bm25"))
  }
}
