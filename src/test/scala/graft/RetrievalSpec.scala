package graft

import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/** BM25 lexical retrieval, reciprocal-rank fusion, and bigram-LM
  * document scoring (q81–q83).
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  /** Reference BM25 (k1=1.2, b=0.75) computed scalar-side with the SAME
    * fixed-point idf contract as the operator.
    */
  private def refBm25(corpus: Seq[(Long, String)], terms: Seq[String]): Map[Long, Double] = {
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val nd = toks.size.toLong
    val lt = toks.map(_._2.size.toLong).sum
    val df = terms.map(t => t -> toks.count(_._2.contains(t)).toLong).toMap
    toks.flatMap { case (id, ws) =>
      val dl = ws.size.toLong
      val score = terms.map { t =>
        val tf = ws.count(_ == t).toLong
        if (tf == 0 || df(t) == 0) 0.0
        else {
          val idfFp = math.floor(math.log((2.0 * (nd + 1)) / (df(t) * 2 + 1)) * 1e6 + 0.5).toLong
          (idfFp.toDouble / 1e6) *
            ((tf * 22 * lt).toDouble / (tf * 10 * lt + 3 * lt + dl * 9 * nd).toDouble)
        }
      }.foldLeft(0.0)(_ + _)
      if (score > 0.0) Some(id -> score) else None
    }.toMap
  }

  test("bm25TopK matches the scalar reference bit-for-bit and ranks rare-term docs first") {
    val corpus = Seq(
      (0L, "spark scan join spark table"),
      (1L, "rare spark table row value"),
      (2L, "rare rare rare scan"),
      (3L, "scan table row value key merge batch line sort window agg part"),
      (4L, "spark spark spark spark spark spark spark spark spark spark"),
      (5L, "key value row"))
    val terms = Seq("rare", "spark")
    val got = Retrieval.bm25TopK(corpus.toDF("doc_id", "text"), "doc_id", "text", terms, k = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ref = refBm25(corpus, terms)
    got.foreach { case (id, s) => assert(s === ref(id), s"doc $id") }
    // descending, ties by id
    assert(got.map(_._2).toSeq === got.map(_._2).sortBy(-_).toSeq)
    // engine ranking equals the reference ranking (score desc, id asc)
    assert(got.map(_._1).toSeq === ref.toSeq.sortBy { case (id, s) => (-s, id) }.map(_._1))
    // doc 1 carries both terms — it must outrank docs with spark alone at similar length
    val rankOf = got.map(_._1).zipWithIndex.toMap
    assert(rankOf(1L) < rankOf(0L))
    // absent-term docs never appear
    assert(!got.map(_._1).contains(5L))
  }

  test("bm25TopK length normalization: same tf scores higher in a shorter doc") {
    val corpus = Seq(
      (0L, "hit miss"),
      (1L, "hit miss miss miss miss miss miss miss"),
      (2L, "miss miss"))
    val got = Retrieval.bm25TopK(corpus.toDF("doc_id", "text"), "doc_id", "text",
      Seq("hit"), k = 3).collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got(0L) > got(1L))
  }

  test("bm25RankedTopK rank equals global rank; rrfFuse is exact and handles one-sided ids") {
    val a = Seq((10L, 1), (11L, 2), (12L, 3)).toDF("id", "rank")
    val b = Seq((12L, 1), (13L, 2)).toDF("id", "rank")
    val fused = Retrieval.rrfFuse(a, b, "id", k0 = 60, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(fused(12L) === 1.0 / 63 + 1.0 / 61)
    assert(fused(10L) === 1.0 / 61)     // only in a
    assert(fused(13L) === 1.0 / 62)     // only in b
    assert(fused(11L) === 1.0 / 62)
    // both-lists doc wins over any single-list doc here
    assert(fused.maxBy(_._2)._1 === 12L)

    val ranked = Retrieval.bm25RankedTopK(
      Seq((0L, "x y"), (1L, "x x y"), (2L, "y y")).toDF("doc_id", "text"),
      "doc_id", "text", Seq("x"), k = 2).collect()
    assert(ranked.map(_.getInt(1)).sorted.toSeq === Seq(1, 2))
    // rank 1 is the best score
    val byRank = ranked.sortBy(_.getInt(1))
    assert(byRank.head.getLong(0) === 1L) // higher tf, slightly longer — tf wins at these lengths
  }

  test("lmDocScores: integer micro-nat totals, corpus-typical docs beat atypical ones") {
    // 'a b' appears 3× as first-word-a transitions vs 'a c' once → P(b|a)=3/4, P(c|a)=1/4
    val corpus = Seq(
      (0L, "a b a b"),   // bigrams: (a b),(b a),(a b)
      (1L, "a b a c"),   // bigrams: (a b),(b a),(a c)
      (2L, "z z"))       // (z z) — its own universe, P=1
    val got = Retrieval.lmDocScores(corpus.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    // corpus counts: (a b)->3, (b a)->2, (a c)->1; first a->4, b->2, z->1
    val lp = Map(
      "a b" -> math.floor(math.log(3.0 / 4.0) * 1e6 + 0.5).toLong,
      "b a" -> math.floor(math.log(2.0 / 2.0) * 1e6 + 0.5).toLong,
      "a c" -> math.floor(math.log(1.0 / 4.0) * 1e6 + 0.5).toLong,
      "z z" -> math.floor(math.log(1.0 / 1.0) * 1e6 + 0.5).toLong)
    assert(got(0) === ((0L, 3L, 2 * lp("a b") + lp("b a"),
      ((2 * lp("a b") + lp("b a")).toDouble / 1e6) / 3.0)))
    assert(got(1) === ((1L, 3L, lp("a b") + lp("b a") + lp("a c"),
      ((lp("a b") + lp("b a") + lp("a c")).toDouble / 1e6) / 3.0)))
    // deterministic-transition doc scores exactly 0 (log 1)
    assert(got(2)._3 === 0L)
    // doc 0 (typical transitions) beats doc 1 (contains the rare a→c)
    assert(got(0)._4 > got(1)._4)
  }

  test("lmDocScores: the bigram stream spreads a Zipfian head bigram over (id, bigram) partitions, same scores") {
    // every document repeats the head bigram "of the", and a few share tails
    val rng = new scala.util.Random(5)
    val words = Seq("alpha", "beta", "gamma", "delta", "eps")
    val corpus = (0L until 60L).map { id =>
      val tail = Seq.fill(3 + (id % 4).toInt)(words(rng.nextInt(words.size)))
      id -> (Seq.fill(5)("of the") ++ tail).mkString(" ")
    }
    val docs = corpus.toDF("doc_id", "text")
    val parts = Retrieval.lmDocScores(docs, "doc_id", "text", materialize = false).queryExecution.optimizedPlan
      .collect { case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
        r.partitionExpressions.flatMap(_.references.map(_.name)).toSet
      }
    // the un-materialized stream feeds three consumers, each its own copy
    assert(parts.nonEmpty && parts.forall(_ == Set("doc_id", "bigram")), s"bigram stream partitioning: $parts")
    // reference: the unsmoothed bigram LM scored scalar-side
    val bigrams = corpus.map { case (id, t) => id -> t.split(" ").sliding(2).map(_.mkString(" ")).toSeq }
    val nPair = bigrams.flatMap(_._2).groupBy(identity).map { case (b, bs) => b -> bs.size.toLong }
    val nFirst = nPair.toSeq.groupBy(_._1.split(" ")(0)).map { case (w, ps) => w -> ps.map(_._2).sum }
    val lp = nPair.map { case (b, n) =>
      b -> math.floor(math.log(n.toDouble / nFirst(b.split(" ")(0)).toDouble) * 1e6 + 0.5).toLong
    }
    val want = bigrams.map { case (id, bs) =>
      val total = bs.map(lp).sum
      (id, bs.size.toLong, total, (total.toDouble / 1e6) / bs.size.toDouble)
    }.toSet
    Seq(true, false).foreach { materialize =>
      val got = Retrieval.lmDocScores(docs, "doc_id", "text", materialize)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got === want, s"materialize = $materialize")
    }
  }

  test("lmScoreAgainst: frozen LM scores held-out text; unseen bigrams take the floor penalty") {
    // LM trained on a tiny corpus where P(b|a)=3/4, P(c|a)=1/4
    val trainDocs = Seq((0L, "a b a b"), (1L, "a b a c")).toDF("doc_id", "text")
    val lm = Retrieval.lmTable(trainDocs, "text")
    val lpAb = math.floor(math.log(3.0 / 4.0) * 1e6 + 0.5).toLong
    val lpBa = math.floor(math.log(2.0 / 2.0) * 1e6 + 0.5).toLong
    val gotLm = lm.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotLm("a b") === lpAb && gotLm("b a") === lpBa)
    // held-out: doc 10 all-known bigrams; doc 11 has one bigram ("a z")
    // the LM never saw — it must take the -20e6 floor, not vanish
    val apply = Seq((10L, "a b a b"), (11L, "a b a z")).toDF("doc_id", "text")
    val got = Retrieval.lmScoreAgainst(apply, lm, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got(0) === ((10L, 3L, 2 * lpAb + lpBa)))
    assert(got(1) === ((11L, 3L, lpAb + lpBa - 20000000L)))
    // the frozen LM is NOT influenced by scored docs: "a z" stays unknown
    // even after scoring it (lmTable came from trainDocs alone)
    assert(!gotLm.contains("a z"))
  }

  test("perplexityBuckets: histogram thirds follow the bin rule; duplicates share a bucket") {
    // three fluency tiers, three docs each — identical docs score identically,
    // so each tier is one centi-nat bin and the thirds split exactly
    // all transitions leave the shared first word 'a', so rarity is real:
    // a→b dominates the corpus, a→c is rarer, a→d rarest (a unique-chain
    // doc would score P=1 — deterministic transitions are FLUENT to a
    // corpus-trained LM, which is why the tail tier must share prefixes)
    val corpus = (0L to 2L).map(i => (i, "a b a b a b a b")) ++      // typical
      (3L to 5L).map(i => (i, "a b a c")) ++                         // mixed
      (6L to 8L).map(i => (i, "a c a d"))                            // rare transitions
    val df = corpus.toDF("doc_id", "text")
    val got = Retrieval.perplexityBuckets(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3)))
    assert(got.length === 9)
    // reference: recompute the rule scalar-side from lmDocScores' own output
    val scores = Retrieval.lmDocScores(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getDouble(3))).toMap
    val bins = scores.map { case (id, s) => id -> math.floor(s * 100.0).toLong }
    val hist = bins.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val t = bins.size.toLong
    def bucketOf(b: Long): String = {
      val c = hist.filter(_._1 >= b).values.sum
      if (c * 3 <= t) "head" else if (c * 3 <= 2 * t) "middle" else "tail"
    }
    got.foreach { case (id, avg, bin, bucket) =>
      assert(avg === scores(id), s"doc $id avg")
      assert(bin === bins(id), s"doc $id bin")
      assert(bucket === bucketOf(bin), s"doc $id bucket")
    }
    // the tiers land where CCNet intends: fluent → head, rare → tail
    val byId = got.map(g => g._1 -> g._4).toMap
    assert((0L to 2L).forall(byId(_) == "head"))
    assert((3L to 5L).forall(byId(_) == "middle"))
    assert((6L to 8L).forall(byId(_) == "tail"))
  }

  test("bm25TopKBatch: integer-sum scores track the single-query form within 1e-6 per term") {
    val corpus = Seq(
      (0L, "spark scan join spark table"),
      (1L, "rare spark table row value"),
      (2L, "rare rare rare scan"),
      (3L, "scan table row value key merge batch line sort window agg part"),
      (4L, "spark spark spark spark spark spark spark spark spark spark"))
      .toDF("doc_id", "text")
    val queries = Seq((7, "rare"), (7, "spark"), (8, "scan")).toDF("qid", "term")
    val batch = Retrieval.bm25TopKBatch(corpus, "doc_id", "text", queries, k = 5)
      .collect().map(r => ((r.getInt(0), r.getLong(2)), (r.getInt(1), r.getDouble(3)))).toMap
    // query 7 vs the single form: same candidate set and ranking; scores
    // within the documented fixed-point slack (1e-6 per matched term)
    val single = Retrieval.bm25TopK(corpus, "doc_id", "text", Seq("rare", "spark"), k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val batchQ7 = batch.collect { case ((7, id), (rank, s)) => (rank, id, s) }.toSeq.sortBy(_._1)
    assert(batchQ7.map(_._2) === single.map(_._1).toSeq, "rankings agree")
    single.zip(batchQ7).foreach { case ((id, sExact), (_, _, sFp)) =>
      assert(math.abs(sExact - sFp) < 2e-6, s"doc $id: $sExact vs $sFp")
    }
    // query 8 sees only 'scan' docs
    assert(batch.keys.collect { case (8, id) => id }.toSet === Set(0L, 2L, 3L))
    // per-query rank sequences are dense from 1
    Seq(7, 8).foreach { q =>
      val ranks = batch.collect { case ((`q`, _), (rank, _)) => rank }.toSeq.sorted
      assert(ranks === (1 to ranks.size).toSeq, s"query $q ranks dense")
    }
  }

  test("tfidfBow: micro-nat weights match the scalar reference; quieter buckets weigh more") {
    val corpus = Seq(
      (0L, "common common rare"),
      (1L, "common other"),
      (2L, "common third"))
    val got = graft.operators.Features.tfidfBow(corpus.toDF("doc_id", "text"),
      "doc_id", "text", dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // scalar reference with the same hashing and fp contract
    def bucket(t: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 64
    }
    val docs = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val tfs = docs.flatMap { case (id, ws) =>
      ws.groupBy(bucket).map { case (b, g) => (id, b) -> g.size.toLong }
    }.toMap
    val dfs = tfs.keys.groupBy(_._2).map { case (b, g) => b -> g.size.toLong }
    val nd = docs.size.toLong
    tfs.foreach { case ((id, b), tf) =>
      val idfFp = math.floor(math.log((nd + 1).toDouble / (dfs(b) + 1)) * 1e6 + 0.5).toLong
      assert(got((id, b)) === ((tf, idfFp, tf * idfFp)), s"doc $id bucket $b")
    }
    assert(got.keySet === tfs.keySet)
    // 'common' hits every doc → its bucket's idf is the minimum
    val commonIdf = got((0L, bucket("common")))._2
    assert(got.values.map(_._2).min === commonIdf)
    assert(got((0L, bucket("rare")))._2 > commonIdf)
  }

  test("hybrid RRF through the real HNSW index: fused ids come from both rankings") {
    val fused = SparkEntry.queries("hnsw_hybrid_rrf")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(fused.length === 10)
    // descending fused score, ties by id
    assert(fused.map(_._2).toSeq === fused.map(_._2).sortBy(-_).toSeq)
    // the ANN self-match (id 42 at distance 0, vector rank 1) must appear:
    // 1/61 from the vector list alone beats any lexical-only tail rank
    assert(fused.map(_._1).contains(42L), "vector self-match must survive fusion")
    // every fused score is a sum of at most two reciprocal terms
    fused.foreach { case (_, s) =>
      assert(s > 0.0 && s <= 2.0 / 61, s"rrf score $s out of range")
    }
  }

  test("bm25PhraseTopK: contiguity matters — scattered words don't match the phrase") {
    val corpus = Seq(
      (0L, "spark window join table"),        // has the phrase
      (1L, "window spark join spark window"), // has it once (plus reversed)
      (2L, "spark join window table spark"),  // words present, never adjacent
      (3L, "key value store"))
      .toDF("doc_id", "text")
    val got = Retrieval.bm25PhraseTopK(corpus, "doc_id", "text",
      Seq("spark window"), n = 2, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSet === Set(0L, 1L), "only contiguous occurrences score")
    // doc 0 is shorter (3 shingles vs 4) with the same tf → higher score
    val m = got.toMap
    assert(m(0L) > m(1L))
    // malformed phrase length rejected
    intercept[IllegalArgumentException] {
      Retrieval.bm25PhraseTopK(corpus, "doc_id", "text", Seq("three word phrase"), n = 2)
    }
  }

  test("rankedEval: exact rational precision/recall/RR; no-hit queries report zeros") {
    val ranked = Seq(
      (0, 1, 10L), (0, 2, 11L), (0, 3, 12L),
      (1, 1, 20L), (1, 2, 21L)).toDF("qid", "rank", "doc_id")
    val truth = Seq(
      (0, 11L), (0, 12L), (0, 99L),  // 2 of 3 relevant retrieved, first at rank 2
      (1, 77L))                      // nothing relevant retrieved
      .toDF("qid", "doc_id")
    val got = Retrieval.rankedEval(ranked, truth, k = 3)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(got(0) === ((3L, 2L, 2.0 / 3, 2.0 / 3, 1.0 / 2)))
    assert(got(1) === ((1L, 0L, 0.0, 0.0, 0.0)))
  }

  test("rankedEval nDCG: fixed-point literal discounts, hand-computed") {
    // weight table at k=3: floor(1e6/log2(r+1) + 0.5)
    //   r=1 -> 1000000; r=2 -> 1e6/1.58496... = 630929.75 -> 630930;
    //   r=3 -> 1e6/2 = 500000; ideal prefix sums: 1000000, 1630930, 2130930
    assert(Retrieval.ndcgWeightsFp(3) === Seq(1000000L, 630930L, 500000L))
    assert(Retrieval.ndcgIdealFp(3) === Seq(1000000L, 1630930L, 2130930L))
    val ranked = Seq(
      (0, 1, 10L), (0, 2, 11L), (0, 3, 12L),  // hits at ranks 2 and 3
      (1, 1, 20L), (1, 2, 21L),               // no hits
      (2, 1, 30L), (2, 2, 31L))               // perfect: sole relevant at rank 1
      .toDF("qid", "rank", "doc_id")
    val truth = Seq(
      (0, 11L), (0, 12L), (0, 99L), (0, 98L), // 4 relevant > k: idcg truncates at k
      (1, 77L),
      (2, 30L)).toDF("qid", "doc_id")
    val got = Retrieval.rankedEval(ranked, truth, k = 3)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(6), r.getLong(7), r.getDouble(8)))).toMap
    // q0: dcg = w(2) + w(3) = 1130930; idcg = ideal(min(4, 3)) = 2130930
    assert(got(0) === ((1130930L, 2130930L, 1130930.0 / 2130930.0)))
    // q1: no hits -> dcg 0, ndcg 0 (idcg = ideal(1))
    assert(got(1) === ((0L, 1000000L, 0.0)))
    // q2: the one relevant doc at rank 1 -> ndcg exactly 1.0
    assert(got(2) === ((1000000L, 1000000L, 1.0)))
  }

  test("postingLists: gaps prefix-sum back to doc ids; df band drops both tails") {
    // "hot" in every doc (df 5 > maxDf 4), "rare" in one (df 1 < minDf 2)
    val docs = Seq(
      (3L, "hot alpha beta"),
      (7L, "hot alpha"),
      (11L, "hot beta rare"),
      (20L, "hot alpha beta beta"), // repeat within doc: postings still distinct
      (21L, "hot gamma")).toDF("doc_id", "text")
    val out = Retrieval.postingLists(docs, "doc_id", "text", minDf = 2L, maxDf = 4L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byTok = out.groupBy(_._1)
    assert(byTok.keySet === Set("alpha", "beta"), "df band must drop hot (df 5) and rare/gamma (df 1)")
    assert(byTok("alpha").forall(_._2 === 3L) && byTok("beta").forall(_._2 === 3L))
    for ((_, rows) <- byTok) {
      val sorted = rows.sortBy(_._3)
      // delta decode: doc_id = −1 + running sum of gaps, in posting order
      val decoded = sorted.map(_._4).scanLeft(-1L)(_ + _).tail
      assert(decoded.toSeq === sorted.map(_._3).toSeq, s"gap decode mismatch: $sorted")
    }
    assert(byTok("beta").map(_._3).sorted.toSeq === Seq(3L, 11L, 20L))
  }

  test("postingBytes: LEB128 bytes hand-checked; decode round-trips to postingLists' ids") {
    // beta posts at docs 3, 11, 20 → gaps 4, 8, 9 (first from the −1
    // sentinel) → one varint byte each: 04 08 09. A wide-gap term pins the
    // multi-byte path: docs 0 and 300 → gaps 1, 300 → 01 AC02
    val docs = Seq(
      (0L, "wide alpha"),
      (3L, "beta alpha"),
      (11L, "beta"),
      (20L, "beta alpha"),
      (300L, "wide")).toDF("doc_id", "text")
    val out = Retrieval.postingBytes(docs, "doc_id", "text", minDf = 2L, maxDf = 4L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out.keySet === Set("wide", "alpha", "beta"))
    assert(out("beta") === ((3L, 3L, "040809")), "single-byte varints, doc-id order")
    assert(out("wide") === ((2L, 3L, "01AC02")), "gap 300 = AC 02 (LEB128, hex uppercase)")
    // decode round-trip against the relational posting table, every term
    val lists = Retrieval.postingLists(docs, "doc_id", "text", minDf = 2L, maxDf = 4L)
      .collect().groupBy(_.getString(0))
      .map { case (tok, rows) => tok -> rows.map(_.getLong(2)).sorted.toSeq }
    for ((tok, (_, nBytes, hex)) <- out) {
      assert(Retrieval.decodePostingHex(hex) === lists(tok), s"round-trip failed for $tok")
      assert(nBytes === hex.length / 2L)
    }
  }

  test("bm25 plan: no window, no cartesian beyond the one-row stats broadcast") {
    val docs = (0L until 100L).map(i => (i, s"w$i spark scan")).toDF("doc_id", "text")
    val plan = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("spark"), k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "BM25 must not use a window")
    assert(plan.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered")
    // the only nested-loop joins are the broadcast one-row stats / idf sides
    assert(!plan.contains("CartesianProduct"), "no unbroadcast cartesian product")
  }
}
