package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Packing, Pii, TextStats}

/** Training-data prep operators added round 4: sequence packing, PII
  * scrubbing, boilerplate n-grams, vocabulary coverage.
  */
class PipelinePrepSpec extends SparkSpec {
  import spark.implicits._

  test("packSequences: hierarchical prefix sum equals the naive global window exactly") {
    // 200 docs with irregular token counts and a non-trivial block split
    val docs = (0L until 200L)
      .map(i => (i, Seq.fill((i % 7 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val packed = Packing.packSequences(docs, "doc_id", "text", targetTokens = 11, blockSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // naive oracle: one global window (fine on 200 rows in a spec)
    val naive = docs
      .select(col("doc_id"), (size(split(col("text"), " "))).cast("long").as("n_tok"))
      .withColumn("start", coalesce(sum("n_tok").over(
        Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("n_tok"), expr("start div 11").as("seq_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(packed === naive)
    // sequences are contiguous id ranges: ids within a seq are consecutive
    val bySeq = packed.groupBy(_._3).values
    bySeq.foreach { g =>
      val ids = g.map(_._1).sorted
      assert(ids.last - ids.head + 1 === ids.length, s"non-contiguous sequence: ${ids.toSeq}")
    }
  }

  test("bpeEncodeIds/packTokenIds: ids round-trip to the segmenter's symbols; packing carries them in order") {
    // a corpus where "ab" then "abc" merge fast, plus multi-token docs
    val docs = Seq(
      (0L, "abc abc ab"), (1L, "abcd xy abc"), (2L, "ab ab ab ab"),
      (3L, "zq abc"), (4L, "abc"), (5L, "xy zq ab abc abcd")
    ).toDF("doc_id", "text")
    val mergesDf = TextStats.bpeTrainMerges(docs, "text", merges = 3)
    val merges = mergesDf.collect().sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val vocab = TextStats.bpeVocab(docs, "text", merges)
    val vocabMap = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // base ids are the binary-sorted corpus alphabet starting at 0; merge
    // symbols follow in rank order (first rank wins on re-derivation)
    val alphabet = docs.collect().flatMap(_.getString(1).replace(" ", "")).distinct.sorted
    alphabet.zipWithIndex.foreach { case (ch, i) =>
      assert(vocabMap(ch.toString) === i.toLong, s"base id of '$ch'")
    }
    merges.map(_._2).distinct.foreach { sym =>
      assert(vocabMap.contains(sym), s"merged symbol '$sym' missing from vocab")
    }
    // ids decode back to EXACTLY the segmenter's symbol stream per doc
    val idToSym = vocabMap.map(_.swap)
    val ids = TextStats.bpeEncodeIds(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(ids.keySet === (0L to 5L).toSet)
    assert(ids.values.forall(_.forall(_ >= 0)), "in-corpus encode has no unk ids")
    // symbol-count agreement with the counting segmenter (q80's operator)
    val counts = TextStats.bpeSegmentCounts(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    ids.foreach { case (d, arr) =>
      assert(arr.length.toLong === counts(d), s"doc $d id count vs segmenter n_syms")
    }
    // decode: re-concatenating the ids' symbols reproduces the text
    // without spaces (character-exact round trip)
    val noSpace = docs.collect().map(r => r.getLong(0) -> r.getString(1).replace(" ", "")).toMap
    ids.foreach { case (d, arr) =>
      assert(arr.map(idToSym).mkString === noSpace(d), s"doc $d decode round-trip")
    }
    // packing: sequences carry the ids in (doc, token, symbol) order and
    // their concatenation over seq_id order is the corpus id stream
    val packed = Packing.packTokenIds(docs, "doc_id", "text", merges, targetTokens = 7)
      .collect().sortBy(_.getLong(0))
    val corpusStream = (0L to 5L).flatMap(ids)
    val packedStream = packed.flatMap(_.getSeq[Long](3))
    assert(packedStream.toSeq === corpusStream, "packed concat must equal the corpus id stream")
    packed.foreach { r =>
      assert(r.getLong(2) === r.getSeq[Long](3).length.toLong, "seq_tokens = ids carried")
    }
    // an unknown character against the FROZEN vocab encodes as -1
    val unk = TextStats.bpeEncodeIds(Seq((9L, "ab#")).toDF("doc_id", "text"),
      "doc_id", "text", merges, vocab)
      .collect().head.getSeq[Long](1)
    assert(unk.contains(-1L), s"'#' must encode as unk, got $unk")
  }

  test("bpeEncodeIds: the default vocabulary assigns the same ids as the explicit bpeVocab path") {
    // supplementary-plane symbols (UTF-16 surrogate pairs) sort after
    // U+FB00 in UTF-8 byte order but before it in UTF-16 order, and
    // "abc" is derived twice ("ab"+"c", then "a"+"bc")
    val docs = Seq(
      (0L, "abc a\uD835\uDC9C \uFB00c"), (1L, "bc abc \uD83D\uDE00a"),
      (2L, "\uD835\uDC9C\uD835\uDC9C ab \uD83D\uDE00ab"), (3L, "cab \uFB00 zz")
    ).toDF("doc_id", "text")
    val merges = Seq("a b" -> "ab", "ab c" -> "abc", "b c" -> "bc", "a bc" -> "abc",
      "\uD83D\uDE00 a" -> "\uD83D\uDE00a", "\uD835\uDC9C \uD835\uDC9C" -> "\uD835\uDC9C\uD835\uDC9C")
    val vocab = TextStats.bpeVocab(docs, "text", merges)
    val explicit = TextStats.bpeEncodeIds(docs, "doc_id", "text", merges, vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val default = TextStats.bpeEncodeIds(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(default === explicit)
    assert(explicit.keySet === (0L to 3L).toSet)
    assert(explicit.values.forall(_.forall(_ >= 0)), "in-corpus encode has no unk ids")
    val vocabMap = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vocabMap.contains("\uD835\uDC9C") && vocabMap("\uFB00") < vocabMap("\uD835\uDC9C"),
      "base ids follow UTF-8 byte order")
  }

  test("sequenceStats: every sequence meets the budget before overshooting by at most one doc") {
    val docs = (0L until 100L)
      .map(i => (i, Seq.fill((i % 13 + 1).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val target = 20
    val stats = Packing.sequenceStats(docs, "doc_id", "text", targetTokens = target, blockSize = 8)
      .orderBy("seq_id").collect()
    val maxDoc = 13L
    stats.dropRight(1).foreach { r =>
      val tokens = r.getLong(2)
      // a doc is never split, so fill ∈ (target − maxDoc, target + maxDoc)
      assert(tokens > target - maxDoc && tokens < target + maxDoc,
        s"seq ${r.getLong(0)} fill $tokens outside (${target - maxDoc}, ${target + maxDoc})")
    }
    assert(stats.map(_.getLong(1)).sum === 100L, "every doc assigned exactly once")
  }

  test("pii: counts and redaction on crafted spans; clean text untouched") {
    val docs = Seq(
      (1L, "reach me at jane.doe+x@example.org or bob@sub.domain.io today"),
      (2L, "call 555-0199 or 800-1234 from 10.0.0.1"),
      (3L, "no pii here just words"),
      (4L, "mixed a@b.co 127.0.0.1 555-9999 end")
    ).toDF("doc_id", "text")
    val r = Pii.piiStats(docs, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) === ((2L, 0L, 0L)))
    assert(r(2L) === ((0L, 2L, 1L)))
    assert(r(3L) === ((0L, 0L, 0L)))
    assert(r(4L) === ((1L, 1L, 1L)))
    val red = docs.filter(col("doc_id") === 4L)
      .select(Pii.redact(col("text"))).head().getString(0)
    assert(red === "mixed <EMAIL> <IP> <PHONE> end")
    val clean = docs.filter(col("doc_id") === 3L)
      .select(Pii.redact(col("text"))).head().getString(0)
    assert(clean === "no pii here just words")
  }

  test("topNgrams: a planted boilerplate trigram ranks first by document frequency") {
    val boiler = "all rights reserved"
    val docs = (0L until 30L).map { i =>
      val body = s"doc $i unique words number${i} x${i} y${i}"
      (i, if (i % 2 == 0) s"$body $boiler" else body)
    }.toDF("doc_id", "text")
    val top = TextStats.topNgrams(docs, "doc_id", "text", n = 3, k = 5).collect()
    assert(top.head.getString(1) === boiler)
    assert(top.head.getLong(2) === 15L) // df = the 15 even docs
    assert(top.head.getLong(0) === 1L)  // rank
    // ranks are 1..k and ordering is (df desc, cf desc, shingle asc)
    assert(top.map(_.getLong(0)).toSeq === (1L to 5L))
    val key = top.map(r => (-r.getLong(2), -r.getLong(3), r.getString(1)))
    assert(key.sorted.toSeq === key.toSeq)
  }

  test("vocabCoverage: cumulative share is monotone and ends at the true corpus share") {
    val docs = Seq(
      (1L, "the the the cat sat"),
      (2L, "the cat ran far"),
      (3L, "dog ran")
    ).toDF("doc_id", "text")
    // corpus: the×4 cat×2 ran×2 sat far dog — 11 tokens
    val cov = TextStats.vocabCoverage(docs, "text", topR = 3).orderBy("rank").collect()
    assert(cov.map(_.getString(1)).toSeq === Seq("the", "cat", "ran"))
    assert(cov.map(_.getLong(2)).toSeq === Seq(4L, 2L, 2L))
    val shares = cov.map(_.getDouble(3))
    assert(shares.toSeq === Seq(4.0 / 11, 6.0 / 11, 8.0 / 11))
  }

  test("syntheticDocs: deterministic, partition-independent, stopword-bearing, length-banded") {
    val a = graft.sources.Datagen.syntheticDocs(spark, 200, numPartitions = 4)
    val b = graft.sources.Datagen.syntheticDocs(spark, 200, numPartitions = 13)
    assert(a.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq ===
      b.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq,
      "texts must not depend on the partition layout")
    val stats = TextStats.gopherRules(a, "doc_id", "text").collect()
    stats.foreach { r =>
      val n = r.getAs[Long]("n_words")
      assert(n >= 40L && n <= 119L, s"doc length $n outside the 40-119 band")
      assert(r.getAs[Long]("n_stop") >= 2L, "stopwords must be present for quality heuristics")
    }
    // hashed words keep shingles rare: no two distinct docs should be identical
    val distinctTexts = a.select("text").distinct().count()
    assert(distinctTexts === 200L)
  }

  test("chunkWindows: overlapping windows cover every token; tails shorten; short docs chunk once") {
    import spark.implicits._
    val docs = Seq(
      (0L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (1L, "a b"),                                    // shorter than the window
    ).toDF("doc_id", "text")
    val chunks = Packing.chunkWindows(docs, "doc_id", "text", window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(c => (c._1, c._2))
    val d0 = chunks.filter(_._1 == 0L)
    assert(d0.map(_._3).toSeq === Seq(1L, 4L, 7L, 10L), "starts advance by stride up to n")
    assert(d0.map(_._4).toSeq === Seq(4L, 4L, 4L, 1L), "tail chunk is short, never empty")
    assert(d0.head._5 === "t1 t2 t3 t4")
    assert(d0.last._5 === "t10")
    assert(d0.map(_._2).toSeq === Seq(0L, 1L, 2L, 3L), "chunk ids are dense from 0")
    // every token index is covered by at least one chunk
    val covered = d0.flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered === (1L to 10L).toSet)
    val d1 = chunks.filter(_._1 == 1L)
    assert(d1.toSeq === Seq((1L, 0L, 1L, 2L, "a b")))
  }

  test("gopherRules: each rule trips on its own violation; clean doc keeps") {
    import spark.implicits._
    val good = ("the and of " + Seq.tabulate(40)(i => s"word$i").mkString(" "))
    val docs = Seq(
      (0L, good),                                          // passes every rule
      (1L, "the and of too few words"),                    // word_count_ok = false
      (2L, ("the and " + Seq.fill(41)("xy").mkString(" "))),         // mean len < 3 + dup ratio high
      (3L, good.replace("word39", "supercalifragilistic")), // max word len > 15
      (4L, Seq.tabulate(43)(i => s"word$i").mkString(" ")), // no stopwords
    ).toDF("doc_id", "text")
    val r = TextStats.gopherRules(docs, "doc_id", "text")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getAs[Boolean]("keep"))
    assert(!r(1L).getAs[Boolean]("word_count_ok") && !r(1L).getAs[Boolean]("keep"))
    assert(!r(2L).getAs[Boolean]("mean_len_ok") && !r(2L).getAs[Boolean]("dup_ok"))
    assert(!r(3L).getAs[Boolean]("word_len_ok") && r(3L).getAs[Boolean]("word_count_ok"))
    assert(!r(4L).getAs[Boolean]("stop_ok") && r(4L).getAs[Boolean]("word_count_ok"))
    // reported stats are exact
    assert(r(0L).getAs[Long]("n_words") === 43L)
    assert(r(0L).getAs[Long]("n_stop") === 3L)
    assert(r(4L).getAs[Double]("dup_word_ratio") === 0.0)
  }

  test("gopherRulesHof (shuffle-free projection) is bit-equal to the relational form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val rel = TextStats.gopherRules(docs, "doc_id", "text")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].longValue())
    val hof = TextStats.gopherRulesHof(docs, "doc_id", "text")
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].longValue())
    assert(rel.length === 500)
    assert(hof.toSeq === rel.toSeq)
  }

  test("mixtureWeights: exact shares, rel weight 1.0 for the largest source, sqrt scaling") {
    import spark.implicits._
    // source a: 4 docs × 9 tokens; source b: 1 doc × 9 tokens → shares 4/5, 1/5
    val nine = "w w w w w w w w w"
    val docs = (Seq.fill(4)("a") :+ "b").zipWithIndex
      .map { case (s, i) => (i.toLong, s, nine) }.toDF("doc_id", "source", "text")
    val mw = graft.operators.Sampling.mixtureWeights(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(mw("a").getAs[Long]("n_tokens") === 36L)
    assert(mw("a").getAs[Double]("token_share") === 0.8)
    assert(mw("a").getAs[Double]("rel_weight") === 1.0)
    assert(mw("b").getAs[Double]("rel_weight") === math.sqrt(9.0) / math.sqrt(36.0))

    val norm = graft.operators.Sampling.mixtureWeightsNormalized(docs, "source", "text")
      .collect().map(r => r.getString(0) -> r.getAs[Double]("weight")).toMap
    assert(math.abs(norm.values.sum - 1.0) < 1e-12, "normalized weights sum to 1")
    // temperature 0.5 halves the 4:1 token imbalance to 2:1 in sampling weight
    assert(math.abs(norm("a") / norm("b") - 2.0) < 1e-12)
  }

  test("adaptiveThreshold: per-group percent_rank semantics, ties share a pct, singletons keep") {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.TextStats
    val df = Seq(
      // group "en": scores 1,2,2,4 → pct 0, 1/3, 1/3, 1
      (0L, "en", 1.0), (1L, "en", 2.0), (2L, "en", 2.0), (3L, "en", 4.0),
      // group "de": singleton → pct 0.0, kept at minPct 0.5? 0.0 >= 0.5 is false
      (10L, "de", 9.0),
      // group "fr": two docs → pct 0 and 1
      (20L, "fr", 1.0), (21L, "fr", 5.0),
    ).toDF("doc_id", "lang", "quality")
    val out = TextStats.adaptiveThreshold(df, "doc_id", "lang", "quality", minPct = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(4))).toMap
    assert(out(0L) === ((0.0, false)))
    assert(out(1L)._1 === 1.0 / 3.0)
    assert(out(2L)._1 === 1.0 / 3.0)
    assert(out(3L) === ((1.0, true)))
    assert(out(10L) === ((0.0, false)), "singleton group gets pct 0.0")
    assert(out(20L) === ((0.0, false)))
    assert(out(21L) === ((1.0, true)))
    // cross-check against Spark's own percent_rank on the full (small) data
    val ref = df.withColumn("p", org.apache.spark.sql.functions.percent_rank()
        .over(Window.partitionBy("lang").orderBy("quality")))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    out.foreach { case (id, (p, _)) => assert(p === ref(id), s"doc $id diverges from percent_rank") }
  }

  test("leakageSafeSplit: cluster members share a split; realized fraction tracks validPct") {
    import graft.operators.Sampling
    // 100 singleton clusters + one 5-member cluster labeled comp=3
    val clusters = ((0L until 100L).map(i => (i, i)) ++ (200L until 205L).map(i => (i, 3L)))
      .toDF("doc_id", "comp")
    val out = Sampling.leakageSafeSplit(clusters, "doc_id", validPct = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val bigCluster = out.filter(_._2 == 3L).map(_._3).toSet
    assert(bigCluster.size === 1, "every member of a cluster lands in the same split")
    val validFrac = out.count(_._3 == "valid").toDouble / out.length
    assert(validFrac > 0.0 && validFrac < 0.35, s"split fraction wildly off: $validFrac")
    // determinism: same input → same assignment
    val again = Sampling.leakageSafeSplit(clusters, "doc_id", validPct = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(again.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
  }

  test("bigramLm: counts, conditional probabilities, deterministic top-k ordering") {
    import graft.operators.TextStats
    val docs = Seq(
      (0L, "a b a b a c"), // bigrams: "a b" x2, "b a" x2, "a c" x1
      (1L, "a b"),         // "a b" x1
    ).toDF("doc_id", "text")
    val out = TextStats.bigramLm(docs, "text", topK = 10)
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("a b") === ((3L, 4L, 0.75)), "P(b|a) = 3/4")
    assert(out("a c") === ((1L, 4L, 0.25)), "P(c|a) = 1/4")
    assert(out("b a") === ((2L, 2L, 1.0)), "P(a|b) = 1")
    // per-w1 conditional probabilities sum to exactly 1
    val byW1 = TextStats.bigramLm(docs, "text", topK = 10)
      .collect().groupBy(_.getString(1)).view.mapValues(_.map(_.getDouble(4)).sum)
    byW1.foreach { case (w1, s) => assert(s === 1.0, s"P(.|$w1) must sum to 1, got $s") }
  }

  test("hashedBow: tf sums to token count; identical docs get identical features") {
    import graft.operators.Features
    val docs = Seq(
      (0L, "alpha beta alpha gamma"),
      (1L, "alpha beta alpha gamma"), // identical
      (2L, "delta epsilon"),
    ).toDF("doc_id", "text")
    val bow = Features.hashedBow(docs, "doc_id", "text", dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = bow.groupBy(_._1)
    assert(byDoc(0L).map(_._3).sum === 4L, "tf mass equals token count")
    assert(byDoc(2L).map(_._3).sum === 2L)
    assert(byDoc(0L).map(t => (t._2, t._3)).toSet === byDoc(1L).map(t => (t._2, t._3)).toSet,
      "identical text → identical sparse features")
    assert(bow.forall(t => t._2 >= 0 && t._2 < 16), "buckets in range")
  }

  test("bowCosineTopK: self-match ranks first at exactly 1.0; identical doc ties at 1.0") {
    import graft.operators.Features
    val docs = Seq(
      (0L, "alpha beta alpha gamma"),
      (1L, "alpha beta alpha gamma"), // identical to 0 → cos 1.0
      (2L, "alpha beta other words"), // partial overlap
      (3L, "totally disjoint tokens here"),
    ).toDF("doc_id", "text")
    val bow = Features.hashedBow(docs, "doc_id", "text", dim = 64)
    val top = Features.bowCosineTopK(bow, "doc_id", queryId = 0L, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top(0)._1 === 0L && top(0)._2 === 1.0, "query doc ranks itself first at exactly 1.0")
    assert(top(1)._1 === 1L && top(1)._2 === 1.0, "identical doc ties at 1.0, id tie-break")
    assert(top(2)._1 === 2L && top(2)._2 > 0.0 && top(2)._2 < 1.0)
    // doc 3 shares no TOKENS with the query, but 64 buckets can collide —
    // only assert it never outranks the genuine partial overlap
    top.find(_._1 == 3L).foreach(d3 => assert(d3._2 <= top(2)._2))
  }

  test("text -> hashedBow -> densify -> HNSW: ANN recall vs the exact BoW-cosine oracle") {
    import graft.operators.Features
    import graft.hnsw.{Hnsw, HnswParams}
    // 60 docs in 3 vocab families so cosine structure is real
    val docs = (0L until 60L).map { i =>
      val fam = i % 3
      val toks = (0 until 20).map(j => s"w${fam}_${(i + j) % 12}").mkString(" ")
      (i, toks)
    }.toDF("doc_id", "text")
    val bow = Features.hashedBow(docs, "doc_id", "text", dim = 32)
    val dense = Features.densify(bow, "doc_id", dim = 32)
    assert(dense.selectExpr("size(vector)").distinct().collect().map(_.getInt(0)).toSeq === Seq(32))
    // densify scatters exactly the sparse mass: per-doc sum(vector) == token count
    val mass = dense.selectExpr("id", "aggregate(vector, 0.0F, (a, x) -> a + x) AS s")
      .collect().map(r => r.getLong(0) -> r.getFloat(1)).toMap
    assert(mass.values.forall(_ === 20.0f), "each doc has 20 tokens of tf mass")

    val index = Hnsw.build(dense, HnswParams(dim = 32, m = 8, efConstruction = 64,
      metric = "cosine", numPartitions = 2))
    val qvec = dense.filter(col("id") === 7L).selectExpr("7L AS qid", "vector")
    val ann = Hnsw.annQuery(index, qvec, k = 10, ef = 64)
      .select("id").collect().map(_.getLong(0)).toSet
    val exact = Features.bowCosineTopK(bow, "doc_id", queryId = 7L, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = ann.intersect(exact).size.toDouble / exact.size
    assert(ann.contains(7L), "self-match must be found")
    assert(recall >= 0.8, s"ANN recall vs exact BoW-cosine was $recall")
  }

  test("bpePairCounts: corpus-weighted adjacent char pairs, repeats within a word counted") {
    import graft.operators.TextStats
    val docs = Seq(
      (0L, "aaab aaab ab"), // vocab: aaab ×2 (pairs aa,aa,ab per occurrence), ab ×1
      (1L, "x"),            // 1-char token: no pairs
    ).toDF("doc_id", "text")
    val out = TextStats.bpePairCounts(docs, "text", topK = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("aa") === 4L, "aa appears twice in 'aaab', weighted by corpus count 2")
    assert(out("ab") === 3L, "once per 'aaab' (x2) plus the standalone 'ab'")
    assert(out.size === 2, "single-char tokens contribute no pairs")
  }

  test("bowCosineTopKBatch agrees with the single-query form per qid") {
    import graft.operators.Features
    val docs = (0L until 30L).map { i =>
      (i, (0 until 15).map(j => s"t${(i * 3 + j) % 40}").mkString(" "))
    }.toDF("doc_id", "text")
    val bow = Features.hashedBow(docs, "doc_id", "text", dim = 64)
    val batch = Features.bowCosineTopKBatch(bow, "doc_id", queryIds = Seq(3L, 11L), k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    Seq(3L, 11L).foreach { qid =>
      val single = Features.bowCosineTopK(bow, "doc_id", queryId = qid, k = 5)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1) -> (r.getLong(0), 1.0 - r.getDouble(1)) }.toMap
      single.foreach { case (key, (id, dist)) =>
        assert(batch(key)._1 === id, s"rank order diverges at $key")
        assert(math.abs(batch(key)._2 - dist) < 1e-12, s"distance diverges at $key")
      }
      assert(batch((qid, 1))._1 === qid && batch((qid, 1))._2 === 0.0,
        "self-match first at distance exactly 0.0")
    }
  }

  test("canonicalDocs: best score wins, ties break to lowest id, every member flagged") {
    import graft.operators.Dedup
    val clusters = Seq(
      (0L, 0L), (1L, 0L), (2L, 0L), // cluster 0
      (5L, 5L),                     // singleton cluster
      (7L, 7L), (8L, 7L),           // cluster 7: tied best score
    ).toDF("doc_id", "comp")
    val scores = Seq(
      (0L, 0.2), (1L, 0.9), (2L, 0.5),
      (5L, 0.1),
      (7L, 0.8), (8L, 0.8),
    ).toDF("doc_id", "quality")
    val out = Dedup.canonicalDocs(clusters, scores, "doc_id", "quality")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out.size === 6, "one row per cluster member")
    assert(out(0L) === ((0L, 1L, false)))
    assert(out(1L) === ((0L, 1L, true)), "highest quality is canonical")
    assert(out(2L) === ((0L, 1L, false)))
    assert(out(5L) === ((5L, 5L, true)), "singleton is its own canonical")
    assert(out(7L) === ((7L, 7L, true)), "tie broken to lowest id")
    assert(out(8L) === ((7L, 7L, false)))
  }

  test("domainScore: target-verbatim docs score 1.0, disjoint docs 0.0, mixed in between, short docs 0") {
    import graft.operators.Sampling
    import spark.implicits._
    val target = Seq((100L, "the cat sat on the mat today")).toDF("doc_id", "text")
    val docs = Seq(
      (0L, "the cat sat on the mat today"),            // verbatim target -> 1.0
      (1L, "zzq qqz aaw wwa eer rre ttu"),             // disjoint vocabulary -> 0.0
      (2L, "the cat sat zzq qqz aaw"),                 // 2 of 5 bigrams shared
      (3L, "single"),                                  // too short for a bigram -> 0, kept
    ).toDF("doc_id", "text")
    val out = Sampling.domainScore(docs, target, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L), "every doc appears, including shingle-less ones")
    assert(out(0L)._3 === 1.0)
    assert(out(1L)._3 === 0.0)
    assert(out(2L) === ((5L, 2L, 0.4)), s"mixed doc: got ${out(2L)}")
    assert(out(3L) === ((0L, 0L, 0.0)))
  }

  test("bpeTrainMerges: hand-checkable merge sequence, deterministic ties, early stop") {
    import spark.implicits._
    import graft.operators.TextStats
    // corpus: "abab" x3, "ab" x2 -> char pairs weighted by word count:
    //   (a b): abab has 2 occurrences x3 + ab has 1 x2 = 8
    //   (b a): abab 1 x3 = 3
    // merge 1 = "a b" (8). After: abab -> "ab ab", ab -> "ab".
    //   round 2 pairs: (ab ab) x3 -> merge 2 = "ab ab" (3) -> "abab".
    //   round 3: no pairs left anywhere -> early stop.
    val docs = Seq((1L, "abab abab abab ab ab")).toDF("doc_id", "text")
    val m = TextStats.bpeTrainMerges(docs, "text", merges = 5).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq === Seq((1, "a b", "ab", 8L), (2, "ab ab", "abab", 3L)),
      s"got ${m.toSeq}")
    // deterministic tie-break: "xy" and "yx" both count 1; "x y" < "y x"
    val tie = Seq((1L, "xy yx")).toDF("doc_id", "text")
    val t = TextStats.bpeTrainMerges(tie, "text", merges = 1).collect()
    assert(t.head.getString(1) === "x y", "ties must break by pair string ascending")
    // left-to-right non-overlap: "aaa" has overlapping (a a); one merge
    // rewrites to "aa a", not "a aa"
    val tri = Seq((1L, "aaa")).toDF("doc_id", "text")
    val first = TextStats.bpeTrainMerges(tri, "text", merges = 2).collect()
    assert(first.map(r => (r.getInt(0), r.getString(1))).toSeq ===
      Seq((1, "a a"), (2, "aa a")), "greedy left-to-right rewrite order")
  }

  test("bpeSegmentCounts: train->apply round-trips; merged words collapse, others keep char counts") {
    import spark.implicits._
    import graft.operators.TextStats
    val docs = Seq(
      (1L, "abab abab abab ab ab"),
      (2L, "ab cd")).toDF("doc_id", "text")
    val learned = TextStats.bpeTrainMerges(docs, "text", merges = 5).collect()
      .sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    // merges learned on doc-1's mass: "a b" then "ab ab" (same as the
    // single-doc trace; "c d" counts 1 and loses every argmax)... unless
    // it wins round 3: assert dynamically instead
    val seg = TextStats.bpeSegmentCounts(docs, "doc_id", "text", learned).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_syms"))).toMap
    // doc 1: "abab"x3 -> 1 symbol each (both merges applied), "ab"x2 -> 1 each
    assert(seg(1L) === ((5L, 5L)), s"doc1 fully merges: got ${seg(1L)}")
    // doc 2: "ab" -> 1; "cd" -> 1 if (c d) got learned as a later merge, else 2
    val cdMerged = learned.exists(_._1 == "c d")
    assert(seg(2L) === ((2L, if (cdMerged) 2L else 3L)), s"doc2: got ${seg(2L)} learned=$learned")
  }

  test("shardAssign: deterministic + partition-independent; epochs reshuffle; positions dense per shard") {
    val docs = spark.range(0, 400).toDF("doc_id")
    val a = Packing.shardAssign(docs, "doc_id", numShards = 4, epochs = 2)
    val rows = a.collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(rows.size === 800, "every (doc, epoch) assigned exactly once")
    // deterministic and partition-layout independent
    val again = Packing.shardAssign(docs.repartition(7), "doc_id", numShards = 4, epochs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(again === rows)
    // positions are dense 0..count-1 within each (epoch, shard)
    val byShard = rows.toSeq.groupBy { case ((_, e), (s, _)) => (e, s) }
    byShard.foreach { case ((e, s), members) =>
      val ps = members.map(_._2._2).sorted
      assert(ps === (0L until ps.size.toLong), s"dense positions in epoch $e shard $s")
    }
    // the between-epoch reshuffle: most docs move shards between epochs
    // (an md5-uniform 1/numShards = 25% would stay by chance)
    val stayed = (0L until 400L).count(id => rows((id, 0L))._1 === rows((id, 1L))._1)
    assert(stayed < 200, s"epoch reshuffle: only $stayed of 400 stayed put")
    // md5-uniform balance: no shard more than 2x the ideal 100
    byShard.values.foreach(m => assert(m.size < 200))
  }

  test("datacard: exact composition stats on a crafted corpus with planted dups") {
    val docs = Seq(
      (1L, "web", "en", "aa bb cc"),   // 3 toks, 8 chars
      (2L, "web", "en", "aa bb cc"),   // exact dup of 1
      (3L, "web", "en", "x"),          // 1 tok, 1 char
      (4L, "web", "de", "yy zz"),      // own group
      (5L, "books", "en", "p q r s"),  // own group
    ).toDF("doc_id", "source", "lang", "text")
    val card = TextStats.datacard(docs, "source", "lang", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
          r.getLong(7), r.getDouble(8), r.getLong(9))).toMap
    // (n_docs, distinct, dups, chars, toks, min, median, max)
    assert(card(("web", "en")) === ((3L, 2L, 1L, 17L, 7L, 1L, 8.0, 8L)))
    assert(card(("web", "de")) === ((1L, 1L, 0L, 5L, 2L, 5L, 5.0, 5L)))
    assert(card(("books", "en")) === ((1L, 1L, 0L, 7L, 4L, 7L, 7.0, 7L)))
    assert(card.size === 3)
  }

  test("kmvVocabulary: exact under k, ~10% estimates at 10k distinct, partition-independent") {
    // big: 10,000 distinct tokens spread over 100 docs, each token twice
    // (duplicates must not move the sketch); small: 5 distinct tokens
    val big = (0 until 100).map { d =>
      val ws = (0 until 100).map(i => s"w${d * 100 + i}")
      ("big", (ws ++ ws).mkString(" "))
    }
    val small = Seq(("small", "a b c a b"), ("small", "c d e"))
    val docs = (big ++ small).toDF("source", "text")
    val got = TextStats.kmvVocabulary(docs, "source", "text", k = 128)
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3)))).toMap
    val (nS, _, estS) = got("small")
    assert(nS === 5 && estS === 5.0, "under-k groups report exact distinct counts")
    val (nB, kthB, estB) = got("big")
    assert(nB === 128)
    // deterministic fixture: this md5 draw lands at 11572.6 (1.8σ for
    // k=128, σ ≈ 1/√k ≈ 8.8%) — the bound documents the error model,
    // not a lucky hash
    assert(math.abs(estB - 10000.0) / 10000.0 < 0.2,
      s"KMV estimate $estB should sit within ~2/sqrt(k) of 10000")
    // order statistics are set properties: reshuffling partitions must
    // reproduce every byte (the dedup heap's merge is order-insensitive)
    val re = TextStats.kmvVocabulary(docs.repartition(7), "source", "text", k = 128)
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(re === got)
    assert(re("big")._2 === kthB)
  }

  test("perDomainCap: per-domain top-n by (score desc, id asc), hot domains bounded, no window") {
    import graft.operators.Sampling
    // domain a: 6 docs, two tied at the top — the tie must break to the
    // lower id; domain b: fewer docs than the cap (all kept)
    val scored = Seq(
      ("a", 10L, 0.9), ("a", 3L, 0.9), ("a", 7L, 0.5), ("a", 1L, 0.4),
      ("a", 2L, 0.3), ("a", 4L, 0.1),
      ("b", 20L, 0.8), ("b", 21L, 0.2)).toDF("source", "doc_id", "score")
    val got = Sampling.perDomainCap(scored, "doc_id", "source", "score", n = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq === Seq(
      ("a", 1, 3L, 0.9), ("a", 2, 10L, 0.9), ("a", 3, 7L, 0.5),
      ("b", 1, 20L, 0.8), ("b", 2, 21L, 0.2)))
    // the anti-domination plan must not materialize a per-domain sort
    val plan = Sampling.perDomainCap(scored, "doc_id", "source", "score", n = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "per-domain cap must run as a bounded-heap aggregate")
    // scores survive the double negation bit-exactly, including 0.0
    val zero = Seq(("z", 1L, 0.0)).toDF("source", "doc_id", "score")
    val z = Sampling.perDomainCap(zero, "doc_id", "source", "score", n = 1).collect()(0)
    assert(z.getDouble(3) === 0.0)
  }

  test("ruleAttribution: exclusive failures isolate the binding rule; co-failures don't") {
    import graft.operators.TextStats
    val good = (0 until 34).map(i => s"wrd$i").mkString(" ") + " the and"
    val docs = Seq(
      (0L, good),                                      // passes everything
      (1L, good.replace("the and", "qqqq rrrr")),      // fails ONLY stop_ok
      (2L, "the and " + (0 until 28).map(_ => "waylongtokenxxxx").mkString(" ")),
      // doc 2: 30 words, max_word_len 16 > 15 AND mean len > 10 AND dup
      // ratio 27/30 > 0.55 -> three co-failures, no exclusives
      (3L, "worda wordb the and")                      // fails ONLY word count
    ).toDF("doc_id", "text")
    val got = TextStats.ruleAttribution(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === Set("word_count_ok", "mean_len_ok", "stop_ok", "dup_ok", "word_len_ok"))
    assert(got("stop_ok") === ((1L, 1L)), "doc 1 fails stop_ok alone")
    assert(got("word_count_ok") === ((1L, 1L)), "doc 3 fails word count alone")
    assert(got("word_len_ok")._1 === 1L && got("word_len_ok")._2 === 0L,
      "doc 2's word-len failure co-occurs -> not exclusive")
    assert(got("dup_ok")._2 === 0L && got("mean_len_ok")._2 === 0L)
  }

  test("inBatchNegatives: different-label within-batch only, deterministic rank, heap not window") {
    import graft.operators.Sampling
    // one batch (numBatches = 1): labels 0/0/1/1 — each anchor's negatives
    // are exactly the other-label items, ranked by the pair hash
    val items = Seq((1L, 0), (2L, 0), (3L, 1), (4L, 1)).toDF("id", "label")
    val got = Sampling.inBatchNegatives(items, "id", "label", numBatches = 1, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byAnchor = got.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(byAnchor.keySet === Set(1L, 2L, 3L, 4L))
    assert(byAnchor(1L).toSet === Set(3L, 4L), "anchor 1's negatives are the label-1 items")
    assert(byAnchor(3L).toSet === Set(1L, 2L))
    // determinism: rank order = md5("a|c") 48-bit prefix ascending
    def h(a: Long, c: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$a|$c".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(12), 16)
    }
    assert(byAnchor(1L) === Seq(3L, 4L).sortBy(c => (h(1L, c), c)))
    // k caps the draw; same-label-only batches emit nothing
    assert(Sampling.inBatchNegatives(items, "id", "label", numBatches = 1, k = 1)
      .groupBy("anchor").count().collect().forall(_.getLong(1) === 1L))
    val same = Seq((1L, 0), (2L, 0)).toDF("id", "label")
    assert(Sampling.inBatchNegatives(same, "id", "label", numBatches = 1, k = 2).count() === 0L)
    val plan = Sampling.inBatchNegatives(items, "id", "label", numBatches = 1, k = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "per-anchor selection must be the bounded heap")
  }

  test("stripHtml: blocks drop whole, tags drop, entities decode, whitespace collapses") {
    import graft.functions.TextFunctions
    val cases = Seq(
      // script content — including embedded tags — drops WHOLE
      ("<p>keep</p><script>var a = '<p>junk</p>';</script><p>this</p>", "keep this"),
      // style blocks too; attributes on the opening tag are fine
      ("<style type=\"text/css\">p { color: red }</style>ok", "ok"),
      // entities decode; &nbsp; becomes a collapsible space
      ("a&amp;b &lt;tag&gt; c&nbsp;&nbsp;d", "a&b <tag> c d"),
      // &amp; decodes LAST: author-escaped markup displays, not re-decodes
      ("&amp;lt;code&amp;gt;", "&lt;code&gt;"),
      // multi-line block (the (?s) flag) and nested whitespace
      ("<script>\nline1\nline2\n</script> x \n\t y", "x y"),
      // plain text untouched
      ("no markup at all", "no markup at all"))
    cases.foreach { case (html, want) =>
      val got = Seq(Tuple1(html)).toDF("h")
        .select(TextFunctions.stripHtml(col("h"))).head().getString(0)
      assert(got === want, s"stripHtml($html)")
    }
  }

  test("tokenBudgetSelect: best bins fill first, one-bin overshoot, all rows present, no doc-stream window") {
    import graft.operators.Sampling
    // vary stopword ratio to spread docs across quality bins; two sources
    // with identical content so the per-source verdicts are independent
    def doc(nStop: Int): String = {
      val toks = Seq.fill(nStop)("the") ++ Seq.fill(25 - nStop)("walrus")
      toks.mkString(" ")
    }
    val docs = (for {
      src <- Seq("a", "b")
      (ns, i) <- Seq(20, 15, 10, 5, 0).zipWithIndex
      j <- 0 until 2
    } yield (src, (i * 2 + j).toLong + (if (src == "b") 100L else 0L), doc(ns)))
      .toDF("source", "doc_id", "text")
    val got = Sampling.tokenBudgetSelect(docs, "doc_id", "source", "text", quota = 60L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(got.length === 20, "every input row must be present with a verdict")
    // reference: fold bins best-first per source, keep while better bins
    // left quota room
    for (src <- Seq("a", "b")) {
      val rows = got.filter(_._1 == src)
      val binTok = rows.groupBy(_._4).view.mapValues(_.map(_._3).sum).toMap
      val sortedBins = binTok.keys.toSeq.sorted.reverse
      val expected = sortedBins.scanLeft(0L)((acc, b) => acc + binTok(b)).zip(sortedBins)
        .map { case (before, b) => b -> (if (before < 60L) 1 else 0) }.toMap
      rows.foreach { case (_, id, _, bin, keep) =>
        assert(keep === expected(bin), s"doc $id bin $bin: keep=$keep, expected ${expected(bin)}")
      }
      // kept tokens overshoot the quota by at most one bin's total
      val keptTok = rows.filter(_._5 == 1).map(_._3).sum
      val lastKeptBin = rows.filter(_._5 == 1).map(_._4).min
      assert(keptTok - binTok(lastKeptBin) < 60L)
      assert(keptTok >= math.min(60L, rows.map(_._3).sum))
    }
    // the window in the plan runs over the BIN table, not the doc stream:
    // the aggregate below it collapses to (source, bin) rows first
    val plan = Sampling.tokenBudgetSelect(docs, "doc_id", "source", "text", quota = 60L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), "bin running totals legitimately use a bounded window")
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "bin totals must partial-aggregate below the window")
  }

  test("vocabDrift: identical halves zero out, planted drift token ranks first, heap-limit not full sort") {
    import graft.operators.TextStats
    val common = (0L until 20L).map(i => (i, "alpha beta gamma delta"))
    val same = common.toDF("doc_id", "text")
    val zero = TextStats.vocabDrift(same, same, "text", topN = 5)
      .collect().map(r => r.getLong(4))
    assert(zero.forall(_ === 0L), "identical snapshots have zero drift everywhere")
    // snapshot b: the same corpus plus a burst of a new token
    val b = (common ++ Seq((100L, "spamword spamword spamword spamword"))).toDF("doc_id", "text")
    val got = TextStats.vocabDrift(same, b, "text", topN = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.head._2 === "spamword" && got.head._1 === 1L)
    // exact reference: c_a=0, c_b=4, n_a=80, n_b=84 -> |0*84 - 4*80| = 320
    assert(got.head._5 === 320L)
    // shared tokens drift by the total shift only: |20*84 - 20*80| = 80
    assert(got.tail.forall(_._5 === 80L))
    val plan = TextStats.vocabDrift(same, b, "text", topN = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "global top-N must ride per-partition heaps, not a full sort")
  }

  test("diversitySample: dense cells trim to cap in hash order, sparse survive whole, heap not window") {
    import graft.operators.Sampling
    // all-positive vectors land in one bucket (dense blob); a few
    // all-negative ones in another (sparse region)
    val vecs = (0L until 20L).map(i => (i, Array.fill(8)(0.5f))) ++
      (100L until 102L).map(i => (i, Array.fill(8)(-0.5f)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Sampling.diversitySample(df, "vec_id", "embedding", dim = 8, capPerBucket = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byBucket = got.groupBy(_._1)
    assert(byBucket.size === 2)
    val (dense, sparse) = (byBucket.maxBy(_._2.length), byBucket.minBy(_._2.length))
    assert(dense._2.length === 3, "dense cell trims to the cap")
    assert(sparse._2.length === 2, "sparse cell survives whole")
    assert(sparse._2.map(_._3).toSet === Set(100L, 101L))
    // hash-order reference for the dense bucket survivors
    val hashes = df.filter(col("vec_id") < 100)
      .select(col("vec_id"), Sampling.idHash(col("vec_id")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val wantDense = hashes.sortBy(t => (t._2, t._1)).take(3).map(_._1)
    assert(dense._2.sortBy(_._2).map(_._3).toSeq === wantDense.toSeq,
      "survivors drawn in (hash, id) order with 1-based ranks")
    val plan = Sampling.diversitySample(df, "vec_id", "embedding", 8, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && !plan.contains("Window"),
      "bounded heap, never a per-bucket sort/window")
  }

  test("embeddingOutliers: planted far vector flags, exact fold reference, partitioning-invariant, dim-keyed shuffle only") {
    import graft.operators.Features
    // 60 inliers near the origin + one planted far vector
    val vecs = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(d => ((i + d) % 5).toFloat / 100f))
    } :+ (99L, Array.fill(8)(0.9f))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Features.embeddingOutliers(df, "vec_id", "embedding", threshold = 100000000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    // reference: the same fixed-point arithmetic folded in plain Scala
    val fp = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor((x.toDouble + 1.0) * 1e6).toLong)
    }
    val n = fp.length
    val mean = Array.tabulate(8)(d => fp.map(_._2(d)).sum / n)
    val want = fp.map { case (id, v) =>
      val d2 = v.zip(mean).map { case (a, b) => (a - b) * (a - b) }.sum
      (id, d2, if (d2 > 100000000000L) 1 else 0)
    }.sortBy(_._1)
    assert(got.toSeq === want.toSeq)
    assert(got.count(_._3 == 1) === 1 && got.find(_._3 == 1).get._1 === 99L,
      "exactly the planted vector is flagged")
    val re = Features.embeddingOutliers(df.repartition(7, col("vec_id")),
      "vec_id", "embedding", threshold = 100000000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(re.toSeq === got.toSeq, "exact integers: partitioning-invariant")
    // the centroid subtree broadcasts one row; the distance pass carries
    // no corpus-sized shuffle (dim-keyed exchange only)
    val plan = Features.embeddingOutliers(df, "vec_id", "embedding", 100000000000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "centroid must broadcast")
  }

  test("epochUpsample: exact whole epochs, capped rem=0, downsample full=0, one-bin overshoot, null sources drop") {
    import graft.operators.Sampling
    def doc(n: Int): String = Seq.fill(n)("w").mkString(" ")
    // minnow: t=40 -> full=cap=3, rem=0 (no fractional)
    // mid:    t=200 -> full=1, rem=100 (whole + fractional)
    // giant:  t=600 -> full=0, rem=300 (fractional-only downsample)
    // ghost:  null text only -> no tokens -> contributes nothing
    val docs = (
      (0 until 4).map(i => ("minnow", i.toLong, doc(10))) ++
      (0 until 10).map(i => ("mid", 100L + i, doc(20))) ++
      (0 until 20).map(i => ("giant", 200L + i, doc(30))) ++
      Seq(("ghost", 900L, null: String))
    ).toDF("source", "doc_id", "text")
    val target = 300L
    val got = Sampling.epochUpsample(docs, "doc_id", "source", "text",
      targetTokens = target, maxEpochs = 3, bins = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(!got.exists(_._2 == "ghost"), "null-text source must contribute nothing")
    // reference: replicate full/rem and the bin-prefix rule in plain Scala
    val bins = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"),
        pmod(Sampling.idHash(col("doc_id")), lit(4L)).as("bin"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    for (src <- Seq("minnow", "mid", "giant")) {
      val rows = bins.filter(_._2 == src)
      val t = rows.map(_._3).sum
      val full = math.min(3L, target / t)
      val rem = if (full < 3) target - full * t else 0L
      val binTok = rows.groupBy(_._4).view.mapValues(_.map(_._3).sum).toMap
      val keptBins = binTok.keys.toSeq.sorted
        .scanLeft(0L -> -1L) { case ((acc, _), b) => (acc + binTok(b), b) }.tail
        .collect { case (cum, b) if cum - binTok(b) < rem => b }.toSet
      rows.foreach { case (id, _, _, bin) =>
        val epochs = got.filter(_._1 == id).map(_._4).sorted
        val want = (1L to full) ++ (if (keptBins(bin)) Seq(full + 1) else Nil)
        assert(epochs.toSeq === want.toSeq, s"doc $id ($src, bin $bin)")
      }
      // fractional tokens fill rem with at most one bin's overshoot
      val fracTok = rows.filter(r => keptBins(r._4)).map(_._3).sum
      if (rem > 0) {
        assert(fracTok >= math.min(rem, t))
        val lastBin = keptBins.max
        assert(fracTok - binTok(lastBin) < rem, "overshoot must be bounded by one bin")
      } else assert(fracTok === 0L, "capped source must have no fractional epoch")
    }
    // determinism under repartitioning; window over the BIN table only
    val re = Sampling.epochUpsample(docs.repartition(7, col("doc_id")), "doc_id",
      "source", "text", targetTokens = target, maxEpochs = 3, bins = 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(re.sorted.toSeq === got.sorted.toSeq, "pure function of ids: partitioning-invariant")
    val plan = Sampling.epochUpsample(docs, "doc_id", "source", "text",
      targetTokens = target, maxEpochs = 3, bins = 4)
      .queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      "bin totals must partial-aggregate below the window")
  }

  test("sourceSignature: distinctive terms rank, everywhere-tokens drop, heap not window") {
    import graft.operators.TextStats
    // "the" appears in every source (idf 0 -> dropped); "alpha" is unique
    // to a and frequent; "beta" unique to b; "gamma" in a and b but not c
    val docs = Seq(
      (0L, "a", "alpha alpha alpha the gamma"),
      (1L, "a", "alpha the"),
      (2L, "b", "beta beta the gamma"),
      (3L, "c", "the the")).toDF("doc_id", "source", "text")
    val got = TextStats.sourceSignature(docs, "source", "text", topN = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val ln3 = math.floor(math.log(3.0) * 1e6 + 0.5).toLong        // unique to one source
    val ln15 = math.floor(math.log(3.0 / 2.0) * 1e6 + 0.5).toLong // in two of three
    assert(got.toSeq === Seq(
      ("a", 1, "alpha", 4L * ln3), ("a", 2, "gamma", ln15),
      ("b", 1, "beta", 2L * ln3), ("b", 2, "gamma", ln15)),
      s"got ${got.toSeq}")
    // source c speaks only everywhere-tokens: no signature rows at all
    assert(!got.exists(_._1 == "c"))
    val plan = TextStats.sourceSignature(docs, "source", "text", topN = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "per-source topN must be the bounded heap")
  }

  test("boilerplateLines/scrubBoilerplate: host-scoped template removal, byte-stable survivors, threshold regimes, no window") {
    import graft.operators.Dedup
    // host A: 10 docs, every one carries the footer; docs 0-1 also carry a
    // promo line (df 20% — above minDocs, below minFrac). host B: 2 docs
    // sharing host A's footer TEXT — host-scoped, so on B it needs 2/2.
    val footer = "  subscribe now  " // trimmed key must match untrimmed bytes
    val a = (0L until 10L).map { i =>
      val promo = if (i < 2) "\npromo line" else ""
      (i, "A", s"content $i\n$footer$promo")
    }
    val b = Seq((100L, "B", s"only b\n$footer"), (101L, "B", "other b"))
    val docs = (a ++ b).toDF("doc_id", "host", "text")

    val flags = Dedup.boilerplateLines(docs, "doc_id", "host", "text")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    assert(flags(("A", "subscribe now")) === ((10L, 10L, 1)),
      "footer is boilerplate on A: 10/10 docs")
    assert(flags(("A", "promo line")) === ((2L, 10L, 0)),
      "promo meets minDocs but not minFrac: kept")
    assert(flags(("B", "subscribe now")) === ((1L, 2L, 0)),
      "host-scoped: the same text on B is 1/2 docs — kept there")

    val got = Dedup.scrubBoilerplate(docs, "doc_id", "host", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(5L) === ((2L, 1L, "content 5")), "footer-only doc keeps content")
    assert(got(0L) === ((3L, 1L, "content 0\npromo line")),
      "surviving lines keep order and bytes")
    assert(got(100L) === ((2L, 0L, s"only b\n$footer")),
      "B keeps the footer BYTES untrimmed — nothing removed on B")
    // lower minFrac: promo now template too; a doc of nothing but template
    // keeps its row with empty text
    val low = Dedup.scrubBoilerplate(docs, "doc_id", "host", "text",
      minDocs = 2, minFrac = 0.1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap
    assert(low(0L) === ((2L, "content 0")), "promo removed at minFrac 0.1")
    val allTpl = (docs.select(col("doc_id"), col("host"), col("text")) union
      Seq((200L, "A", footer)).toDF("doc_id", "host", "text"))
    val scrubAll = Dedup.scrubBoilerplate(allTpl, "doc_id", "host", "text")
      .filter(col("doc_id") === 200L).collect()
    assert(scrubAll.length === 1 && scrubAll(0).getString(4) === "" &&
      scrubAll(0).getLong(3) === 1L, "all-template doc keeps an empty row")
    // exact counts: partitioning-invariant
    val re = Dedup.scrubBoilerplate(docs.repartition(7, col("doc_id")),
      "doc_id", "host", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(re === got)
    val plan = Dedup.scrubBoilerplate(docs, "doc_id", "host", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "df counts and reassembly are aggregates, never a corpus window")
    // blank lines are NEVER template: they reach minFrac on nearly every
    // host, and scrubbing them would collapse paragraph structure
    val blanky = Seq((0L, "A", "para one\n\npara two"),
      (1L, "A", "other one\n\nother two")).toDF("doc_id", "host", "text")
    val bflags = Dedup.boilerplateLines(blanky, "doc_id", "host", "text")
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getInt(4)))).toMap
    assert(bflags(("A", "")) === ((2L, 2L, 0)),
      "empty key hits every doc but is excluded from the verdict")
    val bkeep = Dedup.scrubBoilerplate(blanky, "doc_id", "host", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap
    assert(bkeep(0L) === ((0L, "para one\n\npara two")),
      "paragraph breaks survive the scrub byte-for-byte")
  }

  test("blocklistContexts: one row per occurrence, windows clamp at boundaries, clean docs absent") {
    val docs = Seq(
      (0L, "a b bad c d e bad f"), // two hits, one clamped left
      (1L, "clean text only here"),
      (2L, "bad")) // single-token doc: snippet is the token itself
      .toDF("doc_id", "text")
    val out = TextStats.blocklistContexts(docs, "doc_id", "text", Seq("bad"), window = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    assert(out.toSeq === Seq(
      (0L, 3L, "bad", "a b bad c d"),
      (0L, 7L, "bad", "d e bad f"),
      (2L, 1L, "bad", "bad")))
  }

  test("kmvContainmentPairs: true subsets estimate exactly 1.0, disjoint 0.0, overlap lands between") {
    def doc(g: String, id: Long, words: Seq[String]) = (id, g, words.mkString(" "))
    val wA = (0 until 200).map(i => s"a$i")
    val wC = (0 until 200).map(i => s"c$i")
    val corpus = Seq(
      doc("small", 0L, wA.take(80)), // small ⊂ big (true subset)
      doc("big", 1L, wA), // superset of small
      doc("other", 2L, wC), // disjoint from both
      doc("mix", 3L, wA.take(100) ++ wC.take(100))) // half A, half C
      .toDF("doc_id", "g", "text")
    val out = TextStats.kmvContainmentPairs(corpus, "g", "text", n = 3, k = 32)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(out(("small", "big")) === 1.0, "a true subset estimates containment exactly 1.0")
    assert(out(("small", "other")) === 0.0 && out(("other", "big")) === 0.0)
    val mixInBig = out(("mix", "big")) // ~half of mix's shingles are A-run shingles
    assert(mixInBig > 0.2 && mixInBig < 0.8, s"partial overlap must land between, got $mixInBig")
    assert(out(("big", "small")) < 1.0, "containment is directional: the superset is not contained")
  }

  test("packBoundaries: offsets tile each sequence; <=1 overrun per sequence; consistent with packSequences") {
    // token counts 5,7,3,9,... against a budget of 10
    val docs = Seq((0L, 5), (1L, 7), (2L, 3), (3L, 9), (4L, 2), (5L, 6))
      .map { case (id, n) => (id, Seq.fill(n)("w").mkString(" ")) }
      .toDF("doc_id", "text")
    val b = Packing.packBoundaries(docs, "doc_id", "text", targetTokens = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .sortBy(_._1)
    // starts: 0,5,12,15,24,26 -> seqs 0,0,1,1,2,2; offsets 0,5,2,5,4,6
    assert(b.toSeq === Seq(
      (0L, 0L, 0L, 5L, 0), (1L, 0L, 5L, 7L, 1), (2L, 1L, 2L, 3L, 0),
      (3L, 1L, 5L, 9L, 1), (4L, 2L, 4L, 2L, 0), (5L, 2L, 6L, 6L, 1)))
    b.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.count(_._5 == 1) <= 1, "at most one budget-crossing doc per sequence")
    }
    // same assignment as packSequences on the same inputs
    val seqs = Packing.packSequences(docs, "doc_id", "text", targetTokens = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(b.forall { case (id, seq, _, _, _) => seqs(id) == seq })
  }

  test("lengthQuantiles: exact order statistics on a uniform ladder; clamp coarsens only the tail") {
    // source a: one doc of every length 1..100 -> pN is exactly N
    val a = (1 to 100).map(n => ("a", Seq.fill(n)("w").mkString(" ")))
    // source b: 97 short + 3 huge (beyond maxLen) -> p99 reports the cap
    val b = Seq.fill(97)(("b", "w w w")) ++
      Seq.fill(3)(("b", Seq.fill(50)("w").mkString(" ")))
    val out = TextStats.lengthQuantiles((a ++ b).toDF("source", "text"),
        "source", "text", maxLen = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // with maxLen=10 the ladder clamps at 10: p50 of 1..100 = 10 (cap)
    assert(out("a") === ((100L, 10L, 10L, 10L)))
    assert(out("b") === ((100L, 3L, 3L, 10L)),
      "97% at len 3 pins p50/p90; the 3 huge docs put p99 at the cap")
    val wide = TextStats.lengthQuantiles(a.toDF("source", "text"),
        "source", "text", maxLen = 4096)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4))).head
    assert(wide === ((50L, 90L, 99L)), "uncapped: pN is the exact order statistic")
  }

  test("cmsSketch: est >= true for every token; tiny width overestimates; halves merge cell-wise") {
    val docs = (0L until 60L).map(i => (i, s"w${i % 7} w${i % 13} common")).toDF("doc_id", "text")
    val audit = TextStats.cmsEstimates(docs, "text", depth = 3, width = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(audit.nonEmpty && audit.forall { case (_, t, e) => e >= t },
      "count-min may only over-count")
    assert(audit.exists { case (_, t, e) => e > t },
      "21 tokens into width 8 must collide somewhere")
    val wide = TextStats.cmsEstimates(docs, "text", depth = 3, width = 4096)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(wide.forall { case (_, t, e) => e === t },
      "collision-free width: estimates exact")
    // shard-combine: sketch(A) + sketch(B) cell-wise == sketch(A ∪ B)
    val (a, b) = (docs.filter(col("doc_id") < 30), docs.filter(col("doc_id") >= 30))
    val merged = TextStats.cmsSketch(a, "text", 3, 8)
      .unionAll(TextStats.cmsSketch(b, "text", 3, 8))
      .groupBy("seed", "bucket").agg(sum("cnt").as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val whole = TextStats.cmsSketch(docs, "text", 3, 8)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged === whole)
  }

  test("dyadicPow: exact dyadic cases, matches pow within ulps, mixture T=3/4 sits between T=1/2 and T=1") {
    val one = Seq((1.0, 0.25, 0.0625)).toDF("one", "quarter", "sixteenth")
    val r = one.select(
      TextStats.dyadicPow(col("one"), 3, 2),
      TextStats.dyadicPow(col("quarter"), 1, 1), // sqrt(1/4) = 1/2 exactly
      TextStats.dyadicPow(col("sixteenth"), 3, 2), // (1/16)^(3/4) = 1/8 exactly
      TextStats.dyadicPow(col("quarter"), 5, 3)).head()
    assert(r.getDouble(0) === 1.0 && r.getDouble(1) === 0.5 && r.getDouble(2) === 0.125)
    assert(math.abs(r.getDouble(3) - math.pow(0.25, 0.625)) < 1e-12,
      "sqrt-chain tracks pow to rounding")
    val docs = Seq((0L, "s0", "a b c d e f g h"), (1L, "s1", "a b")).toDF("doc_id", "source", "text")
    def rw(num: Int, den: Int) = TextStats.mixtureWeightsTempered(docs, "source", "text", num, den)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap.apply("s1")
    val (t12, t34) = (rw(1, 1), rw(3, 2))
    assert(t34 < t12 && t34 > 0.25, // share 2/8: T=1 gives 0.25, T=1/2 gives 0.5
      s"T=3/4 must sit strictly between proportional and sqrt, got $t34 vs sqrt $t12")
  }

  test("dsirWeights: target-like docs outrank crawl-like; short docs score (0,0); partition-independent") {
    import graft.operators.Sampling
    val target = Seq((100L, "spark scan join table spark scan join table")).toDF("doc_id", "text")
    val raw = Seq(
      (0L, "spark scan join table spark scan"), // pure target vocabulary
      (1L, "viagra casino pills viagra casino"), // vocabulary target never emits
      (2L, "spark scan viagra casino"), // mixed
      (3L, "spark")) // too short for a bigram -> (0, 0)
      .toDF("doc_id", "text")
    val out = Sampling.dsirWeights(raw, target, "doc_id", "text", n = 2, buckets = 4096)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet === Set(0L, 1L, 2L, 3L), "one row per raw doc id")
    assert(out(3L) === ((0L, 0L)), "no-bigram doc scores (0, 0)")
    assert(out(0L)._2 > out(2L)._2 && out(2L)._2 > out(1L)._2,
      s"importance must order pure-target > mixed > pure-crawl, got $out")
    assert(out(0L)._2 > 0 && out(1L)._2 < 0,
      "target-heavier-than-raw buckets pull up, target-absent buckets push down")
    // partition-independence: integer sums commute with any layout
    val rep = Sampling.dsirWeights(raw.repartition(7), target.repartition(3),
      "doc_id", "text", n = 2, buckets = 4096)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rep === out)
  }

  test("quotaSelectByScore: whole bins share a fate, kept floor dominates dropped ceiling, overshoot <= one bin") {
    import graft.operators.Sampling
    val scored = (0L until 100L).map(i => (i, i * 1000L)).toDF("doc_id", "s_fp")
    def kept(quota: Long) = Sampling.quotaSelectByScore(scored, "doc_id", "s_fp",
        quota = quota, bins = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val k10 = kept(10L)
    assert(k10.count(_._4 == 1) === 10, "uniform scores, aligned bins: exactly the top bin keeps")
    assert(k10.filter(_._4 == 1).map(_._2).min === 90000L)
    val k15 = kept(15L)
    val (keep15, drop15) = k15.partition(_._4 == 1)
    assert(keep15.size === 20, "quota 15 spills into the second bin: whole bin kept (overshoot <= one bin)")
    assert(keep15.map(_._2).min > drop15.map(_._2).max,
      "every kept score must dominate every dropped score across bin boundaries")
    assert(kept(0L).forall(_._4 == 0) && kept(1000L).forall(_._4 == 1))
  }
}
