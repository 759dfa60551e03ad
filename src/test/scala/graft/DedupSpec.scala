package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (3L, "completely different words appear in this one here"),
  ).toDF("doc_id", "text")

  test("exact dedup flags the duplicate and keeps the lowest id as canonical") {
    val res = Dedup.exactDedup(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(res(0L) === (0L, false))
    assert(res(1L) === (0L, true))
    assert(res(2L) === (2L, false))
    assert(res(3L) === (3L, false))
  }

  test("exact dedup keeps NULL-text rows: they form their own group (null-safe join)") {
    val withNulls = Seq((0L, "same text"), (1L, null: String), (2L, null: String))
      .toDF("doc_id", "text")
    val res = Dedup.exactDedup(withNulls, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(res.size === 3, "every input row must survive, NULL text included")
    assert(res(1L) === (1L, false))
    assert(res(2L) === (1L, true), "NULL-text rows dedup against each other")
  }

  test("minhash signatures are identical for identical docs and differ otherwise") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.getString(i))).toMap
    assert(sigs(0L) === sigs(1L))
    assert(sigs(0L) !== sigs(3L))
  }

  test("lsh candidate pairs find the exact duplicate pair") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(sigs, "doc_id")
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    // lazy variant (materialize = false: no construction-time jobs, caller
    // owns persistence) returns the identical pair set
    val lazyPairs = Dedup.lshCandidatePairs(sigs, "doc_id", materialize = false)
      .select("id_a", "id_b").distinct().as[(Long, Long)].collect().toSet
    assert(lazyPairs === pairs)
  }

  test("ngram jaccard: dup pair has jaccard 1.0; near-dup in (0,1)") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, minJaccard = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) === 1.0)
    val nd = pairs((0L, 2L))
    assert(nd > 0.0 && nd < 1.0)
    assert(!pairs.contains((0L, 3L)))
  }

  test("ngram jaccard maxDf cap: one hot shingle no longer emits B² pairs; rare-shingle pairs survive") {
    // 10 docs share ONE ubiquitous shingle ("hot hot hot") and nothing else;
    // two more docs share only rare shingles (a genuine near-dup pair)
    val hot = (0L until 10L).map(i => (i, s"hot hot hot u$i v$i w$i"))
    val rare = Seq((100L, "rare alpha beta gamma delta"), (101L, "rare alpha beta gamma other"))
    val d = (hot ++ rare).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.count(p => p._1 < 100L) === 45, "without the cap the hot shingle emits all B(B-1)/2 pairs")
    val capped = Dedup.ngramJaccardPairs(d, "doc_id", "text", n = 3, maxDf = 5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists(p => p._1 < 100L), "hot-shingle-only pairs must be gone under the cap")
    assert(capped.contains((100L, 101L)), "rare-shingle pairs must survive the cap")
  }

  test("simhash of identical docs is equal; hamming distance to near-dup is small") {
    val sh = docs.select($"doc_id", Dedup.simhash($"text", 16).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) === sh(1L))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(0L), sh(2L)) < hamming(sh(0L), sh(3L)))
  }

  test("dup clusters: pair endpoints outside docs still relay; comp is a doc id") {
    // 2 and 0 are relays (not in docs): 1-2-3 must still connect, and the
    // 0 relay must not leak into comp (min DOC id wins)
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 0L), (0L, 7L)).toDF("id_a", "id_b")
    val docsOnly = Seq(1L, 3L, 5L, 7L).toDF("doc_id")
    val comp = Dedup.dupClusters(docsOnly, pairs, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 3L -> 1L, 5L -> 5L, 7L -> 5L))
  }

  test("dup clusters: a 64-node chain converges via pointer jumping") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val all = (0L until 64L).toDF("doc_id")
    val comp = Dedup.dupClusters(all, chain, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet === Set(0L), s"chain did not fully converge: ${comp.values.toSet}")
  }

  test("dup clusters: the explicit convergence check agrees with the observed count") {
    // a round's labels as (id, prev, comp): unchanged, and with one moved label
    val still = Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 3L, 3L)).toDF("id", "prev", "comp")
    val moved = Seq((1L, 1L, 1L), (2L, 2L, 1L), (3L, 3L, 3L)).toDF("id", "prev", "comp")
    Seq(still -> true, moved -> false).foreach { case (round, want) =>
      val obs = new org.apache.spark.sql.Observation()
      val cp = round.observe(obs,
        sum(when(col("comp") =!= col("prev"), 1L).otherwise(0L)).as("n_changed")).localCheckpoint()
      assert(Dedup.roundConverged(obs, cp, waitMs = 10000L) === want, "observed count")
      // an observation that never reports: the wait times out and the
      // round's labels are scanned instead
      val silent = new org.apache.spark.sql.Observation()
      assert(Dedup.roundConverged(silent, cp, waitMs = 0L) === want, "explicit fallback")
    }
    val pairs = (0L until 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (101L, 90L), (200L, 300L))
    val docs = ((0L to 41L) ++ Seq(90L, 100L, 101L, 200L, 300L, 500L)).toDF("doc_id")
    val labels = Dedup.dupClusters(docs, pairs.toDF("id_a", "id_b"), "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(40L) === 0L && labels(101L) === 90L && labels(300L) === 200L)
    assert(labels(500L) === 500L)
  }

  test("contamination: shared-shingle overlap flags only docs over the threshold") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),       // 4 shared 3-gram shingles
      (1L, "alpha beta gamma nothing else here at all"), // 1 shared shingle
      (2L, "completely unrelated words appear in this"),
    ).toDF("doc_id", "text")
    val flagged = Dedup.contamination(train, bench, "doc_id", "text", n = 3, minOverlap = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged === Map(0L -> 4L))
  }

  test("repetition stats: a repetitive doc scores high dup_ratio, prose scores zero") {
    import graft.operators.TextStats
    val d = Seq(
      (0L, "spam spam spam spam spam spam spam spam"),  // 6 shingles, 1 distinct
      (1L, "one two three four five six seven eight"),  // 6 shingles, all distinct
      (2L, "ab cd"),                                    // < n tokens → absent
    ).toDF("doc_id", "text")
    val r = TextStats.repetitionStats(d, "doc_id", "text", n = 3).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4)))).toMap
    assert(r(0L) === ((6L, 1L, 6L, 1.0 - 1.0 / 6.0)))
    assert(r(1L) === ((6L, 6L, 1L, 0.0)))
    assert(!r.contains(2L))
  }

  test("hash sampling is deterministic and respects the rate direction") {
    import graft.operators.Sampling
    val df = (0L until 1000L).toDF("doc_id")
    val a = Sampling.hashSample(df, "doc_id", lit(30)).collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(df, "doc_id", lit(30)).collect().map(_.getLong(0)).toSet
    assert(a === b) // reproducible
    assert(a.size > 200 && a.size < 400, s"~30% expected, got ${a.size}")
    val wider = Sampling.hashSample(df, "doc_id", lit(60)).collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(wider)) // rate increase only adds rows (nested samples)
  }

  test("dup clusters: transitive closure of the pair list; isolated docs keep their id") {
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val all = Seq(0L, 1L, 2L, 3L, 5L, 6L).toDF("doc_id")
    val comp = Dedup.dupClusters(all, pairs, "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 5L -> 5L, 6L -> 5L))
  }

  test("embedding bucket: near-identical vectors collide, opposite-sign vectors differ") {
    val embs = Seq(
      (0L, Array(0.5f, 0.4f, -0.3f, -0.2f, 0.1f, 0.2f, -0.5f, -0.6f)),
      (1L, Array(0.51f, 0.39f, -0.31f, -0.19f, 0.11f, 0.19f, -0.49f, -0.61f)), // tiny perturbation
      (2L, Array(-0.5f, -0.4f, 0.3f, 0.2f, -0.1f, -0.2f, 0.5f, 0.6f)),         // negated
    ).toDF("id", "vector")
    val b = embs.select($"id", Dedup.embeddingBucket($"vector", dim = 8, bits = 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(0L) === b(1L))
    assert(b(0L) !== b(2L))
  }

  test("embedding near-dup with LSH-bucket blocking finds the near pair without a label") {
    val embs = Seq(
      (0L, Array(1.0f, 0.8f, -0.5f, -0.5f, 0.9f, 0.7f, -0.4f, -0.3f)),
      (1L, Array(0.99f, 0.81f, -0.51f, -0.49f, 0.89f, 0.71f, -0.41f, -0.29f)), // near-dup of 0
      (2L, Array(-1.0f, -0.8f, 0.5f, 0.5f, -0.9f, -0.7f, 0.4f, 0.3f)),          // far (negated)
    ).toDF("id", "vector")
    val blocked = embs.withColumn("bucket", Dedup.embeddingBucket($"vector", dim = 8, bits = 4))
    val pairs = Dedup.embeddingNearDupPairs(blocked, "id", "vector", "bucket", 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }

  test("embedding bucket at bits=16: near-dups still collide, buckets spread, pairs found") {
    val rng = new scala.util.Random(7)
    val base = Array.fill(32)(rng.nextGaussian().toFloat)
    val embs = ((0L until 200L).map { i =>
      (i, Array.fill(32)(rng.nextGaussian().toFloat))
    } ++ Seq((500L, base), (501L, base.map(x => x + 0.001f)))).toDF("id", "vector")
    val bucketed = embs.withColumn("bucket", Dedup.embeddingBucket($"vector", dim = 32, bits = 16))
    // near-identical vectors agree on all 16 sign bits
    val b = bucketed.filter($"id" >= 500L).select("bucket").as[Long].collect()
    assert(b(0) === b(1))
    // 2^16 buckets over 202 random vectors: blocks stay tiny (the point of
    // raising bits with n)
    val maxBlock = bucketed.groupBy("bucket").count().agg(max("count")).head().getLong(0)
    assert(maxBlock <= 4, s"max block $maxBlock — buckets did not spread")
    val pairs = Dedup.embeddingNearDupPairs(bucketed, "id", "vector", "bucket", 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((500L, 501L)))
  }

  test("embedding near-dup maxBlock cap: a degenerate hot block emits no pairs, small blocks survive") {
    // 12 identical vectors collapse into one block; a 2-vector block holds
    // a genuine near-dup pair
    val hot = (0L until 12L).map(i => (i, Array(1.0f, 1.0f, 1.0f, 1.0f), 7))
    val ok = Seq((100L, Array(0.5f, -0.5f, 0.5f, -0.5f), 9),
                 (101L, Array(0.51f, -0.49f, 0.5f, -0.5f), 9))
    val embs = (hot ++ ok).toDF("id", "vector", "blk")
    val uncapped = Dedup.embeddingNearDupPairs(embs, "id", "vector", "blk", 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.count(_._1 < 100L) === 66, "identical-vector block emits all B(B-1)/2 pairs")
    val capped = Dedup.embeddingNearDupPairs(embs, "id", "vector", "blk", 0.1, maxBlock = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((100L, 101L)))
  }

  test("embedding near-dup pairs within block") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 1),
      (1L, Array(0.99f, 0.1f, 0.0f), 1),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(1.0f, 0.0f, 0.0f), 2),
    ).toDF("id", "vector", "label")
    val pairs = Dedup.embeddingNearDupPairs(embs, "id", "vector", "label", 0.1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L))) // 2 is orthogonal; 3 is in another block
  }

  test("source overlap matrix: cross-feed dup pairs land in the right unordered cell") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "feedA"),
      (1L, "the quick brown fox jumps over the lazy dog", "feedB"), // cross-feed dup
      (2L, "the quick brown fox jumps over the lazy dog", "feedB"), // within-B dup
      (3L, "pack my box with five dozen liquor jugs today", "feedA"),
    ).toDF("doc_id", "text", "source")
    val m = Dedup.sourceOverlapMatrix(d, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(m(("feedA", "feedB")) === 2L, "doc 0 pairs with both B copies")
    assert(m(("feedB", "feedB")) === 1L, "within-source dup counts on the diagonal")
    assert(!m.contains(("feedA", "feedA")), "doc 3 matches nothing")
  }

  test("incremental dedup: exact / near / new statuses against a corpus, corpus never self-compared") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"), // corpus-internal dup: must NOT surface
      (2L, "pack my box with five dozen liquor jugs today"),
    ).toDF("doc_id", "text")
    val newBatch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),   // verbatim re-crawl
      (11L, "the quick brown fox jumps over the sleepy dog"), // near dup of 0/1
      (12L, "completely unrelated words appear in this one"), // genuinely new
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(newBatch, corpus, "doc_id", "text", n = 3, minJaccard = 0.2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out.keySet === Set(10L, 11L, 12L), "exactly one row per NEW doc — corpus rows never report")
    assert(out(10L)._1 === "exact_dup")
    assert(out(10L)._3 === 1.0, "a verbatim copy also scores jaccard 1.0")
    assert(out(11L)._1 === "near_dup")
    assert(out(11L)._2 === 2L, "near dup of both corpus copies")
    assert(out(11L)._3 > 0.0 && out(11L)._3 < 1.0)
    assert(out(12L) === (("new", 0L, 0.0)))
  }

  test("incremental dedup maxDf cap: a corpus-hot shingle creates no matches; lazy plan is bit-equal") {
    // 10 corpus docs share ONE ubiquitous shingle; the new doc contains it too
    // plus a rare overlap with one corpus doc
    val corpus = ((0L until 10L).map(i => (i, s"hot hot hot u$i v$i w$i")) :+
      (20L, "rare alpha beta gamma delta")).toDF("doc_id", "text")
    val newBatch = Seq((100L, "hot hot hot rare alpha beta gamma other")).toDF("doc_id", "text")
    val uncapped = Dedup.incrementalDedup(newBatch, corpus, "doc_id", "text", n = 3, minJaccard = 0.01)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(uncapped(100L)._2 === 11L, "without the cap the hot shingle matches every corpus doc")
    val capped = Dedup.incrementalDedup(newBatch, corpus, "doc_id", "text",
      n = 3, minJaccard = 0.01, maxDf = 5)
    val cap = capped.collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(cap(100L)._1 === "near_dup")
    assert(cap(100L)._2 === 1L, "only the rare-shingle match survives the cap")
    val lazyOut = Dedup.incrementalDedup(newBatch, corpus, "doc_id", "text",
      n = 3, minJaccard = 0.01, maxDf = 5, materialize = false)
    assert(lazyOut.collect().toSeq.sortBy(_.getLong(0)) ===
      capped.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("lsh grouped (capped) form emits the same pairs as the self-join form; hot bands drop") {
    // 6 docs in two identical-text groups of 3 → every band collides within
    // each group; pair set must be all 3-choose-2 pairs per group per band
    val cdocs = (0L until 6L).map(i => (i, if (i < 3) "aaa bbb ccc ddd" else "eee fff ggg hhh"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(cdocs, "doc_id", "text")
    val joined = Dedup.lshCandidatePairs(sigs, "doc_id") // uncapped → self-join path
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val grouped = Dedup.lshCandidatePairs(sigs, "doc_id", maxBandSize = 100) // capped → grouped path
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(grouped === joined, "grouped HOF expansion must be bit-equal to the join form")
    assert(grouped.nonEmpty)
    // a cap below the group size drops the whole band — no partial emission
    val capped = Dedup.lshCandidatePairs(sigs, "doc_id", maxBandSize = 2)
      .collect()
    assert(capped.isEmpty, "bands over the cap are dropped entirely")
    // the capped path is a single aggregation pass: fully lazy, EXPLAIN-safe
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.lshCandidatePairs(sigs, "doc_id", maxBandSize = 100).queryExecution.executedPlan
    assert(spark.sparkContext.getPersistentRDDs.keySet === before,
      "capped path must not checkpoint/cache at construction")
    // ... and its aggregate is the size-capped collect (buffer bounded at
    // cap+1 at every stage), not collect_list-then-filter
    val plan = Dedup.lshCandidatePairs(sigs, "doc_id", maxBandSize = 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("capped_collect_long"),
      "capped path must bound the aggregation buffer, not filter after collect_list")
  }

  test("capped_collect_long: exact within cap, over-cap groups provably droppable, buffer bounded") {
    import org.apache.spark.sql.graft.TopKAggregate
    // groups of size 1..6 under cap=4: sizes 1-4 collect exactly, 5-6 surface
    // truncated at cap+1=5 so the size filter drops them — bit-equal to
    // collect_list + filter for every kept group
    val rows = (1 to 6).flatMap(g => (0 until g).map(i => (g.toLong, g * 100L + i)))
      .toDF("g", "id")
    val got = rows.groupBy("g")
      .agg(TopKAggregate.cappedCollectLong(col("id"), 4).as("ids"))
      .select(col("g"), org.apache.spark.sql.functions.array_sort(col("ids")).as("ids"),
        org.apache.spark.sql.functions.size(col("ids")).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1).toSeq, r.getInt(2))).toMap
    (1 to 4).foreach { g =>
      assert(got(g.toLong)._1 === (0 until g).map(i => g * 100L + i),
        s"group of $g within cap must collect exactly")
    }
    Seq(5, 6).foreach { g =>
      assert(got(g.toLong)._2 === 5, s"over-cap group of $g must surface at exactly cap+1")
    }
    // the buffer class itself never grows past cap+1, whatever is thrown at it
    val buf = new org.apache.spark.sql.graft.CappedLongBuffer(4)
    (0L until 1000L).foreach(buf.add)
    assert(buf.size === 5 && buf.values.length === 5)
    val other = new org.apache.spark.sql.graft.CappedLongBuffer(4)
    (0L until 1000L).foreach(other.add)
    buf.mergeFrom(other)
    assert(buf.size === 5, "merge must not grow the buffer past cap+1")
  }

  test("jaccardForPairs verifies only the given pairs; rejections visible; agrees with ngramJaccardPairs") {
    val vdocs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0 → jaccard 1.0
      (2L, "the quick brown fox jumps over the sleepy dog"), // near dup
      (3L, "completely different words appear in this one here"),
    ).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.jaccardForPairs(pairs, vdocs, "doc_id", "text", n = 3, minJaccard = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out.keySet === Set((0L, 1L), (0L, 2L), (0L, 3L)), "exactly the given pairs, no more")
    assert(out((0L, 1L)) === ((7L, 1.0, true)), "identical docs verify at exactly 1.0")
    assert(out((0L, 3L))._1 === 0L, "disjoint pair stays visible with zero intersection")
    assert(out((0L, 3L))._2 === 0.0 && !out((0L, 3L))._3)
    assert(out((0L, 2L))._2 > 0.0 && out((0L, 2L))._2 < 1.0)
    // agreement with the all-pairs operator on the pairs both cover
    val allPairs = Dedup.ngramJaccardPairs(vdocs, "doc_id", "text", n = 3, minJaccard = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(allPairs((0L, 1L)) === out((0L, 1L))._2)
    assert(allPairs((0L, 2L)) === out((0L, 2L))._2)
  }

  test("snapshotDiff: added/removed/changed/unchanged on a planted churn; fp join, not text") {
    val a = Seq((0L, "same text"), (1L, "will change"), (2L, "will vanish"))
      .toDF("doc_id", "text")
    val b = Seq((0L, "same text"), (1L, "has changed"), (3L, "brand new"))
      .toDF("doc_id", "text")
    val got = Dedup.snapshotDiff(a, b, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(got === Map(
      0L -> (("unchanged", 1, 1)), 1L -> (("changed", 1, 1)),
      2L -> (("removed", 1, 0)), 3L -> (("added", 0, 1))))
    // the join moves fingerprints, not documents: no text column survives
    // below the join
    val plan = Dedup.snapshotDiff(a, b, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    // NULL-text docs are PRESENT — presence rides explicit flags, so a
    // NULL doc in both snapshots is unchanged, one removed from B is
    // removed (not 'added' via fingerprint-null confusion)
    val an = Seq((0L, null: String), (1L, null: String)).toDF("doc_id", "text")
    val bn = Seq((0L, null: String), (2L, "real")).toDF("doc_id", "text")
    val gotN = Dedup.snapshotDiff(an, bn, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getInt(3))).toMap
    assert(gotN === Map(
      0L -> (("unchanged", 1, 1)), 1L -> (("removed", 1, 0)), 2L -> (("added", 0, 1))))
  }

  test("winnowFingerprints: equals a direct reference; shared 8-token run shares a print; short docs absent") {
    val docs = Seq(
      (0L, "a b c d e f g h i j k l"),
      (1L, "x y z a b c d e f g h q"), // shares the run "a b c d e f g h" (w+k-1 = 8 tokens)
      (2L, "p q r s t u v w"),          // 8 tokens: 4 shingles -> exactly one window
      (3L, "too few toks")              // < k tokens: absent
    ).toDF("doc_id", "text")
    val got = Dedup.winnowFingerprints(docs, "doc_id", "text", k = 5, w = 4)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

    // independent reference: same md5-prefix hash, window-min, rightmost tie
    def md5p(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.take(10), 16)
    }
    def winnow(text: String): Set[(Long, Long)] = {
      val hs = text.split(" ").sliding(5).map(w => md5p(w.mkString(" "))).toArray
      (0 to hs.length - 4).map { s =>
        val (h, negPos) = (s until s + 4).map(i => (hs(i), -(i + 1L))).min
        (-negPos, h)
      }.toSet
    }
    assert(got.keySet === Set(0L, 1L, 2L), "doc 3 has no 5-shingle and must be absent")
    Seq(0L, 1L, 2L).foreach { id =>
      val text = Seq("a b c d e f g h i j k l", "x y z a b c d e f g h q", "p q r s t u v w")(id.toInt)
      assert(got(id) === winnow(text), s"doc $id winnowing mismatch")
    }
    // the winnowing guarantee: a shared run of w+k-1 tokens -> shared print
    assert(got(0L).map(_._2).intersect(got(1L).map(_._2)).nonEmpty,
      "docs sharing an 8-token run must share at least one fingerprint hash")
    assert(got(2L).size === 1, "one window -> exactly one fingerprint")
  }

  test("winnowCandidatePairs: overlapping docs pair, disjoint don't, maxDf drops boilerplate prints") {
    val run = "a b c d e f g h i j k l"  // shared 12-token run
    val docs = Seq(
      (0L, run + " m n o p"),
      (1L, "z y " + run),
      (2L, "totally different words fill this entire document body here now")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowCandidatePairs(docs, "doc_id", "text", k = 5, w = 4, minShared = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.keySet === Set((0L, 1L)), "only the overlapping pair is a candidate")
    assert(pairs((0L, 1L)) >= 2L)
    // maxDf = 1 drops every print shared by both docs -> no pairs at all
    assert(Dedup.winnowCandidatePairs(docs, "doc_id", "text", k = 5, w = 4,
      minShared = 2, maxDf = 1).count() === 0L)
  }

  test("containmentForPairs: embedded subset scores 1.0 where Jaccard stays low; disjoint 0.0") {
    // doc 1 = doc 0's text embedded in a 3x-longer page: containment 1.0,
    // Jaccard union-dominated (< 0.5)
    val short = "the quick brown fox jumps over the lazy dog"
    val page = short + " " + (0 until 20).map(i => s"filler$i").mkString(" ")
    val vdocs = Seq(
      (0L, short), (1L, page),
      (2L, "totally unrelated content sits in this document here")
    ).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.containmentForPairs(pairs, vdocs, "doc_id", "text", n = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getInt(6))).toMap
    val (nInter, nA, nB, cont, flag) = out((0L, 1L))
    assert(nA === 7L, "9 tokens -> 7 distinct 3-shingles")
    assert(nInter === nA, "every short-doc shingle appears in the page")
    assert(cont === 1.0 && flag === 1, "embedded subset must score containment 1.0")
    assert(nB > nA)
    val jacc = Dedup.jaccardForPairs(pairs, vdocs, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(jacc((0L, 1L)) < 0.5, "the same pair is Jaccard-invisible — containment's whole point")
    assert(out((0L, 2L))._4 === 0.0 && out((0L, 2L))._5 === 0)
  }

  test("minhashEstimate: identical docs estimate 1.0; estimates live in {0, 1/h, ..., 1}") {
    val vdocs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the sleepy dog"),
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(vdocs, "doc_id", "text", n = 3, h = 4)
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("id_a", "id_b")
    val est = Dedup.minhashEstimate(pairs, sigs, "doc_id", h = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(est((0L, 1L)) === ((4L, 1.0)), "identical docs agree on every slot")
    val (nAgree, e) = est((0L, 2L))
    assert(nAgree >= 0L && nAgree <= 4L && e === nAgree / 4.0)
    // the near-dup estimate correlates with the exact Jaccard ordering
    val exact = Dedup.jaccardForPairs(pairs, vdocs, "doc_id", "text", n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(exact((0L, 1L)) === 1.0 && est((0L, 1L))._2 >= est((0L, 2L))._2)
  }

  test("corpusSketch: HLL estimates land within rsd bounds of the exact counts") {
    import graft.operators.TextStats
    val docs = (0L until 300L).map(i => (i, (0 until 20).map(j => s"w${(i * 13 + j) % 500}").mkString(" ")))
      .toDF("doc_id", "text")
    val row = TextStats.corpusSketch(docs, "doc_id", "text", rsd = 0.05).head()
    val (approxDocs, nTokens, approxVocab) = (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nTokens === 300L * 20, "token count stays exact")
    assert(math.abs(approxDocs - 300.0) / 300.0 < 0.15, s"docs estimate $approxDocs")
    val exactVocab = docs.selectExpr("explode(split(text, ' ')) AS t")
      .select("t").distinct().count()
    assert(math.abs(approxVocab - exactVocab.toDouble) / exactVocab < 0.15,
      s"vocab estimate $approxVocab vs exact $exactVocab")
  }

  test("pairMetrics: orientation-normalized precision/recall; empty sets give 0.0 not NaN") {
    val predicted = Seq((1L, 2L), (2L, 1L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val truth = Seq((2L, 1L), (4L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val m = Dedup.pairMetrics(predicted, truth).head()
    assert(m.getLong(0) === 3L, "reversed duplicate (2,1) collapses with (1,2)")
    assert(m.getLong(1) === 3L)
    assert(m.getLong(2) === 2L, "tp: {1,2} and {3,4}")
    assert(m.getDouble(3) === 2.0 / 3.0)
    assert(m.getDouble(4) === 2.0 / 3.0)
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val e = Dedup.pairMetrics(empty, truth).head()
    assert(e.getLong(0) === 0L && e.getDouble(3) === 0.0 && e.getDouble(4) === 0.0)
  }

  test("round-4 operators degrade cleanly on empty inputs (no throw, sane shapes)") {
    import graft.operators.{Features, Sampling, TextStats}
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    assert(Dedup.bloomBuild(noDocs, "text").count() === 0, "empty corpus → empty word table")
    val st = Dedup.bloomPrunedDedup(someDocs, noDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st === Map(1L -> "new"), "empty corpus → everything is new")
    assert(Dedup.bloomPrunedDedup(noDocs, someDocs, "doc_id", "text").count() === 0,
      "empty batch → empty verdicts")
    assert(TextStats.bigramLm(noDocs, "text").count() === 0)
    assert(TextStats.bpePairCounts(noDocs, "text").count() === 0)
    assert(Features.hashedBow(noDocs, "doc_id", "text").count() === 0)
    assert(Features.bowCosineTopK(Features.hashedBow(someDocs, "doc_id", "text"), "doc_id",
      queryId = 999L).count() === 0, "unknown query id → empty result, not a crash")
    val noClusters = Seq.empty[(Long, Long)].toDF("doc_id", "comp")
    assert(Sampling.leakageSafeSplit(noClusters, "doc_id", 10).count() === 0)
    val noScores = Seq.empty[(Long, Double)].toDF("doc_id", "quality")
    assert(Dedup.canonicalDocs(noClusters, noScores, "doc_id", "quality").count() === 0)
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.jaccardForPairs(noPairs, someDocs, "doc_id", "text").count() === 0)
    val thr = TextStats.adaptiveThreshold(
      Seq.empty[(Long, String, Double)].toDF("doc_id", "lang", "quality"),
      "doc_id", "lang", "quality")
    assert(thr.count() === 0)
  }

  test("bloom-pruned dedup matches the plain semi-join exactly and actually prunes") {
    val corpus = (0L until 40L).map(i => (i, s"corpus document number $i with body $i"))
      .toDF("doc_id", "text")
    val newBatch = ((100L until 110L).map(i => (i, s"corpus document number ${i - 100} with body ${i - 100}")) ++
      (200L until 230L).map(i => (i, s"genuinely new content $i never seen")))
      .toDF("doc_id", "text")
    val out = Dedup.bloomPrunedDedup(newBatch, corpus, "doc_id", "text", mBits = 1L << 16, k = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size === 40)
    (100L until 110L).foreach(i => assert(out(i) === "exact_dup", s"planted dup $i"))
    (200L until 230L).foreach(i => assert(out(i) === "new", s"new doc $i"))
    // the bloom has no false negatives: every true dup is a candidate
    val bloom = Dedup.bloomBuild(corpus, "text", mBits = 1L << 16, k = 5)
    val verdicts = Dedup.bloomProbe(bloom, newBatch, "doc_id", "text", mBits = 1L << 16, k = 5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    (100L until 110L).foreach(i => assert(verdicts(i), s"true dup $i must be a bloom candidate"))
    // and at this sizing (2^16 bits for 40 keys) it prunes essentially all new docs
    val nCandidates = verdicts.count(_._2)
    assert(nCandidates < 40, s"bloom should prune most genuinely-new docs, kept $nCandidates")
    // the word table is bounded by set bits: ≤ n_keys·k rows, ≤ mBits/64 rows
    val nWords = bloom.count()
    assert(nWords <= 40L * 5 && nWords <= (1L << 16) / 64)
  }

  test("bloom word table unions incrementally: OR of two builds equals one build of the union") {
    val a = (0L until 20L).map(i => (i, s"alpha doc $i")).toDF("doc_id", "text")
    val b = (20L until 40L).map(i => (i, s"beta doc $i")).toDF("doc_id", "text")
    val whole = Dedup.bloomBuild(a.unionAll(b), "text", mBits = 1L << 12, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val merged = Dedup.bloomBuild(a, "text", mBits = 1L << 12, k = 3)
      .unionAll(Dedup.bloomBuild(b, "text", mBits = 1L << 12, k = 3))
      .groupBy("word_idx").agg(org.apache.spark.sql.functions.bit_or(col("bits")).as("bits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === whole, "bit_or is associative — incremental extension is exact")
  }

  test("semanticDedup: transitive chain clusters to min id, far vectors and singletons keep") {
    def rot(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat, 0.01f, 0.01f)
    }
    // a-b and b-c are within maxDist (1-cos30 ≈ 0.134) but a-c is not
    // (1-cos60 = 0.5): only a per-CLUSTER verdict dedups c against a
    val embs = Seq(
      (10L, rot(10)), (11L, rot(40)), (12L, rot(70)),       // chain cluster
      (20L, Array(0.01f, 0.01f, 1.0f, 0.1f)),               // same sign bucket, far
      (30L, Array(-1.0f, -0.5f, -0.01f, -0.01f)),           // other bucket, singleton
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(embs, "vec_id", "embedding", dim = 4,
      bits = 4, maxDist = 0.2)
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(10L) === ((10L, false)), "cluster canonical keeps")
    assert(out(11L) === ((10L, true)))
    assert(out(12L) === ((10L, true)), "chained via 11 despite dist(10,12) > maxDist")
    assert(out(20L) === ((20L, false)))
    assert(out(30L) === ((30L, false)))
    assert(out.size === 5, "a verdict row for every input row")
  }

  test("semanticDecontaminate: nearest bench attributed, ties to lowest bid, clean rows sentinel") {
    // exact dyadic fractions: every product and partial sum is exact in
    // double, so train 2 — symmetric between the two bench vectors — is
    // EXACTLY equidistant and the tie must attribute to the lower bench
    // id; train 1 is nearer bench 100; train 3 points away (clean)
    val bench = Seq(
      (100L, Array(1.0f, 0.5f, 0.25f, 0.125f)),
      (101L, Array(1.0f, 0.25f, 0.5f, 0.125f))).toDF("vec_id", "embedding")
    val train = Seq(
      (1L, Array(1.0f, 0.5f, 0.25f, 0.25f)),
      (2L, Array(1.0f, 0.375f, 0.375f, 0.125f)),
      (3L, Array(-1.0f, -0.5f, -0.25f, -0.125f))).toDF("vec_id", "embedding")
    val out = Dedup.semanticDecontaminate(train, bench, "vec_id", "embedding", dim = 4,
      bits = 4, maxDist = 0.2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(1L) === (("contaminated", 100L)))
    assert(out(2L)._1 === "contaminated")
    assert(out(2L)._2 === 100L, "equidistant tie attributes to the lower bench id")
    assert(out(3L) === (("clean", -1L)))
    assert(out.size === 3, "a verdict row for every train row")
  }

  test("dupSpans: shared runs, self-repetition, minRun filter; clean docs absent") {
    val d = Seq(
      (0L, "a b c d e f g h"), // shares the "a b c d e" run with doc 1
      (1L, "x y a b c d e z"),
      (2L, "p q r s t u v w"), // clean
      (3L, "m n o m n o m n o"), // self-repetition: every 3-shingle recurs
    ).toDF("doc_id", "text")
    val spans = Dedup.dupSpans(d, "doc_id", "text", k = 3, minRun = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(spans === Set(
      (0L, 1L, 5L, 3L),  // positions 1-3 duplicated -> tokens 1..5
      (1L, 3L, 7L, 3L),  // the same run sits at positions 3-5 in doc 1
      (3L, 1L, 9L, 7L))) // one maximal run covering the whole doc
    // minRun drops the short runs, keeps the long one
    val long = Dedup.dupSpans(d, "doc_id", "text", k = 3, minRun = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(long === Set((3L, 1L, 9L, 7L)))
  }

  test("spanCoverage: union of spans counts overlapping tokens once; clean docs report 0") {
    // doc 20's duplicated shingles sit at positions 1 and 3 (position 2 is
    // unique), so the two token spans [1,3] and [3,5] overlap at token 3
    val d = Seq(
      (20L, "a b c d e q1 q2"),
      (21L, "a b c r1 r2 r3 r4"), // plants "a b c"
      (22L, "c d e s1 s2 s3 s4"), // plants "c d e"
    ).toDF("doc_id", "text")
    val cov = Dedup.spanCoverage(d, "doc_id", "text", k = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(cov(20L) === (7L, 5L), "tokens 1..5, overlap at 3 counted once")
    assert(cov(21L) === (7L, 3L))
    assert(cov(22L) === (7L, 3L))
    // a corpus with no duplicated shingle reports 0 for every doc
    val clean = Dedup.spanCoverage(
      Seq((0L, "w1 w2 w3 w4"), (1L, "v1 v2 v3 v4")).toDF("doc_id", "text"),
      "doc_id", "text", k = 3).as[(Long, Long, Long)].collect()
    assert(clean.forall(_._3 === 0L))
  }

  test("scrubSpans: corpus-known spans removed keep-first, fresh text verbatim, full dup -> empty") {
    val corpus = Seq((1L, "the quick brown fox END")).toDF("doc_id", "text")
    val fresh = Seq(
      (100L, "x1 the quick brown fox x2"), // interior span known to corpus
      (101L, "totally fresh text here"),   // untouched
      (102L, "the quick brown fox"),       // fully covered
    ).toDF("doc_id", "text")
    val out = Dedup.scrubSpans(fresh, corpus, "doc_id", "text", k = 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(100L) === (("x1 x2", 6L, 2L)), "covered tokens 2..5 removed, order kept")
    assert(out(101L) === (("totally fresh text here", 4L, 4L)))
    assert(out(102L) === (("", 4L, 0L)), "fully-duplicated doc survives as empty row")
    // empty corpus -> pure passthrough
    val pass = Dedup.scrubSpans(fresh, corpus.filter(lit(false)), "doc_id", "text", k = 3)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(pass(100L) === "x1 the quick brown fox x2")
  }

  test("hammingNearDupPairs: pigeonhole recall within 3 bits, per-band misses beyond, hot bands capped") {
    // hashes as (hi, lo) 32-bit halves; base hash spreads bits over all 4 bands
    val base = (0xABCD1234L, 0x5678DEF0L)
    def flip(h: (Long, Long), bits: Seq[Int]): (Long, Long) = bits.foldLeft(h) {
      case ((hi, lo), b) => if (b < 32) (hi, lo ^ (1L << b)) else (hi ^ (1L << (b - 32)), lo)
    }
    val rows = Seq(
      (1L, base),
      (2L, flip(base, Seq(0, 17))),          // hamming 2, both flips in lo bands
      (3L, flip(base, Seq(3, 19, 35, 52))),  // hamming 4, one flip PER band -> no shared band
      (4L, flip(base, Seq(40))),             // hamming 1
    ).map { case (id, (hi, lo)) => (id, hi, lo) }
      .toDF("id", "hi", "lo")
    val pairs = Dedup.hammingNearDupPairs(rows, "id", "hi", "lo", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // ≤3 bit flips leave at least one of 4 bands intact (pigeonhole) — found
    assert(pairs((1L, 2L)) === 2L)
    assert(pairs((1L, 4L)) === 1L)
    assert(pairs((2L, 4L)) === 3L)
    // 4 flips hitting all 4 bands share no band with the base — the
    // documented banded-LSH miss (would need more/narrower bands)
    assert(!pairs.contains((1L, 3L)))
    // hot-band cap: 50 identical hashes all land in the same 4 bands; cap
    // 10 drops those bands entirely so no pair survives, and the join
    // never materializes the 50x50 blowup
    val hot = (0L until 50L).map(i => (100L + i, 0x11112222L, 0x33334444L))
      .toDF("id", "hi", "lo")
    assert(Dedup.hammingNearDupPairs(hot, "id", "hi", "lo",
      maxHamming = 8, maxBand = 10).count() === 0L)
    // and under the cap they all pair up: 50*49/2
    assert(Dedup.hammingNearDupPairs(hot, "id", "hi", "lo",
      maxHamming = 8, maxBand = 100).count() === 50L * 49 / 2)
  }
}
