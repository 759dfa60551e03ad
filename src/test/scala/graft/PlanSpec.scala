package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression guards: the properties the 100 TB story depends
  * on — pushdown, broadcast, partial aggregation, materialized band table —
  * asserted against the formatted physical plans so a refactor can't
  * silently regress them.
  */
class PlanSpec extends SparkSpec {

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.explainString(FormattedMode)

  test("predicate pushdown reaches the parquet scan") {
    assert(formatted("q35_range_join").contains("EqualTo(event_type,purchase)"),
      "event_type filter not pushed to the events scan")
    assert(formatted("q06_filter_valid").contains("IsNotNull(embedding)"),
      "null filter not pushed to the embeddings scan")
  }

  test("small dimension side broadcasts (q23)") {
    assert(formatted("q23_join_segment").contains("BroadcastHashJoin"))
  }

  test("aggregations partial-aggregate map-side (q22)") {
    val s = formatted("q22_lineitem_agg")
    assert("HashAggregate".r.findAllIn(s).length >= 2,
      "expected partial + final hash aggregates")
  }

  test("q12 capped banding is one pass: single scan, no self-join, no window, lazy") {
    // round-3 shape was checkpoint + band self-join (asserted here as 'Scan
    // ExistingRDD'); round 4 collapses the capped path to one grouped
    // aggregate — the signature subtree runs once from the raw scan, the
    // size guard rides the same aggregate, and pairs expand via HOFs
    val s = formatted("q12_lsh_pairs")
    // count node-detail headers: formatted explain prints each node in the
    // tree AND in the detail section
    assert("""\(\d+\) Scan parquet""".r.findAllIn(s).length === 1,
      "capped q12 must read documents exactly once")
    assert(!s.contains("Window"), "size guard must not run as a window count")
    assert(!s.contains("Join"), "capped q12 must not self-join the band table")
  }

  test("q10 exact dedup is partial-agg + equi-join, never a window over fp") {
    val s = formatted("q10_dedup_exact")
    assert(!s.contains("Window"),
      "hot fingerprints must not buffer in a single window task")
    assert("HashAggregate".r.findAllIn(s).length >= 2,
      "canonical-id must partial-aggregate map-side")
    assert(!s.contains("CartesianProduct"))
  }

  test("q106/q107 winnowing: only per-document windows; pair join is an equi-join") {
    val s6 = formatted("q106_winnowing")
    // the window must be partitioned by doc_id — a global window would
    // print 'Window [...]' with an empty partition spec; assert the
    // partition key is present in every Window node detail
    val winNodes = "Arguments: .*windowspecdefinition\\(doc_id".r
    assert("Window".r.findAllIn(s6).nonEmpty, "winnowing runs on window functions")
    assert(winNodes.findFirstIn(s6).isDefined,
      "winnowing windows must be partitioned by doc_id")
    assert(!s6.contains("CartesianProduct"))
    val s7 = formatted("q107_winnow_pairs")
    assert(!s7.contains("CartesianProduct"))
    assert(!s7.contains("BroadcastNestedLoopJoin"),
      "sketch pairing must be an equi-join on the print hash")
    assert("HashAggregate".r.findAllIn(s7).length >= 2,
      "shared-print counts must partial-aggregate")
  }

  test("q113 snapshot diff joins fingerprints, not documents") {
    val s = formatted("q113_snapshot_diff")
    assert(!s.contains("CartesianProduct"))
    assert(s.contains("FullOuter"), "churn must be one full-outer join on the id")
    // the md5 projection sits BELOW the join: the join's own output
    // schema carries fingerprints/flags, never the wide text column
    assert("md5".r.findAllIn(s).nonEmpty)
    val joinOut = """SortMergeJoin.*FullOuter""".r.findFirstIn(s)
      .orElse("""ShuffledHashJoin.*FullOuter""".r.findFirstIn(s))
    assert(joinOut.isDefined)
  }

  test("q34 range table is broadcast back to the encode projection") {
    assert(formatted("q34_quantize").contains("BroadcastHashJoin"))
  }

  test("q53 bloom probe broadcasts the word table; no window, no cartesian") {
    val s = formatted("q53_bloom_dedup")
    assert(s.contains("BroadcastHashJoin"), "bloom word table must broadcast to the probe")
    assert(!s.contains("Window"), "bloom path has no window operators")
    assert(!s.contains("CartesianProduct"))
  }

  test("q58 hashed BoW is one scan + partial/final aggregate") {
    val s = formatted("q58_hashed_bow")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(s).length === 1)
    assert("HashAggregate".r.findAllIn(s).length >= 2,
      "tf counts must partial-aggregate map-side")
  }

  test("q71 span marking is a bounded semi-join; islands window is per-document") {
    val s = formatted("q71_dup_spans")
    assert(s.contains("LeftSemi"),
      "duplicated positions must be marked by a LEFT SEMI join (fan-out <= 1 per position)")
    assert(!s.contains("CartesianProduct"))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(s).length === 2,
      "exactly two document scans: positions + per-shingle duplicate counts")
    assert(s.contains("windowspecdefinition(doc_id"),
      "the gaps-and-islands window must partition by document, never globally")
  }

  test("q73 scrub marks via semi-join, removes via anti-join, no cartesian") {
    val s = formatted("q73_span_scrub")
    assert(s.contains("LeftSemi"), "corpus-known positions are a semi-join mark")
    assert(s.contains("LeftAnti"), "covered tokens must be anti-joined out")
    assert(!s.contains("CartesianProduct"))
    assert(!s.contains("windowspecdefinition"),
      "the rebuild is a sorted in-array collect, not a per-doc window")
  }

  test("q74 semantic dedup stays block-joined end-to-end (no cartesian)") {
    val s = formatted("q74_semantic_dedup")
    assert(!s.contains("CartesianProduct"))
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "pairwise work must stay inside equi-joined blocks")
  }

  test("hot-block caps are partial-agg + anti-join, never a window (q17/q33/q74/q13)") {
    // the degenerate hot block the cap guards against is exactly the
    // partition a window count would land in one task
    for (q <- Seq("q17_embed_neardup", "q33_embed_neardup_lsh",
        "q74_semantic_dedup", "q13_jaccard_pairs", "q78_incremental_semdedup")) {
      val s = formatted(q)
      assert(!s.contains("windowspecdefinition"), s"$q: cap must not run as a window")
    }
  }

  test("q59 BoW top-k broadcasts the query vector; dot product is a hash join on bucket") {
    val s = formatted("q59_bow_topk")
    assert(s.contains("BroadcastHashJoin"), "query-vector side must broadcast")
    assert(s.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered, not a global sort")
  }

  test("q81 BM25: TakeOrdered top-k, no window, postings filter under the tf aggregate") {
    val s = formatted("q81_bm25_topk")
    assert(s.contains("TakeOrderedAndProject"), "top-k must be TakeOrdered")
    assert(!s.contains("windowspecdefinition"), "score assembly must not use a window")
    assert(!s.contains("CartesianProduct"))
    assert(s.contains("tok#") && s.contains(" IN (dup,spark,window)"),
      "the query-term isin filter must appear below the tf aggregate")
  }

  test("dedup compositions shingle the corpus once: final plan re-reads documents <= 1x") {
    // q55/q56/q64/q65/q66/q105 materialize the signature subtree
    // (localCheckpoint) before fan-out, so the executed plan reads the
    // checkpointed signatures — at most ONE residual parquet scan of
    // documents remains (the quality/truth leg); a regression that
    // re-derives signatures per consumer would surface as extra scans
    for (q <- Seq("q55_canonical_docs", "q56_leakage_split", "q64_dedup_metrics",
        "q65_minhash_estimate", "q66_triage_dedup", "q105_containment")) {
      val s = formatted(q)
      assert("""\(\d+\) Scan parquet""".r.findAllIn(s).length <= 1,
        s"$q: signature subtree must be materialized — at most one corpus scan in the final plan")
      assert(!s.contains("CartesianProduct"), s"$q: no cartesian")
    }
  }

  test("q118 crawl docs: URL first-wins is one partial-agg min, no window, no cartesian") {
    val s = formatted("q118_crawl_docs")
    assert(!s.contains("CartesianProduct"))
    assert(!s.contains("windowspecdefinition"),
      "the canonical-fetch argmin must be a min(struct) aggregate, not a window")
    assert("HashAggregate|SortAggregate|ObjectHashAggregate".r.findFirstIn(s).isDefined,
      "URL dedup rides an aggregate")
  }

  test("q116 prepare: stage boundaries materialized — final plan reads no parquet") {
    // every prepare stage consumes its input twice; each boundary is a
    // Checkpoints.boundary (materialized once, lineage-keeping — a lost
    // executor recomputes instead of failing the run), so the OPTIMIZED
    // plan must read boundary leaves, never re-derive parquet subtrees,
    // and hold no CacheManager entry. Formatted text can't tell a
    // boundary leaf from another RDD scan, so this guard walks the
    // logical plan objects.
    val lp = SparkEntry.queries("q116_prepare")(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan
    val raw = lp.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(raw.isEmpty,
      "q116 final plan must read stage-boundary leaves, not re-derive parquet subtrees")
    val boundaries = lp.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD
        if Option(l.rdd.name).exists(_.startsWith(graft.operators.Checkpoints.BoundaryPrefix)) => l
    }
    assert(boundaries.nonEmpty, "stage boundaries must appear as boundary LogicalRDD leaves")
    assert(lp.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }.isEmpty, "stage boundaries must not be CacheManager entries")
    assert(!formatted("q116_prepare").contains("CartesianProduct"))
  }

  test("q83 LM scoring: no window, bigram join is an equi-join, integer totals") {
    val s = formatted("q83_lm_score")
    assert(!s.contains("windowspecdefinition"), "doc totals are partial aggs, not windows")
    assert(!s.contains("CartesianProduct"))
    assert(!s.contains("BroadcastNestedLoopJoin"),
      "the bigram log-prob join must stay an equi-join")
  }

  test("score selectors materialize their upstream once: q130/q132 final plans read checkpoints, no parquet") {
    // quotaSelectByScore / thresholdSweep localCheckpoint the slim score
    // projection (range + binned stream + totals all consume it); a
    // regression re-derives the whole DSIR chain / NB scorer per consumer
    // and surfaces as parquet scans in the final plan
    for (q <- Seq("q130_dsir_select", "q132_pr_sweep")) {
      val s = formatted(q)
      assert(!"""\(\d+\) Scan parquet""".r.findFirstIn(s).isDefined,
        s"$q: the selector must read the checkpointed scores, not re-derive the corpus")
      assert(!s.contains("CartesianProduct"), s"$q: no cartesian")
    }
  }

  test("link tier: no window, no cartesian, degree joins stay equi-joins") {
    for (q <- Seq("q137_link_graph", "q138_host_rank", "q139_anchor_texts")) {
      val s = formatted(q)
      assert(!s.contains("windowspecdefinition"), s"$q: no window anywhere")
      assert(!s.contains("CartesianProduct"), s"$q: no cartesian")
      assert(!s.contains("BroadcastNestedLoopJoin"), s"$q: joins stay equi-joins")
    }
  }
}
