package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** End-to-end corpus preparation: the whole training-data pipeline as ONE
  * composition of the individually oracle-checked operators — the command
  * a user actually runs to turn a raw crawl into a training-ready,
  * curriculum-ordered shard set.
  *
  * Stages (each optional pieces of the q41 five-stage composite, plus the
  * final-mile selection and ordering):
  *
  *   1. quality gate — Gopher rules ([[TextStats.gopherRulesHof]], the
  *      shuffle-free HOF form) AND the composite quality score threshold;
  *   2. exact dedup — canonical doc per fingerprint
  *      ([[Dedup.exactDedup]], partial-agg + equi-join); optionally
  *      followed by NEAR dedup (`nearDedup = Some(minJaccard)`):
  *      MinHash+LSH propose → exact Jaccard verify → connected
  *      components → min-id canonical per cluster;
  *   3. decontamination (optional) — n-gram overlap vs a benchmark table
  *      ([[Dedup.contamination]]): flagged docs drop;
  *   4. token-budget selection — best-quality bins per source until the
  *      quota ([[Sampling.tokenBudgetSelect]], histogram-sized decision);
  *   5. curriculum key — quality tier × epoch-deterministic shard hash:
  *      `ck = tier · numShards + shard`, tier ascending = training order
  *      annealing TOWARD the best data (bestLast), shard hash
  *      interleaving sources within a tier. The fine order inside a
  *      bucket is (md5-prefix hash, id) — deterministic, no RNG.
  *
  * Every decision is a pure function of the input rows (md5 hashes,
  * integer arithmetic, the oracle-exact quality score), so a re-run —
  * or a different partitioning, or a recovering executor — derives the
  * identical output set and order.
  *
  * Scale shape: stages 1–2 and 4 are projections/partial-aggs with
  * equi-joins (no windows over doc streams); stage 3 shuffles only
  * benchmark-matching shingle rows; stage 5 is a projection. The only
  * window anywhere is [[Sampling.tokenBudgetSelect]]'s bin-table running
  * total (≤ 1001 rows per source per task).
  */
object Pipeline {

  /** Run stages 1–5; returns the selected docs with curriculum columns:
    * (idCol, sourceCol, textCol, n_tok, bin, tier, shard, ck).
    *
    * `materialize` (default true) materializes each stage boundary
    * (gated, deduped, near-deduped, clean) with [[Checkpoints.boundary]]:
    * every stage's operator consumes its input MORE THAN ONCE
    * (exactDedup's groupBy + join-back, the decontam anti-join,
    * tokenBudgetSelect's verdict join all read their input twice), so an
    * unmaterialized composition re-derives the whole upstream chain per
    * consumer — multiplicatively. At 100 TB each re-derivation is a full
    * corpus re-read; materialized, the corpus is scanned once per stage.
    * Each boundary runs its job when `prepare` builds it, as the
    * near-dedup operators inside already do, and the next stage plans
    * against a one-leaf plan carrying the measured stage size, so plan
    * size stays constant in the number of stages. Boundaries keep their
    * lineage (a lost executor recomputes its blocks instead of failing a
    * long prepare) and are freed by [[Checkpoints.releaseTracked]] once
    * the result is consumed. Pass false for a fully-lazy plan (EXPLAIN
    * without the boundary jobs).
    */
  def prepare(docs: DataFrame,
              idCol: String, sourceCol: String, textCol: String,
              minQuality: Double = 0.3,
              bench: Option[DataFrame] = None,
              quota: Long = Long.MaxValue,
              bins: Int = 1000,
              numShards: Int = 64,
              bestLast: Boolean = true,
              nearDedup: Option[Double] = None,
              nearMaxBand: Int = 1000,
              decontamN: Int = 3,
              decontamMinOverlap: Int = 5,
              materialize: Boolean = true): DataFrame = {
    def ckpt(df: DataFrame, stage: String): DataFrame =
      if (materialize) Checkpoints.boundary(df, s"prepare: $stage") else df
    // stage 1: quality gate (Gopher keep AND composite score)
    val gated = ckpt(docs
      .join(TextStats.gopherRulesHof(docs, idCol, textCol)
        .filter(col("keep")).select(idCol), idCol)
      .filter(TextFunctions.qualityScore(col(textCol)) >= minQuality), "gate")

    // stage 2: exact dedup — canonical rows only
    val deduped = ckpt(gated.join(
      Dedup.exactDedup(gated, idCol, textCol)
        .filter(!col("is_dup")).select(idCol), idCol), "exact dedup")

    // stage 2.5 (optional): NEAR dedup — MinHash+LSH propose, exact
    // Jaccard verify at `minJaccard`, connected components, keep the
    // min-id canonical per cluster (non-canonical members anti-join out)
    val nearDeduped = nearDedup match {
      case Some(minJaccard) =>
        val sigs = Dedup.minhashSignatures(deduped, idCol, textCol, n = 3, h = 4)
        val cand = Dedup.lshCandidatePairs(sigs, idCol, h = 4, rows = 2,
          maxBandSize = nearMaxBand).select("id_a", "id_b").distinct()
        val dupPairs = Dedup.jaccardForPairs(cand, deduped, idCol, textCol,
          n = 3, minJaccard = minJaccard).filter(col("is_dup"))
          .select("id_a", "id_b")
        val drop = Dedup.dupClusters(deduped, dupPairs, idCol)
          .filter(col(idCol) =!= col("comp")) // comp = min id = the canonical
          .select(idCol)
        ckpt(deduped.join(drop, Seq(idCol), "left_anti"), "near dedup")
      case None => deduped // already a stage boundary
    }

    // stage 3: decontamination (flagged docs drop via anti-join)
    val clean = bench match {
      case Some(b) =>
        ckpt(nearDeduped.join(Dedup.contamination(nearDeduped, b, idCol, textCol,
          n = decontamN, minOverlap = decontamMinOverlap)
          .select(idCol), Seq(idCol), "left_anti"), "decontam")
      case None => nearDeduped // already a stage boundary
    }

    // stage 4: per-source token budget (keep = 1 rows survive)
    val selected = clean.join(
      Sampling.tokenBudgetSelect(clean, idCol, sourceCol, textCol, quota, bins)
        .filter(col("keep") === 1).select(col(idCol), col("n_tok"), col("bin")),
      idCol)

    // stage 5: curriculum key — tier ascends toward the training end
    val tier = if (bestLast) col("bin") else lit(bins.toLong) - col("bin")
    selected
      .withColumn("tier", tier)
      .withColumn("h", conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
        .cast("long"))
      .withColumn("shard", pmod(col("h"), lit(numShards.toLong)))
      .withColumn("ck", col("tier") * numShards + col("shard"))
      .select(col(idCol), col(sourceCol), col(textCol),
        col("n_tok"), col("bin"), col("tier"), col("shard"), col("ck"), col("h"))
  }

  /** The crawl-native document table from parsed WARC records
    * ([[graft.sources.Warc.recordsFromFiles]] output): response records →
    * HTML boilerplate strip → URL-level FIRST-WINS dedup — the dedup every
    * crawl runs before any content fingerprinting, because the same URL
    * re-fetched across crawl segments is the dominant duplicate class and
    * collapsing it by key costs one partial-agg shuffle instead of a
    * content comparison.
    *
    * First-wins order is (path, rec) — lexicographic file path (archives
    * name files by timestamp, so path order ≈ crawl order), then record
    * index. The argmin rides a single `min(struct(...))` partial
    * aggregate: one shuffle on `url`, no window, no self-join.
    *
    * `doc_id` = xxhash64(url) — a stable 64-bit key so every downstream
    * operator (capped LSH banding, curriculum shard hash) gets the
    * long-typed id its bounded-buffer path wants; the `url` column rides
    * along for traceability.
    *
    * `canonicalizeUrls = true` runs [[TextFunctions.canonicalizeUrl]]
    * BEFORE the dedup key forms, so `HTTP://Site.COM:80/a?utm_source=x`
    * and `http://site.com/a` collapse to one fetch (first wins across
    * the canonical group). Off by default: the key then matches the raw
    * crawl manifest byte-for-byte.
    *
    * Output: (url, doc_id, source = host, text).
    */
  def docsFromWarc(records: DataFrame,
                   canonicalizeUrls: Boolean = false): DataFrame =
    records
      .filter(col("warc_type") === "response" && col("url").isNotNull &&
        length(col("url")) > 0)
      .select(
        (if (canonicalizeUrls) TextFunctions.canonicalizeUrl(col("url"))
         else col("url")).as("url"),
        col("host"), col("path"), col("rec"),
        TextFunctions.stripHtml(col("payload")).as("text"))
      .groupBy("url")
      .agg(min(struct(col("path"), col("rec"), col("host"), col("text"))).as("w"))
      .select(col("url"), xxhash64(col("url")).as("doc_id"),
        col("w.host").as("source"), col("w.text").as("text"))

  /** END-TO-END crawl-to-shards: parsed WARC records through
    * [[docsFromWarc]] (strip + URL dedup) and then the full [[prepare]]
    * stage chain — the one composition a user points at a crawl. The
    * canonical-fetch table is materialized once, as a
    * [[Checkpoints.boundary]] like [[prepare]]'s stages: every prepare
    * stage re-reads it instead of re-parsing the WARC bytes per stage.
    * Output = [[prepare]]'s columns + `url`.
    *
    * `verifyIds` (default true) guards the xxhash64(url) → doc_id key: at
    * real crawl scale (billions of URLs) a 64-bit collision is no longer
    * negligible, and an undetected one silently MERGES two distinct
    * documents through every downstream groupBy and fans out duplicate
    * rows at the url join-back. The check is one partial-agg count over
    * the already-materialized doc table (groupBy doc_id, any url-distinct
    * group > 1 → loud IllegalStateException naming a colliding pair) —
    * cheap next to the decode it rides behind.
    */
  def prepareFromWarc(records: DataFrame,
                      minQuality: Double = 0.3,
                      bench: Option[DataFrame] = None,
                      quota: Long = Long.MaxValue,
                      bins: Int = 1000,
                      numShards: Int = 64,
                      bestLast: Boolean = true,
                      nearDedup: Option[Double] = None,
                      nearMaxBand: Int = 1000,
                      decontamN: Int = 3,
                      decontamMinOverlap: Int = 5,
                      verifyIds: Boolean = true,
                      canonicalizeUrls: Boolean = false): DataFrame = {
    val docs = Checkpoints.boundary(docsFromWarc(records, canonicalizeUrls = canonicalizeUrls),
      "prepareFromWarc: canonical fetches")
    if (verifyIds) {
      val clash = docs.groupBy(col("doc_id"))
        .agg(countDistinct(col("url")).as("n_urls"), min(col("url")).as("u1"),
          max(col("url")).as("u2"))
        .filter(col("n_urls") > 1).limit(1).collect()
      clash.headOption.foreach { r =>
        throw new IllegalStateException(
          s"doc_id collision: xxhash64 maps '${r.getAs[String]("u1")}' and " +
            s"'${r.getAs[String]("u2")}' to ${r.getLong(0)} — disambiguate the key " +
            "(e.g. partition the crawl) before preparing")
      }
    }
    prepare(docs.select("doc_id", "source", "text"), "doc_id", "source", "text",
      minQuality = minQuality, bench = bench, quota = quota, bins = bins,
      numShards = numShards, bestLast = bestLast, nearDedup = nearDedup,
      nearMaxBand = nearMaxBand, decontamN = decontamN,
      decontamMinOverlap = decontamMinOverlap)
      .join(docs.select("doc_id", "url"), "doc_id")
  }

  /** Per-document prepare VERDICTS against a static corpus — the ingest
    * form of [[prepare]]'s stage ladder, one row per input doc:
    *
    *   - `rejected_quality` — fails the Gopher gate OR the quality
    *     threshold (cheapest check first: rejected docs never reach the
    *     dedup joins);
    *   - `exact_dup` / `near_dup` — [[Dedup.incrementalDedup]]'s verdict
    *     against the existing corpus (fingerprint semi-join, then
    *     df-capped cross-corpus n-gram Jaccard);
    *   - `new` — admit.
    *
    * Every row carries (n_tok, bin) so the quota decision stays
    * derivable downstream ([[budgetFromVerdicts]]) without re-reading
    * text. Each doc's verdict is a pure function of (doc, corpus) —
    * independent of the other input docs — which is exactly what makes
    * the micro-batched streaming twin
    * ([[graft.streaming.StreamingOps.streamingPrepare]]) bit-equal to
    * one big batch.
    *
    * Output: (idCol, sourceCol, status, n_tok, bin, n_near_matches,
    * best_jaccard).
    */
  def prepareVerdicts(newDocs: DataFrame, corpus: DataFrame,
                      idCol: String, sourceCol: String, textCol: String,
                      minQuality: Double = 0.3, n: Int = 3,
                      minJaccard: Double = 0.5,
                      maxDf: Int = Int.MaxValue): DataFrame = {
    val scored = newDocs.select(col(idCol), col(sourceCol), col(textCol),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tok"),
      floor(TextFunctions.qualityScore(col(textCol)) * 1000).cast("long").as("bin"))
    val gateOk = TextStats.gopherRulesHof(newDocs, idCol, textCol)
      .filter(col("keep")).select(idCol)
    // materialized once (r16): incrementalDedup reads its newDocs side
    // three times (exact fp probe, shingle table, final id frame) — each
    // read otherwise re-evaluates the whole gate chain (scoring projection
    // + Gopher semi-join + quality filter) over the batch. Same
    // shared-subtree policy as the checkpoints inside incrementalDedup.
    val gated = Checkpoints.tracked(scored.join(gateOk, Seq(idCol), "left_semi")
      .filter(TextFunctions.qualityScore(col(textCol)) >= minQuality)
      .select(col(idCol), col(textCol)))
    val dedup = Dedup.incrementalDedup(gated,
      corpus, idCol, textCol, n, minJaccard, maxDf)
    scored.join(dedup, Seq(idCol), "left")
      .select(col(idCol), col(sourceCol),
        coalesce(col("status"), lit("rejected_quality")).as("status"),
        col("n_tok"), col("bin"),
        coalesce(col("n_near_matches"), lit(0L)).as("n_near_matches"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"))
  }

  /** The token-budget decision over ACCUMULATED verdicts — admitted
    * (`status = 'new'`) docs fill per-source quality bins best-first
    * until `quota`, [[Sampling.tokenBudgetSelect]]'s exact rule applied
    * to the (n_tok, bin) columns [[prepareVerdicts]] already carries (no
    * text re-read). A pure, order-free function of the accumulated
    * verdict SET: recomputing it after every micro-batch gives the same
    * answer as one batch over the union — the streaming quota dashboard
    * with batch semantics.
    *
    * Output: admitted rows + keep ∈ {0, 1}.
    */
  def budgetFromVerdicts(verdicts: DataFrame, idCol: String, sourceCol: String,
                         quota: Long): DataFrame = {
    val admitted = verdicts.filter(col("status") === "new")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sourceCol).orderBy(col("bin").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val keep = admitted.groupBy(col(sourceCol), col("bin"))
      .agg(sum(col("n_tok")).as("bin_tok"))
      .withColumn("cum_tok", sum(col("bin_tok")).over(w))
      .withColumn("keep", (col("cum_tok") - col("bin_tok") < quota).cast("int"))
      .select(col(sourceCol), col("bin"), col("keep"))
    admitted.join(keep, Seq(sourceCol, "bin"))
      .select(col(idCol), col(sourceCol), col("n_tok"), col("bin"), col("keep"))
  }

  /** Write the prepared corpus as training-ready shards in curriculum
    * order: range-partitioned by (ck, h, id) — coarse curriculum bucket,
    * then the deterministic hash order — sorted within files, bounded by
    * `recordsPerFile`. Returns the file count.
    */
  def writeCurriculum(prepared: DataFrame, outDir: String, idCol: String,
                      recordsPerFile: Int): Int = {
    require(recordsPerFile > 0, "recordsPerFile must be positive")
    // materialize ONCE: the incoming plan is the prepare tail over its
    // last stage boundary, and the row count + write below would
    // otherwise execute it twice. A boundary (NOT localCheckpoint):
    // lineage survives, so a lost executor during the write recomputes
    // its partitions instead of failing the run, and the materializing
    // job's row count stands in for a separate count(). Skip when the
    // caller already materialized.
    val alreadyMaterialized = Checkpoints.rddId(prepared).isDefined
    val p = if (alreadyMaterialized) prepared
      else Checkpoints.boundary(prepared, "writeCurriculum: input")
    val n = Checkpoints.boundaryRows(p).getOrElse(p.count())
    val parts = math.max(1, math.ceil(n.toDouble / recordsPerFile).toInt)
    p
      .repartitionByRange(parts, col("ck"), col("h"), col(idCol))
      .sortWithinPartitions("ck", "h", idCol)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", recordsPerFile.toLong)
      .parquet(outDir)
    if (!alreadyMaterialized) Checkpoints.unpersist(p)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), prepared.sparkSession.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(outDir))
      .count(s => s.getPath.getName.endsWith(".parquet"))
  }

  /** Host-level link graph from raw crawl payloads — the web-graph
    * quality prior (a host linked by many OTHER hosts is likelier
    * reference material than one nobody links): extract `<a href>`
    * targets, keep absolute http(s) links, collapse to (src_host,
    * dst_host, n_links) edges, and join the out- and in-degree views.
    * Runs on the raw payload BEFORE the HTML strip (the strip deletes
    * exactly the markup this reads).
    *
    * Scale shape: one explode over per-doc href lists, two partial-agg
    * groupBys (edges, then each degree view over the ≤ |hosts|²-bounded
    * but in practice sparse edge table), one host join seeded from the
    * distinct crawl hosts UNION the edge endpoints — zero-link crawl
    * hosts and never-crawled link targets both keep a row (the latter
    * are the frontier a crawler would schedule next). No window, no
    * driver collect; "" (relative/non-http) targets drop before the
    * edge agg.
    *
    * Output: (host, out_links, out_hosts, in_links, in_hosts) — links
    * count every anchor, hosts count distinct endpoints; self-links
    * count in both directions of the same host row.
    */
  /** (src, dst, n) host-link edges of a raw crawl — shared by
    * [[hostLinkGraph]] and [[hostRank]].
    */
  private def linkEdges(docs: DataFrame, hostCol: String, htmlCol: String): DataFrame =
    docs
      .select(col(hostCol).as("src"),
        explode(TextFunctions.extractHrefs(col(htmlCol))).as("href"))
      .select(col("src"), TextFunctions.urlHost(col("href")).as("dst"))
      .filter(col("dst") =!= "")
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))

  def hostLinkGraph(docs: DataFrame, hostCol: String, htmlCol: String): DataFrame =
    hostLinkGraphFromEdges(docs.select(col(hostCol).as("host")),
      linkEdges(docs, hostCol, htmlCol))

  /** The degree-view join of [[hostLinkGraph]] over an ALREADY-built
    * (src, dst, n) edge table — shared with the streaming twin, whose
    * accumulated edges merge across micro-batches by plain addition
    * (edge counts are additive, so streamed ≡ one-shot exactly).
    * `crawlHosts` seeds the zero-link rows; endpoint hosts union in.
    */
  def hostLinkGraphFromEdges(crawlHosts: DataFrame, edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("host"))
      .agg(sum(col("n")).as("out_links"), count(lit(1)).as("out_hosts"))
    val in = edges.groupBy(col("dst").as("host"))
      .agg(sum(col("n")).as("in_links"), count(lit(1)).as("in_hosts"))
    crawlHosts.select(col("host"))
      .unionByName(edges.select(col("src").as("host")))
      .unionByName(edges.select(col("dst").as("host")))
      .distinct()
      .join(out, Seq("host"), "left")
      .join(in, Seq("host"), "left")
      .select(col("host"),
        coalesce(col("out_links"), lit(0L)).as("out_links"),
        coalesce(col("out_hosts"), lit(0L)).as("out_hosts"),
        coalesce(col("in_links"), lit(0L)).as("in_links"),
        coalesce(col("in_hosts"), lit(0L)).as("in_hosts"))
  }

  /** [[linkEdges]] with a public face for the streaming twin. */
  def linkEdgesOf(docs: DataFrame, hostCol: String, htmlCol: String): DataFrame =
    linkEdges(docs, hostCol, htmlCol)

  /** Anchor-text term table: (dst_host, tok, n) — how the web DESCRIBES
    * each target host, the classic off-page retrieval signal (anchor
    * terms often name a page better than its own body; a BM25 over this
    * table is "what is this host known for"). One two-group regex pulls
    * (href, inner text) pairs positionally zipped — both engines extract
    * the group lists from the SAME pattern, so the zip aligns; anchors
    * with markup inside ([^<]* misses them) or relative/non-http targets
    * drop, both documented. Tokens share the engine's whitespace
    * tokenizer; empty anchor texts contribute nothing.
    *
    * Scale shape: two `regexp_extract_all` passes over the payload (one
    * codegen'd projection), an explode per anchor, an explode per anchor
    * token, one partial-agg groupBy — no window, no join at all.
    */
  def anchorTexts(docs: DataFrame, htmlCol: String): DataFrame = {
    val pat = "<a href=\"([^\"]*)\">([^<]*)</a>"
    docs
      .select(explode(arrays_zip(
        regexp_extract_all(col(htmlCol), lit(pat), lit(1)),
        regexp_extract_all(col(htmlCol), lit(pat), lit(2)))).as("z"))
      .select(TextFunctions.urlHost(col("z.0")).as("dst"), col("z.1").as("anchor"))
      .filter(col("dst") =!= "" && col("anchor") =!= "")
      .select(col("dst"), explode(TextFunctions.tokens(col("anchor"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("dst"), col("tok")).agg(count(lit(1)).as("n"))
  }

  /** PageRank-lite over the host link graph — the centrality prior
    * Common-Crawl-style curation ranks hosts by — in EXACT fixed-point
    * integer arithmetic so the score is bit-reproducible in any engine
    * at any parallelism: ranks start at 10⁶ micro-units, each iteration
    * sends `rank·n DIV out_links` along every (src, dst, n) edge
    * (integer division — deterministic, no float accumulation), and
    * re-bases as `(1−d)·10⁶ + (d·Σ inbound) DIV den` with the damping
    * d = dampNum/dampDen applied as one integer multiply-divide.
    * Deliberate simplifications, documented: dangling-host mass is
    * dropped (not redistributed) and the iteration count is FIXED — the
    * oracle unrolls the same count; this is a curation signal, not a
    * numerically-converged eigenvector.
    *
    * Scale shape: per iteration one edge-rank equi-join, one partial-agg
    * sum by dst, one left join back to the host set — all key-partitioned,
    * no window, no driver collect; the rank table is localCheckpointed
    * every round so lineage stays O(1) in iterations (the [[graft
    * .operators.Dedup.dupClusters]] discipline). Output: (host, rank_fp)
    * in micro-units.
    */
  def hostRank(docs: DataFrame, hostCol: String, htmlCol: String,
               iterations: Int = 2, dampNum: Int = 85, dampDen: Int = 100): DataFrame = {
    require(iterations >= 1, "hostRank: at least one iteration")
    require(dampNum >= 0 && dampDen > 0 && dampNum <= dampDen, "hostRank: 0 <= damp <= 1")
    val edges = Checkpoints.tracked(linkEdges(docs, hostCol, htmlCol))
    val hosts = Checkpoints.tracked(docs.select(col(hostCol).as("host"))
      .unionByName(edges.select(col("src").as("host")))
      .unionByName(edges.select(col("dst").as("host")))
      .distinct())
    val outw = edges.groupBy(col("src")).agg(sum(col("n")).as("out_w"))
    val base = ((dampDen - dampNum).toLong * 1000000L) / dampDen
    var rank = hosts.select(col("host"), lit(1000000L).as("rank_fp"))
    for (_ <- 1 to iterations) {
      // integer DIV end-to-end (the fixed-point discipline of the rest of
      // the pipeline): exact at any magnitude — a double-divide-then-floor
      // would silently break past 2^53 for hub hosts on large crawls
      val contrib = edges
        .join(rank.withColumnRenamed("host", "src"), "src")
        .join(outw, "src")
        .select(col("dst").as("host"),
          expr("(rank_fp * n) DIV out_w").as("c"))
        .groupBy(col("host")).agg(sum(col("c")).as("inbound"))
      rank = Checkpoints.tracked(hosts
        .join(contrib, Seq("host"), "left")
        .select(col("host"),
          expr(s"${base}L + (coalesce(inbound, 0L) * $dampNum) DIV $dampDen")
            .as("rank_fp")))
    }
    rank
  }
}
