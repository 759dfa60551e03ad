package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.functions.TextFunctions
import graft.hnsw.{Hnsw, HnswParams}

/** Input row for the stateful sessionizer: one event. */
case class SessionEvent(user_id: Long, event_id: Long, ts: Timestamp)

/** Per-user open-session state (epoch millis; counts). */
case class SessionState(startMs: Long, lastMs: Long, n: Long)

/** One closed session. */
case class SessionOut(user_id: Long, session_start: Timestamp, n_events: Long, duration_ms: Long)

/** Structured Streaming surface: incremental index maintenance (the
  * streaming twin of the reference's `add_point` real-time insert,
  * `hsnw_trial.py:197-265`), streaming dedup and event-time windowed
  * aggregation with watermarks.
  *
  * Design: the reference serializes inserts behind one lock; the streaming
  * engine instead treats each micro-batch as a new set of immutable
  * sub-graph partitions appended to the index directory (`foreachBatch` →
  * partition-parallel build → parquet append). Queries see every appended
  * partition through the same per-partition search + global top-k merge,
  * so freshness is one micro-batch behind at most — and nothing ever
  * rewrites existing graph partitions (cheap at 100 TB: append-only).
  */
object StreamingOps {

  /** Append one (micro-)batch of vectors to an index directory as fresh
    * sub-graph partitions. Exposed for both the foreachBatch sink and
    * direct batch use. `batchPartitions` bounds sub-graph size; pids are
    * offset to stay disjoint from existing partitions.
    */
  def appendBatch(batch: DataFrame, dir: String, params: HnswParams, batchId: Long): Unit = {
    if (batch.isEmpty) return
    val built = Hnsw.build(batch.select("id", "vector"), params)
    // disjoint pid space per batch: pid' = pid + (batchId+1) * numPartitions
    val offset = (batchId + 1) * params.numPartitions
    val withOffset = built.copy(
      nodes = built.nodes.withColumn("pid", (col("pid") + lit(offset)).cast("int")),
      edges = built.edges.withColumn("pid", (col("pid") + lit(offset)).cast("int")))
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/meta.json"))) {
      Hnsw.save(withOffset, dir) // bootstrap: first batch creates the index
    } else {
      withOffset.nodes.write.mode("append").parquet(s"$dir/vectors")
      withOffset.edges.write.mode("append").parquet(s"$dir/edges")
      // appended vectors carry no byte codes — a surviving PQ sidecar
      // would silently exclude them from ADC-coarse candidate draws (and a
      // calibration curve measured on the old vector set would mispredict).
      // This invalidates the ON-DISK artifacts only: a LIVE HnswIndex
      // value loaded before the append keeps its attached in-memory curve
      // and codes — re-load (and re-register: IndexRegistry re-validates
      // the dir's num_nodes marker at rewrite time, so a stale
      // registration stops consuming its curve but still serves the old
      // node snapshot) after appends.
      Hnsw.dropPqSidecar(batch.sparkSession, dir)
      Hnsw.dropCalibration(dir)
      // incremental meta refresh: the BATCH's own top (already computed by
      // its build) against current meta.json — per-batch cost is O(batch),
      // never a re-scan of the whole appended index. Entry rule preserved:
      // level DESC, id ASC — the stored entry only changes if the batch
      // strictly beats it, which is exactly the global argmax maintained
      // inductively.
      val cur = Hnsw.loadMeta(dir)
      val bm = built.meta
      // node_rows AND num_nodes are maintained the same way: summed
      // incrementally, -1 when either side is unknown. Bumping only
      // node_rows would silently break the IndexMeta invariant that
      // node_rows / num_nodes measures the ghost share (it would drift
      // toward the ghostFactor clamp over a long non-routed stream);
      // num_nodes double-counts re-delivered ids exactly like
      // appendBatchRouted does (documented there — compaction restores
      // the exact count)
      val appendedRows =
        if (cur.node_rows >= 0 && bm.node_rows >= 0) cur.node_rows + bm.node_rows else -1L
      val appendedNodes =
        if (cur.num_nodes >= 0 && bm.num_nodes >= 0) cur.num_nodes + bm.num_nodes else -1L
      if (bm.max_layer > cur.max_layer ||
          (bm.max_layer == cur.max_layer && bm.entry_point < cur.entry_point))
        Hnsw.saveMeta(cur.copy(entry_point = bm.entry_point, max_layer = bm.max_layer,
          num_nodes = appendedNodes, node_rows = appendedRows), dir)
      else Hnsw.saveMeta(cur.copy(num_nodes = appendedNodes, node_rows = appendedRows), dir)
    }
    // the per-batch build cache must not outlive the batch (long streams)
    built.nodes.unpersist()
  }

  /** Streaming incremental index add: vectors stream (id, vector) →
    * append-only sub-graph partitions per micro-batch.
    */
  def incrementalAdd(stream: DataFrame, dir: String, params: HnswParams): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, dir, params, batchId)
      }

  /** Append one micro-batch to a ROUTED index directory ([[Hnsw
    * .buildRouted]]) without losing the routing property — the gap
    * [[appendBatch]] leaves: its isolated sub-graphs carry no routing
    * rows, so a routed query would silently never search appended data.
    *
    * Mechanism: batch vectors are assigned to the EXISTING cell geometry
    * (same spill rule as the build — [[Hnsw.assignToCells]]), land in
    * per-batch shards aligned with the home sharding (cell home pid p →
    * batch shard `offset + p`), and the routing table gains one row per
    * cell the batch ACTUALLY LANDED IN, mapping it to the new shard —
    * not one per cell of a touched home pid, which would make a probe of
    * any sibling cell ship the whole batch shard as batches accumulate.
    * [[Hnsw.annQueryRouted]] then finds appended vectors through the same
    * probe: a probed cell fans out to ALL its pids — home and appended —
    * via the routing join. Nothing rewrites existing partitions;
    * per-batch cost is O(batch). Centroid geometry is never refit here
    * (k-means drift across appends is a compaction-time concern:
    * [[Hnsw.rebuild]]/[[Hnsw.buildRouted]]).
    *
    * The batch shard pid block is derived from the MAX PID already in the
    * routing table (rounded up to the next multiple of P), never from
    * `batchId` — so a stream restart that resets batchIds cannot collide
    * a new batch's pids with an earlier batch's sub-graphs. A re-DELIVERED
    * batch (foreachBatch retry after a sink failure) lands in a fresh pid
    * block: its ids exist twice in different shards, which the [[Hnsw]]
    * query paths' per-query top-k merge collapses (dedup by id) —
    * duplicated storage until [[Hnsw.rebuildRouted]] compacts.
    *
    * SINGLE WRITER: the read-maxPid → claim-block step is not atomic, so
    * two concurrent appenders can read the same maxPid, claim the same
    * offset, and silently merge independent sub-graphs under one pid. One
    * Structured Streaming query per index directory is safe (foreachBatch
    * serializes batches within a query); running multiple appending
    * streams or ad-hoc append jobs against the same directory is not.
    */
  def appendBatchRouted(batch: DataFrame, dir: String, params: HnswParams,
                        batchId: Long, spill: Double = 0.15,
                        spillShareCap: Double = 0.3): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val meta = Hnsw.loadMeta(dir)
    require(meta.num_cells > 0, s"$dir is not a routed index (no num_cells in meta.json)")
    // the pid block below is offset + [0, P) with P = the INDEX's shard
    // count — params disagreeing would collide batch pids with home shards
    // or adjacent batches, silently merging independent sub-graphs
    require(params.numPartitions == meta.num_partitions,
      s"params.numPartitions=${params.numPartitions} != index num_partitions=" +
        s"${meta.num_partitions} ($dir): appended shard pids would collide")
    val cents = spark.read.parquet(s"$dir/centroids")
    // home mapping = the original build's rows (pid < P); appended batches
    // add rows with pid >= P that must not attract further appends
    val home = cents.filter(col("pid") < meta.num_partitions)
      .select(col("cid"), col("cvector"), col("pid"))
    val base = batch.select(col("id").cast("long").as("id"),
      col("vector").cast("array<float>").as("vector"))
    // same ghost-share budget as buildRouted: the batch's own ratio
    // quantile bounds its spill copies (micro-batches are bounded, so the
    // count is cheap)
    val distF = graft.functions.Distances.metric(meta.metric)
    val ratioCap = graft.hnsw.Hnsw.spillRatioThreshold(
      base, home, distF, spill, spillShareCap, base.count())
    val assigned = graft.hnsw.Hnsw.assignToCells(base, home, distF, spill, ratioCap)
    val withPid = assigned.join(broadcast(home.select("cid", "pid")), "cid")
      .select("id", "vector", "pid").dropDuplicates("id", "pid")
    val built = Hnsw.buildFromPid(withPid, params, None)
    // next free pid block, from the routing table (tiny; every appended
    // shard has routing rows, so max(pid) covers all prior appends)
    val maxPid = cents.agg(max(col("pid"))).head().getInt(0)
    val p = meta.num_partitions
    val offset = (maxPid / p + 1) * p
    built.nodes.withColumn("pid", (col("pid") + lit(offset)).cast("int"))
      .write.mode("append").parquet(s"$dir/vectors")
    built.edges.withColumn("pid", (col("pid") + lit(offset)).cast("int"))
      .write.mode("append").parquet(s"$dir/edges")
    // appended vectors carry no byte codes — a surviving PQ sidecar would
    // silently exclude them from ADC-coarse candidate draws (and a
    // calibration curve measured on the old vector set would mispredict).
    // On-disk only: live HnswIndex handles keep in-memory curves/codes —
    // re-load after appends (registered views: the rewrite re-validates
    // the dir marker and ignores a stale registration's curve)
    Hnsw.dropPqSidecar(spark, dir)
    Hnsw.dropCalibration(dir)
    // routing rows for the new shards: ONLY the cells the batch landed in
    // (primary or spill assignment) — a probe of an untouched sibling cell
    // must not ship this batch's shard
    val touchedCells = assigned.select(col("cid")).distinct()
    home.join(broadcast(touchedCells), Seq("cid"))
      .select(col("cid"), col("cvector"), (col("pid") + lit(offset)).cast("int").as("pid"))
      .write.mode("append").parquet(s"$dir/centroids")
    // meta: entry rule as appendBatch; num_nodes grows by the batch's
    // distinct ids (spill copies excluded by buildFromPid's count). This
    // DOUBLE-COUNTS ids re-appended over a long stream (the count only
    // feeds the auto-ef budget, where drift means a slightly generous
    // ef); rebuildRouted restores the exact count at compaction.
    val cur = Hnsw.loadMeta(dir)
    val bm = built.meta
    val better = bm.max_layer > cur.max_layer ||
      (bm.max_layer == cur.max_layer && bm.entry_point < cur.entry_point)
    Hnsw.saveMeta(cur.copy(
      entry_point = if (better) bm.entry_point else cur.entry_point,
      max_layer = if (better) bm.max_layer else cur.max_layer,
      num_nodes = if (cur.num_nodes >= 0) cur.num_nodes + bm.num_nodes else -1L,
      node_rows = if (cur.node_rows >= 0 && bm.node_rows >= 0)
        cur.node_rows + bm.node_rows else -1L), dir)
    // the per-batch build cache must not outlive the batch (long streams)
    built.nodes.unpersist()
  }

  /** Streaming routed incremental add — [[incrementalAdd]]'s twin for
    * locality-sharded indexes: appended micro-batches stay reachable from
    * [[Hnsw.annQueryRouted]].
    */
  def incrementalAddRouted(stream: DataFrame, dir: String, params: HnswParams,
                           spill: Double = 0.15): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatchRouted(batch, dir, params, batchId, spill)
      }

  /** Streaming batch-query surface — the engine's stand-in for the
    * reference's HTTP serving loop (declared out of scope, BASELINE.json):
    * a stream of (qid, vector) queries is answered per micro-batch against
    * an immutable index snapshot, results appended as parquet. Freshness
    * composes with [[incrementalAdd]]: reload the snapshot between
    * streaming restarts to pick up appended partitions.
    */
  def streamingAnnQuery(queries: DataFrame, index: graft.hnsw.HnswIndex,
                        outDir: String, k: Int): DataStreamWriter[Row] =
    queries.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          Hnsw.annQuery(index, batch, k).write.mode("append").parquet(outDir)
      }

  /** Streaming exact dedup: keep the first document per content fingerprint
    * within the watermark horizon (state is bounded by the watermark —
    * the streaming twin of Dedup.exactDedup).
    */
  def streamingDedup(docs: DataFrame, tsCol: String, textCol: String,
                     watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming incremental corpus dedup — the recurring-ingest pipeline as
    * one continuous query: every micro-batch of documents is statused
    * against a STATIC existing corpus with the batch operator
    * [[graft.operators.Dedup.incrementalDedup]] (exact fingerprint
    * semi-join + df-capped cross-corpus n-gram Jaccard), and the per-doc
    * verdicts (exact_dup / near_dup / new) are appended as parquet.
    * In-stream repeats within the watermark horizon are dropped FIRST by
    * [[streamingDedup]]'s fingerprint state, so a doc that recurs inside
    * the stream is statused once — state stays watermark-bounded, and the
    * corpus side is re-read per batch only in the capped shingle form.
    *
    * Input columns: (idCol: long, tsCol: timestamp, textCol: string).
    * Output rows (outDir): (idCol, status, n_near_matches, best_jaccard)
    * + a `batch_id` partition column — each micro-batch overwrites its
    * own partition, so replayed batches are idempotent (plain append
    * would duplicate verdicts under at-least-once retries).
    */
  def streamingIncrementalDedup(docs: DataFrame, corpus: DataFrame,
                                idCol: String, tsCol: String, textCol: String,
                                outDir: String, n: Int = 3, minJaccard: Double = 0.5,
                                maxDf: Int = Int.MaxValue,
                                watermark: String = "1 hour"): DataStreamWriter[Row] =
    streamingDedup(docs, tsCol, textCol, watermark)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotent on micro-batch replay: each batch overwrites ITS OWN
        // partition directory, so a retried batch cannot duplicate
        // verdicts (plain append would be at-least-once). Readers
        // partition-discover outDir (verdict columns + batch_id).
        if (!batch.isEmpty)
          graft.operators.Dedup
            .incrementalDedup(batch.select(idCol, textCol), corpus, idCol, textCol,
              n, minJaccard, maxDf)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }

  /** Streaming EXACT dedup against a static corpus through a Bloom
    * pre-filter — the q53 pipeline as a continuous query. At stream start
    * the corpus is scanned ONCE to materialize two per-ingest-lifetime
    * artifacts: the Bloom word table ([[graft.operators.Dedup.bloomBuild]],
    * mBits/8 bytes) and the distinct fingerprint set (16 B/doc — compact,
    * cluster-cacheable; in production both would be loaded from parquet,
    * the bloom via a prior `bloomBuild(...).write`). Each micro-batch then
    * only probes the bloom and semi-joins the few surviving candidates
    * against the fingerprint set — the corpus text is NEVER re-read per
    * batch, which is the property that lets this run against a 100 TB
    * corpus at streaming cadence. In-stream repeats are dropped first by
    * [[streamingDedup]]'s watermark-bounded fingerprint state.
    *
    * Input columns: (idCol: long, tsCol: timestamp, textCol: string).
    * Output rows (outDir): (idCol, status ∈ exact_dup|new) + a `batch_id`
    * partition column (idempotent per-batch overwrite) — bit-identical
    * to the plain corpus semi-join (bloom has no false negatives).
    */
  def streamingBloomDedup(docs: DataFrame, corpus: DataFrame,
                          idCol: String, tsCol: String, textCol: String,
                          outDir: String, mBits: Long = 1L << 22, k: Int = 5,
                          watermark: String = "1 hour"): DataStreamWriter[Row] = {
    val bloom = graft.operators.Dedup.bloomBuild(corpus, textCol, mBits, k).localCheckpoint()
    val corpusFps = corpus
      .select(graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp"))
      .distinct().localCheckpoint()
    streamingDedup(docs, tsCol, textCol, watermark)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch overwrite partition → idempotent replay (see
        // streamingIncrementalDedup)
        if (!batch.isEmpty) {
          val verdicts = graft.operators.Dedup
            .bloomProbe(bloom, batch.select(idCol, textCol), idCol, textCol, mBits, k)
          val confirmed = verdicts.filter(col("maybe_dup"))
            .join(corpusFps, Seq("fp"), "left_semi")
            .select(col("id"), lit(true).as("is_dup"))
          batch.select(col(idCol).as("id"))
            .join(confirmed, Seq("id"), "left")
            .select(col("id").as(idCol),
              when(col("is_dup"), lit("exact_dup")).otherwise(lit("new")).as("status"))
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        }
      }
  }

  /** Streaming span scrub — ingest-time boilerplate removal as a
    * continuous query. At stream start the corpus is reduced ONCE to its
    * reusable distinct k-shingle set
    * ([[graft.operators.Dedup.corpusShingleSet]] — the span-scrub analog
    * of the Bloom word table; in production loaded from a prior
    * `corpusShingleSet(...).write`). Each micro-batch is then rewritten by
    * [[graft.operators.Dedup.scrubSpansWithShingles]]: tokens covered by a
    * corpus-known k-shingle are removed (keep-first — the corpus copy is
    * the retained one) and the scrubbed text is appended as parquet. The
    * corpus text is NEVER re-read per batch. In-stream exact repeats are
    * dropped first by [[streamingDedup]]'s watermark-bounded fingerprint
    * state; like [[streamingIncrementalDedup]], cross-batch span overlap
    * WITHIN the stream is deferred to the next corpus compaction (the
    * shingle set is per-ingest-lifetime static).
    *
    * Input columns: (idCol: long, tsCol: timestamp, textCol: string).
    * Output rows (outDir): (idCol, text_scrubbed, n_tokens, kept_tokens)
    * + a `batch_id` partition column (idempotent per-batch overwrite).
    */
  def streamingSpanScrub(docs: DataFrame, corpus: DataFrame,
                         idCol: String, tsCol: String, textCol: String,
                         outDir: String, k: Int = 8,
                         watermark: String = "1 hour"): DataStreamWriter[Row] = {
    val corpusShingles =
      graft.operators.Dedup.corpusShingleSet(corpus, textCol, k).localCheckpoint()
    streamingDedup(docs, tsCol, textCol, watermark)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch overwrite partition → idempotent replay (see
        // streamingIncrementalDedup)
        if (!batch.isEmpty)
          graft.operators.Dedup
            .scrubSpansWithShingles(batch.select(idCol, textCol), corpusShingles,
              idCol, textCol, k)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
  }

  /** Streaming host-boilerplate scrub — ingest-time template removal as a
    * continuous query: the template table ([[graft.operators.Dedup
    * .boilerplateLines]] verdicts over the STATIC corpus) is frozen once
    * per query lifetime; every arriving micro-batch's docs scrub against
    * it with [[graft.operators.Dedup.scrubBoilerplateWithTemplate]] — a
    * per-doc pure function of (doc, template), so the accumulated output
    * is bit-equal to one batch scrub over the union (StreamingSpec pins
    * this) and replay is idempotent (per-batch overwrite partitions).
    * Hosts the corpus has never seen pass through untouched — template
    * DISCOVERY needs host history, which is exactly what the frozen
    * corpus is.
    *
    * Stateless per batch (no watermark needed — nothing accumulates).
    * Input columns: (idCol: long, hostCol, textCol).
    * Output rows (outDir): (idCol, hostCol, n_lines, n_removed,
    * text_clean) + a `batch_id` partition column.
    */
  def streamingBoilerplateScrub(docs: DataFrame, corpus: DataFrame,
                                idCol: String, hostCol: String,
                                textCol: String,
                                outDir: String, minDocs: Int = 2,
                                minFrac: Double = 0.5): DataStreamWriter[Row] = {
    val template = graft.operators.Dedup
      .boilerplateLines(corpus, idCol, hostCol, textCol, minDocs, minFrac)
      .filter(col("is_boilerplate") === 1)
      .select(col(hostCol), col("key")).localCheckpoint()
    docs
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.Dedup
            .scrubBoilerplateWithTemplate(
              batch.select(idCol, hostCol, textCol), template,
              idCol, hostCol, textCol)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
  }

  /** Streaming END-TO-END prepare — the `--prepare` ingest ladder as one
    * continuous query: every micro-batch of arriving documents runs
    * [[graft.operators.Pipeline.prepareVerdicts]] against the STATIC
    * existing corpus (Gopher gate ∧ quality threshold → incremental
    * exact/near dedup → per-doc status + (n_tok, bin) budget columns),
    * verdicts land as idempotent per-batch partitions. In-stream repeats
    * within the watermark are dropped FIRST by [[streamingDedup]]'s
    * fingerprint state.
    *
    * Because each doc's verdict is a pure function of (doc, corpus), the
    * accumulated output is BIT-EQUAL to one batch run over the union of
    * all micro-batches (StreamingSpec pins this), and the quota decision
    * over everything ingested so far is
    * `Pipeline.budgetFromVerdicts(spark.read.parquet(outDir), ...)` —
    * order-free, so the streaming dashboard inherits batch semantics.
    *
    * Input columns: (idCol: long, tsCol: timestamp, sourceCol, textCol).
    * Output rows (outDir): (idCol, sourceCol, status, n_tok, bin,
    * n_near_matches, best_jaccard) + a `batch_id` partition column.
    */
  def streamingPrepare(docs: DataFrame, corpus: DataFrame,
                       idCol: String, tsCol: String, sourceCol: String,
                       textCol: String, outDir: String,
                       minQuality: Double = 0.3, n: Int = 3,
                       minJaccard: Double = 0.5, maxDf: Int = Int.MaxValue,
                       watermark: String = "1 hour"): DataStreamWriter[Row] =
    streamingDedup(docs, tsCol, textCol, watermark)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-batch overwrite partition → idempotent replay (see
        // streamingIncrementalDedup)
        if (!batch.isEmpty)
          graft.operators.Pipeline
            .prepareVerdicts(batch.select(idCol, sourceCol, textCol), corpus,
              idCol, sourceCol, textCol, minQuality, n, minJaccard, maxDf)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }

  /** Live training-mixture accounting: running per-source document and
    * token totals over the ingest stream — the quota dashboard a
    * continuous ingestion runs against ("stop crawling source X when its
    * token share exceeds the mixture plan"). A plain streaming
    * aggregation in update/complete mode: state is ONE row per source
    * (bounded by the source universe, never by stream length), partial
    * aggregation applies within each micro-batch, and the token count is
    * the same exact expression as the batch [[graft.operators.Sampling
    * .mixtureWeights]], so a snapshot of this stream equals the batch
    * table over the same rows.
    */
  def streamingMixtureCounts(docs: DataFrame, sourceCol: String, textCol: String): DataFrame =
    docs
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col(textCol))).as("n_tokens"))

  /** Streaming Count-Min sketch — [[graft.operators.TextStats.cmsSketch]]
    * as a continuous query. CMS is the sketch BUILT for this: two
    * sketches of disjoint streams merge by cell-wise addition, so the
    * accumulated sketch after batch N is exactly the batch sketch of the
    * concatenated stream (StreamingSpec pins the bit-equality — no
    * approximation drift from streaming, unlike order-sensitive sketches).
    * Per-batch cell tables land partition-per-batch under `outDir/cells`
    * (idempotent on replay — a re-run batch overwrites its own partition),
    * and the merged snapshot at batch N re-aggregates the accumulated
    * cells: O(batches × depth·width) integer rows, dashboard-cadence
    * cheap, state never in executor memory. Output:
    * `outDir/sketch/batch_id=N` merged (seed, bucket, cnt) tables;
    * point-estimates come from [[graft.operators.TextStats.cmsEstimates]]'
    * probe arithmetic over the latest snapshot.
    */
  def streamingCmsSketch(docs: DataFrame, textCol: String, outDir: String,
                         depth: Int = 4, width: Int = 1 << 16): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.TextStats.cmsSketch(batch, textCol, depth, width)
            .write.mode("overwrite").parquet(s"$outDir/cells/batch_id=$batchId")
          batch.sparkSession.read.parquet(s"$outDir/cells")
            .groupBy(col("seed"), col("bucket")).agg(sum(col("cnt")).as("cnt"))
            .write.mode("overwrite").parquet(s"$outDir/sketch/batch_id=$batchId")
        }
      }

  /** Streaming crawl link graph — [[graft.operators.Pipeline
    * .hostLinkGraph]] as a continuous query over arriving raw pages.
    * Edge counts are ADDITIVE (like the CMS cells), so the merged edge
    * table after batch N is exactly the one-shot edge table of the
    * concatenated crawl, and the degree snapshot equals the batch
    * derivation bit-for-bit (StreamingSpec pins it). Per-batch edge and
    * host tables land partition-per-batch (replay-idempotent); the
    * snapshot at batch N re-aggregates accumulated edges — O(batches ×
    * distinct edges) integer rows, frontier discovery included (a host
    * linked in batch 1 and crawled in batch 5 flips from frontier row
    * to out-degreed row as its pages arrive). Output:
    * `outDir/degrees/batch_id=N` snapshots.
    */
  def streamingLinkGraph(docs: DataFrame, hostCol: String, htmlCol: String,
                         outDir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.Pipeline.linkEdgesOf(batch, hostCol, htmlCol)
            .write.mode("overwrite").parquet(s"$outDir/edges/batch_id=$batchId")
          batch.select(col(hostCol).as("host")).distinct()
            .write.mode("overwrite").parquet(s"$outDir/hosts/batch_id=$batchId")
          val spark2 = batch.sparkSession
          val edges = spark2.read.parquet(s"$outDir/edges")
            .groupBy(col("src"), col("dst")).agg(sum(col("n")).as("n"))
          graft.operators.Pipeline.hostLinkGraphFromEdges(
              spark2.read.parquet(s"$outDir/hosts").select("host"), edges)
            .write.mode("overwrite").parquet(s"$outDir/degrees/batch_id=$batchId")
        }
      }

  /** Streaming corpus-drift dashboard — [[graft.operators.TextStats
    * .vocabDrift]] as a continuous query: the REFERENCE token
    * distribution is counted once at stream start (localCheckpointed —
    * never re-counted at streaming cadence), each arriving micro-batch's
    * counts land partition-per-batch under `outDir/counts`, and the
    * drift table at batch N is recomputed from the accumulated per-batch
    * counts — so the snapshot after batch N is a pure function of the
    * batch SET (idempotent on replay: a re-run batch overwrites its own
    * partition and the re-aggregation gives the same answer, the
    * [[streamingPrepare]] discipline). State is O(vocab) parquet, not
    * executor memory; the per-batch recompute reads O(batches × vocab)
    * counted rows — dashboard-cadence cheap, and exactly equal to the
    * batch [[graft.operators.TextStats.vocabDrift]] over the union
    * (StreamingSpec pins the bit-equality). Output:
    * `outDir/drift/batch_id=N` top-`topN` drift tables.
    */
  def streamingVocabDrift(docs: DataFrame, reference: DataFrame, textCol: String,
                          outDir: String, topN: Int = 20): DataStreamWriter[Row] = {
    val refCounts = graft.operators.TextStats
      .vocabCounts(reference, textCol, "c_a").localCheckpoint()
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.TextStats.vocabCounts(batch, textCol, "c_b")
            .write.mode("overwrite").parquet(s"$outDir/counts/batch_id=$batchId")
          val acc = batch.sparkSession.read.parquet(s"$outDir/counts")
            .groupBy("tok").agg(sum(col("c_b")).as("c_b"))
          graft.operators.TextStats.vocabDriftFromCounts(refCounts, acc, topN)
            .write.mode("overwrite").parquet(s"$outDir/drift/batch_id=$batchId")
        }
      }
  }

  /** Streaming SEMANTIC dedup against a static embedding corpus — the
    * paraphrase tier of the ingest ladder as a continuous query
    * ([[graft.operators.Dedup.incrementalSemanticDedup]] per micro-batch),
    * completing the streaming tier set: bloom/fingerprint (exact) →
    * shingle Jaccard (near text) → span scrub (substring) → THIS
    * (embedding proximity, which no shingle pass can see). The corpus'
    * sign-LSH block geometry is fixed once at stream start (`bits`
    * resolved eagerly — [[graft.operators.Dedup.autoBits]] of the corpus
    * count when -1) so every micro-batch blocks identically; the
    * bucketed corpus is localCheckpointed ONCE and reused per batch —
    * the corpus is never re-bucketed at streaming cadence. Verdicts land
    * partition-per-batch (idempotent on replay, same as
    * [[streamingIncrementalDedup]]).
    */
  def streamingSemanticDedup(embs: DataFrame, corpus: DataFrame,
                             idCol: String, vecCol: String, dim: Int,
                             outDir: String, bits: Int = -1,
                             maxDist: Double = 0.2,
                             maxBlock: Int = Int.MaxValue): DataStreamWriter[Row] = {
    val b = if (bits == -1)
      graft.operators.Dedup.autoBits(corpus.count(), maxBits = math.min(24, dim))
    else bits
    val corpusOnce = corpus.localCheckpoint()
    embs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.Dedup
            .incrementalSemanticDedup(batch.select(idCol, vecCol), corpusOnce,
              idCol, vecCol, dim, b, maxDist, maxBlock)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
  }

  /** Streaming frozen-LM quality scoring — CCNet's deployment shape as a
    * continuous query: the bigram LM is trained ONCE on a reference
    * corpus ([[graft.operators.Retrieval.lmTable]], localCheckpointed at
    * stream start — never re-estimated at streaming cadence) and every
    * arriving micro-batch is scored against it
    * ([[graft.operators.Retrieval.lmScoreAgainst]]: partial-agg doc
    * bigram counts → equi-join the frozen table → BIGINT totals, unseen
    * bigrams at the integer floor penalty). Scores land partition-per-
    * batch (idempotent on replay) and are bit-identical to the batch
    * form — integer micro-nat sums carry no order dependence.
    */
  def streamingLmScore(docs: DataFrame, lm: DataFrame, idCol: String,
                       textCol: String, outDir: String,
                       unkLpFp: Long = -20000000L): DataStreamWriter[Row] = {
    val lmOnce = lm.localCheckpoint()
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.Retrieval
            .lmScoreAgainst(batch.select(idCol, textCol), lmOnce, idCol, textCol, unkLpFp)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
  }

  /** Streaming Naive-Bayes quality filtering — the GPT-3-style
    * curated-vs-crawl classifier at ingest time: model and priors are
    * trained ONCE on the labeled seed ([[graft.operators.Classify]],
    * localCheckpointed at stream start) and every arriving micro-batch is
    * scored statelessly against the frozen tables (partial-agg token
    * counts → equi-join on token → integer llr sums). Batch/stream
    * bit-equality is free: micro-nat BIGINT arithmetic has no order
    * dependence. Output lands partition-per-batch (idempotent on replay).
    */
  def streamingNbScore(docs: DataFrame, model: DataFrame, priors: DataFrame,
                       idCol: String, textCol: String,
                       outDir: String): DataStreamWriter[Row] = {
    val modelOnce = model.localCheckpoint()
    val priorsOnce = priors.localCheckpoint()
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.Classify
            .nbScore(batch.select(idCol, textCol), modelOnce, priorsOnce, idCol, textCol)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
  }

  /** Streaming WINNOW-overlap alerting against a static corpus — the
    * substring-overlap tier of the ingest ladder as a continuous query
    * (exact fingerprint → shingle Jaccard → span scrub → semantic →
    * THIS: bounded-sketch overlap): the corpus winnow sketch is computed
    * ONCE at stream start ([[graft.operators.Dedup.winnowSketch]],
    * localCheckpointed) and every arriving micro-batch is statused
    * against it ([[graft.operators.Dedup.winnowOverlapAgainst]]:
    * sketch-vs-sketch equi-join on hash, best match by most shared
    * prints with ties to lowest corpus id). Idempotent per-batch
    * overwrite, as all the tiers.
    */
  def streamingWinnowOverlap(docs: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String, outDir: String,
                             k: Int = 5, w: Int = 4, minShared: Int = 2,
                             maxDf: Int = Int.MaxValue): DataStreamWriter[Row] = {
    val sketchOnce = graft.operators.Dedup
      .winnowSketch(corpus, idCol, textCol, k, w).localCheckpoint()
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.Dedup
            .winnowOverlapAgainst(batch.select(idCol, textCol), sketchOnce,
              idCol, textCol, k, w, minShared, maxDf)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
  }

  /** Streaming IMAGE dedup against a static fingerprint corpus — the
    * multimodal tier of the ingest ladder: arriving images are
    * perceptually hashed statelessly
    * ([[graft.multimodal.MediaOps.imagePhash]], a pure projection) and
    * statused against frozen corpus hashes via the banded Hamming join
    * ([[graft.operators.Dedup.hammingCorpusDedup]] per micro-batch).
    * The corpus table is localCheckpointed ONCE at stream start — never
    * re-hashed or re-banded at streaming cadence — and verdicts land
    * partition-per-batch (idempotent on replay), the
    * [[streamingSemanticDedup]] contract on the image column.
    */
  def streamingImageDedup(media: DataFrame, corpusHashes: DataFrame,
                          outDir: String, hiCol: String = "dhash_hi",
                          loCol: String = "dhash_lo", maxHamming: Int = 8,
                          maxBand: Int = Int.MaxValue): DataStreamWriter[Row] = {
    val corpusOnce = corpusHashes.localCheckpoint()
    media.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          graft.operators.Dedup
            .hammingCorpusDedup(
              graft.multimodal.MediaOps.imagePhash(batch.select("id", "content")),
              corpusOnce, "id", hiCol, loCol, maxHamming, maxBand)
            .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
  }

  /** Stateful gap-based sessionization — the streaming twin of
    * q29_sessionize, built on `flatMapGroupsWithState` with event-time
    * timeout: per-user state is one open session (start, last, count);
    * a new event either extends it or closes it (emitting the closed
    * session), and the watermark passing `last + gap` closes idle sessions
    * via timeout. State is O(users with an open session) — bounded by the
    * timeout, never by stream length — which is what makes this shape hold
    * on an unbounded 100 TB/day event stream.
    *
    * Input columns: (user_id: long, event_id: long, ts: timestamp).
    * Output: one row per CLOSED session (append mode).
    */
  def sessionizeStream(events: DataFrame, gapMs: Long = 600000L,
                       watermark: String = "10 minutes"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"), col("ts"))
      .withWatermark("ts", watermark)
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          def closed(s: SessionState) =
            SessionOut(uid, new Timestamp(s.startMs), s.n, s.lastMs - s.startMs)
          if (state.hasTimedOut) {
            val out = state.getOption.map(closed).iterator
            state.remove()
            out
          } else {
            // interval-merge semantics, robust to in-watermark LATE data:
            // the open state is one interval, each event a point interval;
            // sort by start and merge any neighbor within the gap — so a
            // late event can EXTEND the open session backwards (start is
            // lowered) or, if it is more than a gap earlier, form its own
            // session. Only the latest interval stays open (earlier ones
            // close now — bounded state: exactly one open session per key).
            val intervals = state.getOption.map(s => (s.startMs, s.lastMs, s.n)).toSeq ++
              batch.map(e => (e.ts.getTime, e.ts.getTime, 1L)).toSeq
            val merged = intervals.sortBy(iv => (iv._1, iv._2))
              .foldLeft(List.empty[(Long, Long, Long)]) {
                case (Nil, iv) => iv :: Nil
                case (cur :: rest, iv) =>
                  if (iv._1 - cur._2 <= gapMs)
                    (cur._1, math.max(cur._2, iv._2), cur._3 + iv._3) :: rest
                  else iv :: cur :: rest
              }.reverse
            val open = SessionState(merged.last._1, merged.last._2, merged.last._3)
            state.update(open)
            // timeout must sit above the current watermark; an already-
            // expired session then times out on the next batch
            state.setTimeoutTimestamp(
              math.max(open.lastMs + gapMs, state.getCurrentWatermarkMs() + 1))
            merged.dropRight(1).iterator
              .map { case (s0, s1, n) => closed(SessionState(s0, s1, n)) }
          }
      }
  }

  /** Event-time windowed counts with watermark (late data dropped after
    * `watermark`): the streaming twin of q21_event_window.
    */
  def windowedEventCounts(events: DataFrame, tsCol: String,
                          windowLen: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** Streaming term statistics — the incremental posting-list statistics
    * the BM25 scorer reads (per-term document frequency, total
    * occurrences, and token sum for average-doc-length), maintained live
    * over the document ingest stream
    * ([[graft.operators.Retrieval.bm25TopK]]'s corpus side as a
    * continuous query).
    *
    * Structured Streaming allows ONE aggregation per query, so the
    * doc-local work (per-doc tf for each distinct term) runs row-local
    * through higher-order functions BEFORE the explode — no per-doc
    * groupBy — and the single streaming groupBy is on term: state is one
    * row per DISTINCT TERM (bounded by the vocabulary, never by stream
    * length), partial aggregation applies within each micro-batch. A
    * snapshot of this table equals the batch tf/df derivation over the
    * same rows. Output: (tok, df, n_occ, dl_sum).
    */
  /** Standing-query streaming search — the alerting/routing read path: a
    * fixed set of term queries is scored against every document AS IT
    * ARRIVES, using frozen corpus statistics
    * ([[graft.operators.Retrieval.bm25Stats]] of the reference corpus, or
    * a [[streamingTermStats]] snapshot). Entirely STATELESS: per-doc tf
    * and length come from row-local higher-order functions and the query
    * set + idf table are literals baked into one projection — append
    * mode, no watermark, no aggregation state, arbitrarily partitionable.
    * The arithmetic is the BM25 core's (same integer coefficients, same
    * fixed association), so a streamed doc's score equals the batch
    * score computed over the same frozen corpus bit-for-bit.
    *
    * Output: (idCol, qid, bm25) — one row per (arriving doc, query) with
    * a positive score.
    */
  def standingQueryScores(docs: DataFrame, idCol: String, textCol: String,
                          queries: Seq[(Int, Seq[String])],
                          idfFp: Map[String, Long],
                          nDocs: Long, nTokens: Long): DataFrame = {
    require(queries.nonEmpty, "standingQueryScores: empty query set")
    val w = TextFunctions.tokens(col(textCol))
    val matches = queries.map { case (qid, terms) =>
      val score = terms.map { t =>
        val idf = idfFp.getOrElse(t, 0L)
        val tf = size(filter(w, x => x === t)).cast("long")
        val dl = size(w).cast("long")
        when(tf > 0,
          (lit(idf).cast("double") / lit(1e6)) *
            ((tf * 22 * nTokens).cast("double") /
             (tf * 10 * nTokens + lit(3L) * nTokens + dl * 9 * nDocs).cast("double")))
          .otherwise(lit(0.0))
      }.reduceLeft(_ + _)
      struct(lit(qid).as("qid"), score.as("bm25"))
    }
    docs
      .select(col(idCol), explode(array(matches: _*)).as("m"))
      .select(col(idCol), col("m.qid").as("qid"), col("m.bm25").as("bm25"))
      .filter(col("bm25") > 0.0)
  }

  def streamingTermStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = TextFunctions.tokens(col(textCol))
    val perDoc = docs.select(
      explode(transform(array_distinct(w), t =>
        struct(t.as("tok"),
          size(filter(w, x => x === t)).cast("long").as("tf"),
          size(w).cast("long").as("dl")))).as("e"))
    perDoc
      .groupBy(col("e.tok").as("tok"))
      .agg(count(lit(1)).as("df"),
        sum(col("e.tf")).as("n_occ"),
        sum(col("e.dl")).as("dl_sum"))
  }
}
