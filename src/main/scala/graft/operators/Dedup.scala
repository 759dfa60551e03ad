package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Distances, TextFunctions}

/** Deduplication operators for large-scale text pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard and embedding-cosine near-dup.
  *
  * Scale design (100 TB north star):
  *   - exact dedup is a hash partial-aggregate (map-side combine) — the only
  *     shuffle is one row per distinct key;
  *   - MinHash signatures are a `groupBy(doc).agg(min…)` over the exploded
  *     shingles — `min` partial-aggregates map-side, so the shuffle is
  *     O(docs × H), never O(shingles);
  *   - LSH banding turns near-dup detection into an equi-join on band value
  *     (shuffle on band key, AQE handles hot bands), avoiding the O(n²)
  *     pair enumeration entirely;
  *   - md5 is used as the hash family so a DuckDB oracle reproduces every
  *     signature byte-for-byte.
  */
object Dedup {

  /** Exact dedup decision per row: canonical id = min id sharing the same
    * normalized text (md5 keyed so wide text never shuffles), plus an
    * `is_dup` flag. Keeps every input row (stable row count for oracles).
    *
    * Shape: partial-agg `groupBy(fp).min(id)` (map-side combine — one row
    * per distinct fingerprint reaches the shuffle) + equi-join back on fp.
    * Deliberately NOT `min over (partition by fp)`: a hot fingerprint
    * (boilerplate duplicated millions of times in a crawl) would sort and
    * buffer in ONE window task, whereas the join streams the hot probe
    * side against a single build row and AQE can split probe-side skew.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val keyed = docs.select(col(idCol), fp.as("fp"))
    val canon = keyed.groupBy("fp").agg(min(col(idCol)).as("canonical_id"))
      .withColumnRenamed("fp", "cfp")
    // null-SAFE join key: NULL-text rows (fp = NULL) form their own dedup
    // group — groupBy keeps the NULL group, and <=> matches it back, so
    // the keeps-every-input-row contract holds for them too (a plain
    // equi-join would silently drop them)
    keyed.join(canon, keyed("fp") <=> canon("cfp"))
      .withColumn("is_dup", col(idCol) =!= col("canonical_id"))
      .select(col(idCol), col("canonical_id"), col("is_dup"))
  }

  /** MinHash signature column for one hash-family member: the lexicographic
    * minimum of `md5(seed || '|' || shingle)` over the document's shingles.
    * A uniform hash to hex strings, so the min is a valid MinHash draw —
    * and byte-identical in DuckDB.
    */
  def minhashAgg(shingleCol: Column, seed: Int): Column =
    min(md5(concat(lit(s"s$seed|"), shingleCol)))

  /** Per-document MinHash signatures over word n-gram shingles.
    * Output: (id, mh0..mh{h-1}).
    *
    * Shape note (r16, measured): a zero-shuffle per-row form
    * (`array_min(transform(sh, md5 ...))` × h) was tried to remove the
    * signature Exchange and measured 2.7–3.7× SLOWER end-to-end on every
    * consumer — higher-order functions are CodegenFallback, so the md5
    * hot loop ran interpreted instead of inside the codegen'd hash
    * aggregate. The explode + partial-agg `min` keeps the hashing in
    * whole-stage codegen and shuffles only one row per doc (guide §4
    * beats §2.4 here). Deliberately kept.
    */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, h: Int = 4): DataFrame = {
    val exploded = explodedShingles(docs, idCol, textCol, n)
    exploded
      .groupBy(col(idCol))
      .agg(minhashAgg(col("shingle"), 0).as("mh0"),
           (1 until h).map(i => minhashAgg(col("shingle"), i).as(s"mh$i")): _*)
  }

  /** LSH candidate pairs: documents whose band (concatenation of `rows`
    * consecutive signatures) collides in at least one band. Self-join on the
    * band key — shuffle on band, not O(n²).
    * Output: (id_a, id_b, band) with id_a < id_b, distinct pairs per band.
    *
    * Plan shape (the 100 TB path): the band table is built in ONE pass over
    * `sigs` (`posexplode` of the band-value array — a union of per-band
    * selects would re-derive the whole signature subtree per band per join
    * side, 4× the dominant stage) and eagerly materialized
    * (`localCheckpoint`) before the self-join, so signatures are computed
    * exactly once no matter how many times the join scans them.
    *
    * `maxBandSize` guards the hot-band pair blowup: a degenerate band value
    * shared by B documents emits B² pairs; bands larger than the cap are
    * dropped (standard LSH practice — such mega-clusters are found by the
    * exact-dup pass instead).
    *
    * Two physical shapes, same result:
    *   - CAPPED (`maxBandSize` finite) — the scale path: ONE shuffle total.
    *     `groupBy(band, band_val)` with a size-capped collect aggregate
    *     ([[org.apache.spark.sql.graft.CappedCollectLong]]): the aggregation
    *     buffer is bounded at cap+1 elements at EVERY stage (partial,
    *     shuffle, merge), so a degenerate hot (band, band_val) group can
    *     never OOM an executor — it surfaces truncated at cap+1 and the
    *     `size <= cap` filter drops it, while in-cap groups are collected
    *     exactly. Pairs then expand from each sorted id array with
    *     higher-order functions — no window sort, no self-join, and the
    *     signature subtree runs exactly once, so no materialization is
    *     needed either (the plan stays fully lazy; EXPLAIN runs no jobs).
    *     Requires a long-typed `idCol` (the buffer is primitive-array
    *     backed); a non-long id falls back to `collect_list` + size filter
    *     (same results, unbounded buffer on hot groups).
    *   - UNCAPPED — band groups are unbounded, so collecting a group into
    *     one aggregation buffer could OOM an executor; falls back to the
    *     streaming band-key self-join, with the band table
    *     `localCheckpoint`ed so neither join side recomputes the signature
    *     aggregation. This variant is EAGER by default (jobs at
    *     construction, blocks pinned — see [[Checkpoints]]); pass
    *     `materialize = false` to manage persistence yourself.
    */
  def lshCandidatePairs(sigs: DataFrame, idCol: String, h: Int = 4, rows: Int = 2,
                        maxBandSize: Int = Int.MaxValue,
                        materialize: Boolean = true): DataFrame = {
    val nBands = h / rows
    val bandVals = (0 until nBands).map { b =>
      concat_ws("|", (b * rows until (b + 1) * rows).map(i => col(s"mh$i")): _*)
    }
    val banded = sigs
      .select(col(idCol).as("id"), posexplode(array(bandVals: _*)).as(Seq("band", "band_val")))
    if (maxBandSize != Int.MaxValue) {
      // single-shuffle grouped form: each (band, band_val) group is one row;
      // a doc contributes each band once, so ids within a group are distinct.
      // CappedCollectLong bounds the aggregation buffer at cap+1 at every
      // stage — over-cap groups surface truncated (provably over-cap) and
      // the size filter drops them; in-cap groups are collected exactly.
      val idIsLong = banded.schema("id").dataType == org.apache.spark.sql.types.LongType
      val collectIds =
        if (idIsLong) org.apache.spark.sql.graft.TopKAggregate.cappedCollectLong(col("id"), maxBandSize)
        else collect_list(col("id"))
      val groups = banded
        .groupBy("band", "band_val")
        .agg(collectIds.as("ids"))
        .filter(size(col("ids")) <= maxBandSize && size(col("ids")) >= 2)
        .select(col("band"), array_sort(col("ids")).as("ids"))
      // ordered pairs from the sorted array: (ids[i], ids[j]) for i < j —
      // identical to the join form's id_a < id_b filter
      groups
        .select(col("band"), explode(flatten(transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + lit(2), size(col("ids"))),
            y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
        .select(col("p.id_a"), col("p.id_b"), col("band"))
    } else {
      // eager materialization: truncates lineage so neither join side
      // recomputes the signature aggregation
      val mat = if (materialize) Checkpoints.tracked(banded) else banded
      val a = mat.select(col("id").as("id_a"), col("band"), col("band_val"))
      val b = mat.select(col("id").as("id_b"), col("band"), col("band_val"))
      a.join(b, Seq("band", "band_val"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "band")
    }
  }

  /** Exact n-gram Jaccard similarity for pairs that share at least one
    * shingle, computed relationally: explode distinct shingles, self-join on
    * shingle (intersection counts), join per-doc set sizes (union by
    * inclusion–exclusion). One integer division at the end → oracle-exact.
    * `minJaccard` prunes the (potentially quadratic) low-similarity tail.
    */
  /** (id, shingle) rows with the token array materialized in its own
    * projection first — keeps tokenization out of the shingle lambda (see
    * [[TextFunctions.wordShinglesFromTokens]]).
    */
  private def explodedShingles(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("w"))
      .select(col(idCol), explode(TextFunctions.wordShinglesFromTokens(col("w"), n)).as("shingle"))

  /** Benchmark-contamination flags: training docs sharing at least
    * `minOverlap` distinct n-gram shingles with ANY benchmark doc — the
    * standard decontamination pass before a training run. Relational shape:
    * the benchmark shingle set is a distinct projection (usually small —
    * broadcast-able), the train side explodes once, and the overlap count
    * is a partial-agg groupBy — shuffle O(matching shingle rows), never a
    * doc×doc comparison. Output: (idCol, n_shared) for flagged docs only.
    */
  def contamination(train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, minOverlap: Int = 5): DataFrame = {
    val bs = explodedShingles(bench, idCol, textCol, n).select(col("shingle")).distinct()
    // join BEFORE distinct: the bench set filters the train shingle stream
    // (usually a broadcast), so the per-(doc, shingle) dedup shuffles only
    // benchmark-MATCHING rows — not the full corpus shingle stream.
    // join-then-distinct ≡ distinct-then-join for an equi-join on shingle.
    explodedShingles(train, idCol, textCol, n)
      .join(bs, "shingle")
      .distinct()
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /** `maxDf` guards the hot-shingle pair blowup — the q12/`maxBandSize`
    * problem in its exact-Jaccard form: the self-join on `shingle` emits B²
    * intersection rows for a shingle shared by B documents, so one
    * ubiquitous stop-shingle ("of the and") in 10⁶ docs would emit 10¹²
    * join rows before `minJaccard` ever runs. Shingles with document
    * frequency above the cap are dropped BEFORE the join (standard
    * practice — ubiquitous shingles carry no Jaccard signal), and the
    * per-doc set sizes are computed on the SAME capped set so the
    * inclusion–exclusion union stays consistent: the result is the exact
    * Jaccard over the non-ubiquitous shingle universe. The cap runs as a
    * bounded-buffer grouped aggregate (long ids) or a partial-agg df +
    * anti-join (otherwise) — never a window, so a degenerate hot shingle
    * cannot land its whole partition in one task.
    * Default = no cap (small-corpus exact semantics).
    *
    * Like [[lshCandidatePairs]], this operator is EAGER by default — the
    * shingle set feeds the size aggregate AND both self-join sides, so it
    * is `localCheckpoint`ed once instead of recomputed three times, which
    * runs cluster jobs at construction (even under EXPLAIN) and pins the
    * blocks for the result's lifetime (see [[Checkpoints]]). Pass
    * `materialize = false` to keep the plan fully lazy and manage
    * persistence yourself.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minJaccard: Double = 0.0,
                        maxDf: Int = Int.MaxValue,
                        materialize: Boolean = true): DataFrame = {
    val shAll = explodedShingles(docs, idCol, textCol, n)
      .select(col(idCol).as("id"), col("shingle"))
      .distinct()
    val capped =
      if (maxDf == Int.MaxValue) shAll
      else if (shAll.schema("id").dataType == org.apache.spark.sql.types.LongType)
        // one-shuffle grouped form (the q12 CappedCollectLong shape): the
        // aggregation buffer is bounded at cap+1 at every stage, over-cap
        // shingles surface truncated and are dropped by the size filter —
        // never a window, whose degenerate hot shingle is exactly the
        // partition that lands in one window task
        shAll.groupBy("shingle")
          .agg(org.apache.spark.sql.graft.TopKAggregate
            .cappedCollectLong(col("id"), maxDf).as("ids"))
          .filter(size(col("ids")) <= maxDf)
          .select(explode(col("ids")).as("id"), col("shingle"))
      else {
        // non-long ids: partial-agg df + anti-join prune (hot list is
        // bounded by |shingle rows|/maxDf keys)
        val hot = shAll.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("shingle")
        shAll.join(hot, Seq("shingle"), "left_anti")
      }
    // eager materialization (same shape as lshCandidatePairs): the capped
    // shingle set feeds the size aggregate AND both self-join sides —
    // unmaterialized, the explode+distinct subtree would run three times
    val sh = if (materialize) Checkpoints.tracked(capped) else capped
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash Jaccard ESTIMATE for a candidate-pair list — the estimator
    * that justifies MinHash's existence: est = (# agreeing hash slots)/h,
    * an unbiased estimate of the true Jaccard computed from the h-slot
    * signatures alone — document shingle sets are never touched, so the
    * cost is O(pairs × h) regardless of document length. The triage tier
    * between [[lshCandidatePairs]] (propose) and [[jaccardForPairs]]
    * (exact verify): at 100 TB, estimate-first lets the exact pass run
    * only on pairs whose estimate clears a looser bar. Standard error is
    * √(j(1−j)/h) — h=4 is a bench setting, production uses 64–256.
    *
    * Output: (id_a, id_b, n_agree, est_jaccard). Integer count + one
    * exact division — oracle-reproducible.
    */
  def minhashEstimate(pairs: DataFrame, sigs: DataFrame, idCol: String,
                      h: Int = 4): DataFrame = {
    val cols = (0 until h).map(i => s"mh$i")
    val a = sigs.select(col(idCol).as("id_a") +: cols.map(c => col(c).as(s"a_$c")): _*)
    val b = sigs.select(col(idCol).as("id_b") +: cols.map(c => col(c).as(s"b_$c")): _*)
    val agree = cols.map(c => when(col(s"a_$c") === col(s"b_$c"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs.select("id_a", "id_b")
      .join(a, "id_a")
      .join(b, "id_b")
      .select(col("id_a"), col("id_b"), agree.as("n_agree"),
        (agree.cast("double") / lit(h.toDouble)).as("est_jaccard"))
  }

  /** Exact n-gram Jaccard for a GIVEN candidate-pair list — the
    * verification stage of a production MinHash pipeline: LSH proposes
    * ([[lshCandidatePairs]]), exact Jaccard verifies, and the expensive
    * set arithmetic runs ONLY on proposed pairs. Differs from
    * [[ngramJaccardPairs]] (which scores every shingle-sharing pair) in
    * both direction and cost: shingle sets are built only for documents
    * appearing in some pair (semi-join prune — on a lightly-duplicated
    * corpus that is a tiny fraction of it), and the intersection join is
    * keyed on the pair list, so volume is O(pairs × shingles/doc), never
    * O(shingle-collision rows).
    *
    * Output: every input pair with `n_inter`, `jaccard` (0.0 when the
    * union is empty — never null/NaN) and `is_dup = jaccard ≥ minJaccard`
    * — LSH false positives stay visible as rejected rows, which is what a
    * pipeline audits when tuning band/row parameters.
    *
    * Like [[ngramJaccardPairs]], EAGER by default: the pruned shingle set
    * feeds its size aggregate AND both intersection sides, so it is
    * `localCheckpoint`ed once at construction (jobs run even under
    * EXPLAIN; blocks pinned — see [[Checkpoints]]), and the PAIR list —
    * consumed by the member prune, the intersection join and the output
    * spine, i.e. whatever proposer DAG produced it would otherwise
    * re-evaluate three times (r17: the LSH propose tier measured 2.60 →
    * 1.89 s at sf0.1 from this alone) — is checkpointed too: a few bytes
    * per candidate pair, the cheapest frame in the query. Pass
    * `materialize = false` for a fully lazy plan.
    */
  def jaccardForPairs(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, minJaccard: Double = 0.5,
                      materialize: Boolean = true): DataFrame = {
    val p0 = pairs.select(col("id_a"), col("id_b"))
    val p = if (materialize) Checkpoints.tracked(p0) else p0
    val members = p.select(col("id_a").as(idCol)).union(p.select(col("id_b").as(idCol))).distinct()
    val shAll = explodedShingles(docs.join(members, Seq(idCol), "left_semi"), idCol, textCol, n)
      .select(col(idCol).as("id"), col("shingle"))
      .distinct()
    // feeds the size aggregate AND both intersection sides
    val sh = if (materialize) Checkpoints.tracked(shAll) else shAll
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = p
      .join(sh.select(col("id").as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    val unionSize =
      coalesce(col("n_a"), lit(0L)) + coalesce(col("n_b"), lit(0L)) - coalesce(col("n_inter"), lit(0L))
    p
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"), "left")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        when(unionSize === 0L, lit(0.0))
          .otherwise(coalesce(col("n_inter"), lit(0L)).cast("double") / unionSize.cast("double"))
          .as("jaccard"))
      .withColumn("is_dup", col("jaccard") >= lit(minJaccard))
  }

  /** Containment coefficient for candidate pairs: |A∩B| / min(|A|, |B|)
    * over distinct n-gram shingles — the SUBSET-duplication detector
    * Jaccard misses. A news-wire story embedded verbatim in a 10×-longer
    * page scores Jaccard ≈ 0.1 (union-dominated) but containment 1.0;
    * pipelines scrubbing syndicated content key on this metric
    * (Broder's containment, the original resemblance/containment pair).
    *
    * Same scale shape as [[jaccardForPairs]]: member semi-join prune, one
    * distinct shingle table feeding the size aggregate and both
    * intersection sides, pair-keyed equi-joins — O(pairs × shingles/doc),
    * never corpus-wide; like it, the pair list is checkpointed once so the
    * proposer DAG is not re-evaluated per consumer (r17). Output: (id_a,
    * id_b, n_inter, n_a, n_b, containment, is_contained), 0.0 (never
    * null) for empty sets.
    */
  def containmentForPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
                          textCol: String, n: Int = 3,
                          minContainment: Double = 0.9,
                          materialize: Boolean = true): DataFrame = {
    val p0 = pairs.select(col("id_a"), col("id_b"))
    val p = if (materialize) Checkpoints.tracked(p0) else p0
    val members = p.select(col("id_a").as(idCol)).union(p.select(col("id_b").as(idCol))).distinct()
    val shAll = explodedShingles(docs.join(members, Seq(idCol), "left_semi"), idCol, textCol, n)
      .select(col(idCol).as("id"), col("shingle"))
      .distinct()
    val sh = if (materialize) Checkpoints.tracked(shAll) else shAll
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val inter = p
      .join(sh.select(col("id").as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_inter"))
    val minSize = least(coalesce(col("n_a"), lit(0L)), coalesce(col("n_b"), lit(0L)))
    p
      .join(inter, Seq("id_a", "id_b"), "left")
      .join(sizes.select(col("id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"), "left")
      .join(sizes.select(col("id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        when(minSize === 0L, lit(0.0))
          .otherwise(coalesce(col("n_inter"), lit(0L)).cast("double") / minSize.cast("double"))
          .as("containment"))
      .withColumn("is_contained", (col("containment") >= lit(minContainment)).cast("int"))
  }

  /** Incremental dedup of a NEW document batch against an EXISTING corpus —
    * the shape every recurring crawl ingest runs: nothing in the corpus is
    * re-compared against itself; only new×corpus pairs are scored. Each new
    * doc gets a status:
    *   - `exact_dup`  — its fingerprint (md5 of lowercased text) already
    *     exists in the corpus;
    *   - `near_dup`   — exact n-gram Jaccard ≥ `minJaccard` against at
    *     least one corpus doc (over the capped shingle universe below);
    *   - `new`        — neither.
    * plus `n_near_matches` (corpus docs above the threshold) and
    * `best_jaccard` (0.0 when none — never null, so engines agree).
    *
    * Scale shape: the corpus side explodes to distinct (id, shingle) ONCE;
    * shingles with corpus document frequency &gt; `maxDf` are dropped from
    * BOTH sides before the equi-join (the [[ngramJaccardPairs]] hot-shingle
    * guard in cross-corpus form — a partial-agg df count feeding an
    * anti-join on `shingle`), and per-doc set sizes are computed
    * on the SAME capped universe so inclusion–exclusion stays consistent.
    * Join volume is O(shingle-match rows) with every corpus shingle bounded
    * to `maxDf` docs; the new batch is assumed the (much) smaller side.
    * The fingerprint probe is a semi-join on md5 — one shuffle of hashes,
    * never text. Like [[ngramJaccardPairs]], the two shingle sets are
    * localCheckpointed by default (each feeds its size aggregate AND the
    * join); pass `materialize = false` for a fully lazy plan.
    */
  def incrementalDedup(newDocs: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, minJaccard: Double = 0.5,
                       maxDf: Int = Int.MaxValue,
                       materialize: Boolean = true): DataFrame = {
    def ckpt(df: DataFrame): DataFrame = if (materialize) Checkpoints.tracked(df) else df
    val fpCorpus = corpus.select(TextFunctions.fingerprint(col(textCol)).as("fp")).distinct()
    val exact = newDocs
      .select(col(idCol).as("id"), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .join(fpCorpus, Seq("fp"), "left_semi")
      .select(col("id")).withColumn("is_exact", lit(true))

    val corpusShAll = explodedShingles(corpus, idCol, textCol, n)
      .select(col(idCol).as("id"), col("shingle")).distinct()
    val newShAll = explodedShingles(newDocs, idCol, textCol, n)
      .select(col(idCol).as("id"), col("shingle")).distinct()
    val (corpusSh, newSh) =
      if (maxDf == Int.MaxValue) (ckpt(corpusShAll), ckpt(newShAll))
      else {
        // partial-agg df + anti-join, not a window: a corpus-hot shingle
        // would land its whole partition in one window task. The hot list
        // is bounded by |corpus shingle rows|/maxDf keys — checkpointed
        // once (it prunes BOTH join sides), far smaller than pinning the
        // full df-annotated shingle table.
        val hot = ckpt(corpusShAll.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("shingle"))
        (ckpt(corpusShAll.join(hot, Seq("shingle"), "left_anti")),
          ckpt(newShAll.join(hot, Seq("shingle"), "left_anti")))
      }

    val nA = newSh.groupBy("id").agg(count(lit(1)).as("n_a"))
    val nB = corpusSh.groupBy("id").agg(count(lit(1)).as("n_b"))
    val near = newSh.as("a")
      .join(corpusSh.as("b"), col("a.shingle") === col("b.shingle"))
      .groupBy(col("a.id").as("id_new"), col("b.id").as("id_corp"))
      .agg(count(lit(1)).as("n_inter"))
      .join(nA.select(col("id").as("id_new"), col("n_a")), "id_new")
      .join(nB.select(col("id").as("id_corp"), col("n_b")), "id_corp")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .groupBy(col("id_new").as("id"))
      .agg(count(lit(1)).as("n_near_matches"), max(col("jaccard")).as("best_jaccard"))

    newDocs.select(col(idCol).as("id"))
      .join(exact, Seq("id"), "left")
      .join(near, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("is_exact"), lit("exact_dup"))
          .when(col("n_near_matches").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("n_near_matches"), lit(0L)).as("n_near_matches"),
        coalesce(col("best_jaccard"), lit(0.0)).as("best_jaccard"))
  }

  /** Cross-source duplication matrix — which ingestion sources overlap:
    * near-dup candidate pairs (MinHash+LSH, [[lshCandidatePairs]]) labeled
    * with both documents' sources and counted per unordered source pair.
    * The standard crawl-audit table: a hot (src_a, src_b) cell means two
    * feeds are re-serving the same content and one should be dropped
    * before training. Diagonal cells count within-source duplication.
    *
    * Scale shape: the LSH pair discovery is the audited q12 path (banded
    * equi-join, hot-band cap); the source labels join on id (shuffle
    * O(pairs + docs)); the matrix aggregate is a partial-agg groupBy over
    * at most |sources|² rows. Output: (src_a, src_b, n_pairs) with
    * src_a ≤ src_b.
    */
  def sourceOverlapMatrix(docs: DataFrame, idCol: String, textCol: String,
                          sourceCol: String, n: Int = 3, h: Int = 4,
                          maxBandSize: Int = 1000): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, n, h)
    val pairs = lshCandidatePairs(sigs, idCol, h, maxBandSize = maxBandSize)
      .select("id_a", "id_b").distinct()
    val src = docs.select(col(idCol).as("id"), col(sourceCol).as("src"))
    pairs
      .join(src.select(col("id").as("id_a"), col("src").as("src_of_a")), "id_a")
      .join(src.select(col("id").as("id_b"), col("src").as("src_of_b")), "id_b")
      .select(least(col("src_of_a"), col("src_of_b")).as("src_a"),
        greatest(col("src_of_a"), col("src_of_b")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** SimHash signature (w bits) over the token stream: bit j of the
    * signature is the sign of Σ_tokens (±1 depending on bit j of
    * md5(token)). Bits come from the first 8 hex chars of md5 → a 32-bit
    * integer via base conversion — both engines agree byte-for-byte.
    */
  def simhash(textCol: Column, bits: Int = 16): Column =
    simhashFromTokens(TextFunctions.tokens(textCol), bits)

  /** SimHash from a token-array column. */
  def simhashFromTokens(toks: Column, bits: Int): Column = {
    val hashes = transform(toks, t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    val bitCols = (0 until bits).map { j =>
      val votes = aggregate(hashes, lit(0L),
        (acc, hv) => acc + when(shiftright(hv, j).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
      when(votes > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** Relational SimHash over exploded tokens — the scale form (partial
    * aggregation; shuffle is one row per (doc, bit-vote) group, never the
    * token stream). Token hash = integer value of the first 4 md5 hex chars
    * (16-bit hash family, oracle-reproducible); signature bit j is the sign
    * of the ±1 votes of bit j across tokens. Output: (id, simhash: long).
    */
  def simhashRelational(docs: DataFrame, idCol: String, textCol: String,
                        bits: Int = 16): DataFrame = {
    require(bits <= 16, "token hash family is 16-bit")
    val toks = docs.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("tok"))
    val hv = conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long")
    val votes = (0 until bits).map { j =>
      sum(when(shiftright(col("hv"), j).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))).as(s"v$j")
    }
    val grouped = toks.select(col(idCol), hv.as("hv"))
      .groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val sig = (0 until bits).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    grouped.select(col(idCol), sig.as("simhash"))
  }

  /** Sign-pattern LSH bucket of an embedding — the 100 TB blocking key for
    * [[embeddingNearDupPairs]] when no natural key exists (axis-aligned
    * random-hyperplane LSH, deterministic and oracle-exact): bit g of the
    * bucket is `[Σ of the g-th contiguous group of dim/bits components > 0]`.
    * Near-identical vectors agree on every group sum's sign, so near-dups
    * collide; the 2^bits buckets bound the self-join to O(n²/2^bits)
    * expected pairs. Left-associative double sums + integer bit packing
    * only, so a DuckDB oracle reproduces the bucket byte-for-byte.
    *
    * SIZING: `bits` must GROW with n — the self-join emits
    * O(Σ blockSize²) rows, so pick bits ≈ log2(n / targetBlockSize)
    * (expected block ≈ n / 2^bits). bits=8 (256 buckets) suits ~10⁵
    * rows; a 10⁹-row corpus at a ~1k-row target block needs bits≈20, and
    * a 100 TB corpus bits≈27 — still far below the 62-bit cap and the
    * dim floor for high-dim embeddings. Too many bits splits true
    * near-dup pairs across buckets (each bit is another sign that must
    * agree), so don't over-shoot the target block size.
    */
  /** Blocking-granularity default for [[semanticDedup]]: the bit count
    * that puts the MEAN sign-LSH block near `targetBlock` rows —
    * ceil(log2(n / targetBlock)), clamped to [1, maxBits]. A fixed bit
    * default cannot be right across scales (the 5M-vector scale proof's
    * finding: bits=8 leaves mean blocks ~400× over a 64-row target);
    * the right value is a pure function of corpus size. `maxBits` caps at
    * 24 (16M block keys) and callers must also cap at the embedding dim
    * ([[embeddingBucket]]'s floor).
    */
  def autoBits(n: Long, targetBlock: Int = 64, maxBits: Int = 24): Int =
    if (n <= targetBlock) 1
    else math.min(maxBits,
      math.max(1, math.ceil(math.log(n.toDouble / targetBlock) / math.log(2.0)).toInt))

  def embeddingBucket(vec: Column, dim: Int, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 62 && dim >= bits, s"need 1 <= bits <= min(62, dim), got dim=$dim bits=$bits")
    val group = dim / bits
    (0 until bits).map { g =>
      val s = (g * group until (g + 1) * group)
        .map(i => element_at(vec, i + 1).cast("double"))
        .reduce(_ + _)
      when(s > 0.0, lit(1L << g)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** How long a [[dupClusters]] round waits for its observed changed-row
    * count before scanning for changed labels itself.
    */
  private val ConvergenceWaitMs = 10000L

  /** Whether a [[dupClusters]] round changed no label: its observed
    * `n_changed` (a null sum is an empty vertex set) when that arrives
    * within `waitMs`, else an explicit scan of the round's labels `cp`.
    */
  private[graft] def roundConverged(obs: org.apache.spark.sql.Observation, cp: DataFrame,
                                    waitMs: Long): Boolean =
    try {
      val row = scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(waitMs, "ms"))
      row.isNullAt(row.fieldIndex("n_changed")) || row.getAs[Long]("n_changed") == 0L
    } catch {
      case _: java.util.concurrent.TimeoutException => cp.filter(col("comp") =!= col("prev")).isEmpty
    }

  /** Duplicate-cluster assignment: connected components over a candidate
    * pair list (e.g. [[lshCandidatePairs]] output) by iterative min-label
    * propagation — component id = the minimum doc id reachable through the
    * pair graph; docs in no pair keep their own id. This is the standard
    * step after LSH: transitive closure turns pairwise hits into dedup
    * groups, from which one canonical doc per group survives.
    *
    * Scale design: each iteration is one equi-join (labels × symmetric
    * edges) + one partial-agg min — shuffle O(V + E) — followed by a
    * pointer-jumping step (comp ← comp's comp) that squares the effective
    * propagation distance, so convergence takes O(log diameter) rounds
    * instead of O(diameter) — a 1M-long chain closes in ~20 rounds. The
    * loop stops when a convergence count hits zero. Labels are
    * materialized per iteration so lineage stays flat: executor-local
    * checkpoints by default, or DURABLE parquet under `spillPath` (the
    * real-cluster setting — a lost executor no longer kills the whole
    * propagation; see [[Checkpoints.materialize]]). The caller owns
    * `spillPath` for the lifetime of the returned frame; superseded
    * iterations are deleted as the loop advances.
    * Output: (idCol, comp).
    */
  def dupClusters(docs: DataFrame, pairs: DataFrame, idCol: String,
                  maxIter: Int = 25, spillPath: Option[String] = None): DataFrame = {
    def sub(name: String): Option[String] = spillPath.map(root => s"$root/$name")
    val sym = Checkpoints.materialize(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct(),
      sub("sym"))
    // vertex set = pair ENDPOINTS only (r16): a doc in no pair keeps
    // comp = id through every iteration by construction, so propagating it
    // was O(|corpus|) dead weight per round — at 100 TB the pair members
    // are a tiny fraction of the corpus and the loop should cost O(V+E) of
    // THAT graph. Endpoints missing from `docs` (pairs computed before a
    // filter) still RELAY labels — a chain through them must not split;
    // relay-only vertices are dropped from the output below, and no-pair
    // docs rejoin as singletons (comp = own id) at the end.
    val vertices = sym.select(col("src").as("id")).distinct()
    // round 1 fused into the init materialize (r16): from identity labels,
    // the first round's neighbor-min is a plain min(dst) aggregate over
    // `sym` — no label join needed — so computing prop+jump here saves one
    // full materialize + convergence-check round per call; the loop below
    // continues from the identical state the old round 1 produced.
    val nbrMin0 = sym.groupBy(col("src").as("id")).agg(min(col("dst")).as("ncomp"))
    val prop0 = vertices.join(nbrMin0, Seq("id"), "left")
      .select(col("id"), col("id").as("prev"),
        least(col("id"), coalesce(col("ncomp"), col("id"))).as("comp"))
    var checkpointed = Checkpoints.materialize(
      prop0
        .join(prop0.select(col("id").as("comp"), col("comp").as("comp2")), Seq("comp"), "left")
        .select(col("id"), col("prev"), coalesce(col("comp2"), col("comp")).as("comp")),
      sub("labels_0"))
    var checkpointedName = "labels_0"
    var labels = checkpointed.select("id", "comp")
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = sym.join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(min(col("comp")).as("ncomp"))
      // prev rides along into the checkpoint so convergence is a plain
      // filter over the materialized blocks — no separate join job per round
      val prop = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("comp").as("prev"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"))
      // pointer jumping: follow the label one more hop (comp's own comp is
      // always <= comp, so this only ever tightens)
      val jumped = prop
        .join(prop.select(col("id").as("comp"), col("comp").as("comp2")), Seq("comp"), "left")
        .select(col("id"), col("prev"), coalesce(col("comp2"), col("comp")).as("comp"))
      // convergence rides the materialize job as an observed metric (r17):
      // the explicit check (`filter(comp =!= prev).isEmpty`) is a SECOND
      // job per round that re-scans the freshly-written labels — on the
      // converged final round that scan reads the WHOLE table. Observation
      // metrics fire through the eager localCheckpoint, so the changed-row
      // count normally costs nothing: one job per round. The wait for it
      // is bounded — should the metric never arrive, the round falls back
      // to the explicit check instead of hanging. The durable-parquet path
      // always takes the explicit check (its write goes through a command
      // — the read-back scan is the fault-tolerant mode's accepted price).
      val next = spillPath match {
        case None =>
          val obs = new org.apache.spark.sql.Observation()
          val cp = Checkpoints.tracked(jumped.observe(obs,
            sum(when(col("comp") =!= col("prev"), 1L).otherwise(0L)).as("n_changed")))
          converged = roundConverged(obs, cp, ConvergenceWaitMs)
          cp
        case _ =>
          val cp = Checkpoints.materialize(jumped, sub(s"labels_${iter + 1}"))
          converged = cp.filter(col("comp") =!= col("prev")).isEmpty
          cp
      }
      // superseded — next is materialized (durable dirs: the old iteration's
      // parquet is deleted; local: blocks unpersist)
      Checkpoints.release(checkpointed, sub(checkpointedName))
      checkpointed = next
      checkpointedName = s"labels_${iter + 1}"
      labels = next.select("id", "comp")
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"dupClusters hit maxIter=$maxIter before converging — " +
          "component labels may be split; raise maxIter for deep pair graphs")
    Checkpoints.release(sym, sub("sym")) // the output below reads only `labels`
    // drop relay-only vertices and remap each component to its minimum DOC
    // id (a relay could otherwise win the min and leak a non-doc id)
    val docLabels = labels.join(docs.select(col(idCol).as("id")), "id")
    val docComp = docLabels.groupBy(col("comp")).agg(min(col("id")).as("doc_comp"))
    val memberRows = docLabels.join(docComp, "comp")
      .select(col("id").as(idCol), col("doc_comp").as("comp"))
    // singletons (docs in no pair) never entered the loop: comp = own id.
    // Anti-join against `labels` (the final LIVE checkpoint — `sym` and
    // `vertices` are released above), which holds exactly the loop's
    // vertex set.
    val singletons = docs.select(col(idCol))
      .join(labels.select(col("id").as(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol), col(idCol).as("comp"))
    memberRows.union(singletons)
  }

  /** Embedding-cosine near-duplicate pairs within a blocking key (a natural
    * key such as label, or — the scale path — [[embeddingBucket]]): pairs
    * with cosine distance below `maxDist`. The blocking key keeps the
    * self-join from being O(n²).
    *
    * `maxBlock` guards the hot-block pair blowup (the [[lshCandidatePairs]]
    * `maxBandSize` / [[ngramJaccardPairs]] `maxDf` guard in embedding
    * form): a degenerate block — e.g. a mass of all-zero or identical
    * vectors collapsing into one bucket — emits B² scored pairs. Blocks
    * larger than the cap are dropped before the join (such mega-clusters
    * belong to the exact-dup pass); the count is a partial-agg groupBy
    * feeding an anti-join, never a window. Default = no cap.
    */
  def embeddingNearDupPairs(
      embs: DataFrame, idCol: String, vecCol: String, blockCol: String,
      maxDist: Double, maxBlock: Int = Int.MaxValue): DataFrame = {
    val rows = embs.select(col(blockCol).as("blk"), col(idCol).as("id"), col(vecCol).as("v"))
    val guarded =
      if (maxBlock == Int.MaxValue) rows
      else {
        // partial-agg block count + anti-join, not a window: the
        // degenerate hot block the cap exists for is exactly the
        // partition that would land in one window task. The hot list is
        // bounded by n/maxBlock keys; AQE picks the join strategy.
        val hot = rows.groupBy("blk").agg(count(lit(1)).as("bn"))
          .filter(col("bn") > maxBlock).select("blk")
        rows.join(hot, Seq("blk"), "left_anti")
      }
    val a = guarded.select(col("blk"), col("id").as("id_a"), col("v").as("v_a"))
    val b = guarded.select(col("blk"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", Distances.cosine(Distances.toDouble(col("v_a")), Distances.toDouble(col("v_b"))))
      .filter(col("dist") < maxDist)
      .select("id_a", "id_b", "dist")
  }

  /** Hamming near-duplicate pairs over 64-bit fingerprints carried as two
    * 32-bit halves (`hiCol`, `loCol` — the [[graft.multimodal.MediaOps.imagePhash]]
    * representation; works equally over [[simhashRelational]] output
    * re-split): pairs whose Hamming distance ≤ `maxHamming`.
    *
    * Scale shape — banded, never all-pairs: each hash splits into four
    * 16-bit bands and candidates come from a band equi-join, so two
    * fingerprints meet only if at least one band matches exactly. By
    * pigeonhole this finds EVERY pair with distance ≤ 3 and (like all
    * banded LSH) a distance-proportional fraction above that; the verify
    * step is exact (`bit_count` over XOR, codegen'd integer ops).
    * `maxBand` drops degenerate hot bands (e.g. the all-black-images
    * band) with a partial-agg count + anti-join — the
    * [[embeddingNearDupPairs]] guard, never a window.
    * Output: (id_a, id_b, hamming).
    */
  def hammingNearDupPairs(
      hashes: DataFrame, idCol: String, hiCol: String, loCol: String,
      maxHamming: Int, maxBand: Int = Int.MaxValue,
      materialize: Boolean = true): DataFrame = {
    // materialize the SLIM fingerprint table once (r16): the hot-band
    // guard and both self-join sides each re-evaluated the upstream hash
    // pipeline (for images: PNG synthesis + decode + dHash — the dominant
    // cost) — 3 full evaluations per action, measured 2.8 s vs 0.53 s for
    // one hash pass at sf0.1. 24 bytes/row: the guide §8 lightweight-proxy
    // table, cheap to pin at any scale.
    val slim = hashes.select(
      col(idCol).cast("long").as("id"),
      col(hiCol).cast("long").as("hi"), col(loCol).cast("long").as("lo"))
    val ht = if (materialize) Checkpoints.tracked(slim) else slim
    val rows = ht
      .select(col("id"), col("hi"), col("lo"),
        posexplode(array(
          expr("(hi div 65536) % 65536"), expr("hi % 65536"),
          expr("(lo div 65536) % 65536"), expr("lo % 65536"))).as(Seq("band", "band_val")))
    val guarded =
      if (maxBand == Int.MaxValue) rows
      else {
        val hot = rows.groupBy("band", "band_val").agg(count(lit(1)).as("bn"))
          .filter(col("bn") > maxBand).select("band", "band_val")
        rows.join(hot, Seq("band", "band_val"), "left_anti")
      }
    val a = guarded.select(col("band"), col("band_val"), col("id").as("id_a"),
      col("hi").as("hi_a"), col("lo").as("lo_a"))
    val b = guarded.select(col("band"), col("band_val"), col("id").as("id_b"),
      col("hi").as("hi_b"), col("lo").as("lo_b"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "hi_a", "lo_a", "hi_b", "lo_b").distinct()
      .withColumn("hamming",
        expr("CAST(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Batch-vs-corpus Hamming dedup — [[hammingNearDupPairs]] in the
    * recurring-ingest shape ([[incrementalDedup]]'s contract for image
    * fingerprints): each arriving fingerprint is statused against a fixed
    * corpus, the corpus is never self-compared. Candidates come from the
    * same four 16-bit bands; the per-row verdict is the minimum
    * (hamming, corpus id) struct — deterministic ties. `maxBand` drops
    * degenerate corpus bands (partial-agg count + anti-join; the batch
    * side rides the same drop via the join). Output: (id, status ∈
    * near_dup|new, dup_of, hamming) with (-1, -1) sentinels for fresh
    * rows so every column stays non-null and oracle-comparable.
    */
  def hammingCorpusDedup(
      batch: DataFrame, corpus: DataFrame, idCol: String, hiCol: String, loCol: String,
      maxHamming: Int, maxBand: Int = Int.MaxValue,
      materialize: Boolean = true): DataFrame = {
    def slim(df: DataFrame) = df.select(
      col(idCol).cast("long").as("id"),
      col(hiCol).cast("long").as("hi"), col(loCol).cast("long").as("lo"))
    def bandsOf(df: DataFrame) = df
      .select(col("id"), col("hi"), col("lo"),
        posexplode(array(
          expr("(hi div 65536) % 65536"), expr("hi % 65536"),
          expr("(lo div 65536) % 65536"), expr("lo % 65536"))).as(Seq("band", "band_val")))
    // corpus fingerprints materialized once (r16, [[hammingNearDupPairs]]'s
    // rationale): the hot-band guard and the candidate join otherwise each
    // re-run the corpus hash pipeline
    val corpusSlim = if (materialize) Checkpoints.tracked(slim(corpus)) else slim(corpus)
    val cb = bandsOf(corpusSlim)
    val guardedC =
      if (maxBand == Int.MaxValue) cb
      else {
        val hot = cb.groupBy("band", "band_val").agg(count(lit(1)).as("bn"))
          .filter(col("bn") > maxBand).select("band", "band_val")
        cb.join(hot, Seq("band", "band_val"), "left_anti")
      }
    val matches = bandsOf(slim(batch))
      .join(guardedC.select(col("band"), col("band_val"), col("id").as("cid"),
        col("hi").as("chi"), col("lo").as("clo")), Seq("band", "band_val"))
      .withColumn("hamming",
        expr("CAST(bit_count(hi ^ chi) + bit_count(lo ^ clo) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .groupBy("id")
      .agg(min(struct(col("hamming"), col("cid"))).as("best"))
      .select(col("id"), col("best.cid").as("dup_of"), col("best.hamming").as("hamming"))
    batch.select(col(idCol).cast("long").as("id")).distinct()
      .join(matches, Seq("id"), "left")
      .select(col("id"),
        when(col("dup_of").isNotNull, lit("near_dup")).otherwise(lit("new")).as("status"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
        coalesce(col("hamming"), lit(-1L)).as("hamming"))
  }

  /** Detection-quality metrics for a pair predictor — the dedup stack's
    * twin of the ANN recall evaluator (reference D8): precision/recall of
    * a predicted pair set against a ground-truth pair set (planted
    * duplicates, labeled eval data). One relational plan: full-outer join
    * on the normalized pair key, three partial-agg sums, two exact
    * divisions. Output is a single row (n_pred, n_truth, n_tp, precision,
    * recall); 0.0 (not NaN/null) when a denominator is 0, so engines
    * agree on empty inputs. Pairs are normalized to id_a &lt; id_b so
    * orientation never splits a match.
    */
  def pairMetrics(predicted: DataFrame, truth: DataFrame): DataFrame = {
    def norm(df: DataFrame) = df.select(
      least(col("id_a"), col("id_b")).as("id_a"),
      greatest(col("id_a"), col("id_b")).as("id_b")).distinct()
    val p = norm(predicted).withColumn("in_p", lit(1L))
    val t = norm(truth).withColumn("in_t", lit(1L))
    p.join(t, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(coalesce(col("in_p"), lit(0L))).as("n_pred"),
        sum(coalesce(col("in_t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("in_p"), lit(0L)) * coalesce(col("in_t"), lit(0L))).as("n_tp"))
      .select(col("n_pred"), col("n_truth"), col("n_tp"),
        when(col("n_pred") === 0L, lit(0.0))
          .otherwise(col("n_tp").cast("double") / col("n_pred").cast("double")).as("precision"),
        when(col("n_truth") === 0L, lit(0.0))
          .otherwise(col("n_tp").cast("double") / col("n_truth").cast("double")).as("recall"))
  }

  /** Canonical-document selection per duplicate cluster: given cluster
    * labels ([[dupClusters]] output `(id, comp)`) and a per-doc score
    * (e.g. [[TextStats.textStats]] quality), pick ONE representative per
    * cluster — highest score, ties broken by lowest id — and flag every
    * member. This is the step that turns "these docs are near-dups" into
    * "train on THIS one, drop those": per-doc output
    * `(id, comp, canonical_id, keep)`.
    *
    * Scores must be non-null/non-NaN (NaN poisons `max` identically in
    * both engines but then fails the score = best equality — filter
    * first). Docs without a score row are excluded (inner join).
    *
    * Scale shape: two partial-agg groupBys on `comp` (max score, then min
    * id among ties) and equi-joins on `comp` — no window over member
    * lists, so a pathological mega-cluster costs a hot join key, not a
    * single-task sort.
    */
  def canonicalDocs(clusters: DataFrame, scores: DataFrame, idCol: String,
                    scoreCol: String): DataFrame = {
    val c = clusters.select(col(idCol).as("id"), col("comp"))
    val s = scores.select(col(idCol).as("id"), col(scoreCol).as("score"))
    val scored = c.join(s, "id")
    // single-pass argmax (r16): max(struct(score, -id)) picks the highest
    // score and, among ties, the lowest id — one aggregate instead of the
    // old best-score groupBy + equality-filter join + min(id) groupBy
    // (two exchanges and a join fewer; identical canonical ids, including
    // under Spark's NaN-greatest ordering, which both forms share).
    val canon = scored.groupBy("comp")
      .agg(max(struct(col("score"), (-col("id")).as("nid"))).as("b"))
      .select(col("comp"), (-col("b.nid")).as("canonical_id"))
    scored.join(canon, "comp")
      .select(col("id").as(idCol), col("comp"), col("canonical_id"),
        (col("id") === col("canonical_id")).as("keep"))
  }

  // --------------------------------------------------------------------------
  // Bloom-pruned incremental exact dedup — the recurring-ingest fast path.
  // --------------------------------------------------------------------------

  /** The k bloom bit positions of a fingerprint column: pos_i =
    * pmod(xxhash64(fp, i), mBits). xxhash64 with the probe index folded in
    * gives k independent 64-bit hash streams without a second hash family.
    */
  private def bloomPositions(fp: Column, mBits: Long, k: Int): Column =
    array((0 until k).map(i => pmod(xxhash64(fp, lit(i)), lit(mBits))): _*)

  /** Build a Bloom filter over the corpus' document fingerprints as a
    * RELATIONAL artifact: one row per 64-bit word that has any bit set,
    * `(word_idx: long, bits: long)`. Because the filter is a DataFrame, it
    * is built with one partial-aggregated pass (`bit_or` combines map-side),
    * can be written to parquet and REUSED across ingests — the 100 TB corpus
    * is scanned once at build time, never again per batch — and can be
    * incrementally extended by unioning new fingerprint words and re-OR-ing
    * (`bit_or` is idempotent and associative).
    *
    * Sizing (standard bloom math): for n distinct fingerprints and target
    * false-positive rate p, mBits ≈ −n·ln p / (ln 2)² and k ≈ (m/n)·ln 2.
    * E.g. n=10⁹, p=1% → m ≈ 9.6·10⁹ bits ≈ 1.2 GB ≈ 1.5·10⁸ words — too big
    * to broadcast, but the probe ([[bloomProbe]]) is an equi-join on
    * `word_idx`, so it stays a shuffle of the (small) new batch's k rows per
    * doc against the word table, never a corpus re-scan.
    */
  def bloomBuild(corpus: DataFrame, textCol: String,
                 mBits: Long = 1L << 22, k: Int = 5): DataFrame = {
    require(mBits % 64 == 0, s"mBits must be a multiple of 64, got $mBits")
    corpus
      .select(TextFunctions.fingerprint(col(textCol)).as("fp"))
      .select(explode(bloomPositions(col("fp"), mBits, k)).as("pos"))
      .select(expr("pos DIV 64").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
      .groupBy("word_idx")
      .agg(bit_or(col("mask")).as("bits"))
  }

  /** Per-new-doc bloom verdict against a [[bloomBuild]] word table:
    * `(id, fp, maybe_dup)`. `maybe_dup = false` is DEFINITE (no false
    * negatives); `maybe_dup = true` means "candidate — confirm exactly".
    *
    * Plan shape: explode k probe rows per new doc, equi-join the word table
    * on `word_idx` (broadcast when the filter is small — pass
    * `broadcastBloom = true` — else a shuffle of k·|new| probe rows against
    * |set words| rows), then a partial-agg `bool_and` back to one row per
    * doc. A probe position whose word row is absent is an unset word → miss.
    */
  def bloomProbe(bloom: DataFrame, newDocs: DataFrame, idCol: String, textCol: String,
                 mBits: Long = 1L << 22, k: Int = 5,
                 broadcastBloom: Boolean = true): DataFrame = {
    val words = if (broadcastBloom) broadcast(bloom) else bloom
    newDocs
      .select(col(idCol).as("id"), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .select(col("id"), col("fp"), explode(bloomPositions(col("fp"), mBits, k)).as("pos"))
      .select(col("id"), col("fp"), expr("pos DIV 64").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
      .join(words, Seq("word_idx"), "left")
      .select(col("id"), col("fp"),
        (coalesce(col("bits"), lit(0L)).bitwiseAND(col("mask")) =!= 0L).as("hit"))
      .groupBy("id", "fp")
      .agg(min(col("hit")).as("maybe_dup")) // bool AND: all k probes must hit
  }

  /** Bloom-pruned incremental EXACT dedup: statuses each new doc
    * `exact_dup` / `new` against the corpus, with the semi-join on
    * fingerprints narrowed to bloom candidates first. The result is
    * bit-identical to the plain `fp IN corpus` semi-join (the bloom has no
    * false negatives; false positives are eliminated by the confirming
    * join) — the bloom changes the COST, not the answer, which is why the
    * q53 oracle is the plain semi-join.
    *
    * Why this matters at 100 TB: [[incrementalDedup]]'s exact probe
    * shuffles the full corpus fingerprint set on every ingest. Here the
    * corpus is represented by the reusable mBits/8-byte word table; the
    * per-ingest cost is the probe join (O(k·|new| + set words)) plus a
    * semi-join of only the surviving candidates (true dups + p·|new| false
    * positives) against the corpus — under a 1% false-positive sizing,
    * ~99% of genuinely-new docs never touch the corpus table at all.
    */
  def bloomPrunedDedup(newDocs: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
                       mBits: Long = 1L << 22, k: Int = 5,
                       broadcastBloom: Boolean = true): DataFrame = {
    val bloom = bloomBuild(corpus, textCol, mBits, k)
    val verdicts = bloomProbe(bloom, newDocs, idCol, textCol, mBits, k, broadcastBloom)
    val candidates = verdicts.filter(col("maybe_dup"))
    val corpusFps = corpus.select(TextFunctions.fingerprint(col(textCol)).as("fp")).distinct()
    val confirmed = candidates
      .join(corpusFps, Seq("fp"), "left_semi")
      .select(col("id"), lit(true).as("is_dup"))
    newDocs.select(col(idCol).as("id"))
      .join(confirmed, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("is_dup"), lit("exact_dup")).otherwise(lit("new")).as("status"))
  }

  /** SemDeDup-style semantic deduplication, end-to-end: a keep/drop
    * verdict per embedding row from embedding-space proximity alone (no
    * text comparison — catches paraphrases and re-encodings that every
    * shingle-based pass misses). One declarative plan over the existing
    * stages: sign-pattern LSH blocking ([[embeddingBucket]] — no trained
    * model, so the blocking key is reproducible anywhere), within-block
    * exact cosine pairs under `maxDist` ([[embeddingNearDupPairs]], hot
    * blocks capped), connected components ([[dupClusters]] — near-dup is
    * not transitive, so verdicts must be per CLUSTER, not per pair), and
    * canonical = the cluster's minimum id. Output: (idCol, canonical_id,
    * is_dup) for EVERY input row — filter `!is_dup` for the kept corpus,
    * or join a quality score and re-pick canonicals with
    * [[canonicalDocs]] when "keep the best, not the lowest-id" matters.
    *
    * Scale shape: the only pairwise work is inside capped blocks; the
    * component iteration is the checkpointed O(V+E)-per-round pass of
    * [[dupClusters]] (durable-spillable via `spillPath`). At 100 TB,
    * `bits` tunes block granularity (more bits → smaller blocks → less
    * pairwise work, more missed cross-block pairs — the standard
    * recall/cost dial). Pass `bits = -1` (the default) to derive it from
    * the corpus size via [[autoBits]] — costs one count job; the 5M-vector
    * scale proof's finding was that a fixed default (8) leaves mean blocks
    * 400× over target at that scale.
    */
  def semanticDedup(embs: DataFrame, idCol: String, vecCol: String, dim: Int,
                    bits: Int = -1, maxDist: Double = 0.2,
                    maxBlock: Int = Int.MaxValue, maxIter: Int = 25,
                    spillPath: Option[String] = None): DataFrame = {
    val b = if (bits == -1) autoBits(embs.count(), maxBits = math.min(24, dim)) else bits
    val bucketed = embs.select(col(idCol), col(vecCol),
      embeddingBucket(col(vecCol), dim, b).as("semdedup_block"))
    val pairs = embeddingNearDupPairs(bucketed, idCol, vecCol, "semdedup_block",
      maxDist, maxBlock)
    dupClusters(embs.select(idCol), pairs, idCol, maxIter, spillPath)
      .select(col(idCol), col("comp").as("canonical_id"),
        (col(idCol) =!= col("comp")).as("is_dup"))
  }

  /** Incremental SEMANTIC dedup — [[incrementalDedup]]'s embedding-space
    * twin, and the [[semanticDedup]] verdict at INGEST time: each new
    * embedding is statused against the existing corpus from embedding
    * proximity alone (`semantic_dup` / `new`), the corpus never
    * self-compared or re-clustered. This completes the streaming-ingest
    * tier ladder: bloom/fingerprint (exact text) → shingle Jaccard (near
    * text) → span scrub (substring) → THIS (paraphrase/re-encoding, which
    * no shingle pass can see).
    *
    * Blocking: both sides take the same sign-LSH key
    * ([[embeddingBucket]]); corpus blocks over `maxBlock` are dropped from
    * BOTH sides (the [[embeddingNearDupPairs]] guard in cross-corpus form,
    * partial-agg + anti-join — pruning only the corpus side would still
    * emit |new ∩ block| × cap rows). Join volume is O(bucket-match rows)
    * with the new batch assumed the (much) smaller side. Per-new-id
    * aggregates are exact (count + min) → oracle-reproducible.
    *
    * `bits = -1` auto-sizes from the CORPUS count ([[autoBits]] — the
    * corpus is the long-lived side whose block geometry should be stable
    * across ingests). Output: every new row
    * (idCol, n_near, best_dist, status); best_dist is null for `new`.
    */
  def incrementalSemanticDedup(newEmbs: DataFrame, corpus: DataFrame,
                               idCol: String, vecCol: String, dim: Int,
                               bits: Int = -1, maxDist: Double = 0.2,
                               maxBlock: Int = Int.MaxValue): DataFrame = {
    val b = if (bits == -1) autoBits(corpus.count(), maxBits = math.min(24, dim)) else bits
    val c = corpus.select(col(idCol).as("cid"), col(vecCol).as("cv"),
      embeddingBucket(col(vecCol), dim, b).as("blk"))
    val n = newEmbs.select(col(idCol).as("id"), col(vecCol).as("v"),
      embeddingBucket(col(vecCol), dim, b).as("blk"))
    val (ck, nk) =
      if (maxBlock == Int.MaxValue) (c, n)
      else {
        val hot = c.groupBy("blk").agg(count(lit(1)).as("bn"))
          .filter(col("bn") > maxBlock).select("blk")
        (c.join(hot, Seq("blk"), "left_anti"), n.join(hot, Seq("blk"), "left_anti"))
      }
    val near = nk.join(ck, Seq("blk"))
      .withColumn("dist",
        Distances.cosine(Distances.toDouble(col("v")), Distances.toDouble(col("cv"))))
      .filter(col("dist") < maxDist)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_near"), min(col("dist")).as("best_dist"))
    newEmbs.select(col(idCol).as("id"))
      .join(near, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("best_dist"),
        when(col("n_near").isNotNull, lit("semantic_dup")).otherwise(lit("new")).as("status"))
  }

  /** Semantic DECONTAMINATION — [[incrementalSemanticDedup]]'s verdict
    * pointed at a benchmark: every training item whose embedding sits
    * within `maxDist` cosine of ANY benchmark/eval item is flagged
    * `contaminated`, with the offending benchmark id attributed (the
    * minimum (dist, bench id) struct — deterministic ties, the
    * [[hammingCorpusDedup]] argmin in cosine space). This is the
    * paraphrase tier of decontamination: q39's n-gram contamination
    * catches verbatim leakage, THIS catches eval items that entered the
    * training set re-worded or re-encoded, which no shingle overlap can
    * see.
    *
    * Blocking: both sides take the same sign-LSH key; benchmark blocks
    * over `maxBlock` drop from BOTH sides (partial-agg + anti-join).
    * `bits = -1` auto-sizes from the TRAIN count — train is the large
    * side, so block granularity must track ITS scale to keep the join
    * volume ~|train| × (bench per block). The benchmark side is usually
    * tiny; at 100 TB the join is one broadcast-to-blocks pass over the
    * training embeddings, never train × bench.
    *
    * Output: every train row (idCol, status ∈ contaminated|clean,
    * bench_id with −1 sentinel, best_dist null when clean).
    */
  def semanticDecontaminate(train: DataFrame, bench: DataFrame,
                            idCol: String, vecCol: String, dim: Int,
                            bits: Int = -1, maxDist: Double = 0.2,
                            maxBlock: Int = Int.MaxValue): DataFrame = {
    val b = if (bits == -1) autoBits(train.count(), maxBits = math.min(24, dim)) else bits
    val bb = bench.select(col(idCol).as("bid"), col(vecCol).as("bv"),
      embeddingBucket(col(vecCol), dim, b).as("blk"))
    val t = train.select(col(idCol).as("id"), col(vecCol).as("v"),
      embeddingBucket(col(vecCol), dim, b).as("blk"))
    val (bk, tk) =
      if (maxBlock == Int.MaxValue) (bb, t)
      else {
        val hot = bb.groupBy("blk").agg(count(lit(1)).as("bn"))
          .filter(col("bn") > maxBlock).select("blk")
        (bb.join(hot, Seq("blk"), "left_anti"), t.join(hot, Seq("blk"), "left_anti"))
      }
    val matches = tk.join(bk, Seq("blk"))
      .withColumn("dist",
        Distances.cosine(Distances.toDouble(col("v")), Distances.toDouble(col("bv"))))
      .filter(col("dist") < maxDist)
      .groupBy("id")
      .agg(min(struct(col("dist"), col("bid"))).as("best"))
      .select(col("id"), col("best.bid").as("bench_id"), col("best.dist").as("best_dist"))
    train.select(col(idCol).as("id")).distinct()
      .join(matches, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("bench_id").isNotNull, lit("contaminated")).otherwise(lit("clean")).as("status"),
        coalesce(col("bench_id"), lit(-1L)).as("bench_id"),
        col("best_dist"))
  }

  // -------------------------------------------------------------------------
  // Span-level exact substring dedup (the ExactSubstr discipline: find and
  // account for duplicated token RUNS, not just duplicated documents).
  // Doc-level dedup misses boilerplate — headers, licenses, templated
  // paragraphs — that repeats inside otherwise-unique documents; span-level
  // detection is the standard corpus-prep pass for it.
  //
  // Relational shape (100 TB north star): positioned k-token shingles are a
  // posexplode (one row per token, same order as the n-gram explodes above);
  // "duplicated" is a partial-agg count per shingle; marking positions is a
  // LEFT SEMI join back on the shingle key (fan-out ≤ 1 per position row, so
  // a hot shingle can never blow up the join — the reason no df cap is
  // needed here, unlike the pair-producing LSH/Jaccard paths); runs are a
  // per-document gaps-and-islands window (partitioned by doc — never a
  // global sort). Everything is integer arithmetic → bit-exact oracle.
  // -------------------------------------------------------------------------

  /** Positioned k-token shingles: (idCol, pos, shingle) with `pos` the
    * 1-based index of the shingle's first token. Same tokenization and
    * shingle text as [[explodedShingles]]; the position rides along so runs
    * of consecutive duplicated shingles can be reassembled into spans.
    */
  private def positionedShingles(docs: DataFrame, idCol: String, textCol: String,
                                 k: Int): DataFrame =
    docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("w"))
      .select(col(idCol),
        posexplode(TextFunctions.wordShinglesFromTokens(col("w"), k)))
      .select(col(idCol), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("shingle"))

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
    * sketch): hash every positioned k-token shingle, slide a window of
    * `w` consecutive hashes, and select each window's minimum — RIGHTMOST
    * on ties (robust winnowing). Guarantee: any two documents sharing a
    * token run of ≥ w + k − 1 tokens share at least one fingerprint, with
    * expected density 2/(w+1) — the bounded-size document sketch
    * plagiarism/overlap detectors join on instead of full shingle sets.
    *
    * Determinism without an argmin aggregate: each row packs
    * `c = h·2²⁰ + (2²⁰ − pos)` (40-bit md5-prefix hash, documents capped
    * at 2²⁰ tokens), so the window `min(c)` IS (min h, then max pos) —
    * the rightmost-minimum rule as one integer comparison, bit-identical
    * in any engine. Window starts needing a full w rows ride the same
    * frame's `count`.
    *
    * Scale shape: a projection + posexplode, then ONE window partitioned
    * by document (bounded by document length — the dupSpans/islands
    * discipline, never a global or corpus-keyed sort), then distinct
    * over the ~2L/(w+1) selected rows. Documents with fewer than
    * k + w − 1 tokens have no full window and are absent, as in MOSS.
    *
    * Output: (idCol, pos, h) — the selected fingerprints.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1, s"winnowFingerprints: k must be >= 1, got $k")
    require(w >= 1, s"winnowFingerprints: w must be >= 1, got $w")
    val M = 1048576L // 2^20 position cap
    // positions beyond the cap are truncated (deterministically — the
    // sketch covers the first 2^20 tokens of a pathological document);
    // without the guard the packed value would borrow into the hash field
    // and emit corrupted fingerprints
    val ps = positionedShingles(docs, idCol, textCol, k)
      .filter(col("pos") <= lit(M))
      .withColumn("h", conv(substring(md5(col("shingle")), 1, 10), 16, 10).cast("long"))
      .withColumn("c", col("h") * lit(M) + (lit(M) - col("pos")))
    val win = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    ps
      .withColumn("cmin", min(col("c")).over(win))
      .withColumn("nw", count(lit(1)).over(win))
      .filter(col("nw") === w)
      .select(col(idCol),
        (lit(M) - pmod(col("cmin"), lit(M))).as("pos"),
        expr(s"cmin div $M").as("h"))
      .distinct()
  }

  /** Overlap-candidate pairs from winnowed sketches — the MOSS discovery
    * join: documents sharing ≥ `minShared` winnow fingerprint HASHES are
    * candidates for substring-level overlap (each shared print witnesses
    * a shared k-gram; `minShared` = 2 filters single-collision noise).
    *
    * Scale shape: the join runs on the SKETCHES (≈ 2L/(w+1) rows per
    * doc, distinct by hash), never the shingle sets — that is the entire
    * point of winnowing at 100 TB. `maxDf` drops ubiquitous fingerprints
    * (boilerplate k-grams every crawl carries) with the standard
    * partial-agg df + anti-join guard before the self-join, bounding the
    * hot-key pair blowup exactly like [[ngramJaccardPairs]]'s cap.
    * Verification composes: feed the pairs to [[jaccardForPairs]] or
    * [[containmentForPairs]].
    *
    * Output: (id_a, id_b, n_shared), id_a &lt; id_b.
    */
  def winnowCandidatePairs(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 5, w: Int = 4, minShared: Int = 2,
                           maxDf: Int = Int.MaxValue): DataFrame = {
    val fp = winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("h")).distinct()
    val guarded =
      if (maxDf == Int.MaxValue) fp
      else {
        val hot = fp.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("h")
        fp.join(hot, Seq("h"), "left_anti")
      }
    guarded.select(col("h"), col("id").as("id_a"))
      .join(guarded.select(col("h"), col("id").as("id_b")), "h")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus snapshot diff — the crawl-over-crawl churn table an ops
    * review reads before re-training: every doc id present in either
    * snapshot, statused `added` (B only), `removed` (A only), `changed`
    * (both, different content fingerprint) or `unchanged`. Content
    * equality is the md5 fingerprint (never the text bytes), so the
    * full-outer join shuffles two slim (id, fp) projections — wide text
    * never moves.
    *
    * Output: (idCol, status, in_a, in_b) with in_a/in_b ∈ {0, 1}.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    // presence rides EXPLICIT flags, not fingerprint nullness — a
    // NULL-text doc has fp = NULL but is still PRESENT, and must status
    // by the null-safe fp comparison (NULL <=> NULL = unchanged), not
    // masquerade as added/removed
    val fa = a.select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fp_a"),
      lit(1).as("pa"))
    val fb = b.select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fp_b"),
      lit(1).as("pb"))
    fa.join(fb, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("pa").isNull, lit("added"))
          .when(col("pb").isNull, lit("removed"))
          .when(col("fp_a") <=> col("fp_b"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("pa").isNotNull.cast("int").as("in_a"),
        col("pb").isNotNull.cast("int").as("in_b"))
  }

  /** Reusable winnow sketch: distinct (idCol, h) fingerprint hashes per
    * document — the table a recurring-ingest overlap check joins against
    * (compute once for a corpus, reuse per batch).
    */
  def winnowSketch(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 5, w: Int = 4): DataFrame =
    winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol), col("h")).distinct()

  /** Batch-vs-corpus winnow overlap — [[winnowCandidatePairs]] in the
    * recurring-ingest shape ([[incrementalDedup]]'s contract): each new
    * document is statused against a FIXED corpus sketch, the corpus is
    * never self-compared. Verdict per new doc: `overlap` with the
    * best-matching corpus id (most shared prints, ties to lowest id) or
    * `new`; (-1, 0) sentinels keep every column non-null.
    *
    * `maxDf` drops corpus-ubiquitous prints from BOTH sides (partial-agg
    * df + anti-join). The join runs sketch-vs-sketch — bounded rows per
    * doc, never shingle sets.
    * Output: (idCol, status ∈ overlap|new, overlap_of, n_shared).
    */
  def winnowOverlapAgainst(batch: DataFrame, corpusSketch: DataFrame,
                           idCol: String, textCol: String,
                           k: Int = 5, w: Int = 4, minShared: Int = 2,
                           maxDf: Int = Int.MaxValue): DataFrame = {
    // the deterministic tie-break (negated id in a struct max) needs a
    // numeric id; a silent cast of string ids would NULL every cid and
    // merge all corpus matches into one bogus group
    {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = corpusSketch.schema(idCol).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"winnowOverlapAgainst: corpus id column '$idCol' must be integral, got $dt")
    }
    val cs0 = corpusSketch.select(col(idCol).cast("long").as("cid"), col("h"))
    val (cs, hot) =
      if (maxDf == Int.MaxValue) (cs0, None)
      else {
        val h = cs0.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDf).select("h")
        (cs0.join(h, Seq("h"), "left_anti"), Some(h))
      }
    val bf0 = winnowSketch(batch, idCol, textCol, k, w)
    val bf = hot.map(h => bf0.join(h, Seq("h"), "left_anti")).getOrElse(bf0)
    val best = bf.join(cs, "h")
      .groupBy(col(idCol), col("cid")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .groupBy(col(idCol))
      .agg(max(struct(col("n_shared"), (lit(0L) - col("cid")).as("negcid"))).as("b"))
      .select(col(idCol), col("b.n_shared").as("ns"), (lit(0L) - col("b.negcid")).as("oid"))
    batch.select(col(idCol)).distinct()
      .join(best, Seq(idCol), "left")
      .select(col(idCol),
        when(col("ns").isNotNull, lit("overlap")).otherwise(lit("new")).as("status"),
        coalesce(col("oid"), lit(-1L)).as("overlap_of"),
        coalesce(col("ns"), lit(0L)).as("n_shared"))
  }

  /** Shingle-start positions that are duplicated: the (idCol, pos) rows
    * whose k-shingle occurs ≥ 2 times corpus-wide (across documents OR
    * repeated within one — any second occurrence is a duplicate, matching
    * the exact-substring-dedup convention).
    */
  private def dupPositions(docs: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame = {
    val ps = positionedShingles(docs, idCol, textCol, k)
    val dup = ps.groupBy("shingle").agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2).select("shingle")
    ps.join(dup, Seq("shingle"), "left_semi").select(col(idCol), col("pos"))
  }

  /** Duplicated spans per document: maximal runs of ≥ `minRun` consecutive
    * duplicated k-shingle positions, reported as token ranges
    * (idCol, span_start, span_end, n_shingles) — span_end = last duplicated
    * shingle start + k − 1, both ends 1-based inclusive. A span of
    * `n_shingles` consecutive duplicated k-shingles certifies a duplicated
    * substring of n_shingles + k − 1 tokens; `minRun` sets the shortest run
    * worth reporting (minRun = 1 reports every duplicated shingle).
    *
    * Runs are maximal, so two spans of one document never share a shingle
    * position — though for k > 2 their TOKEN ranges may overlap by up to
    * k − 2 tokens around the separating non-duplicated position (use
    * [[spanCoverage]] for overlap-free token accounting).
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 8, minRun: Int = 2): DataFrame = {
    require(k >= 1, s"dupSpans: k must be >= 1, got $k")
    require(minRun >= 1, s"dupSpans: minRun must be >= 1, got $minRun")
    val marked = dupPositions(docs, idCol, textCol, k)
    marked
      .withColumn("island",
        col("pos") - row_number().over(Window.partitionBy(idCol).orderBy("pos")))
      .groupBy(col(idCol), col("island"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(k - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_shingles"))
      .filter(col("n_shingles") >= minRun)
      .select(col(idCol), col("span_start"), col("span_end"), col("n_shingles"))
  }

  /** Per-document duplicated-token accounting: every document with its
    * token count and the number of tokens covered by at least one
    * duplicated k-shingle (the union of all duplicated spans — overlap
    * counted once). (idCol, n_tokens, dup_tokens); dup_tokens = 0 for
    * clean documents. The corpus-level sum of dup_tokens / n_tokens is the
    * standard "fraction of the corpus that is duplicated text" statistic.
    *
    * The k-way position fan-out runs only on DUPLICATED positions (after
    * the semi-join), so a mostly-clean corpus pays the explode on the dirty
    * fraction alone.
    */
  def spanCoverage(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 8): DataFrame = {
    require(k >= 1, s"spanCoverage: k must be >= 1, got $k")
    val covered = dupPositions(docs, idCol, textCol, k)
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(k - 1).cast("long"))).as("tok"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("tok")).as("dup_tokens"))
    docs
      .select(col(idCol),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** Incremental span scrub — the ingest-time transform: rewrite each NEW
    * document with every token covered by a corpus-known k-shingle removed
    * (single-space re-join, in token order). The corpus is the retained
    * copy, so this is the clean keep-first policy: boilerplate the corpus
    * already contains never enters it twice, while genuinely new text
    * passes through verbatim. Returns every new doc
    * (idCol, text_scrubbed, n_tokens, kept_tokens) — a fully-duplicated
    * doc survives as an empty string (filter on kept_tokens to drop).
    *
    * Scale shape: the corpus side reduces to its DISTINCT shingle set once
    * (reusable across ingests, like [[bloomBuild]]); marking is the same
    * semi-join-bounded pass as [[dupSpans]]; the rebuild is one
    * partial-agg `collect_list` per new doc sorted in-array — never a
    * per-doc window or global sort.
    */
  def scrubSpans(newDocs: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
                 k: Int = 8): DataFrame =
    scrubSpansWithShingles(newDocs, corpusShingleSet(corpus, textCol, k),
      idCol, textCol, k)

  /** The corpus side of [[scrubSpans]] reduced to its reusable artifact:
    * the distinct k-shingle set (single `shingle` column). Materialize or
    * persist this once per ingest lifetime — like the Bloom word table —
    * and feed it to [[scrubSpansWithShingles]] so recurring ingests never
    * re-shingle the corpus.
    */
  def corpusShingleSet(corpus: DataFrame, textCol: String, k: Int = 8): DataFrame =
    corpus
      .select(TextFunctions.tokens(col(textCol)).as("w"))
      .select(explode(TextFunctions.wordShinglesFromTokens(col("w"), k)).as("shingle"))
      .distinct()

  /** [[scrubSpans]] against a pre-computed [[corpusShingleSet]]. */
  def scrubSpansWithShingles(newDocs: DataFrame, corpusShingles: DataFrame,
                             idCol: String, textCol: String,
                             k: Int = 8): DataFrame = {
    require(k >= 1, s"scrubSpans: k must be >= 1, got $k")
    val marked = positionedShingles(newDocs, idCol, textCol, k)
      .join(corpusShingles, Seq("shingle"), "left_semi")
      .select(col(idCol), col("pos"))
    val covered = marked
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(k - 1).cast("long"))).as("tok_idx"))
      .distinct()
    val toks = newDocs
      .select(col(idCol), posexplode(TextFunctions.tokens(col(textCol))))
      .select(col(idCol), (col("pos") + 1).cast("long").as("tok_idx"),
        col("col").as("tok"))
    val rebuilt = toks
      .join(covered, Seq(idCol, "tok_idx"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("tok_idx"), col("tok")))),
            s => s("tok")),
          " ").as("text_scrubbed"),
        count(lit(1)).as("kept_tokens"))
    newDocs
      .select(col(idCol),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_scrubbed"), lit("")).as("text_scrubbed"),
        col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }

  /** Per-doc lines keyed for host-boilerplate analysis: one row per line
    * with its 1-based position and trimmed match key. `split(_, "\n", -1)`
    * keeps empty segments, so blank lines are positions too and the
    * reassembled text round-trips byte-for-byte when nothing is removed.
    */
  private def hostLines(docs: DataFrame, idCol: String, hostCol: String,
                        textCol: String): DataFrame = docs
    .select(col(idCol), col(hostCol),
      posexplode(split(col(textCol), "\n", -1)))
    .select(col(idCol), col(hostCol), (col("pos") + 1).cast("long").as("pos"),
      col("col").as("line"), trim(col("col")).as("key"))

  /** Host-level boilerplate line discovery — the CCNet/RefinedWeb cleaning
    * step the crawl front door needs between HTML extraction and quality
    * gating: lines that repeat across a large fraction of one host's pages
    * (nav bars, cookie banners, footers) are template, not content. A line
    * (trimmed) is boilerplate for a host when it appears in at least
    * `minDocs` of the host's docs AND at least `minFrac` of them.
    *
    * The EMPTY trimmed key (blank lines) is never boilerplate: blank lines
    * occur in ≥ minFrac of nearly every host's docs, so counting them
    * would scrub every blank line and silently collapse paragraph
    * structure — a signal downstream quality heuristics read. Blank lines
    * therefore always survive [[scrubBoilerplate]].
    *
    * Returns one row per distinct (host, line key): `(hostCol, key,
    * n_docs, host_docs, is_boilerplate)`.
    *
    * Scale shape: document frequency is `distinct` on (host, key, doc) then
    * a count partial-agg — shuffle O(distinct host lines), never a window;
    * host sizes are one count row per host. Nothing is ever collected, and
    * no per-host structure exceeds its line-key cardinality. The verdict
    * compare is one IEEE multiply per row (`n_docs >= minFrac·host_docs`),
    * bit-identical on any engine — no accumulation.
    */
  def boilerplateLines(docs: DataFrame, idCol: String, hostCol: String,
                       textCol: String, minDocs: Int = 2,
                       minFrac: Double = 0.5): DataFrame = {
    require(minDocs >= 1, s"boilerplateLines: minDocs must be >= 1, got $minDocs")
    require(minFrac >= 0.0 && minFrac <= 1.0,
      s"boilerplateLines: minFrac must be in [0,1], got $minFrac")
    val hostDocs = docs.groupBy(col(hostCol))
      .agg(count(lit(1)).as("host_docs"))
    hostLines(docs, idCol, hostCol, textCol)
      .select(col(hostCol), col("key"), col(idCol)).distinct()
      .groupBy(col(hostCol), col("key"))
      .agg(count(lit(1)).as("n_docs"))
      .join(hostDocs, Seq(hostCol))
      .select(col(hostCol), col("key"), col("n_docs"), col("host_docs"),
        (col("key") =!= "" &&
          col("n_docs") >= lit(minDocs.toLong) &&
          col("n_docs").cast("double") >= lit(minFrac) *
            col("host_docs").cast("double")).cast("int").as("is_boilerplate"))
  }

  /** Remove host-boilerplate lines ([[boilerplateLines]] verdicts) from
    * every document, preserving the order and bytes of the surviving lines.
    * Returns `(idCol, hostCol, n_lines, n_removed, text_clean)`; a doc
    * whose every line is template keeps its row with empty `text_clean`.
    *
    * Scale shape: the scrub is a left-anti equi-join of the line stream
    * against the (host, key) verdict table — shuffle on the line key pair,
    * broadcast when the template table is small (the common case);
    * reassembly is one groupBy(doc) whose payload is the doc itself, the
    * same cost class as any per-doc map. No window ever sees the corpus.
    */
  def scrubBoilerplate(docs: DataFrame, idCol: String, hostCol: String,
                       textCol: String, minDocs: Int = 2,
                       minFrac: Double = 0.5): DataFrame =
    scrubBoilerplateWithTemplate(docs,
      boilerplateLines(docs, idCol, hostCol, textCol, minDocs, minFrac)
        .filter(col("is_boilerplate") === 1)
        .select(col(hostCol), col("key")),
      idCol, hostCol, textCol)

  /** The scrub side of [[scrubBoilerplate]] against an EXTERNAL template
    * table (`(hostCol, key)` rows — [[boilerplateLines]] verdicts).
    * Materialize the template once per ingest lifetime — like the corpus
    * shingle set — and feed it to recurring ingests so a new batch never
    * re-derives host history it doesn't have. Hosts with no template rows
    * pass through untouched.
    */
  def scrubBoilerplateWithTemplate(docs: DataFrame, template: DataFrame,
                                   idCol: String, hostCol: String,
                                   textCol: String): DataFrame = {
    val kept = hostLines(docs, idCol, hostCol, textCol)
      .join(template, Seq(hostCol, "key"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s("line")),
          "\n").as("text_clean"),
        count(lit(1)).as("kept_lines"))
    docs
      .select(col(idCol), col(hostCol),
        size(split(col(textCol), "\n", -1)).cast("long").as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col(hostCol), col("n_lines"),
        (col("n_lines") - coalesce(col("kept_lines"), lit(0L))).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }
}
