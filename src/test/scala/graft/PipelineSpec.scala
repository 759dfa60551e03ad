package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Pipeline}

/** End-to-end corpus prep: each stage's effect on a planted corpus, the
  * curriculum key contract, and the ordered-shard export.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  // 36 tokens, mean length ~5, two stopwords -> passes Gopher + quality;
  // token universes are disjoint across seeds so only planted overlaps
  // (the dup and the contaminated doc) share shingles
  private def goodDoc(seed: Int): String =
    (0 until 34).map(i => s"tok${seed * 100 + i}").mkString(" ") + " the and"

  // one giant 2500-char word, no stopwords -> fails Gopher (mean len,
  // word len) AND scores quality 0.0
  private val junk = "x" * 2500

  private def corpus = Seq(
    (0L, "web", goodDoc(0)),
    (1L, "web", goodDoc(1)),
    (2L, "web", goodDoc(0)),    // exact dup of doc 0 -> dropped (canonical 0 kept)
    (3L, "books", goodDoc(3)),
    (4L, "books", goodDoc(4)),
    (5L, "books", junk),        // quality gate drops
    (6L, "news", goodDoc(6)),
    (7L, "news", goodDoc(1))    // contaminated: bench carries doc 1's text
  ).toDF("doc_id", "source", "text")

  // benchmark shares every shingle of goodDoc(1) -> docs 1 AND 7 flagged
  private def bench = Seq((100L, goodDoc(1))).toDF("doc_id", "text")

  test("prepare: quality gate, dedup, decontam and curriculum key land exactly") {
    val out = Pipeline.prepare(corpus, "doc_id", "source", "text",
      bench = Some(bench), numShards = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    // junk (5) gone; dup (2) gone; contaminated (1, 7) gone; rest kept
    assert(out.keySet === Set(0L, 3L, 4L, 6L))
    out.values.foreach { r =>
      val (bin, tier, shard, ck) = (r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))
      assert(tier === bin, "bestLast: tier must equal the quality bin")
      assert(shard >= 0 && shard < 4)
      assert(ck === tier * 4 + shard)
    }
  }

  test("prepare without bench keeps the would-be-contaminated docs") {
    val ids = Pipeline.prepare(corpus, "doc_id", "source", "text", numShards = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // dup of doc 1: ONE of (1, 7) survives dedup as canonical min id = 1
    assert(ids === Set(0L, 1L, 3L, 4L, 6L))
  }

  test("prepare: a tiny quota keeps only the best bin per source") {
    // quota 1 token: the strictly-better-bins-left-room rule admits
    // exactly the best bin per source (one-bin overshoot)
    val sel = Pipeline.prepare(corpus, "doc_id", "source", "text",
      bench = Some(bench), quota = 1L, numShards = 4)
      .select("source", "bin").collect().map(r => (r.getString(0), r.getLong(1)))
    val bestBin = sel.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    sel.foreach { case (src, bin) =>
      assert(bin === bestBin(src), s"quota 1 must keep only $src's best bin")
    }
  }

  // doc 10 = doc 0 with one token swapped: survives EXACT dedup but is a
  // near dup (high 3-gram Jaccard); chain 10-11 must collapse too
  private def nearCorpus = corpus.unionAll(Seq(
    (10L, "web", goodDoc(0).replace("tok1 ", "swap ")),
    (11L, "web", goodDoc(0).replace("tok2 ", "swap2 "))).toDF("doc_id", "source", "text"))

  test("prepare with nearDedup: near-identical docs collapse to the min-id canonical") {
    val docs = nearCorpus
    val without = Pipeline.prepare(docs, "doc_id", "source", "text", numShards = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(without.contains(10L) && without.contains(11L),
      "exact dedup alone must NOT drop the near dups")
    val ids = Pipeline.prepare(docs, "doc_id", "source", "text", numShards = 4,
      nearDedup = Some(0.6)).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(10L) && !ids.contains(11L),
      "near dups must collapse to the canonical")
    assert(ids.contains(0L), "the min-id canonical survives")
    assert(ids.contains(3L) && ids.contains(4L) && ids.contains(6L),
      "unrelated docs are untouched")
  }

  /** Every stage with a boundary: gate, exact dedup, near dedup, decontam. */
  private def fullPrepare(materialize: Boolean = true): DataFrame =
    Pipeline.prepare(nearCorpus, "doc_id", "source", "text", bench = Some(bench),
      numShards = 4, nearDedup = Some(0.6), materialize = materialize)

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq

  /** Ids of the stage-boundary RDDs persisted now and not in `before`. */
  private def newBoundaries(before: collection.Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !before.contains(id) &&
        Option(rdd.name).exists(_.startsWith(Checkpoints.BoundaryPrefix)) => id
    }.toSet

  test("prepare: materialized stage boundaries give the rows of the fully lazy plan") {
    val eager = sortedRows(fullPrepare())
    assert(eager.map(_.head) === Seq(0L, 3L, 4L, 6L))
    assert(eager === sortedRows(fullPrepare(materialize = false)))
  }

  test("prepare: the result's analyzed plan does not grow with the number of stages") {
    def nodes(df: DataFrame): Int = df.queryExecution.analyzed.collect { case n => n }.size
    val all = nodes(fullPrepare())
    val fewest = nodes(Pipeline.prepare(corpus, "doc_id", "source", "text", numShards = 4))
    // each boundary is one leaf, so only the budget + curriculum tail
    // after the last one remains; a lineage-keeping frame instead grows
    // with every self-joining stage (1,855 nodes with all four)
    assert(all === fewest, "two extra stages must not add plan nodes")
    assert(all < 100, s"analyzed plan has $all nodes")
  }

  test("prepare: stage boundaries recompute from lineage after their blocks are released") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = fullPrepare()
    val boundaries = newBoundaries(before)
    assert(boundaries.size === 4, "gate, exact dedup, near dedup and decontam boundaries")
    val first = sortedRows(out)
    boundaries.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist(blocking = true))
    assert(newBoundaries(before).isEmpty)
    // a localCheckpoint boundary would fail here: its blocks cannot recompute
    assert(sortedRows(out) === first)
  }

  test("prepare: releaseTracked frees every stage boundary of a consumed result") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = fullPrepare()
    val boundaries = newBoundaries(before)
    assert(boundaries.size === 4)
    out.collect()
    Checkpoints.releaseTracked(spark)
    assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(boundaries).isEmpty,
      "releaseTracked must unpersist the boundaries")
  }

  test("--prepare CLI round-trip: shards land with curriculum columns") {
    val base = java.nio.file.Files.createTempDirectory("prep-cli").toString
    corpus.write.parquet(s"$base/docs")
    bench.write.parquet(s"$base/bench")
    Main.run(spark, Map("prepare" -> s"$base/docs", "out" -> s"$base/ready",
      "bench" -> s"$base/bench", "num-shards" -> "4", "records-per-file" -> "2"))
    val ready = spark.read.parquet(s"$base/ready")
    assert(ready.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(0L, 3L, 4L, 6L))
    assert(ready.columns.toSet === Set("doc_id", "source", "text",
      "n_tok", "bin", "tier", "shard", "ck", "h"))
  }

  test("prepareFromWarc: URL first-wins dedup runs BEFORE fingerprint dedup") {
    import graft.sources.Warc
    val dir = java.nio.file.Files.createTempDirectory("warc-prep").toString
    // 40 records / 4 files; planted per Warc.writeSyntheticCrawl:
    //   r%10==9 re-fetches r-9's URL with CHANGED text ("refetch " prefix)
    //   r%10==8 copies r-8's text under a fresh URL
    //   base%1000==0 (r=0, and its copy r=8) is junk
    Warc.writeSyntheticCrawl(spark, dir, n = 40L, nFiles = 4)
    val out = graft.operators.Pipeline.prepareFromWarc(
      Warc.recordsFromFiles(Warc.readFiles(spark, s"$dir/*")))
      .select("url", "text").collect().map(r => (r.getString(0), r.getString(1)))
    // URL dedup: 4 re-fetches collapse; gate: r=0 junk + r=8 junk copy;
    // fingerprint dedup: pairs (10,18) (20,28) (30,38) each lose one
    assert(out.length === 31, s"expected 31 kept docs, got ${out.length}")
    // the re-fetch text is DIFFERENT from the original, so only URL-level
    // dedup can drop it — fingerprint dedup would have kept it. Its
    // absence proves URL dedup ran, and ran before content fingerprinting
    assert(out.forall(!_._2.startsWith("refetch")),
      "re-fetched URL content must be dropped by URL first-wins dedup")
    // first-wins: the re-fetched URL keeps its FIRST fetch's content
    val u10 = out.toMap.get(Warc.crawlUrl(10L))
    assert(u10.contains(Warc.crawlText(10L)),
      "the canonical fetch for a re-crawled URL is the first one")
    // junk gone, one survivor per exact-dup pair
    assert(out.forall(_._2.length < 2000), "junk docs must fail the gate")
    assert(out.map(_._2).distinct.length === out.length,
      "exactly one of each exact-text pair survives")
  }

  test("docsFromWarc canonicalizeUrls: case/port/tracking URL variants collapse to one first-wins fetch") {
    import spark.implicits._
    val recs = Seq(
      ("response", "HTTP://Site.COM:80/a?utm_source=x", "Site.COM", "f1", 1L, "<p>first</p>"),
      ("response", "http://site.com/a", "site.com", "f1", 2L, "<p>second</p>"),
      ("response", "http://site.com/b", "site.com", "f1", 3L, "<p>other</p>"),
      ("request", "http://site.com/a", "site.com", "f1", 4L, "ignored"))
      .toDF("warc_type", "url", "host", "path", "rec", "payload")
    val off = graft.operators.Pipeline.docsFromWarc(recs)
    assert(off.count() === 3, "raw keys keep both variants of /a")
    val on = graft.operators.Pipeline.docsFromWarc(recs, canonicalizeUrls = true)
      .collect().map(r => (r.getString(0), r.getString(3))).toMap
    assert(on.size === 2, "canonical keys collapse the variant pair")
    assert(on("http://site.com/a") === "first",
      "the FIRST fetch wins across the canonical group")
    assert(on("http://site.com/b") === "other")
  }

  test("--prepare --input-warc CLI round-trip: crawl files to curriculum shards") {
    val base = java.nio.file.Files.createTempDirectory("warc-cli").toString
    Main.run(spark, Map("gen-warc" -> s"$base/crawl", "n" -> "60", "files" -> "6"))
    Main.run(spark, Map("prepare" -> "true", "input-warc" -> s"$base/crawl/*",
      "out" -> s"$base/ready", "num-shards" -> "4", "records-per-file" -> "16"))
    val ready = spark.read.parquet(s"$base/ready")
    assert(ready.columns.toSet === Set("doc_id", "source", "text",
      "n_tok", "bin", "tier", "shard", "ck", "h", "url"))
    // 60 records: 6 re-fetches dropped, junk r=0 + copy r=8 gated, one of
    // each surviving text-dup pair (18/28/38/48/58 bases alive) dropped
    assert(ready.count() === 47, s"expected 47 kept docs")
    assert(ready.filter(col("text").startsWith("refetch")).count() === 0)
    assert(ready.filter(col("source").startsWith("h")).count() === 47,
      "source must be the crawl host")
    // --canonical-urls plumbs through; synthetic crawl URLs are already
    // canonical, so the flag must be a byte-exact no-op on them
    Main.run(spark, Map("prepare" -> "true", "input-warc" -> s"$base/crawl/*",
      "out" -> s"$base/ready2", "num-shards" -> "4", "records-per-file" -> "16",
      "canonical-urls" -> "true"))
    val ready2 = spark.read.parquet(s"$base/ready2")
    assert(ready2.count() === 47)
    assert(ready2.select("url").collect().map(_.getString(0)).sorted.toSeq
      === ready.select("url").collect().map(_.getString(0)).sorted.toSeq,
      "already-canonical URLs survive the normalize unchanged")
  }

  test("hostLinkGraph: degrees conserve, frontier hosts surface, relative links and case/ports normalize") {
    val crawl = Seq(
      ("a.com", """x <a href="http://b.com/1">l</a> <a href="HTTPS://B.COM:8443/2">l</a> y"""),
      ("a.com", """<a href="/relative">skip</a> <a href="http://c.org/p">l</a>"""),
      ("b.com", """<a href="http://a.com/back">l</a> <a href="http://b.com/self">s</a>"""),
      ("lonely.net", "no links at all")).toDF("host", "html")
    val g = Pipeline.hostLinkGraph(crawl, "host", "html")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // a.com: out = b.com x2 (case+port collapse) + c.org; in = 1 from b.com
    assert(g("a.com") === ((3L, 2L, 1L, 1L)))
    // b.com: out = a.com + self; in = 2 from a.com + 1 self
    assert(g("b.com") === ((2L, 2L, 3L, 2L)))
    // c.org was never crawled -> frontier row, in-degree only
    assert(g("c.org") === ((0L, 0L, 1L, 1L)))
    assert(g("lonely.net") === ((0L, 0L, 0L, 0L)))
    // conservation: every emitted link lands somewhere
    assert(g.values.map(_._1).sum === g.values.map(_._3).sum)
    val plan = Pipeline.hostLinkGraph(crawl, "host", "html")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"))
  }

  test("--gen-warc --links + --link-graph round trip: crawl files to degree and rank tables") {
    val base = java.nio.file.Files.createTempDirectory("lg").toString
    Main.run(spark, Map("gen-warc" -> s"$base/crawl", "n" -> "300", "files" -> "4",
      "links" -> "true"))
    Main.run(spark, Map("link-graph" -> "true", "input-warc" -> s"$base/crawl/*",
      "out" -> s"$base/graph"))
    val deg = spark.read.parquet(s"$base/graph/degrees")
    val rank = spark.read.parquet(s"$base/graph/rank")
    assert(deg.count() === rank.count(), "one row per host in both views")
    // every record links once, every third twice: totals are exact
    val links = deg.agg(sum("out_links")).head().getLong(0)
    assert(links === 300L + 100L, s"300 primary + 100 secondary anchors, got $links")
    assert(deg.filter(col("in_links") > 0).count() > 0)
    // centrality mass: linked-to hosts beat the 150000 base floor
    assert(rank.agg(max("rank_fp")).head().getLong(0) > 150000L)
    assert(rank.agg(min("rank_fp")).head().getLong(0) >= 150000L)
    // the default fixture stays anchor-free (planted strip expectations)
    Main.run(spark, Map("gen-warc" -> s"$base/plain", "n" -> "50", "files" -> "2"))
    Main.run(spark, Map("link-graph" -> "true", "input-warc" -> s"$base/plain/*",
      "out" -> s"$base/plaingraph"))
    assert(spark.read.parquet(s"$base/plaingraph/degrees")
      .agg(coalesce(sum("out_links"), lit(0L))).head().getLong(0) === 0L)
  }

  test("anchorTexts: terms credit the TARGET host; markup-bearing and relative anchors drop") {
    val crawl = Seq(
      ("p1", """<a href="http://wiki.org/x">great reference site</a>"""),
      ("p2", """<a href="http://wiki.org/y">reference</a> body words ignored"""),
      ("p3", """<a href="http://shop.io/z">buy <b>now</b></a>"""), // markup inside -> drops
      ("p4", """<a href="/local">relative</a> <a href="http://shop.io/w"></a>""")) // empty anchor drops
      .toDF("page", "html")
    val out = Pipeline.anchorTexts(crawl, "html")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      ("wiki.org", "great") -> 1L, ("wiki.org", "reference") -> 2L,
      ("wiki.org", "site") -> 1L))
  }

  test("hostRank: hand-computed two-iteration fixed point; sinks collect mass, sources keep the base") {
    // a -> b, a -> c, b -> c: c is the sink everyone reaches
    val crawl = Seq(
      ("a", """<a href="http://b/x">l</a> <a href="http://c/y">l</a>"""),
      ("b", """<a href="http://c/z">l</a>"""),
      ("c", "no links")).toDF("host", "html")
    val r = Pipeline.hostRank(crawl, "host", "html", iterations = 2)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // iter1: b gets 500000, c gets 1500000 -> (150000, 575000, 1425000)
    // iter2: b gets 75000,  c gets 650000  -> (150000, 213750, 702500)
    assert(r === Map("a" -> 150000L, "b" -> 213750L, "c" -> 702500L))
    assert(r("c") > r("b") && r("b") > r("a"), "centrality orders sink > relay > source")
  }

  test("writeCurriculum: files are curriculum-ordered and partition-ranged") {
    val outDir = java.nio.file.Files.createTempDirectory("prep-out").toString
    val prepared = Pipeline.prepare(corpus, "doc_id", "source", "text", numShards = 4)
    val nFiles = Pipeline.writeCurriculum(prepared, outDir, "doc_id", recordsPerFile = 2)
    assert(nFiles >= 2, "5 docs at 2/file must split")
    val back = spark.read.parquet(outDir)
    assert(back.count() === prepared.count())
    // within every file, rows are sorted by (ck, h, id); across files
    // (sorted by their min key), key ranges must not overlap
    val files = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    val ranges = files.map { f =>
      val rows = spark.read.parquet(f)
        .select("ck", "h", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.sameElements(rows.sortBy(identity)), s"$f not internally sorted")
      (rows.head, rows.last)
    }
    val ordered = ranges.sortBy(_._1)
    ordered.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) =>
        assert(implicitly[Ordering[(Long, Long, Long)]].lt(aMax, bMin),
          "file key ranges overlap")
      case _ => ()
    }
  }
}
