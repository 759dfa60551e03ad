package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions

/** SQL surface via SparkSessionExtensions (own session: extensions are
  * fixed at session build time).
  */
class ExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // getOrCreate would return the shared test session (extensions are fixed
    // at session construction) — force a fresh session on the same context
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
    .master("local[2]")
    .appName("graft-ext-test")
    // withExtensions works even when an existing SparkContext is reused
    // (the spark.sql.extensions config is only honored for a fresh context)
    .withExtensions(new GraftExtensions()(_))
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  }

  test("vector functions and topk aggregate are callable from SQL") {
    import spark.implicits._
    Seq((1L, Array(0f, 3f), Array(4f, 0f)), (2L, Array(1f, 1f), Array(1f, 1f)))
      .toDF("id", "a", "b").createOrReplaceTempView("v")
    val rows = spark.sql(
      """SELECT id, vector_l2(a, b) AS l2, vector_dot(a, b) AS dot,
        |       vector_cosine_distance(a, b) AS cos
        |FROM v ORDER BY id""".stripMargin).collect()
    assert(rows(0).getDouble(1) === 5.0)
    assert(rows(0).getDouble(2) === 0.0)
    assert(rows(1).getDouble(1) === 0.0)
    assert(math.abs(rows(1).getDouble(3)) < 1e-12)

    Seq((1L, 0.5, 10L), (1L, 0.1, 11L), (1L, 0.3, 12L), (2L, 0.9, 13L))
      .toDF("qid", "dist", "id").createOrReplaceTempView("scored")
    val top = spark.sql(
      "SELECT qid, topk_by_dist(dist, id, 2) AS top FROM scored GROUP BY qid ORDER BY qid")
      .collect()
    val q1 = top(0).getSeq[org.apache.spark.sql.Row](1).map(r => (r.getDouble(0), r.getLong(1)))
    assert(q1 === Seq((0.1, 11L), (0.3, 12L)))
    assert(top(1).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(1)) === Seq(13L))
  }

  test("text/pipeline functions are callable from SQL, bit-equal to the Column API") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog sat on the mat with them all day"),
      (2L, "der und die katze ist nicht auf das mit ein war"),
      (3L, "mail me a@b.co or 10.1.2.3 at 555-4321 thanks"),
      (4L, "word soup with no markers whatsoever")
    ).toDF("doc_id", "text")
    docs.createOrReplaceTempView("sql_docs")
    val viaSql = spark.sql(
      """SELECT doc_id, token_count(text) AS tc, bpe_token_count(text) AS bc,
        |  lang_id(text) AS lang, quality_score(text) AS q,
        |  doc_fingerprint(text) AS fp, rolling_hash(text) AS rh,
        |  pii_redact(text) AS red, pii_email_count(text) AS ne,
        |  pii_phone_count(text) AS np, pii_ipv4_count(text) AS ni,
        |  word_shingles(text, 3) AS sh3, simhash(text, 16) AS sim
        |FROM sql_docs ORDER BY doc_id""".stripMargin).collect()
    val viaCols = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("tc"),
      TextFunctions.bpeTokenCount(col("text")).as("bc"),
      TextFunctions.langId(col("text")).as("lang"),
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.rollingHash(col("text")).as("rh"),
      graft.operators.Pii.redact(col("text")).as("red"),
      graft.operators.Pii.emailCount(col("text")).as("ne"),
      graft.operators.Pii.phoneCount(col("text")).as("np"),
      graft.operators.Pii.ipv4Count(col("text")).as("ni"),
      TextFunctions.wordShingles(col("text"), 3).as("sh3"),
      graft.operators.Dedup.simhash(col("text"), 16).as("sim"))
      .orderBy("doc_id").collect()
    assert(viaSql.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case x => x
    }).toSeq === viaCols.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toList
      case x => x
    }).toSeq)
    // spot semantics: language markers found, redaction applied
    assert(viaSql(0).getString(3) === "en")
    assert(viaSql(1).getString(3) === "de")
    assert(viaSql(2).getString(7) === "mail me <EMAIL> or <IP> at <PHONE> thanks")

    val bucket = spark.sql(
      "SELECT embedding_bucket(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT), CAST(3.0 AS FLOAT), CAST(0.5 AS FLOAT)), 4, 2) AS b")
      .head().getLong(0)
    val bucketCol = Seq(Tuple1(Array(1.0f, -2.0f, 3.0f, 0.5f))).toDF("v")
      .select(graft.operators.Dedup.embeddingBucket(col("v"), 4, 2).as("b")).head().getLong(0)
    assert(bucket === bucketCol)

    // strip_html: tags/script drop, entity decode order (author-escaped
    // &amp;lt; must display as "&lt;", not double-decode), collapse
    val htmlDf = Seq(
      (1L, """<html><body><p class="a">Hi <b>there</b></p><script>var x = "<p>";</script> ok</body></html>"""),
      (2L, "no markup at all"),
      (3L, "a &amp;lt; b &nbsp; c &gt; d")).toDF("id", "html")
    htmlDf.createOrReplaceTempView("sql_html")
    val stripSql = spark.sql(
      "SELECT id, strip_html(html) AS t FROM sql_html ORDER BY id").collect()
    val stripCol = htmlDf.select(col("id"), TextFunctions.stripHtml(col("html")).as("t"))
      .orderBy("id").collect()
    assert(stripSql.map(_.toSeq).toSeq === stripCol.map(_.toSeq).toSeq)
    assert(stripSql(0).getString(1) === "Hi there ok")
    assert(stripSql(1).getString(1) === "no markup at all")
    assert(stripSql(2).getString(1) === "a &lt; b c > d")

    // canonicalize_url: every rule branch on one literal apiece
    val urls = Seq(
      (1L, "HTTP://Ex.COM:80/A/b?utm_source=s&b=2&a=1#f"),
      (2L, "https://ex.com:443/"),
      (3L, "https://ex.com:8443/Keep/?fbclid=x"),
      (4L, "http://ex.com"),
      (5L, "http://ex.com/p?gclid=g")).toDF("id", "url")
    urls.createOrReplaceTempView("sql_urls")
    val canonSql = spark.sql(
      "SELECT id, canonicalize_url(url) AS u FROM sql_urls ORDER BY id").collect()
    val canonCol = urls.select(col("id"),
      TextFunctions.canonicalizeUrl(col("url")).as("u")).orderBy("id").collect()
    assert(canonSql.map(_.toSeq).toSeq === canonCol.map(_.toSeq).toSeq)
    assert(canonSql(0).getString(1) === "http://ex.com/A/b?a=1&b=2",
      "host lowers, path case survives, :80 drops, utm drops, params sort")
    assert(canonSql(1).getString(1) === "https://ex.com/", ":443 drops, root slash stays")
    assert(canonSql(2).getString(1) === "https://ex.com:8443/Keep",
      "real port survives; one trailing slash strips")
    assert(canonSql(3).getString(1) === "http://ex.com/", "empty path becomes /")
    assert(canonSql(4).getString(1) === "http://ex.com/p", "all-tracking query drops whole")
    // idempotent: a canonical URL is its own fixed point
    val twice = urls.select(col("id"), TextFunctions.canonicalizeUrl(
      TextFunctions.canonicalizeUrl(col("url"))).as("u")).orderBy("id").collect()
    assert(twice.map(_.toSeq).toSeq === canonCol.map(_.toSeq).toSeq,
      "canonicalize_url must be idempotent")

    // mojibake pair: SQL spelling ≡ Column forms, detect + repair
    val moji = Seq((1L, "cafÃ© donâ€™t"), (2L, "clean café")).toDF("id", "s")
    moji.createOrReplaceTempView("sql_moji")
    val mojiSql = spark.sql(
      "SELECT id, mojibake_hits(s) AS h, fix_mojibake(s) AS f FROM sql_moji ORDER BY id").collect()
    val mojiCol = moji.select(col("id"), TextFunctions.mojibakeHits(col("s")).as("h"),
      TextFunctions.fixMojibake(col("s")).as("f")).orderBy("id").collect()
    assert(mojiSql.map(_.toSeq).toSeq === mojiCol.map(_.toSeq).toSeq)
    assert(mojiSql(0).getInt(1) === 2 && mojiSql(0).getString(2) === "café don’t")
    assert(mojiSql(1).getInt(1) === 0 && mojiSql(1).getString(2) === "clean café")

    val zSql = spark.sql("SELECT z_value(5, 3) AS z").head().getLong(0)
    val zCol = spark.range(1).select(
      graft.sources.Bucketing.zValue(
        org.apache.spark.sql.functions.lit(5L),
        org.apache.spark.sql.functions.lit(3L)).as("z")).head().getLong(0)
    assert(zSql === zCol)
    assert(zSql === 27L, "z(101b, 11b) = 011011b") // interleave: y1 x1 y0 x0 ...
  }

  test("EXPLAIN of the rewritten shapes (plain and filtered) runs no Spark jobs") {
    import graft.hnsw.{Hnsw, HnswParams}
    import graft.plans.IndexRegistry
    import spark.implicits._

    val vecs = (0L until 64L).map(i => (i, Array.tabulate(8)(d => (i * 31 + d).toFloat % 7)))
    val index = Hnsw.build(vecs.toDF("id", "vector"),
      HnswParams(dim = 8, m = 4, efConstruction = 16, numPartitions = 2))
    index.nodes.createOrReplaceTempView("emb_explain")
    IndexRegistry.register("emb_explain", index)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val qSql = (0 until 8).map(d => s"CAST($d AS FLOAT)").mkString("array(", ", ", ")")
    spark.sparkContext.addSparkListener(listener)
    try {
      val before = IndexRegistry.rewriteCount
      val plain = spark.sql(
        s"EXPLAIN SELECT id, vector_l2(vector, $qSql) AS dist FROM emb_explain ORDER BY dist LIMIT 3")
        .collect().map(_.getString(0)).mkString
      val filtered = spark.sql(
        s"""EXPLAIN SELECT id, vector_l2(vector, $qSql) AS dist FROM emb_explain
           |WHERE id % 2 = 0 ORDER BY dist LIMIT 3""".stripMargin).collect().map(_.getString(0)).mkString
      Seq(plain, filtered).foreach { plan =>
        assert(plan.contains(s"Scan ${Hnsw.ShardSearchName}"), s"no resident shard search in\n$plan")
      }
      // listener events are async; a short quiesce keeps the zero-job
      // assertion honest without private[spark] listenerBus access
      Thread.sleep(500)
      assert(IndexRegistry.rewriteCount >= before + 2, "both EXPLAIN statements must rewrite")
      assert(jobs.get() === 0,
        s"EXPLAIN of a rewritten query must not run cluster jobs, ran ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ANN rewrite: WHERE predicate + ORDER BY vector_l2 LIMIT k routes to the filtered path") {
    import graft.hnsw.{Hnsw, HnswParams}
    import graft.plans.IndexRegistry
    import spark.implicits._

    val rng = new scala.util.Random(11)
    val vecs = (0L until 200L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
    val index = Hnsw.build(vecs.toDF("id", "vector"),
      HnswParams(dim = 8, m = 4, efConstruction = 32, numPartitions = 2))
    index.nodes.createOrReplaceTempView("emb_fidx")
    IndexRegistry.register("emb_fidx", index)

    val q = vecs(4)._2
    val qSql = q.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
    val before = IndexRegistry.rewriteCount
    val df = spark.sql(
      s"""SELECT id, vector_l2(vector, $qSql) AS dist FROM emb_fidx
         |WHERE id % 2 = 0 ORDER BY dist LIMIT 5""".stripMargin)
    assert(IndexRegistry.rewriteCount === before + 1, "filtered rewrite did not fire")
    // EXPLAIN-equivalent laziness: plan construction ran no jobs is implied
    // by the rule contract; here assert semantics instead
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty)
    got.foreach { case (id, _) => assert(id % 2 === 0L, s"id $id violates the WHERE predicate") }
    assert(got.head._1 === 4L && got.head._2 === 0.0)

    // bit-identical to the direct filtered ANN path
    val allowed = index.nodes.filter(col("id") % 2 === 0).select("id")
    val expected = Hnsw.annQueryFiltered(index, Seq((0L, q)).toDF("qid", "vector"), 5, allowed)
      .select("id", "dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expected)

    // a nondeterministic predicate must NOT reroute (falls back to exact)
    val before2 = IndexRegistry.rewriteCount
    spark.sql(
      s"""SELECT id, vector_l2(vector, $qSql) AS dist FROM emb_fidx
         |WHERE rand() < 2.0 ORDER BY dist LIMIT 5""".stripMargin).collect()
    assert(IndexRegistry.rewriteCount === before2, "nondeterministic predicate must not rewrite")
  }

  test("ANN rewrite: ORDER BY vector_l2 LIMIT k over a registered index runs the graph path") {
    import graft.hnsw.{Hnsw, HnswParams}
    import graft.plans.IndexRegistry
    import spark.implicits._

    val rng = new scala.util.Random(7)
    val vecs = (0L until 200L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
    val index = Hnsw.build(vecs.toDF("id", "vector"),
      HnswParams(dim = 8, m = 4, efConstruction = 32, numPartitions = 2))
    index.nodes.createOrReplaceTempView("emb_idx")
    IndexRegistry.register("emb_idx", index)

    val q = vecs(3)._2
    val qSql = q.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
    val before = IndexRegistry.rewriteCount
    val df = spark.sql(
      s"SELECT id, vector_l2(vector, $qSql) AS dist FROM emb_idx ORDER BY dist LIMIT 5")
    assert(IndexRegistry.rewriteCount === before + 1, "rewrite did not fire")

    // bit-identical to the direct ANN path
    val expected = Hnsw.annQuery(index, Seq((0L, q)).toDF("qid", "vector"), 5)
      .select("id", "dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expected)
    assert(got.head._1 === 3L && got.head._2 === 0.0) // self-match at rank 1

    // unregistered view name → no rewrite, brute-force fallback still works
    index.nodes.createOrReplaceTempView("emb_plain")
    val before2 = IndexRegistry.rewriteCount
    val exact = spark.sql(
      s"SELECT id, vector_l2(vector, $qSql) AS dist FROM emb_plain ORDER BY dist LIMIT 5")
      .collect()
    assert(IndexRegistry.rewriteCount === before2)
    assert(exact.head.getLong(0) === 3L)

    // metric mismatch → no rewrite (l2 index, cosine ORDER BY)
    val before3 = IndexRegistry.rewriteCount
    spark.sql(
      s"SELECT id, vector_cosine_distance(vector, $qSql) AS dist FROM emb_idx ORDER BY dist LIMIT 5")
      .collect()
    assert(IndexRegistry.rewriteCount === before3)
  }

  test("shard search leaf: count, limit, a join, spillPath chunks and the SQL rewrite read collect()'s rows") {
    import graft.hnsw.{Hnsw, HnswParams, HnswShardSearchStrategy}
    import graft.plans.IndexRegistry
    import spark.implicits._

    val rng = new scala.util.Random(17)
    val vecs = (0L until 300L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
    val index = Hnsw.build(vecs.toDF("id", "vector"),
      HnswParams(dim = 8, m = 4, efConstruction = 32, numPartitions = 3))
    val qs = vecs.filter(_._1 % 30 == 4)
    val qDf = qs.toDF("qid", "vector")
    val ann = Hnsw.annQuery(index, qDf, k = 5)
    val rows = ann.collect().map(_.toSeq)
    assert(rows.length === qs.length * 5)
    assert(ann.count() === rows.length)
    val some = ann.limit(7).collect().map(_.toSeq)
    assert(some.length === 7 && some.toSet.subsetOf(rows.toSet))
    assert(ann.limit(rows.length).collect().map(_.toSeq).toSet === rows.toSet)
    // consumers other than collect read the leaf as an RDD: their tasks
    // must serialize without the driver-side search handle
    val joined = ann.join(index.nodes.select(col("id"), col("level")), "id")
      .select("qid", "rank", "id", "dist").collect().map(_.toSeq)
    assert(joined.toSet === rows.toSet && joined.length === rows.length)
    val spill = java.nio.file.Files.createTempDirectory("ann-leaf-spill").toString
    val spilled = Hnsw.annQuery(index, qDf, k = 5, queryBatchSize = 3, spillPath = Some(spill))
      .collect().map(_.toSeq)
    assert(spilled.toSet === rows.toSet && spilled.length === rows.length)

    index.nodes.createOrReplaceTempView("emb_leaf")
    IndexRegistry.register("emb_leaf", index)
    qs.take(3).foreach { case (qid, q) =>
      val qSql = q.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
      val got = spark.sql(
        s"SELECT id, vector_l2(vector, $qSql) AS dist FROM emb_leaf ORDER BY dist LIMIT 5")
        .collect().map(r => Seq(r.getLong(0), r.getDouble(1))).toSeq
      val want = rows.filter(_(0) == qid).sortBy(_(1).asInstanceOf[Int]).map(r => Seq(r(2), r(3))).toSeq
      assert(got === want, s"query $qid")
    }
    IndexRegistry.unregister("emb_leaf")
    // this session's planner got the strategy from the extension, so the
    // ANN calls' setup added no second copy
    assert(!spark.experimental.extraStrategies.contains(HnswShardSearchStrategy))
  }

  test("ANN rewrite over a ROUTED index takes the centroid-routed plan, same results as Scala") {
    import graft.hnsw.{Hnsw, HnswParams}
    import graft.plans.IndexRegistry
    import spark.implicits._

    val rng = new scala.util.Random(11)
    val vecs = (0L until 400L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
    val input = vecs.toDF("id", "vector")
    val index = Hnsw.buildRouted(input,
      HnswParams(dim = 8, m = 4, efConstruction = 32, numPartitions = 2), cellsPerShard = 4)
    assert(index.meta.num_cells === 8, "buildRouted must stamp the cell count into meta")
    // the view is the ORIGINAL vector table (routed nodes hold spill copies)
    input.createOrReplaceTempView("emb_routed")
    IndexRegistry.register("emb_routed", index)

    val q = vecs(7)._2
    val qSql = q.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
    val before = IndexRegistry.rewriteCount
    val df = spark.sql(
      s"SELECT id, vector_l2(vector, $qSql) AS dist FROM emb_routed ORDER BY dist LIMIT 5")
    assert(IndexRegistry.rewriteCount === before + 1, "rewrite did not fire on the routed index")
    val expected = Hnsw.annQueryRouted(index, Seq((0L, q)).toDF("qid", "vector"), 5)
      .select("id", "dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expected, "SQL routed plan must equal the Scala routed path")
    assert(got.head._1 === 7L && got.head._2 === 0.0)
    // ... and EXPLAIN of the routed shape still runs no jobs (meta carries
    // the cell count, so plan construction never counts the centroid table)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sql(
        s"EXPLAIN SELECT id, vector_l2(vector, $qSql) AS dist FROM emb_routed ORDER BY dist LIMIT 3")
        .collect()
      // listener events are async; same quiesce as the plain EXPLAIN test
      Thread.sleep(500)
      assert(jobs.get() === 0, s"EXPLAIN of the routed rewrite ran ${jobs.get()} jobs")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      IndexRegistry.unregister("emb_routed")
    }
  }

  test("batch ANN rewrite: GROUP BY qid + topk_by_dist over a cross join runs the index path") {
    import graft.hnsw.{Hnsw, HnswParams}
    import graft.plans.IndexRegistry
    import spark.implicits._

    val rng = new scala.util.Random(29)
    val vecs = (0L until 200L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
    val index = Hnsw.build(vecs.toDF("id", "vector"),
      HnswParams(dim = 8, m = 4, efConstruction = 32, numPartitions = 2))
    index.nodes.createOrReplaceTempView("emb_batch_idx")
    IndexRegistry.register("emb_batch_idx", index)

    val queries = Seq(3L, 50L, 120L).map(i => (i, vecs(i.toInt)._2))
    queries.toDF("qid", "vector").createOrReplaceTempView("batch_q")

    val before = IndexRegistry.rewriteCount
    val df = spark.sql(
      """SELECT q.qid, topk_by_dist(vector_l2(e.vector, q.vector), e.id, 5) AS top
        |FROM emb_batch_idx e CROSS JOIN batch_q q
        |GROUP BY q.qid""".stripMargin)
    assert(IndexRegistry.rewriteCount === before + 1, "batch rewrite did not fire")

    // bit-equal to the direct distributed ANN path aggregated the same way
    val got = df.collect().map { r =>
      r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getDouble(0), x.getLong(1)))
    }.toMap
    val expected = Hnsw.annQuery(index, queries.toDF("qid", "vector"), 5).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("id"), r.getAs[Double]("dist")))
      .groupBy(_._1).map { case (qid, rs) => qid -> rs.sortBy(_._2).map(r => (r._4, r._3)).toSeq }
    assert(got === expected)
    // self-match at the head of each query's list
    queries.foreach { case (qid, _) => assert(got(qid).head === ((0.0, qid))) }

    // unregistered view → no rewrite, brute force still answers
    index.nodes.createOrReplaceTempView("emb_batch_plain")
    val before2 = IndexRegistry.rewriteCount
    val exact = spark.sql(
      """SELECT q.qid, topk_by_dist(vector_l2(e.vector, q.vector), e.id, 5) AS top
        |FROM emb_batch_plain e CROSS JOIN batch_q q
        |GROUP BY q.qid""".stripMargin).collect()
    assert(IndexRegistry.rewriteCount === before2)
    assert(exact.length === 3)
  }

  test("ANN rewrite fires for a cosine-metric index via vector_cosine_distance") {
    import graft.hnsw.{Hnsw, HnswParams}
    import graft.plans.IndexRegistry
    import spark.implicits._

    val rng = new scala.util.Random(13)
    val vecs = (0L until 150L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
    val index = Hnsw.build(vecs.toDF("id", "vector"),
      HnswParams(dim = 8, m = 4, efConstruction = 32, metric = "cosine", numPartitions = 2))
    index.nodes.createOrReplaceTempView("emb_cos_idx")
    IndexRegistry.register("emb_cos_idx", index)

    val q = vecs(11)._2
    val qSql = q.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
    val before = IndexRegistry.rewriteCount
    val got = spark.sql(
      s"SELECT id, vector_cosine_distance(vector, $qSql) AS dist FROM emb_cos_idx ORDER BY dist LIMIT 5")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(IndexRegistry.rewriteCount === before + 1, "cosine rewrite did not fire")
    val expected = Hnsw.annQuery(index, Seq((0L, q)).toDF("qid", "vector"), 5)
      .select("id", "dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === expected)
    assert(got.head._1 === 11L)
  }

  test("nfc_normalize/nfkc_normalize: SQL spelling ≡ Column form; UAX #15 composition") {
    import graft.functions.TextFunctions
    import spark.implicits._
    // decomposed é (e+U+0301), decomposed Å (A+U+030A), the U+212B
    // canonical singleton, an NFKC-only compatibility char (U+FB01 ﬁ),
    // and plain ASCII (the isNormalized fast path)
    val rows = Seq(
      (1L, "Cafe\u0301 A\u030A \u212B"),
      (2L, "\uFB01ne o\u0308"),
      (3L, "plain ascii")).toDF("id", "s")
    rows.createOrReplaceTempView("sql_nfc")
    val sqlRes = spark.sql(
      "SELECT id, nfc_normalize(s) AS c, nfkc_normalize(s) AS k FROM sql_nfc ORDER BY id")
      .collect()
    val colRes = rows.select(col("id"), TextFunctions.nfcNormalize(col("s")).as("c"),
      TextFunctions.nfkcNormalize(col("s")).as("k")).orderBy("id").collect()
    assert(sqlRes.map(_.toSeq).toSeq === colRes.map(_.toSeq).toSeq,
      "SQL and Column forms must be identical expression trees")
    assert(sqlRes(0).getString(1) === "Caf\u00E9 \u00C5 \u00C5",
      "NFC composes combining sequences AND folds the angstrom singleton")
    assert(sqlRes(1).getString(1) === "\uFB01ne \u00F6",
      "NFC composes but keeps compatibility chars")
    assert(sqlRes(1).getString(2) === "fine \u00F6",
      "NFKC additionally folds the fi ligature")
    assert(sqlRes(2).getString(1) === "plain ascii" && sqlRes(2).getString(2) === "plain ascii")
    // idempotence (UAX #15) and the generic-form entry point
    val twice = rows.select(TextFunctions.nfcNormalize(
      TextFunctions.nfcNormalize(col("s"))).as("c")).orderBy("c").collect()
    assert(twice.map(_.getString(0)).sorted.toSeq ===
      colRes.map(_.getString(1)).sorted.toSeq)
    val nfd = rows.filter(col("id") === 1L)
      .select(TextFunctions.unicodeNormalize(lit("\u00E9"), "NFD").as("d")).head().getString(0)
    assert(nfd === "e\u0301", "NFD decomposes the precomposed form")
    intercept[IllegalArgumentException](TextFunctions.unicodeNormalize(col("s"), "NFX"))
  }

  test("confusable_fold: SQL ≡ Column; homoglyph spoof collides with the ASCII dedup key") {
    import graft.functions.TextFunctions
    import spark.implicits._
    val rows = Seq(
      (1L, "pаypаl ѕеcurе"), // Cyrillic а/ѕ/е spoof
      (2L, "PayPal Secure"),                          // the ASCII original
      (3L, "РАYPАL"),                  // UPPERCASE Cyrillic Р/А: lower() first, then fold
      (4L, "οpen sοurce"),                  // Greek omicron
      (5L, "plain ascii")).toDF("id", "s")
    rows.createOrReplaceTempView("sql_conf")
    val viaSql = spark.sql(
      "SELECT id, confusable_fold(s) AS f FROM sql_conf ORDER BY id").collect()
    val viaCol = rows.select(col("id"), TextFunctions.confusableFold(col("s")).as("f"))
      .orderBy("id").collect()
    assert(viaSql.map(_.toSeq).toSeq === viaCol.map(_.toSeq).toSeq)
    assert(viaSql(0).getString(1) === "paypal secure", "spoof folds to the ASCII key")
    assert(viaSql(0).getString(1) === viaSql(1).getString(1).toLowerCase,
      "spoofed and original now share every fingerprint")
    assert(viaSql(2).getString(1) === "paypal", "uppercase Cyrillic lowers then folds")
    assert(viaSql(3).getString(1) === "open source", "Greek omicron folds")
    assert(viaSql(4).getString(1) === "plain ascii", "ASCII passes through (lowercased)")
    // replacements are disjoint (keys single non-Latin chars, outputs
    // ASCII never keys) — folding twice is the identity on the fold
    val twice = rows.select(TextFunctions.confusableFold(
      TextFunctions.confusableFold(col("s"))).as("f")).orderBy("f").collect()
    assert(twice.map(_.getString(0)).sorted.toSeq ===
      viaCol.map(_.getString(1)).sorted.toSeq, "idempotent")
  }

  test("ANN rewrite in the traversal-decay regime takes the exact-probed plan (both shapes)") {
    import graft.hnsw.{Hnsw, HnswParams}
    import graft.plans.IndexRegistry
    import spark.implicits._
    // a REAL routed index at dim 300, with meta.num_nodes doctored to the
    // decayed operating point (nSub 100k ≥ 40·efBudget) — the decision
    // reads only the meta, so this pins it without a 5M build
    val input = graft.sources.Datagen.hashVectors(spark, 400L, 300)
    val small = Hnsw.buildRouted(input,
      HnswParams(dim = 300, m = 4, efConstruction = 16, metric = "cosine",
        numPartitions = 4), cellsPerShard = 4)
    val index = small.copy(meta = small.meta.copy(num_nodes = 400_000L))
    assert(Hnsw.traversalDecays(index.meta, k = 5, ef = -1))
    input.createOrReplaceTempView("emb_decay")
    IndexRegistry.register("emb_decay", index)
    val q = input.filter(col("id") === 7L).head().getSeq[Float](1).toArray
    val qSql = q.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
    val before = IndexRegistry.rewriteCount
    val df = spark.sql(
      s"SELECT id, vector_cosine_distance(vector, $qSql) AS dist FROM emb_decay ORDER BY dist LIMIT 5")
    assert(IndexRegistry.rewriteCount === before + 1, "decay-regime rewrite did not fire")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("MapGroups") && !plan.contains("CoGroup") &&
      !plan.contains(Hnsw.ShardSearchName),
      "decay regime must not rebuild sub-graphs in the SQL plan")
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.head._1 === 7L && math.abs(got.head._2) < 1e-12,
      "exact within probed shards (cosine self-distance: ≤1-ulp residual)")
    // batch shape: the broadcast-free exact-probed twin, same verdicts
    input.filter(col("id") % 100 === 7).select(col("id").as("qid"), col("vector"))
      .createOrReplaceTempView("decay_q")
    val before2 = IndexRegistry.rewriteCount
    val batch = spark.sql(
      """SELECT q.qid, topk_by_dist(vector_cosine_distance(e.vector, q.vector), e.id, 5) AS top
        |FROM emb_decay e CROSS JOIN decay_q q
        |GROUP BY q.qid""".stripMargin)
    assert(IndexRegistry.rewriteCount === before2 + 1, "batch decay rewrite did not fire")
    val bplan = batch.queryExecution.executedPlan.toString
    assert(!bplan.contains("MapGroups") && !bplan.contains("CoGroup") &&
      !bplan.contains(Hnsw.ShardSearchName))
    batch.collect().foreach { r =>
      val top = r.getSeq[org.apache.spark.sql.Row](1)
      assert(top.head.getLong(1) === r.getLong(0) && math.abs(top.head.getDouble(0)) < 1e-12)
    }
    IndexRegistry.unregister("emb_decay")
    small.nodes.unpersist()
  }

  test("SET spark.graft.ann.recallTarget picks the calibrated probe job-free; no curve = default probe") {
    import graft.hnsw.{Hnsw, HnswParams}
    import graft.plans.IndexRegistry
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val vecs = (0L until 400L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
    val input = vecs.toDF("id", "vector")
    val bare = Hnsw.buildRouted(input,
      HnswParams(dim = 8, m = 4, efConstruction = 32, numPartitions = 2), cellsPerShard = 4)
    val index = Hnsw.withCalibration(bare, k = 5, sampleQueries = 50)
    input.createOrReplaceTempView("emb_cal")
    IndexRegistry.register("emb_cal", index)
    val q = vecs(7)._2
    val qSql = q.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
    val sql =
      s"SELECT id, vector_l2(vector, $qSql) AS dist FROM emb_cal ORDER BY dist LIMIT 5"
    try {
      spark.conf.set("spark.graft.ann.recallTarget", "0.95")
      val pc = Hnsw.cachedProbeFor(index, 5, 0.95)
        .getOrElse(fail("calibrated index must yield a cached pick"))
      assert(pc >= 1 && pc <= index.meta.num_cells)
      val before = IndexRegistry.rewriteCount
      val got = spark.sql(sql).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(IndexRegistry.rewriteCount === before + 1, "rewrite did not fire under the conf")
      // the conf is a CONTRACT: the rewrite must take the exact-probed
      // form, whose recall IS what the calibration curve measures — the
      // graph path could silently under-deliver the target (ADVICE r13)
      val expected = Hnsw.annQueryRoutedExact(index, Seq((0L, q)).toDF("qid", "vector"), 5,
        probeCells = pc)
        .select("id", "dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === expected,
        "conf-set SQL must equal the Scala exact-probed path at the calibrated probe")
      // EXPLAIN stays job-free with the conf set (the pick is driver-side
      // from the attached curve — never a calibration run)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        spark.sql(s"EXPLAIN $sql").collect()
        Thread.sleep(500)
        assert(jobs.get() === 0, s"EXPLAIN under recallTarget conf ran ${jobs.get()} jobs")
      } finally spark.sparkContext.removeSparkListener(listener)
      // an index WITHOUT a curve for this k ignores the conf's PICK but
      // keeps the contract's exact-probed SHAPE at the default probe
      // (the conf is a refinement, not an obligation)
      IndexRegistry.register("emb_cal", bare)
      val gotBare = spark.sql(sql).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val expBare = Hnsw.annQueryRoutedExact(bare, Seq((0L, q)).toDF("qid", "vector"), 5)
        .select("id", "dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(gotBare === expBare, "curve-less index must keep the default probe")
      // malformed target fails loudly, not silently (the require may be
      // wrapped by the analyzer — match on the message, not the class)
      spark.conf.set("spark.graft.ann.recallTarget", "1.5")
      IndexRegistry.register("emb_cal", index)
      val ex = intercept[Exception] { spark.sql(sql).collect() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("recallTarget")),
        s"out-of-range target must surface its own error, got: ${ex.getMessage}")
      // a NON-NUMERIC target must also name the conf key — a bare
      // NumberFormatException("For input string") failing every query on
      // the view is undiagnosable (ADVICE r13)
      spark.conf.set("spark.graft.ann.recallTarget", "high")
      val exNan = intercept[Exception] { spark.sql(sql).collect() }
      assert(messages(exNan).exists(_.contains("recallTarget")),
        s"non-numeric target must surface the conf key, got: ${exNan.getMessage}")
    } finally {
      spark.conf.unset("spark.graft.ann.recallTarget")
      IndexRegistry.unregister("emb_cal")
      bare.nodes.unpersist()
    }
  }

  test("ANN rewrite: no-conf default consumes an attached curve; a stale dir marker disables it") {
    import graft.hnsw.{CalCurve, Hnsw, HnswParams}
    import graft.plans.IndexRegistry
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val vecs = (0L until 300L).map(i => (i, Array.fill(8)(rng.nextGaussian().toFloat)))
    val input = vecs.toDF("id", "vector")
    val built = Hnsw.buildRouted(input,
      HnswParams(dim = 8, m = 4, efConstruction = 32, numPartitions = 4), cellsPerShard = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_regdir").toString
    Hnsw.save(built, dir)
    val loaded = Hnsw.load(spark, dir)
    // handcrafted curve: the 0.95 pick (probe 1) differs from the C/4
    // default, so the expected plan is unambiguous
    val index = loaded.copy(calibration =
      Seq(CalCurve(5, Seq((1, 0.99), (loaded.meta.num_cells, 1.0)))))
    input.createOrReplaceTempView("emb_reg")
    IndexRegistry.register("emb_reg", index, dir = Some(dir))
    val q = vecs(11)._2
    val qSql = q.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
    val sql = s"SELECT id, vector_l2(vector, $qSql) AS dist FROM emb_reg ORDER BY dist LIMIT 5"
    try {
      // no conf: the curve's DefaultRecallTarget pick refines the C/4 dial
      // on the (non-decayed) graph path — same default annQueryAdaptive
      // serves
      val got = spark.sql(sql).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val expProbe1 = Hnsw.annQueryRouted(index, Seq((0L, q)).toDF("qid", "vector"), 5,
        probeCells = 1)
        .select("id", "dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got === expProbe1, "no-conf rewrite must consume the attached curve's 0.95 pick")
      // stale marker: bump the dir's num_nodes (what a streaming append
      // does) — the registration's in-memory curve must stop driving
      // picks instead of mispredicting against the appended vector set
      Hnsw.saveMeta(loaded.meta.copy(num_nodes = loaded.meta.num_nodes + 5), dir)
      val got2 = spark.sql(sql).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val expDefault = Hnsw.annQueryRouted(index, Seq((0L, q)).toDF("qid", "vector"), 5)
        .select("id", "dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got2 === expDefault, "stale dir marker must fall back to the default probe")
    } finally {
      IndexRegistry.unregister("emb_reg")
      built.nodes.unpersist()
    }
  }
}
