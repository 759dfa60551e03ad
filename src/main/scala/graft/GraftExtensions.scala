package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Sqrt}
import org.apache.spark.sql.graft.{PlanBridge, TopKByDist, VectorCosineDistance, VectorDot, VectorSqDist}

import graft.functions.TextFunctions
import graft.operators.{Dedup, Pii}

/** SparkSessionExtensions entry point: registers the native vector
  * expressions AND the text/pipeline cleaning tier as SQL functions so
  * `spark.sql` users (and thrift/connect clients) get them without the
  * Scala Column API:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   SELECT vector_l2(a.embedding, b.embedding) FROM ...
  *   SELECT qid, topk_by_dist(dist, id, 10) FROM scored GROUP BY qid
  *   SELECT doc_id, quality_score(strip_html(payload)) FROM crawl
  *
  * For a session built WITHOUT the extension (fixed at construction),
  * [[GraftExtensions.registerInto]] injects the same function set into the
  * live session's registry — same builders, identical expression trees.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // index-aware ANN rewrite: ORDER BY vector_l2(vec, q) LIMIT k over a
    // view registered in graft.plans.IndexRegistry runs the HNSW graph
    // traversal instead of a full scan (post-hoc resolution: needs the view
    // name, which the optimizer erases)
    ext.injectPostHocResolutionRule(session => graft.plans.AnnTopKRewrite(session))
    // plans the `Scan HnswShardSearch` leaf of the broadcast ANN paths
    ext.injectPlannerStrategy(_ => graft.hnsw.HnswShardSearchStrategy)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "", "", "", "", "", "", "built-in")

  private type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  // Column-composed builders: wrap the call-site children in Columns,
  // compose with the same functions the Scala API uses (identical
  // expression trees → identical results and codegen), unwrap.
  private def fn1(name: String, usage: String)(f: Column => Column): FunctionDescription =
    (FunctionIdentifier(name), info(name, usage),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"$name takes 1 argument")
        PlanBridge.expression(f(PlanBridge.column(children.head)))
      })

  private def litInt(e: Expression, name: String, arg: String): Int = {
    require(e.foldable, s"$name: $arg must be an integer literal")
    e.eval(null) match {
      case i: Int  => i
      case l: Long => l.toInt
      case other   => throw new IllegalArgumentException(s"$name: $arg must be an integer literal, got $other")
    }
  }

  private def fn2Lit(name: String, usage: String)(f: (Column, Int) => Column): FunctionDescription =
    (FunctionIdentifier(name), info(name, usage),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"$name takes 2 arguments")
        PlanBridge.expression(f(PlanBridge.column(children.head), litInt(children(1), name, "arg 2")))
      })

  /** The full SQL function surface — one list shared by the extension
    * injection (class [[GraftExtensions]]) and [[registerInto]].
    */
  private[graft] lazy val functions: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("vector_sqdist"),
      info("vector_sqdist", "vector_sqdist(a, b) - squared L2 distance between float/double arrays"),
      (children: Seq[Expression]) => VectorSqDist(children(0), children(1))),
    (FunctionIdentifier("vector_l2"),
      info("vector_l2", "vector_l2(a, b) - Euclidean distance between float/double arrays"),
      (children: Seq[Expression]) => Sqrt(VectorSqDist(children(0), children(1)))),
    (FunctionIdentifier("vector_dot"),
      info("vector_dot", "vector_dot(a, b) - dot product of float/double arrays"),
      (children: Seq[Expression]) => VectorDot(children(0), children(1))),
    (FunctionIdentifier("vector_cosine_distance"),
      info("vector_cosine_distance", "vector_cosine_distance(a, b) - 1 - cos(a,b); 1.0 when either norm is 0"),
      (children: Seq[Expression]) => VectorCosineDistance(children(0), children(1))),
    (FunctionIdentifier("topk_by_dist"),
      info("topk_by_dist", "topk_by_dist(dist, id, k) - aggregate: k smallest (dist,id) pairs, sorted"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "topk_by_dist(dist, id, k) takes 3 arguments")
        require(children(2).foldable, "topk_by_dist: k must be a literal")
        val k = children(2).eval(null) match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(s"k must be an integer literal, got $other")
        }
        require(k > 0, s"topk_by_dist: k must be positive, got $k")
        TopKByDist(children(0), children(1), k).toAggregateExpression()
      }),
    // ---- text / pipeline cleaning tier ----
    fn1("token_count", "token_count(text) - whitespace token count")(TextFunctions.tokenCount),
    fn1("bpe_token_count", "bpe_token_count(text) - BPE-ish sub-word token count")(TextFunctions.bpeTokenCount),
    fn1("lang_id", "lang_id(text) - n-gram-marker language guess (en/de/fr/und)")(TextFunctions.langId),
    fn1("quality_score", "quality_score(text) - [0,1] length/stopword/word-length heuristic")(TextFunctions.qualityScore),
    fn1("strip_html", "strip_html(html) - script/style blocks and tags dropped, entities decoded, whitespace collapsed")(TextFunctions.stripHtml),
    fn1("doc_fingerprint", "doc_fingerprint(text) - md5 of lowercased text")(TextFunctions.fingerprint),
    fn1("canonicalize_url", "canonicalize_url(url) - lowercase scheme/host, default ports/fragments/tracking params dropped, params sorted")(TextFunctions.canonicalizeUrl),
    fn1("rolling_hash", "rolling_hash(text) - Karp-Rabin rolling hash mod 2^31-1")(TextFunctions.rollingHash),
    fn1("mojibake_hits", "mojibake_hits(text) - count of UTF-8-as-Latin-1/cp1252 signature hits")(TextFunctions.mojibakeHits),
    fn1("fix_mojibake", "fix_mojibake(text) - signature-table mojibake repair (single pass)")(TextFunctions.fixMojibake),
    fn1("nfc_normalize", "nfc_normalize(text) - Unicode NFC canonical composition (UAX #15)")(TextFunctions.nfcNormalize),
    fn1("nfkc_normalize", "nfkc_normalize(text) - Unicode NFKC compatibility composition (UAX #15)")(TextFunctions.nfkcNormalize),
    fn1("confusable_fold", "confusable_fold(text) - lowercase + Cyrillic/Greek homoglyph folding (spoofed dedup keys collide)")(TextFunctions.confusableFold),
    fn1("pii_redact", "pii_redact(text) - emails/phones/IPv4 replaced by placeholders")(Pii.redact),
    fn1("pii_email_count", "pii_email_count(text) - email-shaped span count")(Pii.emailCount),
    fn1("pii_phone_count", "pii_phone_count(text) - phone-shaped span count")(Pii.phoneCount),
    fn1("pii_ipv4_count", "pii_ipv4_count(text) - IPv4-shaped span count")(Pii.ipv4Count),
    fn2Lit("word_shingles", "word_shingles(text, n) - array of word n-grams")(TextFunctions.wordShingles),
    fn2Lit("simhash", "simhash(text, bits) - sign-vote SimHash signature")(Dedup.simhash),
    (FunctionIdentifier("embedding_bucket"),
      info("embedding_bucket", "embedding_bucket(vec, dim, bits) - sign-pattern LSH block id"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "embedding_bucket(vec, dim, bits) takes 3 arguments")
        PlanBridge.expression(Dedup.embeddingBucket(PlanBridge.column(children.head),
          litInt(children(1), "embedding_bucket", "dim"), litInt(children(2), "embedding_bucket", "bits")))
      }),
    (FunctionIdentifier("z_value"),
      info("z_value", "z_value(x, y) - Morton bit-interleave for multi-column locality"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "z_value(x, y) takes 2 arguments")
        PlanBridge.expression(graft.sources.Bucketing.zValue(
          PlanBridge.column(children(0)), PlanBridge.column(children(1))))
      }))

  /** Imperative registration into an ALREADY-BUILT session (extensions are
    * fixed at session construction; this is the escape hatch for e.g. the
    * driver's Verify session). Same builders as the extension path —
    * identical expression trees. Idempotent: re-registration replaces the
    * same entry. Registers functions only. The extension path also
    * installs the ANN plan rewrite, which cannot be added to a built
    * session (a resolution rule), and the `HnswShardSearch` planner
    * strategy, which the ANN query paths add to their index's session on
    * first use instead (`HnswShardSearchStrategy.setup`).
    */
  def registerInto(session: SparkSession): Unit =
    functions.foreach { case (id, inf, builder) =>
      session.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
