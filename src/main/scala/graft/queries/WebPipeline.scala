package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ext.{Classifier, Markup, NgramLm, PageRank, TextOps, Urls}

/** Web-corpus pipeline operators: URL canonicalization + URL-level dedup,
  * n-gram LM quality scoring (CCNet shape), and link-graph centrality
  * (integer-exact PageRank) — the acquisition-side half of a crawl
  * pipeline, complementing the text-side dedup/quality families in
  * [[Extensions]]. Everything here is DuckDB-oracle-checkable: the URL
  * rules are pure string ops, the LM score is integer arithmetic, and
  * PageRank runs a FIXED round count the oracle unrolls.
  */
object WebPipeline {

  type Q = (SparkSession, String) => DataFrame

  /** The documents table has no URL column, so the URL entries PLANT one
    * deterministically (the [[Extensions]] fixture-perturbation idiom, e.g.
    * `x_text_boiler_remove`): scheme/www/port case varies by `doc_id % 3`,
    * trailing slash by `% 2`, an extra param by `% 5`, and every 11th row
    * is a non-URL string (the pass-through contract). The SAME expression
    * is mirrored verbatim in the oracle SQL.
    */
  private def plantedUrl: org.apache.spark.sql.Column =
    when(col("doc_id") % 11 === 0, lit("Plain text, not a URL"))
      .otherwise(concat(
        when(col("doc_id") % 3 === 0, lit("HTTPS://WWW."))
          .when(col("doc_id") % 3 === 1, lit("http://"))
          .otherwise(lit("https://")),
        col("source"), lit(".Example.COM"),
        when(col("doc_id") % 3 === 0, lit(":443"))
          .when(col("doc_id") % 3 === 1, lit(":80"))
          .otherwise(lit("")),
        lit("/Docs/"), (col("doc_id") % 37).cast("string"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&z=9&a=1&gclid=x"),
        when(col("doc_id") % 5 === 0, lit("&b=1")).otherwise(lit("")),
        lit("#sec")))

  private val plantedUrlSql: String =
    """CASE WHEN doc_id % 11 = 0 THEN 'Plain text, not a URL'
      |ELSE concat(
      |  CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.'
      |       WHEN doc_id % 3 = 1 THEN 'http://' ELSE 'https://' END,
      |  source, '.Example.COM',
      |  CASE WHEN doc_id % 3 = 0 THEN ':443'
      |       WHEN doc_id % 3 = 1 THEN ':80' ELSE '' END,
      |  '/Docs/', CAST(doc_id % 37 AS VARCHAR),
      |  CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
      |  '?utm_source=feed&z=9&a=1&gclid=x',
      |  CASE WHEN doc_id % 5 = 0 THEN '&b=1' ELSE '' END,
      |  '#sec')
      |END""".stripMargin

  /** Both directions of a (c, s) pair table as a WITHIN-ROW explode — one
    * read of the input, no second union branch re-evaluating it.
    */
  private def bothDirections(pairs: DataFrame): DataFrame =
    pairs.select(explode(array(
        struct(col("c").as("src"), col("s").as("dst")),
        struct(col("s").as("src"), col("c").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** ONE shared PageRank build chain per corpus feeds all three pagerank
    * entries (round-11 verdict item 1 — previously three builds each
    * re-derived the co-purchase pair graph and re-ran ten message-passing
    * rounds, ~60 s of the sf0.1 build budget computing near-identical
    * state). Graph: the bipartite customer↔supplier co-purchase graph
    * (distinct pairs via orders ⋈ lineitem), edges BOTH ways so the chain
    * customer → supplier → customer propagates and no node is a sink.
    * Orders with o_orderkey % 7 == 0 play the arriving batch (the
    * `x_dedup_cc_incremental` fixture shape).
    *
    *  - `pr_incr_prestate` builds the edge views (full / pre-batch / new
    *    directed edges) and the PRE-batch round ledger
    *    (`pagerankRounds(oldE, 10)`) — ten rounds over the old graph, ONCE.
    *  - `pr_incr_update` runs the incremental maintenance itself —
    *    `incrementalLedger(ledgerOld, fullE, newE, 10)` — THE cost an
    *    ingest pays (frontier-bounded on sparse graphs; on this dense
    *    fixture the density guard routes it to one full fixed-round
    *    recompute). Its round-10 slice is the post-batch score table, and
    *    it is bit-identical to `pagerankRounds(fullE, 10)` by the
    *    incremental contract — so NOTHING ever runs the full-graph rounds
    *    a second time.
    *  - `pagerank_stream_ledger` warehouses the same two ledgers as
    *    streaming state (edge dirs + VersionedState v0/v1) through
    *    [[graft.streaming.PageRankLedgerStream.commitPrecomputed]] — the
    *    batch-engine → stream handoff at parquet-write cost; the genuine
    *    maintain() path stays MemoryStream-unit-pinned.
    *
    * All three entries share the SAME unrolled-CTE full-recompute oracle,
    * so the shared chain weakens nothing: a bug anywhere in it
    * hash-mismatches every serve.
    */
  private final case class PrState(fullE: DataFrame, oldE: DataFrame,
                                   newE: DataFrame, ledgerOld: DataFrame)

  private val prPreFor = graft.Build[PrState]("pr_incr_prestate",
      v => Seq(v.fullE, v.oldE, v.newE, v.ledgerOld)) { (s, dir) =>
    // ONE orders⋈lineitem pass tags every distinct co-purchase pair
    // with whether any PRE-batch order produced it (max over the batch
    // predicate). The three edge views are then cheap reads of the
    // persisted pair table: full = all keys, old = has_old, new =
    // ¬has_old — the identical sets the previous per-view derivation
    // (two join+distinct passes for full, two more for old, plus a
    // directed anti-join for new: 13.3 s of the 16 s build at sf0.1,
    // r16 decomposition) computed with FIVE passes over the
    // fact-table join. A pair is old iff SOME old order produced it,
    // so max(old) per key ≡ membership in the old distinct-pair set;
    // directions expand within-row (bothDirections), so new-directed =
    // both directions of the new pairs, exactly the anti-join's rows.
    val tagged = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c:"), col("o_custkey").cast("string")).as("c"),
        concat(lit("s:"), col("l_suppkey").cast("string")).as("s"),
        (col("o_orderkey") % 7 =!= 0).as("old"))
      .groupBy(col("c"), col("s")).agg(max(col("old")).as("has_old"))
      .persist()
    val fullE = bothDirections(tagged).persist()
    fullE.count() // materialize: consumers must not re-run the pair join
    val oldE = bothDirections(tagged.filter(col("has_old"))).persist()
    oldE.count()
    val newE = bothDirections(tagged.filter(!col("has_old"))).persist()
    newE.count()
    tagged.unpersist() // the three views are materialized; drop the base
    val ledgerOld = PageRank.pagerankRounds(oldE, iters = 10).persist()
    ledgerOld.count()
    PrState(fullE, oldE, newE, ledgerOld)
  }

  /** The POST-batch round ledger — the incremental update's output,
    * computed once and served by every pagerank entry (see [[prPreFor]]).
    */
  private val prUpdFor = graft.Build[DataFrame]("pr_incr_update", Seq(_)) { (s, dir) =>
    val st = prPreFor(s, dir)
    val lf = PageRank.incrementalLedger(
      st.ledgerOld, st.fullE, st.newE, iters = 10).persist()
    lf.count()
    lf
  }

  private val prStreamFor = graft.Build[String]("pagerank_stream_ledger") { (s, dir) =>
    val st = prPreFor(s, dir)
    val updated = prUpdFor(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft-pr-stream").toString + "/st"
    graft.streaming.PageRankLedgerStream
      .commitPrecomputed(st.oldE, 0L, root, st.ledgerOld)
    graft.streaming.PageRankLedgerStream
      .commitPrecomputed(st.newE, 1L, root, updated)
    root
  }

  /** Maintained LM count ledger per corpus
    * (graft.streaming.LmLedgerStream): the FULL documents table folds in
    * as three waves (`doc_id % 3`) with a compaction after the second —
    * the steady-state layout — so the probe entry pays only its own parse
    * plus two gram-keyed joins against pre-summed count state; the corpus
    * is never re-aggregated. Counts cover ALL docs because the batch twin
    * (`x_text_lm_score`) trains on the scored corpus itself.
    */
  private val lmLedgerFor = graft.Build[String]("lm_count_ledger") { (s, dir) =>
    val root = java.nio.file.Files
      .createTempDirectory("graft-lm-ledger").toString + "/st"
    val docs = Tables.documents(s, dir)
    graft.streaming.LmLedgerStream.maintain(
      docs.filter(col("doc_id") % 3 === 1), 0L, root)
    graft.streaming.LmLedgerStream.maintain(
      docs.filter(col("doc_id") % 3 === 2), 1L, root)
    graft.streaming.LmLedgerStream.compact(s, root)
    graft.streaming.LmLedgerStream.maintain(
      docs.filter(col("doc_id") % 3 === 0), 2L, root)
    root
  }

  val queries: Map[String, Q] = Map(

    // CCNet-shape LM quality score: corpus bigram MLE, integer surrogate
    // probabilities (no floats cross-engine), hash-keyed count joins
    "x_text_lm_score" -> ((s: SparkSession, dir: String) => {
      NgramLm.scoreDocs(Tables.documents(s, dir))
    }),

    // LM scoring, MAINTAINED form: the src0 slice scored against the
    // count LEDGER (corpus folded in three waves + compaction by the
    // build — additive gram counts on the SegmentStore layout), bit-equal
    // to the batch recompute restricted to the same docs (the two entries
    // share the scoring join; the oracle is x_text_lm_score's + the slice
    // predicate)
    "x_lm_score_ledger" -> ((s: SparkSession, dir: String) => {
      graft.streaming.LmLedgerStream.probe(s, lmLedgerFor(s, dir),
        Tables.documents(s, dir).filter(col("source") === "src0"))
    }),

    // URL canonicalization over the planted messy-URL column
    "x_url_canonical" -> ((s: SparkSession, dir: String) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), plantedUrl.as("url"))
        .select(col("doc_id"), col("url"),
          Urls.canonicalUrl(col("url")).as("canonical_url"))
    }),

    // URL-level dedup: group by canonical form, keep the smallest doc_id
    // (the ExactDedup canonical-keep rule), count the family
    "x_dedup_url" -> ((s: SparkSession, dir: String) => {
      Tables.documents(s, dir)
        .select(col("doc_id"), Urls.canonicalUrl(plantedUrl).as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_urls"))
    }),

    // link-graph centrality: 10 rounds of integer PageRank over the
    // customer↔supplier co-purchase graph — served as the round-10 slice
    // of the shared post-batch ledger (the loop is a BUILD, itemized; see
    // prPreFor's doc for why nothing runs the full-graph rounds twice)
    "x_graph_pagerank" -> ((s: SparkSession, dir: String) => {
      prUpdFor(s, dir).filter(col("round") === 10)
        .select(col("node"), col("score"))
    }),

    // INCREMENTAL PageRank maintenance: the `pr_incr_update` build pays the
    // ingest cost ONCE (frontier-bounded, density-guarded — see
    // PageRank.incrementalLedger); the entry serves its final round and
    // must land bit-identical to the full fixed-round recompute (the
    // x_graph_pagerank oracle, verbatim — incremental == recompute IS the
    // checked contract)
    "x_graph_pagerank_incremental" -> ((s: SparkSession, dir: String) => {
      prUpdFor(s, dir).filter(col("round") === 10)
        .select(col("node"), col("score"))
    }),

    // STREAMING-MAINTAINED ledger: scores served from VersionedState after
    // the edge waves committed through PageRankLedgerStream (warm-started
    // from the shared batch ledgers — the handoff API; the genuine
    // maintain() fold is MemoryStream-unit-pinned) — same full-recompute
    // oracle, read back through the real versioned-parquet serve path
    "x_graph_pagerank_maintained" -> ((s: SparkSession, dir: String) => {
      graft.streaming.PageRankLedgerStream.serve(s, prStreamFor(s, dir), iters = 10)
    }),

    // markup extraction: fixture text wrapped in planted HTML exercising
    // every rule (script/style content, comment, tags, entities incl. the
    // &amp;-last double-decode guard, an UNDECODED &copy; passing through,
    // whitespace collapse); the CLEANED TEXT itself is oracle-compared
    "x_text_strip_html" -> ((s: SparkSession, dir: String) => {
      val clean = Markup.stripMarkup(plantedHtml)
      Tables.documents(s, dir)
        .select(col("doc_id"), clean.as("clean_text"),
          length(clean).cast("int").as("n_clean"))
    }),

    // linear classifier inference (fasttext shape): integer weights derived
    // deterministically from the corpus vocabulary stand in for a trained
    // model; the OPERATOR under test is the tf-preagg → weight-join → sum
    "x_text_classifier" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      val weights = TextOps.vocabCounts(docs)
        .select(col("tok"), (col("df") % 21 - 10).as("weight"))
      Classifier.scoreDocs(docs, weights)
    }),

    // UT1-style domain-blocklist matching: host (or any parent domain) in
    // the list → blocked. Hosts planted with an optional uppercase "CDN."
    // sublabel so the fixture exercises exact-host, PARENT-domain, and
    // no-match paths plus host lowercasing; the blocklist derives
    // deterministically from the corpus sources + one deep exact rule +
    // one rule matching nothing
    "x_url_blocklist" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val withUrl = docs.select(col("doc_id"), plantedHostUrl.as("url"))
      // source index % 7 == 1 → {src1, src8, src15}: src8 rows always carry
      // the CDN. sublabel (doc_id ≡ 8 mod 20 ⇒ ≡ 0 mod 4), so src8 hits via
      // PARENT-domain match AND the exact cdn rule (min picks the cdn one);
      // src1/src15 rows are odd ⇒ never CDN ⇒ exact-host path;
      // cdn.src16.example.com is exact-only; nosuch.* matches nothing
      val block = docs.select(col("source")).distinct()
        .filter(substring(col("source"), 4, 10).cast("int") % 7 === 1)
        .select(concat(lower(col("source")), lit(".example.com")).as("domain"))
        .unionByName(Seq("cdn.src8.example.com", "cdn.src16.example.com",
          "nosuch.example.com").toDF("domain"))
      val m = Urls.blockedHosts(withUrl, col("doc_id"), col("url"), block)
        .withColumnRenamed("id", "doc_id")
      withUrl.select(col("doc_id"), Urls.urlHost(col("url")).as("host"))
        .join(m, Seq("doc_id"), "left")
        .select(col("doc_id"), col("host"), col("matched_domain"),
          col("matched_domain").isNotNull.cast("int").as("blocked"))
    }),

    // leakage-aware train/val/test split: the assignment key is the URL
    // HOST, not the doc id, so every document of a site lands in ONE
    // split — within-site near-duplicates (the dominant web-dup mode) can
    // never straddle train and test. md5-banded like x_sample_split, so
    // the full per-doc assignment is oracle-checked; non-URL docs ('')
    // form one deterministic host group
    "x_split_by_domain" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      val withHost = docs.select(col("doc_id"),
        Urls.urlHost(plantedUrl).as("host"))
      graft.ops.Sampling.splitByMd5(withHost, col("host"),
          weights = Seq(0.8, 0.1, 0.1), names = Seq("train", "val", "test"))
        .select(col("doc_id"), col("host"), col("split"))
    }),

    // END-TO-END crawl ingestion: docs wrapped in the planted HTML are
    // written as REAL WARC archives (once per corpus, the crawler-shard
    // layout), read back via the binaryFile source, markup-stripped with
    // the generated-rule chain, quality-gated, and exact-deduped on the
    // CLEANED text (crawls re-serve pages; the keep rule is min doc_id).
    // Every stage is individually oracled elsewhere — this entry pins the
    // COMPOSITION, WARC files included, against one SQL mirror
    "x_pipeline_crawl" -> ((s: SparkSession, dir: String) => {
      val parsed = graft.io.Warc.readArchives(s, warcDirFor(s, dir))
        .select(
          regexp_extract(col("target_uri"), "doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          Markup.stripMarkup(col("text")).as("text"))
      parsed
        .withColumn("quality", TextOps.qualityScore("text"))
        .filter(col("quality") >= 3)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("n_copies"),
          max(col("quality")).as("quality"))
        .select(col("keep_id"), col("n_copies"), col("quality"),
          length(col("text")).cast("int").as("n_clean"))
    }),

    // CCNet head/middle/tail bucketing: every doc labeled against its own
    // language's LM-score quartiles (exact twin = the oracle; the default
    // approx_percentile path is the 100 TB shape)
    "x_lm_buckets" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      val scored = NgramLm.scoreDocs(docs)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      graft.pipeline.DataPrep
        .languageBuckets(scored, "lang", "lm_score", exact = true)
        .select(col("doc_id"), col("lang"), col("lm_score"), col("bucket"))
    })
  )

  /** WARC archives of the planted-HTML corpus — written ONCE per corpus
    * (the crawler-shard layout: one archive per task via the Hadoop FS
    * API), then every read goes through the real binaryFile + parser path.
    */
  private val warcDirFor = graft.Build[String]("warc_archives") { (s, dir) =>
    val out = java.nio.file.Files
      .createTempDirectory("graft-warc-crawl").toString + "/archives"
    graft.io.Warc.writeArchives(
      Tables.documents(s, dir).select(col("doc_id"), plantedHtml.as("text")),
      out)
    out
  }

  /** Planted host-bearing URL for the blocklist fixture: every 11th row a
    * non-URL (host `''`, never blockable), every 4th host carries an
    * UPPERCASE `CDN.` sublabel (parent-domain matching + lowercasing under
    * test). Mirrored verbatim in [[plantedHostUrlSql]].
    */
  private def plantedHostUrl: org.apache.spark.sql.Column =
    when(col("doc_id") % 11 === 0, lit("Plain text, not a URL"))
      .otherwise(concat(
        lit("https://"),
        when(col("doc_id") % 4 === 0, lit("CDN.")).otherwise(lit("")),
        col("source"), lit(".Example.COM/p/"),
        (col("doc_id") % 13).cast("string")))

  private val plantedHostUrlSql: String =
    """CASE WHEN doc_id % 11 = 0 THEN 'Plain text, not a URL'
      |ELSE concat('https://',
      |  CASE WHEN doc_id % 4 = 0 THEN 'CDN.' ELSE '' END,
      |  source, '.Example.COM/p/', CAST(doc_id % 13 AS VARCHAR))
      |END""".stripMargin

  /** The planted-HTML wrapper (Spark side; `plantedHtmlSql` is the DuckDB
    * twin — byte-identical input is what makes the cleaned text
    * comparable). The wrapper deliberately contains: a script with `<`/`&&`
    * inside, a style block, a comment, entities needing the decode ORDER
    * (`&amp;lt;` must surface as `&lt;`, not `<`), an entity OUTSIDE the
    * decode set (`&copy;` passes through raw), and literal newlines.
    */
  private def plantedHtml: org.apache.spark.sql.Column =
    concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><script type=\"text/x\">var a = 1 < 2 && b > 0;</script>" +
        "<style>p{color:#000}</style></head><body><!-- crawler: drop -->\n" +
        "<h1>T&amp;C &lt;draft&gt; &amp;lt;escaped&amp;gt;</h1>\n<p>"),
      col("text"),
      lit("</p><br><div class=\"foot\">&copy; footer&nbsp;&#39;24</div></body></html>"))

  private val plantedHtmlSql: String =
    "concat('<html><head><title>Doc ', CAST(doc_id AS VARCHAR), " +
      "'</title><script type=\"text/x\">var a = 1 < 2 && b > 0;</script>" +
      "<style>p{color:#000}</style></head><body><!-- crawler: drop -->\n" +
      "<h1>T&amp;C &lt;draft&gt; &amp;lt;escaped&amp;gt;</h1>\n<p>', text, " +
      "'</p><br><div class=\"foot\">&copy; footer&nbsp;&#39;24</div></body></html>')"

  /** Unrolled PageRank oracle: DuckDB recursive CTEs cannot aggregate over
    * the recursive term, so the FIXED round count is unrolled as chained
    * CTEs s1..sN — the same reason the round count is part of the
    * operator's contract.
    */
  private def pagerankSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""s$k AS (SELECT n.node,
         |  CAST(150000000000 + coalesce(a.inc, 0) AS BIGINT) AS score
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS node,
         |      sum(((s.score // d.deg) * 17) // 20) AS inc
         |    FROM e JOIN s${k - 1} s ON e.src = s.node
         |      JOIN d ON d.src = e.src
         |    GROUP BY e.dst) a ON a.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ol AS (SELECT DISTINCT concat('c:', CAST(o_custkey AS VARCHAR)) AS c,
       |    concat('s:', CAST(l_suppkey AS VARCHAR)) AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT c AS src, s AS dst FROM ol
       |      UNION ALL SELECT s AS src, c AS dst FROM ol),
       |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
       |n AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
       |s0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS score FROM n),
       |$steps
       |SELECT node, score FROM s$iters""".stripMargin
  }

  // generate_series(1, 1024) is a HARD CAP on mirrored words-per-doc (the
  // x_bpe_pairs idiom): a >1024-word document would lose tail bigrams in
  // the oracle only and hash-mismatch loudly. Fixture max is 100.
  val oracleSql: Map[String, String] = Map(

    "x_text_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, list_extract(ws, i) AS w1,
        |    concat(list_extract(ws, i), ' ', list_extract(ws, i + 1)) AS g
        |  FROM t, generate_series(1, 1024) gs(i) WHERE i <= len(ws) - 1),
        |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY g),
        |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
        |       FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w),
        |p AS (SELECT b.doc_id, (1000000 * c2.c2) // c1.c1 AS p
        |      FROM b JOIN c2 USING (g) JOIN c1 ON c1.w = b.w1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(p) // count(*) AS BIGINT) AS lm_score
        |FROM p GROUP BY doc_id""".stripMargin,

    // the maintained-ledger probe: x_text_lm_score's oracle with counts
    // still over the FULL corpus, output restricted to the probed slice
    // (maintained == recompute is the checked contract)
    "x_lm_score_ledger" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, list_extract(ws, i) AS w1,
        |    concat(list_extract(ws, i), ' ', list_extract(ws, i + 1)) AS g
        |  FROM t, generate_series(1, 1024) gs(i) WHERE i <= len(ws) - 1),
        |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY g),
        |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
        |       FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w),
        |p AS (SELECT b.doc_id, (1000000 * c2.c2) // c1.c1 AS p
        |      FROM b JOIN c2 USING (g) JOIN c1 ON c1.w = b.w1)
        |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(p.p) // count(*) AS BIGINT) AS lm_score
        |FROM p JOIN documents d ON d.doc_id = p.doc_id
        |WHERE d.source = 'src0'
        |GROUP BY p.doc_id""".stripMargin,

    "x_url_canonical" ->
      s"""WITH u AS (SELECT doc_id, $plantedUrlSql AS url FROM documents)
         |SELECT doc_id, url, ${Urls.canonicalUrlSql} AS canonical_url FROM u""".stripMargin,

    "x_dedup_url" ->
      s"""WITH u AS (SELECT doc_id, $plantedUrlSql AS url FROM documents),
         |c AS (SELECT doc_id, ${Urls.canonicalUrlSql} AS canonical_url FROM u)
         |SELECT canonical_url, CAST(min(doc_id) AS BIGINT) AS keep_id,
         |  CAST(count(*) AS BIGINT) AS n_urls
         |FROM c GROUP BY canonical_url""".stripMargin,

    "x_graph_pagerank" -> pagerankSql(10),

    // the incremental maintainer's contract IS the full recompute
    "x_graph_pagerank_incremental" -> pagerankSql(10),
    "x_graph_pagerank_maintained" -> pagerankSql(10),

    "x_text_strip_html" ->
      s"""WITH h AS (SELECT doc_id, $plantedHtmlSql AS html FROM documents),
         |c AS (SELECT doc_id, ${Markup.stripMarkupSql} AS clean_text FROM h)
         |SELECT doc_id, clean_text, CAST(length(clean_text) AS INT) AS n_clean
         |FROM c""".stripMargin,

    // the WARC leg is payload-identity (pinned by x_warc_roundtrip), so
    // the SQL mirror starts from the same planted HTML; quality battery =
    // Extensions' shared rule text applied to the CLEANED column
    "x_pipeline_crawl" ->
      s"""WITH h AS (SELECT doc_id, $plantedHtmlSql AS html FROM documents),
         |c AS (SELECT doc_id, ${Markup.stripMarkupSql} AS text FROM h),
         |q AS (SELECT doc_id, text,
         |    ${Extensions.sqlQualityScoreOverText} AS quality
         |  FROM c),
         |g AS (SELECT * FROM q WHERE quality >= 3)
         |SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
         |  CAST(count(*) AS BIGINT) AS n_copies,
         |  CAST(max(quality) AS INT) AS quality,
         |  CAST(length(text) AS INT) AS n_clean
         |FROM g GROUP BY text""".stripMargin,

    "x_text_classifier" ->
      """WITH v AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT unnest(list_distinct(string_split(text, ' '))) AS tok
        |        FROM documents) GROUP BY tok),
        |w AS (SELECT tok, (df % 21) - 10 AS weight FROM v),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents) GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_hits,
        |  CAST(sum(tf * weight) AS BIGINT) AS score
        |FROM tf JOIN w USING (tok) GROUP BY doc_id""".stripMargin,

    // generate_series(1, 32) mirrors the DNS label bound in hostSuffixes'
    // scaladoc; fixture hosts have ≤ 4 labels
    "x_url_blocklist" ->
      s"""WITH u AS (SELECT doc_id, $plantedHostUrlSql AS url FROM documents),
         |h AS (SELECT doc_id, ${Urls.urlHostSql} AS host FROM u),
         |b AS (SELECT concat(lower(source), '.example.com') AS domain
         |      FROM (SELECT DISTINCT source FROM documents)
         |      WHERE CAST(substr(source, 4) AS INT) % 7 = 1
         |      UNION ALL SELECT 'cdn.src8.example.com'
         |      UNION ALL SELECT 'cdn.src16.example.com'
         |      UNION ALL SELECT 'nosuch.example.com'),
         |sfx AS (SELECT doc_id, array_to_string(
         |    list_slice(string_split(host, '.'), i, len(string_split(host, '.'))),
         |    '.') AS domain
         |  FROM h, generate_series(1, 32) gs(i)
         |  WHERE i <= len(string_split(host, '.'))),
         |m AS (SELECT doc_id, min(domain) AS matched_domain
         |  FROM sfx JOIN (SELECT DISTINCT domain FROM b) USING (domain)
         |  GROUP BY doc_id)
         |SELECT h.doc_id, h.host, m.matched_domain,
         |  CAST(m.matched_domain IS NOT NULL AS INT) AS blocked
         |FROM h LEFT JOIN m USING (doc_id)""".stripMargin,

    // same md5-band cuts as x_sample_split (cccc/e666), keyed on the host
    "x_split_by_domain" ->
      s"""WITH u AS (SELECT doc_id, $plantedUrlSql AS url FROM documents),
         |h AS (SELECT doc_id, ${Urls.urlHostSql} AS host FROM u),
         |t AS (SELECT doc_id, host,
         |    substr(md5('split:' || host), 1, 4) AS b FROM h)
         |SELECT doc_id, host,
         |  CASE WHEN b < 'cccc' THEN 'train'
         |       WHEN b < 'e666' THEN 'val' ELSE 'test' END AS split
         |FROM t""".stripMargin,

    "x_lm_buckets" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, list_extract(ws, i) AS w1,
        |    concat(list_extract(ws, i), ' ', list_extract(ws, i + 1)) AS g
        |  FROM t, generate_series(1, 1024) gs(i) WHERE i <= len(ws) - 1),
        |c2 AS (SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM b GROUP BY g),
        |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
        |       FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w),
        |p AS (SELECT b.doc_id, (1000000 * c2.c2) // c1.c1 AS p
        |      FROM b JOIN c2 USING (g) JOIN c1 ON c1.w = b.w1),
        |sc AS (SELECT doc_id, CAST(sum(p) // count(*) AS BIGINT) AS lm_score
        |       FROM p GROUP BY doc_id),
        |sl AS (SELECT sc.doc_id, d.lang, sc.lm_score
        |       FROM sc JOIN documents d USING (doc_id)),
        |thr AS (SELECT lang, quantile_cont(lm_score, 0.25) AS lo,
        |               quantile_cont(lm_score, 0.75) AS hi
        |        FROM sl GROUP BY lang)
        |SELECT doc_id, lang, lm_score,
        |  CASE WHEN lm_score >= hi THEN 'head'
        |       WHEN lm_score < lo THEN 'tail'
        |       ELSE 'middle' END AS bucket
        |FROM sl JOIN thr USING (lang)""".stripMargin
  )
}
