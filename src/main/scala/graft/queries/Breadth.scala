package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.Util._

/** Function-surface breadth: JSON extraction, the window-function family,
  * grouping sets, exact percentiles, string & math scalar functions — the
  * long tail of "a user of the reference could run every query they run
  * today" (plus what any real pipeline on this data would reach for next).
  *
  * Oracle-determinism notes: transcendentals (ln/exp/pow) are deliberately
  * absent — libm implementations differ across engines in the last ulp;
  * sqrt IS IEEE-correctly-rounded and therefore safe. Percentiles use exact
  * interpolation rounded at 1e-4 (the two engines' interpolation formulas
  * differ in FP association).
  */
object Breadth {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // JSON extraction from the events.props column
    "b1_json_extract" -> ((s: SparkSession, dir: String) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"), count(col("k")).as("n"))
    }),

    // window-function family with fully deterministic ordering
    "b2_window_family" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        dense_rank().over(w).as("drank"),
        ntile(4).over(w).as("quartile"),
        first(col("o_orderkey")).over(w).as("first_key"))
    }),

    // grouping sets through the SQL surface
    "b3_grouping_sets" -> ((s: SparkSession, dir: String) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_gs")
      s.sql(s"""SELECT o_orderstatus, o_orderpriority,
        count(1) AS n,
        CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,10))), 2) AS DOUBLE) AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
    }),

    // exact percentiles (interpolated), rounded at 1e-4
    "b4_percentiles" -> ((s: SparkSession, dir: String) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("round(percentile(o_totalprice, 0.25), 4)").as("p25"),
          expr("round(percentile(o_totalprice, 0.5), 4)").as("p50"),
          expr("round(percentile(o_totalprice, 0.75), 4)").as("p75"))
    }),

    // string scalar breadth
    "b5_string_funcs" -> ((s: SparkSession, dir: String) => {
      Tables.customer(s, dir).select(
        col("c_custkey"),
        upper(col("c_name")).as("u"),
        lpad(col("c_name"), 25, "*").as("padded"),
        reverse(col("c_name")).as("rev"),
        substring(col("c_name"), 3, 5).as("sub"),
        concat_ws("-", col("c_mktsegment"), col("c_name")).as("joined"),
        translate(col("c_name"), "abc", "xyz").as("trans"),
        length(col("c_name")).as("len"),
        ascii(col("c_name")).as("a0"))
    }),

    // generator / lateral surface: explode words, global top-20 frequencies
    "b7_explode_wordcount" -> ((s: SparkSession, dir: String) => {
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(20)
    }),

    // pivot with an explicit value list (deterministic column set)
    "b8_pivot_events" -> ((s: SparkSession, dir: String) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)
    }),

    // map scalar family: construct (map_from_entries), introspect
    // (map_keys/size), look up (element_at with a computed key)
    "b10_map_funcs" -> ((s: SparkSession, dir: String) => {
      Tables.nation(s, dir)
        .groupBy(col("n_regionkey"))
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("n_name"), col("n_nationkey"))))).as("m"))
        .select(col("n_regionkey"),
          size(map_keys(col("m"))).as("n_entries"),
          array_join(array_sort(map_keys(col("m"))), ",").as("keys"),
          element_at(col("m"), array_min(map_keys(col("m")))).as("first_val"))
    }),

    // RANGE window frame: 7-day trailing spend per customer (epoch seconds
    // so both engines share an integer range dimension)
    "b9_range_window" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("sec"))
        .rangeBetween(-604800L, 0L)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          unix_timestamp(col("o_orderdate").cast("timestamp")).as("sec"),
          col("o_totalprice"))
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(dec(col("o_totalprice"))).over(w), 2).cast("double").as("trailing_7d"))
    }),

    // unpivot / melt: wide measure columns → long (id, measure, value) —
    // the inverse of b8's pivot; value columns share DoubleType so the
    // melted column keeps an exact type both engines agree on
    "b11_unpivot" -> ((s: SparkSession, dir: String) => {
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 100 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "value")
    }),

    // fixed-width histogram: arithmetic bucketing (floor of an exact double
    // division; DuckDB lacks width_bucket, and floor-div is deterministic
    // on both engines), counts + exact-decimal mass per bucket
    "b12_histogram" -> ((s: SparkSession, dir: String) => {
      Tables.orders(s, dir)
        .select(least(floor(col("o_totalprice") / 50000), lit(9)).cast("int").as("bucket"),
          col("o_totalprice"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("mass"))
    }),

    // distribution window family: percent_rank / cume_dist / nth_value —
    // unique tiebreak makes RANGE peers singletons, so both engines' default
    // frames agree; the rank ratios are single exact integer divisions
    "b13_dist_windows" -> ((s: SparkSession, dir: String) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
    }),

    // fuzzy (edit-distance) join — record linkage against a deliberately
    // DIRTIED copy of the customer names (the perturbed-twin fixture
    // pattern): '#'→'-' everywhere (1 edit) plus a trailing 'x' on even
    // keys (2 edits). Blocking key = the trailing digit field at its fixed
    // offset — the substring the planted corruption cannot touch — so the
    // block join is keyed, candidates stay per-block, and the levenshtein
    // verify runs inside the block (graft.ops.FuzzyJoin).
    "b14_fuzzy_join" -> ((s: SparkSession, dir: String) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
      val dirty = c.select(col("c_custkey").as("d_custkey"),
        concat(regexp_replace(col("c_name"), "#", "-"),
          when(col("c_custkey") % 2 === 0, lit("x")).otherwise(lit("")))
          .as("d_name"))
      graft.ops.FuzzyJoin.byEditDistance(c, dirty, "c_name", "d_name",
          substring(col("c_name"), 14, 5), substring(col("d_name"), 14, 5),
          maxDist = 2)
        .select(col("c_custkey"), col("d_custkey"), col("dist"))
    }),

    // END-TO-END entity resolution — the full record-linkage pipeline
    // composed from ops the repo already pins one-by-one: TWO
    // independently-dirtied copies of the customer names (different
    // substitution + different trailing-char rule, so the two dirty twins
    // of one customer differ by up to 4 edits and can NEVER fuzzy-match
    // each other directly), fuzzy-matched to the clean records
    // (FuzzyJoin: blocked on the digit field the corruption can't touch,
    // levenshtein <= 2 in-block), the match pairs fed to connected
    // components — the TRANSITIVE closure dirty1 ↔ clean ↔ dirty2 is what
    // CC adds over pairwise matching — and each entity cluster collapsed
    // to a canonical record (min-node member, min_by). Every stage is
    // keyed; the oracle recomputes the closure with a recursive CTE.
    // CC VARIANT CHOICE (round-15 measurement, BENCH.md "CC variant decision"): the
    // match graph is diameter ≤ 2 by construction (dirty twin ↔ clean ↔
    // other dirty twin), so label propagation converges in ~3 rounds of
    // one join + one agg each and beats the large/small-star scheme's
    // two-aggs-plus-join rounds on this shape — measured 1.39 vs 1.74 s
    // at sf0.1 (30k edges) and 8.56 vs 13.58 s at sf1 (3M edges; the
    // scaled fixture replicates names so components widen to ~30 nodes),
    // identical closures both scales. Star remains the right variant for
    // DEEP graphs (long chains — its rounds are O(log d), label-prop's
    // O(d)); ER match graphs are shallow by construction, so label-prop
    // is the shipped choice.
    "x_entity_resolution" -> ((s: SparkSession, dir: String) => {
      val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_name"))
      def dirtied(off: Long, rep: String, mod: Int, suf: String) =
        c.select((col("c_custkey") + off).as("d_custkey"),
          concat(regexp_replace(col("c_name"), "#", rep),
            when(col("c_custkey") % mod === 0, lit(suf)).otherwise(lit("")))
            .as("d_name"))
      val d1 = dirtied(10000000L, "-", 2, "x")
      val d2 = dirtied(20000000L, "+", 3, "y")
      val nodes = c.select(col("c_custkey").as("node"), col("c_name").as("name"))
        .unionByName(d1.select(col("d_custkey").as("node"), col("d_name").as("name")))
        .unionByName(d2.select(col("d_custkey").as("node"), col("d_name").as("name")))
      def pairs(d: org.apache.spark.sql.DataFrame) =
        graft.ops.FuzzyJoin.byEditDistance(c, d, "c_name", "d_name",
            substring(col("c_name"), 14, 5), substring(col("d_name"), 14, 5),
            maxDist = 2)
          .select(col("c_custkey").as("doc_a"), col("d_custkey").as("doc_b"))
      val labels = graft.ext.Components
        .connectedComponents(pairs(d1).unionByName(pairs(d2)))
      nodes.join(labels, nodes("node") === labels("doc_id"), "left")
        .select(col("node"), col("name"),
          coalesce(col("component"), col("node")).as("entity_id"))
        .groupBy(col("entity_id"))
        .agg(count(lit(1)).as("n_records"),
          min_by(col("name"), col("node")).as("canonical_name"))
    }),

    // FULL OUTER join — the one join type the surface lacked: two per-key
    // aggregates with partially overlapping key sets (open vs filled
    // orders per customer), null sides made explicit with coalesce. Plans
    // as one keyed sort-merge join; both inputs are pre-aggregated so the
    // shuffle carries key-sized summaries
    "b15_outer_join" -> ((s: SparkSession, dir: String) => {
      val o = Tables.orders(s, dir)
      val open = o.filter(col("o_orderstatus") === "O")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_open"))
      val filled = o.filter(col("o_orderstatus") === "F")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_filled"))
      open.join(filled, Seq("o_custkey"), "full_outer")
        .select(col("o_custkey"),
          coalesce(col("n_open"), lit(0L)).as("n_open"),
          coalesce(col("n_filled"), lit(0L)).as("n_filled"))
    }),

    // math scalar breadth (IEEE-deterministic ops only)
    "b6_math_funcs" -> ((s: SparkSession, dir: String) => {
      Tables.orders(s, dir).select(
        col("o_orderkey"),
        abs(col("o_totalprice") - 200000).as("centered"),
        ceil(col("o_totalprice")).as("c"),
        floor(col("o_totalprice")).as("f"),
        round(col("o_totalprice"), -3).as("k_round"),
        sqrt(col("o_totalprice")).as("sq"),
        (col("o_orderkey") % 7).as("m7"),
        expr("o_orderkey div 2").as("half"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "b1_json_extract" ->
      s"""SELECT event_type,
         |  CAST(sum(CAST(props->>'$$.k' AS BIGINT)) AS BIGINT) AS sum_k,
         |  CAST(min(CAST(props->>'$$.k' AS BIGINT)) AS BIGINT) AS min_k,
         |  CAST(max(CAST(props->>'$$.k' AS BIGINT)) AS BIGINT) AS max_k,
         |  CAST(count(CAST(props->>'$$.k' AS BIGINT)) AS BIGINT) AS n
         |FROM events GROUP BY event_type""".stripMargin,

    "b2_window_family" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(dense_rank() OVER w AS INT) AS drank,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  first_value(o_orderkey) OVER w AS first_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "b3_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, ${sqlCount("1")} AS n,
         |  ${sqlDsum("o_totalprice")} AS total
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,

    "b4_percentiles" ->
      """SELECT o_orderstatus,
        |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.75), 4) AS p75
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "b5_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS u, lpad(c_name, 25, '*') AS padded,
        |  reverse(c_name) AS rev, substring(c_name, 3, 5) AS sub,
        |  concat_ws('-', c_mktsegment, c_name) AS joined,
        |  translate(c_name, 'abc', 'xyz') AS trans,
        |  CAST(length(c_name) AS INT) AS len, ascii(c_name) AS a0
        |FROM customer""".stripMargin,

    "b7_explode_wordcount" ->
      s"""SELECT word, ${sqlCount()} AS n FROM (
         |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin,

    "b8_pivot_events" ->
      s"""SELECT user_id,
         |  CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
         |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
         |  CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
         |  CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
         |  CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
         |FROM events GROUP BY user_id""".stripMargin,

    "b10_map_funcs" ->
      """WITH m AS (SELECT n_regionkey,
        |    map(list(n_name ORDER BY n_name), list(n_nationkey ORDER BY n_name)) AS m
        |  FROM nation GROUP BY 1)
        |SELECT n_regionkey, CAST(cardinality(m) AS INT) AS n_entries,
        |  list_aggr(list_sort(map_keys(m)), 'string_agg', ',') AS keys,
        |  CAST(map_extract(m, list_min(map_keys(m)))[1] AS INT) AS first_val
        |FROM m""".stripMargin,

    "b9_range_window" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,10))) OVER (
        |    PARTITION BY o_custkey ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
        |    RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS trailing_7d
        |FROM orders""".stripMargin,

    "b11_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |         l_discount, l_tax
        |  FROM lineitem WHERE l_orderkey % 100 = 0)
        |UNPIVOT (value FOR measure IN
        |  (l_quantity, l_extendedprice, l_discount, l_tax))""".stripMargin,

    "b12_histogram" ->
      s"""SELECT CAST(least(floor(o_totalprice / 50000), 9) AS INT) AS bucket,
         |  ${sqlCount("1")} AS n, ${sqlDsum("o_totalprice")} AS mass
         |FROM orders GROUP BY 1""".stripMargin,

    "b13_dist_windows" ->
      """SELECT o_orderkey, o_orderstatus,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin,

    "b14_fuzzy_join" ->
      """WITH d AS (SELECT c_custkey AS d_custkey,
        |    replace(c_name, '#', '-') ||
        |      CASE WHEN c_custkey % 2 = 0 THEN 'x' ELSE '' END AS d_name
        |  FROM customer)
        |SELECT c.c_custkey, d.d_custkey,
        |  CAST(levenshtein(c.c_name, d.d_name) AS INT) AS dist
        |FROM customer c JOIN d
        |  ON substr(c.c_name, 14, 5) = substr(d.d_name, 14, 5)
        |WHERE abs(length(c.c_name) - length(d.d_name)) <= 2
        |  AND levenshtein(c.c_name, d.d_name) <= 2""".stripMargin,

    "b15_outer_join" ->
      """WITH open_o AS (SELECT o_custkey, CAST(count(1) AS BIGINT) AS n_open
        |    FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey),
        |filled AS (SELECT o_custkey, CAST(count(1) AS BIGINT) AS n_filled
        |    FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey)
        |SELECT coalesce(a.o_custkey, b.o_custkey) AS o_custkey,
        |  coalesce(a.n_open, 0) AS n_open,
        |  coalesce(b.n_filled, 0) AS n_filled
        |FROM open_o a FULL OUTER JOIN filled b ON a.o_custkey = b.o_custkey""".stripMargin,

    "x_entity_resolution" ->
      """WITH RECURSIVE
        |d1 AS (SELECT c_custkey + 10000000 AS node,
        |    replace(c_name, '#', '-') ||
        |      CASE WHEN c_custkey % 2 = 0 THEN 'x' ELSE '' END AS name
        |  FROM customer),
        |d2 AS (SELECT c_custkey + 20000000 AS node,
        |    replace(c_name, '#', '+') ||
        |      CASE WHEN c_custkey % 3 = 0 THEN 'y' ELSE '' END AS name
        |  FROM customer),
        |n AS (SELECT c_custkey AS node, c_name AS name FROM customer
        |      UNION ALL SELECT node, name FROM d1
        |      UNION ALL SELECT node, name FROM d2),
        |p AS MATERIALIZED (SELECT c.c_custkey AS a, d.node AS b
        |      FROM customer c
        |      JOIN (SELECT node, name FROM d1 UNION ALL SELECT node, name FROM d2) d
        |        ON substr(c.c_name, 14, 5) = substr(d.name, 14, 5)
        |      WHERE abs(length(c.c_name) - length(d.name)) <= 2
        |        AND levenshtein(c.c_name, d.name) <= 2),
        |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
        |walk(node, label) AS (
        |  SELECT src, src FROM e
        |  UNION
        |  SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.node),
        |lbl AS (SELECT node, min(label) AS entity_id FROM walk GROUP BY node)
        |SELECT coalesce(lbl.entity_id, n.node) AS entity_id,
        |  CAST(count(*) AS BIGINT) AS n_records,
        |  min_by(n.name, n.node) AS canonical_name
        |FROM n LEFT JOIN lbl USING (node)
        |GROUP BY 1""".stripMargin,

    "b6_math_funcs" ->
      """SELECT o_orderkey, abs(o_totalprice - 200000) AS centered,
        |  CAST(ceil(o_totalprice) AS BIGINT) AS c,
        |  CAST(floor(o_totalprice) AS BIGINT) AS f,
        |  round(o_totalprice, -3) AS k_round,
        |  sqrt(o_totalprice) AS sq,
        |  o_orderkey % 7 AS m7,
        |  o_orderkey // 2 AS half
        |FROM orders""".stripMargin
  )
}
