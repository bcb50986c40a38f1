package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** The SQL-TEXT analyst surface — §3.3's Drill/Tableau path, first
  * class: the reference parks its trend store in MySQL and lets
  * Drill/Tableau speak SQL at it (reference README.md:84-88); here
  * Spark IS the SQL engine, so the same analyst experience is
  * `registerViews` + `spark.sql(text)` over the registered views.
  *
  * [[sqlTexts]] re-expresses a representative slice of the registered
  * DataFrame queries (the trend dashboard set + the classic TPC-H
  * shapes) as PURE SQL strings. SqlSurfaceSpec pins every text to its
  * DataFrame twin row-for-row, so an analyst typing SQL and a pipeline
  * calling the API can never diverge — the texts stay load-bearing,
  * not documentation.
  *
  * Scale note: both forms lower to the same Catalyst plans (the SQL
  * parser and the DataFrame API meet at the same logical operators),
  * so every plan property the DataFrame registry is audited for —
  * pushdown, broadcast dims, partial aggregation — holds verbatim for
  * the text form. The one intentional difference: the texts carry no
  * `broadcast()` hints, leaving join-side selection entirely to the
  * optimizer's statistics, exactly as an external BI tool would. */
object SqlSurface {

  /** Table views an analyst session sees: the driver parquet tables
    * under their own names, plus `trend_rows` — the parsed/exploded
    * per-hashtag row stream (the reference's MySQL trend store analog,
    * here a view over [[TrendPipeline.trendRows]] so dashboard SQL
    * composes on top of the engine's parsing pipeline). */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem").foreach(t => Tables(spark, sfDir, t).createOrReplaceTempView(t))
    Tables.documents(spark, sfDir).createOrReplaceTempView("documents")
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    TrendPipeline.trendRows(Tables.documents(spark, sfDir))
      .createOrReplaceTempView("trend_rows")
  }

  /** Run one named text against registered views. */
  def run(spark: SparkSession, name: String): DataFrame =
    spark.sql(sqlTexts(name))

  /** The sentiment bucket as SQL (mirrors
    * [[graft.functions.Sentiment.bucket]] exactly — boundary semantics
    * included). */
  private val bucketSql =
    """CASE WHEN sentiment_score <= 0.0 THEN 'not_understood'
      |     WHEN sentiment_score < 1.0 THEN 'very_negative'
      |     WHEN sentiment_score < 2.0 THEN 'negative'
      |     WHEN sentiment_score < 3.0 THEN 'neutral'
      |     WHEN sentiment_score < 4.0 THEN 'positive'
      |     WHEN sentiment_score < 5.0 THEN 'very_positive'
      |     ELSE 'not_understood' END""".stripMargin

  /** Exact integer cents/base-points sum — the SQL spelling of
    * [[Relational.sumCents]]. It keeps the built-in `round`: this
    * surface is plain SQL text that any Spark session parses, and
    * [[graft.functions.RoundHalfUpLong]] is not a registered SQL
    * function. The two round to the same longs, so SqlSurfaceSpec's
    * equality pins hold. */
  private def cents(x: String, scale: Int = 2): String =
    s"sum(CAST(round(($x) * ${math.pow(10, scale).toLong}) AS BIGINT))"

  /** Registered-query name → equivalent pure SQL text. Every entry's
    * result is pinned equal to `SparkEntry.queries(name)` by
    * SqlSurfaceSpec. */
  val sqlTexts: Map[String, String] = Map(
    // ---- trend dashboard over the trend_rows view ----
    "hashtag_counts" ->
      "SELECT hashtag, count(*) AS cnt FROM trend_rows GROUP BY hashtag",
    "mean_sentiment" ->
      """SELECT hashtag, round(avg(sentiment_score), 4) AS avg_sentiment
        |FROM trend_rows GROUP BY hashtag""".stripMargin,
    "count_join_sentiment" ->
      """SELECT hashtag, count(*) AS cnt,
        |       round(avg(sentiment_score), 4) AS avg_sentiment
        |FROM trend_rows GROUP BY hashtag""".stripMargin,
    "sentiment_distribution" ->
      """SELECT hashtag, sentiment_type, count(*) AS cnt
        |FROM trend_rows GROUP BY hashtag, sentiment_type""".stripMargin,
    "counts_by_country" ->
      "SELECT country, count(*) AS cnt FROM trend_rows GROUP BY country",
    "hashtag_timeseries" ->
      """SELECT ts, hashtag, count(*) AS cnt,
        |       round(avg(sentiment_score), 4) AS avg_sentiment
        |FROM trend_rows GROUP BY ts, hashtag""".stripMargin,
    "topn_trends" ->
      """SELECT ts, hashtag, cnt, rank FROM (
        |  SELECT ts, hashtag, count(*) AS cnt,
        |         CAST(row_number() OVER (PARTITION BY ts
        |           ORDER BY count(*) DESC, hashtag) AS BIGINT) AS rank
        |  FROM trend_rows GROUP BY ts, hashtag)
        |WHERE rank <= 3""".stripMargin,
    // the FULL trend pipeline as one pure SQL text — from the raw
    // `documents` view through wire encode/parse, country heuristic,
    // 4-regex clean + lexicon sentiment, hashtag explode/clean, and
    // the deterministic dedup — with every engine-native step invoked
    // through its session-extension SQL function (graft_country,
    // graft_clean_tweet, graft_sentiment, graft_extract_hashtags), so
    // an analyst needs NO DataFrame API to run the reference's whole
    // dataflow. The texts parse to the same native codegen'd
    // expressions the API plans (asserted plan-level in
    // SqlSurfaceSpec).
    "trend_rows" ->
      s"""WITH tw AS (
         |  SELECT doc_id,
         |    CAST(1700000000 + (doc_id % 10) * 15 AS INT) AS ts,
         |    CASE CAST(doc_id % 5 AS INT)
         |      WHEN 0 THEN 'San Francisco, CA'
         |      WHEN 1 THEN 'Toronto, Ontario'
         |      WHEN 2 THEN 'Paris'
         |      WHEN 3 THEN 'Austin, TX'
         |      ELSE 'Berlin, Germany, EU' END AS loc,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '\\\\bspark\\\\b', '#spark'),
         |      '\\\\bdata\\\\b', '#data'),
         |      '\\\\bstream\\\\b', '#stream') AS ht
         |  FROM documents),
         |-- wire encode + parse, the exact WireCodec semantics:
         |-- null-coalesced concat_ws (a NULL slot must still emit its
         |-- delimiter) and try_element_at (malformed line -> NULL row,
         |-- never an ANSI error)
         |parsed AS (
         |  SELECT doc_id, ts,
         |    try_element_at(split(line, ' /TLOC/ '), 1) AS location,
         |    try_element_at(split(line, ' /TLOC/ '), 2) AS txt
         |  FROM (SELECT doc_id, ts,
         |          concat_ws(' /TLOC/ ', coalesce(loc, ''),
         |                    coalesce(ht, '')) AS line
         |        FROM tw)),
         |scored AS (
         |  SELECT doc_id, ts,
         |    graft_country(location) AS country,
         |    graft_sentiment(graft_clean_tweet(txt)) AS sentiment_score,
         |    graft_extract_hashtags(txt) AS tags
         |  FROM parsed),
         |trows AS (
         |  SELECT ts,
         |    regexp_replace(tag, '(\\\\w*RT)|[^a-zA-Z0-9#]', '') AS hashtag,
         |    sentiment_score, country
         |  FROM scored LATERAL VIEW explode(tags) t AS tag)
         |SELECT ts, hashtag, sentiment_score,
         |       $bucketSql AS sentiment_type, country
         |FROM (SELECT ts, hashtag, country,
         |             min(sentiment_score) AS sentiment_score
         |      FROM trows GROUP BY ts, hashtag, country)""".stripMargin,
    // ---- TPC-H shapes over the raw table views ----
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${cents("l_quantity")} / 100.0 AS sum_qty,
         |  ${cents("l_extendedprice")} / 100.0 AS sum_base_price,
         |  ${cents("l_extendedprice * (1.0 - l_discount)", 4)} / 10000.0
         |    AS sum_disc_price,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q3_join" ->
      s"""SELECT o_orderkey, revenue_c / 10000.0 AS revenue, o_orderdate
         |FROM (
         |  SELECT o_orderkey, o_orderdate,
         |    ${cents("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue_c
         |  FROM lineitem
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  WHERE c_mktsegment = 'BUILDING'
         |    AND o_orderdate < DATE '1995-03-15'
         |    AND l_shipdate > DATE '1995-03-15'
         |  GROUP BY o_orderkey, o_orderdate
         |  ORDER BY revenue_c DESC, o_orderkey
         |  LIMIT 10)""".stripMargin,
    "q5_region_volume" ->
      s"""SELECT n_name,
         |  ${cents("l_extendedprice * (1.0 - l_discount)", 4)} / 10000.0
         |    AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= DATE '1995-01-01'
         |  AND o_orderdate < DATE '1996-01-01'
         |GROUP BY n_name""".stripMargin,
    "q10_returned" ->
      s"""SELECT c_custkey, c_name, n_name,
         |  ${cents("l_extendedprice * (1.0 - l_discount)", 4)} / 10000.0
         |    AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q4_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin,
    "q6_forecast" ->
      s"""SELECT ${cents("l_extendedprice * l_discount", 4)} / 10000.0
         |    AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= DATE '1995-01-01'
         |  AND l_shipdate < DATE '1996-01-01'
         |  AND CAST(round(l_discount * 10000) AS BIGINT) BETWEEN 500 AND 700
         |  AND l_quantity < 24""".stripMargin,
    "q12_priority_class" ->
      """SELECT l_linestatus,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END) AS high_line_count,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 0 ELSE 1 END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= DATE '1996-01-01'
        |  AND l_shipdate < DATE '1997-01-01'
        |GROUP BY l_linestatus""".stripMargin,
    "q13_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,
    "q14_promo" ->
      s"""SELECT ship_month,
         |  promo_u / 10000.0 AS promo_revenue,
         |  total_u / 10000.0 AS total_revenue,
         |  (1000 * promo_u) div total_u AS promo_pm
         |FROM (
         |  SELECT date_format(l_shipdate, 'yyyy-MM') AS ship_month,
         |    sum(CASE WHEN p_type = 'PROMO'
         |        THEN CAST(round(l_extendedprice * (1.0 - l_discount)
         |                        * 10000) AS BIGINT)
         |        ELSE CAST(0 AS BIGINT) END) AS promo_u,
         |    ${cents("l_extendedprice * (1.0 - l_discount)", 4)} AS total_u
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  GROUP BY date_format(l_shipdate, 'yyyy-MM'))""".stripMargin,
    "q18_large" ->
      s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
         |       qty_c / 100.0 AS total_qty
         |FROM (SELECT l_orderkey, ${cents("l_quantity")} AS qty_c
         |      FROM lineitem GROUP BY l_orderkey
         |      HAVING ${cents("l_quantity")} > 20000)
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "customers_by_region" ->
      s"""SELECT r_name, count(*) AS n_customers,
         |  ${cents("c_acctbal")} / 100.0 AS sum_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name""".stripMargin,

    // the similarity-join shape through the TEXT path: the same
    // session-extension native expression (graft_jaro_winkler) an
    // analyst would call, over the same blocking join
    "jw_name_pairs" ->
      s"""WITH p AS (SELECT p_partkey, p_name, p_brand,
         |             substring(p_name, 1, 1) AS blk FROM part)
         |SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
         |  a.p_name AS name_a, b.p_name AS name_b,
         |  round(graft_jaro_winkler(a.p_name, b.p_name), 4) AS jw
         |FROM p a JOIN p b
         |  ON a.p_brand = b.p_brand AND a.blk = b.blk
         |  AND a.p_partkey < b.p_partkey
         |WHERE round(graft_jaro_winkler(a.p_name, b.p_name), 4) >= 0.9""".stripMargin,

    // Unicode canonicalization through the TEXT path: the same two
    // session-extension native expressions (graft_nfc_normalize,
    // graft_strip_accents) the row-level registry query uses — the
    // decomposed decoration is spelled with SQL unicode escapes
    "canonicalize_names" ->
      s"""WITH s AS (SELECT s_suppkey,
         |    replace(s_name, 'e', '\\u00e9') AS accented,
         |    replace(s_name, 'e', 'e\\u0301') AS dec
         |  FROM supplier)
         |SELECT s_suppkey, accented,
         |  graft_strip_accents(accented) AS folded,
         |  CAST(CASE WHEN graft_nfc_normalize(dec) = accented
         |       THEN 1 ELSE 0 END AS INT) AS composed_ok
         |FROM s""".stripMargin,

    // the skyline shape as an analyst would type it: the single-pass
    // sorted-window algorithm. Exact same math as the engine's
    // range-partitioned Skyline.pareto2D (the spec pins them
    // row-for-row) — the window form is the RIGHT spelling at
    // dashboard scale, the operator the right one at corpus scale
    "pareto_orders" ->
      s"""WITH b AS (
         |  SELECT o_totalprice AS x, max(o_orderdate) AS maxy
         |  FROM orders GROUP BY o_totalprice),
         |f AS (
         |  SELECT x, maxy, max(maxy) OVER (ORDER BY x DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sm
         |  FROM b)
         |SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
         |FROM orders o
         |JOIN f ON o.o_totalprice = f.x AND o.o_orderdate = f.maxy
         |WHERE f.sm IS NULL OR f.sm < f.maxy""".stripMargin)
}
