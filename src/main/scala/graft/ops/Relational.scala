package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.FixedPoint.units

/** Relational analytics over the TPC-H-ish tables — the §3.3 analyst-query
  * surface (the reference delegates these to Drill/Tableau over the trend
  * store; Spark *is* our SQL engine, so they're first-class queries).
  *
  * Cross-engine float discipline: any aggregate over arbitrary doubles is
  * computed on per-row-rounded integer cents (`sumCents`) — integer sums
  * are associative, so the result is bit-identical regardless of partial
  * aggregation order on either engine; a single final division maps back
  * to the decimal domain deterministically.
  */
object Relational {

  /** `sum(round(x * 10^scale))` as exact integer units
    * ([[FixedPoint.units]]). The built-in `round(y).cast("long")` it
    * replaces costs a `BigDecimal.valueOf(y)` per row: q1_agg (three of
    * these sums) on sf0.1 `lineitem` at `local[4]` took 615-695 ms with
    * it, 345-422 ms with an exact non-BigDecimal round and 279-402 ms
    * with no rounding at all (median of 8 warm runs each). */
  def sumCents(x: Column, scale: Int = 2): Column =
    sum(units(x, scale))

  /** TPC-H Q1-shaped pricing summary: the canonical wide partial-agg
    * benchmark query (one shuffle over 6 groups; scans only the 7 needed
    * columns of lineitem). */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("date"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        (sumCents(col("l_quantity")) / 100.0).as("sum_qty"),
        (sumCents(col("l_extendedprice")) / 100.0).as("sum_base_price"),
        (sumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          / 10000.0).as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-shaped: top-10 unshipped orders by revenue.
    * customer(filtered, small) broadcasts into orders⋈lineitem; the top-10
    * is `orderBy(...).limit(10)` on an exact integer revenue with orderkey
    * tiebreak — Catalyst plans TakeOrderedAndProject (per-partition top-k
    * + driver merge of 10-row heaps), never a global sort. */
  def topRevenueOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") < lit("1995-03-15").cast("date"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") > lit("1995-03-15").cast("date"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val revenue = li
      .join(broadcast(ord.join(broadcast(cust),
        ord("o_custkey") === cust("c_custkey"))),
        li("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(sumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue_c"))
    revenue
      .orderBy(col("revenue_c").desc, col("o_orderkey"))
      .limit(10)
      .select(
        col("o_orderkey"),
        (col("revenue_c") / 10000.0).as("revenue"),
        col("o_orderdate"))
  }

  /** Skew-proof large-large equi-join: the left side's rows are salted
    * into `salts` sub-keys by a deterministic per-row attribute, the
    * right side is replicated once per salt, and the join runs on
    * (key, salt) — a key that is 90% of the left input lands in `salts`
    * tasks instead of one. This is the JOIN counterpart of
    * [[TrendPipeline.hashtagCountsSalted]]'s two-phase aggregation (AQE
    * skew-split is the runtime fallback; salting is the plan-level
    * guarantee). `saltCol` must be deterministic — retries must re-salt
    * a row identically, so monotonically_increasing_id is banned. A
    * null (or non-castable) salt value coalesces to bucket 0 rather
    * than producing a null join key that would silently drop the row. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 saltCol: Column, salts: Int): DataFrame = {
    val l = left.withColumn("__salt",
      coalesce(pmod(saltCol.cast("long"), lit(salts.toLong)), lit(0L)))
    val r = right.withColumn("__salt",
      explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }

  /** SELECTIVE salting — the round-12 revision of [[saltedJoin]]'s
    * guidance, driven by SkewBench data: salting ALL keys inflates the
    * small side `salts`× for every key, and the measured artifact
    * (SKEW_STRESS.json r11) showed full salting LOSING to plain AQE on
    * elapsed time (14.2 s vs 6.3 s) even while it bounded the task
    * tail. The fix is to salt only the keys that need it: one
    * partial-aggregated frequency pass over the left side's key column
    * finds keys above `hotThreshold` (map-side combine makes this
    * |distinct keys| rows, and the survivors are by definition few —
    * a set of hot keys is broadcastable or it isn't a skew problem,
    * it's a uniform-volume problem), both sides broadcast-join that
    * tiny set, hot keys salt into `salts` sub-keys, and every other
    * key keeps salt 0 — the small side replicates ONLY for hot keys.
    * Result rows are identical to the plain join (the oracle is
    * salt-blind). Ranking after measurement: AQE skew-join first,
    * selective salting second (when the tail must be bounded in the
    * PLAN — e.g. a retry must not straggle either), full salting
    * never. */
  def selectiveSaltedJoin(left: DataFrame, right: DataFrame, key: String,
                          saltCol: Column, salts: Int,
                          hotThreshold: Long): DataFrame = {
    val hot = left.groupBy(key).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > hotThreshold)
      .select(col(key), lit(true).as("__hot"))
    val l = left.join(broadcast(hot), Seq(key), "left_outer")
      .withColumn("__salt",
        when(col("__hot"),
          coalesce(pmod(saltCol.cast("long"), lit(salts.toLong)), lit(0L)))
          .otherwise(lit(0L)))
      .drop("__hot")
    val r = right.join(broadcast(hot), Seq(key), "left_outer")
      .withColumn("__salt",
        explode(when(col("__hot"),
          array((0 until salts).map(i => lit(i.toLong)): _*))
          .otherwise(array(lit(0L)))))
      .drop("__hot")
    l.join(r, Seq(key, "__salt")).drop("__salt")
  }

  /** [[orderRevenueSalted]] through the SELECTIVE salter: identical
    * rows (same oracle), but only orderkeys above the frequency
    * threshold salt — on this corpus's uniform keys the hot set is
    * empty and the plan degenerates to the plain join plus one slim
    * key-frequency pass, which is exactly the selling point: the
    * insurance costs ~nothing when no key is hot. */
  def orderRevenueSaltedSelective(spark: SparkSession, sfDir: String,
                                  salts: Int = 8,
                                  hotThreshold: Long = 1000L): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderdate")
    selectiveSaltedJoin(li, ord, "o_orderkey", col("l_linenumber"), salts,
      hotThreshold)
      .groupBy("o_orderkey", "o_orderdate")
      .agg(
        count(lit(1)).as("n_lines"),
        sumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue_c"))
      .select(col("o_orderkey"), col("o_orderdate"), col("n_lines"),
        (col("revenue_c") / 10000.0).as("revenue"))
  }

  /** Per-order revenue via the salted join (orders replicated 8×,
    * lineitem salted on l_linenumber): same rows as the plain
    * lineitem⋈orders rollup — the oracle proves salting is invisible in
    * the result. The post-join per-order aggregate handles its own skew
    * via partial aggregation (map-side combine). */
  def orderRevenueSalted(spark: SparkSession, sfDir: String,
                         salts: Int = 8): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_discount"))
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_orderdate")
    saltedJoin(li, ord, "o_orderkey", col("l_linenumber"), salts)
      .groupBy("o_orderkey", "o_orderdate")
      .agg(
        count(lit(1)).as("n_lines"),
        sumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("revenue_c"))
      .select(col("o_orderkey"), col("o_orderdate"), col("n_lines"),
        (col("revenue_c") / 10000.0).as("revenue"))
  }

  /** TPC-H Q5-shaped: revenue by nation for one region-year — the
    * 6-table join-order workout. Declared as plain equi-joins and two
    * filters; Catalyst orders the tree. The only hints are broadcasts
    * on nation⋈region (constant-size at any SF). supplier/customer/
    * orders/lineitem all shuffle on their join keys — at 100 TB none
    * of them is broadcast-able, and the `c_nationkey = s_nationkey`
    * cross-dimension predicate rides the customer⋈(order-line-supplier)
    * join as a residual rather than forcing a nation-keyed replan. The
    * date filter pushes to the orders scan, pruning before any join. */
  def regionVolume(spark: SparkSession, sfDir: String,
                   region: String = "ASIA"): DataFrame = {
    val nr = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir)
          .filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val sup = Tables.supplier(spark, sfDir)
      .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_nationkey", "n_name")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
        col("o_orderdate") < lit("1996-01-01").cast("date"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val cust = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey") &&
        cust("c_nationkey") === sup("s_nationkey"))
      .groupBy("n_name")
      .agg(sumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue_c"))
      .select(col("n_name"), (col("revenue_c") / 10000.0).as("revenue"))
  }

  /** TPC-H Q10-shaped "who returned the most": revenue lost to
    * returned items per customer, top 20. The canonical big⋈big join
    * chain — lineitem's returnflag filter is pushed into the scan
    * BEFORE the join (the scan reads only `R` rows), lineitem⋈orders
    * shuffles on orderkey, the customer rollup shuffles once on
    * custkey, and nation stays broadcast. Revenue in per-row-rounded
    * integer units; ordering ties broken by custkey so top-k is
    * engine-deterministic. */
  def topReturnedCustomers(spark: SparkSession, sfDir: String,
                           k: Int = 20): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    val cust = Tables.customer(spark, sfDir)
      .select("c_custkey", "c_name", "c_nationkey")
    val nation = Tables.nation(spark, sfDir).select("n_nationkey", "n_name")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue_u"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        (col("revenue_u") / 10000.0).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)
  }

  /** TPC-H Q7-shaped bilateral shipping volume: revenue shipped
    * between two trading nations per direction per year. The classic
    * "two roles of one dimension" join — nation joins TWICE (supplier
    * side and customer side), both as two-row broadcasts after the
    * pair filter, so the big chain stays lineitem⋈orders (orderkey)
    * + supplier/customer key joins with the date filter pushed to the
    * lineitem scan. The OR-of-two-directions predicate evaluates on
    * the slim post-join rows, never materializing a cross of the two
    * nation roles. */
  def nationVolume(spark: SparkSession, sfDir: String,
                   nationA: String = "NATION_9",
                   nationB: String = "NATION_10"): DataFrame = {
    val pair = Seq(nationA, nationB)
    val n1 = Tables.nation(spark, sfDir)
      .filter(col("n_name").isInCollection(pair))
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, sfDir)
      .filter(col("n_name").isInCollection(pair))
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    val sup = Tables.supplier(spark, sfDir)
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .select("s_suppkey", "supp_nation")
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      .select("c_custkey", "cust_nation")
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("date") &&
        col("l_shipdate") <= lit("1996-12-31").cast("date"))
      .select("l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
    val ord = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("revenue_u"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        (col("revenue_u") / 10000.0).as("revenue"))
  }

  /** Referential-integrity audit across the star schema: for every
    * foreign-key edge, the child row count and the number of DANGLING
    * rows (child keys with no parent) — the load-gate a warehouse
    * runs after ingesting a batch, before letting joins silently drop
    * rows. Healthy data answers all-zero orphans; the point is the
    * mechanical proof, not the surprise.
    *
    * Each edge is a LEFT ANTI join (Spark's no-materialization
    * not-exists): the child shuffles on its FK once, dimension-sized
    * parents broadcast, and only a count survives. Edges evaluate
    * independently — one report, |edges| cheap plans unioned. */
  /** One FK edge of [[integrityReport]]: child row count + dangling
    * (left-anti) count, as a single-row frame. */
  def integrityEdge(name: String, child: DataFrame, childKey: String,
                    parent: DataFrame, parentKey: String): DataFrame = {
    val orphans = child.select(col(childKey))
      .join(parent.select(col(parentKey)),
        col(childKey) === col(parentKey), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    child.agg(count(lit(1)).as("n_rows"))
      .join(orphans)
      .select(lit(name).as("fk_edge"), col("n_rows"), col("n_orphans"))
  }

  def integrityReport(spark: SparkSession, sfDir: String): DataFrame = {
    def edge(name: String, child: DataFrame, childKey: String,
             parent: DataFrame, parentKey: String): DataFrame =
      integrityEdge(name, child, childKey, parent, parentKey)
    val li = Tables.lineitem(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val cust = Tables.customer(spark, sfDir)
    val sup = Tables.supplier(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)
    val reg = Tables.region(spark, sfDir)
    Seq(
      edge("lineitem.l_orderkey->orders", li, "l_orderkey", ord, "o_orderkey"),
      edge("lineitem.l_suppkey->supplier", li, "l_suppkey", sup, "s_suppkey"),
      edge("orders.o_custkey->customer", ord, "o_custkey", cust, "c_custkey"),
      edge("customer.c_nationkey->nation", cust, "c_nationkey",
        nat, "n_nationkey"),
      edge("supplier.s_nationkey->nation", sup, "s_nationkey",
        nat, "n_nationkey"),
      edge("nation.n_regionkey->region", nat, "n_regionkey",
        reg, "r_regionkey"))
      .reduce(_ unionAll _)
  }

  /** Multi-level revenue report via GROUPING SETS: per-nation, per-
    * region subtotal, and grand total in ONE pass — `rollup` plans a
    * single Expand (3 grouping projections) feeding one hash
    * aggregate, so the fact table is scanned and the orders⋈customer
    * join executed exactly once, where three separate GROUP BYs would
    * scan and join three times. `lvl` is `grouping_id()` (0 = detail,
    * 1 = region subtotal, 3 = grand total) — the standard dashboard
    * drill-down contract. Dimensions stay broadcast; revenue is
    * per-row-rounded integer cents so subtotal and detail rows agree
    * exactly on any engine. */
  def revenueRollup(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir).select("o_custkey", "o_totalprice")
    val cust = Tables.customer(spark, sfDir).select("c_custkey", "c_nationkey")
    val nation = Tables.nation(spark, sfDir)
      .select("n_nationkey", "n_regionkey", "n_name")
    val region = Tables.region(spark, sfDir).select("r_regionkey", "r_name")
    orders
      .join(cust, orders("o_custkey") === cust("c_custkey"))
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(grouping_id().cast("long").as("lvl"),
        count(lit(1)).as("n_orders"),
        (sumCents(col("o_totalprice")) / 100.0).as("revenue"))
  }

  /** TPC-H Q4-shaped EXISTS: orders with at least one returned line,
    * counted by priority. The subquery is a LEFT SEMI join — Spark's
    * no-materialization EXISTS: the probe side carries only
    * `l_orderkey` (the returnflag filter is pushed into the lineitem
    * scan first), the semi join dedups qualifying orders for free (no
    * DISTINCT pass), and at 100 TB both sides shuffle once on
    * orderkey while only a 5-row count survives. */
  def returnPriorityCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val returned = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey")
    Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderpriority")
      .join(returned, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
  }

  /** TPC-H Q6-shaped forecast revenue: a pure scan-and-aggregate —
    * every predicate (date range, discount band, quantity cap) is
    * scan-pushable, so at 100 TB this is one pass over three pruned
    * columns with a map-side partial sum and a 1-row exchange. The
    * discount band compares on per-row-rounded integer basis points
    * so the float boundary (0.05/0.07 are not exact doubles) resolves
    * identically on any engine. */
  def discountRevenue(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("date") &&
        col("l_shipdate") < lit("1996-01-01").cast("date") &&
        units(col("l_discount"), 4).between(500L, 700L) &&
        col("l_quantity") < 24)
      .agg((sumCents(col("l_extendedprice") * col("l_discount"), 4) / 10000.0)
        .as("revenue"))

  /** TPC-H Q13-shaped customer order distribution: how many customers
    * placed exactly k orders, INCLUDING k=0 — the left-outer-join
    * counterexample to "just count the fact table". The outer join and
    * the per-customer count group on the same key, so Catalyst reuses
    * one custkey exchange for both (no second fact-scale shuffle); the
    * distribution rollup then groups ≤|distinct k| rows. `count` over
    * the right side's key skips the nulls an unmatched customer
    * produces, yielding the 0 bucket without a special case. */
  def customerOrderDistribution(spark: SparkSession, sfDir: String): DataFrame =
    customerOrderDistributionOf(
      Tables.customer(spark, sfDir).select("c_custkey"),
      Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey"))

  /** Frame-taking core of [[customerOrderDistribution]] (testable with
    * a synthetic zero-order customer, which the driver data lacks). */
  def customerOrderDistributionOf(cust: DataFrame, ord: DataFrame): DataFrame =
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q18-shaped large-volume orders: orders whose total quantity
    * exceeds `minQty`, with their customer. The HAVING filter runs on
    * the lineitem rollup BEFORE any join — at 100 TB the aggregate
    * reduces the fact table to |orders| rows and the threshold cuts
    * that to a sliver, so the orders/customer joins see only
    * survivors. Quantity sums in per-row-rounded integer centi-units;
    * the threshold compares integers so the cut is engine-exact. */
  def largeQuantityOrders(spark: SparkSession, sfDir: String,
                          minQty: Long = 200L): DataFrame = {
    val bigOrders = Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey")
      .agg(sumCents(col("l_quantity")).as("qty_c"))
      .filter(col("qty_c") > minQty * 100)
    val ord = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
    bigOrders
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        (col("qty_c") / 100.0).as("total_qty"))
  }

  /** TPC-H Q21-shaped "sole culprit" suppliers: suppliers who were the
    * ONLY supplier with a returned line in a multi-supplier order —
    * the double EXISTS / NOT-EXISTS join shape (others contributed,
    * nobody else returned), adapted to this schema's `l_returnflag`
    * (no receipt/commit dates in the driver data). Rewritten as
    * aggregation instead of correlated subqueries: one (orderkey,
    * suppkey) rollup marks who returned; an orderkey rollup of THAT
    * (already |orders|-sized) finds qualifying orders; the culprit
    * join back is slim-on-slim. The fact table shuffles once; both
    * EXISTS branches come from the same pass. Top-k by count with
    * suppkey tiebreak keeps the output engine-deterministic. */
  def soleReturnSuppliers(spark: SparkSession, sfDir: String,
                          k: Int = 20): DataFrame = {
    val perSupp = Tables.lineitem(spark, sfDir)
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("ret"))
    val qualifying = perSupp
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"), sum(col("ret")).as("n_ret"))
      .filter(col("n_supp") > 1 && col("n_ret") === 1)
      .select("l_orderkey")
    val sup = Tables.supplier(spark, sfDir).select("s_suppkey", "s_name")
    perSupp.filter(col("ret") === 1)
      .join(qualifying, Seq("l_orderkey"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("s_suppkey"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(k)
  }

  /** Repeat-purchase latency: the gap in days between each customer's
    * consecutive orders (lag window over custkey), rolled into one
    * grand report — the retention-adjacent "how often do they come
    * back" metric. The window partitions on custkey (one fact-scale
    * shuffle, no global sort); ties on the same date break by orderkey
    * so the lag sequence is engine-deterministic, and because
    * same-date ties produce gap 0 regardless of intra-tie order, the
    * day-gap values are stable under any tiebreak. Mean as integer
    * milli-days (exact division on longs). */
  def repeatPurchaseLatency(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = Tables.orders(spark, sfDir)
      .select("o_custkey", "o_orderkey", "o_orderdate")
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev_date").isNotNull)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), col("prev_date")).cast("long").as("gap_days"))
    gaps.agg(
      count(lit(1)).as("n_gaps"),
      countDistinct(col("o_custkey")).as("n_repeat_customers"),
      min(col("gap_days")).as("min_gap_days"),
      max(col("gap_days")).as("max_gap_days"),
      sum(col("gap_days")).as("total_gap_days"))
      .select(col("n_gaps"), col("n_repeat_customers"),
        col("min_gap_days"), col("max_gap_days"),
        expr("total_gap_days * 1000L div n_gaps").as("mean_gap_milli_days"))
  }

  /** TPC-H Q8-shaped national market share: of the revenue a region's
    * customers spent on one part type, what share did a given
    * supplier nation capture, per year — the widest join workout in
    * the suite (lineitem ⋈ orders ⋈ customer ⋈ part ⋈ supplier with
    * nation in two roles and region). Dimension sides (filtered part,
    * nation⋈region, nation) all broadcast; the big chain shuffles
    * lineitem⋈orders on orderkey and the customer join on custkey —
    * exactly the two fact-scale exchanges the join graph requires at
    * any SF. Share as exact integer permille of per-row-rounded
    * revenue units: numerator and denominator aggregate in ONE pass
    * via a conditional sum, not two query trees. */
  def marketShare(spark: SparkSession, sfDir: String,
                  region: String = "ASIA", nation: String = "NATION_9",
                  ptype: String = "STANDARD"): DataFrame = {
    val nr = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir)
          .filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nkey"))
    val cust = Tables.customer(spark, sfDir)
      .join(broadcast(nr), col("c_nationkey") === col("c_nkey"))
      .select("c_custkey")
    val ord = Tables.orders(spark, sfDir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
        col("o_orderdate") < lit("1997-01-01").cast("date"))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    val prt = Tables.part(spark, sfDir)
      .filter(col("p_type") === ptype).select("p_partkey")
    val sup = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
          .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val rev = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
      .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .withColumn("rev_u",
        units(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4))
    rev.groupBy("o_year")
      .agg(sum(when(col("supp_nation") === nation, col("rev_u"))
          .otherwise(0L)).as("nation_u"),
        sum(col("rev_u")).as("total_u"))
      .select(col("o_year"),
        (col("nation_u") / 10000.0).as("nation_revenue"),
        (col("total_u") / 10000.0).as("total_revenue"),
        expr("(1000L * nation_u) div total_u").as("share_pm"))
  }

  /** TPC-H Q14-shaped promo revenue share per ship month: one
    * broadcast part join over the pushed-projection lineitem scan,
    * numerator and denominator in one conditional-sum pass, exact
    * integer permille. */
  def promoShare(spark: SparkSession, sfDir: String): DataFrame = {
    val prt = Tables.part(spark, sfDir).select("p_partkey", "p_type")
    Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
      .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
      .withColumn("rev_u",
        units(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(sum(when(col("p_type") === "PROMO", col("rev_u")).otherwise(0L))
          .as("promo_u"),
        sum(col("rev_u")).as("total_u"))
      .select(col("ship_month"),
        (col("promo_u") / 10000.0).as("promo_revenue"),
        (col("total_u") / 10000.0).as("total_revenue"),
        expr("(1000L * promo_u) div total_u").as("promo_pm"))
  }

  /** TPC-H Q19-shaped disjunctive filter join: revenue from three
    * (brand, quantity-band) OR-arms — the DNF-predicate workout.
    * Spark splits the disjunction: the quantity bound common to all
    * arms (`l_quantity <= 36`) pushes into the lineitem SCAN, the
    * brand set into the part scan (a broadcast at any SF), and only
    * the residual per-arm conjunctions evaluate post-join. Quantity
    * compares on per-row-rounded integer centi-units so the band
    * edges are engine-exact. */
  def brandBandRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val arms = Seq(("Brand#1", 1L, 11L), ("Brand#2", 10L, 20L),
      ("Brand#3", 20L, 36L))
    val prt = Tables.part(spark, sfDir)
      .filter(col("p_brand").isInCollection(arms.map(_._1)))
      .select("p_partkey", "p_brand")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
        units(col("l_quantity"), 2).as("qty_c"),
        col("l_extendedprice"), col("l_discount"))
      .filter(col("qty_c") <= arms.map(_._3).max * 100)
    val armPred = arms.map { case (b, lo, hi) =>
      col("p_brand") === b &&
        col("qty_c") >= lo * 100 && col("qty_c") <= hi * 100
    }.reduce(_ || _)
    li.join(broadcast(prt), col("l_partkey") === col("p_partkey"))
      .filter(armPred)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
        (sumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          / 10000.0).as("revenue"))
  }

  /** TPC-H Q17-shaped small-quantity revenue: lineitems ordering less
    * than 20% of their part's average quantity — the correlated
    * scalar subquery decorrelated into a per-part aggregate joined
    * back (the rewrite every engine does; here it's explicit and the
    * threshold is EXACT: `qty < avg/5  ⟺  5·qty_c·cnt < sum_c`, a
    * cross-multiplication on integer centi-units, so no division ever
    * runs and engines cannot disagree on the boundary). The brand
    * filter broadcasts; lineitem shuffles once on partkey and the
    * per-part aggregate reuses that exchange for the join back. */
  def smallQuantityRevenue(spark: SparkSession, sfDir: String,
                           brand: String = "Brand#23"): DataFrame = {
    val prt = Tables.part(spark, sfDir)
      .filter(col("p_brand") === brand).select("p_partkey")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"),
        units(col("l_quantity"), 2).as("qty_c"),
        col("l_extendedprice"))
      .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
    val perPart = li.groupBy("l_partkey")
      .agg(sum("qty_c").as("sum_c"), count(lit(1)).as("cnt"))
    li.join(perPart, "l_partkey")
      .filter(col("qty_c") * 5L * col("cnt") < col("sum_c"))
      .agg(count(lit(1)).as("n_lines"),
        (sumCents(col("l_extendedprice")) / 100.0 / 7.0).as("avg_yearly"))
  }

  /** ANALYZE-style column statistics for lineitem — the numbers a
    * cost-based optimizer (and a human debugging one) feeds on:
    * per column, row count, null count, EXACT distinct count, and
    * min/max rendered as strings so one long-form schema covers
    * every type. All four columns profile in ONE logical pass:
    * Spark plans the multi-column exact count-distinct as a single
    * Expand (one row per (input row, distinct-group)) feeding one
    * aggregate — the fact table is scanned once, not once per
    * column. The wide result row then unpivots via `stack`, a
    * zero-shuffle Expand on one row. Renders are engine-proof:
    * doubles as integer CENTS (float-to-string formatting is the one
    * place engines legitimately differ; min/max commute with the
    * monotonic rounding), dates through an explicit UTC format.
    *
    * The ndv aggregate runs SEPARATELY from the plain profile and the
    * two 1-row frames join: a multi-column exact count-distinct plans
    * an Expand (one row copy per distinct group), and mixing plain
    * aggregates into that aggregate drags every min/max/null count
    * through the 5× row stream too — measured 2.3× slower than two
    * clean passes at sf0.1. At 100 TB the same trade holds as long as
    * the profile columns are a sliver of the scan; if IO ever
    * dominates, the ndv side downgrades to HLL sketches in the plain
    * pass (the [[graft.ops.Windows.hllWeeklyUsers]] discipline). */
  def columnStats(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_quantity", "l_extendedprice", "l_shipdate", "l_returnflag")
    def stats(c: String, render: Column => Column) = Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
      render(min(col(c))).as(s"${c}_min"),
      render(max(col(c))).as(s"${c}_max"))
    val cents = (x: Column) => units(x, 2).cast("string")
    val str = (x: Column) => x.cast("string")
    val date = (x: Column) => date_format(x, "yyyy-MM-dd")
    val ndv = li.agg(
      countDistinct(col("l_quantity")).as("l_quantity_ndv"),
      countDistinct(col("l_extendedprice")).as("l_extendedprice_ndv"),
      countDistinct(col("l_shipdate")).as("l_shipdate_ndv"),
      countDistinct(col("l_returnflag")).as("l_returnflag_ndv"))
    val wide = li.agg(count(lit(1)).as("n_rows"),
      (stats("l_quantity", cents) ++ stats("l_extendedprice", cents) ++
        stats("l_shipdate", date) ++ stats("l_returnflag", str)): _*)
      .join(broadcast(ndv))
    wide.select(col("n_rows"), expr(
      """stack(4,
        |  'l_quantity', l_quantity_nulls, l_quantity_ndv,
        |    l_quantity_min, l_quantity_max,
        |  'l_extendedprice', l_extendedprice_nulls, l_extendedprice_ndv,
        |    l_extendedprice_min, l_extendedprice_max,
        |  'l_shipdate', l_shipdate_nulls, l_shipdate_ndv,
        |    l_shipdate_min, l_shipdate_max,
        |  'l_returnflag', l_returnflag_nulls, l_returnflag_ndv,
        |    l_returnflag_min, l_returnflag_max)
        |  AS (column_name, n_nulls, ndv, min_v, max_v)""".stripMargin))
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        col("ndv"), col("min_v"), col("max_v"))
  }

  /** Market-basket association mining over order lines: part pairs
    * bought together, scored by support / confidence / lift in exact
    * integer permille (no float reaches the output). The classic
    * co-occurrence shape done the scale-correct way:
    *  - pairs generate per order AFTER a (orderkey, partkey) distinct,
    *    so the blowup is bounded by lines-per-order choose 2 (TPC-H
    *    baskets are ≤~17 lines; a pathological basket would need the
    *    same cap the pair join enforces structurally — the quadratic
    *    is per-basket, never corpus-wide);
    *  - item and pair counts shuffle slim key/count rows only;
    *  - the order total rides in as a broadcast 1-row frame, not a
    *    driver-side collect;
    *  - `lift > 1000` (milli-units) reads as positive association.
    * Top-k by lift with (part_a, part_b) tiebreak keeps the cut
    * engine-deterministic. */
  def basketPairs(spark: SparkSession, sfDir: String,
                  minSupport: Long = 2L, topK: Int = 100): DataFrame = {
    // four consumers (the order total, the per-item counts and both
    // self-join sides) re-derive the fact-table distinct without a
    // persist — the join sides share one exchange via ReuseExchange,
    // but the differently-keyed aggregates cannot. Slim 2-col rows.
    val items = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Caches.releaseAfterNextAction(items)
    val tot = items.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    val itemCnt = items.groupBy("l_partkey")
      .agg(count(lit(1)).as("item_cnt"))
    val pairs = items.as("a")
      .join(items.as("b"), Seq("l_orderkey"))
      .filter(col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part_a"),
        col("b.l_partkey").as("part_b"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minSupport)
    pairs
      .join(itemCnt.select(col("l_partkey").as("part_a"),
        col("item_cnt").as("cnt_a")), "part_a")
      .join(itemCnt.select(col("l_partkey").as("part_b"),
        col("item_cnt").as("cnt_b")), "part_b")
      .join(broadcast(tot))
      .select(col("part_a"), col("part_b"), col("pair_cnt"),
        expr("1000L * pair_cnt div n_orders").as("support_pm"),
        expr("1000L * pair_cnt div cnt_a").as("conf_pm"),
        expr("(1000L * pair_cnt * n_orders) div (cnt_a * cnt_b)")
          .as("lift_milli"))
      .orderBy(col("lift_milli").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }

  /** Region-level customer rollup: customer ⋈ broadcast(nation ⋈
    * broadcast(region)) — the dimensions are tiny at any scale, so the
    * fact table never shuffles for the join; only the 5-group aggregate
    * shuffles. */
  def customersByRegion(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select("c_nationkey", "c_acctbal")
    val nation = Tables.nation(spark, sfDir)
    val region = Tables.region(spark, sfDir)
    cust
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("n_customers"),
        (sumCents(col("c_acctbal")) / 100.0).as("sum_acctbal"))
  }

  // ---------------------------------------------------------------------
  // Correlated-subquery / semi-join TPC-H shapes (q2/q11/q15/q16/q20/q22).
  // The testdata has no partsupp table, so a partsupp analog is derived
  // from lineitem where needed: per (partkey, suppkey), the minimum
  // observed unit price in integer MILLICENTS —
  // `(round(l_extendedprice*100) * 1000) div l_quantity` — exact integer
  // arithmetic both engines share. The point of these six is the PLAN
  // shape: correlated scalar subqueries decorrelated into
  // aggregate+join-back, `IN`/`NOT IN` as semi/anti hash joins (never a
  // BroadcastNestedLoop on the fact side), and 1-row global aggregates
  // joined back as broadcasts.
  // ---------------------------------------------------------------------

  /** Unit cost in millicents — exact integer division (quantity is an
    * integer-valued double 1..50). */
  private def unitMillicents: Column =
    call_function("div", units(col("l_extendedprice"), 2) * 1000L,
      col("l_quantity").cast("long"))

  /** The lineitem-derived partsupp analog: min observed unit cost per
    * (part, supplier), optionally restricted to suppliers of one
    * region. Slim (partkey, suppkey, cost) rows after one shuffle. */
  private def partSuppCosts(spark: SparkSession, sfDir: String,
                            region: Option[String]): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"), unitMillicents.as("ucost"))
    val scoped = region.fold(li) { r =>
      val regionSupp = Tables.supplier(spark, sfDir)
        .join(broadcast(Tables.nation(spark, sfDir)),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(spark, sfDir)
          .filter(col("r_name") === r)),
          col("n_regionkey") === col("r_regionkey"))
        .select("s_suppkey")
      li.join(broadcast(regionSupp), col("l_suppkey") === col("s_suppkey"),
        "left_semi")
    }
    scoped.groupBy("l_partkey", "l_suppkey")
      .agg(min("ucost").as("cost_mc"))
  }

  /** TPC-H Q2-shaped minimum-cost supplier: for each qualifying part,
    * the region's supplier(s) offering the minimum unit cost. The
    * correlated scalar subquery (`cost = (SELECT min(cost) ... WHERE
    * same partkey)`) is decorrelated the way Catalyst rewrites it: a
    * per-part min aggregate joined back on partkey — and since
    * [[partSuppCosts]] already shuffled on (partkey, suppkey), the min
    * and the join-back reuse that exchange (no second fact shuffle).
    * Part filter and supplier-name dims broadcast. Ties (two suppliers
    * at the min cost) are kept, exactly as Q2 does. */
  def minCostSupplier(spark: SparkSession, sfDir: String,
                      region: String = "EUROPE", pType: String = "LARGE",
                      minSize: Int = 40): DataFrame = {
    val ps = partSuppCosts(spark, sfDir, Some(region))
    val minc = ps.groupBy(col("l_partkey").as("mk"))
      .agg(min("cost_mc").as("min_cost_mc"))
    val parts = Tables.part(spark, sfDir)
      .filter(col("p_type") === pType && col("p_size") >= minSize)
      .select("p_partkey", "p_name")
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    ps.join(minc, ps("l_partkey") === col("mk") &&
        ps("cost_mc") === col("min_cost_mc"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("n_name"), col("p_partkey"), col("p_name"),
        col("s_acctbal"), col("cost_mc"))
  }

  /** TPC-H Q11-shaped important parts: parts whose inventory value
    * through one nation's suppliers exceeds a fraction of the nation's
    * total. The scalar subquery (global total) is a 1-row aggregate
    * REUSING the per-part frame, joined back as a broadcast; the
    * threshold compares integer cents cross-multiplied
    * (`value_c * frac_den > total_c`), so no division runs. */
  def importantParts(spark: SparkSession, sfDir: String,
                     nation: String = "NATION_7",
                     fracDen: Long = 1000L): DataFrame = {
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
        .filter(col("n_name") === nation)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val perPart = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"),
        units(col("l_extendedprice"), 2).as("ext_c"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"),
        "left_semi")
      .groupBy("l_partkey")
      .agg(sum("ext_c").as("value_c"))
    val total = perPart.agg(sum("value_c").as("total_c"))
    perPart.join(broadcast(total))
      .filter(col("value_c") * fracDen > col("total_c"))
      .select(col("l_partkey").as("partkey"), col("value_c"))
  }

  /** TPC-H Q15-shaped top supplier: supplier(s) with the maximum
    * revenue over one quarter. The `= (SELECT max(...))` scalar
    * subquery becomes a 1-row max over the same per-supplier aggregate,
    * broadcast back — the revenue frame is computed once and feeds both
    * sides (Spark reuses the exchange). Ties all surface, as Q15
    * specifies. */
  def topSupplier(spark: SparkSession, sfDir: String,
                  from: String = "1996-01-01",
                  until: String = "1996-04-01"): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(from).cast("date") &&
        col("l_shipdate") < lit(until).cast("date"))
      .groupBy("l_suppkey")
      .agg(sumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
        .as("total_rev_c"))
    val maxr = rev.agg(max("total_rev_c").as("max_rev_c"))
    rev.join(broadcast(maxr))
      .filter(col("total_rev_c") === col("max_rev_c"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev_c"))
  }

  /** TPC-H Q16-shaped supplier count: how many distinct suppliers can
    * deliver each (brand, type, size) combination, excluding excluded
    * suppliers (negative account balance stands in for Q16's
    * 'Customer Complaints' comment scan — the schema carries no
    * comments). `NOT IN (SELECT s_suppkey ...)` plans as a broadcast
    * LEFT ANTI hash join on the slim distinct link table; the part
    * filter is a broadcast inner join. One count-distinct shuffle
    * keyed on the 3-column group. */
  def supplierCount(spark: SparkSession, sfDir: String,
                    excludeBrand: String = "Brand#23",
                    excludeType: String = "PROMO",
                    sizes: Seq[Int] = Seq(1, 4, 9, 14, 19, 23, 36, 45))
      : DataFrame = {
    val parts = Tables.part(spark, sfDir)
      .filter(col("p_brand") =!= excludeBrand &&
        col("p_type") =!= excludeType && col("p_size").isin(sizes: _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val excluded = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    Tables.lineitem(spark, sfDir)
      .select("l_partkey", "l_suppkey").distinct()
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))
  }

  /** TPC-H Q20-shaped excess-stock suppliers: suppliers of one nation
    * who, for some part matching the name prefix, shipped less than
    * half their historical volume of that part during one year — the
    * availqty test recast on lineitem history (no partsupp table). The
    * nested `IN` chain plans exactly as Q20 wants it:
    * part-filter semi-join INSIDE the per-(part,supplier) aggregate,
    * whose qualifying suppkeys semi-join into supplier. Both volume
    * aggregates share the (partkey, suppkey) exchange; all joins are
    * hash joins on keys. */
  def excessSuppliers(spark: SparkSession, sfDir: String,
                      namePrefix: String = "red",
                      nation: String = "NATION_3",
                      shipYear: Int = 1995): DataFrame = {
    val parts = Tables.part(spark, sfDir)
      .filter(col("p_name").startsWith(namePrefix)).select("p_partkey")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_quantity").cast("long").as("qty"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"),
        "left_semi")
    val perPS = li.groupBy("l_partkey", "l_suppkey")
      .agg(sum("qty").as("hist_qty"),
        sum(when(year(col("l_shipdate")) === lit(shipYear), col("qty"))
          .otherwise(0L)).as("year_qty"))
    val qualifying = perPS
      .filter(col("year_qty") > 0 && col("year_qty") * 2L < col("hist_qty"))
      .select("l_suppkey").distinct()
    Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
        .filter(col("n_name") === nation)),
        col("s_nationkey") === col("n_nationkey"))
      .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_name", "s_acctbal")
  }

  /** TPC-H Q9-shaped product-type profit: revenue minus supply cost
    * per (nation, order year) for parts matching the name prefix. The
    * supply-cost side is the [[partSuppCosts]] analog (min unit cost
    * in millicents) — joined back on the COMPOSITE (partkey, suppkey)
    * key, which is the shape that makes Q9 the join-order workout:
    * lineitem⋈orders shuffles on orderkey, then the composite-key
    * join back to the cost table, with part/supplier/nation dims all
    * broadcast. Profit is exact integer millicents end to end:
    * `round(ext·(1−disc)·10⁵) − cost_mc·qty`. */
  def productProfit(spark: SparkSession, sfDir: String,
                    namePrefix: String = "red"): DataFrame = {
    val parts = Tables.part(spark, sfDir)
      .filter(col("p_name").startsWith(namePrefix)).select("p_partkey")
    val ps = partSuppCosts(spark, sfDir, None)
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity").cast("long").as("qty"),
        units(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 5)
          .as("rev_mc"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"),
        "left_semi")
    li.join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(ps, Seq("l_partkey", "l_suppkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(sum(col("rev_mc") - col("cost_mc") * col("qty"))
        .as("profit_mc"))
  }

  /** TPC-H Q12-shaped priority-by-line-status counts: for lineitems
    * shipped inside one year, how many belong to critical-priority
    * orders vs not, per line status. One broadcast-ready join keyed
    * on orderkey (at scale: both sides shuffle on orderkey) and one
    * tiny conditional-sum aggregate; the date filter pushes into the
    * lineitem scan. */
  def shipPriorityCounts(spark: SparkSession, sfDir: String,
                         from: String = "1996-01-01",
                         until: String = "1997-01-01"): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit(from).cast("date") &&
        col("l_shipdate") < lit(until).cast("date"))
      .select("l_orderkey", "l_linestatus")
    val ord = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_orderpriority")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
  }

  /** Full CUBE over (returnflag, linestatus): detail cells, both
    * 1-dim margins, and the grand total in ONE pass — `cube` plans a
    * single Expand (4 grouping projections) into one hash aggregate,
    * where the naive union-of-four would scan lineitem four times.
    * `lvl` is the `grouping_id()` bitmask (0 = detail … 3 = grand
    * total); NULL group values are the margin markers, exactly as the
    * SQL standard renders them. */
  def revenueCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("lvl"),
        count(lit(1)).as("n_lines"),
        sumCents(col("l_quantity")).as("qty_c"),
        sumCents(col("l_extendedprice")).as("price_c"))
      .select("l_returnflag", "l_linestatus", "lvl", "n_lines",
        "qty_c", "price_c")

  /** MERGE-style CDC batch apply — the warehouse upsert shape Spark
    * OSS has no native statement for (Delta/Iceberg add MERGE INTO on
    * top of exactly this plan): one full-outer join of the target with
    * a changes relation carrying an op column, resolved per row —
    * matched `U` takes the updated values, matched `D` drops the row,
    * unmatched `I` inserts, everything else passes through. ONE
    * shuffle each side on the merge key; no per-op passes. At 100 TB
    * the same plan runs partition-pruned against the target's
    * key-bucketed layout ([[graft.sources.Bucketed]]).
    *
    * The demo changes batch derives deterministically from the target
    * (every 10th customer rebalanced, every 10th+1 deleted, every
    * 10th+2 cloned above the key space as an insert), so the oracle
    * replays the whole merge. Balances stay integer cents. */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"),
        units(col("c_acctbal"), 2).as("bal_c"))
    val changes = t
      .filter(pmod(col("c_custkey"), lit(10)) <= 2)
      .select(
        when(pmod(col("c_custkey"), lit(10)) === 2,
          col("c_custkey") + 1000000L).otherwise(col("c_custkey"))
          .as("k"),
        when(pmod(col("c_custkey"), lit(10)) === 0, lit("U"))
          .when(pmod(col("c_custkey"), lit(10)) === 1, lit("D"))
          .otherwise(lit("I")).as("op"),
        col("c_name").as("u_name"), col("c_nationkey").as("u_nationkey"),
        when(pmod(col("c_custkey"), lit(10)) === 2, lit("NEW"))
          .otherwise(col("c_mktsegment")).as("u_mktsegment"),
        (col("bal_c") + 10000L).as("u_bal_c"))
    t.join(changes, t("c_custkey") === changes("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("k"), col("c_custkey")).as("c_custkey"),
        coalesce(col("u_name"), col("c_name")).as("c_name"),
        when(col("op") === "I", col("u_nationkey"))
          .otherwise(col("c_nationkey")).as("c_nationkey"),
        when(col("op").isin("I", "U"), col("u_mktsegment"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        when(col("op").isin("I", "U"), col("u_bal_c"))
          .otherwise(col("bal_c")).as("bal_c"))
  }

  /** Single-pass data-quality expectation suite over lineitem — the
    * dbt-test / Deequ shape: every declared expectation evaluates as a
    * conditional sum inside ONE aggregate over ONE scan (plus the one
    * count-distinct for the uniqueness check, which shares the scan
    * via the same Expand trick as [[columnStats]]), then unpivots to
    * the long (check, n_violations, pass) report a CI gate consumes.
    * A 100 TB nightly cannot afford a scan per rule — rule count must
    * be free. The uniqueness check genuinely fires on this corpus
    * ((orderkey, linenumber) carries real duplicates), so the report
    * proves it counts, not just passes. */
  def expectationsReport(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    def viol(name: String, bad: Column): Column =
      sum(when(bad, 1L).otherwise(0L)).as(name)
    val wide = li.agg(
      count(lit(1)).as("n_rows"),
      viol("null_keys", col("l_orderkey").isNull ||
        col("l_partkey").isNull || col("l_suppkey").isNull),
      viol("qty_range", col("l_quantity") < 1 || col("l_quantity") > 50),
      viol("discount_range",
        col("l_discount") < 0 || col("l_discount") > 0.1),
      viol("flag_domain", !col("l_returnflag").isin("A", "N", "R")),
      viol("status_domain", !col("l_linestatus").isin("O", "F")),
      viol("date_range",
        col("l_shipdate") < lit("1995-01-01").cast("date") ||
          col("l_shipdate") >= lit("2002-01-01").cast("date")),
      // distinct over the STRUCT, not the column pair: countDistinct(a, b)
      // skips rows where either key is NULL, while the oracle's
      // count(DISTINCT (a, b)) counts row-values containing NULLs — the
      // struct form matches that exactly, so the two engines agree even
      // when the adjacent null_keys expectation fires
      (count(lit(1)) -
        countDistinct(struct(col("l_orderkey"), col("l_linenumber"))))
        .as("dup_line_keys"))
    wide.select(expr(
      """stack(7,
        |  'null_keys', null_keys,
        |  'qty_range', qty_range,
        |  'discount_range', discount_range,
        |  'flag_domain', flag_domain,
        |  'status_domain', status_domain,
        |  'date_range', date_range,
        |  'unique_line_keys', dup_line_keys)
        |  AS (check_name, n_violations)""".stripMargin),
      col("n_rows"))
      .select(col("check_name"), col("n_rows"), col("n_violations"),
        when(col("n_violations") === 0L, 1L).otherwise(0L).as("pass"))
  }

  /** Equi-width price histogram — the statistic a cost-based optimizer
    * feeds on (and the one-pass shape a profiler wants): 32 buckets
    * between the OBSERVED min/max (1-row broadcast, same discipline as
    * [[graft.ops.Windows.zOrderLayout]]'s quantization), integer cents
    * end to end so bucket edges are engine-exact, count + sum + bounds
    * per bucket. Empty buckets are absent (sparse form — the consumer
    * densifies if it wants zeros). */
  def priceHistogram(spark: SparkSession, sfDir: String,
                     buckets: Int = 32): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(units(col("l_extendedprice"), 2).as("c"))
    val rng = li.agg(min("c").as("c_min"), max("c").as("c_max"))
    li.join(broadcast(rng))
      .withColumn("bucket",
        expr(s"((c - c_min) * ${buckets}L) div (c_max - c_min + 1L)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum("c").as("sum_c"),
        min("c").as("lo_c"), max("c").as("hi_c"))
  }

  /** Ratio-to-report window analytics: each nation's supplier revenue
    * as an exact permille share of its REGION's total, with the
    * within-region rank — the unbounded-frame WindowExec shape
    * (sum/rank over partition) that reports are made of. One fact
    * rollup to |nations| rows; the windows run over that tiny frame,
    * never the fact table. */
  def nationRevenueShare(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)),
        col("n_regionkey") === col("r_regionkey"))
      .select("s_suppkey", "n_name", "r_name")
    val rev = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"),
        units(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("rev_c"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("r_name", "n_name")
      .agg(sum("rev_c").as("rev_c"))
    val byRegion = Window.partitionBy("r_name")
    rev.select(col("r_name"), col("n_name"), col("rev_c"),
      expr("(1000 * rev_c) div (sum(rev_c) over (partition by r_name))")
        .as("share_pm"),
      rank().over(byRegion.orderBy(col("rev_c").desc, col("n_name")))
        .cast("long").as("region_rank"))
  }

  /** Top revenue parts per nation with TIE semantics: dense_rank keeps
    * every part on a tied revenue (row_number's arbitrary cut is wrong
    * when the report promises "the top 3") — the other ranking shape
    * next to [[topRevenueOrders]]'s TakeOrderedAndProject. The window
    * runs over the (nation, part) rollup, not the fact table. */
  def topPartsPerNation(spark: SparkSession, sfDir: String,
                        topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    val rev = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), col("l_partkey"),
        units(col("l_extendedprice"), 2).as("rev_c"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name", "l_partkey")
      .agg(sum("rev_c").as("rev_c"))
    rev.withColumn("rnk", dense_rank().over(
        Window.partitionBy("n_name").orderBy(col("rev_c").desc))
        .cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("n_name"), col("l_partkey").as("partkey"),
        col("rev_c"), col("rnk"))
  }

  /** [[topPartsPerNation]]'s row_number twin through the CUSTOM
    * physical operator ([[graft.plans.TopKPerKey]]): same rollup, then
    * the heap-per-key exec instead of a window sort — the plan the
    * scaladoc there promises (one clustering exchange, zero SortExec),
    * with the oracle replaying row_number semantics in SQL. */
  def topPartsPerNationNative(spark: SparkSession, sfDir: String,
                              topK: Int = 3): DataFrame = {
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name")
    val rev = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), col("l_partkey"),
        units(col("l_extendedprice"), 2).as("rev_c"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("n_name", "l_partkey")
      .agg(sum("rev_c").as("rev_c"))
    graft.plans.TopKPerKey.topK(rev, Seq("n_name"), "rev_c", "l_partkey",
        topK)
      .select(col("n_name"), col("l_partkey").as("partkey"),
        col("rev_c"), col("rank"))
  }

  /** Supplier scorecard: the multi-metric vendor report — revenue,
    * line count, return rate in exact permille, distinct parts
    * carried, active span in days — all from ONE lineitem rollup
    * keyed on suppkey (count-distinct rides the same exchange), dims
    * broadcast in afterwards. The shape procurement dashboards read
    * daily; every number integer-exact. */
  def supplierScorecard(spark: SparkSession, sfDir: String): DataFrame = {
    val supp = Tables.supplier(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name")
    Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"), col("l_partkey"), col("l_returnflag"),
        col("l_shipdate"),
        units(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .as("rev_c"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_lines"),
        sum("rev_c").as("rev_c"),
        countDistinct("l_partkey").as("n_parts"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("n_returned"),
        datediff(max(col("l_shipdate")), min(col("l_shipdate")))
          .cast("long").as("active_days"))
      .withColumn("return_pm", expr("(1000 * n_returned) div n_lines"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        col("n_lines"), col("rev_c"), col("n_parts"), col("n_returned"),
        col("return_pm"), col("active_days"))
  }

  /** TPC-H Q22-shaped idle wealthy customers: per market segment (the
    * stand-in for Q22's phone country codes), customers with above-
    * average positive balance and NO orders. Two subquery shapes in
    * one plan: the scalar average is a 1-row aggregate broadcast back
    * with the comparison cross-multiplied on integer cents
    * (`bal_c * n_pos > sum_c`), and `NOT EXISTS (orders)` is a LEFT
    * ANTI join on custkey — at scale both sides hash-partition on
    * custkey; nothing nested-loops. "Idle" means no orders since the
    * cutoff (every customer in the corpus has SOME order, so Q22's
    * plain NOT EXISTS would be vacuously empty; the recency filter
    * pushes into the orders scan and keeps the anti-join load-bearing).
    */
  def idleCustomers(spark: SparkSession, sfDir: String,
                    segments: Seq[String] = Seq("BUILDING", "MACHINERY",
                      "AUTOMOBILE"),
                    cutoff: String = "2000-01-01"): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_mktsegment").isin(segments: _*))
      .select(col("c_custkey"), col("c_mktsegment"),
        units(col("c_acctbal"), 2).as("bal_c"))
    val avgPos = cust.filter(col("bal_c") > 0)
      .agg(sum("bal_c").as("sum_c"), count(lit(1)).as("n_pos"))
    cust.join(broadcast(avgPos))
      .filter(col("bal_c") * col("n_pos") > col("sum_c"))
      .join(Tables.orders(spark, sfDir)
        .filter(col("o_orderdate") >= lit(cutoff).cast("date"))
        .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("numcust"), sum("bal_c").as("totacctbal_c"))
  }

  /** Jaro-Winkler similarity join over part names — the typo-tolerant
    * entity-resolution shape (catalog reconciliation: "small ring" vs
    * "smal ring"). Candidates come from BLOCKING, never a cross join:
    * two names can only pair if they share (brand, first letter) — the
    * standard ER blocking-key trade (recall bounded by the block rule,
    * cost bounded by the largest block: Σ|block|² pairs instead of
    * |part|²; at sf0.1 that is ~0.5 M scored pairs vs 400 M all-pairs).
    * Scoring is the native codegen'd [[graft.functions.JaroWinkler]]
    * expression — a scalar projection on the joined candidates, fully
    * inside whole-stage codegen. Key inequality keeps one orientation
    * per pair; exact duplicates (jw = 1.0) are kept — they ARE the
    * strongest matches, and the exact-dedup operators already quantify
    * them separately. Output rounds to 4dp (scaled-int convention) so
    * the DuckDB `jaro_winkler_similarity` oracle hashes identically.
    */
  def jaroWinklerPairs(spark: SparkSession, sfDir: String,
                       minSim: Double = 0.9): DataFrame = {
    import graft.functions.JaroWinkler.jaroWinklerCol
    val p = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        substring(col("p_name"), 1, 1).as("blk"))
    val a = p.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"),
      col("p_brand").as("p_brand"), col("blk"))
    val b = p.select(col("p_partkey").as("key_b"), col("p_name").as("name_b"),
      col("p_brand").as("p_brand"), col("blk"))
    a.join(b, Seq("p_brand", "blk"))
      .filter(col("key_a") < col("key_b"))
      .withColumn("jw", round(jaroWinklerCol(col("name_a"), col("name_b")), 4))
      .filter(col("jw") >= minSim)
      .select("key_a", "key_b", "name_a", "name_b", "jw")
  }

  /** Entity-resolution CLUSTERS: connected components over the
    * [[jaroWinklerPairs]] similarity graph, each clustered part
    * labeled with its component's min partkey (the canonical entity).
    * This is detect → cluster → canonicalize — the full ER story the
    * similarity join only starts: pairwise ≥0.9 matches are not an
    * entity mapping until transitivity is resolved ("smal ring" ~
    * "small ring" ~ "small rings" must land in ONE cluster even when
    * the endpoints' direct similarity dips under the threshold).
    * Reuses [[graft.llm.Dedup.dedupClusters]]'s alternating
    * large-star/small-star fixpoint verbatim — component labeling is
    * domain-agnostic, and composing the two proves the operator
    * library composes (same O(log) round bound, same slim
    * (u, v)-edge shuffles; the pair graph here is part-sized, orders
    * of magnitude below the doc near-dup graph). */
  def nameClusters(spark: SparkSession, sfDir: String,
                   minSim: Double = 0.9): DataFrame =
    graft.llm.Dedup.dedupClusters(
        jaroWinklerPairs(spark, sfDir, minSim)
          .select(col("key_a").as("doc_a"), col("key_b").as("doc_b")))
      .select(col("doc_id").as("p_partkey"),
        col("canonical_id").as("canonical_key"))

  /** Sorted-neighborhood entity resolution (Hernández & Stolfo 1995,
    * the merge/purge method) — the SORT-based blocking paradigm, the
    * classic complement to [[jaroWinklerPairs]]'s KEY-based blocking:
    * instead of comparing only within equal (brand, first-letter)
    * blocks, sort ALL records by the name and compare each record to
    * its `w-1` successors in sort order. Finds the cross-block matches
    * equality blocking structurally cannot ("Brand#12 smal ring" vs
    * "Brand#13 small ring" share no brand key but sort adjacent), at a
    * candidate cost that is EXACTLY linear: n·(w-1) pairs, no
    * worst-case quadratic block.
    *
    * 100 TB design, piece by piece:
    *   - the global sort rank comes from the engine's two-phase exact
    *     rank (same trick as [[graft.llm.Pipeline.curriculumShards]]):
    *     a 2-char-prefix histogram (≤ a few hundred rows) broadcast as
    *     the cumulative offset + per-prefix `row_number` — never a
    *     single-partition global window. A pathological corpus where
    *     one 2-char prefix dominates refines the bucket key with more
    *     characters; names here distribute across ~60 prefixes.
    *   - the neighborhood join is a BUCKET equi-join, not a range
    *     join: rank bucket `⌊(rank-1)/w⌋`, left side exploded to
    *     (bucket, bucket+1), so every (ra < rb ≤ ra+w-1) pair meets in
    *     exactly one hash-join bucket; the rank-distance filter then
    *     cuts the corner pairs. 2n join rows, shuffle on a dense long.
    *   - scoring is the native codegen'd Jaro-Winkler scalar on the
    *     n·(w-1) candidates only.
    * Output one row per matched pair in rank order (key_a is the
    * earlier name in sort order), with the rank distance — the audit
    * column that shows WHERE in the window matches live (dist 1-2 in
    * practice; a healthy signal the window is not undersized). */
  def sortedNeighborhoodPairs(spark: SparkSession, sfDir: String,
                              w: Int = 8, minSim: Double = 0.9): DataFrame =
    snmPass(
      Tables.part(spark, sfDir).select(col("p_partkey"), col("p_name"),
        col("p_name").as("skey")), w, minSim)

  /** One SNM pass over `(p_partkey, p_name, skey)`: rank by the pass's
    * SORT KEY (two-phase exact rank, tie-broken by key), then the
    * bucketed window join + JW filter. The sort key is a parameter
    * because multi-pass SNM ([[sortedNeighborhoodMultipass]]) is the
    * published recall fix: one pass misses any match whose names
    * diverge in their first characters. */
  private def snmPass(p0: DataFrame, w: Int, minSim: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.JaroWinkler.jaroWinklerCol
    val p = p0.withColumn("bkt", substring(col("skey"), 1, 2))
    val hist = p.groupBy("bkt").agg(count(lit(1)).as("n"))
    val prefix = hist
      .withColumn("better",
        coalesce(sum("n").over(Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bkt", "better")
    val ranked = p
      .withColumn("r", row_number().over(
        Window.partitionBy("bkt").orderBy("skey", "p_partkey")).cast("long"))
      .join(broadcast(prefix), "bkt")
      .select(col("p_partkey"), col("p_name"),
        (col("better") + col("r")).as("rank"))
    val a = ranked.select(col("rank").as("rank_a"),
        col("p_partkey").as("key_a"), col("p_name").as("name_a"),
        expr(s"(rank - 1) div $w").as("nb"))
      .select(col("rank_a"), col("key_a"), col("name_a"),
        explode(array(col("nb"), col("nb") + 1L)).as("nb"))
    val b = ranked.select(col("rank").as("rank_b"),
      col("p_partkey").as("key_b"), col("p_name").as("name_b"),
      expr(s"(rank - 1) div $w").as("nb"))
    a.join(b, Seq("nb"))
      .filter(col("rank_b") - col("rank_a") >= 1 &&
        col("rank_b") - col("rank_a") <= w - 1)
      .withColumn("jw", round(jaroWinklerCol(col("name_a"), col("name_b")), 4))
      .filter(col("jw") >= minSim)
      .select(col("key_a"), col("key_b"), col("name_a"), col("name_b"),
        col("jw"), (col("rank_b") - col("rank_a")).as("dist"))
  }

  /** MULTI-PASS sorted neighborhood (Hernández & Stolfo 1995 §4.2 —
    * "several passes with different keys perform better than one pass
    * with a large window"): the forward pass sorts by the name, the
    * second by the TOKEN-REVERSED name (last word first), an
    * independent ordering under which names that diverge early but
    * agree late become neighbors. Output is the canonicalized
    * (key_a < key_b) union of both passes' matches with per-pass
    * provenance flags — the recall accounting that shows what each
    * ordering contributes (pairs with in_fwd = 0 are EXACTLY the
    * matches single-pass SNM structurally missed). Cost is two
    * independent linear passes — same shuffle shape each, no
    * quadratic anywhere — plus one slim pair-set outer join. */
  def sortedNeighborhoodMultipass(spark: SparkSession, sfDir: String,
                                  w: Int = 8, minSim: Double = 0.9): DataFrame = {
    val base = Tables.part(spark, sfDir).select(col("p_partkey"), col("p_name"))
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("key_a"), col("key_b")).as("key_a"),
        greatest(col("key_a"), col("key_b")).as("key_b"), col("jw"))
      .distinct()
    val fwd = canon(snmPass(base.withColumn("skey", col("p_name")), w, minSim))
      .withColumn("in_fwd", lit(1))
    val rev = canon(snmPass(base.withColumn("skey",
        concat_ws(" ", reverse(split(col("p_name"), " ")))), w, minSim))
      .select(col("key_a"), col("key_b"), lit(1).as("in_rev"))
    fwd.join(rev, Seq("key_a", "key_b"), "full_outer")
      .select(col("key_a"), col("key_b"),
        coalesce(col("in_fwd"), lit(0)).as("in_fwd"),
        coalesce(col("in_rev"), lit(0)).as("in_rev"))
  }

  /** Head-to-head audit of the two blocking paradigms over the SAME
    * match predicate (JW ≥ 0.9 on part names): every matched pair is
    * tagged with whether key-blocking ([[jaroWinklerPairs]]), the
    * sorted neighborhood ([[sortedNeighborhoodPairs]]), or both found
    * it — the recall-accounting a pipeline does before trusting either
    * candidate generator alone. Pairs canonicalize to key_lo < key_hi
    * before the full outer join (SNM orients by sort rank, key
    * blocking by key order). Output ≤ 3 rows; both inputs are already
    * slim pair sets, the audit adds one hash join and a 3-group
    * aggregate. */
  def blockingComparison(spark: SparkSession, sfDir: String,
                         w: Int = 8, minSim: Double = 0.9): DataFrame = {
    val snm = sortedNeighborhoodPairs(spark, sfDir, w, minSim)
      .select(least(col("key_a"), col("key_b")).as("key_lo"),
        greatest(col("key_a"), col("key_b")).as("key_hi"))
      .distinct().withColumn("snm", lit(1))
    val blk = jaroWinklerPairs(spark, sfDir, minSim)
      .select(col("key_a").as("key_lo"), col("key_b").as("key_hi"))
      .distinct().withColumn("blk", lit(1))
    snm.join(blk, Seq("key_lo", "key_hi"), "full_outer")
      .groupBy(coalesce(col("snm"), lit(0)).as("in_sorted_neighborhood"),
        coalesce(col("blk"), lit(0)).as("in_key_blocking"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Count-Min point-frequency QC over part keys: one global sketch
    * (built as a MERGE of per-returnflag partial sketches — the rollup
    * tree is part of the query, not just a spec claim), broadcast as a
    * single 12 KiB row against the exact per-key counts, estimates
    * probed with native `least`/`element_at` arithmetic
    * ([[graft.functions.CountMin.estimate]]). Every row carries the
    * one-sided error invariant the sketch guarantees
    * (`est ≥ cnt`, checked as data by the oracle hash): at 100 TB the
    * exact-count side of this QC is sampled; the sketch side is the
    * production path — KB-sized state per stream/partition regardless
    * of key cardinality. */
  def cmsPartCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.CountMin
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_partkey"))
    // partial sketches per return flag, merged with the exact
    // element-wise union — exercises mergeability on the hot path
    val partials = li.as[(String, Long)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(new CountMin.CmsAgg().toColumn.name("sk"))
      .toDF("flag", "sk")
    val sketch = partials.agg(
      aggregate(collect_list(col("sk")), CountMin.zeroCol,
        CountMin.merge2).as("cms"))
    val exact = li.groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
    exact.join(broadcast(sketch))
      .select(col("l_partkey"),
        col("cnt"),
        CountMin.estimate(col("cms"), col("l_partkey")).as("est"))
      .withColumn("overcount", col("est") - col("cnt"))
  }
}
