package graft.operators

import graft.{Materialize, QueryDef, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-hop star-join analytics — the TPC-H Q7/Q8/Q9 family plus the
  * regression-aggregate battery. These are the deep join pipelines a
  * warehouse engine must plan well: 5–6 way joins where everything but
  * the two fact tables is a broadcast dimension.
  *
  * Scale notes (100 TB design):
  *  - one fact-fact join shuffle (lineitem⋈orders) plus the final
  *    aggregation exchange — every dimension hop (supplier, customer,
  *    part, nation, region) is an explicit broadcast, so no dimension
  *    adds an exchange (pinned by PlanAuditSpec for q88/q89/q90);
  *  - selective dimension filters (nation pair, region, part type) are
  *    applied INSIDE the broadcast build side, so the fact scan is
  *    semi-reduced before it ever shuffles;
  *  - aggregates are declarative groupBy → partial map-side combine.
  */
object TradeAnalytics extends QueryModule {

  private val tradeNations = Seq("NATION_3", "NATION_8")

  /** q88: TPC-H Q7 shape — cross-nation trade flow. Revenue shipped
    * between the two nations (both directions), by year. The nation
    * pair filter lands in both broadcast builds, cutting the fact side
    * ~12× (2/25 nations) before the single fact-fact shuffle.
    */
  def nationTradeFlow(spark: SparkSession, dir: String): DataFrame = {
    val suppNat = Tables.nation(spark, dir)
      .filter(col("n_name").isin(tradeNations: _*))
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val custNat = Tables.nation(spark, dir)
      .filter(col("n_name").isin(tradeNations: _*))
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(suppNat), col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(custNat), col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"), col("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  private val nationTradeFlowSql =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       |  year(l_shipdate) AS l_year,
       |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       |  count(*) AS n_items
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation sn ON s_nationkey = sn.n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation cn ON c_nationkey = cn.n_nationkey
       |WHERE sn.n_name IN ('NATION_3', 'NATION_8')
       |  AND cn.n_name IN ('NATION_3', 'NATION_8')
       |  AND sn.n_name <> cn.n_name
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** q89: TPC-H Q8 shape — market share. Among lineitems sold to
    * EUROPE customers, the fraction of discounted revenue supplied by
    * NATION_19, per order year. The share is a conditional-sum ratio
    * inside one aggregation — no second pass, no self-join.
    */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val custNat = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(custNat), col("c_nationkey") === col("cn_key"))
      .select(col("c_custkey"))
    val suppNat = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(suppNat), col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val volume = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === "NATION_19", volume).otherwise(lit(0.0))), 4).as("nation_volume"),
        round(sum(volume), 4).as("total_volume"),
        round(sum(when(col("supp_nation") === "NATION_19", volume).otherwise(lit(0.0))) / sum(volume), 4).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  private val marketShareSql =
    """WITH sales AS (
      |  SELECT year(o_orderdate) AS o_year,
      |    l_extendedprice * (1 - l_discount) AS volume,
      |    sn.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN region ON cn.n_regionkey = r_regionkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  WHERE r_name = 'EUROPE')
      |SELECT o_year,
      |  round(sum(CASE WHEN supp_nation = 'NATION_19' THEN volume ELSE 0 END), 4) AS nation_volume,
      |  round(sum(volume), 4) AS total_volume,
      |  round(sum(CASE WHEN supp_nation = 'NATION_19' THEN volume ELSE 0 END) / sum(volume), 4) AS mkt_share
      |FROM sales GROUP BY o_year ORDER BY o_year""".stripMargin

  /** q90: TPC-H Q9 shape — product-line profit by supplier nation and
    * year. Profit analogue (no partsupp table in the corpus): revenue
    * minus a 10%-of-retail unit cost. The p_type filter prunes the
    * broadcast part build; lineitem⋈orders is again the only shuffle.
    */
  def productProfit(spark: SparkSession, dir: String): DataFrame = {
    val promoParts = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO")
      .select(col("p_partkey"), col("p_retailprice"))
    val suppNat = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("nation"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(suppNat), col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("nation"))
    val profit = col("l_extendedprice") * (lit(1) - col("l_discount")) -
      lit(0.1) * col("p_retailprice") * col("l_quantity")
    Tables.lineitem(spark, dir)
      .join(broadcast(promoParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(profit), 4).as("sum_profit"),
        count(lit(1)).as("n_items"))
      .orderBy(col("nation"), col("o_year"))
  }

  private val productProfitSql =
    """SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |  round(sum(l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity), 4) AS sum_profit,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE p_type = 'PROMO'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q91: linear-regression aggregate battery — slope / intercept / R²
    * of extendedprice on quantity, per return flag. One partial-agg
    * pass (each regr_* is a second-moment combine, mergeable at any
    * parallelism, same shape as q87's corr).
    */
  def regressionBattery(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4).as("r2"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qty_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  private val regressionBatterySql =
    """SELECT l_returnflag,
      |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
      |  round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
      |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q113: cumulative distinct buyers per nation by month — the
    * running count-distinct analytic, computed WITHOUT a distinct
    * window (Spark has none): each (nation, customer) contributes at
    * its FIRST order month, and a running sum of new-buyer counts over
    * the month spine gives the cumulative distinct total. One
    * (nation, customer) aggregate + one month-level window — the fact
    * table never sorts. The oracle recomputes every cell with an
    * independent correlated `count(DISTINCT …)` — a true cross-check,
    * not a replay of the same trick.
    */
  def cumulativeBuyers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val om = Tables.orders(spark, dir)
      .select(col("o_custkey"), trunc(col("o_orderdate").cast("date"), "month").as("m"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"), col("m"))
    val monthsPresent = om.select(col("n_name"), col("m")).distinct()
    val newPerMonth = om.groupBy(col("n_name"), col("c_custkey"))
      .agg(min(col("m")).as("m"))
      .groupBy(col("n_name"), col("m")).agg(count(lit(1)).as("new_buyers"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthsPresent.join(newPerMonth, Seq("n_name", "m"), "left")
      .withColumn("new_buyers", coalesce(col("new_buyers"), lit(0L)))
      .withColumn("cum_buyers", sum(col("new_buyers")).over(w))
      .select(col("n_name"), col("m"), col("new_buyers"), col("cum_buyers"))
      .orderBy(col("n_name"), col("m"))
  }

  private val cumulativeBuyersSql =
    """WITH om AS (
      |  SELECT n.n_name, o.o_custkey,
      |    date_trunc('month', o.o_orderdate::DATE)::DATE AS m
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |), mp AS (
      |  SELECT DISTINCT n_name, m FROM om
      |), cum AS (
      |  SELECT mp.n_name, mp.m,
      |    (SELECT count(DISTINCT o2.o_custkey) FROM om o2
      |     WHERE o2.n_name = mp.n_name AND o2.m <= mp.m) AS cum_buyers
      |  FROM mp
      |)
      |SELECT n_name, m,
      |  cum_buyers - coalesce(lag(cum_buyers)
      |    OVER (PARTITION BY n_name ORDER BY m), 0) AS new_buyers,
      |  cum_buyers
      |FROM cum ORDER BY n_name, m""".stripMargin

  /** q114: chi-square independence test of order priority × status —
    * the contingency-table stat test an analyst runs before trusting a
    * segmentation. The observed table is one partially-aggregated
    * groupBy (priority×status rows — constant-sized); margins come
    * from windows over that tiny relation; the statistic is
    * Σ (O−E)²/E with E = row·col/N.
    */
  def chiSquare(spark: SparkSession, dir: String): DataFrame = {
    val obs = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("o"))
    val wp = Window.partitionBy(col("o_orderpriority"))
    val ws = Window.partitionBy(col("o_orderstatus"))
    val wAll = Window.partitionBy()
    obs
      .withColumn("rt", sum(col("o")).over(wp))
      .withColumn("ct", sum(col("o")).over(ws))
      .withColumn("n", sum(col("o")).over(wAll))
      .withColumn("e", (col("rt") * col("ct")).cast("double") / col("n"))
      .agg(
        round(sum(pow(col("o") - col("e"), 2) / col("e")), 4).as("chi2"),
        ((countDistinct(col("o_orderpriority")) - 1) *
          (countDistinct(col("o_orderstatus")) - 1)).as("dof"),
        max(col("n")).as("n"))
  }

  private val chiSquareSql =
    """WITH obs AS (
      |  SELECT o_orderpriority, o_orderstatus, count(*) AS o
      |  FROM orders GROUP BY 1, 2
      |), m AS (
      |  SELECT o_orderpriority, o_orderstatus, o,
      |    sum(o) OVER (PARTITION BY o_orderpriority) AS rt,
      |    sum(o) OVER (PARTITION BY o_orderstatus) AS ct,
      |    sum(o) OVER () AS n
      |  FROM obs
      |)
      |SELECT
      |  round(sum(pow(o - (rt * ct)::DOUBLE / n, 2) / ((rt * ct)::DOUBLE / n)), 4) AS chi2,
      |  (count(DISTINCT o_orderpriority) - 1) * (count(DISTINCT o_orderstatus) - 1) AS dof,
      |  max(n)::BIGINT AS n
      |FROM m""".stripMargin

  /** q117: market-basket part pairs — parts co-purchased in the same
    * order, top-20 by support. The self-join is keyed on the order (avg
    * basket ≈ 4 items, so pair fanout is a small constant per order —
    * linear in lineitem, never all-pairs over parts); `p1 < p2`
    * canonicalizes the pair. Distinct-per-order first, so multi-line
    * duplicates of the same part count once per basket. At heavy-tail
    * basket sizes the standard guard is a per-order item cap — basket
    * size here is schema-bounded (≤ 7 lines/order in TPC-H).
    */
  def basketPairs(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    items.as("a").join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("p1"), col("p2"))
      .limit(20)
  }

  private val basketPairsSql =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |)
      |SELECT a.pk AS p1, b.pk AS p2, count(*) AS support
      |FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |GROUP BY 1, 2
      |ORDER BY support DESC, p1, p2 LIMIT 20""".stripMargin

  /** q119: Welch two-sample t-test — does order value differ between
    * URGENT and LOW priority orders? The inference counterpart to q114's
    * chi-square: unequal variances, Welch–Satterthwaite dof.
    *
    * Cross-engine determinism: both samples reduce to exact integer
    * moments first — n, Σcents (BIGINT), Σcents² (decimal(38,0) on the
    * Spark side, HUGEINT in DuckDB; the value overflows int64 at
    * sf≥0.1) — then mean/variance/t are derived in double arithmetic
    * with an identical operand order on both engines, so the rounded
    * outputs agree bit-for-bit. One conditional aggregation, one
    * exchange; the moment pass is map-side partial everywhere.
    */
  def welchTTest(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.orders(spark, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select((col("o_orderpriority") === "1-URGENT").as("is_a"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .withColumn("c2", (col("c") * col("c")).cast("decimal(38,0)"))
    val g = s.agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).cast("bigint").as("n1"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).cast("bigint").as("n2"),
      sum(when(col("is_a"), col("c"))).cast("double").as("s1"),
      sum(when(!col("is_a"), col("c"))).cast("double").as("s2"),
      sum(when(col("is_a"), col("c2"))).cast("double").as("q1"),
      sum(when(!col("is_a"), col("c2"))).cast("double").as("q2"))
    g
      .withColumn("m1", col("s1") / col("n1"))
      .withColumn("m2", col("s2") / col("n2"))
      .withColumn("v1", (col("q1") - col("s1") * col("s1") / col("n1")) / (col("n1") - 1))
      .withColumn("v2", (col("q2") - col("s2") * col("s2") / col("n2")) / (col("n2") - 1))
      .withColumn("u1", col("v1") / col("n1"))
      .withColumn("u2", col("v2") / col("n2"))
      .select(
        col("n1").as("n_urgent"), col("n2").as("n_low"),
        round(col("m1") / 100, 2).as("mean_urgent_d"),
        round(col("m2") / 100, 2).as("mean_low_d"),
        round((col("m1") - col("m2")) / sqrt(col("u1") + col("u2")), 4).as("t_stat"),
        round((col("u1") + col("u2")) * (col("u1") + col("u2")) /
          (col("u1") * col("u1") / (col("n1") - 1) +
            col("u2") * col("u2") / (col("n2") - 1)), 2).as("welch_dof"))
  }

  private val welchTTestSql =
    """WITH s AS (
      |  SELECT o_orderpriority = '1-URGENT' AS is_a,
      |    round(o_totalprice * 100)::BIGINT AS c
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |), g AS (
      |  SELECT
      |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n1,
      |    sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END)::BIGINT AS n2,
      |    sum(CASE WHEN is_a THEN c END)::DOUBLE AS s1,
      |    sum(CASE WHEN NOT is_a THEN c END)::DOUBLE AS s2,
      |    sum(CASE WHEN is_a THEN c * c END)::DOUBLE AS q1,
      |    sum(CASE WHEN NOT is_a THEN c * c END)::DOUBLE AS q2
      |  FROM s
      |), d AS (
      |  SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
      |    (q1 - s1 * s1 / n1) / (n1 - 1) / n1 AS u1,
      |    (q2 - s2 * s2 / n2) / (n2 - 1) / n2 AS u2
      |  FROM g
      |)
      |SELECT n1 AS n_urgent, n2 AS n_low,
      |  round(m1 / 100, 2) AS mean_urgent_d,
      |  round(m2 / 100, 2) AS mean_low_d,
      |  round((m1 - m2) / sqrt(u1 + u2), 4) AS t_stat,
      |  round((u1 + u2) * (u1 + u2) /
      |    (u1 * u1 / (n1 - 1) + u2 * u2 / (n2 - 1)), 2) AS welch_dof
      |FROM d""".stripMargin

  /** q135: Pareto skyline of the customer base — customers not dominated
    * on (total spend, order count): nobody else is ≥ on both dimensions
    * and > on at least one. The selection step behind "best tradeoff"
    * reports (price/quality, cost/latency) that plain top-k can't express.
    *
    * Distributed shape: two-phase skyline. Phase 1 buckets the
    * (already aggregated, |customers|-sized) point set by key hash and
    * prunes bucket-locally — skyline(S) = skyline(∪ skyline(bucket_i)),
    * so bucket survivors are a superset of the global skyline and each
    * bucket prunes in parallel. Phase 2 re-runs the same pruning
    * globally on the (small) survivor set. Pruning itself is windowed,
    * not pairwise: dominance on two dimensions reduces to two running
    * maxima over the per-value aggregates — m1(x) = max n over points
    * with spend > x, m2(n) = max spend over points with count > n; a
    * point is dominated iff m1 ≥ its n or m2 ≥ its spend. Exact integer
    * arithmetic throughout (spend in cents).
    */
  def customerSkyline(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("spend_cents"),
        count(lit(1)).as("n_orders"))

    // One windowed dominance-pruning pass over `pts` within `part` keys
    // (empty partSpec = global). Returns the non-dominated survivors.
    def prune(df: DataFrame, part: Seq[String]): DataFrame = {
      val p = part.map(col)
      val byX = df.groupBy((p :+ col("spend_cents")): _*)
        .agg(max(col("n_orders")).as("nmax"))
        .withColumn("m1", max(col("nmax")).over(Window.partitionBy(p: _*)
          .orderBy(col("spend_cents").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
        .select((p :+ col("spend_cents") :+ col("m1")): _*)
      val byY = df.groupBy((p :+ col("n_orders")): _*)
        .agg(max(col("spend_cents")).as("smax"))
        .withColumn("m2", max(col("smax")).over(Window.partitionBy(p: _*)
          .orderBy(col("n_orders").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
        .select((p :+ col("n_orders") :+ col("m2")): _*)
      df.join(byX, part :+ "spend_cents")
        .join(byY, part :+ "n_orders")
        .filter(!(coalesce(col("m1") >= col("n_orders"), lit(false)) ||
          coalesce(col("m2") >= col("spend_cents"), lit(false))))
        .drop("m1", "m2")
    }

    val local = prune(pts.withColumn("bucket", pmod(col("o_custkey"), lit(32))),
      Seq("bucket")).drop("bucket")
    prune(local, Nil)
      .select(col("o_custkey"), col("spend_cents"),
        col("n_orders").cast("bigint").as("n_orders"))
      .orderBy(col("spend_cents").desc, col("o_custkey"))
  }

  private val customerSkylineSql =
    """WITH pts AS (
      |  SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS spend_cents,
      |    count(*)::BIGINT AS n_orders
      |  FROM orders GROUP BY o_custkey
      |), mx AS (
      |  SELECT spend_cents,
      |    max(nmax) OVER (ORDER BY spend_cents DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1
      |  FROM (SELECT spend_cents, max(n_orders) AS nmax FROM pts GROUP BY spend_cents)
      |), mn AS (
      |  SELECT n_orders,
      |    max(smax) OVER (ORDER BY n_orders DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m2
      |  FROM (SELECT n_orders, max(spend_cents) AS smax FROM pts GROUP BY n_orders)
      |)
      |SELECT p.o_custkey, p.spend_cents, p.n_orders
      |FROM pts p
      |JOIN mx ON p.spend_cents = mx.spend_cents
      |JOIN mn ON p.n_orders = mn.n_orders
      |WHERE NOT (coalesce(mx.m1 >= p.n_orders, false)
      |        OR coalesce(mn.m2 >= p.spend_cents, false))
      |ORDER BY p.spend_cents DESC, p.o_custkey""".stripMargin

  private val rrfK = 60
  private val rrfPoolN = 100

  /** q138: reciprocal-rank fusion — combine two top-100 customer
    * rankings (by total spend; by order count) into one list scored
    * rrf = Σ 1/(60 + rank), the standard fusion rule for merging
    * heterogeneous retrieval signals. A customer missing from one list
    * contributes nothing for it.
    *
    * Scale shape: each input ranking is a `TakeOrderedAndProject`
    * partial top-k over the aggregated customer relation — the full
    * ranking is never materialized; the fusion itself joins two
    * 100-row lists. Cross-engine float parity: 1/(60+r) terms are
    * IEEE-exact divisions added in the same written order.
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("spend_cents"),
        count(lit(1)).as("n_orders"))
      .persist()
    def topList(key: Column, rankCol: String): DataFrame = {
      val top = pts.orderBy(key.desc, col("o_custkey")).limit(rrfPoolN)
      top.withColumn(rankCol,
        row_number().over(Window.orderBy(key.desc, col("o_custkey"))))
        .select(col("o_custkey"), col(rankCol))
    }
    val bySpend = topList(col("spend_cents"), "r_spend")
    val byCount = topList(col("n_orders"), "r_count")
    val fused = bySpend.join(byCount, Seq("o_custkey"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (col("r_spend") + rrfK), lit(0.0)) +
          coalesce(lit(1.0) / (col("r_count") + rrfK), lit(0.0)))
      .orderBy(col("rrf").desc, col("o_custkey"))
      .limit(20)
    Materialize.releasing(
      fused.select(col("o_custkey"),
        col("r_spend").cast("int").as("r_spend"),
        col("r_count").cast("int").as("r_count"),
        round(col("rrf"), 6).as("rrf")),
      pts)
  }

  private val rrfFusionSql =
    s"""WITH pts AS (
       |  SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS spend_cents,
       |    count(*)::BIGINT AS n_orders
       |  FROM orders GROUP BY o_custkey
       |), by_spend AS (
       |  SELECT o_custkey, row_number() OVER (ORDER BY spend_cents DESC, o_custkey) AS r_spend
       |  FROM pts ORDER BY spend_cents DESC, o_custkey LIMIT $rrfPoolN
       |), by_count AS (
       |  SELECT o_custkey, row_number() OVER (ORDER BY n_orders DESC, o_custkey) AS r_count
       |  FROM pts ORDER BY n_orders DESC, o_custkey LIMIT $rrfPoolN
       |), fused AS (
       |  SELECT coalesce(s.o_custkey, c.o_custkey) AS o_custkey,
       |    s.r_spend, c.r_count,
       |    coalesce(1.0::DOUBLE / (s.r_spend + $rrfK), 0.0::DOUBLE) +
       |      coalesce(1.0::DOUBLE / (c.r_count + $rrfK), 0.0::DOUBLE) AS rrf
       |  FROM by_spend s FULL OUTER JOIN by_count c ON s.o_custkey = c.o_custkey
       |)
       |SELECT o_custkey, r_spend::INT AS r_spend, r_count::INT AS r_count,
       |  round(rrf, 6) AS rrf
       |FROM fused ORDER BY rrf DESC, o_custkey LIMIT 20""".stripMargin

  /** q144: 7-day moving MEDIAN of daily revenue per order priority —
    * the robust trend smoother (a single flash-sale day skews a moving
    * mean; the median shrugs). Spark has no median window function, so
    * the operator composes one: RANGE frame over the day index collects
    * the ≤ 7 in-window daily totals, sorts the bounded array, and takes
    * the middle in EXACT integer arithmetic (2× the median, so the
    * even-count midpoint stays integral — no float rounding boundary).
    *
    * Scale: the window runs over the per-(priority, day) AGGREGATE
    * (group count × days rows, not orders); frames are ≤ 7 elements, so
    * the collected array is O(1) per row. Integer day index keeps RANGE
    * frame semantics identical on both engines.
    */
  def movingMedianRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev"))
    val w = Window.partitionBy(col("priority")).orderBy(col("d")).rangeBetween(-6, 0)
    daily
      .withColumn("arr", sort_array(collect_list(col("rev")).over(w)))
      .withColumn("m", size(col("arr")))
      .select(col("priority"),
        expr("date_add(DATE '1970-01-01', CAST(d AS INT))").as("day"),
        col("m").cast("bigint").as("n_days"),
        expr("""CASE WHEN m % 2 = 1 THEN 2 * element_at(arr, CAST((m + 1) div 2 AS INT))
               |     ELSE element_at(arr, CAST(m div 2 AS INT))
               |        + element_at(arr, CAST(m div 2 + 1 AS INT))
               |END""".stripMargin).cast("bigint").as("median_cents_x2"))
      .orderBy(col("priority"), col("day"))
  }

  private val movingMedianRevenueSql =
    """WITH daily AS (
      |  SELECT o_orderpriority AS priority,
      |    (o_orderdate::DATE - DATE '1970-01-01') AS d,
      |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT priority, DATE '1970-01-01' + d::INT AS day,
      |  count(*) OVER w::BIGINT AS n_days,
      |  (2 * median(rev) OVER w)::BIGINT AS median_cents_x2
      |FROM daily
      |WINDOW w AS (PARTITION BY priority ORDER BY d
      |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY priority, day""".stripMargin

  /** q145: month-over-month and year-over-year revenue growth per
    * order priority — the period-over-period BI battery: monthly
    * aggregate, lag(1) and lag(12) on the month sequence, one guarded
    * division each. Growth ratios are single double divisions of exact
    * integer cents, identical operand order on both engines.
    */
  def revenueGrowth(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"),
        trunc(to_date(col("o_orderdate")), "month").as("month"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev_cents"))
    val w = Window.partitionBy(col("priority")).orderBy(col("month"))
    monthly
      .withColumn("prev", lag(col("rev_cents"), 1).over(w))
      .withColumn("prev12", lag(col("rev_cents"), 12).over(w))
      .select(col("priority"), col("month"), col("rev_cents"),
        round((col("rev_cents") - col("prev")).cast("double") / col("prev"), 6)
          .as("mom_growth"),
        round((col("rev_cents") - col("prev12")).cast("double") / col("prev12"), 6)
          .as("yoy_growth"))
      .orderBy(col("priority"), col("month"))
  }

  private val revenueGrowthSql =
    """WITH monthly AS (
      |  SELECT o_orderpriority AS priority,
      |    date_trunc('month', o_orderdate)::DATE AS month,
      |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev_cents
      |  FROM orders GROUP BY 1, 2
      |), lagged AS (
      |  SELECT priority, month, rev_cents,
      |    lag(rev_cents, 1) OVER w AS prev,
      |    lag(rev_cents, 12) OVER w AS prev12
      |  FROM monthly WINDOW w AS (PARTITION BY priority ORDER BY month)
      |)
      |SELECT priority, month, rev_cents,
      |  round((rev_cents - prev)::DOUBLE / prev, 6) AS mom_growth,
      |  round((rev_cents - prev12)::DOUBLE / prev12, 6) AS yoy_growth
      |FROM lagged ORDER BY priority, month""".stripMargin

  /** q149: revenue concentration — Lorenz decile table plus the Gini
    * coefficient of customer spend, the inequality profile ("what share
    * of revenue do the top deciles carry") that drives key-account and
    * skew decisions. Customers sort ascending by exact integer cents
    * (ties by key); decile = ((rank−1)·10) div n + 1 (explicit integer
    * formula, not ntile, so both engines bucket identically); Gini uses
    * the rank form G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n with every sum exact
    * BIGINT and ONE double division at output.
    *
    * Scale: the ranking runs over the per-customer AGGREGATE. A global
    * rank at 10⁹ customers is a range-partitioned sort (Spark's
    * orderBy) — still parallel; the decile/Gini reductions are partial
    * aggregations on top.
    */
  def lorenzGini(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("x"))
    // customer-domain relation: distributed 2-pass rank, not a global
    // single-task row_number (ScaledWindows doc)
    val ranked = ScaledWindows.rowNumber(pts,
      Seq(col("x"), col("o_custkey")), "i")
    val tot = ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("i") * col("x")).as("six"))
    val deciles = ranked.crossJoin(broadcast(tot))
      .withColumn("decile", expr("CAST(((i - 1) * 10) DIV n AS INT) + 1"))
      .groupBy(col("decile"), col("n"), col("sx"), col("six"))
      .agg(count(lit(1)).as("n_customers"), sum(col("x")).as("spend_cents"))
    deciles
      .withColumn("cum_cents", sum(col("spend_cents")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("decile"),
        col("n_customers").cast("bigint").as("n_customers"),
        col("spend_cents").cast("bigint").as("spend_cents"),
        round(col("cum_cents").cast("double") / col("sx"), 6).as("cum_share"),
        round(lit(2.0) * col("six") / (col("n") * col("sx")) -
          (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
      .orderBy(col("decile"))
  }

  private val lorenzGiniSql =
    """WITH pts AS (
      |  SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS x
      |  FROM orders GROUP BY o_custkey
      |), ranked AS (
      |  SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i FROM pts
      |), tot AS (
      |  SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
      |    sum(i * x)::BIGINT AS six
      |  FROM ranked
      |), dec AS (
      |  SELECT ((i - 1) * 10 // n)::INT + 1 AS decile, n, sx, six,
      |    count(*)::BIGINT AS n_customers, sum(x)::BIGINT AS spend_cents
      |  FROM ranked CROSS JOIN tot
      |  GROUP BY 1, 2, 3, 4
      |)
      |SELECT decile, n_customers, spend_cents,
      |  round(sum(spend_cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)::DOUBLE
      |        / sx, 6) AS cum_share,
      |  round(2.0::DOUBLE * six / (n * sx) - (n + 1.0::DOUBLE) / n, 6) AS gini
      |FROM dec ORDER BY decile""".stripMargin

  /** q151: sole-blame late suppliers — the TPC-H Q21 shape: among
    * multi-supplier orders, find orders where EXACTLY ONE supplier
    * shipped late (> 90 days after the order date) and charge that
    * supplier; rank suppliers by blame count. The reference TPC-H
    * spelling is a double correlated EXISTS/NOT-EXISTS; this engine
    * plans it as ONE aggregation over the single fact-fact join —
    * per-order distinct-supplier and distinct-late-supplier counts
    * decide blame, and `max(case when late …)` recovers the culprit
    * key (well-defined exactly when the late-supplier count is 1).
    * Same semantics, one shuffle instead of three self-joins.
    */
  def soleBlameSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val j = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("late"))
    val blamed = j.groupBy(col("l_orderkey"))
      .agg(count_distinct(col("l_suppkey")).as("ns"),
        count_distinct(when(col("late"), col("l_suppkey"))).as("nl"),
        max(when(col("late"), col("l_suppkey"))).as("blame"))
      .filter(col("ns") >= 2 && col("nl") === 1)
    blamed.groupBy(col("blame").as("s_suppkey"))
      .agg(count(lit(1)).as("n_blamed_orders"))
      .join(broadcast(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name"))),
        Seq("s_suppkey"))
      .select(col("s_name"), col("n_blamed_orders").cast("bigint").as("n_blamed_orders"))
      .orderBy(col("n_blamed_orders").desc, col("s_name"))
      .limit(20)
  }

  private val soleBlameSuppliersSql =
    """WITH j AS (
      |  SELECT l_orderkey, l_suppkey,
      |    l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |), agg AS (
      |  SELECT l_orderkey, count(DISTINCT l_suppkey) AS ns,
      |    count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nl,
      |    max(CASE WHEN late THEN l_suppkey END) AS blame
      |  FROM j GROUP BY l_orderkey
      |)
      |SELECT s.s_name, count(*)::BIGINT AS n_blamed_orders
      |FROM agg JOIN supplier s ON agg.blame = s.s_suppkey
      |WHERE agg.ns >= 2 AND agg.nl = 1
      |GROUP BY s.s_name
      |ORDER BY n_blamed_orders DESC, s_name LIMIT 20""".stripMargin

  /** q158: ratio-of-sums metric with DELTA-METHOD standard error — the
    * A/B-experimentation workhorse: "revenue per line item" per order
    * priority is Σrevenue/Σitems, a ratio of sums whose naive per-order
    * average is biased and whose variance needs the delta method
    * because numerator and denominator are correlated per order:
    *   SE² ≈ (s²_y + R²·s²_n − 2R·s_yn) / (k·n̄²),  R = ȳ/n̄.
    * Everything reduces to five exact moments per group (Σy, Σn, Σy²,
    * Σn², Σyn — all BIGINT on integer cents/counts) in ONE aggregation
    * pass, then a fixed-shape double derivation — the same
    * parity discipline as q119's Welch t.
    */
  def ratioMetric(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("bigint")).as("y"))
    val m = perOrder.groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("k"),
        sum(col("y")).as("sy"), sum(col("n")).as("sn"),
        // y² fits int64 (≤~2.5e15) but Σy² can overflow it at scale —
        // sum in decimal(38,0) (HUGEINT on the oracle side), then double
        sum((col("y") * col("y")).cast("decimal(38,0)")).cast("double").as("syy"),
        sum(col("n") * col("n")).as("snn"),
        sum(col("y") * col("n")).as("syn"))
    m.withColumn("my", col("sy").cast("double") / col("k"))
      .withColumn("mn", col("sn").cast("double") / col("k"))
      .withColumn("r", col("my") / col("mn"))
      .withColumn("vy", (col("syy") - col("sy").cast("double") * col("sy") / col("k"))
        / (col("k") - 1))
      .withColumn("vn", (col("snn") - col("sn").cast("double") * col("sn") / col("k"))
        / (col("k") - 1))
      .withColumn("vyn", (col("syn") - col("sy").cast("double") * col("sn") / col("k"))
        / (col("k") - 1))
      .select(col("priority"), col("k").cast("bigint").as("n_orders"),
        round(col("r") / 100, 4).as("rev_per_item_d"),
        round(sqrt((col("vy") + col("r") * col("r") * col("vn")
          - lit(2.0) * col("r") * col("vyn"))
          / (col("k") * col("mn") * col("mn"))) / 100, 4).as("se_d"))
      .orderBy(col("priority"))
  }

  private val ratioMetricSql =
    """WITH per_order AS (
      |  SELECT o_orderkey, o_orderpriority, count(*)::BIGINT AS n,
      |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS y
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY o_orderkey, o_orderpriority
      |), m AS (
      |  SELECT o_orderpriority AS priority, count(*)::BIGINT AS k,
      |    sum(y)::BIGINT AS sy, sum(n)::BIGINT AS sn,
      |    sum(y * y)::DOUBLE AS syy, sum(n * n)::BIGINT AS snn,
      |    sum(y * n)::BIGINT AS syn
      |  FROM per_order GROUP BY o_orderpriority
      |), d AS (
      |  SELECT priority, k, sy::DOUBLE / k AS my, sn::DOUBLE / k AS mn,
      |    (sy::DOUBLE / k) / (sn::DOUBLE / k) AS r,
      |    (syy - sy::DOUBLE * sy / k) / (k - 1) AS vy,
      |    (snn - sn::DOUBLE * sn / k) / (k - 1) AS vn,
      |    (syn - sy::DOUBLE * sn / k) / (k - 1) AS vyn
      |  FROM m
      |)
      |SELECT priority, k AS n_orders,
      |  round(r / 100, 4) AS rev_per_item_d,
      |  round(sqrt((vy + r * r * vn - 2.0::DOUBLE * r * vyn)
      |    / (k * mn * mn)) / 100, 4) AS se_d
      |FROM d ORDER BY priority""".stripMargin

  /** q160: categorical dependence — mutual information (nats) and
    * Cramér's V between order priority and order status, the
    * effect-size companions to q114's chi-square (which only answers
    * "is there dependence", not "how much"). MI from the closed form
    * Σ (n_ij/N)·ln(n_ij·N/(r_i·c_j)); V = √(χ²/(N·(min(r,c)−1))).
    * One aggregation to the contingency table (constant-sized), then
    * scalar math — counts exact, each float one fixed expression.
    */
  def categoricalDependence(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("a"), col("o_orderstatus").as("b"))
      .agg(count(lit(1)).as("n"))
      .persist() // |a|×|b| table read by margins and both measures
    val rows = cells.groupBy(col("a")).agg(sum(col("n")).as("ra"))
    val cols_ = cells.groupBy(col("b")).agg(sum(col("n")).as("cb"))
    val tot = cells.agg(sum(col("n")).as("nn"),
      count_distinct(col("a")).as("ka"), count_distinct(col("b")).as("kb"))
    val j = cells.join(rows, Seq("a")).join(cols_, Seq("b")).crossJoin(broadcast(tot))
    val mi = j.select(sum(
      (col("n").cast("double") / col("nn")) *
        log(col("n").cast("double") * col("nn") / (col("ra") * col("cb"))))
      .as("mi"))
    val chi = j.select(sum(
      pow(col("n") - col("ra").cast("double") * col("cb") / col("nn"), 2) /
        (col("ra").cast("double") * col("cb") / col("nn"))).as("chi2"))
    Materialize.releasing(
      mi.crossJoin(chi).crossJoin(broadcast(tot))
        .select(col("nn").cast("bigint").as("n_orders"),
          col("ka").cast("int").as("n_priorities"),
          col("kb").cast("int").as("n_statuses"),
          round(col("mi"), 6).as("mutual_info_nats"),
          round(sqrt(col("chi2") / (col("nn") *
            (least(col("ka"), col("kb")) - 1))), 6).as("cramers_v")),
      cells)
  }

  private val categoricalDependenceSql =
    """WITH cells AS (
      |  SELECT o_orderpriority AS a, o_orderstatus AS b, count(*)::BIGINT AS n
      |  FROM orders GROUP BY 1, 2
      |), r AS (SELECT a, sum(n)::BIGINT AS ra FROM cells GROUP BY a
      |), c AS (SELECT b, sum(n)::BIGINT AS cb FROM cells GROUP BY b
      |), t AS (
      |  SELECT sum(n)::BIGINT AS nn, count(DISTINCT a)::BIGINT AS ka,
      |    count(DISTINCT b)::BIGINT AS kb
      |  FROM cells
      |), j AS (
      |  SELECT cells.n, r.ra, c.cb, t.nn, t.ka, t.kb
      |  FROM cells JOIN r USING (a) JOIN c USING (b) CROSS JOIN t
      |), mi AS (
      |  SELECT sum((n::DOUBLE / nn) * ln(n::DOUBLE * nn / (ra * cb))) AS mi
      |  FROM j
      |), chi AS (
      |  SELECT sum(pow(n - ra::DOUBLE * cb / nn, 2) / (ra::DOUBLE * cb / nn)) AS chi2
      |  FROM j
      |)
      |SELECT t.nn AS n_orders, t.ka::INT AS n_priorities, t.kb::INT AS n_statuses,
      |  round(mi.mi, 6) AS mutual_info_nats,
      |  round(sqrt(chi.chi2 / (t.nn * (least(t.ka, t.kb) - 1))), 6) AS cramers_v
      |FROM mi CROSS JOIN chi CROSS JOIN t""".stripMargin

  /** q163: tail risk — discrete 95% Value-at-Risk and the conditional
    * tail mean (CVaR / expected shortfall) of order value per priority.
    * VaR is the smallest value whose cumulative count reaches
    * ⌈0.95·k⌉ (exact integer rank over the VALUE-DOMAIN aggregate, the
    * q123/q99 discipline); CVaR averages the tail in exact cents with
    * one output division. No floats until the final divide, so both
    * engines agree bit-for-bit on which value is the VaR.
    */
  def varCvar(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("priority")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vals.withColumn("cum", sum(col("c")).over(w))
    val tot = vals.groupBy(col("priority")).agg(sum(col("c")).as("k"))
      .withColumn("need", expr("(19 * k + 19) div 20")) // ceil(0.95k)
    val varRow = cum.join(tot, Seq("priority"))
      .filter(col("cum") >= col("need"))
      .groupBy(col("priority"), col("k")).agg(min(col("cents")).as("var_cents"))
    vals.join(varRow, Seq("priority"))
      .filter(col("cents") >= col("var_cents"))
      .groupBy(col("priority"), col("k"), col("var_cents"))
      .agg(sum(col("c")).as("n_tail"), sum(col("cents") * col("c")).as("tail_cents"))
      .select(col("priority"), col("k").cast("bigint").as("n_orders"),
        round(col("var_cents") / lit(100.0), 2).as("var_d"),
        col("n_tail").cast("bigint").as("n_tail"),
        round(col("tail_cents").cast("double") / col("n_tail") / 100, 4)
          .as("cvar_d"))
      .orderBy(col("priority"))
  }

  private val varCvarSql =
    """WITH vals AS (
      |  SELECT o_orderpriority AS priority,
      |    round(o_totalprice * 100)::BIGINT AS cents, count(*)::BIGINT AS c
      |  FROM orders GROUP BY 1, 2
      |), cum AS (
      |  SELECT priority, cents, c,
      |    sum(c) OVER (PARTITION BY priority ORDER BY cents
      |                 ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM vals
      |), tot AS (
      |  SELECT priority, sum(c)::BIGINT AS k,
      |    (19 * sum(c)::BIGINT + 19) // 20 AS need
      |  FROM vals GROUP BY priority
      |), v AS (
      |  SELECT cum.priority, tot.k, min(cents) AS var_cents
      |  FROM cum JOIN tot ON cum.priority = tot.priority
      |  WHERE cum.cum >= tot.need
      |  GROUP BY cum.priority, tot.k
      |)
      |SELECT v.priority, v.k AS n_orders,
      |  round(v.var_cents / 100.0, 2) AS var_d,
      |  sum(vals.c)::BIGINT AS n_tail,
      |  round(sum(vals.cents * vals.c)::DOUBLE / sum(vals.c) / 100, 4) AS cvar_d
      |FROM vals JOIN v ON vals.priority = v.priority
      |WHERE vals.cents >= v.var_cents
      |GROUP BY v.priority, v.k, v.var_cents
      |ORDER BY v.priority""".stripMargin

  /** q164: day-of-week seasonality index — revenue share per weekday
    * against the uniform 1/7 baseline (index > 1 = overtrading day).
    * Weekday from pure integer arithmetic ((epoch_day + 3) mod 7,
    * Monday = 0) — immune to the Spark-vs-DuckDB `dayofweek` origin
    * mismatch. One aggregation over the fact table.
    */
  def dowSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val dowNames = Seq("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
    val nameExpr = dowNames.zipWithIndex.foldRight(lit("?"): Column) {
      case ((n, i), rest) => when(col("dow") === i, lit(n)).otherwise(rest)
    }
    val daily = Tables.orders(spark, dir)
      .groupBy(pmod(datediff(to_date(col("o_orderdate")), lit("1970-01-01")) + 3, lit(7))
        .cast("int").as("dow"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
    val tot = daily.agg(sum(col("cents")).as("total_cents"))
    daily.crossJoin(broadcast(tot))
      .select(col("dow"), nameExpr.as("dow_name"),
        col("n_orders").cast("bigint").as("n_orders"),
        col("cents").cast("bigint").as("rev_cents"),
        round(lit(7.0) * col("cents") / col("total_cents"), 4).as("seasonal_index"))
      .orderBy(col("dow"))
  }

  private val dowSeasonalitySql =
    """WITH d AS (
      |  SELECT ((o_orderdate::DATE - DATE '1970-01-01') + 3) % 7 AS dow,
      |    count(*)::BIGINT AS n_orders,
      |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
      |  FROM orders GROUP BY 1
      |), t AS (SELECT sum(cents)::BIGINT AS total_cents FROM d)
      |SELECT dow::INT AS dow,
      |  CASE dow WHEN 0 THEN 'Mon' WHEN 1 THEN 'Tue' WHEN 2 THEN 'Wed'
      |           WHEN 3 THEN 'Thu' WHEN 4 THEN 'Fri' WHEN 5 THEN 'Sat'
      |           ELSE 'Sun' END AS dow_name,
      |  n_orders, cents AS rev_cents,
      |  round(7.0::DOUBLE * cents / total_cents, 4) AS seasonal_index
      |FROM d CROSS JOIN t ORDER BY dow""".stripMargin

  /** q167: cohort lifetime value — customers grouped by first-order
    * month, cumulative average revenue per cohort member over months
    * since acquisition (the long-form LTV matrix growth teams project
    * payback from). Exact integer cents cumulate through the window;
    * the one division (per-member average) happens at output. Shapes:
    * first-order month is a user-keyed aggregate; the matrix is
    * cohort×offset-sized — tiny at any corpus scale.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        trunc(to_date(col("o_orderdate")), "month").as("m"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort_m"))
    val cohortSize = first.groupBy(col("cohort_m"))
      .agg(count(lit(1)).as("n_members"))
    val cells = o.join(first, Seq("o_custkey"))
      .withColumn("offset_m",
        (months_between(col("m"), col("cohort_m"))).cast("int"))
      .groupBy(col("cohort_m"), col("offset_m"))
      .agg(sum(col("cents")).as("rev_cents"))
    val w = Window.partitionBy(col("cohort_m")).orderBy(col("offset_m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(cohortSize, Seq("cohort_m"))
      .withColumn("cum_cents", sum(col("rev_cents")).over(w))
      .select(col("cohort_m"), col("offset_m"),
        col("n_members").cast("bigint").as("n_members"),
        col("rev_cents").cast("bigint").as("rev_cents"),
        // integer round-half-up cents per member — a /100-then-round(2)
        // double hit a .005 boundary at sf0.01 (the q99/q121 lesson)
        expr("(2 * cum_cents + n_members) div (2 * n_members)")
          .cast("bigint").as("cum_ltv_cents"))
      .orderBy(col("cohort_m"), col("offset_m"))
  }

  private val cohortLtvSql =
    """WITH o AS (
      |  SELECT o_custkey, date_trunc('month', o_orderdate)::DATE AS m,
      |    round(o_totalprice * 100)::BIGINT AS cents
      |  FROM orders
      |), f AS (
      |  SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY o_custkey
      |), sz AS (
      |  SELECT cohort_m, count(*)::BIGINT AS n_members FROM f GROUP BY cohort_m
      |), cells AS (
      |  SELECT f.cohort_m,
      |    (year(o.m) * 12 + month(o.m)
      |      - year(f.cohort_m) * 12 - month(f.cohort_m))::INT AS offset_m,
      |    sum(o.cents)::BIGINT AS rev_cents
      |  FROM o JOIN f ON o.o_custkey = f.o_custkey
      |  GROUP BY 1, 2
      |)
      |SELECT cells.cohort_m, cells.offset_m, sz.n_members, cells.rev_cents,
      |  ((2 * sum(cells.rev_cents) OVER (PARTITION BY cells.cohort_m
      |      ORDER BY cells.offset_m ROWS UNBOUNDED PRECEDING)
      |    + sz.n_members) // (2 * sz.n_members))::BIGINT AS cum_ltv_cents
      |FROM cells JOIN sz ON cells.cohort_m = sz.cohort_m
      |ORDER BY cells.cohort_m, cells.offset_m""".stripMargin

  /** q168: ABC inventory classification — parts ranked by revenue
    * contribution, classed A/B/C at the cumulative 80% / 95% Pareto
    * cuts. The class verdict uses INTEGER cross-multiplication
    * (cum_before·5 < total·4 ⇔ share < 0.8) so no float boundary
    * decides membership — both engines classify identically by
    * construction. Ranking runs over the part-keyed aggregate.
    */
  def abcClassification(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint")).as("cents"))
    val tot = parts.agg(sum(col("cents")).as("total"))
    // range-partitioned exclusive prefix sum — the part relation is
    // key-domain-sized, so a global OVER (ORDER BY) would funnel it
    // through one task at 100× scale (ScaledWindows doc).
    ScaledWindows.prefixSum(parts,
        Seq(col("cents").desc, col("l_partkey")), col("cents"),
        "cum_before", exclusive = true)
      .crossJoin(broadcast(tot))
      .withColumn("cls",
        when(col("cum_before") * 5 < col("total") * 4, "A")
          .when(col("cum_before") * 20 < col("total") * 19, "B")
          .otherwise("C"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"), sum(col("cents")).as("rev_cents"),
        max(col("total")).as("total"))
      .select(col("cls"), col("n_parts").cast("bigint").as("n_parts"),
        col("rev_cents").cast("bigint").as("rev_cents"),
        round(col("rev_cents").cast("double") / col("total"), 4).as("rev_share"))
      .orderBy(col("cls"))
  }

  private val abcClassificationSql =
    """WITH parts AS (
      |  SELECT l_partkey, sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
      |  FROM lineitem GROUP BY l_partkey
      |), t AS (SELECT sum(cents)::BIGINT AS total FROM parts
      |), ranked AS (
      |  SELECT cents,
      |    coalesce(sum(cents) OVER (ORDER BY cents DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM parts
      |), classed AS (
      |  SELECT cents, total,
      |    CASE WHEN cum_before * 5 < total * 4 THEN 'A'
      |         WHEN cum_before * 20 < total * 19 THEN 'B'
      |         ELSE 'C' END AS cls
      |  FROM ranked CROSS JOIN t
      |)
      |SELECT cls, count(*)::BIGINT AS n_parts, sum(cents)::BIGINT AS rev_cents,
      |  round(sum(cents)::DOUBLE / max(total), 4) AS rev_share
      |FROM classed GROUP BY cls ORDER BY cls""".stripMargin

  /** q169: repurchase-interval profile — the retention timing metric:
    * per-customer gaps between consecutive orders (integer days), then
    * exact-rank P50/P90 of the gap distribution plus repeat-customer
    * counts. Gaps come from one customer-partitioned lag window; the
    * percentiles use the q123/q163 value-domain discipline (cumulative
    * counts over distinct gap values, smallest value whose cumulative
    * count reaches ⌈q·n⌉) so both engines pick the identical day.
    */
  def repurchaseIntervals(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"), col("o_orderkey"))
    val gaps = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("d"))
      .withColumn("gap", col("d") - lag(col("d"), 1).over(w))
      .filter(col("gap").isNotNull)
      .select(col("o_custkey"), col("gap").cast("long").as("gap"))
      .persist() // read by counts and the percentile scan
    val custStats = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("n_orders") >= 2, 1L).otherwise(0L)).as("n_repeat"))
    val byVal = gaps.groupBy(col("gap")).agg(count(lit(1)).as("c"))
    val cum = byVal.withColumn("cum", sum(col("c")).over(
      Window.orderBy(col("gap"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = byVal.agg(sum(col("c")).as("n_gaps"))
    def pick(q: Int): DataFrame = cum.crossJoin(broadcast(tot))
      .filter(col("cum") * 100 >= col("n_gaps") * q)
      .agg(min(col("gap")).as(s"p${q}_gap_days"))
    Materialize.releasing(
      custStats.crossJoin(broadcast(tot))
        .crossJoin(pick(50)).crossJoin(pick(90))
        .select(col("n_customers").cast("bigint").as("n_customers"),
          col("n_repeat").cast("bigint").as("n_repeat"),
          col("n_gaps").cast("bigint").as("n_gaps"),
          col("p50_gap_days"), col("p90_gap_days")),
      gaps)
  }

  private val repurchaseIntervalsSql =
    """WITH o AS (
      |  SELECT o_custkey, o_orderkey,
      |    (o_orderdate::DATE - DATE '1970-01-01') AS d
      |  FROM orders
      |), g AS (
      |  SELECT o_custkey,
      |    (d - lag(d) OVER (PARTITION BY o_custkey
      |       ORDER BY d, o_orderkey))::BIGINT AS gap
      |  FROM o
      |), gaps AS (SELECT * FROM g WHERE gap IS NOT NULL
      |), cs AS (
      |  SELECT count(*)::BIGINT AS n_customers,
      |    sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_repeat
      |  FROM (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
      |), bv AS (
      |  SELECT gap, count(*)::BIGINT AS c FROM gaps GROUP BY gap
      |), cum AS (
      |  SELECT gap, sum(c) OVER (ORDER BY gap ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM bv
      |), t AS (SELECT sum(c)::BIGINT AS n_gaps FROM bv
      |), p50 AS (
      |  SELECT min(gap) AS p50_gap_days FROM cum CROSS JOIN t
      |  WHERE cum * 100 >= n_gaps * 50
      |), p90 AS (
      |  SELECT min(gap) AS p90_gap_days FROM cum CROSS JOIN t
      |  WHERE cum * 100 >= n_gaps * 90
      |)
      |SELECT cs.n_customers, cs.n_repeat, t.n_gaps,
      |  p50.p50_gap_days, p90.p90_gap_days
      |FROM cs CROSS JOIN t CROSS JOIN p50 CROSS JOIN p90""".stripMargin

  /** q172: Mann–Whitney U rank-sum test — the nonparametric complement
    * to q119's Welch t (URGENT vs LOW order totals): no normality
    * assumption, rank-based. Ranks come from VALUE-DOMAIN aggregation
    * (q123's trick): group by distinct cent value → per-value counts,
    * one cumulative window over the value level, tied ranks as the
    * exact integer min+max (= 2×average rank — no halves ever
    * materialize). Rank-sums and the tie-correction Σ(t³−t) accumulate
    * in decimal(38,0)/HUGEINT (2R₁ ≤ 2N² overflows int64 at cluster
    * row counts), then one fixed-shape double derivation for U and the
    * normal-approximation z.
    *
    * Scale: the only data-sized shuffle is the value-domain groupBy;
    * the window runs over |distinct prices|, not |orders|.
    */
  def mannWhitneyU(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.orders(spark, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select((col("o_orderpriority") === "1-URGENT").as("is_a"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
    val byV = s.groupBy(col("c"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("n1v"),
        count(lit(1)).cast("long").as("ntv"))
    // distinct-cents relation is value-domain-sized: distributed
    // exclusive prefix sum (ScaledWindows doc), not a global window
    val ranked = ScaledWindows.prefixSum(byV, Seq(col("c")), col("ntv"),
        "cum_prev", exclusive = true)
      // min rank + max rank of the tie block = 2 × average rank, exact
      .withColumn("r2", lit(2L) * col("cum_prev") + col("ntv") + lit(1L))
    val g = ranked.agg(
      sum(col("n1v")).cast("bigint").as("n1"),
      sum(col("ntv") - col("n1v")).cast("bigint").as("n2"),
      // multiply in decimal: rank × count products overflow int64 at
      // cluster row counts
      sum(col("n1v").cast("decimal(38,0)") * col("r2"))
        .cast("double").as("r1x2"),
      sum(col("ntv").cast("decimal(38,0)") * col("ntv") * col("ntv")
        - col("ntv")).cast("double").as("tie"))
    g
      .withColumn("nn", col("n1").cast("double") * col("n2"))
      .withColumn("nt", (col("n1") + col("n2")).cast("double"))
      .withColumn("u1",
        (col("r1x2") - col("n1").cast("double") * (col("n1") + 1)) / 2.0)
      .withColumn("varU",
        col("nn") / 12.0 * ((col("nt") + 1) -
          col("tie") / (col("nt") * (col("nt") - 1))))
      .select(col("n1").as("n_urgent"), col("n2").as("n_low"),
        round(col("u1"), 1).as("u_stat"),
        round((col("u1") - col("nn") / 2.0) / sqrt(col("varU")), 4)
          .as("z_stat"))
  }

  private val mannWhitneyUSql =
    """WITH s AS (
      |  SELECT o_orderpriority = '1-URGENT' AS is_a,
      |    round(o_totalprice * 100)::BIGINT AS c
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |), byv AS (
      |  SELECT c,
      |    sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n1v,
      |    count(*)::BIGINT AS ntv
      |  FROM s GROUP BY c
      |), ranked AS (
      |  SELECT n1v, ntv,
      |    2 * coalesce(sum(ntv) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + ntv + 1 AS r2
      |  FROM byv
      |), g AS (
      |  SELECT sum(n1v)::BIGINT AS n1, sum(ntv - n1v)::BIGINT AS n2,
      |    sum(n1v::HUGEINT * r2)::DOUBLE AS r1x2,
      |    sum(ntv::HUGEINT * ntv * ntv - ntv)::DOUBLE AS tie
      |  FROM ranked
      |)
      |SELECT n1 AS n_urgent, n2 AS n_low,
      |  round((r1x2 - n1::DOUBLE * (n1 + 1)) / 2.0, 1) AS u_stat,
      |  round(((r1x2 - n1::DOUBLE * (n1 + 1)) / 2.0
      |         - n1::DOUBLE * n2 / 2.0)
      |    / sqrt(n1::DOUBLE * n2 / 12.0 * (((n1 + n2)::DOUBLE + 1)
      |        - tie / ((n1 + n2)::DOUBLE * ((n1 + n2)::DOUBLE - 1)))), 4)
      |    AS z_stat
      |FROM g""".stripMargin

  /** q173: revenue autocorrelation function — Pearson r between the
    * daily-revenue series and its row-lagged self at lags 1..10 (the
    * diagnostic behind q164's day-of-week seasonality: a 7-day cycle
    * shows as an ACF peak at lag 7). Lag pairing is by row number over
    * the observed day series, realized as a self-JOIN on rn = rn + k
    * against a tiny lag spine — one plan for all ten lags, no per-lag
    * window pass. Moments accumulate per lag in decimal(38,0)
    * (Σ cents² overflows int64), one fixed-shape double Pearson at
    * output.
    *
    * Scale: everything after the daily groupBy runs on the |days| × 10
    * relation — the day domain grows with the calendar, not the data.
    */
  def revenueAcf(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("rev"))
      .withColumn("rn", row_number().over(Window.orderBy(col("day"))))
    val lags = spark.range(1, 11).select(col("id").cast("int").as("k"))
    val x = daily.select(col("rn").as("rn_x"), col("rev").as("x"))
    val y = daily.select(col("rn").as("rn_y"), col("rev").as("y"))
    // (rn_x - k) = rn_y keeps each equality side single-relation, so
    // Catalyst extracts hash-join keys (rn_x = rn_y + k would not).
    x.crossJoin(broadcast(lags))
      .join(y, col("rn_x") - col("k") === col("rn_y"))
      .groupBy(col("k"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        sum(col("x").cast("decimal(38,0)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(38,0)")).cast("double").as("sy"),
        // multiply in decimal: daily-cent products overflow int64 at
        // cluster revenue volumes
        sum(col("x").cast("decimal(38,0)") * col("y"))
          .cast("double").as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x"))
          .cast("double").as("sxx"),
        sum(col("y").cast("decimal(38,0)") * col("y"))
          .cast("double").as("syy"))
      .select(col("k"), col("n_pairs"),
        round((col("n_pairs") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx")) *
            (col("n_pairs") * col("syy") - col("sy") * col("sy"))), 4)
          .as("acf"))
      .orderBy(col("k"))
  }

  private val revenueAcfSql =
    """WITH daily AS (
      |  SELECT o_orderdate AS day,
      |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev,
      |    row_number() OVER (ORDER BY o_orderdate) AS rn
      |  FROM orders GROUP BY o_orderdate
      |), ks AS (
      |  SELECT unnest(generate_series(1, 10))::INT AS k
      |)
      |SELECT ks.k, count(*)::BIGINT AS n_pairs,
      |  round((count(*) * sum(a.rev::HUGEINT * b.rev)::DOUBLE
      |       - sum(a.rev::HUGEINT)::DOUBLE * sum(b.rev::HUGEINT)::DOUBLE)
      |    / sqrt((count(*) * sum(a.rev::HUGEINT * a.rev)::DOUBLE
      |          - sum(a.rev::HUGEINT)::DOUBLE * sum(a.rev::HUGEINT)::DOUBLE)
      |         * (count(*) * sum(b.rev::HUGEINT * b.rev)::DOUBLE
      |          - sum(b.rev::HUGEINT)::DOUBLE * sum(b.rev::HUGEINT)::DOUBLE)),
      |    4) AS acf
      |FROM ks
      |JOIN daily a ON true
      |JOIN daily b ON a.rn = b.rn + ks.k
      |GROUP BY ks.k ORDER BY ks.k""".stripMargin

  /** q175: FIFO supply/demand allocation — the inventory-ledger kernel
    * (FIFO cost basis, lot consumption, backlog matching): per part,
    * 'F'-status lineitems are supply lots and 'O'-status lineitems are
    * demand, both in (shipdate, orderkey, linenumber) FIFO order. Each
    * side becomes half-open intervals on its cumulative-quantity axis;
    * a lot serves a demand iff their intervals overlap, and the
    * allocated quantity is the exact integer overlap length — the
    * classic two-cursor FIFO match expressed as one relational join.
    *
    * Scale: the join is EQUI on partkey with the interval overlap as a
    * post-filter; TPC-H-shape data has O(1) lineitems per part at any
    * SF, so the per-key expansion is bounded and the match count is
    * linear (interval endpoints interleave — ≤ nₛ + n_d − 1 overlaps
    * per part). Output aggregates to the brand level via a broadcast
    * part join.
    */
  def fifoAllocation(spark: SparkSession, dir: String): DataFrame = {
    def side(status: String, pfx: String) = {
      val w = Window.partitionBy(col("pk"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(spark, dir)
        .filter(col("l_linestatus") === status)
        .select(col("l_partkey").as("pk"),
          col("l_quantity").cast("long").as("q"),
          col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .withColumn("end", sum(col("q")).over(w))
        .select(col("pk"), (col("end") - col("q")).as(s"${pfx}_start"),
          col("end").as(s"${pfx}_end"))
    }
    val supply = side("F", "s")
    val demand = side("O", "d")
    val alloc = supply.join(demand, Seq("pk"))
      .filter(col("s_start") < col("d_end") && col("d_start") < col("s_end"))
      .select(col("pk"),
        (least(col("s_end"), col("d_end")) -
          greatest(col("s_start"), col("d_start"))).as("alloc_q"))
    val brand = Tables.part(spark, dir)
      .select(col("p_partkey").as("pk"), col("p_brand"))
    alloc.join(broadcast(brand), Seq("pk"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).cast("bigint").as("n_allocations"),
        sum(col("alloc_q")).cast("bigint").as("matched_qty"))
      .orderBy(col("p_brand"))
  }

  private val fifoAllocationSql =
    """WITH supply AS (
      |  SELECT l_partkey AS pk,
      |    sum(l_quantity::BIGINT) OVER w - l_quantity::BIGINT AS s_start,
      |    sum(l_quantity::BIGINT) OVER w AS s_end
      |  FROM lineitem WHERE l_linestatus = 'F'
      |  WINDOW w AS (PARTITION BY l_partkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS UNBOUNDED PRECEDING)
      |), demand AS (
      |  SELECT l_partkey AS pk,
      |    sum(l_quantity::BIGINT) OVER w - l_quantity::BIGINT AS d_start,
      |    sum(l_quantity::BIGINT) OVER w AS d_end
      |  FROM lineitem WHERE l_linestatus = 'O'
      |  WINDOW w AS (PARTITION BY l_partkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber
      |    ROWS UNBOUNDED PRECEDING)
      |)
      |SELECT p.p_brand, count(*)::BIGINT AS n_allocations,
      |  sum(least(s.s_end, d.d_end)
      |      - greatest(s.s_start, d.d_start))::BIGINT AS matched_qty
      |FROM supply s
      |JOIN demand d ON s.pk = d.pk
      |  AND s.s_start < d.d_end AND d.d_start < s.s_end
      |JOIN part p ON s.pk = p.p_partkey
      |GROUP BY p.p_brand ORDER BY p_brand""".stripMargin

  /** q177: Spearman rank correlation — quantity vs price per return
    * flag, completing the correlation surface (q87 Pearson on values,
    * q172 rank-sum test): monotone association, robust to outliers and
    * nonlinearity. Both variables get tied ranks from VALUE-DOMAIN
    * aggregation (per-flag cumulative window over distinct values —
    * quantity has ~50 distinct values, price its cent domain), carried
    * as the exact integer 2×average-rank; ρ is then Pearson over the
    * doubled ranks (scale-invariance makes the factor 2 vanish), with
    * moments in decimal(38,0) — Σ(2r)² ~ 4N³ overflows int64 far below
    * cluster row counts.
    *
    * Scale: two value-level rank maps (each bounded by its value
    * domain) joined back by (flag, value) — quantity's map broadcasts;
    * one moment aggregation ends the plan. No row-level sort, no
    * global window.
    */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("qv"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cv"))
    def rankMap(v: String, pfx: String) = {
      val w = Window.partitionBy(col("flag")).orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, -1)
      base.groupBy(col("flag"), col(v)).agg(count(lit(1)).as("n"))
        .withColumn("cum", coalesce(sum(col("n")).over(w), lit(0L)))
        .select(col("flag"), col(v),
          (lit(2L) * col("cum") + col("n") + 1L).as(s"${pfx}r2"))
    }
    base
      .join(broadcast(rankMap("qv", "q")), Seq("flag", "qv"))
      .join(rankMap("cv", "c"), Seq("flag", "cv"))
      .groupBy(col("flag"))
      .agg(count(lit(1)).cast("bigint").as("n_rows"),
        sum(col("qr2").cast("decimal(38,0)")).cast("double").as("sx"),
        sum(col("cr2").cast("decimal(38,0)")).cast("double").as("sy"),
        // multiply in decimal: (2×rank)² ~ 4N² overflows int64 at
        // cluster row counts
        sum(col("qr2").cast("decimal(38,0)") * col("cr2"))
          .cast("double").as("sxy"),
        sum(col("qr2").cast("decimal(38,0)") * col("qr2"))
          .cast("double").as("sxx"),
        sum(col("cr2").cast("decimal(38,0)") * col("cr2"))
          .cast("double").as("syy"))
      .select(col("flag"), col("n_rows"),
        round((col("n_rows") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n_rows") * col("sxx") - col("sx") * col("sx")) *
            (col("n_rows") * col("syy") - col("sy") * col("sy"))), 4)
          .as("spearman"))
      .orderBy(col("flag"))
  }

  private val spearmanCorrSql =
    """WITH base AS (
      |  SELECT l_returnflag AS flag, l_quantity::BIGINT AS qv,
      |    round(l_extendedprice * 100)::BIGINT AS cv
      |  FROM lineitem
      |), qr AS (
      |  SELECT flag, qv,
      |    2 * coalesce(sum(n) OVER (PARTITION BY flag ORDER BY qv
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + n + 1 AS qr2
      |  FROM (SELECT flag, qv, count(*)::BIGINT AS n
      |        FROM base GROUP BY flag, qv)
      |), cr AS (
      |  SELECT flag, cv,
      |    2 * coalesce(sum(n) OVER (PARTITION BY flag ORDER BY cv
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      + n + 1 AS cr2
      |  FROM (SELECT flag, cv, count(*)::BIGINT AS n
      |        FROM base GROUP BY flag, cv)
      |), g AS (
      |  SELECT b.flag, count(*)::BIGINT AS n_rows,
      |    sum(qr2::HUGEINT)::DOUBLE AS sx, sum(cr2::HUGEINT)::DOUBLE AS sy,
      |    sum(qr2::HUGEINT * cr2)::DOUBLE AS sxy,
      |    sum(qr2::HUGEINT * qr2)::DOUBLE AS sxx,
      |    sum(cr2::HUGEINT * cr2)::DOUBLE AS syy
      |  FROM base b
      |  JOIN qr ON b.flag = qr.flag AND b.qv = qr.qv
      |  JOIN cr ON b.flag = cr.flag AND b.cv = cr.cv
      |  GROUP BY b.flag
      |)
      |SELECT flag, n_rows,
      |  round((n_rows * sxy - sx * sy)
      |    / sqrt((n_rows * sxx - sx * sx) * (n_rows * syy - sy * sy)), 4)
      |    AS spearman
      |FROM g ORDER BY flag""".stripMargin

  /** q178: association rules — q117's co-occurrence pairs promoted to
    * directed rules with the standard market-basket metrics:
    * confidence(A→B) = supp(AB)/supp(A) and lift = N·supp(AB)/
    * (supp(A)·supp(B)). Every metric derives from exact integer
    * supports (pair counts from the basket self-join, item supports
    * from one groupBy, N = distinct baskets), so both engines compute
    * identical doubles; ranking is by rounded lift with a full key
    * tiebreak.
    *
    * Scale: the pair self-join is the q117 kernel (equi on basket id,
    * O(k²) per basket with k = items-per-order bounded); item supports
    * broadcast (a |parts| dimension); top-20 lands in
    * TakeOrderedAndProject — partial top-k, never a full sort.
    */
  def associationRules(spark: SparkSession, dir: String): DataFrame = {
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val supp = items.groupBy(col("pk")).agg(count(lit(1)).as("s"))
    val nBaskets = items.select(countDistinct(col("ok")).as("nb"))
    val pairs = items.as("a").join(items.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("p1"), col("b.pk").as("p2"))
      .agg(count(lit(1)).as("sp"))
      .filter(col("sp") >= 2)
    val rules = pairs.select(col("p1").as("ante"), col("p2").as("cons"), col("sp"))
      .unionByName(pairs.select(col("p2").as("ante"), col("p1").as("cons"), col("sp")))
    rules
      .join(broadcast(supp.withColumnRenamed("pk", "ante")
        .withColumnRenamed("s", "s_ante")), Seq("ante"))
      .join(broadcast(supp.withColumnRenamed("pk", "cons")
        .withColumnRenamed("s", "s_cons")), Seq("cons"))
      .crossJoin(broadcast(nBaskets))
      .select(col("ante"), col("cons"), col("sp").cast("bigint").as("support"),
        round(col("sp").cast("double") / col("s_ante"), 4).as("confidence"),
        round(col("sp").cast("double") * col("nb") /
          (col("s_ante") * col("s_cons")), 4).as("lift"))
      .orderBy(col("lift").desc, col("ante"), col("cons"))
      .limit(20)
  }

  private val associationRulesSql =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |), supp AS (
      |  SELECT pk, count(*)::BIGINT AS s FROM items GROUP BY pk
      |), nb AS (
      |  SELECT count(DISTINCT ok)::BIGINT AS nb FROM items
      |), pairs AS (
      |  SELECT a.pk AS p1, b.pk AS p2, count(*)::BIGINT AS sp
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2
      |), rules AS (
      |  SELECT p1 AS ante, p2 AS cons, sp FROM pairs
      |  UNION ALL
      |  SELECT p2 AS ante, p1 AS cons, sp FROM pairs
      |)
      |SELECT r.ante, r.cons, r.sp AS support,
      |  round(r.sp::DOUBLE / sa.s, 4) AS confidence,
      |  round(r.sp::DOUBLE * nb.nb / (sa.s * sc.s), 4) AS lift
      |FROM rules r
      |JOIN supp sa ON r.ante = sa.pk
      |JOIN supp sc ON r.cons = sc.pk
      |CROSS JOIN nb
      |ORDER BY lift DESC, ante, cons LIMIT 20""".stripMargin

  /** q179: seasonal-naive forecast backtest — the standard baseline
    * evaluation a forecasting pipeline runs before anything fancier:
    * per nation, forecast each day's revenue with the naive (previous
    * observation) and seasonal-naive (7 observations back) rules, then
    * score both on the common evaluation window. Error metrics are
    * ratio-of-sums (WAPE = Σ|e|/Σactual, bias = Σe/Σactual) — exact
    * integer cent sums with ONE double division at output, never a
    * float-per-row average whose accumulation order could differ
    * between engines.
    *
    * Scale: one (nation, day) aggregation, per-nation lag windows on
    * the day-level series (bounded by the calendar), one final
    * aggregate. The per-row metric never shuffles.
    */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nationkey"), col("n_name"))
    val daily = Tables.orders(spark, dir)
      .join(broadcast(cust), Seq("o_custkey"))
      .join(broadcast(nat), Seq("c_nationkey"))
      .groupBy(col("n_name"), col("o_orderdate").as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("rev"))
    val w = Window.partitionBy(col("n_name")).orderBy(col("day"))
    daily
      .withColumn("f1", lag(col("rev"), 1).over(w))
      .withColumn("f7", lag(col("rev"), 7).over(w))
      .filter(col("f7").isNotNull) // common eval window (f1 exists too)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).cast("bigint").as("n_eval"),
        sum(abs(col("rev") - col("f1"))).as("ae1"),
        sum(abs(col("rev") - col("f7"))).as("ae7"),
        sum(col("rev") - col("f7")).as("e7"),
        sum(col("rev")).as("act"))
      .select(col("n_name"), col("n_eval"),
        round(col("ae1").cast("double") / col("act"), 4).as("wape_naive"),
        round(col("ae7").cast("double") / col("act"), 4).as("wape_seasonal"),
        round(col("e7").cast("double") / col("act"), 4).as("bias_seasonal"))
      .orderBy(col("n_name"))
  }

  private val forecastBacktestSql =
    """WITH daily AS (
      |  SELECT n.n_name, o.o_orderdate AS day,
      |    sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS rev
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY n.n_name, o.o_orderdate
      |), lagged AS (
      |  SELECT n_name, rev,
      |    lag(rev, 1) OVER w AS f1, lag(rev, 7) OVER w AS f7
      |  FROM daily WINDOW w AS (PARTITION BY n_name ORDER BY day)
      |)
      |SELECT n_name, count(*)::BIGINT AS n_eval,
      |  round(sum(abs(rev - f1))::DOUBLE / sum(rev), 4) AS wape_naive,
      |  round(sum(abs(rev - f7))::DOUBLE / sum(rev), 4) AS wape_seasonal,
      |  round(sum(rev - f7)::DOUBLE / sum(rev), 4) AS bias_seasonal
      |FROM lagged WHERE f7 IS NOT NULL
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** q181: Herfindahl–Hirschman market concentration — per region, the
    * HHI of supplier revenue shares (the antitrust-standard Σ shareᵢ²,
    * scaled ×10000), plus the equivalent-competitor count 1/Σs². The
    * identity HHI = 10⁴·Σrᵢ²/(Σrᵢ)² lets every accumulation stay an
    * exact integer (Σrᵢ² in decimal(38,0)/HUGEINT); the single double
    * division happens once per region at output.
    *
    * Scale: supplier revenue is one fact aggregation keyed by
    * (region, supplier) — partial map-side; the region rollup that
    * follows is |suppliers|-sized. Dimensions broadcast.
    */
  def marketConcentration(spark: SparkSession, dir: String): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nationkey"), col("n_regionkey"))
    val reg = Tables.region(spark, dir)
      .select(col("r_regionkey").as("n_regionkey"), col("r_name"))
    val bySupp = Tables.lineitem(spark, dir)
      .join(broadcast(supp), Seq("l_suppkey"))
      .join(broadcast(nat), Seq("s_nationkey"))
      .join(broadcast(reg), Seq("n_regionkey"))
      .groupBy(col("r_name"), col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rev"))
    bySupp.groupBy(col("r_name"))
      .agg(count(lit(1)).cast("bigint").as("n_suppliers"),
        sum(col("rev")).cast("double").as("tot"),
        // multiply in decimal: rev² overflows int64 (rev is per-supplier
        // lifetime cents)
        sum(col("rev").cast("decimal(38,0)") * col("rev"))
          .cast("double").as("sq"))
      .select(col("r_name"), col("n_suppliers"),
        round(lit(10000.0) * col("sq") / (col("tot") * col("tot")), 4)
          .as("hhi"),
        round(col("tot") * col("tot") / col("sq"), 2).as("n_effective"))
      .orderBy(col("r_name"))
  }

  private val marketConcentrationSql =
    """WITH by_supp AS (
      |  SELECT r.r_name, l.l_suppkey,
      |    sum(round(l.l_extendedprice * 100)::BIGINT)::BIGINT AS rev
      |  FROM lineitem l
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY r.r_name, l.l_suppkey
      |)
      |SELECT r_name, count(*)::BIGINT AS n_suppliers,
      |  round(10000.0 * sum(rev::HUGEINT * rev)::DOUBLE
      |    / (sum(rev)::DOUBLE * sum(rev)::DOUBLE), 4) AS hhi,
      |  round(sum(rev)::DOUBLE * sum(rev)::DOUBLE
      |    / sum(rev::HUGEINT * rev)::DOUBLE, 2) AS n_effective
      |FROM by_supp GROUP BY r_name ORDER BY r_name""".stripMargin

  /** q186: contingency-table standardized residuals — the cell-level
    * diagnostic behind q114's chi-square verdict: for every
    * (priority, status) cell, observed count, expected count under
    * independence (rowΣ·colΣ/N), and the Pearson residual
    * (obs−exp)/√exp that localizes WHICH cells drive the dependence.
    * Marginals attach via two broadcast joins of the 5-row/3-row
    * margin tables onto the ≤15-row cell relation; every input to the
    * double expressions is an exact integer count.
    *
    * Scale: one conditional-count aggregation over the fact table;
    * everything downstream is margin-table algebra on O(cells) rows.
    */
  def contingencyResiduals(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("prio"),
        col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("obs"))
    val rowTot = cells.groupBy(col("prio")).agg(sum(col("obs")).as("rt"))
    val colTot = cells.groupBy(col("status")).agg(sum(col("obs")).as("ct"))
    val n = cells.agg(sum(col("obs")).as("n"))
    cells
      .join(broadcast(rowTot), Seq("prio"))
      .join(broadcast(colTot), Seq("status"))
      .crossJoin(broadcast(n))
      .withColumn("exp",
        col("rt").cast("double") * col("ct") / col("n"))
      .select(col("prio"), col("status"), col("obs").cast("bigint").as("obs"),
        round(col("exp"), 2).as("expected"),
        round((col("obs") - col("exp")) / sqrt(col("exp")), 4).as("residual"))
      .orderBy(col("prio"), col("status"))
  }

  private val contingencyResidualsSql =
    """WITH cells AS (
      |  SELECT o_orderpriority AS prio, o_orderstatus AS status,
      |    count(*)::BIGINT AS obs
      |  FROM orders GROUP BY 1, 2
      |), rt AS (SELECT prio, sum(obs)::BIGINT AS rt FROM cells GROUP BY prio
      |), ct AS (SELECT status, sum(obs)::BIGINT AS ct FROM cells GROUP BY status
      |), n AS (SELECT sum(obs)::BIGINT AS n FROM cells)
      |SELECT c.prio, c.status, c.obs,
      |  round(rt.rt::DOUBLE * ct.ct / n.n, 2) AS expected,
      |  round((c.obs - rt.rt::DOUBLE * ct.ct / n.n)
      |        / sqrt(rt.rt::DOUBLE * ct.ct / n.n), 4) AS residual
      |FROM cells c
      |JOIN rt ON c.prio = rt.prio
      |JOIN ct ON c.status = ct.status
      |CROSS JOIN n
      |ORDER BY c.prio, c.status""".stripMargin

  /** q191: RFM segmentation — the classic customer scoring grid:
    * recency (days since last order, anchored at the corpus max date),
    * frequency (order count), monetary (exact lifetime cents), each
    * quintiled by ntile(5) over a FULLY tie-broken order (value, then
    * custkey — ntile is positional, so determinism requires a total
    * order) with the orientation making 5 always "best". Output is the
    * segment grid with sizes and average spend.
    *
    * Scale: one orders aggregation to the |customers| relation; three
    * distributed ntiles over that aggregate (range-partitioned 2-pass
    * rank + arithmetic bucketing, `ScaledWindows.ntile` — no
    * single-partition sort of the customer domain); the grid is ≤125
    * rows.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate").cast("date")).as("last_d"),
        count(lit(1)).as("f"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("m"))
    val anchor = Tables.orders(spark, dir)
      .agg(max(col("o_orderdate").cast("date")).as("max_d"))
    val base = perCust.crossJoin(broadcast(anchor))
      .withColumn("r", datediff(col("max_d"), col("last_d")).cast("long"))
    // orientation: ntile 5 = best (most recent / most frequent / top
    // spend); the customer-domain relation takes the distributed ntile
    // (exact SQL semantics), not a single-task global window
    val scored = ScaledWindows.ntile(
      ScaledWindows.ntile(
        ScaledWindows.ntile(base,
          Seq(col("r").desc, col("o_custkey")), 5, "r_score"),
        Seq(col("f").asc, col("o_custkey")), 5, "f_score"),
      Seq(col("m").asc, col("o_custkey")), 5, "m_score")
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).cast("bigint").as("n_customers"),
        sum(col("m")).as("m_sum"))
      .select(col("r_score"), col("f_score"), col("m_score"),
        col("n_customers"),
        // integer half-up average (q121's trick): exact cents, no float
        // rounding boundary between engines
        expr("(2 * m_sum + n_customers) div (2 * n_customers)")
          .cast("long").as("avg_spend_c"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  private val rfmSegmentsSql =
    """WITH per_cust AS (
      |  SELECT o_custkey, max(o_orderdate::DATE) AS last_d,
      |    count(*)::BIGINT AS f,
      |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS m
      |  FROM orders GROUP BY o_custkey
      |), anchor AS (
      |  SELECT max(o_orderdate::DATE) AS max_d FROM orders
      |), scored AS (
      |  SELECT o_custkey, f, m,
      |    datediff('day', last_d, max_d)::BIGINT AS r,
      |    ntile(5) OVER (ORDER BY datediff('day', last_d, max_d)::BIGINT DESC,
      |                   o_custkey) AS r_score,
      |    ntile(5) OVER (ORDER BY f ASC, o_custkey) AS f_score,
      |    ntile(5) OVER (ORDER BY m ASC, o_custkey) AS m_score
      |  FROM per_cust CROSS JOIN anchor
      |)
      |SELECT r_score, f_score, m_score, count(*)::BIGINT AS n_customers,
      |  ((2 * sum(m) + count(*)) // (2 * count(*)))::BIGINT AS avg_spend_c
      |FROM scored GROUP BY r_score, f_score, m_score
      |ORDER BY r_score, f_score, m_score""".stripMargin

  /** q204: item-item collaborative filtering — cosine similarity over
    * binary customer co-purchase vectors, the classic neighborhood
    * recommender ("customers who bought X also bought"). cos(a,b) =
    * |A∩B| / √(|A|·|B|) where A is the set of customers who ever bought
    * item a. Reported: top-5 neighbors for each of the 50 most-bought
    * items (popularity-deterministic query set).
    *
    * Scale shape: NEVER an item×item join — co-occurrence comes from
    * the per-customer basket expansion (the q35 posting kernel reused
    * via [[graft.functions.PairExpandFunctions]]): cost is Σ_c |basket_c|²,
    * and baskets over 256 distinct items are dropped (the power-buyer
    * cap every production CF pipeline applies — such baskets cost df²
    * and carry near-zero signal; non-binding on this corpus and
    * mirrored in the oracle). Neighbor ranking is a per-item window
    * top-5 (WindowGroupLimit, partial per group).
    */
  /** Shared capped co-purchase basket build. r17 (VERDICT r16 #5,
    * guide §2.5 two-level aggregation): the r16 shape hashed the RAW
    * (cust, item) join output on cust alone, so one pathological
    * mega-customer's entire pre-dedup row mass landed on a single
    * task. Now the dedup is its own partial-aggregated pass on the
    * skew-free (cust, item) key: map-side partial dedup (a pair-key
    * hash, no per-group buffers — it also spreads the 1-split sf
    * scan, the r10 fix) before an exchange that spreads even a
    * mega-customer's rows across reducers by the full pair key, so
    * the later hash(cust) exchange ships only DEDUPED rows — at
    * production dup ratios (repeat purchases) that shuffle shrinks by
    * the dup factor, and the per-cust set build is bounded by
    * distinct items, not raw history. (A first r17 cut ran partial
    * collect_set over a raw round-robin spread instead — BenchOne
    * liked it, but the sweep instrument showed the map-side per-cust
    * set buffers aging the shared heap: q217/q204 in-sweep walls rose
    * ~15% and even untouched later queries drifted, so it was
    * replaced by this shape.) The merged per-cust set IS the posting
    * list every pair kernel wants,
    * so the basket cap (≤256 DISTINCT items — same semantics as the
    * old count-distinct keep join) is a size() filter and the old
    * keep aggregation + join and the callers' posts re-aggregation
    * all disappear. Returns (posts, b, itemN): posts = (cust, ds
    * array) persisted; b = its explode (derived, not persisted — one
    * cheap codegen pass per consumer over the compact cached sets);
    * itemN persisted. Callers release posts/itemN via Materialize. */
  private def coPurchaseBaskets(spark: SparkSession, dir: String,
      wide: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    val deduped = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("item"))
      .distinct()
    // width pin, per consumer: AQE coalesces the small deduped
    // exchanges to 2–3 partitions at sf, and the persisted posts
    // inherit that. For the FULL Σbsz² kernels (q217, q323/q324) a
    // narrow cache serializes the scan-fused expansion (the r10
    // single-split pathology; measured: q217 7.5 → 10.9 s at 2-wide),
    // so they pin the session's parallelism — a user-specified
    // numPartitions is exempt from AQE coalescing, and hash(cust)
    // lets the set build run in place on it. The anchor-restricted
    // consumers (q204/q322/q325/q326) do orders of magnitude less
    // work per basket and measured FASTER on the AQE-sized cache
    // (q204 2.5 → 1.5 s in-sweep): fewer, fuller tasks beat 32-way
    // scheduling at their work size, so they skip the pin.
    val keyed =
      if (wide) deduped.repartition(
        spark.sparkContext.defaultParallelism, col("cust"))
      else deduped
    val posts = keyed
      .groupBy(col("cust")).agg(collect_set(col("item")).as("ds"))
      .filter(size(col("ds")) <= 256)
      .persist()
    val b = posts.select(col("cust"), explode(col("ds")).as("item"))
    val itemN = b.groupBy(col("item")).agg(count(lit(1)).as("n_cust")).persist()
    (posts, b, itemN)
  }

  /** Top-K most-bought items (n_cust desc, item tiebreak) as driver
    * values — the S9-bounded anchor collect (K + ties is human-scale
    * by contract, the q326 discipline). */
  private def topAnchors(itemN: DataFrame, k: Int): Array[Long] =
    itemN.orderBy(col("n_cust").desc, col("item")).limit(k)
      .select(col("item")).collect().map(_.getLong(0))

  def itemNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val (posts, _, itemN) = coPurchaseBaskets(spark, dir)
    // Anchor-restricted kernel (r16, guide §1.2 step 1): the output
    // only ranks neighbors of the top-50 anchors, so every pair with
    // NO anchor endpoint was expanded, shuffled, and aggregated only
    // to die in the final broadcast(top50) join. anchorPairExpandIds
    // emits exactly the anchor-incident subset in-task — the Σbsz²
    // expansion (13.1M pair rows at sf0.1) collapses to the
    // anchor-incident mass, and the bare-id kernel drops the nsh=0
    // payload the r11 pair-key-only shape still carried. Degrees join
    // back post-agg from the broadcast dimension, unchanged.
    val anchors = topAnchors(itemN, 50)
    val pairs = posts.select(explode(
        graft.functions.PairExpandFunctions.anchorPairExpandIds(
          col("ds"), anchors.toSeq)).as("p"))
      .select(col("p.id_a").as("doc_a"), col("p.id_b").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("co"))
    // symmetrize IN-TASK (r16): the old unionAll read `pairs` twice,
    // which forced a persist whose cache materialization cost more
    // than the kernel itself (probe-measured); exploding both
    // directions of each aggregated pair row keeps the relation
    // single-pass and fuses straight into the degree joins
    val sym = pairs.select(explode(array(
        struct(col("doc_a").as("item"), col("doc_b").as("neighbor"), col("co")),
        struct(col("doc_b").as("item"), col("doc_a").as("neighbor"), col("co"))))
        .as("s"))
      .select(col("s.item").as("item"), col("s.neighbor").as("neighbor"),
        col("s.co").as("co"))
      .join(broadcast(itemN.select(col("item"), col("n_cust").as("ni"))),
        Seq("item"))
      .join(broadcast(itemN.select(col("item").as("neighbor"),
        col("n_cust").as("nn"))), Seq("neighbor"))
      .withColumn("cosine", col("co").cast("double") /
        sqrt(col("ni").cast("double") * col("nn")))
    // the anchor relation, rebuilt from the collected values so the
    // final filter and the kernel's anchor set cannot diverge
    import spark.implicits._
    val top50 = spark.createDataset(anchors.toSeq).toDF("item")
    val w = Window.partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("neighbor"))
    Materialize.releasing(
      sym.join(broadcast(top50), Seq("item"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("item"), col("rank"), col("neighbor"),
          col("co").cast("bigint").as("n_co_buyers"),
          round(col("cosine"), 4).as("cosine"))
        .orderBy(col("item"), col("rank")),
      itemN, posts)
  }

  private val itemNeighborsSql =
    """WITH baskets AS (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |), keep AS (
      |  SELECT cust FROM baskets GROUP BY cust HAVING count(*) <= 256
      |), b AS (
      |  SELECT baskets.* FROM baskets JOIN keep USING (cust)
      |), itemn AS (
      |  SELECT item, count(*) AS n_cust FROM b GROUP BY item
      |), pairs AS (
      |  SELECT x.item AS ia, y.item AS ib, count(*) AS co
      |  FROM b x JOIN b y ON x.cust = y.cust AND x.item < y.item
      |  GROUP BY x.item, y.item
      |), sym AS (
      |  SELECT ia AS item, ib AS neighbor, co FROM pairs
      |  UNION ALL
      |  SELECT ib, ia, co FROM pairs
      |), scored AS (
      |  SELECT s.item, s.neighbor, s.co,
      |    s.co::DOUBLE / sqrt(a.n_cust::DOUBLE * b2.n_cust) AS cosine
      |  FROM sym s JOIN itemn a ON s.item = a.item
      |  JOIN itemn b2 ON s.neighbor = b2.item
      |), top50 AS (
      |  SELECT item FROM itemn ORDER BY n_cust DESC, item LIMIT 50
      |), ranked AS (
      |  SELECT s.item, s.neighbor, s.co, s.cosine,
      |    row_number() OVER (PARTITION BY s.item
      |      ORDER BY s.cosine DESC, s.neighbor) AS rank
      |  FROM scored s JOIN top50 USING (item)
      |)
      |SELECT item, rank, neighbor, co::BIGINT AS n_co_buyers,
      |  round(cosine, 4) AS cosine
      |FROM ranked WHERE rank <= 5 ORDER BY item, rank""".stripMargin

  /** q322: DIMSUM-sampled item-item similarity — the DISCO cosine
    * sampler of Zadeh & Carlsson, "Dimension Independent Similarity
    * Computation" (2013): the joint emit probability
    * p = min(1, γ/√(nᵢnⱼ)) per co-occurrence. (MLlib's
    * `RowMatrix.columnSimilarities(threshold)` implements the related
    * per-endpoint variant min(1,√γ/‖cᵢ‖)·min(1,√γ/‖cⱼ‖); both are
    * unbiased, but they are NOT the same draw — ADVICE r12.) This is the
    * cluster-scale escape hatch SCALE.md has documented since round 11
    * for the exact Σbsz² pair kernel (q204/q217), now a first-class,
    * oracle-gated operator instead of a citation. Each within-basket
    * pair (i, j) is emitted with probability
    * `p = min(1, γ/√(nᵢ·nⱼ))` and the cosine estimate divides observed
    * emits by `p·√(nᵢ·nⱼ)`: unbiased where sampling engaged, EXACT
    * (p = 1) where it did not. The expected emit count of ANY pair is
    * ≤ γ regardless of popularity — the high-degree hub pairs, exactly
    * where the exact kernel's quadratic cost lives, are throttled
    * hardest, which is what makes the shuffle dimension-independent.
    *
    * Cross-engine determinism (no rand(), no sampling state): the
    * Bernoulli draw is the portable 60-bit md5 uniform of
    * `cust|doc_a|doc_b` reduced mod 1e6 (the q38/q72/q153 hash
    * discipline), compared against `p·1e6` computed with the same IEEE
    * op sequence in both engines; the estimator divides exact integer
    * emit counts by doubles derived from exact integer degrees, one op
    * order. Output is bit-replayable under any partitioning or engine.
    *
    * Scale shape — what DIMSUM buys over q204's exact kernel: degrees
    * ride INTO the expansion (broadcast catalog-sized dimension joined
    * pre-collect), so the keep/kill decision happens inside the
    * expansion task and sampled-away pairs never reach the wire. The
    * aggregation input shrinks from Σ_c bsz² to ≤ γ·|observed pairs|
    * in expectation, concentration by Chernoff (the paper's Thm 2-3).
    * Post-aggregation the q217 discipline resumes: the kernel emits
    * pair KEYS only; degrees join back from the broadcast dimension.
    */
  val DimsumGamma = 50.0

  /** Broadcast budget for q322's catalog-sized degree dimension
    * (VERDICT r12 #2, the Dedup.scala minHashLsh discipline): itemN is
    * one (item, n_cust) row per catalog entry — ~2M rows collects to
    * ~200 MiB driver-side, the edge of sane. q322's whole point is the
    * 100 TB regime where the CATALOG co-scales with traffic, so an
    * explicit hint with no guard eventually dies with driver OOM
    * instead of degrading; past the budget the degree joins fall back
    * to shuffle joins (AQE-planned) — slower, never fatal. The count is
    * a cheap job over the already-persisted aggregate. Measured
    * fallback cost: SCALE.md round 13. */
  val DimsumItemBudget = 2000000L

  def dimsumNeighbors(spark: SparkSession, dir: String): DataFrame =
    dimsumNeighbors(spark, dir, DimsumItemBudget, DimsumGamma)

  /** Budget/γ-parameterized body. γ is exposed for the accuracy sweep
    * (VERDICT r12 #4: ScaleProbe `dimsumacc` mode measures estimator
    * error and top-5 rank agreement vs exact q204 across γ tiers) and
    * for the in-suite sampled-regime envelope pin — the oracle-gated
    * q322 always runs at [[DimsumGamma]]. */
  private[graft] def dimsumNeighbors(spark: SparkSession, dir: String,
      itemBudget: Long, gamma: Double = DimsumGamma): DataFrame = {
    // Anchor-restricted kernel (r16, guide §1.2 step 1): q322 ranks
    // only the top-50 hub anchors, so the sampled expansion keeps just
    // the anchor-incident pairs in-task (same DIMSUM draw per kept
    // pair — emit counts for surviving pairs are bit-identical).
    // q323/q324 still run the full kernel (their ε-threshold scans the
    // whole catalog).
    val k = dimsumScored(spark, dir, itemBudget, gamma, anchorK = Some(50))
    import spark.implicits._
    // 50-row LocalRelation: auto-broadcast by size, no explicit hint —
    // the over-budget path's no-catalog-hints contract stays clean
    val top50 = spark.createDataset(k.anchors.get).toDF("item")
    val w = Window.partitionBy(col("item"))
      .orderBy(col("est_cosine").desc, col("neighbor"))
    Materialize.releasing(
      k.sym.join(top50, Seq("item"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("item"), col("rank"), col("neighbor"),
          col("emits").cast("bigint").as("n_emits"),
          round(col("est_cosine"), 4).as("est_cosine"))
        .orderBy(col("item"), col("rank")),
      k.releasables: _*)
  }

  /** The shared DIMSUM kernel's products: the symmetric scored
    * relation (item, neighbor, emits, est_cosine), the degree
    * dimension, the kept-basket relation (persisted — q323's verify
    * phase re-reads it), whether the degree dimension fit the
    * broadcast budget, and the persisted intermediates the caller
    * releases through [[Materialize]]. */
  private final case class DimsumKernel(sym: DataFrame, itemN: DataFrame,
      baskets: DataFrame, itemNHinted: Boolean, releasables: Seq[DataFrame],
      anchors: Option[Seq[Long]] = None)

  /** q322 ranks the kernel (top-5 per hub anchor); q323 thresholds
    * and exactly verifies it. `anchorK = Some(k)` restricts the
    * expansion to pairs incident to the top-k anchors (r16) — the
    * emitted-pair subset a post-expansion anchor filter would keep,
    * with identical per-pair draws; None keeps the full Σbsz²
    * expansion for the threshold-family consumers. */
  private def dimsumScored(spark: SparkSession, dir: String,
      itemBudget: Long, gamma: Double,
      anchorK: Option[Int] = None): DimsumKernel = {
    // full-catalog kernel (no anchor restriction) = the Σbsz² shape
    // that needs the wide posts cache; anchor-restricted stays narrow
    val (posts0, b, itemN) = coPurchaseBaskets(spark, dir,
      wide = anchorK.isEmpty)
    val anchors = anchorK.map(k => topAnchors(itemN, k).toSeq)
    val hinted = itemN.count() <= itemBudget
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (hinted) broadcast(df) else df
    val posts = b.join(maybeBroadcast(itemN), Seq("item"))
      .select(col("cust"), struct(col("item").as("doc_id"),
        col("n_cust").cast("int").as("nsh")).as("e"))
      .groupBy(col("cust")).agg(collect_list(col("e")).as("ds"))
    // No pre-expansion repartition (measured, the q154 discipline): the
    // expand+md5 kernel already lands on the 32-wide reduce side of the
    // posts groupBy — a forced spread read wall-identical (5.05 s both
    // ways at sf0.1) and only added a shuffle.
    val expanded = posts.select(col("cust"), explode(anchors match {
        case Some(a) =>
          graft.functions.PairExpandFunctions.anchorPairExpand(col("ds"), a)
        case None =>
          graft.functions.PairExpandFunctions.pairExpand(col("ds"))
      }).as("p"))
    val rootProd = sqrt(
      (col("p.nsh_a").cast("long") * col("p.nsh_b")).cast("double"))
    val pKeep = least(lit(1.0), lit(gamma) / rootProd)
    val u = pmod(conv(substring(md5(concat_ws("|",
        col("cust").cast("string"), col("p.doc_a").cast("string"),
        col("p.doc_b").cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(1000000L))
    // The ||'s left arm (p = 1 ⟺ γ ≥ √(nᵢ·nⱼ)) short-circuits the md5
    // draw for pairs sampling never touches — at toy degrees that is
    // most pairs, at production degrees none, and the predicate VALUE
    // is identical either way. Production swaps the portable md5 (the
    // DuckDB-replayable oracle contract) for a native 64-bit hash.
    val emits = expanded
      .filter(lit(gamma) >= rootProd ||
        u.cast("double") < pKeep * lit(1e6))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("emits"))
    def est(ni: Column, nn: Column): Column = {
      val prod = sqrt((ni * nn).cast("double"))
      col("emits").cast("double") /
        (least(lit(1.0), lit(gamma) / prod) * prod)
    }
    // in-task symmetrization (r16): one explode emits both directions
    // of each aggregated pair row, so the kernel output is single-pass
    // and needs no persist for the old unionAll's two reads
    val sym = emits.select(explode(array(
        struct(col("doc_a").as("item"), col("doc_b").as("neighbor"),
          col("emits")),
        struct(col("doc_b").as("item"), col("doc_a").as("neighbor"),
          col("emits")))).as("s"))
      .select(col("s.item").as("item"), col("s.neighbor").as("neighbor"),
        col("s.emits").as("emits"))
      .join(maybeBroadcast(itemN.select(col("item"), col("n_cust").as("ni"))),
        Seq("item"))
      .join(maybeBroadcast(itemN.select(col("item").as("neighbor"),
        col("n_cust").as("nn"))), Seq("neighbor"))
      .withColumn("est_cosine", est(col("ni"), col("nn")))
    DimsumKernel(sym, itemN, b, hinted, Seq(posts0, itemN), anchors)
  }

  /** q323: threshold-mode DIMSUM, TWO-PHASE — all pairs with EXACT
    * cosine ≥ [[DimsumEpsilon]], found by sampled candidate generation
    * plus exact verification. The r13 accuracy probe killed the naive
    * one-phase design with a measurement: at the fixed-catalog 10×
    * tier the pure sampled ε-set read 149,714 pairs against 512 true —
    * precision 0.002 — because a per-pair-UNBIASED estimator still has
    * a fat upper tail, and "est ≥ ε" is a multiple-comparison over
    * millions of below-threshold pairs (FP count ≈ |pairs| ·
    * P[Bin(co, p) ≥ γε] — corpus-sized no matter how good the
    * estimator). This is also how DISCO is deployed in practice: the
    * sampler PRUNES, an exact pass DECIDES.
    *
    *  - Phase 1 (candidates): the shared sampled kernel; canonical
    *    pairs whose estimate clears ε·[[DimsumCandidateBar]]. A true
    *    pair (cosine ≥ ε) has E[emits] ≥ γε, so missing the half-bar
    *    needs a lower-tail deviation past 2× — exp(−γε/8)-small by
    *    Chernoff, and γ tunes it (the probe measures realized recall).
    *  - Phase 2 (verify): exact co-occurrence counts for CANDIDATE
    *    pairs only — baskets semi-joined to candidate-incident items,
    *    self-joined per customer, pruned to the candidate set BEFORE
    *    the count aggregation, cosine from the full-degree dimension.
    *    Output is exact: precision 1 by construction; overall recall =
    *    candidate recall. Cost ∝ candidate-incident basket mass, which
    *    γ and the bar tune — never the full Σbsz² expansion.
    *
    * The candidate prune join is broadcast only under the same 2M-row
    * budget discipline as the degree dimension (a loose bar or low γ
    * degrades to a shuffle join, never a driver OOM). Both phases are
    * engine-portable (the draw is the shared md5 uniform; the verify
    * is plain relational algebra), so the DuckDB oracle replays the
    * full two-phase pipeline exactly. p = 1 (γ ≥ all √(nᵢnⱼ)) makes
    * phase 1 lossless and the output IS the exact ε-set — the fixture
    * spec pins that identity.
    */
  val DimsumEpsilon = 0.12

  /** Candidate bar as a fraction of ε (phase-1 keep: est ≥ ε·bar). */
  val DimsumCandidateBar = 0.5

  /** Broadcast budget for the candidate-pair prune relation. Separate
    * from (and looser than) [[DimsumItemBudget]] deliberately: these
    * rows are two bare longs (≈16 B payload; ~4M ≈ a few hundred MiB
    * hashed), not minHashLsh's shingle-hash arrays — and the budget is
    * load-bearing, measured: the 10×-disjoint tier carries 2.82M
    * candidates (the corpus's irreducible near-ε cosine band plus
    * estimator tail), and at the old 2M bound the prune degraded to a
    * sort-merge join that put the FULL unpruned pair expansion on the
    * wire (+2.6 GiB, wall 28 → 67 s). Broadcast keeps the prune
    * in-task — the expansion dies before the exchange, the q217
    * discipline. Past even this budget the fallback remains the safe
    * shuffle join. */
  val DimsumCandidateBudget = 4000000L

  def dimsumThresholdPairs(spark: SparkSession, dir: String): DataFrame =
    dimsumThresholdPairs(spark, dir, DimsumGamma)

  /** Probe diagnostic (ScaleProbe dimsumdiag): phase-1 candidate-pair
    * count, candidate-incident item count, and verify-subgraph basket
    * rows per tier — the sizes that decide q323's prune-join plan and
    * verify cost. */
  private[graft] def dimsumCandidateDiag(spark: SparkSession,
      dir: String): String = {
    val k = dimsumScored(spark, dir, DimsumItemBudget, DimsumGamma)
    val cand = k.sym
      .filter(col("est_cosine") >= lit(DimsumEpsilon * DimsumCandidateBar) &&
        col("item") < col("neighbor"))
      .select(col("item").as("ca"), col("neighbor").as("cb"))
      .persist()
    val nCand = cand.count()
    val candItems = cand.select(col("ca").as("item"))
      .unionAll(cand.select(col("cb").as("item"))).distinct()
    val nItems = candItems.count()
    val nVb = k.baskets.join(broadcast(candItems), Seq("item")).count()
    val nB = k.baskets.count()
    (k.releasables :+ cand).foreach(_.unpersist())
    f"cand_pairs=$nCand%-9d cand_items=$nItems%-8d verify_baskets=$nVb%-10d of_total=$nB%-10d"
  }

  /** γ-parameterized for the accuracy probe: γ = 1e18 makes every
    * pair's p = 1, so phase 1 is lossless and the result is the exact
    * threshold set — the ground truth recall is scored against
    * (ScaleProbe dimsumacc). */
  private[graft] def dimsumThresholdPairs(spark: SparkSession, dir: String,
      gamma: Double, candBudget: Long = DimsumCandidateBudget): DataFrame = {
    val (verified, k, extras) = dimsumVerified(spark, dir, gamma, candBudget)
    // in-task symmetrization (r16): the unionAll's second read of
    // `verified` duplicated the ENTIRE two-phase plan tree through the
    // union (persist dedups execution, not planning — the analyzed
    // plan was ~190k explain lines and planning dominated the sf0.01
    // wall); one explode keeps the tree single-branch
    Materialize.releasing(
      verified.select(explode(array(
          struct(col("a").as("item"), col("b").as("neighbor"),
            col("co"), col("cosine")),
          struct(col("b").as("item"), col("a").as("neighbor"),
            col("co"), col("cosine")))).as("s"))
        .select(col("s.item").as("item"), col("s.neighbor").as("neighbor"),
          col("s.co").cast("bigint").as("n_co_buyers"),
          round(col("s.cosine"), 4).as("cosine"))
        .orderBy(col("item"), col("neighbor")),
      k.releasables ++ extras: _*)
  }

  /** The shared two-phase core of q323/q324: canonical verified pairs
    * (a < b, EXACT co-count and cosine ≥ ε) plus the kernel and the
    * extra persisted frames the caller must release. */
  private def dimsumVerified(spark: SparkSession, dir: String,
      gamma: Double, candBudget: Long): (DataFrame, DimsumKernel, Seq[DataFrame]) = {
    val k = dimsumScored(spark, dir, DimsumItemBudget, gamma)
    val cand = k.sym
      .filter(col("est_cosine") >= lit(DimsumEpsilon * DimsumCandidateBar) &&
        col("item") < col("neighbor"))
      .select(col("item").as("ca"), col("neighbor").as("cb"))
      .persist()
    val nCand = cand.count()
    val candHinted = nCand <= candBudget
    def maybeBItemN(df: DataFrame): DataFrame =
      if (k.itemNHinted) broadcast(df) else df
    val candItems = cand.select(col("ca").as("item"))
      .unionAll(cand.select(col("cb").as("item"))).distinct()
    // candidate-incident baskets only: the verify expansion is bounded
    // by the candidate structure, not the catalog
    val vb = k.baskets.join(
        if (candHinted) broadcast(candItems) else candItems, Seq("item"))
      .select(col("cust"), col("item")).persist()
    val expanded = vb.select(col("cust"), col("item").as("a"))
      .join(vb.select(col("cust"), col("item").as("b")), Seq("cust"))
      .filter(col("a") < col("b"))
    // The expansion must die IN-TASK, never on the wire (the q217
    // discipline — measured: an exchanged unpruned expansion cost
    // +2.6 GiB / +40 s at the 10×-disjoint tier). Under the candidate
    // budget the broadcast-hash prune does it; past the budget (28.2M
    // candidates at 100×-disjoint — the catalog-growing direction) a
    // BLOOM of the candidate pair keys keeps the kill map-side (~1.2 B
    // per key at 1% fpp, driver-collected like any runtime filter),
    // then the exact prune join runs on the bloom SURVIVORS after the
    // count aggregation — candidate-sized input, AQE-planned, and the
    // false positives die there, so the result stays exact.
    val exactCo =
      if (candHinted)
        expanded
          .join(broadcast(cand), col("a") === col("ca") && col("b") === col("cb"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("co"))
      else {
        val pairKey = (x: Column, y: Column) => xxhash64(x, y)
        val survivors = graft.functions.BloomSketch.collectSketch(
            cand.select(pairKey(col("ca"), col("cb")).as("k")), col("k"),
            math.max(nCand, 1L), 0.01) match {
          case None => expanded.limit(0) // no candidates: empty result
          case Some(sketch) => expanded.filter(
            graft.functions.BloomSketch.mightContain(sketch,
              pairKey(col("a"), col("b"))))
        }
        survivors.groupBy(col("a"), col("b")).agg(count(lit(1)).as("co"))
          .join(cand, col("a") === col("ca") && col("b") === col("cb"))
          .select(col("a"), col("b"), col("co"))
      }
    // No persist (r17, ADVICE r16): the r14 pin existed because the
    // unionAll symmetrization read `verified` twice and the second
    // branch re-ran the whole verify DAG (41.7 GiB double-evaluated at
    // 100×-disjoint); both consumers now symmetrize with a single-read
    // explode (r16), so the relation is single-pass and the pin was
    // pure cache-materialization overhead on the consumers' only read.
    val verified = exactCo
      .join(maybeBItemN(k.itemN.select(col("item").as("a"),
        col("n_cust").as("na"))), Seq("a"))
      .join(maybeBItemN(k.itemN.select(col("item").as("b"),
        col("n_cust").as("nb"))), Seq("b"))
      .withColumn("cosine", col("co").cast("double") /
        sqrt((col("na") * col("nb")).cast("double")))
      .filter(col("cosine") >= lit(DimsumEpsilon))
    (verified, k, Seq(cand, vb))
  }

  /** Shared CTE prefix (baskets → kept → emits → sym → scored) of the
    * two DIMSUM oracles — one kernel, two consumers, in SQL as in
    * Scala. */
  private val dimsumKernelSql =
    s"""WITH baskets AS (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |), keep AS (
      |  SELECT cust FROM baskets GROUP BY cust HAVING count(*) <= 256
      |), b AS (
      |  SELECT baskets.* FROM baskets JOIN keep USING (cust)
      |), itemn AS (
      |  SELECT item, count(*)::BIGINT AS n_cust FROM b GROUP BY item
      |), kept AS (
      |  SELECT x.item AS doc_a, y.item AS doc_b
      |  FROM b x JOIN b y ON x.cust = y.cust AND x.item < y.item
      |  JOIN itemn nx ON nx.item = x.item
      |  JOIN itemn ny ON ny.item = y.item
      |  WHERE ${DimsumGamma} >= sqrt((nx.n_cust * ny.n_cust)::DOUBLE)
      |    OR (list_reduce(list_transform(generate_series(1, 15),
      |      i -> strpos('0123456789abcdef', substring(md5(
      |        x.cust::VARCHAR || '|' || x.item::VARCHAR || '|' ||
      |        y.item::VARCHAR), i, 1)) - 1),
      |      (acc, d) -> acc * 16 + d) % 1000000)::DOUBLE
      |    < least(1.0, ${DimsumGamma} / sqrt((nx.n_cust * ny.n_cust)::DOUBLE))
      |      * 1e6
      |), emits AS (
      |  SELECT doc_a, doc_b, count(*)::BIGINT AS emits
      |  FROM kept GROUP BY 1, 2
      |), sym AS (
      |  SELECT doc_a AS item, doc_b AS neighbor, emits FROM emits
      |  UNION ALL
      |  SELECT doc_b, doc_a, emits FROM emits
      |), scored AS (
      |  SELECT s.item, s.neighbor, s.emits,
      |    s.emits::DOUBLE
      |      / (least(1.0, ${DimsumGamma} / sqrt((a.n_cust * b2.n_cust)::DOUBLE))
      |         * sqrt((a.n_cust * b2.n_cust)::DOUBLE)) AS est_cosine
      |  FROM sym s JOIN itemn a ON s.item = a.item
      |  JOIN itemn b2 ON s.neighbor = b2.item
      |)""".stripMargin

  private val dimsumNeighborsSql =
    s"""$dimsumKernelSql, top50 AS (
      |  SELECT item FROM itemn ORDER BY n_cust DESC, item LIMIT 50
      |), ranked AS (
      |  SELECT s.item, s.neighbor, s.emits, s.est_cosine,
      |    row_number() OVER (PARTITION BY s.item
      |      ORDER BY s.est_cosine DESC, s.neighbor) AS rank
      |  FROM scored s JOIN top50 USING (item)
      |)
      |SELECT item, rank, neighbor, emits::BIGINT AS n_emits,
      |  round(est_cosine, 4) AS est_cosine
      |FROM ranked WHERE rank <= 5 ORDER BY item, rank""".stripMargin

  /** The two-phase replay: cand = the md5-replayable sampled prune,
    * exactco/verified = plain relational algebra over the same b/itemn
    * CTEs — precision-1 by construction in BOTH engines. */
  private val dimsumThresholdSql =
    s"""$dimsumKernelSql, cand AS (
      |  SELECT item AS ca, neighbor AS cb FROM scored
      |  WHERE est_cosine >= ${DimsumEpsilon * DimsumCandidateBar}
      |    AND item < neighbor
      |), exactco AS (
      |  SELECT x.item AS a, y.item AS b, count(*) AS co
      |  FROM b x JOIN b y ON x.cust = y.cust AND x.item < y.item
      |  JOIN cand ON cand.ca = x.item AND cand.cb = y.item
      |  GROUP BY 1, 2
      |), verified AS (
      |  SELECT a, b, co,
      |    co::DOUBLE / sqrt((na.n_cust * nb.n_cust)::DOUBLE) AS cosine
      |  FROM exactco
      |  JOIN itemn na ON na.item = a
      |  JOIN itemn nb ON nb.item = b
      |  WHERE co::DOUBLE / sqrt((na.n_cust * nb.n_cust)::DOUBLE)
      |    >= ${DimsumEpsilon}
      |)
      |SELECT item, neighbor, co::BIGINT AS n_co_buyers,
      |  round(cosine, 4) AS cosine
      |FROM (
      |  SELECT a AS item, b AS neighbor, co, cosine FROM verified
      |  UNION ALL
      |  SELECT b, a, co, cosine FROM verified
      |)
      |ORDER BY item, neighbor""".stripMargin

  /** Upper edge of q324's mining band: a candidate negative whose best
    * similarity to the user's basket exceeds this is more likely an
    * unobserved POSITIVE (a substitute the user simply hasn't bought
    * yet) than a hard negative — training on it teaches the model to
    * push genuinely relevant items away. The band is therefore
    * [ε, DimsumBandHi]: above ε so the gradient is informative (the
    * whole point of hard negatives), below the cap so label noise
    * stays out. */
  val DimsumBandHi = 0.5

  /** q324: threshold-shaped hard-negative mining (VERDICT r13 #5) —
    * the production-scale counterpart of q217. q217 ranks via the
    * EXACT pair kernel (top-5 neighbors per item, Σbsz² expansion):
    * the right tool when per-item fine-grained order matters, but its
    * shuffle grows with degree², and hard-negative MINING doesn't need
    * order — it needs every basket-adjacent item whose best similarity
    * falls in a margin band. That is exactly the shape the two-phase
    * DIMSUM threshold kernel (q323) serves: phase 1's sampling
    * throttles hub pairs to E[emits] ≤ γ so the expansion is
    * dimension-independent, phase 2 verifies exactly, and the mining
    * consumes only pairs with exact cosine ≥ ε — sub-band pairs never
    * materialize, unlike q217 where the full pair relation exists
    * before the top-5 cut (SCALE.md r14 measures the wire delta at the
    * fixed-catalog 10× tier).
    *
    * Per user: candidates = ε-verified neighbors of basket items,
    * scored by the BEST exact cosine across the basket, anti-joined
    * against positives, band-capped at [[DimsumBandHi]], top-3 by
    * (score desc, item) — the q217 output shape, so the two operators
    * are directly comparable downstream.
    */
  def dimsumHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val (verified, k, extras) =
      dimsumVerified(spark, dir, DimsumGamma, DimsumCandidateBudget)
    // in-task symmetrization (r16) — same single-branch explode as
    // q323; halves the analyzed plan tree the old unionAll doubled
    val simpairs = verified.select(explode(array(
        struct(col("a").as("item"), col("b").as("neighbor"), col("cosine")),
        struct(col("b").as("item"), col("a").as("neighbor"), col("cosine"))))
        .as("s"))
      .select(col("s.item").as("item"), col("s.neighbor").as("neighbor"),
        col("s.cosine").as("cosine"))
    val cand = k.baskets.join(simpairs, Seq("item"))
      .groupBy(col("cust"), col("neighbor"))
      .agg(max(col("cosine")).as("score"))
    val hard = cand
      .join(k.baskets.select(col("cust"), col("item").as("neighbor")),
        Seq("cust", "neighbor"), "left_anti")
      .filter(col("score") <= lit(DimsumBandHi))
    val wUser = Window.partitionBy(col("cust"))
      .orderBy(col("score").desc, col("neighbor"))
    Materialize.releasing(
      hard.withColumn("rank", row_number().over(wUser))
        .filter(col("rank") <= 3)
        .select(col("cust").as("user_id"), col("rank"),
          col("neighbor").as("item"), round(col("score"), 4).as("score"))
        .orderBy(col("user_id"), col("rank")),
      k.releasables ++ extras: _*)
  }

  /** The q323 two-phase replay extended by the mining consumer — all
    * the way from the md5-Bernoulli candidate draw to the band-capped
    * per-user top-3, in one SQL pipeline. */
  private val dimsumHardNegativesSql =
    s"""$dimsumKernelSql, cand AS (
      |  SELECT item AS ca, neighbor AS cb FROM scored
      |  WHERE est_cosine >= ${DimsumEpsilon * DimsumCandidateBar}
      |    AND item < neighbor
      |), exactco AS (
      |  SELECT x.item AS a, y.item AS b, count(*) AS co
      |  FROM b x JOIN b y ON x.cust = y.cust AND x.item < y.item
      |  JOIN cand ON cand.ca = x.item AND cand.cb = y.item
      |  GROUP BY 1, 2
      |), verified AS (
      |  SELECT a, b,
      |    co::DOUBLE / sqrt((na.n_cust * nb.n_cust)::DOUBLE) AS cosine
      |  FROM exactco
      |  JOIN itemn na ON na.item = a
      |  JOIN itemn nb ON nb.item = b
      |  WHERE co::DOUBLE / sqrt((na.n_cust * nb.n_cust)::DOUBLE)
      |    >= ${DimsumEpsilon}
      |), simpairs AS (
      |  SELECT a AS item, b AS neighbor, cosine FROM verified
      |  UNION ALL
      |  SELECT b, a, cosine FROM verified
      |), usercand AS (
      |  SELECT bb.cust, s.neighbor, max(s.cosine) AS score
      |  FROM b bb JOIN simpairs s ON bb.item = s.item
      |  GROUP BY 1, 2
      |), hard AS (
      |  SELECT c.cust, c.neighbor, c.score FROM usercand c
      |  ANTI JOIN b ON c.cust = b.cust AND c.neighbor = b.item
      |)
      |SELECT cust AS user_id, rank::INT AS rank, neighbor AS item,
      |  round(score, 4) AS score
      |FROM (
      |  SELECT cust, neighbor, score,
      |    row_number() OVER (PARTITION BY cust
      |      ORDER BY score DESC, neighbor) AS rank
      |  FROM hard WHERE score <= ${DimsumBandHi}
      |) WHERE rank <= 3
      |ORDER BY user_id, rank""".stripMargin

  /** q325: degree-adaptive similarity routing — SCALE.md r14's measured
    * regime rule as an operator, so the choice the documentation tells
    * a production reader to make is made by code. The rule, measured
    * across r12–r14: the exact pair kernel (q204) wins the
    * CATALOG-GROWING regime (degrees bounded — its Σbsz² cost is
    * linear in traffic and it pays no estimator overhead; q324's 100×
    * row), the sampled DIMSUM kernel (q322) wins the DEGREE-DEEPENING
    * regime (hub degrees ≫ γ — sampling throttles exactly the pairs
    * the exact kernel pays quadratically for; 0.55× wire at 10×FC).
    * The routing statistic is the cheapest thing that decides it: the
    * worst-pair sampling root √(n₁·n₂) over the two largest item
    * degrees. If even that pair has p = 1 (root ≤ γ), DIMSUM is pure
    * overhead — its estimates equal the exact cosines — so the exact
    * kernel runs; past it, sampling engages where it matters and the
    * sampled kernel runs. One degree aggregation + a 2-row collect
    * (S9-bounded) buys the decision.
    *
    * The driver's own test data exercises BOTH routes: sf0.001/sf0.01
    * sit at root 38.5/48.5 (≤ γ = 50 → exact), sf0.1 at 52.0 (→
    * sampled) — and the DuckDB oracle computes the same statistic in
    * SQL and guards both branches with it, so the gate checks the
    * router, not a frozen route. Unified output shape
    * (item, rank, neighbor, support, score): support = co-buyers on
    * the exact route, kept emits on the sampled route.
    */
  def adaptiveItemNeighbors(spark: SparkSession, dir: String): DataFrame =
    adaptiveItemNeighbors(spark, dir, DimsumGamma)

  /** γ-parameterized so the spec can force each route on one fixture. */
  private[graft] def adaptiveItemNeighbors(spark: SparkSession, dir: String,
      gamma: Double): DataFrame = {
    val (posts0, _, itemN) = coPurchaseBaskets(spark, dir)
    val top2 = itemN.orderBy(col("n_cust").desc).limit(2)
      .collect().map(_.getAs[Long]("n_cust"))
    // the routing stat was this build's only read — the routed kernel
    // rebuilds its own pinned copy
    posts0.unpersist(); itemN.unpersist()
    val sampled = top2.length == 2 &&
      math.sqrt(top2(0).toDouble * top2(1)) > gamma
    val routed =
      if (sampled)
        dimsumNeighbors(spark, dir, DimsumItemBudget, gamma)
          .select(col("item"), col("rank"), col("neighbor"),
            col("n_emits").as("support"), col("est_cosine").as("score"))
      else
        itemNeighbors(spark, dir)
          .select(col("item"), col("rank"), col("neighbor"),
            col("n_co_buyers").as("support"), col("cosine").as("score"))
    routed.orderBy(col("item"), col("rank"))
  }

  /** Both routes live in the oracle too, each guarded by the SQL twin
    * of the routing statistic — the gate exercises the exact branch at
    * sf0.01 (root 48.5) and the sampled branch at sf0.1 (root 52.0).
    * A degenerate sub-2-item catalog yields root 0 → exact route,
    * mirroring the Scala router's two-item requirement (ADVICE r14:
    * min·max over ONE row used to read root = n, diverging from the
    * Scala router on single-item catalogs with n_cust > γ). */
  private val adaptiveNeighborsSql =
    s"""$dimsumKernelSql, stat AS (
      |  SELECT CASE WHEN count(*) = 2
      |    THEN sqrt((min(n_cust) * max(n_cust))::DOUBLE) ELSE 0 END AS root
      |  FROM (SELECT n_cust FROM itemn ORDER BY n_cust DESC LIMIT 2)
      |), epairs AS (
      |  SELECT x.item AS ia, y.item AS ib, count(*) AS co
      |  FROM b x JOIN b y ON x.cust = y.cust AND x.item < y.item
      |  GROUP BY 1, 2
      |), esym AS (
      |  SELECT ia AS item, ib AS neighbor, co FROM epairs
      |  UNION ALL
      |  SELECT ib, ia, co FROM epairs
      |), escored AS (
      |  SELECT s.item, s.neighbor, s.co,
      |    s.co::DOUBLE / sqrt(a.n_cust::DOUBLE * b2.n_cust) AS cosine
      |  FROM esym s JOIN itemn a ON s.item = a.item
      |  JOIN itemn b2 ON s.neighbor = b2.item
      |), top50 AS (
      |  SELECT item FROM itemn ORDER BY n_cust DESC, item LIMIT 50
      |), exact_route AS (
      |  SELECT item, rank, neighbor, co::BIGINT AS support,
      |    round(cosine, 4) AS score
      |  FROM (
      |    SELECT s.item, s.neighbor, s.co, s.cosine,
      |      row_number() OVER (PARTITION BY s.item
      |        ORDER BY s.cosine DESC, s.neighbor) AS rank
      |    FROM escored s JOIN top50 USING (item))
      |  WHERE rank <= 5 AND (SELECT root FROM stat) <= ${DimsumGamma}
      |), sampled_route AS (
      |  SELECT item, rank, neighbor, emits::BIGINT AS support,
      |    round(est_cosine, 4) AS score
      |  FROM (
      |    SELECT s.item, s.neighbor, s.emits, s.est_cosine,
      |      row_number() OVER (PARTITION BY s.item
      |        ORDER BY s.est_cosine DESC, s.neighbor) AS rank
      |    FROM scored s JOIN top50 USING (item))
      |  WHERE rank <= 5 AND (SELECT root FROM stat) > ${DimsumGamma}
      |)
      |SELECT * FROM exact_route
      |UNION ALL
      |SELECT * FROM sampled_route
      |ORDER BY item, rank""".stripMargin

  /** q326: PER-ITEM hybrid similarity routing (VERDICT r14 #7) — the
    * production refinement of q325's whole-query router. q325 picks one
    * kernel for the whole catalog, but a real catalog is a power law:
    * the low-degree TAIL anchors never trip the sampling condition
    * (their pairs all have p = 1, so DIMSUM is pure estimator overhead)
    * while the HUB anchors are exactly where the exact kernel's Σbsz²
    * cost concentrates. Route each anchor independently: item i goes
    * SAMPLED iff its worst-pair sampling root √(nᵢ·m₁) > γ (m₁ = the
    * catalog's max degree — i's most expensive possible partner; for
    * i = the hub itself this upper-bounds with the self-pair, a
    * deliberate conservatism that only ever routes a borderline hub to
    * the kernel built for hubs). The statistic is one degree
    * aggregation + a 51-row collect (S9-bounded: max degree + top-50
    * anchor degrees).
    *
    * Scale shape — why this beats running either kernel whole: ONE
    * Σbsz² basket expansion pass serves both routes, and every pair
    * dies IN-TASK unless it touches a top-50 anchor (the q217/q324
    * discipline): a pair incident to an exact-routed anchor emits a
    * route-'x' row, a pair incident to a sampled-routed anchor emits a
    * route-'s' row only if it survives q322's md5-Bernoulli draw — so
    * the shuffle carries anchor-incident pairs only, tagged, once
    * (≤ 2 rows for the rare pair touching both routes). Post-agg the
    * degrees join back from the broadcast dimension and each anchor's
    * top-5 ranks within its own route's score (exact cosine on 'x',
    * unbiased DIMSUM estimate on 's' — identical to q204/q322 values
    * by construction, which the spec pins cell-for-cell).
    */
  def hybridItemNeighbors(spark: SparkSession, dir: String): DataFrame =
    hybridItemNeighbors(spark, dir, DimsumGamma)

  /** γ-parameterized so the spec can force a mixed routing on one
    * fixture (γ between the tail's and the hub's worst-pair roots);
    * budget-parameterized so the spec can force the over-budget
    * shuffle-join fallback; anchor-K-parameterized (VERDICT r15 #6)
    * so a caller can widen or narrow the anchor set — the routing
    * stat's driver collect is O(K) rows (K anchors + the max degree
    * ride along), the S9 bound, so K must stay a human-scale constant
    * (top-N lists, dashboards), never a catalog fraction; the
    * anchor-incidence prune's shuffle mass also grows with K. The
    * declared q326 shape stays K = 50. */
  private[graft] def hybridItemNeighbors(spark: SparkSession, dir: String,
      gamma: Double, itemBudget: Long = DimsumItemBudget,
      anchorK: Int = 50): DataFrame = {
    val (posts0, b, itemN) = coPurchaseBaskets(spark, dir)
    // routing stats: top-K anchors + the global max degree (K+1 small
    // rows to the driver — the S9 bound, O(anchorK))
    val top50 = itemN.orderBy(col("n_cust").desc, col("item")).limit(anchorK)
      .collect().map(r => (r.getAs[Long]("item"), r.getAs[Long]("n_cust")))
    if (top50.isEmpty) {
      posts0.unpersist(); itemN.unpersist()
      return spark.emptyDataFrame
        .withColumn("item", lit(0L)).withColumn("rank", lit(0))
        .withColumn("neighbor", lit(0L)).withColumn("support", lit(0L))
        .withColumn("score", lit(0.0)).limit(0)
    }
    val m1 = top50.map(_._2).max
    val (sampledAnchors, exactAnchors) = top50.partition { case (_, n) =>
      math.sqrt(n.toDouble * m1) > gamma
    }
    val eSet = exactAnchors.map(_._1).toSeq
    val sSet = sampledAnchors.map(_._1).toSeq
    def inSet(c: Column, s: Seq[Long]): Column =
      if (s.isEmpty) lit(false) else c.isin(s: _*)
    // itemN is CATALOG-sized and the catalog co-scales with traffic at
    // 100 TB — the same broadcast-budget guard as dimsumScored
    // (VERDICT r12 #2): past the budget the degree joins degrade to
    // shuffle joins (AQE-planned), never a driver OOM. Caught by this
    // round's own 100×-disjoint probe review: the first cut pinned
    // broadcast(itemN) unconditionally, a ~20M-row collect there.
    val hinted = itemN.count() <= itemBudget
    def maybeB(df: DataFrame): DataFrame =
      if (hinted) broadcast(df) else df
    val posts = b.join(maybeB(itemN), Seq("item"))
      .select(col("cust"), struct(col("item").as("doc_id"),
        col("n_cust").cast("int").as("nsh")).as("e"))
      .groupBy(col("cust")).agg(collect_list(col("e")).as("ds"))
    // r16 (guide §1.2 step 1): the route tagging below keeps ONLY
    // anchor-incident pairs, so the expansion emits exactly that
    // subset in-task via the anchor kernel instead of materializing
    // the full Σbsz² expansion and killing most of it in the tag
    // filter. Same pair set, same per-pair md5 draw — identical rows.
    val expanded = posts.select(col("cust"), explode(
        graft.functions.PairExpandFunctions.anchorPairExpand(
          col("ds"), top50.map(_._1).toSeq)).as("p"))
    val rootProd = sqrt(
      (col("p.nsh_a").cast("long") * col("p.nsh_b")).cast("double"))
    val pKeep = least(lit(1.0), lit(gamma) / rootProd)
    val u = pmod(conv(substring(md5(concat_ws("|",
        col("cust").cast("string"), col("p.doc_a").cast("string"),
        col("p.doc_b").cast("string"))), 1, 15), 16, 10).cast("long"),
      lit(1000000L))
    val touchesE = inSet(col("p.doc_a"), eSet) || inSet(col("p.doc_b"), eSet)
    val touchesS = inSet(col("p.doc_a"), sSet) || inSet(col("p.doc_b"), sSet)
    val drawKeep = lit(gamma) >= rootProd || u.cast("double") < pKeep * lit(1e6)
    // the in-task route fan-out: ≤2 tagged rows per pair, everything
    // else dies before the exchange
    val tagged = expanded.select(col("p.doc_a").as("doc_a"),
        col("p.doc_b").as("doc_b"),
        explode(filter(array(
          when(touchesE, lit("x")),
          when(touchesS && drawKeep, lit("s"))), c => c.isNotNull)).as("route"))
    val counted = tagged.groupBy(col("route"), col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("cnt"))
    // in-task symmetrization (r16) — same single-pass explode as
    // q204/q322, so the counted relation needs no persist
    val sym = counted.select(col("route"), explode(array(
        struct(col("doc_a").as("item"), col("doc_b").as("neighbor"),
          col("cnt")),
        struct(col("doc_b").as("item"), col("doc_a").as("neighbor"),
          col("cnt")))).as("s"))
      .select(col("route"), col("s.item").as("item"),
        col("s.neighbor").as("neighbor"), col("s.cnt").as("cnt"))
      .join(maybeB(itemN.select(col("item"), col("n_cust").as("ni"))),
        Seq("item"))
      .join(maybeB(itemN.select(col("item").as("neighbor"),
        col("n_cust").as("nn"))), Seq("neighbor"))
    val prod = sqrt((col("ni") * col("nn")).cast("double"))
    val routed = sym.filter(
        (col("route") === "x" && inSet(col("item"), eSet)) ||
        (col("route") === "s" && inSet(col("item"), sSet)))
      .withColumn("score", when(col("route") === "x",
          col("cnt").cast("double") / prod)
        .otherwise(col("cnt").cast("double") /
          (least(lit(1.0), lit(gamma) / prod) * prod)))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("score").desc, col("neighbor"))
    Materialize.releasing(
      routed.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("item"), col("rank"), col("neighbor"),
          col("cnt").cast("bigint").as("support"),
          round(col("score"), 4).as("score"))
        .orderBy(col("item"), col("rank")),
      posts0, itemN)
  }

  /** Both kernels replay in SQL (the q322/q204 CTE shapes); the
    * per-item predicate √(nᵢ·m₁) > γ gates which route's rows an
    * anchor contributes — computed identically to the Scala router. */
  private val hybridNeighborsSql =
    s"""$dimsumKernelSql, m1 AS (
      |  SELECT max(n_cust) AS m FROM itemn
      |), top50 AS (
      |  SELECT item, n_cust FROM itemn ORDER BY n_cust DESC, item LIMIT 50
      |), routedset AS (
      |  SELECT item,
      |    CASE WHEN sqrt((n_cust * (SELECT m FROM m1))::DOUBLE) > ${DimsumGamma}
      |         THEN 1 ELSE 0 END AS sampled
      |  FROM top50
      |), epairs AS (
      |  SELECT x.item AS ia, y.item AS ib, count(*) AS co
      |  FROM b x JOIN b y ON x.cust = y.cust AND x.item < y.item
      |  GROUP BY 1, 2
      |), esym AS (
      |  SELECT ia AS item, ib AS neighbor, co FROM epairs
      |  UNION ALL
      |  SELECT ib, ia, co FROM epairs
      |), escored AS (
      |  SELECT s.item, s.neighbor, s.co,
      |    s.co::DOUBLE / sqrt(a.n_cust::DOUBLE * b2.n_cust) AS cosine
      |  FROM esym s JOIN itemn a ON s.item = a.item
      |  JOIN itemn b2 ON s.neighbor = b2.item
      |), exact_route AS (
      |  SELECT item, rank, neighbor, co::BIGINT AS support,
      |    round(cosine, 4) AS score
      |  FROM (
      |    SELECT s.item, s.neighbor, s.co, s.cosine,
      |      row_number() OVER (PARTITION BY s.item
      |        ORDER BY s.cosine DESC, s.neighbor) AS rank
      |    FROM escored s JOIN routedset r ON r.item = s.item AND r.sampled = 0)
      |  WHERE rank <= 5
      |), sampled_route AS (
      |  SELECT item, rank, neighbor, emits::BIGINT AS support,
      |    round(est_cosine, 4) AS score
      |  FROM (
      |    SELECT s.item, s.neighbor, s.emits, s.est_cosine,
      |      row_number() OVER (PARTITION BY s.item
      |        ORDER BY s.est_cosine DESC, s.neighbor) AS rank
      |    FROM scored s JOIN routedset r ON r.item = s.item AND r.sampled = 1)
      |  WHERE rank <= 5
      |)
      |SELECT * FROM exact_route
      |UNION ALL
      |SELECT * FROM sampled_route
      |ORDER BY item, rank""".stripMargin

  /** q212: deterministic negative sampling — the contrastive-training
    * counterpart to q204's positives: for every customer, 4 items they
    * did NOT buy, drawn reproducibly from the catalog. Candidates are
    * md5-hash positions (`hash60(user:i) mod |catalog| + 1` for
    * i = 0..15, the q38/q153 portable-hash discipline), deduplicated at
    * the smallest i, anti-joined against the user's positives, and the
    * first 4 survivors keep their draw order as `neg_rank`. Sixteen
    * candidates against ~2% basket density makes a short fill
    * practically impossible — and the output is identical under any
    * partitioning, retry, or engine (no rand(), no sampling state).
    *
    * Scale shape: candidate generation is a 16-way per-user explode
    * (linear in users, never users × catalog); the positive filter is
    * one anti equi-join on (user, item); the final pick is a per-user
    * window over ≤ 16 rows.
    */
  def negativeSamples(spark: SparkSession, dir: String): DataFrame = {
    val nCand = 16
    val k = 4
    val baskets = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("cust"), col("l_partkey").as("item"))
      .distinct()
    val nItems = Tables.part(spark, dir).agg(max(col("p_partkey")).as("n"))
    val users = baskets.select(col("cust")).distinct()
    val cand = users.crossJoin(broadcast(nItems))
      .select(col("cust"), col("n"), explode(expr(
        s"sequence(0, ${nCand - 1})")).as("i"))
      .withColumn("item",
        expr("1 + cast(conv(substring(md5(concat(cast(cust as string), ':', " +
          "cast(i as string))), 1, 15), 16, 10) as bigint) % n"))
      .select(col("cust"), col("i"), col("item"))
    val dedup = cand.groupBy(col("cust"), col("item"))
      .agg(min(col("i")).as("i"))
    val negs = dedup.join(baskets, Seq("cust", "item"), "left_anti")
    val w = Window.partitionBy(col("cust")).orderBy(col("i"))
    negs.withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col("cust").as("user_id"), col("neg_rank"), col("item"))
      .orderBy(col("user_id"), col("neg_rank"))
  }

  private val negativeSamplesSql =
    """WITH baskets AS (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |), n AS (SELECT max(p_partkey) AS n FROM part),
      |users AS (SELECT DISTINCT cust FROM baskets),
      |cand AS (
      |  SELECT u.cust, s.i,
      |    1 + list_reduce(list_transform(generate_series(1, 15),
      |        j -> strpos('0123456789abcdef',
      |               substring(md5(u.cust::VARCHAR || ':' || s.i::VARCHAR),
      |                         j, 1)) - 1),
      |      (acc, d) -> acc * 16 + d) % (SELECT n FROM n) AS item
      |  FROM users u
      |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) s
      |), dedup AS (
      |  SELECT cust, item, min(i) AS i FROM cand GROUP BY cust, item
      |), negs AS (
      |  SELECT d.cust, d.item, d.i FROM dedup d
      |  ANTI JOIN baskets b ON d.cust = b.cust AND d.item = b.item
      |), ranked AS (
      |  SELECT cust, item, i,
      |    row_number() OVER (PARTITION BY cust ORDER BY i) AS neg_rank
      |  FROM negs
      |)
      |SELECT cust AS user_id, neg_rank::INT AS neg_rank, item
      |FROM ranked WHERE neg_rank <= 4
      |ORDER BY user_id, neg_rank""".stripMargin

  /** q217: hard-negative mining — the contrastive-training upgrade over
    * q212's random negatives: for each customer, the items MOST SIMILAR
    * to their basket that they did NOT buy. Random negatives teach a
    * model almost nothing once it separates popular from obscure; hard
    * negatives (near the decision boundary) are what actually move
    * retrieval metrics. Candidates come from each basket item's top-5
    * co-purchase neighbors (q204's kernel extended to every item), are
    * anti-joined against the user's positives, scored by the best
    * cosine across the basket, and the top-3 per user keep rank order.
    *
    * Scale shape: each item's neighbour list is capped at 5 (nb5), so
    * a customer's candidates are ≤ 5·|basket|, never |catalog|. While
    * nb5 fits the broadcast budget it is collected once into a
    * [[graft.functions.NeighborTable]] and the per-customer tail —
    * candidate lookup, max-combine, drop positives, top-3 — is one
    * `neighbor_top_k` call per cached basket array: no (cust,
    * neighbor) aggregation, anti join or window. Past the budget the
    * relational tail (join nb5, group by (cust, neighbor), left_anti,
    * per-user window) runs; same rows.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    hardNegatives(spark, dir, DimsumItemBudget)

  /** Budget-parameterized body: a small `itemBudget` forces the
    * relational routes (no catalog broadcasts, no kernel). */
  private[graft] def hardNegatives(spark: SparkSession, dir: String,
      itemBudget: Long): DataFrame = {
    val (posts, b, itemN) = coPurchaseBaskets(spark, dir, wide = true)
    // The Σbsz² relation carries ONLY the pair key (r16: the bare-id
    // kernel — the r11 shape still shipped a constant nsh=0 payload
    // through every emitted struct): per-item degrees are functionally
    // dependent on the item ids, so they join back AFTER the Σbsz²
    // aggregation from the bounded |catalog|-row degree dimension.
    // No anchor restriction here — q217 ranks top-5 neighbors for
    // EVERY item, so the full pair relation is the computation.
    // Packed-long pair key + no map-side partial agg (r17, VERDICT r16
    // #2 / guide §2.3): the Σbsz² aggregation's 12.7M keys are nearly
    // unique, so the planner's unconditional partial aggregation built
    // a 12.7M-entry map-side hash table to shrink the shuffle ~3%
    // (plan: Exchange carried 13.1M of 13.14M emitted rows, 400.6 MiB).
    // Packing (a << 32) | b collapses the struct key to one long —
    // grouping is bijective with (a, b) while max id < 2³², guarded at
    // runtime off the persisted degree dimension (and re-checked
    // in-kernel: out-of-range ids throw rather than corrupt) — and the
    // explicit pk repartition makes the aggregation COMPLETE (single
    // hash table, reduce side only): the exchange now moves bare
    // 8-byte keys and the partial map build is gone. Past 2³² ids the
    // struct kernel below is the path — same rows, same oracle.
    val maxIdRow = itemN.agg(min(col("item")), max(col("item"))).collect()(0)
    val packedOk = !maxIdRow.isNullAt(1) &&
      maxIdRow.getLong(0) >= 0L && maxIdRow.getLong(1) < (1L << 32)
    val pairs = if (packedOk) {
      posts.select(explode(
          graft.functions.PairExpandFunctions.pairExpandPackedIds(col("ds")))
          .as("pk"))
        .repartition(spark.sparkContext.defaultParallelism, col("pk"))
        .groupBy(col("pk"))
        .agg(count(lit(1)).as("co"))
        .select(shiftrightunsigned(col("pk"), 32).as("doc_a"),
          col("pk").bitwiseAND(lit(4294967295L)).as("doc_b"), col("co"))
    } else {
      posts.select(explode(
          graft.functions.PairExpandFunctions.pairExpandIds(col("ds"))).as("p"))
        .select(col("p.id_a").as("doc_a"), col("p.id_b").as("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("co"))
    }
    // catalog-sized broadcasts under the q322 budget discipline (r16 —
    // these were unconditional hints before, the exact shape the q326
    // probe review flagged): past the budget every degree/neighbor
    // join degrades to an AQE-planned shuffle join, never a driver OOM
    val nCat = itemN.count()
    val hinted = nCat <= itemBudget
    def maybeB(df: DataFrame): DataFrame = if (hinted) broadcast(df) else df
    // in-task symmetrization (r16): at sf0.1 the pair relation is
    // 12.7M nearly-unique rows — persisting it for the unionAll's two
    // reads cost more than recomputing the kernel (probe-measured);
    // one explode emits both directions and the relation stays
    // single-pass
    val sym = pairs.select(explode(array(
        struct(col("doc_a").as("item"), col("doc_b").as("neighbor"), col("co")),
        struct(col("doc_b").as("item"), col("doc_a").as("neighbor"), col("co"))))
        .as("s"))
      .select(col("s.item").as("item"), col("s.neighbor").as("neighbor"),
        col("s.co").as("co"))
      .join(maybeB(itemN.select(col("item"), col("n_cust").as("ni"))),
        Seq("item"))
      .join(maybeB(itemN.select(col("item").as("neighbor"),
        col("n_cust").as("nn"))), Seq("neighbor"))
      .withColumn("cosine", col("co").cast("double") /
        sqrt(col("ni").cast("double") * col("nn")))
    val wItem = Window.partitionBy(col("item"))
      .orderBy(col("cosine").desc, col("neighbor"))
    val nb5 = sym.withColumn("nrk", row_number().over(wItem))
      .filter(col("nrk") <= 5)
      .select(col("item"), col("neighbor"), col("cosine"))
    // nb5 has ≤ 5 rows per catalog item — its own, tighter budget.
    // Kernel route: the lists ship as one broadcast table and the
    // whole per-customer tail runs in place on the cached posts (cust,
    // ds): max-combine over the basket's lists, drop the customer's
    // own items, top-3 by (score desc, neighbor). The positives set IS
    // ds, so the left_anti needs no second read of the baskets.
    if (nCat <= itemBudget / 5) {
      val rows = nb5.collect()
      val table = spark.sparkContext.broadcast(graft.functions.NeighborTable.build(
        rows.map(_.getLong(0)), rows.map(_.getLong(1)),
        rows.map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(2))),
        doubles = true))
      Materialize.releasing(
        posts.select(col("cust"), explode(graft.functions.NeighborTopKFunctions
            .neighborTopK(col("ds"), table, 3, "max")).as("t"))
          .select(col("cust").as("user_id"), col("t.rank").as("rank"),
            col("t.item").as("item"), round(col("t.score"), 4).as("score"))
          .orderBy(col("user_id"), col("rank")),
        Seq(table), posts, itemN)
    } else {
      val cand = b.join(nb5, Seq("item"))
        .groupBy(col("cust"), col("neighbor"))
        .agg(max(col("cosine")).as("score"))
      val hard = cand.join(
        b.select(col("cust"), col("item").as("neighbor")),
        Seq("cust", "neighbor"), "left_anti")
      val wUser = Window.partitionBy(col("cust"))
        .orderBy(col("score").desc, col("neighbor"))
      Materialize.releasing(
        hard.withColumn("rank", row_number().over(wUser))
          .filter(col("rank") <= 3)
          .select(col("cust").as("user_id"), col("rank"),
            col("neighbor").as("item"), round(col("score"), 4).as("score"))
          .orderBy(col("user_id"), col("rank")),
        posts, itemN)
    }
  }

  private val hardNegativesSql =
    """WITH baskets AS (
      |  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS item
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |), keep AS (
      |  SELECT cust FROM baskets GROUP BY cust HAVING count(*) <= 256
      |), b AS (
      |  SELECT baskets.* FROM baskets JOIN keep USING (cust)
      |), itemn AS (
      |  SELECT item, count(*) AS n_cust FROM b GROUP BY item
      |), pairs AS (
      |  SELECT x.item AS ia, y.item AS ib, count(*) AS co
      |  FROM b x JOIN b y ON x.cust = y.cust AND x.item < y.item
      |  GROUP BY x.item, y.item
      |), sym AS (
      |  SELECT ia AS item, ib AS neighbor, co FROM pairs
      |  UNION ALL
      |  SELECT ib, ia, co FROM pairs
      |), scored AS (
      |  SELECT s.item, s.neighbor,
      |    s.co::DOUBLE / sqrt(a.n_cust::DOUBLE * b2.n_cust) AS cosine
      |  FROM sym s JOIN itemn a ON s.item = a.item
      |  JOIN itemn b2 ON s.neighbor = b2.item
      |), nb5 AS (
      |  SELECT item, neighbor, cosine FROM (
      |    SELECT item, neighbor, cosine,
      |      row_number() OVER (PARTITION BY item
      |        ORDER BY cosine DESC, neighbor) AS nrk
      |    FROM scored) WHERE nrk <= 5
      |), cand AS (
      |  SELECT b.cust, n.neighbor, max(n.cosine) AS score
      |  FROM b JOIN nb5 n ON b.item = n.item
      |  GROUP BY b.cust, n.neighbor
      |), hard AS (
      |  SELECT c.cust, c.neighbor, c.score FROM cand c
      |  ANTI JOIN b ON c.cust = b.cust AND c.neighbor = b.item
      |)
      |SELECT cust AS user_id, rank::INT AS rank, neighbor AS item,
      |  round(score, 4) AS score
      |FROM (
      |  SELECT cust, neighbor, score,
      |    row_number() OVER (PARTITION BY cust
      |      ORDER BY score DESC, neighbor) AS rank
      |  FROM hard) WHERE rank <= 3
      |ORDER BY user_id, rank""".stripMargin

  /** q201: price–volume–mix bridge — the waterfall decomposition finance
    * runs on every period-over-period revenue change: per part brand,
    * ΔRev between two adjacent one-year ship windows splits into a
    * price effect (Δp·q₀), a volume effect (p₀·Δq), and the cross term
    * (Δp·Δq), which reconcile to ΔRev exactly in the algebra (the spec
    * pins the float form to cent-level closure). Average unit prices
    * are ratios of exact integer sums (cents over integer quantity), so
    * every effect is a fixed-order double expression with cross-engine
    * parity.
    *
    * Scale shape: one conditional-aggregation pass over lineitem
    * (both windows' Σqty and Σcents side by side) keyed by partkey,
    * then a broadcast join to `part` for the brand rollup — at real
    * scale the brand column rides a pre-joined or bucketed dimension;
    * the waterfall algebra itself runs on the brand-domain relation
    * (constant-sized).
    */
  def priceVolumeMix(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val mx = li.agg(max(to_date(col("l_shipdate"))).as("maxd"))
    val byPart = li
      .select(col("l_partkey"), to_date(col("l_shipdate")).as("sd"),
        col("l_quantity").cast("long").as("q"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("c"))
      .crossJoin(broadcast(mx))
      .withColumn("inA", col("sd") > date_sub(col("maxd"), 730) &&
        col("sd") <= date_sub(col("maxd"), 365))
      .withColumn("inB", col("sd") > date_sub(col("maxd"), 365))
      .filter(col("inA") || col("inB"))
      .groupBy(col("l_partkey"))
      .agg(sum(when(col("inA"), col("q")).otherwise(0L)).as("q0"),
        sum(when(col("inA"), col("c")).otherwise(0L)).as("c0"),
        sum(when(col("inB"), col("q")).otherwise(0L)).as("q1"),
        sum(when(col("inB"), col("c")).otherwise(0L)).as("c1"))
    val byBrand = byPart
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(col("q0")).as("q0"), sum(col("c0")).as("c0"),
        sum(col("q1")).as("q1"), sum(col("c1")).as("c1"))
      .filter(col("q0") > 0 && col("q1") > 0)
    byBrand
      .withColumn("p0", col("c0").cast("double") / col("q0"))
      .withColumn("p1", col("c1").cast("double") / col("q1"))
      .select(col("brand"),
        col("c0").cast("bigint").as("rev0_c"),
        col("c1").cast("bigint").as("rev1_c"),
        (col("c1") - col("c0")).cast("bigint").as("delta_c"),
        round((col("p1") - col("p0")) * col("q0"), 2).as("price_eff_c"),
        round(col("p0") * (col("q1") - col("q0")), 2).as("volume_eff_c"),
        round((col("p1") - col("p0")) * (col("q1") - col("q0")), 2)
          .as("cross_eff_c"))
      .orderBy(col("brand"))
  }

  private val priceVolumeMixSql =
    """WITH mx AS (
      |  SELECT max(l_shipdate::DATE) AS maxd FROM lineitem
      |), li AS (
      |  SELECT l_partkey,
      |    l_shipdate::DATE AS sd,
      |    l_quantity::BIGINT AS q,
      |    round(l_extendedprice * 100)::BIGINT AS c,
      |    (l_shipdate::DATE > (SELECT maxd - INTERVAL 730 DAY FROM mx)
      |      AND l_shipdate::DATE <= (SELECT maxd - INTERVAL 365 DAY FROM mx))
      |      AS ina,
      |    (l_shipdate::DATE > (SELECT maxd - INTERVAL 365 DAY FROM mx)) AS inb
      |  FROM lineitem
      |), byp AS (
      |  SELECT l_partkey,
      |    sum(CASE WHEN ina THEN q ELSE 0 END) AS q0,
      |    sum(CASE WHEN ina THEN c ELSE 0 END) AS c0,
      |    sum(CASE WHEN inb THEN q ELSE 0 END) AS q1,
      |    sum(CASE WHEN inb THEN c ELSE 0 END) AS c1
      |  FROM li WHERE ina OR inb GROUP BY l_partkey
      |), byb AS (
      |  SELECT p.p_brand AS brand,
      |    sum(q0) AS q0, sum(c0) AS c0, sum(q1) AS q1, sum(c1) AS c1
      |  FROM byp JOIN part p ON byp.l_partkey = p.p_partkey
      |  GROUP BY p.p_brand
      |  HAVING sum(q0) > 0 AND sum(q1) > 0
      |)
      |SELECT brand, c0::BIGINT AS rev0_c, c1::BIGINT AS rev1_c,
      |  (c1 - c0)::BIGINT AS delta_c,
      |  round((c1::DOUBLE / q1 - c0::DOUBLE / q0) * q0, 2) AS price_eff_c,
      |  round(c0::DOUBLE / q0 * (q1 - q0), 2) AS volume_eff_c,
      |  round((c1::DOUBLE / q1 - c0::DOUBLE / q0) * (q1 - q0), 2)
      |    AS cross_eff_c
      |FROM byb ORDER BY brand""".stripMargin

  /** q200: spend decile-mobility matrix — how customers move between
    * spend deciles across two adjacent one-year windows (split at one
    * year before the newest order, the q196 cutoff). The economic-
    * mobility / customer-migration view marketing analytics builds on
    * top of RFM: each customer active in BOTH windows is ranked into
    * deciles per window (ntile over spend DESC with customer-key
    * tiebreak — fully deterministic), and the 10×10 matrix counts each
    * (before, after) cell with its row share and the cell's net
    * integer-cents spend change. Diagonal mass = rank stability;
    * below-diagonal = upward drift.
    *
    * Scale shape: one conditional aggregation builds both windows'
    * spend per customer (single fact scan); the two ntiles run as
    * range-partitioned 2-pass ranks over the customer relation
    * (`ScaledWindows.ntile` — no single-task sort), and the matrix
    * rollup is a 100-cell aggregate.
    */
  def decileMobility(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val mx = orders.agg(max(col("o_orderdate")).as("maxd"))
    val byCust = orders
      .select(col("o_custkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
      .crossJoin(broadcast(mx))
      .groupBy(col("o_custkey"))
      .agg(sum(when(col("o_orderdate") <= date_sub(col("maxd"), 365), col("c"))
          .otherwise(0L)).as("rev_a"),
        sum(when(col("o_orderdate") > date_sub(col("maxd"), 365), col("c"))
          .otherwise(0L)).as("rev_b"))
      .filter(col("rev_a") > 0 && col("rev_b") > 0)
    // customer-domain ntiles → distributed 2-pass (ScaledWindows doc)
    val deciled = ScaledWindows.ntile(
      ScaledWindows.ntile(byCust,
        Seq(col("rev_a").desc, col("o_custkey")), 10, "da"),
      Seq(col("rev_b").desc, col("o_custkey")), 10, "db")
    deciled.groupBy(col("da").as("decile_before"), col("db").as("decile_after"))
      .agg(count(lit(1)).cast("bigint").as("n_customers"),
        sum(col("rev_b") - col("rev_a")).cast("bigint").as("net_change_c"))
      .withColumn("row_share", round(col("n_customers").cast("double") /
        sum(col("n_customers")).over(Window.partitionBy(col("decile_before"))), 4))
      .orderBy(col("decile_before"), col("decile_after"))
  }

  private val decileMobilitySql =
    """WITH cust AS (
      |  SELECT o_custkey,
      |    sum(CASE WHEN o_orderdate <=
      |          (SELECT max(o_orderdate) - INTERVAL 365 DAY FROM orders)
      |        THEN round(o_totalprice * 100)::BIGINT ELSE 0 END) AS rev_a,
      |    sum(CASE WHEN o_orderdate >
      |          (SELECT max(o_orderdate) - INTERVAL 365 DAY FROM orders)
      |        THEN round(o_totalprice * 100)::BIGINT ELSE 0 END) AS rev_b
      |  FROM orders GROUP BY o_custkey
      |), act AS (
      |  SELECT o_custkey, rev_a, rev_b,
      |    ntile(10) OVER (ORDER BY rev_a DESC, o_custkey) AS da,
      |    ntile(10) OVER (ORDER BY rev_b DESC, o_custkey) AS db
      |  FROM cust WHERE rev_a > 0 AND rev_b > 0
      |)
      |SELECT da AS decile_before, db AS decile_after,
      |  count(*)::BIGINT AS n_customers,
      |  sum(rev_b - rev_a)::BIGINT AS net_change_c,
      |  round(count(*)::DOUBLE /
      |    sum(count(*)) OVER (PARTITION BY da), 4) AS row_share
      |FROM act GROUP BY da, db
      |ORDER BY decile_before, decile_after""".stripMargin

  /** q198: seasonal-decomposition anomaly screen — which days' revenue
    * is abnormal AFTER removing trend and weekday seasonality? The
    * additive decomposition monitoring pipelines run: trend is a
    * centered ±3-day moving average (RANGE frame over the integer epoch
    * day, so calendar gaps don't slide the window), the seasonal term
    * is the classic dummy-variable form avg(rev | weekday) − avg(rev)
    * (each a ratio of exact integer sums — exact cross-engine parity,
    * unlike a mean of float residuals), and the remainder is z-scored.
    *
    * Numeric-parity design: the remainder is a fixed-order expression
    * of integer ratios (bit-identical IEEE in both engines), then
    * ROUNDED TO INTEGER MILLI-CENTS so the z-score's moments are exact
    * integer/decimal sums (Σr as BIGINT, Σr² as DECIMAL — r² can
    * exceed int64) with one final double formula. |z| ≥ 2.5 flags.
    *
    * Scale shape: one fact aggregation to the daily series (tiny:
    * one row per day), then windows/joins on that series only. The
    * weekday index is epoch-day arithmetic, immune to dow-origin
    * mismatches (q164).
    */
  def seasonalAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev_c"))
    val wTrend = Window.orderBy(col("d")).rangeBetween(-3, 3)
    val base = daily
      .withColumn("ts", sum(col("rev_c")).over(wTrend))
      .withColumn("tc", count(lit(1)).over(wTrend))
      .withColumn("dow", pmod(col("d") + 3, lit(7)).cast("int"))
    val wDow = Window.partitionBy(col("dow"))
    val wAll = Window.partitionBy()
    val resid = base
      .withColumn("s1", sum(col("rev_c")).over(wDow))
      .withColumn("n1", count(lit(1)).over(wDow))
      .withColumn("s2", sum(col("rev_c")).over(wAll))
      .withColumn("n2", count(lit(1)).over(wAll))
      .withColumn("r_m", round((col("rev_c")
          - col("ts").cast("double") / col("tc")
          - (col("s1").cast("double") / col("n1")
             - col("s2").cast("double") / col("n2"))) * 1000)
        .cast("bigint"))
    val z = resid
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sr", sum(col("r_m")).over(wAll))
      .withColumn("srr",
        sum((col("r_m").cast("decimal(19,0)") * col("r_m")).cast("decimal(38,0)"))
          .over(wAll))
      .withColumn("zscore",
        (col("r_m") - col("sr").cast("double") / col("n")) /
          sqrt((col("srr").cast("double")
            - col("sr").cast("double") * col("sr").cast("double") / col("n"))
            / (col("n") - 1)))
    z.filter(abs(col("zscore")) >= 2.5)
      .select(date_add(lit("1970-01-01").cast("date"), col("d").cast("int")).as("day"),
        col("rev_c").cast("bigint").as("rev_c"),
        round(col("zscore"), 4).as("z"))
      .orderBy(col("day"))
  }

  private val seasonalAnomaliesSql =
    """WITH daily AS (
      |  SELECT (o_orderdate::DATE - DATE '1970-01-01') AS d,
      |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS rev_c
      |  FROM orders GROUP BY 1
      |), base AS (
      |  SELECT d, rev_c,
      |    sum(rev_c) OVER (ORDER BY d RANGE BETWEEN 3 PRECEDING
      |                     AND 3 FOLLOWING) AS ts,
      |    count(*) OVER (ORDER BY d RANGE BETWEEN 3 PRECEDING
      |                   AND 3 FOLLOWING) AS tc,
      |    (d + 3) % 7 AS dow
      |  FROM daily
      |), resid AS (
      |  SELECT d, rev_c,
      |    round((rev_c
      |      - ts::DOUBLE / tc
      |      - (sum(rev_c) OVER (PARTITION BY dow)::DOUBLE
      |           / count(*) OVER (PARTITION BY dow)
      |         - sum(rev_c) OVER ()::DOUBLE / count(*) OVER ())) * 1000
      |    )::BIGINT AS r_m
      |  FROM base
      |), z AS (
      |  SELECT d, rev_c,
      |    (r_m - sum(r_m) OVER ()::DOUBLE / count(*) OVER ()) /
      |      sqrt((sum(r_m::HUGEINT * r_m) OVER ()::DOUBLE
      |        - sum(r_m) OVER ()::DOUBLE * sum(r_m) OVER ()::DOUBLE
      |          / count(*) OVER ())
      |        / (count(*) OVER () - 1)) AS zscore
      |  FROM resid
      |)
      |SELECT DATE '1970-01-01' + to_days(d::INT) AS day,
      |  rev_c, round(zscore, 4) AS z
      |FROM z WHERE abs(zscore) >= 2.5 ORDER BY day""".stripMargin

  /** q230: CUSUM drift detection over daily revenue — the changepoint
    * LOCALIZER that complements q120's EWMA outlier flags and q198's
    * seasonal z-scores: a sustained level shift accumulates in
    * C_d = Σ(D·x_i − S) (deviation from the global mean scaled by D so
    * everything stays integer), and the argmax of the drawup
    * C_d − min_{≤d}C (resp. drawdown max_{≤d}C − C_d) IS the classical
    * CUSUM changepoint estimate — the query reports the top-5 days per
    * direction, ranked on the exact DECIMAL(38,0)/HUGEINT statistic
    * (day tiebreak), so selection involves zero float decisions; the
    * reported fractions are doubles of exact integers.
    *
    * Scale shape: fact table reduces to the day relation (span-bounded)
    * before the single ordered cumulative window; the decimal
    * arithmetic absorbs cluster-scale revenue sums (S·D ≈ 1e20 at
    * 100 TB overflows int64 — the q172 hardening class).
    */
  def cusumDrift(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev_c"))
    val tot = daily.agg(sum(col("rev_c")).as("s_all"), count(lit(1)).as("d_all"))
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = daily.crossJoin(broadcast(tot))
      .withColumn("e",
        col("d_all").cast("decimal(38,0)") * col("rev_c") - col("s_all"))
      .withColumn("cum", sum(col("e")).over(wCum))
      .withColumn("runmin", min(col("cum")).over(wCum))
      .withColumn("runmax", max(col("cum")).over(wCum))
      .withColumn("sd", col("s_all").cast("decimal(38,0)") * col("d_all"))
      .withColumn("drawup", col("cum") - col("runmin"))
      .withColumn("drawdown", col("runmax") - col("cum"))
    def top5(metric: String, dir: String) = base
      .withColumn("rank", row_number().over(
        Window.orderBy(col(metric).desc, col("day"))))
      .filter(col("rank") <= 5)
      .select(lit(dir).as("dir"), col("rank").cast("int").as("rank"),
        col("day"), col("rev_c").cast("bigint").as("rev_cents"),
        round(col("drawup").cast("double") / col("sd").cast("double"), 6)
          .as("drawup_frac"),
        round(col("drawdown").cast("double") / col("sd").cast("double"), 6)
          .as("drawdown_frac"))
    top5("drawup", "up").unionAll(top5("drawdown", "down"))
      .orderBy(col("dir").desc, col("rank"))
  }

  private val cusumDriftSql =
    """WITH daily AS (
      |  SELECT o_orderdate::DATE AS day,
      |    sum(round(o_totalprice * 100)::BIGINT) AS rev_c
      |  FROM orders GROUP BY 1
      |), tot AS (
      |  SELECT sum(rev_c) AS s_all, count(*) AS d_all FROM daily
      |), c AS (
      |  SELECT day, rev_c,
      |    sum(t.d_all::HUGEINT * rev_c - t.s_all) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    t.s_all::HUGEINT * t.d_all AS sd
      |  FROM daily CROSS JOIN tot t
      |), r AS (
      |  SELECT day, rev_c, sd,
      |    cum - min(cum) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS drawup,
      |    max(cum) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cum
      |      AS drawdown
      |  FROM c
      |), up AS (
      |  SELECT 'up' AS dir,
      |    row_number() OVER (ORDER BY drawup DESC, day) AS rank,
      |    day, rev_c, drawup, drawdown, sd
      |  FROM r QUALIFY rank <= 5
      |), down AS (
      |  SELECT 'down' AS dir,
      |    row_number() OVER (ORDER BY drawdown DESC, day) AS rank,
      |    day, rev_c, drawup, drawdown, sd
      |  FROM r QUALIFY rank <= 5
      |)
      |SELECT dir, rank::INT AS rank, day, rev_c::BIGINT AS rev_cents,
      |  round(drawup::DOUBLE / sd::DOUBLE, 6) AS drawup_frac,
      |  round(drawdown::DOUBLE / sd::DOUBLE, 6) AS drawdown_frac
      |FROM (SELECT * FROM up UNION ALL SELECT * FROM down)
      |ORDER BY dir DESC, rank""".stripMargin

  /** q241: Hampel filter — rolling-median/MAD outlier detection over
    * the daily revenue series, the robust-statistics cousin of q120's
    * EWMA (mean-based, masking-prone) and q230's CUSUM (level shifts):
    * a 7-day centered window flags day d when
    * |x_d − median₇| > 3·MAD₇. Everything is EXACT integer cents —
    * the 7-element window median is the 4th order statistic of a
    * sorted array, MAD is the 4th order statistic of the absolute
    * deviations, and the 3× threshold stays integral (the classical
    * 1.4826 consistency constant is deliberately folded into the
    * documented 3× factor so no float ever appears).
    *
    * Scale shape: the fact table reduces to the bounded day relation
    * first; the ±3 window runs over that spine (q230's pattern).
    * Boundary days (<7-day window) are excluded rather than padded —
    * the filter only fires where the statistic is well-defined.
    */
  def hampelFilter(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("rev_c"))
    val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
    daily
      .withColumn("win", collect_list(col("rev_c")).over(w))
      .filter(size(col("win")) === 7)
      .withColumn("med", element_at(array_sort(col("win")), 4))
      .withColumn("mad", element_at(
        array_sort(transform(col("win"), x => abs(x - col("med")))), 4))
      .filter(abs(col("rev_c") - col("med")) > col("mad") * 3)
      .select(col("day"), col("rev_c"),
        col("med").cast("bigint").as("med_c"),
        col("mad").cast("bigint").as("mad_c"),
        (abs(col("rev_c") - col("med")) - col("mad") * 3).cast("bigint")
          .as("excess_c"))
      .orderBy(col("day"))
  }

  private val hampelFilterSql =
    """WITH daily AS (
      |  SELECT o_orderdate::DATE AS day,
      |    sum(round(o_totalprice * 100)::BIGINT) AS rev_c
      |  FROM orders GROUP BY 1
      |), w AS (
      |  SELECT day, rev_c,
      |    list(rev_c) OVER (ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win
      |  FROM daily
      |), m AS (
      |  SELECT day, rev_c,
      |    list_sort(win)[4] AS med,
      |    list_sort(list_transform(win,
      |      x -> abs(x - list_sort(win)[4])))[4] AS mad
      |  FROM w WHERE len(win) = 7
      |)
      |SELECT day, rev_c::BIGINT AS rev_c, med::BIGINT AS med_c, mad::BIGINT AS mad_c,
      |  (abs(rev_c - med) - 3 * mad)::BIGINT AS excess_c
      |FROM m WHERE abs(rev_c - med) > 3 * mad
      |ORDER BY day""".stripMargin

  /** q234: Wilson-lower-bound ranking of part return rates — the
    * correct "worst offenders" list when group sizes differ: a raw-rate
    * sort promotes 2/2 over 40/100, while the Wilson score interval's
    * lower bound (z = 1.96) penalizes thin evidence. This is the
    * standard ranking fix (Agresti–Coull family) a data-curation
    * pipeline uses to flag parts, sellers, or sources by defect rate.
    *
    * Cross-engine parity without integer-only math: every operand is an
    * IEEE basic op or sqrt (all correctly rounded) over exact integer
    * counts with identical literal constants and op order, so both
    * engines compute bit-identical doubles and the DESC selection is
    * deterministic (partkey tiebreak regardless).
    *
    * Scale shape: one map-side partial aggregation on partkey, then
    * partial per-partition top-k (TakeOrderedAndProject) — no global
    * sort ever materializes.
    */
  def wilsonReturnRates(spark: SparkSession, dir: String): DataFrame = {
    val z2 = 1.96 * 1.96
    val agg = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
      .filter(col("n") >= 20)
    val p = col("r").cast("double") / col("n")
    val lb = (p + lit(z2) / (col("n") * 2) -
      lit(1.96) * sqrt((p * (lit(1.0) - p) + lit(z2) / (col("n") * 4)) / col("n"))) /
      (lit(1.0) + lit(z2) / col("n"))
    agg.withColumn("lb", lb)
      .orderBy(col("lb").desc, col("l_partkey"))
      .limit(20)
      .select(col("l_partkey").as("partkey"),
        col("n").cast("bigint").as("n_lines"),
        col("r").cast("bigint").as("n_returns"),
        round(p, 6).as("raw_rate"),
        round(col("lb"), 6).as("wilson_lb"))
  }

  private val wilsonReturnRatesSql =
    """WITH a AS (
      |  SELECT l_partkey, count(*) AS n,
      |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS r
      |  FROM lineitem GROUP BY l_partkey HAVING count(*) >= 20
      |), w AS (
      |  SELECT l_partkey, n, r, r::DOUBLE / n AS p,
      |    ((r::DOUBLE / n) + (1.96*1.96) / (n * 2)
      |      - 1.96 * sqrt(((r::DOUBLE / n) * (1 - (r::DOUBLE / n))
      |                     + (1.96*1.96) / (n * 4)) / n))
      |      / (1 + (1.96*1.96) / n) AS lb
      |  FROM a
      |)
      |SELECT l_partkey AS partkey, n::BIGINT AS n_lines,
      |  r::BIGINT AS n_returns,
      |  round(p, 6) AS raw_rate, round(lb, 6) AS wilson_lb
      |FROM w ORDER BY lb DESC, l_partkey LIMIT 20""".stripMargin

  /** q233: weight-of-evidence / information-value screening — the
    * credit-scoring-style feature audit the q211/q221 eval family
    * lacks: does account balance carry signal for the "places an
    * urgent order" outcome, and how much (IV)? Balances land in 10
    * equal-width integer-cent bins (map-side: one broadcast min/max —
    * deliberately NOT ntile deciles, which q191 covers and which cost
    * a global sort); per bin WOE = ln(good-share/bad-share) with a
    * +0.5/bin Laplace smoother so empty cells stay finite, and
    * IV_b = (gs − bs)·WOE_b.
    *
    * Bin assignment, counts, and shares are exact integer arithmetic;
    * ln() is the only float op and lands directly under round(·,6).
    * Scale shape: broadcast 2-value extent → map-side bin → 10-row
    * rollup; the label semi-join shuffles the distinct urgent custkeys
    * only.
    */
  def woeBinning(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"),
        round(col("c_acctbal") * 100).cast("long").as("bal_c"))
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("u_key")).distinct()
    val ext = cust.agg(min(col("bal_c")).as("lo"), max(col("bal_c")).as("hi"))
    val labeled = cust
      .join(urgent, col("c_custkey") === col("u_key"), "left")
      .select(col("bal_c"),
        when(col("u_key").isNotNull, 1L).otherwise(0L).as("y"))
      .crossJoin(broadcast(ext))
      .withColumn("bin", // integer div: Column./ would be double division
        least(expr("(bal_c - lo) * 10 div (hi - lo + 1)"), lit(9L))
          .cast("int"))
    val tot = labeled.agg(sum(col("y")).as("g_all"),
      sum(lit(1L) - col("y")).as("b_all"))
    labeled.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_c"), sum(col("y")).as("g_b"))
      .withColumn("b_b", col("n_c") - col("g_b"))
      .crossJoin(broadcast(tot))
      .withColumn("gs", (col("g_b") + 0.5) / (col("g_all") + 5.0))
      .withColumn("bs", (col("b_b") + 0.5) / (col("b_all") + 5.0))
      .withColumn("woe", log(col("gs") / col("bs")))
      .select(col("bin"),
        col("n_c").cast("bigint").as("n_cust"),
        col("g_b").cast("bigint").as("n_good"),
        col("b_b").cast("bigint").as("n_bad"),
        round(col("woe"), 6).as("woe"),
        round((col("gs") - col("bs")) * col("woe"), 6).as("iv_term"))
      .orderBy(col("bin"))
  }

  private val woeBinningSql =
    """WITH cust AS (
      |  SELECT c_custkey, round(c_acctbal * 100)::BIGINT AS bal_c
      |  FROM customer
      |), urgent AS (
      |  SELECT DISTINCT o_custkey AS u_key FROM orders
      |  WHERE o_orderpriority = '1-URGENT'
      |), ext AS (
      |  SELECT min(bal_c) AS lo, max(bal_c) AS hi FROM cust
      |), labeled AS (
      |  SELECT bal_c,
      |    CASE WHEN u_key IS NOT NULL THEN 1 ELSE 0 END AS y,
      |    least((bal_c - e.lo) * 10 // (e.hi - e.lo + 1), 9)::INT AS bin
      |  FROM cust LEFT JOIN urgent ON c_custkey = u_key
      |  CROSS JOIN ext e
      |), tot AS (
      |  SELECT sum(y) AS g_all, sum(1 - y) AS b_all FROM labeled
      |), b AS (
      |  SELECT bin, count(*) AS n_c, sum(y) AS g_b FROM labeled GROUP BY bin
      |), d AS (
      |  SELECT bin, n_c, g_b, n_c - g_b AS b_b,
      |    (g_b + 0.5) / (t.g_all + 5.0) AS gs,
      |    (n_c - g_b + 0.5) / (t.b_all + 5.0) AS bs
      |  FROM b CROSS JOIN tot t
      |)
      |SELECT bin, n_c::BIGINT AS n_cust, g_b::BIGINT AS n_good,
      |  b_b::BIGINT AS n_bad,
      |  round(ln(gs / bs), 6) AS woe,
      |  round((gs - bs) * ln(gs / bs), 6) AS iv_term
      |FROM d ORDER BY bin""".stripMargin

  /** q229: ABC×XYZ planning matrix — the two-axis inventory view q168
    * only half-covers: ABC classes parts by cumulative revenue share
    * (80/95 cut, exact integer cross-multiplication) while XYZ classes
    * demand VARIABILITY by the coefficient of variation of the part's
    * zero-filled monthly quantity series. CV² stays exact:
    * CV² = (M·Σq² − S²)/S² over M global months, so the X/Y/Z cut at
    * CV ∈ {0.25, 0.5} is the integer comparison 1e4·M·Σq² ≶ c·S²
    * (c = 10625 / 12500) — multiplied in DECIMAL(38,0)/HUGEINT so
    * cluster-scale part volumes cannot overflow (the q172 hardening).
    * Output is the 9-cell matrix with exact part counts and revenue.
    *
    * Scale shape: one (part, month) aggregation, one part-level rollup,
    * the ABC window over the part relation, 9-row final rollup.
    */
  def abcXyzMatrix(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        trunc(col("l_shipdate"), "month").as("m"),
        col("l_quantity").cast("long").as("q"),
        round(col("l_extendedprice") * 100).cast("bigint").as("cents"))
    val months = li.select(col("m")).distinct()
      .agg(count(lit(1)).as("n_months"))
    val perMonth = li.groupBy(col("l_partkey"), col("m"))
      .agg(sum(col("q")).as("qm"), sum(col("cents")).as("cm"))
    val perPart = perMonth.groupBy(col("l_partkey"))
      .agg(sum(col("qm")).as("s_q"),
        sum(col("qm") * col("qm")).as("s_q2"),
        sum(col("cm")).as("cents"))
    val tot = perPart.agg(sum(col("cents")).as("total"))
    // ABC prefix sum over the part relation: range-partitioned 2-pass,
    // same rationale as q168 (ScaledWindows doc).
    ScaledWindows.prefixSum(perPart,
        Seq(col("cents").desc, col("l_partkey")), col("cents"),
        "cum_before", exclusive = true)
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(months))
      .withColumn("cls_abc",
        when(col("cum_before") * 5 < col("total") * 4, "A")
          .when(col("cum_before") * 20 < col("total") * 19, "B")
          .otherwise("C"))
      .withColumn("lhs",
        (col("n_months").cast("decimal(38,0)") * col("s_q2")) * 10000 -
          col("s_q").cast("decimal(38,0)") * col("s_q") * 10000)
      .withColumn("s2", col("s_q").cast("decimal(38,0)") * col("s_q"))
      .withColumn("cls_xyz",
        when(col("lhs") <= col("s2") * 625, "X")
          .when(col("lhs") <= col("s2") * 2500, "Y")
          .otherwise("Z"))
      .groupBy(col("cls_abc"), col("cls_xyz"))
      .agg(count(lit(1)).cast("bigint").as("n_parts"),
        sum(col("cents")).cast("bigint").as("rev_cents"),
        sum(col("s_q")).cast("bigint").as("qty_total"))
      .orderBy(col("cls_abc"), col("cls_xyz"))
  }

  private val abcXyzMatrixSql =
    """WITH li AS (
      |  SELECT l_partkey, date_trunc('month', l_shipdate) AS m,
      |    l_quantity::BIGINT AS q,
      |    round(l_extendedprice * 100)::BIGINT AS cents
      |  FROM lineitem
      |), months AS (
      |  SELECT count(*) AS n_months FROM (SELECT DISTINCT m FROM li)
      |), pm AS (
      |  SELECT l_partkey, m, sum(q) AS qm, sum(cents) AS cm
      |  FROM li GROUP BY l_partkey, m
      |), pp AS (
      |  SELECT l_partkey, sum(qm) AS s_q, sum(qm * qm) AS s_q2,
      |    sum(cm) AS cents
      |  FROM pm GROUP BY l_partkey
      |), tot AS (SELECT sum(cents) AS total FROM pp
      |), ranked AS (
      |  SELECT pp.*,
      |    coalesce(sum(cents) OVER (ORDER BY cents DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS cum_before
      |  FROM pp
      |), classed AS (
      |  SELECT r.*,
      |    CASE WHEN cum_before * 5 < total * 4 THEN 'A'
      |         WHEN cum_before * 20 < total * 19 THEN 'B'
      |         ELSE 'C' END AS cls_abc,
      |    (mo.n_months::HUGEINT * s_q2) * 10000
      |      - s_q::HUGEINT * s_q * 10000 AS lhs,
      |    s_q::HUGEINT * s_q AS s2
      |  FROM ranked r CROSS JOIN tot CROSS JOIN months mo
      |), xyz AS (
      |  SELECT cls_abc,
      |    CASE WHEN lhs <= s2 * 625 THEN 'X'
      |         WHEN lhs <= s2 * 2500 THEN 'Y'
      |         ELSE 'Z' END AS cls_xyz,
      |    cents, s_q
      |  FROM classed
      |)
      |SELECT cls_abc, cls_xyz, count(*)::BIGINT AS n_parts,
      |  sum(cents)::BIGINT AS rev_cents, sum(s_q)::BIGINT AS qty_total
      |FROM xyz GROUP BY cls_abc, cls_xyz
      |ORDER BY cls_abc, cls_xyz""".stripMargin

  /** q224: Theil-T inequality decomposition of customer spend across
    * nations — the additive counterpart to q149's Lorenz/Gini view:
    * T_total = T_between + Σ_g share_g · T_g, so each nation carries an
    * exact between-group term plus its internal inequality contribution.
    * Every ln operand is an exact BIGINT (cents, counts) and products
    * inside ln are decomposed as ln-sums (ln x + ln n_g − ln S_g), so
    * no overflow and both engines see identical doubles; the per-group
    * term sum folds in c_custkey order via a cumulative window (the
    * q171 ordered-fold discipline) for bit-identical IEEE accumulation.
    *
    * Scale shape: one per-customer aggregation shuffle, nation dim and
    * the 25-row group/total aggregates broadcast; the only
    * order-sensitive step is the per-nation cumulative fold, which a
    * production run would relax to an unordered partial-aggregated sum
    * (ulp-level nondeterminism) — the ordering here is the oracle
    * determinism contract, not an algorithmic need.
    */
  def theilDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
    val nat = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val x = spend.join(nat, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("n_name"), col("cents"))
    val grp = x.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_g"), sum(col("cents")).as("s_g"))
    val tot = x.agg(sum(col("cents")).as("s_all"), count(lit(1)).as("n_all"))
    val wCum = Window.partitionBy(col("n_name")).orderBy(col("c_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tg = x.join(broadcast(grp), Seq("n_name"))
      .withColumn("term",
        (col("cents").cast("double") / col("s_g")) *
          (log(col("cents")) + log(col("n_g")) - log(col("s_g"))))
      .withColumn("cum", sum(col("term")).over(wCum))
      .groupBy(col("n_name"))
      .agg(max_by(col("cum"), col("c_custkey")).as("t_g"))
    grp.join(tg, Seq("n_name")).crossJoin(broadcast(tot))
      .select(col("n_name"),
        col("n_g").cast("long").as("n_cust"),
        col("s_g").cast("long").as("spend_cents"),
        round(col("s_g").cast("double") / col("s_all"), 6).as("spend_share"),
        round((col("s_g").cast("double") / col("s_all")) *
          (log(col("s_g")) + log(col("n_all")) -
            log(col("s_all")) - log(col("n_g"))), 6).as("between_term"),
        round(col("t_g"), 6).as("theil_within"),
        round((col("s_g").cast("double") / col("s_all")) * col("t_g"), 6)
          .as("within_contrib"))
      .orderBy(col("n_name"))
  }

  private val theilDecompositionSql =
    """WITH spend AS (
      |  SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT) AS cents
      |  FROM orders GROUP BY o_custkey
      |), x AS (
      |  SELECT c.c_custkey, n.n_name, s.cents
      |  FROM spend s
      |  JOIN customer c ON s.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |), grp AS (
      |  SELECT n_name, count(*) AS n_g, sum(cents) AS s_g
      |  FROM x GROUP BY n_name
      |), tot AS (
      |  SELECT sum(cents) AS s_all, count(*) AS n_all FROM x
      |), terms AS (
      |  SELECT x.n_name, x.c_custkey,
      |    (x.cents::DOUBLE / g.s_g) *
      |      (ln(x.cents) + ln(g.n_g) - ln(g.s_g)) AS term
      |  FROM x JOIN grp g ON x.n_name = g.n_name
      |), cums AS (
      |  SELECT n_name, c_custkey,
      |    sum(term) OVER (PARTITION BY n_name ORDER BY c_custkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM terms
      |), tg AS (
      |  SELECT n_name, arg_max(cum, c_custkey) AS t_g
      |  FROM cums GROUP BY n_name
      |)
      |SELECT g.n_name AS n_name, g.n_g::BIGINT AS n_cust,
      |  g.s_g::BIGINT AS spend_cents,
      |  round(g.s_g::DOUBLE / t.s_all, 6) AS spend_share,
      |  round((g.s_g::DOUBLE / t.s_all) *
      |    (ln(g.s_g) + ln(t.n_all) - ln(t.s_all) - ln(g.n_g)), 6)
      |    AS between_term,
      |  round(tg.t_g, 6) AS theil_within,
      |  round((g.s_g::DOUBLE / t.s_all) * tg.t_g, 6) AS within_contrib
      |FROM grp g JOIN tg ON g.n_name = tg.n_name CROSS JOIN tot t
      |ORDER BY n_name""".stripMargin

  /** q258: exact permutation test for the q119 contrast (URGENT vs LOW
    * mean order value) — the nonparametric companion to Welch's t: under
    * H₀ labels are exchangeable, so the null distribution is the mean
    * difference over label PERMUTATIONS. B=200 deterministic
    * permutations: per replicate b every row draws the portable md5
    * uniform of (b, orderkey), rows are ranked within the replicate,
    * and the n_A smallest ranks take group A — an exact relabeling
    * (group sizes preserved), not a Bernoulli approximation.
    *
    * r17 (guide §1.2 step 1): the per-replicate rank is never needed —
    * only the SUM of c over each replicate's n_a smallest (u, key)
    * rows. That is a distributed SELECTION, not a ranking, so the old
    * global 2-pass rank (range-exchange the full B·n relation — 202
    * MiB at sf0.1 — persist it, sort it, and join broadcast offsets)
    * is replaced by two content-pure aggregation passes over the
    * expansion with NO exchange, persist, or sort of the B·n rows:
    *   pass 1 — per-(b, bucket) counts, bucket = u's top 8 bits (a
    *     monotone function of u, so bucket order refines rank order);
    *     a tiny window over the ≤ B·256-row histogram finds, per b,
    *     the bucket containing rank n_a and the count strictly below;
    *   pass 2 — per b in one aggregation: the exact sum of c over
    *     buckets below the boundary, plus the boundary bucket's ≈
    *     n/256 rows collected and sorted in-task (sort_array over
    *     struct(u, key, c) — lexicographic = the rank order), the
    *     first n_a − below of which complete the selection exactly,
    *     ties and all (u, key is a total order, same as the oracle's
    *     ORDER BY u, o_orderkey).
    * Both passes are pure content aggregations — no layout or rank
    * dependence — so re-evaluating the expansion is deterministic by
    * construction (and ReuseExchange dedups the scan-side shuffle).
    * p = (1 + #{|diff_b| ≥ |obs|}) / (B+1), the add-one estimator.
    *
    * All replicate sums are integer cents; the only doubles are two
    * fixed-order divisions per replicate, so the oracle replays every
    * comparison bit-for-bit. Scale note: the B× row expansion is the
    * honest cost of permutation inference — at corpus scale you first
    * fix a per-group md5 subsample (the q125 shape), THEN permute;
    * B stays a constant factor, never a shuffle-key cardinality.
    */
  def randomizationTest(spark: SparkSession, dir: String): DataFrame = {
    val nPerm = 200
    val s = Tables.orders(spark, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("o_orderkey"),
        (col("o_orderpriority") === "1-URGENT").as("is_a"),
        round(col("o_totalprice") * 100, 0).cast("long").as("c"))
    val tot = s.agg(
      sum(when(col("is_a"), 1L).otherwise(0L)).cast("bigint").as("n_a"),
      sum(when(!col("is_a"), 1L).otherwise(0L)).cast("bigint").as("n_b"),
      sum(when(col("is_a"), col("c")).otherwise(0L)).cast("bigint").as("s_a"),
      sum(col("c")).cast("bigint").as("s_tot"))
    val obsDiff = col("s_a") / col("n_a") -
      (col("s_tot") - col("s_a")) / col("n_b")
    // repartition BEFORE the B× explode: the md5-uniform expansion is
    // the expensive stage (B·n hash evaluations) and would otherwise
    // inherit the orders SCAN's 1-2 parquet-split parallelism — r10
    // measured 57 s of task time running ~2-wide (26.8 s wall); spread
    // across the session's partitions it is embarrassingly parallel.
    // Round-robin placement is value-safe: u depends only on row
    // content, and the rangeTag persist downstream pins one layout.
    // Width = the session's own parallelism, not a literal core count
    // (ADVICE r10): on a cluster defaultParallelism tracks total cores.
    // u < 16^15 = 2^60; its top 8 bits give 256 md5-uniform buckets,
    // and bucket order refines (u, key) rank order (monotone in u)
    val rep = s.repartition(spark.sparkContext.defaultParallelism)
      .select(col("o_orderkey"), col("c"),
        explode(sequence(lit(1), lit(nPerm))).as("b"))
      .withColumn("u", expr(
        "cast(conv(substring(md5(concat(cast(b as string), ':', " +
          "cast(o_orderkey as string))), 1, 15), 16, 10) as bigint)"))
      .withColumn("bkt", shiftrightunsigned(col("u"), 52))
    // pass 1: per-(b, bucket) histogram (≤ B·256 rows after the
    // map-side partial agg), then the boundary bucket per replicate —
    // the one containing rank n_a — via a cumulative count over the
    // histogram's bounded spine
    val wB = Window.partitionBy(col("b")).orderBy(col("bkt"))
    val bounds = rep.groupBy(col("b"), col("bkt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("cum", sum(col("n")).over(wB))
      .crossJoin(broadcast(tot.select(col("n_a").as("na0"))))
      .filter(col("cum") >= col("na0") &&
        col("cum") - col("n") < col("na0"))
      .select(col("b"), col("bkt").as("bb"),
        (col("cum") - col("n")).as("below"))
    // pass 2: one aggregation per replicate — exact sum below the
    // boundary bucket + the boundary bucket's ≈ n/256 rows selected
    // in-task (sort_array is lexicographic over struct(u, key, c) =
    // the exact rank order; slice takes the n_a − below smallest)
    val perms = rep
      .join(broadcast(bounds), Seq("b"))
      .crossJoin(broadcast(tot))
      .groupBy(col("b"), col("n_a"), col("n_b"), col("s_tot"), col("below"))
      .agg(
        sum(when(col("bkt") < col("bb"), col("c")).otherwise(0L)).as("s_low"),
        sort_array(collect_list(when(col("bkt") === col("bb"),
          struct(col("u"), col("o_orderkey"), col("c"))))).as("edge"))
      .withColumn("s_ab", (col("s_low") + aggregate(
          slice(col("edge"), lit(1), (col("n_a") - col("below")).cast("int")),
          lit(0L), (acc, x) => acc + x.getField("c")))
        .cast("bigint"))
      .withColumn("diff_b", col("s_ab") / col("n_a") -
        (col("s_tot") - col("s_ab")) / col("n_b"))
    perms
      .crossJoin(broadcast(tot.select(obsDiff.as("obs"))))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        round(first(col("obs")) / 100.0, 4).as("obs_diff_d"),
        sum(when(abs(col("diff_b")) >= abs(col("obs")), 1L).otherwise(0L))
          .cast("bigint").as("n_extreme"))
      .withColumn("p_value",
        round((col("n_extreme") + 1.0) / (nPerm + 1.0), 4))
  }

  private val randomizationTestSql =
    """WITH s AS (
      |  SELECT o_orderkey, o_orderpriority = '1-URGENT' AS is_a,
      |    round(o_totalprice * 100, 0)::BIGINT AS c
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |), tot AS (
      |  SELECT sum(CASE WHEN is_a THEN 1 ELSE 0 END)::BIGINT AS n_a,
      |    sum(CASE WHEN is_a THEN 0 ELSE 1 END)::BIGINT AS n_b,
      |    sum(CASE WHEN is_a THEN c ELSE 0 END)::BIGINT AS s_a,
      |    sum(c)::BIGINT AS s_tot
      |  FROM s
      |), rep AS (
      |  SELECT s.o_orderkey, s.c, g.b,
      |    list_reduce(list_transform(generate_series(1, 15),
      |        i -> strpos('0123456789abcdef',
      |               substring(md5(g.b::VARCHAR || ':' || s.o_orderkey::VARCHAR),
      |                         i, 1)) - 1),
      |      (acc, d) -> acc * 16 + d) AS u
      |  FROM s CROSS JOIN (SELECT unnest(generate_series(1, 200)) AS b) g
      |), ranked AS (
      |  SELECT b, c,
      |    row_number() OVER (PARTITION BY b ORDER BY u, o_orderkey) AS rk
      |  FROM rep
      |), perms AS (
      |  SELECT r.b,
      |    sum(CASE WHEN r.rk <= t.n_a THEN r.c ELSE 0 END)::BIGINT AS s_ab
      |  FROM ranked r CROSS JOIN tot t
      |  GROUP BY r.b
      |), diffs AS (
      |  SELECT p.s_ab / t.n_a - (t.s_tot - p.s_ab) / t.n_b AS diff_b,
      |    t.s_a / t.n_a - (t.s_tot - t.s_a) / t.n_b AS obs,
      |    t.n_a, t.n_b
      |  FROM perms p CROSS JOIN tot t
      |)
      |SELECT any_value(n_a) AS n_a, any_value(n_b) AS n_b,
      |  round(any_value(obs) / 100.0, 4) AS obs_diff_d,
      |  sum(CASE WHEN abs(diff_b) >= abs(obs) THEN 1 ELSE 0 END)::BIGINT
      |    AS n_extreme,
      |  round((sum(CASE WHEN abs(diff_b) >= abs(obs) THEN 1 ELSE 0 END) + 1.0)
      |    / 201.0, 4) AS p_value
      |FROM diffs""".stripMargin

  /** q256: split-conformal prediction intervals — the
    * distribution-free uncertainty wrapper production ML pipelines put
    * around any point model: fit on train, take the ⌈0.9·(n+1)⌉-th
    * smallest absolute residual on a held-out calibration split as the
    * interval half-width (qhat), then AUDIT the promised ≥90% coverage
    * on a disjoint test split. Model here is the per-priority mean
    * (integer-cents sum / count — engine-order-proof), splits are the
    * portable md5 bucket of the order key (80/10/10), and qhat is an
    * exact order statistic (rank via row_number, orderkey tie-break) —
    * no interpolation, so both engines pick the identical residual.
    *
    * Scale shape: one aggregation for the means, one rank-k selection
    * per group on the calibration split (10% of rows), one broadcast
    * join + aggregation for the coverage audit. Nothing quadratic,
    * nothing driver-side.
    */
  def conformalIntervals(spark: SparkSession, dir: String): DataFrame = {
    val bucket = expr(
      "cast(conv(substring(md5(cast(o_orderkey as string)), 1, 15), 16, 10) " +
        "as bigint) % 100")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority").as("prio"),
        round(col("o_totalprice") * 100).cast("long").as("yc"),
        when(bucket < 80, "train").when(bucket < 90, "cal").otherwise("test")
          .as("split"))
    val model = o.filter(col("split") === "train")
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n_train"), sum(col("yc")).as("sc"))
      .withColumn("mean_y", col("sc") / 100.0 / col("n_train"))
      .select(col("prio"), col("n_train"), col("mean_y"))
    val cal = o.filter(col("split") === "cal")
      .join(broadcast(model), Seq("prio"))
      .withColumn("r", abs(col("yc") / 100.0 - col("mean_y")))
    val nCal = cal.groupBy(col("prio")).agg(count(lit(1)).as("n_cal"))
    // per-group rank without a |groups|-reducer window: global 2-pass
    // rank over (prio, r, key), then subtract each group's base rank —
    // the ScaledWindows shape, so 5 priorities never serialize 10% of
    // the fact into 5 tasks.
    val granked = ScaledWindows.rowNumber(cal,
      Seq(col("prio"), col("r"), col("o_orderkey")), "grn")
    val base = granked.groupBy(col("prio")).agg(min(col("grn")).as("base"))
    val qhat = granked
      .join(broadcast(base), Seq("prio"))
      .withColumn("rk", col("grn") - col("base") + 1L)
      .join(broadcast(nCal), Seq("prio"))
      .filter(col("rk") ===
        least(ceil((col("n_cal") + 1) * 0.9).cast("long"), col("n_cal")))
      .select(col("prio"), col("n_cal"), col("r").as("qhat"))
    val test = o.filter(col("split") === "test")
      .join(broadcast(model.select(col("prio"), col("mean_y"))), Seq("prio"))
      .join(broadcast(qhat), Seq("prio"))
      .groupBy(col("prio"), col("n_cal"), col("qhat"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs(col("yc") / 100.0 - col("mean_y")) <= col("qhat"), 1L)
          .otherwise(0L)).as("n_covered"))
    model.join(test.drop("mean_y"), Seq("prio"))
      .select(col("prio"), col("n_train").cast("bigint").as("n_train"),
        col("n_cal").cast("bigint").as("n_cal"),
        col("n_test").cast("bigint").as("n_test"),
        round(col("mean_y"), 4).as("mean_y"),
        round(col("qhat"), 4).as("qhat"),
        round(col("n_covered").cast("double") / col("n_test"), 4)
          .as("coverage"))
      .orderBy(col("prio"))
  }

  private val conformalIntervalsSql =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderpriority AS prio,
      |    round(o_totalprice * 100)::BIGINT AS yc,
      |    CASE
      |      WHEN list_reduce(list_transform(generate_series(1, 15),
      |          i -> strpos('0123456789abcdef',
      |                 substring(md5(o_orderkey::VARCHAR), i, 1)) - 1),
      |        (acc, d) -> acc * 16 + d) % 100 < 80 THEN 'train'
      |      WHEN list_reduce(list_transform(generate_series(1, 15),
      |          i -> strpos('0123456789abcdef',
      |                 substring(md5(o_orderkey::VARCHAR), i, 1)) - 1),
      |        (acc, d) -> acc * 16 + d) % 100 < 90 THEN 'cal'
      |      ELSE 'test' END AS split
      |  FROM orders
      |), model AS (
      |  SELECT prio, count(*)::BIGINT AS n_train,
      |    sum(yc)::BIGINT / 100.0 / count(*) AS mean_y
      |  FROM o WHERE split = 'train' GROUP BY prio
      |), cal AS (
      |  SELECT o.prio, o.o_orderkey, abs(o.yc / 100.0 - m.mean_y) AS r
      |  FROM o JOIN model m ON o.prio = m.prio WHERE o.split = 'cal'
      |), ncal AS (
      |  SELECT prio, count(*)::BIGINT AS n_cal FROM cal GROUP BY prio
      |), qh AS (
      |  SELECT c.prio, n.n_cal, c.r AS qhat FROM (
      |    SELECT prio, r,
      |      row_number() OVER (PARTITION BY prio ORDER BY r, o_orderkey) AS rk
      |    FROM cal) c
      |  JOIN ncal n ON n.prio = c.prio
      |  AND c.rk = least(ceil((n.n_cal + 1) * 0.9)::BIGINT, n.n_cal)
      |), test AS (
      |  SELECT o.prio, count(*)::BIGINT AS n_test,
      |    sum(CASE WHEN abs(o.yc / 100.0 - m.mean_y) <= q.qhat
      |        THEN 1 ELSE 0 END)::BIGINT AS n_covered
      |  FROM o
      |  JOIN model m ON o.prio = m.prio
      |  JOIN qh q ON o.prio = q.prio
      |  WHERE o.split = 'test'
      |  GROUP BY o.prio
      |)
      |SELECT m.prio, m.n_train, q.n_cal, t.n_test,
      |  round(m.mean_y, 4) AS mean_y,
      |  round(q.qhat, 4) AS qhat,
      |  round(t.n_covered::DOUBLE / t.n_test, 4) AS coverage
      |FROM model m
      |JOIN qh q ON q.prio = m.prio
      |JOIN test t ON t.prio = m.prio
      |ORDER BY m.prio""".stripMargin

  /** q284: exponential-smoothing forecast backtest — the one-parameter
    * SES baseline (ŷ_t = α·Σ_k (1−α)^(k−1)·y_{t−k}) walked forward over
    * each nation's daily-revenue series, the standard "beat this before
    * shipping a model" benchmark one rung above q179's seasonal-naive.
    * α = 1/2 on purpose: every weight is a power of two, so each term
    * y·2^(−k) is a dyadic rational computed EXACTLY by both engines and
    * the in-order fold is bit-identical — the usual pow()-drift
    * cross-engine hazard never arises. The window truncates at 60 lags
    * (tail weight 2⁻⁶⁰ ≈ 1e−18, below cent resolution); days with <20
    * lags of history are warm-up and excluded from scoring.
    *
    * Scale shape: the fact table reduces to a |nations|×|days| spine
    * first (one shuffle, map-side partial); the walk-forward window is
    * partitioned per nation over that bounded spine — never a global
    * sort, never a second pass over facts. The per-row lag list is ≤60
    * elements regardless of corpus size.
    */
  def sesBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("y_c"))
    val w = Window.partitionBy(col("nk")).orderBy(col("day"))
      .rowsBetween(-60, -1)
    val scored = daily
      .withColumn("win", collect_list(col("y_c")).over(w))
      .filter(size(col("win")) >= 20)
      .withColumn("fc", expr(
        """aggregate(
          |  transform(sequence(1, size(win)),
          |    j -> element_at(win, size(win) + 1 - j) * pow(0.5, j)),
          |  0D, (acc, x) -> acc + x)""".stripMargin))
    scored
      .join(broadcast(Tables.nation(spark, dir)),
        col("nk") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).cast("bigint").as("n_days"),
        round(avg(abs(col("y_c") - col("fc"))) / 100, 2).as("mae"),
        round(avg(abs(col("y_c") - col("fc"))
          / ((col("y_c") + col("fc")) / 2)), 4).as("smape"))
      .orderBy(col("n_name"))
  }

  private val sesBacktestSql =
    """WITH daily AS (
      |  SELECT c_nationkey AS nk, o_orderdate::DATE AS day,
      |    sum(round(o_totalprice * 100)::BIGINT) AS y_c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2
      |), wd AS (
      |  SELECT nk, day, y_c,
      |    list(y_c) OVER (PARTITION BY nk ORDER BY day
      |      ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING) AS win
      |  FROM daily
      |), sc AS (
      |  SELECT nk, y_c,
      |    list_reduce(list_transform(generate_series(1, len(win)),
      |      j -> win[len(win) + 1 - j] * pow(0.5, j)),
      |      (acc, x) -> acc + x) AS fc
      |  FROM wd WHERE len(win) >= 20
      |)
      |SELECT n_name, count(*)::BIGINT AS n_days,
      |  round(avg(abs(y_c - fc)) / 100, 2) AS mae,
      |  round(avg(abs(y_c - fc) / ((y_c + fc) / 2)), 4) AS smape
      |FROM sc JOIN nation ON nk = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** q289: Mann–Kendall trend test + Sen's slope per nation — the
    * nonparametric monotone-trend battery (Mann 1945, Sen 1968) used
    * when a level shift or outliers would wreck an OLS slope: S counts
    * concordant minus discordant month pairs, Var(S) gets the tie
    * correction Σt(t−1)(2t+5), Z applies the continuity correction,
    * and Sen's slope is the MEDIAN of all pairwise slopes — a 29%-
    * breakdown-point trend estimate. Verdict at |Z| > 1.96.
    *
    * Cross-engine determinism: S, the tie term and Var(S)·18 are exact
    * integers; pairwise slopes are single divisions of exact cents by
    * exact month gaps (IEEE-identical), and the median is an explicit
    * order-statistic pick from the sorted slope array — no engine
    * median() semantics in play.
    *
    * Scale shape: the fact table reduces to a |nations|×|months| spine
    * first; the pair join is within-nation over that BOUNDED spine
    * (≤ 80 months → 3k pairs per nation), so the quadratic lives on
    * metadata. The per-nation slope array (≤3k doubles) sorts inside
    * one task — never a data-sized sort.
    */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        ((year(col("o_orderdate")) - 1995) * 12
          + month(col("o_orderdate")) - 1).as("m"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("y_c"))
    val a = monthly.select(col("nk"), col("m").as("mi"), col("y_c").as("yi"))
    val b = monthly.select(col("nk"), col("m").as("mj"), col("y_c").as("yj"))
    val pairs = a.join(b, Seq("nk")).filter(col("mi") < col("mj"))
      .withColumn("sgn", signum(col("yj") - col("yi")).cast("long"))
      .withColumn("slope",
        (col("yj") - col("yi")).cast("double") / (col("mj") - col("mi")))
    val perNation = pairs.groupBy(col("nk"))
      .agg(sum(col("sgn")).as("s"),
        sort_array(collect_list(col("slope"))).as("slopes"),
        count(lit(1)).as("n_pairs"))
    val counts = monthly.groupBy(col("nk"))
      .agg(count(lit(1)).as("n_months"))
    val ties = monthly.groupBy(col("nk"), col("y_c")).agg(count(lit(1)).as("t"))
      .groupBy(col("nk"))
      .agg(sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_term"))
    val n = col("n_months")
    val var18 = (n * (n - 1) * (n * 2 + 5) - col("tie_term")).cast("double")
    val p = col("n_pairs")
    val med = when(pmod(p, lit(2)) === 1,
        element_at(col("slopes"), ((p + 1) / 2).cast("int")))
      .otherwise((element_at(col("slopes"), (p / 2).cast("int"))
        + element_at(col("slopes"), (p / 2 + 1).cast("int"))) / 2)
    val z = when(col("s") > 0, (col("s") - 1).cast("double") / sqrt(var18 / 18))
      .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(var18 / 18))
      .otherwise(0.0)
    perNation.join(counts, Seq("nk")).join(ties, Seq("nk"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("nk") === col("n_nationkey"))
      .select(col("n_name"),
        col("n_months").cast("bigint").as("n_months"),
        col("s").cast("bigint").as("s"),
        round(var18 / 18, 4).as("var_s"),
        round(z, 4).as("z"),
        round(med / 100, 4).as("sen_slope_usd_per_month"),
        when(abs(z) <= 1.96, "none").when(col("s") > 0, "up").otherwise("down")
          .as("trend"))
      .orderBy(col("n_name"))
  }

  private val mannKendallSql =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nk,
      |    (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS m,
      |    sum(round(o_totalprice * 100)::BIGINT) AS y_c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT a.nk, sign(b.y_c - a.y_c)::BIGINT AS sgn,
      |    (b.y_c - a.y_c)::DOUBLE / (b.m - a.m) AS slope
      |  FROM monthly a JOIN monthly b ON a.nk = b.nk AND a.m < b.m
      |), pn AS (
      |  SELECT nk, sum(sgn) AS s,
      |    list_sort(list(slope)) AS slopes,
      |    count(*) AS n_pairs
      |  FROM pairs GROUP BY nk
      |), cnt AS (
      |  SELECT nk, count(*) AS n_months FROM monthly GROUP BY nk
      |), ties AS (
      |  SELECT nk, sum(t * (t - 1) * (2 * t + 5)) AS tie_term FROM (
      |    SELECT nk, y_c, count(*) AS t FROM monthly GROUP BY nk, y_c)
      |  GROUP BY nk
      |), f AS (
      |  SELECT n_name, n_months, s, n_pairs, slopes,
      |    (n_months * (n_months - 1) * (2 * n_months + 5) - tie_term)::DOUBLE
      |      AS var18,
      |    CASE WHEN n_pairs % 2 = 1 THEN slopes[((n_pairs + 1) / 2)::INT]
      |      ELSE (slopes[(n_pairs / 2)::INT]
      |        + slopes[(n_pairs / 2 + 1)::INT]) / 2 END AS med,
      |    CASE WHEN s > 0 THEN (s - 1)::DOUBLE / sqrt((n_months * (n_months - 1)
      |        * (2 * n_months + 5) - tie_term)::DOUBLE / 18)
      |      WHEN s < 0 THEN (s + 1)::DOUBLE / sqrt((n_months * (n_months - 1)
      |        * (2 * n_months + 5) - tie_term)::DOUBLE / 18)
      |      ELSE 0.0 END AS z
      |  FROM pn JOIN cnt USING (nk) JOIN ties USING (nk)
      |  JOIN nation ON nk = n_nationkey
      |)
      |SELECT n_name, n_months::BIGINT AS n_months, s::BIGINT AS s,
      |  round(var18 / 18, 4) AS var_s,
      |  round(z, 4) AS z,
      |  round(med / 100, 4) AS sen_slope_usd_per_month,
      |  CASE WHEN abs(z) <= 1.96 THEN 'none'
      |       WHEN s > 0 THEN 'up' ELSE 'down' END AS trend
      |FROM f ORDER BY n_name""".stripMargin

  /** q290: classical additive seasonal decomposition of daily revenue —
    * y = trend + seasonal + residual, the moving-average construction
    * under every STL-style decompose(): trend is the centered 7-day
    * MA, the weekday seasonal is the mean of the detrended series per
    * weekday, the residual is what's left. Readout: per-weekday
    * seasonal component and mean absolute residual — "how big is the
    * weekly cycle vs the noise floor".
    *
    * Cross-engine determinism: detrended values are kept as EXACT
    * integers scaled by 7 (detr7 = 7y − Σ₇y); the weekday residual is
    * cross-multiplied to scale 7·n_w (n_w·detr7 − Σ_w detr7, still
    * integer), so every aggregate is an exact integer sum and each
    * output is ONE final double division — the q229/q230 discipline.
    *
    * Scale shape: facts reduce to the day spine (one map-side-partial
    * shuffle); the MA window is a global ORDER BY over that BOUNDED
    * spine (calendar-sized — WindowGuardSpec-allowlisted), and the
    * weekday rollup is a 7-row aggregate.
    */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("y_c"))
    val wMa = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val detr = daily
      .withColumn("n_win", count(lit(1)).over(wMa))
      .withColumn("sum7", sum(col("y_c")).over(wMa))
      .filter(col("n_win") === 7)
      .withColumn("detr7", col("y_c") * 7 - col("sum7"))
      .withColumn("dow", dayofweek(col("day")))
    detr
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("detr7")).as("s_w"),
        collect_list(struct(col("day"), col("detr7"))).as("ds"))
      .withColumn("sum_abs_r", expr(
        """aggregate(
          |  transform(ds,
          |    x -> CAST(abs(n_days * x.detr7 - s_w) AS DECIMAL(38, 0))),
          |  CAST(0 AS DECIMAL(38, 0)), (a, x) -> CAST(a + x AS DECIMAL(38, 0)))"""
          .stripMargin))
      .select(col("dow").cast("int").as("dow"),
        col("n_days").cast("bigint").as("n_days"),
        round(col("s_w").cast("double") / (col("n_days") * 700), 2)
          .as("seasonal_usd"),
        round(col("sum_abs_r").cast("double")
          / (col("n_days") * col("n_days") * 700), 2).as("mean_abs_resid_usd"))
      .orderBy(col("dow"))
  }

  private val seasonalDecomposeSql =
    """WITH daily AS (
      |  SELECT o_orderdate::DATE AS day,
      |    sum(round(o_totalprice * 100)::BIGINT) AS y_c
      |  FROM orders GROUP BY 1
      |), ma AS (
      |  SELECT day, y_c,
      |    count(*) OVER w AS n_win,
      |    sum(y_c) OVER w AS sum7
      |  FROM daily
      |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |), detr AS (
      |  SELECT dayofweek(day) + 1 AS dow, y_c * 7 - sum7 AS detr7
      |  FROM ma WHERE n_win = 7
      |), g AS (
      |  SELECT dow, count(*) AS n_days, sum(detr7) AS s_w,
      |    list(detr7) AS ds
      |  FROM detr GROUP BY dow
      |)
      |SELECT dow::INT AS dow, n_days::BIGINT AS n_days,
      |  round(s_w::DOUBLE / (n_days * 700), 2) AS seasonal_usd,
      |  round(list_sum(list_transform(ds, x -> abs(n_days * x - s_w)))::DOUBLE
      |    / (n_days * n_days * 700), 2) AS mean_abs_resid_usd
      |FROM g ORDER BY dow""".stripMargin

  /** q292: beta-binomial empirical-Bayes shrinkage of part return
    * rates — the hierarchical fix for q234's problem from the OTHER
    * direction: instead of widening thin evidence's interval (Wilson),
    * EB shrinks each part's rate toward the population prior, with
    * strength set BY THE DATA (method of moments: K = m(1−m)/v − 1,
    * α = mK). A part with 3/5 returns reads ~prior; a part with
    * 300/500 keeps its own rate. The ranking every marketplace uses
    * for "worst seller" lists once Wilson's pessimism is too blunt.
    *
    * Cross-engine determinism: prior moments are computed on
    * ×10⁶-floored INTEGER rates (floor of an IEEE division is
    * engine-identical), with the variance cross-multiplied in
    * DECIMAL(38,0)/HUGEINT (q229's discipline); K, α and every
    * shrunk rate are then single IEEE op chains over exact integers.
    *
    * Scale shape: one partkey aggregation (map-side partial) → the
    * prior is a 1-row broadcast over the part relation → partial
    * top-k. No global sort, no second fact pass.
    */
  def ebShrinkage(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
      .filter(col("n") >= 10)
      .withColumn("ip", floor(col("r") * lit(1000000L) / col("n")).cast("long"))
    val prior = parts.agg(
        count(lit(1)).as("p_parts"),
        sum(col("ip")).as("s1"),
        sum((col("ip") * col("ip")).cast("decimal(38,0)")).as("s2"))
      .withColumn("mean_ip", col("s1").cast("double") / col("p_parts"))
      .withColumn("var_ip",
        (col("p_parts").cast("decimal(38,0)") * col("s2")
          - (col("s1").cast("decimal(38,0)") * col("s1")).cast("decimal(38,0)"))
          .cast("double")
          / (col("p_parts").cast("double") * (col("p_parts") - 1)))
      .withColumn("m", col("mean_ip") / 1000000.0)
      .withColumn("v", col("var_ip") / 1000000.0 / 1000000.0)
      .withColumn("k_prior",
        greatest(col("m") * (lit(1.0) - col("m")) / col("v") - 1, lit(1.0)))
      .withColumn("alpha", col("m") * col("k_prior"))
      .select(col("m"), col("k_prior"), col("alpha"))
    parts.crossJoin(broadcast(prior))
      .withColumn("shrunk",
        (col("r") + col("alpha")) / (col("n") + col("k_prior")))
      .orderBy(col("shrunk").desc, col("l_partkey"))
      .limit(15)
      .select(col("l_partkey"), col("n").cast("bigint").as("n"),
        col("r").cast("bigint").as("n_returns"),
        round(col("r").cast("double") / col("n"), 6).as("raw_rate"),
        round(col("shrunk"), 6).as("shrunk_rate"),
        round(col("m"), 6).as("prior_mean"),
        round(col("k_prior"), 4).as("prior_strength"))
  }

  private val ebShrinkageSql =
    """WITH p AS (
      |  SELECT l_partkey, count(*)::BIGINT AS n,
      |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS r
      |  FROM lineitem GROUP BY l_partkey HAVING count(*) >= 10
      |), ip AS (
      |  SELECT l_partkey, n, r,
      |    floor(r * 1000000 / n)::BIGINT AS ip
      |  FROM p
      |), pr AS (
      |  SELECT count(*)::BIGINT AS p_parts,
      |    sum(ip)::HUGEINT AS s1,
      |    sum((ip * ip)::HUGEINT) AS s2
      |  FROM ip
      |), c AS (
      |  SELECT
      |    (s1::DOUBLE / p_parts) / 1000000.0 AS m,
      |    ((p_parts::HUGEINT * s2 - s1 * s1)::DOUBLE
      |      / (p_parts::DOUBLE * (p_parts - 1))) / 1000000.0 / 1000000.0 AS v
      |  FROM pr
      |), k AS (
      |  SELECT m, greatest(m * (1.0 - m) / v - 1, 1.0) AS k_prior,
      |    m * greatest(m * (1.0 - m) / v - 1, 1.0) AS alpha
      |  FROM c
      |)
      |SELECT l_partkey, n, r AS n_returns,
      |  round(r::DOUBLE / n, 6) AS raw_rate,
      |  round((r + alpha) / (n + k_prior), 6) AS shrunk_rate,
      |  round(m, 6) AS prior_mean,
      |  round(k_prior, 4) AS prior_strength
      |FROM ip CROSS JOIN k
      |ORDER BY (r + alpha) / (n + k_prior) DESC, l_partkey LIMIT 15""".stripMargin

  /** q294: one ALS-WR round of a rank-2 matrix factorization over the
    * customer×part purchase matrix (Zhou et al. 2008, "Large-scale
    * Parallel Collaborative Filtering for the Netflix Prize") — the
    * canonical distributed recommender: fix item factors, solve every
    * user's 2×2 ridge system in closed form (λ·n_u weighted
    * regularization), then re-solve items against the new user
    * factors, and score. No MLlib — the whole round is declarative
    * DataFrame algebra: the per-key normal equations are ordered
    * folds over each key's bounded rating list, the 2×2 inverse is
    * algebraic (det = d11·d22 − m12²), and the md5-derived item init
    * makes the run replayable anywhere.
    *
    * Cross-engine determinism: every Σ (Gramian terms, right-hand
    * sides, per-user SSE) is the q240 ordered fold over part-/cust-
    * sorted structs — unordered float aggregation appears nowhere.
    *
    * Scale shape: exactly ALS's: ratings shuffle once per half-step
    * (by item to attach factors, by user to solve — both map-side
    * combinable joins), per-key work is O(items-per-user · k²) on a
    * bounded list, and factors are (key, 2-vector) relations. At
    * 10¹² ratings you'd add the standard user-block×item-block
    * routing; nothing here collects to the driver.
    */
  def alsFactorization(spark: SparkSession, dir: String): DataFrame = {
    val lam = 0.1
    def fold(term: String) = expr(s"aggregate(ds, 0D, (a, x) -> a + $term)")
    // Persist boundary: the ratings matrix is the ALS loop invariant,
    // referenced by both half-steps and the scoring pass — without it
    // the lineitem⋈orders+agg subtree re-evaluates per reference (the
    // q295 lesson, same fix).
    val ratings = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .agg(sum(col("l_quantity")).cast("bigint").as("r"))
      .persist()
    val items0 = ratings.select(col("p")).distinct()
      .withColumn("h", md5(col("p").cast("string")))
      .select(col("p"),
        (lit(0.5) + pmod(conv(substring(col("h"), 1, 8), 16, 10).cast("long"),
          lit(1000)) / 2000.0).as("v1"),
        (lit(0.5) - pmod(conv(substring(col("h"), 9, 8), 16, 10).cast("long"),
          lit(1000)) / 2000.0).as("v2"))
    def solve(rated: DataFrame, key: String, ord: String,
        f1: String, f2: String): DataFrame =
      rated
        .groupBy(col(key))
        .agg(expr(s"array_sort(collect_list(struct($ord, r, $f1, $f2)))")
          .as("ds"))
        .withColumn("n", size(col("ds")))
        .withColumn("m11", fold(s"x.$f1 * x.$f1"))
        .withColumn("m12", fold(s"x.$f1 * x.$f2"))
        .withColumn("m22", fold(s"x.$f2 * x.$f2"))
        .withColumn("b1", fold(s"x.r * x.$f1"))
        .withColumn("b2", fold(s"x.r * x.$f2"))
        .withColumn("d11", col("m11") + lit(lam) * col("n"))
        .withColumn("d22", col("m22") + lit(lam) * col("n"))
        .withColumn("det", col("d11") * col("d22") - col("m12") * col("m12"))
        .select(col(key), col("n"),
          ((col("d22") * col("b1") - col("m12") * col("b2")) / col("det"))
            .as("s1"),
          ((col("d11") * col("b2") - col("m12") * col("b1")) / col("det"))
            .as("s2"))
    val users = solve(ratings.join(items0, Seq("p")), "c", "p", "v1", "v2")
      .withColumnRenamed("s1", "u1").withColumnRenamed("s2", "u2")
      .withColumnRenamed("n", "n_items")
      .persist() // (c, 2-vector) relation; read by items1 and scoring
    val items1 = solve(
        ratings.join(users.select(col("c"), col("u1"), col("u2")), Seq("c")),
        "p", "c", "u1", "u2")
      .select(col("p"), col("s1").as("w1"), col("s2").as("w2"))
    Materialize.releasing(
      ratings
        .join(users, Seq("c")).join(items1, Seq("p"))
        .withColumn("pred", col("u1") * col("w1") + col("u2") * col("w2"))
        .groupBy(col("c"))
        .agg(max(col("n_items")).as("n_items"),
          max(col("u1")).as("u1"), max(col("u2")).as("u2"),
          expr("array_sort(collect_list(struct(p, r, pred)))").as("ds"))
        .withColumn("sse", fold("(x.r - x.pred) * (x.r - x.pred)"))
        .select(col("c").as("custkey"), col("n_items").cast("bigint").as("n_items"),
          round(col("u1"), 6).as("u1"), round(col("u2"), 6).as("u2"),
          round(sqrt(col("sse") / col("n_items")), 6).as("rmse"))
        .orderBy(col("custkey")).limit(15),
      ratings, users)
  }

  private val alsFactorizationSql = {
    def hex(off: Int) =
      s"""list_reduce(list_transform(generate_series(1, 8),
         |      i -> strpos('0123456789abcdef',
         |             substring(md5(p::VARCHAR), i + $off, 1)) - 1),
         |      (a, d) -> a * 16 + d)"""
    def folds(f1: String, f2: String) =
      s"""len(ds) AS n,
         |    list_reduce(list_transform(ds, x -> x.$f1 * x.$f1), (a,b)->a+b) AS m11,
         |    list_reduce(list_transform(ds, x -> x.$f1 * x.$f2), (a,b)->a+b) AS m12,
         |    list_reduce(list_transform(ds, x -> x.$f2 * x.$f2), (a,b)->a+b) AS m22,
         |    list_reduce(list_transform(ds, x -> x.r * x.$f1), (a,b)->a+b) AS b1,
         |    list_reduce(list_transform(ds, x -> x.r * x.$f2), (a,b)->a+b) AS b2"""
    s"""WITH ratings AS (
       |  SELECT o_custkey AS c, l_partkey AS p, sum(l_quantity)::BIGINT AS r
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |), items0 AS (
       |  SELECT p,
       |    0.5 + (${hex(0)} % 1000) / 2000.0 AS v1,
       |    0.5 - (${hex(8)} % 1000) / 2000.0 AS v2
       |  FROM (SELECT DISTINCT p FROM ratings)
       |), uds AS (
       |  SELECT c, list(struct_pack(p := p, r := r, v1 := v1, v2 := v2)
       |    ORDER BY p) AS ds
       |  FROM ratings JOIN items0 USING (p) GROUP BY c
       |), ug AS (
       |  SELECT c, ${folds("v1", "v2")}
       |  FROM uds
       |), users AS (
       |  SELECT c, n AS n_items,
       |    ((m22 + 0.1 * n) * b1 - m12 * b2)
       |      / ((m11 + 0.1 * n) * (m22 + 0.1 * n) - m12 * m12) AS u1,
       |    ((m11 + 0.1 * n) * b2 - m12 * b1)
       |      / ((m11 + 0.1 * n) * (m22 + 0.1 * n) - m12 * m12) AS u2
       |  FROM ug
       |), ids AS (
       |  SELECT p, list(struct_pack(c := c, r := r, u1 := u1, u2 := u2)
       |    ORDER BY c) AS ds
       |  FROM ratings JOIN users USING (c) GROUP BY p
       |), ig AS (
       |  SELECT p, ${folds("u1", "u2")}
       |  FROM ids
       |), items1 AS (
       |  SELECT p,
       |    ((m22 + 0.1 * n) * b1 - m12 * b2)
       |      / ((m11 + 0.1 * n) * (m22 + 0.1 * n) - m12 * m12) AS w1,
       |    ((m11 + 0.1 * n) * b2 - m12 * b1)
       |      / ((m11 + 0.1 * n) * (m22 + 0.1 * n) - m12 * m12) AS w2
       |  FROM ig
       |), scored AS (
       |  SELECT c, max(n_items) AS n_items, max(u1) AS u1, max(u2) AS u2,
       |    list(struct_pack(p := p, r := r,
       |        pred := u1 * w1 + u2 * w2) ORDER BY p) AS ds
       |  FROM ratings JOIN users USING (c) JOIN items1 USING (p)
       |  GROUP BY c
       |)
       |SELECT c AS custkey, n_items::BIGINT AS n_items,
       |  round(u1, 6) AS u1, round(u2, 6) AS u2,
       |  round(sqrt(list_reduce(list_transform(ds,
       |      x -> (x.r - x.pred) * (x.r - x.pred)), (a,b)->a+b) / n_items), 6)
       |    AS rmse
       |FROM scored ORDER BY custkey LIMIT 15""".stripMargin
  }

  /** q295: Bradley–Terry preference-strength aggregation — the model
    * under every pairwise-preference pipeline (reward-model data QA,
    * ranker evaluation, match-making): P(i beats j) = γᵢ/(γᵢ+γⱼ),
    * fitted by two of Hunter (2004)'s MM updates
    * γᵢ ← Wᵢ / Σⱼ nᵢⱼ/(γᵢ+γⱼ) from uniform init. Contests here are
    * within-order part pairs decided by quantity (the engine-level
    * shape of "annotator preferred completion A"), with a +1-win /
    * virtual-opponent regularizer so isolated or winless items stay
    * finite (the comparison graph need not be connected). Readout:
    * top-15 strengths with contest/win counts.
    *
    * Cross-engine determinism: Wᵢ and nᵢⱼ are exact integers; each
    * MM denominator is an ordered fold over the opponent list
    * (sorted by opponent id), so both engines fold identical IEEE
    * sequences. No unordered float aggregation.
    *
    * Scale shape: contest generation is a within-order self-join
    * (orders are tiny groups — bounded pair fan-out), pair stats
    * aggregate with map-side partials, and each MM sweep is one join
    * of the pair relation to the (item, γ) relation plus a per-item
    * fold over its BOUNDED opponent list — two shuffles per sweep,
    * the ALS (q294) envelope. Strengths never leave the cluster.
    */
  def bradleyTerry(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        col("l_quantity").cast("long").as("q"))
    val a = li.select(col("ok"), col("pk").as("i"), col("q").as("qi"))
    val b = li.select(col("ok"), col("pk").as("j"), col("q").as("qj"))
    // both directions: one row per ordered pair (i, j), i beats j on quantity
    val contests = a.join(b, Seq("ok"))
      .filter(col("i") =!= col("j") && col("qi") =!= col("qj"))
      .select(col("i"), col("j"),
        when(col("qi") > col("qj"), 1L).otherwise(0L).as("win"))
    // Persist boundary: the MM iteration makes `pairs` (and through it
    // the contests self-join) a multiply-referenced subtree — sweep 2's
    // plan embeds sweep 1's, so without the persist the lineitem
    // self-join re-evaluates once per gamma reference (~6× measured in
    // the r10 sf0.1 sweep). Same discipline as every iterative query
    // here (q294 ALS): materialize the loop-invariant relation once.
    val pairs = contests.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("win")).as("w"))
      .persist()
    val wins = pairs.groupBy(col("i"))
      .agg(sum(col("w")).as("w_i"), sum(col("n")).as("n_i"))
      .persist()
    def sweep(gamma: DataFrame): DataFrame =
      pairs
        .join(gamma.select(col("i"), col("g").as("gi")), Seq("i"))
        .join(gamma.select(col("i").as("j"), col("g").as("gj")), Seq("j"))
        .groupBy(col("i"))
        .agg(expr("array_sort(collect_list(struct(j, n, gi, gj)))").as("ds"))
        .withColumn("denom",
          expr("aggregate(ds, 0D, (a, x) -> a + x.n / (x.gi + x.gj))")
            + lit(2.0) / (element_at(col("ds"), 1).getField("gi") + 1.0))
        .join(wins, Seq("i"))
        .select(col("i"),
          ((col("w_i") + 1).cast("double") / col("denom")).as("g"))
    val g0 = wins.select(col("i"), lit(1.0).as("g"))
    val g2 = sweep(sweep(g0))
    Materialize.releasing(
      g2.join(wins, Seq("i"))
        .orderBy(col("g").desc, col("i"))
        .limit(15)
        .select(col("i").as("partkey"),
          col("n_i").cast("bigint").as("n_contests"),
          col("w_i").cast("bigint").as("n_wins"),
          round(col("g"), 6).as("bt_strength")),
      pairs, wins)
  }

  private val bradleyTerrySql = {
    def sweepCte(gin: String, gout: String) =
      s"""${gout}_ds AS (
         |  SELECT p.i,
         |    list(struct_pack(j := p.j, n := p.n, gi := gi.g, gj := gj.g)
         |      ORDER BY p.j) AS ds
         |  FROM pairs p
         |  JOIN $gin gi ON gi.i = p.i
         |  JOIN $gin gj ON gj.i = p.j
         |  GROUP BY p.i
         |), $gout AS (
         |  SELECT d.i,
         |    (w.w_i + 1)::DOUBLE
         |      / (list_reduce(list_transform(d.ds, x -> x.n / (x.gi + x.gj)),
         |           (a, b) -> a + b)
         |         + 2.0 / (d.ds[1].gi + 1.0)) AS g
         |  FROM ${gout}_ds d JOIN wins w ON w.i = d.i
         |)"""
    s"""WITH li AS (
       |  SELECT l_orderkey AS ok, l_partkey AS pk, l_quantity::BIGINT AS q
       |  FROM lineitem
       |), contests AS (
       |  SELECT a.pk AS i, b.pk AS j,
       |    CASE WHEN a.q > b.q THEN 1 ELSE 0 END AS win
       |  FROM li a JOIN li b ON a.ok = b.ok
       |  WHERE a.pk <> b.pk AND a.q <> b.q
       |), pairs AS (
       |  SELECT i, j, count(*)::BIGINT AS n, sum(win)::BIGINT AS w
       |  FROM contests GROUP BY i, j
       |), wins AS (
       |  SELECT i, sum(w)::BIGINT AS w_i, sum(n)::BIGINT AS n_i
       |  FROM pairs GROUP BY i
       |), g0 AS (
       |  SELECT i, 1.0::DOUBLE AS g FROM wins
       |), ${sweepCte("g0", "g1")}, ${sweepCte("g1", "g2")}
       |SELECT g2.i AS partkey, w.n_i AS n_contests, w.w_i AS n_wins,
       |  round(g2.g, 6) AS bt_strength
       |FROM g2 JOIN wins w ON w.i = g2.i
       |ORDER BY g2.g DESC, g2.i LIMIT 15""".stripMargin
  }

  /** q298: Kruskal–Wallis H test — the k-sample generalization of
    * q172's Mann–Whitney: do the 25 nations' monthly-revenue
    * distributions share a location, judged on RANKS (robust to the
    * heavy right tail revenue always has)?
    * H = 12/(N(N+1))·Σ R_g²/n_g − 3(N+1), tie-corrected by
    * C = 1 − Σ(t³−t)/(N³−N), verdict against the χ²(24) 5% critical
    * value. The last member of the engine's nonparametric family
    * (MW, KS, permutation, Mann–Kendall, Spearman).
    *
    * Cross-engine determinism: q172's discipline — average ranks kept
    * as EXACT 2×-scaled integers from a distributed exclusive prefix
    * sum over the distinct-value relation (ScaledWindows, never a
    * global window), group rank-sums cross-multiplied in
    * DECIMAL(38,0), and the final 25-term Σ as an ordered fold.
    *
    * Scale shape: facts reduce to the nation×month spine; the rank
    * pass is the two-phase range-partitioned prefix sum over distinct
    * values; everything after is 25-row metadata algebra.
    */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        ((year(col("o_orderdate")) - 1995) * 12
          + month(col("o_orderdate")) - 1).as("m"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("y_c"))
    val byV = monthly.groupBy(col("y_c")).agg(count(lit(1)).as("ntv"))
    val ranked = ScaledWindows.prefixSum(byV, Seq(col("y_c")), col("ntv"),
        "cum_prev", exclusive = true)
      .withColumn("r2", lit(2L) * col("cum_prev") + col("ntv") + lit(1L))
    val byGV = monthly.groupBy(col("nk"), col("y_c"))
      .agg(count(lit(1)).as("n_gv"))
    val groups = byGV.join(ranked, Seq("y_c"))
      .groupBy(col("nk"))
      .agg(sum(col("n_gv")).cast("bigint").as("n_g"),
        sum(col("n_gv").cast("decimal(38,0)") * col("r2"))
          .cast("double").as("r2_g"))
    val ties = ranked.agg(
      sum(col("ntv")).cast("bigint").as("n"),
      sum(col("ntv").cast("decimal(38,0)") * col("ntv") * col("ntv")
        - col("ntv")).cast("double").as("tie"))
    val folded = groups.agg(
      count(lit(1)).cast("bigint").as("n_groups"),
      expr("aggregate(array_sort(collect_list(struct(nk, n_g, r2_g))), 0D," +
        "(acc, x) -> acc + (x.r2_g * x.r2_g / 4.0) / x.n_g)").as("sum_terms"))
    folded.crossJoin(broadcast(ties))
      .withColumn("nd", col("n").cast("double"))
      .withColumn("h", lit(12.0) / (col("nd") * (col("nd") + 1))
        * col("sum_terms") - lit(3.0) * (col("nd") + 1))
      .withColumn("c_tie", lit(1.0)
        - col("tie") / (col("nd") * col("nd") * col("nd") - col("nd")))
      .select(col("n").as("n_total"), col("n_groups"),
        round(col("h"), 4).as("h"),
        round(col("h") / col("c_tie"), 4).as("h_tie_corrected"),
        (col("n_groups") - 1).cast("bigint").as("df"),
        lit(36.415).as("chi2_crit_05"),
        (col("h") / col("c_tie") > 36.415).as("reject_equal_location"))
  }

  private val kruskalWallisSql =
    """WITH monthly AS (
      |  SELECT c_nationkey AS nk,
      |    (year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS m,
      |    sum(round(o_totalprice * 100)::BIGINT) AS y_c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2
      |), byv AS (
      |  SELECT y_c, count(*)::BIGINT AS ntv FROM monthly GROUP BY y_c
      |), ranked AS (
      |  SELECT y_c, ntv,
      |    coalesce(sum(ntv) OVER (ORDER BY y_c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      |  FROM byv
      |), r2t AS (
      |  SELECT y_c, ntv, 2 * cum_prev + ntv + 1 AS r2 FROM ranked
      |), groups AS (
      |  SELECT nk, sum(n_gv)::BIGINT AS n_g,
      |    sum(n_gv::HUGEINT * r2)::DOUBLE AS r2_g
      |  FROM (SELECT nk, y_c, count(*)::BIGINT AS n_gv
      |        FROM monthly GROUP BY nk, y_c) g
      |  JOIN r2t USING (y_c) GROUP BY nk
      |), ties AS (
      |  SELECT sum(ntv)::BIGINT AS n,
      |    sum(ntv::HUGEINT * ntv * ntv - ntv)::DOUBLE AS tie
      |  FROM r2t
      |), folded AS (
      |  SELECT count(*)::BIGINT AS n_groups,
      |    list_reduce(list((r2_g * r2_g / 4.0) / n_g ORDER BY nk),
      |      (a, b) -> a + b) AS sum_terms
      |  FROM groups
      |)
      |SELECT n AS n_total, n_groups,
      |  round(12.0 / (n::DOUBLE * (n::DOUBLE + 1)) * sum_terms
      |    - 3.0 * (n::DOUBLE + 1), 4) AS h,
      |  round((12.0 / (n::DOUBLE * (n::DOUBLE + 1)) * sum_terms
      |      - 3.0 * (n::DOUBLE + 1))
      |    / (1.0 - tie / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE)), 4)
      |    AS h_tie_corrected,
      |  (n_groups - 1)::BIGINT AS df,
      |  36.415 AS chi2_crit_05,
      |  ((12.0 / (n::DOUBLE * (n::DOUBLE + 1)) * sum_terms
      |      - 3.0 * (n::DOUBLE + 1))
      |    / (1.0 - tie / (n::DOUBLE * n::DOUBLE * n::DOUBLE - n::DOUBLE))
      |    > 36.415) AS reject_equal_location
      |FROM folded CROSS JOIN ties""".stripMargin

  /** q302: leave-last-out recommender backtest — the offline eval that
    * decides whether a recommender ships: hide each customer's LAST
    * order, train item-item co-occurrence on the earlier ones, score
    * unseen candidates by profile-weighted co-counts, and measure
    * hit-rate@1/@3 against the held-out basket plus catalog coverage
    * (the health metric that catches popularity collapse). The eval
    * harness around q204's neighbor model, leakage-safe by
    * construction: the held-out order contributes NOTHING to training.
    *
    * Cross-engine determinism: scores are exact integer co-counts,
    * ranking tiebreaks on the item key, and every rate divides exact
    * counts.
    *
    * Scale shape: co-occurrence is a within-order self-join (bounded
    * basket fan-out) with map-side-partial aggregation; each item's
    * neighbor list is then TRUNCATED to its top-[[RecsysNeighborK]]
    * co-items (w DESC, j tiebreak — the truncation every production
    * item-item CF applies) BEFORE candidate scoring, because the
    * profile ⋈ cooc join expands each (customer, item) row by that
    * item's full neighbor list: untruncated this materialized 60.3M
    * rows at sf0.1 (measured r10 — an 89 s sweep outlier, found by
    * the new Verify timings) and grows superlinearly with corpus
    * density; truncated it is ≤ |profile| × K. While the truncated
    * lists fit the broadcast budget they ship as one
    * [[graft.functions.NeighborTable]] and each customer's profile set
    * is scored in one `neighbor_top_k` call (sum-combine, profile items
    * dropped, top-3 by (score desc, j)) — the |profile| × K expansion
    * is never materialized, aggregated or windowed. Past the budget the
    * relational tail (join, explode, (c, j) aggregation, window) runs;
    * same rows. The held-out split is a per-customer max; eval
    * denominators ride as broadcast one-row aggregates (no driver-side
    * counts) — no global sort anywhere.
    */
  val RecsysNeighborK = 20

  def recsysBacktest(spark: SparkSession, dir: String): DataFrame =
    recsysBacktest(spark, dir, DimsumItemBudget)

  /** Budget-parameterized body: a small `itemBudget` forces the
    * relational scoring tail. */
  private[graft] def recsysBacktest(spark: SparkSession, dir: String,
      itemBudget: Long): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val wLast = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val tagged = orders
      .withColumn("rn", row_number().over(wLast))
      .withColumn("n_orders",
        count(lit(1)).over(Window.partitionBy(col("o_custkey"))))
      .filter(col("n_orders") >= 2)
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    // Persist boundary: this subtree (orders window + lineitem join +
    // distinct) feeds the co-occurrence self-join twice AND the profile
    // twice — 4 re-evaluations of two shuffles each without it. Sized
    // ~|train lineitems| rows of 3 longs; released by the harness's
    // clearCache.
    // ok-keyed layout (r16, guide §2.4): one REPARTITION by the order
    // key replaces the distinct's (c, ok, item) exchange AND
    // co-partitions both sides of the co-occurrence self-join below —
    // the join's two full exchanges of the train relation disappear
    // (hash(ok) satisfies the distinct's clustering and the join's
    // distribution requirement). Same bytes on the one exchange that
    // remains.
    val trainItems = tagged.filter(col("rn") > 1)
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("o_orderkey").as("ok"),
        col("l_partkey").as("item"))
      .repartition(spark.sparkContext.defaultParallelism, col("ok"))
      .distinct()
      .persist()
    val heldOut = tagged.filter(col("rn") === 1)
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("item")).distinct()
    // One aggregation over the cached train relation feeds both
    // guards: the packed-pair kernel needs every id in [0, 2³²) (past
    // it the self-join below is the path), and the neighbor table
    // holds ≤ K rows per distinct train item — a row-count bound that
    // holds for any id domain, compared by division (no overflow).
    val guard = trainItems.agg(min(col("item")), max(col("item")),
      count_distinct(col("item"))).collect()(0)
    val packedOk = !guard.isNullAt(0) &&
      guard.getLong(0) >= 0L && guard.getLong(1) < (1L << 32)
    val coocFits = guard.getLong(2) <= itemBudget / RecsysNeighborK
    // Half-pair co-occurrence (r17, guide §2.3 — shuffle fewer bytes):
    // the old self-join emitted BOTH directions (item ≠ item), then
    // aggregated 2× the distinct pair mass; w(i,j) = w(j,i) by
    // symmetry, so emit i < j once — half the join output, half the
    // (i,j) aggregation's shuffle and hash-map — and mirror the
    // AGGREGATED relation in-task (the q204/q322 explode
    // symmetrization, oracle-identical) before the top-K window.
    // r17 second pass: the within-order pair set doesn't need a join
    // at all — trainItems is already hash(ok) partitioned, so
    // groupBy(ok).collect_list runs IN PLACE and the packed pair
    // kernel (q217's single-long (i<j) key) emits each order's pairs
    // in-task: the self-join's build+probe over the whole train
    // relation and the two-long agg key both disappear; the only
    // exchange left on this path is the pair aggregation's own (now
    // on a single long). Same pair multiset, same counts.
    val coocHalf =
      if (packedOk) {
        trainItems
          .groupBy(col("ok")).agg(collect_list(col("item")).as("ds"))
          .select(explode(graft.functions.PairExpandFunctions
            .pairExpandPackedIds(col("ds"))).as("pk"))
          .groupBy(col("pk")).agg(count(lit(1)).as("w"))
          .select(shiftrightunsigned(col("pk"), 32).as("ia"),
            col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("ib"), col("w"))
      } else {
        trainItems.alias("x").join(trainItems.alias("y"),
            col("x.ok") === col("y.ok") && col("x.item") < col("y.item"))
          .groupBy(col("x.item").as("ia"), col("y.item").as("ib"))
          .agg(count(lit(1)).as("w"))
      }
    val coocFull = coocHalf.select(explode(array(
        struct(col("ia").as("i"), col("ib").as("j"), col("w")),
        struct(col("ib").as("i"), col("ia").as("j"), col("w")))).as("s"))
      .select(col("s.i").as("i"), col("s.j").as("j"), col("s.w").as("w"))
    val wNbr = Window.partitionBy(col("i"))
      .orderBy(col("w").desc, col("j"))
    val cooc = coocFull.withColumn("nrk", row_number().over(wNbr))
      .filter(col("nrk") <= RecsysNeighborK).drop("nrk")
    val w = spark.sparkContext.defaultParallelism
    // The profile stays on hash(c) at the session's parallelism (a
    // REPARTITION_BY_NUM that AQE does not coalesce): the scoring work
    // per customer is the expensive part, and a coalesced single task
    // serializes it. Both routes below run on this one layout.
    val profileC = trainItems.select(col("c"), col("item"))
      .repartition(w, col("c"))
    val (topk, tables) = if (coocFits) {
      // Kernel route: the ≤ K-per-item lists become one broadcast
      // table, and each customer's distinct profile set (built in
      // place on hash(c)) is scored by one neighbor_top_k call.
      val rows = cooc.collect()
      val table = spark.sparkContext.broadcast(graft.functions.NeighborTable.build(
        rows.map(_.getLong(0)), rows.map(_.getLong(1)), rows.map(_.getLong(2)),
        doubles = false))
      val scored = profileC
        .groupBy(col("c")).agg(collect_set(col("item")).as("items"))
        .select(col("c"), explode(graft.functions.NeighborTopKFunctions
          .neighborTopK(col("items"), table, 3, "sum")).as("t"))
        .select(col("c"), col("t.item").as("j"), col("t.rank").as("rk"))
      (scored, Seq(table))
    } else {
      // Relational route (over budget): per-item neighbor arrays join
      // the hash(c) profile as an AQE-planned shuffle join; the anti
      // join folds into the (c, j) aggregation as a SEEN marker row
      // (each profile item rides its exploded candidate array with a
      // null weight): sum(w) ignores the marker, and max(isnull(w)) =
      // "j was in the profile", so filter(!seen) IS the left_anti. The
      // aggregation, filter and top-3 window share hash(c).
      val coocArr = cooc.groupBy(col("i"))
        .agg(collect_list(struct(col("j"), col("w"))).as("nbrs"))
      val nbrType = "array<struct<j:bigint,w:bigint>>"
      val scores = profileC.distinct()
        .join(coocArr, col("item") === col("i"), "left")
        .select(col("c"), explode(concat(
          coalesce(col("nbrs"), array().cast(nbrType)),
          array(struct(col("item").as("j"),
            lit(null).cast("bigint").as("w"))))).as("e"))
        .select(col("c"), col("e.j").as("j"), col("e.w").as("w"))
        .groupBy(col("c"), col("j"))
        .agg(sum(col("w")).as("score"), max(col("w").isNull).as("seen"))
        .filter(!col("seen"))
      val wTop = Window.partitionBy(col("c"))
        .orderBy(col("score").desc, col("j"))
      (scores.withColumn("rk", row_number().over(wTop))
        .filter(col("rk") <= 3)
        .select(col("c"), col("j"), col("rk")), Nil)
    }
    topk.persist() // ≤3 rows per customer; read by hits and the item count
    val hits = topk.join(heldOut,
        topk("c") === heldOut("c") && col("j") === heldOut("item"))
      .groupBy(topk("c").as("cc"))
      .agg(min(col("rk")).as("best_rk"))
    val nEval = tagged.filter(col("rn") === 1)
      .select(col("o_custkey")).distinct()
      .agg(count(lit(1)).cast("bigint").as("n_eval"))
    val catalog = li.select(col("l_partkey")).distinct()
      .agg(count(lit(1)).cast("bigint").as("n_catalog"))
    Materialize.releasing(
      hits.agg(
          sum(when(col("best_rk") === 1, 1L).otherwise(0L)).as("h1"),
          count(lit(1)).as("h3"))
        .crossJoin(topk.agg(countDistinct(col("j")).as("n_rec_items")))
        .crossJoin(broadcast(nEval)).crossJoin(broadcast(catalog))
        .select(
          col("n_eval").as("n_customers"),
          col("h1").cast("bigint").as("hits_at_1"),
          col("h3").cast("bigint").as("hits_at_3"),
          round(col("h1").cast("double") / col("n_eval"), 6).as("hitrate_at_1"),
          round(col("h3").cast("double") / col("n_eval"), 6).as("hitrate_at_3"),
          col("n_rec_items").cast("bigint").as("n_rec_items"),
          round(col("n_rec_items").cast("double") / col("n_catalog"), 6)
            .as("coverage")),
      tables, trainItems, topk)
  }

  private val recsysBacktestSql =
    s"""WITH tagged AS (
      |  SELECT o_orderkey, o_custkey,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
      |    count(*) OVER (PARTITION BY o_custkey) AS n_orders
      |  FROM orders
      |), t2 AS (
      |  SELECT * FROM tagged WHERE n_orders >= 2
      |), train AS (
      |  SELECT DISTINCT t.o_custkey AS c, t.o_orderkey AS ok,
      |    l.l_partkey AS item
      |  FROM t2 t JOIN lineitem l ON t.o_orderkey = l.l_orderkey
      |  WHERE t.rn > 1
      |), held AS (
      |  SELECT DISTINCT t.o_custkey AS c, l.l_partkey AS item
      |  FROM t2 t JOIN lineitem l ON t.o_orderkey = l.l_orderkey
      |  WHERE t.rn = 1
      |), cooc_full AS (
      |  SELECT x.item AS i, y.item AS j, count(*)::BIGINT AS w
      |  FROM train x JOIN train y ON x.ok = y.ok AND x.item <> y.item
      |  GROUP BY 1, 2
      |), cooc AS (
      |  -- top-K neighbor truncation per item (w DESC, j tiebreak) --
      |  -- the production item-item CF semantics; keeps the profile x
      |  -- cooc expansion at |profile| x K instead of 60M rows (r10)
      |  SELECT i, j, w FROM cooc_full
      |  QUALIFY row_number() OVER (PARTITION BY i ORDER BY w DESC, j)
      |    <= $RecsysNeighborK
      |), profile AS (
      |  SELECT DISTINCT c, item FROM train
      |), scores AS (
      |  SELECT p.c, co.j, sum(co.w)::BIGINT AS score
      |  FROM profile p JOIN cooc co ON p.item = co.i
      |  GROUP BY p.c, co.j
      |), unseen AS (
      |  SELECT s.* FROM scores s
      |  LEFT JOIN profile p ON p.c = s.c AND p.item = s.j
      |  WHERE p.item IS NULL
      |), topk AS (
      |  SELECT c, j, row_number() OVER (PARTITION BY c
      |    ORDER BY score DESC, j) AS rk
      |  FROM unseen QUALIFY rk <= 3
      |), hits AS (
      |  SELECT t.c, min(t.rk) AS best_rk
      |  FROM topk t JOIN held h ON h.c = t.c AND h.item = t.j
      |  GROUP BY t.c
      |), n_eval AS (
      |  SELECT count(DISTINCT o_custkey)::BIGINT AS n FROM t2 WHERE rn = 1
      |), cat AS (
      |  SELECT count(DISTINCT l_partkey)::BIGINT AS n FROM lineitem
      |), hagg AS (
      |  -- global agg (no GROUP BY): exactly one row even when no
      |  -- recommendation hits the held-out basket, matching the Spark
      |  -- side's always-one-row summary (ADVICE r8)
      |  SELECT coalesce(sum(CASE WHEN best_rk = 1 THEN 1 ELSE 0 END), 0)::BIGINT
      |      AS h1,
      |    count(*)::BIGINT AS h3
      |  FROM hits
      |), ragg AS (
      |  SELECT count(DISTINCT j)::BIGINT AS n_rec_items FROM topk
      |)
      |SELECT n_eval.n AS n_customers,
      |  hagg.h1 AS hits_at_1,
      |  hagg.h3 AS hits_at_3,
      |  round(hagg.h1::DOUBLE / n_eval.n, 6) AS hitrate_at_1,
      |  round(hagg.h3::DOUBLE / n_eval.n, 6) AS hitrate_at_3,
      |  ragg.n_rec_items,
      |  round(ragg.n_rec_items::DOUBLE / cat.n, 6) AS coverage
      |FROM hagg CROSS JOIN ragg CROSS JOIN n_eval CROSS JOIN cat""".stripMargin

  /** q307: log-log price elasticity of demand per market segment —
    * the grouped econometric regression every pricing team runs:
    * elasticity = d ln(quantity)/d ln(unit price), estimated by OLS
    * per segment with its standard error
    * SE(b) = √((S_yy/S_xx − b²)/(n−2)/S_xx · S_xx)⁻¹… computed from
    * the `regr_*` aggregate family both engines share (q91's
    * discipline — identical built-in moment aggregates, one final
    * algebra chain). |elasticity/SE| > 1.96 flags segments with a
    * statistically resolvable price response.
    *
    * Scale shape: one map-side-partial aggregation into |segments|
    * rows of regression moments — the grouped-OLS shape that needs no
    * per-row residual pass because regr_syy/regr_sxx carry the
    * sufficient statistics.
    */
  def priceElasticity(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        log(col("l_quantity")).as("ly"),
        log(col("l_extendedprice") / col("l_quantity")).as("lx"))
    base.groupBy(col("segment"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        regr_slope(col("ly"), col("lx")).as("b"),
        regr_intercept(col("ly"), col("lx")).as("a"),
        regr_r2(col("ly"), col("lx")).as("r2"),
        expr("regr_sxx(ly, lx)").as("sxx"),
        expr("regr_syy(ly, lx)").as("syy"))
      .withColumn("se", sqrt(
        (col("syy") - col("b") * col("b") * col("sxx"))
          / (col("n") - 2) / col("sxx")))
      .select(col("segment"), col("n"),
        round(col("b"), 6).as("elasticity"),
        round(col("a"), 4).as("intercept"),
        round(col("r2"), 6).as("r2"),
        round(col("se"), 6).as("se"),
        (abs(col("b")) > lit(1.96) * col("se")).as("resolvable"))
      .orderBy(col("segment"))
  }

  private val priceElasticitySql =
    """WITH base AS (
      |  SELECT c_mktsegment AS segment,
      |    ln(l_quantity) AS ly,
      |    ln(l_extendedprice / l_quantity) AS lx
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |), g AS (
      |  SELECT segment, count(*)::BIGINT AS n,
      |    regr_slope(ly, lx) AS b,
      |    regr_intercept(ly, lx) AS a,
      |    regr_r2(ly, lx) AS r2,
      |    regr_sxx(ly, lx) AS sxx,
      |    regr_syy(ly, lx) AS syy
      |  FROM base GROUP BY segment
      |)
      |SELECT segment, n,
      |  round(b, 6) AS elasticity,
      |  round(a, 4) AS intercept,
      |  round(r2, 6) AS r2,
      |  round(sqrt((syy - b * b * sxx) / (n - 2) / sxx), 6) AS se,
      |  (abs(b) > 1.96 * sqrt((syy - b * b * sxx) / (n - 2) / sxx))
      |    AS resolvable
      |FROM g ORDER BY segment""".stripMargin

  /** q305: Haar wavelet energy decomposition of the daily revenue
    * series — the multi-resolution companion to q173's ACF and q290's
    * weekly decomposition: detail energy at level ℓ measures
    * variation at the 2^ℓ-day scale (ℓ=1 day-to-day noise, ℓ=3
    * weekly-ish structure, ℓ=5 monthly drift), the standard dyadic
    * screen for WHERE a series' variance lives. First 512 days, Haar
    * detail energy Eℓ = Σ_blocks (ΣL − ΣR)²/2^ℓ.
    *
    * Cross-engine determinism: block sums and squared differences are
    * exact integers (DECIMAL(38,0)/HUGEINT squares), and /2^ℓ is a
    * dyadic-exact double op; level energies never touch an unordered
    * float sum.
    *
    * Scale shape: facts reduce to the day spine; the 5 levels expand
    * each day row ×5 (a 2560-row relation) and aggregate by
    * (level, block) with map-side partials. Pure metadata work after
    * the first shuffle.
    */
  def haarEnergy(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("y_c"))
    val idx = daily
      .withColumn("rn", row_number().over(Window.orderBy(col("day"))))
      .filter(col("rn") <= 512)
    val lv = idx.select(col("rn"), col("y_c"),
        explode(sequence(lit(1), lit(5))).as("l"))
      .withColumn("block", expr("(rn - 1) div shiftleft(1, l)"))
      .withColumn("sgn",
        when(pmod(expr("(rn - 1) div shiftleft(1, l - 1)"), lit(2)) === 0, 1L)
          .otherwise(-1L))
    val blocks = lv.groupBy(col("l"), col("block"))
      .agg(sum(col("sgn") * col("y_c")).as("diff"),
        count(lit(1)).as("n_in_block"))
      .filter(col("n_in_block") === expr("shiftleft(1, l)")) // complete blocks only
      .withColumn("e_c2",
        (col("diff").cast("decimal(38,0)") * col("diff"))
          .cast("double") / expr("CAST(shiftleft(1, l) AS DOUBLE)"))
    val energies = blocks.groupBy(col("l"))
      .agg(count(lit(1)).cast("bigint").as("n_blocks"),
        expr("aggregate(array_sort(collect_list(struct(block, e_c2))), 0D," +
          "(acc, x) -> acc + x.e_c2)").as("energy_c2"))
    val tot = energies.agg(
      expr("aggregate(array_sort(collect_list(struct(l, energy_c2))), 0D," +
        "(acc, x) -> acc + x.energy_c2)").as("tot_e"))
    energies.crossJoin(broadcast(tot))
      .select(col("l").cast("int").as("level"), col("n_blocks"),
        round(col("energy_c2") / 1e8, 2).as("detail_energy_musd2"),
        round(col("energy_c2") / col("tot_e"), 4).as("energy_share"))
      .orderBy(col("level"))
  }

  private val haarEnergySql =
    """WITH daily AS (
      |  SELECT o_orderdate::DATE AS day,
      |    sum(round(o_totalprice * 100)::BIGINT) AS y_c
      |  FROM orders GROUP BY 1
      |), idx AS (
      |  SELECT y_c, row_number() OVER (ORDER BY day) AS rn FROM daily
      |  QUALIFY rn <= 512
      |), lv AS (
      |  SELECT rn, y_c, l,
      |    (rn - 1) // (1 << l) AS block,
      |    CASE WHEN ((rn - 1) // (1 << (l - 1))) % 2 = 0
      |      THEN 1 ELSE -1 END AS sgn
      |  FROM idx CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS l)
      |), blocks AS (
      |  SELECT l, block, sum(sgn * y_c)::BIGINT AS diff,
      |    count(*) AS n_in_block
      |  FROM lv GROUP BY l, block
      |), e AS (
      |  SELECT l, block,
      |    (diff::HUGEINT * diff)::DOUBLE / (1 << l)::DOUBLE AS e_c2
      |  FROM blocks WHERE n_in_block = (1 << l)
      |), energies AS (
      |  SELECT l, count(*)::BIGINT AS n_blocks,
      |    list_reduce(list(e_c2 ORDER BY block), (a, b) -> a + b)
      |      AS energy_c2
      |  FROM e GROUP BY l
      |), tot AS (
      |  SELECT list_reduce(list(energy_c2 ORDER BY l), (a, b) -> a + b)
      |    AS tot_e
      |  FROM energies
      |)
      |SELECT l::INT AS level, n_blocks,
      |  round(energy_c2 / 1e8, 2) AS detail_energy_musd2,
      |  round(energy_c2 / tot_e, 4) AS energy_share
      |FROM energies CROSS JOIN tot ORDER BY level""".stripMargin

  override val defs: Seq[QueryDef] = Seq(
    QueryDef("q88_nation_trade_flow", nationTradeFlow, Some(nationTradeFlowSql), benchmark = true),
    QueryDef("q284_ses_backtest", sesBacktest, Some(sesBacktestSql)),
    QueryDef("q294_als_factorization", alsFactorization,
      Some(alsFactorizationSql)),
    QueryDef("q295_bradley_terry", bradleyTerry, Some(bradleyTerrySql)),
    QueryDef("q298_kruskal_wallis", kruskalWallis, Some(kruskalWallisSql)),
    QueryDef("q302_recsys_backtest", recsysBacktest, Some(recsysBacktestSql),
      benchmark = true),
    QueryDef("q305_haar_energy", haarEnergy, Some(haarEnergySql), benchmark = true),
    QueryDef("q307_price_elasticity", priceElasticity,
      Some(priceElasticitySql)),
    QueryDef("q322_dimsum_similarity", dimsumNeighbors,
      Some(dimsumNeighborsSql), benchmark = true),
    QueryDef("q323_dimsum_threshold", dimsumThresholdPairs,
      Some(dimsumThresholdSql)),
    QueryDef("q324_dimsum_hard_negatives", dimsumHardNegatives,
      Some(dimsumHardNegativesSql)),
    QueryDef("q325_adaptive_neighbors", adaptiveItemNeighbors(_, _),
      Some(adaptiveNeighborsSql)),
    QueryDef("q326_hybrid_neighbors", hybridItemNeighbors(_, _),
      Some(hybridNeighborsSql), benchmark = true),
    QueryDef("q289_mann_kendall", mannKendall, Some(mannKendallSql)),
    QueryDef("q290_seasonal_decompose", seasonalDecompose,
      Some(seasonalDecomposeSql)),
    QueryDef("q292_eb_shrinkage", ebShrinkage, Some(ebShrinkageSql)),
    QueryDef("q256_conformal_intervals", conformalIntervals,
      Some(conformalIntervalsSql)),
    QueryDef("q258_randomization_test", randomizationTest,
      Some(randomizationTestSql), benchmark = true),
    QueryDef("q89_market_share", marketShare, Some(marketShareSql)),
    QueryDef("q90_product_profit", productProfit, Some(productProfitSql)),
    QueryDef("q91_regression_battery", regressionBattery, Some(regressionBatterySql)),
    QueryDef("q113_cumulative_buyers", cumulativeBuyers, Some(cumulativeBuyersSql)),
    QueryDef("q114_chi_square", chiSquare, Some(chiSquareSql)),
    QueryDef("q117_basket_pairs", basketPairs, Some(basketPairsSql)),
    QueryDef("q119_welch_ttest", welchTTest, Some(welchTTestSql)),
    QueryDef("q135_skyline", customerSkyline, Some(customerSkylineSql)),
    QueryDef("q138_rrf_fusion", rrfFusion, Some(rrfFusionSql)),
    QueryDef("q144_moving_median", movingMedianRevenue, Some(movingMedianRevenueSql)),
    QueryDef("q145_revenue_growth", revenueGrowth, Some(revenueGrowthSql)),
    QueryDef("q149_lorenz_gini", lorenzGini, Some(lorenzGiniSql)),
    QueryDef("q151_sole_blame_suppliers", soleBlameSuppliers, Some(soleBlameSuppliersSql)),
    QueryDef("q158_ratio_metric", ratioMetric, Some(ratioMetricSql)),
    QueryDef("q160_categorical_dependence", categoricalDependence,
      Some(categoricalDependenceSql)),
    QueryDef("q163_var_cvar", varCvar, Some(varCvarSql)),
    QueryDef("q164_dow_seasonality", dowSeasonality, Some(dowSeasonalitySql)),
    QueryDef("q167_cohort_ltv", cohortLtv, Some(cohortLtvSql)),
    QueryDef("q168_abc_classification", abcClassification,
      Some(abcClassificationSql)),
    QueryDef("q169_repurchase_intervals", repurchaseIntervals,
      Some(repurchaseIntervalsSql)),
    QueryDef("q172_mann_whitney", mannWhitneyU, Some(mannWhitneyUSql)),
    QueryDef("q173_revenue_acf", revenueAcf, Some(revenueAcfSql)),
    QueryDef("q175_fifo_allocation", fifoAllocation, Some(fifoAllocationSql)),
    QueryDef("q177_spearman", spearmanCorr, Some(spearmanCorrSql)),
    QueryDef("q178_association_rules", associationRules, Some(associationRulesSql)),
    QueryDef("q179_forecast_backtest", forecastBacktest, Some(forecastBacktestSql)),
    QueryDef("q181_market_concentration", marketConcentration,
      Some(marketConcentrationSql)),
    QueryDef("q186_contingency_residuals", contingencyResiduals,
      Some(contingencyResidualsSql)),
    QueryDef("q191_rfm_segments", rfmSegments, Some(rfmSegmentsSql)),
    QueryDef("q198_seasonal_anomalies", seasonalAnomalies,
      Some(seasonalAnomaliesSql)),
    QueryDef("q200_decile_mobility", decileMobility, Some(decileMobilitySql), benchmark = true),
    QueryDef("q201_price_volume_mix", priceVolumeMix, Some(priceVolumeMixSql)),
    QueryDef("q204_item_neighbors", itemNeighbors, Some(itemNeighborsSql),
      benchmark = true),
    QueryDef("q212_negative_samples", negativeSamples, Some(negativeSamplesSql)),
    QueryDef("q217_hard_negatives", hardNegatives, Some(hardNegativesSql),
      benchmark = true),
    QueryDef("q224_theil_decomposition", theilDecomposition,
      Some(theilDecompositionSql)),
    QueryDef("q229_abc_xyz_matrix", abcXyzMatrix, Some(abcXyzMatrixSql)),
    QueryDef("q230_cusum_drift", cusumDrift, Some(cusumDriftSql)),
    QueryDef("q233_woe_binning", woeBinning, Some(woeBinningSql)),
    QueryDef("q234_wilson_ranking", wilsonReturnRates,
      Some(wilsonReturnRatesSql)),
    QueryDef("q241_hampel_filter", hampelFilter, Some(hampelFilterSql)),
  )
}
