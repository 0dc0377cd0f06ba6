package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The remaining TPC-H classics, adapted to this schema and to the
  * exact-cents discipline (q01 covered Q1's pricing summary long ago;
  * q257 covered Q8's market share):
  *
  *  - q301 (Q3 shape, shipping priority): top-10 undelivered-revenue
  *    orders for one market segment — revenue of lineitems shipped
  *    after the order date, ranked. TakeOrderedAndProject heap, no
  *    global sort.
  *  - q302 (Q5 shape, local supplier volume): revenue where customer
  *    and supplier sit in the SAME nation, per nation-year — the
  *    classic locality join (two independent nation edges meeting in
  *    one predicate).
  *  - q303 (Q10 shape, returned-item reporting): per customer,
  *    revenue lost to returned lineitems in one year; top-20.
  *
  * All money in exact integer revenue units (price cents × (100 −
  * discount pct), the q257 convention). Ref: TPC-H specification
  * (public); the reference's trade-stats endpoints are the streaming
  * cousins of exactly these rollups.
  */
object TpchClassics extends graft.QueryPack {

  private def revUnits: org.apache.spark.sql.Column =
    (expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100" +
      " AS BIGINT)") *
      (lit(100L) - expr("CAST(CAST(l_discount AS DECIMAL(12,2)) * 100" +
        " AS BIGINT)"))).as("rev_units")

  /** q301: top-10 orders by post-orderdate shipped revenue, BUILDING
    * segment. */
  def shippingPriority(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(col("l_shipdate") > col("o_orderdate"))
      .select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"), revUnits)
      .groupBy(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority"))
      .agg(sum(col("rev_units")).as("rev_units"))
      .orderBy(col("rev_units").desc, col("o_orderkey"))
      .limit(10)
  }

  /** q302: same-nation customer↔supplier revenue per (nation, year). */
  def localSupplierVolume(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"),
      col("l_suppkey"), revUnits)
    li.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n_lineitems"),
        sum(col("rev_units")).as("rev_units"))
      .orderBy(col("n_name"), col("yr"))
  }

  /** q303: top-20 customers by returned revenue in 1997. */
  def returnedCustomers(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), revUnits)
      .join(Tables.orders(s, d)
        .filter(year(col("o_orderdate")) === 1997),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(count(lit(1)).as("n_returned"),
        sum(col("rev_units")).as("lost_units"))
      .orderBy(col("lost_units").desc, col("c_custkey"))
      .limit(20)
  }

  /** q304 (Q7 shape, trade flows): the CROSS-border revenue matrix —
    * (customer nation → supplier nation) pairs with cust ≠ supp, per
    * year; q302's complement (the two queries partition the revenue).
    * Output bounded by nations² × years. */
  def tradeFlows(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"),
      col("l_suppkey"), revUnits)
    li.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("ck"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sk"))
      .groupBy(col("cust_nation"), col("supp_nation"),
        year(col("o_orderdate")).as("yr"))
      .agg(sum(col("rev_units")).as("rev_units"))
      .orderBy(col("cust_nation"), col("supp_nation"), col("yr"))
  }

  /** q305 (Q4 shape, priority check): orders per priority that have
    * AT LEAST ONE late-shipped lineitem (EXISTS — a left-semi join,
    * at most one count per order regardless of lineitem fan-out). */
  def priorityExists(s: SparkSession, d: String): DataFrame = {
    val late = Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate"))
      .select(col("l_orderkey")).distinct()
    Tables.orders(s, d)
      .join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q301_shipping_priority" -> shippingPriority,
    "q302_local_supplier_volume" -> localSupplierVolume,
    "q303_returned_customers" -> returnedCustomers,
    "q304_trade_flows" -> tradeFlows,
    "q305_priority_exists" -> priorityExists)

  private val RevSql =
    """CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |  * (100 - CAST(CAST(l_discount AS DECIMAL(12,2)) * 100
      |    AS BIGINT))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q304_trade_flows" ->
      s"""SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
         |  year(o_orderdate) AS yr,
         |  CAST(SUM($RevSql) AS BIGINT) AS rev_units
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation cn ON c_nationkey = cn.n_nationkey
         |JOIN nation sn ON s_nationkey = sn.n_nationkey
         |WHERE c_nationkey <> s_nationkey
         |GROUP BY cn.n_name, sn.n_name, year(o_orderdate)
         |ORDER BY cust_nation, supp_nation, yr""".stripMargin,
    "q305_priority_exists" ->
      """SELECT o_orderpriority, COUNT(*) AS n_late_orders
        |FROM orders o
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q301_shipping_priority" ->
      s"""SELECT o_orderkey, o_orderdate, o_orderpriority,
         |  CAST(SUM($RevSql) AS BIGINT) AS rev_units
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate
         |GROUP BY o_orderkey, o_orderdate, o_orderpriority
         |ORDER BY rev_units DESC, o_orderkey
         |LIMIT 10""".stripMargin,
    "q302_local_supplier_volume" ->
      s"""SELECT n_name, year(o_orderdate) AS yr,
         |  COUNT(*) AS n_lineitems,
         |  CAST(SUM($RevSql) AS BIGINT) AS rev_units
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE c_nationkey = s_nationkey
         |GROUP BY n_name, year(o_orderdate)
         |ORDER BY n_name, yr""".stripMargin,
    "q303_returned_customers" ->
      s"""SELECT c_custkey, c_name, n_name,
         |  COUNT(*) AS n_returned,
         |  CAST(SUM($RevSql) AS BIGINT) AS lost_units
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R' AND year(o_orderdate) = 1997
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY lost_units DESC, c_custkey
         |LIMIT 20""".stripMargin)
}
