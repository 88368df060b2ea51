package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/**
 * Relational generality pass (SURVEY §7.2 step 3, §2.2): the operator
 * classes the reference lacks, provided by Catalyst built-ins — scans,
 * filters, projections (milestone 1), and here joins (broadcast/shuffle,
 * inner/outer/semi/anti), sorts + limits, and set operations.
 *
 * Scale notes: dimension sides (region/nation/customer/supplier/part) are
 * explicitly `broadcast()` — at 100 TB the fact table (lineitem) never
 * shuffles for these joins; only genuinely large-large joins
 * (lineitem⋈orders) shuffle on the join key, and AQE can convert those to
 * broadcast at runtime when a filtered side turns out small.
 */
object RelationalQueries extends QueryFamily {

  /** Reference component queries kept from milestone 1. */
  def s2Projection(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        col("o_orderkey").as("okey"),
        col("o_custkey").as("ckey"),
        col("o_orderdate").as("odate"))
      .orderBy(col("okey"))

  def f1Inlist(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderstatus").isin("F", "P"))
      .filter(col("o_custkey").isin(1L, 7L, 21L, 42L, 99L))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))

  def f2Timerange(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate").between(
        lit(Timestamp.valueOf("1997-01-01 00:00:00")),
        lit(Timestamp.valueOf("1997-12-31 23:59:59"))))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  def o1SortGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey").asc, col("o_orderdate").asc, col("o_orderkey").asc)

  /** TPC-H Q3 shape: shuffle join lineitem⋈orders (both large), broadcast
    * join against the filtered customer dim, group + top-k by revenue. */
  def q3JoinTopk(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(Timestamp.valueOf("1998-06-01 00:00:00")))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(Timestamp.valueOf("1998-06-01 00:00:00")))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(D) - dec(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5 shape: five-way join through the star schema, grouped by
    * nation — every dimension side broadcast. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val customer = Tables.customer(spark, dir)
    val supplier = Tables.supplier(spark, dir)
    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("o_orderdate") < lit(Timestamp.valueOf("1998-01-01 00:00:00")))
    val lineitem = Tables.lineitem(spark, dir)
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(D) - dec(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** Left-semi join: customers having ≥1 high-value order (EXISTS). */
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0).select("o_custkey")
    Tables.customer(spark, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join: customers with no orders at all (NOT EXISTS). */
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir).select("o_custkey")
    Tables.customer(spark, dir)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-outer join + null-aware aggregation: per-customer order count
    * including zero-order customers. */
  def joinOuterAgg(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir).select("o_custkey", "o_orderkey")
    Tables.customer(spark, dir)
      .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_custkey"))
  }

  /** Top-k with deterministic total order (ORDER BY + LIMIT → TakeOrdered
    * physical op: no global sort materialization). */
  def topkLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(25)

  /** LIMIT + OFFSET pagination. */
  def limitOffset(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey").asc)
      .offset(100)
      .limit(50)

  /** Correlated scalar subquery through the SQL entry point — Catalyst
    * decorrelates it to an outer join + aggregate (integer count, so the
    * oracle compare is exact). */
  def subScalarCount(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("customer_sq")
    Tables.orders(spark, dir).createOrReplaceTempView("orders_sq")
    spark.sql(
      """SELECT c_custkey, c_name,
        |  (SELECT COUNT(1) FROM orders_sq o
        |   WHERE o.o_custkey = c.c_custkey
        |     AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00') AS n_recent
        |FROM customer_sq c ORDER BY c_custkey""".stripMargin)
  }

  /** NOT IN subquery (null-free key ⇒ plans as left-anti join). */
  def subNotIn(spark: SparkSession, dir: String): DataFrame = {
    Tables.part(spark, dir).createOrReplaceTempView("part_sq")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_sq")
    spark.sql(
      """SELECT p_partkey, p_name FROM part_sq
        |WHERE p_partkey NOT IN (
        |  SELECT l_partkey FROM lineitem_sq
        |  WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00')
        |ORDER BY p_partkey""".stripMargin)
  }

  /** TPC-H Q20-style nesting: IN-subquery containing another IN-subquery
    * plus a grouped HAVING — two levels of decorrelation (count-based so
    * the boundary comparison is exact across engines). */
  def subNested(spark: SparkSession, dir: String): DataFrame = {
    Tables.supplier(spark, dir).createOrReplaceTempView("supplier_sq")
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_sq2")
    Tables.part(spark, dir).createOrReplaceTempView("part_sq2")
    spark.sql(
      """SELECT s_suppkey, s_name FROM supplier_sq
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem_sq2
        |  WHERE l_partkey IN (SELECT p_partkey FROM part_sq2 WHERE p_size > 40)
        |  GROUP BY l_suppkey
        |  HAVING COUNT(1) > 130)
        |ORDER BY s_suppkey""".stripMargin)
  }

  /** UNION ALL of two disjoint slices. */
  def setUnionAll(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val a = o.filter(col("o_totalprice") > 450000.0)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val b = o.filter(col("o_totalprice") < 1000.0)
      .select(col("o_orderkey"), col("o_orderstatus"))
    a.union(b).orderBy(col("o_orderkey"))
  }

  /** INTERSECT (distinct): customers active in both 1996 and 2000. */
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def actives(year: Int): DataFrame = o
      .filter(col("o_orderdate") >= lit(Timestamp.valueOf(s"$year-01-01 00:00:00")) &&
        col("o_orderdate") < lit(Timestamp.valueOf(s"${year + 1}-01-01 00:00:00")))
      .select(col("o_custkey"))
    actives(1996).intersect(actives(2000)).orderBy(col("o_custkey"))
  }

  /** EXCEPT (distinct): customers active in 1996 but not 2000. */
  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def actives(year: Int): DataFrame = o
      .filter(col("o_orderdate") >= lit(Timestamp.valueOf(s"$year-01-01 00:00:00")) &&
        col("o_orderdate") < lit(Timestamp.valueOf(s"${year + 1}-01-01 00:00:00")))
      .select(col("o_custkey"))
    actives(1996).except(actives(2000)).orderBy(col("o_custkey"))
  }

  val declarations: Seq[Q] = Seq(
    Q("s2_projection", s2Projection _,
      """SELECT o_orderkey AS okey, o_custkey AS ckey, o_orderdate AS odate
        |FROM orders ORDER BY okey""".stripMargin),
    Q("f1_inlist", f1Inlist _,
      """SELECT o_orderkey, o_custkey, o_orderstatus
        |FROM orders
        |WHERE o_orderstatus IN ('F', 'P') AND o_custkey IN (1, 7, 21, 42, 99)
        |ORDER BY o_orderkey""".stripMargin),
    Q("f2_timerange", f2Timerange _,
      """SELECT l_orderkey, l_linenumber, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate <= TIMESTAMP '1997-12-31 23:59:59'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Q("o1_sort_global", o1SortGlobal _,
      """SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin),
    Q("q3_join_topk", q3JoinTopk _,
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin),
    Q("q5_multijoin", q5MultiJoin _,
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),
    Q("join_semi", joinSemi _,
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin),
    Q("join_anti", joinAnti _,
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin),
    Q("join_outer_agg", joinOuterAgg _,
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin),
    Q("topk_limit", topkLimit _,
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin),
    Q("limit_offset", limitOffset _,
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey LIMIT 50 OFFSET 100""".stripMargin),
    Q("set_union_all", setUnionAll _,
      """SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 450000.0
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice < 1000.0
        |ORDER BY o_orderkey""".stripMargin),
    Q("set_intersect", setIntersect _,
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |INTERSECT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00' AND o_orderdate < TIMESTAMP '2001-01-01 00:00:00'
        |ORDER BY o_custkey""".stripMargin),
    Q("set_except", setExcept _,
      """SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |EXCEPT
        |SELECT o_custkey FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00' AND o_orderdate < TIMESTAMP '2001-01-01 00:00:00'
        |ORDER BY o_custkey""".stripMargin),
    Q("sub_scalar_count", subScalarCount _,
      """SELECT c_custkey, c_name,
        |  (SELECT COUNT(1) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey
        |     AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00') AS n_recent
        |FROM customer c ORDER BY c_custkey""".stripMargin),
    Q("sub_nested", subNested _,
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
        |  GROUP BY l_suppkey
        |  HAVING COUNT(1) > 130)
        |ORDER BY s_suppkey""".stripMargin),
    Q("sub_not_in", subNotIn _,
      """SELECT p_partkey, p_name FROM part
        |WHERE p_partkey NOT IN (
        |  SELECT l_partkey FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00')
        |ORDER BY p_partkey""".stripMargin))
}
