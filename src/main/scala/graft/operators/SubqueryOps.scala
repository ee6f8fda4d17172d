package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Correlated-subquery family — EXISTS / NOT EXISTS / IN / NOT IN /
  * scalar subqueries, the everyday-SQL surface a reference user could
  * declare in config and ship straight to pg (the reference forwards
  * SQL text verbatim, /root/reference/index.js:246-252). These are
  * deliberately written as SQL text, not DataFrame calls: the classic
  * DataFrame API cannot express a correlated subquery, and the point
  * is to exercise Catalyst's decorrelation — `RewritePredicateSubquery`
  * turns EXISTS/IN into left-semi and NOT EXISTS/NOT IN into
  * left-anti hash joins, and correlated scalar aggregates become an
  * aggregate-then-join. PlanSpec pins that none of them degrade to a
  * nested-loop or cartesian plan.
  *
  * Shapes are TPC-H Q4 / Q17 / Q21 / Q22 adapted to the fixture
  * schema (no l_commitdate/l_receiptdate/p_brand columns): "late" is
  * l_shipdate > o_orderdate, Q17's part filter is the correlated
  * per-partkey quantity average alone, Q22's country code is
  * c_nationkey % 10. Aggregates are decimal-exact (no
  * order-dependent double sums) so results are bit-identical across
  * any partitioning — the map-side-combine contract the rest of the
  * suite keeps.
  *
  * Scale notes (100 TB): decorrelated EXISTS/IN become one shuffle
  * per semi/anti join on the correlation key (or a broadcast when the
  * subquery side is small — Q22's orders anti-join hashes on
  * o_custkey); Q17's correlated avg is a per-partkey aggregate joined
  * back on l_partkey, the same single-shuffle pattern as tpchQ18's
  * HAVING rejoin; Q21's double EXISTS shares the l_orderkey shuffle
  * key across both subqueries. Uncorrelated scalar subqueries (Q22's
  * threshold) execute once and broadcast as literals.
  */
object SubqueryOps {
  type Q = (SparkSession, String) => DataFrame

  // Each SQL text below is runnable by BOTH Spark and DuckDB: the
  // query IS the oracle, so the gate checks Catalyst's decorrelation
  // against DuckDB's independent subquery implementation on the
  // identical text.
  private def sqlQ(text: String): Q = (spark, dir) => {
    Tables.registerViewsFor(spark, dir, text)
    spark.sql(text)
  }

  private val sharedSql: Map[String, String] = Map(
    // Q4 shape: EXISTS with an outer-column comparison inside the
    // subquery (l_shipdate > o_orderdate — two outer references).
    "e_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1995-07-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // Q17 shape: correlated scalar aggregate — each lineitem compared
    // against the average quantity of ITS part. Quantities are
    // integer-valued doubles, so the avg is exact and the threshold
    // comparison deterministic; revenue sums go through decimal.
    "e_tpch_q17" ->
      """SELECT
        |  CAST(sum(CAST(l1.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_small_rev,
        |  count(*) AS n_small
        |FROM lineitem l1
        |WHERE l1.l_quantity < 0.5 * (
        |  SELECT avg(l2.l_quantity) FROM lineitem l2
        |  WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,
    // Q21 shape: EXISTS + NOT EXISTS on the same correlation key with
    // non-equality conjuncts (suppkey <>) and an outer reference from
    // a third table (o_orderdate) inside the NOT EXISTS.
    "e_tpch_q21" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""".stripMargin,
    // Q22 shape: uncorrelated scalar-subquery threshold + NOT EXISTS.
    // The avg threshold is cross-multiplied (bal·n > Σbal) in decimal
    // so no double division can flip a boundary row between engines.
    // "Never placed an order" is vacuous on the fixture (every customer
    // has orders), so the anti-condition is "no URGENT order" — same
    // correlated NOT EXISTS shape, non-empty result.
    "e_tpch_q22" ->
      """SELECT cntrycode, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS totacctbal
        |FROM (
        |  SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode,
        |    c_acctbal, c_custkey
        |  FROM customer
        |  WHERE c_nationkey % 10 IN (1, 2, 3, 4, 5, 7)
        |) c
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
        |    (SELECT count(*) FROM customer WHERE c_acctbal > 0.00)
        |  > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))
        |     FROM customer WHERE c_acctbal > 0.00)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = c.c_custkey
        |      AND o_orderpriority = '1-URGENT')
        |GROUP BY cntrycode
        |ORDER BY cntrycode""".stripMargin,
    // Q16 shape: NOT IN subquery + multi-key grouped count(DISTINCT)
    // (the part-supplier relationship flows through lineitem — the
    // fixture has no partsupp table; "complaint" suppliers are the
    // negative-balance ones, standing in for the comment LIKE).
    "e_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 14, 20)
        |  AND l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.00)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // Q2 shape: correlated MIN subquery over the derived part-supplier
    // relation (the fixture has no partsupp; lineitem's observed
    // (partkey, suppkey) pairs with min extendedprice stand in for
    // ps_supplycost) — the minimum-cost-supplier-per-part pattern with
    // the region join repeated inside the correlation, the query
    // Catalyst must decorrelate into an aggregate-then-rejoin. The
    // ORDER BY is a total order (s_name unique per supplier, p_partkey
    // breaks the final tie) so the LIMIT cut is deterministic.
    "e_tpch_q2" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    min(l_extendedprice) AS ps_supplycost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name
        |FROM part, ps, supplier, nation, region
        |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        |  AND p_type = 'SMALL'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND ps_supplycost = (
        |    SELECT min(ps2.ps_supplycost)
        |    FROM ps ps2, supplier s2, nation n2, region r2
        |    WHERE ps2.ps_partkey = p_partkey
        |      AND s2.s_suppkey = ps2.ps_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    // Q11 shape: grouped value per part for one nation's suppliers,
    // HAVING against an uncorrelated scalar-subquery fraction of the
    // total — the threshold is cross-multiplied in decimal (sum·500 >
    // total) so no double division sits on the HAVING boundary.
    // NATION_19 and 1/500 keep the result non-degenerate at both gate
    // SFs (the TPC-H fraction scales with SF; a fixture constant must
    // hold at 0.001 and 0.01).
    "e_tpch_q11" ->
      """WITH lv AS (
        |  SELECT l_partkey, CAST(l_extendedprice AS DECIMAL(18,2)) AS v
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_19')
        |SELECT l_partkey AS ps_partkey, CAST(sum(v) AS DOUBLE) AS part_value
        |FROM lv GROUP BY 1
        |HAVING sum(v) * 500 > (SELECT sum(v) FROM lv)
        |ORDER BY part_value DESC, ps_partkey""".stripMargin,
    // Q20 shape: the nested IN chain (supplier IN parts-supplied IN
    // name-filtered parts) with a correlated scalar threshold — a
    // supplier qualifies by shipping more than HALF of a widget-part's
    // total windowed quantity (availqty > 0.5·sum in the original;
    // quantities are integer-valued doubles so qty·2 > total is
    // exact). No s_address in the fixture; s_acctbal rides along.
    "e_tpch_q20" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |    sum(l_quantity) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2)
        |SELECT s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM ps
        |    WHERE ps_partkey IN (
        |        SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
        |      AND qty * 2 > (
        |        SELECT sum(b.qty) FROM ps b
        |        WHERE b.ps_partkey = ps.ps_partkey))
        |ORDER BY s_name""".stripMargin,
    // IN + NOT IN in one predicate: semi on c_custkey, anti on
    // l_orderkey (null-free subquery columns, so NOT IN keeps simple
    // anti-join semantics on both engines).
    "e_subq_in" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_custkey IN (
        |    SELECT c_custkey FROM customer WHERE c_acctbal < 0.00)
        |  AND o_orderkey NOT IN (
        |    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
  )

  val queries: Map[String, Q] =
    sharedSql.map { case (name, text) => name -> sqlQ(text) }

  val oracles: Map[String, String] = sharedSql

  /** For PlanSpec: the analyzed frames by name. */
  private[graft] def frame(spark: SparkSession, dir: String,
      name: String): DataFrame = queries(name)(spark, dir)
}
