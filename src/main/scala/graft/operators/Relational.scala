package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.Ops._

/** The reference's native relational surface (SURVEY.md §2.A), re-expressed
  * Spark-first, plus the operators the reference delegated to external
  * engines (joins, set ops, windows, distinct, cube/rollup, subqueries).
  *
  * Every query here is paired with an ANSI-SQL oracle (run by the driver in
  * DuckDB over the same parquet files). Determinism rules used throughout:
  *   - double sums go through DECIMAL(30,10) (see graft.functions.Ops) so the
  *     result is independent of partitioning / aggregation order;
  *   - every result carries a total ORDER BY on a unique key set, mirrored in
  *     the oracle SQL.
  *
  * Reference citations per operator are on each query.
  */
object Relational {

  // q01 — Project + scalar arithmetic (Add/Subtract/Multiply/Divide/Remainder).
  // Reference: plan/physical/Project.java:15; expr/arith/Add.java:15 et al.
  private def q01(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d).select(
      $"l_orderkey", $"l_linenumber",
      ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("disc_price"),
      ($"l_quantity" + lit(1.0)).as("qty1"),
      ($"l_extendedprice" - $"l_tax").as("sub_tax"),
      ($"l_extendedprice" / $"l_quantity").as("unit_price"),
      ($"l_orderkey" % lit(7)).as("mod7"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  private val q01Sql =
    """SELECT l_orderkey, l_linenumber,
      | l_extendedprice * (1.0 - l_discount) AS disc_price,
      | l_quantity + 1.0 AS qty1,
      | l_extendedprice - l_tax AS sub_tax,
      | l_extendedprice / l_quantity AS unit_price,
      | l_orderkey % 7 AS mod7
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // q02 — Filter with the full comparison + boolean algebra
  // (EqualTo/NotEqual/Greater[Equal]/Less[Equal]/And/Or/Not).
  // Reference: plan/physical/Filter.java:14; expr/predicate/*.java; rc/*.java.
  private def q02(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter(
        (($"l_quantity" > 30.0 && $"l_discount" <= 0.05) ||
          (!($"l_returnflag" === "N") && $"l_tax" =!= 0.02)) &&
          $"l_linenumber" < 5 && $"l_suppkey" >= 2)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount",
        $"l_returnflag", $"l_tax", $"l_suppkey")
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  private val q02Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag, l_tax, l_suppkey
      |FROM lineitem
      |WHERE ((l_quantity > 30.0 AND l_discount <= 0.05)
      |   OR (NOT (l_returnflag = 'N') AND l_tax <> 0.02))
      |  AND l_linenumber < 5 AND l_suppkey >= 2
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // q03 — TPC-H Q1 shape: scan→filter→2-phase hash agg→sort. This is exactly
  // the reference's native query surface (SegmentScan + TungstenAggregate +
  // Sort; indexr-query-opt/.../plan/physical/TungstenAggregate.java:25,
  // Utils.java:24-74 partial/final split — Catalyst does the same split).
  def q03(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" <= lit("1998-09-02").cast(TimestampType))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")).as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }
  private val q03Sql =
    s"""SELECT l_returnflag, l_linestatus,
       | ${dsumSql("l_quantity")} AS sum_qty,
       | ${dsumSql("l_extendedprice")} AS sum_base_price,
       | ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
       | ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
       | ${davgSql("l_quantity")} AS avg_qty,
       | ${davgSql("l_extendedprice")} AS avg_price,
       | ${davgSql("l_discount")} AS avg_disc,
       | COUNT(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // q04 — Sort (multi-key asc/desc) + Limit with offset.
  // Reference: plan/physical/Sort.java:22; Limit.java:14 (`LIMIT off,n`,
  // RQL.g4:113-114).
  private def q04(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
      .offset(10).limit(50)
  }
  private val q04Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 50 OFFSET 10""".stripMargin

  // q05 — HAVING (Filter above Aggregate resolved against agg output).
  // Reference: sql/IndexRQL.java:128; Analyzer ResolveAggregateFunctions:337.
  private def q05(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("n_lines"), dsum($"l_quantity").as("sum_qty"))
      .filter($"n_lines" >= 4 && $"sum_qty" > 100.0)
      .orderBy($"l_orderkey")
  }
  private val q05Sql =
    s"""SELECT l_orderkey, COUNT(*) AS n_lines, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem GROUP BY l_orderkey
       |HAVING COUNT(*) >= 4 AND ${dsumSql("l_quantity")} > 100.0
       |ORDER BY l_orderkey""".stripMargin

  // q06 — constant SELECT without a table (OneRowRelation).
  // Reference: plan/logical/OneRowRelation.java:8; LocalTableScan.java:11.
  private def q06(s: SparkSession, d: String): DataFrame = {
    s.range(1).select(
      lit(1).as("one"),
      lit("graft").as("tag"),
      lit(2.5).as("half"),
      (lit(3) * lit(4) + lit(1)).as("arith"))
  }
  private val q06Sql =
    "SELECT 1 AS one, 'graft' AS tag, CAST(2.5 AS DOUBLE) AS half, 3 * 4 + 1 AS arith"

  // q07 — membership + range + pattern predicates:
  // In/NotIn/Between/Like/NotLike (storage-pushdown operators rc/In.java:26,
  // rc/Between.java:23, rc/Like.java:21; engine expr/predicate/In.java:16).
  private def q07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d)
      .filter($"p_type".isin("PROMO", "LARGE", "ECONOMY") &&
        $"p_size".between(5, 25) &&
        !$"p_retailprice".between(950.0, 960.0) &&
        $"p_name".like("%bo%") &&
        !$"p_brand".like("Brand#1_") &&
        !$"p_partkey".isin(1, 2, 3))
      .select($"p_partkey", $"p_name", $"p_brand", $"p_type", $"p_size")
      .orderBy($"p_partkey")
  }
  private val q07Sql =
    """SELECT p_partkey, p_name, p_brand, p_type, p_size
      |FROM part
      |WHERE p_type IN ('PROMO','LARGE','ECONOMY')
      |  AND p_size BETWEEN 5 AND 25
      |  AND p_retailprice NOT BETWEEN 950.0 AND 960.0
      |  AND p_name LIKE '%bo%'
      |  AND p_brand NOT LIKE 'Brand#1_'
      |  AND p_partkey NOT IN (1,2,3)
      |ORDER BY p_partkey""".stripMargin

  // q08 — bitwise algebra (BitwiseAnd/Or/Xor/Not).
  // Reference: expr/arith/BitwiseAnd.java:10 et al.
  private def q08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select($"l_linenumber").distinct()
      .select($"l_linenumber",
        ($"l_linenumber".bitwiseAND(lit(3))).as("band"),
        ($"l_linenumber".bitwiseOR(lit(8))).as("bor"),
        ($"l_linenumber".bitwiseXOR(lit(5))).as("bxor"),
        bitwise_not($"l_linenumber").as("bnot"))
      .orderBy($"l_linenumber")
  }
  private val q08Sql =
    """SELECT l_linenumber,
      | l_linenumber & 3 AS band,
      | l_linenumber | 8 AS bor,
      | xor(l_linenumber, 5) AS bxor,
      | ~l_linenumber AS bnot
      |FROM (SELECT DISTINCT l_linenumber FROM lineitem)
      |ORDER BY l_linenumber""".stripMargin

  // q09 — conditionals: If / Greatest / Least (expr/If.java:12,
  // Greatest.java:11, Least.java:10) + CASE (superset).
  private def q09(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .select($"c_custkey",
        when($"c_acctbal" > 5000.0, lit("high")).otherwise(lit("low")).as("tier"),
        greatest($"c_acctbal", lit(0.0)).as("bal_pos"),
        least($"c_acctbal", lit(1000.0)).as("bal_cap"),
        when($"c_mktsegment" === "BUILDING", lit(1))
          .when($"c_mktsegment" === "MACHINERY", lit(2))
          .otherwise(lit(0)).as("seg_code"))
      .orderBy($"c_custkey")
  }
  private val q09Sql =
    """SELECT c_custkey,
      | CASE WHEN c_acctbal > 5000.0 THEN 'high' ELSE 'low' END AS tier,
      | greatest(c_acctbal, CAST(0.0 AS DOUBLE)) AS bal_pos,
      | least(c_acctbal, CAST(1000.0 AS DOUBLE)) AS bal_cap,
      | CASE WHEN c_mktsegment = 'BUILDING' THEN 1
      |      WHEN c_mktsegment = 'MACHINERY' THEN 2 ELSE 0 END AS seg_code
      |FROM customer ORDER BY c_custkey""".stripMargin

  // q10 — Cast / Convert (expr/Cast.java:14; CONVERT sql/IndexRQL.java:284-294).
  // Spark double→int truncates toward zero; the oracle spells trunc explicitly.
  private def q10(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber",
        $"l_quantity".cast(IntegerType).as("qty_int"),
        $"l_orderkey".cast(StringType).as("key_str"),
        $"l_shipdate".cast(DateType).cast(StringType).as("ship_day"),
        $"l_linenumber".cast(DoubleType).as("line_dbl"),
        lit("42").cast(IntegerType).as("parsed"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  private val q10Sql =
    """SELECT l_orderkey, l_linenumber,
      | CAST(TRUNC(l_quantity) AS INTEGER) AS qty_int,
      | CAST(l_orderkey AS VARCHAR) AS key_str,
      | CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS ship_day,
      | CAST(l_linenumber AS DOUBLE) AS line_dbl,
      | CAST('42' AS INTEGER) AS parsed
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // q11 — DISTINCT aggregation (absent from the reference's planner —
  // Utils.java:24 only plans without distinct; Spark-native superset).
  private def q11(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val D = DecimalType(30, 10)
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_suppkey").as("n_supp"),
        countDistinct($"l_partkey", $"l_suppkey").as("n_part_supp"),
        sum_distinct($"l_quantity".cast(D)).cast(DoubleType).as("sum_dist_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }
  private val q11Sql =
    """SELECT l_returnflag,
      | COUNT(DISTINCT l_suppkey) AS n_supp,
      | COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
      | CAST(SUM(DISTINCT CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) AS sum_dist_qty,
      | COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // q12 — TOP n (RQL.g4:111 `TOP n` ≡ ORDER BY … LIMIT n). Spark plans this
  // as TakeOrderedAndProject — no full sort, scales to any row count.
  private def q12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc)
      .limit(25)
  }
  private val q12Sql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
      |LIMIT 25""".stripMargin

  // q221 — the pure-SQL client path end-to-end: tables registered as temp
  // views, graft's native functions (installed by Graft.session), and the
  // report written as ONE SQL string through spark.sql — including the
  // jaro_winkler native expression in the WHERE, proving the registered
  // function surface works from SQL text (the reference's embedded-engine
  // usage mode; SURVEY §2.A). Views are graft_-prefixed so the
  // registration cannot collide with other operators' names.
  private def q221(s: SparkSession, d: String): DataFrame = {
    Tables.registerViewOnce(s, d, "graft_lineitem")(Tables.lineitem(s, d))
    Tables.registerViewOnce(s, d, "graft_orders")(Tables.orders(s, d))
    Tables.registerViewOnce(s, d, "graft_customer")(Tables.customer(s, d))
    Tables.registerViewOnce(s, d, "graft_nation")(Tables.nation(s, d))
    s.sql("""
      SELECT n_name, COUNT(*) AS n_lines,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6)))
          AS DOUBLE) AS revenue
      FROM graft_lineitem
      JOIN graft_orders ON l_orderkey = o_orderkey
      JOIN graft_customer ON o_custkey = c_custkey
      JOIN graft_nation ON c_nationkey = n_nationkey
      WHERE jaro_winkler(n_name, 'NATION_2') >= 0.85
      GROUP BY n_name ORDER BY n_name""")
  }
  private val q221Sql =
    """SELECT n_name, COUNT(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6)))
      |    AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE jaro_winkler_similarity(n_name, 'NATION_2') >= 0.85
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q221_sql_surface_fuzzy_report" -> q221,
    "q01_project_arith" -> q01,
    "q02_filter_bool" -> q02,
    "q03_agg_tpch1" -> (q03(_, _)),
    "q04_sort_limit_offset" -> q04,
    "q05_having" -> q05,
    "q06_const_select" -> q06,
    "q07_in_between_like" -> q07,
    "q08_bitwise" -> q08,
    "q09_conditional" -> q09,
    "q10_cast" -> q10,
    "q11_distinct_agg" -> q11,
    "q12_top_n" -> q12,
  )

  val oracles: Map[String, String] = Map(
    "q221_sql_surface_fuzzy_report" -> q221Sql,
    "q01_project_arith" -> q01Sql,
    "q02_filter_bool" -> q02Sql,
    "q03_agg_tpch1" -> q03Sql,
    "q04_sort_limit_offset" -> q04Sql,
    "q05_having" -> q05Sql,
    "q06_const_select" -> q06Sql,
    "q07_in_between_like" -> q07Sql,
    "q08_bitwise" -> q08Sql,
    "q09_conditional" -> q09Sql,
    "q10_cast" -> q10Sql,
    "q11_distinct_agg" -> q11Sql,
    "q12_top_n" -> q12Sql,
  )
}
