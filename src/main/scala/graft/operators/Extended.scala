package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Memo, Tables}
import graft.functions.Ops._

/** Operators the reference lacked natively and delegated to external engines
  * (SURVEY.md §2.A "Absent from the reference"): joins of every kind, set
  * operations, window functions, cube/rollup, subqueries, and the function
  * families (date/string/math) the reference had no surface for. Exposed here
  * as first-class engine capabilities via Spark SQL.
  *
  * Scale notes (100 TB): fact⋈fact joins shuffle on the join key (AQE picks
  * sort-merge vs shuffled-hash); dim joins are explicitly `broadcast()`; all
  * window sums go through decimal so plans stay order-independent.
  */
object Extended {

  private val D = DecimalType(30, 6)
  private def dwin(c: Column): Column = c.cast(D)

  // q13 — fact ⋈ fact ⋈ dim join with aggregation. lineitem⋈orders shuffles
  // on the key; customer is left unhinted — it scales with SF, so AQE
  // broadcasts it when its runtime stats are small and shuffles otherwise.
  private def q13(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey")) // customer scales with SF: AQE decides broadcast
      .groupBy($"c_mktsegment")
      .agg(
        dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_lines"),
        countDistinct($"o_orderkey").as("n_orders"))
      .orderBy($"c_mktsegment")
  }
  private val q13Sql =
    s"""SELECT c_mktsegment,
       | ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
       | COUNT(*) AS n_lines,
       | COUNT(DISTINCT o_orderkey) AS n_orders
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // q14 — star-schema dim chain with explicit broadcasts (nation, region are
  // tiny at any scale; the plan must show BroadcastHashJoin, no shuffle of
  // the dims).
  private def q14(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_cust"), dsum($"c_acctbal").as("sum_bal"))
      .orderBy($"r_name")
  }
  private val q14Sql =
    s"""SELECT r_name, COUNT(*) AS n_cust, ${dsumSql("c_acctbal")} AS sum_bal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name ORDER BY r_name""".stripMargin

  // q15 — semi/anti joins (EXISTS / NOT EXISTS), tagged and unioned.
  private def q15(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).select($"o_custkey".as("c_custkey"))
    val semi = c.join(o, Seq("c_custkey"), "left_semi")
      .select(lit("has_orders").as("op"), $"c_custkey")
    val anti = c.join(o, Seq("c_custkey"), "left_anti")
      .select(lit("no_orders").as("op"), $"c_custkey")
    semi.unionAll(anti).orderBy($"op", $"c_custkey")
  }
  private val q15Sql =
    """SELECT 'has_orders' AS op, c_custkey FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |UNION ALL
      |SELECT 'no_orders' AS op, c_custkey FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY op, c_custkey""".stripMargin

  // q16 — outer join with null-producing side + null-aware aggregation.
  private def q16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val big = Tables.lineitem(s, d).filter($"l_quantity" > 45.0)
      .select($"l_orderkey", $"l_quantity")
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_outer")
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n_rows"),
        count($"l_quantity").as("n_big_lines"),
        sum(when($"l_orderkey".isNull, 1).otherwise(0)).as("n_no_match"))
      .orderBy($"o_orderstatus")
  }
  private val q16Sql =
    """SELECT o_orderstatus, COUNT(*) AS n_rows,
      | COUNT(l_quantity) AS n_big_lines,
      | CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_match
      |FROM orders LEFT OUTER JOIN
      | (SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity > 45.0) b
      | ON o_orderkey = b.l_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // q17 — window functions: ranking, lag/lead, running (decimal-exact) sum.
  private def q17(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice",
        row_number().over(w).as("rn"),
        rank().over(w).as("rk"),
        dense_rank().over(w).as("drk"),
        lag($"o_totalprice", 1).over(w).as("prev_price"),
        lead($"o_totalprice", 1).over(w).as("next_price"),
        percent_rank().over(w).as("prk"),
        cume_dist().over(w).as("cdist"),
        ntile(4).over(w).as("quartile"),
        sum(dwin($"o_totalprice")).over(run).cast(DoubleType).as("running_total"))
      .orderBy($"o_custkey", $"rn")
  }
  private val q17Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      | ROW_NUMBER() OVER w AS rn,
      | RANK() OVER w AS rk,
      | DENSE_RANK() OVER w AS drk,
      | LAG(o_totalprice, 1) OVER w AS prev_price,
      | LEAD(o_totalprice, 1) OVER w AS next_price,
      | PERCENT_RANK() OVER w AS prk,
      | CUME_DIST() OVER w AS cdist,
      | CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
      |   OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
      |ORDER BY o_custkey, rn""".stripMargin

  // q18 — ROLLUP with grouping flags (superset of the reference's ingest-time
  // rollup, which only pre-aggregates fixed dims — rt/AggSchema.java:11-27).
  private def q18(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), dsum($"l_quantity").as("sum_qty"),
        grouping($"l_returnflag").cast(IntegerType).as("g_flag"),
        grouping($"l_linestatus").cast(IntegerType).as("g_status"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("linestatus"),
        $"n", $"sum_qty", $"g_flag", $"g_status")
      .orderBy($"returnflag", $"linestatus", $"g_flag", $"g_status")
  }
  private val q18Sql =
    s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       | coalesce(l_linestatus, 'ALL') AS linestatus,
       | COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty,
       | CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
       | CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status
       |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY returnflag, linestatus, g_flag, g_status""".stripMargin

  // q19 — CUBE over two dims.
  private def q19(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
      .select(
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"n", $"sum_price")
      .orderBy($"status", $"priority", $"n")
  }
  private val q19Sql =
    s"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
       | coalesce(o_orderpriority, 'ALL') AS priority,
       | COUNT(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
       |ORDER BY status, priority, n""".stripMargin

  // q20 — subqueries (scalar + IN), via the engine's SQL passthrough surface.
  private def q20(s: SparkSession, d: String): DataFrame = {
    Tables.registerViewOnce(s, d, "orders")(Tables.orders(s, d))
    Tables.registerViewOnce(s, d, "customer")(Tables.customer(s, d))
    s.sql(
      s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |WHERE o_totalprice > (SELECT ${dsumSql("o_totalprice")} / COUNT(*) FROM orders)
         |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0.0)
         |ORDER BY o_orderkey""".stripMargin)
  }
  private val q20Sql =
    s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
       |WHERE o_totalprice > (SELECT ${dsumSql("o_totalprice")} / COUNT(*) FROM orders)
       |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0.0)
       |ORDER BY o_orderkey""".stripMargin

  // q21 — set operations: UNION (distinct), INTERSECT, EXCEPT, tagged.
  private def q21(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cn = Tables.customer(s, d).select($"c_nationkey".as("nk"))
    val sn = Tables.supplier(s, d).select($"s_nationkey".as("nk"))
    val u = cn.union(sn).distinct().select(lit("union").as("op"), $"nk")
    val i = cn.intersect(sn).select(lit("intersect").as("op"), $"nk")
    val e = cn.except(sn).select(lit("except").as("op"), $"nk")
    u.unionAll(i).unionAll(e).orderBy($"op", $"nk")
  }
  private val q21Sql =
    """SELECT 'union' AS op, nk FROM
      | (SELECT c_nationkey AS nk FROM customer UNION SELECT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT 'intersect' AS op, nk FROM
      | (SELECT c_nationkey AS nk FROM customer INTERSECT SELECT s_nationkey FROM supplier)
      |UNION ALL
      |SELECT 'except' AS op, nk FROM
      | (SELECT c_nationkey AS nk FROM customer EXCEPT SELECT s_nationkey FROM supplier)
      |ORDER BY op, nk""".stripMargin

  // q22 — date/time functions (the reference only parses dates at ingest,
  // DateTimeUtil.java:103-121; we expose the full function family).
  private def q22(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderkey",
        year($"o_orderdate").as("y"),
        quarter($"o_orderdate").as("q"),
        month($"o_orderdate").as("m"),
        dayofmonth($"o_orderdate").as("dom"),
        (weekday($"o_orderdate") + lit(1)).as("isodow"),
        date_trunc("month", $"o_orderdate").cast(DateType).cast(StringType).as("month_start"),
        datediff($"o_orderdate".cast(DateType), lit("1995-01-01").cast(DateType)).as("days_since"))
      .orderBy($"o_orderkey")
  }
  private val q22Sql =
    """SELECT o_orderkey,
      | CAST(year(o_orderdate) AS INTEGER) AS y,
      | CAST(quarter(o_orderdate) AS INTEGER) AS q,
      | CAST(month(o_orderdate) AS INTEGER) AS m,
      | CAST(day(o_orderdate) AS INTEGER) AS dom,
      | CAST(isodow(o_orderdate) AS INTEGER) AS isodow,
      | CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
      | CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // q23 — string functions (reference has none — SURVEY.md §2.A.3).
  private def q23(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d)
      .select($"p_partkey",
        upper($"p_name").as("uname"),
        lower($"p_brand").as("lbrand"),
        substring($"p_name", 1, 5).as("pfx"),
        length($"p_name").as("len"),
        concat($"p_brand", lit("-"), $"p_type").as("brand_type"),
        regexp_replace($"p_name", lit(" "), lit("_")).as("snake"),
        lpad($"p_brand", 12, "*").as("padded"),
        instr($"p_name", "bolt").as("bolt_pos"),
        trim(lit("  x  ")).as("trimmed"))
      .orderBy($"p_partkey")
  }
  private val q23Sql =
    """SELECT p_partkey,
      | upper(p_name) AS uname,
      | lower(p_brand) AS lbrand,
      | substring(p_name, 1, 5) AS pfx,
      | CAST(length(p_name) AS INTEGER) AS len,
      | concat(p_brand, '-', p_type) AS brand_type,
      | replace(p_name, ' ', '_') AS snake,
      | lpad(p_brand, 12, '*') AS padded,
      | CAST(strpos(p_name, 'bolt') AS INTEGER) AS bolt_pos,
      | trim('  x  ') AS trimmed
      |FROM part ORDER BY p_partkey""".stripMargin

  // q24 — math functions (IEEE-deterministic subset: abs/floor/ceil/sqrt/
  // sign and a non-tie round; exp/ln/pow are libm-dependent across engines
  // and intentionally excluded from the oracle'd surface).
  private def q24(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber",
        abs($"l_discount" - lit(0.05)).as("adiff"),
        floor($"l_extendedprice").cast(LongType).as("fl"),
        ceil($"l_extendedprice").cast(LongType).as("ce"),
        sqrt($"l_quantity").as("sq"),
        signum($"l_discount" - lit(0.05)).as("sgn"),
        round($"l_extendedprice" / lit(7.0), 3).as("r3"))
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  private val q24Sql =
    """SELECT l_orderkey, l_linenumber,
      | abs(l_discount - 0.05) AS adiff,
      | CAST(floor(l_extendedprice) AS BIGINT) AS fl,
      | CAST(ceil(l_extendedprice) AS BIGINT) AS ce,
      | sqrt(l_quantity) AS sq,
      | CAST(sign(l_discount - 0.05) AS DOUBLE) AS sgn,
      | round(l_extendedprice / 7.0, 3) AS r3
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // q42 — explicit GROUPING SETS (distinct from rollup/cube), via the SQL
  // passthrough surface.
  private def q42(s: SparkSession, d: String): DataFrame = {
    Tables.registerViewOnce(s, d, "lineitem")(Tables.lineitem(s, d))
    s.sql(q42Sql)
  }
  private val q42Sql =
    s"""SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
       | COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem
       |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
       |ORDER BY rf, ls""".stripMargin

  // q46 — exact interpolated percentiles (the ORDER-BY-free quantile path;
  // both engines implement the standard linear-interpolation definition
  // over exact sorted values, so results are deterministic).
  private def q46(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, 0.5)").as("median_price"),
        expr("percentile(l_quantity, array(0.25, 0.75))").as("qty_quartiles"),
        min($"l_extendedprice").as("min_price"),
        max($"l_extendedprice").as("max_price"))
      .select($"l_returnflag", $"median_price",
        $"qty_quartiles".getItem(0).as("qty_p25"),
        $"qty_quartiles".getItem(1).as("qty_p75"),
        $"min_price", $"max_price")
      .orderBy($"l_returnflag")
  }
  private val q46Sql =
    """SELECT l_returnflag,
      | quantile_cont(l_extendedprice, 0.5) AS median_price,
      | quantile_cont(l_quantity, 0.25) AS qty_p25,
      | quantile_cont(l_quantity, 0.75) AS qty_p75,
      | min(l_extendedprice) AS min_price,
      | max(l_extendedprice) AS max_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // Mergeable histogram quantiles — q46's 100 TB scale path.

  /** Approximate quantiles from a fixed-bin histogram sketch: values clamp
    * into `bins` equal-`width` bins starting at `lo`; the pct-th percentile
    * is the upper edge of the smallest bin whose cumulative count covers
    * ceil(pct·N/100) (compared as 100·cum ≥ pct·N — exact integers, no
    * rounding). Error is bounded by one bin width. Pick `lo`/`width`
    * exactly representable as doubles (integral values are) — then the only
    * float steps are one subtraction/division per row with identical IEEE
    * semantics in any engine, and results replicate bit-for-bit.
    *
    * This is the quantile shape that survives 100 TB: exact
    * percentile_cont (q46) needs the full sorted value set per group,
    * while the histogram is ONE combiner-friendly aggregate over ≤ `bins`
    * keys — partials merge associatively (segment → executor → final), the
    * same mergeable-sketch contract as the manifest min/max stats. The
    * cumulative window that follows runs on the bins relation (≤ `bins`
    * rows by construction — bounded, unlike a data-keyed window).
    * Output: (pct, bin, est) per requested percentile. */
  def histQuantiles(df: DataFrame, valueCol: String, pcts: Seq[Int],
      lo: Double, width: Double, bins: Int,
      groupCols: Seq[String] = Nil): DataFrame = {
    require(width > 0)
    histQuantilesImpl(df, valueCol, pcts, lit(lo), lit(width), bins, groupCols)
  }

  /** [[histQuantiles]] with the bin range DERIVED instead of caller-picked:
    * from `bounds` when given — pass [[graft.storage.Segments.manifestBounds]]
    * for a segment table and the range comes from metadata alone, ZERO data
    * files opened (InfoSegment parity for sketches) — else from one min/max
    * aggregate over the input (which on a manifest-backed scan the
    * ManifestAggregates rule answers metadata-only anyway). width =
    * (hi−lo)/bins in IEEE double, so an oracle recomputing the same min/max
    * replicates every estimate bit-for-bit; a constant column (hi == lo)
    * degrades to one bin of width 1. */
  def histQuantilesAuto(df: DataFrame, valueCol: String, pcts: Seq[Int],
      bins: Int, groupCols: Seq[String] = Nil,
      bounds: Option[(Double, Double)] = None): DataFrame = {
    val (lo, hi) = bounds.getOrElse {
      val r = df.agg(min(col(valueCol).cast(DoubleType)),
        max(col(valueCol).cast(DoubleType))).head()
      require(!r.isNullAt(0), "histQuantilesAuto needs a non-empty, non-null input")
      (r.getDouble(0), r.getDouble(1))
    }
    val width = if (hi > lo) (hi - lo) / bins else 1.0
    histQuantilesImpl(df, valueCol, pcts, lit(lo), lit(width), bins, groupCols)
  }

  /** Map-only quantile bucketing: assigns every row the bucket index
    * `#{p ∈ pcts : value > est_p}` (0 … |pcts|) using the histogram
    * sketch's thresholds — the skew-proof replacement for a global
    * `ntile()` (an unpartitioned window funnels the whole relation into
    * ONE task; this is one bounded aggregate + a broadcast of ≤ |pcts|
    * thresholds + a map-only projection). Thresholds are sketch
    * estimates (within one bin width of exact), deterministic given
    * (lo, width, bins) — so bucket assignments replicate in any engine.
    * Output: input columns + `bucket`. */
  def bucketByQuantile(df: DataFrame, valueCol: String, pcts: Seq[Int],
      lo: Double, width: Double, bins: Int): DataFrame = {
    require(pcts.nonEmpty, "need at least one percentile cut")
    val th = histQuantiles(df, valueCol, pcts, lo, width, bins)
      .agg(sort_array(collect_list(col("est"))).as("__th"))
    df.crossJoin(broadcast(th))
      .withColumn("bucket", expr(
        s"CAST(aggregate(__th, 0, (acc, t) -> acc + " +
          s"(CASE WHEN CAST($valueCol AS DOUBLE) > t THEN 1 ELSE 0 END)) AS INT)"))
      .drop("__th")
  }

  // q105 — quartile bucketing of every line item by extended price: the
  // sketch thresholds broadcast and the assignment is map-only — no
  // global ntile window anywhere.
  private def q105(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bucketByQuantile(Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice"),
        "l_extendedprice", Seq(25, 50, 75), lo = 900.0, width = 13.0, bins = 8192)
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  private val q105Sql =
    """WITH b AS (SELECT CAST(least(greatest(floor((CAST(l_extendedprice AS DOUBLE)
      |             - CAST(900.0 AS DOUBLE)) / CAST(13.0 AS DOUBLE)), CAST(0 AS DOUBLE)),
      |             CAST(8191 AS DOUBLE)) AS INTEGER) AS bin
      |           FROM lineitem),
      |c AS (SELECT bin, COUNT(*) AS n FROM b GROUP BY 1),
      |cum AS (SELECT bin, SUM(n) OVER (ORDER BY bin
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
      |tot AS (SELECT COUNT(*) AS total FROM lineitem),
      |p AS (SELECT * FROM (VALUES (25), (50), (75)) v(pct)),
      |th AS (SELECT pct, CAST(900.0 AS DOUBLE) + (min(bin) + 1) * CAST(13.0 AS DOUBLE) AS est
      |       FROM p, cum, tot WHERE cum * 100 >= pct * total GROUP BY pct)
      |SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  CAST((SELECT COUNT(*) FROM th
      |        WHERE CAST(l_extendedprice AS DOUBLE) > est) AS INTEGER) AS bucket
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Per-group winsorization (quantile clipping): caps `valueCol` into
    * [est(loPct), est(hiPct)] per group — the standard outlier-taming
    * preprocessing pass (clip, don't drop — [[Curation.filterByQuantile]]
    * drops). Thresholds come from the same mergeable histogram sketch as
    * [[bucketByQuantile]] (deterministic given lo/width/bins, within one
    * bin width of exact), so the clipped values replicate in any engine.
    * Appends `outCol` (double).
    *
    * Scale: one bounded (group × bin) aggregate + a group-count-row
    * BROADCAST join-back + a map-only clip — no window, no global sort,
    * no per-group value buffering. */
  def winsorizeByQuantile(df: DataFrame, valueCol: String,
      loPct: Int, hiPct: Int, lo: Double, width: Double, bins: Int,
      groupCols: Seq[String] = Nil, outCol: String = "clipped"): DataFrame = {
    require(loPct < hiPct, "loPct must be below hiPct")
    require(groupCols.nonEmpty, "winsorizeByQuantile needs group columns" +
      " (pass a literal group for a global clip)")
    val th = histQuantiles(df, valueCol, Seq(loPct, hiPct), lo, width, bins,
        groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(min(when(col("pct") === loPct, col("est"))).as("__tlo"),
        min(when(col("pct") === hiPct, col("est"))).as("__thi"))
    df.join(th, groupCols)
      .withColumn(outCol,
        least(greatest(col(valueCol).cast(DoubleType), col("__tlo")), col("__thi")))
      .drop("__tlo", "__thi")
  }

  /** Per-column data-profile report: for each named column, total rows,
    * non-null count and exact distinct count — the table-health pass a
    * pipeline runs before trusting a new data drop (and the reference
    * era's ANALYZE-style stats source). Long output, one row per
    * column: (column, n_rows, n_nonnull, n_distinct).
    *
    * Scale: one aggregate pass PER COLUMN (a union of single-column
    * plans) — each pass prunes its scan to that one column and uses the
    * ordinary two-phase distinct, so no multi-distinct Expand blowup and
    * no single wide shuffle; the per-column passes parallelize as
    * independent jobs under the same action at any table width. For
    * quick profiles of very wide tables swap the exact distinct for
    * approx_count_distinct — same shape, one pass total. */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile at least one column")
    cols.map { c =>
      df.agg(count(lit(1)).as("n_rows"), count(col(c)).as("n_nonnull"),
          countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
          col("n_distinct"))
    }.reduce(_.union(_))
  }

  // q128 — profile the lineitem fact columns a pipeline keys on.
  private def q128(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    profileColumns(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_returnflag", "l_shipdate"))
      .orderBy($"col_name")
  }
  private val q128Sql =
    """SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_rows,
      |  COUNT(l_orderkey) AS n_nonnull, COUNT(DISTINCT l_orderkey) AS n_distinct
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_partkey', COUNT(*), COUNT(l_partkey), COUNT(DISTINCT l_partkey)
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_returnflag', COUNT(*), COUNT(l_returnflag), COUNT(DISTINCT l_returnflag)
      |FROM lineitem
      |UNION ALL
      |SELECT 'l_shipdate', COUNT(*), COUNT(l_shipdate), COUNT(DISTINCT l_shipdate)
      |FROM lineitem
      |ORDER BY col_name""".stripMargin

  /** Percentile-rank normalization: maps `valueCol` to its estimated
    * cumulative fraction (ppm) via the histogram sketch — the rank/CDF
    * feature transform ("normalize score to [0,1] by population rank")
    * that a global `percent_rank()` window would compute with a
    * single-task sort. rank_ppm = cum_count(bin(v)) · 10⁶ div N over the
    * deterministic (lo, width, bins) grid, so values replicate in any
    * engine; resolution is one bin. Appends `outCol` (ppm long).
    *
    * Scale: one bounded bin aggregate → a ≤-bins-row cum window (the
    * q73/q105 bounded-by-construction class) → BROADCAST equi-join on
    * the bin — O(1) hash lookup per row inside codegen, map-only
    * otherwise. Zero data-keyed windows, zero global sorts. */
  def percentileRank(df: DataFrame, valueCol: String, lo: Double,
      width: Double, bins: Int, outCol: String = "rank_ppm"): DataFrame = {
    require(bins > 0, "bins must be positive")
    val binEx = least(greatest(
      floor((col(valueCol).cast(DoubleType) - lit(lo)) / lit(width)),
      lit(0.0)), lit((bins - 1).toDouble)).cast(IntegerType)
    val binned = df.withColumn("__bin", binEx)
    val counts = binned.groupBy(col("__bin")).agg(count(lit(1)).as("__n"))
    // single-partition window is bounded by construction: ≤ bins rows
    val w = Window.orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("__cum", sum(col("__n")).over(w))
      .select(col("__bin"), col("__cum"))
    val tot = df.agg(count(lit(1)).as("__N"))
    binned.join(broadcast(cum), Seq("__bin"))
      .crossJoin(broadcast(tot))
      .withColumn(outCol, expr(
        // DECIMAL before the ppm scale-up: __cum is a row count — ×10⁶
        // wraps LONG past ~9.2e12 rows, within reach of a 100 TB table
        "CAST(CAST(__cum AS DECIMAL(19,0)) * 1000000 div __N AS BIGINT)"))
      .drop("__bin", "__cum", "__N")
  }

  /** Grouped percentile-rank normalization: [[percentileRank]] with the
    * bin histogram, cum-window, and totals all keyed by `groupCols` — the
    * per-language / per-source feature scaler. The cum-window is
    * (group)-partitioned over ≤ bins rows per group; the bin map joins
    * back on (group, bin) — AQE picks broadcast while #groups×bins stays
    * small and a shuffle join beyond. Never a data-keyed rank window. */
  def percentileRankByGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: String, lo: Double, width: Double, bins: Int,
      outCol: String = "rank_ppm"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(bins > 0, "bins must be positive")
    val binEx = least(greatest(
      floor((col(valueCol).cast(DoubleType) - lit(lo)) / lit(width)),
      lit(0.0)), lit((bins - 1).toDouble)).cast(IntegerType)
    val binned = df.withColumn("__bin", binEx)
    val keys = groupCols.map(col) :+ col("__bin")
    val counts = binned.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("__cum", sum(col("__n")).over(w))
      .select(keys :+ col("__cum"): _*)
    val tot = df.groupBy(groupCols.map(col): _*).agg(count(lit(1)).as("__N"))
    binned.join(cum, groupCols :+ "__bin")
      .join(tot, groupCols)
      .withColumn(outCol, expr(
        // DECIMAL before the ppm scale-up: __cum is a row count — ×10⁶
        // wraps LONG past ~9.2e12 rows, within reach of a 100 TB table
        "CAST(CAST(__cum AS DECIMAL(19,0)) * 1000000 div __N AS BIGINT)"))
      .drop("__bin", "__cum", "__N")
  }

  // q195 — price percentile rank WITHIN each return flag.
  private def q195(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    percentileRankByGroup(Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_extendedprice"),
        Seq("l_returnflag"), "l_extendedprice",
        lo = 900.0, width = 13.0, bins = 8192)
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  private val q195Sql =
    """WITH b AS (SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |    CAST(least(greatest(floor((CAST(l_extendedprice AS DOUBLE)
      |      - CAST(900.0 AS DOUBLE)) / CAST(13.0 AS DOUBLE)), CAST(0 AS DOUBLE)),
      |      CAST(8191 AS DOUBLE)) AS INTEGER) AS bin
      |  FROM lineitem),
      |c AS (SELECT l_returnflag, bin, COUNT(*) AS n FROM b GROUP BY 1, 2),
      |cum AS (SELECT l_returnflag, bin, SUM(n) OVER (PARTITION BY l_returnflag
      |    ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM c),
      |t AS (SELECT l_returnflag, COUNT(*) AS nn FROM lineitem GROUP BY 1)
      |SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag, b.l_extendedprice,
      |  CAST(cum * 1000000 // nn AS BIGINT) AS rank_ppm
      |FROM b JOIN cum ON b.l_returnflag = cum.l_returnflag AND b.bin = cum.bin
      |JOIN t ON b.l_returnflag = t.l_returnflag
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // q127 — price percentile-rank feature on the q76/q105 grid.
  private def q127(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    percentileRank(Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", $"l_extendedprice"),
        "l_extendedprice", lo = 900.0, width = 13.0, bins = 8192)
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  private val q127Sql =
    """WITH b AS (SELECT CAST(least(greatest(floor((CAST(l_extendedprice AS DOUBLE)
      |             - CAST(900.0 AS DOUBLE)) / CAST(13.0 AS DOUBLE)), CAST(0 AS DOUBLE)),
      |             CAST(8191 AS DOUBLE)) AS INTEGER) AS bin
      |           FROM lineitem),
      |c AS (SELECT bin, COUNT(*) AS n FROM b GROUP BY 1),
      |cum AS (SELECT bin, SUM(n) OVER (ORDER BY bin
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
      |tot AS (SELECT COUNT(*) AS total FROM lineitem)
      |SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  CAST((SELECT cum FROM cum WHERE bin = CAST(least(greatest(
      |     floor((CAST(l_extendedprice AS DOUBLE) - CAST(900.0 AS DOUBLE))
      |       / CAST(13.0 AS DOUBLE)), CAST(0 AS DOUBLE)), CAST(8191 AS DOUBLE)) AS INTEGER))
      |   * 1000000 // (SELECT total FROM tot) AS BIGINT) AS rank_ppm
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Per-group ordinary-least-squares line fit (slope + intercept) from
    * the same exact integer moments as [[groupCorr]] — the trend
    * extractor ("is quality drifting per source?", "price vs quantity
    * trend per segment"). slope = (n·Σxy − Σx·Σy)/(n·Σx² − Σx²),
    * intercept = (Σy − slope·Σx)/n, both single fixed double trees over
    * exact DECIMAL(38,0)/HUGEINT moments — bit-identical in any engine.
    * Zero-x-variance groups yield NULLs. Output: groupCols ++
    * (n, slope, intercept).
    *
    * Scale: identical to [[groupCorr]] — ONE combiner-friendly
    * aggregate, group-count output rows. */
  def groupLinFit(df: DataFrame, xCol: String, yCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "groupLinFit needs at least one group column")
    val x = col(xCol).cast(LongType)
    val y = col(yCol).cast(LongType)
    val dec = "DECIMAL(38,0)"
    val pd = DecimalType(38, 0)
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(x).as("__sx"), sum(y).as("__sy"),
        // cast-first: x·y at epoch-microsecond × cent grain passes 2⁶³
        // per ROW — the product itself must run in DECIMAL
        sum(x.cast(pd) * y).as("__sxy"), sum(x.cast(pd) * x).as("__sxx"))
      .withColumn("slope", expr(
        s"""CASE WHEN CAST(n AS $dec) * __sxx - CAST(__sx AS $dec) * __sx = 0
           |  THEN CAST(NULL AS DOUBLE)
           |  ELSE CAST(CAST(n AS $dec) * __sxy - CAST(__sx AS $dec) * __sy AS DOUBLE)
           |    / CAST(CAST(n AS $dec) * __sxx - CAST(__sx AS $dec) * __sx AS DOUBLE)
           |END""".stripMargin))
      .withColumn("intercept",
        (col("__sy").cast(DoubleType) - col("slope") * col("__sx").cast(DoubleType))
          / col("n").cast(DoubleType))
      .drop("__sx", "__sy", "__sxy", "__sxx")
  }

  // q122 — price-on-quantity OLS trend per (returnflag, linestatus),
  // cent-grain y like q117.
  private def q122(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    groupLinFit(
      Tables.lineitem(s, d)
        .withColumn("price_c",
          round($"l_extendedprice" * 100).cast(LongType)),
      "l_quantity", "price_c", Seq("l_returnflag", "l_linestatus"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }
  private val q122Sql =
    """WITH b AS (SELECT l_returnflag, l_linestatus,
      |    CAST(l_quantity AS BIGINT) AS x,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
      |  FROM b GROUP BY 1, 2),
      |sl AS (SELECT l_returnflag, l_linestatus, n, sx, sy,
      |    CASE WHEN n::HUGEINT * sxx - sx::HUGEINT * sx = 0
      |      THEN CAST(NULL AS DOUBLE)
      |      ELSE CAST(n::HUGEINT * sxy - sx::HUGEINT * sy AS DOUBLE)
      |        / CAST(n::HUGEINT * sxx - sx::HUGEINT * sx AS DOUBLE)
      |    END AS slope
      |  FROM m)
      |SELECT l_returnflag, l_linestatus, n, slope,
      |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
      |    AS intercept
      |FROM sl ORDER BY l_returnflag, l_linestatus""".stripMargin

  // q120 — winsorize extended price into its per-returnflag [p5, p95]
  // sketch band (clip, not drop; same grid as q76/q105).
  private def q120(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    winsorizeByQuantile(Tables.lineitem(s, d)
        .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_extendedprice"),
        "l_extendedprice", loPct = 5, hiPct = 95,
        lo = 900.0, width = 13.0, bins = 8192,
        groupCols = Seq("l_returnflag"), outCol = "price_w")
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  private val q120Sql =
    """WITH b AS (SELECT l_returnflag,
      |             CAST(least(greatest(floor((CAST(l_extendedprice AS DOUBLE)
      |               - CAST(900.0 AS DOUBLE)) / CAST(13.0 AS DOUBLE)), CAST(0 AS DOUBLE)),
      |               CAST(8191 AS DOUBLE)) AS INTEGER) AS bin
      |           FROM lineitem),
      |c AS (SELECT l_returnflag, bin, COUNT(*) AS n FROM b GROUP BY 1, 2),
      |cum AS (SELECT l_returnflag, bin,
      |          SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bin
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |          SUM(n) OVER (PARTITION BY l_returnflag) AS total
      |        FROM c),
      |p AS (SELECT * FROM (VALUES (5), (95)) v(pct)),
      |th AS (SELECT l_returnflag, pct,
      |         CAST(900.0 AS DOUBLE) + (min(bin) + 1) * CAST(13.0 AS DOUBLE) AS est
      |       FROM p, cum WHERE cum * 100 >= pct * total GROUP BY 1, 2),
      |th2 AS (SELECT l_returnflag,
      |          min(CASE WHEN pct = 5 THEN est END) AS tlo,
      |          min(CASE WHEN pct = 95 THEN est END) AS thi
      |        FROM th GROUP BY 1)
      |SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
      |  least(greatest(CAST(l_extendedprice AS DOUBLE), tlo), thi) AS price_w
      |FROM lineitem JOIN th2 USING (l_returnflag)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Histogram-bin partials for [[histQuantiles]]: one combiner-friendly
    * aggregate to (groupCols…, bin, n). The partials are the MERGEABLE
    * sketch state — they sum associatively, so a streaming job can append
    * per-micro-batch partial tables and [[histQuantilesFromCounts]]
    * answers quantiles over any union of them (segment → executor →
    * generation, the manifest-stats merge contract). */
  def histBinCounts(df: DataFrame, valueCol: String, lo: Double, width: Double,
      bins: Int, groupCols: Seq[String] = Nil): DataFrame =
    histBinCountsImpl(df, valueCol, lit(lo), lit(width), bins, groupCols)

  private def histBinCountsImpl(df: DataFrame, valueCol: String,
      loC: Column, widthC: Column, bins: Int, groupCols: Seq[String]): DataFrame = {
    require(bins > 0)
    val gs = groupCols.map(col)
    // Clamp in the DOUBLE domain and only then cast to INT: a raw
    // floor→INT cast saturates in Spark but errors in DuckDB once
    // (value-lo)/width exceeds Int.MaxValue, so values astronomically
    // outside the histogram range would diverge engine-to-engine
    val bin = least(greatest(floor((col(valueCol).cast(DoubleType) - loC) / widthC),
        lit(0.0)), lit((bins - 1).toDouble)).cast(IntegerType)
    df.select(gs :+ bin.as("bin"): _*)
      .groupBy(gs :+ col("bin"): _*).agg(count(lit(1)).as("n"))
  }

  /** Quantile estimates from (possibly appended/partial) bin counts —
    * (groupCols…, bin, n) rows as produced by [[histBinCounts]]. Merging
    * is just the re-aggregation here: duplicate bins from different
    * partial tables sum. Same estimates as [[histQuantiles]] on the
    * concatenated raw data, by construction. */
  def histQuantilesFromCounts(counts: DataFrame, pcts: Seq[Int],
      lo: Double, width: Double, groupCols: Seq[String] = Nil): DataFrame =
    histQuantilesFromCountsImpl(counts, pcts, lit(lo), lit(width), groupCols)

  private def histQuantilesFromCountsImpl(counts0: DataFrame, pcts: Seq[Int],
      loC: Column, widthC: Column, groupCols: Seq[String]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100))
    val s = counts0.sparkSession
    import s.implicits._
    val gs = groupCols.map(col)
    val counts = counts0.groupBy(gs :+ $"bin": _*).agg(sum($"n").as("n"))
    // cum/total windows key on the GROUP (≤ bins rows per group by
    // construction — bounded, unlike a data-keyed window); ungrouped, the
    // single partition holds ≤ bins rows total
    val w = if (gs.isEmpty) Window.partitionBy() else Window.partitionBy(gs: _*)
    val cum = counts
      .withColumn("cum", sum($"n").over(w.orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum($"n").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    pcts.toDF("pct")
      .crossJoin(broadcast(cum))
      .filter($"cum" * 100 >= $"pct" * $"total")
      .groupBy(gs :+ $"pct": _*).agg(min($"bin").as("bin"))
      .withColumn("est", loC + ($"bin" + 1) * widthC)
  }

  private def histQuantilesImpl(df: DataFrame, valueCol: String, pcts: Seq[Int],
      loC: Column, widthC: Column, bins: Int,
      groupCols: Seq[String]): DataFrame =
    histQuantilesFromCountsImpl(
      histBinCountsImpl(df, valueCol, loC, widthC, bins, groupCols),
      pcts, loC, widthC, groupCols)

  // q73 — histogram-sketch quantiles of l_extendedprice: 8192 bins of
  // width 13 from 900 (up to 107396, above every SF's max) → error ≤ 13.
  private def q73(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    histQuantiles(Tables.lineitem(s, d), "l_extendedprice", Seq(50, 95, 99),
        lo = 900.0, width = 13.0, bins = 8192)
      .orderBy($"pct")
  }
  private val q73Sql =
    """WITH b AS (SELECT CAST(least(greatest(floor((CAST(l_extendedprice AS DOUBLE)
      |             - CAST(900.0 AS DOUBLE)) / CAST(13.0 AS DOUBLE)), CAST(0 AS DOUBLE)),
      |             CAST(8191 AS DOUBLE)) AS INTEGER) AS bin
      |           FROM lineitem),
      |c AS (SELECT bin, COUNT(*) AS n FROM b GROUP BY 1),
      |cum AS (SELECT bin, SUM(n) OVER (ORDER BY bin
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
      |tot AS (SELECT COUNT(*) AS total FROM lineitem),
      |p AS (SELECT * FROM (VALUES (50), (95), (99)) v(pct))
      |SELECT pct, min(bin) AS bin,
      |  CAST(900.0 AS DOUBLE) + (min(bin) + 1) * CAST(13.0 AS DOUBLE) AS est
      |FROM p, cum, tot WHERE cum * 100 >= pct * total
      |GROUP BY pct ORDER BY pct""".stripMargin

  // q76 — per-group histogram quantiles (q46's grouped shape on the sketch
  // path: one aggregate over (group, bin), no per-group sorted value sets).
  private def q76(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    histQuantiles(Tables.lineitem(s, d), "l_extendedprice", Seq(50, 95),
        lo = 900.0, width = 13.0, bins = 8192, groupCols = Seq("l_returnflag"))
      .orderBy($"l_returnflag", $"pct")
  }
  private val q76Sql =
    """WITH b AS (SELECT l_returnflag,
      |             CAST(least(greatest(floor((CAST(l_extendedprice AS DOUBLE)
      |               - CAST(900.0 AS DOUBLE)) / CAST(13.0 AS DOUBLE)), CAST(0 AS DOUBLE)),
      |               CAST(8191 AS DOUBLE)) AS INTEGER) AS bin
      |           FROM lineitem),
      |c AS (SELECT l_returnflag, bin, COUNT(*) AS n FROM b GROUP BY 1, 2),
      |cum AS (SELECT l_returnflag, bin,
      |          SUM(n) OVER (PARTITION BY l_returnflag ORDER BY bin
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |          SUM(n) OVER (PARTITION BY l_returnflag) AS total
      |        FROM c),
      |p AS (SELECT * FROM (VALUES (50), (95)) v(pct))
      |SELECT l_returnflag, pct, min(bin) AS bin,
      |  CAST(900.0 AS DOUBLE) + (min(bin) + 1) * CAST(13.0 AS DOUBLE) AS est
      |FROM p, cum WHERE cum * 100 >= pct * total
      |GROUP BY 1, 2 ORDER BY l_returnflag, pct""".stripMargin

  // q77 — AUTO-binned histogram quantiles: the bin range is derived (data
  // min/max — which a manifest-backed segment table answers from metadata
  // alone, see histQuantilesAuto/manifestBounds), not caller-guessed like
  // q73's. Width = (max−min)/4096 in IEEE double on both engines, so the
  // estimates replicate bit-for-bit.
  private def q77(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    histQuantilesAuto(Tables.lineitem(s, d), "l_extendedprice",
        Seq(25, 50, 90, 99), bins = 4096)
      .orderBy($"pct")
  }
  private val q77Sql =
    """WITH s AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS lo,
      |                  CAST(max(l_extendedprice) AS DOUBLE) AS hi
      |           FROM lineitem),
      |w AS (SELECT lo, CASE WHEN hi > lo THEN (hi - lo) / 4096 ELSE 1.0 END AS width
      |      FROM s),
      |b AS (SELECT CAST(least(greatest(floor((CAST(l_extendedprice AS DOUBLE)
      |             - (SELECT lo FROM w)) / (SELECT width FROM w)), CAST(0 AS DOUBLE)),
      |             CAST(4095 AS DOUBLE)) AS INTEGER) AS bin
      |           FROM lineitem),
      |c AS (SELECT bin, COUNT(*) AS n FROM b GROUP BY 1),
      |cum AS (SELECT bin, SUM(n) OVER (ORDER BY bin
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
      |tot AS (SELECT COUNT(*) AS total FROM lineitem),
      |p AS (SELECT * FROM (VALUES (25), (50), (90), (99)) v(pct))
      |SELECT pct, min(bin) AS bin,
      |  (SELECT lo FROM w) + (min(bin) + 1) * (SELECT width FROM w) AS est
      |FROM p, cum, tot WHERE cum * 100 >= pct * total
      |GROUP BY pct ORDER BY pct""".stripMargin

  /** Per-group z-score outlier flagging with EXACT group moments: for an
    * integral-valued `valueCol` (pre-scale decimals to integers — cents,
    * ppm — as every exact operator here does), the group's count/sum/
    * sum-of-squares are exact BIGINTs, the wide products (n·x − S, n·Q − S²)
    * are evaluated in a 128-bit-capable domain (Spark DECIMAL(38,0); an
    * oracle uses HUGEINT), and only the final z² assembly is IEEE double —
    * one identical expression tree in any engine, so flags and scores
    * replicate bit-for-bit. z² = (n·x − S)²·(n−1) / (n·(n·Q − S²)), the
    * squared z-score under the group's sample variance; a constant group
    * (variance 0) scores 0 rather than NaN. Output: input columns +
    * (z2, is_outlier).
    *
    * Plan: one combiner-friendly groupBy for the moments (a hot group
    * shrinks to #partitions partial rows), UNHINTED join-back (never a
    * group-keyed window; the stats frame is #groups rows of CALLER-keyed
    * cardinality, so AQE decides — it broadcasts when small and shuffles
    * at 10⁹ entity groups, where an unconditional hint would OOM the
    * driver), then a map-only projection.
    * Exactness bound: n·Q must fit 38 digits, i.e. rows·|x| ≤ ~10¹⁹ per
    * group (|x| ≤ 10⁶ up to ~10¹³ rows/group) — Q itself accumulates in
    * DECIMAL(38,0); a LONG Σx² would wrap before 10⁷ cent-grain rows. */
  def zscoreOutliers(df: DataFrame, valueCol: String, groupCols: Seq[String],
      zThreshold: Double = 3.0): DataFrame = {
    require(groupCols.nonEmpty, "zscoreOutliers needs at least one group column")
    val x = col(valueCol).cast(LongType)
    val stats = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(x).as("__s"),
        sum(x.cast(DecimalType(38, 0)) * x).as("__q"))
    val dec = "DECIMAL(38,0)"
    val z2 = expr(
      s"""CASE WHEN CAST(__n AS $dec) * __q - CAST(__s AS $dec) * __s = 0 THEN 0.0
         |ELSE (CAST(CAST(__n AS $dec) * CAST($valueCol AS BIGINT) - __s AS DOUBLE)
         |      * CAST(CAST(__n AS $dec) * CAST($valueCol AS BIGINT) - __s AS DOUBLE)
         |      * CAST(__n - 1 AS DOUBLE))
         |     / (CAST(__n AS DOUBLE)
         |        * CAST(CAST(__n AS $dec) * __q - CAST(__s AS $dec) * __s AS DOUBLE))
         |END""".stripMargin)
    df.join(stats, groupCols)
      .withColumn("z2", z2)
      .withColumn("is_outlier",
        (col("z2") > lit(zThreshold * zThreshold)).cast(IntegerType))
      .drop("__n", "__s", "__q")
  }

  // q82 — per-(returnflag, linestatus) z-score outliers on l_quantity
  // (z > 1.5 — quantity is uniform on [1,50], σ ≈ 14.4, so the classic 3σ
  // never fires on this distribution; 1.5σ flags the ~13% tails and keeps
  // the gate non-vacuous). The moments are exact integers; z² is the
  // documented identical-tree double.
  private def q82(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    zscoreOutliers(Tables.lineitem(s, d), "l_quantity",
        Seq("l_returnflag", "l_linestatus"), zThreshold = 1.5)
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_linestatus",
        $"z2", $"is_outlier")
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  private val q82Sql =
    """WITH st AS (
      |  SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |    SUM(CAST(l_quantity AS BIGINT)) AS s,
      |    SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS q
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
      |  CASE WHEN n::HUGEINT * q - s::HUGEINT * s = 0 THEN 0.0
      |  ELSE (CAST(n::HUGEINT * CAST(l_quantity AS BIGINT) - s AS DOUBLE)
      |        * CAST(n::HUGEINT * CAST(l_quantity AS BIGINT) - s AS DOUBLE)
      |        * CAST(n - 1 AS DOUBLE))
      |       / (CAST(n AS DOUBLE) * CAST(n::HUGEINT * q - s::HUGEINT * s AS DOUBLE))
      |  END AS z2,
      |  CASE WHEN
      |    CASE WHEN n::HUGEINT * q - s::HUGEINT * s = 0 THEN 0.0
      |    ELSE (CAST(n::HUGEINT * CAST(l_quantity AS BIGINT) - s AS DOUBLE)
      |          * CAST(n::HUGEINT * CAST(l_quantity AS BIGINT) - s AS DOUBLE)
      |          * CAST(n - 1 AS DOUBLE))
      |         / (CAST(n AS DOUBLE) * CAST(n::HUGEINT * q - s::HUGEINT * s AS DOUBLE))
      |    END > 2.25 THEN 1 ELSE 0 END AS is_outlier
      |FROM lineitem JOIN st USING (l_returnflag, l_linestatus)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Per-group robust (median/MAD) outlier flagging — the heavy-tail-safe
    * complement of [[zscoreOutliers]] (whose mean/σ are themselves pulled
    * by the outliers they hunt): flags rows with
    * |x − median| > k·MAD, MAD = median(|x − median|). Medians are exact
    * interpolated percentiles (the q46 path), so the flags replicate
    * bit-for-bit against any engine's quantile_cont. Appends
    * (abs_dev, mad, is_outlier).
    *
    * Scale: two grouped exact-percentile aggregates + two BROADCAST
    * join-backs (group-count rows each) — no window, no global sort.
    * Exact percentile buffers each group's values in the aggregate state,
    * so this is the exact-op tier (fine to ~10⁷ rows per group at 100 TB
    * executor memory); above that, swap the median calls for the
    * mergeable [[histQuantiles]] sketch — identical shape, bounded
    * state. */
  def madOutliers(df: DataFrame, valueCol: String, groupCols: Seq[String],
      k: Double = 3.0): DataFrame = {
    require(groupCols.nonEmpty, "madOutliers needs at least one group column")
    val g = groupCols.map(col)
    val med = df.groupBy(g: _*)
      .agg(expr(s"percentile($valueCol, 0.5)").as("__med"))
    val dev = df.join(med, groupCols)
      .withColumn("abs_dev", abs(col(valueCol).cast(DoubleType) - col("__med")))
    val mad = dev.groupBy(g: _*)
      .agg(expr("percentile(abs_dev, 0.5)").as("mad"))
    dev.join(mad, groupCols)
      .withColumn("is_outlier",
        (col("abs_dev") > lit(k) * col("mad")).cast(IntegerType))
      .drop("__med")
  }

  // q116 — robust MAD outliers on l_extendedprice per (returnflag,
  // linestatus): k=2 (price is roughly uniform — like q82, the classic
  // 3·MAD never fires, 2·MAD flags real tails and keeps the gate
  // non-vacuous).
  private def q116(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    madOutliers(Tables.lineitem(s, d), "l_extendedprice",
        Seq("l_returnflag", "l_linestatus"), k = 2.0)
      .select($"l_orderkey", $"l_linenumber", $"l_returnflag", $"l_linestatus",
        $"abs_dev", $"mad", $"is_outlier")
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  private val q116Sql =
    """WITH md AS (
      |  SELECT l_returnflag, l_linestatus,
      |    quantile_cont(l_extendedprice, 0.5) AS med
      |  FROM lineitem GROUP BY 1, 2),
      |dv AS (
      |  SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
      |    abs(CAST(l_extendedprice AS DOUBLE) - med) AS abs_dev
      |  FROM lineitem JOIN md USING (l_returnflag, l_linestatus)),
      |mm AS (
      |  SELECT l_returnflag, l_linestatus, quantile_cont(abs_dev, 0.5) AS mad
      |  FROM dv GROUP BY 1, 2)
      |SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
      |  abs_dev, mad,
      |  CASE WHEN abs_dev > 2.0 * mad THEN 1 ELSE 0 END AS is_outlier
      |FROM dv JOIN mm USING (l_returnflag, l_linestatus)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Per-group Pearson correlation from exact integer moments: both
    * columns are taken at a caller-fixed integer grain (`xCol`, `yCol`
    * must already be integral — scale money to cents upstream), the six
    * moments (n, Σx, Σy, Σxy, Σx², Σy²) accumulate as exact BIGINTs
    * (DECIMAL(38,0)/HUGEINT products), and the final coefficient is one
    * fixed double tree — numerator / (√varx·√vary), IEEE sqrt and divide
    * being correctly rounded everywhere — so the result is bit-identical
    * across engines and partitionings, unlike a naive streaming `corr`
    * whose double accumulation is order-dependent. Zero-variance groups
    * yield NULL. Output: groupCols ++ (n, corr).
    *
    * Scale: ONE combiner-friendly aggregate (map-side partials, no join,
    * no window); output is group-count rows. */
  def groupCorr(df: DataFrame, xCol: String, yCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "groupCorr needs at least one group column")
    val x = col(xCol).cast(LongType)
    val y = col(yCol).cast(LongType)
    val dec = "DECIMAL(38,0)"
    // per-row products run DECIMAL too, not just their sums: x at epoch-
    // microsecond grain (the trend-over-time use) squares to ~10³⁰, far
    // past 2⁶³ — casting one factor first keeps every step exact
    val pd = DecimalType(38, 0)
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x.cast(pd) * y).as("__sxy"), sum(x.cast(pd) * x).as("__sxx"),
        sum(y.cast(pd) * y).as("__syy"))
      .withColumn("corr", expr(
        s"""CASE WHEN CAST(n AS $dec) * __sxx - CAST(__sx AS $dec) * __sx = 0
           |       OR CAST(n AS $dec) * __syy - CAST(__sy AS $dec) * __sy = 0
           |  THEN CAST(NULL AS DOUBLE)
           |  ELSE CAST(CAST(n AS $dec) * __sxy - CAST(__sx AS $dec) * __sy AS DOUBLE)
           |    / (sqrt(CAST(CAST(n AS $dec) * __sxx - CAST(__sx AS $dec) * __sx AS DOUBLE))
           |       * sqrt(CAST(CAST(n AS $dec) * __syy - CAST(__sy AS $dec) * __sy AS DOUBLE)))
           |END""".stripMargin))
      .drop("__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  // q117 — quantity × price correlation per (returnflag, linestatus);
  // price at exact cent grain (2-decimal money, the dsum argument).
  private def q117(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    groupCorr(
      Tables.lineitem(s, d)
        .withColumn("price_c",
          round($"l_extendedprice" * 100).cast(LongType)),
      "l_quantity", "price_c", Seq("l_returnflag", "l_linestatus"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }
  private val q117Sql =
    """WITH b AS (SELECT l_returnflag, l_linestatus,
      |    CAST(l_quantity AS BIGINT) AS x,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM b GROUP BY 1, 2)
      |SELECT l_returnflag, l_linestatus, n,
      |  CASE WHEN n::HUGEINT * sxx - sx::HUGEINT * sx = 0
      |         OR n::HUGEINT * syy - sy::HUGEINT * sy = 0
      |    THEN CAST(NULL AS DOUBLE)
      |    ELSE CAST(n::HUGEINT * sxy - sx::HUGEINT * sy AS DOUBLE)
      |      / (sqrt(CAST(n::HUGEINT * sxx - sx::HUGEINT * sx AS DOUBLE))
      |         * sqrt(CAST(n::HUGEINT * syy - sy::HUGEINT * sy AS DOUBLE)))
      |  END AS corr
      |FROM m ORDER BY l_returnflag, l_linestatus""".stripMargin

  // q89 — PIVOT: long→wide reshape (the reporting cross-tab). The pivot
  // value list is EXPLICIT — Spark's values-less overload first runs a
  // driver-side collect-distinct over the pivot column, which at 100 TB
  // is an unbounded extra scan + driver list; a declared list keeps the
  // plan one combiner-friendly aggregate wide. Sums ride the exact
  // DECIMAL(30,6) dsum tree so both engines hash identically.
  private def q89(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum($"l_quantity").as("qty"), count(lit(1)).as("cnt"))
      .select($"l_returnflag",
        $"F_qty".as("qty_f"), $"F_cnt".as("cnt_f"),
        $"O_qty".as("qty_o"), $"O_cnt".as("cnt_o"))
      .orderBy($"l_returnflag")
  }
  private val q89Sql =
    s"""SELECT l_returnflag,
       |  ${dsumSql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_f,
       |  COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS cnt_f,
       |  ${dsumSql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_o,
       |  COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS cnt_o
       |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // q90 — UNPIVOT (melt): wide→long reshape, the inverse prep step every
  // per-metric pipeline runs before a generic (metric, value) aggregate.
  // Map-only: each input row emits #valueCols output rows with zero
  // shuffle — the orderBy here is only the gate's determinism sort.
  private def q90(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .unpivot(
        Array($"l_orderkey", $"l_linenumber"),
        Array($"l_quantity", $"l_discount", $"l_tax"),
        "metric", "value")
      .orderBy($"l_orderkey", $"l_linenumber", $"metric")
  }
  private val q90Sql =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value
      |FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin

  /** Association-rule mining over (basket, item) pairs — the market-
    * basket pass (Agrawal & Srikant, VLDB 1994) at the pair level: for
    * every directed item pair with co-occurrence support ≥ `minSupport`,
    * emit support, confidence (ppm, exact integer div) and lift (one
    * double multiply + divide over exact integer inputs — the identical
    * expression tree in any engine). Output: (antecedent, consequent,
    * support, conf_ppm, lift).
    *
    * Scale: baskets dedup with one combiner-friendly distinct; pair
    * counts are a self-equi-join on the basket key + a map-side-
    * combinable count. A hot basket fans out |basket|² pairs, so
    * `maxBasketSize` ENFORCES the cap: baskets with more distinct items
    * are dropped — from pair counts, item counts AND the total, so
    * support/confidence/lift stay mutually consistent over the same
    * (filtered) basket population. A crawler cart with 10⁵ items would
    * otherwise fan out 10¹⁰ structs from one row; such baskets carry no
    * signal for pair rules. Item counts broadcast back; the basket total
    * is a 1-row broadcast, never a driver action. `minSupport` prunes
    * before the stats join. */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long, materialize: Boolean = true,
      maxBasketSize: Option[Int] = None): DataFrame = {
    require(minSupport >= 1, "minSupport must be positive")
    require(maxBasketSize.forall(_ >= 2), "maxBasketSize must be >= 2")
    // ONE shuffle builds the per-basket item set; dedup, the pair fan-out
    // (|basket|² structs) and the item fan-out all happen MAP-SIDE from
    // the array — no basket self-join, no separate distinct pass (the
    // earlier join formulation shuffled the pair relation three times).
    // The basket frame feeds three consumers and exchange reuse can NOT
    // dedupe it (collect_set is non-deterministic, so the subplans never
    // canonicalize equal) — persist + eager snapshot, pageRank-style
    val allBaskets = df.groupBy(col(basketCol).as("__bk"))
      .agg(sort_array(collect_set(col(itemCol))).as("__items"))
    // map-only size cap BEFORE the persist: oversized baskets never enter
    // any consumer (pairs, item counts, total), keeping the stats coherent
    val baskets = maxBasketSize
      .fold(allBaskets)(cap => allBaskets.filter(size(col("__items")) <= cap))
      .persist()
    val n = baskets.agg(count(lit(1)).as("__n"))
    val ic = baskets.select(explode(col("__items")).as("__it"))
      .groupBy(col("__it")).agg(count(lit(1)).as("__c"))
    val pairs = baskets
      .select(explode(expr(
        "flatten(transform(__items, x -> " +
          "transform(filter(__items, y -> y != x), y -> struct(x AS a, y AS b))))"))
        .as("__p"))
      .select(col("__p.a").as("antecedent"), col("__p.b").as("consequent"))
      .groupBy(col("antecedent"), col("consequent"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    val out = pairs
      .join(ic.select(col("__it").as("antecedent"), col("__c").as("__ca")), "antecedent")
      .join(ic.select(col("__it").as("consequent"), col("__c").as("__cb")), "consequent")
      .crossJoin(broadcast(n))
      .select(col("antecedent"), col("consequent"), col("support"),
        expr("CAST(CAST(support AS DECIMAL(19,0)) * 1000000 div __ca AS BIGINT)")
          .as("conf_ppm"),
        ((col("support").cast("double") * col("__n")) /
          (col("__ca") * col("__cb")).cast("double")).as("lift"))
    if (!materialize) out
    else {
      val snapped = out.localCheckpoint()
      baskets.unpersist(blocking = false)
      snapped
    }
  }

  /** 2-D skyline (Pareto frontier): rows not dominated on (x, y), both
    * maximized — dominated means another row has x' ≥ x AND y' ≥ y with
    * at least one strict. The "best trade-offs" query (price × recency,
    * quality × length …).
    *
    * Scale: the direct formulations are all-pairs (N²) or one global
    * cummax window (every row through a single task). This is the
    * two-phase bucket skyline: per-bucket max-y (one combiner-friendly
    * aggregate over ≤ `buckets` keys) → suffix-max thresholds on the
    * bounded bucket relation (a ≤-buckets-row window) → broadcast
    * map-only prefilter (a row below some strictly-higher bucket's max
    * is dominated by construction and drops immediately) → the exact
    * dominance windows run only on survivors, a relation sized by the
    * frontier plus bucket-boundary noise. Worst case (fully
    * anti-correlated data) the frontier IS O(N) — no algorithm avoids
    * its own output. `xCol` must be integral (bucketing + exact range
    * frame); ties on both dims are all kept (none strictly dominates). */
  def skyline2D(df: DataFrame, xCol: String, yCol: String,
      buckets: Int = 1024, groupCols: Seq[String] = Nil): DataFrame = {
    require(buckets >= 1, "buckets must be positive")
    val g = groupCols.map(col)
    val x = col(xCol).cast(LongType)
    val y = col(yCol).cast(DoubleType)
    // one global x-range serves every group (the bucket grid need not be
    // per-group tight — thresholds are per-group regardless)
    val mm = df.agg(min(x), max(x)).head()
    require(!mm.isNullAt(0), "skyline needs a non-empty, non-null x column")
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val width = math.max(1L, (hi - lo) / buckets + 1)
    val bEx = ((x - lit(lo)) / lit(width)).cast(LongType)
    val bmax = df.groupBy(g :+ bEx.as("__b"): _*).agg(max(y).as("__by"))
    val wSuffix = (if (g.isEmpty) Window.orderBy(col("__b").desc)
      else Window.partitionBy(g: _*).orderBy(col("__b").desc))
      .rowsBetween(Window.unboundedPreceding, -1)
    val thr = bmax.select(g ++ Seq(col("__b"),
      max(col("__by")).over(wSuffix).as("__thr")): _*)
    val cand = df.withColumn("__b", bEx)
      .join(thr, groupCols :+ "__b")
      .filter(col("__thr").isNull || y > col("__thr"))
      .withColumn("__x", x).withColumn("__y", y)
    val wAfter = (if (g.isEmpty) Window.orderBy(col("__x"))
      else Window.partitionBy(g: _*).orderBy(col("__x")))
      .rangeBetween(1L, Window.unboundedFollowing)
    val wSame = Window.partitionBy(g :+ col("__x"): _*)
    cand
      .withColumn("__am", max(col("__y")).over(wAfter))
      .withColumn("__sm", max(col("__y")).over(wSame))
      .filter((col("__am").isNull || col("__am") < col("__y")) &&
        col("__sm") === col("__y"))
      .select(df.columns.map(col): _*)
  }

  // q106 — Pareto frontier of orders on (order day, total price): the
  // "largest AND most recent" orders no other order beats on both axes.
  private def q106(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = Tables.orders(s, d).select($"o_orderkey",
      datediff($"o_orderdate".cast("date"), to_date(lit("1970-01-01"))).as("days"),
      $"o_totalprice")
    skyline2D(t, "days", "o_totalprice")
      .orderBy($"days", $"o_orderkey")
  }
  private val q106Sql =
    """WITH t AS (SELECT o_orderkey,
      |             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS INTEGER) AS days,
      |             o_totalprice FROM orders),
      |m AS (SELECT *,
      |        MAX(o_totalprice) OVER (ORDER BY days
      |          RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS am,
      |        MAX(o_totalprice) OVER (PARTITION BY days) AS sm FROM t)
      |SELECT o_orderkey, days, o_totalprice FROM m
      |WHERE (am IS NULL OR am < o_totalprice) AND sm = o_totalprice
      |ORDER BY days, o_orderkey""".stripMargin

  // q108 — GROUPED skyline: the Pareto frontier per order priority
  // ("best price-recency trade-offs in each class") — thresholds,
  // prefilter and dominance windows all keyed by the group.
  private def q108(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = Tables.orders(s, d).select($"o_orderpriority", $"o_orderkey",
      datediff($"o_orderdate".cast("date"), to_date(lit("1970-01-01"))).as("days"),
      $"o_totalprice")
    skyline2D(t, "days", "o_totalprice", groupCols = Seq("o_orderpriority"))
      .orderBy($"o_orderpriority", $"days", $"o_orderkey")
  }
  private val q108Sql =
    """WITH t AS (SELECT o_orderpriority, o_orderkey,
      |             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS INTEGER) AS days,
      |             o_totalprice FROM orders),
      |m AS (SELECT *,
      |        MAX(o_totalprice) OVER (PARTITION BY o_orderpriority ORDER BY days
      |          RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS am,
      |        MAX(o_totalprice) OVER (PARTITION BY o_orderpriority, days) AS sm FROM t)
      |SELECT o_orderpriority, o_orderkey, days, o_totalprice FROM m
      |WHERE (am IS NULL OR am < o_totalprice) AND sm = o_totalprice
      |ORDER BY o_orderpriority, days, o_orderkey""".stripMargin

  // q102 — pair association rules on order baskets: directed part pairs
  // co-bought in ≥ 2 orders, with exact-integer confidence and a
  // single-expression double lift. The rule table is a build-once
  // artifact (mine once, query many — same as the q84 ranks): memoized
  // per (session, dir), bench reports the mining cost cold.
  private def q102(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rules = Memo.get(s, d, "extended.rules")(
      associationRules(Tables.lineitem(s, d), "l_orderkey", "l_partkey",
        minSupport = 2L))
    rules.orderBy($"antecedent", $"consequent")
  }
  private val q102Sql =
    """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT bk) AS n FROM b),
      |pc AS (SELECT a.it AS antecedent, c.it AS consequent, COUNT(*) AS support
      |       FROM b a JOIN b c ON a.bk = c.bk AND a.it <> c.it GROUP BY 1, 2),
      |ic AS (SELECT it, COUNT(*) AS c FROM b GROUP BY 1)
      |SELECT antecedent, consequent, support,
      |  support * 1000000 // ia.c AS conf_ppm,
      |  (CAST(support AS DOUBLE) * (SELECT n FROM n)) / CAST(ia.c * ib.c AS DOUBLE)
      |    AS lift
      |FROM pc JOIN ic ia ON antecedent = ia.it JOIN ic ib ON consequent = ib.it
      |WHERE support >= 2
      |ORDER BY antecedent, consequent""".stripMargin

  // q97 — grouped top-k as a RELATIONAL operator: the bounded TopKByScore
  // aggregate (the ANN serving path's no-straggler top-k) on a plain
  // fact-table ranking — top 3 line items per return flag by price. The
  // very-few-groups shape is exactly where a row_number window would
  // funnel 6B rows into 3 tasks at 100 TB; the aggregate's map-side
  // partials keep every partition local until k×#partitions rows remain.
  // item_id = orderkey·8 + linenumber (unique; linenumber ≤ 7) makes the
  // (price desc, id asc) tie-break total on both engines.
  private def q97(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val it = Tables.lineitem(s, d).select($"l_returnflag",
      ($"l_orderkey" * 8 + $"l_linenumber").cast(LongType).as("item_id"),
      $"l_extendedprice".cast("double").as("price"))
    Similarity.topKPerKey(it, Seq("l_returnflag"), "item_id", "price", k = 3)
      .orderBy($"l_returnflag", $"rank")
  }
  private val q97Sql =
    """WITH it AS (SELECT l_returnflag, l_orderkey * 8 + l_linenumber AS item_id,
      |  CAST(l_extendedprice AS DOUBLE) AS price FROM lineitem),
      |r AS (SELECT l_returnflag, item_id, price,
      |  ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |                     ORDER BY price DESC, item_id ASC) AS rank FROM it)
      |SELECT l_returnflag, item_id, CAST(rank AS INTEGER) AS rank, price
      |FROM r WHERE rank <= 3 ORDER BY l_returnflag, rank""".stripMargin

  // ---------------------------------------------------------------------
  // Equi-width histogram — the chart-ready distribution summary (the
  // reference's pack histograms are internal pruning stats; this is the
  // user-facing aggregate). Explicit [lo, hi) bounds keep binning
  // data-independent (use manifestBounds / histQuantilesAuto when bounds
  // should come from metadata).

  /** Per-group equi-width histogram: bin = floor((v − lo)/w) clamped to
    * [0, bins), w = (hi − lo)/bins. Out-of-range values land in the edge
    * bins (the [[histQuantiles]] clamp convention). Output: (groupCols…,
    * bin, bin_lo, n) for every NON-EMPTY bin; bin_lo = lo + bin·w.
    *
    * Plan: one map-side projection + one combiner-friendly aggregate on
    * (group, bin) — ≤ groups×bins result rows, no window, no join. The
    * float ops (one subtract, one divide, one floor, one multiply+add)
    * are each single IEEE operations, so bins replicate exactly across
    * engines. */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      bins: Int, groupCols: Seq[String] = Nil): DataFrame = {
    require(bins >= 1, "bins must be positive")
    require(hi > lo, "hi must exceed lo")
    val w = (hi - lo) / bins
    val bin = least(greatest(
      floor((col(valueCol).cast(DoubleType) - lo) / w), lit(0.0)),
      lit((bins - 1).toDouble)).cast(LongType)
    df.withColumn("bin", bin)
      .groupBy((groupCols :+ "bin").map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", lit(lo) + col("bin") * lit(w))
      .select((groupCols.map(col) ++ Seq(col("bin"), col("bin_lo"), col("n"))): _*)
  }

  // q138 — price distribution per return flag, 20 equi-width bins.
  private def q138(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    histogram(Tables.lineitem(s, d), "l_extendedprice",
        lo = 900.0, hi = 105000.0, bins = 20, groupCols = Seq("l_returnflag"))
      .orderBy($"l_returnflag", $"bin")
  }
  private val q138Sql = {
    val w = (105000.0 - 900.0) / 20
    s"""WITH b AS (SELECT l_returnflag,
       |  CAST(least(greatest(floor((CAST(l_extendedprice AS DOUBLE) - 900.0)
       |    / $w), 0.0), 19.0) AS BIGINT) AS bin
       |  FROM lineitem)
       |SELECT l_returnflag, bin, 900.0 + bin * $w AS bin_lo, COUNT(*) AS n
       |FROM b GROUP BY 1, 2 ORDER BY l_returnflag, bin""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Mode — per-group most frequent value, deterministic (the categorical
  // summary statistic; DuckDB's mode() is tie-arbitrary, this is not).

  /** Per-group mode of `valueCol` with count, ties broken toward the
    * SMALLEST value ((−count, value) lexicographic min — a total order,
    * so results replicate in any engine). Output: (groupCols…, mode,
    * n_mode).
    *
    * Plan: one (group, value) combiner aggregate + one min_by argmax
    * aggregate — never a group-keyed window; hot groups reduce map-side
    * twice. */
  def groupMode(df: DataFrame, valueCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "needs at least one group column")
    df.groupBy((groupCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        min_by(struct(col(valueCol).as("v"), col("__c").as("c")),
          struct(negate(col("__c")).as("nc"), col(valueCol).as("v"))).as("__m"))
      .select(groupCols.map(col) ++ Seq(
        col("__m.v").as("mode"), col("__m.c").as("n_mode")): _*)
  }

  // q144 — each user's dominant event type (ties → alphabetically first).
  private def q144(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    groupMode(Tables.events(s, d), "event_type", Seq("user_id"))
      .orderBy($"user_id")
  }
  private val q144Sql =
    """WITH c AS (SELECT user_id, event_type, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT user_id, MAX(n) AS mn FROM c GROUP BY 1)
      |SELECT c.user_id, MIN(c.event_type) AS mode, CAST(m.mn AS BIGINT) AS n_mode
      |FROM c JOIN m ON c.user_id = m.user_id AND c.n = m.mn
      |GROUP BY c.user_id, m.mn ORDER BY c.user_id""".stripMargin

  // ---------------------------------------------------------------------
  // Concentration index — per-group Herfindahl-Hirschman index of member
  // shares (how concentrated is a source's/domain's contribution?). The
  // corpus use: detect groups dominated by one member (a source where one
  // domain is 90% of tokens is a dedup/bias risk) without any sorting.

  /** Per-group HHI in exact ppm: with w_i the member weights (grouped by
    * `memberCol` inside `groupCols`), HHI = Σ (w_i / W)² =
    * (Σ w_i²) / W², emitted as (Σ w_i²)·10⁶ div W² over DECIMAL(38,0) —
    * exact integer floor, no per-member division. 10⁶ = one member owns
    * everything; 10⁶/n = perfectly even across n members. Output:
    * (groupCols…, n_members, hhi_ppm).
    *
    * Plan: two combiner-friendly aggregates (member weights, then group
    * sums) — no window, no join, no sort; the share-squared sum needs no
    * per-member share materialization. Digit bound: Σw_i² ≤ W² so both
    * fit 38 digits while W < ~3·10¹⁵ per group; coarsen the weight grain
    * beyond that. */
  def groupConcentration(df: DataFrame, memberCol: String, weightCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "needs at least one group column")
    val pd = DecimalType(38, 0)
    val w = df.groupBy((groupCols :+ memberCol).map(col): _*)
      .agg(sum(col(weightCol).cast(LongType)).as("__w"))
    w.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_members"),
        sum(col("__w").cast(pd) * col("__w")).as("__sq"),
        sum(col("__w")).as("__tot"))
      .withColumn("hhi_ppm", expr(
        """CASE WHEN __tot <= 0 THEN CAST(NULL AS BIGINT)
          |ELSE CAST((__sq * 1000000) div
          |  (CAST(__tot AS DECIMAL(38,0)) * __tot) AS BIGINT) END""".stripMargin))
      .drop("__sq", "__tot")
  }

  // q143 — supplier revenue concentration per nation (cent grain).
  private def q143(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .withColumn("rev_c", round($"l_extendedprice" * 100).cast(LongType))
    val sup = Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey")
    groupConcentration(
        li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey")),
        "l_suppkey", "rev_c", Seq("s_nationkey"))
      .orderBy($"s_nationkey")
  }
  private val q143Sql =
    """WITH b AS (SELECT s_nationkey, l_suppkey,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS rev
      |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
      |w AS (SELECT s_nationkey, l_suppkey, SUM(rev) AS w
      |  FROM b GROUP BY 1, 2),
      |g AS (SELECT s_nationkey, COUNT(*) AS n_members,
      |    SUM(w::HUGEINT * w) AS sq, SUM(w) AS tot
      |  FROM w GROUP BY 1)
      |SELECT s_nationkey, n_members,
      |  CASE WHEN tot <= 0 THEN CAST(NULL AS BIGINT)
      |    ELSE CAST((sq * 1000000) // (tot::HUGEINT * tot) AS BIGINT)
      |  END AS hhi_ppm
      |FROM g ORDER BY s_nationkey""".stripMargin

  // ---------------------------------------------------------------------
  // Higher central moments — per-group skewness/kurtosis from exact
  // integer power sums (the distribution-shape profile a data-quality
  // pass reads next to q82's z-scores and q116's MAD).

  /** Per-group population skewness g1 = m3/m2^1.5 and excess kurtosis
    * g2 = m4/m2² − 3, computed from exact integer power sums S1..S4
    * accumulated as DECIMAL(38,0) (HUGEINT in the oracle): with
    * M2 = n·S2 − S1², M3 = n²·S3 − 3n·S1·S2 + 2·S1³ and
    * M4 = n³·S4 − 4n²·S1·S3 + 6n·S1²·S2 − 3·S1⁴, the n powers cancel so
    * g1 = M3/M2^1.5 and g2 = M4/M2² − 3 exactly. The only floats are
    * final single IEEE ops (casts, one sqrt, one or two mul/div) — no
    * pow(), whose libm implementations drift across engines. Constant
    * groups (M2 = 0) yield NULL. Output: (groupCols…, n, skewness,
    * kurtosis).
    *
    * Plan: ONE combiner-friendly aggregate — no join, no window; a hot
    * group reduces map-side. Digit bounds: S1⁴ must fit 38 digits —
    * holds while (Σ|x|)⁴ < 10³⁸, i.e. Σ|x| < ~3·10⁹ per group; rescale
    * x (coarser grain) for bigger groups, exactly like [[groupCorr]]'s
    * documented bound. */
  def groupMoments(df: DataFrame, xCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "groupMoments needs at least one group column")
    val x = col(xCol).cast(LongType)
    val pd = DecimalType(38, 0)
    val dec = "DECIMAL(38,0)"
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(x).as("__s1"),
        // cast-first: x² in LONG wraps for |x| > ~3e9 (epoch-second or
        // larger grains) — every power runs in DECIMAL from the start
        sum(x.cast(pd) * x).as("__s2"),
        sum(x.cast(pd) * x * x).as("__s3"),
        sum((x.cast(pd) * x) * (x.cast(pd) * x)).as("__s4"))
      .withColumn("__m2", expr(s"CAST(n AS $dec) * __s2 - CAST(__s1 AS $dec) * __s1"))
      .withColumn("__m3", expr(
        s"CAST(n AS $dec) * n * __s3 - 3 * CAST(n AS $dec) * __s1 * __s2" +
          s" + 2 * CAST(__s1 AS $dec) * __s1 * __s1"))
      .withColumn("__m4", expr(
        s"CAST(n AS $dec) * n * n * __s4 - 4 * CAST(n AS $dec) * n * __s1 * __s3" +
          s" + 6 * CAST(n AS $dec) * __s1 * __s1 * __s2" +
          s" - 3 * CAST(__s1 AS $dec) * __s1 * __s1 * __s1"))
      .withColumn("skewness", expr(
        """CASE WHEN __m2 <= 0 THEN CAST(NULL AS DOUBLE)
          |ELSE CAST(__m3 AS DOUBLE)
          |  / (CAST(__m2 AS DOUBLE) * sqrt(CAST(__m2 AS DOUBLE))) END""".stripMargin))
      .withColumn("kurtosis", expr(
        """CASE WHEN __m2 <= 0 THEN CAST(NULL AS DOUBLE)
          |ELSE CAST(__m4 AS DOUBLE)
          |  / (CAST(__m2 AS DOUBLE) * CAST(__m2 AS DOUBLE)) - 3.0 END""".stripMargin))
      .drop("__s1", "__s2", "__s3", "__s4", "__m2", "__m3", "__m4")
  }

  // q142 — quantity distribution shape per (returnflag, linestatus):
  // integer grain keeps every power sum exact.
  private def q142(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    groupMoments(Tables.lineitem(s, d), "l_quantity",
        Seq("l_returnflag", "l_linestatus"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }
  // the HUGEINT moments convert to DOUBLE via VARCHAR: DuckDB's direct
  // HUGEINT→DOUBLE cast is off by one ulp just past 2^53 (measured at
  // sf0.1: m3 = -24912883748480166 → ...a292**9**p+54 vs the correctly
  // rounded ...a292**a**p+54 that strtod, the JVM, and Python all agree
  // on), which surfaced as a last-ulp skewness mismatch. String→double
  // parsing is correctly rounded, so both engines see identical doubles
  // and the downstream *, sqrt, / are all IEEE-exact.
  private val q142Sql =
    """WITH b AS (SELECT l_returnflag, l_linestatus,
      |    CAST(l_quantity AS BIGINT) AS x FROM lineitem),
      |m AS (SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |    SUM(x) AS s1, SUM(x::HUGEINT * x) AS s2,
      |    SUM(x::HUGEINT * x * x) AS s3, SUM(x::HUGEINT * x * x * x) AS s4
      |  FROM b GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, l_linestatus, n,
      |    n::HUGEINT * s2 - s1::HUGEINT * s1 AS m2,
      |    n::HUGEINT * n * s3 - 3 * n::HUGEINT * s1 * s2
      |      + 2 * s1::HUGEINT * s1 * s1 AS m3,
      |    n::HUGEINT * n * n * s4 - 4 * n::HUGEINT * n * s1 * s3
      |      + 6 * n::HUGEINT * s1 * s1 * s2
      |      - 3 * s1::HUGEINT * s1 * s1 * s1 AS m4
      |  FROM m)
      |SELECT l_returnflag, l_linestatus, n,
      |  CASE WHEN m2 <= 0 THEN CAST(NULL AS DOUBLE)
      |    ELSE CAST(CAST(m3 AS VARCHAR) AS DOUBLE)
      |      / (CAST(CAST(m2 AS VARCHAR) AS DOUBLE)
      |         * sqrt(CAST(CAST(m2 AS VARCHAR) AS DOUBLE))) END AS skewness,
      |  CASE WHEN m2 <= 0 THEN CAST(NULL AS DOUBLE)
      |    ELSE CAST(CAST(m4 AS VARCHAR) AS DOUBLE)
      |      / (CAST(CAST(m2 AS VARCHAR) AS DOUBLE)
      |         * CAST(CAST(m2 AS VARCHAR) AS DOUBLE)) - 3.0 END AS kurtosis
      |FROM c ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // Data-quality audit — the dbt-test / Deequ-style table contract check,
  // run as ONE pass over the table (plus one anti-join per foreign key).

  /** Evaluate named row predicates in a single aggregate pass. A NULL
    * predicate counts as a failure (contract checks are three-valued:
    * unknown is not a pass). Output: (check_name, n_rows, n_fail), one
    * row per check — n_rows is the full table count for every row check.
    *
    * Plan: one map-only projection + one global aggregate (all checks
    * share the single scan); the melt to rows is over a 1-row frame. */
  def auditChecks(df: DataFrame, checks: Seq[(String, Column)]): DataFrame = {
    require(checks.nonEmpty, "need at least one check")
    require(checks.map(_._1).distinct.size == checks.size, "check names must be unique")
    val aggs = count(lit(1)).as("__n") +: checks.map { case (nm, pred) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"__f_$nm") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = checks.map { case (nm, _) => s"'$nm', __f_$nm" }.mkString(", ")
    one.select(col("__n").as("n_rows"),
        expr(s"stack(${checks.size}, $stackArgs) AS (check_name, n_fail)"))
      .select(col("check_name"), col("n_rows"), col("n_fail"))
  }

  /** Referential-integrity audit: count child rows whose non-null
    * `fkCol` has no match in `parent.pkCol` (orphans). NULL foreign keys
    * are counted by a row check, not here — SQL FK semantics. Output:
    * (check_name, n_rows, n_fail). One left-anti equi-join; broadcast
    * when the parent key set is small, shuffle otherwise (AQE picks). */
  def auditForeignKey(child: DataFrame, fkCol: String,
      parent: DataFrame, pkCol: String, name: String): DataFrame = {
    val total = child.agg(count(lit(1)).as("n_rows"))
    val orphans = child.filter(col(fkCol).isNotNull)
      .join(parent.select(col(pkCol).as(fkCol)).distinct(),
        Seq(fkCol), "left_anti")
      .agg(count(lit(1)).as("n_fail"))
    total.crossJoin(orphans)
      .select(lit(name).as("check_name"), col("n_rows"), col("n_fail"))
  }

  // q141 — orders-table contract: three row checks in one pass + the
  // customer foreign key (plus a deliberately failing bound so the gate
  // exercises a non-zero n_fail).
  private def q141(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val rowChecks = auditChecks(o, Seq(
      "totalprice_positive" -> ($"o_totalprice" > 0),
      "totalprice_under_300k" -> ($"o_totalprice" < 300000.0),
      "custkey_not_null" -> $"o_custkey".isNotNull))
    val fk = auditForeignKey(o, "o_custkey",
      Tables.customer(s, d), "c_custkey", "custkey_in_customer")
    rowChecks.unionByName(fk).orderBy($"check_name")
  }
  private val q141Sql =
    """WITH n AS (SELECT COUNT(*) AS n_rows FROM orders),
      |rc AS (
      |  SELECT 'totalprice_positive' AS check_name, n.n_rows,
      |    (SELECT COUNT(*) FROM orders
      |     WHERE NOT coalesce(o_totalprice > 0, false)) AS n_fail FROM n
      |  UNION ALL
      |  SELECT 'totalprice_under_300k', n.n_rows,
      |    (SELECT COUNT(*) FROM orders
      |     WHERE NOT coalesce(o_totalprice < 300000.0, false)) FROM n
      |  UNION ALL
      |  SELECT 'custkey_not_null', n.n_rows,
      |    (SELECT COUNT(*) FROM orders
      |     WHERE o_custkey IS NULL) FROM n
      |  UNION ALL
      |  SELECT 'custkey_in_customer', n.n_rows,
      |    (SELECT COUNT(*) FROM orders o
      |     WHERE o.o_custkey IS NOT NULL
      |       AND NOT EXISTS (SELECT 1 FROM customer c
      |                       WHERE c.c_custkey = o.o_custkey)) FROM n)
      |SELECT check_name, n_rows, n_fail FROM rc ORDER BY check_name""".stripMargin

  // ---------------------------------------------------------------------
  // Ranking evaluation — recall@k of a candidate ranking against a golden
  // one (the ANN/retrieval eval loop as a first-class distributed op:
  // grade ivfTopK against annTopK, or a new ranker against production).

  /** Per-query recall: |golden ∩ candidate| / |golden| in exact ppm.
    * Inputs are (queryCol, itemCol) relations already cut to their top-k
    * (extra columns ignored); queries with no candidate rows score 0.
    * Output: (query, n_gold, n_hit, recall_ppm).
    *
    * Plan: one distinct per side (combiner-friendly), one left-semi
    * equi-join on (query, item), two tiny aggregates + one left join on
    * the query key. No windows; scales to any query count. */
  def recallAtK(golden: DataFrame, candidate: DataFrame,
      queryCol: String, itemCol: String): DataFrame = {
    val g = golden.select(col(queryCol).as("query"), col(itemCol).as("item"))
      .distinct()
    val c = candidate.select(col(queryCol).as("query"), col(itemCol).as("item"))
      .distinct()
    val nGold = g.groupBy(col("query")).agg(count(lit(1)).as("n_gold"))
    val nHit = g.join(c, Seq("query", "item"), "left_semi")
      .groupBy(col("query")).agg(count(lit(1)).as("n_hit"))
    nGold.join(nHit, Seq("query"), "left_outer")
      .select(col("query"), col("n_gold"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0L) * 1000000L div n_gold").as("recall_ppm"))
  }

  // q139 — eval harness on two deterministic rankers: golden = top-5
  // parts per return flag by revenue, candidate = top-5 by quantity;
  // recall@5 measures how well quantity predicts revenue rank.
  private def q139(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ranking keys are DECIMAL-exact sums (order-independent — a raw
    // double sum could rank differently per partitioning or engine);
    // top-5 via the bounded TopKByScore aggregate (score desc, id asc —
    // the oracle's ROW_NUMBER order), never a flag-keyed window.
    // ONE materialized per-(flag, part) rollup carries BOTH ranking
    // metrics: ranking golden and candidate from separate groupBys
    // aggregated lineitem once per consumer (3 scans + 3 shuffles of the
    // fact table with recall's reuse — and a lazily shared aggregate
    // does NOT fix it: column pruning splits it straight back into
    // per-metric aggregates, no AQE stage reuse, measured). The
    // localCheckpoint snap (the q115 materialize pattern) runs the
    // fact-side pass exactly once; every consumer reads the
    // #parts-sized snapshot (plans/r17/q139_recall_at_k_after.txt:
    // lineitem parquet scans 3 → 0, consumers scan the ExistingRDD).
    // eager = false (ADVICE r17): the snap still runs the fact pass once
    // and shares it across both rankers — identical LogicalRDD plan shape
    // — but it materializes at the query's FIRST ACTION instead of at
    // DataFrame construction, so merely building the frame (Explain,
    // Bench's plan-touch warmup) submits no job.
    val per = Tables.lineitem(s, d)
      .groupBy($"l_returnflag", $"l_partkey")
      .agg(dsum($"l_extendedprice").cast(DoubleType).as("__mg"),
        sum($"l_quantity".cast(LongType)).cast(DoubleType).as("__mc"))
      .localCheckpoint(eager = false)
    def top5(m: Column) =
      Similarity.topKPerKey(
        per.select($"l_returnflag", $"l_partkey", m.as("__m")),
        Seq("l_returnflag"), "l_partkey", "__m", 5)
        .select($"l_returnflag", $"l_partkey")
    val golden = top5($"__mg")
    val cand = top5($"__mc")
    recallAtK(golden, cand, "l_returnflag", "l_partkey")
      .withColumnRenamed("query", "l_returnflag")
      .orderBy($"l_returnflag")
  }
  private val q139Sql =
    s"""WITH g AS (SELECT l_returnflag, l_partkey FROM (
      |    SELECT l_returnflag, l_partkey,
      |      ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |        ORDER BY ${dsumSql("l_extendedprice")} DESC,
      |                 l_partkey ASC) AS r
      |    FROM lineitem GROUP BY 1, 2) WHERE r <= 5),
      |c AS (SELECT l_returnflag, l_partkey FROM (
      |    SELECT l_returnflag, l_partkey,
      |      ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |        ORDER BY SUM(CAST(l_quantity AS BIGINT)) DESC,
      |                 l_partkey ASC) AS r
      |    FROM lineitem GROUP BY 1, 2) WHERE r <= 5),
      |ng AS (SELECT l_returnflag, COUNT(*) AS n_gold FROM g GROUP BY 1),
      |nh AS (SELECT g.l_returnflag, COUNT(*) AS n_hit
      |  FROM g JOIN c ON g.l_returnflag = c.l_returnflag
      |    AND g.l_partkey = c.l_partkey GROUP BY 1)
      |SELECT ng.l_returnflag, ng.n_gold, coalesce(nh.n_hit, 0) AS n_hit,
      |  CAST(coalesce(nh.n_hit, 0) * 1000000 // ng.n_gold AS BIGINT) AS recall_ppm
      |FROM ng LEFT JOIN nh ON ng.l_returnflag = nh.l_returnflag
      |ORDER BY ng.l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // SCD1 merge-upsert — latest-wins table maintenance, the batch MERGE
  // a corpus/profile table needs when a refresh lands (the SCD2 sibling,
  // change HISTORY, is Events.changeHistory).

  /** Merge `updates` into `base` latest-wins: per key, the row with the
    * highest (`versionCol`, side) — side breaks version ties toward the
    * update, so re-delivering a batch with equal versions converges on
    * the update (idempotent upsert). Both frames must share `base`'s
    * schema; (key, version) pairs are assumed unique within each side
    * (the standard CDC contract — violating rows tie-break on the side
    * bit only). New keys in `updates` insert; absent keys keep their
    * base row. Output: `base`'s columns, key columns first.
    *
    * Plan: ONE union + one combiner-friendly max_by aggregate on the key
    * — no join, no window, so a hot key reduces map-side. At 100 TB: if
    * `base` is bucketed by key and updates are small, prefer writing
    * only touched partitions (dynamic partition overwrite, the
    * Realtime.rt2His layout); this operator is the dataflow inside. */
  def mergeUpsert(base: DataFrame, updates: DataFrame,
      keyCols: Seq[String], versionCol: String): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val cols = base.columns.toSeq
    require(cols.toSet == updates.columns.toSet,
      "base and updates must share one schema")
    require(!keyCols.contains(versionCol), "version must not be a key")
    val tagged = base.select(cols.map(col): _*).withColumn("__side", lit(0))
      .unionByName(updates.select(cols.map(col): _*).withColumn("__side", lit(1)))
    val payloadCols = cols.filterNot(keyCols.contains)
    val payload = struct(payloadCols.map(col): _*)
    tagged.groupBy(keyCols.map(col): _*)
      .agg(max_by(payload, struct(col(versionCol), col("__side"))).as("__p"))
      .select(keyCols.map(col) ++
        payloadCols.map(c => col(s"__p.$c").as(c)): _*)
  }

  // q136 — SCD1 profile refresh: the user-profile table (latest event per
  // user, versioned by arrival id) merged with an update batch that
  // reuses each target user's CURRENT max version — the equal-version
  // redelivery case, which must resolve toward the update.
  private def q136(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.events(s, d)
      .select($"user_id", $"event_id", $"event_type", $"value")
    val updates = base.filter($"user_id" % 7 === 0)
      .groupBy($"user_id").agg(max($"event_id").as("event_id"))
      .select($"user_id", $"event_id", lit("profile_fix").as("event_type"),
        lit(0.0).as("value"))
    mergeUpsert(base, updates, Seq("user_id"), "event_id")
      .orderBy($"user_id")
  }
  private val q136Sql =
    """WITH base AS (SELECT user_id, event_id, event_type, value, 0 AS side
      |  FROM events),
      |upd AS (SELECT user_id, max(event_id) AS event_id,
      |    'profile_fix' AS event_type, 0.0 AS value, 1 AS side
      |  FROM events WHERE user_id % 7 = 0 GROUP BY user_id),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
      |SELECT user_id,
      |  arg_max(event_id, event_id * 2 + side) AS event_id,
      |  arg_max(event_type, event_id * 2 + side) AS event_type,
      |  arg_max(value, event_id * 2 + side) AS value
      |FROM u GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Leave-one-out target encoding — the ML-prep categorical encoder that
    * avoids self-leakage: each row's category is encoded as the mean target
    * of the OTHER rows in its category, (Σ_cat − y_i) / (n_cat − 1).
    *
    * Scale: ONE combiner-friendly aggregate over the fact (sums shrink to
    * #categories rows), broadcast back, map-only encode — no window, no
    * self-join. Exactness: the numerator stays DECIMAL until the single
    * final IEEE division, so encoding replicates bit-for-bit against any
    * engine; singleton categories encode NULL (no leave-one-out sample). */
  def targetEncodeLoo(df: DataFrame, catCol: String, targetCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val D = DecimalType(30, 6)
    val stats = df.groupBy(col(catCol).as("__cat"))
      .agg(sum(col(targetCol).cast(D)).as("__sum"), count(lit(1)).as("__n"))
    df.join(broadcast(stats), col(catCol) === $"__cat")
      .withColumn("loo_encoded",
        when($"__n" > 1,
          ($"__sum" - col(targetCol).cast(D)).cast(DoubleType) / ($"__n" - 1))
          .otherwise(lit(null).cast(DoubleType)))
      .drop("__cat", "__sum", "__n")
  }

  // q156 — LOO-encode order priority against total price.
  private def q156(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    targetEncodeLoo(Tables.orders(s, d), "o_orderpriority", "o_totalprice")
      .select($"o_orderkey", $"loo_encoded")
      .orderBy($"o_orderkey")
  }
  private val q156Sql =
    """WITH stats AS (
      |  SELECT o_orderpriority AS cat,
      |    SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS cat_sum,
      |    COUNT(*) AS cat_n
      |  FROM orders GROUP BY 1)
      |SELECT o_orderkey,
      |  CASE WHEN cat_n > 1
      |    THEN CAST(cat_sum - CAST(o_totalprice AS DECIMAL(30,6)) AS DOUBLE) / (cat_n - 1)
      |    ELSE NULL END AS loo_encoded
      |FROM orders JOIN stats ON o_orderpriority = cat
      |ORDER BY o_orderkey""".stripMargin

  /** MRR (mean-reciprocal-rank) components per query: the rank of the
    * FIRST golden item in each query's ranked candidate list, and its
    * reciprocal in exact integer ppm (10⁶ DIV rank; 0 when the list has no
    * golden item). The recall@k complement for position-sensitive grading.
    *
    * Scale: one left-semi join (golden is the small side per query) + one
    * min aggregate — no window; `ranked` should come from the bounded
    * TopKByScore aggregate, so everything here is #queries × k rows. */
  def mrrEval(golden: DataFrame, ranked: DataFrame, queryCol: String,
      idCol: String, rankCol: String): DataFrame = {
    val hits = ranked.join(golden, Seq(queryCol, idCol), "left_semi")
      .groupBy(col(queryCol)).agg(min(col(rankCol)).cast(LongType).as("first_hit_rank"))
    golden.select(col(queryCol)).distinct()
      .join(hits, Seq(queryCol), "left_outer")
      .select(col(queryCol), col("first_hit_rank"),
        coalesce(expr("1000000 DIV first_hit_rank"), lit(0L)).cast(LongType)
          .as("rr_ppm"))
  }

  // q162 — grade the quantity ranker against the revenue golden set with
  // MRR: same deterministic rankers as q139, position-sensitive metric.
  private def q162(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // shared materialized rollup with both metrics (the q139 one-pass
    // pattern: a lazy shared aggregate gets split back by column
    // pruning, so the snap is what makes the fact pass run once)
    val per = Tables.lineitem(s, d)
      .groupBy($"l_returnflag", $"l_partkey")
      .agg(dsum($"l_extendedprice").cast(DoubleType).as("__mg"),
        sum($"l_quantity".cast(LongType)).cast(DoubleType).as("__mc"))
      .localCheckpoint(eager = false) // lazy snap — see q139
    def topk(m: Column, k: Int) =
      Similarity.topKPerKey(
        per.select($"l_returnflag", $"l_partkey", m.as("__m")),
        Seq("l_returnflag"), "l_partkey", "__m", k)
    val golden = topk($"__mg", 5).select($"l_returnflag", $"l_partkey")
    val ranked = topk($"__mc", 10)
      .select($"l_returnflag", $"l_partkey", $"rank")
    mrrEval(golden, ranked, "l_returnflag", "l_partkey", "rank")
      .orderBy($"l_returnflag")
  }
  private val q162Sql =
    s"""WITH g AS (SELECT l_returnflag, l_partkey FROM (
       |    SELECT l_returnflag, l_partkey,
       |      ROW_NUMBER() OVER (PARTITION BY l_returnflag
       |        ORDER BY ${dsumSql("l_extendedprice")} DESC,
       |                 l_partkey ASC) AS r
       |    FROM lineitem GROUP BY 1, 2) WHERE r <= 5),
       |c AS (SELECT l_returnflag, l_partkey, r FROM (
       |    SELECT l_returnflag, l_partkey,
       |      ROW_NUMBER() OVER (PARTITION BY l_returnflag
       |        ORDER BY SUM(CAST(l_quantity AS BIGINT)) DESC,
       |                 l_partkey ASC) AS r
       |    FROM lineitem GROUP BY 1, 2) WHERE r <= 10),
       |h AS (SELECT c.l_returnflag, MIN(c.r) AS first_hit_rank
       |  FROM c JOIN g ON c.l_returnflag = g.l_returnflag
       |    AND c.l_partkey = g.l_partkey GROUP BY 1)
       |SELECT q.l_returnflag, CAST(first_hit_rank AS BIGINT) AS first_hit_rank,
       |  CAST(coalesce(1000000 // first_hit_rank, 0) AS BIGINT) AS rr_ppm
       |FROM (SELECT DISTINCT l_returnflag FROM g) q
       |LEFT JOIN h ON q.l_returnflag = h.l_returnflag
       |ORDER BY q.l_returnflag""".stripMargin

  /** Chi-square independence test between two categorical columns, in
    * EXACT integer arithmetic: per cell, with O = observed, R/C = row/col
    * totals, N = grand total, the contribution (O·N − R·C)²/(R·C·N) is
    * computed in scaled ppm via the overflow-decomposed integer division
    * (q·10⁶ + (rem·10⁶) div d — the pageRank damping trick), so χ² sums
    * exactly in any engine at any partitioning. Output: one row,
    * (chi2_ppm, df). All cell arithmetic runs in DECIMAL(38,0): the
    * deviation d = O·N − R·C reaches ~N²/4, so LONG d² crashed (ANSI
    * overflow) at just ~10⁵-row tables; decimals hold exactly while
    * N ≤ ~3·10⁹ per contingency analysis (d² ≤ 10³⁸) — beyond that a
    * χ² test is statistically vacuous anyway (every deviation is
    * "significant"); coarsen or sample first.
    *
    * Scale: ONE combiner count aggregate over the fact (→ #cells rows);
    * row/col/grand totals are re-aggregates of the tiny cell frame. */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame =
    chiSquareFromCells(df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("o")), "__a", "__b", "o")

  /** [[chiSquare]] over a pre-counted contingency table (aCol, bCol,
    * countCol) — the shape a rolled-up metrics store already holds, and
    * the scale-proof surface: planted 10¹²-count cells stay exact
    * (ChiSquareScaleSpec) because every product runs in DECIMAL(38,0). */
  def chiSquareFromCells(cellsIn: DataFrame, aCol: String, bCol: String,
      countCol: String): DataFrame = {
    val cells = cellsIn.select(col(aCol).as("__a"), col(bCol).as("__b"),
      col(countCol).cast(LongType).as("o"))
    val rows = cells.groupBy(col("__a")).agg(sum(col("o")).as("r"))
    val cols_ = cells.groupBy(col("__b")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("n"),
      count_distinct(col("__a")).as("na"), count_distinct(col("__b")).as("nb"))
    val pd = DecimalType(38, 0)
    cells.join(broadcast(rows), "__a").join(broadcast(cols_), "__b")
      .join(broadcast(tot))
      .withColumn("__d",
        col("o").cast(pd) * col("n") - col("r").cast(pd) * col("c"))
      .withColumn("__num", (col("__d") * col("__d")).cast(pd))
      .withColumn("__den",
        (col("r").cast(pd) * col("c") * col("n")).cast(pd))
      .withColumn("__contrib",
        expr("(__num DIV __den) * 1000000 + ((__num % __den) * 1000000) DIV __den"))
      .agg(sum(col("__contrib")).cast(LongType).as("chi2_ppm"),
        ((max(col("na")) - 1) * (max(col("nb")) - 1)).cast(LongType).as("df"))
  }

  // q163 — is order priority independent of customer market segment?
  private def q163(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    chiSquare(o.join(c, o("o_custkey") === c("c_custkey")),
      "c_mktsegment", "o_orderpriority")
  }
  private val q163Sql =
    """WITH f AS (SELECT c_mktsegment AS a, o_orderpriority AS b
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cells AS (SELECT a, b, COUNT(*) AS o FROM f GROUP BY 1, 2),
      |rt AS (SELECT a, SUM(o) AS r FROM cells GROUP BY 1),
      |ct AS (SELECT b, SUM(o) AS c FROM cells GROUP BY 1),
      |tt AS (SELECT SUM(o) AS n, COUNT(DISTINCT a) AS na,
      |       COUNT(DISTINCT b) AS nb FROM cells),
      |terms AS (SELECT
      |    (o * n - r * c) * (o * n - r * c) AS num, r * c * n AS den
      |  FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tt)
      |SELECT CAST(SUM((num // den) * 1000000 + ((num % den) * 1000000) // den)
      |    AS BIGINT) AS chi2_ppm,
      |  CAST((MAX(na) - 1) * (MAX(nb) - 1) AS BIGINT) AS df
      |FROM terms CROSS JOIN tt""".stripMargin

  /** Two-sample Kolmogorov-Smirnov distance between the distributions of
    * `valueCol` under two groups, EXACT in integer ppm: the CDF difference
    * at x is |cum_a(x)·n_b − cum_b(x)·n_a| over the common denominator
    * n_a·n_b — all integer products, no float CDFs — and the max rescales
    * once via the overflow-decomposed ppm division. The distribution-drift
    * gate a corpus refresh runs per feature.
    *
    * Scale: the raw relation collapses ONCE to (value, side-counts) —
    * #distinct-values rows, bounded by the value domain, not the data. The
    * cumulative window after it runs on that bounded frame (same class as
    * the sketch cum-windows). Long bounds: n_a·n_b ≤ ~9·10¹²; beyond that
    * swap the products to DECIMAL(38,0). */
  def ksTest(df: DataFrame, groupCol: String, valueCol: String,
      groupA: String, groupB: String): DataFrame = {
    val per = df.filter(col(groupCol).isin(groupA, groupB))
      .groupBy(col(valueCol).as("__v"))
      .agg(sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("__cb"))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = per.agg(sum(col("__ca")).as("na"), sum(col("__cb")).as("nb"))
    // DECIMAL throughout: cum·n products reach na·nb (wraps LONG at
    // ~3e9 a side) and the ppm remainder product wrapped at just ~3e6 a
    // side (m % d ≤ d = na·nb; ×10⁶ crosses 2⁶³ at na·nb > 9.2e12)
    val pd = DecimalType(38, 0)
    per.withColumn("__cuma", sum(col("__ca")).over(w))
      .withColumn("__cumb", sum(col("__cb")).over(w))
      .join(broadcast(tot))
      .withColumn("__diff", abs(col("__cuma").cast(pd) * col("nb")
        - col("__cumb").cast(pd) * col("na")))
      .agg(max(col("__diff")).as("m"),
        max(col("na").cast(pd) * col("nb")).as("d"))
      .select(expr("CAST(CAST(m AS DECIMAL(38,0)) * 1000000 DIV d AS BIGINT)")
        .as("ks_ppm"))
  }

  // q164 — document-length distribution drift between two sources.
  private def q164(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    ksTest(Tables.documents(s, d), "source", "n_chars", "src0", "src1")
  }
  private val q164Sql =
    """WITH f AS (SELECT source, n_chars FROM documents
      |  WHERE source IN ('src0','src1')),
      |per AS (SELECT n_chars AS v,
      |    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ca,
      |    SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS cb
      |  FROM f GROUP BY 1),
      |tot AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per),
      |cum AS (SELECT v,
      |    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      |  FROM per),
      |mx AS (SELECT MAX(abs(cuma * nb - cumb * na)) AS m, MAX(na * nb) AS d
      |  FROM cum CROSS JOIN tot)
      |SELECT CAST((m // d) * 1000000 + ((m % d) * 1000000) // d AS BIGINT) AS ks_ppm
      |FROM mx""".stripMargin

  /** Per-group Gini impurity of a label column: 1 − Σ p² — the
    * label-purity score (0 = one label, →1 = uniform). Numerator and
    * denominator (N² − Σc², N²) are exact DECIMAL(38,0) integers from one
    * count aggregate; the score is ONE final IEEE division, identical in
    * any engine at any partitioning.
    *
    * Scale: two combiner aggregates ((group,label) counts → per-group
    * rollup); nothing else touches the data. */
  def giniImpurity(df: DataFrame, groupCol: String, labelCol: String): DataFrame = {
    val Dz = DecimalType(38, 0)
    val cells = df.groupBy(col(groupCol), col(labelCol)).agg(count(lit(1)).as("__c"))
    cells.groupBy(col(groupCol))
      .agg(sum(col("__c")).cast(Dz).as("__n"),
        sum((col("__c") * col("__c")).cast(Dz)).as("__ss"))
      .select(col(groupCol),
        ((col("__n") * col("__n") - col("__ss")).cast(DoubleType) /
          (col("__n") * col("__n")).cast(DoubleType)).as("gini"))
  }

  // q165 — language purity per source.
  private def q165(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    giniImpurity(Tables.documents(s, d), "source", "lang")
      .orderBy($"source")
  }
  private val q165Sql =
    """WITH cells AS (SELECT source, lang, COUNT(*) AS c
      |  FROM documents GROUP BY 1, 2),
      |g AS (SELECT source, CAST(SUM(c) AS DECIMAL(38,0)) AS n,
      |    SUM(CAST(c * c AS DECIMAL(38,0))) AS ss
      |  FROM cells GROUP BY 1)
      |SELECT source,
      |  CAST(n * n - ss AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini
      |FROM g ORDER BY source""".stripMargin

  /** Exact weighted median per group: the smallest value whose cumulative
    * weight covers half the group's total (2·cumw ≥ W — exact integers,
    * no interpolation, no rounding). The robust center for "median order
    * size weighted by revenue"-class questions.
    *
    * Scale: the fact collapses ONCE to (group, value) weight sums — a
    * combiner aggregate bounded by the VALUE DOMAIN, not the data; the
    * cum-window then runs on that bounded frame (the q164/KS class).
    * Weighted by-row percentiles over unbounded domains should use the
    * q73 histogram sketch instead. */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol), col(valueCol).as("__v"))
      .agg(sum(col(weightCol).cast(LongType)).as("__w"))
    val wOrd = Window.partitionBy(col(groupCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(groupCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per.withColumn("__cum", sum(col("__w")).over(wOrd))
      .withColumn("__tot", sum(col("__w")).over(wAll))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(col(groupCol))
      .agg(min(col("__v")).as("weighted_median"))
  }

  // q172 — revenue-weighted median line quantity per return flag (weights
  // in exact integer cents).
  private def q172(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val D = DecimalType(30, 6)
    val li = Tables.lineitem(s, d)
      .withColumn("rev_cents",
        (($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(D) * 100)
          .cast(LongType))
      .withColumn("qty", $"l_quantity".cast(LongType))
    weightedMedian(li, "l_returnflag", "qty", "rev_cents")
      .orderBy($"l_returnflag")
  }
  private val q172Sql =
    """WITH li AS (SELECT l_returnflag,
      |    CAST(l_quantity AS BIGINT) AS v,
      |    CAST(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6)) * 100 AS BIGINT) AS w
      |  FROM lineitem),
      |per AS (SELECT l_returnflag, v, SUM(w) AS w FROM li GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, v,
      |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      |  FROM per)
      |SELECT l_returnflag, CAST(MIN(v) AS BIGINT) AS weighted_median
      |FROM c WHERE cum * 2 >= tot
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** m-estimate (shrunken-mean) target encoding: each category encodes as
    * the global-prior-regularized mean (S_c + m·prior)/(n_c + m) — the
    * small-sample-stable complement of [[targetEncodeLoo]]. Computed as
    * ONE final IEEE division of exact decimals:
    * (S_c·N + m·S) / (N·(n_c + m)) with S/N the global sum/count.
    *
    * Scale: one combiner aggregate to #categories rows; the 1-row global
    * frame broadcasts. */
  def targetEncodeMEstimate(df: DataFrame, catCol: String, targetCol: String,
      m: Long = 20L): DataFrame = {
    require(m >= 0, "m must be non-negative")
    val D = DecimalType(30, 6)
    val cats = df.groupBy(col(catCol))
      .agg(sum(col(targetCol).cast(D)).as("__sc"), count(lit(1)).as("__nc"))
    val glob = df.agg(sum(col(targetCol).cast(D)).as("__s"),
      count(lit(1)).as("__n"))
    cats.join(broadcast(glob))
      .select(col(catCol), col("__nc").as("n"),
        ((col("__sc") * col("__n") + lit(m) * col("__s")).cast(DoubleType) /
          (col("__n") * (col("__nc") + lit(m))).cast(DoubleType))
          .as("encoded"))
  }

  // q173 — shrunken-mean encode of market segment against account balance.
  private def q173(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    targetEncodeMEstimate(Tables.customer(s, d), "c_mktsegment", "c_acctbal")
      .orderBy($"c_mktsegment")
  }
  private val q173Sql =
    """WITH cats AS (SELECT c_mktsegment,
      |    SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS sc, COUNT(*) AS nc
      |  FROM customer GROUP BY 1),
      |tot AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS s, COUNT(*) AS gn
      |  FROM customer)
      |SELECT c_mktsegment, nc AS n,
      |  CAST(sc * gn + 20 * s AS DOUBLE) / CAST(gn * (nc + 20) AS DOUBLE) AS encoded
      |FROM cats CROSS JOIN tot
      |ORDER BY c_mktsegment""".stripMargin

  /** Pareto / ABC take WITHOUT a global window: how many top entities (by
    * `valueCol`, exact integer units) cover `sharePpm` of the total. The
    * global (value desc, id asc) prefix sum is decomposed two-level like
    * q134's budget take, but ordered by VALUE: map-only equi-width bin
    * assignment (the q105 formula — one subtraction + one division,
    * identical IEEE in any engine), per-bin suffix offsets over ≤`bins`
    * rows, parallel within-bin windows. The answer is binning-independent
    * — bins only parallelize the prefix sum — so the oracle can state the
    * straight global-window definition.
    *
    * Output (1 row): n_entities, n_top, top_share_ppm. */
  def paretoTake(df: DataFrame, idCol: String, valueCol: String,
      sharePpm: Long, lo: Double, width: Double, bins: Int): DataFrame = {
    require(sharePpm >= 0 && sharePpm <= 1000000L, "share is ppm in [0, 1e6]")
    require(bins >= 1 && width > 0, "need positive bins/width")
    val v = col(valueCol).cast(LongType)
    val binned = df.select(col(idCol).as("__id"), v.as("__v"))
      .withColumn("__bin", expr(
        s"CAST(least(greatest(floor((CAST(__v AS DOUBLE) - CAST($lo AS DOUBLE)) " +
          s"/ CAST($width AS DOUBLE)), CAST(0 AS DOUBLE)), " +
          s"CAST(${bins - 1} AS DOUBLE)) AS INTEGER)"))
    val perBin = binned.groupBy(col("__bin")).agg(sum(col("__v")).as("__bs"))
    val wOff = Window.orderBy(col("__bin").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = perBin.withColumn("__off",
      coalesce(sum(col("__bs")).over(wOff), lit(0L)))
    val wIn = Window.partitionBy(col("__bin"))
      .orderBy(col("__v").desc, col("__id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = binned.agg(sum(col("__v")).as("__tot"),
      count(lit(1)).as("__n"))
    binned
      .withColumn("__local", sum(col("__v")).over(wIn))
      .join(broadcast(offsets.select(col("__bin"), col("__off"))), Seq("__bin"))
      .join(broadcast(tot))
      .withColumn("__cum", col("__off") + col("__local"))
      // DECIMAL(19,0) both sides of the take test: __cum and __tot are
      // VALUE sums (cents, tokens) — ×10⁶ wraps LONG past ~9.2e12 units,
      // which a corpus-scale revenue total passes routinely (the
      // crossGroupContainment overflow class)
      .withColumn("__take",
        expr("CAST(__cum - __v AS DECIMAL(19,0)) * 1000000") <
          expr(s"CAST($sharePpm AS DECIMAL(19,0)) * __tot"))
      .agg(max(col("__n")).as("n_entities"),
        sum(when(col("__take"), 1L).otherwise(0L)).as("n_top"),
        sum(when(col("__take"), col("__v")).otherwise(0L)).as("__topv"),
        max(col("__tot")).as("__t"))
      .select(col("n_entities"), col("n_top"),
        expr("CAST(CAST(__topv AS DECIMAL(19,0)) * 1000000 DIV __t AS BIGINT)")
          .as("top_share_ppm"))
  }

  // q185 — revenue concentration: how many customers cover 80% of order
  // revenue (exact cents; two-level value-ordered prefix sum, no global
  // window).
  private def q185(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val D = DecimalType(30, 6)
    val rev = Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg((sum($"o_totalprice".cast(D)) * 100).cast(LongType).as("cents"))
    paretoTake(rev, "o_custkey", "cents", sharePpm = 800000L,
      lo = 0.0, width = 2500000.0, bins = 256)
  }
  private val q185Sql =
    """WITH rev AS (SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) * 100 AS BIGINT) AS v
      |  FROM orders GROUP BY 1),
      |t AS (SELECT SUM(v) AS tot, COUNT(*) AS n FROM rev),
      |c AS (SELECT o_custkey, v,
      |    SUM(v) OVER (ORDER BY v DESC, o_custkey ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM rev),
      |inc AS (SELECT v FROM c CROSS JOIN t
      |  WHERE (cum - v) * 1000000 < 800000 * tot)
      |SELECT t.n AS n_entities,
      |  (SELECT COUNT(*) FROM inc) AS n_top,
      |  CAST((SELECT SUM(v) FROM inc) * 1000000 // t.tot AS BIGINT) AS top_share_ppm
      |FROM t""".stripMargin

  /** Tukey-fence (boxplot) outlier counts per group: values beyond
    * Q1 − 1.5·IQR / Q3 + 1.5·IQR. The robust-outlier triple completes
    * z-score (q82, σ-based) and MAD (q116, median-based) with the
    * quartile convention BI tools plot. Fences are exact-percentile
    * doubles built by the identical interpolation formula in both
    * engines, and every comparison uses those same doubles — no
    * per-engine rounding can flip a row.
    *
    * Scale: one exact-percentile aggregate per group (swap in the q73
    * sketch past exact-percentile scale) + broadcast join-back; one
    * conditional rollup. */
  def tukeyOutliers(df: DataFrame, valueCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val fences = df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile($valueCol, 0.25)").as("__q1"),
        expr(s"percentile($valueCol, 0.75)").as("__q3"))
      .withColumn("__lo", col("__q1") - (col("__q3") - col("__q1")) * 1.5)
      .withColumn("__hi", col("__q3") + (col("__q3") - col("__q1")) * 1.5)
    df.join(broadcast(fences), groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col(valueCol) < col("__lo") || col(valueCol) > col("__hi"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_ppm",
        expr("CAST(CAST(n_outliers AS DECIMAL(19,0)) * 1000000 DIV n AS BIGINT)"))
  }

  // q196 — boxplot outliers of order value per priority.
  private def q196(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    tukeyOutliers(Tables.orders(s, d), "o_totalprice", Seq("o_orderpriority"))
      .orderBy($"o_orderpriority")
  }
  private val q196Sql =
    """WITH f AS (SELECT o_orderpriority,
      |    quantile_cont(o_totalprice, 0.25) AS q1,
      |    quantile_cont(o_totalprice, 0.75) AS q3
      |  FROM orders GROUP BY 1),
      |f2 AS (SELECT o_orderpriority, q1 - (q3 - q1) * 1.5 AS lo,
      |    q3 + (q3 - q1) * 1.5 AS hi FROM f)
      |SELECT o.o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CASE WHEN o_totalprice < lo OR o_totalprice > hi
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  CAST(SUM(CASE WHEN o_totalprice < lo OR o_totalprice > hi
      |    THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS outlier_ppm
      |FROM orders o JOIN f2 ON o.o_orderpriority = f2.o_orderpriority
      |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin

  /** Primary-key uniqueness audit across a catalog: per table, row count,
    * distinct key count, and duplicate rows — the PK half of the
    * data-contract suite (q141 covers row predicates + FK orphans). Each
    * table costs one count + one COUNT(DISTINCT) pass (Spark's two-phase
    * expand, map-side partials); the union is #tables 1-row frames. */
  def pkAudit(tables: Seq[(String, DataFrame, Seq[String])]): DataFrame = {
    require(tables.nonEmpty, "need at least one table")
    tables.map { case (name, df, keyCols) =>
      df.agg(count(lit(1)).as("n_rows"),
          count_distinct(struct(keyCols.map(col): _*)).as("n_distinct_keys"))
        .withColumn("table_name", lit(name))
        .withColumn("dup_rows", col("n_rows") - col("n_distinct_keys"))
        .select(col("table_name"), col("n_rows"),
          col("n_distinct_keys"), col("dup_rows"))
    }.reduce(_ unionByName _)
  }

  // q213 — Benford first-digit audit (fraud/fabrication screen on a money
  // column): observed first-significant-digit shares vs Benford's law.
  // Amounts become exact integer cents (the q167 decimal route), the digit
  // comes from the integer's decimal rendering (identical across engines —
  // no float formatting), shares are integer ppm, and the expected ppm
  // values are hard literals on both sides so no libm log10 enters the
  // comparison. Two combiner aggregates + two 1-row/9-row broadcasts.
  private val benfordPpm = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
    4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L,
    9 -> 45757L)
  private def q213(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cents = Tables.orders(s, d)
      .select(($"o_totalprice".cast(DecimalType(30, 6)) * 100)
        .cast(LongType).as("c"))
      .filter($"c" > 0)
    val tot = cents.agg(count(lit(1)).as("total"))
    val exp = benfordPpm.toDF("digit", "benford_ppm")
    cents.select(substring($"c".cast(StringType), 1, 1)
        .cast(IntegerType).as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
      .join(broadcast(tot))
      .withColumn("share_ppm", expr("CAST(CAST(n AS DECIMAL(19,0)) * 1000000 DIV total AS BIGINT)"))
      .join(broadcast(exp), Seq("digit"))
      .withColumn("dev_ppm", $"share_ppm" - $"benford_ppm")
      .select($"digit", $"n", $"share_ppm", $"benford_ppm", $"dev_ppm")
      .orderBy($"digit")
  }
  private val q213Sql = {
    val vals = benfordPpm.map { case (dg, p) => s"($dg, $p)" }.mkString(", ")
    s"""WITH cents AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(30,6)) * 100 AS BIGINT) AS c
       |  FROM orders),
       |dg AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit,
       |         COUNT(*) AS n
       |       FROM cents WHERE c > 0 GROUP BY 1),
       |tot AS (SELECT SUM(n) AS total FROM dg),
       |ex AS (SELECT * FROM (VALUES $vals) AS t(digit, benford_ppm))
       |SELECT dg.digit, dg.n,
       |  CAST(dg.n * 1000000 // (SELECT total FROM tot) AS BIGINT) AS share_ppm,
       |  CAST(benford_ppm AS BIGINT) AS benford_ppm,
       |  CAST(dg.n * 1000000 // (SELECT total FROM tot) - benford_ppm AS BIGINT) AS dev_ppm
       |FROM dg JOIN ex USING (digit)
       |ORDER BY dg.digit""".stripMargin
  }

  // q217 — referential-integrity audit: orphan counts along every FK edge
  // of the star schema (the q197 PK audit's complement). Each edge is a
  // key-only probe join — the child side moves only its FK column, the
  // parent side only its key, so the audit costs one column scan per edge
  // at any scale; dims broadcast. One row per edge even when clean (the
  // summary is never vacuous). ONE child pass per edge: the old shape
  // (COUNT of the child PLUS a left-anti + COUNT, crossJoined) scanned
  // every child twice; a left-outer probe against the parent key — unique
  // by the q197 PK audit, so the join is row-preserving — folds both
  // counts into one aggregate over one scan
  // (plans/r17/q217_fk_orphan_audit_*.txt: 21 scans → 14, one child +
  // one parent scan per edge, crossJoins gone).
  private def q217(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def edge(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame =
      child.select(col(fk))
        .join(parent.select(col(pk)), col(fk) === col(pk), "left_outer")
        .agg(count(lit(1)).as("n_child"),
          count(when(col(pk).isNull, lit(1))).as("n_orphans"))
        .select(lit(name).as("fk_edge"), $"n_child", $"n_orphans")
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    Seq(
      edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey"),
      edge("lineitem.l_partkey->part", li, "l_partkey", Tables.part(s, d), "p_partkey"),
      edge("lineitem.l_suppkey->supplier", li, "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
      edge("orders.o_custkey->customer", o, "o_custkey", Tables.customer(s, d), "c_custkey"),
      edge("customer.c_nationkey->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey"),
      edge("supplier.s_nationkey->nation", Tables.supplier(s, d), "s_nationkey",
        Tables.nation(s, d), "n_nationkey"),
      edge("nation.n_regionkey->region", Tables.nation(s, d), "n_regionkey",
        Tables.region(s, d), "r_regionkey"))
      .reduce(_ unionByName _)
      .orderBy($"fk_edge")
  }
  private val q217Sql = {
    def e(name: String, child: String, fk: String, parent: String, pk: String) =
      s"""SELECT '$name' AS fk_edge, COUNT(*) AS n_child,
         |  CAST(SUM(CASE WHEN NOT EXISTS
         |    (SELECT 1 FROM $parent WHERE $pk = c.$fk) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_orphans
         |FROM $child c""".stripMargin
    Seq(
      e("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      e("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      e("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      e("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      e("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      e("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      e("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
  }

  // q225 — ABC-XYZ inventory grid: every part classified by revenue
  // weight (A ≥ 2× mean part revenue, B ≥ 0.5× mean, C below — the
  // mean-threshold variant that needs only a 1-row broadcast, no global
  // value-ordered window; see q185's paretoTake for the cumulative-share
  // variant) × demand variability over monthly quantities (X: cv² ≤ 0.1,
  // Y: cv² ≤ 0.25, Z above). Quantities are integral, so S1/S2 are exact
  // longs and every class boundary is an exact integer cross-multiply —
  // n·S2−S1² vs S1² — with no division or sqrt anywhere.
  private def q225(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val D = DecimalType(30, 6)
    val monthly = Tables.lineitem(s, d)
      .groupBy($"l_partkey", date_format($"l_shipdate", "yyyy-MM").as("m"))
      .agg(sum($"l_quantity".cast(LongType)).as("q"))
    val varia = monthly.groupBy($"l_partkey")
      .agg(count(lit(1)).as("n"), sum($"q").as("s1"), sum($"q" * $"q").as("s2"))
      .withColumn("num", $"n" * $"s2" - $"s1" * $"s1")
      .withColumn("xyz",
        when($"num" * 10 <= $"s1" * $"s1", "X")
          .when($"num" * 4 <= $"s1" * $"s1", "Y")
          .otherwise("Z"))
      .select($"l_partkey".as("pk"), $"xyz")
    val rev = Tables.lineitem(s, d)
      .groupBy($"l_partkey")
      .agg(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast(D)).as("rev"))
    val tot = rev.agg(sum($"rev").as("tot"), count(lit(1)).as("np"))
    val abc = rev.join(broadcast(tot))
      .withColumn("abc",
        when($"rev" * $"np" >= $"tot" * 2, "A")
          .when($"rev" * $"np" * 2 >= $"tot", "B")
          .otherwise("C"))
    abc.join(varia, $"l_partkey" === $"pk")
      .groupBy($"abc", $"xyz")
      .agg(count(lit(1)).as("n_parts"),
        sum($"rev").cast(DoubleType).as("revenue"))
      .orderBy($"abc", $"xyz")
  }
  private val q225Sql =
    """WITH monthly AS (
      |  SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS m,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
      |  FROM lineitem GROUP BY 1, 2),
      |varia AS (
      |  SELECT l_partkey,
      |    CASE WHEN (n * s2 - s1 * s1) * 10 <= s1 * s1 THEN 'X'
      |         WHEN (n * s2 - s1 * s1) * 4 <= s1 * s1 THEN 'Y'
      |         ELSE 'Z' END AS xyz
      |  FROM (SELECT l_partkey, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS s1,
      |          CAST(SUM(q * q) AS BIGINT) AS s2
      |        FROM monthly GROUP BY 1)),
      |rev AS MATERIALIZED (SELECT l_partkey,
      |    SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,6))) AS rev
      |  FROM lineitem GROUP BY 1),
      |tot AS MATERIALIZED (SELECT SUM(rev) AS tot, COUNT(*) AS np FROM rev),
      |abc AS (SELECT l_partkey, rev,
      |    CASE WHEN rev * (SELECT np FROM tot) >= (SELECT tot FROM tot) * 2 THEN 'A'
      |         WHEN rev * (SELECT np FROM tot) * 2 >= (SELECT tot FROM tot) THEN 'B'
      |         ELSE 'C' END AS abc
      |  FROM rev)
      |SELECT abc.abc, varia.xyz, COUNT(*) AS n_parts,
      |  CAST(SUM(abc.rev) AS DOUBLE) AS revenue
      |FROM abc JOIN varia ON abc.l_partkey = varia.l_partkey
      |GROUP BY 1, 2 ORDER BY abc, xyz""".stripMargin

  // q197 — PK audit over the whole catalog (lineitem's key is composite).
  private def q197(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    pkAudit(Seq(
      ("customer", Tables.customer(s, d), Seq("c_custkey")),
      ("orders", Tables.orders(s, d), Seq("o_orderkey")),
      ("lineitem", Tables.lineitem(s, d), Seq("l_orderkey", "l_linenumber")),
      ("part", Tables.part(s, d), Seq("p_partkey")),
      ("supplier", Tables.supplier(s, d), Seq("s_suppkey")),
      ("nation", Tables.nation(s, d), Seq("n_nationkey")),
      ("region", Tables.region(s, d), Seq("r_regionkey")),
      ("events", Tables.events(s, d), Seq("event_id")),
      ("documents", Tables.documents(s, d), Seq("doc_id")),
      ("embeddings", Tables.embeddings(s, d), Seq("vec_id"))))
      .orderBy($"table_name")
  }
  private val q197Sql =
    """SELECT * FROM (
      |  SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
      |    COUNT(DISTINCT c_custkey) AS n_distinct_keys,
      |    COUNT(*) - COUNT(DISTINCT c_custkey) AS dup_rows FROM customer
      |  UNION ALL SELECT 'orders', COUNT(*), COUNT(DISTINCT o_orderkey),
      |    COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
      |  UNION ALL SELECT 'lineitem', COUNT(*),
      |    COUNT(DISTINCT (l_orderkey, l_linenumber)),
      |    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
      |  UNION ALL SELECT 'part', COUNT(*), COUNT(DISTINCT p_partkey),
      |    COUNT(*) - COUNT(DISTINCT p_partkey) FROM part
      |  UNION ALL SELECT 'supplier', COUNT(*), COUNT(DISTINCT s_suppkey),
      |    COUNT(*) - COUNT(DISTINCT s_suppkey) FROM supplier
      |  UNION ALL SELECT 'nation', COUNT(*), COUNT(DISTINCT n_nationkey),
      |    COUNT(*) - COUNT(DISTINCT n_nationkey) FROM nation
      |  UNION ALL SELECT 'region', COUNT(*), COUNT(DISTINCT r_regionkey),
      |    COUNT(*) - COUNT(DISTINCT r_regionkey) FROM region
      |  UNION ALL SELECT 'events', COUNT(*), COUNT(DISTINCT event_id),
      |    COUNT(*) - COUNT(DISTINCT event_id) FROM events
      |  UNION ALL SELECT 'documents', COUNT(*), COUNT(DISTINCT doc_id),
      |    COUNT(*) - COUNT(DISTINCT doc_id) FROM documents
      |  UNION ALL SELECT 'embeddings', COUNT(*), COUNT(DISTINCT vec_id),
      |    COUNT(*) - COUNT(DISTINCT vec_id) FROM embeddings)
      |ORDER BY table_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q197_pk_audit" -> q197,
    "q213_benford_audit" -> q213,
    "q217_fk_orphan_audit" -> q217,
    "q225_abc_xyz_grid" -> q225,
    "q196_tukey_outliers" -> q196,
    "q195_percentile_rank_grouped" -> q195,
    "q185_pareto_take" -> q185,
    "q172_weighted_median" -> q172,
    "q173_mestimate_encode" -> q173,
    "q165_gini_impurity" -> q165,
    "q163_chi_square" -> q163,
    "q164_ks_test" -> q164,
    "q162_mrr" -> q162,
    "q156_target_encode_loo" -> q156,
    "q136_merge_upsert" -> q136,
    "q138_histogram" -> q138,
    "q141_audit_checks" -> q141,
    "q142_moments" -> q142,
    "q143_concentration" -> q143,
    "q144_group_mode" -> q144,
    "q139_recall_at_k" -> q139,
    "q97_topk_per_group" -> q97,
    "q102_association_rules" -> q102,
    "q105_quantile_bucket" -> q105,
    "q106_skyline" -> q106,
    "q108_skyline_grouped" -> q108,
    "q89_pivot" -> q89,
    "q90_unpivot" -> q90,
    "q42_grouping_sets" -> q42,
    "q46_percentiles" -> q46,
    "q73_quantile_sketch" -> q73,
    "q76_quantile_sketch_grouped" -> q76,
    "q77_quantile_sketch_auto" -> q77,
    "q82_outlier_zscore" -> q82,
    "q116_outlier_mad" -> q116,
    "q117_group_corr" -> q117,
    "q120_winsorize" -> q120,
    "q122_group_linfit" -> q122,
    "q127_percentile_rank" -> q127,
    "q128_profile" -> q128,
    "q13_join_facts" -> q13,
    "q14_join_broadcast_star" -> q14,
    "q15_semi_anti" -> q15,
    "q16_outer_join" -> q16,
    "q17_window_funcs" -> q17,
    "q18_rollup" -> q18,
    "q19_cube" -> q19,
    "q20_subqueries" -> q20,
    "q21_set_ops" -> q21,
    "q22_date_funcs" -> q22,
    "q23_string_funcs" -> q23,
    "q24_math_funcs" -> q24,
  )

  val oracles: Map[String, String] = Map(
    "q197_pk_audit" -> q197Sql,
    "q213_benford_audit" -> q213Sql,
    "q217_fk_orphan_audit" -> q217Sql,
    "q225_abc_xyz_grid" -> q225Sql,
    "q196_tukey_outliers" -> q196Sql,
    "q195_percentile_rank_grouped" -> q195Sql,
    "q185_pareto_take" -> q185Sql,
    "q172_weighted_median" -> q172Sql,
    "q173_mestimate_encode" -> q173Sql,
    "q165_gini_impurity" -> q165Sql,
    "q163_chi_square" -> q163Sql,
    "q164_ks_test" -> q164Sql,
    "q162_mrr" -> q162Sql,
    "q156_target_encode_loo" -> q156Sql,
    "q136_merge_upsert" -> q136Sql,
    "q138_histogram" -> q138Sql,
    "q141_audit_checks" -> q141Sql,
    "q142_moments" -> q142Sql,
    "q143_concentration" -> q143Sql,
    "q144_group_mode" -> q144Sql,
    "q139_recall_at_k" -> q139Sql,
    "q97_topk_per_group" -> q97Sql,
    "q102_association_rules" -> q102Sql,
    "q105_quantile_bucket" -> q105Sql,
    "q106_skyline" -> q106Sql,
    "q108_skyline_grouped" -> q108Sql,
    "q89_pivot" -> q89Sql,
    "q90_unpivot" -> q90Sql,
    "q42_grouping_sets" -> q42Sql,
    "q46_percentiles" -> q46Sql,
    "q73_quantile_sketch" -> q73Sql,
    "q76_quantile_sketch_grouped" -> q76Sql,
    "q77_quantile_sketch_auto" -> q77Sql,
    "q82_outlier_zscore" -> q82Sql,
    "q116_outlier_mad" -> q116Sql,
    "q117_group_corr" -> q117Sql,
    "q120_winsorize" -> q120Sql,
    "q122_group_linfit" -> q122Sql,
    "q127_percentile_rank" -> q127Sql,
    "q128_profile" -> q128Sql,
    "q13_join_facts" -> q13Sql,
    "q14_join_broadcast_star" -> q14Sql,
    "q15_semi_anti" -> q15Sql,
    "q16_outer_join" -> q16Sql,
    "q17_window_funcs" -> q17Sql,
    "q18_rollup" -> q18Sql,
    "q19_cube" -> q19Sql,
    "q20_subqueries" -> q20Sql,
    "q21_set_ops" -> q21Sql,
    "q22_date_funcs" -> q22Sql,
    "q23_string_funcs" -> q23Sql,
    "q24_math_funcs" -> q24Sql,
  )
}
