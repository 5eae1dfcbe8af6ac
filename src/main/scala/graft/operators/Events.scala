package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Memo, Tables}
import graft.functions.Ops._

/** Batch expressions of the reference's ingestion/streaming operators
  * (SURVEY.md §2.C) over the `events` table. The streaming forms (readStream →
  * foreachBatch) live in graft.streaming and are spec-tested; these batch
  * queries pin the *semantics* against the DuckDB oracle, since a Structured
  * Streaming micro-batch runs exactly this plan per batch.
  *
  * `events.ts` is TIMESTAMP(NANOS) parquet; our sessions read it as an
  * epoch-nano long (spark.sql.legacy.parquet.nanosAsLong), so all time math
  * below is exact integer arithmetic (DuckDB side: epoch_ns // divisor).
  *
  * Pre-epoch caveat: Spark's `DIV` truncates toward zero while DuckDB's
  * `//` floors, so the two keys diverge on NEGATIVE (pre-1970) nanos —
  * ts = −1 buckets to second 0 here but second −1 there. Every operator in
  * this file therefore assumes ts ≥ 0 (true of any event stream this
  * engine ingests; the reference's DATETIME parse has the same floor). If
  * a corpus with pre-epoch timestamps ever appears, swap the DIV sites for
  * floor-division on longs (`ts - pmod(ts, d)) / d` — NOT `floor(ts/d)`,
  * which routes through doubles and loses ns precision at 1e18).
  */
object Events {

  /** epoch-nano long → TIMESTAMP (micros) for windowing. Integral DIV, not
    * `/` (which is double division and loses ns precision at 1e18). */
  private val tsMicros = timestamp_micros(expr("ts DIV 1000"))
  private val tsSeconds = expr("ts DIV 1000000000")

  // q25 — JSON event decode (UTF8JsonRowCreator parity:
  // indexr-segment/.../rt/UTF8JsonRowCreator.java:14,124): parse the props
  // JSON payload, default missing numerics to zero (`number.empty.as.zero`),
  // tag filter (rt/TagSetting.java:7-15) and column alias
  // (RealtimeSetting.java:14 nameToAlias) included.
  private def q25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .filter($"event_type".isin("purchase", "signup", "error"))
      .select(
        $"event_id",
        $"user_id".as("uid"),
        $"event_type",
        coalesce(get_json_object($"props", "$.k").cast(IntegerType), lit(0)).as("k"),
        $"value")
      .orderBy($"event_id")
  }
  private val q25Sql =
    """SELECT event_id, user_id AS uid, event_type,
      | coalesce(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER), 0) AS k,
      | value
      |FROM events
      |WHERE event_type IN ('purchase','signup','error')
      |ORDER BY event_id""".stripMargin

  // q250 — ingest counter dashboard (Realtime.ingestStats): the
  // reference RowCreator's consume/produce/ignore/fail surface
  // (UTF8JsonRowCreator.java:24-57) over a deterministically mixed raw
  // feed — event_id % 97 lines are corrupted (failed), % 89 carry a
  // rejected tag, % 83 parse with all metrics null (IGNORE_EMPTY), the
  // rest produce. The oracle classifies by the same id arithmetic, so
  // the parse/tag/empty paths are checked end to end.
  private def q250(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val raw = Tables.events(s, d).select(
      when($"event_id" % 97 === 0, concat(lit("{bad"), $"props"))
        .when($"event_id" % 89 === 0,
          concat(lit("""{"tag":"drop","k":"""), $"event_id", lit("}")))
        .when($"event_id" % 83 === 0, lit("""{"tag":"keep"}"""))
        .otherwise(concat(lit("""{"tag":"keep","k":"""), $"event_id",
          lit("}"))).as("json"))
    val spec = graft.streaming.Realtime.IngestSpec(
      schema = StructType(Seq(StructField("tag", StringType),
        StructField("k", LongType))),
      tagField = Some("tag"), acceptTags = Set("keep"), ignoreEmpty = true)
    graft.streaming.Realtime.ingestStats(raw, "json", spec)
  }
  private val q250Sql =
    """WITH cls AS (SELECT CASE WHEN event_id % 97 = 0 THEN 'failed'
      |    WHEN event_id % 89 = 0 THEN 'ignored_tag'
      |    WHEN event_id % 83 = 0 THEN 'ignored_empty'
      |    ELSE 'produced' END AS c FROM events)
      |SELECT CAST(COUNT(*) AS BIGINT) AS consumed,
      |  CAST(SUM(CASE WHEN c = 'produced' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS produced,
      |  CAST(SUM(CASE WHEN c = 'ignored_tag' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS ignored_tag,
      |  CAST(SUM(CASE WHEN c = 'ignored_empty' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS ignored_empty,
      |  CAST(SUM(CASE WHEN c = 'failed' THEN 1 ELSE 0 END) AS BIGINT)
      |    AS failed
      |FROM cls""".stripMargin

  // q26 — event-time tumbling window aggregation (our superset of the
  // reference, which has no windowing — SURVEY.md §2.C "Watermarks"): the
  // batch shape of `groupBy(window($"ts","1 hour"), $"event_type")`.
  private def q26(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window(tsMicros, "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select($"w.start".cast(StringType).as("window_start"), $"event_type", $"n", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }
  private val q26Sql =
    s"""SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS window_start, event_type,
       | COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // q27 — sessionization: gap > 30 min starts a new session per user
  // (lag + conditional + running count — the composed-window pattern).
  private def q27(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .withColumn("sec", tsSeconds)
      .withColumn("prev_sec", lag($"sec", 1).over(byUser))
      .withColumn("new_sess",
        when($"prev_sec".isNull || ($"sec" - $"prev_sec") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum($"new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"user_id", $"event_id", $"session_id")
      .orderBy($"user_id", $"event_id")
  }
  private val q27Sql =
    """WITH t AS (
      |  SELECT user_id, event_id, ts, epoch_ns(ts) // 1000000000 AS sec,
      |    LAG(epoch_ns(ts) // 1000000000, 1)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN prev_sec IS NULL OR (sec - prev_sec) > 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM t)
      |SELECT user_id, event_id,
      |  CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |FROM f ORDER BY user_id, event_id""".stripMargin

  // q28 — ingest-time rollup agg set {SUM, FIRST, LAST, MIN, MAX}
  // (rt/AggType.java:9-13,43-86). The reference's FIRST/LAST depend on
  // arrival order (RealtimeSegment.java:298); we make them deterministic by
  // anchoring to event_id (a monotone arrival id) via min_by/max_by — the
  // documented resolution of SURVEY.md §7.4's first/last hard spot.
  private def q28(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id", $"event_type")
      .agg(
        dsum($"value").as("sum_value"),
        min($"value").as("min_value"),
        max($"value").as("max_value"),
        min_by($"value", $"event_id").as("first_value"),
        max_by($"value", $"event_id").as("last_value"),
        count(lit(1)).as("n"))
      .orderBy($"user_id", $"event_type")
  }
  private val q28Sql =
    s"""SELECT user_id, event_type,
       | ${dsumSql("value")} AS sum_value,
       | min(value) AS min_value,
       | max(value) AS max_value,
       | arg_min(value, event_id) AS first_value,
       | arg_max(value, event_id) AS last_value,
       | COUNT(*) AS n
       |FROM events GROUP BY user_id, event_type
       |ORDER BY user_id, event_type""".stripMargin

  // q51 — event-time SLIDING window aggregation (1 h size / 30 min slide):
  // the overlapping-window superset of q26. Spark's window() expands each
  // event into size/slide window rows before the aggregate — one shuffle on
  // (window, type), partial aggregation map-side, same as tumbling.
  private def q51(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window(tsMicros, "1 hour", "30 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
      .select($"w.start".cast(StringType).as("window_start"), $"event_type", $"n", $"sum_value")
      .orderBy($"window_start", $"event_type")
  }
  // oracle: every event falls in exactly two 1h/30min windows — the 30-min
  // bucket it lands in (k=0) and the previous one (k=1); replicate per k.
  private val q51Sql =
    s"""WITH t AS (SELECT epoch_ns(ts) // 1000000000 AS sec, event_type, value FROM events),
       |w AS (SELECT make_timestamp((sec - sec % 1800 - k * 1800) * 1000000) AS ws,
       |             event_type, value
       |      FROM t, unnest(range(0, 2)) u(k))
       |SELECT CAST(ws AS VARCHAR) AS window_start, event_type,
       | COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  // q48 — as-of join (point-in-time enrichment): attach to every purchase
  // the most recent prior signup value of the same user. Composed from
  // union + carry-forward window (tier (a) of the custom-op ladder — no
  // custom plan needed); one shuffle on user_id, sorted within partition.
  private def q48(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("last_signup_value",
        last(when($"event_type" === "signup", $"value"), ignoreNulls = true).over(w))
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"value", $"last_signup_value")
      .orderBy($"event_id")
  }
  private val q48Sql =
    """SELECT event_id, user_id, value, last_signup_value FROM (
      |  SELECT event_id, user_id, event_type, value,
      |    last_value(CASE WHEN event_type = 'signup' THEN value END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_value
      |  FROM events)
      |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin

  // q266 — the q48 as-of enrichment reachable from Spark SQL TEXT alone
  // (the q253–q265 pure-SQL client-surface pattern): union-free same-table
  // carry-forward — `last_value(...) IGNORE NULLS` over the user-keyed
  // time window, in ONE spark.sql statement over a registered events
  // view. Same one-shuffle plan as the Column API; gated by q48's exact
  // oracle, so the Scala API and the SQL recipe cannot drift apart. (The
  // two-table generalization is AsOf.joinBackward — same recipe with a
  // tagged UNION ALL in front.)
  private def q266(s: SparkSession, d: String): DataFrame = {
    Tables.registerViewOnce(s, d, "graft_events")(Tables.events(s, d))
    s.sql(
      """SELECT event_id, user_id, value, last_signup_value FROM (
        |  SELECT event_id, user_id, event_type, value,
        |    last_value(CASE WHEN event_type = 'signup' THEN value END) IGNORE NULLS
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS last_signup_value
        |  FROM graft_events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin)
  }
  private val q266Sql = q48Sql

  /** Ordered funnel: for each user who performed `steps.head`, the earliest
    * strictly-increasing completion chain through `steps` — t(i) is the
    * first `steps(i)` event after t(i−1) — plus `stage` = number of steps
    * reached. Users who never performed the first step are not funnel
    * entrants and are absent. Output: (user_id, t0 … t(n−1), stage).
    *
    * Plan: one combiner-friendly min-aggregate per step (each filters the
    * event stream to ONE type before grouping, so map-side partials shrink
    * any hot user to #partitions rows) joined on user_id — never a per-user
    * event sort/window, so a bot user with millions of events costs its
    * partial rows, not a straggler task. The accumulator frame is at most
    * one row per entrant and shrinks monotonically down the funnel. */
  def funnel(df: DataFrame, userCol: String, tsCol: String, typeCol: String,
      steps: Seq[String], maxGap: Option[Long] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(maxGap.forall(_ > 0), "maxGap must be positive when given")
    var acc = df.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol).as("user_id"))
      .agg(min(col(tsCol)).as("t0"))
    for (i <- 1 until steps.length) {
      val prev = s"t${i - 1}"
      // `maxGap` bounds each step-to-step wait (conversion windows —
      // "clicked within a day of the first view"): steps anchor greedily
      // to the EARLIEST qualifying prior-stage time (first-touch
      // attribution; the oracle applies the identical greedy formula)
      val inWindow = maxGap match {
        case Some(g) => col("__ts") > col(prev) && col("__ts") <= col(prev) + g
        case None => col("__ts") > col(prev)
      }
      val next = df.filter(col(typeCol) === steps(i))
        .select(col(userCol).as("user_id"), col(tsCol).as("__ts"))
        .join(acc.select(col("user_id"), col(prev)), "user_id")
        .filter(inWindow)
        .groupBy(col("user_id"))
        .agg(min(col("__ts")).as(s"t$i"))
      acc = acc.join(next, Seq("user_id"), "left_outer")
    }
    val stage = steps.indices
      .map(i => when(col(s"t$i").isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    acc.withColumn("stage", stage)
  }

  // q70 — conversion funnel view→click→purchase over the event stream: the
  // classic OLAP event-analytics ask the reference serves via external
  // engines (SURVEY.md §2.A joins + aggregation); here three chained
  // min-aggregates, exact epoch-nano integers.
  // DuckDB truncates TIMESTAMP_NS parquet to micros on read, so the oracle
  // comparison runs at micro precision on both sides (ts DIV 1000).
  private def q70(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    funnel(Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000")),
        "user_id", "ts_us", "event_type", Seq("view", "click", "purchase"))
      .select($"user_id", $"t0".as("t_view"), $"t1".as("t_click"),
        $"t2".as("t_purchase"), $"stage")
      .orderBy($"user_id")
  }
  private val q70Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tns FROM events),
      |s0 AS (SELECT user_id, min(tns) AS t_view FROM e
      |       WHERE event_type = 'view' GROUP BY 1),
      |s1 AS (SELECT e.user_id, min(tns) AS t_click FROM e JOIN s0 USING (user_id)
      |       WHERE event_type = 'click' AND tns > t_view GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(tns) AS t_purchase FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'purchase' AND tns > t_click GROUP BY 1)
      |SELECT s0.user_id, t_view, t_click, t_purchase,
      |  CAST(1 + (CASE WHEN t_click IS NULL THEN 0 ELSE 1 END)
      |         + (CASE WHEN t_purchase IS NULL THEN 0 ELSE 1 END) AS INTEGER) AS stage
      |FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** CEP-style negative-condition pattern: per user, the first `a` event,
    * the first `b` event after it (within `maxGap` when given), and
    * whether the match is VETOED by a `veto` event strictly between them
    * — "viewed then purchased with no error in between", the
    * absence-condition shape classic CEP engines (MATCH_RECOGNIZE,
    * Flink CEP) express and a funnel cannot: [[funnel]] chains only
    * positive steps. First-touch anchoring like [[funnel]]: `t_a` is the
    * global first `a`, `t_b` the first qualifying `b` after it. Output:
    * (user_id, t_a, t_b, t_veto, matched) for every user with an `a`
    * event; `t_veto` is the first veto event after `t_a` (informational
    * — it only vetoes when it lands before `t_b`); matched = 1 iff `t_b`
    * exists and no veto event falls in (t_a, t_b).
    *
    * Plan: three combiner-friendly min-aggregates (each filtered to one
    * event type BEFORE grouping) + two user_id equi-joins — the funnel
    * skeleton, windowless, so a hot user costs map-side partial rows,
    * never a straggler sort. At 100 TB identical scaling to [[funnel]]. */
  def patternMatch(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, a: String, b: String, veto: String,
      maxGap: Option[Long] = None): DataFrame = {
    require(maxGap.forall(_ > 0), "maxGap must be positive when given")
    val ta = df.filter(col(typeCol) === a)
      .groupBy(col(userCol).as("user_id")).agg(min(col(tsCol)).as("t_a"))
    val ev = df.select(col(userCol).as("user_id"), col(tsCol).as("__ts"),
      col(typeCol).as("__tp"))
    val inWindow = maxGap match {
      case Some(g) => col("__ts") > col("t_a") && col("__ts") <= col("t_a") + g
      case None => col("__ts") > col("t_a")
    }
    val tb = ev.filter(col("__tp") === b)
      .join(ta, "user_id").filter(inWindow)
      .groupBy(col("user_id")).agg(min(col("__ts")).as("t_b"))
    val tv = ev.filter(col("__tp") === veto)
      .join(ta, "user_id").filter(col("__ts") > col("t_a"))
      .groupBy(col("user_id")).agg(min(col("__ts")).as("t_veto"))
    ta.join(tb, Seq("user_id"), "left_outer")
      .join(tv, Seq("user_id"), "left_outer")
      .withColumn("matched",
        when(col("t_b").isNotNull &&
          (col("t_veto").isNull || col("t_veto") >= col("t_b")), 1)
          .otherwise(0))
  }

  // q137 — "view then purchase within 12h, with no error in between":
  // the negative-condition conversion the funnel suite can't express.
  // Micro precision on both sides (the q70 parity rule).
  private def q137(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    patternMatch(Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000")),
        "user_id", "ts_us", "event_type", a = "view", b = "purchase",
        veto = "error", maxGap = Some(43200000000L))
      .orderBy($"user_id")
  }
  private val q137Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus FROM events),
      |ta AS (SELECT user_id, min(tus) AS t_a FROM e
      |       WHERE event_type = 'view' GROUP BY 1),
      |tb AS (SELECT e.user_id, min(tus) AS t_b FROM e JOIN ta USING (user_id)
      |       WHERE event_type = 'purchase' AND tus > t_a
      |         AND tus <= t_a + 43200000000 GROUP BY 1),
      |tv AS (SELECT e.user_id, min(tus) AS t_veto FROM e JOIN ta USING (user_id)
      |       WHERE event_type = 'error' AND tus > t_a GROUP BY 1)
      |SELECT ta.user_id, t_a, t_b, t_veto,
      |  CAST(CASE WHEN t_b IS NOT NULL AND (t_veto IS NULL OR t_veto >= t_b)
      |       THEN 1 ELSE 0 END AS INTEGER) AS matched
      |FROM ta LEFT JOIN tb USING (user_id) LEFT JOIN tv USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Burst debounce: keep only the FIRST event of each burst, where a
    * burst chains events of the same key at gaps ≤ `gapSec` (the
    * double-click / retry / sensor-chatter suppressor; the keep-first
    * complement of sessionization — q27 numbers the bursts, this picks
    * their heads). Deterministic: ties on the timestamp order by
    * `tieCol`. Output: the input rows that start a burst.
    *
    * Plan: one lag window keyed by the ENTITY key (user × type — the
    * high-cardinality key class the repo's window policy allows; never
    * a global or type-only window). A bot key's events still sort within
    * one task — cap per-key volume upstream if a single key can exceed a
    * partition (same note as q27). */
  def debounce(df: DataFrame, keyCols: Seq[String], tsSecCol: String,
      tieCol: String, gapSec: Long): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(gapSec >= 0, "gapSec must be non-negative")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsSecCol), col(tieCol))
    df.withColumn("__prev", lag(col(tsSecCol), 1).over(w))
      .filter(col("__prev").isNull || col(tsSecCol) - col("__prev") > gapSec)
      .drop("__prev")
  }

  // q145 — suppress same-user same-type chatter within 30 min bursts.
  private def q145(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    debounce(Tables.events(s, d).withColumn("sec", expr("ts DIV 1000000000")),
        Seq("user_id", "event_type"), "sec", "event_id", gapSec = 1800L)
      .select($"event_id", $"user_id", $"event_type", $"sec")
      .orderBy($"event_id")
  }
  private val q145Sql =
    """WITH t AS (SELECT event_id, user_id, event_type,
      |    epoch_ns(ts) // 1000000000 AS sec FROM events),
      |l AS (SELECT *, LAG(sec, 1) OVER (PARTITION BY user_id, event_type
      |        ORDER BY sec, event_id) AS prev FROM t)
      |SELECT event_id, user_id, event_type, sec FROM l
      |WHERE prev IS NULL OR sec - prev > 1800
      |ORDER BY event_id""".stripMargin

  /** Per-(user, day) lifecycle classification — the growth-accounting
    * label: `new` (first active day), `retained` (also active the
    * previous day), `resurrected` (returning after a gap). Days are
    * floor(sec / 86400) buckets of `tsSecCol`. Output: (user_id, day,
    * status), one row per active user-day.
    *
    * Plan: one distinct on (user, day) (combiner-friendly — event volume
    * collapses map-side), then one entity-keyed lag window over each
    * user's ACTIVE DAYS (≤ days-in-history rows per user, tiny). The
    * churn complement (inactive days) is the [[gapFill]] grid if
    * needed. */
  def userLifecycle(df: DataFrame, userCol: String,
      tsSecCol: String): DataFrame = {
    val ud = df.select(col(userCol).as("user_id"),
      expr(s"$tsSecCol DIV 86400").as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    ud.withColumn("__prev", lag(col("day"), 1).over(w))
      .withColumn("status",
        when(col("__prev").isNull, lit("new"))
          .when(col("day") === col("__prev") + 1, lit("retained"))
          .otherwise(lit("resurrected")))
      .drop("__prev")
  }

  // q146 — growth accounting over the event stream.
  private def q146(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    userLifecycle(Tables.events(s, d).withColumn("sec", expr("ts DIV 1000000000")),
        "user_id", "sec")
      .orderBy($"user_id", $"day")
  }
  private val q146Sql =
    """WITH ud AS (SELECT DISTINCT user_id,
      |    (epoch_ns(ts) // 1000000000) // 86400 AS day FROM events),
      |l AS (SELECT user_id, day,
      |    LAG(day, 1) OVER (PARTITION BY user_id ORDER BY day) AS prev
      |  FROM ud)
      |SELECT user_id, day,
      |  CASE WHEN prev IS NULL THEN 'new'
      |       WHEN day = prev + 1 THEN 'retained'
      |       ELSE 'resurrected' END AS status
      |FROM l ORDER BY user_id, day""".stripMargin

  /** Cohort retention: users are cohorted by the bucket of their first
    * event; n_users counts cohort members active again `day_offset` buckets
    * later. `tsCol` is an epoch-nano long; buckets are floor(sec /
    * `bucketSeconds`) — exact integers in any engine. Output: (cohort_day,
    * day_offset, n_users).
    *
    * Plan: activity = one distinct on (user, bucket) (combiner-friendly —
    * a hot user's events shrink map-side); cohort = min-aggregate per user;
    * equi-join on user_id (AQE-splittable); final aggregate is
    * cohort×offset-sized, tiny. No windows, no per-user sort. */
  def retention(df: DataFrame, userCol: String, tsCol: String,
      bucketSeconds: Long = 86400L): DataFrame = {
    val day = expr(s"$tsCol DIV 1000000000 DIV $bucketSeconds")
    val act = df.select(col(userCol).as("user_id"), day.as("day")).distinct()
    val cohorts = act.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    act.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  // q72 — daily cohort retention over the event stream (the other classic
  // event-analytics shape; exact epoch-day integers).
  private def q72(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    retention(Tables.events(s, d), "user_id", "ts")
      .orderBy($"cohort_day", $"day_offset")
  }
  private val q72Sql =
    """WITH act AS (SELECT DISTINCT user_id,
      |               epoch_ns(ts) // 1000000000 // 86400 AS day FROM events),
      |coh AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1)
      |SELECT cohort_day, day - cohort_day AS day_offset, COUNT(*) AS n_users
      |FROM act JOIN coh USING (user_id)
      |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin

  /** Time-series densification + LOCF: complete the integer `tickCol` grid
    * per key (every tick from the key's min to its max) and carry each
    * `fillCols` value forward over the gaps (last observation carried
    * forward). Input is an already-aggregated (key, tick, values) frame —
    * compose after a `groupBy(key, bucket)` like q26/q81. Ticks the input
    * lacked get `<col>_filled` from the nearest earlier tick and NULL in
    * the original column (so callers can tell observed from imputed).
    *
    * Plan: spans = one min/max aggregate per key; the grid is a map-side
    * `sequence` explode of the span (rows ∝ span length, not event count);
    * the LOCF window orders the GRID per key — bounded by the key's tick
    * span by construction, never by its raw event count (a bot user with
    * 10⁸ events still costs ≤ span rows here; the heavy reduction happened
    * in the upstream aggregate). Keys are the parallelism; a key spanning
    * the whole domain costs span rows, not a straggler's data volume. */
  def gapFill(df: DataFrame, keyCols: Seq[String], tickCol: String,
      fillCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "gapFill needs at least one key column")
    val gs = keyCols.map(col)
    val spans = df.groupBy(gs: _*)
      .agg(min(col(tickCol)).as("__lo"), max(col(tickCol)).as("__hi"))
    val grid = spans.select(
      gs :+ explode(sequence(col("__lo"), col("__hi"))).as(tickCol): _*)
    val joined = grid.join(df, keyCols :+ tickCol, "left_outer")
    val w = Window.partitionBy(gs: _*).orderBy(col(tickCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fillCols.foldLeft(joined) { (acc, c) =>
      acc.withColumn(s"${c}_filled", last(col(c), ignoreNulls = true).over(w))
    }
  }

  // q81 — daily per-user resample with gap-fill + LOCF: the time-series
  // densification every metrics/feature pipeline needs before joining
  // series with different activity patterns (missing days become explicit
  // rows; sum_value carries forward). Day buckets are exact epoch-day
  // integers; sums go through the exact-decimal dsum.
  private def q81(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"user_id", expr("ts DIV 1000000000 DIV 86400").as("day"))
      .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
    gapFill(daily, Seq("user_id"), "day", Seq("sum_value"))
      .select($"user_id", $"day", coalesce($"n", lit(0L)).as("n"),
        $"sum_value", $"sum_value_filled")
      .orderBy($"user_id", $"day")
  }
  private val q81Sql =
    s"""WITH daily AS (
       |  SELECT user_id, epoch_ns(ts) // 1000000000 // 86400 AS day,
       |    COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |  FROM events GROUP BY 1, 2),
       |sp AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
       |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS day FROM sp)
       |SELECT user_id, day, coalesce(n, 0) AS n, sum_value,
       |  last_value(sum_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value_filled
       |FROM grid LEFT JOIN daily USING (user_id, day)
       |ORDER BY user_id, day""".stripMargin

  /** Rolling time-range aggregates per key: for every row, the count and
    * exact-decimal sums of `valueCols` over the trailing `span` ticks of
    * `ordCol` (inclusive range frame [ord−span+1, ord]) — the trailing-
    * window feature builder (7-day activity, 30-day spend, …).
    *
    * Determinism: range-frame sums are engine-internal reassociations
    * (Spark re-aggregates the frame, DuckDB uses segment trees — a
    * DIFFERENT addition order), so double sums would drift; every sum
    * here rides DECIMAL(30,6) — exact, associative, identical in any
    * evaluation order — and casts to double only at the edge.
    *
    * Scale: one window per key, ordered by the tick — per-key cost is
    * that key's rows (keys are the parallelism; Spark external-sorts
    * oversized key partitions). Run it on a pre-aggregated grain (e.g.
    * daily rollups, as q91 does) so per-key rows are bounded by the
    * calendar, not the event volume. */
  def rollingRange(df: DataFrame, keyCols: Seq[String], ordCol: String,
      valueCols: Seq[String], span: Long): DataFrame = {
    require(keyCols.nonEmpty, "rollingRange needs at least one key column")
    require(span >= 1, "span is a positive tick count")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(ordCol))
      .rangeBetween(-(span - 1), 0)
    val withN = df.withColumn("n_roll", count(lit(1)).over(w))
    valueCols.foldLeft(withN) { (acc, c) =>
      acc.withColumn(s"${c}_roll",
        sum(col(c).cast(DecimalType(30, 6))).over(w).cast(DoubleType))
    }
  }

  // q91 — trailing 7-day activity features per user on the daily grain:
  // the classic feature-store query (how active was this user this past
  // week, as of each active day). Day buckets are exact epoch-day
  // integers; the daily sum stays DECIMAL into the window so the rolling
  // sum is exact on both engines.
  private def q91(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.events(s, d)
      .groupBy($"user_id", expr("ts DIV 1000000000 DIV 86400").as("day"))
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(30, 6))).as("sum_value"))
    rollingRange(daily, Seq("user_id"), "day", Seq("sum_value"), span = 7)
      .select($"user_id", $"day", $"n", $"n_roll",
        $"sum_value".cast(DoubleType).as("sum_value"), $"sum_value_roll")
      .orderBy($"user_id", $"day")
  }
  private val q91Sql =
    """WITH daily AS (
      |  SELECT user_id, epoch_ns(ts) // 1000000000 // 86400 AS day,
      |    COUNT(*) AS n, SUM(CAST(value AS DECIMAL(30,6))) AS sum_value
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id, day, n,
      |  COUNT(*) OVER w AS n_roll,
      |  CAST(sum_value AS DOUBLE) AS sum_value,
      |  CAST(SUM(sum_value) OVER w AS DOUBLE) AS sum_value_roll
      |FROM daily
      |WINDOW w AS (PARTITION BY user_id ORDER BY day
      |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, day""".stripMargin

  /** Change-history (SCD2) build: collapse each key's ordered event stream
    * into state VERSIONS — one row per run of consecutive equal states,
    * with [valid_from, valid_to) validity (valid_to null while current)
    * and a 1-based version number. The dimension-table maintenance op of
    * every warehouse (type-2 slowly-changing dimension), driven here from
    * an event log. `tieCols` break ordering ties deterministically when
    * the timestamp alone is not unique per key.
    *
    * Scale: both windows partition by the ENTITY key — high cardinality,
    * bounded rows per key — the window class that scales (each task gets
    * many small groups), unlike the few-key windows this engine replaces
    * with bounded aggregates (q97). Run-collapse happens before the
    * second window, so versions see only change points. */
  def changeHistory(df: DataFrame, keyCol: String, tsCol: String,
      stateCol: String, tieCols: Seq[String] = Nil): DataFrame = {
    val ord = (col(tsCol) +: tieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(col(keyCol)).orderBy(ord: _*)
    val marked = df
      .select((Seq(keyCol, tsCol, stateCol) ++ tieCols).map(col): _*)
      .withColumn("__prev", lag(col(stateCol), 1).over(w))
      .withColumn("__rn", row_number().over(w))
      // null-safe change test: a run of nulls is one version too
      .filter(col("__rn") === 1 || !(col(stateCol) <=> col("__prev")))
    val w2 = Window.partitionBy(col(keyCol)).orderBy(ord: _*)
    marked
      .withColumn("valid_to", lead(col(tsCol), 1).over(w2))
      .withColumn("version", row_number().over(w2).cast(IntegerType))
      .select(col(keyCol), col(stateCol), col(tsCol).as("valid_from"),
        col("valid_to"), col("version"))
  }

  /** Session-level rollup on top of gap-based sessionization: one row per
    * (user, session) with start/end, duration, event count and value sum
    * — the session-metrics table every product-analytics store derives
    * first. Gap semantics identical to q27 (> `gapSec` starts a session).
    *
    * Scale: the session-id windows are entity-keyed (high-cardinality,
    * bounded rows per user); the rollup is one combiner-friendly
    * aggregate on (user, session). */
  def sessionMetrics(df: DataFrame, userCol: String, tsSecCol: String,
      valueCol: String, tieCol: String, gapSec: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsSecCol), col(tieCol))
    df
      .withColumn("__prev", lag(col(tsSecCol), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        (col(tsSecCol) - col("__prev")) > gapSec, 1).otherwise(0))
      .withColumn("session_id", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_id"))
      .agg(min(col(tsSecCol)).as("t_start"), max(col(tsSecCol)).as("t_end"),
        (max(col(tsSecCol)) - min(col(tsSecCol))).as("duration_sec"),
        count(lit(1)).as("n_events"),
        graft.functions.Ops.dsum(col(valueCol)).as("sum_value"))
  }

  // q109 — per-session metrics over the event stream (30-min gap, q27's
  // exact session boundaries): duration, event count, decimal-exact value
  // sum per (user, session).
  private def q109(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    sessionMetrics(Tables.events(s, d).withColumn("sec", expr("ts DIV 1000000000")),
        "user_id", "sec", "value", "event_id", gapSec = 1800L)
      .orderBy($"user_id", $"session_id")
  }
  private val q109Sql =
    s"""WITH t AS (
       |  SELECT user_id, event_id, value, epoch_ns(ts) // 1000000000 AS sec,
       |    LAG(epoch_ns(ts) // 1000000000, 1)
       |      OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000000, event_id) AS prev
       |  FROM events),
       |f AS (SELECT user_id, event_id, value, sec,
       |        CASE WHEN prev IS NULL OR (sec - prev) > 1800 THEN 1 ELSE 0 END AS nw
       |      FROM t),
       |g AS (SELECT user_id, value, sec,
       |        CAST(SUM(nw) OVER (PARTITION BY user_id ORDER BY sec, event_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
       |      FROM f)
       |SELECT user_id, session_id, MIN(sec) AS t_start, MAX(sec) AS t_end,
       |  MAX(sec) - MIN(sec) AS duration_sec, COUNT(*) AS n_events,
       |  ${dsumSql("value")} AS sum_value
       |FROM g GROUP BY user_id, session_id
       |ORDER BY user_id, session_id""".stripMargin

  /** Event-type transition matrix ("behavior flow"): for each ordered
    * pair of consecutive events per user, the corpus-wide transition
    * count and exact-integer conditional probability
    * P(to | from) = count(from→to)·10⁶ div count(from→·).
    * Output: (from_type, to_type, pair_n, cond_ppm).
    *
    * Scale: one entity-keyed lead() window (high-cardinality, bounded
    * per user) + two combiner-friendly aggregates; the from-totals join
    * back on a #types-sized relation. */
  def eventTransitions(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieCols: Seq[String] = Nil): DataFrame = {
    val ord = (col(tsCol) +: tieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(col(userCol)).orderBy(ord: _*)
    val pairs = df
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .filter(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("pair_n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("pair_n")).as("__tot"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("pair_n"),
        expr("CAST(CAST(pair_n AS DECIMAL(19,0)) * 1000000 div __tot AS BIGINT)")
          .as("cond_ppm"))
  }

  // q110 — behavior-flow transition matrix over the event stream
  // (event_id tie-break, like q27/q99). Ordering key is µs-truncated
  // (ts DIV 1000) so Spark's nano longs sort identically to the
  // oracle's µs-truncated timestamps even on nano-grain data — the
  // same parity rule as q99/q107/q109.
  private def q110(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    eventTransitions(
        Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000")),
        "user_id", "ts_us", "event_type", tieCols = Seq("event_id"))
      .orderBy($"from_type", $"to_type")
  }
  private val q110Sql =
    """WITH t AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |pc AS (SELECT from_type, to_type, COUNT(*) AS pair_n FROM t
      |       WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, SUM(pair_n) AS tot FROM pc GROUP BY 1)
      |SELECT pc.from_type, pc.to_type, CAST(pair_n AS BIGINT) AS pair_n,
      |  CAST(pair_n * 1000000 // tot AS BIGINT) AS cond_ppm
      |FROM pc JOIN tot ON pc.from_type = tot.from_type
      |ORDER BY pc.from_type, pc.to_type""".stripMargin

  // q99 — per-user state version history from the event log: each user's
  // event-type runs become [valid_from, valid_to) versions; event_id
  // breaks ties identically in both engines. Times are µs (DuckDB
  // timestamps truncate to micros, like q70).
  private def q99(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    changeHistory(Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000")),
        "user_id", "ts_us", "event_type", tieCols = Seq("event_id"))
      .orderBy($"user_id", $"version")
  }

  // q211 — point-in-time SCD2 enrichment: each purchase event looks up the
  // state version (q99's change history) valid at its instant — the
  // slowly-changing-dimension lookup every warehouse serves, composed from
  // two library operators: changeHistory builds the versions,
  // AsOf.joinBackward performs the lookup (one shuffle on the entity key).
  // Versions tying on valid_from (two change events in the same µs)
  // collapse to the max-version row first: zero-duration versions are
  // invisible at any lookup instant, and the collapse makes valid_from
  // unique per user, so the as-of result is deterministic without relying
  // on AsOf's hash tiebreak (which DuckDB could not replicate).
  private def q211(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000"))
    val dim = changeHistory(ev, "user_id", "ts_us", "event_type",
        tieCols = Seq("event_id"))
      .groupBy($"user_id", $"valid_from")
      .agg(max_by(struct($"event_type", $"version"), $"version").as("__v"))
      .select($"user_id".as("uid"), $"valid_from",
        $"__v.event_type".as("state_at"), $"__v.version".as("state_version"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id".as("uid"), $"ts_us")
    AsOf.joinBackward(purchases, dim, keys = Seq("uid"),
        leftTime = "ts_us", rightTime = "valid_from",
        valueCols = Seq("state_at", "state_version"))
      .select($"event_id", $"uid".as("user_id"), $"ts_us",
        $"state_at", $"state_version")
      .orderBy($"event_id")
  }
  private val q211Sql =
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type
      |           FROM events),
      |m AS (SELECT user_id, ts_us, event_id, event_type,
      |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
      |      FROM e),
      |runs AS (SELECT user_id, ts_us, event_id, event_type FROM m
      |         WHERE rn = 1 OR prev <> event_type),
      |ch AS (SELECT user_id, event_type, ts_us AS valid_from,
      |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
      |           AS INTEGER) AS version
      |       FROM runs),
      |dim AS (SELECT user_id, valid_from, max_by(event_type, version) AS state_at,
      |          MAX(version) AS state_version
      |        FROM ch GROUP BY 1, 2),
      |p AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us
      |      FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id, p.user_id, p.ts_us, d.state_at, d.state_version
      |FROM p ASOF LEFT JOIN dim d
      |  ON p.user_id = d.user_id AND p.ts_us >= d.valid_from
      |ORDER BY p.event_id""".stripMargin
  private val q99Sql =
    """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type
      |           FROM events),
      |m AS (SELECT user_id, ts_us, event_id, event_type,
      |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
      |      FROM e),
      |runs AS (SELECT user_id, ts_us, event_id, event_type FROM m
      |         WHERE rn = 1 OR prev <> event_type)
      |SELECT user_id, event_type, ts_us AS valid_from,
      |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS valid_to,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS INTEGER)
      |    AS version
      |FROM runs ORDER BY user_id, version""".stripMargin

  // q107 — TIME-BOUNDED funnel: each step must land within one day of
  // the previous step's anchor (view → click ≤ 1d → purchase ≤ 1d) —
  // the conversion-window variant of q70 (150→60→25 users at sf0.01, so
  // the bound is doing real work).
  private val dayUs = 86400L * 1000000L
  private def q107(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    funnel(Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000")),
        "user_id", "ts_us", "event_type", Seq("view", "click", "purchase"),
        maxGap = Some(dayUs))
      .select($"user_id", $"t0".as("t_view"), $"t1".as("t_click"),
        $"t2".as("t_purchase"), $"stage")
      .orderBy($"user_id")
  }
  private val q107Sql =
    s"""WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tns FROM events),
       |s0 AS (SELECT user_id, min(tns) AS t_view FROM e
       |       WHERE event_type = 'view' GROUP BY 1),
       |s1 AS (SELECT e.user_id, min(tns) AS t_click FROM e JOIN s0 USING (user_id)
       |       WHERE event_type = 'click' AND tns > t_view
       |         AND tns <= t_view + $dayUs GROUP BY 1),
       |s2 AS (SELECT e.user_id, min(tns) AS t_purchase FROM e JOIN s1 USING (user_id)
       |       WHERE event_type = 'purchase' AND tns > t_click
       |         AND tns <= t_click + $dayUs GROUP BY 1)
       |SELECT s0.user_id, t_view, t_click, t_purchase,
       |  CASE WHEN t_purchase IS NOT NULL THEN 3
       |       WHEN t_click IS NOT NULL THEN 2 ELSE 1 END AS stage
       |FROM s0 LEFT JOIN s1 ON s0.user_id = s1.user_id
       |        LEFT JOIN s2 ON s0.user_id = s2.user_id
       |ORDER BY s0.user_id""".stripMargin

  /** Conversion attribution: for every entity that converts (first event
    * of `convType`), credit the last (or first) preceding event whose
    * type is in `touchTypes` — last-touch / first-touch marketing
    * attribution. Converters with no prior touch keep a NULL attribution
    * (organic conversions stay visible). Output: (userCol, touch_type,
    * t_touch, t_conv).
    *
    * Scale: entirely windowless — one min-aggregate for conversion
    * times, one filtered join (AQE-splittable on hot entities), one
    * min_by/max_by argmax aggregate on the (time, tie) ordering struct.
    * The [[funnel]] skeleton with credit assignment instead of stage
    * counting. */
  def attribution(df: DataFrame, userCol: String, tsSecCol: String,
      typeCol: String, tieCol: String, convType: String,
      touchTypes: Seq[String], lastTouch: Boolean = true): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch type")
    val conv = df.filter(col(typeCol) === convType)
      .groupBy(col(userCol)).agg(min(col(tsSecCol)).as("t_conv"))
    val ord = struct(col(tsSecCol), col(tieCol))
    val pick = struct(col(typeCol).as("touch_type"), col(tsSecCol).as("t_touch"))
    val best = df.filter(col(typeCol).isin(touchTypes: _*))
      .join(conv, Seq(userCol))
      .filter(col(tsSecCol) < col("t_conv"))
      .groupBy(col(userCol))
      .agg((if (lastTouch) max_by(pick, ord) else min_by(pick, ord)).as("__b"))
      .select(col(userCol), col("__b.touch_type").as("touch_type"),
        col("__b.t_touch").as("t_touch"))
    conv.join(best, Seq(userCol), "left")
      .select(col(userCol), col("touch_type"), col("t_touch"), col("t_conv"))
  }

  /** Multi-touch LINEAR attribution: every touch before the user's first
    * conversion shares the conversion credit equally — each touch earns
    * floor(10⁶ / n_touches) ppm (exact integer floor semantics; the
    * ≤ n−1 ppm remainder is deliberately unassigned, the documented
    * convention — engines that spread remainders do it tie-ambiguously).
    * Rolled up per touch type. Output: (touch_type, n_touches,
    * credit_ppm) — credit_ppm sums a whole conversion (10⁶) per user
    * minus floor remainders.
    *
    * Plan: conversion time = one filtered min-aggregate; touches = one
    * user_id equi-join + filter; per-user touch count and per-(user,
    * type) counts are combiner aggregates; the final rollup is
    * touch-type-sized. Windowless like [[funnel]]/[[attribution]]. */
  def attributionLinear(df: DataFrame, userCol: String, tsSecCol: String,
      typeCol: String, convType: String, touchTypes: Seq[String]): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch type")
    val conv = df.filter(col(typeCol) === convType)
      .groupBy(col(userCol)).agg(min(col(tsSecCol)).as("t_conv"))
    val touches = df.filter(col(typeCol).isin(touchTypes: _*))
      .join(conv, Seq(userCol))
      .filter(col(tsSecCol) < col("t_conv"))
    val n = touches.groupBy(col(userCol)).agg(count(lit(1)).as("__n"))
    touches.groupBy(col(userCol), col(typeCol).as("touch_type"))
      .agg(count(lit(1)).as("__c"))
      .join(n, Seq(userCol))
      .select(col("touch_type"), col("__c"),
        expr("__c * (1000000L div __n)").as("__credit"))
      .groupBy(col("touch_type"))
      .agg(sum(col("__c")).as("n_touches"), sum(col("__credit")).as("credit_ppm"))
  }

  // q140 — linear attribution rollup: how view vs click share credit for
  // first purchases across all users.
  private def q140(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    attributionLinear(
        Tables.events(s, d).withColumn("sec", expr("ts DIV 1000000000")),
        "user_id", "sec", "event_type",
        convType = "purchase", touchTypes = Seq("view", "click"))
      .orderBy($"touch_type")
  }
  private val q140Sql =
    """WITH e AS (SELECT user_id, event_type,
      |             epoch_ns(ts) // 1000000000 AS sec FROM events),
      |cv AS (SELECT user_id, min(sec) AS t_conv FROM e
      |       WHERE event_type = 'purchase' GROUP BY 1),
      |tc AS (SELECT e.user_id, e.event_type FROM e JOIN cv USING (user_id)
      |       WHERE e.event_type IN ('view', 'click') AND e.sec < cv.t_conv),
      |n AS (SELECT user_id, COUNT(*) AS n FROM tc GROUP BY 1),
      |pc AS (SELECT user_id, event_type AS touch_type, COUNT(*) AS c
      |       FROM tc GROUP BY 1, 2)
      |SELECT touch_type, CAST(SUM(c) AS BIGINT) AS n_touches,
      |  CAST(SUM(c * (1000000 // n.n)) AS BIGINT) AS credit_ppm
      |FROM pc JOIN n USING (user_id)
      |GROUP BY touch_type ORDER BY touch_type""".stripMargin

  // q124 — last-touch attribution: which touch type (view/click) last
  // preceded each user's first purchase.
  private def q124(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    attribution(
        Tables.events(s, d).withColumn("sec", expr("ts DIV 1000000000")),
        "user_id", "sec", "event_type", "event_id",
        convType = "purchase", touchTypes = Seq("view", "click"))
      .orderBy($"user_id")
  }
  private val q124Sql =
    """WITH e AS (SELECT user_id, event_id, event_type,
      |             epoch_ns(ts) // 1000000000 AS sec FROM events),
      |cv AS (SELECT user_id, min(sec) AS t_conv FROM e
      |       WHERE event_type = 'purchase' GROUP BY 1),
      |tc AS (SELECT e.user_id, e.event_type, e.sec, e.event_id
      |       FROM e JOIN cv USING (user_id)
      |       WHERE e.event_type IN ('view', 'click') AND e.sec < cv.t_conv),
      |tt AS (SELECT user_id, max(sec) AS t_touch FROM tc GROUP BY 1),
      |tie AS (SELECT tc.user_id, max(tc.event_id) AS eid
      |        FROM tc JOIN tt ON tc.user_id = tt.user_id AND tc.sec = tt.t_touch
      |        GROUP BY 1),
      |sel AS (SELECT tc.user_id, tc.event_type AS touch_type, tc.sec AS t_touch
      |        FROM tc JOIN tie ON tc.user_id = tie.user_id
      |                        AND tc.event_id = tie.eid)
      |SELECT cv.user_id, touch_type, t_touch, t_conv
      |FROM cv LEFT JOIN sel USING (user_id)
      |ORDER BY cv.user_id""".stripMargin

  /** Top-k session paths (behavior-flow mining): gap-sessionize each
    * entity's stream, concatenate each session's ordered event types into
    * a path string ("view>click>purchase"), and return the `k` most
    * common paths with their session counts — the whole-sequence
    * generalization of [[eventTransitions]]' pairwise matrix. Ties break
    * path-asc. Output: (path, n_sessions).
    *
    * Scale: sessionization is the entity-keyed window class (bounded
    * rows per entity); path assembly is ONE combiner aggregate per
    * (entity, session) — a session's events are gap-bounded, so the
    * collected list is small by construction; path counting is a
    * combiner-friendly aggregate on the path string; the final top-k is
    * TakeOrdered (never a global sort). `tsSecCol` is integral seconds;
    * `tieCol` breaks same-second order. */
  def sessionPaths(df: DataFrame, userCol: String, tsSecCol: String,
      typeCol: String, tieCol: String, gapSec: Long, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsSecCol), col(tieCol))
    df
      .withColumn("__prev", lag(col(tsSecCol), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        (col(tsSecCol) - col("__prev")) > gapSec, 1).otherwise(0))
      .withColumn("__sid", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("__sid"))
      .agg(expr(s"array_join(transform(array_sort(collect_list(" +
        s"struct($tsSecCol, $tieCol, $typeCol))), x -> x.$typeCol), '>')")
        .as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  // q123 — the 20 most common session paths over the event stream
  // (30-minute gap, like q27/q109).
  private def q123(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    sessionPaths(
        Tables.events(s, d).withColumn("sec", expr("ts DIV 1000000000")),
        "user_id", "sec", "event_type", "event_id", gapSec = 1800L, k = 20)
  }
  private val q123Sql =
    """WITH t AS (
      |  SELECT user_id, event_id, event_type,
      |    epoch_ns(ts) // 1000000000 AS sec,
      |    LAG(epoch_ns(ts) // 1000000000, 1)
      |      OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000000000,
      |            event_id) AS prev
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, event_type, sec,
      |    CASE WHEN prev IS NULL OR (sec - prev) > 1800 THEN 1 ELSE 0 END AS nw
      |  FROM t),
      |sess AS (
      |  SELECT user_id, event_id, event_type, sec,
      |    SUM(nw) OVER (PARTITION BY user_id ORDER BY sec, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM f),
      |paths AS (
      |  SELECT user_id, sid,
      |    string_agg(event_type, '>' ORDER BY sec, event_id) AS path
      |  FROM sess GROUP BY 1, 2)
      |SELECT path, COUNT(*) AS n_sessions
      |FROM paths GROUP BY 1
      |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  /** Time-weighted average of `valueCol` per entity — the "average gauge
    * reading weighted by how long it held" aggregate (TWAP, utilization,
    * session-intensity): each reading is weighted by the seconds until
    * the entity's next event (last reading carries no weight — half-open
    * intervals). Products accumulate exactly (value at DECIMAL(18,6) —
    * the [[graft.functions.Ops.dsum]] money argument — × BIGINT seconds),
    * so the final single double division is order-independent. Entities
    * with one event (no held interval) are dropped. Output:
    * (entityCol, twa_value, active_sec).
    *
    * Scale: one entity-keyed lead window (high-cardinality partition key
    * — the allowed window class) + one combiner-friendly aggregate.
    * `tsCol` is an epoch-nano long; `tieCols` breaks same-second order
    * deterministically. */
  def timeWeightedAvg(df: DataFrame, entityCol: String, tsCol: String,
      valueCol: String, tieCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col("__sec") +: tieCols.map(col): _*)
    df.withColumn("__sec", expr(s"$tsCol DIV 1000000000"))
      .withColumn("__dt", lead(col("__sec"), 1).over(w) - col("__sec"))
      .groupBy(col(entityCol))
      .agg(
        sum(col(valueCol).cast(DecimalType(18, 6)) *
          col("__dt").cast(DecimalType(12, 0))).as("__sp"),
        sum(col("__dt")).as("__sd"))
      .filter(col("__sd") > 0)
      .select(col(entityCol),
        (col("__sp").cast(DoubleType) / col("__sd").cast(DoubleType))
          .as("twa_value"),
        col("__sd").as("active_sec"))
  }

  // q118 — time-weighted average event value per user (reading held until
  // the user's next event, in whole seconds).
  private def q118(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    timeWeightedAvg(Tables.events(s, d), "user_id", "ts", "value",
        tieCols = Seq("event_id"))
      .orderBy($"user_id")
  }
  private val q118Sql =
    """WITH t AS (SELECT user_id, event_id, value,
      |    epoch_ns(ts) // 1000000000 AS sec FROM events),
      |o AS (SELECT user_id, value,
      |    lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) - sec AS dt
      |  FROM t),
      |a AS (SELECT user_id,
      |    SUM(CAST(value AS DECIMAL(18,6)) * CAST(dt AS DECIMAL(12,0))) AS sp,
      |    SUM(dt) AS sd
      |  FROM o GROUP BY 1)
      |SELECT user_id, CAST(sp AS DOUBLE) / CAST(sd AS DOUBLE) AS twa_value,
      |  CAST(sd AS BIGINT) AS active_sec
      |FROM a WHERE sd > 0 ORDER BY user_id""".stripMargin

  /** Rolling exact distinct count by day: for every day in the data's
    * span, how many distinct entities were active in the trailing
    * `windowDays`-day window — the "7-day active users" series, exact
    * (no sketch) and windowless.
    *
    * Scale: the input first collapses to the DISTINCT (entity, day)
    * relation (one combiner-friendly aggregate — the raw stream never
    * fans out); each entity-day then emits its `windowDays` member
    * windows MAP-SIDE (bounded ×windowDays fan-out) and one exact
    * count-distinct aggregate (Spark's two-phase expand) produces the
    * series. No global window, no per-day self-join; days beyond the
    * data's max day are clipped by a 1-row broadcast. `dayCol` must be
    * integral (epoch days). Output: (day, uniques). */
  def rollingDistinct(df: DataFrame, entityCol: String, dayCol: String,
      windowDays: Int): DataFrame = {
    require(windowDays >= 1, "windowDays must be positive")
    val ud = df.select(col(dayCol).cast(LongType).as("__day"), col(entityCol))
      .distinct()
    val maxDay = ud.agg(max(col("__day")).as("__maxd"))
    ud.select(explode(expr(
        s"sequence(__day, __day + ${windowDays - 1})")).as("day"),
        col(entityCol))
      .crossJoin(broadcast(maxDay))
      .filter(col("day") <= col("__maxd"))
      .groupBy(col("day"))
      .agg(countDistinct(col(entityCol)).as("uniques"))
  }

  // q119 — rolling 7-day distinct active users per day.
  private def q119(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    rollingDistinct(
        Tables.events(s, d).withColumn("day", expr("ts DIV 86400000000000")),
        "user_id", "day", windowDays = 7)
      .orderBy($"day")
  }
  private val q119Sql =
    """WITH ud AS (SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id
      |            FROM events),
      |days AS (SELECT DISTINCT day FROM ud),
      |mx AS (SELECT max(day) AS maxd FROM ud),
      |win AS (SELECT ud.day + g.o AS day, ud.user_id
      |        FROM ud, unnest(range(0, 7)) g(o)),
      |f AS (SELECT day, user_id FROM win, mx WHERE day <= maxd)
      |SELECT day, COUNT(DISTINCT user_id) AS uniques
      |FROM f GROUP BY 1 ORDER BY day""".stripMargin

  /** Exact bounded-lag EWMA: per entity, ordered by (ts, tie), the
    * α = 1/2 exponentially weighted moving average truncated at `maxLag`
    * lags — the streaming smoother as a batch feature column.
    *
    * Exactness: weights 2^(maxLag−j) and values scaled to integer micros
    * make numerator and denominator exact longs; the single final IEEE
    * division replicates bit-for-bit in any engine (a recursive
    * ewma_t = αx + (1−α)ewma_{t−1} over doubles would drift by evaluation
    * order). Truncation at 8 lags leaves ≤ 2⁻⁹ of the mass — below double
    * display precision for typical values, and *defined* identically
    * everywhere.
    *
    * Scale: one entity-keyed window (high-cardinality partition key — the
    * safe windowing class), no self-join, no state. */
  def ewmaSmooth(df: DataFrame, entityCol: String, tsCol: String,
      valueCol: String, tieCol: String, maxLag: Int = 8): DataFrame = {
    require(maxLag >= 0 && maxLag <= 16, "maxLag in [0,16]")
    val D = DecimalType(30, 6)
    val w = Window.partitionBy(col(entityCol)).orderBy(col(tsCol), col(tieCol))
    val xs = (col(valueCol).cast(D) * 1000000).cast(LongType)
    val lagged = df.withColumn("__x0", xs)
    val withLags = (1 to maxLag).foldLeft(lagged) { (acc, j) =>
      acc.withColumn(s"__x$j", lag(col("__x0"), j).over(w))
    }
    val num = (0 to maxLag).map { j =>
      val wgt = 1L << (maxLag - j)
      coalesce(col(s"__x$j") * wgt, lit(0L))
    }.reduce(_ + _)
    val den = (0 to maxLag).map { j =>
      val wgt = 1L << (maxLag - j)
      when(col(s"__x$j").isNotNull, lit(wgt)).otherwise(lit(0L))
    }.reduce(_ + _)
    withLags
      .withColumn("ewma", num.cast(DoubleType) / (den * 1000000L).cast(DoubleType))
      .drop((0 to maxLag).map(j => s"__x$j"): _*)
  }

  // q157 — EWMA-smoothed event value per user (α = 1/2, 8 lags).
  private def q157(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    ewmaSmooth(Tables.events(s, d), "user_id", "ts", "value", "event_id")
      .select($"event_id", $"user_id", $"ewma")
      .orderBy($"event_id")
  }
  private val q157Sql = {
    val lags = (1 to 8).map(j =>
      s"lag(xs, $j) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS x$j")
      .mkString(",\n      |    ")
    val num = (0 to 8).map(j => s"coalesce(x$j * ${1L << (8 - j)}, 0)").mkString(" + ")
    val den = (0 to 8).map(j =>
      s"CASE WHEN x$j IS NULL THEN 0 ELSE ${1L << (8 - j)} END").mkString(" + ")
    s"""WITH x AS (SELECT event_id, user_id, ts,
       |    CAST(CAST(value AS DECIMAL(30,6)) * 1000000 AS BIGINT) AS xs
       |  FROM events),
       |l AS (SELECT event_id, user_id, xs AS x0,
       |    $lags
       |  FROM x)
       |SELECT event_id, user_id,
       |  CAST($num AS DOUBLE)
       |    / CAST(($den) * 1000000 AS DOUBLE) AS ewma
       |FROM l ORDER BY event_id""".stripMargin
  }

  /** KMV (k-minimum-values) distinct sketch: the k smallest element hashes
    * per key (Bar-Yossef et al. 2002) — the mergeable primitive for
    * approximate set cardinality AND set intersection/Jaccard between huge
    * keyed sets, which HLL cannot give. The hash is the engine-portable
    * md5-prefix, so the sketch — and every estimate derived from it — is
    * deterministic and reproducible in any engine, any partitioning.
    * Output: (key, h) rows, ≤ k per key. */
  def kmvSketch(df: DataFrame, keyCol: String, hashCol: String, k: Int): DataFrame = {
    val bk = udaf(new graft.functions.BottomKLongs(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())
    df.groupBy(col(keyCol))
      .agg(bk(col(hashCol)).as("__kmv"))
      .select(col(keyCol), explode(col("__kmv")).as("h"))
  }

  // q159 — estimated Jaccard overlap of (user, day) activity sets between
  // every pair of event types, from 64-value KMV sketches. The element
  // relation collapses ONCE through the bounded bottom-k aggregate
  // (combiner-friendly — only ≤2k buffers shuffle, never the set); every
  // op after it touches ≤ #types × k rows, so the pair windows below are
  // bounded by construction (≤ 2k rows per pair). Estimator: with
  // θ = the kk-th smallest hash of A ∪ B (kk = min(k, |union sketch|)),
  // J ≈ |{h ≤ θ} ∩ A ∩ B| / kk — reported in exact integer ppm.
  private def q159(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 64
    val el = Tables.events(s, d)
      .select($"event_type", $"user_id", expr("ts DIV 86400000000000").as("day"))
      .distinct()
      .withColumn("h", md5Long(concat_ws(":", lit("kmv"), $"user_id", $"day")))
    val bk = kmvSketch(el, "event_type", "h", k).localCheckpoint()
    // Round-18 micro-stage fold (guide §2.4): the estimator used to run a
    // pair-keyed row pipeline (pair cross-join → two sketch joins → union
    // DISTINCT → row_number window → θ aggregate → two semi-joins → count
    // → join-back: ~8 micro-stages over ≤2k-row frames). Each sketch is
    // ≤ k values, so collect it ONCE into a sorted array per type and
    // compute every pair statistic as array expressions over two ≤k
    // arrays — exactness unchanged: array_union dedupes the same union
    // the DISTINCT built, so element_at(sorted union, kk) IS the kk-th
    // smallest (the old rn ≤ kk max), and the θ-capped intersection count
    // is the old double-semi-join hit count (array_intersect/array_union
    // are exact set ops on these long hashes). The ties story is
    // unchanged too: hashes are distinct within a sketch, so min/max/
    // count see the same multiset. Oracle (q159Sql) untouched.
    val byType = bk.groupBy($"event_type")
      .agg(sort_array(collect_list($"h")).as("hs"))
    byType.as("x").join(byType.as("y"),
        col("x.event_type") < col("y.event_type"))
      .select(col("x.event_type").as("ta"), col("y.event_type").as("tb"),
        col("x.hs").as("ha"), col("y.hs").as("hb"))
      .withColumn("un", array_sort(array_union($"ha", $"hb")))
      .withColumn("kk", least(size($"un"), lit(k)))
      .withColumn("th", element_at($"un", $"kk"))
      .withColumn("c",
        size(filter(array_intersect($"ha", $"hb"), x => x <= $"th"))
          .cast(LongType))
      .select($"ta".as("type_a"), $"tb".as("type_b"),
        expr("(c * 1000000) DIV kk").cast(LongType).as("jaccard_est_ppm"))
      .orderBy($"type_a", $"type_b")
  }
  private val q159Sql =
    s"""WITH el AS MATERIALIZED (SELECT DISTINCT event_type, user_id,
       |    epoch_ns(ts) // 86400000000000 AS day FROM events),
       |h AS MATERIALIZED (SELECT event_type,
       |    ${md5LongSql("'kmv:' || CAST(user_id AS VARCHAR) || ':' || CAST(day AS VARCHAR)")} AS h
       |  FROM el),
       |bk AS MATERIALIZED (SELECT event_type, h FROM (
       |    SELECT event_type, h,
       |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |    FROM (SELECT DISTINCT event_type, h FROM h)) WHERE rn <= 64),
       |types AS (SELECT DISTINCT event_type FROM bk),
       |pairs AS (SELECT x.event_type AS ta, y.event_type AS tb
       |  FROM types x JOIN types y ON x.event_type < y.event_type),
       |un AS (SELECT ta, tb, h FROM pairs JOIN bk ON bk.event_type = ta
       |  UNION SELECT ta, tb, h FROM pairs JOIN bk ON bk.event_type = tb),
       |ranked AS (SELECT ta, tb, h,
       |    row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn FROM un),
       |theta AS (SELECT ta, tb, MAX(CASE WHEN rn <= 64 THEN h END) AS th,
       |    LEAST(MAX(rn), 64) AS kk FROM ranked GROUP BY 1, 2),
       |hits AS (SELECT r.ta, r.tb, COUNT(*) AS c
       |  FROM ranked r JOIN theta t ON r.ta = t.ta AND r.tb = t.tb
       |  WHERE r.h <= t.th
       |    AND EXISTS (SELECT 1 FROM bk a WHERE a.event_type = r.ta AND a.h = r.h)
       |    AND EXISTS (SELECT 1 FROM bk b WHERE b.event_type = r.tb AND b.h = r.h)
       |  GROUP BY 1, 2)
       |SELECT t.ta AS type_a, t.tb AS type_b,
       |  CAST((coalesce(c, 0) * 1000000) // kk AS BIGINT) AS jaccard_est_ppm
       |FROM theta t LEFT JOIN hits ON t.ta = hits.ta AND t.tb = hits.tb
       |ORDER BY type_a, type_b""".stripMargin

  /** Out-of-order-arrival accounting — the stream-health metric that sizes
    * watermarks: per entity, how many events arrived (by `arrivalCol`
    * order) with an event time (`tsCol`) behind the running maximum, i.e.
    * would have been late under a zero-lateness watermark.
    *
    * Scale: one entity-keyed running-max window (high-cardinality key) +
    * one combiner aggregate. Exact integer ppm. */
  def outOfOrder(df: DataFrame, entityCol: String, tsCol: String,
      arrivalCol: String): DataFrame = {
    val w = Window.partitionBy(col(entityCol)).orderBy(col(arrivalCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("__prevmax", max(col(tsCol)).over(w))
      .withColumn("__late",
        when(col("__prevmax").isNotNull && col(tsCol) < col("__prevmax"), 1L)
          .otherwise(0L))
      .groupBy(col(entityCol))
      .agg(count(lit(1)).as("n_events"), sum(col("__late")).as("n_late"))
      .withColumn("late_ppm", expr("n_late * 1000000 DIV n_events").cast(LongType))
  }

  // q160 — per-user late-event ratio under arrival order = event_id.
  private def q160(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    outOfOrder(Tables.events(s, d), "user_id", "ts", "event_id")
      .orderBy($"user_id")
  }
  private val q160Sql =
    """WITH m AS (SELECT user_id, ts,
      |    MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
      |  FROM events)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN prevmax IS NOT NULL AND ts < prevmax THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
      |  CAST(SUM(CASE WHEN prevmax IS NOT NULL AND ts < prevmax THEN 1 ELSE 0 END) * 1000000
      |    // COUNT(*) AS BIGINT) AS late_ppm
      |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin

  // q169 — A/B conversion readout: per-variant user conversion rates in
  // exact ppm, the relative lift (B vs A, truncation-consistent signed
  // integer division), and the chi-square statistic from the composed
  // `Extended.chiSquare` — the experiment-dashboard row, fully
  // deterministic. Variant assignment here is the parity of the user id
  // (a real deployment passes its own assignment column).
  //
  // Scale: one combiner aggregate to per-user conversion flags, then only
  // #variants×2 cells exist; everything after is 1-row frames.
  private def q169(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val conv = Tables.events(s, d)
      .groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("converted"))
      .withColumn("variant", pmod($"user_id", lit(2L)))
    val rates = conv.agg(
      sum(when($"variant" === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when($"variant" === 0, $"converted").otherwise(0L)).as("c_a"),
      sum(when($"variant" === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when($"variant" === 1, $"converted").otherwise(0L)).as("c_b"))
      .select($"n_a", $"n_b",
        expr("CAST(CAST(c_a AS DECIMAL(19,0)) * 1000000 DIV n_a AS BIGINT)").as("rate_a_ppm"),
        expr("CAST(CAST(c_b AS DECIMAL(19,0)) * 1000000 DIV n_b AS BIGINT)").as("rate_b_ppm"))
      .withColumn("lift_ppm",
        expr("(rate_b_ppm * 1000000 DIV rate_a_ppm) - 1000000").cast(LongType))
    val chi = Extended.chiSquare(conv, "variant", "converted")
      .select($"chi2_ppm")
    rates.join(broadcast(chi))
  }
  private val q169Sql =
    """WITH conv AS (SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
      |    user_id % 2 AS variant
      |  FROM events GROUP BY user_id),
      |rates AS (SELECT
      |    SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
      |    SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS c_a,
      |    SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
      |    SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS c_b
      |  FROM conv),
      |r2 AS (SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |    CAST(c_a * 1000000 // n_a AS BIGINT) AS rate_a_ppm,
      |    CAST(c_b * 1000000 // n_b AS BIGINT) AS rate_b_ppm
      |  FROM rates),
      |cells AS (SELECT variant AS a, converted AS b, COUNT(*) AS o
      |  FROM conv GROUP BY 1, 2),
      |rt AS (SELECT a, SUM(o) AS r FROM cells GROUP BY 1),
      |ct AS (SELECT b, SUM(o) AS c FROM cells GROUP BY 1),
      |tt AS (SELECT SUM(o) AS n FROM cells),
      |terms AS (SELECT (o * n - r * c) * (o * n - r * c) AS num, r * c * n AS den
      |  FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tt),
      |chi AS (SELECT CAST(SUM((num // den) * 1000000
      |    + ((num % den) * 1000000) // den) AS BIGINT) AS chi2_ppm FROM terms)
      |SELECT n_a, n_b, rate_a_ppm, rate_b_ppm,
      |  CAST((rate_b_ppm * 1000000 // rate_a_ppm) - 1000000 AS BIGINT) AS lift_ppm,
      |  chi2_ppm
      |FROM r2 CROSS JOIN chi""".stripMargin

  // q170 — rollup-mode serving end-to-end (reference rollup parity): the
  // ingest-side rollup segments are built once (a Memo fixture per
  // (session, dir), deleted on invalidate and at context end), the
  // raw events path is registered for this session (Graft.session
  // installed the RollupServingRule), and the query below — written
  // against the RAW table — is served from the rollup. The oracle
  // aggregates the raw table in DuckDB, so the oracle gate proves the
  // rewrite is answer-identical; the plan-level lock (the scan really
  // moves to the rollup, non-derivable shapes don't) is RollupServingSpec.
  private def q170(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rawPath = graft.Tables.path(d, "events")
    val spec = graft.streaming.Realtime.RollupSpec(
      Seq("event_type", "user_id"),
      Seq(("value", graft.streaming.Realtime.Sum),
        ("event_id", graft.streaming.Realtime.Cnt)), arrival = "event_id")
    val rollupPath = Memo.get(s, d, "events.rollupDir") {
      val t = Memo.tempDir("graft_rollup_")
      graft.streaming.Realtime.rollupBatch(s.read.parquet(rawPath), spec)
        .write.mode("overwrite").parquet(t.resolve("events_rollup"))
      t
    }.resolve("events_rollup")
    graft.plans.RollupServing.registerFromSpec(s, rawPath, rollupPath, spec)
    s.read.parquet(rawPath)
      .groupBy($"event_type")
      .agg(dsum($"value").as("sum_value"), count(lit(1)).as("n"))
      .orderBy($"event_type")
  }
  private val q170Sql =
    s"""SELECT event_type, ${dsumSql("value")} AS sum_value, COUNT(*) AS n
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // q171 — funnel latency profile: for users completing the full
  // view→click→purchase chain, the exact p50/p90 of each step-to-step
  // gap in whole seconds — "how long does conversion take", the funnel's
  // timing complement. Gaps are exact integer seconds (µs DIV 10⁶);
  // percentiles use the engines' shared linear-interpolation definition
  // (Spark `percentile` = DuckDB `quantile_cont`, the q46 pattern).
  //
  // Scale: the funnel itself is windowless min-agg chains; the percentile
  // runs over one row per completer. The histogram-sketch quantile
  // (q73) is the swap-in when completers outgrow exact percentile.
  private def q171(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val f = funnel(Tables.events(s, d).withColumn("ts_us", expr("ts DIV 1000")),
      "user_id", "ts_us", "event_type", Seq("view", "click", "purchase"))
    f.filter($"stage" === 3)
      .select(expr("(t1 - t0) DIV 1000000").as("g1"),
        expr("(t2 - t1) DIV 1000000").as("g2"))
      .agg(count(lit(1)).as("n_completers"),
        expr("percentile(g1, 0.5)").as("p50_view_click_sec"),
        expr("percentile(g1, 0.9)").as("p90_view_click_sec"),
        expr("percentile(g2, 0.5)").as("p50_click_purchase_sec"),
        expr("percentile(g2, 0.9)").as("p90_click_purchase_sec"))
  }
  private val q171Sql =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus FROM events),
      |s0 AS (SELECT user_id, min(tus) AS t0 FROM e
      |       WHERE event_type = 'view' GROUP BY 1),
      |s1 AS (SELECT e.user_id, min(tus) AS t1 FROM e JOIN s0 USING (user_id)
      |       WHERE event_type = 'click' AND tus > t0 GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(tus) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'purchase' AND tus > t1 GROUP BY 1),
      |g AS (SELECT (t1 - t0) // 1000000 AS g1, (t2 - t1) // 1000000 AS g2
      |  FROM s0 JOIN s1 USING (user_id) JOIN s2 USING (user_id))
      |SELECT COUNT(*) AS n_completers,
      |  quantile_cont(g1, 0.5) AS p50_view_click_sec,
      |  quantile_cont(g1, 0.9) AS p90_view_click_sec,
      |  quantile_cont(g2, 0.5) AS p50_click_purchase_sec,
      |  quantile_cont(g2, 0.9) AS p90_click_purchase_sec
      |FROM g""".stripMargin

  // q176 — KMV distinct-cardinality estimates per event type from the
  // same 64-value sketches as q159: n̂ = (k−1)·2⁶⁰ / θ_k with θ_k the
  // k-th smallest hash (exact count when the sketch isn't full). The
  // deterministic-hash sketch makes even the ESTIMATE engine-exact, so
  // it oracles — unlike HLL (q41, rows-only). The division runs in
  // DECIMAL(38,0) with explicit floor ((x − x mod θ)/θ): (k−1)·2⁶⁰
  // overflows a long, and Spark's integral DIV doesn't take decimals.
  //
  // Scale: identical to q159 — one bounded bottom-k aggregate; the
  // estimator math touches #types rows.
  private def q176(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 64
    val el = Tables.events(s, d)
      .select($"event_type", $"user_id", expr("ts DIV 86400000000000").as("day"))
      .distinct()
      .withColumn("h", md5Long(concat_ws(":", lit("kmv"), $"user_id", $"day")))
    kmvSketch(el, "event_type", "h", k)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_kept"), max($"h").as("theta"))
      .select($"event_type", $"n_kept",
        when($"n_kept" < k, $"n_kept")
          .otherwise(expr(s"""CAST((CAST(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976
            - (CAST(${k - 1} AS DECIMAL(38,0)) * 1152921504606846976) % theta) / theta
            AS BIGINT)"""))
          .cast(LongType).as("est_distinct"))
      .orderBy($"event_type")
  }
  private val q176Sql =
    s"""WITH el AS MATERIALIZED (SELECT DISTINCT event_type, user_id,
       |    epoch_ns(ts) // 86400000000000 AS day FROM events),
       |h AS MATERIALIZED (SELECT event_type,
       |    ${md5LongSql("'kmv:' || CAST(user_id AS VARCHAR) || ':' || CAST(day AS VARCHAR)")} AS h
       |  FROM el),
       |bk AS (SELECT event_type, h FROM (
       |    SELECT event_type, h,
       |      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |    FROM (SELECT DISTINCT event_type, h FROM h)) WHERE rn <= 64),
       |st AS (SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS theta
       |  FROM bk GROUP BY 1)
       |SELECT event_type, n_kept,
       |  CAST(CASE WHEN n_kept < 64 THEN n_kept
       |    ELSE (63::HUGEINT * 1152921504606846976::HUGEINT) // theta
       |  END AS BIGINT) AS est_distinct
       |FROM st ORDER BY event_type""".stripMargin

  // q179 — difference-in-differences readout: treated (odd user ids) vs
  // control, pre vs post (month midpoint, epoch-day 19738 = 2024-01-16),
  // mean event value per cell and the DiD estimate
  // (μ_t,post − μ_t,pre) − (μ_c,post − μ_c,pre). Cell sums are exact
  // decimals; each mean is one IEEE division and the estimate a fixed
  // subtraction tree — deterministic in any engine.
  //
  // Scale: ONE conditional aggregate pass over the stream; everything
  // after is a 1-row frame.
  private def q179(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val D = DecimalType(30, 6)
    val e = Tables.events(s, d)
      .withColumn("treated", pmod($"user_id", lit(2L)) === 1)
      .withColumn("post", expr("ts DIV 86400000000000") >= 19738L)
    def cell(t: Boolean, p: Boolean, tag: String) = Seq(
      sum(when($"treated" === t && $"post" === p, $"value".cast(D))
        .otherwise(lit(0).cast(D))).as(s"s_$tag"),
      sum(when($"treated" === t && $"post" === p, 1L).otherwise(0L)).as(s"n_$tag"))
    val cells = cell(true, false, "tpre") ++ cell(true, true, "tpost") ++
      cell(false, false, "cpre") ++ cell(false, true, "cpost")
    e.agg(cells.head, cells.tail: _*)
      .select(
        ($"s_tpre".cast(DoubleType) / $"n_tpre").as("mean_treated_pre"),
        ($"s_tpost".cast(DoubleType) / $"n_tpost").as("mean_treated_post"),
        ($"s_cpre".cast(DoubleType) / $"n_cpre").as("mean_control_pre"),
        ($"s_cpost".cast(DoubleType) / $"n_cpost").as("mean_control_post"))
      .withColumn("did_estimate",
        ($"mean_treated_post" - $"mean_treated_pre") -
          ($"mean_control_post" - $"mean_control_pre"))
  }
  private val q179Sql =
    """WITH e AS (SELECT value,
      |    (user_id % 2 = 1) AS treated,
      |    (epoch_ns(ts) // 86400000000000 >= 19738) AS post
      |  FROM events),
      |c AS (SELECT
      |  SUM(CASE WHEN treated AND NOT post THEN CAST(value AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) END) AS s_tpre,
      |  SUM(CASE WHEN treated AND NOT post THEN 1 ELSE 0 END) AS n_tpre,
      |  SUM(CASE WHEN treated AND post THEN CAST(value AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) END) AS s_tpost,
      |  SUM(CASE WHEN treated AND post THEN 1 ELSE 0 END) AS n_tpost,
      |  SUM(CASE WHEN NOT treated AND NOT post THEN CAST(value AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) END) AS s_cpre,
      |  SUM(CASE WHEN NOT treated AND NOT post THEN 1 ELSE 0 END) AS n_cpre,
      |  SUM(CASE WHEN NOT treated AND post THEN CAST(value AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) END) AS s_cpost,
      |  SUM(CASE WHEN NOT treated AND post THEN 1 ELSE 0 END) AS n_cpost
      |  FROM e),
      |m AS (SELECT
      |  CAST(s_tpre AS DOUBLE) / n_tpre AS mean_treated_pre,
      |  CAST(s_tpost AS DOUBLE) / n_tpost AS mean_treated_post,
      |  CAST(s_cpre AS DOUBLE) / n_cpre AS mean_control_pre,
      |  CAST(s_cpost AS DOUBLE) / n_cpost AS mean_control_post
      |  FROM c)
      |SELECT *, (mean_treated_post - mean_treated_pre)
      |  - (mean_control_post - mean_control_pre) AS did_estimate
      |FROM m""".stripMargin

  // q180 — seasonality grid: event volume and mean value per
  // (day-of-week, hour-of-day). Both keys are pure integer epoch math
  // ((day+4) mod 7, 0 = Sunday; hour mod 24) — no engine calendar
  // functions with divergent week conventions. One combiner aggregate.
  private def q180(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .withColumn("dow", expr("((ts DIV 86400000000000) + 4) % 7").cast(LongType))
      .withColumn("hod", expr("(ts DIV 3600000000000) % 24").cast(LongType))
      .groupBy($"dow", $"hod")
      .agg(count(lit(1)).as("n"), davg($"value").as("mean_value"))
      .orderBy($"dow", $"hod")
  }
  private val q180Sql =
    s"""SELECT ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow,
       |  (epoch_ns(ts) // 3600000000000) % 24 AS hod,
       |  COUNT(*) AS n, ${davgSql("value")} AS mean_value
       |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin

  // q183 — seasonality-adjusted anomaly counts: events whose value sits
  // more than 1.5σ from their own (day-of-week, hour-of-day) cell mean —
  // composes the q180 seasonal keys with the exact-moment z-score op
  // (Extended.zscoreOutliers): a Monday-9am reading is judged against
  // Monday-9am behavior, not the global mean. Values are exact integer
  // cents so the moment sums stay in long range at any realistic cell
  // size; z² is the documented identical-IEEE-tree double.
  private def q183(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val D = DecimalType(30, 6)
    val e = Tables.events(s, d)
      .withColumn("dow", expr("((ts DIV 86400000000000) + 4) % 7").cast(LongType))
      .withColumn("hod", expr("(ts DIV 3600000000000) % 24").cast(LongType))
      .withColumn("value_c", ($"value".cast(D) * 100).cast(LongType))
    Extended.zscoreOutliers(e, "value_c", Seq("dow", "hod"), zThreshold = 1.5)
      .groupBy($"dow", $"hod")
      .agg(count(lit(1)).as("n"),
        sum($"is_outlier".cast(LongType)).as("n_anomalies"))
      .orderBy($"dow", $"hod")
  }
  private val q183Sql =
    """WITH e AS (SELECT
      |    ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow,
      |    (epoch_ns(ts) // 3600000000000) % 24 AS hod,
      |    CAST(CAST(value AS DECIMAL(30,6)) * 100 AS BIGINT) AS x
      |  FROM events),
      |st AS (SELECT dow, hod, COUNT(*) AS n, SUM(x) AS s,
      |    SUM(x * x) AS q FROM e GROUP BY 1, 2)
      |SELECT dow, hod, n,
      |  CAST(SUM(CASE WHEN
      |    (CASE WHEN n::HUGEINT * q - s::HUGEINT * s = 0 THEN 0.0
      |     ELSE (CAST(n::HUGEINT * x - s AS DOUBLE)
      |           * CAST(n::HUGEINT * x - s AS DOUBLE)
      |           * CAST(n - 1 AS DOUBLE))
      |          / (CAST(n AS DOUBLE)
      |             * CAST(n::HUGEINT * q - s::HUGEINT * s AS DOUBLE))
      |     END) > 2.25 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      |FROM e JOIN st USING (dow, hod)
      |GROUP BY dow, hod, n ORDER BY dow, hod""".stripMargin

  /** Time-decay attribution: conversion credit splits across a user's
    * prior touches with weight halving per `halflifeSec` of age
    * (w = 2^(30 − min(ageBuckets, 30)) — exact powers of two, no float
    * decay), floor-ppm normalized per user like [[attributionLinear]].
    * Recency-weighted credit, the standard middle ground between
    * last-touch (all recency) and linear (none).
    *
    * Scale: same windowless min-agg + combiner skeleton as the other
    * attribution ops. */
  def attributionDecay(df: DataFrame, userCol: String, tsSecCol: String,
      typeCol: String, convType: String, touchTypes: Seq[String],
      halflifeSec: Long): DataFrame = {
    require(touchTypes.nonEmpty, "need at least one touch type")
    require(halflifeSec > 0, "halflife must be positive")
    val conv = df.filter(col(typeCol) === convType)
      .groupBy(col(userCol)).agg(min(col(tsSecCol)).as("t_conv"))
    val touches = df.filter(col(typeCol).isin(touchTypes: _*))
      .join(conv, Seq(userCol))
      .filter(col(tsSecCol) < col("t_conv"))
      .withColumn("__age", col("t_conv") - col(tsSecCol))
      .withColumn("__b",
        least(expr(s"__age DIV ${halflifeSec}L"), lit(30L)).cast(IntegerType))
      .withColumn("__w", expr("shiftleft(1L, 30 - __b)"))
    val totals = touches.groupBy(col(userCol)).agg(sum(col("__w")).as("__tw"))
    touches.join(totals, Seq(userCol))
      .select(col(typeCol).as("touch_type"),
        expr("__w * 1000000 DIV __tw").as("__credit"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"), sum(col("__credit")).as("credit_ppm"))
  }

  // q184 — recency-weighted credit for view vs click (1-day half-life).
  private def q184(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    attributionDecay(
        Tables.events(s, d).withColumn("sec", expr("ts DIV 1000000000")),
        "user_id", "sec", "event_type",
        convType = "purchase", touchTypes = Seq("view", "click"),
        halflifeSec = 86400L)
      .orderBy($"touch_type")
  }
  private val q184Sql =
    """WITH e AS (SELECT user_id, event_type,
      |             epoch_ns(ts) // 1000000000 AS sec FROM events),
      |cv AS (SELECT user_id, min(sec) AS t_conv FROM e
      |       WHERE event_type = 'purchase' GROUP BY 1),
      |tc AS (SELECT e.user_id, e.event_type,
      |         (1::BIGINT << (30 - CAST(least((cv.t_conv - e.sec) // 86400, 30) AS INTEGER))) AS w
      |       FROM e JOIN cv USING (user_id)
      |       WHERE e.event_type IN ('view', 'click') AND e.sec < cv.t_conv),
      |tw AS (SELECT user_id, SUM(w) AS tw FROM tc GROUP BY 1)
      |SELECT event_type AS touch_type, COUNT(*) AS n_touches,
      |  CAST(SUM(w * 1000000 // tw.tw) AS BIGINT) AS credit_ppm
      |FROM tc JOIN tw USING (user_id)
      |GROUP BY event_type ORDER BY touch_type""".stripMargin

  // q198 — calendar-gap detector: days inside the data's span with NO
  // events (pipeline-outage / ingest-hole check). The day calendar comes
  // from a 1-row min/max broadcast exploded map-side (bounded by the span
  // in days, not the data); observed days anti-join it away.
  // q226 — ingestion freshness report: per event type, the last-seen
  // instant, its lag behind the corpus frontier, and today-vs-yesterday
  // volumes relative to that frontier — the staleness dashboard every
  // ingest pipeline watches. Two combiner aggregates + a 1-row frontier
  // broadcast; exact integer seconds throughout.
  private def q226(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).withColumn("sec", expr("ts DIV 1000000000"))
    val frontier = ev.agg(max($"sec").as("fsec"))
    ev.join(broadcast(frontier))
      .groupBy($"event_type")
      .agg(max($"sec").as("last_sec"),
        max($"fsec").as("frontier_sec"),
        sum(when($"sec" >= $"fsec" - 86400L, 1L).otherwise(0L)).as("n_last_day"),
        sum(when($"sec" >= $"fsec" - 172800L && $"sec" < $"fsec" - 86400L, 1L)
          .otherwise(0L)).as("n_prior_day"))
      .withColumn("lag_sec", $"frontier_sec" - $"last_sec")
      .select($"event_type", $"last_sec", $"lag_sec", $"n_last_day", $"n_prior_day")
      .orderBy($"event_type")
  }
  private val q226Sql =
    """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000000000 AS sec FROM events),
      |f AS (SELECT MAX(sec) AS fsec FROM e)
      |SELECT event_type, MAX(sec) AS last_sec,
      |  (SELECT fsec FROM f) - MAX(sec) AS lag_sec,
      |  CAST(SUM(CASE WHEN sec >= (SELECT fsec FROM f) - 86400 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_last_day,
      |  CAST(SUM(CASE WHEN sec >= (SELECT fsec FROM f) - 172800
      |      AND sec < (SELECT fsec FROM f) - 86400 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_prior_day
      |FROM e GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  private def q198(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // hour granularity keeps the check non-vacuous at small SF; the
    // summary row still reports even when coverage is complete
    val hours = Tables.events(s, d)
      .select(expr("ts DIV 3600000000000").as("hr")).distinct()
    val span = hours.agg(min($"hr").as("lo"), max($"hr").as("hi"))
    val calendar = span.select(explode(expr("sequence(lo, hi)")).as("hr"))
    val gaps = calendar.join(hours, Seq("hr"), "left_anti")
    gaps.agg(count(lit(1)).as("gap_hours"),
        coalesce(min($"hr"), lit(null).cast(LongType)).as("first_gap_hr"))
      .join(broadcast(span))
      .select((($"hi" - $"lo") + 1).cast(LongType).as("span_hours"),
        $"gap_hours", $"first_gap_hr")
  }
  private val q198Sql =
    """WITH hrs AS (SELECT DISTINCT epoch_ns(ts) // 3600000000000 AS hr
      |  FROM events),
      |span AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM hrs),
      |cal AS (SELECT unnest(range(lo, hi + 1)) AS hr FROM span),
      |gaps AS (SELECT cal.hr FROM cal
      |  WHERE NOT EXISTS (SELECT 1 FROM hrs WHERE hrs.hr = cal.hr))
      |SELECT CAST(hi - lo + 1 AS BIGINT) AS span_hours,
      |  (SELECT COUNT(*) FROM gaps) AS gap_hours,
      |  (SELECT CAST(MIN(hr) AS BIGINT) FROM gaps) AS first_gap_hr
      |FROM span""".stripMargin

  // q199 — peak hour per day: the hour-of-day with the most events for
  // every day (argmax via min_by on (-n, hod) — combiner-friendly, ties
  // to the earliest hour; never a day-keyed rank window).
  private def q199(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .withColumn("day", expr("ts DIV 86400000000000").cast(LongType))
      .withColumn("hod", expr("(ts DIV 3600000000000) % 24").cast(LongType))
      .groupBy($"day", $"hod").agg(count(lit(1)).as("n"))
      .groupBy($"day")
      .agg(min_by(struct($"hod", $"n"), struct((-$"n").as("nn"), $"hod".as("h")))
        .as("__p"))
      .select($"day", $"__p.hod".as("peak_hour"), $"__p.n".as("peak_events"))
      .orderBy($"day")
  }
  private val q199Sql =
    """WITH c AS (SELECT epoch_ns(ts) // 86400000000000 AS day,
      |    (epoch_ns(ts) // 3600000000000) % 24 AS hod, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT day, hod, n, ROW_NUMBER() OVER (PARTITION BY day
      |    ORDER BY n DESC, hod ASC) AS rn FROM c)
      |SELECT CAST(day AS BIGINT) AS day, CAST(hod AS BIGINT) AS peak_hour,
      |  n AS peak_events
      |FROM r WHERE rn = 1 ORDER BY day""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q198_calendar_gaps" -> q198,
    "q226_ingest_freshness" -> q226,
    "q199_peak_hours" -> q199,
    "q183_seasonal_anomaly" -> q183,
    "q184_attribution_decay" -> q184,
    "q179_diff_in_diff" -> q179,
    "q180_seasonality" -> q180,
    "q176_kmv_cardinality" -> q176,
    "q171_funnel_latency" -> q171,
    "q170_rollup_serving" -> q170,
    "q169_ab_test" -> q169,
    "q160_out_of_order" -> q160,
    "q157_ewma_smooth" -> q157,
    "q159_kmv_jaccard" -> q159,
    "q118_time_weighted_avg" -> q118,
    "q137_cep_pattern" -> q137,
    "q140_attribution_linear" -> q140,
    "q145_debounce" -> q145,
    "q146_user_lifecycle" -> q146,
    "q119_rolling_distinct" -> q119,
    "q123_session_paths" -> q123,
    "q124_attribution" -> q124,
    "q99_change_history" -> q99,
    "q211_scd2_point_in_time" -> q211,
    "q107_funnel_windowed" -> q107,
    "q109_session_metrics" -> q109,
    "q110_event_transitions" -> q110,
    "q91_rolling_range" -> q91,
    "q48_asof_join" -> q48,
    "q266_asof_pure_sql" -> q266,
    "q25_json_ingest" -> q25,
    "q250_ingest_stats" -> q250,
    "q26_window_tumbling" -> q26,
    "q27_sessionize" -> q27,
    "q28_rollup_first_last" -> q28,
    "q51_window_sliding" -> q51,
    "q70_funnel" -> q70,
    "q72_retention" -> q72,
    "q81_gapfill_locf" -> q81,
  )

  val oracles: Map[String, String] = Map(
    "q198_calendar_gaps" -> q198Sql,
    "q226_ingest_freshness" -> q226Sql,
    "q199_peak_hours" -> q199Sql,
    "q183_seasonal_anomaly" -> q183Sql,
    "q184_attribution_decay" -> q184Sql,
    "q179_diff_in_diff" -> q179Sql,
    "q180_seasonality" -> q180Sql,
    "q176_kmv_cardinality" -> q176Sql,
    "q171_funnel_latency" -> q171Sql,
    "q170_rollup_serving" -> q170Sql,
    "q169_ab_test" -> q169Sql,
    "q160_out_of_order" -> q160Sql,
    "q157_ewma_smooth" -> q157Sql,
    "q159_kmv_jaccard" -> q159Sql,
    "q118_time_weighted_avg" -> q118Sql,
    "q137_cep_pattern" -> q137Sql,
    "q140_attribution_linear" -> q140Sql,
    "q145_debounce" -> q145Sql,
    "q146_user_lifecycle" -> q146Sql,
    "q119_rolling_distinct" -> q119Sql,
    "q123_session_paths" -> q123Sql,
    "q124_attribution" -> q124Sql,
    "q99_change_history" -> q99Sql,
    "q211_scd2_point_in_time" -> q211Sql,
    "q107_funnel_windowed" -> q107Sql,
    "q109_session_metrics" -> q109Sql,
    "q110_event_transitions" -> q110Sql,
    "q91_rolling_range" -> q91Sql,
    "q51_window_sliding" -> q51Sql,
    "q48_asof_join" -> q48Sql,
    "q266_asof_pure_sql" -> q266Sql,
    "q25_json_ingest" -> q25Sql,
    "q250_ingest_stats" -> q250Sql,
    "q26_window_tumbling" -> q26Sql,
    "q27_sessionize" -> q27Sql,
    "q28_rollup_first_last" -> q28Sql,
    "q70_funnel" -> q70Sql,
    "q72_retention" -> q72Sql,
    "q81_gapfill_locf" -> q81Sql,
  )
}
