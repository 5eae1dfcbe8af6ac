package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Events, Ranges, TextStats}

/** Round-5 analytics additions: BM25 retrieval (q69), event funnel (q70),
  * chunking with overlap (q71), cohort retention (q72) — semantics on
  * hand-computed inputs plus plan-shape locks (no hot-key windows, broadcast
  * where a side is small by construction). */
class AnalyticsOpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ------------------------------------------------------------ funnel

  // user 1: full ordered chain; user 2: click BEFORE view (must not count),
  // none after; user 3: view only; user 4: no view at all (absent).
  private val funnelEvents = Seq(
    (1L, 100L, "view"), (1L, 200L, "click"), (1L, 150L, "click"), (1L, 300L, "purchase"),
    (2L, 500L, "click"), (2L, 600L, "view"),
    (3L, 700L, "view"), (3L, 650L, "purchase"),
    (4L, 800L, "purchase")
  ).toDF("user_id", "ts", "event_type")

  test("funnel: strictly-increasing chains only; first-step non-entrants absent") {
    val out = Events.funnel(funnelEvents, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((Option(r.get(r.fieldIndex("t0"))), Option(r.get(r.fieldIndex("t1"))),
          Option(r.get(r.fieldIndex("t2")))), r.getAs[Int]("stage"))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    // user 1: t_click = first click AFTER the view (150 < 200 both qualify —
    // 150 is after 100, so min is 150), purchase after that
    assert(out(1L) == ((Some(100L), Some(150L), Some(300L)), 3))
    // user 2's click at 500 precedes the view at 600: not a conversion
    assert(out(2L) == ((Some(600L), None, None), 1))
    // user 3's purchase precedes the view: stage stops at 1
    assert(out(3L) == ((Some(700L), None, None), 1))
  }

  test("funnel maxGap bounds each step-to-step wait (first-touch anchoring)") {
    // user 1: view 100 → clicks 150/200 → purchase 300. gap 60: click 150
    // qualifies (≤ 160) but purchase 300 > 150+60 drops; gap 40: no click
    // within (100, 140] at all
    def run(gap: Long) = Events.funnel(funnelEvents, "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"), maxGap = Some(gap))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("stage")).toMap
    assert(run(60L)(1L) == 2)
    assert(run(40L)(1L) == 1)
    assert(run(1000L)(1L) == 3) // wide window ≡ unbounded on this data
  }

  test("funnel plans as joins + partial aggregates, never a per-user window") {
    val p = Events.funnel(funnelEvents, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase")).queryExecution.executedPlan.toString()
    assert(!p.contains("Window"), s"funnel must not sort events per user:\n$p")
    assert(p.contains("partial_min") || p.contains("partial min"),
      s"step minima must combine map-side:\n$p")
  }

  // ---------------------------------------------------------- retention

  test("retention cohorts by first-seen bucket with exact day offsets") {
    val day = 86400L * 1000000000L
    val ev = Seq(
      (1L, 0L * day), (1L, 2L * day + 5L), // cohort day 0, active offsets 0 and 2
      (2L, 0L * day + 99L), (2L, 0L * day + 200L), // cohort 0, offset 0 only (dedup)
      (3L, 1L * day), (3L, 2L * day) // cohort 1, offsets 0 and 1
    ).toDF("user_id", "ts")
    val out = Events.retention(ev, "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((0L, 0L) -> 2L, (0L, 2L) -> 1L, (1L, 0L) -> 1L, (1L, 1L) -> 1L))
  }

  // ----------------------------------------------------------- chunking

  test("chunkDocs boundaries: short doc, exact width, width+1, long doc") {
    def text(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, text(10)),  // n < width: one short chunk
      (2L, text(64)),  // n == width: exactly one chunk
      (3L, text(65)),  // one token past: second chunk [48, 65)
      (4L, text(200))  // 1 + ceil(136/48) = 4 chunks
    ).toDF("id", "txt")
    val out = Curation.chunkDocs(docs, "id", "txt")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getInt(3))).toMap
    assert(out == Map(
      (1L, 0) -> (0, 10),
      (2L, 0) -> (0, 64),
      (3L, 0) -> (0, 64), (3L, 1) -> (48, 17),
      (4L, 0) -> (0, 64), (4L, 1) -> (48, 64), (4L, 2) -> (96, 64), (4L, 3) -> (144, 56)))
  }

  test("chunkDocs covers every token and overlaps by width - stride") {
    val docs = Seq((1L, (1 to 500).map(i => s"t$i").mkString(" "))).toDF("id", "txt")
    val rows = Curation.chunkDocs(docs, "id", "txt", width = 64, stride = 48)
      .orderBy("chunk_id").collect()
      .map(r => (r.getInt(2), r.getInt(3)))
    assert(rows.head._1 == 0)
    assert(rows.last._1 + rows.last._2 == 500, "last chunk must end at n")
    rows.sliding(2).foreach { case Array((s1, l1), (s2, _)) =>
      assert(s2 == s1 + 48)
      assert(s1 + l1 - s2 == 16, "consecutive chunks overlap by width - stride")
    case _ => ()
    }
  }

  test("chunkDocs is map-only: no exchange in the plan") {
    val docs = Seq((1L, "a b c")).toDF("id", "txt")
    val p = Curation.chunkDocs(docs, "id", "txt").queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  // --------------------------------------------------------------- bm25

  // 4 docs; "rare" appears in doc 4 only, "common" in all docs.
  private val bmDocs = Seq(
    (1L, "common alpha beta gamma"),
    (2L, "common common delta epsilon"),
    (3L, "common zeta eta theta"),
    (4L, "rare common iota kappa")
  ).toDF("id", "txt")

  /** The documented fixed-point formula, reimplemented independently. */
  private def bm25Ref(tf: Long, df: Long, dl: Long, n: Long, tot: Long): Long = {
    val c = n * 1000000L / tot
    val idf = (2 * (n - df) + 1) * 1000L / (2 * df + 1)
    val k1t = (1200000L * (250000L + (750000L * dl * c) / 1000000L)) / 1000000L
    idf * ((2200000000L * tf) / (1000000L * tf + k1t))
  }

  test("bm25TopK matches the hand formula; rare-term doc outranks common-only") {
    val out = TextStats.bm25TopK(bmDocs, "id", "txt", Seq("rare", "common"), k = 10)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (n, tot) = (4L, 16L)
    val exp1 = bm25Ref(1, 4, 4, n, tot) // doc 1: common tf=1, df=4, dl=4
    val exp2 = bm25Ref(2, 4, 4, n, tot) // doc 2: common tf=2
    val exp4 = bm25Ref(1, 4, 4, n, tot) + bm25Ref(1, 1, 4, n, tot) // common + rare
    assert(out(1L) == (1L, exp1))
    assert(out(2L) == (1L, exp2))
    assert(out(3L) == (1L, exp1))
    assert(out(4L) == (2L, exp4))
    // the rare term dominates any common-term tf inflation
    assert(out(4L)._2 > out(2L)._2 && out(2L)._2 > out(1L)._2)
  }

  test("bm25TopK respects k with deterministic doc_id tiebreak") {
    val top = TextStats.bm25TopK(bmDocs, "id", "txt", Seq("common"), k = 2)
      .collect().map(_.getLong(0)).toSeq
    // equal scores for docs 1 and 3 (same tf/dl): tiebreak keeps lower ids
    assert(top.head == 2L && top(1) == 1L)
  }

  // ----------------------------------------------------- range join

  test("pointInInterval matches a naive cross-join + filter on random data") {
    val rnd = new scala.util.Random(42)
    val pts = Seq.tabulate(200)(i => (i.toLong, rnd.nextInt(1000).toLong)).toDF("pid", "p")
    val ivs = Seq.tabulate(60) { i =>
      val lo = rnd.nextInt(1000).toLong
      (i.toLong, lo, lo + rnd.nextInt(120).toLong) // includes empty intervals
    }.toDF("iid", "lo", "hi")
    for (w <- Seq(1L, 7L, 64L, 2000L)) {
      val got = Ranges.pointInInterval(pts, "p", ivs, "lo", "hi", w)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = pts.crossJoin(ivs)
        .filter($"p" >= $"lo" && $"p" < $"hi")
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"bucketWidth=$w")
      // exactly-once pairing: no dedup hides double matches
      val n = Ranges.pointInInterval(pts, "p", ivs, "lo", "hi", w).count()
      assert(n == want.size.toLong, s"pairs must meet in exactly one bucket (w=$w)")
    }
  }

  test("intervalOverlap matches a naive cross-join + filter, each pair exactly once") {
    val rnd = new scala.util.Random(7)
    val as = Seq.tabulate(80) { i =>
      val lo = rnd.nextInt(500).toLong
      (i.toLong, rnd.nextInt(3).toLong, lo, lo + rnd.nextInt(200).toLong)
    }.toDF("aid", "akey", "alo", "ahi")
    val bs = Seq.tabulate(80) { i =>
      val lo = rnd.nextInt(500).toLong
      (i.toLong, rnd.nextInt(3).toLong, lo, lo + rnd.nextInt(200).toLong)
    }.toDF("bid", "bkey", "blo", "bhi")
    for (w <- Seq(1L, 30L, 256L, 4096L)) {
      val joined = Ranges.intervalOverlap(as, "alo", "ahi", bs, "blo", "bhi", w,
        extraKeys = Seq(("akey", "bkey")))
      val got = joined.select("aid", "bid").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val want = as.crossJoin(bs)
        .filter($"akey" === $"bkey" && $"alo" < $"bhi" && $"blo" < $"ahi")
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.toSet == want, s"bucketWidth=$w")
      assert(got.length == want.size, s"each pair must emit exactly once (w=$w)")
    }
  }

  test("pointInInterval plans as an equi-join on the bucket, not a nested loop") {
    val pts = Seq((1L, 5L)).toDF("pid", "p")
    val ivs = Seq((1L, 0L, 10L)).toDF("iid", "lo", "hi")
    val p = Ranges.pointInInterval(pts, "p", ivs, "lo", "hi", 8L)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct"), s"range join must never go cartesian:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected a hash/merge equi-join on the bucket key:\n$p")
    // the only nested loop allowed is the BROADCAST residual for wide
    // outlier intervals — never the main pairing
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    assert(bnlj <= 1, s"only the wide-interval residual may nested-loop:\n$p")
  }

  test("a degenerate (domain-spanning) interval takes the broadcast residual, not an explode") {
    // hi = a MAX_LONG-ish sentinel: the explode path would try to generate
    // ~10^17 bucket rows (sequence() refuses); the guard routes it through
    // the broadcast residual and the answer still matches naive exactly-once
    val pts = Seq.tabulate(50)(i => (i.toLong, i * 37L % 1000)).toDF("pid", "p")
    val ivs = Seq(
      (1L, 10L, 60L), (2L, 500L, 800L),            // narrow
      (3L, 0L, Long.MaxValue / 2),                  // degenerate sentinel
      (4L, 100L, 100L + 8L * 300)                   // wide outlier (300 buckets)
    ).toDF("iid", "lo", "hi")
    val got = Ranges.pointInInterval(pts, "p", ivs, "lo", "hi", bucketWidth = 8L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = pts.crossJoin(ivs).filter($"p" >= $"lo" && $"p" < $"hi")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet == want)
    assert(got.length == want.size, "wide + narrow paths must not double-emit")
  }

  test("intervalOverlap with domain-spanning intervals on both sides stays exact") {
    val as = Seq(
      (1L, 0L, 40L), (2L, 100L, 160L),
      (3L, 0L, Long.MaxValue / 2)                   // wide left
    ).toDF("aid", "alo", "ahi")
    val bs = Seq(
      (10L, 20L, 50L), (11L, 150L, 200L),
      (12L, 5L, Long.MaxValue / 3)                  // wide right
    ).toDF("bid", "blo", "bhi")
    val got = Ranges.intervalOverlap(as, "alo", "ahi", bs, "blo", "bhi",
        bucketWidth = 16L)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = as.crossJoin(bs)
      .filter($"alo" < $"bhi" && $"blo" < $"ahi")
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet == want)
    assert(got.length == want.size, "each overlapping pair must emit exactly once")
  }

  // ---------------------------------------------- histogram quantiles

  test("histQuantiles lands within one bin width of the exact percentile") {
    val vals = (1 to 10000).map(_.toDouble)
    val df = vals.toDF("v")
    val out = graft.operators.Extended
      .histQuantiles(df, "v", Seq(50, 95, 99), lo = 0.0, width = 16.0, bins = 1024)
      .collect().map(r => r.getAs[Int]("pct") -> r.getAs[Double]("est")).toMap
    for ((pct, est) <- out) {
      val exact = vals(math.ceil(pct / 100.0 * vals.size).toInt - 1)
      assert(math.abs(est - exact) <= 16.0, s"p$pct est=$est exact=$exact")
      assert(est >= exact, "upper bin edge can never undershoot the exact value")
    }
  }

  test("histQuantiles per-group: each group's estimate brackets its own exact value") {
    val df = ((1 to 1000).map(i => ("a", i.toDouble))
      ++ (1 to 100).map(i => ("b", (i * 50).toDouble))).toDF("g", "v")
    val out = graft.operators.Extended
      .histQuantiles(df, "v", Seq(50, 99), lo = 0.0, width = 8.0, bins = 1024,
        groupCols = Seq("g"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val exact = Map(("a", 50) -> 500.0, ("a", 99) -> 990.0,
      ("b", 50) -> 2500.0, ("b", 99) -> 4950.0)
    for (((g, pct), e) <- exact) {
      val est = out((g, pct))
      assert(est >= e && est - e <= 8.0, s"$g p$pct est=$est exact=$e")
    }
  }

  test("histQuantilesAuto derives bins from data range; constant column degrades to one bin") {
    val vals = (1 to 5000).map(i => 3.0 + i * 0.37)
    val df = vals.toDF("v")
    val width = (vals.max - vals.min) / 512
    val out = graft.operators.Extended
      .histQuantilesAuto(df, "v", Seq(50, 95), bins = 512)
      .collect().map(r => r.getAs[Int]("pct") -> r.getAs[Double]("est")).toMap
    for ((pct, est) <- out) {
      val exact = vals(math.ceil(pct / 100.0 * vals.size).toInt - 1)
      assert(est >= exact && est - exact <= 2 * width, s"p$pct est=$est exact=$exact")
    }
    // hi == lo: one bin of width 1, estimate = lo + 1
    val const = Seq(7.0, 7.0, 7.0).toDF("v")
    val c = graft.operators.Extended
      .histQuantilesAuto(const, "v", Seq(50), bins = 64).collect().head
    assert(c.getAs[Int]("bin") == 0 && c.getAs[Double]("est") == 8.0)
  }

  test("histQuantiles clamps out-of-range values into the edge bins") {
    val df = Seq(-100.0, 1.0, 5.0, 1e9).toDF("v")
    val out = graft.operators.Extended
      .histQuantiles(df, "v", Seq(100), lo = 0.0, width = 1.0, bins = 10)
      .collect().head
    assert(out.getAs[Int]("bin") == 9, "overflow lands in the last bin")
  }

  test("histQuantiles bin counting combines map-side (partial aggregate)") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val p = graft.operators.Extended
      .histQuantiles(df, "v", Seq(50), lo = 0.0, width = 1.0, bins = 128)
      .queryExecution.executedPlan.toString()
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"bin histogram must be a combiner-friendly aggregate:\n$p")
  }

  test("bm25TopK plan: df broadcast back, term filter below the aggregate, no window") {
    val q = TextStats.bm25TopK(bmDocs, "id", "txt", Seq("rare", "common"), k = 5)
    val p = q.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), s"df join-back must broadcast:\n$p")
    assert(!p.contains("Window"), s"top-k must be TakeOrdered, not a window:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"expected TakeOrderedAndProject:\n$p")
  }

  // ------------------------------------------------------------ gap-fill

  test("gapFill densifies the per-key tick grid and LOCF-fills values") {
    val daily = Seq(
      (1L, 10L, 5.0), (1L, 13L, 7.0), // days 11, 12 missing
      (2L, 20L, 1.0)                  // single tick: nothing to fill
    ).toDF("k", "tick", "v")
    val out = Events.gapFill(daily, Seq("k"), "tick", Seq("v"))
      .orderBy("k", "tick")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("tick"),
        Option(r.get(r.fieldIndex("v"))), r.getAs[Double]("v_filled")))
    assert(out.toSeq == Seq(
      (1L, 10L, Some(5.0), 5.0),
      (1L, 11L, None, 5.0),     // imputed: original NULL marks the gap
      (1L, 12L, None, 5.0),
      (1L, 13L, Some(7.0), 7.0),
      (2L, 20L, Some(1.0), 1.0)))
  }

  test("gapFill grid size is span-bounded, independent of upstream row counts") {
    // the grid must be Σ(span+1) per key — the operator's cost model
    val daily = Seq((1L, 100L, 1.0), (1L, 109L, 2.0), (2L, 5L, 3.0))
      .toDF("k", "tick", "v")
    assert(Events.gapFill(daily, Seq("k"), "tick", Seq("v")).count() == 11L)
  }

  // ------------------------------------------------------------ outliers

  test("zscoreOutliers: exact moments flag the planted outlier; constant group scores 0") {
    val df = Seq(("a", 10L), ("a", 10L), ("a", 10L), ("a", 10L), ("a", 50L),
      ("b", 7L), ("b", 7L)).toDF("g", "x")
    val out = graft.operators.Extended
      .zscoreOutliers(df, "x", Seq("g"), zThreshold = 1.5)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("x"),
        r.getAs[Double]("z2"), r.getAs[Int]("is_outlier")))
    // group a: n=5, S=90, Q=2900 → m = n·Q − S² = 6400
    //   x=10: dev=−40 → z² = 1600·4/(5·6400) = 0.2;  x=50: dev=160 → z² = 3.2
    out.filter(_._1 == "a").foreach {
      case (_, 10L, z2, f) => assert(z2 == 0.2 && f == 0)
      case (_, 50L, z2, f) => assert(z2 == 3.2 && f == 1)
      case r => fail(s"unexpected row $r")
    }
    // constant group: zero variance → z² defined as 0, never NaN
    out.filter(_._1 == "b").foreach { case (_, _, z2, f) =>
      assert(z2 == 0.0 && f == 0)
    }
  }

  test("zscoreOutliers plan: moments broadcast back, never a group-keyed window") {
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("g", "x")
    val p = graft.operators.Extended.zscoreOutliers(df, "x", Seq("g"))
      .queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), s"stats join-back must broadcast:\n$p")
    assert(!p.contains("Window"), s"moments must not be a group window:\n$p")
  }

  // ------------------------------------------------------------ postings

  test("postings: banded inverted index, sorted ids, stop words never collected") {
    val docs = Seq(
      (3L, "the apple pie"), (1L, "the apple"), (2L, "the pear pear"),
      (4L, "the"), (5L, "the fig")
    ).toDF("id", "txt")
    val out = TextStats.postings(docs, "id", "txt", minDf = 2L, maxDf = 4L)
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("df"),
        r.getAs[String]("postings"))).toSet
    // "the" (df=5 > maxDf) excluded; within-doc repeats count once;
    // singletons (pie/pear/fig, df=1 < minDf) excluded; ids ascend
    assert(out == Set(("apple", 2L, "1,3")))
    val wide = TextStats.postings(docs, "id", "txt", minDf = 1L, maxDf = 5L)
      .collect().map(r => r.getAs[String]("term") -> r.getAs[String]("postings")).toMap
    assert(wide("the") == "1,2,3,4,5" && wide("pear") == "2")
  }

  test("postings plan: eligibility broadcasts back before the list aggregate") {
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("id", "txt")
    val p = TextStats.postings(docs, "id", "txt", minDf = 1L, maxDf = 2L)
      .queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"),
      s"vocab filter must broadcast back (lists stay <= maxDf):\n$p")
    assert(!p.contains("Window"), s"no term-keyed window:\n$p")
  }

  // ------------------------------------------------------------ pagerank

  test("pageRank: exact fixed-point ranks on a hand-computed graph") {
    // A→B, A→C, B→C, C→A; base 10⁹, damping 0.85, teleport 1.5e8
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"))
      .toDF("s", "t")
    def ranks(iters: Int) =
      graft.operators.Graphs.pageRank(edges, "s", "t", iters)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // iter 1: cs(A)=1e9 (from C), cs(B)=5e8 (A/2), cs(C)=1.5e9 (A/2 + B)
    assert(ranks(1) == Map(
      "A" -> 1000000000L, "B" -> 575000000L, "C" -> 1425000000L))
    // iter 2: cs(A)=1425e6, cs(B)=5e8, cs(C)=5e8+575e6=1075e6
    assert(ranks(2) == Map(
      "A" -> 1361250000L, "B" -> 575000000L, "C" -> 1063750000L))
  }

  test("personalized pageRank: teleport and start mass land only on seeds") {
    // A→B, B→C, C→A with seed {A}: mass flows A→B→C, never teleports to B/C
    val edges = Seq(("A", "B"), ("B", "C"), ("C", "A")).toDF("s", "t")
    val seeds = Seq("A").toDF("id")
    def ranks(iters: Int) =
      graft.operators.Graphs.pageRank(edges, "s", "t", iters, seeds = Some(seeds))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // r0 = (A: 1.5e8, B: 0, C: 0)
    // iter1: cs(B) = r(A) = 1.5e8, cs(C) = 0, cs(A) = 0
    //   A = 1.5e8 + 0; B = 0 + 0.85·1.5e8 = 127500000; C = 0
    assert(ranks(1) == Map("A" -> 150000000L, "B" -> 127500000L, "C" -> 0L))
    // iter2: cs(B) = 1.5e8, cs(C) = 127500000, cs(A) = 0
    //   C = 0 + 0.85·127500000 = 108375000
    assert(ranks(2) == Map(
      "A" -> 150000000L, "B" -> 127500000L, "C" -> 108375000L))
  }

  test("weighted pageRank splits rank proportionally to edge weight") {
    // A→B (w=3), A→C (w=1): W(A)=4, so B gets 3/4 of A's rank, C gets 1/4
    val edges = Seq(("A", "B", 3L), ("A", "C", 1L)).toDF("s", "t", "w")
    val got = graft.operators.Graphs.pageRank(edges, "s", "t", iters = 1,
        weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // c(B) = (1e9 div 4)·3 = 7.5e8 → r(B) = 1.5e8 + 0.85·7.5e8
    // c(C) = 2.5e8 → r(C) = 1.5e8 + 0.85·2.5e8; A gets teleport only
    assert(got == Map("A" -> 150000000L, "B" -> 787500000L,
      "C" -> 362500000L), s"got $got")
    // w = 1 everywhere reduces to the unweighted walk exactly
    val uw = Seq(("A", "B"), ("A", "C")).toDF("s", "t")
    val a = graft.operators.Graphs.pageRank(uw, "s", "t", iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = graft.operators.Graphs.pageRank(
        uw.withColumn("w", lit(1L)), "s", "t", iters = 2, weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, s"unweighted $a vs w=1 $b")
  }

  test("hits: exact max-normalized hub/authority scores on a hand-computed graph") {
    // A→C, B→C, B→D (bipartite: A,B hubs; C,D authorities), base 10⁶
    val edges = Seq(("A", "C"), ("B", "C"), ("B", "D")).toDF("s", "t")
    val got = graft.operators.Graphs.hits(edges, "s", "t", iters = 1)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // a_raw: C = h(A)+h(B) = 2e6, D = h(B) = 1e6; M = 2e6
    //   → a(C) = 1e6, a(D) = 5e5, a(A) = a(B) = 0
    // h_raw: A = a(C) = 1e6, B = a(C)+a(D) = 1.5e6; M = 1.5e6
    //   → h(B) = 1e6, h(A) = (1e6·1e6) div 1.5e6 = 666666
    assert(got == Map(
      "A" -> ((666666L, 0L)), "B" -> ((1000000L, 0L)),
      "C" -> ((0L, 1000000L)), "D" -> ((0L, 500000L))), s"got $got")
    // 2nd iteration keeps the max pinned at base and stays exact:
    // a_raw: C = 666666+1e6, D = 1e6; M = 1666666 → a(C) = 1e6,
    //   a(D) = (1e6·1e6) div 1666666 = 600000
    // h_raw: A = 1e6, B = 1.6e6; M = 1.6e6 → h(A) = 625000, h(B) = 1e6
    val got2 = graft.operators.Graphs.hits(edges, "s", "t", iters = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got2 == Map(
      "A" -> ((625000L, 0L)), "B" -> ((1000000L, 0L)),
      "C" -> ((0L, 1000000L)), "D" -> ((0L, 600000L))), s"got $got2")
  }

  test("tfidfCosinePairs: hand-computed weights, identical duplicate at 1.0, df cap") {
    // d1="a b", d2="a b", d3="a c": N=3, idf·1000 = {a:1000, b:1500, c:3000}
    // weights d1=d2={a:1000,b:1500} (norm 3.25e6), d3={a:1000,c:3000} (1e7)
    val docs = Seq((1L,"a b"), (2L,"a b"), (3L,"a c")).toDF("id", "txt")
    val got = graft.operators.TextStats
      .tfidfCosinePairs(docs, "id", "txt", maxDf = 3L, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val c12 = 3.25e6 / (math.sqrt(3.25e6) * math.sqrt(3.25e6))
    val c13 = 1.0e6 / (math.sqrt(3.25e6) * math.sqrt(1.0e7))
    assert(got == Map((1L,2L) -> ((2L, c12)), (1L,3L) -> ((1L, c13)),
      (2L,3L) -> ((1L, c13))), s"got $got")
    // maxDf = 2 removes 'a' from the vector space: d1/d3 no longer share
    // any term; d1/d2 still identical on {b}
    val capped = graft.operators.TextStats
      .tfidfCosinePairs(docs, "id", "txt", maxDf = 2L, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), s"got $capped")
  }

  test("bigramStats: map-side pairs, exact conditionals, short-doc guard") {
    val docs = Seq("a b a b c", "a b", "x", "").toDF("txt")
    val got = graft.operators.TextStats.bigramStats(docs, "txt")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // bigrams: (a,b)×3, (b,a)×1, (b,c)×1; unigram-as-w1: a=3, b=2
    // "x" (1 token) and "" contribute nothing — no fabricated null pairs
    assert(got == Map(
      ("a","b") -> ((3L, 1000000L)),       // 3·1e6 div 3
      ("b","a") -> ((1L, 500000L)),        // 1·1e6 div 2
      ("b","c") -> ((1L, 500000L))), s"got $got")
  }

  test("associationRules: hand-computed support, confidence and lift") {
    // baskets: {x,y}, {x,y}, {x,z}, {y}; N=4, c_x=3, c_y=3, c_z=1
    val rows = Seq((1L,"x"),(1L,"y"),(2L,"x"),(2L,"y"),(3L,"x"),(3L,"z"),(4L,"y"),
      (1L,"x")) // duplicate (basket,item) row must not inflate support
      .toDF("bk", "it")
    val got = graft.operators.Extended.associationRules(rows, "bk", "it", 2L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // only x↔y reaches support 2: conf(x→y) = 2e6 div 3 = 666666,
    // lift = 2·4/(3·3) = 8/9 both ways
    assert(got.keySet == Set(("x","y"), ("y","x")), s"got ${got.keySet}")
    assert(got(("x","y")) == ((2L, 666666L, 8.0 / 9.0)), s"got ${got(("x","y"))}")
    assert(got(("y","x")) == ((2L, 666666L, 8.0 / 9.0)), s"got ${got(("y","x"))}")
  }

  test("associationRules: maxBasketSize drops mega-baskets from every count") {
    // the hand data plus a 4-item mega-basket; cap=3 must exclude it from
    // pair counts, item counts AND the total — i.e. the capped run equals
    // the uncapped run on the data without the mega-basket
    val base = Seq((1L,"x"),(1L,"y"),(2L,"x"),(2L,"y"),(3L,"x"),(3L,"z"),(4L,"y"))
    val mega = Seq((5L,"x"),(5L,"y"),(5L,"z"),(5L,"w"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))
    val capped = graft.operators.Extended.associationRules(
        (base ++ mega).toDF("bk", "it"), "bk", "it", 2L,
        maxBasketSize = Some(3))
      .collect().map(key).toMap
    val without = graft.operators.Extended.associationRules(
        base.toDF("bk", "it"), "bk", "it", 2L)
      .collect().map(key).toMap
    assert(capped == without, s"capped $capped vs without-mega $without")
    // and the uncapped run over the full data differs (sanity that the
    // mega-basket actually moves the numbers)
    val uncapped = graft.operators.Extended.associationRules(
        (base ++ mega).toDF("bk", "it"), "bk", "it", 2L)
      .collect().map(key).toMap
    assert(uncapped != capped, "mega-basket should change uncapped stats")
  }

  test("labelPropagation: two cliques bridged by one edge settle into two communities") {
    // cliques {1,2,3} and {10,11,12}, bridge 3-10; labels start as ids
    val cl = Seq((1L,2L),(1L,3L),(2L,3L),(10L,11L),(10L,12L),(11L,12L),(3L,10L))
      .toDF("a", "b")
    val got = graft.operators.Graphs.labelPropagation(cl, "a", "b", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1 (min-label ties): 1←{2,3}→2; 2←{1,3}→1; 3←{1,2,10}→1;
    //   10←{3,11,12}→3; 11←{10,12}→10; 12←{10,11}→10
    // round 2: 1←lbl{1,1}→1; 2←{2,1}→1; 3←{2,1,3}→1; 10←{1,10,10}→10;
    //   11←{3,10}→3... recompute: labels after r1: 1→2,2→1,3→1,10→3,11→10,12→10
    //   r2: node 1 nbrs {2,3} lbls {1,1} → 1; node 2 nbrs {1,3} lbls {2,1} → 1
    //   (tie count 1 each → min); node 3 nbrs {1,2,10} lbls {2,1,3} → 1;
    //   node 10 nbrs {3,11,12} lbls {1,10,10} → 10; node 11 nbrs {10,12}
    //   lbls {3,10} → 3; node 12 nbrs {10,11} lbls {3,10} → 3
    assert(got == Map(1L->1L, 2L->1L, 3L->1L, 10L->10L, 11L->3L, 12L->3L),
      s"got $got")
  }

  test("triangleCounts: hand-computed graph, dup/reversed edges and self-loops") {
    // K4 on {1,2,3,4} (every node in 3 triangles) plus a pendant edge
    // 4–5 (node 5 in 0) — fed as a mix of directions, duplicates, and a
    // self-loop, all of which must not change the answer
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (3L, 2L),
      (2L, 4L), (3L, 4L), (4L, 5L), (5L, 4L), (3L, 3L)).toDF("a", "b")
    val got = graft.operators.Graphs.triangleCounts(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 0L))
    // string ids work too (orientation is by (degree, id) for any ordered type)
    val sedges = Seq(("x", "y"), ("y", "z"), ("z", "x"), ("w", "x")).toDF("a", "b")
    val sgot = graft.operators.Graphs.triangleCounts(sedges, "a", "b")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sgot == Map("x" -> 1L, "y" -> 1L, "z" -> 1L, "w" -> 0L))
  }

  test("pageRank: in-mass sums combine map-side; 0 iters is the uniform base") {
    val edges = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("s", "t")
    // materialize = false keeps the lazy plan inspectable (the default
    // localCheckpoint cuts lineage to a Scan ExistingRDD)
    val p = graft.operators.Graphs
      .pageRank(edges, "s", "t", iters = 2, materialize = false)
      .queryExecution.executedPlan.toString()
    assert(p.contains("partial_sum") || p.contains("partial sum"),
      s"celebrity-node in-mass must reduce map-side:\n$p")
    assert(!p.contains("Window"), s"no per-node window anywhere:\n$p")
    assert(graft.operators.Graphs.pageRank(edges, "s", "t", iters = 0)
      .collect().forall(_.getLong(1) == 1000000000L))
  }

  // ------------------------------------------------------------ RRF fusion

  test("rrfFuse: exact scaled points, per-id list count, id-asc tie-break") {
    val l1 = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val l2 = Seq((20L, 1), (10L, 2), (40L, 3)).toDF("id", "rank")
    val out = graft.operators.Corpus.rrfFuse(Seq(l1, l2), "id", "rank", k = 3)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("rrf_scaled"),
        r.getAs[Int]("n_lists"), r.getAs[Int]("rank")))
    val p1 = 1000000000L / 61; val p2 = 1000000000L / 62; val p3 = 1000000000L / 63
    // ids 10 and 20 tie exactly (p1+p2 each) → id asc breaks it; ids 30/40
    // tie at p3 and only one fits k=3 → 30 wins
    assert(out.toSeq == Seq(
      (10L, p1 + p2, 2, 1),
      (20L, p1 + p2, 2, 2),
      (30L, p3, 1, 3)))
  }

  // ------------------------------------- co-occurrence / PMI pairs (q115)

  test("cooccurrencePairs: hand counts, marginals and ratio at window 2") {
    // "a b c a" window 2: i0→(a,b),(a,c); i1→(b,c),(a,b); i2→(a,c)
    // pairs: (a,b)×2 (a,c)×2 (b,c)×1; T=5; slots: a=4, b=3, c=3
    val docs = Seq("a b c a").toDF("text")
    val got = TextStats.cooccurrencePairs(docs, "text", window = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      ("a","b") -> ((2L, 2.0 * 5.0 / (4.0 * 3.0))),
      ("a","c") -> ((2L, 2.0 * 5.0 / (4.0 * 3.0))),
      ("b","c") -> ((1L, 1.0 * 5.0 / (3.0 * 3.0)))), s"got $got")
  }

  // ------------------------------------------- time-weighted avg (q118)

  test("timeWeightedAvg: held-interval weighting, single-event entities drop") {
    val ns = 1000000000L
    val ev = Seq(
      (1L, 0L * ns, 10.0, 1L), (1L, 10L * ns, 20.0, 2L), (1L, 30L * ns, 99.0, 3L),
      (2L, 5L * ns, 7.0, 4L)  // one event: no held interval — absent
    ).toDF("user_id", "ts", "value", "event_id")
    val got = Events.timeWeightedAvg(ev, "user_id", "ts", "value",
        tieCols = Seq("event_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // user 1: 10·10s + 20·20s = 500 over 30s held; the last reading (99)
    // carries no weight
    assert(got.toSeq == Seq((1L, 500.0 / 30.0, 30L)), s"got ${got.toSeq}")
  }

  // ------------------------------------------- LM quality (q126)

  test("lmQualityScore: exact rational means, minCount penalty, short docs absent") {
    // corpus bigrams: d1 (a,b),(b,a),(a,c); d2 (a,b) → counts (a,b)=2,
    // (b,a)=1, (a,c)=1; w1 counts a=3, b=1 → cond_ppm 666666/1000000/333333
    val docs = Seq((1L, "a b a c"), (2L, "a b"), (3L, "z")).toDF("id", "txt")
    val all = TextStats.lmQualityScore(docs, "id", "txt")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(all == Map(
      1L -> ((3L, (666666L + 1000000L + 333333L) / 3)),
      2L -> ((1L, 666666L))), s"got $all")  // doc 3 has no bigrams → absent
    // minCount=2 drops (b,a)/(a,c) from the table → they score 0
    val cut = TextStats.lmQualityScore(docs, "id", "txt", minCount = 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cut == Map(1L -> 666666L / 3, 2L -> 666666L), s"got $cut")
  }

  // ------------------------------------------- k-core (q125)

  test("kCore: cascading strip over rounds, dup/direction-immune input") {
    // K4 on {1,2,3,4} + chain 4-5, 5-6 (fed with dups and reversals).
    // k=2: round 1 strips 6 (deg 1); round 2 strips 5 (deg fell to 1
    // when 6 left) — the cascade needs the second round.
    val edges = Seq(
      (1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (4L,5L),(5L,4L),(5L,6L),(6L,5L),(2L,1L)
    ).toDF("a","b")
    val r1 = graft.operators.Graphs.kCore(edges, "a", "b", k = 2, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1 == Map(1L->3L, 2L->3L, 3L->3L, 4L->4L, 5L->1L), s"got $r1")
    val r2 = graft.operators.Graphs.kCore(edges, "a", "b", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L->3L, 2L->3L, 3L->3L, 4L->3L), s"got $r2")
  }

  // ------------------------------------------- attribution (q124)

  test("attribution: last/first touch, same-sec tie by id, organic NULL") {
    val ev = Seq(
      // user 1: view@10, click@20, purchase@30 → last=click, first=view
      (1L, 10L, "view", 1L), (1L, 20L, "click", 2L), (1L, 30L, "purchase", 3L),
      // user 2: two touches at the SAME second → max event_id wins
      (2L, 40L, "view", 4L), (2L, 40L, "click", 5L), (2L, 50L, "purchase", 6L),
      // user 3: organic purchase (touch AFTER conversion doesn't count)
      (3L, 60L, "purchase", 7L), (3L, 70L, "click", 8L),
      // user 4: touches but no purchase → absent
      (4L, 80L, "view", 9L)
    ).toDF("uid", "sec", "etype", "eid")
    val last = Events.attribution(ev, "uid", "sec", "etype", "eid",
        "purchase", Seq("view", "click"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getString(1)), Option(r.get(2)), r.getLong(3)))).toMap
    assert(last == Map(
      1L -> ((Some("click"), Some(20L), 30L)),
      2L -> ((Some("click"), Some(40L), 50L)),
      3L -> ((None, None, 60L))), s"got $last")
    val first = Events.attribution(ev, "uid", "sec", "etype", "eid",
        "purchase", Seq("view", "click"), lastTouch = false)
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(first(1L) == Some("view") && first(2L) == Some("view"),
      s"got $first")
  }

  // ------------------------------------------- session paths (q123)

  test("sessionPaths: gap splits, in-session order, count ties break path-asc") {
    val ev = Seq(
      // user 1: two sessions, both a>b (gap 5000 > 1800 splits)
      (1L, 0L, "a", 1L), (1L, 100L, "b", 2L),
      (1L, 5000L, "a", 3L), (1L, 5100L, "b", 4L),
      // user 2: one a>b session; out-of-order insert (ts sorts it)
      (2L, 900L, "b", 6L), (2L, 800L, "a", 5L),
      // user 3: a solo "c" session
      (3L, 50L, "c", 7L)
    ).toDF("uid", "sec", "etype", "eid")
    val got = Events.sessionPaths(ev, "uid", "sec", "etype", "eid",
        gapSec = 1800L, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a>b", 3L), ("c", 1L)), s"got ${got.toSeq}")
  }

  // ------------------------------------------- rolling distinct (q119)

  test("rollingDistinct: trailing window membership, max-day clip") {
    val ud = Seq((1L, 1L), (1L, 3L), (2L, 3L), (1L, 3L))
      .toDF("user_id", "day")
    val got = Events.rollingDistinct(ud, "user_id", "day", windowDays = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // day1: {u1}; day2: {u1} (trailing from day1); day3: {u1,u2};
    // day4 (beyond max day) clipped
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L), s"got $got")
  }

  // --------------------------------------- linear attribution (q140)

  test("attributionLinear: equal split with floor ppm, pre-conversion only") {
    val ev = Seq(
      // u1: 3 touches (2 view, 1 click) before conv → each floor(1e6/3)
      (1L, 1L, "view"), (1L, 2L, "click"), (1L, 3L, "view"), (1L, 10L, "purchase"),
      // u1 touch after conversion must not count
      (1L, 20L, "click"),
      // u2: 1 click only → full 1e6; u3: converts with no touches
      (2L, 1L, "click"), (2L, 5L, "purchase"), (3L, 5L, "purchase")
    ).toDF("uid", "sec", "et")
    val got = Events.attributionLinear(ev, "uid", "sec", "et",
        convType = "purchase", touchTypes = Seq("view", "click"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      "view" -> ((2L, 2 * 333333L)),
      "click" -> ((2L, 333333L + 1000000L))), s"got $got")
  }

  // ------------------------------------------- table audit (q141)

  test("auditChecks: one-pass counts; NULL predicate is a failure") {
    import graft.operators.Extended
    val df = Seq[(java.lang.Long, String)]((5L, "x"), (-1L, "y"), (null, "z"))
      .toDF("v", "s")
    val got = Extended.auditChecks(df, Seq(
        "v_positive" -> (col("v") > 0),
        "s_nonempty" -> (length(col("s")) > 0)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // v NULL → predicate NULL → fail (counts with the -1)
    assert(got == Map("v_positive" -> ((3L, 2L)), "s_nonempty" -> ((3L, 0L))),
      s"got $got")
    val plan = Extended.auditChecks(df, Seq("c" -> (col("v") > 0)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  test("auditForeignKey counts only non-null orphans") {
    import graft.operators.Extended
    val child = Seq[(Long, java.lang.Long)]((1L, 10L), (2L, 99L), (3L, null))
      .toDF("id", "fk")
    val parent = Seq(10L, 11L).toDF("pk")
    val got = Extended.auditForeignKey(child, "fk", parent, "pk", "fk_ok")
      .collect()(0)
    assert((got.getString(0), got.getLong(1), got.getLong(2)) == (("fk_ok", 3L, 1L)))
  }

  // ------------------------------------------- histogram (q138)

  test("histogram: edge clamp, empty bins absent, per-group counts") {
    import graft.operators.Extended
    val df = Seq(("a", -5.0), ("a", 0.0), ("a", 9.9), ("a", 10.0),
      ("a", 99.9), ("a", 200.0), ("b", 55.0))
      .toDF("g", "v")
    val got = Extended.histogram(df, "v", lo = 0.0, hi = 100.0, bins = 10,
        groupCols = Seq("g"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
    // -5 clamps into bin 0; 200 clamps into bin 9; 10.0 is bin 1's edge
    assert(got == Set(("a", 0L, 2L + 1L), ("a", 1L, 1L), ("a", 9L, 1L + 1L),
      ("b", 5L, 1L)), s"got $got")
    val plan = Extended.histogram(df, "v", 0.0, 100.0, 10, Seq("g"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  // ------------------------------------------- group mode (q144)

  test("groupMode: tie breaks toward the smallest value, counts exact") {
    import graft.operators.Extended
    val df = Seq(("g1", "b"), ("g1", "b"), ("g1", "a"),
      ("g2", "z"), ("g2", "y"))  // g2: 1-1 tie → 'y'
      .toDF("g", "v")
    val got = Extended.groupMode(df, "v", Seq("g"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map("g1" -> (("b", 2L)), "g2" -> (("y", 1L))), s"got $got")
  }

  // ------------------------------------------- debounce (q145)

  test("debounce keeps only burst heads; gap chains suppress trailing events") {
    val ev = Seq(
      // one key: bursts {0,5,12} (chained ≤10-gaps) and {30}
      (1L, "a", 0L, 1L), (1L, "a", 5L, 2L), (1L, "a", 12L, 3L), (1L, "a", 30L, 4L),
      // different type is an independent key
      (1L, "b", 1L, 5L),
      // tie on ts: event_id orders — the first kept, the second suppressed
      (2L, "a", 0L, 7L), (2L, "a", 0L, 6L)
    ).toDF("uid", "et", "sec", "eid")
    val kept = Events.debounce(ev, Seq("uid", "et"), "sec", "eid", gapSec = 10L)
      .collect().map(_.getAs[Long]("eid")).toSet
    assert(kept == Set(1L, 4L, 5L, 6L), s"got $kept")
  }

  // ------------------------------------------- lifecycle (q146)

  test("userLifecycle: new / retained / resurrected day labels") {
    val ev = Seq(
      (1L, 0L), (1L, 10L),          // day 0 twice → one 'new' row
      (1L, 86400L),                 // day 1: retained
      (1L, 4 * 86400L),             // day 4: resurrected
      (2L, 2 * 86400L))             // day 2: new
      .toDF("uid", "sec")
    val got = Events.userLifecycle(ev, "uid", "sec")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    assert(got == Map((1L, 0L) -> "new", (1L, 1L) -> "retained",
      (1L, 4L) -> "resurrected", (2L, 2L) -> "new"), s"got $got")
  }

  // ------------------------------------------- concentration (q143)

  test("groupConcentration: monopoly 1e6, even split 1e6/n, exact floor") {
    import graft.operators.Extended
    val df = Seq(
      ("mono", "a", 70L), ("mono", "a", 30L),          // one member: HHI 1e6
      ("even", "a", 50L), ("even", "b", 50L),          // two equal: 5e5
      ("skew", "a", 90L), ("skew", "b", 10L))          // 0.81+0.01 = 82e4
      .toDF("g", "m", "w")
    val got = Extended.groupConcentration(df, "m", "w", Seq("g"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("mono" -> ((1L, 1000000L)), "even" -> ((2L, 500000L)),
      "skew" -> ((2L, 820000L))), s"got $got")
    val plan = Extended.groupConcentration(df, "m", "w", Seq("g"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  // ------------------------------------------- moments (q142)

  test("groupMoments: hand-computed skew/kurtosis; constant group is NULL") {
    import graft.operators.Extended
    val df = (Seq(1L, 2L, 3L, 4L, 10L).map(("a", _)) ++
      Seq(7L, 7L, 7L).map(("c", _))).toDF("g", "x")
    val rows = Extended.groupMoments(df, "x", Seq("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    // group a: M2=250, M3=4500, M4=174250 (mean 4, m2=10, m3=36, m4=278.8)
    val skew = 4500.0 / (250.0 * math.sqrt(250.0))
    val kurt = 174250.0 / (250.0 * 250.0) - 3.0
    assert(rows("a") == ((5L, Some(skew), Some(kurt))), s"got ${rows("a")}")
    // constant group: zero variance → both NULL
    assert(rows("c") == ((3L, None, None)))
    val plan = Extended.groupMoments(df, "x", Seq("g"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    assert(plan.contains("partial"), s"expected map-side partial aggregate:\n$plan")
  }

  // ------------------------------------------- recall@k (q139)

  test("recallAtK: exact ppm, missing-candidate queries score 0") {
    import graft.operators.Extended
    val gold = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 20L), (3L, 30L)).toDF("q", "item")
    val cand = Seq((1L, 11L), (1L, 13L), (1L, 99L), (2L, 21L))
      .toDF("q", "item")
    val got = Extended.recallAtK(gold, cand, "q", "item")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // q1: 2 of 4 golden found; q2: candidate exists but misses; q3: no
    // candidate rows at all — still reported, recall 0
    assert(got == Map(1L -> ((4L, 2L, 500000L)), 2L -> ((1L, 0L, 0L)),
      3L -> ((1L, 0L, 0L))), s"got $got")
  }

  // ------------------------------------------- CEP pattern (q137)

  test("patternMatch: veto between a and b kills the match; veto after b does not") {
    val ev = Seq(
      // u1: view 10, purchase 30, error 20 BETWEEN → vetoed
      (1L, 10L, "view"), (1L, 30L, "purchase"), (1L, 20L, "error"),
      // u2: view 10, purchase 30, error 40 after b → matched
      (2L, 10L, "view"), (2L, 30L, "purchase"), (2L, 40L, "error"),
      // u3: view 10, error 15 but purchase never → unmatched, veto recorded
      (3L, 10L, "view"), (3L, 15L, "error"),
      // u4: purchase BEFORE the view only → unmatched
      (4L, 5L, "purchase"), (4L, 10L, "view"),
      // u5: no view at all → absent
      (5L, 10L, "purchase")
    ).toDF("uid", "t", "et")
    val got = Events.patternMatch(ev, "uid", "t", "et",
        a = "view", b = "purchase", veto = "error")
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3))), r.getInt(4)))
      .toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((Some(10L), Some(30L), Some(20L)), 0))
    assert(got(2L) == ((Some(10L), Some(30L), Some(40L)), 1))
    assert(got(3L) == ((Some(10L), None, Some(15L)), 0))
    assert(got(4L) == ((Some(10L), None, None), 0))
  }

  test("patternMatch maxGap: a qualifying b outside the window doesn't match") {
    val ev = Seq((1L, 10L, "a"), (1L, 100L, "b")).toDF("uid", "t", "et")
    val tight = Events.patternMatch(ev, "uid", "t", "et", "a", "b", "c",
        maxGap = Some(50L)).collect()
    assert(tight.length == 1 && tight(0).getInt(4) == 0)
    val loose = Events.patternMatch(ev, "uid", "t", "et", "a", "b", "c",
        maxGap = Some(90L)).collect()
    assert(loose(0).getInt(4) == 1)
  }

  // ------------------------------------------- merge upsert (q136)

  test("mergeUpsert: latest version wins, equal versions resolve to the update") {
    import graft.operators.Extended
    val base = Seq((1L, 1L, "a"), (1L, 5L, "b"), (2L, 3L, "c"))
      .toDF("k", "v", "payload")
    val upd = Seq((1L, 5L, "B2"), (2L, 2L, "old"), (9L, 1L, "new"))
      .toDF("k", "v", "payload")
    val got = Extended.mergeUpsert(base, upd, Seq("k"), "v")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // k=1: update ties base's max version 5 → update wins;
    // k=2: stale update (v2 < v3) ignored; k=9: pure insert
    assert(got == Map(1L -> ((5L, "B2")), 2L -> ((3L, "c")),
      9L -> ((1L, "new"))), s"got $got")
  }

  test("mergeUpsert plans as one aggregate — no join, no window") {
    import graft.operators.Extended
    val base = Seq((1L, 1L, "a")).toDF("k", "v", "p")
    val upd = Seq((1L, 2L, "b")).toDF("k", "v", "p")
    val plan = Extended.mergeUpsert(base, upd, Seq("k"), "v")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    assert(plan.contains("partial_max_by") || plan.contains("ObjectHashAggregate")
      || plan.contains("SortAggregate"), s"expected a partial aggregate:\n$plan")
  }

  // ------------------------------------------- BFS distances (q131)

  test("bfsDistances: path graph hops, horizon cut, multi-seed min") {
    val path = Seq(("A", "B"), ("B", "C"), ("C", "D"), ("D", "E")).toDF("s", "t")
    val one = graft.operators.Graphs
      .bfsDistances(path, "s", "t", Seq("A").toDF("id"), maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // E is 4 hops out — beyond the horizon, absent
    assert(one == Map("A" -> 0L, "B" -> 1L, "C" -> 2L, "D" -> 3L), s"got $one")
    // two seeds: every node takes the NEAREST seed's distance
    val two = graft.operators.Graphs
      .bfsDistances(path, "s", "t", Seq("A", "E").toDF("id"), maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(two == Map("A" -> 0L, "B" -> 1L, "C" -> 2L,
      "D" -> 1L, "E" -> 0L), s"got $two")
  }

  test("bfsDistances directed follows edge direction only") {
    val ring = Seq(("A", "B"), ("B", "C"), ("C", "A")).toDF("s", "t")
    val got = graft.operators.Graphs
      .bfsDistances(ring, "s", "t", Seq("C").toDF("id"), maxHops = 2,
        directed = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // C→A→B; the undirected shortcut C-B must NOT apply
    assert(got == Map("C" -> 0L, "A" -> 1L, "B" -> 2L), s"got $got")
  }

  // ------------------------------------------- link prediction (q132)

  test("linkPredict: square graph diagonals, exact Jaccard ppm") {
    // A-B-C-D-A: non-adjacent diagonals (A,C) and (B,D) each share both
    // off-diagonal corners; all degrees 2 → jaccard = 2/(2+2-2) = 1.0
    val sq = Seq(("A", "B"), ("B", "C"), ("C", "D"), ("D", "A")).toDF("s", "t")
    val got = graft.operators.Graphs.linkPredict(sq, "s", "t",
        maxBrokerDeg = 10, minCommon = 2L)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("A", "C", 2L, 1000000L), ("B", "D", 2L, 1000000L)),
      s"got $got")
  }

  test("linkPredict: broker cap silences hot hubs; adjacency excluded") {
    // star H-X1..X5 (H degree 5): with the cap at 4 no broker is
    // eligible → empty; at 5 every leaf pair appears via H with cn=1,
    // jaccard = 1/(1+1-1) = 1.0; H itself never pairs (adjacent to all)
    val star = (1 to 5).map(i => ("H", s"X$i")).toDF("s", "t")
    val capped = graft.operators.Graphs.linkPredict(star, "s", "t",
      maxBrokerDeg = 4, minCommon = 1L)
    assert(capped.count() == 0L)
    val open = graft.operators.Graphs.linkPredict(star, "s", "t",
        maxBrokerDeg = 5, minCommon = 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(open.length == 10 && open.forall(_._3 == 1L), s"got ${open.toSeq}")
  }

  // -------------------------------- pageRank deep-iteration checkpoints

  test("pageRank checkpointEvery: identical ranks, bounded plan depth") {
    val edges = Seq(("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"))
      .toDF("s", "t")
    val snapped = graft.operators.Graphs.pageRank(edges, "s", "t",
        iters = 12, checkpointEvery = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val straight = graft.operators.Graphs.pageRank(edges, "s", "t",
        iters = 12, checkpointEvery = 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(snapped == straight, s"snapped $snapped vs straight $straight")
  }

  // -------------------------------------------- LOO target encoding

  test("targetEncodeLoo: mean of the others; singleton category is NULL") {
    val df = Seq(("a", 10.0, 1L), ("a", 20.0, 2L), ("a", 30.0, 3L),
      ("b", 5.0, 4L), ("b", 7.0, 5L), ("c", 99.0, 6L))
      .toDF("cat", "y", "id")
    val out = graft.operators.Extended.targetEncodeLoo(df, "cat", "y")
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("loo_encoded"))).toMap
    assert(out(1L).contains(25.0)) // (20+30)/2
    assert(out(2L).contains(20.0)) // (10+30)/2
    assert(out(4L).contains(7.0))
    assert(out(6L).isEmpty) // singleton: no leave-one-out sample
  }

  // ------------------------------------------------------ exact EWMA

  test("ewmaSmooth: hand-computed alpha=1/2 weights; truncation at maxLag") {
    // one entity, values 1, 2, 4 at ts 1, 2, 3 (maxLag=2 → weights 4,2,1)
    val df = Seq((1L, 1L, 1.0, 10L), (1L, 2L, 2.0, 11L), (1L, 3L, 4.0, 12L))
      .toDF("u", "ts", "v", "eid")
    val out = graft.operators.Events.ewmaSmooth(df, "u", "ts", "v", "eid", maxLag = 2)
      .collect().map(r => r.getAs[Long]("ts") -> r.getAs[Double]("ewma")).toMap
    assert(out(1L) == 1.0) // only x0: 4·1/4
    assert(out(2L) == (4.0 * 2 + 2 * 1) / 6.0) // (4·2+2·1)/(4+2)
    assert(out(3L) == (4.0 * 4 + 2 * 2 + 1 * 1) / 7.0) // full window
  }

  // --------------------------------------------- deterministic split

  test("splitAssign: partitions the corpus, deterministic, ~80/10/10") {
    val df = (1L to 2000L).toDF("id")
    val a = graft.operators.Curation.splitAssign(df, "id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a.values.sum == 2000L)
    assert(a("train") > 1500 && a("train") < 1700, s"train ${a("train")}")
    assert(a("val") > 120 && a("val") < 280, s"val ${a("val")}")
    val b = graft.operators.Curation.splitAssign(df, "id")
      .groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b) // rerun-stable
  }

  // ------------------------------------- weighted shortest paths

  test("shortestPaths: hand graph — min-cost wins over fewer hops; budget clips") {
    // A -1- B -1- C, plus a direct A -5- C shortcut, D isolated beyond budget
    val edges = Seq(("A", "B", 1L), ("B", "C", 1L), ("A", "C", 5L),
      ("C", "D", 9L)).toDF("s", "t", "w")
    val out = graft.operators.Graphs.shortestPaths(edges, "s", "t", "w",
        Seq("A").toDF("seed"), budget = 6L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("A" -> 0L, "B" -> 1L, "C" -> 2L)) // D: 2+9 > 6
    // directed: C unreachable backwards from itself via B
    val dir = graft.operators.Graphs.shortestPaths(edges, "s", "t", "w",
        Seq("C").toDF("seed"), budget = 6L, directed = true)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dir == Map("C" -> 0L)) // only outgoing C->D (9) is over budget
    // negative weights refused
    intercept[IllegalArgumentException] {
      graft.operators.Graphs.shortestPaths(
        Seq(("A", "B", -1L)).toDF("s", "t", "w"),
        "s", "t", "w", Seq("A").toDF("seed"), budget = 6L)
    }
  }

  // ----------------------------------------------- pareto take

  test("paretoTake ≡ naive global prefix take at any binning (incl. degenerate)") {
    val vals = Seq(100L, 90L, 80L, 70L, 10L, 10L, 5L, 1L, 1L, 1L)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    // naive: order by (v desc, id asc), take while prefix-before-row < 80%
    val tot = vals.sum
    val ordered = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
      .sortBy { case (v, i) => (-v, i) }
    val naive = ordered.scanLeft(0L)(_ + _._1).zip(ordered)
      .takeWhile { case (prefixBefore, _) => prefixBefore * 1000000L < 800000L * tot }
    val (nTop, topSum) = (naive.size.toLong, naive.map(_._2._1).sum)
    for ((lo, width, bins) <- Seq((0.0, 10.0, 16), (0.0, 1000.0, 1), (-5.0, 3.0, 64))) {
      val row = graft.operators.Extended.paretoTake(df, "id", "v",
        800000L, lo, width, bins).head()
      assert(row.getAs[Long]("n_entities") == vals.size.toLong, s"bins=$bins")
      assert(row.getAs[Long]("n_top") == nTop, s"bins=$bins")
      assert(row.getAs[Long]("top_share_ppm") == topSum * 1000000L / tot,
        s"bins=$bins")
    }
  }

  // ------------------------------------------- chi-square / KS drift

  test("chiSquare: hand-computed 2x2 table in exact ppm") {
    // cells: (x,p)=30 (x,q)=10 / (y,p)=10 (y,q)=30; N=80, R=C=40
    // E = 20 everywhere, chi2 = 4 * (10^2/20) = 20.000000
    val rows = Seq.fill(30)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p")) ++ Seq.fill(30)(("y", "q"))
    val out = graft.operators.Extended.chiSquare(
      rows.toDF("a", "b"), "a", "b").head()
    assert(out.getAs[Long]("chi2_ppm") == 20000000L)
    assert(out.getAs[Long]("df") == 1L)
  }

  test("chiSquareFromCells: exact at planted billion-count cells (BigInt model)") {
    // counts 4 orders past the old LONG cliff (d = O*N - R*C ~ N^2/4
    // wrapped at ~10^5 rows), just inside the documented DECIMAL bound
    // (N ≤ ~6e9: d² must fit 38 digits — past it the op FAILS LOUDLY
    // under ANSI, which a companion assertion pins)
    val cells = Seq(
      ("x", "p", 1000000000L), ("x", "q", 2000000001L),
      ("y", "p", 1500000007L), ("y", "q", 500000003L))
    val out = graft.operators.Extended.chiSquareFromCells(
      cells.toDF("a", "b", "o"), "a", "b", "o").head()
    // independent BigInt model: Σ floor-ppm per cell, same decomposition
    val n = BigInt(cells.map(_._3).sum)
    def rt(a: String) = BigInt(cells.filter(_._1 == a).map(_._3).sum)
    def ct(b: String) = BigInt(cells.filter(_._2 == b).map(_._3).sum)
    val want = cells.map { case (a, b, o) =>
      val d = BigInt(o) * n - rt(a) * ct(b)
      val num = d * d
      val den = rt(a) * ct(b) * n
      (num / den) * 1000000 + (num % den) * 1000000 / den
    }.sum
    assert(BigInt(out.getAs[Long]("chi2_ppm")) == want,
      s"got ${out.getAs[Long]("chi2_ppm")} want $want")
    assert(out.getAs[Long]("df") == 1L)
    // and the row-level entry point still agrees with itself via cells
    val rows = Seq.fill(3)(("x", "p")) ++ Seq.fill(1)(("x", "q")) ++
      Seq.fill(1)(("y", "p")) ++ Seq.fill(3)(("y", "q"))
    val viaRows = graft.operators.Extended.chiSquare(
      rows.toDF("a", "b"), "a", "b").head().getAs[Long]("chi2_ppm")
    val viaCells = graft.operators.Extended.chiSquareFromCells(
      Seq(("x", "p", 3L), ("x", "q", 1L), ("y", "p", 1L), ("y", "q", 3L))
        .toDF("a", "b", "o"), "a", "b", "o").head().getAs[Long]("chi2_ppm")
    assert(viaRows == viaCells)
    // past the documented bound the op fails LOUDLY (ANSI decimal
    // overflow), never silently wrong
    val err = intercept[Exception] {
      graft.operators.Extended.chiSquareFromCells(
        cells.map { case (a, b, o) => (a, b, o * 10000L) }
          .toDF("a", "b", "o"), "a", "b", "o").head()
    }
    assert(err.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE") ||
      err.getMessage.contains("Decimal"), s"unexpected: ${err.getMessage}")
  }

  test("groupCorr/groupLinFit: exact at epoch-microsecond x (per-row products past 2^63)") {
    import org.apache.spark.sql.functions._
    // x ~ 1.7e15 µs: x² ≈ 3e30 per ROW — the pre-fix LONG product path
    // ANSI-crashed here. y = 2x + 5 exactly → slope 2, corr 1.
    val base = 1700000000000000L
    val rows = Seq.tabulate(7)(i =>
      ("g", base + i * 60000000L, 2L * (base + i * 60000000L) + 5L))
      .toDF("g", "x", "y")
    val fit = graft.operators.Extended.groupLinFit(rows, "x", "y", Seq("g"))
      .head()
    assert(math.abs(fit.getAs[Double]("slope") - 2.0) < 1e-12)
    val corr = graft.operators.Extended.groupCorr(rows, "x", "y", Seq("g"))
      .head().getAs[Double]("corr")
    assert(math.abs(corr - 1.0) < 1e-12, s"corr $corr")
  }

  test("ksTest: equals the naive max-CDF-gap; identical samples give 0") {
    val df = (Seq.tabulate(20)(i => ("a", i.toLong)) ++
      Seq.tabulate(10)(i => ("b", (i * 2).toLong))).toDF("g", "v")
    val got = graft.operators.Extended.ksTest(df, "g", "v", "a", "b")
      .head().getAs[Long]("ks_ppm")
    // naive model over the pooled value set
    val a = (0 until 20).map(_.toLong)
    val b = (0 until 10).map(i => (i * 2).toLong)
    val naive = (a ++ b).distinct.sorted.map { x =>
      math.abs(a.count(_ <= x).toLong * b.size - b.count(_ <= x).toLong * a.size)
    }.max * 1000000L / (a.size.toLong * b.size)
    assert(got == naive, s"got $got naive $naive")
    val same = (a.map(("a", _)) ++ a.map(("b", _))).toDF("g", "v")
    assert(graft.operators.Extended.ksTest(same, "g", "v", "a", "b")
      .head().getAs[Long]("ks_ppm") == 0L)
  }

  // ------------------------------------------------------ KMV sketch

  test("KMV cardinality estimate lands within the sketch's error bound") {
    // n = 5000 distinct elements, k = 64 → std err ≈ 1/√62 ≈ 12.7%;
    // assert a generous 3-sigma band (and exactness below k)
    val k = 64
    val M = BigInt(1) << 60
    val df = (1L to 5000L).toDF("x").withColumn("key", lit("all"))
      .withColumn("h", graft.functions.Ops.md5Long(concat(lit("card:"), col("x"))))
    val sk = graft.operators.Events.kmvSketch(df, "key", "h", k)
      .collect().map(_.getLong(1)).sorted
    assert(sk.length == k)
    val est = ((BigInt(k - 1) * M) / BigInt(sk.last)).toLong
    assert(est > 3000 && est < 7000, s"est $est for n=5000")
    val small = (1L to 20L).toDF("x").withColumn("key", lit("all"))
      .withColumn("h", graft.functions.Ops.md5Long(concat(lit("card:"), col("x"))))
    assert(graft.operators.Events.kmvSketch(small, "key", "h", k).count() == 20)
  }

  test("kmvSketch: exact k smallest distinct hashes per key, merge-order-free") {
    val df = (1L to 500L).flatMap(i => Seq(("s1", i), ("s2", i * 7)))
      .toDF("key", "x")
      .withColumn("h", graft.functions.Ops.md5Long(concat(lit("e:"), col("x"))))
    val sk = graft.operators.Events.kmvSketch(df, "key", "h", 16)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val naive = df.collect().map(r => (r.getString(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted.take(16).toSeq).toMap
    assert(sk.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap == naive)
    // repartition shuffles merge order; the sketch must not change
    val sk2 = graft.operators.Events.kmvSketch(df.repartition(7), "key", "h", 16)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(sk2.sorted.toSeq == sk.sorted.toSeq)
  }
}
