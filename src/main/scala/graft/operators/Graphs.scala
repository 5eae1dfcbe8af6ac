package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Memo, Tables}

/** Graph scoring over relational edge lists — the link-analysis pass a
  * web-scale training corpus runs to weight documents by source quality
  * (the classic use: domain-graph PageRank over a crawl, feeding the
  * quality-filter thresholds in `Curation`). The reference has no graph
  * surface; this is a first-class extension like the dedup clustering
  * (Text.connectedComponents — the undirected sibling of this operator).
  *
  * Determinism: ranks are fixed-point longs (per-node base 10⁹) and every
  * step is integer DIV arithmetic — no float accumulation order, so ranks
  * replicate bit-for-bit in any engine, any partitioning, any rerun.
  */
object Graphs {

  /** Fixed-iteration PageRank (Brin & Page 1998) in exact fixed-point
    * arithmetic. `edges` is a directed (srcCol, dstCol) list (dedup it
    * first if multiplicity must not weight the walk); every node starts
    * at `base` (10⁹) and each of `iters` rounds applies
    * r'(v) = (1−d)·base + d·Σ_{u→v} (r(u) div outdeg(u)), with the d
    * multiply decomposed as (q·c + m)·d/c = q·d + (m·d) div c over
    * q = cs div 10⁶, m = cs mod 10⁶ — exact floor semantics with NO long
    * overflow for any cs that fits a long (a naive cs·d overflows at
    * cs > ~10¹³). Truncation drops sub-unit mass (and dangling-node mass
    * leaks, as in the standard simplification) — deterministically, the
    * same in every engine. Output: (id, rank_scaled) for every node that
    * appears as a source or destination.
    *
    * Scale: one equi-join + one combiner-friendly aggregate per round —
    * the previous round's in-mass joins the persisted edge relation on
    * src (the rank expression is applied INLINE there, so the node-sized
    * rank frame is never rebuilt per round), and contributions sum on
    * dst (a celebrity node's in-mass reduces to #partitions partial rows
    * map-side — never a dst-keyed window). At 100 TB pre-partition edges
    * by src (bucketed table) so the per-round join co-locates; iters
    * multiplies rounds, not per-round bytes.
    * Long bounds: total mass ≈ N·base, so N ≤ ~9·10⁹ nodes at base 10⁹;
    * lower `base` beyond that. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      dampingPpm: Long = 850000L, base: Long = 1000000000L,
      seeds: Option[DataFrame] = None,
      weightCol: Option[String] = None,
      materialize: Boolean = true,
      checkpointEvery: Int = 8): DataFrame = {
    require(checkpointEvery >= 1, "checkpointEvery must be positive")
    require(iters >= 0, "iters must be non-negative")
    require(dampingPpm >= 0 && dampingPpm <= 1000000L, "damping is ppm in [0, 1e6]")
    // WEIGHTED walk: each edge carries w(u,v) ≥ 1 and a node's rank splits
    // proportionally — c = (r div W)·w + ((r mod W)·w) div W over
    // W = Σ_v w(u,v), exact floor semantics, no overflow while
    // W(u)·max w(u,·) < 2⁶³ (the unweighted path is the same formula at
    // w = 1, W = outdeg — bit-identical results)
    val e = weightCol match {
      case Some(wc) => edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wc).cast("long").as("w"))
      case None => edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        lit(1L).as("w"))
    }
    // the loop-invariant frames are persisted: without this every
    // iteration's lineage re-derives the edge list from source (the q84
    // plan re-read the lineitem⋈orders join 2×iters+1 times) — the
    // standard iterative-algorithm discipline. Deep iteration counts
    // (≳10) should additionally localCheckpoint the in-mass every few
    // rounds to keep the lineage chain shallow.
    val ids = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val teleport = (1000000L - dampingPpm) * base / 1000000L
    // PERSONALIZED variant: teleport mass lands only on the seed set (a
    // trusted-domain list — small by nature, broadcast) and the walk
    // starts from it; rank = proximity to seeds. Without seeds the
    // teleport is uniform and the walk starts at `base` everywhere.
    val nodes = (seeds match {
      case None => ids.withColumn("__t", lit(teleport))
      case Some(sd) =>
        val sdf = sd.select(col(sd.columns.head).as("__sid")).distinct()
        ids.join(broadcast(sdf), col("id") === col("__sid"), "left_outer")
          .select(col("id"),
            when(col("__sid").isNotNull, lit(teleport)).otherwise(lit(0L)).as("__t"))
    }).persist()
    val outdeg = e.groupBy(col("src")).agg(sum(col("w")).as("outdeg"))
    // ROUND FUSION (round 18, guide §2.3/§2.4): the node-sized per-round
    // rank frame (nodes ⟕ cs) is never materialized. The source node's
    // teleport mass rides the persisted edge relation once (__ts), and
    // the EXACT rank expression — __t + damp(cs), the same integer
    // div/mod decomposition as before — is applied inline where the
    // previous round's in-mass is consumed, so each round is ONE join
    // (edges ⟕ in-mass) + one combiner aggregate instead of two joins +
    // one aggregate. Values are bit-identical: r(u) depends only on
    // __t(u) and cs(u), both of which are present at the fused site.
    val ew = e.join(outdeg, "src")
      .join(nodes.select(col("id").as("src"), col("__t").as("__ts")), Seq("src"))
      .persist()
    val damp = s"(coalesce(cs, 0L) div 1000000L) * ${dampingPpm}L" +
      s" + ((coalesce(cs, 0L) % 1000000L) * ${dampingPpm}L) div 1000000L"
    // cs = previous round's per-node in-mass (dst, cs); null before round 1
    var cs: DataFrame = null
    for (i <- 0 until iters) {
      val withRank =
        if (cs == null) ew.withColumn("r",
          if (seeds.isEmpty) lit(base) else col("__ts"))
        else ew.join(cs.select(col("dst").as("__pd"), col("cs")),
            col("src") === col("__pd"), "left_outer")
          .withColumn("r", expr(s"__ts + $damp"))
      val next = withRank
        .select(col("dst"),
          expr("(r div outdeg) * w + ((r % outdeg) * w) div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("cs"))
      // deep-iteration hygiene: snap the in-mass lineage every few rounds
      // so a 30-iteration walk optimizes a plan of depth ≤ checkpointEvery
      // joins instead of 2·iters (integer-exact, so the snap cannot change
      // results — only the plan). Skipped after the final round;
      // `materialize` handles the terminal snap.
      cs = if (i + 1 < iters && (i + 1) % checkpointEvery == 0)
        next.localCheckpoint()
      else next
    }
    // materialize (default): localCheckpoint cuts the iters-deep lineage
    // and computes eagerly, letting the loop invariants be RELEASED —
    // without this every pageRank call leaks two persisted frames for the
    // session lifetime. A deployment wanting executor-loss fault
    // tolerance should write the result to storage instead of relying on
    // the checkpoint. `materialize = false` keeps the lazy plan (and the
    // caches) — for plan inspection or composing before a single action.
    val out =
      if (cs == null) // iters == 0: the initial ranks
        nodes.select(col("id"),
          (if (seeds.isEmpty) lit(base) else col("__t")).as("rank_scaled"))
      else nodes.join(cs, col("id") === col("dst"), "left_outer")
        .select(col("id"), expr(s"__t + $damp").as("rank_scaled"))
    if (!materialize) out
    else {
      val snapped = out.localCheckpoint()
      nodes.unpersist(blocking = false)
      ew.unpersist(blocking = false)
      snapped
    }
  }

  /** Fixed-iteration HITS (Kleinberg, "Authoritative Sources in a
    * Hyperlinked Environment", JACM 1999) in exact fixed-point integers:
    * each round updates authorities from hubs (a(v) = Σ_{u→v} h(u)), MAX-
    * normalizes to `base`, then hubs from the new authorities
    * (h(u) = Σ_{u→v} a(v)), normalized again. Max-normalization replaces
    * the float L2 norm so every step is integer div/mod — the top score
    * is exactly `base` each round and results replicate bit-for-bit in
    * any engine (the r·base/M multiply is decomposed as
    * (r div M)·base + ((r mod M)·base) div M, exact with no overflow
    * while maxInMass·base² < 2⁶³ — at the default base 10⁶ that allows
    * ~9·10⁶·base of in-mass on the hottest node; lower `base` for
    * hotter graphs). Output: (id, hub_scaled, auth_scaled) for every
    * node.
    *
    * Scale: identical shuffle shape to [[pageRank]] — per round, ONE
    * equi-join + one combiner-friendly aggregate per direction (round
    * fusion: the normalization expression is applied inline where the
    * raw mass is consumed, so the node-sized normalized frame is never
    * rebuilt per round); the normalizer is a 1-row broadcast, never a
    * driver action, so the whole build is one lazy plan. Per-round raw
    * frames are persisted (each feeds the normalizer AND the next
    * update) and released on materialize. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      base: Long = 1000000L, materialize: Boolean = true): DataFrame = {
    require(iters >= 1, "iters must be positive")
    require(base >= 1, "base must be positive")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).persist()
    val ids = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct().persist()
    // MAX-normalization applied inline (round fusion, guide §2.3): the
    // same exact integer decomposition as ever, over the RAW mass column
    // and its 1-row broadcast max. A node absent from the raw frame has
    // mass 0 ⇒ normalized 0 ⇒ contributes nothing to the next sum, so
    // consuming the raw frame through a left-outer join of the edge
    // relation is value-identical to consuming the node-sized
    // normalized frame (which materialized those zeros explicitly).
    def norm(v: String, m: String) =
      s"(coalesce($v, 0L) div $m) * ${base}L" +
        s" + ((coalesce($v, 0L) % $m) * ${base}L) div $m"
    def maxOf(raw: DataFrame, valCol: String, mCol: String): DataFrame =
      raw.agg(greatest(max(col(valCol)), lit(1L)).as(mCol))
    val roundFrames = scala.collection.mutable.Buffer.empty[DataFrame]
    var araw: DataFrame = null // (dst, __ar): raw authority in-mass
    var hraw: DataFrame = null // (src, __hr): raw hub out-mass
    for (_ <- 0 until iters) {
      val hSide =
        if (hraw == null) e.withColumn("h", lit(base)) // round-0 hubs
        else e.join(hraw.select(col("src").as("__hk"), col("__hr")),
            col("src") === col("__hk"), "left_outer")
          .crossJoin(broadcast(maxOf(hraw, "__hr", "__mh")))
          .withColumn("h", expr(norm("__hr", "__mh")))
      araw = hSide.groupBy(col("dst")).agg(sum(col("h")).as("__ar")).persist()
      roundFrames += araw
      val aSide = e.join(araw.select(col("dst").as("__ak"), col("__ar")),
          col("dst") === col("__ak"), "left_outer")
        .crossJoin(broadcast(maxOf(araw, "__ar", "__ma")))
        .withColumn("a", expr(norm("__ar", "__ma")))
      hraw = aSide.groupBy(col("src")).agg(sum(col("a")).as("__hr")).persist()
      roundFrames += hraw
    }
    // final normalized scores for EVERY node, both directions in one pass
    val out = ids
      .join(araw.select(col("dst").as("__ak"), col("__ar")),
        col("id") === col("__ak"), "left_outer")
      .join(hraw.select(col("src").as("__hk"), col("__hr")),
        col("id") === col("__hk"), "left_outer")
      .crossJoin(broadcast(maxOf(araw, "__ar", "__ma")))
      .crossJoin(broadcast(maxOf(hraw, "__hr", "__mh")))
      .select(col("id"), expr(norm("__hr", "__mh")).as("hub_scaled"),
        expr(norm("__ar", "__ma")).as("auth_scaled"))
    if (!materialize) out
    else {
      val snapped = out.localCheckpoint()
      (Seq(e, ids) ++ roundFrames).foreach(_.unpersist(blocking = false))
      snapped
    }
  }

  /** Per-node triangle counts via degree orientation (Suri &
    * Vassilvitskii, "Counting Triangles and the Curse of the Last
    * Reducer", WWW 2011). Input is an undirected edge list in either
    * or both directions; self-loops and duplicate edges are dropped.
    * Every edge is oriented from its lower (degree, id) endpoint to the
    * higher; a triangle {u,v,w} then materializes exactly once, as the
    * wedge u→v, u→w (v before w in the same order) closed by v→w.
    * Output: (id, triangles) for every node of the graph, zeros
    * included. The local clustering coefficient is a map-only
    * projection away: 2·triangles / (deg·(deg−1)).
    *
    * Scale: orientation is THE fix for the quadratic hot-node wedge
    * explosion — after orienting, every out-neighborhood is O(√E)
    * (a celebrity with degree 10⁶ has tiny out-degree because almost
    * all its neighbors order above it), so the wedge self-join fans
    * out ≤ √E per node instead of deg². Both the wedge build and the
    * closure are equi-joins on node keys (shuffle-partitioned, AQE
    * skew-splittable); per-node counting is a combiner-friendly
    * aggregate. No windows, no cartesians. */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String,
      materialize: Boolean = true): DataFrame = {
    val e0 = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
    // loop-invariant-style persists (pageRank discipline): und feeds the
    // degree count (twice via the union), both orientation joins, and
    // deg feeds both sides of the orientation plus the final join-back —
    // unpersisted, the upstream edge distinct would recompute ~5×
    val und = e0.select(least(col("a"), col("b")).as("x"),
      greatest(col("a"), col("b")).as("y")).distinct().persist()
    val deg = und.select(col("x").as("id")).union(und.select(col("y").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg")).persist()
    // orient x→y when (deg(x), x) < (deg(y), y); struct comparison gives
    // the lexicographic order directly (field names unified so both
    // when-branches carry the same struct type)
    val dx = deg.select(col("id").as("x"), col("deg").as("degx"))
    val dy = deg.select(col("id").as("y"), col("deg").as("degy"))
    val ordx = struct(col("degx").as("d"), col("x").as("i"))
    val ordy = struct(col("degy").as("d"), col("y").as("i"))
    val oriented = und.join(dx, "x").join(dy, "y")
      .select(
        when(ordx < ordy, col("x")).otherwise(col("y")).as("src"),
        when(ordx < ordy, ordy).otherwise(ordx).as("dord"))
      .select(col("src"), col("dord").getField("i").as("dst"), col("dord"))
      .persist()
    // wedges u→v, u→w with v strictly before w in the orientation order
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("dord").as("vord"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("dord").as("word"))
    val wedges = e1.join(e2, Seq("src")).filter(col("vord") < col("word"))
      .select(col("src").as("u"), col("v"), col("w"))
    // closure: the v→w edge exists in the SAME orientation (v before w
    // in the total order implies the undirected edge {v,w} oriented v→w)
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tris = wedges.join(closing, Seq("v", "w"))
    // ONE pass over the triangle relation: explode the 3 corners map-side
    // (a 3-way union would re-run the wedge+closure joins three times)
    val perNode = tris.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    val out = deg.join(perNode, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
    // one-job materialization boundary, like pageRank: snap eagerly so the
    // persisted invariants (each reused 2-3× inside the plan) can be
    // released; materialize = false keeps the lazy plan (and the caches)
    if (!materialize) out
    else {
      val snapped = out.localCheckpoint()
      oriented.unpersist(blocking = false)
      und.unpersist(blocking = false)
      deg.unpersist(blocking = false)
      snapped
    }
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for community
    * detection, made deterministic: labels start as node ids; each round
    * every node adopts the most frequent label among its neighbors, ties
    * broken toward the SMALLEST label (the (−count, label) lexicographic
    * min — a total order, so rounds replicate exactly in any engine;
    * classic async LP is run-order-dependent, which an oracle-gated
    * engine cannot ship). Input edges are undirected (either/both
    * directions; self-loops dropped). Output: (id, community) after
    * `iters` rounds.
    *
    * Scale: per round one equi-join (neighbor labels) + two combiner-
    * friendly aggregates (label counts, then the min_by argmax — never a
    * node-keyed window); a celebrity node's neighbor multiset reduces
    * map-side. Bipartite-ish graphs can oscillate under synchronous LP —
    * standard; pick iters (or compare consecutive rounds) accordingly. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
      iters: Int, materialize: Boolean = true): DataFrame = {
    require(iters >= 1, "iters must be positive")
    val e0 = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
    val und = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct().persist()
    val ids = und.select(col("a").as("id")).distinct().persist()
    var labels = ids.select(col("id"), col("id").as("lbl"))
    for (_ <- 0 until iters) {
      val counts = und.join(labels.select(col("id").as("__nid"), col("lbl")),
          col("b") === col("__nid"))
        .groupBy(col("a"), col("lbl")).agg(count(lit(1)).as("__c"))
      labels = counts.groupBy(col("a").as("id"))
        .agg(min_by(col("lbl"),
          struct(negate(col("__c")).as("c"), col("lbl").as("l"))).as("lbl"))
    }
    val out = labels.select(col("id"), col("lbl").as("community"))
    if (!materialize) out
    else {
      val snapped = out.localCheckpoint()
      und.unpersist(blocking = false)
      ids.unpersist(blocking = false)
      snapped
    }
  }

  // q84 — supplier-influence PageRank on the customer→supplier purchase
  // graph (distinct (o_custkey, l_suppkey) edges): 3 exact fixed-point
  // rounds. Suppliers accumulate mass from their buyers; customers (no
  // in-edges) settle at the teleport floor — both replicated exactly by
  // the unrolled-CTE oracle. An iterative rank build is a
  // materialization boundary (compute once, query many) — memoized per
  // (session, dir) like the dedup/quantizer fits; the bench reports its
  // one-time cost cold.

  // customer and supplier keys share the integer space, so node ids are
  // NAMESPACED (customer c → 10⁷ + c) — without this node 7 would be
  // customer 7 and supplier 7 accidentally merged into one walk state
  private val custBase = 10000000L
  private def q84(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ranks = Memo.get(s, d, "graphs.pr") {
      pageRank(purchaseEdges(s, d), "src", "dst", iters = 3)
    }
    ranks.orderBy($"rank_scaled".desc, $"id".asc).limit(100)
  }
  private def purchaseEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(($"o_custkey" + custBase).as("src"), $"l_suppkey".as("dst"))
      .distinct()
  }
  // AS MATERIALIZED everywhere a CTE is referenced more than once: DuckDB
  // re-inlines plain CTEs per reference, and the multi-ref round chains
  // (HITS: prev round referenced ~4x/round) go exponential — 70+ GB of
  // spill at sf1 where the materialized form stays linear (same fix as
  // the q129/q155 oracles).
  private val edgesSql =
    s"""edges AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey + $custBase AS src, l_suppkey AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nodes AS MATERIALIZED (
       |  SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |deg AS MATERIALIZED (
       |  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1)""".stripMargin
  private def roundSql(prev: String, n: Int, teleport: String): String =
    s"""c$n AS (SELECT dst, SUM(r // outdeg) AS cs
       |  FROM edges JOIN deg USING (src) JOIN $prev ON $prev.id = edges.src
       |  GROUP BY dst),
       |r$n AS (SELECT id, $teleport + (coalesce(cs, 0) // 1000000) * 850000
       |    + ((coalesce(cs, 0) % 1000000) * 850000) // 1000000 AS r
       |  FROM nodes LEFT JOIN c$n ON id = dst)""".stripMargin
  private val q84Sql =
    s"""WITH $edgesSql,
       |r0 AS (SELECT id, 1000000000 AS r FROM nodes),
       |${roundSql("r0", 1, "150000000")},
       |${roundSql("r1", 2, "150000000")},
       |${roundSql("r2", 3, "150000000")}
       |SELECT id, CAST(r AS BIGINT) AS rank_scaled FROM r3
       |ORDER BY rank_scaled DESC, id ASC LIMIT 100""".stripMargin

  // q87 — PERSONALIZED PageRank: teleport mass lands only on a trusted
  // seed set (here every 10th customer node — the "known-good domains"
  // of a crawl-quality pipeline); suppliers rank by their proximity to
  // seed customers, non-seed customers rank 0 + in-mass. Same arithmetic
  // as q84 with a seed-indicator teleport; memoized like q84.
  private def q87(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ranks = Memo.get(s, d, "graphs.ppr") {
      val edges = purchaseEdges(s, d)
      val seeds = edges.select($"src".as("seed_id")).distinct()
        .filter(($"seed_id" - custBase) % 10 === 0)
      pageRank(edges, "src", "dst", iters = 3, seeds = Some(seeds))
    }
    ranks.orderBy($"rank_scaled".desc, $"id".asc).limit(100)
  }
  private val q87Sql = {
    val tele = s"(CASE WHEN id >= $custBase AND (id - $custBase) % 10 = 0" +
      " THEN 150000000 ELSE 0 END)"
    s"""WITH $edgesSql,
       |r0 AS (SELECT id, $tele AS r FROM nodes),
       |${roundSql("r0", 1, tele)},
       |${roundSql("r1", 2, tele)},
       |${roundSql("r2", 3, tele)}
       |SELECT id, CAST(r AS BIGINT) AS rank_scaled FROM r3
       |ORDER BY rank_scaled DESC, id ASC LIMIT 100""".stripMargin
  }

  // q88 — triangle counts on the part co-purchase graph (two parts are
  // linked when a high-quantity lineitem pair shares an order; the
  // l_quantity > 25 cut keeps the projection sparse — the bipartite
  // order→part projection is dense by construction, the classic reason
  // co-occurrence graphs are thresholded before triangle analysis).
  private def q88(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // a triangle census is a build-once graph artifact like the q84
    // ranks — memoized per (session, dir), bench reports the build cold
    val counts = Memo.get(s, d, "graphs.tri") {
      val li = Tables.lineitem(s, d).filter($"l_quantity" > 25)
        .select($"l_orderkey", $"l_partkey")
      val a = li.select($"l_orderkey", $"l_partkey".as("pa"))
      val b = li.select($"l_orderkey", $"l_partkey".as("pb"))
      val edges = a.join(b, Seq("l_orderkey")).filter($"pa" =!= $"pb")
        .select($"pa", $"pb")
      triangleCounts(edges, "pa", "pb")
    }
    counts.orderBy($"triangles".desc, $"id".asc).limit(100)
  }
  private val q88Sql =
    """WITH li AS MATERIALIZED (
      |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 25),
      |raw AS MATERIALIZED (
      |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS x,
      |                  greatest(a.l_partkey, b.l_partkey) AS y
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |deg AS MATERIALIZED (SELECT id, COUNT(*) AS deg
      |  FROM (SELECT x AS id FROM raw UNION ALL SELECT y FROM raw) GROUP BY 1),
      |ori AS MATERIALIZED (
      |  SELECT CASE WHEN (dx.deg, r.x) < (dy.deg, r.y) THEN r.x ELSE r.y END AS src,
      |         CASE WHEN (dx.deg, r.x) < (dy.deg, r.y) THEN r.y ELSE r.x END AS dst,
      |         CASE WHEN (dx.deg, r.x) < (dy.deg, r.y) THEN dy.deg ELSE dx.deg END AS ddeg
      |  FROM raw r JOIN deg dx ON r.x = dx.id JOIN deg dy ON r.y = dy.id),
      |tri AS MATERIALIZED (
      |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
      |  FROM ori e1 JOIN ori e2 ON e1.src = e2.src
      |    AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)
      |  JOIN ori c ON c.src = e1.dst AND c.dst = e2.dst),
      |pn AS (SELECT id, COUNT(*) AS triangles
      |  FROM (SELECT u AS id FROM tri UNION ALL SELECT v FROM tri
      |        UNION ALL SELECT w FROM tri) GROUP BY 1)
      |SELECT CAST(d.id AS BIGINT) AS id, coalesce(pn.triangles, 0) AS triangles
      |FROM deg d LEFT JOIN pn ON d.id = pn.id
      |ORDER BY triangles DESC, id ASC LIMIT 100""".stripMargin

  // q112 — WEIGHTED PageRank: the purchase graph with edge weight = total
  // quantity bought, so rank splits proportionally to purchase volume
  // instead of uniformly per partner. 3 exact fixed-point rounds; the
  // weighted split formula is unrolled identically in the oracle.
  private def q112(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ranks = Memo.get(s, d, "graphs.wpr") {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(($"o_custkey" + custBase).as("src"), $"l_suppkey".as("dst"))
        .agg(sum($"l_quantity").cast("long").as("qty"))
      pageRank(edges, "src", "dst", iters = 3, weightCol = Some("qty"))
    }
    ranks.orderBy($"rank_scaled".desc, $"id".asc).limit(100)
  }
  private val wEdgesSql =
    s"""edges AS (SELECT o_custkey + $custBase AS src, l_suppkey AS dst,
       |    CAST(SUM(l_quantity) AS BIGINT) AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
       |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
       |deg AS (SELECT src, SUM(w) AS outdeg FROM edges GROUP BY 1)""".stripMargin
  private def wRoundSql(prev: String, n: Int, teleport: String): String =
    s"""c$n AS (SELECT dst, SUM((r // outdeg) * w + ((r % outdeg) * w) // outdeg) AS cs
       |  FROM edges JOIN deg USING (src) JOIN $prev ON $prev.id = edges.src
       |  GROUP BY dst),
       |r$n AS (SELECT id, $teleport + (coalesce(cs, 0) // 1000000) * 850000
       |    + ((coalesce(cs, 0) % 1000000) * 850000) // 1000000 AS r
       |  FROM nodes LEFT JOIN c$n ON id = dst)""".stripMargin
  private val q112Sql =
    s"""WITH $wEdgesSql,
       |r0 AS (SELECT id, 1000000000 AS r FROM nodes),
       |${wRoundSql("r0", 1, "150000000")},
       |${wRoundSql("r1", 2, "150000000")},
       |${wRoundSql("r2", 3, "150000000")}
       |SELECT id, CAST(r AS BIGINT) AS rank_scaled FROM r3
       |ORDER BY rank_scaled DESC, id ASC LIMIT 100""".stripMargin

  // q98 — HITS on the customer→supplier purchase graph: customers are
  // pure hubs (no in-edges), suppliers pure authorities — the bipartite
  // shape where authority = weighted buyer attention. 2 exact fixed-point
  // rounds, max-normalized to 10⁶; memoized like the q84 ranks.
  private def q98(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scores = Memo.get(s, d, "graphs.hits") {
      hits(purchaseEdges(s, d), "src", "dst", iters = 2)
    }
    scores.orderBy($"auth_scaled".desc, $"hub_scaled".desc, $"id".asc).limit(100)
  }
  private def hitsRoundSql(hPrev: String, n: Int): String =
    s"""a${n}r AS MATERIALIZED (SELECT dst, SUM(h) AS ar
       |  FROM edges JOIN $hPrev ON $hPrev.id = edges.src GROUP BY dst),
       |a${n}m AS MATERIALIZED (SELECT greatest(MAX(ar), 1) AS m FROM a${n}r),
       |a$n AS MATERIALIZED (SELECT id, (coalesce(ar, 0) // m) * 1000000
       |    + ((coalesce(ar, 0) % m) * 1000000) // m AS a
       |  FROM nodes LEFT JOIN a${n}r ON id = dst CROSS JOIN a${n}m),
       |h${n}r AS MATERIALIZED (SELECT src, SUM(a) AS hr
       |  FROM edges JOIN a$n ON a$n.id = edges.dst GROUP BY src),
       |h${n}m AS MATERIALIZED (SELECT greatest(MAX(hr), 1) AS m FROM h${n}r),
       |h$n AS MATERIALIZED (SELECT id, (coalesce(hr, 0) // m) * 1000000
       |    + ((coalesce(hr, 0) % m) * 1000000) // m AS h
       |  FROM nodes LEFT JOIN h${n}r ON id = src CROSS JOIN h${n}m)""".stripMargin
  private val q98Sql =
    s"""WITH $edgesSql,
       |h0 AS (SELECT id, 1000000 AS h FROM nodes),
       |${hitsRoundSql("h0", 1)},
       |${hitsRoundSql("h1", 2)}
       |SELECT h2.id, CAST(h2.h AS BIGINT) AS hub_scaled,
       |  CAST(a2.a AS BIGINT) AS auth_scaled
       |FROM h2 JOIN a2 ON h2.id = a2.id
       |ORDER BY auth_scaled DESC, hub_scaled DESC, h2.id ASC LIMIT 100""".stripMargin

  // q101 — communities on the part co-purchase graph (q88's edges): 2
  // deterministic LP rounds; every part gets its community label.
  private def q101(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val comm = Memo.get(s, d, "graphs.lp") {
      val li = Tables.lineitem(s, d).filter($"l_quantity" > 25)
        .select($"l_orderkey", $"l_partkey")
      val a = li.select($"l_orderkey", $"l_partkey".as("pa"))
      val b = li.select($"l_orderkey", $"l_partkey".as("pb"))
      val edges = a.join(b, Seq("l_orderkey")).filter($"pa" =!= $"pb")
        .select($"pa", $"pb")
      labelPropagation(edges, "pa", "pb", iters = 2)
    }
    comm.orderBy($"id")
  }
  private def lpRoundSql(prev: String, n: Int): String =
    s"""c$n AS (SELECT und.a AS node, $prev.lbl, COUNT(*) AS c
       |  FROM und JOIN $prev ON $prev.id = und.b GROUP BY 1, 2),
       |m$n AS (SELECT node, MAX(c) AS mc FROM c$n GROUP BY 1),
       |l$n AS (SELECT c$n.node AS id, MIN(c$n.lbl) AS lbl
       |  FROM c$n JOIN m$n ON c$n.node = m$n.node AND c$n.c = m$n.mc
       |  GROUP BY 1)""".stripMargin
  private val q101Sql =
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 25),
       |raw AS MATERIALIZED (
       |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS x,
       |                  greatest(a.l_partkey, b.l_partkey) AS y
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
       |und AS MATERIALIZED (
       |  SELECT x AS a, y AS b FROM raw UNION ALL SELECT y, x FROM raw),
       |nodes AS (SELECT DISTINCT a AS id FROM und),
       |l0 AS (SELECT id, id AS lbl FROM nodes),
       |${lpRoundSql("l0", 1)},
       |${lpRoundSql("l1", 2)}
       |SELECT CAST(id AS BIGINT) AS id, CAST(lbl AS BIGINT) AS community
       |FROM l2 ORDER BY id""".stripMargin

  /** Fixed-k core extraction (k-core): `rounds` synchronous rounds of
    * stripping nodes with undirected degree < `k` — the standard "dense
    * backbone" pass (spam-farm isolation, influential-community cut,
    * graph sparsification before triangle/community analysis). Edges are
    * canonicalized undirected (least/greatest, self-loops dropped).
    * Output after round R: the surviving edge set's nodes with their
    * within-core degree (fixed-round semantics — converged when a round
    * strips nobody; rounds is the exact-replication knob, like the
    * PageRank iteration count). Output: (id, deg).
    *
    * Scale: per round ONE combiner-friendly degree aggregate + two
    * left-semi equi-joins (AQE-splittable); the edge relation only
    * shrinks, and each round's result is localCheckpoint'd so the plan
    * stays round-sized (the [[pageRank]] lineage policy). */
  def kCore(edgesDf: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(rounds >= 1, "rounds must be positive")
    val s = edgesDf.sparkSession
    import s.implicits._
    var e = edgesDf
      .select(least(col(srcCol), col(dstCol)).as("x"),
        greatest(col(srcCol), col(dstCol)).as("y"))
      .filter($"x" =!= $"y").distinct().localCheckpoint()
    for (_ <- 1 to rounds) {
      val deg = e.select($"x".as("id")).union(e.select($"y".as("id")))
        .groupBy($"id").agg(count(lit(1)).as("deg"))
      val kept = deg.filter($"deg" >= k).select($"id")
      e = e.join(kept.withColumnRenamed("id", "x"), Seq("x"), "left_semi")
        .join(kept.withColumnRenamed("id", "y"), Seq("y"), "left_semi")
        .select($"x", $"y").localCheckpoint()
    }
    e.select($"x".as("id")).union(e.select($"y".as("id")))
      .groupBy($"id").agg(count(lit(1)).as("deg"))
  }

  // q125 — the 30-core of the purchase graph after 3 stripping rounds
  // (median degree ≈ 33, so the cut does real work). A core build is a
  // build-once artifact — memoized, bench reports it cold.
  private def q125(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val core = Memo.get(s, d, "graphs.kcore") {
      kCore(purchaseEdges(s, d), "src", "dst", k = 30, rounds = 3)
    }
    core.orderBy($"id")
  }
  private val q125Sql = {
    // MATERIALIZED: e$n is referenced 5x per round (d$n twice, the join
    // thrice) — plain CTEs re-inline e0's lineitem scan 125x by round 3
    // and DNF DuckDB at sf1; materialized rounds are linear and SHRINK.
    def round(n: Int): String =
      s"""d$n AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
         |  SELECT x AS id FROM e$n UNION ALL SELECT y FROM e$n) GROUP BY 1),
         |n$n AS MATERIALIZED (SELECT id FROM d$n WHERE deg >= 30),
         |e${n + 1} AS MATERIALIZED (SELECT x, y FROM e$n
         |  JOIN n$n a ON e$n.x = a.id JOIN n$n b ON e$n.y = b.id)""".stripMargin
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(o_custkey + $custBase, l_suppkey) AS x,
       |    greatest(o_custkey + $custBase, l_suppkey) AS y
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  WHERE o_custkey + $custBase <> l_suppkey),
       |${round(0)},
       |${round(1)},
       |${round(2)}
       |SELECT id, COUNT(*) AS deg FROM (
       |  SELECT x AS id FROM e3 UNION ALL SELECT y FROM e3) GROUP BY 1
       |ORDER BY id""".stripMargin
  }

  /** Multi-source BFS hop distances: the minimum number of edges from any
    * seed node, up to `maxHops` (trust radius around known-good domains,
    * contamination blast-radius, "within k links of a spam hub" cuts).
    * Frontier form: round h expands ONLY the nodes first reached at
    * round h−1 — each node is expanded exactly once, so total work is
    * O(E) across all rounds regardless of `maxHops` (a relax-everything
    * loop re-joins the full distance table every round). With unit edge
    * weights first-reach = min-hops, so the frontier result is exact.
    * Undirected by default; `directed = true` follows edges src→dst
    * only. Output: (id, hops) for every node within `maxHops` of a seed
    * (seeds themselves at 0).
    *
    * Scale: per round one equi-join (frontier × adjacency, frontier
    * shrinks as the graph saturates) + one distinct + one left-anti
    * against the reached set — all equi-shuffles on node ids,
    * AQE-splittable; each round's FRESH frontier is localCheckpoint'd
    * and the reached set is the lazy union of the snaps, so lineage
    * stays round-sized without re-materializing the cumulative set
    * every round ([[pageRank]] discipline). At 100 TB
    * pre-bucket the adjacency by source node so the per-round join
    * co-locates. */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int, directed: Boolean = false): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
    val adj = (if (directed) e0
      else e0.union(e0.select(col("b").as("a"), col("a").as("b"))))
      .distinct().persist()
    var dist = seeds.select(col(seeds.columns.head).as("id")).distinct()
      .select(col("id"), lit(0L).as("hops")).localCheckpoint()
    var frontier = dist
    for (h <- 1 to maxHops) {
      val cand = adj.join(frontier.select(col("id").as("__f")),
          col("a") === col("__f"))
        .select(col("b").as("id")).distinct()
      // snap only the per-round FRESH frontier; the cumulative reached
      // set stays a lazy union of already-snapped rounds (reading snaps
      // recomputes nothing, and lineage stays one union node per round).
      // Snapping the cumulative union instead re-materializes the whole
      // reached set every round — O(rounds · reached) writes for
      // O(reached) of information (round-17 optimization).
      val fresh = cand.join(dist.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), lit(h.toLong).as("hops")).localCheckpoint()
      dist = dist.union(fresh)
      frontier = fresh
    }
    adj.unpersist(blocking = false)
    dist
  }

  /** Per-seed BFS hop distances — [[bfsDistances]] with the seed identity
    * carried through, so every (seed, node) pair gets the seed's OWN
    * distance instead of the min over all seeds. Output: (seed_id, id,
    * hops). The frontier keys by (seed, node): each pair expands exactly
    * once, so total work is O(|seeds|·E) — bound the seed set, which at
    * scale IS the estimator (landmark/pivot sampling, Eppstein–Wang). */
  def bfsDistancesPerSeed(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int, directed: Boolean = false): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a") =!= col("b"))
    val adj = (if (directed) e0
      else e0.union(e0.select(col("b").as("a"), col("a").as("b"))))
      .distinct().persist()
    var dist = seeds.select(col(seeds.columns.head).as("seed_id")).distinct()
      .select(col("seed_id"), col("seed_id").as("id"), lit(0L).as("hops"))
      .localCheckpoint()
    var frontier = dist
    for (h <- 1 to maxHops) {
      val cand = adj.join(frontier.select(col("seed_id"), col("id").as("__f")),
          col("a") === col("__f"))
        .select(col("seed_id"), col("b").as("id")).distinct()
      // snap only the fresh frontier, union the snaps (see bfsDistances)
      val fresh = cand.join(dist.select(col("seed_id"), col("id")),
          Seq("seed_id", "id"), "left_anti")
        .select(col("seed_id"), col("id"), lit(h.toLong).as("hops"))
        .localCheckpoint()
      dist = dist.union(fresh)
      frontier = fresh
    }
    adj.unpersist(blocking = false)
    dist
  }

  /** Landmark harmonic closeness: Σ 10⁶ div hops over the nodes a seed
    * reaches within `maxHops` (hops ≥ 1) — exact integer arithmetic, the
    * centrality variant that is well-defined on disconnected graphs.
    * Output: (seed_id, n_reached, closeness_scaled). */
  def harmonicCloseness(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int, directed: Boolean = false): DataFrame =
    bfsDistancesPerSeed(edges, srcCol, dstCol, seeds, maxHops, directed)
      .filter(col("hops") > 0)
      .groupBy(col("seed_id"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("1000000 DIV hops")).as("closeness_scaled"))

  // q220 — landmark harmonic closeness on the purchase graph: every 200th
  // customer as a landmark, 3-hop cut — "how central is this account in
  // the buying network", the crawl-frontier prioritization signal. Oracle:
  // the q131 unrolled-CTE BFS with the seed carried through each round.
  private def q220(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // memoized like the other iterative graph builds (rank/census caches):
    // the closeness table is a build-once artifact; the query path reads it
    val clos = Memo.get(s, d, "graphs.closeness") {
      val edges = purchaseEdges(s, d)
      val seeds = edges.select($"src".as("seed_id")).distinct()
        .filter(($"seed_id" - custBase) % 200 === 0)
      harmonicCloseness(edges, "src", "dst", seeds, maxHops = 3).persist()
    }
    clos.orderBy($"seed_id")
  }
  // every n/d/und CTE MATERIALIZED (the q98/q125 treatment): d_k is
  // referenced by both n_{k+1} and d_{k+1}, so plain CTEs re-inline the
  // whole frontier chain ~2× per round (and re-expand `und` with it) —
  // 560s at sf1 where the materialized chain is linear. Same rows.
  private val q220Sql = {
    def round(prev: String, n: Int): String =
      s"""f$n AS MATERIALIZED (SELECT DISTINCT n${n - 1}.seed_id, und.b AS id
         |  FROM und JOIN n${n - 1} ON und.a = n${n - 1}.id),
         |n$n AS MATERIALIZED (SELECT f$n.seed_id, f$n.id, $n AS hops FROM f$n
         |  LEFT JOIN $prev ON f$n.seed_id = $prev.seed_id AND f$n.id = $prev.id
         |  WHERE $prev.id IS NULL),
         |d$n AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM n$n)""".stripMargin
    s"""WITH $edgesSql,
       |und AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges
       |        UNION SELECT dst, src FROM edges),
       |n0 AS MATERIALIZED (SELECT DISTINCT src AS seed_id, src AS id, 0 AS hops FROM edges
       |  WHERE (src - $custBase) % 200 = 0),
       |d0 AS MATERIALIZED (SELECT * FROM n0),
       |${round("d0", 1)},
       |${round("d1", 2)},
       |${round("d2", 3)}
       |SELECT seed_id, COUNT(*) AS n_reached,
       |  CAST(SUM(1000000 // hops) AS BIGINT) AS closeness_scaled
       |FROM d3 WHERE hops > 0
       |GROUP BY seed_id ORDER BY seed_id""".stripMargin
  }

  /** Common-neighbor link prediction over an undirected graph: for every
    * non-adjacent pair (u, w) sharing at least `minCommon` neighbors,
    * the shared-neighbor count and the neighborhood Jaccard
    * cn·10⁶ div (deg(u) + deg(w) − cn) in exact ppm — the classic
    * "people you may know" / related-entity candidate generator, and in
    * a corpus pipeline the related-domain signal behind crawl expansion.
    * Self-loops and duplicate edges dropped.
    *
    * `maxBrokerDeg` is ENFORCED (the q34 df-cap shape): a broker node
    * with degree > maxBrokerDeg generates no wedges — without the cap a
    * celebrity node fans out deg² candidate pairs (10⁶ neighbors → 10¹²
    * pairs), the exact blowup the shingle cap kills in the dedup suite.
    * Capped semantics are part of the contract (mirrored in the oracle),
    * not a sampling approximation. Endpoint degrees (for Jaccard) stay
    * exact full-graph degrees.
    *
    * Scale: one combiner-friendly degree aggregate; the wedge build is
    * an equi-join of the capped adjacency with itself on the broker key,
    * fan-out ≤ maxBrokerDeg per broker; pair counting is a combiner
    * aggregate; adjacency exclusion is one left-anti equi-join. No
    * windows, no cartesians. Output: (u, w, cn, jaccard_ppm), u < w. */
  def linkPredict(edges: DataFrame, aCol: String, bCol: String,
      maxBrokerDeg: Int, minCommon: Long = 2L): DataFrame = {
    require(maxBrokerDeg >= 2, "maxBrokerDeg must be at least 2")
    require(minCommon >= 1, "minCommon must be positive")
    val e0 = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
    val und = e0.select(least(col("a"), col("b")).as("x"),
      greatest(col("a"), col("b")).as("y")).distinct().persist()
    val deg = und.select(col("x").as("id")).union(und.select(col("y").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg")).persist()
    // adjacency keyed by broker v; brokers hotter than the cap are
    // excluded BEFORE the self-join (broadcast-friendly eligibility is
    // implicit: the semi-join keys on the capped degree frame)
    val adj = und.select(col("x").as("v"), col("y").as("n"))
      .union(und.select(col("y").as("v"), col("x").as("n")))
    val okBrokers = deg.filter(col("deg") <= maxBrokerDeg).select(col("id").as("v"))
    // repartition(v) pins the broker key's partitioning explicitly: the
    // wedge self-join below then REUSES one exchange for both sides
    // (instead of exchanging n1 and n2 separately), and it sidesteps a
    // Spark 4.1 planner fault where the semi-join pushed into the union
    // branches leaves Union claiming the children's hash(v) partitioning
    // while physically holding the concatenated partition count — the
    // downstream join then zips mismatched RDDs and fails when AQE is off
    // ("Can't zip RDDs with unequal numbers of partitions").
    val cadj = adj.join(okBrokers, Seq("v"), "left_semi").repartition(col("v"))
    val n1 = cadj.select(col("v"), col("n").as("u"))
    val n2 = cadj.select(col("v"), col("n").as("w"))
    val cn = n1.join(n2, Seq("v")).filter(col("u") < col("w"))
      .groupBy(col("u"), col("w")).agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
    // drop already-adjacent pairs ((u,w) is canonical u<w, as is und)
    val cand = cn.join(und.select(col("x").as("u"), col("y").as("w")),
      Seq("u", "w"), "left_anti")
    val out = cand
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("w"), col("deg").as("dw")), Seq("w"))
      .select(col("u"), col("w"), col("cn"),
        expr("cn * 1000000L div (du + dw - cn)").as("jaccard_ppm"))
    val snapped = out.localCheckpoint()
    und.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    snapped
  }

  // q131 — BFS trust radius on the purchase graph: every 10th customer
  // (q87's seed set) at hop 0; how far each node sits from the nearest
  // trusted customer. Undirected, 3 hops; build-once artifact, memoized.
  private def q131(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dist = Memo.get(s, d, "graphs.bfs") {
      val edges = purchaseEdges(s, d)
      val seeds = edges.select($"src".as("seed_id")).distinct()
        .filter(($"seed_id" - custBase) % 10 === 0)
      bfsDistances(edges, "src", "dst", seeds, maxHops = 3)
    }
    dist.orderBy($"id")
  }
  private val q131Sql = {
    def round(prev: String, n: Int): String =
      s"""f$n AS (SELECT DISTINCT und.b AS id
         |  FROM und JOIN n${n - 1} ON und.a = n${n - 1}.id),
         |n$n AS (SELECT f$n.id, $n AS hops FROM f$n
         |  LEFT JOIN $prev ON f$n.id = $prev.id WHERE $prev.id IS NULL),
         |d$n AS (SELECT * FROM $prev UNION ALL SELECT * FROM n$n)""".stripMargin
    s"""WITH $edgesSql,
       |und AS (SELECT src AS a, dst AS b FROM edges
       |        UNION SELECT dst, src FROM edges),
       |n0 AS (SELECT DISTINCT src AS id, 0 AS hops FROM edges
       |  WHERE (src - $custBase) % 10 = 0),
       |d0 AS (SELECT * FROM n0),
       |${round("d0", 1)},
       |${round("d1", 2)},
       |${round("d2", 3)}
       |SELECT id, CAST(hops AS BIGINT) AS hops FROM d3 ORDER BY id""".stripMargin
  }

  // q132 — link prediction on the part co-purchase graph (q88's edges):
  // non-adjacent part pairs ranked by shared co-purchase neighbors. The
  // broker cap (40) is enforced engine-side and mirrored in the oracle.
  private def q132(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Memo.get(s, d, "graphs.lpred") {
      val li = Tables.lineitem(s, d).filter($"l_quantity" > 25)
        .select($"l_orderkey", $"l_partkey")
      val a = li.select($"l_orderkey", $"l_partkey".as("pa"))
      val b = li.select($"l_orderkey", $"l_partkey".as("pb"))
      val edges = a.join(b, Seq("l_orderkey")).filter($"pa" =!= $"pb")
        .select($"pa", $"pb")
      linkPredict(edges, "pa", "pb", maxBrokerDeg = 40, minCommon = 3L)
    }
    pairs.orderBy($"cn".desc, $"u", $"w").limit(100)
  }
  private val q132Sql =
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 25),
      |raw AS (
      |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS x,
      |                  greatest(a.l_partkey, b.l_partkey) AS y
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
      |deg AS (SELECT id, COUNT(*) AS deg
      |  FROM (SELECT x AS id FROM raw UNION ALL SELECT y FROM raw) GROUP BY 1),
      |adj AS (SELECT x AS v, y AS n FROM raw UNION ALL SELECT y, x FROM raw),
      |cadj AS (SELECT adj.v, adj.n FROM adj
      |  JOIN deg ON adj.v = deg.id AND deg.deg <= 40),
      |cn AS (SELECT n1.n AS u, n2.n AS w, COUNT(*) AS cn
      |  FROM cadj n1 JOIN cadj n2 ON n1.v = n2.v AND n1.n < n2.n
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3),
      |cand AS (SELECT cn.* FROM cn
      |  LEFT JOIN raw ON cn.u = raw.x AND cn.w = raw.y WHERE raw.x IS NULL)
      |SELECT CAST(cand.u AS BIGINT) AS u, CAST(cand.w AS BIGINT) AS w,
      |  cand.cn,
      |  CAST(cand.cn * 1000000 // (du.deg + dw.deg - cand.cn) AS BIGINT)
      |    AS jaccard_ppm
      |FROM cand JOIN deg du ON cand.u = du.id JOIN deg dw ON cand.w = dw.id
      |ORDER BY cand.cn DESC, u, w LIMIT 100""".stripMargin

  // q155 — connected components of the purchase graph, FORCED down the
  // distributed path (localThreshold = 0): min-label propagation with
  // pointer jumping, O(log diameter) rounds, per-round localCheckpoint.
  // q47 exercises the same operator through its adaptive small-graph
  // (driver union-find) branch; this query is the oracle gate for the
  // 100 TB branch — the one a near-dup graph over a full crawl actually
  // takes. Component label = min node id in the component, which is
  // exactly what the oracle's recursive reachability closure computes.
  private def q155(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // iterative build memoized like the q84 ranks; bench reports it cold
    val comp = Memo.get(s, d, "graphs.cc") {
      Text.connectedComponents(
        purchaseEdges(s, d).select($"src".as("doc_a"), $"dst".as("doc_b")),
        localThreshold = 0L).persist()
    }
    comp.select($"n".as("id"), $"lbl".as("component")).orderBy($"id")
  }
  // Unrolled min-label propagation + pointer jumping (the q84 unrolled-CTE
  // pattern), NOT the recursive transitive closure: the closure
  // materializes O(n·|component|) reach rows — a 15s sf0.01 oracle and the
  // sweep's 45s-DNF at sf0.1 — while 8 alternating (propagate, jump)
  // rounds converge for any diameter ≲ 2^8 and run in ~2s at sf0.1.
  // Convergence is checked empirically (round 8 ≡ round 9 at both sfs,
  // and round 3 already ≡ the exact recursive closure at sf0.01); an
  // under-unrolled oracle would surface as a check.py FAIL, never a
  // silent pass, because the engine side is the exact fixpoint.
  private val q155Sql = {
    val rounds = 8
    val head =
      s"""base AS MATERIALIZED (SELECT DISTINCT o_custkey + $custBase AS src, l_suppkey AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |und AS MATERIALIZED (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lab FROM und)""".stripMargin
    val steps = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT l.id, LEAST(MIN(l.lab), coalesce(MIN(nl.lab), MIN(l.lab))) AS lab
         |  FROM l${r - 1} l
         |  LEFT JOIN und u ON u.src = l.id
         |  LEFT JOIN l${r - 1} nl ON nl.id = u.dst
         |  GROUP BY l.id),
         |l$r AS MATERIALIZED (
         |  SELECT a.id, b.lab FROM p$r a JOIN p$r b ON b.id = a.lab)""".stripMargin
    }
    (head +: steps).mkString("WITH ", ",\n", "") +
      s"\nSELECT id, lab AS component FROM l$rounds ORDER BY id"
  }

  /** Budget-bounded multi-source weighted shortest paths (Bellman-Ford
    * rounds to fixpoint): min total edge weight from any seed, keeping
    * only nodes whose distance is ≤ `budget` — the cost-space sibling of
    * [[bfsDistances]]' hop radius (supply-chain latency radius, weighted
    * trust propagation). Weights must be non-negative longs; parallel
    * edges collapse to their min weight; `directed = false` mirrors every
    * edge.
    *
    * The budget is part of the SEMANTICS, not an approximation: it bounds
    * the (node, distance) lattice so both the fixpoint loop and the
    * oracle's recursive closure terminate even with 0-weight edges or
    * cycles. Convergence: distances only decrease and live in
    * {0..budget}, so the improved-set empties in at most
    * O(budget/minPositiveWeight · diameter) rounds; `maxRounds` is a
    * safety rail, loud when hit.
    *
    * Scale: each round is ONE equi-join — edges ⋈ the FRONTIER (only the
    * nodes whose distance improved last round, never the whole distance
    * table; shuffle on node id, co-locatable by pre-bucketing edges) +
    * one combiner min-aggregate + an improvement filter + a full-outer
    * merge; localCheckpoint per round keeps lineage flat. Nothing
    * driver-side but the 1-row emptiness probe. */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, budget: Long,
      directed: Boolean = false, maxRounds: Int = 64): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    require(maxRounds >= 1, "maxRounds must be positive")
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
        col(weightCol).cast("long").as("w"))
      .filter(col("a") =!= col("b"))
    val oriented = if (directed) e0
      else e0.union(e0.select(col("b").as("a"), col("a").as("b"), col("w")))
    val e = oriented.groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      .filter(col("w") <= budget).persist()
    val negatives = e.filter(col("w") < 0).limit(1).count()
    require(negatives == 0, "shortestPaths requires non-negative weights")
    var dist = seeds.select(col(seeds.columns.head).as("id")).distinct()
      .select(col("id"), lit(0L).as("dist")).localCheckpoint()
    // FRONTIER relaxation (round-17 optimization): only nodes whose
    // distance IMPROVED last round re-propagate — an unchanged node's
    // proposals were already applied the round after it last changed, so
    // dropping them cannot lose a relaxation and the fixpoint is
    // identical (classic delta-stepping argument; the old loop joined
    // the FULL dist set against E every round and detected convergence
    // by a count+sum probe — same rounds, |E⋉frontier| joined bytes
    // instead of |E⋉dist|). Converged ⇔ a round improves nothing.
    var frontier = dist
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val cand = e.join(frontier.select(col("id").as("__i"), col("dist").as("__d")),
          col("a") === col("__i"))
        .select(col("b").as("id"), (col("__d") + col("w")).as("nd"))
        .filter(col("nd") <= budget)
        .groupBy(col("id")).agg(min(col("nd")).as("nd"))
      val improved = cand.join(dist.select(col("id"), col("dist").as("__old")),
          Seq("id"), "left_outer")
        .filter(col("__old").isNull || col("nd") < col("__old"))
        .select(col("id"), col("nd").as("dist"))
        .localCheckpoint()
      if (improved.isEmpty) converged = true
      else {
        dist = dist.join(improved.select(col("id"), col("dist").as("__new")),
            Seq("id"), "full_outer")
          .select(col("id"), coalesce(col("__new"), col("dist")).as("dist"))
          .localCheckpoint()
        frontier = improved
      }
    }
    e.unpersist(blocking = false)
    require(converged, s"shortestPaths hit maxRounds=$maxRounds before fixpoint")
    dist
  }

  // q168 — supply latency radius: min cumulative ship-lag months from the
  // seed customers over the customer↔supplier purchase graph, budget 6.
  private def q168(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val edges = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(($"o_custkey" + custBase).as("src"), $"l_suppkey".as("dst"))
      .agg(expr("min(greatest(datediff(l_shipdate, o_orderdate), 0)) DIV 30").as("w"))
    val seeds = edges.select($"src".as("seed_id")).distinct()
      .filter(($"seed_id" - custBase) % 50 === 0)
    // iterative build memoized like the q84 ranks; bench reports it cold
    val dist = Memo.get(s, d, "graphs.sp") {
      shortestPaths(edges, "src", "dst", "w", seeds, budget = 6L).persist()
    }
    dist.orderBy($"id")
  }
  private val q168Sql =
    s"""WITH RECURSIVE base AS (
       |  SELECT o_custkey + $custBase AS ca, l_suppkey AS sb,
       |    MIN(greatest(date_diff('day', o_orderdate, l_shipdate), 0)) // 30 AS w
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2),
       |e AS (SELECT ca AS a, sb AS b, w FROM base
       |  UNION ALL SELECT sb, ca, w FROM base),
       |seeds AS (SELECT DISTINCT ca AS id FROM base
       |  WHERE (ca - $custBase) % 50 = 0),
       |walk(id, d) AS (
       |  SELECT id, CAST(0 AS BIGINT) FROM seeds
       |  UNION
       |  SELECT e.b, walk.d + e.w FROM walk JOIN e ON e.a = walk.id
       |  WHERE walk.d + e.w <= 6)
       |SELECT id, MIN(d) AS dist FROM walk GROUP BY id ORDER BY id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q168_shortest_path" -> q168,
    "q155_connected_components" -> q155,
    "q131_bfs_distance" -> q131,
    "q220_harmonic_closeness" -> q220,
    "q132_link_predict" -> q132,
    "q125_kcore" -> q125,
    "q101_label_propagation" -> q101,
    "q98_hits" -> q98,
    "q112_pagerank_weighted" -> q112,
    "q84_pagerank" -> q84,
    "q87_pagerank_personalized" -> q87,
    "q88_triangles" -> q88,
  )

  val oracles: Map[String, String] = Map(
    "q168_shortest_path" -> q168Sql,
    "q155_connected_components" -> q155Sql,
    "q131_bfs_distance" -> q131Sql,
    "q220_harmonic_closeness" -> q220Sql,
    "q132_link_predict" -> q132Sql,
    "q125_kcore" -> q125Sql,
    "q101_label_propagation" -> q101Sql,
    "q98_hits" -> q98Sql,
    "q112_pagerank_weighted" -> q112Sql,
    "q84_pagerank" -> q84Sql,
    "q87_pagerank_personalized" -> q87Sql,
    "q88_triangles" -> q88Sql,
  )
}
