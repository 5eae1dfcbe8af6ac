package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Memo, Tables}

/** Similarity search over the `embeddings` table (Array[Float], 64-dim) and
  * multimodal binary-column plumbing — the M5 extension surface.
  *
  * Determinism: dot products / norms are computed in scaled integer space —
  * each termwise product is floor(x*y*1e15) as a long, summed exactly — so
  * cosine scores are bit-identical across engines and partitionings, and the
  * top-k ordering (score desc, id asc) is total.
  *
  * Scale: brute-force is a broadcast of the (small) query set against the
  * (huge) base — a map-only scan, no shuffle of the base table. The IVF
  * variant prunes the base scan to the nearest centroid's cluster, the
  * standard ANN scale path.
  */
object Similarity {

  /** Termwise scaled-integer dot product of two float-array columns —
    * the native codegen'd kernel (graft.plans.ScaledDotProduct). */
  private def dotScaled(a: String, b: String): Column =
    graft.plans.ScaledDotProduct(col(a), col(b))

  /** Composable-functions form of the same kernel (kept for the equivalence
    * spec + as the reference implementation of the semantics). */
  def dotScaledLambda(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> " +
      s"CAST(floor(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) * 1e15) AS BIGINT)), " +
      s"0L, (acc, v) -> acc + v)")

  private def normScaled(a: String): Column = dotScaled(a, a)

  private def cosine(dot: Column, na: Column, nb: Column): Column =
    dot.cast(DoubleType) / (sqrt(na.cast(DoubleType)) * sqrt(nb.cast(DoubleType)))

  /** Grouped top-k WITHOUT a data-keyed window: ranks the best `k` rows per
    * `keyCols` group by (`scoreCol` desc, `idCol` asc) — the exact ordering
    * of `row_number().over(Window.partitionBy(key).orderBy(desc, asc))` —
    * via the bounded [[graft.functions.TopKByScore]] aggregate.
    *
    * Scale: a window would funnel the whole scored relation into ≤ #keys
    * tasks (one task sorts ~10⁹ rows when the key is a handful of queries).
    * This plans as ObjectHashAggregate with map-side partials: each input
    * partition reduces locally to a k-bounded buffer and only the buffers
    * shuffle — k × #partitions rows per key. Output: keyCols ++
    * (idCol, rank, scoreCol), rank 1-based, ties total (id asc). */
  def topKPerKey(df: DataFrame, keyCols: Seq[String], idCol: String,
      scoreCol: String, k: Int): DataFrame = {
    val tk = udaf(new graft.functions.TopKByScore(k),
      ExpressionEncoder[graft.functions.Scored]())
    df.groupBy(keyCols.map(col): _*)
      .agg(tk(col(idCol).cast(LongType), col(scoreCol).cast(DoubleType)).as("__tk"))
      .select(keyCols.map(col) :+ posexplode(col("__tk")): _*)
      .select(keyCols.map(col) ++ Seq(
        col("col.id").as(idCol),
        (col("pos") + 1).cast(IntegerType).as("rank"),
        col("col.score").as(scoreCol)): _*)
  }

  /** Public brute-force cosine top-k under caller-named columns: every
    * `queries` vector against every `base` vector, exact scaled-integer
    * cosine, best `k` per query. Output: (queryIdCol, idCol, rank,
    * cosine), rank 1-based with the total (cosine desc, id asc) order.
    * `pairFilter` drops pairs before scoring (e.g. self-matches when the
    * query set is a slice of the base).
    *
    * Scale: broadcast of the (small) query set over the base scan —
    * map-only over the big side, the dot product is the codegen'd
    * ScaledDotProduct kernel, and the per-query top-k is the bounded
    * [[topKPerKey]] aggregate, never a data-keyed window. */
  def annTopK(base: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      k: Int, pairFilter: Column = lit(true)): DataFrame = {
    require(idCol != queryIdCol,
      "name the base and query id columns differently (both appear in the output)")
    val b = base.select(col(idCol), col(vecCol).as("__bv"))
      .withColumn("__bn", normScaled("__bv"))
    val q = queries.select(col(queryIdCol), col(queryVecCol).as("__qv"))
      .withColumn("__qn", normScaled("__qv"))
    val scored = b.crossJoin(broadcast(q))
      .filter(pairFilter)
      .select(col(queryIdCol), col(idCol),
        cosine(dotScaled("__qv", "__bv"), col("__qn"), col("__bn")).as("cosine"))
    topKPerKey(scored, Seq(queryIdCol), idCol, "cosine", k)
  }

  // q37 — brute-force cosine top-k: the exact baseline every ANN variant is
  // measured against (the public annTopK on the embeddings table).
  // Query set = vec_id < 5, k = 10, self-matches excluded.
  private def q37(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    annTopK(
      e.select($"vec_id".as("neighbor_id"), $"embedding"), "neighbor_id", "embedding",
      e.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"embedding".as("qemb")),
      "query_id", "qemb",
      k = 10, pairFilter = $"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", $"rank", $"cosine")
      .orderBy($"query_id", $"rank")
  }
  private val q37Sql =
    """WITH norms AS (
      |  SELECT vec_id, embedding,
      |    (SELECT CAST(SUM(CAST(floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1e15) AS BIGINT)) AS BIGINT)
      |     FROM unnest(range(1, len(embedding)+1)) u(i)) AS norm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    (SELECT CAST(SUM(CAST(floor(q.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE * 1e15) AS BIGINT)) AS BIGINT)
      |     FROM unnest(range(1, len(q.embedding)+1)) u(i)) AS dot,
      |    q.norm AS qn, b.norm AS bn
      |  FROM norms q JOIN norms b ON q.vec_id < 5 AND b.vec_id <> q.vec_id),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    CAST(dot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(bn AS DOUBLE))) AS cosine
      |  FROM pairs),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine
      |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // q38/q228 — IVF ANN: coarse quantizer = LEARNED k-means centroids
  // (Lloyd's, deterministic hash-spread init — no label column involved);
  // each query probes its `nprobe` nearest centroids' clusters and scans
  // only those. q38 fixes nprobe = nlist (exhaustive ≡ brute force →
  // hash-exact SQL oracle); q228 is the pruned serving config — rows-only
  // by design, recall-vs-brute asserted in PipelineOpsSpec. On clustered
  // data recall@k ≈ 1 with small nprobe; on uniform-random embeddings
  // (this testdata — measured intra≈inter cosine) recall is bounded by
  // ≈ nprobe/nlist, which the spec asserts.
  val nprobe = 3
  val nlist = 10

  /** Deterministic Lloyd's k-means over an embedding column.
    * Returns (centroids (cid, ce, cn), assignment (vec_id, cid)).
    *
    *  - init: deterministic, no RNG, replicates across engines/reruns.
    *    nlist ≤ [[maximinSeedCap]]: farthest-point (maximin) seeding —
    *    first seed by md5(vec_id) rank, each next seed the vector least
    *    similar to every chosen seed (ties → lowest vec_id); one seed
    *    lands in each well-separated cluster (random seeding's
    *    split-cluster local optimum can't happen). nlist beyond the cap
    *    (the 50k-cluster SemDeDup regime): the nlist md5-rank-lowest
    *    train vectors in ONE TakeOrdered job — maximin's job-per-seed
    *    driver pacing must not scale with nlist;
    *  - assign: nearest centroid by cosine, computed as a broadcast
    *    cross-join (centroids are tiny) + map-side-combinable min_by — each
    *    vector's nlist candidate rows collapse to one BEFORE the shuffle,
    *    so per-iteration shuffle volume is one row per vector, skew-free;
    *  - update: per-(cid, dim) mean, collected to the driver (nlist×dims
    *    values — bounded, like AQE stats); empty clusters keep their
    *    previous centroid.
    *
    * `trainPct` trains on a deterministic md5 hash-sample of the vectors
    * (standard IVF practice: fit the quantizer on a sample, then one
    * map-only labeling pass over everything) — at 100 TB pass 1-5; the
    * final assignment always covers every vector. */
  /** Above this list size, [[kmeansFit]] seeding switches from exact
    * maximin (one job per seed) to the one-job md5-rank spread. */
  val maximinSeedCap = 64

  def kmeansFit(emb: DataFrame, vecCol: String, nlist: Int, iters: Int,
      trainPct: Int = 100): (DataFrame, DataFrame) = {
    val s = emb.sparkSession
    import s.implicits._
    val vecs = emb.select($"vec_id", col(vecCol).as("ve"))
      .withColumn("vn", normScaled("ve"))
    val train =
      if (trainPct >= 100) vecs
      else vecs.filter(
        graft.functions.Ops.md5Long(concat(lit("kms:"), $"vec_id".cast("string"))) % 100L < trainPct)
    // UNHINTED: callers apply broadcast() at their join sites. Baking the
    // hint into the returned frame puts it under every non-join consumer
    // too (pqShape's aggregate, pqEncode's collect) — Catalyst drops it
    // there with a HintErrorLogger warning per analysis, which flooded
    // the bench tail for a round.
    def centDf(cent: Seq[(Int, Array[Float])]): DataFrame =
      cent.toDF("cid", "ce").withColumn("cn", normScaled("ce"))
    def assign(cDf: DataFrame, data: DataFrame): DataFrame =
      data.crossJoin(broadcast(cDf))
        .select($"vec_id",
          struct(negate(cosine(dotScaled("ve", "ce"), $"vn", $"cn")).as("negcos"),
            $"cid").as("key"))
        .groupBy($"vec_id").agg(min($"key").as("k"))
        .select($"vec_id", $"k.cid".as("cid"))
    // Seeding — two regimes, both deterministic (no RNG, engine-replicable):
    //  - nlist ≤ maximinSeedCap: exact farthest-point (maximin) — one
    //    Spark job per seed, the quality choice for serving-sized lists
    //    (a split-cluster local optimum can't happen);
    //  - nlist > maximinSeedCap: md5-rank spread — the nlist hash-lowest
    //    train vectors in ONE job (TakeOrdered, bounded by k). A 50k-
    //    cluster SemDeDup fit must not pay 50k sequential seeding jobs
    //    (the bpeFit driver-pacing class); the hash spread is the
    //    k-means||-style scale path, and Lloyd iterations repair seed
    //    quality where clusters are real.
    var cent: Seq[(Int, Array[Float])] =
      if (nlist <= maximinSeedCap) {
        val first = train
          .orderBy(graft.functions.Ops.md5Long(concat(lit("km:"), $"vec_id".cast("string"))), $"vec_id")
          .select($"ve").head().getSeq[Float](0).toArray
        var c: Seq[(Int, Array[Float])] = Seq(0 -> first)
        while (c.size < nlist) {
          val next = train.crossJoin(broadcast(centDf(c)))
            .groupBy($"vec_id")
            .agg(max(cosine(dotScaled("ve", "ce"), $"vn", $"cn")).as("maxcos"))
            .orderBy($"maxcos".asc, $"vec_id".asc).limit(1)
            .join(vecs, "vec_id").select($"ve").head().getSeq[Float](0).toArray
          c = c :+ (c.size -> next)
        }
        c
      } else train
        .orderBy(graft.functions.Ops.md5Long(concat(lit("km:"), $"vec_id".cast("string"))), $"vec_id")
        .select($"ve").limit(nlist).collect()
        .zipWithIndex.map { case (r, i) => i -> r.getSeq[Float](0).toArray }.toSeq
    for (_ <- 0 until iters) {
      val means = train.join(assign(centDf(cent), train), "vec_id")
        .select($"cid", posexplode($"ve").as(Seq("pos", "v")))
        .groupBy($"cid", $"pos").agg(avg($"v").as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat).toArray }
      cent = cent.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
    }
    (centDf(cent), assign(centDf(cent), vecs))
  }

  // the fitted quantizer is a materialization boundary (train once, serve
  // many queries) — memoized per (session, dir) like the dedup stages
  private def fittedIvf(s: SparkSession, d: String): (DataFrame, DataFrame) =
    Memo.get(s, d, "sim.ivf") {
      val (c, a) = kmeansFit(Tables.embeddings(s, d), "embedding",
        nlist = nlist, iters = 4)
      (c, a.persist())
    }

  /** Public IVF ANN under caller-named columns: each query probes its
    * `nprobe` nearest centroids' clusters and scans ONLY those — the
    * standard ANN scale path (scan fraction ≈ nprobe/nlist). `fitted` is
    * the (centroids, assignment) pair from [[kmeansFit]] — fit once (a
    * materialization boundary), serve many query sets; the assignment's id
    * column is `vec_id` by kmeansFit's contract. Output and ordering are
    * identical in shape to [[annTopK]]; with nprobe = nlist the results
    * are EXACTLY annTopK's (every cluster scanned — spec-locked).
    *
    * Scale: the probe-selection window is bounded (≤ queries×nlist rows by
    * construction); candidates join on the cluster id (broadcast probe,
    * AQE-splittable); the per-query top-k is the bounded aggregate. */
  def ivfTopK(base: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      fitted: (DataFrame, DataFrame), nprobe: Int, k: Int,
      pairFilter: Column = lit(true)): DataFrame = {
    require(idCol != queryIdCol,
      "name the base and query id columns differently (both appear in the output)")
    require(nprobe > 0, "nprobe must be positive")
    val (cent, assign) = fitted
    val b = base.select(col(idCol), col(vecCol).as("__bv"))
      .withColumn("__bn", normScaled("__bv"))
      .join(assign.select(col("vec_id").as("__aid"), col("cid")),
        col(idCol) === col("__aid")).drop("__aid")
    val q = queries.select(col(queryIdCol), col(queryVecCol).as("__qv"))
      .withColumn("__qn", normScaled("__qv"))
    // nearest centroids per query (tiny: ≤ queries×nlist rows — this
    // window is bounded by construction, unlike a data-keyed one)
    val wq = Window.partitionBy(col(queryIdCol))
      .orderBy(cosine(dotScaled("__qv", "ce"), col("__qn"), col("cn")).desc,
        col("cid").asc)
    val probe = q.crossJoin(broadcast(cent))
      .withColumn("__crank", row_number().over(wq))
      .filter(col("__crank") <= nprobe)
      .select(col(queryIdCol), col("__qv"), col("__qn"), col("cid").as("__pcid"))
    // bounded top-k aggregate over the probed candidates (~nprobe/nlist of
    // the base per query) — same no-straggler contract as annTopK
    val scored = b.join(broadcast(probe), col("cid") === col("__pcid"))
      .filter(pairFilter)
      .select(col(queryIdCol), col(idCol),
        cosine(dotScaled("__qv", "__bv"), col("__qn"), col("__bn")).as("cosine"))
    topKPerKey(scored, Seq(queryIdCol), idCol, "cosine", k)
  }

  // q38 runs the IVF path EXHAUSTIVELY (nprobe = nlist — every cluster
  // scanned), where ivfTopK ≡ annTopK row-for-row regardless of the
  // learned quantizer, so the whole IVF code path (assignment join, probe
  // ranking, bounded top-k) gets a hash-exact brute-force SQL oracle. The
  // pruned serving config (nprobe < nlist) is q228 — rows-only by design,
  // recall-gated in PipelineOpsSpec.
  def q38(s: SparkSession, d: String): DataFrame = ivfQuery(s, d, nprobe = nlist)
  def q228(s: SparkSession, d: String): DataFrame = ivfQuery(s, d, nprobe = nprobe)
  private def ivfQuery(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    ivfTopK(
      e.select($"vec_id".as("neighbor_id"), $"embedding"), "neighbor_id", "embedding",
      e.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"embedding".as("qemb")),
      "query_id", "qemb",
      fitted = fittedIvf(s, d), nprobe = nprobe, k = 10,
      pairFilter = $"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", $"rank", $"cosine")
      .orderBy($"query_id", $"rank")
  }

  /** Semantic deduplication (SemDeDup, arXiv:2303.09540): cluster the
    * embeddings with the learned coarse quantizer ([[kmeansFit]] — no
    * labels involved), then connected components over within-cluster pairs
    * at cosine ≥ `tau`; canonical = min id per component. Output:
    * (vec_id, canonical_id, is_dup) for EVERY input vector.
    *
    * Scale: candidate pairs are an equi-join on the cluster id — never
    * corpus all-pairs. The within-cluster cost is quadratic in cluster
    * size, so `nlist` must grow with the corpus (nlist ∝ N keeps the mean
    * cluster at a constant c vectors → total pair work ≈ N·c/2, linear in
    * N — the sizing rule from the paper, which runs 50k clusters). Cosine
    * is the scaled-integer kernel, so duplicate decisions replicate
    * bit-for-bit across engines and reruns. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int, tau: Double, trainPct: Int = 100): DataFrame = {
    val base = emb.select(col(idCol).cast(LongType).as("vec_id"), col(vecCol).as("ve"))
    val (_, assign) = kmeansFit(base, "ve", nlist, iters, trainPct)
    semanticDedupFrom(base, assign, tau)
  }

  /** [[semanticDedup]] against a precomputed (vec_id, cid) assignment —
    * the fitted quantizer is a materialization boundary shared with IVF
    * search, so pipelines pass it in fitted once. */
  private def semanticDedupFrom(base: DataFrame, assign: DataFrame,
      tau: Double): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val e = base.withColumn("vn", normScaled("ve")).join(assign, "vec_id")
    val a = e.select($"cid", $"vec_id".as("va"), $"ve".as("ea"), $"vn".as("na"))
    val b = e.select($"cid", $"vec_id".as("vb"), $"ve".as("eb"), $"vn".as("nb"))
    val pairs = a.join(b, Seq("cid"))
      .filter($"va" < $"vb")
      .filter(cosine(dotScaled("ea", "eb"), $"na", $"nb") >= tau)
      .select($"va", $"vb")
    val labels = Text.connectedComponents(pairs)
    base.join(labels, $"vec_id" === $"n", "left_outer")
      .select($"vec_id",
        coalesce($"lbl", $"vec_id").as("canonical_id"),
        when(coalesce($"lbl", $"vec_id") =!= $"vec_id", 1).otherwise(0).as("is_dup"))
  }

  // q67 — SemDeDup on the embeddings table, reusing the memoized IVF
  // quantizer fit (the same clustering serves search and dedup). The SQL
  // oracle computes EXACT SemDeDup (all-pairs cosine ≥ tau → transitive
  // closure → min-id canonical, the q47 recursive-CTE machinery); the
  // engine prunes candidate pairs to within-cluster, and the two agree
  // whenever the clustering splits no ≥tau pair — guaranteed a fortiori
  // at tau=0.9 on this corpus, where NO pair reaches tau at all (uniform
  // -random embeddings, max pairwise cosine ≈ 0.513 measured via the same
  // scaled-integer kernel). The clustered path's planted-duplicate
  // detection is separately spec-proven in PipelineOpsSpec.
  private def q67(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (_, assign) = fittedIvf(s, d)
    val base = Tables.embeddings(s, d).select($"vec_id", $"embedding".as("ve"))
    semanticDedupFrom(base, assign, tau = 0.9).orderBy($"vec_id")
  }
  // all-pairs dots as a FLAT (vec_id, dim, val) equi-join aggregate, not a
  // correlated per-pair subquery: same exact scaled-integer arithmetic
  // (floor(a·b·1e15) summed in BIGINT), but vectorized — the correlated
  // form was the sweep's 45s-DNF at sf0.1; this one finishes in seconds,
  // so the cross-sf sweep needs no exclusion list
  private val q67Sql =
    """WITH RECURSIVE flat AS MATERIALIZED (
      |  SELECT vec_id, unnest(range(1, len(embedding)+1)) AS i,
      |    unnest(embedding)::DOUBLE AS v
      |  FROM embeddings),
      |norms AS MATERIALIZED (
      |  SELECT vec_id, CAST(SUM(CAST(floor(v * v * 1e15) AS BIGINT)) AS BIGINT) AS norm
      |  FROM flat GROUP BY vec_id),
      |dots AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb,
      |    CAST(SUM(CAST(floor(a.v * b.v * 1e15) AS BIGINT)) AS BIGINT) AS dot
      |  FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2),
      |close AS (
      |  SELECT d.va, d.vb FROM dots d
      |  JOIN norms na ON na.vec_id = d.va JOIN norms nb ON nb.vec_id = d.vb
      |  WHERE CAST(d.dot AS DOUBLE)
      |    / (sqrt(CAST(na.norm AS DOUBLE)) * sqrt(CAST(nb.norm AS DOUBLE))) >= 0.9),
      |edges AS (SELECT va AS src, vb AS dst FROM close
      |          UNION ALL SELECT vb, va FROM close),
      |reach(n, m) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.n, e.dst FROM reach r JOIN edges e ON r.m = e.src),
      |comp AS (SELECT n, least(n, min(m)) AS lbl FROM reach GROUP BY n)
      |SELECT e.vec_id,
      |  coalesce(c.lbl, e.vec_id) AS canonical_id,
      |  CASE WHEN coalesce(c.lbl, e.vec_id) <> e.vec_id THEN 1 ELSE 0 END AS is_dup
      |FROM embeddings e LEFT OUTER JOIN comp c ON e.vec_id = c.n
      |ORDER BY e.vec_id""".stripMargin

  /** Cross-corpus semantic decontamination — the embedding-space member
    * of the decontam family (exact hash [[Dedup.exactAgainst]] → bloom →
    * fuzzy MinHash → THIS): every corpus vector is assigned its nearest
    * reference vector by exact scaled-integer cosine (ties → lowest
    * ref id), and `flagged` = 1 when that best cosine ≥ `minCos` (a
    * paraphrase/near-copy of benchmark content). Output: (idCol,
    * refIdCol, cosine, flagged) — one row per corpus vector, so the
    * assignment doubles as a nearest-benchmark diagnostic.
    *
    * Scale: the reference set is benchmark-sized — BROADCAST it (the
    * [[Dedup.exactAgainst]] argument); the corpus side is one map-only
    * scan + a combiner-friendly argmax aggregate (min_by on the
    * (−cosine, ref id) ordering struct — never a corpus-keyed window).
    * For a reference too big to broadcast, route through the IVF
    * quantizer ([[ivfTopK]] with the ref as base) — same output contract,
    * probe-bounded recall. */
  def semanticAgainst(corpus: DataFrame, idCol: String, vecCol: String,
      ref: DataFrame, refIdCol: String, refVecCol: String,
      minCos: Double): DataFrame = {
    require(idCol != refIdCol,
      "name the corpus and reference id columns differently (both appear)")
    val c = corpus.select(col(idCol), col(vecCol).as("__cv"))
      .withColumn("__cn", normScaled("__cv"))
    val r = ref.select(col(refIdCol), col(refVecCol).as("__rv"))
      .withColumn("__rn", normScaled("__rv"))
    c.crossJoin(broadcast(r))
      .select(col(idCol), col(refIdCol),
        cosine(dotScaled("__cv", "__rv"), col("__cn"), col("__rn")).as("__cos"))
      .groupBy(col(idCol))
      .agg(min_by(struct(col(refIdCol), col("__cos")),
        struct(negate(col("__cos")), col(refIdCol))).as("__best"))
      .select(col(idCol), col(s"__best.$refIdCol").as(refIdCol),
        col("__best.__cos").as("cosine"),
        (col("__best.__cos") >= minCos).cast(IntegerType).as("flagged"))
  }

  // q121 — semantic decontamination of the embeddings table against its
  // % 20 = 0 slice (the q65/q68 reference convention in vector space).
  // This testdata is uniform-random, so only the reference members
  // themselves cross 0.6 — the planted-near-copy behavior is the same
  // argmax machinery, exercised on every row.
  private def q121(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val ref = emb.filter($"vec_id" % 20 === 0)
      .select($"vec_id".as("ref_id"), $"embedding".as("ref_vec"))
    semanticAgainst(emb, "vec_id", "embedding", ref, "ref_id", "ref_vec",
        minCos = 0.6)
      .orderBy($"vec_id")
  }
  // (vectorized list-lambda dot products, not per-pair correlated
  // subqueries: DuckDB evaluates a correlated unnest subquery as a
  // per-row subplan — 20M pairs × 64 dims took 485s at sf1 and DNF'd the
  // soak's 300s cap; list_zip+list_transform runs the same
  // floor-per-element arithmetic as one vectorized expression — all
  // element terms and sums are exact BIGINTs, so summation order can't
  // matter and only the final one-double cosine division remains —
  // measured 53s at sf1. A flat (vec_id, i, v) dim-join variant was
  // tried first and is WORSE here (155s): the 1.28B-row join→agg stream
  // costs more than 20M vectorized lambdas. The sixth oracle-waste
  // instance, and the first where MATERIALIZED alone wasn't the fix.)
  private val q121Sql =
    """WITH norms AS MATERIALIZED (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(embedding,
      |      x -> CAST(floor(x::DOUBLE * x::DOUBLE * 1e15) AS BIGINT))) AS BIGINT) AS norm
      |  FROM embeddings),
      |ref AS MATERIALIZED (
      |  SELECT e.vec_id AS ref_id, e.embedding AS rv, n.norm AS rnorm
      |  FROM embeddings e JOIN norms n ON n.vec_id = e.vec_id
      |  WHERE e.vec_id % 20 = 0),
      |scored AS (
      |  SELECT c.vec_id, r.ref_id,
      |    CAST(list_sum(list_transform(list_zip(c.embedding, r.rv),
      |      p -> CAST(floor(p[1]::DOUBLE * p[2]::DOUBLE * 1e15) AS BIGINT))) AS DOUBLE)
      |      / (sqrt(CAST(nc.norm AS DOUBLE)) * sqrt(CAST(r.rnorm AS DOUBLE))) AS cosine
      |  FROM embeddings c
      |  JOIN norms nc ON nc.vec_id = c.vec_id
      |  CROSS JOIN ref r),
      |best AS (
      |  SELECT vec_id, ref_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY cosine DESC, ref_id ASC) AS rn
      |  FROM scored)
      |SELECT vec_id, ref_id, cosine,
      |  CASE WHEN cosine >= 0.6 THEN 1 ELSE 0 END AS flagged
      |FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** Product-quantization codebook fit (PQ, Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    * vector into `m` contiguous subspaces and fit `ksub` centroids per
    * subspace with the deterministic [[kmeansFit]] (maximin seeding +
    * Lloyd's — no RNG) on the subspace slice. Returns the codebook frame
    * (sub, cid, ce, cn): sub ∈ [0, m), cid ∈ [0, ksub), `ce` the sub-dim
    * centroid, `cn` its scaled-integer self-dot. m·ksub rows — broadcast-
    * sized at any corpus scale (the whole point: 2⁶⁴ effective cells from
    * m·ksub stored vectors).
    *
    * Scale: fitting is per-subspace independent; `trainPct` fits on a
    * deterministic hash-sample (at 100 TB fit on 1-5%, encode everything —
    * the same fit-sample/apply-all split as [[kmeansFit]]). */
  def pqFit(emb: DataFrame, idCol: String, vecCol: String, m: Int, ksub: Int,
      iters: Int, trainPct: Int = 100): DataFrame = {
    val dims = emb.select(size(col(vecCol))).head().getInt(0)
    require(m > 0 && dims % m == 0, s"m=$m must divide dims=$dims")
    val sub = dims / m
    // the m sub-fits are independent (disjoint coordinate slices) — run
    // them as concurrent driver threads so their many small seeding/Lloyd
    // jobs interleave in the scheduler instead of serializing (a
    // sequential fit is m × ksub mostly-idle job barriers)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fits = (0 until m).map { j => Future {
      val slice = emb.select(col(idCol).cast(LongType).as("vec_id"),
        expr(s"slice($vecCol, ${j * sub + 1}, $sub)").as("sv"))
      val (cent, _) = kmeansFit(slice, "sv", ksub, iters, trainPct)
      cent.withColumn("sub", lit(j)).select(col("sub"), col("cid"), col("ce"), col("cn"))
    }}
    Await.result(Future.sequence(fits), Duration.Inf).reduce(_ unionAll _)
  }

  /** PQ-encode every vector against a [[pqFit]] codebook: per subspace the
    * L2-nearest centroid (‖x−c‖² = x·x + c·c − 2x·c in exact scaled
    * integers; ties → lowest cid). Output: (idCol, codes, rn) — `codes`
    * the m sub-centroid ids ordered by subspace, `rn` the reconstruction's
    * scaled self-dot Σ‖c_sub‖² (subspaces are disjoint coordinates, so the
    * reconstruction norm is exactly this sum). m·⌈log2 ksub⌉ bits replace
    * dims·32 — the compression that fits 10⁹ vectors in serving RAM.
    *
    * Plan: one map-side explode into (id, sub) rows, broadcast codebook
    * join, then two combiner-friendly aggregates (argmin per (id, sub),
    * assemble per id) — shuffle volume is m rows per vector, no window,
    * no skew key (ids are unique). */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame): DataFrame = {
    val (m, ksub) = pqShape(codebook)
    // dims come from the CODEBOOK (m × sub-centroid length), not from
    // probing the input — so encoding works on an empty micro-batch (the
    // streaming ingest path) and adds no driver action per call. Vectors
    // must have exactly m·sub dims (the codebook's contract).
    val sub = codebook.select(size(col("ce"))).head().getInt(0)
    // the codebook is m·ksub rows by construction — collect it (the same
    // bounded driver materialization as kmeansFit's means) and encode as
    // ONE map-only projection: per subspace, ksub codegen'd dot products
    // against literal centroids and an array argmin. Zero shuffles — the
    // earlier join+argmin-aggregate formulation forced partial/final
    // SortAggregates (min over a struct isn't hash-aggregable) sorting
    // the N·m·ksub relation.
    val cb = codebook.select(col("sub"), col("cid"), col("ce"), col("cn"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray, r.getLong(3)))
      .groupBy(_._1)
      .map { case (j, rows) => j -> rows.sortBy(_._2).map(r => (r._3, r._4)) }
    require(cb.keySet == (0 until m).toSet &&
      cb.values.forall(_.length == ksub), "codebook must be complete")
    // argmin_c ‖x_sub − c‖² = argmin_c (c·c − 2·x_sub·c): the x_sub·x_sub
    // term is constant per slice, so it drops out of the comparison
    val codeCols = (0 until m).map { j =>
      val sv = expr(s"slice($vecCol, ${j * sub + 1}, $sub)")
      val dists = array(cb(j).toIndexedSeq.map { case (ce, cn) =>
        lit(cn) - lit(2L) * graft.plans.ScaledDotProduct(sv, typedlit(ce.toSeq))
      }: _*)
      // first index of the min = lowest cid on ties (the total order)
      (array_position(dists, array_min(dists)) - 1).cast(IntegerType)
    }
    val cnFlat = typedlit((0 until m).flatMap(j => cb(j).map(_._2)))
    emb.select(col(idCol), array(codeCols: _*).as("codes"))
      .withColumn("rn", aggregate(
        transform(col("codes"), (c, j) => element_at(cnFlat, (j * ksub + c + 1).cast(IntegerType))),
        lit(0L), (acc, v) => acc + v))
  }

  private def pqShape(codebook: DataFrame): (Int, Int) = {
    val r = codebook.agg(countDistinct(col("sub")), countDistinct(col("cid"))).head()
    (r.getLong(0).toInt, r.getLong(1).toInt)
  }

  /** PQ top-k by asymmetric distance computation (ADC): each query builds
    * a per-subspace lookup table of scaled dots against the m·ksub
    * codebook centroids; a base vector's approximate dot is then m table
    * lookups summed — approx cosine = Σ lut[sub][code] / (‖q‖·√rn). Same
    * output shape and total (score desc, id asc) ordering as [[annTopK]].
    * Approximate by construction (quantization error) — recall is
    * spec-asserted, like IVF's.
    *
    * Scale: THE serving-path plan — the base side touches only the
    * (id, codes, rn) frame (32× smaller than raw vectors), the per-query
    * LUT is queries×m×ksub rows reduced to a broadcast array, and scoring
    * is MAP-ONLY (an array-lookup aggregate, no join on the base, no
    * shuffle before the bounded [[topKPerKey]] partial). Compose with IVF
    * cluster pruning for the full IVF-PQ stack. */
  def pqTopK(codes: DataFrame, idCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      codebook: DataFrame, k: Int, pairFilter: Column = lit(true)): DataFrame = {
    require(idCol != queryIdCol,
      "name the base and query id columns differently (both appear in the output)")
    val (_, ksub) = pqShape(codebook)
    val scored = codes.crossJoin(broadcast(pqLut(queries, queryIdCol, queryVecCol, codebook)))
      .filter(pairFilter)
      .select(col(queryIdCol), col(idCol), adcCosine(ksub).as("cosine_pq"))
    topKPerKey(scored, Seq(queryIdCol), idCol, "cosine_pq", k)
  }

  /** Per-query ADC lookup table: (queryIdCol, __qn, __lt) with `__lt` the
    * m·ksub scaled dots of the query's subspace slices against every
    * sub-centroid, flattened in (sub, cid) order — broadcast-sized
    * (queries × m × ksub longs). */
  private def pqLut(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      codebook: DataFrame): DataFrame = {
    val (m, _) = pqShape(codebook)
    val sub = codebook.select(size(col("ce"))).head().getInt(0)
    queries.select(col(queryIdCol), col(queryVecCol).as("__qv"))
      .withColumn("__qn", normScaled("__qv"))
      .select(col(queryIdCol), col("__qn"),
        explode(expr(s"transform(sequence(0, ${m - 1}), " +
          s"j -> struct(CAST(j AS INT) AS sub, slice(__qv, j * $sub + 1, $sub) AS qsv))")).as("e"))
      .select(col(queryIdCol), col("__qn"), col("e.sub").as("sub"), col("e.qsv").as("qsv"))
      .join(broadcast(codebook), "sub")
      .select(col(queryIdCol), col("__qn"), col("sub"), col("cid"),
        dotScaled("qsv", "ce").as("d"))
      .groupBy(col(queryIdCol), col("__qn"))
      .agg(expr("transform(array_sort(collect_list(struct(sub AS s, cid AS c, d))), x -> x.d)")
        .as("__lt"))
  }

  /** Approximate cosine from a codes row joined to a LUT row: m table
    * lookups summed over `codes`, normalized by √(query norm · recon norm). */
  private def adcCosine(ksub: Int): Column =
    expr(s"aggregate(transform(codes, (c, j) -> element_at(__lt, j * $ksub + c + 1)), " +
      "0L, (a, v) -> a + v)").cast(DoubleType) /
      (sqrt(col("__qn").cast(DoubleType)) * sqrt(col("rn").cast(DoubleType)))

  /** IVF-PQ: the full billion-vector serving stack — IVF cluster pruning
    * (scan nprobe/nlist of the corpus) × PQ codes (32× less memory per
    * scanned vector). `codes` must carry a `cid` column (join [[pqEncode]]
    * output with [[kmeansFit]]'s assignment once at build time — at scale
    * the code table is STORED partitioned by cid, so a probe reads only
    * its clusters' partitions). Each query probes its `nprobe` nearest
    * coarse centroids, then ADC-scores only same-cluster codes via the
    * broadcast LUT — an equi-join on cid (AQE-splittable), never a scan
    * of the full code table. With nprobe = nlist every code is scored and
    * the result is EXACTLY [[pqTopK]]'s (spec-locked). Output shape and
    * ordering as [[annTopK]] (score = cosine_pq). */
  def ivfPqTopK(codes: DataFrame, idCol: String,
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      centroids: DataFrame, codebook: DataFrame, nprobe: Int, k: Int,
      pairFilter: Column = lit(true)): DataFrame = {
    require(idCol != queryIdCol,
      "name the base and query id columns differently (both appear in the output)")
    require(nprobe > 0, "nprobe must be positive")
    val (_, ksub) = pqShape(codebook)
    val q = queries.select(col(queryIdCol), col(queryVecCol).as("__qv"))
      .withColumn("__qn2", normScaled("__qv"))
    // nearest coarse centroids per query — bounded (≤ queries×nlist rows)
    val wq = Window.partitionBy(col(queryIdCol))
      .orderBy(cosine(dotScaled("__qv", "ce"), col("__qn2"), col("cn")).desc,
        col("cid").asc)
    val probe = q.crossJoin(broadcast(centroids))
      .withColumn("__crank", row_number().over(wq))
      .filter(col("__crank") <= nprobe)
      .select(col(queryIdCol).as("__pqid"), col("cid").as("__pcid"))
    val lut = pqLut(queries, queryIdCol, queryVecCol, codebook)
      .join(probe, col(queryIdCol) === col("__pqid")).drop("__pqid")
    val scored = codes.join(broadcast(lut), col("cid") === col("__pcid"))
      .filter(pairFilter)
      .select(col(queryIdCol), col(idCol), adcCosine(ksub).as("cosine_pq"))
    topKPerKey(scored, Seq(queryIdCol), idCol, "cosine_pq", k)
  }

  /** Per-group embedding centroids in exact fixed-point: each component
    * becomes floor(v·10⁹) (a long — identical in any engine), sums and
    * counts are exact integer aggregates, and the mean is ONE final IEEE
    * division of exact operands. Output rows (groupCols…, dim, n,
    * sum_scaled, centroid) — the long layout downstream joins and oracles
    * consume without array-ordering pitfalls; `zip` back with
    * `array_sort(collect_list(struct(dim, centroid)))` when an array is
    * needed.
    *
    * Scale: posexplode is map-only (×dims rows, pruned to group+vec
    * columns); the aggregate shuffles (groups×dims) keys with map-side
    * partials. The class-mean primitive behind SemDeDup cluster centers,
    * label prototypes, and drift monitoring. */
  def groupCentroids(emb: DataFrame, groupCols: Seq[String],
      vecCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val exploded = emb.select(groupCols.map(col) :+
        posexplode(col(vecCol)).as(Seq("dim", "__v")): _*)
      .withColumn("__sv",
        expr("CAST(floor(CAST(__v AS DOUBLE) * 1000000000) AS BIGINT)"))
    exploded.groupBy((groupCols.map(col) :+ col("dim")): _*)
      .agg(count(lit(1)).as("n"), sum(col("__sv")).as("sum_scaled"))
      .withColumn("centroid",
        col("sum_scaled").cast(DoubleType) / col("n").cast(DoubleType) / 1e9)
  }

  // q216 — label prototypes: per-label per-dimension centroid of the
  // embeddings table through the exact fixed-point route — every value
  // (counts, scaled sums, the final double division of exact integers)
  // reproduces bit-for-bit on any engine.
  private def q216(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    groupCentroids(Tables.embeddings(s, d), Seq("label"), "embedding")
      .orderBy($"label", $"dim")
  }
  private val q216Sql =
    """WITH x AS (SELECT label, unnest(range(len(embedding))) AS dim,
      |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000000) AS BIGINT) AS sv
      |  FROM embeddings)
      |SELECT label, CAST(dim AS INTEGER) AS dim, COUNT(*) AS n,
      |  CAST(SUM(sv) AS BIGINT) AS sum_scaled,
      |  CAST(CAST(SUM(sv) AS BIGINT) AS DOUBLE) / COUNT(*) / 1e9 AS centroid
      |FROM x GROUP BY label, dim
      |ORDER BY label, dim""".stripMargin

  /** Two-stage PQ serving with exact refine: ADC shortlists `shortlist`
    * candidates per query ([[pqTopK]]), then re-scores ONLY the shortlist
    * against the full-precision vectors in `exact` (columns idCol +
    * vecCol) and returns the exact-cosine top `k` — the standard
    * shortlist-then-refine retrieval pattern. Quantization error then
    * affects only WHICH candidates enter the refine, never their final
    * order or scores; at shortlist = |base| the output EQUALS [[annTopK]]
    * row-for-row (spec-locked in PipelineOpsSpec).
    *
    * Scale: the ADC pass stays map-only over the 32×-compressed codes;
    * the refine touches queries×shortlist rows fetched by an equi-join on
    * id (point lookups riding the id-bucketed vector layout — never a
    * second scan of the full vector corpus); scoring reuses the codegen'd
    * ScaledDotProduct kernel and the k-bounded [[topKPerKey]] aggregate. */
  def pqTopKRefined(codes: DataFrame, idCol: String, exact: DataFrame,
      vecCol: String, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, codebook: DataFrame, k: Int, shortlist: Int,
      pairFilter: Column = lit(true)): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val cand = pqTopK(codes, idCol, queries, queryIdCol, queryVecCol,
        codebook, k = shortlist, pairFilter = pairFilter)
      .select(col(queryIdCol), col(idCol))
    exactRefine(cand, idCol, exact, vecCol, queries, queryIdCol, queryVecCol, k)
  }

  /** The shared exact-refine stage: re-score a (queryIdCol, idCol)
    * candidate frame against full-precision vectors and keep the exact
    * cosine top k — identical scoring expression (and therefore bit
    * pattern) to [[annTopK]]. */
  private def exactRefine(cand: DataFrame, idCol: String, exact: DataFrame,
      vecCol: String, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, k: Int): DataFrame = {
    val b = exact.select(col(idCol), col(vecCol).as("__bv"))
      .withColumn("__bn", normScaled("__bv"))
    val q = queries.select(col(queryIdCol), col(queryVecCol).as("__qv"))
      .withColumn("__qn", normScaled("__qv"))
    val scored = cand.join(b, idCol :: Nil)
      .join(broadcast(q), queryIdCol :: Nil)
      .select(col(queryIdCol), col(idCol),
        cosine(dotScaled("__qv", "__bv"), col("__qn"), col("__bn")).as("cosine"))
    topKPerKey(scored, Seq(queryIdCol), idCol, "cosine", k)
  }

  /** Two-stage IVF-PQ with exact refine — the production billion-vector
    * stack end-to-end: IVF cluster pruning × PQ-ADC shortlisting
    * ([[ivfPqTopK]]), then exact re-scoring of ONLY the shortlist against
    * the full-precision vectors. Quantization affects WHICH candidates
    * reach the refine, never their final order or scores; at
    * nprobe = nlist and shortlist ≥ |base| the output EQUALS [[annTopK]]
    * row-for-row (the oracled q85 configuration — hash-exact vs the
    * brute-force SQL oracle).
    *
    * Scale: the [[ivfPqTopK]] and [[pqTopKRefined]] notes compose — the
    * ADC pass scans nprobe/nlist of the 32×-compressed codes, and the
    * refine's equi-join on id rides the id-bucketed vector layout (point
    * lookups, never a second full scan). */
  def ivfPqTopKRefined(codes: DataFrame, idCol: String, exact: DataFrame,
      vecCol: String, queries: DataFrame, queryIdCol: String,
      queryVecCol: String, centroids: DataFrame, codebook: DataFrame,
      nprobe: Int, k: Int, shortlist: Int,
      pairFilter: Column = lit(true)): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val cand = ivfPqTopK(codes, idCol, queries, queryIdCol, queryVecCol,
        centroids, codebook, nprobe, k = shortlist, pairFilter = pairFilter)
      .select(col(queryIdCol), col(idCol))
    exactRefine(cand, idCol, exact, vecCol, queries, queryIdCol, queryVecCol, k)
  }

  // q83 — PQ ANN (m=4 subspaces × ksub=8 centroids → 4096 effective cells
  // from 32 stored sub-centroids): fit + encode are memoized per (session,
  // dir) like the IVF quantizer (train once, serve many); the query path is
  // the map-only ADC scorer. Approximate by design (k-means + quantization
  // error) → no SQL oracle; recall-vs-brute and planted-cluster exactness
  // are spec-asserted in PipelineOpsSpec.
  private def fittedPq(s: SparkSession, d: String): (DataFrame, DataFrame) =
    Memo.get(s, d, "sim.pq") {
      val base = Tables.embeddings(s, d)
      val cb = pqFit(base, "vec_id", "embedding", m = 4, ksub = 8, iters = 2)
      (cb, pqEncode(base, "vec_id", "embedding", cb).persist())
    }
  // q214/q229 — PQ shortlist + exact refine: q83's ADC pass widened to a
  // shortlist, re-scored exactly against the full-precision vectors,
  // final k = 10. q214 fixes shortlist ≥ |base| — there the refine sees
  // every candidate and the output ≡ annTopK row-for-row regardless of
  // the codebook, so the whole shortlist-then-refine path gets a
  // hash-exact brute-force SQL oracle. q229 is the pruned serving config
  // (shortlist = 50) — rows-only by design; recall-dominates-plain-PQ is
  // spec-asserted.
  def q214(s: SparkSession, d: String): DataFrame =
    pqRefineQuery(s, d, shortlist = 1 << 20)
  def q229(s: SparkSession, d: String): DataFrame =
    pqRefineQuery(s, d, shortlist = 50)
  private def pqRefineQuery(s: SparkSession, d: String, shortlist: Int): DataFrame = {
    import s.implicits._
    val (cb, codes) = fittedPq(s, d)
    val e = Tables.embeddings(s, d)
    pqTopKRefined(
      codes.select($"vec_id".as("neighbor_id"), $"codes", $"rn"), "neighbor_id",
      e.select($"vec_id".as("neighbor_id"), $"embedding"), "embedding",
      e.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"embedding".as("qemb")),
      "query_id", "qemb", cb, k = 10, shortlist = shortlist,
      pairFilter = $"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", $"rank", $"cosine")
      .orderBy($"query_id", $"rank")
  }

  def q83(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (cb, codes) = fittedPq(s, d)
    val e = Tables.embeddings(s, d)
    pqTopK(codes.select($"vec_id".as("neighbor_id"), $"codes", $"rn"), "neighbor_id",
      e.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"embedding".as("qemb")),
      "query_id", "qemb", cb, k = 10,
      pairFilter = $"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", $"rank", $"cosine_pq")
      .orderBy($"query_id", $"rank")
  }

  // q85/q230 — IVF-PQ ANN: the composed billion-vector serving stack,
  // reusing BOTH memoized fits (the IVF coarse quantizer from q38/q67 and
  // the PQ codebook from q83 — exactly how a real deployment shares
  // them). codes gain their cid by one build-time join with the IVF
  // assignment. q85 runs the full composed stack WITH exact refine at the
  // exhaustive config (nprobe = nlist, shortlist ≥ |base|) — there the
  // output ≡ annTopK regardless of either fit, so the IVF×PQ×refine
  // composition gets a hash-exact brute-force SQL oracle. q230 is the
  // pruned ADC serving config (nprobe < nlist, no refine) — rows-only by
  // design; ≡-pqTopK-at-full-probe and planted-cluster recall are
  // spec-asserted in PipelineOpsSpec.
  // the cid-attached code table is BUILD-time state (a deployment stores
  // codes partitioned by cid) — memoized so the query path is scan +
  // broadcast only, not a per-query codes⋈assignment join
  private def fittedIvfPqCodes(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Memo.get(s, d, "sim.ivfpq") {
      val (_, assign) = fittedIvf(s, d)
      val (_, codes) = fittedPq(s, d)
      codes.join(assign, "vec_id")
        .select($"vec_id".as("neighbor_id"), $"codes", $"rn", $"cid")
        .persist()
    }
  }
  def q85(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (cent, _) = fittedIvf(s, d)
    val (cb, _) = fittedPq(s, d)
    val e = Tables.embeddings(s, d)
    ivfPqTopKRefined(fittedIvfPqCodes(s, d), "neighbor_id",
      e.select($"vec_id".as("neighbor_id"), $"embedding"), "embedding",
      e.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"embedding".as("qemb")),
      "query_id", "qemb", cent, cb, nprobe = nlist, k = 10, shortlist = 1 << 20,
      pairFilter = $"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", $"rank", $"cosine")
      .orderBy($"query_id", $"rank")
  }
  def q230(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (cent, _) = fittedIvf(s, d)
    val (cb, _) = fittedPq(s, d)
    val e = Tables.embeddings(s, d)
    ivfPqTopK(fittedIvfPqCodes(s, d), "neighbor_id",
      e.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"embedding".as("qemb")),
      "query_id", "qemb", cent, cb, nprobe = nprobe, k = 10,
      pairFilter = $"neighbor_id" =!= $"query_id")
      .select($"query_id", $"neighbor_id", $"rank", $"cosine_pq")
      .orderBy($"query_id", $"rank")
  }

  /** Hyperplane count for a corpus of `n` vectors targeting a mean bucket
    * size of `c`: planes ≈ log2(n/c), clamped to [1, 62] (the bucket id is
    * a long bitmask). Same-bucket pairing is quadratic in bucket size
    * (n²/2^planes expected pairs on random data), so `planes` MUST grow
    * with the corpus — this is [[cosineNearDups]]'s sizing rule, the
    * analogue of SemDeDup's nlist ∝ N. */
  def planesFor(n: Long, targetBucket: Long = 64L): Int = {
    require(n > 0 && targetBucket > 0)
    val p = math.ceil(math.log(n.toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(62, math.max(1, p))
  }

  /** Embedding-cosine near-duplicate detection via random-hyperplane LSH:
    * `planes` deterministic md5-derived integer hyperplanes bucket every
    * vector by projection signs (SimHash-for-vectors); only same-bucket
    * pairs get an exact (scaled-integer) cosine, kept at ≥ threshold.
    * All arithmetic is integer-exact, so results replicate in any engine.
    * Scale: bucketing is map-only + one groupBy; candidate pairs are an
    * equi-join on the bucket id — never all-pairs, BUT expected candidate
    * count is n²/2^planes on random data, so `planes` must scale with the
    * corpus: planes ≈ log2(n / targetBucketSize) ([[planesFor]] — e.g. a
    * 10⁹-vector corpus at c=64 needs ~24 planes, NOT a fixed 4, which
    * there would degenerate into an accidental near-all-pairs join).
    * Recall note: more planes lower per-bucket collision probability for
    * true near-dups too (P[same bucket] = (1 − θ/π)^planes); when recall
    * matters more than cost, run multiple independent plane families
    * (bands) and union the candidates, as minhashLsh does for text. */
  def cosineNearDups(emb: DataFrame, planes: Int, threshold: Double): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val dims = emb.select(size($"embedding")).head().getInt(0)
    val w = s.range(planes).select($"id".as("j"))
      .crossJoin(s.range(1, dims + 1).select($"id".as("i")))
      .withColumn("w", graft.functions.Ops.md5Long(
        format_string("p%dd%d", $"j", $"i")) % 2001L - 1000L)
    // single shuffle: per-plane conditional sums in ONE groupBy(vec_id)
    // (vs groupBy(vec_id, j) then groupBy(vec_id) — halves the shuffles),
    // bucket assembled map-side from the plane columns
    val term = floor($"v".cast(DoubleType) * lit(1e6)).cast(LongType) * $"w"
    val buckets = emb.select($"vec_id", posexplode($"embedding").as(Seq("pos", "v")))
      .withColumn("i", $"pos" + 1)
      .join(broadcast(w), "i")
      .groupBy($"vec_id")
      .agg(sum(when($"j" === 0, term).otherwise(0L)).as("p0"),
        (1 until planes).map(j =>
          sum(when($"j" === j, term).otherwise(0L)).as(s"p$j")): _*)
      .select($"vec_id",
        (0 until planes).map(j =>
          when(col(s"p$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("bucket"))
    val withNorm = emb.withColumn("norm", normScaled("embedding"))
    val a = buckets.toDF("vec_a", "bucket")
      .join(withNorm.select($"vec_id".as("vec_a"), $"embedding".as("ea"), $"norm".as("na")), "vec_a")
    val b = buckets.toDF("vec_b", "bucket")
      .join(withNorm.select($"vec_id".as("vec_b"), $"embedding".as("eb"), $"norm".as("nb")), "vec_b")
    a.join(b, Seq("bucket")).filter($"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b",
        cosine(dotScaled("ea", "eb"), $"na", $"nb").as("cosine"))
      .filter($"cosine" >= threshold)
      .orderBy($"vec_a", $"vec_b")
  }

  private def q40(s: SparkSession, d: String): DataFrame =
    cosineNearDups(Tables.embeddings(s, d), planes = 4, threshold = 0.4)
  private val q40Sql =
    """WITH w AS (
      |  SELECT j, i, (('0x'||substr(md5('p'||j||'d'||i),1,15))::BIGINT % 2001 - 1000) AS w
      |  FROM unnest(range(0, 4)) a(j), unnest(range(1, 65)) b(i)),
      |proj AS MATERIALIZED (
      |  SELECT e.vec_id, w.j,
      |    SUM(CAST(floor(e.embedding[w.i]::DOUBLE * 1e6) AS BIGINT) * w.w) AS p
      |  FROM embeddings e, w GROUP BY 1, 2),
      |buckets AS MATERIALIZED (
      |  SELECT vec_id, SUM(CASE WHEN p > 0 THEN (1 << j) ELSE 0 END) AS bucket
      |  FROM proj GROUP BY 1),
      |norms AS MATERIALIZED (
      |  SELECT vec_id, embedding,
      |    CAST(list_sum(list_transform(embedding,
      |      x -> CAST(floor(x::DOUBLE * x::DOUBLE * 1e15) AS BIGINT))) AS BIGINT) AS norm
      |  FROM embeddings),
      |cand AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      |  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
      |scored AS (
      |  SELECT vec_a, vec_b,
      |    CAST(list_sum(list_transform(list_zip(x.embedding, y.embedding),
      |      p -> CAST(floor(p[1]::DOUBLE * p[2]::DOUBLE * 1e15) AS BIGINT))) AS DOUBLE)
      |      / (sqrt(CAST(x.norm AS DOUBLE)) * sqrt(CAST(y.norm AS DOUBLE))) AS cosine
      |  FROM cand JOIN norms x ON vec_a = x.vec_id JOIN norms y ON vec_b = y.vec_id)
      |SELECT vec_a, vec_b, cosine FROM scored
      |WHERE cosine >= 0.4 ORDER BY vec_a, vec_b""".stripMargin
  // (q40's scored CTE is the vectorized list-lambda form, NOT per-pair
  // correlated unnest subqueries — the q121/sf1 lesson: DuckDB runs a
  // correlated subquery as a per-row subplan, and at sf1 the 4-plane
  // config yields ~12M candidate pairs, which DNF'd the soak's 300s cap
  // (>600s alone); vectorized it completes with identical exact-integer
  // terms. norms/proj/buckets MATERIALIZED: each feeds 2 consumers.)

  // q41 — approximate distinct (HLL++): the sketch-based path a 100 TB
  // count-distinct must take (exact shown alongside; no oracle — sketch
  // internals are engine-specific; accuracy asserted in PipelineOpsSpec).
  private def q41(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey", 0.02).as("approx_parts"),
        countDistinct($"l_partkey").as("exact_parts"),
        approx_count_distinct($"l_orderkey", 0.02).as("approx_orders"),
        percentile_approx($"l_extendedprice", lit(0.5), lit(1000)).as("approx_median_price"))
      .orderBy($"l_returnflag")
  }

  // ---- explicit HLL register sketch (q251/q252) --------------------------
  //
  // q41 serves approx_count_distinct (Spark's HLL++), whose register layout
  // is engine-internal → rows-only at the gate. These two queries expose the
  // SAME sketch idea (Flajolet et al. 2007 HyperLogLog; Heule et al. 2013
  // HLL++) as an explicit, portable register table whose derivation is pure
  // md5 hex arithmetic — so the sketch itself hash-matches a DuckDB oracle,
  // and merge (register-wise MAX) is plain SQL. The reference's rt→historical
  // merge path is exactly this shape: mergeable per-segment summaries folded
  // at serve time (indexr-segment aggregates merge per pack the same way).

  /** Explicit HyperLogLog registers for `valueCol`: one row per non-empty
    * bucket, `(bucket INT, max_rho INT)`. Bucket = first `p` bits of
    * md5(value), rho = 1 + leading-zero count of the next 48 bits (so
    * max_rho ≤ 49). One codegen'd map stage + one combiner-friendly
    * `groupBy(bucket).max` — at 100 TB the map side folds each partition to
    * ≤ 2^p rows before the (tiny, bounded) shuffle. Sketches from disjoint
    * slices merge by register-wise MAX: `union.groupBy(bucket).max(max_rho)`
    * — the streamed/incremental path needs no re-scan. `p` must be a
    * multiple of 4 (bucket is carved from whole hex chars), 4..16. */
  def hllRegisters(df: DataFrame, valueCol: String, p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16 && p % 4 == 0,
      s"p must be a multiple of 4 in [4,16], got $p")
    val bucketChars = p / 4
    val h = md5(col(valueCol).cast(StringType))
    val bucket = conv(substring(h, 1, bucketChars), 16, 10).cast(IntegerType)
    // rho over the next 48 bits, via leading-zero hex chars: strip leading
    // '0's, then count the zero bits inside the first surviving hex char
    val tail = substring(h, bucketChars + 1, 12)
    val stripped = regexp_replace(tail, "^0+", "")
    val v = conv(substring(stripped, 1, 1), 16, 10).cast(IntegerType)
    val bitsInChar = when(v >= 8, 0).when(v >= 4, 1).when(v >= 2, 2)
      .otherwise(3)
    val rho = when(length(stripped) === 0, lit(49))
      .otherwise((lit(12) - length(stripped)) * 4 + bitsInChar + lit(1))
    df.filter(col(valueCol).isNotNull)
      .select(bucket.as("bucket"), rho.cast(IntegerType).as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("max_rho"))
  }

  /** Shared oracle fragment: the register relation for `col` at p=8 as
    * DuckDB CTEs ending in `reg(bucket, max_rho)`. */
  private def hllRegSql(valueCol: String, table: String): String =
    s"""h AS (SELECT md5(CAST($valueCol AS VARCHAR)) AS h FROM $table
       |       WHERE $valueCol IS NOT NULL),
       |d AS (SELECT (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
       |        + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) AS bucket,
       |       ltrim(substr(h, 3, 12), '0') AS st FROM h),
       |reg AS (SELECT CAST(bucket AS INTEGER) AS bucket,
       |  CAST(MAX(CASE WHEN st = '' THEN 49 ELSE (12 - length(st)) * 4
       |    + CASE WHEN strpos('0123456789abcdef', substr(st, 1, 1)) - 1 >= 8 THEN 0
       |           WHEN strpos('0123456789abcdef', substr(st, 1, 1)) - 1 >= 4 THEN 1
       |           WHEN strpos('0123456789abcdef', substr(st, 1, 1)) - 1 >= 2 THEN 2
       |           ELSE 3 END + 1 END) AS INTEGER) AS max_rho
       | FROM d GROUP BY bucket)""".stripMargin

  /** Fold a register table to the integer ingredients of the HLL estimate:
    * `sum_scaled = 2^49 · Σ_buckets 2^(-M_j)` (empty buckets contribute
    * M_j = 0), exact and order-independent in BIGINT — the float estimate
    * `alpha_m · m² · 2^49 / sum_scaled` is client-side arithmetic on this
    * one row (see [[hllEstimate]]; float division kept out of the oracled
    * result on purpose — see SCALE.md on ulp-drift).
    *
    * `p` is capped at 12 here (tighter than [[hllRegisters]]' 16): the
    * all-empty upper bound of `sum_scaled` is m·2^49 = 2^(p+49), which
    * exceeds Long.MaxValue at p ≥ 14 — under ANSI mode that's a runtime
    * crash on a near-empty sketch, silent wrap otherwise. Exactness needs
    * the per-bucket scale ≥ 2^49 (max rho), so a BIGINT fold cannot go
    * past p = 13; we stop at 12 (the usual HLL++ sweet spot, σ ≈ 1.6%).
    * Registers sketched at p > 12 are still valid mergeable summaries —
    * fold them with a wider (e.g. DECIMAL(38,0)) accumulator off-gate. */
  def hllFold(registers: DataFrame, p: Int): DataFrame = {
    require(p >= 4 && p <= 12,
      s"hllFold needs p in [4,12]: sum_scaled's bound 2^(p+49) overflows LONG at p>=14, got $p")
    val m = 1L << p
    registers.agg(
      lit((1 << p)).cast(IntegerType).as("m"),
      count(lit(1)).cast(LongType).as("nonzero_buckets"),
      // coalesce: an empty register table (empty input) folds to the
      // all-zero-bucket sum m·2^49, not null
      (coalesce(sum(expr("shiftleft(CAST(1 AS BIGINT), 49 - max_rho)")),
        lit(0L)) + (lit(m) - count(lit(1))) * lit(1L << 49)).cast(LongType)
        .as("sum_scaled"))
  }

  /** The HLL raw estimate from [[hllFold]]'s row. Small-range (linear
    * counting) correction applies when zero buckets exist and the raw
    * estimate ≤ 2.5m — callers at that scale should use
    * `m · ln(m / (m - nonzero))` instead (Flajolet §4). */
  def hllEstimate(m: Int, sumScaled: Long): Double = {
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    alpha * m.toDouble * m.toDouble * math.pow(2.0, 49) / sumScaled.toDouble
  }

  // q251 — the register sketch itself over lineitem.l_orderkey (p=8,
  // 256 buckets): the mergeable summary a 100 TB distinct-count ships
  // between segments. Hash-oracled — unlike q41's engine-internal sketch.
  private def q251(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    hllRegisters(Tables.lineitem(s, d), "l_orderkey", p = 8)
      .orderBy($"bucket")
  }
  private val q251Sql =
    s"""WITH ${hllRegSql("l_orderkey", "lineitem")}
       |SELECT bucket, max_rho FROM reg ORDER BY bucket""".stripMargin

  // q252 — the estimate fold: integer ingredients + the exact count for
  // audit. The client-side estimate (hllEstimate) is asserted within 10%
  // of exact_distinct in PipelineOpsSpec.
  private def q252(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val exact = li.agg(
      countDistinct($"l_orderkey").cast(LongType).as("exact_distinct"))
    hllFold(hllRegisters(li, "l_orderkey", p = 8), p = 8)
      .crossJoin(broadcast(exact))
  }
  private val q252Sql =
    s"""WITH ${hllRegSql("l_orderkey", "lineitem")}
       |SELECT CAST(256 AS INTEGER) AS m,
       |  CAST(COUNT(*) AS BIGINT) AS nonzero_buckets,
       |  CAST(SUM(CAST(1 AS BIGINT) << (49 - max_rho))
       |    + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 49) AS BIGINT)
       |    AS sum_scaled,
       |  (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM lineitem)
       |    AS exact_distinct
       |FROM reg""".stripMargin

  // q39 — multimodal binary-column plumbing: opaque binary payload + typed
  // metadata, with deterministic byte-level feature extraction (octet length,
  // content fingerprint, head-bytes sample — the shape of a thumbnail/
  // frame-sample stage; real decode lives in graft.operators.Multimodal).
  private def q39(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"lang", $"n_chars",
        $"text".cast(BinaryType).as("payload"))
      .select($"doc_id", $"lang", $"n_chars",
        length($"payload").as("byte_len"),
        md5($"payload").as("content_fp"),
        substring(hex($"payload"), 1, 16).as("head_hex"))
      .orderBy($"doc_id")
  }
  private val q39Sql =
    """SELECT doc_id, lang, n_chars,
      | CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS byte_len,
      | md5(text) AS content_fp,
      | substring(hex(CAST(text AS BLOB)), 1, 16) AS head_hex
      |FROM documents ORDER BY doc_id""".stripMargin

  // q56 — frame sampling over video payloads: every 2nd fixed-size byte
  // window ("frame") of each video object, fingerprinted. The real pipeline
  // shape for video: map-only explode of media into frame rows, no shuffle
  // until downstream grouping; the decode inside the window is the stub
  // (graft.operators.Multimodal.FakeDecoder notes), the plumbing is real.
  private def q56(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val frames = graft.operators.Multimodal.sampleFrames(
      graft.operators.Multimodal.mediaTable(s, d), every = 2, window = 32)
    frames.select($"doc_id", $"frame_no",
      md5($"frame_bytes").as("frame_fp"),
      length($"frame_bytes").as("frame_len"))
      .orderBy($"doc_id", $"frame_no")
  }
  // DuckDB has no BLOB substring; the synthetic text is pure ASCII (verified
  // octet_length == length corpus-wide), so char windows == byte windows and
  // md5(varchar chunk) hashes the same UTF-8 bytes as the binary chunk.
  private val q56Sql =
    """WITH v AS (SELECT doc_id, text AS payload
      |           FROM documents WHERE doc_id % 3 = 2),
      |idx AS (SELECT doc_id, payload,
      |          unnest(range(0, CAST(ceil(length(payload) / 32.0) AS BIGINT))) AS i
      |        FROM v)
      |SELECT doc_id, CAST(i AS INTEGER) AS frame_no,
      | md5(substring(payload, CAST(i * 32 + 1 AS BIGINT), 32)) AS frame_fp,
      | CAST(length(substring(payload, CAST(i * 32 + 1 AS BIGINT), 32)) AS INTEGER) AS frame_len
      |FROM idx WHERE i % 2 = 0 ORDER BY doc_id, frame_no""".stripMargin

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * 127/max|x|, elements floor(x·scale + 0.5). Map-only — the 4× memory
    * shrink that lets an ANN serving tier hold 4× more vectors per
    * executor. floor (not round) keeps the definition reproducible across
    * engines regardless of their rounding mode; all inputs are exact float→
    * double widenings, so results are bit-identical. Requires non-zero
    * vectors (a zero vector has no scale). Output adds (scale, qvec). */
  def quantizeInt8(emb: DataFrame, vecCol: String): DataFrame =
    emb
      .withColumn("scale",
        lit(127.0) / expr(s"CAST(array_max(transform($vecCol, x -> abs(x))) AS DOUBLE)"))
      .withColumn("qvec",
        expr(s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5d) AS INT))"))

  private def q61(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    quantizeInt8(Tables.embeddings(s, d), "embedding")
      .select($"vec_id", $"scale",
        md5(concat_ws(",", $"qvec")).as("q_fp"),
        expr("CAST(array_max(transform(arrays_zip(embedding, qvec), " +
          "p -> abs(CAST(p.embedding AS DOUBLE) - CAST(p.qvec AS DOUBLE) / scale))) AS DOUBLE)")
          .as("max_err"))
      .orderBy($"vec_id")
  }
  private val q61Sql =
    """WITH q AS (
      |  SELECT vec_id, embedding,
      |    127.0 / CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS scale
      |  FROM embeddings),
      |qq AS (
      |  SELECT vec_id, embedding, scale,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INT)) AS qvec
      |  FROM q)
      |SELECT vec_id, scale, md5(array_to_string(qvec, ',')) AS q_fp,
      |  CAST(list_max(list_transform(range(1, len(embedding) + 1),
      |    i -> abs(CAST(embedding[i] AS DOUBLE) - CAST(qvec[i] AS DOUBLE) / scale))) AS DOUBLE)
      |    AS max_err
      |FROM qq ORDER BY vec_id""".stripMargin

  /** One (query, candidate) row for the MMR group walk. Public only
    * because encoder-generated code must reach the constructor. */
  case class MmrCand(qid: Long, id: Long, rel: Long, vec: Array[Float])
  case class MmrPick(qid: Long, id: Long, mmr_rank: Int, mmr_scaled: Long)

  /** MMR (Maximal Marginal Relevance — Carbonell & Goldstein, SIGIR '98)
    * diversified re-rank of a bounded candidate list per query: greedily
    * picks `k` candidates maximizing
    * `rel·λ − maxSimToSelected·(1−λ)` (λ in ppm), the standard redundancy
    * cut between retrieval and the final context window. All arithmetic
    * is exact fixed-point: relevance and pairwise cosines scale to
    * floor(x·1e12) longs (the engine's scaled-int cosine), the λ blend is
    * a pure long multiply (≤ 1e18, no overflow, no division) — so picks
    * and scores replicate bit-for-bit in any engine. Ties: id asc; the
    * first pick's redundancy term is 0. Output: (queryIdCol, idCol,
    * mmr_rank, mmr_scaled).
    *
    * Scale: MMR is inherently sequential in k, so it belongs AFTER the
    * distributed top-C retrieval cut (annTopK/ivfTopK/bm25): the input
    * is ≤ C rows per query. Each query's walk is one group —
    * O(k·C·dim) local work, queries are the parallelism, nothing but
    * the C-bounded groups ever shuffles. */
  def mmrRerank(candidates: DataFrame, queryIdCol: String, idCol: String,
      vecCol: String, relCol: String, k: Int,
      lambdaPpm: Long = 700000L): DataFrame = {
    require(k >= 1, "k must be positive")
    require(lambdaPpm >= 0 && lambdaPpm <= 1000000L, "lambda is ppm in [0, 1e6]")
    val spark = candidates.sparkSession
    import spark.implicits._
    val lam = lambdaPpm
    val com = 1000000L - lambdaPpm
    val ds = candidates.select(
      col(queryIdCol).cast(LongType).as("qid"),
      col(idCol).cast(LongType).as("id"),
      expr(s"CAST(floor(CAST($relCol AS DOUBLE) * 1e12) AS BIGINT)").as("rel"),
      col(vecCol).as("vec")).as[MmrCand]
    val picked = ds.groupByKey(_.qid).flatMapGroups { (qid, it) =>
      val cands = it.toArray.sortBy(_.id)
      def dotS(a: Array[Float], b: Array[Float]): Long = {
        var s = 0L; var i = 0
        while (i < a.length) {
          s += math.floor(a(i).toDouble * b(i).toDouble * 1e15).toLong; i += 1
        }
        s
      }
      val norm = cands.map(c => math.sqrt(dotS(c.vec, c.vec).toDouble))
      def simScaled(i: Int, j: Int): Long =
        math.floor(dotS(cands(i).vec, cands(j).vec).toDouble /
          (norm(i) * norm(j)) * 1e12).toLong
      val n = cands.length
      // genuine max over selected — NOT clamped at 0: with all-negative
      // sims (common on random embeddings) the redundancy term must stay
      // negative, exactly like the oracle's GREATEST over sims
      val maxSim = Array.fill(n)(Long.MinValue)
      val taken = Array.fill(n)(false)
      val out = Array.newBuilder[MmrPick]
      var r = 1
      while (r <= math.min(k, n)) {
        var best = -1; var bestScore = Long.MinValue
        var i = 0
        while (i < n) {
          if (!taken(i)) {
            val sc = cands(i).rel * lam -
              (if (r == 1) 0L else maxSim(i)) * com
            // strict >: earlier (smaller) id wins ties by the id-asc presort
            if (sc > bestScore) { best = i; bestScore = sc }
          }
          i += 1
        }
        taken(best) = true
        out += MmrPick(qid, cands(best).id, r, bestScore)
        i = 0
        while (i < n) {
          if (!taken(i)) {
            val sim = simScaled(i, best)
            if (sim > maxSim(i)) maxSim(i) = sim
          }
          i += 1
        }
        r += 1
      }
      out.result().iterator
    }
    picked.toDF()
      .select(col("qid").as(queryIdCol), col("id").as(idCol),
        col("mmr_rank"), col("mmr_scaled"))
  }

  // q92 — retrieve-then-diversify: brute-force top-12 per query (the
  // distributed cut), then a 3-pick MMR walk at λ = 0.7 — oracled by
  // literally unrolling the greedy steps as CTEs (pick = QUALIFY
  // row_number over the exact fixed-point score).
  private def q92(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val cands = annTopK(
      e.select($"vec_id".as("nid"), $"embedding"), "nid", "embedding",
      e.filter($"vec_id" < 3).select($"vec_id".as("query_id"), $"embedding".as("qemb")),
      "query_id", "qemb", k = 12, pairFilter = $"nid" =!= $"query_id")
    // broadcast the CANDIDATES (queries×k rows), never the base table —
    // at 10⁹ vectors the other direction is a corpus-scale broadcast
    val withVec = broadcast(cands)
      .join(e.select($"vec_id".as("nid"), $"embedding"), "nid")
    mmrRerank(withVec, "query_id", "nid", "embedding", "cosine", k = 3)
      .orderBy($"query_id", $"mmr_rank")
  }
  private val q92Sql = {
    val pairDot = (a: String, b: String) =>
      s"""(SELECT CAST(SUM(CAST(floor($a.embedding[i]::DOUBLE * $b.embedding[i]::DOUBLE * 1e15) AS BIGINT)) AS BIGINT)
         |     FROM unnest(range(1, len($a.embedding)+1)) u(i))""".stripMargin
    s"""WITH norms AS MATERIALIZED (
       |  SELECT vec_id, embedding,
       |    (SELECT CAST(SUM(CAST(floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1e15) AS BIGINT)) AS BIGINT)
       |     FROM unnest(range(1, len(embedding)+1)) u(i)) AS norm
       |  FROM embeddings),
       |scored AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, b.vec_id AS id,
       |    CAST(${pairDot("q", "b")} AS DOUBLE)
       |      / (sqrt(CAST(q.norm AS DOUBLE)) * sqrt(CAST(b.norm AS DOUBLE))) AS cosine
       |  FROM norms q JOIN norms b ON q.vec_id < 3 AND b.vec_id <> q.vec_id),
       |cand AS MATERIALIZED (
       |  SELECT query_id, id, CAST(floor(cosine * 1e12) AS BIGINT) AS rel
       |  FROM scored
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, id ASC) <= 12),
       |sims AS MATERIALIZED (
       |  SELECT a.query_id, a.id AS ia, b.id AS ib,
       |    CAST(floor(CAST(${pairDot("ea", "eb")} AS DOUBLE)
       |      / (sqrt(CAST(ea.norm AS DOUBLE)) * sqrt(CAST(eb.norm AS DOUBLE))) * 1e12) AS BIGINT) AS sim
       |  FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.id <> b.id
       |  JOIN norms ea ON ea.vec_id = a.id JOIN norms eb ON eb.vec_id = b.id),
       |s1 AS (
       |  SELECT query_id, id, rel * 700000 AS score FROM cand
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel * 700000 DESC, id ASC) = 1),
       |c2 AS (
       |  SELECT c.query_id, c.id, c.rel * 700000 - sm.sim * 300000 AS score
       |  FROM cand c JOIN s1 ON c.query_id = s1.query_id AND c.id <> s1.id
       |  JOIN sims sm ON sm.query_id = c.query_id AND sm.ia = c.id AND sm.ib = s1.id),
       |s2 AS (
       |  SELECT query_id, id, score FROM c2
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) = 1),
       |c3 AS (
       |  SELECT c.query_id, c.id,
       |    c.rel * 700000 - GREATEST(sm1.sim, sm2.sim) * 300000 AS score
       |  FROM cand c
       |  JOIN s1 ON c.query_id = s1.query_id
       |  JOIN s2 ON c.query_id = s2.query_id
       |  JOIN sims sm1 ON sm1.query_id = c.query_id AND sm1.ia = c.id AND sm1.ib = s1.id
       |  JOIN sims sm2 ON sm2.query_id = c.query_id AND sm2.ia = c.id AND sm2.ib = s2.id
       |  WHERE c.id <> s1.id AND c.id <> s2.id),
       |s3 AS (
       |  SELECT query_id, id, score FROM c3
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) = 1)
       |SELECT query_id, CAST(id AS BIGINT) AS nid, CAST(1 AS INT) AS mmr_rank, score AS mmr_scaled FROM s1
       |UNION ALL SELECT query_id, id, 2, score FROM s2
       |UNION ALL SELECT query_id, id, 3, score FROM s3
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** Deterministic negative sampling for contrastive training: for each
    * anchor row, `k` pseudo-random partners drawn by hashing
    * (anchor id, draw index) into the pool's id range and joining back on
    * the pool id. Membership is a pure function of ids — the same
    * (anchor, negative) pairs on any engine, partitioning or rerun, the
    * property that makes a training set reproducible. Draws that hash to
    * a hole in the id space or to the anchor itself are dropped (dense
    * ids → only self-collisions; expect ≈ k·density negatives per
    * anchor). Output: (idCol, neg_rank, negIdCol).
    *
    * Scale: map-only explode of k draws per anchor, then one equi-join
    * on the pool id — no sampling state, no sequential RNG, no driver
    * data path (the id-range probe is 2 scalars, AQE-stats-sized). */
  def negativeSample(df: DataFrame, idCol: String,
      pool: DataFrame, poolIdCol: String, negIdCol: String,
      k: Int, tag: String = "neg"): DataFrame = {
    require(k >= 1, "k must be positive")
    require(negIdCol != idCol, "name the anchor and negative id columns differently")
    val mx = pool.agg(max(col(poolIdCol).cast(LongType))).head()
    require(!mx.isNullAt(0), "pool must be non-empty")
    val m = mx.getLong(0) + 1
    val draws = df.select(col(idCol).cast(LongType).as(idCol))
      .select(col(idCol), explode(sequence(lit(0), lit(k - 1))).as("neg_rank"))
      .withColumn("__cand",
        graft.functions.Ops.md5Long(concat(lit(s"$tag:"), col(idCol),
          lit(":"), col("neg_rank"))) % m)
    draws.join(pool.select(col(poolIdCol).cast(LongType).as(negIdCol)),
        col("__cand") === col(negIdCol))
      .filter(col(negIdCol) =!= col(idCol))
      .select(col(idCol), col("neg_rank"), col(negIdCol))
  }

  // q100 — reproducible contrastive negatives over the embedding corpus:
  // 4 hash-drawn negatives for each anchor vec_id < 50, joined back on the
  // (dense) vec_id space; self-collisions drop.
  private def q100(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    negativeSample(e.filter($"vec_id" < 50).select($"vec_id"), "vec_id",
        e, "vec_id", "neg_id", k = 4)
      .orderBy($"vec_id", $"neg_rank")
  }
  private val q100Sql = {
    val h = graft.functions.Ops.md5LongSql("'neg:' || a.vec_id || ':' || j")
    s"""WITH mx AS (SELECT MAX(vec_id) + 1 AS m FROM embeddings),
       |c AS (SELECT a.vec_id, CAST(j AS INTEGER) AS neg_rank, $h % m AS cand
       |      FROM embeddings a, unnest(range(0, 4)) u(j), mx
       |      WHERE a.vec_id < 50)
       |SELECT c.vec_id, neg_rank, p.vec_id AS neg_id
       |FROM c JOIN embeddings p ON cand = p.vec_id
       |WHERE p.vec_id <> c.vec_id
       |ORDER BY c.vec_id, neg_rank""".stripMargin
  }

  // q193 — embedding-quality audit per label: vector count, mean squared
  // norm, and the ppm of near-zero vectors (norm² < 0.01 — dead/failed
  // encodes). Norms are the engine's exact scaled-integer kernel
  // (Σ floor(x²·10¹⁵), the codegen'd ScaledDotProduct — order-independent
  // longs), summed in DECIMAL; one final fixed division tree.
  private def q193(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val Dz = DecimalType(38, 0)
    Tables.embeddings(s, d)
      .withColumn("norm_s",
        graft.plans.ScaledDotProduct($"embedding", $"embedding"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum($"norm_s".cast(Dz)).as("__sum_s"),
        sum(when($"norm_s" < 10000000000000L, 1L).otherwise(0L)).as("__tiny"))
      .select($"label", $"n_vecs",
        ($"__sum_s".cast(DoubleType) / $"n_vecs" / lit(1e15)).as("mean_norm2"),
        expr("__tiny * 1000000 DIV n_vecs").cast(LongType).as("tiny_ppm"))
      .orderBy($"label")
  }
  private val q193Sql =
    """WITH norms AS (
      |  SELECT label,
      |    (SELECT CAST(SUM(CAST(floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1e15) AS BIGINT)) AS BIGINT)
      |     FROM unnest(range(1, len(embedding)+1)) u(i)) AS norm_s
      |  FROM embeddings)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(CAST(norm_s AS DECIMAL(38,0))) AS DOUBLE) / COUNT(*) / 1e15
      |    AS mean_norm2,
      |  CAST(SUM(CASE WHEN norm_s < 10000000000000 THEN 1 ELSE 0 END) * 1000000
      |    // COUNT(*) AS BIGINT) AS tiny_ppm
      |FROM norms GROUP BY label ORDER BY label""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q193_embedding_quality" -> q193,
    "q216_group_centroids" -> q216,
    "q100_negative_sample" -> q100,
    "q92_mmr_rerank" -> q92,
    "q37_ann_brute" -> q37,
    "q61_embed_quantize_int8" -> q61,
    "q38_ann_ivf" -> (q38(_, _)),
    "q39_multimodal_binary" -> q39,
    "q40_embed_near_dup_lsh" -> q40,
    "q41_approx_distinct_hll" -> q41,
    "q251_hll_registers" -> q251,
    "q252_hll_estimate" -> q252,
    "q56_frame_sample" -> q56,
    "q67_semantic_dedup" -> q67,
    "q121_semantic_against" -> q121,
    "q83_ann_pq" -> (q83(_, _)),
    "q214_ann_pq_refined" -> (q214(_, _)),
    "q85_ann_ivfpq" -> (q85(_, _)),
    "q228_ann_ivf_pruned" -> (q228(_, _)),
    "q229_ann_pq_refined_pruned" -> (q229(_, _)),
    "q230_ann_ivfpq_pruned" -> (q230(_, _)),
  )

  /** q38/q214/q85 run their ANN paths at the exhaustive configuration
    * (nprobe = nlist / shortlist ≥ |base|), where each is spec-locked ≡
    * annTopK — so all three share the brute-force SQL oracle and the
    * whole code path hash-matches it. q67 is oracled by exact SemDeDup
    * (all-pairs closure — agrees with the clustered engine whenever no
    * ≥tau pair is cluster-split; trivially true here, see q67's note).
    * The pruned serving configs (q228/q229/q230), q41 (HLL) and q83
    * (pure ADC scores) are approximate by design → no SQL oracle (driver
    * rows-only check); accuracy is asserted in PipelineOpsSpec. q251/q252
    * close the HLL gap from the other side: the same sketch idea with an
    * explicit md5-derived register layout, fully hash-oracled. */
  val oracles: Map[String, String] = Map(
    "q193_embedding_quality" -> q193Sql,
    "q216_group_centroids" -> q216Sql,
    "q100_negative_sample" -> q100Sql,
    "q92_mmr_rerank" -> q92Sql,
    "q37_ann_brute" -> q37Sql,
    "q38_ann_ivf" -> q37Sql,
    "q214_ann_pq_refined" -> q37Sql,
    "q85_ann_ivfpq" -> q37Sql,
    "q67_semantic_dedup" -> q67Sql,
    "q121_semantic_against" -> q121Sql,
    "q61_embed_quantize_int8" -> q61Sql,
    "q39_multimodal_binary" -> q39Sql,
    "q40_embed_near_dup_lsh" -> q40Sql,
    "q56_frame_sample" -> q56Sql,
    "q251_hll_registers" -> q251Sql,
    "q252_hll_estimate" -> q252Sql,
  )
}
