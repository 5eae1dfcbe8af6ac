package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Public deduplication / corpus-curation API over ANY DataFrame — the
  * library surface a pipeline calls (the `qNN` entries in SparkEntry are
  * these operators instantiated on the test corpus). Callers name their id
  * and text columns; ids must be (castable to) long, unique per document.
  *
  * Every operator is a declarative plan: candidate generation is an
  * equi-join on a derived key (shingle / content hash), never all-pairs;
  * hashes are md5-derived so results replicate bit-for-bit across engines,
  * partitionings and reruns. Persist the returned pair/cluster frames when
  * consuming them more than once — they are the natural materialization
  * boundaries of a multi-stage pipeline.
  */
object Dedup {

  private def normalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast(LongType).as("doc_id"), col(textCol).as("text"))

  /** Distinct (doc_id, s) word n-gram shingle relation — the inverted-index
    * layout every near-dup variant builds on. `maxDocFreq` drops shingles
    * present in more than that many documents (hot boilerplate n-grams are
    * the join's skew risk at scale and can't discriminate near-dups).
    *
    * The cap itself is skew-safe: document frequency comes from a
    * combiner-friendly groupBy (map-side partials shrink a corpus-wide
    * shingle to #partitions rows), and the over-cap key set — tiny, it's
    * only the hot shingles — joins back as a broadcast anti-join, map-only
    * over the corpus side. A `count over Window.partitionBy(s)` would land
    * every instance of a hot shingle in ONE task: the exact straggler the
    * cap exists to prevent. */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 4,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val sh = Text.gramRows(normalized(df, idCol, textCol), n)
      .select($"doc_id", $"gram".as("s")).distinct()
    maxDocFreq match {
      case Some(cap) => Text.capShingles(sh, cap)
      case None => sh
    }
  }

  /** Exact duplicates: canonical = min id per content hash.
    * Output: (doc_id, canonical_id, n_copies, is_dup).
    *
    * canonical/count come from a map-side-combinable groupBy on md5(text) —
    * a page duplicated millions of times shrinks to #partitions partial rows
    * before the shuffle — then join back on the hash (AQE splits the skewed
    * join partition). A `Window.partitionBy(md5(text))` would serialize all
    * copies of the hot page through one task. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val hashed = normalized(df, idCol, textCol)
      .select($"doc_id", md5($"text").as("__h"))
    val canon = hashed.groupBy($"__h")
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
    hashed.join(canon, "__h")
      .select($"doc_id", $"canonical_id", $"n_copies")
      .withColumn("is_dup", when($"doc_id" =!= $"canonical_id", 1).otherwise(0))
  }

  /** Cross-corpus exact-duplicate marking: flag every row of `df` whose
    * content hash appears in `ref` — document-level decontamination against
    * a benchmark / blocklist / already-ingested corpus (the content-hash
    * complement of [[graft.operators.Curation.decontaminate]]'s n-gram
    * overlap check). Output: (doc_id, in_ref).
    *
    * Map-only over the corpus when the ref hash set broadcasts (benchmark
    * corpora are tiny next to a crawl — the default); `broadcastRef=false`
    * falls back to a shuffled join on the hash for a reference corpus too
    * big to broadcast. Hashing first means only (id, md5) ever moves. */
  def exactAgainst(df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String,
      broadcastRef: Boolean = true): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val hashes0 = ref.select(md5(col(refTextCol)).as("__h")).distinct()
      .withColumn("__m", lit(1))
    val hashes = if (broadcastRef) broadcast(hashes0) else hashes0
    normalized(df, idCol, textCol)
      .select($"doc_id", md5($"text").as("__h"))
      .join(hashes, Seq("__h"), "left_outer")
      .select($"doc_id", when($"__m".isNotNull, 1).otherwise(0).as("in_ref"))
  }

  /** [[exactAgainst]] for a reference corpus too big to broadcast, without
    * shuffling the whole corpus either: a bloom filter over the ref hashes
    * — one mergeable aggregate into a bounded bitmap, executed as a scalar
    * subquery and probed by Spark's codegen'd `might_contain` (the
    * engine's own runtime-filter machinery, exposed as a library
    * operator) — routes the corpus map-only. Bloom-negative rows are
    * DEFINITELY not in the ref (no false negatives) and short-circuit to
    * in_ref = 0; only survivors (true hits + ~fpp of the corpus) enter
    * the exact hash join, so the verdict is EXACT despite the sketch.
    * Output: (doc_id, in_ref) — identical to [[exactAgainst]].
    *
    * Scale: the corpus is scanned twice (both passes map-only, columnar-
    * pruned to id+hash) but the shuffle shrinks from |corpus| rows to
    * |hits| + fpp·|corpus| — the right trade at 100 TB, where a corpus-
    * wide shuffle is the bottleneck and rescanning two columns is not.
    * The bitmap is sized m = −n·ln(fpp)/ln²2 from `expectedRefItems`,
    * clamped to Spark's 64 Mbit aggregate cap (≈ 27M ref docs at 3% fpp;
    * shard the ref and OR more blooms past that). */
  def exactAgainstBloom(df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String,
      expectedRefItems: Long, fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    val s = df.sparkSession
    import s.implicits._
    require(expectedRefItems > 0, "expectedRefItems must be positive")
    require(fpp > 0 && fpp < 1, "fpp in (0, 1)")
    val ln2 = math.log(2.0)
    val numBits = math.min(67108864L, // BloomFilterAggregate's default cap
      math.max(64L, math.ceil(-expectedRefItems * math.log(fpp) / (ln2 * ln2)).toLong))
    val refH = ref.select(md5(col(refTextCol)).as("__h")).distinct()
    val bloomDf = refH.agg(Bridge.column(
      new BloomFilterAggregate(Bridge.expression(xxhash64($"__h")),
        Literal(expectedRefItems), Literal(numBits))
        .toAggregateExpression()).as("__bf"))
    def might = coalesce(Bridge.column(BloomFilterMightContain(
      ScalarSubquery(Bridge.analyzedPlan(bloomDf)),
      Bridge.expression(xxhash64($"__h")))), lit(false))
    val hashed = normalized(df, idCol, textCol)
      .select($"doc_id", md5($"text").as("__h"))
    val survivors = hashed.filter(might)
      .join(refH.withColumn("__m", lit(1)), Seq("__h"), "left_outer")
      .select($"doc_id", when($"__m".isNotNull, 1).otherwise(0).as("in_ref"))
    val negatives = hashed.filter(!might)
      .select($"doc_id", lit(0).as("in_ref"))
    survivors.unionAll(negatives)
  }

  /** Cross-corpus fuzzy contamination: corpus documents whose estimated
    * n-gram Jaccard against some reference document reaches `minSim`, via
    * MinHash signatures + an LSH band equi-join between the two corpora —
    * the document-level fuzzy decontamination pass (vs [[exactAgainst]]'s
    * exact hash and `Curation.decontaminate`'s shared-gram count).
    * Output: (doc_id, ref_id, est_sim).
    *
    * Candidates come from a band-key equi-join (never corpus×ref pairs);
    * signatures are one combiner-friendly aggregate per side, so the corpus
    * side streams map-only into the shuffle. Band keys are degenerate only
    * for content-identical docs — exactly the rows that should collide. */
  def minhashAgainst(df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refIdCol: String, refTextCol: String,
      n: Int = 4, k: Int = 8, bands: Int = 2, minSim: Double = 0.5,
      maxDocFreq: Option[Long] = None): DataFrame = {
    val sigsC = Text.minhashSigsFrom(shingles(df, idCol, textCol, n, maxDocFreq), k)
    val sigsR = Text.minhashSigsFrom(shingles(ref, refIdCol, refTextCol, n, maxDocFreq), k)
    Text.minhashPairsAcross(sigsC, sigsR, k, bands)
      .filter(col("est_sim") >= minSim)
  }

  /** Near-duplicate pairs at exact n-gram Jaccard ≥ threshold.
    * Output: (doc_a, doc_b, shared, jaccard), doc_a < doc_b. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 4,
      threshold: Double = 0.8, maxDocFreq: Option[Long] = None): DataFrame =
    Text.jaccardPairsFrom(shingles(df, idCol, textCol, n, maxDocFreq), threshold)

  /** Near-dup clusters: connected components over the pair graph, joined
    * back so every document gets a canonical id.
    * Output: (doc_id, canonical_id, is_dup). */
  def clusters(df: DataFrame, idCol: String, textCol: String, n: Int = 4,
      threshold: Double = 0.8, maxDocFreq: Option[Long] = None): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val pairs = jaccardPairs(df, idCol, textCol, n, threshold, maxDocFreq)
      .select($"doc_a", $"doc_b")
    val labels = Text.connectedComponents(pairs)
    normalized(df, idCol, textCol)
      .join(labels, $"doc_id" === $"n", "left_outer")
      .select($"doc_id",
        coalesce($"lbl", $"doc_id").as("canonical_id"),
        when(coalesce($"lbl", $"doc_id") =!= $"doc_id", 1).otherwise(0).as("is_dup"))
  }

  /** Blocked edit-distance near-duplicate pairs (the character-level
    * complement of the token-level [[jaccardPairs]]): candidates share a
    * deterministic block key — the lowercased `blockPrefix`-char prefix
    * (Hernández-Stolfo-style blocking) — and pass a length pre-filter
    * (|len_a − len_b| ≤ maxDist is necessary for ed ≤ maxDist), then the
    * exact Levenshtein distance is computed with the banded threshold
    * kernel (O(len·maxDist), not O(len²)). Output: (doc_a, doc_b, dist),
    * doc_a < doc_b, dist ≤ maxDist exactly.
    *
    * Recall is bounded by the blocking — a pair edited inside its first
    * `blockPrefix` characters lands in different blocks; union passes
    * over independent deterministic keys (suffix, sorted-token prefix) to
    * raise it, exactly as LSH runs multiple bands.
    *
    * Scale: candidates are an equi-join on the block key, never
    * all-pairs; the cheap length filter runs before the distance kernel;
    * a hot block (shared boilerplate prefix) is the same skew shape as a
    * hot shingle, so `maxBlockSize` ENFORCES the cap: blocks with more
    * than that many members are dropped before the self-join (one
    * combiner-friendly count + join-back — the [[shingles]] maxDocFreq
    * skeleton), bounding the fan-out at maxBlockSize² per block. Pairs
    * inside a dropped mega-block are sacrificed recall, exactly like a
    * capped hot shingle — raise the cap or add a second blocking pass to
    * recover them. */
  /** Enforced hot-block cap shared by the blocked-linkage family: drop
    * every block larger than `cap` (aggregate count + join-back — never a
    * block-keyed window). The using-column join moves "__blk" first in the
    * output, so the ORIGINAL column order is restored by name — positional
    * renames downstream stay valid. */
  private def capBlocks(b0: DataFrame, cap: Option[Long]): DataFrame =
    cap match {
      case None => b0
      case Some(c) =>
        val s = b0.sparkSession
        import s.implicits._
        val kept = b0.groupBy($"__blk").agg(count(lit(1)).as("__bn"))
          .filter($"__bn" <= c).select($"__blk")
        b0.join(kept, Seq("__blk")).select(b0.columns.map(col): _*)
    }

  /** Rows of a hot block above this size take the grid-salted self-join
    * path in [[blockSelfJoin]]; smaller blocks pay zero replication.
    * Overridable per session via `graft.dedup.hotBlockThreshold` (a
    * cluster sizing knob: the per-cell pair budget is threshold²). */
  private val HotBlockThreshold = 512L

  /** Upper bound on a hot block's grid cells per axis. The per-block grid
    * is `clamp(ceil(sqrt(n / HotBlockThreshold)), 2, MaxPairGrid)`, so a
    * cell's pair work stays ~[[HotBlockThreshold]]² regardless of block
    * size until this cap; rows replicate grid× per side, so the cap also
    * bounds replication at 64× for a pathological (10⁶-row+) block.
    * Overridable per session via `graft.dedup.maxPairGrid` (the other
    * half of the cluster sizing contract: cap × threshold² is the most
    * pair work one cell can hold before the budget degrades). */
  private val MaxPairGrid = 64L

  /** The adaptive per-block grid: `clamp(ceil(sqrt(n / thr)), 2, cap)`
    * over a block-size column. Exposed for the spec that pins BOTH clamp
    * branches (the lower floor of 2 and the replication cap). */
  private[graft] def gridFor(bn: Column, thr: Long, cap: Long): Column =
    least(greatest(
      ceil(sqrt(bn.cast("double") / thr)), lit(2L)),
      lit(cap)).cast("long")

  /** Within-block self-join where each same-`__blk` (a, c) row pair meets
    * EXACTLY once, with hot blocks spread over grid² shuffle cells
    * instead of one. A blocked pair generator's equi-join sends every row
    * of a block to ONE reducer — the sf1 soak measured q96's hottest
    * 12-char-prefix block running minutes on one core while 31 idled, and
    * at 100 TB a boilerplate-heavy prefix guarantees that straggler. Cold
    * blocks (≤ [[HotBlockThreshold]] rows) keep the plain equi-join (no
    * replication); hot-block rows replicate grid× per side and land in
    * cell (id_a mod grid, id_c mod grid) — deterministic, so plans and
    * results replay identically and pair semantics are UNCHANGED (callers
    * still apply their own a<b + scoring filters). The grid ADAPTS per
    * block — computed from the block-size column, so both sides of a
    * block derive the same grid with no driver-side action and a block
    * N× the threshold gets ~√N cells per axis (a fixed grid concentrates
    * N²/g² per cell as N grows past g²·threshold). The block-size
    * aggregate is combiner-friendly and the hot/cold splits are plain
    * equi-joins on `__blk` — unhinted, AQE sizes them. */
  private def blockSelfJoin(a: DataFrame, c: DataFrame,
      aId: String, cId: String): DataFrame = {
    val s = a.sparkSession
    import s.implicits._
    // Probe-side parallelism must be FORCED, not inherited: the build
    // side is usually broadcast (it's the same corpus, AQE sizes it), so
    // no shuffle keys the join — the probe runs at the upstream SCAN's
    // parallelism (often 1 task for a single small-file table) and the
    // per-pair scoring serializes regardless of the grid. An explicit
    // numPartitions repartition survives AQE (REPARTITION_BY_NUM is
    // never coalesced), unlike the join's own exchange, which AQE's
    // bytes-based coalescing would merge to ~1 partition exactly because
    // candidate rows are small while the downstream per-pair work is
    // quadratic (the CPU-heavy-small-shuffle blind spot).
    // non-numeric conf values (e.g. "auto" on AQE-managed platforms) fall
    // back to the context default instead of crashing at plan time
    val p = scala.util.Try(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(s.sparkContext.defaultParallelism)
    val thr = scala.util.Try(
      s.conf.get("graft.dedup.hotBlockThreshold").toLong)
      .getOrElse(HotBlockThreshold)
    val cap = scala.util.Try(
      s.conf.get("graft.dedup.maxPairGrid").toLong)
      .getOrElse(MaxPairGrid)
    val hot = a.groupBy($"__blk").agg(count(lit(1)).as("__bn"))
      .filter($"__bn" > thr)
    val hotKeys = hot.select($"__blk")
    val cold = a.join(hotKeys, Seq("__blk"), "left_anti")
      .repartition(p, col("__blk"))
      .join(c.join(hotKeys, Seq("__blk"), "left_anti"), Seq("__blk"))
    // per-block grid from the joined-in size column — both sides compute
    // the identical value, so the cell join stays exact
    val g = gridFor($"__bn", thr, cap)
    val aRep = a.join(hot, Seq("__blk"))
      .withColumn("__g", g)
      .withColumn("__ga", pmod(col(aId), col("__g")))
      .withColumn("__gb", explode(sequence(lit(0L), col("__g") - lit(1L))))
      .drop("__bn")
      .repartition(math.max(p, 256),
        col("__blk"), col("__ga"), col("__gb"))
    val cRep = c.join(hot, Seq("__blk"))
      .withColumn("__g", g)
      .withColumn("__gb", pmod(col(cId), col("__g")))
      .withColumn("__ga", explode(sequence(lit(0L), col("__g") - lit(1L))))
      .drop("__bn", "__g")
    // a pair (a, c) of a hot block matches in exactly one cell:
    // (__ga, __gb) = (id_a mod g, id_c mod g)
    cold.unionByName(
      aRep.join(cRep, Seq("__blk", "__ga", "__gb"))
        .drop("__ga", "__gb", "__g"))
  }

  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, blockPrefix: Int = 12,
      maxBlockSize: Option[Long] = None): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    require(maxDist >= 0, "maxDist must be non-negative")
    require(blockPrefix >= 1, "blockPrefix must be positive")
    require(maxBlockSize.forall(_ >= 2), "maxBlockSize must be >= 2")
    val b0 = normalized(df, idCol, textCol)
      .select($"doc_id", $"text",
        substring(lower(trim($"text")), 1, blockPrefix).as("__blk"),
        length($"text").as("__len"))
    val b = capBlocks(b0, maxBlockSize)
    val a = b.select($"doc_id".as("doc_a"), $"text".as("__ta"),
      $"__blk", $"__len".as("__la"))
    val c = b.select($"doc_id".as("doc_b"), $"text".as("__tb"),
      $"__blk", $"__len".as("__lb"))
    blockSelfJoin(a, c, "doc_a", "doc_b")
      .filter($"doc_a" < $"doc_b" && abs($"__la" - $"__lb") <= maxDist)
      .select($"doc_a", $"doc_b",
        levenshtein($"__ta", $"__tb", maxDist).as("dist"))
      // the banded kernel reports "above threshold" as -1: keep [0, maxDist]
      .filter($"dist" >= 0 && $"dist" <= maxDist)
  }

  /** Blocked Jaro-Winkler fuzzy-match pairs (record linkage / entity
    * resolution on short identifying fields — names, codes — where
    * token shingles are too coarse and edit distance over-penalizes
    * transpositions). Candidates share the caller's deterministic
    * `blockKey` (Hernández-Stolfo blocking: an equi-join, never
    * all-pairs); within a block every a<b pair is scored by the native
    * codegen'd [[graft.plans.JaroWinkler]] kernel — DuckDB-variant
    * bit-exact — and kept at `sim >= minSim`. Output: (id_a, id_b, sim).
    *
    * Scale: fan-out is Σ blockSize² — pick a blockKey whose blocks stay
    * small (zip code, name initial + length band, phonetic key), and
    * `maxBlockSize` ENFORCES the hot-block cap (same aggregate-count +
    * join-back skeleton as [[editDistancePairs]]; pairs inside a dropped
    * mega-block are sacrificed recall — rerun with a second independent
    * blocking pass to recover, as LSH runs multiple bands). */
  def jaroWinklerPairs(df: DataFrame, idCol: String, nameCol: String,
      blockKey: Column, minSim: Double,
      maxBlockSize: Option[Long] = None): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    require(minSim >= 0.0 && minSim <= 1.0, "minSim must be in [0, 1]")
    require(maxBlockSize.forall(_ >= 2), "maxBlockSize must be >= 2")
    val b0 = df.select(col(idCol).cast(LongType).as("__id"),
      col(nameCol).as("__name"), blockKey.as("__blk"))
    val b = capBlocks(b0, maxBlockSize)
    val a = b.select($"__id".as("id_a"), $"__name".as("__na"), $"__blk")
    val c = b.select($"__id".as("id_b"), $"__name".as("__nb"), $"__blk")
    blockSelfJoin(a, c, "id_a", "id_b")
      .filter($"id_a" < $"id_b")
      .withColumn("sim", graft.plans.JaroWinkler($"__na", $"__nb"))
      .filter($"sim" >= minSim)
      .select($"id_a", $"id_b", $"sim")
  }

  /** Sorted-neighborhood candidate pairs (Hernández-Stolfo's second
    * blocking strategy, complementing the equi-key blocking above): rows
    * sort globally by (`sortCol`, id) and every pair within `window` ranks
    * links as a candidate — catches near-matches that differ in the
    * equi-block key itself (a typo in the first characters).
    *
    * `sortCol` MUST be string-typed (enforced with a loud
    * IllegalArgumentException): the prefix-bucket scheme is only
    * order-aligned for lexicographic keys, so a silently stringified
    * numeric key would rank 111 before 12 and emit wrong neighborhoods
    * with no error. A numeric key must be made order-aligned upstream —
    * zero-pad non-negatives (`lpad(cast(n AS STRING), width, '0')`), or
    * offset-then-pad if negatives exist. Nulls coalesce to '', ranking
    * first. Output: (id_a, id_b, rank_a, rank_b, rank_dist),
    * 0 < rank_dist ≤ window, id_a/id_b in rank order.
    *
    * Scale: the global sort rank uses ORDER-ALIGNED prefix buckets
    * (substring of the sort key) — per-bucket `row_number` windows plus
    * cumulative bucket offsets over a ≤#buckets frame, the q235 skeleton
    * with deterministic boundaries; candidates come from a band equi-join
    * (band = rank div window, each row probes its own and the next band) —
    * never a full cross. Caveat: prefix buckets are bounded by data
    * distribution, not construction — size `prefixLen` so no single
    * prefix dominates (lengthen it for name-like keys). */
  def sortedNeighborPairs(df: DataFrame, idCol: String, sortCol: String,
      window: Int, prefixLen: Int = 1): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    require(window >= 1, "window must be >= 1")
    require(prefixLen >= 1, "prefixLen must be >= 1")
    // loud, not lenient: a stringified numeric key lexicographs
    // (111 < 12) and produces silently-wrong neighborhoods
    val sortType = df.schema(sortCol).dataType
    require(sortType == StringType,
      s"sortCol '$sortCol' is $sortType, not STRING: sorted-neighborhood " +
        "ranks lexicographically (111 would rank before 12). Pre-format " +
        "numeric keys order-aligned, e.g. lpad(cast(n AS STRING), width, '0').")
    // the bucket MUST be order-aligned with the sort key: a raw prefix is
    // monotone wrt lexicographic order (lower()/trim() would break the
    // alignment for mixed-case keys and split ranks across buckets).
    // Null keys coalesce to '' (which ranks first, as nulls do in the
    // orderBy): a null-derived bucket would never match the equi-join back
    // to the offsets frame and those rows would silently vanish from every
    // candidate pair while still shifting downstream bucket offsets.
    val srt = coalesce(col(sortCol).cast(StringType), lit(""))
    val base = df.select(col(idCol).cast(LongType).as("__id"),
      srt.as("__srt"),
      substring(srt, 1, prefixLen).as("__bucket"))
    val wb = Window.partitionBy($"__bucket").orderBy($"__srt", $"__id")
    val local = base.withColumn("__local", row_number().over(wb).cast(LongType))
    val offsets = local.groupBy($"__bucket").agg(count(lit(1)).as("__n"))
      .withColumn("__offset", coalesce(sum($"__n").over(
        Window.orderBy($"__bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"__bucket", $"__offset")
    val ranked = local.join(broadcast(offsets), "__bucket")
      .select($"__id", ($"__offset" + $"__local" - 1L).as("__rank"))
    // band join: |ra - rb| <= window ⇒ the pair shares a band or sits in
    // adjacent ones; each left row probes band and band+1
    val bandOf = expr(s"__rank div $window")
    val a = ranked.select($"__id".as("id_a"), $"__rank".as("rank_a"),
      explode(array(bandOf, bandOf + 1L)).as("__band"))
    val b = ranked.select($"__id".as("id_b"), $"__rank".as("rank_b"),
      bandOf.as("__band"))
    // a pair matches in exactly one of the two probed bands (b's band is
    // fixed), so no distinct is needed
    a.join(b, Seq("__band"))
      .filter($"rank_b" > $"rank_a" && $"rank_b" - $"rank_a" <= window)
      .select($"id_a", $"id_b", $"rank_a", $"rank_b",
        ($"rank_b" - $"rank_a").as("rank_dist"))
  }

  /** Multi-field weighted record linkage (Fellegi-Sunter-style composite
    * scoring, deterministic-weight variant): candidate pairs from an
    * equi-join on `blockKey`, each scored field-by-field with the native
    * bit-exact [[graft.plans.JaroWinkler]] expression and combined as the
    * caller-weighted sum Σ wᵢ·simᵢ evaluated left-to-right — IEEE-double
    * deterministic, so scores replicate across engines and reruns. Output:
    * (id_a, id_b, sim_<field>..., score), pairs with score ≥ minScore.
    *
    * Scale: q210's linkage discipline — candidates never leave the block
    * equi-join (size the key so blocks stay person-scale; `maxBlockSize`
    * ENFORCES a cap by dropping over-sized blocks, the skew guard), and
    * scoring is map-only post-join. */
  def linkRecords(df: DataFrame, idCol: String, blockKey: Column,
      fields: Seq[(String, Double)], minScore: Double,
      maxBlockSize: Option[Long] = None): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    require(fields.nonEmpty, "need at least one (field, weight)")
    require(minScore >= 0.0, "minScore must be >= 0")
    require(maxBlockSize.forall(_ >= 2), "maxBlockSize must be >= 2")
    val b0 = df.select((col(idCol).cast(LongType).as("__id") +:
      blockKey.as("__blk") +: fields.map { case (f, _) => col(f) }): _*)
    val b = capBlocks(b0, maxBlockSize)
    val a = b.toDF(("id_a" +: "__blk" +: fields.map(f => s"__a_${f._1}")): _*)
    val c = b.toDF(("id_b" +: "__blk" +: fields.map(f => s"__b_${f._1}")): _*)
    val sims = fields.map { case (f, _) =>
      graft.plans.JaroWinkler(col(s"__a_$f"), col(s"__b_$f")).as(s"sim_$f") }
    blockSelfJoin(a, c, "id_a", "id_b")
      .filter($"id_a" < $"id_b")
      .select(($"id_a" +: $"id_b" +: sims): _*)
      .withColumn("score",
        fields.map { case (f, w) => lit(w) * col(s"sim_$f") }.reduce(_ + _))
      .filter($"score" >= minScore)
  }

  /** MinHash+LSH near-dup candidates: k md5-derived min-hashes over the
    * n-gram shingles, `bands` LSH bands (equi-join on the band key — the
    * scalable candidate path), est_sim = matching-signature fraction.
    * Output: (doc_a, doc_b, est_sim). */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 4,
      k: Int = 8, bands: Int = 2, maxDocFreq: Option[Long] = None): DataFrame =
    Text.minhashPairsFrom(
      Text.minhashSigsFrom(shingles(df, idCol, textCol, n, maxDocFreq), k), k, bands)

  /** Persistable MinHash signature index: (doc_id, h0..h{k-1}), one row
    * per doc. Build ONCE over the standing corpus, write it out as a
    * table (k longs per document — a 100 TB corpus indexes in ~100 GB),
    * and dedup every future append against it with [[dedupIncremental]]
    * without ever re-reading the old text. Signatures are pure functions
    * of content (md5-derived min-hashes), so an index row never needs
    * recomputation. */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int = 4, k: Int = 8, maxDocFreq: Option[Long] = None): DataFrame =
    Text.minhashSigsFrom(shingles(df, idCol, textCol, n, maxDocFreq), k)

  /** Incremental near-dup detection for an append-only corpus: shingle
    * and sign ONLY the new batch, then band-equi-join its signatures
    * against the stored [[minhashIndex]] (new-vs-old) and against itself
    * (new-vs-new). Output: (doc_id, dup_id, est_sim, vs) — doc_id always
    * a new-batch doc; vs = 'old'|'new' says which side dup_id lives on;
    * new-new pairs appear once (doc_id < dup_id). After the batch,
    * append `minhashIndex(newDf, …)` rows to the stored index — the
    * standing corpus is never reshuffled.
    *
    * Exactness: signatures are per-doc and band collisions are pairwise,
    * so old∪new full-corpus LSH ≡ old-vs-old (already known) ∪ this
    * call's output — the equivalence DedupApiSpec locks. `n`/`k`/`bands`
    * AND `maxDocFreq` must match the values the index was built with
    * (a capped index probed by uncapped batch signatures silently
    * deflates est_sim), and ids must be unique across index ∪ batch (an
    * id on both sides would pair with itself). Note the cap is computed
    * within each side's own corpus — df-capping is a boilerplate
    * heuristic, and the full-corpus equivalence above is exact only for
    * `maxDocFreq = None`. */
  def dedupIncremental(newDf: DataFrame, idCol: String, textCol: String,
      index: DataFrame, n: Int = 4, k: Int = 8, bands: Int = 2,
      minSim: Double = 0.0, maxDocFreq: Option[Long] = None): DataFrame = {
    val s = newDf.sparkSession
    import s.implicits._
    // select the signature columns BY NAME: the stored index may come
    // back from a table with extra/reordered columns, and the banding
    // internals rename positionally (the linkRecords column-swap class)
    val sigCols = "doc_id" +: (0 until k).map(i => s"h$i")
    require(sigCols.forall(index.columns.contains),
      s"index must carry ${sigCols.mkString(", ")} (built with k=$k?); " +
        s"got ${index.columns.mkString(", ")}")
    val idx = index.select(sigCols.map(col): _*)
    val newSigs = minhashIndex(newDf, idCol, textCol, n, k, maxDocFreq)
    val vsOld = Text.minhashPairsAcross(newSigs, idx, k, bands)
      .select($"doc_id", $"ref_id".as("dup_id"), $"est_sim",
        lit("old").as("vs"))
    val vsNew = Text.minhashPairsFrom(newSigs, k, bands)
      .select($"doc_a".as("doc_id"), $"doc_b".as("dup_id"), $"est_sim",
        lit("new").as("vs"))
    vsOld.unionByName(vsNew).filter($"est_sim" >= minSim)
  }

  /** SimHash per document (per-bit majority vote of md5 token hashes);
    * near-dups land within small hamming distance of each other.
    * Output: (doc_id, simhash). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      bits: Int = 16): DataFrame =
    Text.simhashFrom(normalized(df, idCol, textCol), bits)

  // ---------------------------------------------------------------------
  // Repeated-span (ExactSubstr-style) dedup family. Token-level exact
  // substring dedup after Lee et al. 2021 ("Deduplicating Training Data
  // Makes Language Models Better"): remove every verbatim ≥k-token span
  // that occurs elsewhere in the corpus, keeping the globally first
  // occurrence. The paper builds a corpus suffix array on one machine;
  // the distributed re-expression keys every k-token window by md5 and
  // turns "repeated substring" into a gram-keyed aggregate + join-back —
  // the same equi-join discipline as the shingle pipeline, so it scales
  // the same way.
  // ---------------------------------------------------------------------

  /** (doc_id, pos) → single orderable key for the global first-occurrence
    * tiebreak. Order-preserving while 0 ≤ doc_id < 2^43 and pos < 2^20 —
    * i.e. docs up to ~1M tokens (chunk longer sequences upstream, see
    * Curation.chunkTokens) across ~8.8e12 documents. Both bounds are
    * guarded loudly in dupStarts. */
  private val PosEnc = 1L << 20
  private val MaxEncDocId = Long.MaxValue / PosEnc

  /** Duplicated k-token window starts, one row per NON-first instance:
    * (doc_id, pos). Internal base for the span family: one doc_id shuffle
    * (gram stitching), one combiner-friendly groupBy on the 128-bit gram
    * key, one join back. Never a gram-keyed window — a boilerplate gram
    * repeated millions of times shrinks map-side to #partitions rows. */
  private def dupStarts(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"span window k must be >= 1 token, got $k")
    val s = docs.sparkSession
    import s.implicits._
    // the encoding's documented precondition (0 ≤ doc_id, pos < 2^20) must
    // fail LOUDLY: a silent wrap would corrupt which duplicate is "first"
    // and the SQL oracle shares the encoding, so the gate couldn't see it
    val enc = when(
        $"pos" >= PosEnc || $"doc_id" < 0 || $"doc_id" >= MaxEncDocId,
        raise_error(concat(
          lit(s"dupStarts: (doc_id, pos) outside the PosEnc=$PosEnc " +
            s"encoding range (pos < 2^20 — chunk docs over ~1M tokens " +
            s"upstream — and 0 <= doc_id < $MaxEncDocId): doc_id="),
          $"doc_id", lit(" pos="), $"pos")))
      .otherwise($"doc_id" * PosEnc + $"pos")
    val g = Text.gramPosRows(docs, k)
      .select($"doc_id", $"pos", md5($"gram").as("h"), enc.as("__enc"))
    val stats = g.groupBy($"h").agg(count(lit(1)).as("cnt"),
      min($"__enc").as("firstk"))
    g.join(stats, "h")
      .filter($"cnt" > 1 && $"__enc" =!= $"firstk")
      .select($"doc_id", $"pos")
  }

  /** Maximal repeated spans: every k-token window that occurs verbatim
    * elsewhere in the corpus (and is not the globally first occurrence —
    * first = min (doc_id, pos)) marks its start; overlapping or adjacent
    * duplicated windows merge into maximal token spans per document.
    * Output: (doc_id, span_start, span_len, n_dup_grams) — 0-based token
    * offsets, ordered. `k` is the minimum duplicated length detected
    * (the paper uses 50 tokens).
    *
    * Scale: the island merge is the only window, partitioned by doc_id and
    * bounded by document length; everything corpus-wide is a combiner
    * aggregate or an equi-join on the md5 gram key (128-bit — collision-free
    * far past 10^12 windows, where a 64-bit key would already collide). */
  /** Merge flagged k-window starts (doc_id, pos) into maximal spans —
    * overlapping/adjacent windows coalesce. The only window here is
    * per-document (bounded by doc length). */
  private def spansFromStarts(starts: DataFrame, k: Int): DataFrame = {
    val s = starts.sparkSession
    import s.implicits._
    val byDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    starts
      .withColumn("__prev", lag($"pos", 1).over(byDoc))
      .withColumn("__new",
        when($"__prev".isNull || $"pos" - $"__prev" > k, 1L).otherwise(0L))
      .withColumn("__island", sum($"__new").over(byDoc))
      .groupBy($"doc_id", $"__island")
      .agg(min($"pos").cast(LongType).as("span_start"),
        (max($"pos") + lit(k.toLong) - min($"pos")).cast(LongType).as("span_len"),
        count(lit(1)).as("n_dup_grams"))
      .select($"doc_id", $"span_start", $"span_len", $"n_dup_grams")
  }

  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 50): DataFrame =
    spansFromStarts(dupStarts(normalized(df, idCol, textCol), k), k)

  /** Span-level cross-corpus decontamination: maximal spans of `df` whose
    * k-token windows occur verbatim ANYWHERE in `ref` (the held-out
    * benchmark / eval corpus) — the n-gram-collision removal plan the
    * big-model training reports describe (GPT-3 used 13-gram collisions),
    * as spans rather than whole-document drops. Feed the result to
    * [[dropRepeatedSpans]]'s `spansDf` to cut the quotes out while keeping
    * the surrounding document. Output: (doc_id, span_start, span_len,
    * n_dup_grams) over df's ids.
    *
    * Scale: ref collapses to its DISTINCT gram-key set once (combiner
    * aggregate); flagging is a left-semi equi-join on the 128-bit key —
    * a benchmark is tiny next to a training corpus, so the semi-join
    * builds on the small side; the island merge is per-document. */
  def spansAgainst(df: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refIdCol: String, refTextCol: String,
      k: Int = 50): DataFrame = {
    require(k >= 1, s"span window k must be >= 1 token, got $k")
    val s = df.sparkSession
    import s.implicits._
    // ref keeps its own ids: gram stitching windows per doc_id, so a
    // collapsed id would interleave tokens across reference documents
    val refGrams = Text.gramPosRows(normalized(ref, refIdCol, refTextCol), k)
      .select(md5($"gram").as("h")).distinct()
    val starts = Text.gramPosRows(normalized(df, idCol, textCol), k)
      .select($"doc_id", $"pos", md5($"gram").as("h"))
      .join(refGrams, Seq("h"), "left_semi")
      .select($"doc_id", $"pos")
    spansFromStarts(starts, k)
  }

  /** Span-level dedup: drop every token covered by a [[repeatedSpans]]
    * span and reassemble the surviving text. A document that is entirely
    * repeated content (e.g. a verbatim copy of an earlier document) comes
    * back with empty clean_text — downstream length filters drop it.
    * Output: (doc_id, n_toks, n_removed, clean_text).
    *
    * The removal itself is a per-document range anti-join (spans per doc
    * are few and bounded by doc length / k) followed by one doc_id
    * aggregate; order restoration is an in-group array_sort, never a
    * corpus-wide sort. */
  def dropRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 50, spansDf: Option[DataFrame] = None): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val docs = normalized(df, idCol, textCol)
    // spansDf: a persisted [[repeatedSpans]] output to reuse (the audit →
    // removal pipeline computes spans once); None recomputes.
    val spans = spansDf.getOrElse(repeatedSpans(df, idCol, textCol, k))
      .select($"doc_id".as("__sid"), $"span_start", $"span_len")
    val tokRows = docs.withColumn("toks", Text.toks)
      .select(Seq($"doc_id",
        posexplode($"toks").as(Seq("pos", "tok")): Column): _*)
    val kept = tokRows.join(spans,
        tokRows("doc_id") === spans("__sid") &&
          $"pos" >= $"span_start" && $"pos" < $"span_start" + $"span_len",
        "left_anti")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct($"pos", $"tok"))),
          x => x.getField("tok"))).as("clean_text"))
    docs.select($"doc_id", size(Text.toks).cast(LongType).as("n_toks"))
      .join(kept, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"n_toks",
        ($"n_toks" - coalesce($"n_kept", lit(0L))).as("n_removed"),
        coalesce($"clean_text", lit("")).as("clean_text"))
  }

  /** Per-document novelty: the fraction (ppm) of a document's k-token
    * windows whose content first occurs in THIS window — the corpus-growth
    * audit ("how much of the new crawl is actually new?"). Documents
    * shorter than k tokens have no windows and are omitted.
    * Output: (doc_id, n_grams, n_dup, novelty_ppm), exact integer ppm. */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
      k: Int = 50): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val docs = normalized(df, idCol, textCol)
    val dup = dupStarts(docs, k)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_dup"))
    Text.gramPosRows(docs, k)
      .groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
      .join(dup, Seq("doc_id"), "left_outer")
      .select($"doc_id", $"n_grams",
        coalesce($"n_dup", lit(0L)).as("n_dup"),
        expr("(n_grams - coalesce(n_dup, 0L)) * 1000000 DIV n_grams")
          .cast(LongType).as("novelty_ppm"))
  }

  /** Directional k-gram containment between document groups (sources,
    * snapshots, pipeline stages): for every ordered pair (a, b), the share
    * (ppm) of a's DISTINCT k-grams that also occur in b — the
    * cross-corpus redundancy matrix behind dedup-before-mixing decisions.
    * Asymmetric by design (a subset corpus is fully contained in its
    * superset, not vice versa). Output: (group_a, group_b, grams_a,
    * shared_grams, containment_ppm).
    *
    * Scale: the corpus collapses ONCE to the distinct (group, gram-key)
    * relation; the gram-keyed self-join fans out at most #groups² rows per
    * gram — bounded by the group count, not the corpus (q166's vocab
    * pattern, lifted from unigrams to k-grams). */
  def crossGroupContainment(df: DataFrame, idCol: String, textCol: String,
      groupCol: String, k: Int = 50): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    // the group rides the gram shuffle (carryCols) — no second
    // corpus-sized join to recover it
    val grams = Text.gramRows(
        df.select(col(idCol).cast(LongType).as("doc_id"),
          col(textCol).as("text"), col(groupCol).as("grp")), k,
        carryCols = Seq("grp"))
      // the decoded 16-byte digest, not the 32-char hex: h is only ever
      // an equality key (distinct + the member-set aggregate) and never
      // appears in the output, and unhex∘md5 keeps exactly md5's
      // identities — half the key bytes in the two corpus-sized shuffles
      // (round 18, guide §2.3/§4; the winnow fpb discipline)
      .select($"grp", unhex(md5($"gram")).as("h")).distinct()
    val sizes = grams.groupBy($"grp").agg(count(lit(1)).as("ng"))
    // one combiner aggregate collapses each gram to its ≤#groups member
    // set; the ordered-pair expansion is a map-only double explode bounded
    // by #groups² per gram — cheaper than self-joining the distinct
    // relation on h (which shuffles it twice and rebuilds a hash table the
    // size of the corpus gram set)
    val shared = grams.groupBy($"h").agg(collect_set($"grp").as("__gs"))
      .select(explode($"__gs").as("ga"), $"__gs")
      .select($"ga", explode($"__gs").as("gb"))
      .filter($"ga" =!= $"gb")
      .groupBy($"ga", $"gb").agg(count(lit(1)).as("shared_grams"))
    shared
      .join(broadcast(sizes.select($"grp".as("ga"), $"ng".as("grams_a"))), Seq("ga"))
      .select($"ga".as("group_a"), $"gb".as("group_b"), $"grams_a",
        $"shared_grams",
        // DECIMAL(19,0) before the ppm scale-up: shared_grams * 1000000
        // wraps LONG past ~9.2e12 shared distinct grams — plausible at the
        // corpus scales the scale notes target (same guard as
        // Curation.targetAffinity; the q233 oracle widens with an explicit
        // HUGEINT cast — DuckDB BIGINT multiply errors rather than widens)
        expr("CAST(shared_grams AS DECIMAL(19,0)) * 1000000 DIV grams_a")
          .cast(LongType).as("containment_ppm"))
  }
}
