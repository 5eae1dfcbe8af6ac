package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** The public column-parameterized Dedup API on a synthetic corpus with
  * caller-named columns — what a user migrating off the reference calls. */
class DedupApiSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // corpus: 0/1 exact dups; 2/3 near-dups (one word changed); 4 unique;
  // every doc shares the same hot boilerplate prefix (8 tokens)
  private val boiler = "terms of service apply to all content here"
  private val docs = Seq(
    (100L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
    (101L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
    (102L, s"$boiler one two three four five six seven eight nine ten"),
    (103L, s"$boiler one two three four five six seven CHANGED nine ten"),
    (104L, s"$boiler completely different words in this document entirely")
  ).toDF("my_id", "body")

  test("editDistancePairs: exact distances inside blocks, banded cutoff holds") {
    val rows = Seq(
      (1L, "prefix match aaaa bbbb cccc"),
      (2L, "prefix match aaaa bbbb cccX"),   // dist 1 from doc 1
      (3L, "prefix match totally different tail words here"), // same block, far
      (4L, "XXefix match aaaa bbbb cccc")    // dist 2 from doc 1 but block differs
    ).toDF("id", "txt")
    val got = Dedup.editDistancePairs(rows, "id", "txt", maxDist = 5,
        blockPrefix = 12)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("dist"))).toSet
    // only the in-block close pair survives: doc 3 exceeds the banded
    // threshold (must not leak through as -1), doc 4 is blocked away
    assert(got == Set((1L, 2L, 1)), s"got $got")
    // widening the threshold admits doc 3 with its exact distance
    val wide = Dedup.editDistancePairs(rows, "id", "txt", maxDist = 40,
        blockPrefix = 12)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(wide == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"got $wide")
    // maxBlockSize enforces the mega-block cap: docs 1/2/3 share a
    // 3-member block, so cap=2 drops the whole block (no pairs), cap=3
    // keeps it (identical to uncapped)
    val capped = Dedup.editDistancePairs(rows, "id", "txt", maxDist = 5,
        blockPrefix = 12, maxBlockSize = Some(2L)).collect()
    assert(capped.isEmpty, s"got ${capped.toSeq}")
    val kept = Dedup.editDistancePairs(rows, "id", "txt", maxDist = 5,
        blockPrefix = 12, maxBlockSize = Some(3L))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("dist"))).toSet
    assert(kept == Set((1L, 2L, 1)), s"got $kept")
  }

  test("exact: catches literal duplicates under caller-named columns") {
    val out = Dedup.exact(docs, "my_id", "body").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("is_dup")).toMap
    assert(out(100L) == 0 && out(101L) == 1, "101 duplicates 100")
    assert(out(102L) == 0 && out(103L) == 0 && out(104L) == 0)
  }

  test("jaccardPairs finds the planted near-dup; the hot-shingle cap keeps it") {
    val uncapped = Dedup.jaccardPairs(docs, "my_id", "body", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(uncapped.contains((100L, 101L)), s"exact pair missing: $uncapped")
    assert(uncapped.contains((102L, 103L)), s"near pair missing: $uncapped")
    // cap at df<=2: the boilerplate shingles (df=5) drop out; real pairs
    // survive on their distinctive shingles, and no pair appears that the
    // uncapped run didn't find (capping only removes evidence)
    val capped = Dedup.jaccardPairs(docs, "my_id", "body", threshold = 0.5,
      maxDocFreq = Some(2L))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(capped.contains((100L, 101L)) && capped.contains((102L, 103L)))
    assert(capped.subsetOf(uncapped))
    // and the boilerplate-only "pair" (104 vs others) must not appear capped
    assert(!capped.exists(p => p._1 == 104L || p._2 == 104L))
  }

  test("maxDocFreq cap plans as aggregate + broadcast anti-join, never a shingle window") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = Dedup.shingles(docs, "my_id", "body", maxDocFreq = Some(2L))
        .queryExecution.executedPlan.toString()
      // the only window allowed is gramRows' doc-keyed lead (doc-sized
      // partitions); the df cap itself must never partition by the shingle
      val w = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
      assert(w.forall(_.contains("doc_id")),
        s"cap must not window by shingle:\n${w.mkString("\n")}")
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
        s"over-cap keys must anti-join back broadcast:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("a planted corpus-wide shingle does not blow up the candidate join") {
    // 60 docs share exactly one hot 4-gram ("common shared boiler plate");
    // the rest of each doc is unique. Uncapped, that single shingle emits
    // ~60²/2 candidate pairs; capped it contributes none.
    val s = spark
    import s.implicits._
    val hotCorpus = (0 until 60).map(i =>
      (i.toLong, s"common shared boiler plate unique$i token$i word$i more$i"))
      .toDF("my_id", "body")
    val uncapped = Dedup.jaccardPairs(hotCorpus, "my_id", "body", threshold = 0.1)
    assert(uncapped.count() == 60L * 59 / 2, "hot shingle: quadratic pair blowup")
    val capped = Dedup.jaccardPairs(hotCorpus, "my_id", "body", threshold = 0.1,
      maxDocFreq = Some(10L))
    assert(capped.count() == 0, "df cap must drop the boilerplate shingle's pairs")
  }

  test("cosineNearDups: planes scale with N (planesFor) and bound candidate pairs") {
    import graft.operators.Similarity
    // the documented sizing rule: planes ≈ log2(N / targetBucket)
    assert(Similarity.planesFor(1024L, 64L) == 4)
    assert(Similarity.planesFor(1L << 30, 64L) == 24)
    assert(Similarity.planesFor(10L, 64L) == 1) // clamped low
    assert(Similarity.planesFor(Long.MaxValue, 1L) == 62) // bitmask bound
    // planted hot corpus: 512 deterministic pseudo-random vectors. With a
    // too-small fixed plane count the same-bucket candidate join goes
    // quadratic; at the derived count the candidate set collapses.
    // threshold = -1 keeps EVERY same-bucket pair → count == candidates.
    val s = spark
    import s.implicits._
    val n = 512
    val vecs = (0 until n).map { i =>
      (i.toLong, Array.tabulate(16) { d =>
        ((graft.functions.MinHashAgg.md5Long60(s"v$i:$d") % 2001L) - 1000L) / 1000f
      })
    }.toDF("vec_id", "embedding")
    val few = Similarity.cosineNearDups(vecs, planes = 2, threshold = -1.0).count()
    val derived = Similarity.planesFor(n, targetBucket = 16L) // = 5
    val auto = Similarity.cosineNearDups(vecs, planes = derived, threshold = -1.0).count()
    val allPairs = n.toLong * (n - 1) / 2
    assert(few > allPairs / 8, s"2 planes should be near-quadratic, got $few")
    assert(auto < few / 4, s"derived planes must collapse candidates: $auto vs $few")
    assert(auto < allPairs / 16, s"candidates must be far below all-pairs: $auto")
  }

  test("clusters: exact and near dups share a canonical id") {
    val byId = Dedup.clusters(docs, "my_id", "body", threshold = 0.5).collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    assert(byId(100L) == byId(101L), "exact dups cluster together")
    assert(byId(102L) == byId(103L), "near dups cluster together")
    assert(byId(104L) == 104L, "unique doc is its own canonical")
  }

  test("minhashPairs and simhash work under caller-named columns") {
    val mh = Dedup.minhashPairs(docs, "my_id", "body", k = 8, bands = 4)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("est_sim")))
    // the exact duplicate pair must be an LSH candidate with est_sim = 1
    assert(mh.exists(p => p._1 == 100L && p._2 == 101L && p._3 == 1.0), s"got ${mh.toSeq}")
    val sh = Dedup.simhash(docs, "my_id", "body").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(100L) == sh(101L), "identical docs -> identical simhash")
    val hammingNear = java.lang.Long.bitCount(sh(102L) ^ sh(103L))
    assert(hammingNear <= 4, s"near-dups should be hamming-close, got $hammingNear")
  }

  test("TextStats facade computes stats under caller-named columns") {
    import graft.operators.TextStats
    val tc = TextStats.tokenCounts(docs, "my_id", "body").collect()
    assert(tc.length == 5 && tc.forall(_.getAs[Int]("n_tokens") > 0))
    val q = TextStats.quality(docs, "my_id", "body").collect()
    assert(q.forall(_.getAs[Double]("alpha_ratio") > 0))
    val lid = TextStats.langId(docs, "my_id", "body",
      Seq("latin" -> "\\b(terms|of)\\b", "other" -> "\\b(zzz)\\b")).collect()
    assert(lid.forall(_.getAs[String]("predicted") == "latin"),
      "every doc contains the boilerplate markers")
    val fp = TextStats.fingerprint(docs, "my_id", "body").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("md5_fp")).toMap
    assert(fp(100L) == fp(101L) && fp(102L) != fp(103L))
  }

  test("Memo.invalidate rebuilds the memoized stages to identical results") {
    val before = SparkEntry.queries("q34_dedup_ngram_jaccard")(spark, sf)
      .collect().toSeq
    Memo.invalidate(spark, sf)
    val after = SparkEntry.queries("q34_dedup_ngram_jaccard")(spark, sf)
      .collect().toSeq
    assert(before == after)
  }

  test("repeatedSpans family: hand-computed spans, cleanup, novelty, containment") {
    // k=3. doc 1 is the original; doc 2 quotes tokens 2..6 of it; doc 3 is
    // a verbatim copy; doc 4 self-repeats its own 4-token phrase; doc 5
    // quotes "a b c" twice with a >k gap between the quotes.
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "x y a b c d e q r s"),
      (3L, "a b c d e f g h"),
      (4L, "p q r s p q r s p q r"),
      (5L, "a b c z1 z2 z3 z4 a b c")
    ).toDF("my_id", "body")

    val spans = Dedup.repeatedSpans(corpus, "my_id", "body", k = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_len"), r.getAs[Long]("n_dup_grams"))).toSet
    assert(spans == Set(
      (2L, 2L, 5L, 3L),   // the 5-token quote: dup 3-grams start at 2,3,4
      (3L, 0L, 8L, 6L),   // whole-copy doc: one full-cover span
      // self-repetition AND a cross-doc hit: "q r s"@1 first occurs in doc
      // 2 (pos 7), so doc 4 keeps only its opening "p" token
      (4L, 1L, 10L, 6L),
      (5L, 0L, 3L, 1L), (5L, 7L, 3L, 1L) // >k gap -> two islands
    ), s"got $spans")

    val clean = Dedup.dropRepeatedSpans(corpus, "my_id", "body", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
    assert(clean(1L) == ((0L, "a b c d e f g h")), s"got ${clean(1L)}")
    assert(clean(2L) == ((5L, "x y q r s")), s"got ${clean(2L)}")
    assert(clean(3L) == ((8L, "")), "verbatim copy comes back empty")
    assert(clean(4L) == ((10L, "p")), s"got ${clean(4L)}")
    assert(clean(5L) == ((6L, "z1 z2 z3 z4")), s"got ${clean(5L)}")

    val nov = Dedup.noveltyScores(corpus, "my_id", "body", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("novelty_ppm")).toMap
    assert(nov == Map(1L -> 1000000L, 2L -> 625000L, 3L -> 0L,
      4L -> 333333L, 5L -> 750000L), s"got $nov")

    // containment is directional: the small corpus (6 distinct grams, 3
    // shared) is half-contained in the big one; the big one (11 distinct)
    // much less so in the small
    val grouped = Seq(
      (1L, "a b c d e f g h", "s1"), (3L, "a b c d e f g h", "s1"),
      (2L, "x y a b c d e q r s", "s2"), (4L, "p q r s p q r s p q r", "s2")
    ).toDF("my_id", "body", "src")
    val cont = Dedup.crossGroupContainment(grouped, "my_id", "body", "src",
        k = 3)
      .collect().map(r => (r.getAs[String]("group_a"), r.getAs[String]("group_b"),
        r.getAs[Long]("grams_a"), r.getAs[Long]("shared_grams"),
        r.getAs[Long]("containment_ppm"))).toSet
    assert(cont == Set(
      ("s1", "s2", 6L, 3L, 500000L),
      ("s2", "s1", 11L, 3L, 272727L)
    ), s"got $cont")
  }

  test("linkRecords: weighted multi-field scores, block cap enforced") {
    val recs = Seq(
      (1L, "jon smith", "acme corp", "b1"),
      (2L, "john smith", "acme corp", "b1"),   // near name, exact org
      (3L, "jane doe", "other inc", "b1"),     // same block, far
      (4L, "jon smith", "acme corp", "b2")     // twin of 1 but blocked away
    ).toDF("rid", "nm", "org", "blk")
    val got = Dedup.linkRecords(recs, "rid", col("blk"),
        Seq("nm" -> 0.7, "org" -> 0.3), minScore = 0.9)
      .collect()
    assert(got.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      == Set((1L, 2L)), s"got ${got.toSeq}")
    val r = got.head
    // score is exactly the left-to-right weighted sum of the field sims
    assert(r.getAs[Double]("score") ==
      0.7 * r.getAs[Double]("sim_nm") + 0.3 * r.getAs[Double]("sim_org"))
    assert(r.getAs[Double]("sim_org") == 1.0)
    // maxBlockSize drops the whole oversized block (b1 has 3 members)
    val capped = Dedup.linkRecords(recs, "rid", col("blk"),
      Seq("nm" -> 0.7, "org" -> 0.3), minScore = 0.0, maxBlockSize = Some(2L))
    assert(capped.count() == 0, "b1 over cap, b2 is a singleton")
    // under-cap blocks still link WITH the cap active (regression: the cap
    // join reorders columns; a positional rename downstream would swap the
    // id and block key and silently return nothing)
    val recs2 = recs.union(Seq((5L, "jon smyth", "acme corp", "b2"))
      .toDF("rid", "nm", "org", "blk"))
    val underCap = Dedup.linkRecords(recs2, "rid", col("blk"),
        Seq("nm" -> 0.7, "org" -> 0.3), minScore = 0.9, maxBlockSize = Some(3L))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(underCap == Set((1L, 2L), (4L, 5L)), s"got $underCap")
  }

  test("sortedNeighborPairs: rank-window candidates cross prefix-bucket boundaries") {
    // global sort order: az1(0) azz(1) ba1(2) bb9(3) zz z(4). The (azz,
    // ba1) pair straddles the 2-char prefix buckets "az"|"ba" — the rank
    // must be GLOBAL (bucket offsets), not per-bucket, for it to appear.
    val recs = Seq((10L, "az1"), (11L, "azz"), (12L, "ba1"), (13L, "bb9"),
      (14L, "zz z")).toDF("rid", "nm")
    val got = Dedup.sortedNeighborPairs(recs, "rid", "nm", window = 1,
        prefixLen = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Long]("rank_dist"))).toSet
    assert(got == Set((10L, 11L, 1L), (11L, 12L, 1L), (12L, 13L, 1L),
      (13L, 14L, 1L)), s"got $got")
    // window widens symmetrically in rank space
    val w2 = Dedup.sortedNeighborPairs(recs, "rid", "nm", window = 2,
        prefixLen = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(w2 == Set((10L, 11L), (10L, 12L), (11L, 12L), (11L, 13L),
      (12L, 13L), (12L, 14L), (13L, 14L)), s"got $w2")
  }

  test("dedupIncremental over a split equals full-corpus minhash LSH") {
    // old = even ids, new = odd ids; planted dups cross the boundary in
    // every direction (old-old, old-new, new-new)
    val all = Seq(
      (2L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
      (4L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"), // old-old dup
      (3L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"), // new dup of both
      (6L, s"$boiler one two three four five six seven eight nine ten"),
      (5L, s"$boiler one two three four five six seven eight nine ten"), // old-new dup
      (7L, s"$boiler moon star cloud rain wind snow fog hail"),
      (9L, s"$boiler moon star cloud rain wind snow fog hail")        // new-new dup
    ).toDF("my_id", "body")
    val oldDf = all.filter($"my_id" % 2 === 0)
    val newDf = all.filter($"my_id" % 2 === 1)
    val index = Dedup.minhashIndex(oldDf, "my_id", "body")
    val inc = Dedup.dedupIncremental(newDf, "my_id", "body", index)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_id"),
        r.getAs[Double]("est_sim"), r.getAs[String]("vs")))
    // orientation + labels: doc_id is always new; vs names dup_id's side
    assert(inc.forall { case (a, b, _, vs) =>
      a % 2 == 1 && ((vs == "old" && b % 2 == 0) || (vs == "new" && b % 2 == 1)) })
    def unordered(a: Long, b: Long, s: Double) =
      (math.min(a, b), math.max(a, b), s)
    val incPairs = inc.map { case (a, b, s, _) => unordered(a, b, s) }.toSet
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      Dedup.minhashPairs(df, "my_id", "body")
        .collect().map(r => unordered(r.getAs[Long]("doc_a"),
          r.getAs[Long]("doc_b"), r.getAs[Double]("est_sim"))).toSet
    val full = pairsOf(all)
    val oldOnly = pairsOf(oldDf)
    // incremental output is EXACTLY the full-corpus pairs the old-only
    // index run couldn't already know — nothing lost, nothing duplicated
    assert(incPairs.union(oldOnly) == full, s"inc $incPairs old $oldOnly full $full")
    assert(incPairs.intersect(oldOnly).isEmpty)
    // a stored index can come back with extra/reordered columns; selection
    // is by NAME, so results must be identical (not the positional-rename
    // column swap)
    val scrambled = index.select(($"h7" +: $"h3" +: $"h0" +: $"h1" +: $"h2"
      +: $"h4" +: $"h5" +: $"h6" +: $"doc_id" +: Seq.empty[org.apache.spark.sql.Column]): _*)
      .withColumn("built_at", lit("2024-01-01"))
    val inc2 = Dedup.dedupIncremental(newDf, "my_id", "body", scrambled)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_id"),
        r.getAs[Double]("est_sim"), r.getAs[String]("vs"))).toSet
    assert(inc2 == inc.toSet)
    // a wrong-k index fails loudly
    val e = intercept[IllegalArgumentException](
      Dedup.dedupIncremental(newDf, "my_id", "body", index.drop("h7")))
    assert(e.getMessage.contains("index must carry"))
  }

  test("dedupIncremental: a df-capped index probed with the matching cap still hits 1.0") {
    // the boiler prefix is in all 5 docs (df 5 > cap 3) so its shingles
    // drop on BOTH sides; the exact dup 100/101 still signs identically
    // and collides at est_sim 1.0 — maxDocFreq must plumb through to the
    // batch signatures or a capped index deflates every score
    val oldDf = docs.filter($"my_id" % 2 === 0) // 100, 102, 104
    val newDf = docs.filter($"my_id" % 2 === 1) // 101, 103
    val idx = Dedup.minhashIndex(oldDf, "my_id", "body",
      maxDocFreq = Some(3L))
    val hit = Dedup.dedupIncremental(newDf, "my_id", "body", idx,
        maxDocFreq = Some(3L))
      .filter($"doc_id" === 101L && $"dup_id" === 100L).collect()
    assert(hit.length == 1 && hit.head.getAs[Double]("est_sim") == 1.0,
      s"got ${hit.toSeq}")
  }

  test("sortedNeighborPairs: null sort keys rank first instead of vanishing") {
    // a null key coalesces to '' (rank 0); before the fix its bucket never
    // matched the offsets join and the row silently dropped from every
    // candidate pair while still shifting downstream offsets
    val recs = Seq((1L, null.asInstanceOf[String]), (2L, "aa"), (3L, "ab"))
      .toDF("rid", "nm")
    val got = Dedup.sortedNeighborPairs(recs, "rid", "nm", window = 1,
        prefixLen = 1)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got == Set((1L, 2L), (2L, 3L)), s"got $got")
  }

  test("editDistancePairs: grid-salted hot blocks emit exactly the plain-join pairs") {
    // 600 docs share one 12-char prefix (hot: > the 512 threshold, takes
    // the grid-salted path), 50 share another (cold: plain equi-join).
    // The salted self-join must produce the IDENTICAL pair set the
    // unsalted equi-join defines — each hot pair meets in exactly one
    // grid cell, and no cross-block pair appears.
    val docs = ((0 until 600).map(i => (i.toLong, s"hotprefix000 doc $i")) ++
      (1000 until 1050).map(i => (i.toLong, s"coldprefix00 doc $i")))
      .toDF("my_id", "body")
    val got = Dedup.editDistancePairs(docs, "my_id", "body",
        maxDist = 8, blockPrefix = 12)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("dist"))).toSet
    val n = docs.select($"my_id".as("id"), trim($"body").as("t"),
      substring(lower(trim($"body")), 1, 12).as("blk"),
      length(trim($"body")).as("len"))
    val exp = n.as("x").join(n.as("y"), col("x.blk") === col("y.blk"))
      .filter(col("x.id") < col("y.id") &&
        abs(col("x.len") - col("y.len")) <= 8)
      .select(col("x.id"), col("y.id"),
        levenshtein(col("x.t"), col("y.t"), 8).as("d"))
      .filter($"d" >= 0 && $"d" <= 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exp.nonEmpty && got == exp,
      s"salted ${got.size} pairs vs plain ${exp.size}")
    assert(!got.exists { case (a, b, _) => a < 1000 && b >= 1000 },
      "cross-block pair leaked through the grid join")
  }

  test("editDistancePairs: adaptive grid is exact at two grid sizes (mega-block)") {
    // The grid scales per block as ceil(sqrt(n/threshold)): with the
    // threshold knob dropped to 8, a 150-row block runs at grid 5 and a
    // 40-row block at grid 3 — a planted "mega block" (~19x threshold)
    // without the quadratic cost of one at the production 512. Pair sets
    // must equal the plain self-join's at BOTH grids simultaneously.
    spark.conf.set("graft.dedup.hotBlockThreshold", "8")
    try {
      val docs = ((0 until 150).map(i => (i.toLong, s"megaprefix00 doc $i")) ++
        (1000 until 1040).map(i => (i.toLong, s"midprefix000 doc $i")))
        .toDF("my_id", "body")
      val got = Dedup.editDistancePairs(docs, "my_id", "body",
          maxDist = 8, blockPrefix = 12)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Int]("dist"))).toSet
      val n = docs.select($"my_id".as("id"), trim($"body").as("t"),
        substring(lower(trim($"body")), 1, 12).as("blk"),
        length(trim($"body")).as("len"))
      val exp = n.as("x").join(n.as("y"), col("x.blk") === col("y.blk"))
        .filter(col("x.id") < col("y.id") &&
          abs(col("x.len") - col("y.len")) <= 8)
        .select(col("x.id"), col("y.id"),
          levenshtein(col("x.t"), col("y.t"), 8).as("d"))
        .filter($"d" >= 0 && $"d" <= 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(exp.nonEmpty && got == exp,
        s"adaptive-grid ${got.size} pairs vs plain ${exp.size}")
    } finally spark.conf.unset("graft.dedup.hotBlockThreshold")
  }

  test("sortedNeighborPairs rejects numeric sort keys loudly; zero-padded works") {
    // a silently stringified numeric key lexicographs (111 < 12) and
    // produces wrong neighborhoods with no error — must raise instead
    val recs = Seq((1L, 12L), (2L, 111L), (3L, 13L)).toDF("rid", "amt")
    val e = intercept[IllegalArgumentException] {
      Dedup.sortedNeighborPairs(recs, "rid", "amt", window = 1)
    }
    assert(e.getMessage.contains("not STRING"), e.getMessage)
    // the documented upstream fix: zero-pad to an order-aligned string —
    // 12 and 13 are rank-adjacent again (lexicographic 111 < 12 < 13
    // would have wedged 111 between them)
    val padded = recs.withColumn("amt_s", lpad($"amt".cast("string"), 6, "0"))
    val got = Dedup.sortedNeighborPairs(padded, "rid", "amt_s", window = 1)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got == Set((1L, 3L), (3L, 2L)), s"got $got")
  }

  test("repeatedSpans fails loudly on a doc_id outside the PosEnc encoding range") {
    // the (doc_id, pos) tiebreak encodes as doc_id*2^20+pos; a negative id
    // (or a ≥1M-token doc) must raise, not silently corrupt which
    // duplicate is kept — the SQL oracle shares the encoding, so the gate
    // could never catch a silent wrap
    val bad = Seq((-1L, "a b c d e"), (2L, "a b c d e")).toDF("my_id", "body")
    val e = intercept[Exception](
      Dedup.repeatedSpans(bad, "my_id", "body", k = 3).collect())
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("PosEnc"), s"unexpected failure: $msgs")
  }

  test("spansAgainst flags only true benchmark quotes, never ref-boundary phantoms") {
    // k=3 against a two-doc benchmark: a corpus gram spanning the END of
    // ref doc 1 and the START of ref doc 2 exists in neither and must NOT
    // match (the bug a collapsed ref id would introduce by stitching
    // grams across reference documents)
    val ref = Seq((1L, "a b c"), (2L, "d e f")).toDF("rid", "rtext")
    val corpus = Seq(
      (10L, "x a b c y"),   // quotes ref1 verbatim at pos 1
      (11L, "c d e f"),     // "c d e" is a boundary phantom; "d e f" real
      (12L, "b c d e")      // both grams are boundary phantoms -> clean
    ).toDF("my_id", "body")
    val spans = Dedup.spansAgainst(corpus, "my_id", "body", ref, "rid",
        "rtext", k = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_len"), r.getAs[Long]("n_dup_grams"))).toSet
    assert(spans == Set((10L, 1L, 3L, 1L), (11L, 1L, 3L, 1L)), s"got $spans")
    // removal keeps the surrounding document, unlike whole-doc decontam
    val clean = Dedup.dropRepeatedSpans(corpus, "my_id", "body", k = 3,
        spansDf = Some(Dedup.spansAgainst(corpus, "my_id", "body", ref,
          "rid", "rtext", k = 3)))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("clean_text")).toMap
    assert(clean == Map(10L -> "x y", 11L -> "c", 12L -> "b c d e"),
      s"got $clean")
  }
}
