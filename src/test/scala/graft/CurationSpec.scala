package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Curation

/** The corpus-curation API (boilerplate removal, TF-IDF, sequence packing)
  * on a synthetic corpus with caller-named columns. */
class CurationSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // every doc opens with the same 8-token boilerplate chunk; bodies differ
  private val boiler = "terms of service apply to all content here"
  private val docs = Seq(
    (100L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
    (101L, s"$boiler alpha beta gamma delta epsilon zeta eta theta"),
    (102L, s"$boiler one two three four five six seven eight"),
    (103L, s"$boiler moon star cloud rain wind snow fog hail"),
    (104L, boiler) // boilerplate-only document
  ).toDF("my_id", "body")

  test("dropBoilerplateChunks removes the hot chunk, keeps distinctive text") {
    val out = Curation.dropBoilerplateChunks(docs, "my_id", "body",
      chunkTokens = 8, maxDf = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_chunks"), r.getAs[Long]("n_dropped"),
          r.getAs[String]("clean_text")))).toMap
    // the shared prefix (df=5 > 2) is dropped everywhere
    assert(out(102L) == ((2L, 1L, "one two three four five six seven eight")))
    assert(out(103L)._3 == "moon star cloud rain wind snow fog hail")
    // 100/101 share their body chunk too (df=2 <= 2) so it survives
    assert(out(100L)._3 == "alpha beta gamma delta epsilon zeta eta theta")
    // a fully-boilerplate doc comes back null, not empty string
    assert(out(104L) == ((1L, 1L, null)))
  }

  test("hot-chunk pre-cap: sample-certified boilerplate changes nothing") {
    // 200 docs all opening with the same corpus-wide chunk: the ~10% doc
    // sample certifies it (sample-df ≫ maxDf) so it bypasses the exact-df
    // join entirely — and because certification can only flag chunks whose
    // true df exceeds maxDf, the output is bit-identical to the uncapped run
    val many = (1 to 200).map(i =>
      (i.toLong, s"$boiler unique body token$i alpha$i beta$i gamma$i delta$i eps$i"))
      .toDF("my_id", "body")
    val capped = Curation.dropBoilerplateChunks(many, "my_id", "body",
      chunkTokens = 8, maxDf = 2, hotSamplePct = 10).collect()
    val exact = Curation.dropBoilerplateChunks(many, "my_id", "body",
      chunkTokens = 8, maxDf = 2, hotSamplePct = 0).collect()
    assert(capped.map(_.toString).sorted.sameElements(exact.map(_.toString).sorted))
    // the planted chunk is gone from every document either way
    assert(capped.forall(r =>
      !Option(r.getAs[String]("clean_text")).exists(_.contains("terms of service"))))
    assert(capped.forall(r => r.getAs[Long]("n_dropped") >= 1L))
  }

  test("tfidfTopK ranks distinctive terms above corpus-wide ones") {
    val top1 = Curation.tfidfTopK(docs, "my_id", "body", k = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("term")).toMap
    // every top-1 term must be distinctive, never boilerplate — except doc
    // 104, which contains nothing else
    val boilerToks = boiler.split(" ").toSet
    assert(!top1.filterNot(_._1 == 104L).values.exists(boilerToks),
      s"boilerplate ranked first: $top1")
    assert(boilerToks(top1(104L)))
    // scores are integer-exact (and BIGINT, not DECIMAL(38,0) — a wide
    // scale-0 decimal output bridges as float64 across the verify gate):
    // recompute doc 102's top term by hand
    val rows = Curation.tfidfTopK(docs, "my_id", "body", k = 1)
      .filter($"doc_id" === 102L).collect()
    val r = rows.head
    assert(r.getAs[Long]("score_scaled") ==
      r.getAs[Long]("tf") * (5L * 1000000L / r.getAs[Long]("df")))
  }

  test("qualityFilter drops by the FIRST failing rule and keeps good docs") {
    val cases = Seq(
      (1L, "tiny"), // too_short
      (2L, ("spam " * 40).trim), // long enough but one distinct token
      (3L, "der baum und so weiter gar kein englisch hier drin x1 x2 x3 y4 " +
        "y5 y6 z7 z8 z9 w0 w1 w2 q3 q4 q5 q6 q7 q8"), // diverse, no English stopwords
      (4L, "the quick brown fox and a dog walked over the hill while many " +
        "other animals watched or slept nearby all afternoon long")
    ).toDF("my_id", "body")
    val out = Curation.qualityFilter(cases, "my_id", "body", Curation.defaultRules)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("keep"), r.getAs[String]("reason")))).toMap
    assert(out(1L) == ((0, "too_short")))
    assert(out(2L) == ((0, "low_diversity")), s"got ${out(2L)}")
    assert(out(3L) == ((0, "no_stopwords")), s"got ${out(3L)}")
    assert(out(4L) == ((1, null)))
  }

  test("decontaminate flags benchmark-overlapping docs, clears clean ones") {
    val bench = Seq((900L, "the quick brown fox jumps over the lazy dog")).toDF("my_id", "body")
    val corpus = Seq(
      (1L, "the quick brown fox jumps high above everything else today"), // shares grams
      (2L, "completely unrelated training content with no overlap at all")
    ).toDF("my_id", "body")
    val out = Curation.decontaminate(corpus, bench, "my_id", "body").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_contam"), r.getAs[Double]("contam_ratio")))).toMap
    assert(out(1L)._1 >= 1L, "doc 1 shares 'the quick brown fox' grams")
    assert(out(2L) == ((0L, 0.0)), "doc 2 is clean")
  }

  test("mixCorpus hits target proportions and keeps the limiting class whole") {
    import org.apache.spark.sql.functions.{count => fcount, _}
    // 400 a / 100 b with targets 50/50 → b limits: all 100 b kept, ~100 a
    val rows = (1 to 400).map(i => (i.toLong, s"alpha doc number $i unique words", "a")) ++
      (1001 to 1100).map(i => (i.toLong, s"beta doc number $i other words", "b"))
    val df = rows.toDF("my_id", "body", "src")
    val out = Curation.mixCorpus(df, "my_id", "body", "src",
      Map("a" -> 0.5, "b" -> 0.5))
    val kept = out.filter($"keep" === 1).groupBy($"cls").agg(fcount(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("cls") -> r.getAs[Long]("n")).toMap
    assert(kept("b") == 100L, s"limiting class must keep everything: $kept")
    // hash sampling is approximate: a should land near 100 of 400
    assert(kept("a") > 60L && kept("a") < 140L, s"a kept ${kept("a")}, want ~100")
    // determinism: same decisions on rerun
    val again = Curation.mixCorpus(df, "my_id", "body", "src",
      Map("a" -> 0.5, "b" -> 0.5)).collect().map(_.toString).sorted
    assert(out.collect().map(_.toString).sorted.sameElements(again))
    // classes without a target are dropped
    val dropped = Curation.mixCorpus(df, "my_id", "body", "src", Map("a" -> 1.0))
      .filter($"cls" === "b" && $"keep" === 1).count()
    assert(dropped == 0L)
  }

  test("redactPii counts and replaces emails/phones/IPs, leaves lookalikes") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c%d@sub.example.co.uk now"),        // tricky local part
      (2L, "call 555-867-5309 or 555-0042-1234 today"),  // 3- and 4-digit mid
      (3L, "host 192.168.0.1 and 10.0.0.7 up"),          // two IPs
      (4L, "not pii: 12-34, 1234.5.6.7, user@host, 3.14"), // lookalikes
      (5L, "edge user@x.io"))                            // match at string end
    .toDF("id", "body")
    val out = graft.operators.Curation.redactPii(docs, "id", "body")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Int]("n_email") == 1)
    assert(out(1L).getAs[String]("redacted") == "mail <EMAIL> now")
    assert(out(2L).getAs[Int]("n_phone") == 2)
    assert(out(2L).getAs[String]("redacted") == "call <PHONE> or <PHONE> today")
    assert(out(3L).getAs[Int]("n_ip") == 2)
    assert(out(3L).getAs[String]("redacted") == "host <IP> and <IP> up")
    // lookalikes: user@host has no dot-TLD, 1234.5.6.7 has a 4-digit octet
    // with no word boundary, 12-34 and 3.14 match nothing
    assert(out(4L).getAs[Int]("n_email") == 0 && out(4L).getAs[Int]("n_ip") == 0
      && out(4L).getAs[Int]("n_phone") == 0)
    assert(out(4L).getAs[String]("redacted") == "not pii: 12-34, 1234.5.6.7, user@host, 3.14")
    assert(out(5L).getAs[String]("redacted") == "edge <EMAIL>")
  }

  test("packSequences: offsets are contiguous per shard and budget-aligned") {
    val out = Curation.packSequences(docs, "my_id", "body",
      budget = 10, shards = 2).collect()
    val byShard = out.groupBy(_.getAs[Long]("shard"))
    byShard.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("tok_offset"))
      // first doc starts at 0; each next doc starts where the prior ended
      assert(sorted.head.getAs[Long]("tok_offset") == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("tok_offset") ==
            a.getAs[Long]("tok_offset") + a.getAs[Int]("n_tokens"))
        case _ =>
      }
    }
    out.foreach { r =>
      val off = r.getAs[Long]("tok_offset"); val n = r.getAs[Int]("n_tokens")
      assert(r.getAs[Long]("pack_id") == off / 10)
      val spans = (off + n - 1) / 10 > off / 10
      assert(r.getAs[Int]("spans_packs") == (if (spans) 1 else 0))
    }
    // determinism: two runs give identical assignments
    val again = Curation.packSequences(docs, "my_id", "body",
      budget = 10, shards = 2).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("packSequencesByCount: explicit counts drive the cut; whitespace path delegates") {
    val s = spark
    import s.implicits._
    // explicit counts: same hash order as packSequences, offsets cumsum the
    // GIVEN counts — pack boundaries move with the tokenizer, not whitespace
    val counts = Seq((100L, 7L), (101L, 9L), (102L, 4L), (103L, 12L), (104L, 3L))
      .toDF("my_id", "n_bpe")
    val out = Curation.packSequencesByCount(counts, "my_id", "n_bpe",
      budget = 10, shards = 2).collect()
    val byShard = out.groupBy(_.getAs[Long]("shard"))
    byShard.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("tok_offset"))
      assert(sorted.head.getAs[Long]("tok_offset") == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("tok_offset") ==
            a.getAs[Long]("tok_offset") + a.getAs[Long]("n_tokens"))
        case _ =>
      }
    }
    // null counts (e.g. from a lossy join) must fail fast, not silently
    // overlap pack offsets
    val withNull = Seq((1L, Some(5L)), (2L, None)).toDF("my_id", "n_bpe")
    val err = intercept[Exception] {
      Curation.packSequencesByCount(withNull, "my_id", "n_bpe",
        budget = 10, shards = 1).collect()
    }
    assert(err.getMessage.contains("packSequencesByCount"), err.getMessage)

    // the whitespace packSequences IS packSequencesByCount over size(toks)
    val viaCounts = Curation.packSequencesByCount(
      docs.select($"my_id", size(split(trim($"body"), "\\s+")).as("c")),
      "my_id", "c", budget = 10, shards = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Long]("tok_offset"), r.getAs[Long]("pack_id"))).toSet
    val direct = Curation.packSequences(docs, "my_id", "body",
        budget = 10, shards = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Long]("tok_offset"), r.getAs[Long]("pack_id"))).toSet
    assert(viaCounts == direct)
  }

  test("filterByQuantile keeps ~pct of rows, complement on keepBelow=false") {
    val s = spark
    import s.implicits._
    val df = (1 to 10000).map(_.toDouble).toDF("v")
    val kept = Curation.filterByQuantile(df, "v", pct = 90, bins = 1000)
    val n = kept.count()
    // threshold is a bin upper edge: ≥ the exact p90, within one bin (10)
    assert(n >= 9000 && n <= 9020, s"kept $n of 10000 at p90")
    assert(kept.agg(max($"v")).head().getDouble(0) <= 9020.0)
    // the complement partitions the corpus exactly
    val above = Curation.filterByQuantile(df, "v", pct = 90, bins = 1000,
      keepBelow = false)
    assert(n + above.count() == 10000)
  }

  test("samplePerGroup: deterministic k-per-group, partitioning-invariant, salt-sensitive") {
    val s = spark
    import s.implicits._
    val df = (1 to 500).map(i => (s"g${i % 3}", i.toLong)).toDF("grp", "id")
    val a = Curation.samplePerGroup(df, Seq("grp"), "id", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
    // exactly k per group (every group has ≥ k members here), ranks 1..k
    a.groupBy(_._1).foreach { case (g, rows) =>
      assert(rows.length == 10, s"$g")
      assert(rows.map(_._3).toSeq == (1 to 10))
    }
    // invariant under input partitioning (partial buffers merge exactly)
    val b = Curation.samplePerGroup(df.repartition(17), Seq("grp"), "id", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).sortBy(x => (x._1, x._3))
    assert(a.sameElements(b))
    // a group smaller than k yields the whole group
    val tiny = Curation.samplePerGroup(df.filter($"id" <= 4), Seq("grp"), "id", k = 10)
    assert(tiny.count() == 4)
    // a different salt draws a different sample (new eval split, same corpus)
    val c = Curation.samplePerGroup(df, Seq("grp"), "id", k = 10, salt = "v2")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(c != a.map(x => (x._1, x._2)).toSet)
  }

  // ------------------------------------------------- corpus diff (q133)

  test("corpusDiff: all four statuses on a hand-built pair of snapshots") {
    val s = spark
    import s.implicits._
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "t")
    val neu = Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("id", "t")
    val got = Curation.corpusDiff(old, neu, "id", "t")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"), s"got $got")
  }

  // ------------------------------------------- token budget take (q134)

  test("planEpochs: targets, epoch cap, and zero-weight sources — exact ppm arithmetic") {
    val df = Seq(("wiki", 100L), ("wiki", 100L), // 200 tokens
      ("crawl", 5000L), ("code", 50L))           // code absent from weights
      .toDF("src", "toks")
    val plan = Curation.planEpochs(df, "src", "toks",
        Map("wiki" -> 500000L, "crawl" -> 500000L),
        budgetTokens = 2000L, maxEpochsPpm = 3000000L)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("weight_ppm"),
          r.getAs[Long]("target_tokens"), r.getAs[Long]("epochs_ppm"),
          r.getAs[Long]("planned_tokens")))).toMap
    // wiki: target 1000 wants 5 epochs of its 200 tokens; the 3-epoch cap
    // bites -> planned 600 < target (the under-fill the planner exposes)
    assert(plan("wiki") == ((200L, 500000L, 1000L, 3000000L, 600L)))
    // crawl: target 1000 over 5000 tokens = 0.2 epochs, uncapped
    assert(plan("crawl") == ((5000L, 500000L, 1000L, 200000L, 1000L)))
    // unweighted source: all zeros, but present in the plan
    assert(plan("code") == ((50L, 0L, 0L, 0L, 0L)))
  }

  test("applyEpochPlan: full copies plus a deterministic fractional epoch") {
    val docs = Seq((1L, "wiki"), (2L, "wiki"), (10L, "crawl"), (11L, "crawl"),
      (12L, "crawl"), (20L, "code")).toDF("id", "src")
    val plan = Seq(("wiki", 3000000L), ("crawl", 200000L))
      .toDF("source", "epochs_ppm")
    val out = Curation.applyEpochPlan(docs, "id", "src", plan)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("epoch")))
    // wiki: exactly 3 whole epochs, no fraction
    assert(out.filter(_._1 <= 2L).groupBy(_._1).view.mapValues(
      _.map(_._2).sorted.toSeq).toMap == Map(1L -> Seq(0L, 1L, 2L),
        2L -> Seq(0L, 1L, 2L)))
    // code: not in the plan -> emits nothing
    assert(!out.exists(_._1 == 20L))
    // crawl: 0 whole epochs; the 0.2 fractional epoch keeps exactly the
    // ids whose salted hash lands under 200000 — recomputed independently
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = Seq(10L, 11L, 12L).filter(i =>
      java.lang.Long.parseLong(md5hex(s"ep:$i").take(15), 16) % 1000000L
        < 200000L)
    assert(out.filter(_._1 >= 10L).map(_._1).sorted.toSeq == expect.sorted,
      s"got ${out.toSeq} want frac ids $expect")
    assert(out.filter(_._1 >= 10L).forall(_._2 == 0L))
    // membership is a pure function of (salt, doc_id): odd partitioning
    // must not change the materialized multiset
    val repart = Curation.applyEpochPlan(docs.repartition(7), "id", "src",
        plan)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("epoch")))
    assert(repart.sorted.toSeq == out.sorted.toSeq)
  }

  test("takeTokenBudget equals the naive per-source window cumsum") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1 to 400).map(i =>
      (i.toLong, s"s${i % 3}", (rnd.nextInt(50) + 1).toLong))
      .toDF("id", "src", "tk")
    for (budget <- Seq(0L, 137L, 900L, 100000L)) {
      val got = Curation.takeTokenBudget(df, "id", "src", "tk", budget,
          numBuckets = 8)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
      // naive model: global sort by (pri, id) per source, inclusive cumsum
      val pri = df.withColumn("pri",
          graft.functions.Ops.md5Long(concat(lit("tb:"), $"id".cast("string"))))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
      val want = pri.groupBy(_._2).flatMap { case (_, rows) =>
        var cum = 0L
        rows.toSeq.sortBy(r => (r._4, r._1)).flatMap { r =>
          cum += r._3
          if (cum <= budget) Some(r._1 -> cum) else None
        }
        // NB flatMap keeps post-boundary rows out even if a later tiny doc
        // would fit — prefix semantics, matched by the operator's filter
      }.toMap
      assert(got == want, s"budget $budget: got ${got.size}, want ${want.size}")
    }
  }

  test("targetAffinity separates target-vocabulary docs and is partitioning-invariant") {
    val s = spark
    import s.implicits._
    // targets speak {ta tb tc}, the rest {xa xb xc}; doc 30 is half-half
    val docs = ((0 until 10).map(i => (i.toLong, "ta tb tc ta tb tc ta tb", 1)) ++
      (10 until 30).map(i => (i.toLong, "xa xb xc xa xb xc xa xb", 0)) :+
      ((30L, "ta tb tc ta xa xb xc xa", 0))).toDF("id", "body", "is_tgt")
    val score = Curation.targetAffinity(docs, "id", "body", "is_tgt",
        n = 2, buckets = 4096)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("affinity_ppm")).toMap
    val tgt = (0 until 10).map(i => score(i.toLong)).distinct
    val oth = (10 until 30).map(i => score(i.toLong)).distinct
    assert(tgt.size == 1 && oth.size == 1, "uniform docs score uniformly")
    assert(tgt.head > score(30L) && score(30L) > oth.head,
      s"expected target ${tgt.head} > mixed ${score(30L)} > other ${oth.head}")
    // repartitioning must not move a single score (exact integer path)
    val again = Curation.targetAffinity(docs.repartition(7), "id", "body",
        "is_tgt", n = 2, buckets = 4096)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("affinity_ppm")).toMap
    assert(again == score)
  }

  test("targetAffinity fails loudly when isTarget differs within a doc id") {
    val s = spark
    import s.implicits._
    // doc 3 arrives twice with conflicting flags and disjoint grams, so no
    // (doc, bucket) group sees both flags: only the per-doc check can
    val docs = Seq((1L, "ta tb tc ta", 1), (2L, "xa xb xc xa", 0),
      (3L, "ta tb tc tb", 1), (3L, "xa xb xc xb", 0)).toDF("id", "body", "is_tgt")
    val e = intercept[Exception](Curation.targetAffinity(docs, "id", "body", "is_tgt",
      n = 2, buckets = 4096).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("is_tgt differs within doc id 3")), e)
    // a doc-constant flag still scores
    assert(Curation.targetAffinity(docs.filter(!($"id" === 3L && $"is_tgt" === 0)),
      "id", "body", "is_tgt", n = 2, buckets = 4096).count() == 3)
  }

  test("rankAndShard equals the single-window formulation under ties and any partitioning") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    // heavy ties (scores drawn from just 7 values) force the id tiebreak
    // and concentrate range buckets; ids shuffled so input order is no help
    val rows = rnd.shuffle((0 until 400).toVector)
      .map(i => (i.toLong, (rnd.nextInt(7) * 10).toLong))
    val df = rows.toDF("id", "score").repartition(13)
    val got = Curation.rankAndShard(df, "id", "score", shardSize = 32L,
        buckets = 8)
      .collect().map(r => r.getAs[Long]("id") -> ((r.getAs[Long]("rank"),
        r.getAs[Long]("shard_id"), r.getAs[Long]("row_in_shard")))).toMap
    val want = rows.sortBy(r => (r._2, r._1)).zipWithIndex.map {
      case ((id, _), rk) => id -> ((rk.toLong, rk / 32L, rk % 32L))
    }.toMap
    assert(got == want)
    // rerun determinism (approxQuantile thresholds may differ; ranks must not)
    val again = Curation.rankAndShard(df, "id", "score", shardSize = 32L,
        buckets = 8).collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Long]("rank")).toMap
    assert(again == want.view.mapValues(_._1).toMap)
    // the data-sized window is bucket-keyed; only the <=buckets-row offset
    // frame windows globally
    val plan = Curation.rankAndShard(df, "id", "score", 32L, 8)
      .queryExecution.executedPlan.toString
    val winLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.exists(_.contains("__bucket")),
      s"expected a __bucket-keyed window:\n${winLines.mkString("\n")}")
  }

  test("takeTokenBudget: the only unbounded-side window partitions by (source, bucket)") {
    val s = spark
    import s.implicits._
    val df = (1 to 100).map(i => (i.toLong, "one_source", 5L)).toDF("id", "src", "tk")
    val plan = Curation.takeTokenBudget(df, "id", "src", "tk", 200L, numBuckets = 16)
      .queryExecution.executedPlan.toString
    // the data-sized window must carry the bucket key — a source-only
    // window would serialize the whole source through one task
    val winLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty)
    assert(winLines.exists(l => l.contains("__bkt") && l.contains("source")),
      s"expected a (source, __bkt)-keyed window:\n${winLines.mkString("\n")}")
  }

  test("distributionDrift: per-bucket shares, one-sided buckets, TV summary") {
    val old = Seq("a", "a", "b", "b").toDF("lang")
    val nw = Seq("a", "a", "a", "c").toDF("lang")
    val drift = Curation.distributionDrift(old, nw, "lang")
    val rows = drift.collect().map(r => r.getAs[String]("bucket") ->
      ((r.getAs[Long]("old_n"), r.getAs[Long]("new_n"),
        r.getAs[Long]("old_ppm"), r.getAs[Long]("new_ppm"),
        r.getAs[Long]("delta_ppm")))).toMap
    assert(rows("a") == ((2L, 3L, 500000L, 750000L, 250000L)))
    assert(rows("b") == ((2L, 0L, 500000L, 0L, 500000L)), "vanished bucket")
    assert(rows("c") == ((0L, 1L, 0L, 250000L, 250000L)), "novel bucket")
    val s = Curation.driftSummary(drift).collect().head
    assert(s.getAs[Long]("n_buckets") == 3L)
    assert(s.getAs[Long]("old_total") == 4L && s.getAs[Long]("new_total") == 4L)
    assert(s.getAs[Long]("tv_ppm") == 500000L)
    // identical snapshots: zero drift everywhere
    val same = Curation.driftSummary(
      Curation.distributionDrift(old, old, "lang")).collect().head
    assert(same.getAs[Long]("tv_ppm") == 0L)
  }

  test("numericDrift buckets by equi-width DIV before comparing") {
    val old = Seq(0L, 199L, 200L, 399L).toDF("v") // buckets 0,0,1,1
    val nw = Seq(0L, 50L, 100L, 399L).toDF("v")   // buckets 0,0,0,1
    val rows = Curation.numericDrift(old, nw, "v", bucketWidth = 200L)
      .collect().map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("old_n"), r.getAs[Long]("new_n")))).toMap
    assert(rows(0L) == ((2L, 3L)) && rows(1L) == ((2L, 1L)))
  }

  test("evalSplitExact: per-stratum quotas are exact, deterministic, disjoint") {
    val docs = ((1 to 10).map(i => (i.toLong, "A")) ++
      (100 to 124).map(i => (i.toLong, "B"))).toDF("id", "lang")
    val splits = Seq("test" -> 200000L, "val" -> 200000L, "train" -> 600000L)
    val out = Curation.evalSplitExact(docs, "id", "lang", splits).collect()
    assert(out.length == 35 && out.map(_.getAs[Long]("id")).distinct.length == 35,
      "every doc assigned exactly once")
    val byStratum = out.groupBy(r => (r.getAs[String]("lang"),
      r.getAs[String]("split"))).view.mapValues(_.length).toMap
    // A: n=10 -> 2/2/6; B: n=25 -> 5/5/15 — EXACT, not binomial
    assert(byStratum(("A", "test")) == 2 && byStratum(("A", "val")) == 2 &&
      byStratum(("A", "train")) == 6)
    assert(byStratum(("B", "test")) == 5 && byStratum(("B", "val")) == 5 &&
      byStratum(("B", "train")) == 15)
    // same salt -> identical assignment (eval membership is stable)
    val again = Curation.evalSplitExact(docs, "id", "lang", splits).collect()
    assert(out.map(r => (r.getLong(0), r.getString(2))).toSet ==
      again.map(r => (r.getLong(0), r.getString(2))).toSet)
    // a different salt reshuffles membership (fixed property of these salts)
    val other = Curation.evalSplitExact(docs, "id", "lang", splits,
      salt = "esx2").collect()
    assert(out.map(r => (r.getLong(0), r.getString(2))).toSet !=
      other.map(r => (r.getLong(0), r.getString(2))).toSet)
  }

  test("evalSplitExact: floor quotas leave the remainder to the LAST split") {
    // n=7 at 10%: floor(0.7)=0 docs to test/val — train takes all 7
    val tiny = (1 to 7).map(i => (i.toLong, "Z")).toDF("id", "lang")
    val out = Curation.evalSplitExact(tiny, "id", "lang",
      Seq("test" -> 100000L, "val" -> 100000L, "train" -> 800000L)).collect()
    assert(out.forall(_.getAs[String]("split") == "train"))
  }

  test("temperatureShares: integer roots are EXACT at double-precision edges") {
    def ibroot(n: BigInt, b: Int): Long = {
      if (n == 0) 0L
      else {
        var lo = BigInt(0); var hi = n
        while (lo < hi) {
          val mid = (lo + hi + 1) / 2
          if (mid.pow(b) <= n) lo = mid else hi = mid - 1
        }
        lo.toLong
      }
    }
    // perfect powers and their neighbours, including values whose double
    // sqrt seed lands on the wrong side without the integer correction
    val ns: Seq[Long] = (Seq(1L, 2L, 3L, 4L, 5L, 8L, 9L, 10L, 24L, 26L) ++
      Seq(1L << 52, (1L << 52) - 1, (1L << 52) + 1,
        3037000499L * 3037000499L, 3037000499L * 3037000499L - 1,
        999999999999999999L, 4611686018427387904L) ++
      (1 to 20).map(k => k.toLong * k * k) ++
      (1 to 20).map(k => k.toLong * k * k - 1)).distinct
    val df = ns.zipWithIndex.map { case (n, i) => (s"c$i", n) }.toDF("cls", "n")
    for (b <- Seq(2, 3, 4)) {
      val got = Curation.temperatureShares(df, "cls", rootB = b,
          weightCol = Some("n"))
        .select("cls", "n", "weight").collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      for ((n, i) <- ns.zipWithIndex)
        assert(got(s"c$i") == ibroot(BigInt(n), b),
          s"iroot($n, $b): got ${got(s"c$i")}, want ${ibroot(BigInt(n), b)}")
    }
    // doc-count path + ppm shares: 9 'a' rows + 4 'b' rows at alpha=1/2
    // -> weights 3 and 2, shares 600000/400000
    val docs = (Seq.fill(9)("a") ++ Seq.fill(4)("b")).toDF("cls")
    val s2 = Curation.temperatureShares(docs, "cls", rootB = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(s2("a") == ((9L, 3L, 600000L)) && s2("b") == ((4L, 2L, 400000L)))
  }

  test("temperatureMix: scarcest class (by EXACT fraction compare) kept whole") {
    // a: n=9 w=3 (ratio 3); b: n=4 w=2 (ratio 2) -> b anchors, thr_b=1e6,
    // thr_a = floor(1e6*3*4/(2*9)) = 666666
    val docs = ((1 to 9).map(i => (i.toLong, "a")) ++
      (100 to 103).map(i => (i.toLong, "b"))).toDF("id", "lang")
    val out = Curation.temperatureMix(docs, "id", "lang", rootB = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.length == 13)
    assert(out.filter(_._2 == "b").forall(_._3 == 1), "anchor class kept whole")
    // deterministic across reruns (id-salted hash, not text)
    val again = Curation.temperatureMix(docs, "id", "lang", rootB = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)))
  }

  test("temperatureMix: thousands of classes (broadcast join, no codegen blowup)") {
    // 3000 classes of varying size — the folded-CASE formulation this
    // replaced would build a 3000-deep when() tree and blow up codegen;
    // the broadcast threshold join must sail through. One NULL-class row
    // rides along to pin the fallthrough semantics: retained, keep 0.
    val rows = (0 until 3000).flatMap { c =>
      (0 until (c % 4) + 1).map(k => (c.toLong * 10 + k, Some(f"cls$c%04d")))
    } :+ (999999L, Option.empty[String])
    val docs = rows.toDF("id", "lang")
    val out = Curation.temperatureMix(docs, "id", "lang", rootB = 2).collect()
    assert(out.length == rows.length, "every input row is retained")
    // size-1 classes have the minimal n/weight ratio (1) — the anchor is
    // among them, and every ratio-1 class gets thr = 1e6 = kept whole
    val byCls = out.groupBy(_.getString(1))
    (0 until 3000).filter(_ % 4 == 0).foreach { c =>
      assert(byCls(f"cls$c%04d").forall(_.getInt(2) == 1),
        s"size-1 class cls$c must be kept whole")
    }
    val nullRow = out.filter(_.isNullAt(1))
    assert(nullRow.length == 1 && nullRow.head.getInt(2) == 0,
      "NULL-class row retained with keep 0")
  }

  test("temperatureShares: negative / NULL class sums fail LOUDLY") {
    val neg = Seq(("a", 5L), ("a", -9L), ("b", 3L)).toDF("cls", "w")
    val e = intercept[Exception] {
      Curation.temperatureShares(neg, "cls", rootB = 2,
        weightCol = Some("w")).collect()
    }
    assert(e.getMessage.contains("temperatureShares"), e.getMessage)
    val nul = Seq(("a", Option.empty[Long]), ("b", Some(3L))).toDF("cls", "w")
    val e2 = intercept[Exception] {
      Curation.temperatureShares(nul, "cls", rootB = 2,
        weightCol = Some("w")).collect()
    }
    assert(e2.getMessage.contains("temperatureShares"), e2.getMessage)
  }

  test("evalSplitExact: a mega-stratum past maxStratumRows fails LOUDLY") {
    // The per-stratum sort is the documented cost, bounded by the largest
    // stratum; the knob makes that boundary ENFORCED with a pointer to the
    // map-only escape hatch. Planted: stratum B (40 rows) >> A (5 rows).
    val docs = ((1 to 5).map(i => (i.toLong, "A")) ++
      (100 to 139).map(i => (i.toLong, "B"))).toDF("id", "lang")
    val splits = Seq("test" -> 200000L, "train" -> 800000L)
    val e = intercept[Exception] {
      Curation.evalSplitExact(docs, "id", "lang", splits,
        maxStratumRows = 20L).collect()
    }
    assert(e.getMessage.contains("splitAssign"), e.getMessage)
    // the same data under a sufficient knob splits normally — and the
    // guard is per-stratum, so only the planted stratum is the trigger
    val ok = Curation.evalSplitExact(docs, "id", "lang", splits,
      maxStratumRows = 40L).collect()
    assert(ok.length == 45)
    val b = ok.filter(_.getAs[String]("lang") == "B")
    assert(b.count(_.getAs[String]("split") == "test") == 8) // floor(40*0.2)
  }
}
