package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.storage.Segments
import graft.streaming.Realtime

/** Full-pipeline integration: the composed flow a training-data user runs —
  * stream JSON documents in, exact-dedup, quality-filter, tokenize, write
  * dim-sorted segments with a manifest, read back pruned. Exercises every
  * module boundary in one pass (sources → streaming → operators → storage →
  * plans).
  */
class PipelineE2ESpec extends AnyFunSuite {
  import TestSpark._

  test("ingest -> dedup -> quality filter -> tokenize -> segments -> pruned read") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stage = Files.createTempDirectory("graft-e2e").toString

    // 1. streaming ingest of JSON documents (with a duplicate and a junk doc)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType)))
    val mem = MemoryStream[String]
    val q = Realtime.start(mem.toDF().toDF("json"),
      "json", Realtime.IngestSpec(schema = docSchema),
      s"$stage/raw", s"$stage/ckpt")
    val good = "the quick brown fox jumps over the lazy dog and runs far away"
    mem.addData(
      s"""{"doc_id":1,"text":"$good","lang":"en"}""",
      s"""{"doc_id":2,"text":"$good","lang":"en"}""", // exact duplicate
      s"""{"doc_id":3,"text":"x","lang":"en"}""", // junk (too short)
      s"""{"doc_id":4,"text":"completely different content about data engines and columnar scans","lang":"en"}""")
    q.processAllAvailable(); q.stop()

    // 2. exact dedup through the library API (groupBy + join-back — the
    // de-skewed path, not a content-hash window)
    val raw = Realtime.hybrid(spark, s"$stage/raw/batch=0", s"$stage/raw")
      .dropDuplicates("doc_id")
    val keepIds = graft.operators.Dedup.exact(raw, "doc_id", "text")
      .filter($"is_dup" === 0).select($"doc_id")
    val deduped = raw.join(keepIds, "doc_id")
    assert(deduped.count() == 3) // one duplicate removed

    // 3. quality filter + tokenize (operators.Text semantics)
    val curated = deduped
      .withColumn("toks", split(trim($"text"), "\\s+"))
      .withColumn("n_tokens", size($"toks"))
      .filter($"n_tokens" >= 5)
      .select($"doc_id", $"text", $"lang", $"n_tokens")
    assert(curated.count() == 2) // junk doc dropped

    // 4. write sorted segments + manifest, read back through format("graft")
    Segments.write(curated, s"$stage/table", sortCols = Seq("doc_id"),
      indexedCols = Seq("doc_id"), numSegments = 2)
    val (hit, kept) = keptFiles(
      spark.read.format("graft").load(s"$stage/table").filter($"doc_id" === 4L))
    assert(hit.length == 1 && hit.head.getAs[Int]("n_tokens") >= 5)
    assert(kept <= 2) // manifest consulted during the scan
  }

  test("refresh chain: snapshot diff routes the delta; merged artifact ≡ full rebuild") {
    import spark.implicits._
    import graft.operators.{Curation, Extended, TextStats}
    // v1 → v2: doc 3 edited, doc 5 dropped, doc 9 new, rest untouched
    val v1 = Seq(
      (1L, "alpha beta gamma delta"), (2L, "epsilon zeta"),
      (3L, "old text that will change"), (5L, "doomed document"),
      (7L, "stable seven words here for good measure now"))
      .toDF("doc_id", "text")
    val v2 = Seq(
      (1L, "alpha beta gamma delta"), (2L, "epsilon zeta"),
      (3L, "brand new replacement text"), (9L, "fresh arrival"),
      (7L, "stable seven words here for good measure now"))
      .toDF("doc_id", "text")
    def artifact(df: org.apache.spark.sql.DataFrame) =
      TextStats.tokenCounts(df, "doc_id", "text")
    // incremental: the diff names the delta; only changed+added docs are
    // re-processed (the 100 TB point — unchanged docs never recompute),
    // then mergeUpsert folds them in and removals are anti-joined away
    val diff = Curation.corpusDiff(v1, v2, "doc_id", "text")
    val statuses = diff.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(statuses == Map(1L -> "unchanged", 2L -> "unchanged",
      3L -> "changed", 5L -> "removed", 7L -> "unchanged", 9L -> "added"))
    val delta = v2.join(
      diff.filter($"status".isin("changed", "added")).select($"doc_id"),
      "doc_id")
    assert(delta.count() == 2)
    val removed = diff.filter($"status" === "removed").select($"doc_id")
    val incrementally = Extended.mergeUpsert(
        artifact(v1).withColumn("v", lit(1L)),
        artifact(delta).withColumn("v", lit(2L)),
        Seq("doc_id"), "v")
      .join(removed, Seq("doc_id"), "left_anti")
      .drop("v")
    val full = artifact(v2)
    assert(incrementally.exceptAll(full).isEmpty && full.exceptAll(incrementally).isEmpty,
      "incremental refresh must equal the full rebuild")
  }

  test("curation chain: quality filter -> decontaminate -> pack, tokens conserved") {
    import spark.implicits._
    import graft.operators.Curation
    val docs = Tables.documents(spark, sf)

    // 1. drop junk with an audit reason
    val scored = Curation.qualityFilter(docs, "doc_id", "text", Curation.defaultRules)
    val kept = scored.filter($"keep" === 1).select($"doc_id", $"text")
    assert(kept.count() > 0 && kept.count() <= docs.count())

    // 2. drop anything sharing >50% of its grams with the held-out set
    val bench = docs.filter($"source" === "src0")
    val contam = Curation.decontaminate(
      kept.join(docs.select("doc_id", "source"), "doc_id")
        .filter($"source" =!= "src0").select($"doc_id", $"text"),
      bench, "doc_id", "text")
    val clean = kept.join(contam.filter($"contam_ratio" < 0.5).select("doc_id"), "doc_id")

    // 3. pack into training sequences; every doc assigned, tokens conserved
    val packed = Curation.packSequences(clean, "doc_id", "text", budget = 256, shards = 4)
    assert(packed.count() == clean.count(), "every clean doc must be packed")
    val tokIn = clean.select(sum(size(split(trim($"text"), "\\s+")))).head().getLong(0)
    val tokOut = packed.select(sum($"n_tokens")).head().getLong(0)
    assert(tokIn == tokOut, s"token count must be conserved: $tokIn != $tokOut")
    // shards partition the stream: per-shard max offset+len == shard token sum
    packed.groupBy($"shard")
      .agg(max($"tok_offset" + $"n_tokens").as("end"), sum($"n_tokens").as("tot"))
      .collect().foreach(r =>
        assert(r.getAs[Long]("end") == r.getAs[Long]("tot")))
  }

  test("round-8 chain: canonicalize -> LM-quality cut -> weighted sample stays nested") {
    import spark.implicits._
    import graft.operators.{Curation, TextStats}
    val docs = Tables.documents(spark, sf)

    // 1. canonicalize text (normalize-before-anything)
    val canon = Curation.normalizeText(docs, "doc_id", "text")
      .select($"doc_id", $"norm_text".as("text"))
    assert(canon.count() == docs.count())

    // 2. score transitions against the canonical corpus's own bigram
    // table and keep the upper half (drop improbable-transition docs)
    val scored = TextStats.lmQualityScore(canon, "doc_id", "text",
      minCount = 3L)
    val cut = scored.agg(expr("percentile(avg_cond_ppm, 0.5)")).head().getDouble(0)
    val kept = canon.join(
      scored.filter($"avg_cond_ppm" >= cut).select("doc_id"), "doc_id")
    assert(kept.count() > 0 && kept.count() < docs.count())

    // 3. weighted Bernoulli subsample of the survivors, weight ∝ score
    val weighted = kept.join(scored, "doc_id")
      .withColumn("w_ppm", least(lit(1000000L), $"avg_cond_ppm"))
    val sampled = Curation.sampleByWeight(weighted, "doc_id", "w_ppm")
    val nKept = kept.count(); val nSamp = sampled.count()
    assert(nSamp > 0 && nSamp <= nKept)
    // sample is a strict subset of the kept set (pure content-hash draw)
    assert(sampled.select("doc_id").except(kept.select("doc_id")).count() == 0)
    // and re-running reproduces the identical subset (determinism E2E)
    val again = Curation.sampleByWeight(weighted, "doc_id", "w_ppm")
      .select("doc_id")
    assert(again.except(sampled.select("doc_id")).count() == 0 &&
      sampled.select("doc_id").except(again).count() == 0)
  }

  test("retrieval chain: chunk with overlap -> slice text -> BM25 over chunks") {
    import spark.implicits._
    import graft.operators.{Curation, TextStats}
    val docs = Tables.documents(spark, sf)

    // 1. chunk every document (width 32, stride 24) and materialize each
    // chunk's text by slicing the token array — the RAG corpus
    val chunks = Curation.chunkDocs(docs, "doc_id", "text", width = 32, stride = 24)
      .join(docs.select($"doc_id", split(trim($"text"), "\\s+").as("toks")), "doc_id")
      .select(
        ($"doc_id" * 10000 + $"chunk_id").as("chunk_key"),
        $"doc_id",
        array_join(slice($"toks", $"start_tok" + 1, $"n_chunk_toks"), " ").as("chunk_text"))
    val nChunks = chunks.count()
    assert(nChunks > docs.count(), "overlapping chunks outnumber documents")

    // 2. retrieve top chunks for a keyword query over the chunk corpus
    val top = TextStats.bm25TopK(chunks, "chunk_key", "chunk_text",
      Seq("vector", "merge"), k = 10).collect()
    assert(top.length == 10)
    // every hit must actually contain a query term, and scores are ranked
    val byKey = chunks.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    top.foreach { r =>
      val txt = byKey(r.getLong(0))
      assert(txt.split(" ").exists(t => t == "vector" || t == "merge"),
        s"retrieved chunk must contain a query term: $txt")
    }
    val scores = top.map(_.getLong(2))
    assert(scores.sameElements(scores.sorted(Ordering[Long].reverse)),
      "results must be in descending score order")
  }

  test("ops chain: sessionize -> session metrics -> per-type duration outliers") {
    import spark.implicits._
    import graft.operators.{Events, Extended}
    val ev = Tables.events(spark, sf).withColumn("sec", expr("ts DIV 1000000000"))

    // 1. session rollup (30-min gap): every event lands in exactly one
    // session, so event counts are conserved
    val sess = Events.sessionMetrics(ev, "user_id", "sec", "value",
      "event_id", gapSec = 1800L)
    val totalEvents = ev.count()
    val sessEvents = sess.agg(sum($"n_events")).head().getLong(0)
    assert(sessEvents == totalEvents, s"$sessEvents of $totalEvents events in sessions")
    assert(sess.filter($"duration_sec" < 0).count() == 0)

    // 2. flag anomalous session durations within each session-length
    // class (bucket by event count) — the composed ops-analytics pass
    val flagged = Extended.zscoreOutliers(
      sess.select($"user_id", $"session_id", $"n_events", $"duration_sec"),
      "duration_sec", Seq("n_events"), zThreshold = 3.0)
    val n = flagged.count()
    assert(n == sess.count(), "outlier pass must keep every session row")
    val outliers = flagged.filter($"is_outlier" === 1).count()
    assert(outliers < n / 10, s"z>3 should flag a small tail, got $outliers of $n")
  }

  test("crawl chain: per-source cap -> quality filter -> pack, counts conserved") {
    import spark.implicits._
    import graft.operators.{Curation, Similarity}
    val docs = Tables.documents(spark, sf)
    val perSource = docs.groupBy($"source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cap = 10

    // 1. per-domain cap: keep the `cap` longest docs per source — the
    // bounded top-k aggregate (no per-source window), crawl-style
    val kept = Similarity.topKPerKey(
        docs.select($"source", $"doc_id", $"n_chars".cast("double").as("len")),
        Seq("source"), "doc_id", "len", k = cap)
      .select($"source", $"doc_id")
    val keptBySource = kept.groupBy($"source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    keptBySource.foreach { case (src, n) =>
      assert(n == math.min(cap.toLong, perSource(src)), s"$src kept $n")
    }

    // 2. quality filter over the capped corpus (drop very short docs)
    val capped = docs.join(kept.select($"doc_id"), "doc_id")
    val filtered = Curation.qualityFilter(capped, "doc_id", "text",
      Seq("too_short" -> (length(trim($"text")) < 50)))
    val survivors = filtered.filter($"reason".isNull)
    assert(survivors.count() > 0)

    // 3. pack survivors into fixed-budget sequences; every surviving doc
    // lands in exactly one sequence (token conservation)
    val packed = Curation.packSequences(
      survivors.join(docs.select($"doc_id", $"text".as("t2")), "doc_id"),
      "doc_id", "t2", budget = 256)
    val packedDocs = packed.select($"doc_id").distinct().count()
    assert(packedDocs == survivors.count(),
      s"packed $packedDocs of ${survivors.count()} surviving docs")
  }

  test("index chain: heavy hitters derive the stopword list -> postings skip them") {
    import spark.implicits._
    import graft.operators.TextStats
    val docs = Tables.documents(spark, sf)
    val tok = docs.select(explode(split(trim($"text"), "\\s+")).as("term"))

    // 1. data-derived stopwords: terms carrying ≥ 2% of the token stream
    // (the sketch-then-recount pass — no hand-maintained list)
    val stops = TextStats.heavyHitters(tok, "term", minFreqPpm = 20000L, k = 60)
      .collect().map(_.getString(0)).toSet
    assert(stops.nonEmpty, "corpus must yield some high-frequency terms")

    // 2. posting lists capped at the corpus's median doc-frequency (a
    // data-derived band, like the stopword list): every over-cap stopword
    // must be absent, some below-cap vocabulary must be indexed
    val dfs = docs.select(explode(array_distinct(split(trim($"text"), "\\s+"))).as("t"))
      .groupBy($"t").count().select($"count").as[Long].collect().sorted
    val maxDf = dfs(dfs.length / 2) // median df: half the vocab stays indexable
    val posts = TextStats.postings(docs, "doc_id", "text", minDf = 1L, maxDf = maxDf)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap // (term, df, postings)
    stops.foreach { s =>
      // a term can be frequent by tokens yet rare by docs; only assert for
      // stopwords that really exceed the doc-frequency cap
      val df = docs.filter(array_contains(split(trim($"text"), "\\s+"), s)).count()
      if (df > maxDf)
        assert(!posts.contains(s), s"stopword '$s' (df=$df) must not be indexed")
    }
    assert(posts.nonEmpty, "non-stopword vocabulary must be indexed")
    posts.take(5).foreach { case (t, lst) =>
      assert(lst.split(",").nonEmpty, s"term '$t' has an empty posting list")
    }
  }

  test("serving chain: BM25 + dense ANN -> RRF fuse -> MMR diversify") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{Corpus, Similarity, TextStats}
    val docs = Tables.documents(spark, sf)
    val e = Tables.embeddings(spark, sf)

    // 1. two independent candidate generators (ids aligned doc_id == vec_id)
    val sparse = TextStats.bm25TopK(docs, "doc_id", "text",
        Seq("vector", "merge"), k = 30)
      .select($"doc_id", row_number().over(
        Window.orderBy($"score_scaled".desc, $"doc_id".asc)).as("rank"))
    val dense = Similarity.annTopK(
      e.select($"vec_id".as("doc_id"), $"embedding"), "doc_id", "embedding",
      e.filter($"vec_id" === 0)
        .select($"vec_id".as("query_id"), $"embedding".as("qemb")),
      "query_id", "qemb", k = 30, pairFilter = $"doc_id" =!= $"query_id")
      .select($"doc_id", $"rank")

    // 2. fuse to a 12-candidate shortlist, then diversify to a final 5
    // (relevance proxy = the fused RRF points, descaled to a double)
    val fused = Corpus.rrfFuse(Seq(sparse, dense), "doc_id", "rank", k = 12)
    val cands = fused
      .join(e.select($"vec_id".as("doc_id"), $"embedding"), "doc_id")
      .withColumn("qid", lit(0L))
      .withColumn("rel", $"rrf_scaled".cast("double") / 1e9)
    val outDf = Similarity.mmrRerank(cands, "qid", "doc_id", "embedding",
      "rel", k = 5, lambdaPpm = 600000L)
    val out = outDf.orderBy($"mmr_rank").collect()

    // 3. structure: 5 distinct picks, all from the fused shortlist, ranks 1..5,
    // and the first pick is the fusion's own top candidate
    assert(out.length == 5)
    val shortlist = fused.collect().map(r => r.getAs[Long]("doc_id")).toSet
    val picks = out.map(_.getAs[Long]("doc_id"))
    assert(picks.distinct.length == 5 && picks.forall(shortlist.contains))
    assert(out.map(_.getAs[Int]("mmr_rank")).toSeq == Seq(1, 2, 3, 4, 5))
    val top = fused.orderBy($"rank").collect().head.getAs[Long]("doc_id")
    assert(picks.head == top, "MMR's first pick is the fused relevance leader")
  }

  test("round-10 chain: winnow index -> decontam cut -> epoch plan -> materialize") {
    import spark.implicits._
    import graft.operators.{Curation, TextStats}
    val docs = Tables.documents(spark, sf)
    // 1. ONE winnowed index for the whole corpus (the reusable artifact);
    // slice it into benchmark (src0) and training sides
    val picks = TextStats.winnow(docs, "doc_id", "text").persist()
    val side = docs.select($"doc_id", $"source")
    val sliced = picks.join(side, "doc_id")
    val flagged = TextStats.winnowAgainstFrom(
      sliced.filter($"source" =!= "src0"),
      sliced.filter($"source" === "src0"), maxDocFreq = Some(100L))
    // 2. cut flagged docs from the training side
    val train = docs.filter($"source" =!= "src0")
      .join(flagged.select($"doc_id").distinct(), Seq("doc_id"), "left_anti")
    assert(train.count() > 0)
    // 3. plan epochs over the CLEANED training corpus and materialize
    val weights = (0 until 20).map(i => s"src$i" -> 50000L).toMap
    val plan = Curation.planEpochs(train, "source", "n_chars", weights,
      budgetTokens = 500000L, maxEpochsPpm = 2000000L).persist()
    val out = Curation.applyEpochPlan(train, "doc_id", "source", plan)
    // epoch indices are dense 0..⌊epochs⌋ per doc and bounded by the cap
    assert(out.filter($"epoch" > 2L).count() == 0) // cap 2.0 epochs
    // realized whole-epoch volume: every source's full copies == n_docs ×
    // ⌊epochs⌋ (fractional tail varies by hash, bounded by n_docs)
    val byS = out.groupBy($"source").agg(count(lit(1)).as("emitted"))
      .join(train.groupBy($"source").agg(count(lit(1)).as("n_docs")), "source")
      .join(plan.select($"source", $"epochs_ppm"), "source")
      .collect()
    byS.foreach { r =>
      val emitted = r.getAs[Long]("emitted")
      val n = r.getAs[Long]("n_docs")
      val full = r.getAs[Long]("epochs_ppm") / 1000000L
      assert(emitted >= n * full && emitted <= n * (full + 1),
        s"${r.getAs[String]("source")}: $emitted not in [${n * full}, ${n * (full + 1)}]")
    }
    // determinism: a rerun materializes the identical multiset
    val again = Curation.applyEpochPlan(train, "doc_id", "source", plan)
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    picks.unpersist(); plan.unpersist()
  }

  test("ingest chain: per-batch counters sum to the whole feed; produced feeds the rollup") {
    import spark.implicits._
    import graft.streaming.Realtime
    import org.apache.spark.sql.types._
    val spec = Realtime.IngestSpec(
      schema = StructType(Seq(StructField("tag", StringType),
        StructField("dim", StringType), StructField("arr", LongType),
        StructField("v", LongType))),
      tagField = Some("tag"), acceptTags = Set("keep"), ignoreEmpty = true,
      rollup = Some(Realtime.RollupSpec(Seq("dim"),
        Seq("v" -> Realtime.Sum), "arr")))
    // a deterministic mixed feed split into three uneven micro-batches
    val lines = (1 to 90).map { i =>
      if (i % 11 == 0) "{corrupt"
      else if (i % 7 == 0) s"""{"tag":"drop","dim":"d${i % 3}","arr":$i,"v":$i}"""
      else if (i % 5 == 0) s"""{"tag":"keep","dim":"d${i % 3}","arr":$i}"""
      else s"""{"tag":"keep","dim":"d${i % 3}","arr":$i,"v":$i}"""
    }
    val batches = Seq(lines.slice(0, 17), lines.slice(17, 60),
      lines.slice(60, 90))
    def statsOf(ls: Seq[String]): Map[String, Long] = {
      val r = Realtime.ingestStats(ls.toDF("json"), "json", spec)
        .collect().head
      Seq("consumed", "produced", "ignored_tag", "ignored_empty", "failed")
        .map(c => c -> r.getAs[Long](c)).toMap
    }
    // the counters are a fold — per-batch rows sum to the whole feed's
    // (the foreachBatch dashboard accumulates exactly this way)
    val whole = statsOf(lines)
    val summed = batches.map(statsOf).reduce((a, b) =>
      a.map { case (k, v) => k -> (v + b(k)) })
    assert(summed == whole, s"per-batch $summed vs whole $whole")
    // produced rows are exactly what reaches the rollup; the rolled batch
    // conserves the SUM metric over the survivors
    val decoded = Realtime.decode(lines.toDF("json"), "json", spec)
    assert(decoded.count() == whole("produced"))
    val rolled = Realtime.rollupBatch(decoded, spec.rollup.get)
    assert(rolled.count() <= whole("produced"))
    val sumIn = decoded.agg(sum(coalesce($"v", lit(0L)))).head.getLong(0)
    val sumOut = rolled.agg(sum(coalesce($"v", lit(0L)))).head.getLong(0)
    assert(sumIn == sumOut, s"rollup must conserve SUM: $sumIn vs $sumOut")
  }

  test("histogram sketch partials merge across streamed micro-batches (≡ batch)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.Extended
    val stage = Files.createTempDirectory("graft-hist").toString
    val (lo, width, bins) = (0.0, 5.0, 64)
    val rnd = new scala.util.Random(53)
    val all = Seq.fill(400)(rnd.nextInt(300).toDouble)
    // stream in three uneven batches; each appends only its (bin, n)
    // partials — the mergeable sketch state, not raw rows
    val mem = MemoryStream[Double]
    val q = mem.toDF().toDF("v").writeStream
      .option("checkpointLocation", s"$stage/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        Extended.histBinCounts(batch, "v", lo, width, bins)
          .write.mode("append").parquet(s"$stage/partials")
        ()
      }.start()
    Seq(all.take(50), all.slice(50, 300), all.drop(300)).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val merged = Extended.histQuantilesFromCounts(
        spark.read.parquet(s"$stage/partials"), Seq(25, 50, 95), lo, width)
      .collect().map(r => r.getAs[Int]("pct") -> r.getAs[Double]("est")).toMap
    val batch = Extended.histQuantiles(all.toDF("v"), "v", Seq(25, 50, 95),
        lo, width, bins)
      .collect().map(r => r.getAs[Int]("pct") -> r.getAs[Double]("est")).toMap
    assert(merged == batch,
      s"merged partials must equal the all-at-once sketch: $merged vs $batch")
  }

  test("streamed LM-quality scoring with a fixed stats table (≡ batch)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.operators.TextStats
    val stage = Files.createTempDirectory("graft-lmq").toString
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    // the corpus bigram table is fit ONCE (a deploy artifact, like the
    // IVF quantizer) and each micro-batch scores against it map-side
    val stats = TextStats.bigramStats(docs, "text", minCount = 3L)
      .localCheckpoint()
    val rows = docs.as[(Long, String)].collect().toSeq
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$stage/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        TextStats.lmQualityScore(batch, "doc_id", "text",
            statsDf = Some(stats))
          .write.mode("append").parquet(s"$stage/scores")
        ()
      }.start()
    Seq(rows.take(100), rows.slice(100, 350), rows.drop(350)).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.read.parquet(s"$stage/scores")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val batch = TextStats.lmQualityScore(docs, "doc_id", "text",
        statsDf = Some(stats))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(streamed == batch,
      s"per-batch scoring against the fixed table must equal all-at-once")
  }

  test("ops-analytics chain: daily resample -> LOCF -> per-user outlier days") {
    import spark.implicits._
    import graft.operators.{Events, Extended}
    val daily = Tables.events(spark, sf)
      .groupBy($"user_id", expr("ts DIV 1000000000 DIV 86400").as("day"))
      .agg(count(lit(1)).as("n"))
    val filled = Events.gapFill(daily, Seq("user_id"), "day", Seq("n"))
      .select($"user_id", $"day", coalesce($"n", lit(0L)).as("n"))
    // the filled series is dense: per user exactly span+1 days
    val spans = daily.groupBy($"user_id")
      .agg((max($"day") - min($"day") + 1).as("len"))
    assert(filled.groupBy($"user_id").count()
      .join(spans, "user_id").filter($"count" =!= $"len").count() == 0)
    // outlier days: z > 1.5 on the DENSE series (gap days pull the mean
    // down — resample-then-score is the point of the chain)
    val flagged = Extended.zscoreOutliers(filled, "n", Seq("user_id"), 1.5)
    assert(flagged.count() == filled.count())
    val hits = flagged.filter($"is_outlier" === 1)
    assert(hits.count() > 0, "bursty days must trip the 1.5-sigma gate")
    // determinism across reruns (exact moments + identical double tree)
    assert(Extended.zscoreOutliers(filled, "n", Seq("user_id"), 1.5)
      .collect().toSet == flagged.collect().toSet)
  }

  test("training-prep chain: cluster -> leakage-safe split -> batched inference scoring") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // two near-dup families + singletons: near-dups MUST co-locate in a split
    val docs = Seq(
      (1L, base), (2L, base + " mu"), // family A
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "one two three four five six seven eight nine ten eleven"), // family B
      (5L, "lonely standalone document with entirely unrelated words here now"),
      (6L, "another independent text that shares nothing with the other documents"))
      .toDF("doc_id", "text")
    val clusters = graft.operators.Dedup.clusters(docs, "doc_id", "text",
      n = 3, threshold = 0.5)
    val split = graft.operators.Curation.splitByCluster(docs, "doc_id", clusters)
    // leakage check: every cluster lands in exactly one split
    val spansSplits = split.groupBy($"canonical_id")
      .agg(countDistinct($"split").as("ns")).filter($"ns" > 1)
    assert(spansSplits.count() == 0, "a near-dup cluster straddles splits")
    // family members share the assignment
    val byDoc = split.select($"doc_id", $"split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byDoc(1L) == byDoc(2L) && byDoc(3L) == byDoc(4L))
    // batched inference over the split corpus: scores are a pure function
    // of features, unchanged by the split-induced partitioning
    val feats = split.withColumn("n_tokens",
      size(split_part_tokens($"text")).cast("double"))
    val scorer = new graft.operators.Inference.LinearScorer(Array(0.25), -1.0)
    val scored = graft.operators.Inference.scoreBatched(
      feats, "doc_id", Seq("n_tokens"), scorer, batchSize = 2)
    val got = scored.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == -1.0 + 0.25 * 10 && got(2L) == -1.0 + 0.25 * 11)
  }

  private def split_part_tokens(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.split(
      org.apache.spark.sql.functions.trim(c), "\\s+")

  test("selection chain: target affinity -> curriculum rank -> top-shard take -> pack") {
    import spark.implicits._
    import graft.operators.Curation
    val docs = Tables.documents(spark, sf)
      .withColumn("is_tgt", when($"source" === "src0", 1).otherwise(0))
    // 1. score every doc by target-domain affinity
    val scored = Curation.targetAffinity(docs, "doc_id", "text", "is_tgt",
      n = 2, buckets = 256)
    // 2. rank by affinity DESC (negate: rankAndShard ranks ascending),
    // cut contiguous 100-doc shards along that order
    val ranked = Curation.rankAndShard(
      scored.withColumn("neg_aff", -$"affinity_ppm"), "doc_id", "neg_aff",
      shardSize = 100L, buckets = 8)
    // shard 0 is the most-target-like slice: its mean affinity must beat
    // the corpus mean (src0 exemplars exist, so separation is real)
    val top = ranked.filter($"shard_id" === 0).select($"doc_id")
    val meanTop = scored.join(top, "doc_id")
      .agg(avg($"affinity_ppm")).head().getDouble(0)
    val meanAll = scored.agg(avg($"affinity_ppm")).head().getDouble(0)
    assert(meanTop > meanAll,
      s"top shard mean $meanTop must exceed corpus mean $meanAll")
    // 3. pack ONLY the selected slice; every selected doc lands in a pack
    val packed = Curation.packSequences(
      docs.join(top, "doc_id").select($"doc_id", $"text"),
      "doc_id", "text", budget = 256, shards = 2)
    assert(packed.count() == top.count())
  }

  test("round-9 chain: span audit -> reuse-spans removal -> BPE-budget repack") {
    import spark.implicits._
    import graft.operators.{Curation, Dedup, TextStats}
    val docs = Tables.documents(spark, sf)
    // 1. audit: compute the repeated-span frame ONCE (the materialization
    // boundary), reuse it for the removal — no recompute of the gram agg
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", k = 5).persist()
    val clean = Dedup.dropRepeatedSpans(docs, "doc_id", "text", k = 5,
      spansDf = Some(spans))
    // token accounting: removed + kept == original, per doc
    val bad = clean.withColumn("kept",
        when(length(trim($"clean_text")) === 0, lit(0))
          .otherwise(size(split_part_tokens($"clean_text"))))
      .filter($"kept" + $"n_removed" =!= $"n_toks")
    assert(bad.count() == 0, "span removal must conserve tokens")
    // whole-copy docs empty out; survivors re-enter the pipeline
    val survivors = clean.filter(length(trim($"clean_text")) > 0)
      .select($"doc_id", $"clean_text".as("text"))
    assert(survivors.count() > 0 && survivors.count() <= docs.count())
    // 2. tokenizer-aware packing over the CLEANED corpus: subword counts
    // from a fresh BPE fit on the survivors, packs cut on those budgets
    val merges = TextStats.bpeFit(survivors, "text", numMerges = 16)
    val segs = TextStats.bpeSegmentVocab(survivors, "text", merges)
    val counts = TextStats.bpeEncodeWith(survivors, "doc_id", "text", segs)
    val packed = Curation.packSequencesByCount(counts, "doc_id", "n_subwords",
      budget = 64, shards = 2)
    assert(packed.count() == survivors.count(), "every survivor packed")
    val subIn = counts.select(sum($"n_subwords")).head().getLong(0)
    val subOut = packed.select(sum($"n_tokens")).head().getLong(0)
    assert(subIn == subOut, s"subword count conserved: $subIn != $subOut")
    spans.unpersist()
  }
}
