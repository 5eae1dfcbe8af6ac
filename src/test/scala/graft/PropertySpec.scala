package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Realtime
import graft.streaming.Realtime._

/** Property tests (SURVEY.md §5 test plan): LIKE semantics vs an
  * independent matcher, rollup-merge associativity over random splits,
  * TIME codec round-trip. Uses ScalaCheck generators with explicit
  * sampling (scalatestplus bridge is not among the pinned deps). */
class PropertySpec extends AnyFunSuite {
  import TestSpark._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  /** Independent SQL-LIKE reference matcher (%, _) — the semantics of the
    * reference's SQLLike.match (indexr-common/.../SQLLike.java:8-13). */
  private def likeRef(s: String, p: String): Boolean = {
    def m(si: Int, pi: Int): Boolean =
      if (pi == p.length) si == s.length
      else p(pi) match {
        case '%' => (si to s.length).exists(k => m(k, pi + 1))
        case '_' => si < s.length && m(si + 1, pi + 1)
        case c => si < s.length && s(si) == c && m(si + 1, pi + 1)
      }
    m(0, 0)
  }

  test("Spark LIKE matches the reference semantics on random strings/patterns") {
    import spark.implicits._
    val chars = Gen.oneOf('a', 'b', 'c')
    val strGen = Gen.chooseNum(0, 8).flatMap(n => Gen.listOfN(n, chars).map(_.mkString))
    val patGen = Gen.chooseNum(0, 6).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(3 -> chars, 1 -> Gen.const('%'), 1 -> Gen.const('_')))
        .map(_.mkString))
    val cases = samples(Gen.zip(strGen, patGen), 400)
    val got = cases.toDF("s", "p")
      .select(col("s"), col("p"), expr("s LIKE p").as("m")).collect()
    assert(got.length == 400)
    got.foreach { r =>
      val (s, p) = (r.getString(0), r.getString(1))
      assert(r.getBoolean(2) == likeRef(s, p), s"LIKE mismatch: '$s' LIKE '$p'")
    }
  }

  test("rollup merge is split-invariant (random data, random split points)") {
    import spark.implicits._
    val r = RollupSpec(Seq("dim"), Seq("v" -> Sum, "mn" -> Min, "mx" -> Max,
      "fv" -> First, "lv" -> Last), "arr")
    samples(Gen.zip(Gen.chooseNum(1, 79), Gen.chooseNum(2, 11)), 5)
      .foreach { case (split, nDims) =>
        val rows = (1 to 80).map { i =>
          val v = ((i * 2654435761L) % 1000) / 10.0
          (i.toLong, s"d${i % nDims}", v, v, v, v, v)
        }
        val df = rows.toDF("arr", "dim", "v", "mn", "mx", "fv", "lv")
        val cols = Seq(col("dim"), col("v").cast("double").as("v"),
          col("mn"), col("mx"), col("fv"), col("lv"))
        val oneShot = Realtime.rollupBatch(df, r)
          .select(cols: _*).collect().toSet
        val merged = Realtime.mergeRollups(
          Realtime.rollupBatch(df.filter($"arr" <= split), r)
            .unionByName(Realtime.rollupBatch(df.filter($"arr" > split), r)), r)
          .select(cols: _*).collect().toSet
        assert(oneShot == merged, s"split=$split dims=$nDims")
      }
  }

  test("manifest pruning is sound: pruned read + filter == full filter (random ranges)") {
    import graft.storage.Segments
    val dir = java.nio.file.Files.createTempDirectory("graft-prop").toString + "/li"
    val li = Tables.lineitem(spark, sf)
    Segments.write(li, dir, Seq("l_orderkey"), Seq("l_orderkey"), numSegments = 5)
    val seg = spark.read.format("graft").load(dir)
    samples(Gen.zip(Gen.chooseNum(0L, 1500L), Gen.chooseNum(0L, 1500L)), 4)
      .foreach { case (a, b) =>
        val (lo, hi) = (math.min(a, b), math.max(a, b))
        val got = seg.filter(col("l_orderkey").between(lo, hi)).count()
        val want = li.filter(col("l_orderkey").between(lo, hi)).count()
        assert(got == want, s"range [$lo,$hi]: pruned=$got full=$want")
      }
  }

  test("trigram pruning is sound: substring probes never lose a match") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-prop-ng").toString + "/t"
    // random word-soup texts (varied lengths, shared + rare vocab)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "jazz", "kilo", "xylem", "quartz", "zephyr")
    val wordGen = Gen.oneOf(vocab)
    val textGen = Gen.chooseNum(3, 9).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    val texts = samples(textGen, 300).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    graft.storage.Segments.write(texts.toDF("id", "txt"), dir,
      sortCols = Seq("id"), indexedCols = Seq("id"), numSegments = 6,
      ngramCols = Seq("txt"))
    val pruned = spark.read.format("graft").load(dir)
    val raw = spark.read.parquet(dir)
    // probes: substrings of ACTUAL texts (must match; false negative = lost
    // row) plus absent needles (must return 0, never a phantom)
    val rnd = new scala.util.Random(4242)
    val present = (0 until 25).map { _ =>
      val t = texts(rnd.nextInt(texts.size))._2
      val start = rnd.nextInt(math.max(1, t.length - 8))
      t.substring(start, math.min(t.length, start + 3 + rnd.nextInt(6)))
    }
    val absent = Seq("zzz", "qqqxx", "bravoq", "xylemzz")
    (present ++ absent).foreach { needle =>
      val got = pruned.filter(col("txt").contains(needle)).count()
      val want = raw.filter(col("txt").contains(needle)).count()
      assert(got == want, s"probe '$needle': pruned=$got full=$want")
    }
  }

  test("boilerplate chunking round-trips: unlimited cap reassembles the text") {
    import spark.implicits._
    // random token docs of varied lengths, including lengths that don't
    // divide the chunk size and duplicate docs (high-df chunks)
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "x1", "y2")
    val docGen = Gen.chooseNum(1, 23).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val texts = samples(docGen, 40) ++ samples(docGen, 5) // some repeats
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "txt")
    val out = operators.Curation
      .dropBoilerplateChunks(df, "id", "txt", chunkTokens = 8, maxDf = Int.MaxValue)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("clean_text")).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(out(i.toLong) == t, s"doc $i did not round-trip")
    }
  }

  test("sequence packing is invariant under input partitioning") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    def run(d: org.apache.spark.sql.DataFrame) =
      operators.Curation.packSequences(d, "doc_id", "text", budget = 64, shards = 3)
        .collect().map(_.toString).sorted.toSeq
    assert(run(docs) == run(docs.repartition(13)),
      "pack assignment must not depend on physical partitioning")
  }

  test("topKPerKey equals the window row_number formulation (random data, ties, any partitioning)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    // coarse scores (40 buckets) force plenty of ties → the id tie-break
    // must match row_number's exactly
    val df = Seq.tabulate(3000)(i =>
        (rnd.nextInt(7).toLong, i.toLong, rnd.nextInt(40) / 8.0))
      .toDF("g", "id", "score")
      .repartition(13) // partial buffers must merge across partitions
    for (k <- Seq(1, 5, 64)) {
      val got = operators.Similarity.topKPerKey(df, Seq("g"), "id", "score", k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val w = Window.partitionBy($"g").orderBy($"score".desc, $"id".asc)
      val want = df.withColumn("rank", row_number().over(w)).filter($"rank" <= k)
        .select($"g", $"id", $"rank", $"score")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(got == want, s"k=$k")
    }
  }

  test("termRarity matches an independent integer model on random corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("a", "b", "c", "dd", "ee", "fff", "gg", "hh")
    val docs = (0 until 40).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val tokss = docs.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    val freq = tokss.flatMap(_._2).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val total = tokss.map(_._2.size.toLong).sum
    val expected = tokss.map { case (id, ts) =>
      val rw = ts.groupBy(identity)
        .map { case (t, xs) => xs.size.toLong * ((total * 1000000L) / freq(t)) }.sum
      id -> ((ts.size, rw / ts.size))
    }.toMap
    val out = graft.operators.TextStats.termRarity(docs.toDF("id", "body"), "id", "body")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_tokens"), r.getAs[Long]("rarity_scaled")))).toMap
    assert(out == expected)
  }

  test("repeatedSpans equals a naive all-occurrence model on random corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("u", "v", "w", "x")   // tiny vocab -> dense repeats
    for (trial <- 0 until 4; k <- Seq(2, 3)) {
      val docs = (0 until 25).map { i =>
        val n = 1 + rnd.nextInt(16)          // includes docs shorter than k
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val tokss = docs.map { case (id, t) => id -> t.trim.split("\\s+").toVector }
      val grams = for ((id, ts) <- tokss; p <- 0 to ts.size - k)
        yield (id, p, ts.slice(p, p + k).mkString(" "))
      val byGram = grams.groupBy(_._3)
      val dup = grams.filter { g =>
        val occ = byGram(g._3)
        occ.size > 1 && occ.minBy(o => (o._1, o._2)) != g
      }
      val expected = dup.groupBy(_._1).toSeq.flatMap { case (id, xs) =>
        val islands = xs.map(_._2).sorted
          .foldLeft(Vector.empty[Vector[Int]]) { (acc, p) =>
            if (acc.nonEmpty && p - acc.last.last <= k)
              acc.init :+ (acc.last :+ p)
            else acc :+ Vector(p)
          }
        islands.map(is => (id, is.head.toLong, (is.last + k - is.head).toLong,
          is.size.toLong))
      }.toSet
      // odd partitioning must not change the result
      val df = docs.toDF("id", "body").repartition(7)
      val got = graft.operators.Dedup.repeatedSpans(df, "id", "body", k)
        .collect().map(r => (r.getAs[Long]("doc_id"),
          r.getAs[Long]("span_start"), r.getAs[Long]("span_len"),
          r.getAs[Long]("n_dup_grams"))).toSet
      assert(got == expected, s"trial=$trial k=$k")
      // cleanup consistency: kept tokens are exactly the uncovered positions
      val covered = expected.groupBy(_._1).view.mapValues(
        _.flatMap(sp => sp._2 until (sp._2 + sp._3)).toSet).toMap
      val expectedClean = tokss.map { case (id, ts) =>
        val cov = covered.getOrElse(id, Set.empty[Long])
        val keptToks = ts.zipWithIndex.collect {
          case (t, p) if !cov.contains(p.toLong) => t }
        id -> ((cov.size.toLong, keptToks.mkString(" ")))
      }.toMap
      val gotClean = graft.operators.Dedup.dropRepeatedSpans(df, "id", "body", k)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
      assert(gotClean == expectedClean, s"trial=$trial k=$k")
    }
  }

  test("winnow equals the naive MOSS model on random corpora under odd partitioning") {
    val s = spark
    import s.implicits._
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(43)
    val vocab = Vector("u", "v", "w", "x") // tiny vocab -> dense hash ties
    for (trial <- 0 until 3; (k, w) <- Seq((2, 3), (3, 4))) {
      val docs = (0 until 20).map { i =>
        val n = 1 + rnd.nextInt(14) // includes docs under k and under w+k-1
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val expected = docs.flatMap { case (id, t) =>
        val toks = t.trim.split("\\s+").toVector
        if (toks.size < k) Nil
        else {
          val hs = toks.sliding(k).map(g => md5hex(g.mkString(" "))).toVector
          val picks =
            if (hs.size < w) { val m = hs.min; Set((hs.lastIndexOf(m), m)) }
            else (0 to hs.size - w).map { j =>
              val win = hs.slice(j, j + w)
              val m = win.min
              (j + win.lastIndexOf(m), m)
            }.toSet
          picks.map { case (p, fp) => (id, p.toLong, fp) }
        }
      }.toSet
      val df = docs.toDF("id", "body").repartition(7)
      val got = graft.operators.TextStats.winnow(df, "id", "body", k, w)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"),
          r.getAs[String]("fp"))).toSet
      assert(got == expected, s"trial=$trial k=$k w=$w")
    }
  }

  test("winnowOverlapSpans equals a naive diagonal-clustering model on random corpora") {
    val s = spark
    import s.implicits._
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def naivePicks(t: String, k: Int, w: Int): Set[(Int, String)] = {
      val toks = t.trim.split("\\s+").toVector
      if (toks.size < k) return Set.empty
      val hs = toks.sliding(k).map(g => md5hex(g.mkString(" "))).toVector
      if (hs.size < w) { val m = hs.min; Set((hs.lastIndexOf(m), m)) }
      else (0 to hs.size - w).map { j =>
        val win = hs.slice(j, j + w)
        val m = win.min
        (j + win.lastIndexOf(m), m)
      }.toSet
    }
    val rnd = new scala.util.Random(51)
    val vocab = Vector("u", "v", "w") // tiny vocab -> many cross-doc matches
    val (k, wW, gap) = (2, 3, 3)
    for (trial <- 0 until 3) {
      val docs = (0 until 12).map { i =>
        val n = 1 + rnd.nextInt(12)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val picks = docs.map { case (id, t) => id -> naivePicks(t, k, wW) }.toMap
      val expected = (for {
        (a, pa) <- picks.toSeq; (b, pb) <- picks.toSeq if a < b
        m = for ((ja, fa) <- pa.toSeq; (jb, fb) <- pb.toSeq if fa == fb)
          yield (ja, jb)
        ((diag), pts) <- m.groupBy { case (ja, jb) => jb - ja }
        island <- {
          val sorted = pts.map(_._1).sorted.distinct
          sorted.foldLeft(Vector.empty[Vector[Int]]) { (acc, p) =>
            if (acc.nonEmpty && p - acc.last.last <= gap)
              acc.init :+ (acc.last :+ p)
            else acc :+ Vector(p)
          }
        }
      } yield {
        // n_fps counts matched (pos_a, pos_b) points on the island
        val nf = pts.count(p => island.contains(p._1))
        (a, b, island.head.toLong, (island.head + diag).toLong,
          (island.last - island.head + k).toLong, nf.toLong)
      }).toSet
      val df = docs.toDF("id", "body").repartition(5)
      val got = graft.operators.TextStats.winnowOverlapSpans(
          df, "id", "body", k, wW, gap = Some(gap))
        .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Long]("start_a"), r.getAs[Long]("start_b"),
          r.getAs[Long]("span_len"), r.getAs[Long]("n_fps"))).toSet
      assert(got == expected, s"trial=$trial\ngot  $got\nwant $expected")
    }
  }

  test("noveltyScores and crossGroupContainment match naive models on random corpora") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(29)
    val vocab = Vector("p", "q", "r", "s", "t")
    val k = 3
    val docs = (0 until 30).map { i =>
      val n = 2 + rnd.nextInt(14)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "),
        s"g${i % 3}")
    }
    val tokss = docs.map { case (id, t, g) =>
      (id, t.trim.split("\\s+").toVector, g) }
    val grams = for ((id, ts, g) <- tokss; p <- 0 to ts.size - k)
      yield (id, p, ts.slice(p, p + k).mkString(" "), g)
    val byGram = grams.groupBy(_._3)

    val expNov = grams.groupBy(_._1).map { case (id, xs) =>
      val nd = xs.count { x =>
        val occ = byGram(x._3)
        occ.size > 1 && occ.minBy(o => (o._1, o._2)) != x
      }
      id -> ((xs.size.toLong, nd.toLong,
        (xs.size - nd) * 1000000L / xs.size))
    }
    val gotNov = graft.operators.Dedup.noveltyScores(
        docs.toDF("id", "body", "src").repartition(5), "id", "body", k)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup"),
          r.getAs[Long]("novelty_ppm")))).toMap
    assert(gotNov == expNov)

    val byGroup = grams.groupBy(_._4).view
      .mapValues(_.map(_._3).toSet).toMap
    val expCont = (for {
      (ga, sa) <- byGroup; (gb, sb) <- byGroup if ga != gb
      shared = (sa intersect sb).size.toLong
      if shared > 0
    } yield (ga, gb, sa.size.toLong, shared,
        shared * 1000000L / sa.size)).toSet
    val gotCont = graft.operators.Dedup.crossGroupContainment(
        docs.toDF("id", "body", "src").repartition(5), "id", "body", "src", k)
      .collect().map(r => (r.getAs[String]("group_a"),
        r.getAs[String]("group_b"), r.getAs[Long]("grams_a"),
        r.getAs[Long]("shared_grams"), r.getAs[Long]("containment_ppm"))).toSet
    assert(gotCont == expCont)
  }

  test("ingestStats matches an independent per-line model; produced == decode survivors") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val spec = IngestSpec(
      schema = StructType(Seq(StructField("tag", StringType),
        StructField("k", LongType))),
      tagField = Some("tag"), acceptTags = Set("keep", "gold"),
      ignoreEmpty = true)
    val accept = Set("keep", "gold")
    // a line is either clearly-corrupt or a well-formed object with tag/k
    // independently present or absent (absent tag = NULL = not accepted —
    // decode drops it, ingestStats must file it under ignored_tag)
    val lineGen: Gen[Option[(Option[String], Option[Long])]] = Gen.frequency(
      1 -> Gen.const(None),
      6 -> Gen.zip(
        Gen.option(Gen.oneOf("keep", "drop", "gold", "keep,x", "a,drop")),
        Gen.option(Gen.chooseNum(-3L, 3L))).map(Some(_)))
    (1 to 3).foreach { round =>
      val lines = samples(lineGen, 120)
      val rendered = lines.map {
        case None => "{oops"
        case Some((tag, k)) =>
          val fields = tag.map(t => s""""tag":"$t"""").toSeq ++
            k.map(v => s""""k":$v""").toSeq
          fields.mkString("{", ",", "}")
      }
      val model = lines.groupBy {
        case None => "failed"
        case Some((tag, _)) if !tag.exists(_.split(",").exists(accept)) =>
          "ignored_tag"
        case Some((_, k)) if k.isEmpty => "ignored_empty"
        case _ => "produced"
      }.view.mapValues(_.size.toLong).toMap.withDefaultValue(0L)
      val raw = rendered.toDF("json").repartition(7)
      val st = Realtime.ingestStats(raw, "json", spec).collect().head
      assert(st.getAs[Long]("consumed") == lines.size.toLong)
      Seq("produced", "ignored_tag", "ignored_empty", "failed").foreach { c =>
        assert(st.getAs[Long](c) == model(c), s"round $round class $c: $st")
      }
      val decoded = Realtime.decode(raw, "json", spec).count()
      assert(decoded == model("produced"),
        s"round $round decode $decoded vs model ${model("produced")}")
    }
  }

  test("hllRegisters matches an independent MessageDigest model under any partitioning") {
    import spark.implicits._
    def modelOf(vs: Seq[Long]): Map[Int, Int] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      vs.map { v =>
        val hex = md.digest(v.toString.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        val bucket = Integer.parseInt(hex.substring(0, 2), 16)
        val stripped = hex.substring(2, 14).dropWhile(_ == '0')
        val rho = if (stripped.isEmpty) 49 else {
          val v0 = Integer.parseInt(stripped.head.toString, 16)
          val bits = if (v0 >= 8) 0 else if (v0 >= 4) 1
            else if (v0 >= 2) 2 else 3
          (12 - stripped.length) * 4 + bits + 1
        }
        bucket -> rho
      }.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    }
    val vs = samples(Gen.chooseNum(-100000L, 100000L), 400)
    val got = operators.Similarity.hllRegisters(
      vs.toDF("v").repartition(7), "v", p = 8)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(got == modelOf(vs.distinct), s"registers diverge from the model")
  }

  test("TIME codec round-trips random seconds of day") {
    samples(Gen.chooseNum(0, 86399), 300).foreach { sec =>
      assert(graft.model.TimeCodec.parse(graft.model.TimeCodec.format(sec)) == sec)
    }
  }

  test("gapFill equals a naive per-key LOCF model on random sparse series") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // random keys with random sparse tick sets and values
    val rows = for {
      k <- 0 until 12
      ticks = rnd.shuffle((0 until 40).toList).take(1 + rnd.nextInt(8)).distinct
      t <- ticks
    } yield (k.toLong, t.toLong, rnd.nextInt(1000).toDouble)
    val df = rows.toDF("k", "tick", "v")
    val got = operators.Events.gapFill(df, Seq("k"), "tick", Seq("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getDouble(3))).toSet
    // independent model: dense range per key, carry the last seen value
    val want = rows.groupBy(_._1).flatMap { case (k, rs) =>
      val byTick = rs.map(r => r._2 -> r._3).toMap
      val (lo, hi) = (byTick.keys.min, byTick.keys.max)
      var last = 0.0
      (lo to hi).map { t =>
        val v = byTick.get(t)
        last = v.getOrElse(last)
        (k, t, v, last)
      }
    }.toSet
    assert(got == want)
  }

  test("rrfFuse equals a brute-force fusion model (random lists, random c/k)") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    for (trial <- 0 until 5) {
      val nLists = 1 + rnd.nextInt(3)
      val c = rnd.nextInt(80)
      val k = 1 + rnd.nextInt(10)
      val lists = Seq.fill(nLists) {
        rnd.shuffle((0 until 30).toList).take(5 + rnd.nextInt(10))
          .zipWithIndex.map { case (id, i) => (id.toLong, i + 1) }
      }
      val got = operators.Corpus.rrfFuse(
        lists.map(_.toDF("id", "rank")), "id", "rank", k = k, c = c)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      val pts = lists.flatten.groupBy(_._1).map { case (id, rs) =>
        (id, rs.map(r => 1000000000L / (c + r._2)).sum, rs.size)
      }
      val want = pts.toSeq.sortBy { case (id, p, _) => (-p, id) }.take(k)
        .zipWithIndex.map { case ((id, p, n), i) => (id, p, n, i + 1) }
      assert(got.toSeq.sortBy(_._4) == want, s"trial $trial (c=$c, k=$k)")
    }
  }

  test("zscoreOutliers equals a naive two-pass model on random integral groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = for (g <- 'a' to 'e'; _ <- 0 until (2 + rnd.nextInt(30)))
      yield (g.toString, rnd.nextInt(200).toLong)
    val df = rows.toDF("g", "x")
    val got = operators.Extended.zscoreOutliers(df, "x", Seq("g"), zThreshold = 1.0)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getInt(3)))
    val stats = rows.groupBy(_._1).map { case (g, rs) =>
      val n = rs.size.toLong
      val s = rs.map(_._2).sum
      val q = rs.map(x => x._2 * x._2).sum
      (g, n, s, q)
    }
    got.foreach { case (g, x, z2, flag) =>
      val (_, n, s, q) = stats.find(_._1 == g).get
      val m = n * q - s * s
      val want = if (m == 0) 0.0
        else ((n * x - s).toDouble * (n * x - s).toDouble * (n - 1).toDouble) /
          (n.toDouble * m.toDouble)
      assert(z2 == want, s"group $g x=$x")
      assert(flag == (if (z2 > 1.0) 1 else 0))
    }
  }

  test("pageRank is partitioning-invariant and conserves bounded mass") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val edges = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2).distinct
    val df = edges.toDF("s", "t")
    def run(parts: Int) = operators.Graphs
      .pageRank(df.repartition(parts), "s", "t", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val a = run(1)
    assert(a == run(7), "ranks must not depend on partitioning")
    // truncation + dangling leak only ever LOSE mass vs N·base
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.size
    assert(a.toSeq.map(_._2).sum <= nodes * 1000000000L)
    assert(a.forall(_._2 >= 150000000L), "teleport is the floor")
  }

  test("triangleCounts equals the naive all-triples model on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    for (trial <- 0 until 3) {
      val n = 8 + trial * 4
      val edges = Seq.fill(n * 3)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      val und = edges.map(e => (e._1 min e._2, e._1 max e._2)).distinct.toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      // independent model: test every unordered triple
      val naive = nodes.map { v =>
        v -> nodes.combinations(3).count(t =>
          t.contains(v) &&
          und.contains((t(0), t(1))) && und.contains((t(0), t(2))) &&
          und.contains((t(1), t(2)))).toLong
      }.toMap
      val got = operators.Graphs
        .triangleCounts(edges.toDF("a", "b").repartition(5), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == naive, s"trial $trial: $got vs $naive")
    }
  }

  test("rollingRange equals a naive per-key trailing-window model") {
    import spark.implicits._
    val rnd = new scala.util.Random(48)
    val rows = Seq.fill(120)((rnd.nextInt(5).toLong, rnd.nextInt(30).toLong,
      BigDecimal(rnd.nextInt(2000) - 1000, 2)))
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // one row per (key, tick)
    val df = rows.map(r => (r._1, r._2, r._3.toDouble)).toDF("k", "t", "v")
      .select($"k", $"t", $"v".cast("decimal(30,6)").as("v"))
    val span = 7L
    val got = operators.Events.rollingRange(df, Seq("k"), "t", Seq("v"), span)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(3), r.getDouble(4))))
      .toMap
    rows.foreach { case (k, t, _) =>
      val frame = rows.filter(r => r._1 == k && r._2 <= t && r._2 > t - span)
      // the model sums EXACT decimals then rounds once to double — the
      // same single rounding the operator's edge cast performs
      val (n, s) = (frame.size.toLong, frame.map(_._3).sum.toDouble)
      assert(got((k, t)) == ((n, s)), s"key $k tick $t")
    }
  }

  test("mmrRerank at lambda=1 equals pure relevance ranking on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(49)
    val cands = Seq.tabulate(40) { i =>
      (i / 20L, i.toLong, rnd.nextDouble() * 2 - 1,
        Array.fill(6)(rnd.nextFloat() * 2 - 1))
    }
    val df = cands.toDF("q", "id", "rel", "vec")
    val got = operators.Similarity
      .mmrRerank(df, "q", "id", "vec", "rel", k = 20, lambdaPpm = 1000000L)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1)))
    val want = cands.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
      cs.sortBy(c => (-c._3, c._2)).zipWithIndex
        .map { case (c, i) => (q, i + 1, c._2) }
    }
    assert(got.toSet == want.toSet)
  }

  test("Misra-Gries sketch: bounded counters, no false negative above n/(k+1)") {
    // zipf-ish stream: item i appears ~N/i times over a vocab (3000)
    // far larger than k (50) — decrements and merges both engage
    val stream = (1 to 3000).flatMap(i => Seq.fill(3000 / i)(s"w$i"))
    val rnd = new scala.util.Random(51)
    val shuffled = rnd.shuffle(stream)
    val truth = shuffled.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = shuffled.size.toLong
    val k = 50
    val agg = new graft.functions.MisraGriesAgg(k)
    // simulate arbitrary partitioning: 7 partial buffers, merged pairwise
    val parts = shuffled.grouped(math.max(1, shuffled.size / 7)).toSeq
    val partials = parts.map(_.foldLeft(agg.zero)(agg.reduce))
    partials.foreach(p => assert(p.items.size <= k, "buffer must stay k-bounded"))
    val merged = partials.reduce(agg.merge)
    assert(merged.n == n)
    assert(merged.items.size <= k)
    val bar = n / (k + 1)
    truth.foreach { case (w, c) =>
      if (c > bar)
        assert(merged.items.contains(w), s"$w (count $c > bar $bar) must survive")
      merged.items.get(w).foreach { est =>
        assert(est <= c && est >= c - bar, s"$w est $est vs true $c (bar $bar)")
      }
    }
  }

  test("heavyHitters (two-pass) is exact under any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(52)
    // 40 hot items (~2% each), 5000 cold singles; threshold 1% ⇒ the
    // answer is exactly the hot set with exact counts
    val hot = (1 to 40).flatMap(i => Seq.fill(100)(s"hot$i"))
    val cold = (1 to 5000).map(i => s"cold$i")
    val data = rnd.shuffle(hot ++ cold)
    val truth = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nn = data.size.toLong
    for (parts <- Seq(1, 13)) {
      val got = operators.TextStats.heavyHitters(
          data.toDF("item").repartition(parts), "item",
          minFreqPpm = 10000L, k = 200)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = truth.filter { case (_, c) => c * 1000000L >= nn * 10000L }
      assert(got == want, s"parts=$parts")
    }
  }

  test("heavyHittersByGroup is exact per group under any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    // three groups with DIFFERENT stream lengths and vocab sizes, so the
    // per-group bar n_g/(k+1) differs; cold tails far exceed k (=150)
    val data = Seq("a", "b", "c").flatMap { grp =>
      val hots = (1 to 10).flatMap(i => Seq.fill(60 + 10 * i)(grp -> s"${grp}_hot$i"))
      val cold = (1 to 2000).map(i => grp -> s"${grp}_cold${rnd.nextInt(100000)}")
      hots ++ cold
    }
    val shuffled = rnd.shuffle(data)
    val nByG = shuffled.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val truth = shuffled.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = truth.filter { case ((grp, _), c) =>
      c * 1000000L >= nByG(grp) * 10000L }
      .map { case ((grp, it), c) => (grp, it) -> c }
    for (parts <- Seq(1, 13)) {
      val got = operators.TextStats.heavyHittersByGroup(
          shuffled.toDF("grp", "item").repartition(parts),
          Seq("grp"), "item", minFreqPpm = 10000L, k = 150)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == want, s"parts=$parts")
    }
  }

  test("editDistancePairs equals the naive blocked model on random corpora") {
    import spark.implicits._
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1)(i => i)
      for (j <- 1 to b.length) {
        var prev = d(0); d(0) = j
        for (i <- 1 to a.length) {
          val cur = d(i)
          d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = cur
        }
      }
      d(a.length)
    }
    val rnd = new scala.util.Random(55)
    val alpha = "abc" // tiny alphabet → many near pairs
    val docs = (1L to 60L).map { i =>
      i -> (1 to 8 + rnd.nextInt(6)).map(_ => alpha(rnd.nextInt(3))).mkString
    }
    val bp = 2
    val maxDist = 4
    val want = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      if ta.take(bp) == tb.take(bp) && math.abs(ta.length - tb.length) <= maxDist
      d = lev(ta, tb) if d <= maxDist
    } yield (ia, ib, d)).toSet
    val got = operators.Dedup.editDistancePairs(
        docs.toDF("id", "txt"), "id", "txt", maxDist, blockPrefix = bp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("changeHistory equals the naive run-collapse model, any partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(56)
    val rows = for {
      k <- 1L to 20L
      t <- 1L to (5 + rnd.nextInt(20)).toLong
    } yield (k, t * 10, Seq("a", "b", "c")(rnd.nextInt(3)))
    val want = rows.groupBy(_._1).flatMap { case (k, es) =>
      val sorted = es.sortBy(_._2)
      val runs = sorted.foldLeft(Vector.empty[(String, Long)]) { case (acc, (_, t, st)) =>
        if (acc.nonEmpty && acc.last._1 == st) acc else acc :+ (st -> t)
      }
      runs.zipWithIndex.map { case ((st, from), i) =>
        val to = if (i + 1 < runs.size) Some(runs(i + 1)._2) else None
        (k, st, from, to, i + 1)
      }
    }.toSet
    for (parts <- Seq(1, 7)) {
      val got = operators.Events.changeHistory(
          rows.toDF("k", "t", "st").repartition(parts), "k", "t", "st")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getInt(4))).toSet
      assert(got == want, s"parts=$parts")
    }
  }

  test("negativeSample: deterministic, self-excluding, ≤ k draws, pool-closed") {
    import spark.implicits._
    val pool = spark.range(100).select($"id".as("pid"))
    val anchors = spark.range(20).select($"id".as("aid"))
    def run(parts: Int) = operators.Similarity.negativeSample(
        anchors.repartition(parts), "aid", pool, "pid", "nid", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val a = run(1); val b = run(9)
    assert(a == b, "membership must not depend on partitioning")
    assert(a.forall { case (anchor, _, neg) => anchor != neg }, "no self pairs")
    assert(a.forall { case (_, j, neg) => j >= 0 && j < 5 && neg >= 0 && neg < 100 })
    val perAnchor = a.groupBy(_._1).view.mapValues(_.size)
    assert(perAnchor.values.forall(_ <= 5), "at most k draws per anchor")
  }

  test("bucketByQuantile: monotone in value, near-even mass, no global window") {
    import spark.implicits._
    val df = spark.range(10000).select($"id".cast("double").as("v"))
    val out = operators.Extended.bucketByQuantile(df, "v", Seq(25, 50, 75),
      lo = 0.0, width = 1.0, bins = 10000)
    val rows = out.collect().map(r => r.getDouble(0) -> r.getInt(1))
    // monotone: higher value never gets a lower bucket
    val sorted = rows.sortBy(_._1)
    assert(sorted.sliding(2).forall(p => p(0)._2 <= p(1)._2))
    // near-even mass: each quartile within a bin width of 2500
    val sizes = rows.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.keySet == Set(0, 1, 2, 3), s"buckets: $sizes")
    sizes.values.foreach(n => assert(math.abs(n - 2500) <= 2, s"sizes $sizes"))
    // plan: the assignment itself must not add a data-keyed or global
    // window (the sketch's internal cum window runs on <= bins rows)
    val p = out.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"thresholds must broadcast:\n$p")
  }

  test("skyline2D equals the naive dominance model across bucket counts") {
    import spark.implicits._
    val rnd = new scala.util.Random(57)
    // clustered x values force ties; duplicated points must all survive
    val pts = (1L to 400L).map(i =>
      (i, (rnd.nextInt(40) * 3).toLong, rnd.nextInt(1000).toDouble)) ++
      Seq((401L, 60L, 500.0), (402L, 60L, 500.0)) // exact duplicate pair
    val df = pts.toDF("id", "x", "yv")
    val want = pts.filter { case (_, x, yv) =>
      !pts.exists { case (_, x2, y2) =>
        x2 >= x && y2 >= yv && (x2 > x || y2 > yv) }
    }.map(_._1).toSet
    for (buckets <- Seq(1, 7, 1024)) {
      val got = operators.Extended.skyline2D(df, "x", "yv", buckets)
        .collect().map(_.getLong(0)).toSet
      assert(got == want, s"buckets=$buckets missing=${want -- got} extra=${got -- want}")
    }
    // grouped form: frontier computed independently inside each group
    val grouped = pts.map { case (id, x, yv) => (id % 3, id, x, yv) }
    val gdf = grouped.toDF("grp", "id", "x", "yv")
    val gwant = grouped.groupBy(_._1).flatMap { case (_, g) =>
      g.filter { case (_, _, x, yv) =>
        !g.exists { case (_, _, x2, y2) =>
          x2 >= x && y2 >= yv && (x2 > x || y2 > yv) } }.map(_._2)
    }.toSet
    val ggot = operators.Extended.skyline2D(gdf, "x", "yv",
        buckets = 7, groupCols = Seq("grp"))
      .collect().map(_.getLong(1)).toSet
    assert(ggot == gwant, s"missing=${gwant -- ggot} extra=${ggot -- gwant}")
  }

  test("manifest utf8Cmp agrees with Spark's UTF8String binary order") {
    import org.apache.spark.unsafe.types.UTF8String
    // random strings biased toward the divergence zone: BMP private-use /
    // high code units vs supplementary-plane code points
    val codePoint = Gen.frequency(
      3 -> Gen.chooseNum(0x20, 0x7e),              // ASCII
      2 -> Gen.chooseNum(0xe000, 0xfffd),          // high BMP (3-byte UTF-8)
      2 -> Gen.chooseNum(0x10000, 0x10fff),        // supplementary (4-byte)
      1 -> Gen.chooseNum(0x80, 0x7ff))             // 2-byte
    val strGen = Gen.chooseNum(0, 6).flatMap(n =>
      Gen.listOfN(n, codePoint).map(_.flatMap(Character.toChars(_)).mkString))
    samples(Gen.zip(strGen, strGen), 500).foreach { case (a, b) =>
      val want = UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
      val got = graft.storage.Segments.utf8Cmp(a, b)
      assert(math.signum(got) == math.signum(want),
        s"order mismatch for ${a.codePoints().toArray.toSeq} vs ${b.codePoints().toArray.toSeq}")
    }
  }

  test("percentileRank: monotone in value, bounded, exact at the max") {
    import spark.implicits._
    val rnd = new scala.util.Random(66)
    val vals = Seq.fill(500)(rnd.nextInt(1000).toDouble)
    val out = operators.Extended.percentileRank(
        vals.toDF("v"), "v", lo = 0.0, width = 10.0, bins = 128)
      .collect().map(r => r.getDouble(0) -> r.getLong(1))
    // bounded and positive: every rank in (0, 1e6]
    assert(out.forall { case (_, r) => r > 0 && r <= 1000000L })
    // monotone: sorting by value never decreases rank
    val sorted = out.sortBy(_._1).map(_._2)
    assert(sorted.zip(sorted.drop(1)).forall { case (a, b) => a <= b })
    // the maximum value sits at exactly 1e6 (its bin closes the CDF)
    assert(out.maxBy(_._1)._2 == 1000000L)
  }

  test("rollingDistinct equals the naive trailing-window model on random activity") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    for (windowDays <- Seq(1, 3, 7)) {
      // sparse days with gaps longer than the window, duplicate user-days
      val acts = (1 to 300).map(_ =>
        (rnd.nextInt(12).toLong, (rnd.nextInt(40) * (1 + rnd.nextInt(2))).toLong))
      val byDay = acts.distinct.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
      val maxDay = byDay.keys.max
      val want = (byDay.keys.min to maxDay).map { d =>
        d -> (d - windowDays + 1 to d).flatMap(byDay.get).flatten.toSet.size.toLong
      }.filter(_._2 > 0).toMap
      val got = operators.Events.rollingDistinct(
          acts.toDF("uid", "day"), "uid", "day", windowDays)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"windowDays=$windowDays diff=${
        (got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
    }
  }

  test("timeWeightedAvg equals the naive per-entity integration on random streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(88)
    val ns = 1000000000L
    val ev = (1 to 400).map { i =>
      (rnd.nextInt(20).toLong,                       // entity
        rnd.nextInt(5000).toLong * ns + rnd.nextInt(1000000),  // ts (sub-sec noise)
        (rnd.nextInt(10000) / 100.0),                // 2-decimal value
        i.toLong)                                    // unique tie-break id
    }
    val want = ev.groupBy(_._1).flatMap { case (u, rows) =>
      val seq = rows.map(r => (r._2 / ns, r._3, r._4)).sortBy(r => (r._1, r._3))
      val dts = seq.zip(seq.drop(1)).map { case ((s0, v, _), (s1, _, _)) => (v, s1 - s0) }
      val sd = dts.map(_._2).sum
      if (sd <= 0) None
      else {
        // mirror the engine's exact path: decimal value × whole seconds
        val sp = dts.map { case (v, dt) =>
          BigDecimal(v).setScale(6) * BigDecimal(dt) }.sum
        Some(u -> ((sp.toDouble / sd.toDouble), sd))
      }
    }
    val got = operators.Events.timeWeightedAvg(
        ev.toDF("uid", "ts", "value", "eid"), "uid", "ts", "value",
        tieCols = Seq("eid"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(got == want.toMap, s"diff=${
      (got.toSet diff want.toSet) ++ (want.toSet diff got.toSet)}")
  }

  test("bfsDistances equals a naive BFS model on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 4) {
      val n = 12 + trial * 4
      val edges = Seq.fill(n * 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val seeds = Seq.fill(2)(rnd.nextInt(n).toLong).distinct
      val maxHops = 1 + rnd.nextInt(4)
      // naive frontier BFS over the undirected adjacency
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).toSet }
      var dist = seeds.map(_ -> 0L).toMap
      var frontier = seeds.toSet
      for (h <- 1 to maxHops) {
        val next = frontier.flatMap(adj.getOrElse(_, Set.empty))
          .filterNot(dist.contains)
        dist ++= next.map(_ -> h.toLong)
        frontier = next
      }
      val got = operators.Graphs.bfsDistances(
          edges.toDF("s", "t"), "s", "t", seeds.toDF("id"), maxHops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the operator only knows nodes with at least one edge; the naive
      // model may seed an isolated node — align on the operator's domain
      val nodes = adj.keySet ++ seeds
      assert(got == dist.filter(kv => nodes.contains(kv._1)),
        s"trial $trial: got $got want $dist")
    }
  }

  test("Ranges.concurrency equals the naive stab-count at every change tick") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 4) {
      val iv = Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .map { case (a, b) => (a, a + (b % 8)) } // mix of empty + short spans
      val got = operators.Ranges.concurrency(iv.toDF("lo", "hi"), "lo", "hi")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      // naive model: open(t) = #{[lo,hi) : lo <= t < hi} at each change tick
      def open(t: Long) = iv.count { case (lo, hi) => lo <= t && t < hi }.toLong
      got.foreach { case (t, o) =>
        assert(o == open(t), s"trial $trial tick $t")
      }
      // change ticks are exactly where the naive curve changes value
      val ticks = iv.filter(p => p._2 > p._1).flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val expectTicks = ticks.filter(t => open(t) != open(t - 1))
      assert(got.keySet == expectTicks.toSet, s"trial $trial ticks")
    }
  }

  test("phraseMatch equals a naive sliding-window model on random token docs") {
    import spark.implicits._
    val rnd = new scala.util.Random(59)
    val vocab = Vector("a", "b", "c", "d")
    for (trial <- 1 to 3) {
      val docs = (1L to 30L).map(i =>
        (i, Seq.fill(5 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val phrase = Seq.fill(2 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.size)))
      val got = operators.TextStats.phraseMatch(
          docs.toDF("doc_id", "text"), "doc_id", "text", phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = docs.map { case (id, t) =>
        id -> t.split("\\s+").toSeq.sliding(phrase.length)
          .count(_ == phrase).toLong
      }.filter(_._2 > 0).toMap
      assert(got == want, s"trial $trial phrase=$phrase")
    }
  }

  test("jaroWinklerPairs equals brute force within blocks (random names)") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val names = (1L to 25L).map(i =>
      (i, Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(4)).toChar).mkString))
    val df = names.toDF("id", "name")
    val t = 0.7
    val got = operators.Dedup.jaroWinklerPairs(
        df, "id", "name", substring(col("name"), 1, 1), t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = (for {
      (i, a) <- names; (j, b) <- names
      if i < j && a.head == b.head
      s = graft.plans.JaroWinkler.simStr(a, b) if s >= t
    } yield (i, j, s)).toSet
    assert(got == want)
  }

  test("linkPredict equals a naive common-neighbor model on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 4) {
      val n = 10 + trial * 3
      val edges = Seq.fill(n * 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val maxDeg = 3 + rnd.nextInt(5)
      val und = edges.map(e => (e._1 min e._2, e._1 max e._2)).distinct
      val adj = (und ++ und.map(_.swap)).groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).toSet }
      val deg = adj.map { case (k, v) => k -> v.size.toLong }
      val want = (for {
        (v, ns) <- adj.toSeq if ns.size <= maxDeg
        Seq(u, w) <- ns.toSeq.sorted.combinations(2)
      } yield (u, w)).groupBy(identity).view
        .mapValues(_.size.toLong).toMap
        .filter { case ((u, w), cn) => cn >= 2 && !und.contains((u, w)) }
        .map { case ((u, w), cn) =>
          (u, w) -> ((cn, cn * 1000000L / (deg(u) + deg(w) - cn))) }
      val got = operators.Graphs.linkPredict(
          edges.toDF("s", "t"), "s", "t", maxBrokerDeg = maxDeg)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
      assert(got == want, s"trial $trial (maxDeg $maxDeg): got $got want $want")
    }
  }

  test("grid-salted blocked pairs equal the plain join on random block structures") {
    import spark.implicits._
    // random corpora with skewed block-size distributions (several blocks
    // straddling the hot threshold from both sides, one far past it) must
    // produce the EXACT pair set of the unsalted equi-join at whatever
    // per-block grid the adaptive formula picks — the invariant behind
    // editDistancePairs/jaroWinklerPairs/linkRecords at any skew
    val rnd = new scala.util.Random(51)
    spark.conf.set("graft.dedup.hotBlockThreshold", "6")
    try {
      for (trial <- 0 until 3) {
        // block sizes: cold (<=6), warm (just above), hot (~20x threshold)
        val sizes = Seq(2, 5, 6, 7, 9, 14, 40 + trial * 40)
        val docs = sizes.zipWithIndex.flatMap { case (sz, b) =>
          (0 until sz).map { i =>
            val id = b * 1000L + i
            // 12-char block prefix + short random tail => real lev work
            (id, f"blk$b%09d ${"abcdef" (rnd.nextInt(6))}${rnd.nextInt(3)}")
          }
        }.toDF("my_id", "body")
        val got = operators.Dedup
          .editDistancePairs(docs, "my_id", "body", maxDist = 8,
            blockPrefix = 12)
          .collect()
          .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
            r.getAs[Int]("dist"))).toSet
        val n = docs.select($"my_id".as("id"), trim($"body").as("t"),
          substring(lower(trim($"body")), 1, 12).as("blk"))
        val exp = n.as("x").join(n.as("y"), col("x.blk") === col("y.blk"))
          .filter(col("x.id") < col("y.id"))
          .select(col("x.id"), col("y.id"),
            levenshtein(col("x.t"), col("y.t"), 8).as("d"))
          .filter($"d" >= 0 && $"d" <= 8)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        assert(exp.nonEmpty && got == exp,
          s"trial $trial: salted ${got.size} vs plain ${exp.size}")
      }
    } finally spark.conf.unset("graft.dedup.hotBlockThreshold")
  }

  test("adaptive grid clamps at both ends; the capped path keeps pair-set equality") {
    import spark.implicits._
    // (1) the formula's branches, evaluated directly at the production
    // defaults (thr 512, cap 64): floor of 2 up to 4·thr, ~√(n/thr)
    // between, hard cap from cap²·thr up — the round-13 verdict noted the
    // upper clamp branch never fired in any spec
    val thr = 512L
    val cases = Seq(
      1L -> 2L, 513L -> 2L, 2048L -> 2L,          // lower clamp floor
      2049L -> 3L, 512L * 25 -> 5L,               // √ regime
      512L * 63 * 63 -> 63L,                      // last uncapped value
      512L * 64 * 64 -> 64L,                      // exact knee
      512L * 64 * 64 + 1 -> 64L, 100000000L -> 64L) // upper clamp cap
    val got = cases.map(_._1).toDF("n")
      .select($"n", operators.Dedup.gridFor($"n", thr, 64L).as("g"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cases.foreach { case (n, want) =>
      assert(got(n) == want, s"gridFor($n) = ${got(n)}, want $want")
    }
    // (2) the capped path end-to-end: threshold 6 + cap 3 makes a 120-row
    // block want grid 5 (ceil √20) but clamp to 3 — the pair set must
    // still equal the plain unsalted equi-join's exactly
    val rnd = new scala.util.Random(67)
    spark.conf.set("graft.dedup.hotBlockThreshold", "6")
    spark.conf.set("graft.dedup.maxPairGrid", "3")
    try {
      val docs = ((0 until 120).map(i => (i.toLong, "bigblkprefix" +
          s" ${"abcdef"(rnd.nextInt(6))}${rnd.nextInt(3)}")) ++
        (0 until 5).map(i => (1000L + i, s"coldblkpref$i tail")))
        .toDF("my_id", "body")
      val gotPairs = operators.Dedup
        .editDistancePairs(docs, "my_id", "body", maxDist = 8,
          blockPrefix = 12)
        .collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Int]("dist"))).toSet
      val n = docs.select($"my_id".as("id"), trim($"body").as("t"),
        substring(lower(trim($"body")), 1, 12).as("blk"))
      val exp = n.as("x").join(n.as("y"), col("x.blk") === col("y.blk"))
        .filter(col("x.id") < col("y.id"))
        .select(col("x.id"), col("y.id"),
          levenshtein(col("x.t"), col("y.t"), 8).as("d"))
        .filter($"d" >= 0 && $"d" <= 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(exp.nonEmpty && gotPairs == exp,
        s"capped grid: salted ${gotPairs.size} vs plain ${exp.size}")
    } finally {
      spark.conf.unset("graft.dedup.hotBlockThreshold")
      spark.conf.unset("graft.dedup.maxPairGrid")
    }
  }
}
