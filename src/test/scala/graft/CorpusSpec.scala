package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Corpus, Dedup, Similarity, TextStats}

/** Cross-corpus decontamination + corpus-statistics operators (q65/q66/q68
  * and the q67 SemDeDup path): detection semantics on planted inputs, exact
  * integer expectations, and plan-shape locks. */
class CorpusSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val bench = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "pack my box with five dozen liquor jugs right now")
  ).toDF("bid", "btext")

  private val corpus = Seq(
    (10L, "the quick brown fox jumps over the lazy dog today"), // exact copy of bench 1
    (11L, "pack my box with five dozen liquor jugs right here"), // near-dup of bench 2 (1 word)
    (12L, "completely unrelated content with none of those words at all"),
    (13L, "the quick brown fox jumps over the lazy dog today")  // second exact copy
  ).toDF("cid", "ctext")

  test("exactAgainst flags exactly the content-hash matches") {
    val out = Dedup.exactAgainst(corpus, "cid", "ctext", bench, "btext")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("in_ref")).toMap
    assert(out == Map(10L -> 1, 11L -> 0, 12L -> 0, 13L -> 1))
  }

  test("exactAgainst plans as a broadcast join, map-only over the corpus side") {
    val p = Dedup.exactAgainst(corpus, "cid", "ctext", bench, "btext")
      .queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), s"ref hashes must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side must not shuffle:\n$p")
  }

  test("exactAgainstBloom matches exactAgainst exactly (sketch changes nothing)") {
    val want = Dedup.exactAgainst(corpus, "cid", "ctext", bench, "btext")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("in_ref")).toMap
    // tiny bitmap (high fpp) AND a roomy one: false positives only ever
    // send extra rows into the exact join — the verdict must not move
    for (fpp <- Seq(0.5, 0.001)) {
      val got = Dedup.exactAgainstBloom(corpus, "cid", "ctext", bench, "btext",
          expectedRefItems = 2L, fpp = fpp)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("in_ref")).toMap
      assert(got == want, s"fpp=$fpp")
    }
    // empty reference: nothing is contaminated, nothing is lost
    val none = Dedup.exactAgainstBloom(corpus, "cid", "ctext",
        bench.filter(col("bid") < 0), "btext", expectedRefItems = 1L)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("in_ref")).toMap
    assert(none == Map(10L -> 0, 11L -> 0, 12L -> 0, 13L -> 0))
  }

  test("exactAgainstBloom plans a bloom scalar-subquery probe before the join") {
    val p = Dedup.exactAgainstBloom(corpus, "cid", "ctext", bench, "btext",
        expectedRefItems = 2L)
      .queryExecution.executedPlan.toString()
    assert(p.contains("might_contain"), s"bloom probe must gate the corpus:\n$p")
    assert(p.contains("Subquery"), s"bloom must arrive as a scalar subquery:\n$p")
  }

  test("minhashAgainst: exact copy collides at est_sim 1.0; unrelated doc does not") {
    val out = Dedup.minhashAgainst(corpus, "cid", "ctext", bench, "bid", "btext",
      minSim = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ref_id"),
        r.getAs[Double]("est_sim")))
    assert(out.exists(p => p._1 == 10L && p._2 == 1L && p._3 == 1.0), s"got ${out.toSeq}")
    assert(out.exists(p => p._1 == 13L && p._2 == 1L && p._3 == 1.0), s"got ${out.toSeq}")
    assert(!out.exists(_._1 == 12L), s"unrelated doc flagged: ${out.toSeq}")
  }

  test("termRarity: exact integer expectations on a hand-computed corpus") {
    // corpus: "a a b" and "a c" -> freq(a)=3, freq(b)=1, freq(c)=1, T=5
    // scale=1e6: ivp(a) = 5e6 div 3 = 1666666, ivp(b) = ivp(c) = 5e6
    // doc 1: (2*1666666 + 1*5000000) div 3 = 8333332 div 3 = 2777777
    // doc 2: (1*1666666 + 1*5000000) div 2 = 6666666 div 2 = 3333333
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("id", "body")
    val out = TextStats.termRarity(docs, "id", "body")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_tokens"), r.getAs[Long]("rarity_scaled"))).toMap
    assert(out == Map(1L -> ((3, 2777777L)), 2L -> ((2, 3333333L))))
  }

  test("termRarity join-back broadcasts the vocab side, never a term window") {
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("id", "body")
    val p = TextStats.termRarity(docs, "id", "body")
      .queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), s"vocab freq must broadcast back:\n$p")
    assert(!p.contains("windowspecdefinition"), s"no window anywhere in rarity:\n$p")
  }

  test("semanticDedup clusters planted near-identical vectors to one canonical") {
    // three tight groups of 4 vectors each (base direction + tiny jitter on
    // another axis), pairwise cosine within a group > 0.999, across < 0.1
    val vecs = for {
      g <- 0 until 3
      i <- 0 until 4
    } yield {
      val v = Array.fill(6)(0.01f * (i + 1))
      v(g) = 10f
      ((g * 10 + i).toLong, v.toSeq)
    }
    val df = vecs.toDF("vid", "vec")
    val out = Similarity.semanticDedup(df, "vid", "vec",
      nlist = 3, iters = 2, tau = 0.99)
    val byId = out.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getAs[Long]("canonical_id")).toMap
    assert(byId.size == 12, "every input vector gets a row")
    for (g <- 0 until 3; i <- 0 until 4)
      assert(byId((g * 10 + i).toLong) == g * 10L,
        s"group $g member $i -> canonical ${byId((g * 10 + i).toLong)}")
    // deterministic: a rerun replicates bit-for-bit
    val again = Similarity.semanticDedup(df, "vid", "vec",
      nlist = 3, iters = 2, tau = 0.99)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("canonical_id")).toMap
    assert(again == byId)
  }

  test("winnow key order: struct(digest bytes, -pos) == the hex||lpad string key") {
    // round-18 key change: the rightmost-min window key used to be the
    // 39-char string `md5hex || lpad(9999999-pos, 7)`; it is now
    // struct(unhex(md5hex), -pos). This pins the equivalence claim the
    // rewrite rests on: for FIXED-WIDTH LOWERCASE hex, UTF8 lexicographic
    // order equals the unsigned bytewise order of the decoded digest, and
    // 9999999-pos orders like -pos — so comparisons agree on EVERY pair,
    // ties included (equal hex ⇒ equal bytes).
    val rows = (0 until 200).map { i =>
      (org.apache.commons.codec.digest.DigestUtils.md5Hex(s"gram $i"),
        (i * 7919L) % 9999999L)
    }.toDF("fp", "pos")
    val pairs = rows.as("a").crossJoin(rows.as("b"))
      .select(
        (concat(col("a.fp"), lpad((lit(9999999L) - col("a.pos")).cast("string"), 7, "0")) <
          concat(col("b.fp"), lpad((lit(9999999L) - col("b.pos")).cast("string"), 7, "0"))).as("oldLt"),
        (struct(unhex(col("a.fp")).as("f"), (-col("a.pos")).as("p")) <
          struct(unhex(col("b.fp")).as("f"), (-col("b.pos")).as("p"))).as("newLt"))
    assert(pairs.filter(col("oldLt") =!= col("newLt")).count() == 0L,
      "struct(digest, -pos) must order exactly like the hex||lpad string key")
  }

  test("winnow equals the naive MOSS model: full windows, short docs, ties") {
    def md5hex(x: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def naive(text: String, k: Int, w: Int): Set[(Long, String)] = {
      val toks = text.trim.split("\\s+").toVector
      if (toks.size < k) return Set.empty
      val hs = toks.sliding(k).map(g => md5hex(g.mkString(" "))).toVector
      if (hs.size < w) {
        val m = hs.min; Set((hs.lastIndexOf(m).toLong, m))
      } else (0 to hs.size - w).map { j =>
        val win = hs.slice(j, j + w)
        val m = win.min
        ((j + win.lastIndexOf(m)).toLong, m) // rightmost minimal hash
      }.toSet
    }
    val texts = Seq(
      1L -> "a b c d e f g h i j",   // full windows
      2L -> "a b c",                 // exactly k tokens: 1 gram (< w) -> overall min
      3L -> "x y x y x y x y",       // repeated grams: tie -> rightmost wins
      4L -> "m n o p q",             // fewer grams than w
      5L -> "solo")                  // under k tokens: no grams, no picks
    val df = texts.toDF("my_id", "body")
    val got = TextStats.winnow(df, "my_id", "body", k = 3, w = 4)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) =>
        id -> rs.map(r => (r.getAs[Long]("pos"), r.getAs[String]("fp"))).toSet }
    val want = texts.map { case (id, t) => id -> naive(t, 3, 4) }
      .filter(_._2.nonEmpty).toMap
    assert(got == want, s"got $got\nwant $want")
  }

  test("winnowOverlap: a shared run of w+k-1 tokens guarantees a shared fingerprint") {
    // k=4, w=4: any verbatim match of >= 7 tokens must surface; the two
    // unrelated docs must not pair
    val quote = "the five boxing wizards jump quickly tonight" // 7 tokens
    val df = Seq(
      (1L, s"alpha beta gamma $quote delta epsilon"),
      (2L, s"$quote zeta eta theta iota kappa lambda mu"),
      (3L, "entirely different words with no overlap at all whatsoever")
    ).toDF("my_id", "body")
    val pairs = TextStats.winnowOverlap(df, "my_id", "body", k = 4, w = 4)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("shared_fps"))).toList
    assert(pairs.map(p => (p._1, p._2)) == List((1L, 2L)), s"got $pairs")
    assert(pairs.head._3 >= 1L)
    // the df cap drops a fingerprint shared by all three docs
    val boiler = "terms of service apply here always and forever amen"
    val df2 = Seq((1L, boiler), (2L, boiler), (3L, boiler)).toDF("my_id", "body")
    val capped = TextStats.winnowOverlap(df2, "my_id", "body", k = 4, w = 4,
      maxDocFreq = Some(2L))
    assert(capped.count() == 0)
  }

  test("winnowOverlapSpans localizes the shared run on its alignment diagonal") {
    // the 7-token quote sits at token 2 in doc 1 and token 0 in doc 2 ->
    // every matched pick lies on diagonal pos_b - pos_a = -2, and the
    // span must stay inside the quote region on both sides
    val quote = "the five boxing wizards jump quickly tonight"
    val df = Seq(
      (1L, s"alpha beta $quote delta epsilon"),
      (2L, s"$quote zeta eta theta iota kappa lambda mu"),
      (3L, "entirely different words with no overlap at all whatsoever")
    ).toDF("my_id", "body")
    val spans = TextStats.winnowOverlapSpans(df, "my_id", "body", k = 4, w = 4)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("start_a"), r.getAs[Long]("start_b"),
        r.getAs[Long]("span_len"), r.getAs[Long]("n_fps")))
    assert(spans.nonEmpty && spans.forall(s => s._1 == 1L && s._2 == 2L),
      s"got ${spans.toSeq}")
    spans.foreach { case (_, _, sa, sb, len, nf) =>
      assert(sb == sa - 2, s"diagonal broken: start_a=$sa start_b=$sb")
      assert(sa >= 2 && sa + len <= 2 + 7, s"span [$sa, ${sa + len}) outside the quote")
      assert(nf >= 1)
    }
  }

  test("winnowAgainst flags the quoting doc and only it") {
    val ref = Seq((100L, "the five boxing wizards jump quickly tonight again"))
      .toDF("rid", "rtext")
    val cs = Seq(
      (1L, "alpha beta the five boxing wizards jump quickly tonight gamma"),
      (2L, "entirely different words with no overlap at all whatsoever")
    ).toDF("cid", "ctext")
    val got = TextStats.winnowAgainst(cs, "cid", "ctext", ref, "rid", "rtext",
        k = 4, w = 4)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("ref_id")))
      .toSet
    assert(got == Set((1L, 100L)), s"got $got")
  }

  test("tokenizerFertility: hand-computed fertility, fragmentation and OOV") {
    // segmented vocab: "ab" is one piece, "abc" two; "zz" is OOV (char
    // fallback, 2 pieces, counts as fragmented but not in-vocab)
    val segs = Seq(("ab", Seq("ab")), ("abc", Seq("ab", "c")))
      .toDF("w", "syms")
    val df = Seq((1L, "ab abc zz", "g1"), (2L, "ab ab", "g2"))
      .toDF("id", "body", "grp")
    val out = TextStats.tokenizerFertility(df, "body", "grp", segs)
      .collect().map(r => r.getAs[String]("grp") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_subwords"),
          r.getAs[Long]("fertility_ppm"), r.getAs[Long]("frag_ppm"),
          r.getAs[Long]("oov_words")))).toMap
    // g1: 3 words, 1+2+2=5 subwords, 5e6 div 3, 2 of 3 fragmented, 1 OOV
    assert(out("g1") == ((3L, 5L, 1666666L, 666666L, 1L)), s"got ${out("g1")}")
    // g2: all single-piece in-vocab words
    assert(out("g2") == ((2L, 2L, 1000000L, 0L, 0L)))
  }

  test("q65/q66/q68 run on the test corpus with total output orderings") {
    val q65 = SparkEntry.queries("q65_exact_against")(spark, sf)
    assert(q65.count() > 0)
    assert(q65.filter($"in_ref" === 1).count() > 0, "ref slice must self-match")
    val q66 = SparkEntry.queries("q66_term_rarity")(spark, sf).collect()
    assert(q66.nonEmpty && q66.forall(_.getAs[Long]("rarity_scaled") > 0))
    // rarity must actually vary across documents (not a constant signal)
    assert(q66.map(_.getAs[Long]("rarity_scaled")).distinct.length > 1)
    val q68 = SparkEntry.queries("q68_minhash_against")(spark, sf)
    assert(q68.filter($"est_sim" === 1.0).count() > 0, "ref docs self-collide at 1.0")
  }

  test("q67 semantic dedup covers every vector and is idempotent warm") {
    val out = SparkEntry.queries("q67_semantic_dedup")(spark, sf)
    val n = graft.Tables.embeddings(spark, sf).count()
    assert(out.count() == n, "one row per input vector")
    val again = SparkEntry.queries("q67_semantic_dedup")(spark, sf)
    assert(out.collect().toSeq == again.collect().toSeq)
  }

  test("Memo.invalidate rebuilds q66/q68 to identical results") {
    val before68 = SparkEntry.queries("q68_minhash_against")(spark, sf).collect().toSeq
    val before66 = SparkEntry.queries("q66_term_rarity")(spark, sf).collect().toSeq
    Memo.invalidate(spark, sf)
    assert(SparkEntry.queries("q68_minhash_against")(spark, sf).collect().toSeq == before68)
    assert(SparkEntry.queries("q66_term_rarity")(spark, sf).collect().toSeq == before66)
  }
}
