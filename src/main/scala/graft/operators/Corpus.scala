package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.{Memo, Tables}
import graft.functions.Ops.md5LongSql

/** Cross-corpus + corpus-statistics operators on the `documents` table —
  * the decontamination / quality-scoring passes a training pipeline runs
  * between dedup and packing. The reference set for q65/q68 is the
  * deterministic `doc_id % 20 = 0` slice, standing in for a benchmark
  * corpus (identical slice in the DuckDB oracles).
  */
object Corpus {

  private def ref(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).filter($"doc_id" % 20 === 0)
  }

  // q65 — document-level exact decontamination: flag corpus docs whose
  // content hash appears in the reference set (Dedup.exactAgainst — the
  // broadcast hash semi-join; map-only over the corpus side at any scale).
  private def q65(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.exactAgainst(Tables.documents(s, d), "doc_id", "text", ref(s, d), "text")
      .withColumn("keep", lit(1) - $"in_ref")
      .orderBy($"doc_id")
  }
  private val q65Sql =
    """WITH ref AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 20 = 0)
      |SELECT d.doc_id,
      |  CASE WHEN r.h IS NOT NULL THEN 1 ELSE 0 END AS in_ref,
      |  CASE WHEN r.h IS NOT NULL THEN 0 ELSE 1 END AS keep
      |FROM documents d LEFT OUTER JOIN ref r ON md5(d.text) = r.h
      |ORDER BY d.doc_id""".stripMargin

  // q66 — corpus-frequency term-rarity score (TextStats.termRarity): exact
  // integer mean inverse term probability per document — the cross-document
  // quality signal (q30's signals are intra-document). The corpus token
  // count is memoized per (session, dir) like q58's doc count.
  private def q66(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val total = Memo.get(s, d, "corpus.tot") {
      val r = docs.select(size(split(trim($"text"), "\\s+")).as("n"))
        .agg(sum($"n")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0) // empty corpus: sum is NULL
    }
    TextStats.termRarity(docs, "doc_id", "text", totalHint = Some(total))
      .orderBy($"doc_id")
  }
  private val q66Sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |             FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |freq AS (SELECT term, SUM(tf) AS freq FROM tf GROUP BY 1),
      |tot AS (SELECT SUM(freq) AS t FROM freq)
      |SELECT doc_id, CAST(SUM(tf) AS INTEGER) AS n_tokens,
      |  CAST(SUM(tf * (((SELECT t FROM tot) * 1000000) // freq)) // SUM(tf) AS BIGINT)
      |    AS rarity_scaled
      |FROM tf JOIN freq USING (term)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // q68 — document-level FUZZY decontamination: corpus docs whose estimated
  // shingle-Jaccard against a reference doc is ≥ 0.5, via MinHash + a band
  // equi-join between the corpora (Dedup.minhashAgainst). Complements q60
  // (shared-gram counts) and q65 (exact hash). The pair frame is a
  // materialization boundary → memoized per (session, dir) like the
  // intra-corpus dedup stages.
  private def q68(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Memo.get(s, d, "corpus.fuzzy")(
      Dedup.minhashAgainst(Tables.documents(s, d), "doc_id", "text",
        ref(s, d), "doc_id", "text", minSim = 0.5).persist())
    pairs.orderBy($"doc_id", $"ref_id")
  }
  private val q68Sql = {
    val matches = Text.minhashMatchesSql
    s"""WITH ${Text.shingleRowsSql},
       |${Text.minhashSigBandSql},
       |cand AS (SELECT DISTINCT c.doc_id AS doc_id, r.doc_id AS ref_id
       |         FROM banded c JOIN banded r
       |           ON c.band = r.band AND c.bkey = r.bkey AND r.doc_id % 20 = 0)
       |SELECT cand.doc_id, cand.ref_id, CAST($matches AS DOUBLE) / 8 AS est_sim
       |FROM cand JOIN sigs x ON cand.doc_id = x.doc_id
       |          JOIN sigs y ON cand.ref_id = y.doc_id
       |WHERE CAST($matches AS DOUBLE) / 8 >= 0.5
       |ORDER BY cand.doc_id, cand.ref_id""".stripMargin
  }

  // q245 — incremental minhash dedup (Dedup.minhashIndex +
  // Dedup.dedupIncremental): the append-only production pattern — the
  // standing corpus (doc_id % 5 <> 0) is represented ONLY by its stored
  // signature index; the new batch (doc_id % 5 = 0) shingles itself and
  // band-joins against the index (vs='old') and itself (vs='new'). The
  // full-corpus equivalence is spec-locked in DedupApiSpec. The
  // standing-corpus index is the PERSISTED artifact of the pattern —
  // memoized per (session, dir) like the other pipeline stages (its build
  // is surfaced COLD in Bench via q245's coldNames entry); the new batch
  // side stays fresh every call, as in production.
  private def standingIndex(s: SparkSession, d: String): DataFrame =
    Memo.get(s, d, "corpus.index") {
      import s.implicits._
      Dedup.minhashIndex(Tables.documents(s, d).filter($"doc_id" % 5 =!= 0),
        "doc_id", "text").persist()
    }
  private def q245(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val index = standingIndex(s, d)
    Dedup.dedupIncremental(docs.filter($"doc_id" % 5 === 0), "doc_id",
        "text", index, minSim = 0.5)
      .orderBy($"doc_id", $"dup_id")
  }
  private val q245Sql = {
    val matches = Text.minhashMatchesSql
    s"""WITH ${Text.shingleRowsSql},
       |${Text.minhashSigBandSql},
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS dup_id, 'old' AS vs
       |  FROM banded n JOIN banded o
       |    ON n.band = o.band AND n.bkey = o.bkey
       |   AND n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
       |  UNION ALL
       |  SELECT DISTINCT a.doc_id, b.doc_id, 'new'
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |   AND a.doc_id % 5 = 0 AND b.doc_id % 5 = 0)
       |SELECT cand.doc_id, cand.dup_id,
       |  CAST($matches AS DOUBLE) / 8 AS est_sim, cand.vs
       |FROM cand JOIN sigs x ON cand.doc_id = x.doc_id
       |          JOIN sigs y ON cand.dup_id = y.doc_id
       |WHERE CAST($matches AS DOUBLE) / 8 >= 0.5
       |ORDER BY cand.doc_id, cand.dup_id""".stripMargin
  }

  // q254 — the SAME incremental pass reachable from Spark SQL TEXT alone
  // (the pure-SQL client surface, like q253's winnow recipe): the NEW
  // BATCH shingles and signs itself in SQL (8 salted md5 min-hashes →
  // 2×4 banding), while the STANDING CORPUS enters only as its stored
  // signature-index view (`graft_minhash_index` — in production a real
  // table, here the same memoized frame q245 serves from, so the two
  // queries share one index build); band equi-joins give new-vs-old and
  // new-vs-new candidates, est_sim = signature agreement. The statement
  // never touches old TEXT — the append-only asymmetry the operator
  // exists for, preserved in the SQL recipe. Gate-proven equal to q245's
  // oracle, so the Scala API and the SQL recipe cannot drift.
  private def minhashIncrementalSparkSql(docsTable: String,
      indexTable: String): String = {
    val mins = (0 until 8).map(i =>
      s"min(CAST(conv(substring(md5(concat('s$i:', s)), 1, 15), 16, 10) AS BIGINT)) AS h$i")
      .mkString(",\n  ")
    val hs = (0 until 8).map(i => s"h$i").mkString(", ")
    val matches = (0 until 8).map(i =>
      s"CASE WHEN x.h$i = y.h$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, split(trim(text), '\\\\s+') AS t
       |  FROM $docsTable WHERE doc_id % 5 = 0),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    explode(transform(sequence(1, size(t) - 3),
       |      i -> concat_ws(' ', slice(t, i, 4)))) AS s
       |  FROM toks WHERE size(t) >= 4),
       |newsigs AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |sigs AS (SELECT doc_id, $hs FROM newsigs
       |         UNION ALL SELECT doc_id, $hs FROM $indexTable),
       |banded_new AS (
       |  SELECT doc_id, 0 AS band, concat_ws(',', h0, h1, h2, h3) AS bkey FROM newsigs
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, concat_ws(',', h4, h5, h6, h7) AS bkey FROM newsigs),
       |banded_old AS (
       |  SELECT doc_id, 0 AS band, concat_ws(',', h0, h1, h2, h3) AS bkey FROM $indexTable
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, concat_ws(',', h4, h5, h6, h7) AS bkey FROM $indexTable),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS doc_id, o.doc_id AS dup_id, 'old' AS vs
       |  FROM banded_new n JOIN banded_old o
       |    ON n.band = o.band AND n.bkey = o.bkey
       |  UNION ALL
       |  SELECT DISTINCT a.doc_id, b.doc_id, 'new'
       |  FROM banded_new a JOIN banded_new b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT cand.doc_id, cand.dup_id,
       |  CAST($matches AS DOUBLE) / 8 AS est_sim, cand.vs
       |FROM cand JOIN newsigs x ON cand.doc_id = x.doc_id
       |          JOIN sigs y ON cand.dup_id = y.doc_id
       |WHERE CAST($matches AS DOUBLE) / 8 >= 0.5
       |ORDER BY cand.doc_id, cand.dup_id""".stripMargin
  }
  private def q254(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    Tables.registerViewOnce(s, d, "graft_documents")(docs)
    // the index view is NOT memoized: Memo.invalidate swaps the index
    // handle, and a once-registered view would keep the stale (dropped)
    // frame — re-register so the view always tracks the live memo
    standingIndex(s, d).createOrReplaceTempView("graft_minhash_index")
    s.sql(minhashIncrementalSparkSql("graft_documents", "graft_minhash_index"))
  }
  private val q254Sql = q245Sql

  // q249 — per-source tokenizer fertility/fragmentation audit
  // (TextStats.tokenizerFertility) over the SAME memoized fit+segment
  // artifacts as q130/q236: which domain the learned tokenizer serves
  // worst. OOV is 0 at gate scale (the vocab is fit on this corpus);
  // the column is exercised by the hand-fixture spec.
  private def q249(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextStats.tokenizerFertility(Tables.documents(s, d), "text", "source",
        bpeSegments(s, d))
      .orderBy($"source")
  }
  private lazy val q249Sql =
    s"""WITH ${bpeFitCtes(bpeRounds)},
       |tok AS (SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |        FROM documents),
       |p AS (SELECT source, coalesce(len(v.syms), len(tok.w)) AS pieces,
       |    (v.w IS NULL) AS oov
       |  FROM tok LEFT JOIN v$bpeRounds v USING (w) WHERE len(tok.w) > 0)
       |SELECT source, COUNT(*) AS n_words,
       |  CAST(SUM(pieces) AS BIGINT) AS n_subwords,
       |  CAST(SUM(pieces) * 1000000 // COUNT(*) AS BIGINT) AS fertility_ppm,
       |  CAST(SUM(CASE WHEN pieces > 1 THEN 1 ELSE 0 END) * 1000000
       |    // COUNT(*) AS BIGINT) AS frag_ppm,
       |  CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT) AS oov_words
       |FROM p GROUP BY source ORDER BY source""".stripMargin

  // q69 — BM25 top-k keyword retrieval (TextStats.bm25TopK): exact-integer
  // rational-idf BM25 over a fixed query term set; the corpus stats
  // (N docs, total tokens) are memoized per (session, dir) like q66's
  // token total so repeated builds skip the stats pass.
  private val bm25Terms = Seq("vector", "hash", "scan")
  private def corpusStats(s: SparkSession, d: String): (Long, Long) =
    Memo.get(s, d, "corpus.stats") {
      import s.implicits._
      val r = Tables.documents(s, d)
        .select(size(split(trim($"text"), "\\s+")).cast("long").as("dl"))
        .agg(count(lit(1)), sum($"dl")).head()
      // sum over zero rows is NULL — guard so an empty corpus reaches
      // bm25TopK's own clear `require` instead of an NPE here
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
  private def q69(s: SparkSession, d: String): DataFrame =
    TextStats.bm25TopK(Tables.documents(s, d), "doc_id", "text", bm25Terms,
      k = 20, statsHint = Some(corpusStats(s, d)))
  private val q69Sql = {
    val terms = bm25Terms.map(t => s"'$t'").mkString(", ")
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |             FROM documents),
      |lens AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      |st AS (SELECT (SELECT COUNT(*) FROM documents) AS n, SUM(dl) AS t FROM lens),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
      |       WHERE term IN (TERMS) GROUP BY 1, 2),
      |dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |         ((2 * ((SELECT n FROM st) - df) + 1) * 1000 // (2 * df + 1)) *
      |         ((2200000000 * tf) // (1000000 * tf +
      |           (1200000 * (250000 + (750000 * dl *
      |             ((SELECT n FROM st) * 1000000 // (SELECT t FROM st))) // 1000000)) // 1000000))
      |         AS s
      |       FROM tf JOIN dfc USING (term) JOIN lens USING (doc_id))
      |SELECT doc_id, COUNT(*) AS n_terms_hit, CAST(SUM(s) AS BIGINT) AS score_scaled
      |FROM sc GROUP BY doc_id
      |ORDER BY score_scaled DESC, doc_id LIMIT 20""".stripMargin
      .replace("TERMS", terms)
  }

  /** Reciprocal-rank fusion (RRF, Cormack & Clarke SIGIR'09): merge ranked
    * candidate lists into one ranking by Σ_lists 1/(c + rank) — the
    * standard hybrid-retrieval combiner (BM25 ⊕ dense ANN) because it
    * needs no score calibration between lists. Computed in scaled
    * integers (10⁹ div (c + rank), summed as exact longs) so fused
    * scores and tie-breaks replicate bit-for-bit in any engine. Each
    * input carries (idCol, rankCol) with rank 1-based; output: (idCol,
    * rrf_scaled, n_lists, rank), rank 1-based by (rrf_scaled desc, id).
    *
    * Scale: the inputs are top-k lists — k·#lists rows total, NOT corpus
    * relations (the expensive candidate generation already bounded them);
    * the fuse is one tiny groupBy + TakeOrdered, and the final rank
    * window runs on ≤ `k` rows by construction. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCol: String,
      k: Int, c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(k > 0 && c >= 0)
    val u = lists
      .map(_.select(col(idCol), col(rankCol).cast(LongType).as("__r")))
      .reduce(_ unionAll _)
    u.withColumn("__pts", expr(s"1000000000L div (${c}L + __r)"))
      .groupBy(col(idCol))
      .agg(sum(col("__pts")).as("rrf_scaled"),
        count(lit(1)).cast(IntegerType).as("n_lists"))
      .orderBy(col("rrf_scaled").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("rrf_scaled").desc, col(idCol).asc)).cast(IntegerType))
  }

  // q80 — hybrid retrieval: BM25 keyword top-50 ⊕ dense cosine top-50
  // (query = embedding 0, ids aligned doc_id == vec_id in this testdata),
  // RRF-fused to a final top-20. The two candidate generators are the
  // engine's own scale paths (q69's TakeOrdered BM25, q37's broadcast +
  // bounded-aggregate ANN); both rank windows below run on ≤ 50 rows.
  private def q80(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sparse = TextStats.bm25TopK(Tables.documents(s, d), "doc_id", "text",
        bm25Terms, k = 50, statsHint = Some(corpusStats(s, d)))
      .select($"doc_id", row_number().over(
        Window.orderBy($"score_scaled".desc, $"doc_id".asc)).as("rank"))
    val e = Tables.embeddings(s, d)
    val dense = Similarity.annTopK(
      e.select($"vec_id".as("doc_id"), $"embedding"), "doc_id", "embedding",
      e.filter($"vec_id" === 0).select($"vec_id".as("query_id"), $"embedding".as("qemb")),
      "query_id", "qemb", k = 50, pairFilter = $"doc_id" =!= $"query_id")
      .select($"doc_id", $"rank")
    rrfFuse(Seq(sparse, dense), "doc_id", "rank", k = 20)
      .orderBy($"rank")
  }
  private val q80Sql = {
    val terms = bm25Terms.map(t => s"'$t'").mkString(", ")
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |             FROM documents),
      |lens AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
      |st AS (SELECT (SELECT COUNT(*) FROM documents) AS n, SUM(dl) AS t FROM lens),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
      |       WHERE term IN (TERMS) GROUP BY 1, 2),
      |dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |         ((2 * ((SELECT n FROM st) - df) + 1) * 1000 // (2 * df + 1)) *
      |         ((2200000000 * tf) // (1000000 * tf +
      |           (1200000 * (250000 + (750000 * dl *
      |             ((SELECT n FROM st) * 1000000 // (SELECT t FROM st))) // 1000000)) // 1000000))
      |         AS s
      |       FROM tf JOIN dfc USING (term) JOIN lens USING (doc_id)),
      |bmtop AS (SELECT doc_id, CAST(SUM(s) AS BIGINT) AS score_scaled
      |          FROM sc GROUP BY doc_id
      |          ORDER BY score_scaled DESC, doc_id LIMIT 50),
      |bm AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_scaled DESC, doc_id)
      |         AS rank FROM bmtop),
      |norms AS (
      |  SELECT vec_id, embedding,
      |    (SELECT CAST(SUM(CAST(floor(embedding[i]::DOUBLE * embedding[i]::DOUBLE * 1e15) AS BIGINT)) AS BIGINT)
      |     FROM unnest(range(1, len(embedding)+1)) u(i)) AS norm
      |  FROM embeddings),
      |pairs AS (
      |  SELECT b.vec_id AS doc_id,
      |    (SELECT CAST(SUM(CAST(floor(q.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE * 1e15) AS BIGINT)) AS BIGINT)
      |     FROM unnest(range(1, len(q.embedding)+1)) u(i)) AS dot,
      |    q.norm AS qn, b.norm AS bn
      |  FROM norms q JOIN norms b ON q.vec_id = 0 AND b.vec_id <> q.vec_id),
      |dntop AS (SELECT doc_id,
      |            CAST(dot AS DOUBLE) / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(bn AS DOUBLE))) AS cosine
      |          FROM pairs ORDER BY cosine DESC, doc_id LIMIT 50),
      |dn AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id)
      |         AS rank FROM dntop),
      |u AS (SELECT doc_id, rank FROM bm UNION ALL SELECT doc_id, rank FROM dn),
      |f AS (SELECT doc_id, CAST(SUM(1000000000 // (60 + rank)) AS BIGINT) AS rrf_scaled,
      |        CAST(COUNT(*) AS INTEGER) AS n_lists
      |      FROM u GROUP BY 1
      |      ORDER BY rrf_scaled DESC, doc_id LIMIT 20)
      |SELECT doc_id, rrf_scaled, n_lists,
      |  CAST(ROW_NUMBER() OVER (ORDER BY rrf_scaled DESC, doc_id) AS INTEGER) AS rank
      |FROM f ORDER BY rank""".stripMargin
      .replace("TERMS", terms)
  }

  // q86 — inverted-index posting lists (TextStats.postings): the
  // index-build pass behind q69's retrieval, as a queryable relation.
  // df band [5, 400] keeps every posting list bounded (the df-cap
  // discipline; the synthetic corpus has a ~31-term vocabulary with
  // df ≈ 0.5·N, so the band is non-vacuous at sf0.01). Postings are
  // ascending doc ids, identical in DuckDB.
  private def q86(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextStats.postings(Tables.documents(s, d), "doc_id", "text",
        minDf = 5L, maxDf = 400L)
      .orderBy($"term")
  }
  private val q86Sql =
    """WITH tok0 AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |              FROM documents),
      |tok AS (SELECT DISTINCT doc_id, term FROM tok0),
      |dfc AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY 1
      |        HAVING COUNT(*) BETWEEN 5 AND 400)
      |SELECT term, df,
      |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
      |FROM tok JOIN dfc USING (term)
      |GROUP BY term, df ORDER BY term""".stripMargin

  // q93 — exact heavy hitters through the two-pass Misra–Gries path:
  // the sketch proposes ≤ k candidates, the recount pass makes the
  // answer exact, so the oracle is a plain GROUP BY … HAVING despite
  // the bounded-memory sketch inside. Terms at ≥ 0.5% of the corpus
  // token stream; k = 400 ⇒ guarantee bar n/401 < 0.5%·n holds.
  private def q93(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select(explode(split(trim($"text"), "\\s+")).as("term"))
    TextStats.heavyHitters(tok, "term", minFreqPpm = 5000L, k = 400)
      .orderBy($"cnt".desc, $"term".asc)
  }
  private val q93Sql =
    """WITH tok AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
      |             FROM documents),
      |n AS (SELECT COUNT(*) AS c FROM tok)
      |SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
      |HAVING COUNT(*) * 1000000 >= (SELECT c FROM n) * 5000
      |ORDER BY cnt DESC, term ASC""".stripMargin

  // q95 — decontamination through the bloom-prefiltered path: same
  // semantics (and oracle SQL) as q65, but the ref set reaches the corpus
  // as a scalar-subquery bloom probe + survivors-only exact join instead
  // of a broadcast hash relation — the shape for a ref too big to
  // broadcast. Hash-matching q65's oracle proves the sketch changes
  // nothing.
  private def q95(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.exactAgainstBloom(Tables.documents(s, d), "doc_id", "text",
        ref(s, d), "text", expectedRefItems = 4000L, fpp = 0.01)
      .withColumn("keep", lit(1) - $"in_ref")
      .orderBy($"doc_id")
  }

  // q103 — bigram next-token statistics over the corpus: adjacent-pair
  // counts (≥ 3) with exact-integer conditional probability — map-side
  // bigram assembly, no positional join.
  private def q103(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextStats.bigramStats(Tables.documents(s, d), "text", minCount = 3L)
      .orderBy($"w1", $"w2")
  }
  private val q103Sql =
    """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |bi AS (SELECT tk[i] AS w1, tk[i+1] AS w2
      |       FROM t, unnest(range(1, len(tk))) u(i) WHERE len(tk) >= 2),
      |pc AS (SELECT w1, w2, COUNT(*) AS pair_n FROM bi GROUP BY 1, 2),
      |un AS (SELECT w1, COUNT(*) AS u FROM bi GROUP BY 1)
      |SELECT pc.w1, pc.w2, pair_n, pair_n * 1000000 // u AS cond_ppm
      |FROM pc JOIN un ON pc.w1 = un.w1
      |WHERE pair_n >= 3
      |ORDER BY pc.w1, pc.w2""".stripMargin

  // q104 — bag-of-words document similarity: TF-IDF cosine ≥ 0.9 through
  // the inverted-index join (df cap 400 — a guard at this scale, the skew
  // bound at any scale). DECIMAL/HUGEINT sums, one double cosine at the
  // end.
  private def q104(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextStats.tfidfCosinePairs(Tables.documents(s, d), "doc_id", "text",
        maxDf = 400L, threshold = 0.9)
      .orderBy($"doc_a", $"doc_b")
  }
  private val q104Sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |             FROM documents),
      |tf AS MATERIALIZED (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
      |dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1 HAVING COUNT(*) <= 400),
      |w AS MATERIALIZED (SELECT doc_id, tf.term, tf * (((SELECT n FROM nn) * 1000) // df) AS w
      |      FROM tf JOIN dfc ON tf.term = dfc.term),
      |norms AS (SELECT doc_id, SUM(w::HUGEINT * w) AS norm FROM w GROUP BY 1),
      |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |           SUM(a.w::HUGEINT * b.w) AS dot, COUNT(*) AS shared
      |         FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2)
      |SELECT doc_a, doc_b, shared,
      |  CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm AS DOUBLE)) * sqrt(CAST(nb.norm AS DOUBLE)))
      |    AS cosine
      |FROM dots JOIN norms na ON doc_a = na.doc_id JOIN norms nb ON doc_b = nb.doc_id
      |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.norm AS DOUBLE)) * sqrt(CAST(nb.norm AS DOUBLE))) >= 0.9
      |ORDER BY doc_a, doc_b""".stripMargin

  // q96 — character-level near-dup pairs: blocked (12-char prefix) +
  // length-filtered candidates, exact banded Levenshtein ≤ 30. The planted
  // one-word-changed near-dups sit at dist 4; block-mates further than 30
  // edits apart are rejected, so the distance gate is non-vacuous.
  private def q96(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.editDistancePairs(Tables.documents(s, d), "doc_id", "text",
        maxDist = 30, blockPrefix = 12)
      .orderBy($"doc_a", $"doc_b")
  }
  private val q96Sql =
    """WITH b AS (SELECT doc_id, text, substring(lower(trim(text)), 1, 12) AS blk,
      |                  length(text) AS len FROM documents)
      |SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
      |  CAST(levenshtein(a.text, c.text) AS INTEGER) AS dist
      |FROM b a JOIN b c ON a.blk = c.blk AND a.doc_id < c.doc_id
      |  AND abs(a.len - c.len) <= 30
      |WHERE levenshtein(a.text, c.text) <= 30
      |ORDER BY doc_a, doc_b""".stripMargin

  // q210 — fuzzy customer-directory self-match (record linkage): pairs of
  // customer names at Jaro-Winkler ≥ 0.96, blocked sorted-neighborhood
  // style on the all-but-last-2-chars prefix. The scorer is the native
  // codegen'd JaroWinkler expression — DuckDB-variant bit-exact, so the
  // sim doubles hash-match the oracle with no rounding shim.
  private def q210(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.jaroWinklerPairs(Tables.customer(s, d), "c_custkey", "c_name",
        expr("substring(c_name, 1, greatest(length(c_name)-2, 0))"), minSim = 0.96)
      .orderBy($"id_a", $"id_b")
  }
  private val q210Sql =
    """WITH b AS (SELECT c_custkey, c_name,
      |             substring(c_name, 1, greatest(length(c_name)-2, 0)) AS blk
      |           FROM customer)
      |SELECT a.c_custkey AS id_a, c.c_custkey AS id_b,
      |  jaro_winkler_similarity(a.c_name, c.c_name) AS sim
      |FROM b a JOIN b c ON a.blk = c.blk AND a.c_custkey < c.c_custkey
      |WHERE jaro_winkler_similarity(a.c_name, c.c_name) >= 0.96
      |ORDER BY id_a, id_b""".stripMargin

  // q240 — multi-field weighted record linkage over the part catalog:
  // candidates blocked on (type, size), scored 0.6·jw(name) + 0.4·jw(brand)
  // — q210's single-field match lifted to the Fellegi-Sunter composite
  // shape. Both jw sims ride the native bit-exact expression, and the
  // weighted sum is the same left-to-right IEEE double chain DuckDB
  // evaluates, so the score doubles hash-match with no rounding shim.
  private def q240(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Dedup.linkRecords(Tables.part(s, d), "p_partkey",
        expr("concat(p_type, '|', p_size)"),
        Seq("p_name" -> 0.6, "p_brand" -> 0.4), minScore = 0.93)
      .orderBy($"id_a", $"id_b")
  }
  private val q240Sql =
    """WITH b AS (SELECT p_partkey, p_name, p_brand,
      |             p_type || '|' || p_size AS blk FROM part)
      |SELECT a.p_partkey AS id_a, c.p_partkey AS id_b,
      |  jaro_winkler_similarity(a.p_name, c.p_name) AS sim_p_name,
      |  jaro_winkler_similarity(a.p_brand, c.p_brand) AS sim_p_brand,
      |  0.6 * jaro_winkler_similarity(a.p_name, c.p_name)
      |    + 0.4 * jaro_winkler_similarity(a.p_brand, c.p_brand) AS score
      |FROM b a JOIN b c ON a.blk = c.blk AND a.p_partkey < c.p_partkey
      |WHERE 0.6 * jaro_winkler_similarity(a.p_name, c.p_name)
      |    + 0.4 * jaro_winkler_similarity(a.p_brand, c.p_brand) >= 0.93
      |ORDER BY id_a, id_b""".stripMargin

  // q241 — sorted-neighborhood linkage over the part catalog: candidates
  // from the rank-window pass (Hernández-Stolfo's second blocking
  // strategy — catches near-matches whose equi-block key itself differs),
  // scored with the bit-exact Jaro-Winkler native. The oracle is the
  // single-window ROW_NUMBER formulation the operator's prefix-bucket
  // rank deliberately avoids.
  private def q241(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val part = Tables.part(s, d)
    val cands = Dedup.sortedNeighborPairs(part, "p_partkey", "p_name",
      window = 3, prefixLen = 2)
    val nm = part.select($"p_partkey", $"p_name")
    cands
      .join(nm.select($"p_partkey".as("id_a"), $"p_name".as("__na")), "id_a")
      .join(nm.select($"p_partkey".as("id_b"), $"p_name".as("__nb")), "id_b")
      .withColumn("sim", graft.plans.JaroWinkler($"__na", $"__nb"))
      .filter($"sim" >= 0.9)
      .select($"id_a", $"id_b", $"rank_dist", $"sim")
      .orderBy($"id_a", $"id_b")
  }
  private val q241Sql =
    """WITH ranked AS (SELECT p_partkey, p_name,
      |    CAST(ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) - 1 AS BIGINT)
      |      AS rnk FROM part)
      |SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
      |  CAST(b.rnk - a.rnk AS BIGINT) AS rank_dist,
      |  jaro_winkler_similarity(a.p_name, b.p_name) AS sim
      |FROM ranked a JOIN ranked b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 3
      |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  // q260 — q240's multi-field weighted linkage from Spark SQL TEXT alone
  // (the q253–q258 pure-SQL client-surface pattern): `jaro_winkler` is
  // the SQL-registered native expression (functions.Registry), so the
  // statement scores with the SAME bit-exact kernel as the Column API and
  // the weighted sum is the same left-to-right IEEE chain — gated by
  // q240's exact oracle. The plan is the operator's shape: one block
  // equi-join on the composite key, scoring stays in the join's filter —
  // and the recipe carries linkRecords' ENFORCED hot-block cap (the
  // capBlocks count-filter: blocks above the cap are dropped before the
  // self-join, bounding fan-out at cap² per block). 1000 is far above any
  // (type|size) block at the gated scales, so the result is q240's; a
  // production run tunes the literal like linkRecords' maxBlockSize.
  private def q260(s: SparkSession, d: String): DataFrame = {
    Tables.registerViewOnce(s, d, "graft_part")(Tables.part(s, d))
    s.sql(
      """WITH b0 AS (SELECT p_partkey, p_name, p_brand,
        |              concat(p_type, '|', p_size) AS blk FROM graft_part),
        |kept AS (SELECT blk FROM b0 GROUP BY blk HAVING COUNT(*) <= 1000),
        |b AS (SELECT b0.* FROM b0 JOIN kept ON b0.blk = kept.blk)
        |SELECT a.p_partkey AS id_a, c.p_partkey AS id_b,
        |  jaro_winkler(a.p_name, c.p_name) AS sim_p_name,
        |  jaro_winkler(a.p_brand, c.p_brand) AS sim_p_brand,
        |  0.6 * jaro_winkler(a.p_name, c.p_name)
        |    + 0.4 * jaro_winkler(a.p_brand, c.p_brand) AS score
        |FROM b a JOIN b c ON a.blk = c.blk AND a.p_partkey < c.p_partkey
        |WHERE 0.6 * jaro_winkler(a.p_name, c.p_name)
        |    + 0.4 * jaro_winkler(a.p_brand, c.p_brand) >= 0.93
        |ORDER BY id_a, id_b""".stripMargin)
  }
  private val q260Sql = q240Sql

  // q261 — q241's sorted-neighborhood linkage from Spark SQL TEXT alone.
  // The rank is the OPERATOR's scalable formulation, not the oracle's
  // single global ROW_NUMBER: order-aligned prefix buckets (per-bucket
  // row_number + cumulative bucket offsets over the ≤#buckets counts
  // frame), then the band equi-join — each row probes its own band and
  // the next, so a pair within `window` ranks matches exactly once. The
  // only unpartitioned window runs over the bucket-count frame (bounded
  // by construction at 26·27 one-row-per-bucket entries, the q235
  // skeleton's audited class). Gated by q241's exact oracle.
  private def q261(s: SparkSession, d: String): DataFrame = {
    Tables.registerViewOnce(s, d, "graft_part")(Tables.part(s, d))
    s.sql(
      """WITH base AS (
        |  SELECT p_partkey AS id, p_name,
        |    coalesce(CAST(p_name AS STRING), '') AS srt,
        |    substring(coalesce(CAST(p_name AS STRING), ''), 1, 2) AS bkt
        |  FROM graft_part),
        |loc AS (
        |  SELECT id, p_name, bkt,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY bkt ORDER BY srt, id)
        |      AS BIGINT) AS lrk
        |  FROM base),
        |offs AS (
        |  SELECT bkt, coalesce(SUM(n) OVER (ORDER BY bkt
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM (SELECT bkt, COUNT(*) AS n FROM base GROUP BY bkt)),
        |ranked AS (
        |  SELECT l.id, l.p_name, o.off + l.lrk - 1 AS rnk
        |  FROM loc l JOIN offs o ON l.bkt = o.bkt),
        |a AS (SELECT id AS id_a, p_name AS na, rnk AS rank_a,
        |        explode(array(rnk div 3, rnk div 3 + 1)) AS band
        |      FROM ranked),
        |b AS (SELECT id AS id_b, p_name AS nb, rnk AS rank_b,
        |        rnk div 3 AS band FROM ranked)
        |SELECT id_a, id_b, CAST(rank_b - rank_a AS BIGINT) AS rank_dist,
        |  jaro_winkler(na, nb) AS sim
        |FROM a JOIN b ON a.band = b.band
        |WHERE rank_b > rank_a AND rank_b - rank_a <= 3
        |  AND jaro_winkler(na, nb) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin)
  }
  private val q261Sql = q241Sql

  // q218 — positional phrase search: documents containing the exact
  // consecutive sequence "hash value", with occurrence counts — the
  // positional complement of the bag-of-words q86 postings / q69 BM25.
  private def q218(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextStats.phraseMatch(Tables.documents(s, d), "doc_id", "text",
        Seq("hash", "value"))
      .orderBy($"doc_id")
  }
  private val q218Sql =
    """WITH tok AS (SELECT doc_id,
      |    unnest(range(len(string_split_regex(trim(text), '\s+')))) AS pos,
      |    unnest(string_split_regex(trim(text), '\s+')) AS term
      |  FROM documents)
      |SELECT a.doc_id, COUNT(*) AS n_matches
      |FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |WHERE a.term = 'hash' AND b.term = 'value'
      |GROUP BY a.doc_id
      |ORDER BY a.doc_id""".stripMargin

  // q94 — per-language heavy hitters: terms at ≥ 2% of EACH language's
  // own token stream, through the grouped sketch-then-recount path
  // (k = 60 ⇒ 20000·61 ppm > 1e6, so the per-group bar holds).
  private def q94(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"lang", explode(split(trim($"text"), "\\s+")).as("term"))
    TextStats.heavyHittersByGroup(tok, Seq("lang"), "term",
        minFreqPpm = 20000L, k = 60)
      .orderBy($"lang".asc, $"cnt".desc, $"term".asc)
  }
  private val q94Sql =
    """WITH tok AS (SELECT lang, unnest(string_split_regex(trim(text), '\s+')) AS term
      |             FROM documents),
      |n AS (SELECT lang, COUNT(*) AS c FROM tok GROUP BY 1),
      |cnt AS (SELECT lang, term, COUNT(*) AS cnt FROM tok GROUP BY 1, 2)
      |SELECT cnt.lang, cnt.term, cnt.cnt FROM cnt JOIN n ON cnt.lang = n.lang
      |WHERE cnt.cnt * 1000000 >= n.c * 20000
      |ORDER BY cnt.lang ASC, cnt.cnt DESC, cnt.term ASC""".stripMargin

  // q129 — BPE vocabulary fit over the corpus (40 merges). The merge
  // table is a build-once deploy artifact — memoized like the quantizer
  // fits. The trainer is deterministic integer/string work, so the SQL
  // oracle UNROLLS the 40 merge rounds as generated materialized CTEs
  // (the pageRank-oracle technique): per round, the weighted pair argmax
  // (ties → lexicographic) and the greedy left-to-right rewrite — the
  // rewrite's "merge non-overlapping matches from the left" is the
  // gaps-and-islands pattern (consecutive match positions form a run;
  // keep the odd positions of each run). The naive-model equivalence
  // spec pins the same semantics engine-side.
  private def fittedBpe(s: SparkSession, d: String): DataFrame =
    Memo.get(s, d, "corpus.bpe")(
      TextStats.bpeFit(Tables.documents(s, d), "text", numMerges = 40)
        .localCheckpoint())
  private def q129(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fittedBpe(s, d).orderBy($"rank")
  }

  // q130 — encode the corpus with the learned merges: true subword token
  // counts per document (what tokenCounts' regex approximates).
  // the segmented vocabulary is the second deploy artifact (segment each
  // unique word once, reuse across encode passes) — memoized like the fit
  private def bpeSegments(s: SparkSession, d: String): DataFrame =
    Memo.get(s, d, "corpus.bpeSeg")(
      TextStats.bpeSegmentVocab(Tables.documents(s, d), "text",
        fittedBpe(s, d)).persist())
  private def q130(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextStats.bpeEncodeWith(Tables.documents(s, d), "doc_id", "text",
        bpeSegments(s, d))
      .orderBy($"doc_id")
  }

  // Generated CTE chain for the BPE oracles: v0 = the corpus word-type
  // vocabulary (freq-desc/word-asc capped, bpeFit's default maxVocab —
  // the cap and minFreq=1 never bind at gate scale, where the vocab is
  // far under 2^20 word types, so fit vocab = encode vocab = distinct
  // words); then per round n: b_n = best pair, c_n = greedily chosen
  // match positions (odd members of each consecutive-match run), v_n =
  // the rewritten vocabulary. ASCII corpus: DuckDB's binary string order
  // and char split agree with the engine's UTF-16 order / code-point
  // split on every value involved.
  private val bpeRounds = 40
  private def bpeFitCtes(rounds: Int): String = {
    val v0 =
      s"""v0 AS MATERIALIZED (
         |  SELECT w, freq, string_split(w, '') AS syms FROM (
         |    SELECT w, COUNT(*) AS freq FROM (
         |      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents)
         |    WHERE len(w) > 0 GROUP BY w
         |    ORDER BY freq DESC, w LIMIT ${1 << 20}))""".stripMargin
    val rounds_ = (1 to rounds).map { n =>
      val p = n - 1
      s"""b$n AS MATERIALIZED (
         |  SELECT l, r, cnt FROM (
         |    SELECT syms[j] AS l, syms[j+1] AS r, SUM(freq) AS cnt
         |    FROM v$p, unnest(range(1, len(syms))) u(j)
         |    GROUP BY 1, 2)
         |  ORDER BY cnt DESC, l, r LIMIT 1),
         |c$n AS MATERIALIZED (
         |  SELECT w, j FROM (
         |    SELECT w, j, ROW_NUMBER() OVER (PARTITION BY w, j - rn ORDER BY j) AS k
         |    FROM (
         |      SELECT v.w, u.j, ROW_NUMBER() OVER (PARTITION BY v.w ORDER BY u.j) AS rn
         |      FROM v$p v, unnest(range(1, len(v.syms))) u(j), b$n b
         |      WHERE v.syms[j] = b.l AND v.syms[j+1] = b.r))
         |  WHERE k % 2 = 1),
         |v$n AS MATERIALIZED (
         |  SELECT x.w, any_value(x.freq) AS freq,
         |    list(CASE WHEN c.j IS NOT NULL THEN (SELECT l || r FROM b$n) ELSE x.sym END
         |      ORDER BY x.j) AS syms
         |  FROM (SELECT w, freq, u.j, syms[u.j] AS sym
         |        FROM v$p, unnest(range(1, len(syms) + 1)) u(j)) x
         |  LEFT JOIN c$n c ON c.w = x.w AND c.j = x.j
         |  LEFT JOIN c$n pr ON pr.w = x.w AND pr.j = x.j - 1
         |  WHERE pr.j IS NULL
         |  GROUP BY x.w)""".stripMargin
    }
    (v0 +: rounds_).mkString(",\n")
  }
  private lazy val q129Sql = {
    val union = (1 to bpeRounds).map(n =>
      s"""SELECT CAST($n AS INTEGER) AS rank, l AS "left", r AS "right",
         |  CAST(cnt AS BIGINT) AS pair_count FROM b$n""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeFitCtes(bpeRounds)}
       |SELECT * FROM (
       |$union
       |) ORDER BY rank""".stripMargin
  }
  private lazy val q130Sql =
    s"""WITH ${bpeFitCtes(bpeRounds)},
       |tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |        FROM documents)
       |SELECT CAST(doc_id AS BIGINT) AS doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(coalesce(len(v.syms), len(tok.w))) AS BIGINT) AS n_subwords
       |FROM tok LEFT JOIN v$bpeRounds v USING (w)
       |WHERE len(tok.w) > 0
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // q236 — tokenizer-aware sequence packing: q59's concatenate-then-chunk
  // packing driven by the REAL learned-BPE subword counts (q130's encode)
  // instead of the whitespace approximation — the budget boundary a
  // training run actually sees. Composition of the two memoized deploy
  // artifacts (fit + segmented vocab); the pack itself stays map-only
  // hashing + one per-shard window cumsum.
  private def q236(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = TextStats.bpeEncodeWith(Tables.documents(s, d), "doc_id",
      "text", bpeSegments(s, d)).select($"doc_id", $"n_subwords")
    Curation.packSequencesByCount(counts, "doc_id", "n_subwords",
        budget = 128, shards = 4)
      .orderBy($"doc_id")
  }
  private lazy val q236Sql =
    s"""WITH ${bpeFitCtes(bpeRounds)},
       |tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
       |        FROM documents),
       |cnts AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    CAST(SUM(coalesce(len(v.syms), len(tok.w))) AS BIGINT) AS n_tokens
       |  FROM tok LEFT JOIN v$bpeRounds v USING (w)
       |  WHERE len(tok.w) > 0 GROUP BY doc_id),
       |base AS (SELECT doc_id, n_tokens,
       |    ${md5LongSql("'shard:' || doc_id")} % 4 AS shard,
       |    md5('pack:' || doc_id) AS ord
       |  FROM cnts),
       |off AS (SELECT doc_id, shard, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
       |      ORDER BY ord, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS tok_offset
       |  FROM base)
       |SELECT doc_id, shard, n_tokens, tok_offset,
       |  CAST(tok_offset // 128 AS BIGINT) AS pack_id,
       |  CAST(((tok_offset + n_tokens - 1) // 128 > tok_offset // 128) AS INT)
       |    AS spans_packs
       |FROM off ORDER BY doc_id""".stripMargin

  // q126 — bigram-LM quality score per document (surprisal proxy): mean
  // corpus conditional probability of each doc's transitions, exact
  // integers end to end; unseen transitions (below the q103 minCount=3
  // cut) penalize as 0.
  private def q126(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextStats.lmQualityScore(Tables.documents(s, d), "doc_id", "text",
        minCount = 3L)
      .orderBy($"doc_id")
  }
  private val q126Sql =
    """WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |           FROM documents),
      |bi AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
      |       FROM t, unnest(range(1, len(tk))) u(i) WHERE len(tk) >= 2),
      |pc AS (SELECT w1, w2, COUNT(*) AS pair_n FROM bi GROUP BY 1, 2),
      |un AS (SELECT w1, COUNT(*) AS u FROM bi GROUP BY 1),
      |st AS (SELECT pc.w1, pc.w2, pair_n * 1000000 // u AS cond_ppm
      |       FROM pc JOIN un ON pc.w1 = un.w1 WHERE pair_n >= 3)
      |SELECT bi.doc_id, COUNT(*) AS n_bigrams,
      |  CAST(SUM(coalesce(cond_ppm, 0)) // COUNT(*) AS BIGINT) AS avg_cond_ppm
      |FROM bi LEFT JOIN st ON bi.w1 = st.w1 AND bi.w2 = st.w2
      |GROUP BY 1 ORDER BY doc_id""".stripMargin

  // q115 — windowed co-occurrence / PMI-ratio pairs (word-association
  // statistics): unordered token pairs within 3 positions, corpus-wide
  // count ≥ 20, pmi_ratio = pair_n·T/(c_x·c_y) over exact integer counts
  // (one fixed double tree — the q102 lift pattern).
  // The co-occurrence table is a build-once artifact (mine once, query
  // many — the q102 rule-table argument): memoized per (session, dir),
  // bench reports the mining cost cold.
  private def q115(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Memo.get(s, d, "corpus.cooc")(
      TextStats.cooccurrencePairs(Tables.documents(s, d), "text",
        window = 3, minCount = 20L))
    pairs.orderBy($"w1", $"w2")
  }
  // pr MATERIALIZED: the pair fan-out is the query's whole cost (tens of
  // millions of rows at sf1) and plain-CTE DuckDB re-evaluates it for
  // each of its 4 references (pc + m twice + tt) — 221s at sf1 vs one
  // materialized build. Same rows.
  private val q115Sql =
    """WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |pr AS MATERIALIZED (SELECT least(tk[i], tk[j]) AS w1, greatest(tk[i], tk[j]) AS w2
      |       FROM t, unnest(range(1, len(tk))) u(i),
      |            unnest(range(i+1, least(i+3, len(tk)) + 1)) v(j)
      |       WHERE len(tk) >= 2),
      |pc AS (SELECT w1, w2, COUNT(*) AS pair_n FROM pr GROUP BY 1, 2),
      |m AS (SELECT w, COUNT(*) AS c FROM (
      |        SELECT w1 AS w FROM pr UNION ALL SELECT w2 FROM pr) GROUP BY 1),
      |tt AS (SELECT COUNT(*) AS T FROM pr)
      |SELECT pc.w1, pc.w2, pair_n,
      |  (CAST(pair_n AS DOUBLE) * CAST(T AS DOUBLE))
      |    / (CAST(mx.c AS DOUBLE) * CAST(my.c AS DOUBLE)) AS pmi_ratio
      |FROM pc JOIN m mx ON pc.w1 = mx.w JOIN m my ON pc.w2 = my.w
      |CROSS JOIN tt
      |WHERE pair_n >= 20
      |ORDER BY pc.w1, pc.w2""".stripMargin

  // q192 — contamination-rate dashboard: per source, the exact-ppm share
  // of documents that collide with the benchmark set (q65's reference) —
  // the rollup a decontamination run reports before dropping anything.
  // Same broadcast-hash probe as q65 + one combiner rollup.
  private def q192(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val flags = graft.operators.Dedup.exactAgainst(
      graft.Tables.documents(s, d), "doc_id", "text", ref(s, d), "text")
    graft.Tables.documents(s, d).select($"doc_id", $"source")
      .join(flags, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"in_ref".cast(org.apache.spark.sql.types.LongType))
          .as("n_contaminated"))
      .withColumn("contaminated_ppm",
        expr("n_contaminated * 1000000 DIV n_docs")
          .cast(org.apache.spark.sql.types.LongType))
      .orderBy($"source")
  }
  private val q192Sql =
    """WITH ref AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 20 = 0)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN r.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_contaminated,
      |  CAST(SUM(CASE WHEN r.h IS NOT NULL THEN 1 ELSE 0 END) * 1000000
      |    // COUNT(*) AS BIGINT) AS contaminated_ppm
      |FROM documents d LEFT JOIN ref r ON md5(d.text) = r.h
      |GROUP BY source ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q192_contamination_rate" -> q192,
    "q115_cooccurrence_pmi" -> q115,
    "q126_lm_quality" -> q126,
    "q129_bpe_fit" -> q129,
    "q130_bpe_encode" -> q130,
    "q236_bpe_pack" -> q236,
    "q95_decontaminate_bloom" -> q95,
    "q96_dedup_edit_distance" -> q96,
    "q210_fuzzy_name_match" -> q210,
    "q240_multifield_linkage" -> q240,
    "q241_sorted_neighborhood" -> q241,
    "q260_linkage_pure_sql" -> q260,
    "q261_neighborhood_pure_sql" -> q261,
    "q218_phrase_match" -> q218,
    "q103_bigram_stats" -> q103,
    "q104_tfidf_cosine_pairs" -> q104,
    "q94_heavy_hitters_grouped" -> q94,
    "q93_heavy_hitters" -> q93,
    "q65_exact_against" -> q65,
    "q66_term_rarity" -> q66,
    "q68_minhash_against" -> q68,
    "q245_incremental_minhash" -> q245,
    "q254_incremental_pure_sql" -> q254,
    "q249_tokenizer_fertility" -> q249,
    "q69_bm25_topk" -> q69,
    "q80_hybrid_rrf" -> q80,
    "q86_postings" -> q86,
  )

  val oracles: Map[String, String] = Map(
    "q192_contamination_rate" -> q192Sql,
    "q115_cooccurrence_pmi" -> q115Sql,
    "q129_bpe_fit" -> q129Sql,
    "q130_bpe_encode" -> q130Sql,
    "q236_bpe_pack" -> q236Sql,
    "q126_lm_quality" -> q126Sql,
    "q95_decontaminate_bloom" -> q65Sql, // identical semantics by design
    "q96_dedup_edit_distance" -> q96Sql,
    "q210_fuzzy_name_match" -> q210Sql,
    "q240_multifield_linkage" -> q240Sql,
    "q241_sorted_neighborhood" -> q241Sql,
    "q260_linkage_pure_sql" -> q260Sql,
    "q261_neighborhood_pure_sql" -> q261Sql,
    "q218_phrase_match" -> q218Sql,
    "q103_bigram_stats" -> q103Sql,
    "q104_tfidf_cosine_pairs" -> q104Sql,
    "q94_heavy_hitters_grouped" -> q94Sql,
    "q93_heavy_hitters" -> q93Sql,
    "q65_exact_against" -> q65Sql,
    "q66_term_rarity" -> q66Sql,
    "q68_minhash_against" -> q68Sql,
    "q245_incremental_minhash" -> q245Sql,
    "q254_incremental_pure_sql" -> q254Sql,
    "q249_tokenizer_fertility" -> q249Sql,
    "q69_bm25_topk" -> q69Sql,
    "q80_hybrid_rrf" -> q80Sql,
    "q86_postings" -> q86Sql,
  )
}
