package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Memo, Tables}
import graft.functions.Ops._

/** Corpus-curation operators for training-data pipelines: cross-document
  * boilerplate removal (CCNet-style), TF-IDF keyword extraction, and
  * concatenate-then-chunk sequence packing. These complete the M5 extension
  * surface (SURVEY.md §7.2) beyond dedup/similarity: they transform the
  * corpus, not just score it.
  *
  * Scale notes (see SCALE.md): every cross-document step keys on a
  * high-cardinality equi-join column (chunk text, term) — never all-pairs;
  * packing parallelizes per shard, so 100 TB packs as thousands of
  * independent shard streams.
  */
object Curation {

  private val toks: Column = split(trim(col("text")), "\\s+")

  private def normalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast(LongType).as("doc_id"), col(textCol).as("text"))

  // ---------------------------------------------------------------------
  // Boilerplate removal (CCNet removes lines whose document frequency is
  // high; this corpus has no line breaks, so the unit is a fixed-size
  // non-overlapping token chunk — same semantics, deterministic units).

  /** Drop chunks of `chunkTokens` tokens that appear in more than `maxDf`
    * documents, reassembling each document from its surviving chunks in
    * order. Output: (doc_id, n_chunks, n_dropped, clean_text); clean_text is
    * null when every chunk was boilerplate.
    *
    * Plan: posexplode → chunk assembly (one shuffle on (doc, chunk_id)) →
    * hot-chunk certification from a deterministic `hotSamplePct`% doc
    * sample (the sample is a SUBSET of the corpus, so sample-df > maxDf
    * proves true df > maxDf — zero false positives, the result is unchanged
    * by construction; the filter on doc_id pushes below the explode so the
    * sample pass scans only its share) → exact df for the remaining chunks
    * via groupBy(chunk).countDistinct(doc_id) — a two-level aggregate whose
    * map-side partials shrink every chunk to ≤ #partitions rows — joined
    * back → one groupBy(doc_id) reassembly. The input to this operator is
    * by definition boilerplate-heavy, so the df computation must not
    * concentrate a corpus-wide chunk's instances in one task: the pre-cap
    * removes the certain skew heads before the chunk-keyed join, and the
    * residual join skew is AQE-splittable (a `Window.partitionBy(chunk)`
    * count is neither). Costs one extra traversal of the chunk relation vs
    * the single-exchange window shape — at 100 TB persist `df` (or the
    * chunk assembly) upstream if traversals dominate; a straggler task
    * holding every copy of "click here to subscribe" dominates far sooner. */
  def dropBoilerplateChunks(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 8, maxDf: Int = 2, hotSamplePct: Int = 10): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val chunks = normalized(df, idCol, textCol)
      .withColumn("toks", toks)
      .select($"doc_id", posexplode($"toks").as(Seq("pos", "tok")))
      .withColumn("chunk_id", floor($"pos" / chunkTokens).cast(LongType))
      .groupBy($"doc_id", $"chunk_id")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok), ' ')")
        .as("chunk"))
    val hot = chunks
      .filter(md5Long(concat(lit("bphot:"), $"doc_id".cast(StringType))) % 100L
        < hotSamplePct)
      .groupBy($"chunk").agg(countDistinct($"doc_id").as("sdf"))
      .filter($"sdf" > maxDf)
      .select($"chunk", lit(1).as("hot"))
    val base = chunks.join(broadcast(hot), Seq("chunk"), "left")
    val dfs = base.filter($"hot".isNull)
      .groupBy($"chunk").agg(countDistinct($"doc_id").as("cdf"))
    base.join(dfs, Seq("chunk"), "left")
      .withColumn("df",
        when($"hot".isNotNull, lit(Long.MaxValue)).otherwise($"cdf"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"df" > maxDf, 1L).otherwise(0L)).as("n_dropped"),
        expr(s"array_join(transform(array_sort(collect_list(" +
          s"CASE WHEN df <= $maxDf THEN struct(chunk_id, chunk) END)), x -> x.chunk), ' ')")
          .as("joined"))
      .withColumn("clean_text",
        when($"n_dropped" < $"n_chunks", $"joined").otherwise(lit(null).cast(StringType)))
      .drop("joined")
  }

  private def q57(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    dropBoilerplateChunks(Tables.documents(s, d), "doc_id", "text").orderBy($"doc_id")
  }
  private val q57Sql =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') t FROM documents),
      |tok AS (SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS pos FROM toks),
      |chunks AS (SELECT doc_id, pos // 8 AS chunk_id,
      |                  string_agg(tok, ' ' ORDER BY pos) AS chunk
      |           FROM tok GROUP BY 1, 2),
      |dfs AS (SELECT chunk, COUNT(*) AS df
      |        FROM (SELECT DISTINCT doc_id, chunk FROM chunks) GROUP BY 1)
      |SELECT c.doc_id, COUNT(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN d.df > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  string_agg(c.chunk, ' ' ORDER BY c.chunk_id) FILTER (WHERE d.df <= 2) AS clean_text
      |FROM chunks c JOIN dfs d USING (chunk)
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // TF-IDF keyword extraction.

  /** Top-`k` terms per document by scaled-integer TF-IDF:
    * score = tf * (nDocs·10^6 div df) — integer arithmetic throughout, so
    * scores and the (score desc, term asc) ranking replicate bit-for-bit in
    * any engine (a float ln() idf would drift at the ulp level across
    * libm implementations). Output: (doc_id, term, tf, df, score_scaled,
    * rank).
    *
    * Plan: one shuffle for groupBy(doc, term); the relation is then
    * distinct on (doc, term) so df is a groupBy(term) count — the partial
    * (map-side) aggregate shrinks every term to at most #partitions rows,
    * so a corpus-wide hot term ("the" ≈ every document) never concentrates
    * in one partition — joined back UNHINTED (the build side is
    * vocab-sized: tiny next to the corpus but 10⁹ rows at web scale, so
    * AQE decides broadcast-vs-shuffle rather than a driver-OOMing hint). A `count over
    * Window.partitionBy(term)` would instead land every row of a hot term
    * in ONE partition: a guaranteed straggler at 100 TB. Top-k is a
    * row_number window per doc (doc-sized partitions, bounded). */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String, k: Int = 5,
      nDocsHint: Option[Long] = None): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val base = normalized(df, idCol, textCol)
    val nDocs = nDocsHint.getOrElse(base.count())  // one count job; pass the
    // hint (or use the memoized q58 path) when the corpus size is known
    val tf = base
      .withColumn("toks", toks)
      .select($"doc_id", explode($"toks").as("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy($"doc_id").orderBy($"score_scaled".desc, $"term".asc)
    val dfCounts = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    tf.join(dfCounts, Seq("term"))  // vocab-sized build side — AQE decides
      // DECIMAL(19,0) guard stays INSIDE the product: tf (up to doc
      // length) times a df=1 idf of nDocs·10⁶ wraps LONG past ~9.2e18 —
      // plausible at 10¹⁰-doc corpora with high-tf spam docs (the
      // crossGroupContainment overflow class). The OUTPUT column is CAST
      // back to BIGINT (house pattern of termRarity/tokenizerFertility):
      // DECIMAL(38,0) output bridges as float64 on the oracle side. Under
      // ANSI mode the final cast fails loudly if nDocs·10⁶·tf ever
      // exceeds 9.2e18 — at that corpus scale, shrink the 10⁶ idf scale.
      .withColumn("score_scaled", expr(
        s"CAST(CAST(tf AS DECIMAL(19,0)) * (CAST(${nDocs * 1000000L} AS BIGINT) div df) AS BIGINT)"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"doc_id", $"term", $"tf", $"df", $"score_scaled", $"rank")
  }

  // corpus size per (session, dir), memoized so repeated q58 builds don't
  // re-scan just to count
  private def q58(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = Memo.get(s, d, "curation.nDocs")(Tables.documents(s, d).count())
    tfidfTopK(Tables.documents(s, d), "doc_id", "text", k = 5, nDocsHint = Some(n))
      .orderBy($"doc_id", $"rank")
  }
  private val q58Sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |             FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |sc AS (SELECT doc_id, term, tf, COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
      |rk AS (SELECT doc_id, term, tf, df,
      |         CAST(CAST(tf AS DECIMAL(19,0))
      |           * ((SELECT COUNT(*) FROM documents) * 1000000 // df)
      |           AS BIGINT) AS score_scaled,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id
      |           ORDER BY tf * ((SELECT COUNT(*) FROM documents) * 1000000 // df) DESC,
      |                    term ASC) AS rank
      |       FROM sc)
      |SELECT doc_id, term, tf, df, score_scaled, rank FROM rk
      |WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // Sequence packing (concatenate-then-chunk, the GPT-style pipeline step):
  // documents are deterministically hash-shuffled into shards, concatenated
  // per shard, and cut into fixed token-budget training sequences.

  /** Assign every document a (shard, tok_offset, pack_id) under
    * concatenate-then-chunk packing with `budget` tokens per sequence and
    * `shards` parallel streams. Order within a shard is the md5 of the doc
    * id (a deterministic shuffle); `spans_packs` marks documents cut by a
    * sequence boundary. Output: (doc_id, shard, n_tokens, tok_offset,
    * pack_id, spans_packs).
    *
    * Plan: map-only hashing + one window cumsum per shard — shards are
    * independent, so 100 TB packs as thousands of parallel streams; the
    * per-shard sort key is a hash, so skew is uniform by construction. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      budget: Int = 128, shards: Int = 4): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    packSequencesByCount(
      normalized(df, idCol, textCol).select($"doc_id", size(toks).as("__n")),
      "doc_id", "__n", budget, shards)
  }

  /** [[packSequences]] over PRE-COMPUTED per-document token counts — the
    * tokenizer-aware variant: feed it `TextStats.bpeEncodeWith` subword
    * counts (or any model tokenizer's) instead of the whitespace
    * approximation, and packs cut on REAL sequence-budget boundaries.
    * Same plan shape: map-only hashing + one per-shard window cumsum. */
  def packSequencesByCount(df: DataFrame, idCol: String, nTokensCol: String,
      budget: Int = 128, shards: Int = 4): DataFrame = {
    require(budget >= 1 && shards >= 1,
      s"need budget >= 1 and shards >= 1, got $budget/$shards")
    val s = df.sparkSession
    import s.implicits._
    // caller-supplied counts: a null or negative (e.g. from a lossy join)
    // would silently overlap pack offsets — fail fast instead
    val base = df.select(col(idCol).cast(LongType).as("doc_id"),
        when(col(nTokensCol).isNotNull && col(nTokensCol) >= 0, col(nTokensCol))
          .otherwise(raise_error(concat(
            lit(s"packSequencesByCount: null/negative $nTokensCol for doc "),
            col(idCol).cast(StringType)))).as("n_tokens"))
      .withColumn("shard",
        md5Long(concat(lit("shard:"), $"doc_id".cast(StringType))) % shards)
      .withColumn("ord", md5(concat(lit("pack:"), $"doc_id".cast(StringType))))
    val w = Window.partitionBy($"shard").orderBy($"ord", $"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("tok_offset", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .withColumn("pack_id", expr(s"tok_offset div $budget"))
      .withColumn("spans_packs",
        (expr(s"(tok_offset + n_tokens - 1) div $budget") > $"pack_id").cast(IntegerType))
      .select($"doc_id", $"shard", $"n_tokens", $"tok_offset", $"pack_id", $"spans_packs")
  }

  private def q59(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    packSequences(Tables.documents(s, d), "doc_id", "text").orderBy($"doc_id")
  }
  private val q59Sql =
    s"""WITH base AS (
       |  SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER)
       |      AS n_tokens,
       |    ${md5LongSql("'shard:' || doc_id")} % 4 AS shard,
       |    md5('pack:' || doc_id) AS ord
       |  FROM documents),
       |off AS (
       |  SELECT doc_id, shard, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY ord, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
       |  FROM base)
       |SELECT doc_id, shard, n_tokens, tok_offset,
       |  CAST(tok_offset // 128 AS BIGINT) AS pack_id,
       |  CAST(((tok_offset + n_tokens - 1) // 128 > tok_offset // 128) AS INT) AS spans_packs
       |FROM off ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Benchmark decontamination: flag training documents that share n-grams
  // with a held-out evaluation set — the standard pre-training hygiene step.

  /** Per-document contamination stats of `corpus` against `bench`: the
    * fraction of each corpus document's distinct `n`-grams that appear
    * anywhere in the benchmark set. Output: (doc_id, n_grams, n_contam,
    * contam_ratio).
    *
    * Plan: the benchmark gram set is tiny next to a training corpus, so it
    * broadcasts — the corpus side streams map-only through a broadcast left
    * join and one groupBy(doc_id); the 100 TB side is never shuffled on the
    * gram key. */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 4): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val cg = Dedup.shingles(corpus, idCol, textCol, n)
    val bg = Dedup.shingles(bench, idCol, textCol, n)
      .select($"s").distinct().withColumn("hit", lit(1L))
    cg.join(broadcast(bg), Seq("s"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce($"hit", lit(0L))).as("n_contam"))
      .withColumn("contam_ratio", $"n_contam".cast(DoubleType) / $"n_grams")
  }

  private def q60(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    decontaminate(docs.filter($"source" =!= "src0"), docs.filter($"source" === "src0"),
      "doc_id", "text").orderBy($"doc_id")
  }
  private val q60Sql =
    """WITH toks AS (SELECT doc_id, source, string_split_regex(trim(text), '\s+') t
      |              FROM documents),
      |g AS (SELECT doc_id, source,
      |        unnest(list_distinct(list_transform(range(1, greatest(len(t)-2,1)),
      |          i -> array_to_string(t[i:i+3], ' ')))) AS s
      |      FROM toks),
      |bg AS (SELECT DISTINCT s FROM g WHERE source = 'src0')
      |SELECT c.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN bg.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam,
      |  CAST(SUM(CASE WHEN bg.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
      |    AS contam_ratio
      |FROM (SELECT doc_id, s FROM g WHERE source <> 'src0') c
      |LEFT JOIN bg USING (s)
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Corpus mixing: deterministically subsample classes (sources, languages,
  // domains) to hit target mix proportions — the reweighting step between
  // curation and packing. The largest corpus satisfying the exact mix keeps
  // K = min_s(count_s / target_s) docs; class s keeps K·target_s of its
  // count_s, selected by content hash so membership is reproducible at any
  // scale and stable across reruns.

  /** Normalize target fractions to sum to 1. Entries are summed in
    * sorted-key order (a fixed fp addition order — Map iteration order must
    * never influence results in a bit-reproducible engine) and a sum that is
    * already exactly 1.0 is used as-is, so the common "fractions that look
    * like they sum to 1" case never picks up a ÷(1+ulp) perturbation. */
  private[graft] def normalizeTargets(targets: Map[String, Double]): Map[String, Double] = {
    val entries = targets.toSeq.sortBy(_._1)
    val tot = entries.map(_._2).sum
    if (tot == 1.0) targets
    else entries.map { case (k, v) => k -> v / tot }.toMap
  }

  /** Per-document keep decision under target class proportions. `targets`
    * maps class value → target fraction (need not sum to 1 — see
    * [[normalizeTargets]]); documents of classes absent from `targets` are
    * dropped from the output entirely. One tiny per-class count (collected —
    * #classes rows), then a map-only hash filter; the corpus is never
    * shuffled. Output: (doc_id, cls, keep). */
  def mixCorpus(df: DataFrame, idCol: String, textCol: String, classCol: String,
      targets: Map[String, Double], tag: String = ""): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val base = df.select(col(idCol).cast(LongType).as("doc_id"),
      col(textCol).as("text"), col(classCol).cast(StringType).as("cls"))
    val norm = normalizeTargets(targets)
    val counts = base.groupBy($"cls").agg(count(lit(1)).as("c")).collect()
      .map(r => r.getAs[String]("cls") -> r.getAs[Long]("c")).toMap
    val present = norm.filter { case (k, _) => counts.contains(k) }
    val kMax = present.map { case (k, t) => counts(k) / t }.min
    // integer thresholds out of 1e6: identical double arithmetic to the
    // oracle (count/target division, min, scale, floor) → identical bits
    val thr = present.map { case (k, t) =>
      k -> math.floor(1000000.0 * (kMax * t / counts(k))).toLong
    }
    val thrCol = thr.foldLeft(lit(null).cast(LongType)) { case (alt, (k, th)) =>
      when($"cls" === k, lit(th)).otherwise(alt)
    }
    base.withColumn("__thr", thrCol)
      .filter($"__thr".isNotNull) // classes without a target are dropped
      .withColumn("keep",
        when(md5Long(concat(lit(s"mix:$tag"), $"text")) % 1000000L < $"__thr", 1)
          .otherwise(0))
      .select($"doc_id", $"cls", $"keep")
  }

  private val mixTargets = Seq(
    "en" -> 0.5, "de" -> 0.2, "es" -> 0.15, "fr" -> 0.1, "zh" -> 0.05)
  // mixCorpus runs one per-class count job at plan-build; memoize the built
  // frame per (session, dir) so repeated builds don't re-count (q58 pattern)
  private def q63(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Memo.get(s, d, "curation.mix")(
      mixCorpus(Tables.documents(s, d), "doc_id", "text", "lang", mixTargets.toMap))
      .groupBy($"cls")
      .agg(count(lit(1)).as("total"), sum($"keep").as("kept"))
      .orderBy($"cls")
  }
  // the oracle receives the SAME normalized fractions mixCorpus computes
  // (inlined as round-trip double literals), so engine and oracle share
  // every input bit of the threshold arithmetic regardless of whether the
  // raw targets sum to 1.0
  private val q63Sql = {
    val norm = normalizeTargets(mixTargets.toMap)
    s"""WITH t(lang, tf) AS (VALUES ${mixTargets.map { case (l, _) =>
          s"('$l', CAST(${norm(l)} AS DOUBLE))" }.mkString(", ")}),
       |counts AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY 1),
       |k AS (SELECT MIN(CAST(c AS DOUBLE) / tf) AS kk FROM counts JOIN t USING (lang)),
       |thr AS (SELECT lang,
       |          CAST(floor(1000000.0 * ((SELECT kk FROM k) * tf / CAST(c AS DOUBLE)))
       |            AS BIGINT) AS th
       |        FROM counts JOIN t USING (lang))
       |SELECT d.lang AS cls, COUNT(*) AS total,
       |  CAST(SUM(CASE WHEN ${md5LongSql("'mix:' || text")} % 1000000 < thr.th
       |                THEN 1 ELSE 0 END) AS BIGINT) AS kept
       |FROM documents d JOIN thr ON d.lang = thr.lang
       |GROUP BY d.lang ORDER BY cls""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Composed quality filtering (C4-style): one map-only pass that applies
  // an ordered rule list and tags each document keep/drop with the first
  // failing rule as the reason — the audit trail curation jobs need.

  /** Apply ordered (name, dropWhen) rules; a document is dropped by the
    * first rule whose predicate holds. Map-only — at 100 TB this is a
    * streaming scan with no shuffle at all. Output: input columns renamed
    * to (doc_id, text) plus (keep, reason). */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
      rules: Seq[(String, Column)]): DataFrame = {
    val reason = rules.foldRight(lit(null).cast(StringType)) {
      case ((name, pred), alt) => when(pred, lit(name)).otherwise(alt)
    }
    normalized(df, idCol, textCol)
      .withColumn("reason", reason)
      .withColumn("keep", when(col("reason").isNull, 1).otherwise(0))
  }

  /** The default rule set over (doc_id, text): length floor, vocabulary
    * diversity (distinct-token ratio), and a stopword-presence floor. */
  def defaultRules: Seq[(String, Column)] = {
    val t = toks
    Seq(
      "too_short" -> (length(col("text")) < 100),
      "low_diversity" ->
        (size(array_distinct(t)).cast(DoubleType) / size(t) < 0.1),
      "no_stopwords" -> (regexp_count(col("text"), lit("\\b(the|a|or|and)\\b")) === 0))
  }

  private def q62(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    qualityFilter(Tables.documents(s, d), "doc_id", "text", defaultRules)
      .select($"doc_id", $"keep", $"reason")
      .orderBy($"doc_id")
  }
  private val q62Sql =
    """WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') tk
      |           FROM documents),
      |r AS (SELECT doc_id,
      |        CASE WHEN length(text) < 100 THEN 'too_short'
      |             WHEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) < 0.1
      |               THEN 'low_diversity'
      |             WHEN regexp_extract(text, '\b(the|a|or|and)\b') = '' THEN 'no_stopwords'
      |             ELSE NULL END AS reason
      |      FROM t)
      |SELECT doc_id, CASE WHEN reason IS NULL THEN 1 ELSE 0 END AS keep, reason
      |FROM r ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // PII redaction: the compliance pass every training-data pipeline runs
  // before packing. Map-only (count + replace per pattern, no shuffle at
  // any scale); patterns are chosen to mean the same thing in Java regex
  // (Spark) and RE2 (DuckDB) — no lookaround, no backreferences — so the
  // redacted bytes replicate bit-for-bit across engines.

  /** (name, pattern, replacement), applied in order. Counts are measured on
    * the ORIGINAL text; replacement is sequential. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\b\\d{3}-\\d{3,4}-\\d{4}\\b", "<PHONE>"))

  /** Redact PII occurrences in `textCol`. Output: (doc_id, text,
    * n_<name> per pattern, redacted). */
  /** Text canonicalization — the normalize-before-dedup stage: lowercase,
    * strip everything outside a conservative whitelist (ascii letters,
    * digits, basic punctuation, space), collapse whitespace runs, trim.
    * Two texts that differ only in case/spacing/exotic characters
    * canonicalize identically, so exact dedup on the normalized form
    * catches them. Map-only (zero shuffles at any scale); the whitelist
    * character class evaluates identically under Java regex and RE2, so
    * normal forms replicate across engines. Output: (doc_id, norm_text).
    */
  def normalizeText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    normalized(df, idCol, textCol)
      .select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 .,;:!?'-]", " "),
          "\\s+", " ")).as("norm_text"))

  def redactPii(df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[(String, String, String)] = piiPatterns): DataFrame = {
    val base = normalized(df, idCol, textCol)
    val counted = patterns.foldLeft(base) { case (d, (name, re, _)) =>
      d.withColumn(s"n_$name", regexp_count(col("text"), lit(re)).cast(IntegerType))
    }
    val redacted = patterns.foldLeft(col("text")) { case (c, (_, re, repl)) =>
      regexp_replace(c, lit(re), lit(repl))
    }
    counted.withColumn("redacted", redacted)
  }

  // q113 — canonicalization: normalized text fingerprint + length, and
  // whether normalization changed the document — the pre-dedup pass that
  // makes case/spacing variants hash-equal. Map-only.
  private def q113(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    normalizeText(Tables.documents(s, d), "doc_id", "text")
      .join(Tables.documents(s, d).select($"doc_id", $"text"), "doc_id")
      .select($"doc_id",
        md5($"norm_text").as("norm_fp"),
        length($"norm_text").as("n_chars_norm"),
        when($"norm_text" === $"text", 0).otherwise(1).as("changed"))
      .orderBy($"doc_id")
  }
  private val q113Sql =
    """WITH n AS (SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9 .,;:!?''-]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
      |  FROM documents)
      |SELECT doc_id, md5(norm_text) AS norm_fp,
      |  CAST(length(norm_text) AS INTEGER) AS n_chars_norm,
      |  CASE WHEN norm_text = text THEN 0 ELSE 1 END AS changed
      |FROM n ORDER BY doc_id""".stripMargin

  private def q64(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // the synthetic corpus contains no PII, which would make this gate
    // vacuous — derive a PII-bearing column from each row (identical
    // derivation in the oracle) so match/replace parity is exercised on
    // every row with row-varying content
    val enriched = Tables.documents(s, d).withColumn("text2",
      concat($"text", lit(" contact user"), $"doc_id",
        lit("@mail.example.org or 555-"),
        lpad(($"doc_id" % 10000).cast(StringType), 4, "0"),
        lit("-1234 at 10."), ($"doc_id" % 256).cast(StringType), lit(".0.7")))
    redactPii(enriched, "doc_id", "text2")
      .select($"doc_id", $"n_email", $"n_ip", $"n_phone",
        md5($"redacted").as("red_fp"))
      .orderBy($"doc_id")
  }
  private val q64Sql = {
    val Seq(email, ip, phone) = piiPatterns.map(_._2)
    s"""WITH e AS (SELECT doc_id,
       |  text || ' contact user' || doc_id || '@mail.example.org or 555-' ||
       |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-1234 at 10.' ||
       |  CAST(doc_id % 256 AS VARCHAR) || '.0.7' AS t FROM documents)
       |SELECT doc_id,
       | CAST(length(regexp_extract_all(t, '$email')) AS INTEGER) AS n_email,
       | CAST(length(regexp_extract_all(t, '$ip')) AS INTEGER) AS n_ip,
       | CAST(length(regexp_extract_all(t, '$phone')) AS INTEGER) AS n_phone,
       | md5(regexp_replace(regexp_replace(regexp_replace(t,
       |   '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$phone', '<PHONE>', 'g'))
       |   AS red_fp
       |FROM e ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Fixed-width overlapping chunking (the RAG / context-window prep step —
  // the sliding-window complement of packSequences' concatenate-then-chunk).

  /** Split every document into token windows of `width` tokens advancing by
    * `stride` (overlap = width − stride): chunk i covers tokens
    * [i·stride, min(i·stride + width, n)); the last chunk may be short; a
    * document of ≤ width tokens yields exactly one chunk. Output: (doc_id,
    * chunk_id, start_tok, n_chunk_toks), exact integers.
    *
    * Plan: map-only — a per-row token count plus an explode of the chunk
    * index sequence (≤ n/stride + 1 rows per doc, proportional to the
    * document's own size); no shuffle, no window, trivially partition-
    * parallel at any scale. */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
      width: Int = 64, stride: Int = 48): DataFrame = {
    require(width > 0 && stride > 0 && stride <= width,
      s"need 0 < stride <= width, got width=$width stride=$stride")
    val s = df.sparkSession
    import s.implicits._
    normalized(df, idCol, textCol)
      .select($"doc_id", size(toks).as("n"))
      .withColumn("n_chunks",
        expr(s"1 + (greatest(n - $width, 0) + ${stride - 1}) div $stride"))
      .select($"doc_id", $"n",
        explode(sequence(lit(0), ($"n_chunks" - 1).cast(IntegerType))).as("chunk_id"))
      .select($"doc_id", $"chunk_id",
        ($"chunk_id" * stride).as("start_tok"),
        least(lit(width), $"n" - $"chunk_id" * stride).cast(IntegerType).as("n_chunk_toks"))
  }

  private def q71(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    chunkDocs(Tables.documents(s, d), "doc_id", "text")
      .orderBy($"doc_id", $"chunk_id")
  }
  private val q71Sql =
    """WITH t AS (SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n
      |           FROM documents),
      |c AS (SELECT doc_id, n, 1 + (greatest(n - 64, 0) + 47) // 48 AS n_chunks FROM t)
      |SELECT doc_id, CAST(u.k AS INTEGER) AS chunk_id,
      |  CAST(u.k * 48 AS INTEGER) AS start_tok,
      |  CAST(least(64, n - u.k * 48) AS INTEGER) AS n_chunk_toks
      |FROM c, unnest(range(0, n_chunks)) u(k)
      |ORDER BY doc_id, chunk_id""".stripMargin

  // ---------------------------------------------------------------------
  // Quantile-threshold filtering & deterministic per-group sampling

  /** Keep rows whose `valueCol` is ≤ (or > with `keepBelow = false`) the
    * corpus-wide `pct`-th percentile — the "drop everything above p99
    * length" curation pass WITHOUT a global sort: the threshold comes from
    * the mergeable histogram sketch ([[Extended.histQuantilesAuto]], one
    * combiner-friendly aggregate; on a manifest-backed segment table the
    * bin range is metadata-only), then one map-only filter. The threshold
    * is a bin upper edge, so the kept set is deterministic and replicates
    * in any engine recomputing the same histogram; selection error is
    * bounded by one bin width (tighten with `bins`). */
  def filterByQuantile(df: DataFrame, valueCol: String, pct: Int,
      bins: Int = 4096, keepBelow: Boolean = true,
      bounds: Option[(Double, Double)] = None): DataFrame = {
    val est = Extended.histQuantilesAuto(df, valueCol, Seq(pct), bins,
        bounds = bounds)
      .head().getAs[Double]("est")
    if (keepBelow) df.filter(col(valueCol).cast(DoubleType) <= est)
    else df.filter(col(valueCol).cast(DoubleType) > est)
  }

  // q78 — quantile-threshold filter: documents at or below the p90 char
  // length, threshold from the histogram sketch (no global sort at any
  // scale). The oracle recomputes the identical IEEE histogram.
  private def q78(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    filterByQuantile(Tables.documents(s, d), "n_chars", pct = 90, bins = 2048)
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }
  private val q78Sql =
    """WITH s AS (SELECT CAST(min(n_chars) AS DOUBLE) AS lo,
      |                  CAST(max(n_chars) AS DOUBLE) AS hi FROM documents),
      |w AS (SELECT lo, CASE WHEN hi > lo THEN (hi - lo) / 2048 ELSE 1.0 END AS width
      |      FROM s),
      |b AS (SELECT CAST(least(greatest(floor((CAST(n_chars AS DOUBLE)
      |             - (SELECT lo FROM w)) / (SELECT width FROM w)), CAST(0 AS DOUBLE)),
      |             CAST(2047 AS DOUBLE)) AS INTEGER) AS bin
      |      FROM documents),
      |c AS (SELECT bin, COUNT(*) AS n FROM b GROUP BY 1),
      |cum AS (SELECT bin, SUM(n) OVER (ORDER BY bin
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c),
      |tot AS (SELECT COUNT(*) AS total FROM documents),
      |th AS (SELECT (SELECT lo FROM w) + (min(bin) + 1) * (SELECT width FROM w) AS t
      |       FROM cum, tot WHERE cum * 100 >= 90 * total)
      |SELECT doc_id, lang, n_chars FROM documents
      |WHERE CAST(n_chars AS DOUBLE) <= (SELECT t FROM th)
      |ORDER BY doc_id""".stripMargin

  /** Deterministic fixed-size sample per group: the `k` rows with the
    * highest md5-derived score (salted, reduced mod 2^50 so the long→
    * double path in the aggregate stays exact) in each `groupCols` group —
    * eval-set construction ("20 docs per language") that reproduces
    * bit-for-bit across engines, reruns, and partitionings. Output:
    * groupCols ++ (idCol, rank, smp_score); join back on `idCol` for the
    * full rows.
    *
    * Scale: one map-only score projection + the bounded [[Similarity
    * .topKPerKey]] aggregate — never a per-group window/sort, so a group
    * with 10⁹ members costs the same shuffle as one with 10³. */
  def samplePerGroup(df: DataFrame, groupCols: Seq[String], idCol: String,
      k: Int, salt: String = "smp"): DataFrame = {
    val scored = df.withColumn("smp_score",
      pmod(md5Long(concat_ws(":", lit(salt), col(idCol).cast(StringType))),
        lit(1L << 50)))
    Similarity.topKPerKey(scored, groupCols, idCol, "smp_score", k)
  }

  // q79 — 20 deterministic sample docs per language (rank = sample order).
  private def q79(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    samplePerGroup(Tables.documents(s, d), Seq("lang"), "doc_id", k = 20)
      .select($"lang", $"doc_id", $"rank")
      .orderBy($"lang", $"rank")
  }
  private val q79Sql =
    s"""WITH sc AS (SELECT lang, doc_id,
       |  (${md5LongSql("'smp:' || CAST(doc_id AS VARCHAR)")} % ${1L << 50}) AS score
       |  FROM documents),
       |r AS (SELECT lang, doc_id,
       |        ROW_NUMBER() OVER (PARTITION BY lang
       |          ORDER BY score DESC, doc_id ASC) AS rank
       |      FROM sc)
       |SELECT lang, doc_id, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 20 ORDER BY lang, rank""".stripMargin

  /** Deterministic weighted Bernoulli sampling: keeps each row with
    * probability `weightPpmCol`/10⁶ (parts-per-million, clamp upstream to
    * [0, 1e6]) — the quality-weighted corpus subsample ("keep good docs
    * more often") whose membership is a pure function of content:
    * md5(salt:id) mod 10⁶ < weight_ppm. Exact integer comparison, so the
    * kept set is bit-identical across engines, reruns and partitionings;
    * vary `salt` for independent draws. In expectation the sample holds
    * Σ weight_ppm/10⁶ rows and each row's inclusion is independent —
    * the Bernoulli complement of [[samplePerGroup]]'s fixed-k draw.
    *
    * Scale: map-only (one hash + one compare per row); no shuffle, no
    * state, trivially streamable. */
  def sampleByWeight(df: DataFrame, idCol: String, weightPpmCol: String,
      salt: String = "wsmp"): DataFrame =
    df.filter(
      pmod(md5Long(concat_ws(":", lit(salt), col(idCol).cast(StringType))),
        lit(1000000L)) < col(weightPpmCol).cast(LongType))

  // q114 — length-weighted corpus subsample: docs kept with probability
  // proportional to n_chars (capped at 1.0), deterministic by content hash.
  private def q114(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .withColumn("weight_ppm",
        least(lit(1000000L), $"n_chars".cast(LongType) * 2000L))
    sampleByWeight(docs, "doc_id", "weight_ppm")
      .select($"doc_id", $"lang", $"weight_ppm")
      .orderBy($"doc_id")
  }
  private val q114Sql =
    s"""SELECT doc_id, lang,
       |  least(1000000, CAST(n_chars AS BIGINT) * 2000) AS weight_ppm
       |FROM documents
       |WHERE (${md5LongSql("'wsmp:' || CAST(doc_id AS VARCHAR)")} % 1000000)
       |      < least(1000000, CAST(n_chars AS BIGINT) * 2000)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Corpus snapshot diff — dataset versioning's core primitive: what
  // changed between two corpus snapshots (crawl refresh, re-filter run)?

  /** Diff two corpus snapshots by content fingerprint. Output: one row per
    * doc id present in either snapshot — (doc_id, status) with status
    * `added` (new only), `removed` (old only), `changed` (both, different
    * text), `unchanged`. Feeding the `changed`+`added` set into the
    * dedup/quality pipeline is the standard incremental-refresh pattern:
    * re-process the delta, not the corpus.
    *
    * Plan: fingerprint map-side (md5 — no full-text shuffle), ONE full
    * outer equi-join on the id. At 100 TB both sides shuffle once on
    * doc_id (or zero times if both snapshots are bucketed by id — the
    * recommended layout for versioned corpora); no windows, no skew
    * (ids are unique per side). */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).cast(LongType).as("doc_id"),
      md5(col(textCol)).as("__ofp"))
    val n = newDf.select(col(idCol).cast(LongType).as("doc_id"),
      md5(col(textCol)).as("__nfp"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__ofp").isNull, lit("added"))
          .when(col("__nfp").isNull, lit("removed"))
          .when(col("__ofp") === col("__nfp"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  // q133 — snapshot diff: the "new" snapshot drops every 17th doc,
  // appends ' v2' to every 13th, and re-adds every 11th under a fresh id
  // (same derivation in the oracle), so all four statuses occur.
  private def q133(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val old = Tables.documents(s, d)
    val newSnap = old.filter($"doc_id" % 17 =!= 0)
      .select($"doc_id",
        when($"doc_id" % 13 === 0, concat($"text", lit(" v2")))
          .otherwise($"text").as("text"))
      .union(old.filter($"doc_id" % 11 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
    corpusDiff(old, newSnap, "doc_id", "text").orderBy($"doc_id")
  }
  private val q133Sql =
    """WITH newsnap AS (
      |  SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 17 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0),
      |o AS (SELECT doc_id, md5(text) AS ofp FROM documents),
      |n AS (SELECT doc_id, md5(text) AS nfp FROM newsnap)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       WHEN ofp = nfp THEN 'unchanged' ELSE 'changed' END AS status
      |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // Exact per-source token-budget take — "give me the first B tokens of
  // each source in deterministic priority order" (corpus mixing by token
  // budget, the unit LLM data recipes are actually written in — q63 mixes
  // by document PROPORTION; this caps absolute token VOLUME).

  /** Keep, per source, the priority-ordered prefix of documents whose
    * running token total stays ≤ `budgetTokens` (the first doc that would
    * cross the budget is dropped, as is everything after it). Priority is
    * a salted content-independent hash of the id — deterministic,
    * reproducible, and uncorrelated with document properties, so the
    * taken prefix is an unbiased subsample of the source.
    *
    * The running total is exact WITHOUT a source-keyed global window (a
    * source at 100 TB is one giant window partition — the classic
    * straggler): the priority hash is split into `numBuckets` ordered
    * high-bits buckets, so sorting by (bucket, pri) equals sorting by
    * pri. Per-(source, bucket) token sums (a combiner-friendly aggregate,
    * sources×buckets rows) get exclusive prefix offsets via a window over
    * that TINY frame; the exact within-bucket cumsum then runs in
    * parallel per bucket with the offset added back — a two-level
    * prefix-sum, each partition ~1/numBuckets of the source. Buckets
    * whose offset already exceeds the budget are filtered BEFORE the
    * within-bucket window (their rows can't survive), so work shrinks to
    * the kept prefix + one boundary bucket. Output: (doc_id, source,
    * toks, cum_tokens) for kept docs.
    *
    * Size `numBuckets` ≈ source_rows / 10⁷ at scale; 256 is fine to
    * ~10⁹-row sources. */
  def takeTokenBudget(df: DataFrame, idCol: String, sourceCol: String,
      tokensCol: String, budgetTokens: Long, numBuckets: Int = 256,
      salt: String = "tb"): DataFrame = {
    require(budgetTokens >= 0, "budget must be non-negative")
    require(numBuckets >= 1 && (numBuckets & (numBuckets - 1)) == 0 &&
      numBuckets <= (1 << 20), "numBuckets must be a power of two ≤ 2^20")
    // md5Long is 15 hex digits = 60 bits; bucket = the high log2(b) bits,
    // so (bucket, pri) and (pri) induce the SAME total order
    val bucketShift = 60 - java.lang.Integer.numberOfTrailingZeros(numBuckets)
    val base = df.select(col(idCol).cast(LongType).as("doc_id"),
        col(sourceCol).as("source"), col(tokensCol).cast(LongType).as("toks"))
      .withColumn("__pri",
        md5Long(concat(lit(s"$salt:"), col("doc_id").cast(StringType))))
      .withColumn("__bkt", shiftright(col("__pri"), bucketShift))
    val bucketSums = base.groupBy(col("source"), col("__bkt"))
      .agg(sum(col("toks")).as("__bsum"))
    // tiny frame: sources × numBuckets rows — the only window, bounded
    val w = Window.partitionBy(col("source")).orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = bucketSums
      .withColumn("__off", sum(col("__bsum")).over(w) - col("__bsum"))
      .filter(col("__off") <= budgetTokens)
      .select(col("source"), col("__bkt"), col("__off"))
    val wb = Window.partitionBy(col("source"), col("__bkt"))
      .orderBy(col("__pri"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(broadcast(offsets), Seq("source", "__bkt"))
      .withColumn("cum_tokens", sum(col("toks")).over(wb) + col("__off"))
      .filter(col("cum_tokens") <= budgetTokens)
      .select(col("doc_id"), col("source"), col("toks"), col("cum_tokens"))
  }

  /** Training-mix epoch planner: per-source token totals → the sampling
    * plan a weighted corpus mix implies under a total token budget and a
    * repetition (epoch) cap — the sheet LLM data recipes are written on
    * ("2 epochs of wiki, 0.3 of crawl"). Per source:
    * `target_tokens` = budget·weight/1e6, `epochs_ppm` =
    * min(maxEpochsPpm, target/tokens in ppm), `planned_tokens` =
    * tokens·epochs/1e6 — the REALIZED size, exposing under-filled
    * sources where the weight demands more repetition than the cap
    * allows. Exact integer/ppm arithmetic (DECIMAL(19,0)
    * cross-multiplies, the targetAffinity discipline) so the plan
    * replicates bit-for-bit across engines and reruns. Plan shape: one
    * combiner-friendly aggregate to #sources rows, then map-only
    * arithmetic — nothing scales with the corpus but the first pass. */
  def planEpochs(df: DataFrame, sourceCol: String, tokensCol: String,
      weightsPpm: Map[String, Long], budgetTokens: Long,
      maxEpochsPpm: Long = 4000000L): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens must be non-negative")
    require(maxEpochsPpm >= 0, "maxEpochsPpm must be non-negative")
    require(weightsPpm.values.forall(_ >= 0), "weights must be non-negative")
    val s = df.sparkSession
    import s.implicits._
    val w = weightsPpm.toSeq.toDF("source", "weight_ppm")
    df.select(col(sourceCol).as("source"),
        col(tokensCol).cast(LongType).as("__t"))
      .groupBy($"source").agg(sum($"__t").as("n_tokens"))
      .join(broadcast(w), Seq("source"), "left_outer")
      .withColumn("weight_ppm", coalesce($"weight_ppm", lit(0L)))
      .withColumn("target_tokens", expr(
        s"CAST(CAST($budgetTokens AS DECIMAL(19,0)) * weight_ppm" +
          " DIV 1000000 AS BIGINT)"))
      .withColumn("epochs_ppm", expr(
        s"CAST(CASE WHEN n_tokens = 0 THEN 0 ELSE LEAST(" +
          s"CAST($maxEpochsPpm AS DECIMAL(19,0))," +
          " CAST(target_tokens AS DECIMAL(19,0)) * 1000000 DIV n_tokens)" +
          " END AS BIGINT)"))
      .withColumn("planned_tokens", expr(
        "CAST(CAST(n_tokens AS DECIMAL(19,0)) * epochs_ppm" +
          " DIV 1000000 AS BIGINT)"))
  }

  /** Materialize an epoch plan ([[planEpochs]] output or any frame with
    * (source, epochs_ppm)): every doc of a source is emitted
    * ⌊epochs⌋ times, plus one more copy with probability frac(epochs)
    * decided by a deterministic salted id hash — so realized per-source
    * volume tracks `planned_tokens` while membership of the fractional
    * epoch is a pure function of (salt, doc_id): reproducible at any
    * scale, restartable, partitioning-invariant. Output: (doc_id,
    * source, epoch) with epoch = 0-based copy index. Map-only after a
    * broadcast of the #sources-row plan; sources absent from the plan
    * emit nothing. */
  def applyEpochPlan(df: DataFrame, idCol: String, sourceCol: String,
      plan: DataFrame, salt: String = "ep"): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val p = plan.select($"source", $"epochs_ppm")
    df.select(col(idCol).cast(LongType).as("doc_id"),
        col(sourceCol).as("source"))
      .join(broadcast(p), Seq("source"))
      .withColumn("__full", expr("epochs_ppm DIV 1000000"))
      .withColumn("epoch", explode(sequence(lit(0L), $"__full")))
      // the sequence over-emits one row per doc; it survives only if the
      // doc's hash falls inside the fractional epoch
      .filter($"epoch" < $"__full" ||
        md5Long(concat(lit(s"$salt:"), $"doc_id".cast(StringType)))
          % 1000000L < expr("epochs_ppm % 1000000"))
      .select($"doc_id", $"source", $"epoch")
  }

  // q244 — the epoch plan over the document corpus: n_chars as the token
  // unit, a fixed deterministic source-weight map (mirrored as a VALUES
  // list in the oracle), 1M-char budget, 2.5-epoch cap.
  private val epochWeights: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (((i % 7) + 1) * 30000L)).toMap
  private def q244(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    planEpochs(Tables.documents(s, d), "source", "n_chars", epochWeights,
        budgetTokens = 1000000L, maxEpochsPpm = 2500000L)
      .orderBy($"source")
  }
  /** Shared oracle CTE chain ending in `plan` — the SQL twin of the q244
    * planEpochs call, reused by q247's materialization oracle and (over
    * the cleaned corpus) q259's pipeline oracle. */
  private def epochPlanCteFrom(table: String) = {
    val values = epochWeights.toSeq.sorted
      .map { case (src, w) => s"('$src', ${w}::BIGINT)" }.mkString(", ")
    s"""tot AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
       |  FROM $table GROUP BY source),
       |w(source, weight_ppm) AS (VALUES $values),
       |plan AS (SELECT t.source, t.n_tokens,
       |  CAST(COALESCE(w.weight_ppm, 0) AS BIGINT) AS weight_ppm,
       |  CAST(1000000 * COALESCE(w.weight_ppm, 0) // 1000000 AS BIGINT)
       |    AS target_tokens,
       |  CAST(CASE WHEN t.n_tokens = 0 THEN 0 ELSE LEAST(2500000,
       |      (1000000 * COALESCE(w.weight_ppm, 0) // 1000000) * 1000000
       |        // t.n_tokens) END AS BIGINT) AS epochs_ppm,
       |  CAST(t.n_tokens * (CASE WHEN t.n_tokens = 0 THEN 0 ELSE
       |      LEAST(2500000, (1000000 * COALESCE(w.weight_ppm, 0) // 1000000)
       |        * 1000000 // t.n_tokens) END) // 1000000 AS BIGINT)
       |    AS planned_tokens
       |FROM tot t LEFT OUTER JOIN w ON t.source = w.source)""".stripMargin
  }
  private val epochPlanCte = epochPlanCteFrom("documents")
  private val q244Sql =
    s"""WITH $epochPlanCte
       |SELECT source, n_tokens, weight_ppm, target_tokens, epochs_ppm,
       |  planned_tokens
       |FROM plan ORDER BY source""".stripMargin

  // q247 — the plan MATERIALIZED (Curation.applyEpochPlan): ⌊epochs⌋
  // copies per doc plus a deterministic-hash fractional epoch; what the
  // trainer actually reads.
  private def q247(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val plan = planEpochs(docs, "source", "n_chars", epochWeights,
      budgetTokens = 1000000L, maxEpochsPpm = 2500000L)
    applyEpochPlan(docs, "doc_id", "source", plan)
      .orderBy($"doc_id", $"epoch")
  }
  // (a range() table-function join, not unnest-in-SELECT: DuckDB 1.x hits
  // an internal binder error when a WHERE references an unnest alias
  // carried through a CTE; the cross-join form binds fine and the static
  // bound is cap//1e6 + 1 epochs)
  private val q247Sql =
    s"""WITH $epochPlanCte,
       |rep AS (SELECT d.doc_id, d.source, r.ep, p.epochs_ppm
       |  FROM documents d JOIN plan p ON d.source = p.source
       |  CROSS JOIN range(0, ${2500000L / 1000000L + 1}) r(ep)
       |  WHERE r.ep <= p.epochs_ppm // 1000000)
       |SELECT doc_id, source, CAST(ep AS BIGINT) AS epoch
       |FROM rep
       |WHERE ep < epochs_ppm // 1000000
       |   OR ${md5LongSql("'ep:' || doc_id")} % 1000000
       |        < epochs_ppm % 1000000
       |ORDER BY doc_id, epoch""".stripMargin

  // q255 — plan + materialization reachable from Spark SQL TEXT alone
  // (the pure-SQL surface for the epoch-plan family, completing the
  // q253/q254 recipe set): the per-source token aggregate, the
  // weight-map VALUES list, the capped ppm-epoch plan, and the
  // ⌊epochs⌋-copies + deterministic-hash fractional-epoch expansion, in
  // ONE spark.sql statement over a registered documents view. Integer
  // bounds: budget·weight ≤ 2.1e11 here so plain BIGINT DIV arithmetic
  // is exact (the Scala API's DECIMAL guards exist for 10¹⁸-token
  // budgets; a SQL client at that scale wraps the products in
  // CAST(... AS DECIMAL(19,0)) the same way). Gate-proven equal to
  // q247's oracle, so the Scala API and the recipe cannot drift.
  private def epochMaterializeSparkSql(table: String): String = {
    val values = epochWeights.toSeq.sorted
      .map { case (src, w) => s"('$src', ${w}L)" }.mkString(", ")
    val md5l = "CAST(conv(substring(md5(concat('ep:', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    s"""WITH tot AS (
       |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
       |  FROM $table GROUP BY source),
       |w AS (SELECT * FROM VALUES $values AS w(source, weight_ppm)),
       |plan AS (
       |  SELECT t.source,
       |    CAST(CASE WHEN t.n_tokens = 0 THEN 0 ELSE LEAST(2500000L,
       |        (1000000L * COALESCE(w.weight_ppm, 0L) DIV 1000000L) * 1000000L
       |          DIV t.n_tokens) END AS BIGINT) AS epochs_ppm
       |  FROM tot t LEFT OUTER JOIN w ON t.source = w.source),
       |rep AS (
       |  SELECT d.doc_id, d.source, r.ep, p.epochs_ppm
       |  FROM $table d JOIN plan p ON d.source = p.source
       |  LATERAL VIEW explode(sequence(0L, ${2500000L / 1000000L})) r AS ep
       |  WHERE r.ep <= p.epochs_ppm DIV 1000000L)
       |SELECT doc_id, source, CAST(ep AS BIGINT) AS epoch
       |FROM rep
       |WHERE ep < epochs_ppm DIV 1000000L
       |   OR $md5l % 1000000L < epochs_ppm % 1000000L
       |ORDER BY doc_id, epoch""".stripMargin
  }
  private def q255(s: SparkSession, d: String): DataFrame = {
    Tables.registerViewOnce(s, d, "graft_documents")(Tables.documents(s, d))
    s.sql(epochMaterializeSparkSql("graft_documents"))
  }
  private val q255Sql = q247Sql

  // q259 — the END-TO-END curation pipeline as ONE gate entry: quality
  // filter (C4-style rules) → exact dedup keep-first among survivors →
  // exact decontamination against the held-out reference → epoch plan
  // over what remains. Each stage is individually oracled elsewhere
  // (q62/q33/q65/q244); this entry proves the stages COMPOSE — the
  // operators' (doc_id, keep/is_dup/in_ref) contracts chain through
  // joins without schema or semantic friction, which is how a real
  // pipeline consumes them. Plan shape: the whole funnel is three
  // map-side-combinable aggregates + semi-join-shaped filters before one
  // tiny per-source aggregate — no stage materializes anything wider
  // than (doc_id).
  private def q259(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val quality = Curation
      .qualityFilter(docs, "doc_id", "text", Curation.defaultRules)
      .filter($"keep" === 1).select($"doc_id")
    val survivors = docs.join(quality, "doc_id")
    val firstCopies = Dedup.exact(survivors, "doc_id", "text")
      .filter($"is_dup" === 0).select($"doc_id")
    val deduped = survivors.join(firstCopies, "doc_id")
    val ref = docs.filter($"doc_id" % 20 === 0)
    val uncontaminated = Dedup
      .exactAgainst(deduped, "doc_id", "text", ref, "text")
      .filter($"in_ref" === 0).select($"doc_id")
    val clean = deduped.join(uncontaminated, "doc_id")
    planEpochs(clean, "source", "n_chars", epochWeights,
        budgetTokens = 1000000L, maxEpochsPpm = 2500000L)
      .orderBy($"source")
  }
  private val q259Sql =
    s"""WITH q AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      CASE WHEN length(text) < 100 THEN 'too_short'
       |           WHEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) < 0.1
       |             THEN 'low_diversity'
       |           WHEN regexp_extract(text, '\\b(the|a|or|and)\\b') = ''
       |             THEN 'no_stopwords'
       |           ELSE NULL END AS reason
       |    FROM (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') tk
       |          FROM documents))
       |  WHERE reason IS NULL),
       |s AS MATERIALIZED (SELECT d.* FROM documents d JOIN q USING (doc_id)),
       |dd AS MATERIALIZED (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon
       |    FROM s)
       |  WHERE doc_id = canon),
       |ref AS MATERIALIZED (
       |  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 20 = 0),
       |clean AS MATERIALIZED (
       |  SELECT s.* FROM s JOIN dd USING (doc_id)
       |  WHERE md5(s.text) NOT IN (SELECT h FROM ref)),
       |${epochPlanCteFrom("clean")}
       |SELECT source, n_tokens, weight_ppm, target_tokens, epochs_ppm,
       |  planned_tokens
       |FROM plan ORDER BY source""".stripMargin

  // q134 — token-budget mixing: the first 4k chars of every source in
  // hash-priority order (n_chars as the token weight — the weight column
  // is the caller's choice). Output size is budget-bounded at ANY sf.
  private def q134(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    takeTokenBudget(Tables.documents(s, d), "doc_id", "source", "n_chars",
        budgetTokens = 4000L)
      .orderBy($"doc_id")
  }
  private val q134Sql =
    s"""WITH pri AS (SELECT doc_id, source, n_chars,
       |    ${md5LongSql("'tb:' || CAST(doc_id AS VARCHAR)")} AS pri
       |  FROM documents),
       |c AS (SELECT doc_id, source, n_chars,
       |    SUM(n_chars) OVER (PARTITION BY source ORDER BY pri, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM pri)
       |SELECT doc_id, source, n_chars AS toks, CAST(cum AS BIGINT) AS cum_tokens
       |FROM c WHERE cum <= 4000 ORDER BY doc_id""".stripMargin

  /** Deterministic train/val/test assignment: hash-bucket each row into
    * ppm-of-100 bands (train < `trainPct` ≤ val < `trainPct`+`valPct` ≤
    * test). Map-only, zero shuffle, streamable, stable across reruns and
    * engines (md5-prefix hash) — the split a 100 TB corpus can recompute
    * row-local on every read instead of materializing an assignment table. */
  def splitAssign(df: DataFrame, idCol: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100)
    val b = md5Long(concat(lit("split:"), col(idCol).cast(StringType))) % 100L
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Leakage-safe split: [[splitAssign]] keyed by the near-dup CLUSTER
    * (canonical_id from [[Dedup.clusters]]) instead of the document, so
    * near-duplicates can never straddle train/test — the classic
    * eval-contamination trap a doc-keyed split walks into (a test doc's
    * near-copy trains the model). Same map-only hash semantics; the only
    * added cost is the id→canonical join, and the cluster frame is the
    * pipeline's existing dedup artifact. `clustersDf` need not cover every
    * row: docs absent from it (singletons — [[Dedup.clusters]] only emits
    * near-dup members) become their own canonical, so no row is silently
    * dropped. Output: df columns + canonical_id + split. */
  def splitByCluster(df: DataFrame, idCol: String, clustersDf: DataFrame,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val withC = df.join(
      clustersDf.select(col("doc_id").as("__did"), col("canonical_id").as("__cid")),
      col(idCol) === col("__did"), "left_outer")
      .withColumn("canonical_id", coalesce(col("__cid"), col(idCol)))
      .drop("__did", "__cid")
    splitAssign(withC, "canonical_id", trainPct, valPct)
  }

  // q158 — split the corpus 80/10/10 and report per-(split, lang) volume:
  // the sanity table every training run prints before it starts.
  private def q158(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    splitAssign(Tables.documents(s, d), "doc_id")
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
      .orderBy($"split", $"lang")
  }
  private val q158Sql =
    s"""SELECT CASE WHEN ${md5LongSql("'split:' || doc_id")} % 100 < 80 THEN 'train'
       |            WHEN ${md5LongSql("'split:' || doc_id")} % 100 < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |  lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
       |FROM documents
       |GROUP BY 1, 2
       |ORDER BY split, lang""".stripMargin

  // q200 — pipeline report card: the one-row certificate a curation run
  // prints at the end — corpus size, near-dup share (q47's clusters),
  // benchmark contamination (q65's probe), and the train/val/test split —
  // every number produced by the engine's own memoized stages, joined as
  // 1-row broadcast frames.
  private def q200(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val base = docs.agg(count(lit(1)).as("n_docs"),
      sum($"n_chars").as("total_chars"))
    val dups = Text.queries("q47_dedup_clusters")(s, d)
      .agg(sum($"is_dup".cast(LongType)).as("n_dups"))
    val ref = docs.filter($"doc_id" % 20 === 0)
    val cont = graft.operators.Dedup
      .exactAgainst(docs, "doc_id", "text", ref, "text")
      .agg(sum($"in_ref".cast(LongType)).as("n_contaminated"))
    val splits = splitAssign(docs, "doc_id")
      .agg(sum(when($"split" === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when($"split" === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when($"split" === "test", 1L).otherwise(0L)).as("n_test"))
    base.join(broadcast(dups)).join(broadcast(cont)).join(broadcast(splits))
      .select($"n_docs", $"total_chars", $"n_dups",
        expr("n_dups * 1000000 DIV n_docs").cast(LongType).as("dup_ppm"),
        $"n_contaminated",
        expr("n_contaminated * 1000000 DIV n_docs").cast(LongType)
          .as("contaminated_ppm"),
        $"n_train", $"n_val", $"n_test")
  }
  private val q200Sql =
    s"""WITH RECURSIVE ${Text.closureCtes},
       |dup AS (SELECT CAST(SUM(CASE WHEN coalesce(c.lbl, d.doc_id) <> d.doc_id
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
       |  FROM documents d LEFT OUTER JOIN comp c ON d.doc_id = c.n),
       |ref AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 20 = 0),
       |cont AS (SELECT CAST(SUM(CASE WHEN r.h IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_contaminated
       |  FROM documents d LEFT JOIN ref r ON md5(d.text) = r.h),
       |sp AS (SELECT
       |    SUM(CASE WHEN ${md5LongSql("'split:' || doc_id")} % 100 < 80
       |      THEN 1 ELSE 0 END) AS n_train,
       |    SUM(CASE WHEN ${md5LongSql("'split:' || doc_id")} % 100 >= 80
       |      AND ${md5LongSql("'split:' || doc_id")} % 100 < 90
       |      THEN 1 ELSE 0 END) AS n_val,
       |    SUM(CASE WHEN ${md5LongSql("'split:' || doc_id")} % 100 >= 90
       |      THEN 1 ELSE 0 END) AS n_test
       |  FROM documents),
       |base AS (SELECT COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT)
       |    AS total_chars FROM documents)
       |SELECT n_docs, total_chars, n_dups,
       |  CAST(n_dups * 1000000 // n_docs AS BIGINT) AS dup_ppm,
       |  n_contaminated,
       |  CAST(n_contaminated * 1000000 // n_docs AS BIGINT) AS contaminated_ppm,
       |  CAST(n_train AS BIGINT) AS n_train, CAST(n_val AS BIGINT) AS n_val,
       |  CAST(n_test AS BIGINT) AS n_test
       |FROM base CROSS JOIN dup CROSS JOIN cont CROSS JOIN sp""".stripMargin

  // ---------------------------------------------------------------------
  // Target-domain affinity scoring — data selection by hashed n-gram
  // bucket statistics: how much does each document look like the target
  // domain, relative to the corpus at large? The exact-integer counterpart
  // of classifier/importance-based selection (hashed features as in DSIR,
  // Xie et al. 2023 — but scored with integer ppm count ratios rather than
  // a float log-likelihood product, so results replicate bit-for-bit and
  // oracle in SQL).

  /** Per-document target-affinity score: n-grams hash into `buckets`
    * md5-derived feature buckets; each bucket's affinity is the
    * add-one-smoothed ppm ratio of its target-corpus instance share vs its
    * whole-corpus share, scaled so a bucket distributed like the corpus
    * scores ~1e6; a document scores the gram-count-weighted mean of its
    * buckets' affinities. Select top-n by score (or threshold) to enrich
    * toward the target domain. `isTargetCol` is any 0/1 (or boolean-castable)
    * column marking the target exemplars. Output: (doc_id, n_grams,
    * affinity_ppm) for every document with at least one gram.
    *
    * Precondition: `isTargetCol` is constant per document id. The rollup
    * carries a doc's flag as max(); the plan also carries min() and fails
    * (raise_error, in the scoring pass — no extra job) when a doc id has
    * rows with differing flags, instead of silently scoring it as a
    * target.
    *
    * Plan: ONE corpus gram pass, collapsed immediately to the
    * (doc, bucket) grain — ≤ #docs × `buckets` rows; the bucket stats,
    * the LUT and the scoring all derive from that small frame (round 18:
    * the stats and scoring consumers used to each re-derive the corpus
    * gram relation — two tokenize+hash passes for one of information;
    * the guide-§8 move is to decide on small rows). Per-doc-bucket
    * counts lose nothing: every gram instance in (doc, b) has the doc's
    * own `__tgt` and the bucket's affinity, so Σ over instances ≡
    * Σ nb·x over (doc, bucket) rows — same integers. No joins that
    * scale with the corpus; the LUT is bucket-sized. */
  def targetAffinity(df: DataFrame, idCol: String, textCol: String,
      isTargetCol: String, n: Int = 2, buckets: Int = 64): DataFrame = {
    require(n >= 1 && buckets >= 1,
      s"need n >= 1 and buckets >= 1, got $n/$buckets")
    val s = df.sparkSession
    import s.implicits._
    val grams = Text.gramRows(
        df.select(col(idCol).cast(LongType).as("doc_id"),
          col(textCol).as("text"),
          col(isTargetCol).cast(IntegerType).as("__tgt")),
        n, carryCols = Seq("__tgt"))
      .withColumn("__b", pmod(md5Long($"gram"), lit(buckets.toLong)))
    // the one corpus-sized pass: gram instances per (doc, bucket);
    // __tgt is doc-constant, so max() carries it exactly (min() rides
    // along for the precondition check in the scoring pass). SNAPPED (the
    // q139 materialized-rollup pattern, lazily): the stats and scoring
    // consumers prune different columns, which splits a lazy shared
    // aggregate back into two corpus passes (verified on the --exec
    // final plan — two differently-pruned scans); the snap runs the
    // gram pass once and both consumers read the ≤ #docs × buckets
    // snapshot.
    val per = grams.groupBy($"doc_id", $"__b")
      .agg(count(lit(1)).as("__nb"), max($"__tgt").cast(LongType).as("__tgt"),
        min($"__tgt").cast(LongType).as("__tmin"))
      .localCheckpoint(eager = false)
    val stats = per.groupBy($"__b").agg(
      sum($"__tgt" * $"__nb").as("__t"),
      sum($"__nb").as("__c"))
    val tot = stats.agg(sum($"__t").as("__tt"), sum($"__c").as("__ct"))
    // affinity_ppm(b) = share-of-target ppm over share-of-corpus, add-one
    // smoothed: ((t_b+1) * (ct+buckets) * 1e6) DIV ((c_b+1) * (tt+buckets)).
    // DECIMAL(19,0) operands keep the cross-multiplies exact to ~1e15 gram
    // instances (a LONG product wraps past ~9e12) and match DuckDB's
    // HUGEINT widening bit-for-bit.
    val lut = stats.crossJoin(broadcast(tot))
      .select($"__b",
        expr(s"(CAST(__t + 1 AS DECIMAL(19,0)) * CAST(__ct + $buckets AS DECIMAL(19,0)) * 1000000)" +
          s" DIV (CAST(__c + 1 AS DECIMAL(19,0)) * CAST(__tt + $buckets AS DECIMAL(19,0)))")
          .cast(LongType).as("__aff"))
    per.join(broadcast(lut), "__b")
      .groupBy($"doc_id")
      .agg(sum($"__nb").as("n_grams"), sum($"__nb" * $"__aff").as("__sum"),
        max($"__tgt").as("__tmax"), min($"__tmin").as("__tmin"))
      .filter(when($"__tmax" =!= $"__tmin", raise_error(concat(
        lit(s"targetAffinity: $isTargetCol differs within doc id "),
        $"doc_id".cast(StringType)))).otherwise(lit(true)))
      .select($"doc_id", $"n_grams",
        expr("__sum DIV n_grams").cast(LongType).as("affinity_ppm"))
  }

  // q239 — target-domain selection scores: src0 as the target exemplar
  // set, bigram buckets; high scorers are the docs to up-sample when
  // enriching a mix toward the target domain.
  private def q239(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    targetAffinity(Tables.documents(s, d)
        .withColumn("is_tgt", when($"source" === "src0", 1).otherwise(0)),
        "doc_id", "text", "is_tgt", n = 2, buckets = 64)
      .orderBy($"doc_id")
  }
  private val q239Sql = {
    val b = 64
    s"""WITH toks AS (SELECT doc_id, source,
       |    string_split_regex(trim(text), '\\s+') t FROM documents),
       |g AS (SELECT doc_id,
       |    CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS tgt,
       |    ${md5LongSql(s"array_to_string(t[i:i+1], ' ')")} % $b AS bkt
       |  FROM toks, unnest(range(1, len(t))) u(i)),
       |stats AS (SELECT bkt, CAST(SUM(tgt) AS BIGINT) AS tb,
       |    COUNT(*) AS cb FROM g GROUP BY bkt),
       |tot AS (SELECT SUM(tb) AS tt, SUM(cb) AS ct FROM stats),
       |lut AS (SELECT bkt,
       |    CAST(((tb + 1) * (ct + $b) * 1000000) // ((cb + 1) * (tt + $b))
       |      AS BIGINT) AS aff
       |  FROM stats CROSS JOIN tot)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |  CAST(SUM(aff) // COUNT(*) AS BIGINT) AS affinity_ppm
       |FROM g JOIN lut USING (bkt)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Global total-order rank + contiguous shard assignment — curriculum
  // ordering ("train on short/clean docs first") and contiguous training
  // shards cut from a corpus-wide sort. The naive formulation is
  // `row_number() OVER (ORDER BY score)`: one partition-less window that
  // funnels 100 TB through a single task. This is the scalable
  // re-expression: range-bucket by score, rank within buckets, add
  // broadcast bucket offsets.

  /** Global 0-based rank of every row by (`scoreCol`, `idCol`) — the id
    * breaks ties, making the order total and the result deterministic —
    * plus contiguous shards of `shardSize` rows cut along that order.
    * Output: input id + score columns + (rank, shard_id, row_in_shard).
    *
    * Plan: `approxQuantile` yields ~`buckets` score cut points (a bounded
    * driver collect — the sketch, not the data); each row buckets map-only
    * against the broadcast thresholds; rank = per-BUCKET window (bounded
    * ≈ n/buckets rows, never the whole relation) + cumulative bucket
    * offsets (a `buckets`-row frame). Result is invariant to the sampled
    * thresholds: buckets are ordered and disjoint, so offset + local rank
    * is THE global rank whatever the boundaries sampled. Size `buckets`
    * ≈ cluster parallelism at scale; a near-constant score column
    * degenerates to few buckets — rank by a discriminating score. */
  def rankAndShard(df: DataFrame, idCol: String, scoreCol: String,
      shardSize: Long = 10000L, buckets: Int = 32): DataFrame = {
    require(shardSize >= 1L && buckets >= 1,
      s"need shardSize >= 1 and buckets >= 1, got $shardSize/$buckets")
    val s = df.sparkSession
    import s.implicits._
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val th = df.select(col(scoreCol).cast(DoubleType).as("__s"))
      .stat.approxQuantile("__s", probs, 0.001).distinct.sorted
    val bucketOf = th.foldLeft(lit(0)) { (acc, t) =>
      acc + when(col(scoreCol).cast(DoubleType) > t, 1).otherwise(0)
    }
    val wb = Window.partitionBy($"__bucket")
      .orderBy(col(scoreCol), col(idCol))
    val local = df.withColumn("__bucket", bucketOf)
      .withColumn("__local", row_number().over(wb).cast(LongType))
    // bucket offsets: a <=buckets-row frame; the global orderBy window on
    // it is bounded by construction (audited pattern)
    val offsets = local.groupBy($"__bucket").agg(count(lit(1)).as("__n"))
      .withColumn("__offset", coalesce(sum($"__n").over(
        Window.orderBy($"__bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"__bucket", $"__offset")
    local.join(broadcast(offsets), "__bucket")
      .withColumn("rank", $"__offset" + $"__local" - 1L)
      .withColumn("shard_id", expr(s"rank DIV ${shardSize}L"))
      .withColumn("row_in_shard", expr(s"rank % ${shardSize}L"))
      .drop("__bucket", "__local", "__offset")
  }

  // q235 — curriculum shards: corpus ranked by length (short-first
  // curriculum), cut into contiguous 50-doc shards. The oracle is the
  // single-window formulation the operator refuses to run.
  private def q235(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    rankAndShard(Tables.documents(s, d).select($"doc_id", $"n_chars"),
        "doc_id", "n_chars", shardSize = 50L, buckets = 8)
      .select($"doc_id", $"n_chars", $"rank", $"shard_id", $"row_in_shard")
      .orderBy($"rank")
  }
  private val q235Sql =
    """WITH ranked AS (SELECT doc_id, n_chars,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS rank
      |  FROM documents)
      |SELECT doc_id, n_chars, rank,
      |  CAST(rank // 50 AS BIGINT) AS shard_id,
      |  CAST(rank % 50 AS BIGINT) AS row_in_shard
      |FROM ranked ORDER BY rank""".stripMargin

  // ---------------------------------------------------------------------
  // Snapshot distribution drift — the monitoring counterpart of
  // corpusDiff: WHERE did the corpus composition move between two
  // snapshots, not just which rows changed. The classic score is PSI;
  // PSI needs ln() (libm-drifty across engines), so the exact-integer
  // score here is total-variation distance over ppm shares — the same
  // ordering signal for "did the mix shift", reproducible bit-for-bit
  // (the scaled-integer-idf treatment from tfidfTopK/bm25TopK).

  /** Per-bucket distribution drift between two snapshots over a
    * categorical (or pre-bucketed) column: each side's count and
    * 1e6-scaled share, plus the absolute share delta. Buckets present on
    * only one side surface with 0 on the other — disappearing and novel
    * categories are exactly the drift worth flagging. Output:
    * (bucket, old_n, new_n, old_ppm, new_ppm, delta_ppm).
    *
    * Scale: one combiner-friendly aggregate per snapshot (shuffle keyed
    * on the bucket value), a full-outer equi-join on bucket (#buckets
    * rows), and the two totals as 1-row broadcasts. The totals are
    * derived from the counted aggregates (#buckets rows each), not from
    * a second pass over the raw inputs — the shared aggregate subtree is
    * deduplicated by ReuseExchange, so each 100 TB snapshot is scanned
    * exactly once. Nothing collects to the driver. */
  def distributionDrift(oldDf: DataFrame, newDf: DataFrame,
      bucketCol: String): DataFrame = {
    def counted(df: DataFrame, n: String): DataFrame =
      df.groupBy(col(bucketCol).as("bucket")).agg(count(lit(1)).as(n))
    val oldC = counted(oldDf, "old_n")
    val newC = counted(newDf, "new_n")
    def total(c: DataFrame, n: String, t: String): DataFrame =
      c.agg(coalesce(sum(col(n)), lit(0L)).as(t))
    oldC.join(newC, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("old_n", "new_n"))
      .crossJoin(broadcast(total(oldC, "old_n", "__ot")))
      .crossJoin(broadcast(total(newC, "new_n", "__nt")))
      .select(col("bucket"), col("old_n"), col("new_n"),
        expr("CASE WHEN __ot = 0 THEN 0L ELSE old_n * 1000000L DIV __ot END")
          .as("old_ppm"),
        expr("CASE WHEN __nt = 0 THEN 0L ELSE new_n * 1000000L DIV __nt END")
          .as("new_ppm"))
      .withColumn("delta_ppm", abs(col("old_ppm") - col("new_ppm")))
  }

  /** Numeric-feature variant: buckets are `valueCol DIV bucketWidth`
    * (equi-width histogram), then [[distributionDrift]]. */
  def numericDrift(oldDf: DataFrame, newDf: DataFrame, valueCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be positive")
    def bucketed(df: DataFrame) = df.select(
      expr(s"CAST($valueCol AS BIGINT) DIV ${bucketWidth}L").as("bucket"))
    distributionDrift(bucketed(oldDf), bucketed(newDf), "bucket")
  }

  /** One-row drift certificate from a [[distributionDrift]] table:
    * bucket count, both totals, and the total-variation distance in ppm
    * (`Σ|old_ppm − new_ppm| DIV 2` — 0 = identical mix, 1e6 = disjoint).
    * Alert on `tv_ppm` crossing a threshold; read the per-bucket table
    * for the why. */
  def driftSummary(drift: DataFrame): DataFrame =
    drift.agg(count(lit(1)).as("n_buckets"),
      sum(col("old_n")).as("old_total"), sum(col("new_n")).as("new_total"),
      expr("SUM(delta_ppm) DIV 2").as("tv_ppm"))

  // q262 — language-mix drift between two synthetic snapshots of the
  // corpus (new snapshot drops every 7th doc and relabels every 13th to
  // a novel language): the per-bucket drift table a curation run checks
  // before accepting a refreshed crawl.
  private def q262(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val newSnap = docs.filter($"doc_id" % 7 =!= 0)
      .select(when($"doc_id" % 13 === 0, lit("xx"))
        .otherwise($"lang").as("lang"))
    distributionDrift(docs.select($"lang"), newSnap, "lang")
      .withColumnRenamed("bucket", "lang")
      .orderBy($"lang")
  }
  private val q262Sql =
    """WITH n0 AS (SELECT CASE WHEN doc_id % 13 = 0 THEN 'xx' ELSE lang END AS lang
      |  FROM documents WHERE doc_id % 7 <> 0),
      |o AS (SELECT lang, COUNT(*) AS old_n FROM documents GROUP BY lang),
      |n AS (SELECT lang, COUNT(*) AS new_n FROM n0 GROUP BY lang),
      |ot AS (SELECT COUNT(*) AS t FROM documents),
      |nt AS (SELECT COUNT(*) AS t FROM n0)
      |SELECT COALESCE(o.lang, n.lang) AS lang,
      |  CAST(COALESCE(old_n, 0) AS BIGINT) AS old_n,
      |  CAST(COALESCE(new_n, 0) AS BIGINT) AS new_n,
      |  CAST(COALESCE(old_n, 0) * 1000000 // ot.t AS BIGINT) AS old_ppm,
      |  CAST(COALESCE(new_n, 0) * 1000000 // nt.t AS BIGINT) AS new_ppm,
      |  CAST(ABS(COALESCE(old_n, 0) * 1000000 // ot.t
      |         - COALESCE(new_n, 0) * 1000000 // nt.t) AS BIGINT) AS delta_ppm
      |FROM o FULL OUTER JOIN n ON o.lang = n.lang, ot, nt
      |ORDER BY lang""".stripMargin

  // q263 — length-distribution drift certificate: equi-width n_chars
  // histogram (width 100) between the corpus and a short-doc-skewed
  // snapshot (drops odd-id docs over the median-ish 300 chars), reduced
  // to the one-row TV summary a monitoring job alerts on.
  private def q263(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val newSnap = docs.filter(!($"n_chars" > 300L && $"doc_id" % 2 === 1))
    driftSummary(numericDrift(docs, newSnap, "n_chars", bucketWidth = 100L))
  }
  private val q263Sql =
    """WITH n0 AS (SELECT n_chars // 100 AS bucket FROM documents
      |  WHERE NOT (n_chars > 300 AND doc_id % 2 = 1)),
      |o AS (SELECT n_chars // 100 AS bucket, COUNT(*) AS old_n
      |  FROM documents GROUP BY 1),
      |n AS (SELECT bucket, COUNT(*) AS new_n FROM n0 GROUP BY bucket),
      |ot AS (SELECT COUNT(*) AS t FROM documents),
      |nt AS (SELECT COUNT(*) AS t FROM n0),
      |drift AS (SELECT
      |    COALESCE(old_n, 0) * 1000000 // ot.t AS old_ppm,
      |    COALESCE(new_n, 0) * 1000000 // nt.t AS new_ppm
      |  FROM o FULL OUTER JOIN n ON o.bucket = n.bucket, ot, nt)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS old_total,
      |  (SELECT CAST(COUNT(*) AS BIGINT) FROM n0) AS new_total,
      |  CAST(SUM(ABS(old_ppm - new_ppm)) // 2 AS BIGINT) AS tv_ppm
      |FROM drift""".stripMargin

  // ---------------------------------------------------------------------
  // Exact-quota stratified split — the contract-eval counterpart of the
  // map-only threshold split (splitAssign/q158): per stratum, EXACTLY
  // ⌊n·ppm/1e6⌋ docs land in each named split (threshold splits are only
  // binomially close, which a 1k-doc per-language eval set can't accept).

  /** Within each stratum, rank docs by a salted deterministic hash and
    * assign the first ⌊n·ppm₁/1e6⌋ to splits(0), the next ⌊n·ppm₂/1e6⌋ to
    * splits(1), …; the LAST split takes the remainder (pass it as the
    * train split). Re-running with the same salt reproduces the exact
    * assignment — eval membership is stable across pipeline reruns.
    * Output: (idCol, strataCol, split).
    *
    * Scale: ONE keyed window pass — the rank within stratum and the
    * stratum count ride the same partition-by-strata shuffle (rank via
    * the ordered frame, count via the unbounded frame), so the input is
    * evaluated exactly once: a non-deterministic source (sampled /
    * freshly-shuffled) cannot make the quotas disagree with the ranked
    * row set. The per-stratum sort is the cost, bounded by the largest
    * stratum (the audited keyed-window class); `maxStratumRows` makes
    * that boundary ENFORCED — a stratum past the knob fails loudly with
    * a pointer to [[splitAssign]], the map-only threshold split that is
    * the mega-strata escape hatch (exactness is what the window buys). */
  def evalSplitExact(df: DataFrame, idCol: String, strataCol: String,
      splits: Seq[(String, Long)], salt: String = "esx",
      maxStratumRows: Long = 500000000L): DataFrame = {
    require(splits.size >= 2, "need at least two named splits")
    require(splits.map(_._2).sum <= 1000000L, "split ppms exceed 1e6")
    require(splits.forall(_._2 >= 0L), "split ppms must be non-negative")
    require(maxStratumRows >= 1L, "maxStratumRows must be positive")
    val h = md5Long(concat(lit(s"$salt:"), col(idCol).cast(StringType)))
    val byStratum = Window.partitionBy(col(strataCol))
    val ranked = df.select(col(idCol), col(strataCol))
      .withColumn("__r", row_number().over(
        byStratum.orderBy(h, col(idCol))) - 1L)
      .withColumn("__n", count(lit(1)).over(byStratum))
    // cumulative ⌊quota⌋ thresholds; the last split is the catch-all
    val cums = splits.init.scanLeft(lit(0L): Column) { case (acc, (_, ppm)) =>
      acc + expr(s"__n * ${ppm}L DIV 1000000L")
    }.tail
    val assign = splits.init.zip(cums).foldRight(
        lit(splits.last._1): Column) { case (((name, _), cum), rest) =>
      when(col("__r") < cum, lit(name)).otherwise(rest)
    }
    val guarded = when(col("__n") > lit(maxStratumRows), raise_error(concat(
      lit("evalSplitExact: stratum "), col(strataCol).cast(StringType),
      lit(" has "), col("__n").cast(StringType),
      lit(s" rows > maxStratumRows=$maxStratumRows; use splitAssign" +
        " (map-only threshold split) for mega-strata")))).otherwise(assign)
    ranked.select(col(idCol), col(strataCol), guarded.as("split"))
  }

  // q264 — exact-quota 10/10/80 split stratified by language, reported
  // per (lang, split): quotas are exact per stratum by construction,
  // which the counts table makes visible. The oracle is the same rank
  // formulation in DuckDB SQL.
  private def q264(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    evalSplitExact(Tables.documents(s, d), "doc_id", "lang",
        Seq("test" -> 100000L, "val" -> 100000L, "train" -> 800000L))
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"split")
  }
  private val q264Sql =
    s"""WITH ranked AS (SELECT lang,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY ${md5LongSql("'esx:' || doc_id")}, doc_id) - 1 AS r,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN r < n * 100000 // 1000000 THEN 'test'
       |       WHEN r < n * 100000 // 1000000 + n * 100000 // 1000000 THEN 'val'
       |       ELSE 'train' END AS split,
       |  COUNT(*) AS n_docs
       |FROM ranked
       |GROUP BY 1, 2
       |ORDER BY lang, split""".stripMargin

  // q265 — the q262 drift table reachable from Spark SQL TEXT alone (the
  // q253–q261 pure-SQL client-surface pattern): same two bucket
  // aggregates, #buckets-row full-outer join, cross-joined 1-row totals
  // and integer-DIV ppm shares, in ONE spark.sql statement over a
  // registered documents view. Gated by q262's exact oracle, so the
  // Scala API and the SQL recipe cannot drift apart.
  private def q265(s: SparkSession, d: String): DataFrame = {
    Tables.registerViewOnce(s, d, "graft_documents")(Tables.documents(s, d))
    s.sql(
      """WITH n0 AS (SELECT CASE WHEN doc_id % 13 = 0 THEN 'xx' ELSE lang END AS lang
        |  FROM graft_documents WHERE doc_id % 7 <> 0),
        |o AS (SELECT lang, COUNT(*) AS old_n FROM graft_documents GROUP BY lang),
        |n AS (SELECT lang, COUNT(*) AS new_n FROM n0 GROUP BY lang),
        |ot AS (SELECT COUNT(*) AS t FROM graft_documents),
        |nt AS (SELECT COUNT(*) AS t FROM n0)
        |SELECT COALESCE(o.lang, n.lang) AS lang,
        |  COALESCE(old_n, 0L) AS old_n,
        |  COALESCE(new_n, 0L) AS new_n,
        |  COALESCE(old_n, 0L) * 1000000L DIV ot.t AS old_ppm,
        |  COALESCE(new_n, 0L) * 1000000L DIV nt.t AS new_ppm,
        |  ABS(COALESCE(old_n, 0L) * 1000000L DIV ot.t
        |    - COALESCE(new_n, 0L) * 1000000L DIV nt.t) AS delta_ppm
        |FROM o FULL OUTER JOIN n ON o.lang = n.lang
        |CROSS JOIN ot CROSS JOIN nt
        |ORDER BY lang""".stripMargin)
  }
  private val q265Sql = q262Sql

  // q267 — the q263 numeric-drift TV certificate reachable from Spark
  // SQL TEXT alone (q265's pattern for the numeric variant): DIV-width
  // histogram buckets on both snapshots, full-outer bucket join,
  // integer-DIV ppm shares, one-row TV summary — one spark.sql
  // statement over the registered documents view, gated by q263's exact
  // oracle so the Scala API and the SQL recipe cannot drift apart.
  private def q267(s: SparkSession, d: String): DataFrame = {
    Tables.registerViewOnce(s, d, "graft_documents")(Tables.documents(s, d))
    s.sql(
      """WITH n0 AS (SELECT n_chars DIV 100L AS bucket FROM graft_documents
        |  WHERE NOT (n_chars > 300L AND doc_id % 2 = 1)),
        |o AS (SELECT n_chars DIV 100L AS bucket, COUNT(*) AS old_n
        |  FROM graft_documents GROUP BY 1),
        |n AS (SELECT bucket, COUNT(*) AS new_n FROM n0 GROUP BY bucket),
        |ot AS (SELECT COUNT(*) AS t FROM graft_documents),
        |nt AS (SELECT COUNT(*) AS t FROM n0),
        |drift AS (SELECT
        |    COALESCE(old_n, 0L) * 1000000L DIV ot.t AS old_ppm,
        |    COALESCE(new_n, 0L) * 1000000L DIV nt.t AS new_ppm
        |  FROM o FULL OUTER JOIN n ON o.bucket = n.bucket
        |  CROSS JOIN ot CROSS JOIN nt)
        |SELECT COUNT(*) AS n_buckets,
        |  (SELECT COUNT(*) FROM graft_documents) AS old_total,
        |  (SELECT COUNT(*) FROM n0) AS new_total,
        |  SUM(ABS(old_ppm - new_ppm)) DIV 2 AS tv_ppm
        |FROM drift""".stripMargin)
  }
  private val q267Sql = q263Sql

  // ---------------------------------------------------------------------
  // Temperature-scaled source mixing — the multilingual sampling
  // convention (weights ∝ n^α, α ∈ (0,1]): flattens the class
  // distribution so high-resource sources stop dominating the mix
  // without starving them entirely. α is taken as 1/b, b ∈ {1,2,3,4}
  // (the practitioner range α = 1 … 0.25), because floor(n^(1/b)) is
  // computable EXACTLY in integers on both engines — the house rule that
  // keeps the certificate bit-reproducible without libm pow.

  /** Exact floor(n^(1/b)) for b ∈ {1,2,3,4}: a double-seeded root plus a
    * ±1 integer correction. floor(sqrt(double(n))) is within one of the
    * true integer root for any count that fits a double's exact-integer
    * range (and counts are row counts — fine up to ~4e18); the correction
    * compares exact integer powers, so the result is exact, and the SAME
    * three-step expression runs in the oracle. The 4th root is
    * isqrt∘isqrt (floor roots compose). */
  private def iroot(n: Column, b: Int): Column = {
    // power comparisons run in DECIMAL: (isqrt(Long.Max)+1)² overflows
    // LONG, and ANSI mode makes that a query error, not a wrap
    def d(c: Column): Column = c.cast(DecimalType(20, 0))
    b match {
      case 1 => n
      case 2 =>
        val s0 = floor(sqrt(n.cast(DoubleType))).cast(LongType)
        val s1 = when(d(s0) * d(s0) > d(n), s0 - 1L).otherwise(s0)
        when(d(s1 + 1L) * d(s1 + 1L) <= d(n), s1 + 1L).otherwise(s1)
      case 3 =>
        val c0 = floor(cbrt(n.cast(DoubleType))).cast(LongType)
        val c1 = when(d(c0) * d(c0) * d(c0) > d(n), c0 - 1L).otherwise(c0)
        when(d(c1 + 1L) * d(c1 + 1L) * d(c1 + 1L) <= d(n), c1 + 1L)
          .otherwise(c1)
      case 4 => iroot(iroot(n, 2), 2)
      case _ => throw new IllegalArgumentException(s"unsupported root $b")
    }
  }

  /** Temperature-scaled class shares: per class, its size `n` (row count,
    * or Σ`weightCol` — pass token counts for token-proportional mixing),
    * the exact integer weight `floor(n^(1/rootB))`, and the 1e6-scaled
    * share of the weighted total. Feed the shares to [[mixCorpus]] /
    * [[planEpochs]] as targets to materialize the tempered mix.
    *
    * Scale: one combiner-friendly aggregate keyed on the class, the
    * weighted total as a 1-row broadcast derived from the SAME aggregate
    * (ReuseExchange — the class table is scanned once), everything else
    * map-side on #classes rows. Output: (cls, n, weight, share_ppm). */
  def temperatureShares(df: DataFrame, classCol: String, rootB: Int,
      weightCol: Option[String] = None): DataFrame = {
    require(Seq(1, 2, 3, 4).contains(rootB), "rootB must be 1, 2, 3 or 4")
    val agg = weightCol.map(c => sum(col(c).cast(LongType)))
      .getOrElse(count(lit(1)))
    val counts = df.groupBy(col(classCol).cast(StringType).as("cls"))
      .agg(agg.as("n"))
    // fails-LOUDLY contract: with a weightCol, a class whose Σweight is
    // negative (bad weights) or NULL (all-NULL weights) would feed
    // sqrt/cbrt a negative/NULL — NaN → cast 0 → the ±1 correction yields
    // -1 — i.e. garbage weights and shares instead of an error
    val checked = counts.withColumn("n",
      when(col("n").isNull || col("n") < 0L, raise_error(concat(
        lit("temperatureShares: class "),
        coalesce(col("cls"), lit("NULL")),
        lit(" has NULL or negative size "),
        coalesce(col("n").cast(StringType), lit("NULL")))))
        .otherwise(col("n")))
    val w = checked.withColumn("weight", iroot(col("n"), rootB))
    val tot = w.agg(coalesce(sum(col("weight")), lit(0L)).as("__tw"))
    w.crossJoin(broadcast(tot))
      .select(col("cls"), col("n"), col("weight"),
        expr("CASE WHEN __tw = 0 THEN 0L ELSE weight * 1000000L DIV __tw END")
          .as("share_ppm"))
  }

  // q269 — α = 1/2 temperature shares of the corpus by language, doc-
  // and size-weighted (n_chars, the token-count proxy this schema
  // carries) side by side: the exact-integer certificate a multilingual
  // pretraining mix is planned from. The oracle runs the identical
  // seeded-isqrt-plus-correction arithmetic.
  private def q269(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val byDocs = temperatureShares(docs, "lang", rootB = 2)
      .select($"cls", $"n".as("n_docs"), $"weight".as("w_docs"),
        $"share_ppm".as("doc_share_ppm"))
    val byChars = temperatureShares(docs, "lang", rootB = 2,
        weightCol = Some("n_chars"))
      .select($"cls", $"n".as("n_chars"), $"weight".as("w_chars"),
        $"share_ppm".as("char_share_ppm"))
    byDocs.join(byChars, "cls").orderBy($"cls")
  }
  private val q269Sql =
    """WITH c AS (SELECT lang AS cls, COUNT(*) AS nd, SUM(n_chars) AS nt
      |  FROM documents GROUP BY 1),
      |s AS (SELECT cls, nd, nt,
      |    CAST(FLOOR(SQRT(CAST(nd AS DOUBLE))) AS BIGINT) AS d0,
      |    CAST(FLOOR(SQRT(CAST(nt AS DOUBLE))) AS BIGINT) AS t0 FROM c),
      |s2 AS (SELECT cls, nd, nt,
      |    CASE WHEN d0 * d0 > nd THEN d0 - 1 ELSE d0 END AS d1,
      |    CASE WHEN t0 * t0 > nt THEN t0 - 1 ELSE t0 END AS t1 FROM s),
      |w AS (SELECT cls, nd, nt,
      |    CASE WHEN (d1 + 1) * (d1 + 1) <= nd THEN d1 + 1 ELSE d1 END AS wd,
      |    CASE WHEN (t1 + 1) * (t1 + 1) <= nt THEN t1 + 1 ELSE t1 END AS wt
      |  FROM s2),
      |t AS (SELECT SUM(wd) AS twd, SUM(wt) AS twt FROM w)
      |SELECT cls, CAST(nd AS BIGINT) AS n_docs, CAST(wd AS BIGINT) AS w_docs,
      |  CAST(wd * 1000000 // twd AS BIGINT) AS doc_share_ppm,
      |  CAST(nt AS BIGINT) AS n_chars, CAST(wt AS BIGINT) AS w_chars,
      |  CAST(wt * 1000000 // twt AS BIGINT) AS char_share_ppm
      |FROM w CROSS JOIN t ORDER BY cls""".stripMargin

  /** Materialize the tempered mix: per-document keep decision whose
    * expected per-class kept count is ∝ n^(1/rootB) — the scarcest class
    * (min n/weight) is kept in full, every other class downsampled to
    * match. Thresholds are EXACT integers end to end: the scarcest class
    * is found by cross-multiplied BigInt fraction comparison (never a
    * double ratio — two classes whose ratios differ at the 1e-18 level
    * still order correctly), and thr_c = ⌊1e6·w_c·n_k / (w_k·n_c)⌋ in
    * BigInt, so the decision replicates bit-for-bit in any engine. The
    * keep hash salts the DOCUMENT ID (deterministic across reruns and
    * engines). Output: (doc_id, cls, keep).
    *
    * Scale: one combiner aggregate collected at #classes rows (the
    * [[mixCorpus]] convention), then a map-only BROADCAST join of the
    * #classes-row threshold frame plus the hash filter — the corpus is
    * never shuffled, and a high-cardinality class column (100 K domains)
    * broadcasts fine where a folded CASE chain over #classes would blow
    * up the expression tree / codegen. */
  def temperatureMix(df: DataFrame, idCol: String, classCol: String,
      rootB: Int, tag: String = ""): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val sh = temperatureShares(df, classCol, rootB)
      .select($"cls", $"n", $"weight").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .filter(_._3 > 0L) // weight 0 (empty class) can't anchor or keep
      // a NULL class can neither anchor (the lexicographic tie-break has
      // no order for it) nor match the threshold join — its rows fall
      // through with keep 0, same as the docs say for absent classes
      .filter(_._1 != null)
    require(sh.nonEmpty, "no non-empty classes")
    // scarcest class: argmin n/weight by exact cross-multiplication
    // (ties break to the lexicographically-smallest class, as the oracle's
    // NOT EXISTS does)
    val (_, nk, wk) = sh.reduceLeft { (a, b) =>
      val cmp = (BigInt(a._2) * b._3) compare (BigInt(b._2) * a._3)
      if (cmp < 0 || (cmp == 0 && a._1 <= b._1)) a else b
    }
    val thr = sh.map { case (c, n, w) =>
      c -> (BigInt(1000000L) * w * nk / (BigInt(wk) * n)).min(1000000L).toLong
    }
    // LEFT broadcast join (not a folded CASE chain): a class absent from
    // the threshold frame (weight 0, or a NULL class value) gets a NULL
    // threshold — the keep compare is then NULL → keep 0, the row is
    // retained, exactly the old CASE-chain fallthrough semantics
    val thrDf = broadcast(thr.toSeq.toDF("cls", "__thr"))
    df.select(col(idCol).cast(LongType).as("doc_id"),
        col(classCol).cast(StringType).as("cls"))
      .join(thrDf, Seq("cls"), "left")
      .withColumn("keep",
        when(md5Long(concat(lit(s"tmix:$tag"), col("doc_id").cast(StringType)))
          % 1000000L < col("__thr"), 1).otherwise(0))
      .select(col("doc_id"), col("cls"), col("keep"))
  }

  // q270 — the α = 1/2 tempered mix MATERIALIZED over the corpus,
  // reported per class: the scarcest language survives whole, the rest
  // downsample toward ∝ √n. The oracle finds the anchor class by exact
  // pairwise cross-multiplication (NOT EXISTS over #classes² integer
  // compares) and replays the identical BigInt threshold floor.
  private def q270(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    temperatureMix(Tables.documents(s, d), "doc_id", "lang", rootB = 2)
      .groupBy($"cls")
      .agg(count(lit(1)).as("total"), sum($"keep").as("kept"))
      .orderBy($"cls")
  }
  private val q270Sql =
    s"""WITH c AS (SELECT lang AS cls, COUNT(*) AS n FROM documents GROUP BY 1),
       |s0 AS (SELECT cls, n, CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS r0 FROM c),
       |s1 AS (SELECT cls, n, CASE WHEN r0 * r0 > n THEN r0 - 1 ELSE r0 END AS r1 FROM s0),
       |sh AS (SELECT cls, n,
       |    CASE WHEN (r1 + 1) * (r1 + 1) <= n THEN r1 + 1 ELSE r1 END AS w
       |  FROM s1 WHERE n > 0),
       |k AS (SELECT n AS nk, w AS wk FROM sh a WHERE NOT EXISTS (
       |    SELECT 1 FROM sh b WHERE b.n * a.w < a.n * b.w
       |      OR (b.n * a.w = a.n * b.w AND b.cls < a.cls))),
       |thr AS (SELECT cls, LEAST(1000000,
       |    1000000 * w * (SELECT nk FROM k) // ((SELECT wk FROM k) * n)) AS th
       |  FROM sh)
       |SELECT d.lang AS cls, COUNT(*) AS total,
       |  CAST(SUM(CASE WHEN ${md5LongSql("'tmix:' || doc_id")} % 1000000 < thr.th
       |           THEN 1 ELSE 0 END) AS BIGINT) AS kept
       |FROM documents d JOIN thr ON d.lang = thr.cls
       |GROUP BY d.lang ORDER BY cls""".stripMargin

  // q271 — the FULL multilingual pretraining recipe as one gated entry:
  // temperature shares (α = 1/2 over per-language char mass) become the
  // weight map of an epoch plan under a char budget and a repetition cap,
  // and the plan is MATERIALIZED (⌊epochs⌋ copies + deterministic-hash
  // fractional epoch). q269/q244/q247 gate the stages; this proves they
  // COMPOSE — shares flow into planEpochs' weight contract and the plan
  // into applyEpochPlan without schema or semantic friction. Reported as
  // the per-class volume certificate (copies, distinct docs, deepest
  // epoch); the oracle replays the identical isqrt-share → capped-ppm-plan
  // → hash-materialize arithmetic end to end. Plan shape: ONE corpus-wide
  // class aggregate collected at #classes rows (the mixCorpus convention)
  // feeds BOTH the weight map and — replayed as a local frame — the epoch
  // plan's token stats, then a broadcast join + map-only explode over the
  // corpus; the only other corpus-wide work is the final summary
  // aggregate. Two full passes total, the 100 TB floor for
  // stats-then-materialize.
  private def q271(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val shRows = temperatureShares(docs, "lang", rootB = 2,
        weightCol = Some("n_chars"))
      .select($"cls", $"n", $"share_ppm").collect()
    val weights = shRows.map(r => r.getString(0) -> r.getLong(2)).toMap
    // the shares collect already carries each class's exact token mass, so
    // the epoch plan aggregates the #classes-row LOCAL frame instead of
    // re-scanning the corpus — the composition costs TWO corpus-wide
    // passes (stats + materialize), not three; at 100 TB the saved
    // aggregate is a whole scan
    val stats = shRows.map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("source", "n")
    // 175 K-char budget: at the gate scales this lands per-language
    // epochs at ~0.8–1.5 — some languages floor at 1 full copy + a
    // fractional epoch, others are fractional-only — so the gate
    // exercises BOTH the repetition and the subsample face of the
    // materializer (a larger budget caps every language and the
    // fractional hash never fires)
    val plan = planEpochs(stats, "source", "n", weights,
      budgetTokens = 175000L, maxEpochsPpm = 3000000L)
    applyEpochPlan(docs, "doc_id", "lang", plan, salt = "tep")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_copies"),
        countDistinct($"doc_id").as("n_docs"),
        max($"epoch").as("max_epoch"))
      .select($"source".as("cls"), $"n_copies", $"n_docs", $"max_epoch")
      .orderBy($"cls")
  }
  private val q271Sql =
    s"""WITH c AS (SELECT lang AS cls, SUM(n_chars) AS n FROM documents GROUP BY 1),
       |s0 AS (SELECT cls, n, CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS r0 FROM c),
       |s1 AS (SELECT cls, n, CASE WHEN r0 * r0 > n THEN r0 - 1 ELSE r0 END AS r1 FROM s0),
       |sh AS (SELECT cls, n,
       |    CASE WHEN (r1 + 1) * (r1 + 1) <= n THEN r1 + 1 ELSE r1 END AS w
       |  FROM s1),
       |t AS (SELECT SUM(w) AS tw FROM sh),
       |shares AS (SELECT cls, n, w * 1000000 // (SELECT tw FROM t) AS share_ppm
       |  FROM sh),
       |plan AS (SELECT cls, LEAST(3000000,
       |    (175000 * share_ppm // 1000000) * 1000000 // n) AS epochs_ppm
       |  FROM shares),
       |rep AS (SELECT d.doc_id, d.lang, r.ep, p.epochs_ppm
       |  FROM documents d JOIN plan p ON d.lang = p.cls
       |  CROSS JOIN range(0, ${3000000L / 1000000L + 1}) r(ep)
       |  WHERE r.ep <= p.epochs_ppm // 1000000),
       |mat AS (SELECT doc_id, lang, ep FROM rep
       |  WHERE ep < epochs_ppm // 1000000
       |     OR ${md5LongSql("'tep:' || doc_id")} % 1000000 < epochs_ppm % 1000000)
       |SELECT lang AS cls, COUNT(*) AS n_copies,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(MAX(ep) AS BIGINT) AS max_epoch
       |FROM mat GROUP BY 1 ORDER BY cls""".stripMargin

  // ---------------------------------------------------------------------
  // Manifest-count drift — the metadata-only member of the drift family.

  private def stripScheme(p: String): String =
    p.replaceFirst("^[A-Za-z][A-Za-z0-9+.\\-]*:(//[^/]*)?", "")

  private def segmentOf(root: String, file: String): String = {
    val f = stripScheme(file)
    val r = stripScheme(root).stripSuffix("/")
    val rel = if (f.startsWith(r)) f.substring(r.length).stripPrefix("/") else f
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** Per-segment row-count drift between two manifest-backed snapshots,
    * answered ENTIRELY from the two manifests ([[graft.storage.Segments
    * .readManifest]]): no data file is opened, so the check costs
    * O(#segments) driver-side work regardless of table bytes — the
    * reference's InfoSegment metadata fast path (SURVEY.md §4.2) applied
    * to monitoring, and the cheap preflight a curation run fires before
    * paying for a full [[distributionDrift]] scan. Segments are keyed by
    * their path relative to each snapshot root with the leaf file name
    * dropped (i.e. the Hive partition directory): partition dirs are
    * data-determined and survive rewrites, while leaf names are write
    * UUIDs. Files sharing a key sum; a flat unpartitioned table collapses
    * to one "" row — the total-rows drift. Output: (segment, old_rows,
    * new_rows, delta_rows), a side without the segment contributing 0.
    * The result is a LocalRelation — the #segments rows the planner
    * already holds — so downstream joins against it broadcast for free. */
  def manifestCountDrift(spark: SparkSession, oldDir: String,
      newDir: String): DataFrame = {
    import spark.implicits._
    def perSeg(dir: String): Map[String, Long] =
      graft.storage.Segments.readManifest(dir)
        .groupBy(fs => segmentOf(dir, fs.file))
        .view.mapValues(_.map(_.rows).sum).toMap
    val o = perSeg(oldDir)
    val n = perSeg(newDir)
    (o.keySet ++ n.keySet).toSeq.sorted.map { k =>
      val a = o.getOrElse(k, 0L)
      val b = n.getOrElse(k, 0L)
      (k, a, b, b - a)
    }.toDF("segment", "old_rows", "new_rows", "delta_rows")
  }

  // q268 — manifest-count drift end-to-end: two partitioned segment
  // snapshots of the documents table (new one drops every 7th doc — the
  // q262 convention) are written ONCE (memoized per (session, dir)) with
  // manifests, then the drift table is read from metadata alone. The
  // oracle recomputes the per-bucket counts from the raw table, so the
  // gate proves the manifests carry exactly the truth the data holds.
  // The snapshots are a Memo fixture: Memo deletes the temp dir on
  // invalidate, at context end and at JVM exit.
  private def q268(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = Memo.get(s, d, "curation.segSnap") {
      val t = Memo.tempDir("graft_segdrift_")
      val docs = Tables.documents(s, d)
        .select($"doc_id", ($"doc_id" % 8).as("seg"))
      docs.write.partitionBy("seg").parquet(t.resolve("old"))
      docs.filter($"doc_id" % 7 =!= 0).write.partitionBy("seg")
        .parquet(t.resolve("new"))
      graft.storage.Segments.buildManifest(s, t.resolve("old"), Nil)
      graft.storage.Segments.buildManifest(s, t.resolve("new"), Nil)
      t
    }
    manifestCountDrift(s, root.resolve("old"), root.resolve("new"))
      .orderBy($"segment")
  }
  private val q268Sql =
    """WITH o AS (SELECT doc_id % 8 AS b, COUNT(*) AS old_rows
      |  FROM documents GROUP BY 1),
      |n AS (SELECT doc_id % 8 AS b, COUNT(*) AS new_rows
      |  FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1)
      |SELECT 'seg=' || CAST(o.b AS VARCHAR) AS segment,
      |  CAST(old_rows AS BIGINT) AS old_rows,
      |  CAST(COALESCE(new_rows, 0) AS BIGINT) AS new_rows,
      |  CAST(COALESCE(new_rows, 0) - old_rows AS BIGINT) AS delta_rows
      |FROM o LEFT JOIN n ON o.b = n.b
      |ORDER BY segment""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q267_numeric_drift_pure_sql" -> q267,
    "q268_manifest_count_drift" -> q268,
    "q269_temperature_shares" -> q269,
    "q270_temperature_mix" -> q270,
    "q271_tempered_epochs" -> q271,
    "q265_drift_pure_sql" -> q265,
    "q262_drift_by_lang" -> q262,
    "q263_drift_tv_summary" -> q263,
    "q264_eval_split_exact" -> q264,
    "q239_target_affinity" -> q239,
    "q244_epoch_plan" -> q244,
    "q247_epoch_materialize" -> q247,
    "q255_epoch_pure_sql" -> q255,
    "q259_curation_pipeline" -> q259,
    "q235_curriculum_shards" -> q235,
    "q200_report_card" -> q200,
    "q158_split_assign" -> q158,
    "q133_corpus_diff" -> q133,
    "q134_token_budget" -> q134,
    "q78_quantile_filter" -> q78,
    "q114_weighted_sample" -> q114,
    "q79_sample_per_group" -> q79,
    "q57_boilerplate_removal" -> q57,
    "q58_tfidf_topk" -> q58,
    "q59_pack_sequences" -> q59,
    "q60_decontaminate" -> q60,
    "q62_quality_filter" -> q62,
    "q63_mix_sources" -> q63,
    "q64_pii_redact" -> q64,
    "q113_normalize_text" -> q113,
    "q71_chunk_overlap" -> q71,
  )

  val oracles: Map[String, String] = Map(
    "q267_numeric_drift_pure_sql" -> q267Sql,
    "q268_manifest_count_drift" -> q268Sql,
    "q269_temperature_shares" -> q269Sql,
    "q270_temperature_mix" -> q270Sql,
    "q271_tempered_epochs" -> q271Sql,
    "q265_drift_pure_sql" -> q265Sql,
    "q262_drift_by_lang" -> q262Sql,
    "q263_drift_tv_summary" -> q263Sql,
    "q264_eval_split_exact" -> q264Sql,
    "q244_epoch_plan" -> q244Sql,
    "q247_epoch_materialize" -> q247Sql,
    "q255_epoch_pure_sql" -> q255Sql,
    "q259_curation_pipeline" -> q259Sql,
    "q239_target_affinity" -> q239Sql,
    "q235_curriculum_shards" -> q235Sql,
    "q200_report_card" -> q200Sql,
    "q158_split_assign" -> q158Sql,
    "q133_corpus_diff" -> q133Sql,
    "q134_token_budget" -> q134Sql,
    "q78_quantile_filter" -> q78Sql,
    "q114_weighted_sample" -> q114Sql,
    "q79_sample_per_group" -> q79Sql,
    "q57_boilerplate_removal" -> q57Sql,
    "q58_tfidf_topk" -> q58Sql,
    "q59_pack_sequences" -> q59Sql,
    "q60_decontaminate" -> q60Sql,
    "q62_quality_filter" -> q62Sql,
    "q63_mix_sources" -> q63Sql,
    "q64_pii_redact" -> q64Sql,
    "q113_normalize_text" -> q113Sql,
    "q71_chunk_overlap" -> q71Sql,
  )
}
