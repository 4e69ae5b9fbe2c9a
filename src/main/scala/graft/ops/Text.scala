package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables.t

/** Text-analysis operators for a training-data pipeline over `documents`:
  * token counting (whitespace + BPE-ish regex), quality scoring, language
  * ID (stopword/n-gram heuristic), and rolling-hash fingerprinting.
  *
  * All operators are single-pass, codegen-friendly column expressions
  * (split / higher-order functions / regexp_count — no UDFs), so at 100 TB
  * they run as a map-only stage over the document scan with no shuffle
  * until the final (small) aggregate.
  */
object Text {

  /** Whitespace tokens of a trimmed document. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** BPE-ish subword count estimate: letter runs, single digits, and
    * punctuation each count as one token (a common pre-tokenizer shape). */
  def bpeishCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"))

  /** Per-language stopword profiles for the heuristic language scorer. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "you", "that"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "du", "que", "est"),
    "es" -> Seq("el", "la", "y", "los", "de", "un", "una", "que", "es", "en"),
    "de" -> Seq("der", "die", "und", "das", "ein", "eine", "zu", "ist", "nicht", "mit"),
    "zh" -> Nil) // zh is detected by CJK codepoints, not stopwords

  /** Count of tokens contained in `words` (built-in `filter` HOF). */
  def stopwordHits(toks: Column, words: Seq[String]): Column =
    if (words.isEmpty) lit(0)
    else size(filter(toks, w => w.isInCollection(words)))

  /** CJK codepoint count — the n-gram signal for zh. */
  def cjkChars(c: Column): Column =
    length(c) - length(regexp_replace(c, "[\\u4e00-\\u9fff]", ""))

  // Conservative regexes (plain classes + quantifiers, no alternation or
  // backreferences) so Java regex (Spark) and RE2 (DuckDB) match the same
  // spans — the property the oracle relies on.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"

  /** Canonical text normalization (the CCNet/Dolma-style cleanup pass):
    * collapse whitespace runs, trim, lowercase. */
  def normalize(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** PII redaction: emails and URLs replaced by stable tags — runs as two
    * codegen'd regexp_replace passes, map-only at any scale. */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), UrlRe, "<URL>")

  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PhoneRe = "\\+[0-9]{1,3} [0-9]{3} [0-9]{3} [0-9]{4}"

  /** Full PII pass: emails, URLs, international phone numbers, IPv4
    * addresses — four chained codegen'd regexp_replace passes (order
    * matters: URLs before IPs so an address inside a URL redacts as part
    * of the URL). Still map-only, zero shuffle, at any scale. */
  def redactPiiFull(c: Column): Column =
    regexp_replace(
      regexp_replace(redactPii(c), PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** Corpus-level BOILERPLATE removal — the C4/RefinedWeb repeated-line
    * filter: a line occurring in at least `minDocs` DISTINCT documents
    * (nav bars, cookie banners, license headers) is dropped from every
    * document; each document is rebuilt from its surviving lines in
    * original order. Output: (idCol, n_kept, clean_text) — documents
    * whose every line was boilerplate drop out entirely.
    *
    * 100 TB shape: one partial-aggregated groupBy(line) for document
    * frequencies, then an ANTI join of the lines against only the
    * boilerplate SET — by definition at most totalLines/minDocs distinct
    * lines, in practice tiny, so Spark broadcasts it — and one shuffle
    * by document id to reassemble. The hot-line skew an equi-join-back
    * would suffer never materializes: boilerplate lines are dropped by
    * the broadcast anti join map-side. */
  def removeBoilerplate(docs: DataFrame, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol), posexplode(split(col(textCol), "\n")))
      .toDF(idCol, "pos", "line")
    // the common minDocs=2 threshold is just "appears in ≥2 distinct
    // docs" ⟺ min(id) ≠ max(id): plain partial-aggregable min/max
    // instead of count_distinct's Expand + two-phase distinct aggregate;
    // every other threshold keeps the honest distinct count (which, like
    // min/max, ignores null ids: a line seen only under null ids has
    // df = 0, so it is never boilerplate for minDocs >= 1)
    val boiler = (if (minDocs == 2)
        lines.groupBy("line")
          .agg(min(col(idCol)).as("mn"), max(col(idCol)).as("mx"))
          .filter(col("mx") > col("mn"))
      else
        lines.groupBy("line")
          .agg(countDistinct(col(idCol)).as("df"))
          .filter(col("df") >= minDocs))
      .select("line")
    lines.join(boiler, Seq("line"), "left_anti")
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_kept"),
        // ordered rebuild without a window: collect (pos, line) structs,
        // array_sort is deterministic (pos is unique within a document)
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line")),
          "\n").as("clean_text"))
  }

  /** Heuristic language ID: argmax of per-language scores; deterministic
    * tie-break on language name. Returns a struct (lang, score). */
  def langScores(text: Column): Column = {
    val toks = tokens(lower(text))
    val scored = (stopwords - "zh").toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(stopwordHits(toks, words).cast(DoubleType).as("score"),
        lit(lang).as("lang"))
    } :+ struct((cjkChars(text) * lit(3)).cast(DoubleType).as("score"),
      lit("zh").as("lang"))
    // array_max on (score, lang) structs = lexicographic max → ties break on
    // the LAST lang name; reverse sign trick not needed since ties on score
    // pick max lang — make deterministic by sorting desc on score then asc
    // lang via array_sort comparator.
    array_max(array(scored: _*))
  }

  /** Polynomial rolling hash over the token stream — an order-sensitive
    * document fingerprint (same token multiset in a different order
    * fingerprints differently, unlike MinHash). State is masked to 32 bits
    * each step so the fold never overflows under ANSI arithmetic. Token
    * hashes come from [[PortableHash]] (md5-derived), so the whole
    * fingerprint is reproducible in the DuckDB oracle. */
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, w) => (acc * lit(1000003L) +
        PortableHash.h60(w).bitwiseAND(lit(0xFFFFFFFFL))).bitwiseAND(lit(0xFFFFFFFFL)))

  // ---- registered queries --------------------------------------------------

  /** Token statistics with a DuckDB oracle — integer counts plus double
    * ratios derived only from int division (bit-deterministic).
    *
    * Shape: per-doc scalars in a pre-explode projection (computed once),
    * token-level stats via explode + codegen'd aggregates with map-side
    * combine — one row per doc leaves the map stage. A single projection
    * with HOF folds would re-evaluate interpreted lambdas per referencing
    * alias; this shape keeps everything in whole-stage codegen. */
  private def txtTokenStats(spark: SparkSession, dir: String): DataFrame = {
    // scalars + token array materialized BELOW the generate: Spark places
    // a combined projection ABOVE it, re-evaluating the regexp per token row
    val exploded = t(spark, dir, "documents")
      .filter(col("text").isNotNull) // null-text docs drop on BOTH sides
      .select(col("doc_id"),
        length(col("text")).as("nc"),
        bpeishCount(col("text")).cast(IntegerType).as("nb"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("nc"), col("nb"), explode_outer(col("toks")).as("tok"))
    exploded.groupBy("doc_id")
      .agg(
        min("nc").as("n_chars_measured"),
        min("nb").as("n_bpeish"),
        count(lit(1)).cast(IntegerType).as("n_tokens"),
        countDistinct(col("tok")).cast(IntegerType).as("n_uniq_tokens"),
        sum(length(col("tok"))).cast(IntegerType).as("sum_token_len"))
      .select(col("doc_id"), col("n_chars_measured"), col("n_tokens"),
        col("n_uniq_tokens"), col("n_bpeish"), col("sum_token_len"),
        (col("sum_token_len").cast(DoubleType) / col("n_tokens")).as("avg_token_len"),
        (col("n_uniq_tokens").cast(DoubleType) / col("n_tokens")).as("uniq_ratio"))
      .orderBy("doc_id")
  }

  private val txtTokenStatsSql =
    """SELECT doc_id,
      | LENGTH(text) AS n_chars_measured,
      | CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS INT) AS n_tokens,
      | CAST(LEN(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'))) AS INT) AS n_uniq_tokens,
      | CAST(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INT) AS n_bpeish,
      | CAST(LIST_SUM(LIST_TRANSFORM(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), w -> LENGTH(w))) AS INT) AS sum_token_len,
      | CAST(LIST_SUM(LIST_TRANSFORM(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), w -> LENGTH(w))) AS DOUBLE)
      |   / LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS avg_token_len,
      | CAST(LEN(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'))) AS DOUBLE)
      |   / LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS uniq_ratio
      |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin

  /** Per-doc quality scores: stopword ratio, uniq ratio, length band — the
    * usual cheap pre-training filters. Score is derived from int counts
    * only (the ratio divisions and three-term sum are correctly-rounded
    * IEEE ops — cross-engine deterministic). Null-text docs are dropped,
    * matching the SQL mirror's NULL-propagating LEN(). Shared by the
    * txt_quality gate and the percentile filter ([[Sampling]]). */
  def qualityScores(docs: DataFrame): DataFrame = {
    val en = stopwords("en")
    val exploded = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        explode_outer(tokens(lower(col("text")))).as("tok"))
    exploded.groupBy("doc_id", "lang")
      .agg(
        count(lit(1)).cast(IntegerType).as("n_tokens"),
        sum(when(col("tok").isInCollection(en), 1).otherwise(0))
          .cast(IntegerType).as("n_stopwords"),
        countDistinct(col("tok")).cast(IntegerType).as("n_uniq"))
      .withColumn("stopword_ratio",
        col("n_stopwords").cast(DoubleType) / col("n_tokens"))
      .withColumn("uniq_ratio", col("n_uniq").cast(DoubleType) / col("n_tokens"))
      .withColumn("quality_score",
        col("uniq_ratio") * lit(0.5)
          + when(col("stopword_ratio").between(0.02, 0.6), lit(0.3)).otherwise(lit(0.0))
          + when(col("n_tokens").between(20, 2000), lit(0.2)).otherwise(lit(0.0)))
  }

  /** Quality gate: docs passing the absolute score threshold. */
  private def txtQuality(spark: SparkSession, dir: String): DataFrame =
    qualityScores(t(spark, dir, "documents"))
      .filter(col("quality_score") >= 0.4)
      .orderBy("doc_id")

  /** The q/q2 scoring CTEs, shared by the txt_quality oracle and the
    * percentile-filter oracle in [[Sampling]] (mirrors [[qualityScores]]). */
  private[ops] val qualityCtes =
    """q AS (
      | SELECT doc_id, lang,
      |  CAST(LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+')) AS INT) AS n_tokens,
      |  CAST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'),
      |    w -> w IN ('the','and','of','to','a','in','is','it','you','that'))) AS INT) AS n_stopwords,
      |  CAST(LEN(LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+'))) AS INT) AS n_uniq
      | FROM documents WHERE text IS NOT NULL),
      |q2 AS (
      | SELECT doc_id, lang, n_tokens, n_stopwords, n_uniq,
      |  CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
      |  CAST(n_uniq AS DOUBLE) / n_tokens AS uniq_ratio,
      |  CAST(n_uniq AS DOUBLE) / n_tokens * 0.5
      |   + (CASE WHEN CAST(n_stopwords AS DOUBLE) / n_tokens BETWEEN 0.02 AND 0.6 THEN 0.3 ELSE 0.0 END)
      |   + (CASE WHEN n_tokens BETWEEN 20 AND 2000 THEN 0.2 ELSE 0.0 END) AS quality_score
      | FROM q)""".stripMargin

  private val txtQualitySql =
    s"""WITH $qualityCtes
       |SELECT * FROM q2 WHERE quality_score >= 0.4 ORDER BY doc_id""".stripMargin

  /** Language-ID over documents (heuristic scorer; accuracy on real text is
    * exercised in ScalaTest — the synthetic corpus shares one vocabulary
    * across langs). Fully oracle-checked: integer stopword counts, CJK
    * codepoint counts, and a lexicographic (score, lang) argmax that DuckDB
    * reproduces with list_max over structs. */
  private def txtLangid(spark: SparkSession, dir: String): DataFrame = {
    val langs = (stopwords - "zh").toSeq.sortBy(_._1)
    // zh regexp scalar materialized below the generate (see txtTokenStats)
    val exploded = t(spark, dir, "documents")
      .filter(col("text").isNotNull) // null-text docs drop on BOTH sides
      .select(col("doc_id"), col("lang").as("labelled_lang"),
        (cjkChars(col("text")) * 3).cast(DoubleType).as("zh_score"),
        tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), col("labelled_lang"), col("zh_score"),
        explode_outer(col("toks")).as("tok"))
    val hitAggs = langs.map { case (lang, words) =>
      sum(when(col("tok").isInCollection(words), 1).otherwise(0))
        .cast(DoubleType).as(s"s_$lang")
    }
    val scored = exploded.groupBy("doc_id", "labelled_lang", "zh_score")
      .agg(hitAggs.head, hitAggs.tail: _*)
    val candidates = langs.map { case (lang, _) =>
      struct(col(s"s_$lang").as("score"), lit(lang).as("lang"))
    } :+ struct(col("zh_score").as("score"), lit("zh").as("lang"))
    scored
      .withColumn("best", greatest(candidates: _*))
      .select(col("doc_id"), col("labelled_lang"),
        col("best.lang").as("pred_lang"), col("best.score").as("pred_score"))
      .orderBy("doc_id")
  }

  /** Rolling-hash fingerprints + duplicate-fingerprint groups. */
  private def txtFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(col("text").isNotNull) // null-text docs drop on BOTH sides
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n_docs"), min("doc_id").as("canonical"))
      .orderBy("canonical")

  /** Same fold in DuckDB: list_reduce with a prepended 0 accumulator. */
  private val txtFingerprintSql = {
    val hw = PortableHash.h60Sql("w")
    s"""SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS canonical
       |FROM (
       | SELECT doc_id, LIST_REDUCE(
       |   LIST_PREPEND(CAST(0 AS BIGINT), LIST_TRANSFORM(
       |     REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'),
       |     w -> ($hw & 4294967295))),
       |   (acc, h) -> ((acc * 1000003 + h) & 4294967295)) AS fp
       | FROM documents WHERE text IS NOT NULL)
       |GROUP BY fp ORDER BY canonical""".stripMargin
  }

  /** TF-IDF: classic two-aggregate shape — term frequency per (doc, term)
    * and document frequency per term (both map-side-combined explode aggs),
    * joined on term. Top terms per doc via the bounded TopKAggregator, so
    * nothing but (docs × k) rows crosses the final shuffle. Tie-break on
    * the PORTABLE md5-derived term hash, so the ranking is reproducible by
    * the DuckDB oracle. */
  def tfidfTopTerms(docs: DataFrame, k: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // null-text docs are dropped explicitly: explode_outer would keep a
    // null-term row whose h60 hash is null (crashing the non-nullable
    // ScoredRow encoder), while the oracle's UNNEST drops them silently
    val terms = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), explode_outer(col("toks")).as("term"))
    val nDocs = docs.count()
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // document frequency FROM tf: tf's rows are exactly the distinct
    // (doc, term) pairs, so counting them per term equals the
    // distinct-doc count — drops the second explode + a full
    // (doc, term) distinct exchange from the plan
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term")
      .select(col("doc_id").as("query_id"),
        (col("tf") * log(lit(nDocs.toDouble + 1) / (col("df") + 1))).as("score"),
        PortableHash.h60(col("term")).as("id"), lit(0).as("payload"),
        col("term"), col("tf"), col("df"))
    // carry the term through the top-k by re-joining on its hash
    val topk = scored.select(col("query_id"), col("score"), col("id"), col("payload"))
      .as[graft.functions.ScoredRow]
      .groupByKey(_.query_id)
      .agg(new graft.functions.TopKAggregator(k).toColumn.name("topk"))
      .toDF("doc_id", "topk")
      .select(col("doc_id"), posexplode(col("topk")))
      .select(col("doc_id"), (col("pos") + 1).cast(IntegerType).as("rank"),
        col("col.id").as("term_hash"), col("col.score").as("tfidf"))
    topk.join(
      scored.select(col("query_id").as("doc_id"), col("id").as("term_hash"),
        col("term"), col("tf"), col("df")).distinct(),
      Seq("doc_id", "term_hash"))
      .select("doc_id", "rank", "term", "tf", "df", "tfidf")
  }

  /** Gate projection: integer/string columns only. The score itself stays
    * out of the hash check — ln() is libm-dependent (measured: ~0.1% of
    * the idf domain differs by 1 ulp between the JVM and DuckDB) — but the
    * RANKING is oracle-checked: a 1-ulp score wobble would have to land
    * exactly on a rank boundary to flip it (verified stable at sf0.01 and
    * sf0.1). */
  private def txtTfidf(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(t(spark, dir, "documents"), 5)
      .select("doc_id", "rank", "term", "tf", "df")
      .orderBy("doc_id", "rank")

  /** Mirrors [[tfidfTopTerms]]: identical score formula (ln on both
    * sides), identical tie-break (portable term hash). Only the integer
    * rank/tf/df and the term string are output-checked. */
  private val txtTfidfSql = {
    val th = PortableHash.h60Sql("term")
    s"""WITH tk AS (SELECT doc_id,
       |        REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+') AS toks
       |      FROM documents),
       |tr AS (SELECT doc_id, UNNEST(toks) AS term FROM tk),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tr GROUP BY doc_id, term),
       |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tr GROUP BY term),
       |nd AS (SELECT COUNT(*) AS n FROM documents),
       |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |         tf.tf * LN((CAST(n AS DOUBLE) + 1) / (df.df + 1)) AS score,
       |         $th AS thash
       |       FROM tf JOIN df USING (term), nd),
       |rk AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       |         ORDER BY score DESC, thash) AS INT) AS "rank",
       |         term, tf, df FROM sc)
       |SELECT doc_id, "rank", term, tf, df FROM rk
       |WHERE "rank" <= 5 ORDER BY doc_id, "rank"""".stripMargin
  }

  /** Bigram novelty per doc: the fraction of a doc's distinct word
    * bigrams that occur in NO other document — a rarity signal (high =
    * unusual/creative/noisy text, low = boilerplate) used alongside
    * quality scores when curating training data. Shape is the tf-idf
    * df-side aggregate: one (bigram → doc-frequency) shuffle carrying a
    * row per distinct bigram, then a rejoin — never an all-pairs
    * comparison. All counts integer; the ratio is one exact-int double
    * division. */
  private def txtNovelty(spark: SparkSession, dir: String): DataFrame = {
    val bg = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        explode_outer(Dedup.shinglesFromToks(col("toks"), 2)).as("b"))
    val dfc = bg.groupBy("b").agg(count(lit(1)).as("df"))
    bg.join(dfc, Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).cast(LongType).as("n_novel"))
      .select(col("doc_id"), col("n_bigrams"), col("n_novel"),
        (col("n_novel").cast(DoubleType) / col("n_bigrams")).as("novelty"))
      .orderBy("doc_id")
  }

  private val txtNoveltySql =
    """WITH tk AS (SELECT doc_id,
      |        REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+') AS toks
      |      FROM documents WHERE text IS NOT NULL),
      |bg AS (SELECT doc_id, UNNEST(
      |        CASE WHEN LEN(toks) < 2 THEN [ARRAY_TO_STRING(toks, ' ')]
      |             ELSE LIST_DISTINCT(LIST_TRANSFORM(
      |               GENERATE_SERIES(1, LEN(toks) - 1),
      |               i -> ARRAY_TO_STRING(toks[i:i+1], ' '))) END) AS b
      |      FROM tk),
      |dfc AS (SELECT b, COUNT(*) AS df FROM bg GROUP BY b)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      | CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      | CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
      |   AS novelty
      |FROM bg JOIN dfc USING (b)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Within-doc repetition (the Gopher-rules boilerplate detector): the
    * share of a doc's bigram OCCURRENCES taken by its single most
    * frequent bigram — high values flag spam/template text. Unlike
    * [[txtNovelty]] this is per-doc only: explode non-distinct bigrams,
    * count per (doc, bigram) with map-side combine, take the per-doc max
    * — no cross-doc join at all, so it scales as a map + one bounded
    * aggregation. */
  private def txtRepetition(spark: SparkSession, dir: String): DataFrame = {
    val bg = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      // non-distinct bigrams — occurrence counts are the point here
      .select(col("doc_id"), explode_outer(
        when(size(col("toks")) < 2, array(concat_ws(" ", col("toks"))))
          .otherwise(transform(sequence(lit(0), size(col("toks")) - 2),
            i => concat_ws(" ",
              element_at(col("toks"), i + 1), element_at(col("toks"), i + 2))))
      ).as("b"))
    bg.groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").cast(LongType).as("n_bigrams"),
        max("cnt").cast(LongType).as("top_bigram_n"))
      .select(col("doc_id"), col("n_bigrams"), col("top_bigram_n"),
        (col("top_bigram_n").cast(DoubleType) / col("n_bigrams")).as("rep_ratio"))
      .orderBy("doc_id")
  }

  private val txtRepetitionSql =
    """SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
      | CAST(MAX(cnt) AS BIGINT) AS top_bigram_n,
      | CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS rep_ratio
      |FROM (
      | SELECT doc_id, b, COUNT(*) AS cnt FROM (
      |  SELECT doc_id, UNNEST(
      |    CASE WHEN LEN(toks) < 2 THEN [ARRAY_TO_STRING(toks, ' ')]
      |         ELSE LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks) - 1),
      |           i -> ARRAY_TO_STRING(toks[i:i+1], ' ')) END) AS b
      |  FROM (SELECT doc_id,
      |         REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+') AS toks
      |        FROM documents WHERE text IS NOT NULL))
      | GROUP BY doc_id, b)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Corpus vocabulary statistics per source — the standard corpus-health
    * diagnostics (vocabulary size, hapax legomena count, type-token
    * ratio). Two map-side-combined aggregates over the exploded term
    * stream: per-(source, term) counts, then per-source rollup — the
    * shuffle carries one row per distinct term, never the token stream.
    * All integers plus one exact-int double division. */
  private def txtVocab(spark: SparkSession, dir: String): DataFrame = {
    val terms = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("source"), tokens(lower(col("text"))).as("toks"))
      .select(col("source"), explode_outer(col("toks")).as("term"))
    terms.groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      .groupBy("source")
      .agg(sum("cnt").cast(LongType).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        (col("vocab").cast(DoubleType) / col("n_tokens")).as("type_token_ratio"))
      .orderBy("source")
  }

  private val txtVocabSql =
    """SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      | COUNT(*) AS vocab,
      | CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
      | CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS BIGINT) AS type_token_ratio
      |FROM (
      | SELECT source, term, COUNT(*) AS cnt FROM (
      |  SELECT source, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+')) AS term
      |  FROM documents WHERE text IS NOT NULL)
      | GROUP BY source, term)
      |GROUP BY source ORDER BY source""".stripMargin

  /** Normalization + redaction stats per source — every value an integer
    * count or length, hash-checked cross-engine. (The synthetic corpus
    * carries no PII, so the redaction counters legitimately verify as
    * zero here; their match semantics are pinned on planted fixtures in
    * TextSpec.) */
  private def txtNormalize(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("source"), col("text"), normalize(col("text")).as("norm"))
      .select(col("source"), col("text"), col("norm"),
        redactPii(col("norm")).as("red"))
    docs.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast(LongType).as("sum_chars_raw"),
        sum(length(col("norm"))).cast(LongType).as("sum_chars_norm"),
        sum(regexp_count(col("norm"), lit(EmailRe))).cast(LongType).as("n_emails"),
        sum(regexp_count(col("norm"), lit(UrlRe))).cast(LongType).as("n_urls"),
        sum(length(col("red"))).cast(LongType).as("sum_chars_redacted"))
      .orderBy("source")
  }

  private val txtNormalizeSql = {
    // the same regex source strings — DuckDB's RE2 and Java regex agree on
    // these conservative patterns (classes + quantifiers only)
    val email = EmailRe
    val url = UrlRe
    s"""SELECT source, COUNT(*) AS n_docs,
       | CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars_raw,
       | CAST(SUM(LENGTH(norm)) AS BIGINT) AS sum_chars_norm,
       | CAST(SUM(LEN(REGEXP_EXTRACT_ALL(norm, '$email'))) AS BIGINT) AS n_emails,
       | CAST(SUM(LEN(REGEXP_EXTRACT_ALL(norm, '$url'))) AS BIGINT) AS n_urls,
       | CAST(SUM(LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(norm, '$email', '<EMAIL>', 'g'),
       |   '$url', '<URL>', 'g'))) AS BIGINT) AS sum_chars_redacted
       |FROM (SELECT source, text,
       |       LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))) AS norm
       |      FROM documents)
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** DuckDB argmax via list_max over (score, lang) structs — the same
    * lexicographic comparison as Spark's greatest() over structs, so ties
    * on score break toward the later language name on both engines. */
  private val txtLangidSql = {
    val langFilters = (stopwords - "zh").toSeq.sortBy(_._1).map { case (lang, words) =>
      val inList = words.map(w => s"'$w'").mkString(", ")
      s"CAST(LEN(LIST_FILTER(toks, w -> w IN ($inList))) AS DOUBLE) AS s_$lang"
    }
    val structs = (stopwords - "zh").toSeq.sortBy(_._1).map { case (lang, _) =>
      s"{'score': s_$lang, 'lang': '$lang'}"
    } :+ "{'score': s_zh, 'lang': 'zh'}"
    // the CJK range is written as literal chars (Scala \u escapes) so the
    // DuckDB regex sees the same class as Spark's [一-鿿]
    s"""SELECT doc_id, labelled_lang,
       | struct_extract(best, 'lang') AS pred_lang,
       | struct_extract(best, 'score') AS pred_score
       |FROM (
       | SELECT doc_id, labelled_lang,
       |  list_max([${structs.mkString(", ")}]) AS best
       | FROM (
       |  SELECT doc_id, lang AS labelled_lang,
       |   ${langFilters.mkString(",\n   ")},
       |   CAST((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[一-鿿]', '', 'g'))) * 3 AS DOUBLE) AS s_zh
       |  FROM (SELECT doc_id, lang, text,
       |        REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+') AS toks
       |        FROM documents WHERE text IS NOT NULL)))
       |ORDER BY doc_id""".stripMargin
  }

  /** BM25 keyword retrieval (Robertson/Sparck-Jones; the standard lexical
    * search baseline a data platform exposes next to vector search): score
    * every doc containing a query term, return the top k.
    *
    * Scale shape: the explode is filtered to the query terms IMMEDIATELY
    * (the per-term frame carries only matching (doc, term) rows — at
    * 100 TB the corpus never shuffles, only matches do); df and the corpus
    * length stats are tiny aggregates that broadcast back; final top-k is
    * orderBy+limit → TakeOrdered (per-partition top-k, k-row merge).
    *
    * Determinism: the per-doc score is a FIXED-ORDER sum over the query
    * terms (coalesce chain, not a float groupBy fold — a parallel sum of
    * doubles is accumulation-order-dependent), every constant is
    * interpolated into the oracle from the SAME Scala double, and ties
    * rank by doc_id. Like tf-idf, ln() keeps the raw score out of the
    * hash check: the gate outputs the RANKING plus integer evidence. */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))
    val stats = base.agg(sum(col("dl").cast(LongType)).as("sum_dl"),
      count(lit(1)).as("n_docs"))
    val tf = base
      .select(col("doc_id"), col("dl"), explode_outer(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dft), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast(DoubleType) / col("n_docs"))
      .withColumn("idf", log(
        (col("n_docs").cast(DoubleType) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)))
      .withColumn("s",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) *
            (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
    val termAggs = queryTerms.zipWithIndex.map { case (t, i) =>
      min(when(col("term") === t, col("s"))).as(s"__s$i") }
    val perDoc = scored.groupBy("doc_id", "dl")
      .agg(count(lit(1)).cast(IntegerType).as("n_hit"),
        sum("tf").cast(LongType).as("sum_tf") +: termAggs: _*)
      .withColumn("score", queryTerms.indices
        .map(i => coalesce(col(s"__s$i"), lit(0.0)))
        .reduce(_ + _))
    perDoc
      .orderBy(col("score").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))).cast(IntegerType))
      .select("rank", "doc_id", "dl", "n_hit", "sum_tf")
  }

  private val bm25Terms = Seq("spark", "join", "vector")

  private def txtBm25(spark: SparkSession, dir: String): DataFrame =
    bm25TopK(t(spark, dir, "documents"), bm25Terms, 15).orderBy("rank")

  /** Mirrors [[bm25TopK]] op-for-op; constants interpolated from the same
    * Scala doubles so both engines parse identical literals. */
  private val txtBm25Sql = {
    val (k1, b) = (1.2, 0.75)
    val inList = bm25Terms.map(t => s"'$t'").mkString(", ")
    val fixedSum = bm25Terms.map(t =>
      s"COALESCE(MIN(CASE WHEN term = '$t' THEN s END), 0.0)").mkString("\n   + ")
    s"""WITH base AS (SELECT doc_id,
       |        LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+')) AS dl,
       |        REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+') AS toks
       |      FROM documents WHERE text IS NOT NULL),
       |st AS (SELECT CAST(SUM(dl) AS BIGINT) AS sum_dl, COUNT(*) AS n_docs
       |       FROM base),
       |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
       |       FROM (SELECT doc_id, dl, UNNEST(toks) AS term FROM base)
       |       WHERE term IN ($inList) GROUP BY 1, 2, 3),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |sc AS (SELECT tf.doc_id, tf.dl, tf.term, tf.tf,
       |        LN((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
       |          * (tf * ${k1 + 1}) /
       |          (tf + $k1 * (${1 - b} + $b * dl /
       |            (CAST(sum_dl AS DOUBLE) / n_docs))) AS s
       |       FROM tf JOIN df USING (term), st),
       |pd AS (SELECT doc_id, dl, CAST(COUNT(*) AS INT) AS n_hit,
       |        CAST(SUM(tf) AS BIGINT) AS sum_tf,
       |        $fixedSum AS score
       |       FROM sc GROUP BY doc_id, dl)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT)
       |   AS "rank",
       | doc_id, CAST(dl AS INT) AS dl, n_hit, sum_tf
       |FROM pd ORDER BY score DESC, doc_id LIMIT 15""".stripMargin
  }

  /** Full PII redaction under the oracle: the fixture corpus carries no
    * PII, so the gate WEAVES deterministic PII into every document
    * (email, URL, international phone, IPv4 — all derived from doc_id,
    * identically in both engines) and then verifies the per-row redacted
    * TEXT (md5) and per-category counts — a row-exact check of all four
    * redaction passes, not just aggregate lengths. Map-only, zero
    * shuffle until the final sort. */
  private def txtPii(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast(StringType)
    val aug = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), concat(
        col("text"),
        lit(" contact user"), id, lit("@mail.example.com"),
        lit(" visit https://ex.org/p/"), id,
        lit(" from 10."), (col("doc_id") % 200).cast(StringType),
        lit(".0."), ((col("doc_id") * 7) % 250).cast(StringType),
        lit(" call +1 555 "),
        lpad((col("doc_id") % 1000).cast(StringType), 3, "0"),
        lit(" "),
        lpad(((col("doc_id") * 13) % 10000).cast(StringType), 4, "0")
      ).as("text"))
    aug.select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast(LongType).as("n_emails"),
        regexp_count(col("text"), lit(UrlRe)).cast(LongType).as("n_urls"),
        regexp_count(col("text"), lit(PhoneRe)).cast(LongType).as("n_phones"),
        regexp_count(col("text"), lit(Ipv4Re)).cast(LongType).as("n_ips"),
        md5(redactPiiFull(col("text"))).as("fp"))
      .orderBy("doc_id")
  }

  private val txtPiiSql = {
    val (email, url, phone, ip) = (EmailRe, UrlRe, PhoneRe, Ipv4Re)
    s"""WITH aug AS (
       |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
       |    || '@mail.example.com'
       |    || ' visit https://ex.org/p/' || CAST(doc_id AS VARCHAR)
       |    || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
       |    || '.0.' || CAST((doc_id * 7) % 250 AS VARCHAR)
       |    || ' call +1 555 ' || LPAD(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
       |    || ' ' || LPAD(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
       |    AS text
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id,
       | CAST(LEN(REGEXP_EXTRACT_ALL(text, '$email')) AS BIGINT) AS n_emails,
       | CAST(LEN(REGEXP_EXTRACT_ALL(text, '$url')) AS BIGINT) AS n_urls,
       | CAST(LEN(REGEXP_EXTRACT_ALL(text, '$phone')) AS BIGINT) AS n_phones,
       | CAST(LEN(REGEXP_EXTRACT_ALL(text, '$ip')) AS BIGINT) AS n_ips,
       | MD5(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(
       |   text, '$email', '<EMAIL>', 'g'), '$url', '<URL>', 'g'),
       |   '$phone', '<PHONE>', 'g'), '$ip', '<IP>', 'g')) AS fp
       |FROM aug ORDER BY doc_id""".stripMargin
  }

  /** Boilerplate removal under the oracle: the fixture corpus has no
    * newlines, so the gate LINE-IFIES each document into 8-token chunks
    * (pure array expressions, identically in SQL), then drops every
    * chunk-line that occurs in ≥2 distinct documents and fingerprints
    * each rebuilt document. The small shared vocabulary makes ~150
    * chunk-lines genuinely cross-document at sf0.01, so the filter does
    * real work. Documents whose every line was boilerplate drop out (in
    * both engines). */
  private def txtBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nLines = floor((size(toks) - 1) / lit(8)).cast(LongType)
    val lined = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        array_join(
          transform(sequence(lit(0L), nLines),
            i => array_join(slice(toks, (i * 8 + 1).cast(IntegerType), lit(8)), " ")),
          "\n").as("text"))
    removeBoilerplate(lined, minDocs = 2)
      .select(col("doc_id"), col("n_kept"), md5(col("clean_text")).as("fp"))
      .orderBy("doc_id")
  }

  private val txtBoilerplateSql =
    s"""WITH d AS (
       |  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |ln AS (SELECT doc_id,
       |        UNNEST(RANGE(0, ((LEN(toks) - 1) // 8) + 1)) AS pos, toks
       |       FROM d),
       |lines AS (SELECT doc_id, pos,
       |           ARRAY_TO_STRING(toks[pos * 8 + 1 : pos * 8 + 8], ' ') AS line
       |          FROM ln),
       |boiler AS (SELECT line FROM lines
       |           GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 2),
       |kept AS (SELECT l.doc_id, l.pos, l.line
       |         FROM lines l ANTI JOIN boiler b USING (line))
       |SELECT doc_id, COUNT(*) AS n_kept,
       | MD5(STRING_AGG(line, CHR(10) ORDER BY pos)) AS fp
       |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Gopher-style document quality rules (Rae et al. 2021, appendix A1.1 —
    * the standard web-corpus repetition/format filters). Each rule is a
    * map-only column predicate over one document; the gate reports
    * per-source failure counts for each rule plus the pass count — all
    * integers, hash-checked cross-engine.
    *
    * Rules: word count in [50, 100000]; mean word length in [3, 10];
    * symbol-to-word ratio ('#' and '...' occurrences per word) ≤ 0.1;
    * ≥80% of words contain an alphabetic character; at least 2 DISTINCT
    * required stopwords present. 100 TB shape: single map stage over the
    * scan, one tiny per-source aggregate — no shuffle of document text.
    */
  val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherFlags(docs: DataFrame): DataFrame = {
    val toks = tokens(lower(col("text")))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"), toks.as("toks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).as("n_words"),
        (aggregate(col("toks"), lit(0L), (acc, w) => acc + length(w))
          .cast(DoubleType) / size(col("toks"))).as("mean_wlen"),
        ((regexp_count(col("text"), lit("#")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).cast(DoubleType) /
          size(col("toks"))).as("symbol_ratio"),
        (size(filter(col("toks"), w => w.rlike("[a-z]"))).cast(DoubleType) /
          size(col("toks"))).as("alpha_ratio"),
        size(array_intersect(col("toks"),
          lit(gopherStops.toArray))).as("n_stop_distinct"))
      .select(col("doc_id"), col("source"),
        (!col("n_words").between(50, 100000)).as("fail_word_count"),
        (!col("mean_wlen").between(3.0, 10.0)).as("fail_mean_wlen"),
        (col("symbol_ratio") > 0.1).as("fail_symbol"),
        (col("alpha_ratio") < 0.8).as("fail_alpha"),
        (col("n_stop_distinct") < 2).as("fail_stopword"))
  }

  private def txtGopher(spark: SparkSession, dir: String): DataFrame = {
    val f = gopherFlags(t(spark, dir, "documents"))
    def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L)).as("n_" + c)
    f.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        cnt("fail_word_count"), cnt("fail_mean_wlen"), cnt("fail_symbol"),
        cnt("fail_alpha"), cnt("fail_stopword"),
        sum(when(!col("fail_word_count") && !col("fail_mean_wlen") &&
          !col("fail_symbol") && !col("fail_alpha") && !col("fail_stopword"),
          1L).otherwise(0L)).as("n_pass"))
      .orderBy("source")
  }

  private val txtGopherSql = {
    val stops = gopherStops.map(s => s"'$s'").mkString(", ")
    s"""WITH f AS (
       | SELECT source,
       |  LEN(toks) AS n_words,
       |  CAST(LIST_SUM(LIST_TRANSFORM(toks, w -> LENGTH(w))) AS DOUBLE)
       |    / LEN(toks) AS mean_wlen,
       |  CAST(LEN(REGEXP_EXTRACT_ALL(text, '#'))
       |    + LEN(REGEXP_EXTRACT_ALL(text, '\\.\\.\\.')) AS DOUBLE)
       |    / LEN(toks) AS symbol_ratio,
       |  CAST(LEN(LIST_FILTER(toks, w -> REGEXP_MATCHES(w, '[a-z]'))) AS DOUBLE)
       |    / LEN(toks) AS alpha_ratio,
       |  LEN(LIST_INTERSECT(toks, [$stops])) AS n_stop_distinct
       | FROM (SELECT source, text,
       |        REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+') AS toks
       |       FROM documents WHERE text IS NOT NULL)),
       |r AS (
       | SELECT source,
       |  NOT (n_words BETWEEN 50 AND 100000) AS fail_word_count,
       |  NOT (mean_wlen BETWEEN 3.0 AND 10.0) AS fail_mean_wlen,
       |  symbol_ratio > 0.1 AS fail_symbol,
       |  alpha_ratio < 0.8 AS fail_alpha,
       |  n_stop_distinct < 2 AS fail_stopword
       | FROM f)
       |SELECT source, COUNT(*) AS n_docs,
       | CAST(SUM(CASE WHEN fail_word_count THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_word_count,
       | CAST(SUM(CASE WHEN fail_mean_wlen THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_mean_wlen,
       | CAST(SUM(CASE WHEN fail_symbol THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_symbol,
       | CAST(SUM(CASE WHEN fail_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_alpha,
       | CAST(SUM(CASE WHEN fail_stopword THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_stopword,
       | CAST(SUM(CASE WHEN NOT fail_word_count AND NOT fail_mean_wlen
       |   AND NOT fail_symbol AND NOT fail_alpha AND NOT fail_stopword
       |   THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
       |FROM r GROUP BY source ORDER BY source""".stripMargin
  }

  /** Unigram-LM perplexity scoring — the CCNet-style quality proxy: train
    * an add-one-smoothed unigram LM on the corpus itself (vocabulary
    * CAPPED to the top `vocabCap` terms by frequency, deterministic
    * (count desc, term asc) tie-break; everything else scores as OOV with
    * count 0), then score every document by
    * `ppl = exp(-Σ c_t·ln((cnt_t+1)/(N+V)) / n_tokens)`.
    *
    * 100 TB shape: the LM fits in `vocabCap` rows regardless of corpus
    * size, so scoring is a BROADCAST join against the per-(doc,term)
    * counts — the only shuffles carry distinct (doc,term) pairs and the
    * vocab-sized count table, never the token stream. The cap is the
    * design point: an uncapped vocabulary over 100 TB of web text is
    * billions of junk terms and cannot broadcast.
    */
  def perplexity(docs: DataFrame, vocabCap: Int): DataFrame = {
    val tok = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode_outer(tokens(lower(col("text")))).as("term"))
    val tc = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
    // N and V describe the FULL term distribution (cap applies to the
    // broadcast LM only, not to the smoothing denominator).
    val tot = tc.agg(sum("cnt").cast(DoubleType).as("n_total"),
      count(lit(1)).cast(DoubleType).as("v_total"))
    // top-K via orderBy+limit = distributed TakeOrdered (per-partition
    // top-K then a K-sized merge) — a global-window row_number here
    // would single-partition-sort the ENTIRE vocabulary, which on web
    // text is billions of junk terms
    val lm = tc.orderBy(col("cnt").desc, col("term")).limit(vocabCap)
    // score at the TOKEN level: the LM broadcast-joins the raw token
    // stream (map-only) and partial sums combine per doc before the one
    // doc-keyed shuffle — the alternative (doc,term) pre-aggregation
    // shuffles the full distinct-pair set first, which at 100× data was
    // the entire cost of the operator
    tok.join(broadcast(lm), Seq("term"), "left")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        when(col("cnt").isNull, 1L).otherwise(0L).as("oov"),
        log((coalesce(col("cnt"), lit(0L)) + lit(1L))
          .cast(DoubleType) / (col("n_total") + col("v_total"))).as("lp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast(LongType).as("n_tokens"),
        sum("oov").cast(LongType).as("n_oov"), sum("lp").as("logprob"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        exp(-col("logprob") / col("n_tokens")).as("ppl"))
  }

  /** Gate face: ppl is ln-derived, so per repo convention raw scores stay
    * out of oracle output — ROUND(·, 6) on both engines puts the residual
    * float-fold + ln-ulp divergence (~1e-12 relative) nine orders of
    * magnitude under the rounding quantum; n_oov is the integer evidence
    * that the vocab cap actually bit. */
  private def txtPerplexity(spark: SparkSession, dir: String): DataFrame =
    perplexity(t(spark, dir, "documents"), vocabCap = 16)
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("ppl"), 6).as("ppl"))
      .orderBy("doc_id")

  private val txtPerplexitySql =
    """WITH tok AS (
      | SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+')) AS term
      | FROM documents WHERE text IS NOT NULL),
      |dt AS (SELECT doc_id, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |tc AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n_total,
      |               CAST(COUNT(*) AS DOUBLE) AS v_total FROM tc),
      |lm AS (SELECT term, cnt FROM tc
      |       QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, term) <= 16)
      |SELECT d.doc_id, CAST(SUM(d.c) AS BIGINT) AS n_tokens,
      | CAST(SUM(CASE WHEN l.cnt IS NULL THEN d.c ELSE 0 END) AS BIGINT) AS n_oov,
      | ROUND(EXP(-SUM(d.c * LN(CAST(COALESCE(l.cnt, 0) + 1 AS DOUBLE)
      |   / (t.n_total + t.v_total))) / SUM(d.c)), 6) AS ppl
      |FROM dt d CROSS JOIN tot t LEFT JOIN lm l USING (term)
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** BPE tokenizer-training step: the adjacent-symbol-pair frequency count
    * at the character level — the inner loop of byte-pair-encoding merge
    * selection, distributed. Counts each word ONCE into a (word, freq)
    * table (map-side combined; the shuffle carries distinct words), then
    * explodes each DISTINCT word's adjacent 2-char windows weighted by
    * its corpus frequency — pair work is ∝ vocabulary, not ∝ corpus,
    * which is what makes repeated merge rounds tractable at 100 TB.
    * Output: the top `k` pairs by (count desc, pair asc). */
  def bpePairCounts(docs: DataFrame, k: Int): DataFrame = {
    val words = docs.filter(col("text").isNotNull)
      .select(explode_outer(tokens(lower(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    words.filter(length(col("word")) >= 2)
      .select(col("freq"), explode(
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum("freq").cast(LongType).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  private def txtBpePairs(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bpePairCounts(t(spark, dir, "documents"), 32)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n").desc, col("pair"))))
      .select(col("rank"), col("pair"), col("n"))
      .orderBy("rank")
  }

  private val txtBpePairsSql =
    """WITH w AS (
      | SELECT word, COUNT(*) AS freq FROM (
      |  SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\s+')) AS word
      |  FROM documents WHERE text IS NOT NULL)
      | GROUP BY word),
      |p AS (
      | SELECT UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH(word) - 1),
      |          i -> word[i : i + 1])) AS pair, freq
      | FROM w WHERE LENGTH(word) >= 2),
      |c AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM p GROUP BY pair)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS INT) AS rank,
      |       pair, n
      |FROM c ORDER BY n DESC, pair LIMIT 32""".stripMargin

  // ---- BPE tokenizer: train K merges, encode documents -----------------------

  /** Apply ONE learned BPE merge to a space-separated, space-GUARDED
    * symbol sequence (`" h e l l o "`). The merge rule is defined as
    * left-to-right non-overlapping replacement of `" a b "` with
    * `" ab "`, repeated to fixpoint — and TWO passes always reach the
    * fixpoint: a pass misses an occurrence only when its leading space
    * was consumed by the immediately preceding match, and two such
    * misses can never be adjacent (the scan resumes before the second,
    * whose guards are then intact), so pass two catches every survivor
    * and a replacement (`"ab"`, no inner space) can never create a new
    * occurrence. Plain `replace` has identical semantics in Spark and
    * DuckDB, which is what lets the oracle replay training EXACTLY. */
  def bpeApply(seq: Column, pair: String): Column = {
    val find = " " + pair + " "
    val repl = " " + pair.replace(" ", "") + " "
    val once = replace(seq, lit(find), lit(repl))
    replace(once, lit(find), lit(repl))
  }

  /** Adjacent-symbol pairs (as `"x y"` strings) of a guarded symbol
    * sequence, for frequency counting. */
  private def seqPairs(seq: Column): Column = {
    val syms = split(trim(seq), " ")
    // guard: Spark's sequence(1, 0) DESCENDS rather than being empty
    when(size(syms) < 2, array().cast(ArrayType(StringType)))
      .otherwise(transform(sequence(lit(1), size(syms) - 1),
        i => concat_ws(" ", element_at(syms, i), element_at(syms, i + 1))))
  }

  /** BPE TRAINING, k merge rounds: the word vocabulary starts as
    * space-guarded character sequences; each round counts adjacent
    * symbol pairs weighted by word frequency (work ∝ VOCABULARY — the
    * [[bpePairCounts]] insight — not corpus), picks the winner by
    * (count desc, pair asc), and applies it with [[bpeApply]]. The
    * vocab is localCheckpoint()ed per round so k rounds stay k small
    * jobs with bounded lineage instead of one k-deep expression tree
    * (the SemDeDup codegen-budget lesson). Returns the ordered merge
    * list and the final `(word, freq, seq)` vocabulary. */
  def bpeTrain(docs: DataFrame, k: Int): (Seq[String], DataFrame) = {
    var vocab = docs.filter(col("text").isNotNull)
      .select(explode_outer(tokens(lower(col("text")))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        concat(lit(" "), concat_ws(" ", split(col("word"), "")), lit(" "))
          .as("seq"))
      .localCheckpoint(true)
    val merges = Seq.newBuilder[String]
    var r = 0
    var dry = false
    while (r < k && !dry) {
      val top = vocab
        .select(col("freq"), explode(seqPairs(col("seq"))).as("pair"))
        .groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1)
        .collect()
      if (top.isEmpty) dry = true
      else {
        val pair = top(0).getString(0)
        merges += pair
        vocab = vocab
          .withColumn("seq", bpeApply(col("seq"), pair))
          .localCheckpoint(true)
      }
      r += 1
    }
    (merges.result(), vocab)
  }

  /** BPE ENCODE: train k merges on the corpus, then encode every
    * document to its symbol sequence through a vocab join (the learned
    * segmentation per distinct word — encoding cost is one join on
    * `word`, never a per-document scan of the merge list). Symbol ids
    * are the dense alphabetical rank over the final symbol set (a few
    * hundred rows — chars + k merges — so the rank window is trivially
    * small). Output per doc: symbol count, id-sum evidence, and md5 of
    * the full encoded sequence. */
  def bpeEncode(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (_, vocab) = bpeTrain(docs, k)
    val syms = vocab.select(col("word"), split(trim(col("seq")), " ").as("syms"))
    val idTable = syms.select(explode(col("syms")).as("sym")).distinct()
      .withColumn("sym_id",
        row_number().over(Window.orderBy("sym")).cast(LongType))
    val tokPos = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(tokens(lower(col("text")))).as(Seq("pos", "word")))
      .filter(length(col("word")) >= 1)
    val enc = tokPos.join(syms, "word")
    val docSyms = enc.select(col("doc_id"), explode(col("syms")).as("sym"))
      .join(broadcast(idTable), "sym")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_syms"), sum("sym_id").as("sum_sym_id"))
    val docText = enc.groupBy("doc_id")
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("syms")))),
        s => concat_ws(" ", s.getField("syms"))), " ")).as("enc_md5"))
    docSyms.join(docText, "doc_id")
      .select("doc_id", "n_syms", "sum_sym_id", "enc_md5")
  }

  private def dsBpeEncode(spark: SparkSession, dir: String): DataFrame =
    bpeEncode(t(spark, dir, "documents"), k = 6).orderBy("doc_id")

  /** The oracle REPLAYS the six training rounds as generated CTE chains
    * — each round's winner feeds the next round's vocabulary — then
    * encodes with the same join. REPLACE has the same left-to-right
    * non-overlap semantics in DuckDB, so the fixpoint rule matches. */
  private def dsBpeEncodeSql: String = {
    val rounds = (1 to 6).map { r =>
      s"""p$r AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM (
         |  SELECT freq, UNNEST(LIST_TRANSFORM(
         |    RANGE(1, LEN(string_split(trim(seq), ' '))),
         |    i -> string_split(trim(seq), ' ')[i] || ' ' ||
         |         string_split(trim(seq), ' ')[i + 1])) AS pair
         |  FROM v${r - 1}) GROUP BY pair),
         |t$r AS (SELECT pair FROM p$r ORDER BY n DESC, pair LIMIT 1),
         |v$r AS (SELECT word, freq,
         |  REPLACE(REPLACE(seq,
         |    ' ' || t$r.pair || ' ', ' ' || REPLACE(t$r.pair, ' ', '') || ' '),
         |    ' ' || t$r.pair || ' ', ' ' || REPLACE(t$r.pair, ' ', '') || ' ')
         |    AS seq
         | FROM v${r - 1} CROSS JOIN t$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH w AS (
       | SELECT word, COUNT(*) AS freq FROM (
       |  SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+')) AS word
       |  FROM documents WHERE text IS NOT NULL)
       | WHERE LENGTH(word) >= 1 GROUP BY word),
       |v0 AS (SELECT word, freq,
       |  ' ' || array_to_string(LIST_TRANSFORM(RANGE(1, LENGTH(word) + 1),
       |    i -> word[i:i]), ' ') || ' ' AS seq
       | FROM w),
       |$rounds,
       |syms AS (SELECT word, string_split(trim(seq), ' ') AS syms FROM v6),
       |idt AS (SELECT sym,
       |         CAST(ROW_NUMBER() OVER (ORDER BY sym) AS BIGINT) AS sym_id
       |        FROM (SELECT DISTINCT UNNEST(syms) AS sym FROM syms)),
       |tp AS (SELECT doc_id, unnest(range(0, len(l))) AS pos,
       |        unnest(l) AS word
       |       FROM (SELECT doc_id,
       |              REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(text)), '\\s+') AS l
       |             FROM documents WHERE text IS NOT NULL)),
       |enc AS (SELECT tp.doc_id, tp.pos, s.syms FROM tp
       |        JOIN syms s USING (word) WHERE LENGTH(tp.word) >= 1),
       |ds AS (SELECT e.doc_id, COUNT(*) AS n_syms,
       |        CAST(SUM(i.sym_id) AS BIGINT) AS sum_sym_id
       |       FROM (SELECT doc_id, UNNEST(syms) AS sym FROM enc) e
       |       JOIN idt i USING (sym) GROUP BY e.doc_id),
       |dt AS (SELECT doc_id,
       |        md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos))
       |          AS enc_md5
       |       FROM enc GROUP BY doc_id)
       |SELECT ds.doc_id, ds.n_syms, ds.sum_sym_id, dt.enc_md5
       |FROM ds JOIN dt USING (doc_id) ORDER BY ds.doc_id""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("txt_pii", txtPii, Some(txtPiiSql)),
    Q("txt_boilerplate", txtBoilerplate, Some(txtBoilerplateSql)),
    Q("txt_token_stats", txtTokenStats, Some(txtTokenStatsSql)),
    Q("txt_quality", txtQuality, Some(txtQualitySql)),
    Q("txt_langid", txtLangid, Some(txtLangidSql)),
    Q("txt_fingerprint", txtFingerprint, Some(txtFingerprintSql)),
    Q("txt_tfidf", txtTfidf, Some(txtTfidfSql)),
    Q("txt_vocab", txtVocab, Some(txtVocabSql)),
    Q("txt_novelty", txtNovelty, Some(txtNoveltySql)),
    Q("txt_repetition", txtRepetition, Some(txtRepetitionSql)),
    Q("txt_normalize", txtNormalize, Some(txtNormalizeSql)),
    Q("txt_bm25", txtBm25, Some(txtBm25Sql)),
    Q("txt_gopher", txtGopher, Some(txtGopherSql)),
    Q("txt_perplexity", txtPerplexity, Some(txtPerplexitySql)),
    Q("txt_bpe_pairs", txtBpePairs, Some(txtBpePairsSql)),
    Q("ds_bpe_encode", dsBpeEncode, Some(dsBpeEncodeSql)))
}
