package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token statistics, quality scoring, n-gram language-ID heuristic,
  * document fingerprinting.
  *
  * All column-level: pure `org.apache.spark.sql.functions` compositions
  * (codegen'd, shuffle-free, scale linearly with the scan). Each has an
  * exact DuckDB oracle via [[PortableHash]] / plain arithmetic.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: alpha runs + digit runs + other chars
    * (a cheap, deterministic proxy for tokenizer load estimation).
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))

  def avgTokenLen(text: Column): Column =
    (length(text) - tokenCount(text) + 1).cast("double") / tokenCount(text)

  /** Fraction of tokens found in `words` (portable: filter + size). */
  def wordListRatio(text: Column, words: Seq[String]): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(tokens(text), t => array_contains(arr, t))).cast("double") /
      tokenCount(text)
  }

  val englishStopwords: Seq[String] =
    Seq("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

  def stopwordRatio(text: Column): Column = wordListRatio(text, englishStopwords)

  /** Composite quality score in [0, ~1]: rewards mid-length docs, presence
    * of stopwords (fluent prose), and moderate token lengths. Deterministic
    * double arithmetic — portable.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text).cast("double")
    val lenScore = least(n / lit(64.0), lit(1.0))
    val stopScore = least(stopwordRatio(text) * lit(5.0), lit(1.0))
    val wordLen = avgTokenLen(text)
    val lenPenalty = when(wordLen > 12.0, lit(0.5)).otherwise(lit(1.0))
    round((lenScore * lit(0.5) + stopScore * lit(0.5)) * lenPenalty, 6)
  }

  /** Language-ID by characteristic-word scoring (n-gram heuristic class).
    * Scores = per-language marker-word hit ratios; prediction = argmax with
    * deterministic tie-break on language order.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is", "data", "table"),
    "es" -> Seq("el", "la", "de", "que", "es", "por"),
    "zh" -> Seq("spark", "vector", "stream", "batch", "query", "row")
  )

  def langScore(text: Column, lang: String): Column =
    round(wordListRatio(text, langMarkers(lang)), 6)

  def langPredict(text: Column): Column = {
    val langs = langMarkers.keys.toSeq.sorted
    val scored = langs.map(l => struct(langScore(text, l).as("s"), lit(l).as("l")))
    // argmax: reduce over (score, lang); strictly-greater keeps first on ties
    scored.reduceLeft((a, b) =>
      when(b.getField("s") > a.getField("s"), b).otherwise(a)
    ).getField("l")
  }

  /** 60-bit whole-document fingerprint (portable MD5-derived). */
  def fingerprint(text: Column): Column = PortableHash.h60(text)

  /** Rolling polynomial content hash over characters — order-sensitive
    * (detects shuffled content with equal char multiset), via codegen'd
    * higher-order aggregate.
    */
  def rollingHash(text: Column): Column =
    aggregate(
      split(text, ""),
      lit(0L),
      (h, ch) => (h * 31 + ascii(ch)) % PortableHash.P
    )

  /** Repetition signals (the Gopher-family quality filters): fraction of
    * duplicated words and duplicated word-bigrams per document. High
    * values mark boilerplate/template/spam documents a training corpus
    * should drop. Pure codegen projection, zero shuffle — scan-speed at
    * any corpus size. Token array staged once as a real column
    * (CollapseProject keeps multi-referenced non-cheap aliases apart).
    */
  def repetition(df: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val staged = df.select(col(idCol), col(textCol).as("_t"),
      tokens(col(textCol)).as("_w"))
    val nTok = size(col("_w"))
    staged.select(
      col(idCol),
      nTok.cast("long").as("n_tokens"),
      size(array_distinct(col("_w"))).cast("long").as("n_distinct"),
      round(lit(1.0) - size(array_distinct(col("_w"))).cast("double") / nTok, 9)
        .as("dup_word_ratio"),
      when(nTok >= 2,
        round(lit(1.0) -
          size(Dedup.shingleHashes(col("_t"), 2)).cast("double") / (nTok - 1), 9))
        .otherwise(lit(0.0)).as("dup_2gram_ratio"))
  }

  /** DuckDB twin of [[repetition]] (adjacent so they cannot drift). */
  def sqlRepetition: String =
    s"""SELECT doc_id,
       |  CAST(len(w) AS BIGINT) AS n_tokens,
       |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
       |  round(CAST(1 AS DOUBLE) - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 9)
       |    AS dup_word_ratio,
       |  CASE WHEN len(w) >= 2 THEN
       |    round(CAST(1 AS DOUBLE) -
       |      CAST(len(${Dedup.sqlShingleHashes("text", 2)}) AS DOUBLE) / (len(w) - 1), 9)
       |  ELSE 0.0 END AS dup_2gram_ratio
       |FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Corpus-statistics quality score: each document's average n-gram
    * DOCUMENT frequency (in how many documents its n-grams appear). The
    * deterministic stand-in for model-based quality filtering: template/
    * boilerplate documents score high (their n-grams are everywhere),
    * unusual documents score low. Two shuffles — gram frequency
    * aggregation, then per-doc aggregation — with the gram join reusing
    * the frequency exchange (same partitioning); the standard
    * inverted-index shape that survives any corpus size. Exactness:
    * counts are int64, one double division at the end.
    */
  def gramDocFreqScore(df: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", n: Int = 2): DataFrame = {
    val grams = graft.core.Graft.rebalance(df)
      .select(col(idCol).as("id"),
        explode(Dedup.shingleHashes(col(textCol), n)).as("g"))
      .repartition(col("g")) // shared exchange for freq + join
    val freq = grams.groupBy("g").agg(count(lit(1)).as("gdf"))
    grams.join(freq, "g")
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(col("gdf")).as("_sum_df"))
      .select(col("id").as(idCol), col("n_grams"),
        round(col("_sum_df").cast("double") / col("n_grams"), 9)
          .as("avg_gram_df"))
  }

  /** DuckDB twin of [[gramDocFreqScore]] (adjacent so they cannot drift);
    * the int sum is CAST to BIGINT per the HUGEINT portability rule.
    */
  def sqlGramDocFreqScore(n: Int = 2): String =
    s"""WITH grams AS (
       |  SELECT doc_id AS id, unnest(${Dedup.sqlShingleHashes("text", n)}) AS g
       |  FROM documents),
       |freq AS (SELECT g, count(*) AS gdf FROM grams GROUP BY g)
       |SELECT id AS doc_id, count(*) AS n_grams,
       |       round(CAST(CAST(sum(gdf) AS BIGINT) AS DOUBLE) / count(*), 9)
       |         AS avg_gram_df
       |FROM grams JOIN freq USING (g)
       |GROUP BY id ORDER BY doc_id""".stripMargin

  /** Corpus vocabulary: top-k tokens by total occurrence (ties broken by
    * token order so the cut is deterministic) with document frequency —
    * the frequency table that seeds tokenizer training and stopword
    * induction. Plan: explode → hash-agg (map-side partials; shuffle
    * width = distinct vocabulary, not corpus size) → distributed
    * TakeOrdered for the k cut. count_distinct costs the standard expand
    * double-agg; both widths are vocabulary-bounded.
    */
  def vocabTopK(df: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame =
    graft.core.Graft.rebalance(df)
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("token"))
      .limit(k)

  /** DuckDB twin of [[vocabTopK]] (adjacent so they cannot drift). */
  def sqlVocabTopK(k: Int): String =
    s"""SELECT token, count(*) AS n_occ,
       |       count(DISTINCT doc_id) AS n_docs
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |      FROM documents)
       |GROUP BY token ORDER BY n_occ DESC, token LIMIT $k""".stripMargin

  /** The BPE-merge counting kernel: corpus-wide adjacent-token-pair
    * frequencies, top-k with deterministic tie-break — each round of BPE
    * tokenizer training is exactly "find the most frequent adjacent
    * pair, merge it, recount" (Sennrich et al. 2016), and the count is
    * the distributed 99% of that loop (the merge itself is a bounded
    * driver-side vocabulary edit). One explode of (n_tokens − 1) slim
    * pair rows per doc → one hash aggregation; the same inverted-list
    * shape as every other corpus-statistics op here, so it scales the
    * same way.
    */
  def pairTopK(df: DataFrame, idCol: String, textCol: String,
               k: Int): DataFrame = {
    // bind the split array ONCE per row via the single-element-transform
    // scope (the same device as Dedup.shingleHashes / Selection
    // .featureBuckets, with the rationale there): referencing split(...)
    // directly inside the pair lambda would copy the split expression
    // into every element_at — one split per PAIR instead of per row
    val perRow = transform(array(split(col(textCol), " ")), w =>
      when(size(w) >= 2,
        transform(sequence(lit(1), size(w) - 1),
          i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
        .otherwise(array().cast("array<string>")))
    graft.core.Graft.rebalance(df)
      .select(col(idCol).as("doc_id"),
        explode(element_at(perRow, 1)).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("pair"))
      .limit(k)
  }

  /** DuckDB twin of [[pairTopK]] (adjacent so they cannot drift). */
  def sqlPairTopK(k: Int): String = {
    val w = "string_split(text, ' ')"
    s"""SELECT pair, count(*) AS n_occ,
       |       count(DISTINCT doc_id) AS n_docs
       |FROM (SELECT doc_id, unnest(
       |        CASE WHEN len($w) >= 2 THEN list_transform(
       |          range(1, len($w)),
       |          i -> ($w)[i] || ' ' || ($w)[i+1])
       |        ELSE []::VARCHAR[] END) AS pair
       |      FROM documents)
       |GROUP BY pair ORDER BY n_occ DESC, pair LIMIT $k""".stripMargin
  }

  /** The full BPE merge-learning loop (Sennrich et al. 2016): `nMerges`
    * rounds of count-adjacent-pairs → merge the argmax → recount, each
    * returning (rank, left, right, n_occ). The scalable decomposition is
    * the point: ONE corpus scan folds the text into a word-frequency
    * table, and every round after that touches only the vocab relation
    * (tens of thousands of rows at any corpus size) — pair counts weight
    * by word frequency, the argmax is a 1-row bounded collect, and the
    * merge is a pure projection rewriting the symbol spelling. Corpus
    * size prices exactly one aggregation; merge count prices vocab-sized
    * jobs.
    *
    * Merge application = TWO passes of plain (non-regex) `replace` of
    * `" left right "` with `" leftright "` over the boundary-padded
    * spelling. One pass misses a pair whose leading separator was
    * consumed by the preceding match; the second catches it, because
    * after pass one every remaining occurrence is flanked by merged or
    * non-matching symbols. Deviation from textbook greedy BPE: inside a
    * same-symbol run of length ≥ 3 (`a a a a` under merge `a a`) the
    * two-pass result can group differently and merge one fewer pair —
    * deterministic, engine-identical (both engines scan-replace
    * left-to-right), just documented. Tie-break: highest count, then
    * lexicographically smallest pair.
    */
  /** The shared loop behind [[bpeLearn]] and [[bpeEncode]]: returns the
    * merge table AND the final per-word spelling relation
    * (word, seq, cnt) after `nMerges` rounds.
    */
  private def bpeVocabChain(df: DataFrame, textCol: String, nMerges: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val spell = trim(regexp_replace(col("word"), "(.)", "$1 "))
    var vocab = graft.core.Graft.rebalance(df)
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word"), spell.as("seq"), col("cnt"))
      .transform(graft.core.Graft.pin(_)) // one corpus scan; rounds run on the vocab
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (rank <- 1 to nMerges) {
      val perRow = transform(array(split(col("seq"), " ")), w =>
        when(size(w) >= 2,
          transform(sequence(lit(1), size(w) - 1),
            i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
          .otherwise(array().cast("array<string>")))
      val top = vocab
        .select(col("cnt"), explode(element_at(perRow, 1)).as("pair"))
        .groupBy("pair").agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(1)
        .collect()
      if (top.nonEmpty) {
        val pair = top.head.getString(0)
        val Array(l, r) = pair.split(" ", 2)
        merges += ((rank.toLong, l, r, top.head.getLong(1)))
        val merged = s" ${l}${r} "
        val one = replace(concat(lit(" "), col("seq"), lit(" ")),
          lit(s" $pair "), lit(merged))
        vocab = vocab
          .select(col("word"),
            trim(replace(one, lit(s" $pair "), lit(merged))).as("seq"),
            col("cnt"))
        // bound the lazy plan at 2 replaces × 4 rounds between
        // materializations — a large nMerges must not accrete an
        // unboundedly deep expression tree over the vocab relation
        if (rank % 4 == 0) vocab = vocab.transform(graft.core.Graft.pin(_))
      }
    }
    (merges.result(), vocab)
  }

  def bpeLearn(df: DataFrame, textCol: String, nMerges: Int,
               spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    bpeVocabChain(df, textCol, nMerges)._1
      .toDF("rank", "left", "right", "n_occ")
      .orderBy("rank")
  }

  /** Applies the learned merges back to the corpus — the encode half of
    * the tokenizer loop: per document, the word count and the subword
    * count under the `nMerges`-round vocabulary. The per-word spelling
    * relation is vocab-sized and broadcasts onto one corpus explode;
    * a real deployment would persist it (a word → spelling dictionary)
    * and skip the re-derivation.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                nMerges: Int): DataFrame = {
    val (_, vocab) = bpeVocabChain(df, textCol, nMerges)
    val enc = vocab.select(col("word"),
      size(split(col("seq"), " ")).as("n_sub"))
    graft.core.Graft.rebalance(df)
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(enc), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).cast("long").as("n_subwords"))
      .orderBy("doc_id")
  }

  /** DuckDB twin of [[bpeLearn]] (adjacent so they cannot drift): the
    * same loop unrolled into a v0→p1→v1→…→pN CTE chain over the same
    * word-frequency table, scalar subqueries carrying each round's
    * argmax into the next round's two-pass replace.
    */
  /** The shared MATERIALIZED v0→p1→v1→… CTE chain (with the word
    * carried through, so both the merge table and the final spelling
    * are selectable). Every CTE is referenced through exactly one
    * derived table per consumer: v(k-1) feeds p_k and v_k, p_k feeds
    * v_k via a 1-row cross join carrying the pre-built search/replace
    * strings. Without this, CTE inlining re-evaluates the whole round
    * chain once per scalar-subquery reference (4 per round → 4^N).
    */
  private def sqlBpeChain(nMerges: Int): String = {
    val pairsOf = (v: String) =>
      s"""SELECT pr AS pair, sum(cnt) AS n FROM (
         |  SELECT cnt, unnest(CASE WHEN len(w) >= 2
         |    THEN list_transform(range(1, len(w)),
         |      i -> w[i] || ' ' || w[i + 1])
         |    ELSE []::VARCHAR[] END) AS pr
         |  FROM (SELECT cnt, string_split(seq, ' ') AS w FROM $v))
         |GROUP BY 1 ORDER BY n DESC, pair LIMIT 1""".stripMargin
    val rounds = (1 to nMerges).map { k =>
      val prev = s"v${k - 1}"
      s"""p$k AS MATERIALIZED (${pairsOf(prev)}),
         |v$k AS MATERIALIZED (
         |  SELECT word,
         |         trim(replace(replace(' ' || seq || ' ', m.pat, m.mrg),
         |                      m.pat, m.mrg)) AS seq, cnt
         |  FROM $prev CROSS JOIN (
         |    SELECT ' ' || pair || ' ' AS pat,
         |           ' ' || replace(pair, ' ', '') || ' ' AS mrg
         |    FROM p$k) m)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS MATERIALIZED (
       |  SELECT word, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq,
       |         count(*) AS cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  WHERE len(word) > 0 GROUP BY 1),
       |$rounds""".stripMargin
  }

  def sqlBpeLearn(nMerges: Int): String = {
    val out = (1 to nMerges).map { k =>
      s"""SELECT $k AS rank, split_part(pair, ' ', 1) AS "left",
         |  split_part(pair, ' ', 2) AS "right",
         |  CAST(n AS BIGINT) AS n_occ FROM p$k""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH ${sqlBpeChain(nMerges)}
       |$out
       |ORDER BY rank""".stripMargin
  }

  /** DuckDB twin of [[bpeEncode]] (adjacent so they cannot drift). */
  def sqlBpeEncode(nMerges: Int): String =
    s"""WITH ${sqlBpeChain(nMerges)},
       |enc AS (SELECT word, len(string_split(seq, ' ')) AS n_sub
       |        FROM v$nMerges),
       |docw AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |    FROM documents) WHERE len(word) > 0)
       |SELECT doc_id, count(*) AS n_words,
       |       CAST(sum(n_sub) AS BIGINT) AS n_subwords
       |FROM docw JOIN enc USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ── PII scrubbing ──────────────────────────────────────────────────

  /** (pattern, replacement) table for PII redaction. Patterns stay inside
    * the regex subset with identical semantics in Java (Spark
    * `regexp_replace`) and RE2 (the DuckDB twin): character classes,
    * bounded repetition, alternation — no backreferences or lookaround.
    * Order matters: emails first, so their user/host digits can't be
    * half-eaten by the phone/IP rules.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    // email addresses
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    // IPv4 addresses (before phones: a dotted quad is not 4 phone stubs)
    ("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    // NANP-style phone numbers: optional +1 / area code, 3-3-4 digits
    ("(\\+1[ .-]?)?(\\([0-9]{3}\\)[ .-]?|[0-9]{3}[ .-])[0-9]{3}[ .-][0-9]{4}",
      "<PHONE>"),
    // US SSN shape
    ("[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"))

  /** PII redaction — the pre-release scrub every published training
    * corpus runs: emails, IPv4s, phone numbers and SSN-shaped ids
    * replaced with typed placeholder tokens. A pure chain of codegen'd
    * `regexp_replace` projections: scan-speed, no shuffle, trivially
    * scales to any corpus size.
    */
  def piiScrub(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }

  /** Count of PII matches in a document (pre-scrub), by summing the
    * length deltas is wrong (replacements differ in length), so count
    * directly: `regexp_count` per pattern.
    */
  def piiCount(text: Column): Column =
    piiPatterns.map { case (p, _) => regexp_count(text, lit(p)) }
      .reduce(_ + _)

  /** DuckDB twin of [[piiScrub]] (adjacent so they cannot drift); RE2's
    * `g` flag replaces all occurrences like Java's replaceAll. DuckDB
    * single-quoted strings pass backslashes through verbatim — only the
    * quote needs escaping.
    */
  def sqlPiiScrub(textExpr: String): String =
    piiPatterns.foldLeft(textExpr) { case (e, (p, r)) =>
      s"regexp_replace($e, '${p.replace("'", "''")}', '$r', 'g')"
    }

  def sqlPiiCount(textExpr: String): String =
    piiPatterns.map { case (p, _) =>
      s"len(regexp_extract_all($textExpr, '${p.replace("'", "''")}'))"
    }.mkString("(", " + ", ")")

  /** One-pass document profile used by the pipeline queries. */
  def profile(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t))
      .withColumn("n_subwords", subwordCount(t))
      .withColumn("avg_token_len", round(avgTokenLen(t), 6))
      .withColumn("stopword_ratio", round(stopwordRatio(t), 6))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_pred", langPredict(t))
      .withColumn("fingerprint", fingerprint(t))
  }
}
