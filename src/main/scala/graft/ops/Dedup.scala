package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB regime:
  *
  *  - '''exact''': one hash-aggregate on md5(text) — map-side partial agg,
  *    shuffles one row per distinct hash.
  *  - '''MinHash + LSH''': shingle → signature → band-bucket join. The only
  *    shuffle is on (band index, band key); no O(n²) pair enumeration ever
  *    materializes — candidates are generated per bucket, which is the
  *    standard web-scale near-dup design (MMDS ch. 3 family of techniques).
  *  - '''SimHash''': 32-bit fingerprint; candidate pairs via byte-chunk
  *    pigeonhole buckets (hamming ≤ 3 ⟹ some chunk of 4 equal), verified
  *    by `bit_count(xor)`.
  *  - '''n-gram Jaccard''': exact verification on candidate buckets.
  *
  * All hashing goes through [[PortableHash]] (MD5-derived modular
  * arithmetic), so every operator has an exact DuckDB oracle.
  */
object Dedup {

  // ── exact ──────────────────────────────────────────────────────────

  /** Exact duplicate groups: canonical (min id) member, group size. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** Keep one row per distinct content (the canonical member). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val groups = exactGroups(df, idCol, textCol)
      .select(col("canonical_id").as(idCol))
    df.join(groups, idCol) // inner join on canonical ids keeps one per group
  }

  // ── shingling ──────────────────────────────────────────────────────

  /** Word n-gram shingles as 30-bit portable hashes; documents shorter than
    * n words fall back to one whole-text shingle.
    */
  def shingleHashes(text: Column, n: Int = 3): Column = {
    // bind the token array ONCE per row via a single-element lambda scope:
    // referencing `split(text)` directly inside the gram lambda would
    // re-evaluate the split once per gram (the expression tree is copied
    // into the lambda body — ~50× redundant splits per document)
    val perRow = transform(array(split(text, " ")), w => {
      val grams = when(
        size(w) >= n,
        transform(
          sequence(lit(0), size(w) - n),
          i => concat_ws(" ", slice(w, i + 1, lit(n)))
        )
      ).otherwise(array(text))
      array_distinct(transform(grams, g => PortableHash.h30(g)))
    })
    element_at(perRow, 1)
  }

  /** DuckDB fragment equal to [[shingleHashes]] (kept adjacent so the two
    * can never drift).
    */
  def sqlShingleHashes(textExpr: String, n: Int = 3): String = {
    val w = s"string_split($textExpr, ' ')"
    val grams =
      s"""CASE WHEN len($w) >= $n
         | THEN list_transform(range(len($w) - ${n - 1}),
         |        i -> array_to_string(($w)[i+1:i+$n], ' '))
         | ELSE [$textExpr] END""".stripMargin
    s"list_distinct(list_transform($grams, g -> ${PortableHash.sqlH30("g")}))"
  }

  // ── MinHash + LSH ──────────────────────────────────────────────────

  val MINHASH_K = 8 // signature length
  val LSH_R = 2     // rows per band → 4 bands

  /** MinHash signature: k affine re-hashes, min over shingles each. */
  def minhashSignature(shingles: Column, k: Int = MINHASH_K): Column =
    array((0 until k).map(j =>
      array_min(transform(shingles, h => PortableHash.affine(h, j)))): _*)

  def sqlMinhashSignature(shinglesExpr: String, k: Int = MINHASH_K): String =
    (0 until k)
      .map(j => s"list_min(list_transform($shinglesExpr, h -> ${PortableHash.sqlAffine("h", j)}))")
      .mkString("[", ", ", "]")

  /** Band keys: consecutive signature rows packed into one int64. */
  def bandKeys(sig: Column, r: Int = LSH_R): Column = {
    val bands = MINHASH_K / r
    array((0 until bands).map { b =>
      (0 until r).map(i => element_at(sig, b * r + i + 1))
        .reduceLeft((acc, s) => acc * PortableHash.P + s)
    }: _*)
  }

  /** LSH candidate pairs: ids sharing any band bucket, with the exact
    * signature-agreement estimate of Jaccard similarity.
    * Scale: the self-join is on (band index, band key) — a shuffle of
    * (bands × docs) slim rows, never an all-pairs product.
    *
    * @param maxBucket guard for boilerplate-heavy corpora: a band value
    *        shared by B documents (a boilerplate template, an empty-ish
    *        shingle set) expands to B²/2 candidate pairs — one degenerate
    *        bucket can dominate the whole job at web scale. With a cap,
    *        buckets larger than `maxBucket` are dropped before the join
    *        (pairs inside them almost always still co-occur in a sane
    *        bucket of another band; this is the standard LSH guard). The
    *        size count runs on the same (band, band_key) partitioning as
    *        the join, so it adds no shuffle.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, maxBucket: Option[Int] = None): DataFrame = {
    // staged projections: shingle hashes and signature each materialize
    // once — a single fused Project would re-inline the md5 hashing into
    // every one of the k=8 signature rows (CollapseProject keeps multi-
    // referenced non-cheap aliases separate)
    val withSig = graft.core.Graft.rebalance(df)
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sh"))
      .select(col("id"), minhashSignature(col("sh")).as("sig"))
    val bands0 = withSig.select(
      col("id"), col("sig"),
      posexplode(bandKeys(col("sig")))
    ).withColumnsRenamed(Map("pos" -> "band", "col" -> "band_key"))
      // identical shuffle on both self-join branches → ReusedExchange
      // computes the signatures once (a broadcast side would recompute)
      .repartition(col("band"), col("band_key"))
    val bands = maxBucket match {
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("band_key"))
        bands0.withColumn("_bsz", count(lit(1)).over(w))
          .filter(col("_bsz") <= cap).drop("_bsz")
      case None => bands0
    }

    val l = bands.alias("l")
    val r = bands.alias("r")
    val pairs = l.join(r,
        col("l.band") === col("r.band") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        col("l.sig").as("sig1"), col("r.sig").as("sig2"))
      .distinct()

    pairs.select(
      col("id1"), col("id2"),
      (size(filter(zip_with(col("sig1"), col("sig2"), (a, b) =>
        when(a === b, 1).otherwise(0)), x => x === 1)).cast("double")
        / MINHASH_K).as("est_jaccard")
    )
  }

  /** The production near-dup recipe at corpus scale: LSH candidate
    * generation (sub-quadratic, optionally bucket-capped) followed by
    * EXACT Jaccard verification computed only on the candidate pairs —
    * never an all-pairs or all-shingles join. Verification cost is
    * O(candidates × shingles-per-doc); the recall envelope is the LSH
    * family's, the precision is exact.
    */
  def verifiedNearDups(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, n: Int = 3,
                       maxBucket: Option[Int] = None): DataFrame = {
    // rebalance once and share; the nested rebalance inside
    // minhashCandidates sees the repartition upstream and no-ops
    val spread = graft.core.Graft.rebalance(df)
    val cand = minhashCandidates(spread, idCol, textCol, n, maxBucket)
      .select(col("id1"), col("id2"))
    val sh = spread
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("sh"))
    val joined = cand
      .join(sh.select(col("id").as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col("id").as("id2"), col("sh").as("sh2")), "id2")
      // stage the intersection size as a real column: referencing the
      // array_intersect expression three times in one projection would
      // recompute it (CollapseProject keeps staged aliases apart)
      .select(col("id1"), col("id2"),
        size(col("sh1")).as("sz1"), size(col("sh2")).as("sz2"),
        size(array_intersect(col("sh1"), col("sh2"))).as("inter"))
    joined.select(col("id1"), col("id2"),
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ── SimHash ────────────────────────────────────────────────────────

  val SIMHASH_BITS = 32

  /** 32-bit SimHash over word-token hashes: bit b set iff more token
    * hashes have bit b set than clear.
    */
  /** Per-bit majority vote over a (pre-materialized) token-hash array
    * column — the native single-pass kernel
    * ([[graft.functions.SimHash32]]); [[simhashOfComposed]] keeps the
    * built-in composition it is value-identical to (property-tested).
    */
  def simhashOf(hs: Column, bits: Int = SIMHASH_BITS): Column =
    graft.functions.SimHash32(hs, bits)

  /** Built-in-only formulation (what the DuckDB oracle mirrors). */
  def simhashOfComposed(hs: Column, bits: Int = SIMHASH_BITS): Column = {
    val n = size(hs)
    (0 until bits).map { b =>
      val ones = size(filter(hs, h => shiftright(h, b).bitwiseAND(1) === 1))
      when(ones * 2 >= n, lit(1L << b)).otherwise(lit(0L))
    }.reduceLeft(_ + _)
  }

  def tokenHashes(text: Column): Column =
    transform(split(text, " "), t => PortableHash.h60(t))

  def simhash(text: Column): Column = simhashOf(tokenHashes(text))

  /** Token-hash list fragment feeding [[sqlSimhashTerms]]. */
  def sqlTokenHashes(textExpr: String): String =
    s"list_transform(string_split($textExpr, ' '), t -> ${PortableHash.sqlH60("t")})"

  /** Per-bit vote terms over a column holding [[sqlTokenHashes]]. The
    * `len > 0` guard mirrors [[graft.functions.SimHash32]]'s empty-input
    * special case (an empty array is 0, not all-ones from the tie rule).
    */
  def sqlSimhashTerms(hsVar: String, bits: Int = SIMHASH_BITS): String =
    (0 until bits).map { b =>
      s"(CASE WHEN len($hsVar) > 0 AND 2 * len(list_filter($hsVar, h -> (h >> $b) & 1 = 1)) >= len($hsVar) THEN ${1L << b}::BIGINT ELSE 0 END)"
    }.mkString(" + ")

  /** Near-dup pairs with hamming distance ≤ maxDist, candidates via the
    * pigeonhole chunk trick: split 32 bits into (maxDist+1) chunks; any
    * pair within maxDist agrees on ≥1 chunk → join per chunk, then verify
    * with bit_count(xor).
    */
  /** @param bits fingerprint width: 32 (demo default) up to 64 — the
    *        100 TB setting is 64 bits / 8 chunks (maxDist = 7): fewer
    *        false candidates per pigeonhole chunk, wider verified radius.
    *        (With 60-bit token hashes, voted bits ≥ 60 are structurally 0
    *        — see [[graft.functions.SimHash32]].)
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, bits: Int = SIMHASH_BITS): DataFrame = {
    val chunks = maxDist + 1
    val width = bits / chunks
    val mask = (1L << width) - 1
    val sh = graft.core.Graft.rebalance(df)
      .select(col(idCol).as("id"), tokenHashes(col(textCol)).as("_hs"))
      .select(col("id"), simhashOf(col("_hs"), bits).as("sh"))
    val chunked = sh.select(col("id"), col("sh"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("sh"), c * width).bitwiseAND(mask)): _*)))
      .withColumnsRenamed(Map("pos" -> "chunk", "col" -> "chunk_val"))
      .repartition(col("chunk"), col("chunk_val")) // ReusedExchange (see LSH)
    val l = chunked.alias("l")
    val r = chunked.alias("r")
    l.join(r, col("l.chunk") === col("r.chunk") &&
        col("l.chunk_val") === col("r.chunk_val") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id1"), col("r.id").as("id2"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  // ── n-gram Jaccard ─────────────────────────────────────────────────

  /** Exact Jaccard (threshold > 0) via the scalable inverted-index design:
    * explode shingle hashes, equi-join on (bucket, shingle), and the pair's
    * match count IS the intersection size — one hash aggregation, never a
    * per-pair array intersection, and only pairs sharing ≥ 1 shingle are
    * ever materialized (identical output to the all-bucket-pairs formula
    * for any threshold > 0). `bucket` (e.g. lang/length band) bounds the
    * candidate space further.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   bucket: Column, threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0, "inverted-index jaccard needs threshold > 0")
    val ex = graft.core.Graft.rebalance(df)
      .select(col(idCol).as("id"), bucket.as("bucket"),
        shingleHashes(col(textCol), n).as("sh"))
      .select(col("id"), col("bucket"), size(col("sh")).as("sz"),
        explode(col("sh")).as("h"))
      .repartition(col("bucket"), col("h")) // ReusedExchange on self-join
    val l = ex.alias("l")
    val r = ex.alias("r")
    l.join(r, col("l.bucket") === col("r.bucket") && col("l.h") === col("r.h")
        && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("id1"), col("r.id").as("id2"),
        col("l.sz").as("sz1"), col("r.sz").as("sz2"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ── exact-substring (window) duplicate spans ───────────────────────

  /** Cross-document duplicated k-token spans and per-document duplicate
    * coverage — the exact-substring deduplication measure of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" (ACL
    * 2022): every k-token window of every document is fingerprinted; a
    * window occurring in ≥ 2 '''distinct''' documents marks its k token
    * positions as duplicated; a document's `dup_coverage` is the fraction
    * of its tokens inside at least one duplicated span. (Within-document
    * repetition is deliberately not counted — that axis is
    * [[TextAnalysis.repetition]].)
    *
    * Scale design: the corpus never forms document pairs. Windows explode
    * to slim (id, pos, hash64) rows, one hash-repartition on the window
    * hash serves BOTH the duplicated-window aggregation and the join back
    * (ReusedExchange), and "≥ 2 distinct docs" is `min(id) <> max(id)` —
    * partial-aggregable, no countDistinct. Cost is O(tokens) rows through
    * one exchange; the k-offset coverage explode multiplies only the
    * matched spans, not the corpus. This is the suffix-array substitute
    * that actually distributes: fixed-k windows trade the suffix array's
    * any-length matches for embarrassing parallelism (k = the minimum
    * span length worth deduplicating, 50 tokens in the paper).
    */
  def dupSpanCoverage(df: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", k: Int = 8): DataFrame = {
    require(k >= 2, "window length must be ≥ 2")
    val toks = graft.core.Graft.rebalance(df)
      .select(col(idCol).as("id"), split(col(textCol), " ").as("w"))
      .select(col("id"), col("w"), size(col("w")).as("n_tokens"))
      .filter(col("n_tokens") >= k)
    val wins = toks
      .select(col("id"), col("n_tokens"),
        posexplode(transform(sequence(lit(0), col("n_tokens") - k),
          i => PortableHash.h60(concat_ws(" ", slice(col("w"), i + 1, lit(k)))))))
      .toDF("id", "n_tokens", "pos", "wh")
      .repartition(col("wh")) // ReusedExchange: feeds the agg AND the join
    val dup = wins.groupBy("wh")
      .agg(min(col("id")).as("_mn"), max(col("id")).as("_mx"))
      .filter(col("_mn") =!= col("_mx"))
      .select("wh")
    val dwins = wins.join(dup, "wh").select("id", "pos")
    val cov = dwins
      .select(col("id"), explode(sequence(col("pos"), col("pos") + (k - 1))).as("tp"))
      .distinct()
      .groupBy("id").agg(count(lit(1)).as("covered_tokens"))
    val dw = dwins.groupBy("id").agg(count(lit(1)).as("dup_windows"))
    toks.select(col("id"), col("n_tokens"))
      .join(dw, Seq("id"), "left")
      .join(cov, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        (col("n_tokens") - (k - 1)).cast("long").as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 9).as("dup_coverage"))
  }

  /** DuckDB oracle equal to [[dupSpanCoverage]] (kept adjacent so the two
    * can never drift).
    */
  def sqlDupSpanCoverage(k: Int = 8, table: String = "documents",
                         idCol: String = "doc_id",
                         textCol: String = "text"): String = {
    val win = s"array_to_string(w[i+1:i+$k], ' ')"
    s"""WITH toks AS (
       |  SELECT $idCol AS id, string_split($textCol, ' ') AS w,
       |         len(string_split($textCol, ' ')) AS n_tokens
       |  FROM $table),
       |t AS (SELECT id, w, n_tokens FROM toks WHERE n_tokens >= $k),
       |wins AS (
       |  SELECT id, n_tokens, i AS pos, ${PortableHash.sqlH60(win)} AS wh
       |  FROM (SELECT id, n_tokens, w,
       |        unnest(range(n_tokens - $k + 1)) AS i FROM t)),
       |dup AS (SELECT wh FROM wins GROUP BY wh HAVING min(id) <> max(id)),
       |dwins AS (SELECT id, pos FROM wins JOIN dup USING (wh)),
       |cov AS (SELECT id, count(*) AS covered_tokens FROM (
       |    SELECT DISTINCT id, pos + u AS tp
       |    FROM (SELECT id, pos, unnest(range($k)) AS u FROM dwins))
       |  GROUP BY id),
       |dw AS (SELECT id, count(*) AS dup_windows FROM dwins GROUP BY id)
       |SELECT t.id AS $idCol, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(n_tokens - ${k - 1} AS BIGINT) AS n_windows,
       |       COALESCE(dup_windows, 0) AS dup_windows,
       |       COALESCE(covered_tokens, 0) AS covered_tokens,
       |       round(COALESCE(covered_tokens, 0)::DOUBLE / n_tokens, 9)
       |         AS dup_coverage
       |FROM t LEFT JOIN dw ON t.id = dw.id LEFT JOIN cov ON t.id = cov.id
       |ORDER BY $idCol""".stripMargin
  }

  /** Exact-substring span REMOVAL — the cleanup step of Lee et al. 2022,
    * not just the measurement: every k-token window occurring in ≥ 2
    * distinct documents keeps its first occurrence (the minimum doc id
    * holding the window) and is scrubbed from every other document; a
    * document's kept tokens re-concatenate in order. Returns every input
    * row with (n_tokens, n_removed, text) where untouched documents pass
    * their text through unchanged.
    *
    * Scale design on top of [[dupSpanCoverage]]'s window relation: the
    * removal set is slim (id, token-position) rows bounded by the
    * duplicated spans, and ONLY affected documents re-explode their
    * tokens for the rebuild — the untouched majority of a deduplicated
    * corpus never shuffles at all. The rebuild's per-document order is a
    * `sort_array(collect_list(struct(pos, tok)))` — deterministic, no
    * reliance on collect order.
    */
  def scrubDupSpans(df: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", k: Int = 8): DataFrame = {
    require(k >= 2, "window length must be ≥ 2")
    val base = graft.core.Graft.rebalance(df)
      .select(col(idCol).as("id"), col(textCol).as("_text"),
        split(col(textCol), " ").as("w"))
      .withColumn("n_tokens", size(col("w")))
    val toks = base.filter(col("n_tokens") >= k)
    val wins = toks
      .select(col("id"),
        posexplode(transform(sequence(lit(0), col("n_tokens") - k),
          i => PortableHash.h60(concat_ws(" ", slice(col("w"), i + 1, lit(k)))))))
      .toDF("id", "pos", "wh")
      .repartition(col("wh"))
    val canon = wins.groupBy("wh")
      .agg(min(col("id")).as("_mn"), max(col("id")).as("_mx"))
      .filter(col("_mn") =!= col("_mx"))
      .select(col("wh"), col("_mn"))
    val rm = wins.join(canon, "wh")
      .filter(col("id") =!= col("_mn"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("tp"))
      .distinct()
    val affected = rm.select("id").distinct()
    val survivors = toks
      .join(affected, Seq("id")) // affected docs only
      .select(col("id"), posexplode(col("w")).as(Seq("tp", "tok")))
      .join(rm, Seq("id", "tp"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("_surv_kept"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("tp"), col("tok")))),
          s => s.getField("tok"))).as("_surv_text"))
    // anchored on the AFFECTED set, not the survivor groups: a document
    // whose every token sits under a duplicated window (e.g. an exact
    // duplicate of >= k tokens) has NO surviving token rows, so the
    // groupBy alone would emit nothing and the outer coalesce would
    // silently restore its original text with n_removed = 0 — it must
    // come back fully scrubbed (kept = 0, empty text) instead
    val rebuilt = affected.join(survivors, Seq("id"), "left")
      .select(col("id"), coalesce(col("_surv_kept"), lit(0L)).as("_kept"),
        coalesce(col("_surv_text"), lit("")).as("_scrubbed"))
    base.join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("n_tokens").cast("long").as("n_tokens"),
        (col("n_tokens") - coalesce(col("_kept"), col("n_tokens")))
          .cast("long").as("n_removed"),
        coalesce(col("_scrubbed"), col("_text")).as(textCol))
      .orderBy(idCol)
  }

  /** DuckDB oracle equal to [[scrubDupSpans]] (kept adjacent so the two
    * can never drift).
    */
  def sqlScrubDupSpans(k: Int = 8, table: String = "documents",
                       idCol: String = "doc_id",
                       textCol: String = "text"): String = {
    val win = s"array_to_string(w[i+1:i+$k], ' ')"
    s"""WITH base AS (
       |  SELECT $idCol AS id, $textCol AS _text,
       |         string_split($textCol, ' ') AS w,
       |         len(string_split($textCol, ' ')) AS n_tokens
       |  FROM $table),
       |t AS (SELECT id, w, n_tokens FROM base WHERE n_tokens >= $k),
       |wins AS (
       |  SELECT id, i AS pos, ${PortableHash.sqlH60(win)} AS wh
       |  FROM (SELECT id, w, unnest(range(n_tokens - $k + 1)) AS i FROM t)),
       |canon AS (SELECT wh, min(id) AS mn FROM wins GROUP BY wh
       |          HAVING min(id) <> max(id)),
       |rm AS (SELECT DISTINCT id, pos + u AS tp
       |       FROM (SELECT id, pos, unnest(range($k)) AS u
       |             FROM wins JOIN canon USING (wh) WHERE id <> mn)),
       |survivors AS (
       |  SELECT id, count(*) AS kept,
       |         array_to_string(list(tok ORDER BY tp), ' ') AS scrubbed
       |  FROM (
       |    SELECT p.id, p.tp, p.tok FROM (
       |      SELECT id, u - 1 AS tp, w[u] AS tok FROM (
       |        SELECT id, w, unnest(range(1, len(w) + 1)) AS u FROM t
       |        WHERE id IN (SELECT DISTINCT id FROM rm))) p
       |    ANTI JOIN rm ON p.id = rm.id AND p.tp = rm.tp)
       |  GROUP BY id),
       |rebuilt AS (
       |  -- anchored on the affected set: a fully-scrubbed doc has no
       |  -- survivor group and must come back (kept=0, ''), not original
       |  SELECT a.id, COALESCE(s.kept, 0) AS kept,
       |         COALESCE(s.scrubbed, '') AS scrubbed
       |  FROM (SELECT DISTINCT id FROM rm) a
       |  LEFT JOIN survivors s ON a.id = s.id)
       |SELECT base.id AS $idCol, CAST(n_tokens AS BIGINT) AS n_tokens,
       |       CAST(n_tokens - COALESCE(kept, n_tokens) AS BIGINT)
       |         AS n_removed,
       |       COALESCE(scrubbed, _text) AS $textCol
       |FROM base LEFT JOIN rebuilt ON base.id = rebuilt.id
       |ORDER BY $idCol""".stripMargin
  }

  // ── duplicate clusters ─────────────────────────────────────────────

  /** Keep ONE document per near-duplicate cluster: label the candidate
    * pairs with [[connectedComponents]] (comp = min reachable id), drop
    * every labeled node except its cluster's minimum, keep everything
    * unlabeled (singletons never enter the edge set). The anti-join ships
    * only the slim drop-list; the documents table is scanned once.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String,
                         pairs: DataFrame): DataFrame = {
    val drop = connectedComponents(pairs)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Connected components over candidate-pair edges `(id1, id2)`: every
    * node mapped to the minimum id reachable from it (`comp`) — the
    * canonical document of its duplicate cluster. This is the step that
    * turns pairwise near-dup evidence into an actual keep/drop decision.
    * Ids are integral; `(id, comp)` keep the input's id type.
    *
    * Contraction first: one `mapPartitions` pass over `pairs`, in
    * whatever partitioning they arrive, runs union-find over each task's
    * own edges (smaller id as root) and emits `(node, root)` for every
    * node the task saw — a star forest with exactly the input's
    * components. A node's first label is the minimum of its roots. The
    * labels and each node's distinct roots are materialized once, and the
    * same pass counts the STRADDLING nodes (more than one distinct root)
    * and sums the labels.
    *
    * No straddler: done, with no round. Every node then has one root r,
    * and r's only root is r itself, so each star edge joins two equal
    * labels; labels are constant on every component, and a component's
    * minimum labels itself (each of its roots is at most its own id).
    * Pairs partitioned by a component key — SemDeDup's pairs, partitioned
    * by cell — always end here.
    *
    * Otherwise the straddlers' components are finished by min-label
    * propagation with pointer jumping over the star edges (every node to
    * each of its distinct roots), seeded with the contracted labels. Each
    * round (a) pulls the minimum label from the 1-hop neighborhood and (b)
    * compresses by adopting the label's own label — labels travel
    * exponentially far per round, so convergence is O(log diameter)
    * rounds (2-hop doubling, the Hash-to-Min family of CC algorithms)
    * rather than O(diameter). Every round is three hash shuffles of the
    * slim (id, comp) relation — never the document payloads — and each
    * round's result is materialized ([[graft.core.Graft.pin]]) so the
    * plan stays O(1) deep instead of nesting every previous iteration.
    * The driver only reads each materialization's metrics; no data is
    * collected.
    *
    * Pre-partitioning the edges by node before the rounds was measured
    * and rejected (one job more, no saving); fewer rounds is the lever.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // the type the old symmetric edge union had: id1's and id2's, widened
    val idType = pairs.select(col("id1").as("id"))
      .union(pairs.select(col("id2").as("id"))).schema("id").dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"connectedComponents needs integral ids, got $idType")
    val longPair = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    val stars = pairs.select(col("id1").cast("long"), col("id2").cast("long"))
      .as(longPair).mapPartitions(starForest)(longPair).toDF("id", "root")
    // labels are node ids and only ever decrease, so the label sum is a
    // strictly decreasing potential function: cheap convergence detection,
    // decimal so an id-sum cannot overflow at any corpus size; sum over
    // zero rows is NULL — treated as 0 so an empty edge set converges
    // instead of NPEing.
    val potential = sum(col("comp").cast("decimal(38,0)")).as("pot")
    def pot(m: Map[String, Any]): java.math.BigDecimal =
      Option(m("pot").asInstanceOf[java.math.BigDecimal])
        .getOrElse(java.math.BigDecimal.ZERO)
    // Observation metrics are ACCUMULATOR-based: sound when the
    // materialization executes the lineage exactly once (localCheckpoint
    // — the default), but a RELIABLE checkpoint (checkpoint dir set, see
    // Graft.pin) re-executes the lineage in the checkpoint write job and
    // double-counts the sum, while task retries could skew it
    // arbitrarily — against the previous pot that could declare
    // convergence early (2·S1 == S0) or late. Under reliable pins the
    // metrics are therefore one exact aggregate over the checkpointed rows
    // (noise next to the DFS write each pin then pays), so the straddler
    // count the no-round exit tests is exact there too.
    val reliable = graft.core.Graft.pinsReliably(pairs.sparkSession)
    def materialize(df: DataFrame, metrics: Column*)
        : (DataFrame, Map[String, Any]) =
      if (reliable) {
        val pinned = graft.core.Graft.pin(df)
        val row = pinned.agg(metrics.head, metrics.tail: _*).head()
        (pinned, row.getValuesMap[Any](row.schema.fieldNames.toSeq))
      } else {
        val obs = new Observation(s"cc-${java.util.UUID.randomUUID()}")
        val pinned = graft.core.Graft.pin(
          df.observe(obs, metrics.head, metrics.tail: _*))
        (pinned, obs.get)
      }
    val (seeded, seedMetrics) = materialize(
      stars.groupBy("id").agg(min(col("root")).as("comp"),
        collect_set(col("root")).as("roots")),
      potential, count_if(size(col("roots")) > 1).as("straddlers"))
    var comp = seeded.select(col("id"), col("comp"))
    if (seedMetrics("straddlers").asInstanceOf[Long] > 0) {
      val star = seeded.select(col("id").as("a"), explode(col("roots")).as("b"))
        .filter(col("a") =!= col("b"))
      val edges = star.union(star.select(col("b").as("a"), col("a").as("b")))
      var p = pot(seedMetrics)
      var converged = false
      while (!converged) {
        // (a) minimum label in the 1-hop neighborhood (labels are node
        // ids, so min(own, neighbors') is monotonically non-increasing)
        val neighborMin = edges
          .join(comp, edges("b") === comp("id"))
          .groupBy(col("a").as("id")).agg(min(col("comp")).as("ncomp"))
        val relaxed = comp.alias("c")
          .join(neighborMin.alias("n"), Seq("id"), "left")
          .select(col("id"),
            least(col("c.comp"), coalesce(col("n.ncomp"), col("c.comp")))
              .as("comp"))
        // (b) pointer jumping: adopt the label's own current label
        val jumped = relaxed.alias("m")
          .join(relaxed.select(col("id").as("lid"), col("comp").as("lcomp"))
            .alias("p"), col("m.comp") === col("p.lid"), "left")
          .select(col("id"),
            least(col("m.comp"), coalesce(col("p.lcomp"), col("m.comp")))
              .as("comp"))
        val (next, metrics) = materialize(jumped, potential)
        val nextPot = pot(metrics)
        comp = next
        converged = nextPot.compareTo(p) == 0
        p = nextPot
      }
    }
    comp.select(col("id").cast(idType).as("id"),
      col("comp").cast(idType).as("comp"))
  }

  /** One task's share of the pairs contracted by union-find, the smaller
    * id always the root: `(node, root)` for every node seen, so each star
    * is one component of the share. State is two arrays over the share's
    * distinct ids plus an open-addressing id → index table, ids unboxed.
    */
  private def starForest(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var ids = new Array[Long](64)     // index → id
    var parent = new Array[Int](64)   // index → parent index
    var slots = new Array[Int](128)   // hash slot → index + 1, 0 = free
    var n = 0
    def home(id: Long, mask: Int): Int = {
      val h = id * 0x9E3779B97F4A7C15L
      (h ^ (h >>> 32)).toInt & mask
    }
    def place(i: Int): Unit = {
      val mask = slots.length - 1
      var s = home(ids(i), mask)
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = i + 1
    }
    def index(id: Long): Int = {
      val mask = slots.length - 1
      var s = home(id, mask)
      while (slots(s) != 0) {
        if (ids(slots(s) - 1) == id) return slots(s) - 1
        s = (s + 1) & mask
      }
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, 2 * n)
        parent = java.util.Arrays.copyOf(parent, 2 * n)
      }
      ids(n) = id
      parent(n) = n
      n += 1
      if (2 * n > slots.length) {
        slots = new Array[Int](2 * slots.length)
        (0 until n).foreach(place)
      } else slots(s) = n
      n - 1
    }
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    edges.foreach { case (a, b) =>
      val ra = find(index(a))
      val rb = find(index(b))
      if (ra != rb) { if (ids(ra) < ids(rb)) parent(rb) = ra else parent(ra) = rb }
    }
    Iterator.range(0, n).map(i => (ids(i), ids(find(i))))
  }

  // ── line-level dedup (boilerplate removal) ─────────────────────────

  /** Non-overlapping `width`-word segments of a document, in order — the
    * "lines" of line-level corpus dedup. Corpora with real line structure
    * would split on newlines; the fixed-width segmentation is the same
    * rule C4 applies to its three-sentence spans and works on any text.
    * The last segment may be short; an empty/short document is one
    * segment (its whole text).
    */
  def lineSegments(text: Column, width: Int): Column = {
    // same bind-once scope as shingleHashes: evaluate the split once per
    // row, not once per segment
    val perRow = transform(array(split(text, " ")), w =>
      transform(
        sequence(lit(0), greatest(lit(0L),
          floor((size(w) + (width - 1)).cast("double") / lit(width.toDouble))
            .cast("long") - 1)),
        i => concat_ws(" ", slice(w, i * width + 1, lit(width)))))
    element_at(perRow, 1)
  }

  /** Corpus-level duplicate-line removal — the CCNet/C4 boilerplate
    * filter: segment every document into `width`-word lines, count each
    * distinct line's occurrences across the WHOLE corpus, and rewrite
    * every document with its lines that occur more than `maxDup` times
    * removed (headers, footers, navigation chrome — the segments that
    * repeat verbatim across many pages).
    *
    * Returns one row per input document: `(doc_id, n_segs, n_kept,
    * text_clean)` — `text_clean` is the document rebuilt from its kept
    * segments in original order (empty string when every line was
    * boilerplate).
    *
    * 100 TB shape: the global count is one hash-aggregate on a 60-bit
    * line hash (map-side partial agg — the shuffle carries one long +
    * count per distinct line per partition). The drop list (`n_occ >
    * maxDup`) is then a TINY relation — boilerplate is by definition the
    * small set of lines repeated many times — so the removal step is a
    * broadcast left-anti join against the corpus-side segments: the
    * corpus is never shuffled, only scanned twice (count pass + rewrite
    * pass). The per-document rebuild is the one real shuffle, keyed by
    * doc_id and carrying only kept segments.
    */
  /** @param hintBroadcast force-broadcast the duplicate-segment drop
    *        list (default). With a low `maxDup` on a web corpus the drop
    *        list is NOT guaranteed tiny — every segment repeated anywhere
    *        enters it — so at corpus scale where it may outgrow the
    *        driver, pass `false` to let AQE pick the join (the anti-join
    *        degrades to shuffle instead of OOMing the driver; same
    *        escape hatch as [[Decontaminate.overlaps]]).
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                width: Int = 10, maxDup: Int = 1,
                hintBroadcast: Boolean = true): DataFrame = {
    val segs = graft.core.Graft.rebalance(df)
      .select(col(idCol).as("doc_id"),
        posexplode(lineSegments(col(textCol), width))
          .as(Seq("seg_idx", "seg")))
      .withColumn("seg_h", PortableHash.h60(col("seg")))
    val dropList = segs
      .groupBy(col("seg_h")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > maxDup)
      .select("seg_h")
    val kept = segs.join(
        if (hintBroadcast) broadcast(dropList) else dropList,
        Seq("seg_h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            s => s("seg")),
          " ").as("text_clean"))
    df.select(col(idCol).as("doc_id"),
        size(lineSegments(col(textCol), width)).cast("long").as("n_segs"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** DuckDB twin of [[lineDedup]] (adjacent so they cannot drift). */
  def sqlLineDedup(width: Int = 10, maxDup: Int = 1): String =
    s"""WITH segs AS (
       |  SELECT doc_id, i AS seg_idx,
       |         array_to_string(
       |           (string_split(text, ' '))[i*$width+1 : i*$width+$width],
       |           ' ') AS seg
       |  FROM (SELECT doc_id, text,
       |               unnest(range(greatest(1, CAST(ceil(
       |                 CAST(len(string_split(text, ' ')) AS DOUBLE)
       |                 / $width) AS BIGINT)))) AS i
       |        FROM documents)),
       |hashed AS (
       |  SELECT doc_id, seg_idx, seg,
       |         ${PortableHash.sqlH60("seg")} AS seg_h FROM segs),
       |drop_list AS (
       |  SELECT seg_h FROM hashed GROUP BY seg_h
       |  HAVING count(*) > $maxDup),
       |kept AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |         string_agg(seg, ' ' ORDER BY seg_idx) AS text_clean
       |  FROM hashed WHERE seg_h NOT IN (SELECT seg_h FROM drop_list)
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CAST(greatest(1, ceil(
       |         CAST(len(string_split(d.text, ' ')) AS DOUBLE) / $width))
       |         AS BIGINT) AS n_segs,
       |       coalesce(k.n_kept, 0) AS n_kept,
       |       coalesce(k.text_clean, '') AS text_clean
       |FROM documents d LEFT JOIN kept k USING (doc_id)
       |ORDER BY doc_id""".stripMargin
}
