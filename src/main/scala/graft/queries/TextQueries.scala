package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.TextOps

/** Text-analysis operators over the documents table: token counting,
  * language-ID heuristic, quality scoring, fingerprinting. All pure
  * column expressions (single scan, no shuffle except final sort).
  */
object TextQueries {

  private val stop = "the|and|of|to|in|a|is"

  /** Count-only columns use `regexp_count` — same match semantics as
    * len(regexp_extract_all(..)) but no match-array materialization
    * (the arrays were the #2 bench cost); only n_vocab, which needs the
    * distinct word SET, still extracts.
    */
  val textTokenCount: QueryDef = QueryDef.sql("text_token_count",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe,
      |  CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_vocab,
      |  CAST(length(text) AS BIGINT) AS len_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir).select(
      col("doc_id"),
      expr("regexp_count(text, '\\\\S+')").cast("long").as("n_ws"),
      expr("regexp_count(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]')")
        .cast("long").as("n_bpe"),
      size(array_distinct(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")))
        .cast("long").as("n_vocab"),
      length(col("text")).cast("long").as("len_chars"))
      .orderBy(col("doc_id"))
  }

  // ---- shared language-ID fragments (ONE definition per formula; the
  // funnel query composes these, so they must not fork from text_lang_id)
  private[graft] val langMarkers = Seq(
    "en" -> "the|and|of|to|in",
    "es" -> "el|la|de|que|los",
    "de" -> "der|die|und|das|ist",
    "fr" -> "le|la|les|des|et")
  private[graft] val langCntsDuck = langMarkers.map { case (l, re) =>
    s"len(regexp_extract_all(lower(text), '\\b($re)\\b')) AS s_$l" }.mkString(",\n  ")
  private[graft] def langCntCols = langMarkers.map { case (l, re) =>
    expr(s"regexp_count(lower(text), '\\\\b($re)\\\\b')").as(s"s_$l") }
  /** Valid in both engines over the s_* count columns. */
  private[graft] val langCaseSql =
    """CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
      |     WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
      |     WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
      |     WHEN s_de >= s_fr THEN 'de'
      |     ELSE 'fr' END""".stripMargin

  /** Stopword-frequency language ID (n-gram heuristic): count per-language
    * marker words, argmax with a fixed priority order; no markers -> 'und'.
    */
  val textLangId: QueryDef = {
    val duckCnts = langCntsDuck
    val sparkCnts = langCntCols
    val caseSql = langCaseSql
    QueryDef.sql("text_lang_id",
      s"""WITH c AS (SELECT doc_id, lang,
         |  $duckCnts
         |  FROM documents)
         |SELECT doc_id, $caseSql AS pred,
         |  CASE WHEN ($caseSql) = lang THEN 1 ELSE 0 END AS agree
         |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(Seq(col("doc_id"), col("lang")) ++ sparkCnts: _*)
        .select(col("doc_id"), expr(caseSql).as("pred"),
          when(expr(caseSql) === col("lang"), 1).otherwise(0).as("agree"))
        .orderBy(col("doc_id"))
    }
  }

  /** Quality score: length saturation + punctuation penalty + stopword
    * density + vocabulary diversity, fixed weights, rounded to 6.
    */
  val textQualityScore: QueryDef = {
    val duckSql =
      s"""WITH c AS (SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS nc,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS nw,
         |  CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS nv,
         |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS BIGINT) AS np,
         |  CAST(len(regexp_extract_all(lower(text), '\\b($stop)\\b')) AS BIGINT) AS ns
         |  FROM documents)
         |SELECT doc_id,
         |  round(0.3 * least(nw / 100.0, 1.0)
         |      + 0.3 * (1.0 - np / CAST(greatest(nc, 1) AS DOUBLE))
         |      + 0.2 * least(ns * 5.0 / CAST(greatest(nw, 1) AS DOUBLE), 1.0)
         |      + 0.2 * (nv / CAST(greatest(nw, 1) AS DOUBLE)), 6) AS score
         |FROM c ORDER BY doc_id""".stripMargin
    QueryDef.sql("text_quality_score", duckSql) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("nc"),
          // nw/nv share one words regex — codegen subexpression
          // elimination evaluates the extract once per row; the pure
          // counts (np, ns) skip array materialization via regexp_count
          size(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).cast("long").as("nw"),
          size(array_distinct(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")))
            .cast("long").as("nv"),
          expr("regexp_count(text, '[^a-zA-Z0-9\\\\s]')").cast("long").as("np"),
          expr(s"regexp_count(lower(text), '\\\\b($stop)\\\\b')").cast("long").as("ns"))
        .select(col("doc_id"),
          round(lit(0.3) * least(col("nw") / 100.0, lit(1.0))
            + lit(0.3) * (lit(1.0) - col("np") / greatest(col("nc"), lit(1)).cast("double"))
            + lit(0.2) * least(col("ns") * 5.0 / greatest(col("nw"), lit(1)).cast("double"), lit(1.0))
            + lit(0.2) * (col("nv") / greatest(col("nw"), lit(1)).cast("double")), 6).as("score"))
        .orderBy(col("doc_id"))
    }
  }

  /** Normalization fingerprint: md5 of lowercase text with non-alnum runs
    * collapsed to single spaces (whitespace/punctuation-insensitive
    * duplicate detection).
    */
  val textFingerprint: QueryDef = QueryDef.sql("text_fingerprint",
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")).cast("binary")).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** Polynomial rolling-hash fingerprint via the native codegen'd
    * RollingHash expression (graft.functions), over normalized text.
    */
  val textRollingHash: QueryDef = QueryDef.sql("text_rolling_hash",
    """WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      |           FROM documents)
      |SELECT doc_id,
      |  list_reduce(list_prepend(0::BIGINT, [ascii(c)::BIGINT for c in string_split(norm, '')]),
      |              (acc, x) -> (acc * 257 + x) % 1000000007) AS rh
      |FROM n ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.functions.RollingHash.register(s)
    Tables.documents(s, dir)
      .withColumn("norm", trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
      .select(col("doc_id"), expr("rolling_hash(norm)").as("rh"))
      .orderBy(col("doc_id"))
  }

  /** Per-group top-k: 3 longest documents per lang, deterministic
    * (n_chars desc, doc_id) ranking.
    */
  val textTopPerLang: QueryDef = QueryDef.sql("text_top_per_lang",
    """WITH r AS (SELECT lang, doc_id, n_chars,
      |  CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk
      |  FROM documents)
      |SELECT lang, doc_id, n_chars, rnk FROM r WHERE rnk <= 3
      |ORDER BY lang, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        row_number().over(w).cast("long").as("rnk"))
      .where(col("rnk") <= 3)
      .orderBy(col("lang"), col("rnk"))
  }

  /** Corpus-level top-20 word bigrams (explode -> count -> deterministic
    * top-k) — the n-gram frequency profile of the text-analysis family.
    */
  val textTopNgrams: QueryDef = QueryDef.sql("text_top_ngrams",
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
      |b AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      |      FROM t WHERE len(w) >= 2),
      |c AS (SELECT bg, count(*) AS n FROM b GROUP BY bg)
      |SELECT bg, n FROM c ORDER BY n DESC, bg LIMIT 20""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .withColumn("__w", TextOps.wordsExpr)
      .where(size(col("__w")) >= 2)
      .select(explode(expr(
        """transform(arrays_zip(slice(__w, 1, size(__w) - 1), slice(__w, 2, size(__w) - 1)),
          |p -> concat_ws(' ', p.`0`, p.`1`))""".stripMargin)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bg"))
      .limit(20)
  }

  /** Per-language distinct-word cardinality via the native KMV sketch
    * (functions.KMVDistinct, a TypedImperativeAggregate): one pass,
    * fixed k·8-byte state per group, mergeable — the 100 TB cardinality
    * shape. KMV is a deterministic function of the input SET, so the
    * oracle reproduces the exact estimate from sorted distinct hashes;
    * [[sketchDistinctHll]] is the register-based alternative whose
    * update needs no distinct pass at all.
    */
  val sketchDistinctKmv: QueryDef = {
    def duckHash(salt: String, v: String): String = OracleSql.hash64(salt, v)
    QueryDef.sql("sketch_distinct_kmv",
      s"""WITH w AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |           FROM documents),
         |d AS (SELECT DISTINCT lang, ${duckHash("'w'", "word")} AS hv FROM w),
         |r AS (SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
         |             count(*) OVER (PARTITION BY lang) AS nd FROM d)
         |SELECT lang,
         |  round(CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS DOUBLE)
         |        ELSE 63.0 * 1152921504606846976.0 / CAST(max(CASE WHEN rn = 64 THEN hv END) AS DOUBLE)
         |        END, 6) AS est
         |FROM r GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      graft.functions.KMVDistinct.register(s)
      TextOps.ensureFunctions(s)
      Tables.documents(s, dir)
        .select(col("lang"), explode(TextOps.wordsExpr).as("word"))
        .select(col("lang"), expr(TextOps.portableHash64Sql("'w'", "word")).as("hv"))
        .groupBy(col("lang"))
        .agg(round(expr("kmv_distinct(hv, 64)"), 6).as("est"))
        .orderBy(col("lang"))
    }
  }

  /** Per-language distinct-word cardinality via the native HLL sketch
    * (functions.HLLDistinct, m = 64 dense byte registers): the
    * register-file tier beside [[sketchDistinctKmv]]. The update is two
    * bit-ops + a byte max — duplicate-insensitive, so the word stream
    * feeds the aggregate with NO distinct pass (KMV's oracle needs
    * one), and partials merge as an element-wise max of 64-byte
    * buffers. That is the 100 TB trade: per-group state shrinks from
    * k·8 B sets to a fixed register file and the shuffle payload is
    * constant regardless of duplicate rate or group skew.
    *
    * In the exact-compare gate despite being HLL: the estimate is
    * reached through the EXACT integer register sum
    * S = Σ 2^(55−M_j) (one double division of identical operands on
    * both engines — see HLLDistinct's scaladoc), and the oracle
    * replays the registers in SQL: bucket = hv % 64, rho = 55 −
    * bit_length(hv // 64) via `length(bin(x))` (both engines' bin()
    * drops leading zeros), max per bucket over a dense 64-row grid.
    * The linear-counting branch (E ≤ 160 ∧ V > 0 → 64·ln(64/V)) is in
    * both SQL and the aggregate; its 63 possible outputs all sit far
    * from 6-decimal rounding boundaries, so round-6 absorbs any libm
    * ulp (the per-lang sf≥0.01 vocabularies take the raw branch; the
    * small branch is spec-covered).
    */
  val sketchDistinctHll: QueryDef = {
    def duckHash(salt: String, v: String): String = OracleSql.hash64(salt, v)
    QueryDef.sql("sketch_distinct_hll",
      s"""WITH w AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |           FROM documents),
         |h AS (SELECT lang, ${duckHash("'w'", "word")} AS hv FROM w),
         |r AS (SELECT lang, hv % 64 AS bucket,
         |        CASE WHEN hv // 64 = 0 THEN 55
         |             ELSE 55 - length(bin(hv // 64)) END AS rho
         |      FROM h),
         |mx AS (SELECT lang, bucket, max(rho) AS mr FROM r GROUP BY 1, 2),
         |grid AS (SELECT l.lang, g.b AS bucket
         |         FROM (SELECT DISTINCT lang FROM mx) l, range(0, 64) g(b)),
         |reg AS (SELECT grid.lang, coalesce(mx.mr, 0) AS mr
         |        FROM grid LEFT JOIN mx
         |          ON grid.lang = mx.lang AND grid.bucket = mx.bucket),
         |sm AS (SELECT lang, sum(CAST(1 AS BIGINT) << (55 - mr)) AS s,
         |              sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS nv
         |       FROM reg GROUP BY lang),
         |est AS (SELECT lang, nv,
         |          CAST(0.709 AS DOUBLE) * 4096.0 *
         |            CAST(36028797018963968 AS DOUBLE) / CAST(s AS DOUBLE) AS raw
         |        FROM sm)
         |SELECT lang,
         |  round(CASE WHEN raw <= 160.0 AND nv > 0
         |        THEN 64.0 * ln(64.0 / nv) ELSE raw END, 6) AS est
         |FROM est ORDER BY lang""".stripMargin) { (s, dir) =>
      graft.functions.HLLDistinct.register(s)
      TextOps.ensureFunctions(s)
      Tables.documents(s, dir)
        .select(col("lang"), explode(TextOps.wordsExpr).as("word"))
        .select(col("lang"), expr(TextOps.portableHash64Sql("'w'", "word")).as("hv"))
        .groupBy(col("lang"))
        .agg(round(expr("hll_distinct(hv, 6)"), 6).as("est"))
        .orderBy(col("lang"))
    }
  }

  /** KMV sketch SET ALGEBRA across corpus partitions — the theta-sketch
    * workflow on the engine's deterministic KMV: per-partition distinct
    * estimates (en / fr vocabularies), the UNION estimate from one
    * aggregate over both partitions' rows (KMV union = bottom-k of the
    * merged distinct-hash set — exactly what the aggregate's merge
    * computes, so a persisted per-partition sketch table unions without
    * touching raw data), and the INTERSECTION by inclusion-exclusion
    * (est_a + est_b − est_union) — the "how much vocabulary do these
    * two corpora share" question answered from k·8-byte summaries
    * instead of a distinct-join over the raw corpora.
    *
    * Determinism: KMV is a pure function of the input hash SET
    * (sketch_distinct_kmv's argument); the oracle replays each
    * estimate from sorted distinct hashes and composes the identical
    * rounded values, so inclusion-exclusion over rounds is exact.
    */
  val sketchSetops: QueryDef = {
    def duckHash(salt: String, v: String): String = OracleSql.hash64(salt, v)
    def duckEst(rnCol: String, ndCol: String, hvCol: String): String =
      s"""round(CASE WHEN max($ndCol) < 64 THEN CAST(max($ndCol) AS DOUBLE)
         |  ELSE 63.0 * 1152921504606846976.0 /
         |       CAST(max(CASE WHEN $rnCol = 64 THEN $hvCol END) AS DOUBLE)
         |  END, 6)""".stripMargin
    QueryDef.sql("sketch_setops",
      s"""WITH w AS (SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |           FROM documents WHERE lang IN ('en', 'fr')),
         |d AS (SELECT DISTINCT lang, ${duckHash("'w'", "word")} AS hv FROM w),
         |ra AS (SELECT lang, hv, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
         |              count(*) OVER (PARTITION BY lang) AS nd FROM d),
         |es AS (SELECT lang, ${duckEst("rn", "nd", "hv")} AS est FROM ra GROUP BY lang),
         |du AS (SELECT DISTINCT hv FROM d),
         |ru AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
         |              count(*) OVER () AS nd FROM du),
         |eu AS (SELECT ${duckEst("rn", "nd", "hv")} AS est_union FROM ru)
         |SELECT ea.est AS est_en, eb.est AS est_fr, est_union,
         |  round(ea.est + eb.est - est_union, 6) AS est_intersect
         |FROM (SELECT est FROM es WHERE lang = 'en') ea,
         |     (SELECT est FROM es WHERE lang = 'fr') eb, eu""".stripMargin) { (s, dir) =>
      graft.functions.KMVDistinct.register(s)
      TextOps.ensureFunctions(s)
      val hv = Tables.documents(s, dir)
        .where(col("lang").isin("en", "fr"))
        .select(col("lang"), explode(TextOps.wordsExpr).as("word"))
        .select(col("lang"), expr(TextOps.portableHash64Sql("'w'", "word")).as("hv"))
      val per = hv.groupBy(col("lang"))
        .agg(round(expr("kmv_distinct(hv, 64)"), 6).as("est"))
      val union = hv.agg(round(expr("kmv_distinct(hv, 64)"), 6).as("est_union"))
      per.where(col("lang") === "en").select(col("est").as("est_en"))
        .crossJoin(per.where(col("lang") === "fr").select(col("est").as("est_fr")))
        .crossJoin(union)
        .withColumn("est_intersect",
          round(col("est_en") + col("est_fr") - col("est_union"), 6))
    }
  }

  /** PII scrub — the redaction pass a training corpus runs before use:
    * count and replace email addresses and URLs with placeholder tokens.
    * Patterns stay in the Java-regex ∩ RE2 common subset so Spark and
    * DuckDB match identically; the redacted text is emitted as an md5
    * checksum (compact to compare, still pins every byte). Single scan,
    * pure codegen'd string expressions — at 100 TB this is a map-only
    * stage with zero shuffle.
    */
  val textPiiScrub: QueryDef = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val url = "https?://[^ \\t\\n]+"
    QueryDef.sql("text_pii_scrub",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$url')) AS BIGINT) AS n_urls,
         |  md5(regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'), '$url', '<URL>', 'g')) AS redacted_md5
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(url)).cast("long").as("n_urls"),
        md5(regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"), url, "<URL>")
          .cast("binary")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }
  }

  /** Intra-document repetition — the Gopher-style quality signal exact
    * dedup can't see: the fraction of duplicate words and duplicate
    * 3-grams WITHIN one document (boilerplate, copy-paste loops, decoding
    * glitches repeat locally). Pure single-scan array arithmetic over the
    * shared tokenization contract; docs under 3 words report 0 trigram
    * repetition rather than a null/divide-by-zero.
    */
  val textRepetition: QueryDef = QueryDef.sql("text_repetition",
    """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
      |g AS (SELECT doc_id, w,
      |        CASE WHEN len(w) >= 3
      |          THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
      |          ELSE [] END AS t
      |      FROM w)
      |SELECT doc_id,
      |  CAST(len(w) AS BIGINT) AS n_words,
      |  CASE WHEN len(w) > 0
      |    THEN round(1.0 - len(list_distinct(w))::DOUBLE / len(w), 6) ELSE 0.0 END AS dup_word_ratio,
      |  CASE WHEN len(t) > 0
      |    THEN round(1.0 - len(list_distinct(t))::DOUBLE / len(t), 6) ELSE 0.0 END AS dup_trigram_ratio
      |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val grams = expr(
      """CASE WHEN size(__w) >= 3 THEN
        |  transform(arrays_zip(slice(__w, 1, size(__w) - 2),
        |                       slice(__w, 2, size(__w) - 2),
        |                       slice(__w, 3, size(__w) - 2)),
        |            p -> concat_ws(' ', p.`0`, p.`1`, p.`2`))
        |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)
    Tables.documents(s, dir)
      .withColumn("__w", TextOps.wordsExpr)
      .withColumn("__t", grams)
      .select(col("doc_id"),
        size(col("__w")).cast("long").as("n_words"),
        when(size(col("__w")) > 0,
          round(lit(1.0) - size(array_distinct(col("__w"))).cast("double") / size(col("__w")), 6))
          .otherwise(0.0).as("dup_word_ratio"),
        when(size(col("__t")) > 0,
          round(lit(1.0) - size(array_distinct(col("__t"))).cast("double") / size(col("__t")), 6))
          .otherwise(0.0).as("dup_trigram_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Token-entropy quality signal: Shannon entropy (bits) of each
    * document's word distribution — low entropy flags repetitive/spammy
    * text that length or stopword ratios miss; a training-data filter
    * thresholds on it next to `text_quality_score`.
    *
    * Cross-engine FP determinism: the per-token terms fold SEQUENTIALLY
    * over counts sorted by token (array_sort of (token, count) structs
    * here, `list(c ORDER BY tk)` + list_reduce in the oracle), so both
    * engines evaluate the identical association order — no reliance on
    * aggregate-order luck — and the token total is an exact integer.
    */
  val textEntropy: QueryDef = QueryDef.sql("text_entropy",
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
      |tok AS (SELECT doc_id, unnest(w) AS tk FROM t),
      |cnt AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1, 2),
      |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, list(c ORDER BY tk) AS cs
      |      FROM cnt GROUP BY doc_id),
      |e AS (SELECT doc_id, n,
      |        round(-list_reduce(list_prepend(0.0,
      |            [(c::DOUBLE / CAST(n AS DOUBLE)) * ln(c::DOUBLE / CAST(n AS DOUBLE)) for c in cs]),
      |          (a, b) -> a + b) / ln(2.0), 6) AS h
      |      FROM g)
      |SELECT d.doc_id, coalesce(e.n, 0) AS n_tokens,
      |  coalesce(e.h, 0.0) AS entropy_bits
      |FROM documents d LEFT JOIN e ON d.doc_id = e.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val e = docs
      .select(col("doc_id"), explode(TextOps.wordsExpr).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n"),
        expr("transform(array_sort(collect_list(struct(w, c))), p -> p.c)").as("cs"))
      .select(col("doc_id"), col("n"),
        round(expr(
          """-aggregate(cs, CAST(0 AS DOUBLE),
            |  (acc, c) -> acc + (CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
            |    ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) / ln(2.0)""".stripMargin), 6)
          .as("h"))
    // LEFT JOIN back: a doc with ZERO extractable tokens (explode drops
    // the row) is exactly the degenerate garbage a quality filter must
    // SEE — it scores (0 tokens, 0 bits), never silently vanishes
    docs.select(col("doc_id")).join(e, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_tokens"),
        coalesce(col("h"), lit(0.0)).as("entropy_bits"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style rule-set filter (Rae et al. 2021, "Scaling Language
    * Models: ... Gopher", §A1.1 quality heuristics): unlike
    * [[textQualityScore]]'s blended score, each published rule emits
    * its own pass/fail flag plus the conjunctive keep decision, so a
    * pipeline can audit WHICH rule dropped a document. Rules (line-
    * based bullet/ellipsis rules are omitted — the corpus has no
    * newlines; [[graft.queries.DedupQueries.dedupLines]] documents the
    * segmenter stand-in):
    *   r_wc    word count in [50, 100000]
    *   r_mwl   mean word length in [3, 10]
    *   r_sym   symbol-to-word ratio <= 0.1
    *   r_alpha >= 80% of words contain an alphabetic character
    *   r_stop  at least 2 stop words
    * Map-only single scan; counts via regexp_count (no match-array
    * materialization), mean length from the alnum-char count so no
    * second tokenization pass is needed.
    */
  // ---- shared Gopher-rule fragments (the funnel query composes these)
  private[graft] val gopherCntsDuck =
    s"""CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS nw,
       |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]')) AS BIGINT) AS na,
       |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS BIGINT) AS np,
       |  CAST(len(regexp_extract_all(lower(text), '\\b[0-9]+\\b')) AS BIGINT) AS nnum,
       |  CAST(len(regexp_extract_all(lower(text), '\\b($stop)\\b')) AS BIGINT) AS ns""".stripMargin
  private[graft] def gopherCntCols = Seq(
    expr("regexp_count(lower(text), '[a-z0-9]+')").cast("long").as("nw"),
    expr("regexp_count(lower(text), '[a-z0-9]')").cast("long").as("na"),
    expr("regexp_count(text, '[^a-zA-Z0-9\\\\s]')").cast("long").as("np"),
    expr("regexp_count(lower(text), '\\\\b[0-9]+\\\\b')").cast("long").as("nnum"),
    expr(s"regexp_count(lower(text), '\\\\b($stop)\\\\b')").cast("long").as("ns"))
  /** Conjunction of all five rules over the count columns — one string,
    * valid in both engines.
    */
  private[graft] val gopherKeepSql =
    """nw BETWEEN 50 AND 100000 AND na >= 3 * nw AND na <= 10 * nw
      | AND np * 10 <= nw AND (nw - nnum) * 10 >= 8 * nw AND ns >= 2""".stripMargin

  val textGopherRules: QueryDef = {
    val duckSql =
      s"""WITH c AS (SELECT doc_id,
         |  $gopherCntsDuck
         |  FROM documents)
         |SELECT doc_id, nw,
         |  round(na / CAST(greatest(nw, 1) AS DOUBLE), 6) AS mean_word_len,
         |  CASE WHEN nw BETWEEN 50 AND 100000 THEN 1 ELSE 0 END AS r_wc,
         |  CASE WHEN na >= 3 * nw AND na <= 10 * nw AND nw > 0 THEN 1 ELSE 0 END AS r_mwl,
         |  CASE WHEN np * 10 <= nw THEN 1 ELSE 0 END AS r_sym,
         |  CASE WHEN (nw - nnum) * 10 >= 8 * nw THEN 1 ELSE 0 END AS r_alpha,
         |  CASE WHEN ns >= 2 THEN 1 ELSE 0 END AS r_stop,
         |  CASE WHEN $gopherKeepSql THEN 1 ELSE 0 END AS keep
         |FROM c ORDER BY doc_id""".stripMargin
    QueryDef.sql("text_gopher_rules", duckSql) { (s, dir) =>
      val counted = Tables.documents(s, dir).select(
        col("doc_id") +: gopherCntCols: _*)
      // integer-only rule arithmetic (np*10 <= nw, not np/nw <= 0.1):
      // bit-identical across engines, no FP threshold edge
      val rWc = col("nw").between(50, 100000)
      val rMwl = col("na") >= col("nw") * 3 && col("na") <= col("nw") * 10 && col("nw") > 0
      val rSym = col("np") * 10 <= col("nw")
      val rAlpha = (col("nw") - col("nnum")) * 10 >= col("nw") * 8
      val rStop = col("ns") >= 2
      def flag(c: org.apache.spark.sql.Column) = when(c, 1).otherwise(0)
      counted.select(col("doc_id"), col("nw"),
        round(col("na") / greatest(col("nw"), lit(1)).cast("double"), 6).as("mean_word_len"),
        flag(rWc).as("r_wc"), flag(rMwl).as("r_mwl"), flag(rSym).as("r_sym"),
        flag(rAlpha).as("r_alpha"), flag(rStop).as("r_stop"),
        flag(rWc && rMwl && rSym && rAlpha && rStop).as("keep"))
        .orderBy(col("doc_id"))
    }
  }

  /** TF-IDF top terms per document — the classic relevance/keyword
    * extraction pass. tf and df are exact integer aggregates (one
    * explode, two groupBys, a term equi-join, and the corpus size as a
    * broadcast scalar — no collect); the smoothed score
    * tf·ln((N+1)/(df+1)) is emitted rounded, but the per-doc RANKING is
    * the integer ordering (tf desc, df asc, term) so the top-3 cut is
    * bit-stable across engines — ranking on the float score would hang
    * the gate on last-ulp ln() differences between libm and the JVM.
    */
  val textTfidfTop: QueryDef = QueryDef.sql("text_tfidf_top",
    """WITH w AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |           FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |s AS (SELECT doc_id, term, tf, df,
      |        round(tf * ln((n + 1.0) / (df + 1.0)), 6) AS score,
      |        CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, df, term) AS BIGINT) AS rnk
      |      FROM tf JOIN df USING (term), n)
      |SELECT doc_id, rnk, term, tf, df, score FROM s
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val w = docs.select(col("doc_id"), explode(TextOps.wordsExpr).as("term"))
    val tf = w.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    tf.join(dfc, Seq("term")).crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df"), col("term"))).cast("long"))
      .where(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Heavy-hitter calibration via the Count-Min sketch aggregate
    * (functions/CMSketch.scala): build ONE 4×1024-counter sketch over
    * every token occurrence (fixed 32 KB mergeable state — at 100 TB
    * this is a map-side-combined single-buffer aggregate, no per-token
    * shuffle), then probe it with the exact top-20 tokens and emit
    * estimate next to truth. The exact arm exists to exercise the gate:
    * production probes come from per-partition candidates (which is
    * already how TakeOrderedAndProject computes the top-k here) or an
    * external watchlist; the estimate itself is three integer ops per
    * sketch row against a broadcast scalar. CMS point queries
    * overestimate on collision only, so `cms_est >= exact_cnt` always —
    * CMSSpec pins both that bound and bit-parity with the SQL mirror.
    */
  val sketchHeavyHitters: QueryDef = {
    val (depth, width) = (4, 1024)
    val duckHash = OracleSql.hash64("'cms'", "word")
    QueryDef.sql("sketch_heavy_hitters",
      s"""WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |           FROM documents),
         |h AS (SELECT word, $duckHash AS hv FROM w),
         |cnt AS (SELECT word, any_value(hv) AS hv, count(*) AS exact_cnt FROM h GROUP BY word),
         |r AS (SELECT unnest([0, 1, 2, 3]) AS r),
         |cells AS (SELECT r.r AS r, ((c.hv >> (12 * r.r)) & ${width - 1}) AS b,
         |                 CAST(sum(c.exact_cnt) AS BIGINT) AS cell
         |          FROM cnt c CROSS JOIN r GROUP BY 1, 2),
         |probe AS (SELECT word, hv, exact_cnt FROM cnt ORDER BY exact_cnt DESC, word LIMIT 20)
         |SELECT p.word, p.exact_cnt, min(cl.cell) AS cms_est
         |FROM probe p CROSS JOIN r
         |JOIN cells cl ON cl.r = r.r AND cl.b = ((p.hv >> (12 * r.r)) & ${width - 1})
         |GROUP BY p.word, p.exact_cnt
         |ORDER BY exact_cnt DESC, word""".stripMargin) { (s, dir) =>
      graft.functions.CMSketch.register(s)
      TextOps.ensureFunctions(s)
      // ONE tokenize+hash pass: group to (word, count) first, persist the
      // tiny distinct-word rollup, and build the sketch from the WEIGHTED
      // form (bit-identical: CMS addition commutes) — without the persist
      // the exploded-token subtree executes once per consumer, and
      // caching occurrences instead of the rollup would hold the whole
      // corpus' tokens in memory
      val counts = Tables.documents(s, dir)
        .select(explode(TextOps.wordsExpr).as("word"))
        .select(col("word"), expr(TextOps.portableHash64Sql("'cms'", "word")).as("hv"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("exact_cnt"), first(col("hv")).as("hv"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sketch = counts.agg(
        expr(s"cms_sketch_weighted(hv, exact_cnt, $depth, $width)").as("cms"))
      val probes = counts
        .orderBy(col("exact_cnt").desc, col("word")).limit(20)
      val est = (0 until depth).map(r =>
          s"element_at(cms, ${r * width + 1} + CAST((shiftright(hv, ${12 * r}) & ${width - 1}) AS INT))")
        .mkString("least(", ", ", ")")
      probes.crossJoin(broadcast(sketch))
        .select(col("word"), col("exact_cnt"), expr(est).as("cms_est"))
        .orderBy(col("exact_cnt").desc, col("word"))
    }
  }

  /** Inverted-index build (the retrieval twin of [[textTfidfTop]]):
    * for every term with df >= 5, the full document frequency plus the
    * HEAD of its posting list — the 20 smallest doc_ids, the block a
    * sharded index stores first. Skew-safe at any df distribution:
    * pass 1 aggregates only the tiny (word, df) table and broadcasts
    * the kept list; pass 2's head is a rank-filtered window that
    * compiles to WindowGroupLimit, so a stopword with a billion
    * postings contributes <= 20 rows per map task to the shuffle — the
    * unbounded posting list a naive collect_list-per-word groupBy
    * would OOM on never materializes. Postings are emitted as the
    * canonical comma-joined doc_id-sorted string (numeric sort BEFORE
    * the string cast).
    */
  val textInvertedIndex: QueryDef = QueryDef.sql("text_inverted_index",
    """WITH pairs AS (
      |  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      |  FROM documents),
      |df AS (SELECT word, count(*) AS df FROM pairs GROUP BY word
      |       HAVING count(*) >= 5),
      |head AS (SELECT word, doc_id,
      |           row_number() OVER (PARTITION BY word ORDER BY doc_id) AS rk
      |         FROM pairs WHERE word IN (SELECT word FROM df))
      |SELECT h.word, any_value(d.df) AS df,
      |  string_agg(CAST(h.doc_id AS VARCHAR), ',' ORDER BY h.doc_id) AS postings
      |FROM head h JOIN df d ON d.word = h.word
      |WHERE h.rk <= 20
      |GROUP BY h.word ORDER BY h.word""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val pairs = Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextOps.wordsExpr).as("word"))
      .distinct()
    val df = pairs.groupBy(col("word")).agg(count(lit(1)).as("df"))
      .where(col("df") >= 5)
    val win = Window.partitionBy(col("word")).orderBy(col("doc_id"))
    pairs.join(broadcast(df), "word")
      .withColumn("rk", row_number().over(win))
      .where(col("rk") <= 20)
      .groupBy(col("word"))
      .agg(first(col("df")).as("df"),
        expr("array_join(transform(array_sort(collect_list(doc_id)), x -> CAST(x AS STRING)), ',')")
          .as("postings"))
      .orderBy(col("word"))
  }

  /** BM25 retrieval scoring (Robertson et al., TREC-3; the +1 idf
    * variant Lucene uses): rank the corpus against a fixed term query,
    * k1=1.2, b=0.75 — the mining step that pulls topic-relevant
    * documents into a curated training set. Shape: the per-term filter
    * lands BEFORE the tf shuffle (only query-term occurrences leave the
    * map side — at 100 TB the shuffle carries |terms| x |matching docs|
    * rows, not the token stream), corpus stats (N, avgdl) and the tiny
    * per-term df table broadcast, and the final top-20 is a rounded-
    * score TakeOrderedAndProject. Scores round to 6 decimals BEFORE
    * ranking so the cutoff is deterministic cross-engine (ties break on
    * doc_id).
    */
  val textBm25: QueryDef = {
    val terms = Seq("fast", "hash", "join", "dup")
    val termList = terms.map(t => s"'$t'").mkString("[", ", ", "]")
    val (k1, b) = (1.2, 0.75)
    QueryDef.sql("text_bm25",
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) AS dl
         |  FROM documents),
         |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d),
         |tf AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf
         |       FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |             FROM documents)
         |       WHERE word IN (SELECT unnest($termList)) GROUP BY 1, 2),
         |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY word),
         |sc AS (SELECT t.doc_id,
         |         sum(ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1)
         |             * t.tf * ${k1 + 1} / (t.tf + $k1 * (1 - $b + $b * d.dl / s.avgdl))) AS score
         |       FROM tf t JOIN df f ON f.word = t.word
         |       JOIN d ON d.doc_id = t.doc_id CROSS JOIN stats s
         |       GROUP BY t.doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val d = docs.select(col("doc_id"),
        expr("regexp_count(lower(text), '[a-z0-9]+')").cast("double").as("dl"))
      val stats = d.agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
      val tf = docs
        .select(col("doc_id"), explode(TextOps.wordsExpr).as("word"))
        .where(col("word").isin(terms: _*))
        .groupBy(col("doc_id"), col("word"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val df = tf.groupBy(col("word")).agg(count(lit(1)).cast("double").as("df"))
      tf.join(broadcast(df), "word")
        .join(d, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy(col("doc_id"))
        .agg(sum(
          log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1)
            * col("tf") * (k1 + 1)
            / (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))).as("score"))
        .select(col("doc_id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(20)
    }
  }

  /** Collocation mining via pointwise mutual information (Church &
    * Hanks, CL 1990): PMI(a,b) = ln(p(ab) / (p(a)p(b))) over word
    * bigrams with count >= 20 — the corpus statistic behind multi-word
    * vocab entries and tokenizer merges. Three aggregates (unigrams,
    * bigrams, two scalar totals) then two joins of the bigram table
    * against the unigram counts; at 100 TB the unigram table is
    * vocab-sized (broadcastable) and everything else is map-side, so
    * the only full shuffle is the bigram count itself. The PMI
    * expression multiplies in one fixed order on both engines
    * (c2·N1·N1 / (N2·ca·cb), all-double) so the 6-decimal round is
    * cross-engine stable.
    */
  val textPmi: QueryDef = QueryDef.sql("text_pmi",
    """WITH t AS (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
      |u AS (SELECT unnest(w) AS wd FROM t),
      |uc AS (SELECT wd, count(*) AS c1 FROM u GROUP BY wd),
      |n1 AS (SELECT CAST(sum(c1) AS DOUBLE) AS n1 FROM uc),
      |b AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      |      FROM t WHERE len(w) >= 2),
      |bc AS (SELECT bg, count(*) AS c2 FROM b GROUP BY bg),
      |n2 AS (SELECT CAST(sum(c2) AS DOUBLE) AS n2 FROM bc)
      |SELECT bc.bg, bc.c2 AS n,
      |  round(ln(bc.c2 * n1.n1 * n1.n1 / (n2.n2 * ua.c1 * ub.c1)), 6) AS pmi
      |FROM bc CROSS JOIN n1 CROSS JOIN n2
      |JOIN uc ua ON ua.wd = split_part(bc.bg, ' ', 1)
      |JOIN uc ub ON ub.wd = split_part(bc.bg, ' ', 2)
      |WHERE bc.c2 >= 20
      |ORDER BY pmi DESC, bg LIMIT 20""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir).withColumn("__w", TextOps.wordsExpr)
    val uc = docs.select(explode(col("__w")).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("c1"))
    val n1 = uc.agg(sum(col("c1")).cast("double").as("n1"))
    val bc = docs.where(size(col("__w")) >= 2)
      .select(explode(expr(
        """transform(arrays_zip(slice(__w, 1, size(__w) - 1), slice(__w, 2, size(__w) - 1)),
          |p -> concat_ws(' ', p.`0`, p.`1`))""".stripMargin)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val n2 = bc.agg(sum(col("c2")).cast("double").as("n2"))
    bc.where(col("c2") >= 20)
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .join(broadcast(uc.select(col("wd"), col("c1").as("ca"))),
        expr("split_part(bg, ' ', 1)") === col("wd")).drop("wd")
      .join(broadcast(uc.select(col("wd"), col("c1").as("cb"))),
        expr("split_part(bg, ' ', 2)") === col("wd")).drop("wd")
      .select(col("bg"), col("c2").as("n"),
        round(log(col("c2") * col("n1") * col("n1") / (col("n2") * col("ca") * col("cb"))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("bg")).limit(20)
  }

  /** Bigram language-model quality score — the sandbox-honest analog of
    * the KenLM perplexity filters in the CCNet/Gopher pipelines (no
    * model binaries here, so the LM is trained on the corpus itself):
    * per doc, the mean add-1-smoothed conditional log-probability
    * ln((c(ab)+1) / (c(a)+V)) over its bigrams. Low scores flag docs
    * whose word transitions are atypical for the corpus — gibberish,
    * boilerplate, wrong-language fragments.
    *
    * Shape at 100 TB: three map-only corpus passes (unigram stats,
    * bigram stats, scoring) — the stats tables are corpus-derived and
    * shuffle once by their own key; the scoring join keys the exploded
    * (doc_id, bigram) stream on the bigram, so the doc side never
    * carries text and the stats side is as broadcastable as the vocab
    * allows (AQE decides; at web scale it's a shuffle equi-join). Docs
    * with fewer than two tokens have no bigrams and are absent by
    * construction in both engines.
    */
  /** Oracle CTE chain ending in `lm(doc_id, n_bigrams, lm_score)` — ONE
    * copy shared by [[textLmScore]] and [[textPerplexityBuckets]] so the
    * scoring formula can't fork between the scorer and its consumer.
    */
  private val lmCtes =
    """t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
      |u AS (SELECT unnest(w) AS wd FROM t),
      |uc AS (SELECT wd, count(*) AS c1 FROM u GROUP BY wd),
      |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uc),
      |b AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      |      FROM t WHERE len(w) >= 2),
      |bc AS (SELECT bg, count(*) AS c2 FROM b GROUP BY bg),
      |lm AS (SELECT b.doc_id, count(*) AS n_bigrams,
      |         round(avg(ln((bc.c2 + 1) / (uc.c1 + v.v))), 6) AS lm_score
      |       FROM b JOIN bc USING (bg)
      |       JOIN uc ON uc.wd = split_part(b.bg, ' ', 1)
      |       CROSS JOIN v
      |       GROUP BY b.doc_id)""".stripMargin

  /** Spark side of [[lmCtes]]: (doc_id, n_bigrams, lm_score), unordered. */
  private def lmScores(s: org.apache.spark.sql.SparkSession, dir: String) = {
    // NOTE (r17-opt): a Spread before the two tokenize passes was
    // A/B'd and measured slower at flat hf (+0.3-0.4 s on both
    // consumers) — the bigram explode's cost is in the post-explode
    // shuffle, not the scan-stage tokenize; the extra exchange lost.
    val docs = Tables.documents(s, dir).withColumn("__w", TextOps.wordsExpr)
    val uc = docs.select(explode(col("__w")).as("wd"))
      .groupBy(col("wd")).agg(count(lit(1)).as("c1"))
    val v = uc.agg(count(lit(1)).cast("double").as("v"))
    val bigrams = docs.where(size(col("__w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(arrays_zip(slice(__w, 1, size(__w) - 1), slice(__w, 2, size(__w) - 1)),
          |p -> concat_ws(' ', p.`0`, p.`1`))""".stripMargin)).as("bg"))
    val bc = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    bigrams
      .join(bc, Seq("bg"))
      .join(broadcast(uc), expr("split_part(bg, ' ', 1)") === col("wd"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c2") + 1) / (col("c1") + col("v")))), 6).as("lm_score"))
  }

  val textLmScore: QueryDef = QueryDef.sql("text_lm_score",
    s"""WITH $lmCtes
       |SELECT doc_id, n_bigrams, lm_score FROM lm ORDER BY doc_id""".stripMargin) {
    (s, dir) => lmScores(s, dir).orderBy(col("doc_id"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359 §4.3): per language, rank documents by LM quality
    * and cut the corpus into head/middle/tail TERCILES — the standard
    * pre-training recipe keeps head+middle and drops (or downweights)
    * the tail. Score is [[textLmScore]]'s bigram LM (one shared
    * definition, [[lmCtes]]); the bucket boundary is ntile(3) over
    * (lm_score DESC, doc_id) — both engines sort bit-identical round-6
    * doubles with a unique tiebreak, so assignment is exact. Emits the
    * per-(lang, bucket) census a pipeline turns into sampling weights:
    * doc count, char mass, mean score.
    *
    * Shape at 100 TB: scoring is the LM pipeline (three corpus passes,
    * see textLmScore); bucketing adds ONE per-language window. A
    * language is the coarsest practical partition key (real corpora:
    * ~100 languages, the biggest holding ~half the corpus), so at
    * extreme scale the ntile window over the dominant language is the
    * bottleneck — production replaces the exact tercile with quantile
    * cutoffs from the sketch family (sketch_quantiles' bottom-k sample)
    * and a map-only threshold compare; the exact form here is what the
    * sketch is checked against.
    */
  val textPerplexityBuckets: QueryDef = QueryDef.sql("text_perplexity_buckets",
    s"""WITH $lmCtes,
       |r AS (SELECT d.lang, d.n_chars, lm.lm_score,
       |        ntile(3) OVER (PARTITION BY d.lang
       |                       ORDER BY lm.lm_score DESC, lm.doc_id) AS tile
       |      FROM lm JOIN documents d ON d.doc_id = lm.doc_id)
       |SELECT lang,
       |  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
       |  round(avg(lm_score), 6) AS mean_score
       |FROM r GROUP BY lang, tile ORDER BY lang, bucket""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("lm_score").desc, col("doc_id"))
    lmScores(s, dir)
      .join(Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        Seq("doc_id"))
      .withColumn("tile", ntile(3).over(w))
      .groupBy(col("lang"), col("tile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        round(avg(col("lm_score")), 6).as("mean_score"))
      .select(col("lang"),
        when(col("tile") === 1, "head").when(col("tile") === 2, "middle")
          .otherwise("tail").as("bucket"),
        col("n_docs"), col("n_chars"), col("mean_score"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** Single-pass per-group quantiles via the bottom-k-by-hash sample
    * sketch (`functions/QuantileSketch`) — the quantile member of the
    * sketch family, and the length-distribution profile a corpus
    * pipeline derives its truncation/quality cutoffs from. Two tiers in
    * one pass: the k=128 production sample (2 KB mergeable state — the
    * 100 TB shape, ~1/√k rank error) and a k=65536 reference leg that
    * is exact at any group size seen in testing (every tested lang
    * group is ≪ 64k docs; both tiers are the same operator, so "exact"
    * is literally the sketch with the truncation never reached).
    *
    * Determinism: the sample is the k smallest portable-hash values of
    * doc_id — a pure function of the input set — and the interpolation
    * is bit-equal to DuckDB's `quantile_cont` (measured; see
    * QuantileSketch scaladoc), so the oracle mirrors both tiers with a
    * rank filter + quantile_cont. round-6 belts-and-braces only.
    */
  val sketchQuantiles: QueryDef = {
    val duckHash = OracleSql.hash64("'q'", "doc_id")
    QueryDef.sql("sketch_quantiles",
      s"""WITH d AS (SELECT lang, $duckHash AS hv, CAST(n_chars AS DOUBLE) AS val
         |           FROM documents),
         |r AS (SELECT lang, val, row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
         |      FROM d),
         |s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |             quantile_cont(CASE WHEN rn <= 128 THEN val END, [0.25, 0.5, 0.75, 0.95]) AS q,
         |             quantile_cont(CASE WHEN rn <= 65536 THEN val END, [0.5, 0.95]) AS eq
         |      FROM r GROUP BY lang)
         |SELECT lang, n_docs,
         |  round(q[1], 6) AS p25, round(q[2], 6) AS p50,
         |  round(q[3], 6) AS p75, round(q[4], 6) AS p95,
         |  round(eq[1], 6) AS exact_p50, round(eq[2], 6) AS exact_p95
         |FROM s ORDER BY lang""".stripMargin) { (s, dir) =>
      graft.functions.QuantileSketch.register(s)
      TextOps.ensureFunctions(s)
      Tables.documents(s, dir)
        .select(col("lang"),
          expr(TextOps.portableHash64Sql("'q'", "doc_id")).as("hv"),
          col("n_chars").cast("double").as("val"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          expr("sample_quantiles(hv, val, 128, array(0.25D, 0.5D, 0.75D, 0.95D))").as("q"),
          expr("sample_quantiles(hv, val, 65536, array(0.5D, 0.95D))").as("eq"))
        .select(col("lang"), col("n_docs"),
          round(element_at(col("q"), 1), 6).as("p25"),
          round(element_at(col("q"), 2), 6).as("p50"),
          round(element_at(col("q"), 3), 6).as("p75"),
          round(element_at(col("q"), 4), 6).as("p95"),
          round(element_at(col("eq"), 1), 6).as("exact_p50"),
          round(element_at(col("eq"), 2), 6).as("exact_p95"))
        .orderBy(col("lang"))
    }
  }

  /** Zipf-law conformance per source: OLS slope of ln(freq) on ln(rank)
    * over each source's top-200 words. Natural corpora slope ≈ −1
    * (Zipf 1949); machine-generated/boilerplate text flattens or
    * steepens the curve, making the slope a cheap corpus-level quality
    * signal beside the per-doc gopher/quality scores.
    *
    * Scale: tokenize+count is map-side-combinable (one shuffle on
    * (source, word)); the top-200 cut is a row_number over the
    * low-cardinality source key — WindowGroupLimit pushes the cut
    * below the exchange so tasks forward ≤200 rows each (the
    * text_top_per_lang note applies); regr_slope is a one-pass
    * distributive aggregate (sum/sumx/sumy/sumxy moments), so the fit
    * costs one tiny aggregation, never a driver-side regression.
    * Cross-engine: regr_slope = covar_pop/var_pop in both engines;
    * round-6 absorbs the ~1e-13 summation-order drift.
    */
  val textZipf: QueryDef = QueryDef.sql("text_zipf",
    """WITH w AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      |           FROM documents),
      |c AS (SELECT source, word, count(*) AS n FROM w GROUP BY 1, 2),
      |v AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vocab,
      |             CAST(sum(n) AS BIGINT) AS n_tokens FROM c GROUP BY source),
      |r AS (SELECT source, n,
      |        CAST(row_number() OVER (PARTITION BY source ORDER BY n DESC, word) AS BIGINT) AS rnk
      |      FROM c),
      |s AS (SELECT source, round(regr_slope(ln(n), ln(rnk)), 6) AS zipf_slope
      |      FROM r WHERE rnk <= 200 GROUP BY source)
      |SELECT source, n_vocab, n_tokens, zipf_slope
      |FROM v JOIN s USING (source) ORDER BY source""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val c = Tables.documents(s, dir)
      .select(col("source"), explode(TextOps.wordsExpr).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("n"))
    val v = c.groupBy(col("source"))
      .agg(count(lit(1)).as("n_vocab"), sum(col("n")).as("n_tokens"))
    val w = Window.partitionBy(col("source")).orderBy(col("n").desc, col("word"))
    val sl = c.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 200)
      .groupBy(col("source"))
      .agg(round(regr_slope(log(col("n")), log(col("rnk"))), 6).as("zipf_slope"))
    v.join(sl, "source")
      .select(col("source"), col("n_vocab"), col("n_tokens"), col("zipf_slope"))
      .orderBy(col("source"))
  }

  /** Distribution drift per source: KL(p_source ‖ p_corpus) over word
    * unigrams — the monitoring statistic for "has this feed's language
    * shifted away from the mix the model was trained on" (and the
    * per-source term of the mixture-selection objective in data-curation
    * pipelines). Support(p_source) ⊆ support(p_corpus) by construction,
    * so the ratio needs no smoothing; KL ≥ 0 with equality iff the
    * source matches the corpus mix.
    *
    * Shape at 100 TB: ONE exploded (source, word) count is the only
    * corpus-sized shuffle; source totals and corpus word totals both
    * roll up FROM that table (map-side combine), and the scoring join
    * keys the per-source rows on the word — the corpus table is
    * vocab-sized, never document-sized. Σ-of-doubles FP noise
    * (~1e-13 relative) sits far below the 6-decimal round, the same
    * argument as text_entropy/text_pmi.
    */
  val textKlDrift: QueryDef = QueryDef.sql("text_kl_drift",
    """WITH t AS (SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word FROM documents),
      |sc AS (SELECT source, word, count(*) AS c FROM t GROUP BY 1, 2),
      |st AS (SELECT source, CAST(sum(c) AS DOUBLE) AS ts FROM sc GROUP BY 1),
      |cc AS (SELECT word, CAST(sum(c) AS DOUBLE) AS cw FROM sc GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tt FROM sc)
      |SELECT source, CAST(st.ts AS BIGINT) AS n_tokens,
      |  round(sum((sc.c / st.ts) * ln((sc.c / st.ts) / (cc.cw / tot.tt))), 6) AS kl
      |FROM sc JOIN st USING (source) JOIN cc USING (word) CROSS JOIN tot
      |GROUP BY source, st.ts ORDER BY source""".stripMargin) { (s, dir) =>
    val sc = Tables.documents(s, dir)
      .select(col("source"), explode(TextOps.wordsExpr).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
    val st = sc.groupBy(col("source")).agg(sum(col("c")).cast("double").as("ts"))
    val cc = sc.groupBy(col("word")).agg(sum(col("c")).cast("double").as("cw"))
    val tot = sc.agg(sum(col("c")).cast("double").as("tt"))
    sc.join(broadcast(st), "source")
      .join(cc, "word")
      .crossJoin(broadcast(tot))
      .groupBy(col("source"), col("ts"))
      .agg(round(sum((col("c") / col("ts")) * log((col("c") / col("ts")) / (col("cw") / col("tt")))), 6).as("kl"))
      .select(col("source"), col("ts").cast("long").as("n_tokens"), col("kl"))
      .orderBy(col("source"))
  }

  /** Robust winnowing fingerprint selection (Schleimer, Wilkerson &
    * Aiken, SIGMOD 2003 — the MOSS algorithm): hash every word 3-gram,
    * slide a window of 4 consecutive hashes, and keep each window's
    * minimum (ties to the RIGHTMOST position, the paper's rule), then
    * de-duplicate selections shared by overlapping windows. Guarantees
    * every match of ≥ w+k−1 words shares a fingerprint while storing
    * ~2/(w+1) of the hashes — the position-aware middle ground between
    * whole-doc digests (text_fingerprint) and per-shingle MinHash
    * (membership only, no positions), and the substring-match index
    * plagiarism/clone detectors build.
    *
    * Determinism: hashes are the shared rolling_hash mod 1e9+7
    * (< 2^30), and the (h asc, pos desc) argmin is realized by packing
    * code = h·2^20 + (2^20−1−pos) into one BIGINT min — pure integer
    * arithmetic, no tie luck in either engine.
    *
    * Shape at 100 TB: ONE doc_id-keyed exchange of (pos, hash) rows;
    * the window min and the per-doc max ride the same partitioning,
    * and dedup is a map-side-combined distinct. Selected rows are the
    * output index (~n/2.5 per doc at these knobs).
    */
  val textWinnowing: QueryDef = {
    val k = 3; val w = 4
    QueryDef.sql("text_winnowing",
      s"""WITH n AS (SELECT doc_id,
         |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
         |  FROM documents),
         |g0 AS (SELECT doc_id, ws, unnest(range(0, len(ws) - ${k - 1})) AS p
         |  FROM n WHERE len(ws) >= $k),
         |g AS (SELECT doc_id, p,
         |    list_reduce(list_prepend(0::BIGINT,
         |        [ascii(c)::BIGINT for c in string_split(array_to_string(ws[p+1:p+$k], ' '), '')]),
         |      (acc, x) -> (acc * 257 + x) % 1000000007) AS h
         |  FROM g0),
         |c AS (SELECT doc_id, p, h * 1048576 + (1048575 - p) AS code FROM g),
         |win AS (SELECT doc_id, p,
         |    min(code) OVER (PARTITION BY doc_id ORDER BY p
         |                    ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS mc,
         |    max(p) OVER (PARTITION BY doc_id) AS mp
         |  FROM c)
         |SELECT DISTINCT doc_id,
         |  CAST(1048575 - (mc % 1048576) AS BIGINT) AS pos,
         |  CAST(mc // 1048576 AS BIGINT) AS h
         |FROM win WHERE p <= mp - ${w - 1}
         |ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      graft.functions.RollingHash.register(s)
      // spread the 1-task scan before the per-position rolling-hash map
      // (r17-opt, Spread doc)
      val n = graft.ops.Spread(Tables.documents(s, dir))
        .select(col("doc_id"),
          split(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), " ").as("ws"))
        .where(size(col("ws")) >= k)
      val g = n.select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(ws) - $k), p -> rolling_hash(concat_ws(' ', slice(ws, p + 1, $k))))"))
        .as(Seq("p", "h")))
      val c = g.select(col("doc_id"), col("p"),
        (col("h") * 1048576L + (lit(1048575L) - col("p"))).as("code"))
      val ord = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      val win = c.select(col("doc_id"), col("p"),
        min(col("code")).over(ord.rowsBetween(0, w - 1)).as("mc"),
        max(col("p")).over(Window.partitionBy(col("doc_id"))).as("mp"))
      win.where(col("p") <= col("mp") - (w - 1))
        .select(col("doc_id"), (lit(1048575L) - col("mc") % 1048576L).as("pos"),
          expr("mc div 1048576").as("h"))
        .distinct()
        .orderBy(col("doc_id"), col("pos"))
    }
  }

  /** Code-vs-prose detection — the pretraining-router sibling of
    * [[textLangId]]: structural-symbol density ({}();=<>[]), digit
    * density, and programming-keyword hits decide whether a document
    * routes to the code pipeline (different tokenizer, different
    * quality rules) or the prose one. The synthetic corpus is prose,
    * so the gate pins the all-negative band; DedupOpsSpec plants a
    * real code snippet to prove each signal fires.
    *
    * Determinism: counts are exact length differences / match counts;
    * the two densities are single divisions of exact ints, round-6.
    * Map-only over documents — one scan, no shuffle (the orderBy is
    * the gate's determinism requirement, not part of the operator).
    */
  val textCodeDetect: QueryDef = QueryDef.sql("text_code_detect",
    """SELECT doc_id,
      |  CAST(length(text) - length(regexp_replace(text, '[{}();=<>\[\]]', '', 'g')) AS BIGINT) AS n_sym,
      |  CAST(len(regexp_extract_all(text, 'def |class |return |import |function |void |#include')) AS BIGINT) AS kw_hits,
      |  round(CAST(length(text) - length(regexp_replace(text, '[{}();=<>\[\]]', '', 'g')) AS DOUBLE)
      |        / nullif(length(text), 0), 6) AS r_sym,
      |  round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
      |        / nullif(length(text), 0), 6) AS r_digit,
      |  CAST(CASE WHEN (length(text) - length(regexp_replace(text, '[{}();=<>\[\]]', '', 'g'))) * 1.0
      |                  / nullif(length(text), 0) >= 0.03
      |             OR len(regexp_extract_all(text, 'def |class |return |import |function |void |#include')) >= 2
      |       THEN 1 ELSE 0 END AS BIGINT) AS is_code
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val symCnt = (length(col("text")) -
      length(regexp_replace(col("text"), "[{}();=<>\\[\\]]", ""))).cast("long")
    val digCnt = (length(col("text")) -
      length(regexp_replace(col("text"), "[0-9]", ""))).cast("long")
    val kwCnt = expr(
      "size(regexp_extract_all(text, 'def |class |return |import |function |void |#include', 0))").cast("long")
    Tables.documents(s, dir).select(col("doc_id"),
        symCnt.as("n_sym"), kwCnt.as("kw_hits"),
        round(symCnt.cast("double") / nullif(length(col("text")).cast("long"), lit(0L)), 6).as("r_sym"),
        round(digCnt.cast("double") / nullif(length(col("text")).cast("long"), lit(0L)), 6).as("r_digit"),
        when(symCnt * lit(1.0) / nullif(length(col("text")).cast("long"), lit(0L)) >= 0.03 ||
          kwCnt >= 2, 1L).otherwise(0L).as("is_code"))
      .orderBy(col("doc_id"))
  }

  // ---- BPE tokenizer training (graft.ops.Bpe) -----------------------
  // The oracle replays the identical algorithm as an UNROLLED CTE chain
  // (one pairs→argmax→rewrite block per merge — no recursive aggregation,
  // which recursive CTEs forbid), over the same ';;'-separator encoding
  // and the same literal-replace rewrite, so every intermediate state is
  // bit-identical across engines by construction.

  private val bpeMerges = 8

  /** The session's BPE merge list over `documents` (one driver-side fit
    * shared by the four BPE queries).
    */
  private def bpeFit(s: org.apache.spark.sql.SparkSession, dir: String): Seq[graft.ops.Bpe.Merge] =
    graft.ops.Artifacts.value(s, dir, Seq("documents"), "bpe.merges", bpeMerges)(
      graft.ops.Bpe.fit(Tables.documents(s, dir), bpeMerges))

  /** DuckDB twin of [[graft.ops.Bpe]]: v0 = char-encoded word counts;
    * per merge i: px{i}/p{i} mirror Bpe.pairCounts (projected unnest —
    * DuckDB's range() rejects lateral column args), b{i} the argmax with
    * the (count DESC, a, b) tiebreak, v{i} the boundary-anchored
    * replace.
    */
  private def bpeCtes(n: Int): String = {
    def one(i: Int) =
      s"""px$i AS (SELECT cnt, toks, unnest(range(1, len(toks))) AS i
         |  FROM (SELECT cnt, list_filter(string_split(enc, ';;'), x -> x != '') AS toks FROM v${i - 1})),
         |p$i AS (SELECT toks[i] AS a, toks[i+1] AS b, CAST(sum(cnt) AS BIGINT) AS c FROM px$i GROUP BY 1, 2),
         |b$i AS (SELECT a, b, c FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         |v$i AS (SELECT w.word, w.cnt,
         |  replace(w.enc, ';' || b.a || ';;' || b.b || ';', ';' || b.a || b.b || ';') AS enc
         |  FROM v${i - 1} w, b$i b)""".stripMargin
    s"""wd AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word FROM documents),
       |v0 AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt,
       |  ';;' || array_to_string(string_split(word || '${graft.ops.Bpe.EndMark}', ''), ';;') || ';;' AS enc
       |  FROM wd GROUP BY word),
       |""".stripMargin + (1 to n).map(one).mkString(",\n")
  }

  /** The learned merge table itself — rank, pair, merged symbol, and the
    * pair's corpus count at merge time. Output is driver-built from
    * [[bpeFit]]'s returned rows (n-row tiny frame — the
    * merges ARE collected data by construction of the algorithm).
    */
  val textBpeMerges: QueryDef = QueryDef.sql("text_bpe_merges",
    s"""WITH ${bpeCtes(bpeMerges)},
       |m AS (${(1 to bpeMerges).map(i => s"SELECT $i AS rank, a, b, c FROM b$i").mkString(" UNION ALL ")})
       |SELECT CAST(rank AS BIGINT) AS rank, a AS left_sym, b AS right_sym,
       |  a || b AS merged, c AS pair_count
       |FROM m ORDER BY rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    bpeFit(s, dir)
      .map(m => (m.rank.toLong, m.left, m.right, m.left + m.right, m.count))
      .toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy(col("rank"))
  }

  /** ENCODE census: re-segment the vocabulary through the learned merges
    * (one chained projection — [[graft.ops.Bpe.vocabAfter]]) and census
    * the resulting token inventory: corpus frequency and distinct-word
    * spread per token, top 30. The number a tokenizer handoff checks
    * before anyone trusts per-token budgets downstream.
    */
  val textBpeEncode: QueryDef = QueryDef.sql("text_bpe_encode",
    s"""WITH ${bpeCtes(bpeMerges)},
       |tok AS (SELECT word, cnt, unnest(list_filter(string_split(enc, ';;'), x -> x != '')) AS token
       |        FROM v$bpeMerges)
       |SELECT token, CAST(sum(cnt) AS BIGINT) AS total_cnt,
       |  CAST(count(DISTINCT word) AS BIGINT) AS n_words
       |FROM tok GROUP BY token ORDER BY total_cnt DESC, token LIMIT 30""".stripMargin) { (s, dir) =>
    val merges = bpeFit(s, dir)
    val v = graft.ops.Bpe.vocabAfter(
      graft.ops.Bpe.vocab0(Tables.documents(s, dir)), merges)
    v.select(col("word"), col("cnt"),
        explode(expr("filter(split(enc, ';;'), x -> x != '')")).as("token"))
      .groupBy(col("token"))
      .agg(sum(col("cnt")).as("total_cnt"), countDistinct(col("word")).as("n_words"))
      .orderBy(col("total_cnt").desc, col("token"))
      .limit(30)
  }

  /** CORPUS TOKENIZATION — the op the merges exist for: every document
    * re-encoded as its ordered BPE token-ID sequence (ids ranked by
    * corpus frequency, the classic vocab ordering). Scale shape: the
    * only corpus-sized joins are word-position → word-segmentation
    * (shuffle equi-join on word) and token → id (broadcast — the token
    * vocabulary is merges+alphabet sized); the per-doc sequence is a
    * bounded groupBy collect. The global row_number for ids runs on
    * that same tiny token table only.
    */
  val textBpeTokenize: QueryDef = QueryDef.sql("text_bpe_tokenize",
    s"""WITH ${bpeCtes(bpeMerges)},
       |wt AS (SELECT word, cnt, toks, unnest(range(1, len(toks) + 1)) AS tp
       |  FROM (SELECT word, cnt, list_filter(string_split(enc, ';;'), x -> x != '') AS toks FROM v$bpeMerges)),
       |wt2 AS (SELECT word, cnt, tp, toks[tp] AS token FROM wt),
       |cen AS (SELECT token, sum(cnt) AS total_cnt FROM wt2 GROUP BY token),
       |tid AS (SELECT token, CAST(row_number() OVER (ORDER BY total_cnt DESC, token) AS BIGINT) AS tid FROM cen),
       |dw AS (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS wp
       |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS arr FROM documents)),
       |dw2 AS (SELECT doc_id, wp, arr[wp] AS word FROM dw),
       |seq AS (SELECT d.doc_id, d.wp, t.tp, i.tid
       |  FROM dw2 d JOIN wt2 t ON d.word = t.word JOIN tid i ON t.token = i.token)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |  array_to_string(list(tid ORDER BY wp, tp), ',') AS token_ids
       |FROM seq GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    bpeTokenStream(Tables.documents(s, dir), bpeFit(s, dir))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        expr("array_join(transform(array_sort(collect_list(struct(wp, tp, tid))), x -> CAST(x.tid AS string)), ',')")
          .as("token_ids"))
      .orderBy(col("doc_id"))
  }

  /** Token-occurrence stream of `docs` through a TRAINED merge table:
    * one row (doc_id, wp, tp, tid) per token occurrence, ids ranked by
    * corpus frequency (the classic vocab ordering; the id table is a
    * bijective relabeling, not a trained statistic). The shared kernel
    * of [[textBpeTokenize]], [[textBpePack]] and the CorpusPipeline
    * `packed` stage. Scale shape: the only corpus-sized joins are
    * word-occurrence → word-segmentation (equi-join on word) and
    * token → id (broadcast — the vocabulary is merges+alphabet sized);
    * everything else is per-word or per-token map work.
    */
  def bpeTokenStream(docs: DataFrame,
                     merges: Seq[graft.ops.Bpe.Merge]): DataFrame = {
    val wordToks = bpeWordToks(docs, merges)
    val tid = wordToks
      .groupBy(col("token")).agg(sum(col("cnt")).as("total_cnt"))
      .select(col("token"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("total_cnt").desc, col("token"))).cast("long").as("tid"))
    bpeTokenStreamOver(docs, wordToks, tid)
  }

  private def bpeWordToks(docs: DataFrame,
                          merges: Seq[graft.ops.Bpe.Merge]): DataFrame =
    graft.ops.Bpe
      .vocabAfter(graft.ops.Bpe.vocab0(docs), merges)
      .select(col("word"), col("cnt"),
        posexplode(expr("filter(split(enc, ';;'), x -> x != '')")).as(Seq("tp", "token")))

  private def bpeTokenStreamOver(docs: DataFrame, wordToks: DataFrame,
                                 tid: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as(Seq("wp", "word")))
      .join(wordToks.select(col("word"), col("tp"), col("token")), "word")
      .join(broadcast(tid), "token")
      .select(col("doc_id"), col("wp"), col("tp"), col("tid"))

  /** [[bpeTokenStream]] against a FIXED persisted id table — the
    * append-stable tokenizer contract (CorpusPipeline's freeze mode):
    * with both the merge table AND the (token, tid) map frozen, a
    * document's token-id stream is a pure function of its own text, so
    * appending documents NEVER shifts another document's ids — the
    * precondition for incremental packed shards. The id table must be
    * COMPLETE over every reachable token ([[bpeTokenIds]]) or unseen
    * tokens would silently drop from the stream.
    */
  def bpeTokenStreamWithIds(docs: DataFrame,
                            merges: Seq[graft.ops.Bpe.Merge],
                            ids: DataFrame): DataFrame =
    bpeTokenStreamOver(docs, bpeWordToks(docs, merges),
      ids.select(col("token"), col("tid")))

  /** The COMPLETE frozen id table for a trained merge sequence: every
    * token any future document can produce is a single alphabet char
    * ([a-z0-9] — the word regex's alphabet), the end-of-word marker
    * [[graft.ops.Bpe.EndMark]] (vocab0 appends it to every word, so an
    * unmerged trailing marker IS a standalone token — omitting it
    * would silently drop one token per unmerged word from the frozen
    * stream; r16 review), or a merge output — so the table covers
    * alphabet ∪ {EndMark} ∪ merge-outputs; ranking is by fit-corpus
    * frequency (the classic vocab ordering — seen tokens rank exactly
    * as [[bpeTokenStream]] would rank them), with never-seen tokens
    * deterministically after (cnt 0, token order). merges+alphabet
    * sized: a broadcast-shippable artifact.
    */
  def bpeTokenIds(fitDocs: DataFrame,
                  merges: Seq[graft.ops.Bpe.Merge]): DataFrame = {
    import fitDocs.sparkSession.implicits._
    val universe = (('a' to 'z') ++ ('0' to '9')).map(_.toString) ++
      Seq(graft.ops.Bpe.EndMark) ++
      merges.map(m => m.left + m.right)
    val seen = bpeWordToks(fitDocs, merges)
      .groupBy(col("token")).agg(sum(col("cnt")).as("cnt"))
    universe.distinct.toDF("token")
      .join(seen, Seq("token"), "left")
      .select(col("token"), coalesce(col("cnt"), lit(0L)).as("total_cnt"))
      .select(col("token"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("total_cnt").desc, col("token"))).cast("long").as("tid"))
  }

  /** Context-window coordinates for every token occurrence — the
    * GPT-style concat-and-chunk layout (ml_pack_sequences' doc-level
    * semantics applied to REAL token ids): docs shard deterministically
    * by portable id hash (`keyCols` ride into the shard partitioning,
    * so e.g. a split fence is never straddled by a sequence), each
    * shard concatenates in doc_id order, and a token's offset is its
    * doc's preceding-token cumsum plus its rank within the doc —
    * seq_id/pos are that offset's div/mod by `budget`. Two bounded
    * windows: the per-shard DOC cumsum (rows = docs per shard — the
    * parallelism contract ml_pack_sequences documents: shards sized to
    * the cluster) and the within-doc token rank (rows = one doc's
    * tokens); never a corpus-wide sort.
    */
  def packTokenStream(tokens: DataFrame, budget: Int, shards: Int,
                      salt: String, keyCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.ops.TextOps.ensureFunctions(tokens.sparkSession)
    val keys = keyCols.map(col)
    val docTok = tokens.groupBy((keys :+ col("doc_id")): _*)
      .agg(count(lit(1)).cast("long").as("n_tok"))
      .withColumn("shard", expr(graft.ops.TextOps.portableHash64Sql(
        s"'$salt'", "CAST(doc_id AS STRING)")) % shards)
    val wCum = Window.partitionBy((keys :+ col("shard")): _*)
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val based = docTok
      .withColumn("base", sum(col("n_tok")).over(wCum) - col("n_tok"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("wp"), col("tp"))
    tokens
      .join(based.select(keys ++ Seq(col("doc_id"), col("shard"), col("base")): _*),
        keyCols :+ "doc_id")
      .withColumn("off", col("base") + row_number().over(wDoc).cast("long") - lit(1L))
      .select(keys ++ Seq(col("doc_id"), col("shard"),
        expr(s"off div $budget").as("seq_id"), (col("off") % budget).as("pos"),
        col("tid")): _*)
  }

  /** TOKENIZE ∘ PACK — the training-ready layout the merges and the
    * packer exist for, verified end to end: every document's BPE token
    * ids (the [[textBpeTokenize]] kernel) packed into `budget`-token
    * context windows ([[packTokenStream]]), gated as a per-sequence
    * census + CONTENT SIGNATURE — sig = Σ tid·(pos+1), an exact-integer
    * position-weighted checksum, so two engines agree only if every
    * token id sits at the same offset of the same window. The oracle
    * replays the full composition: the unrolled BPE CTE chain, the
    * frequency-ranked id table, the per-shard doc cumsum and the
    * within-doc token rank.
    */
  val textBpePack: QueryDef = {
    val budget = 128
    val shards = 4
    val h = graft.queries.OracleSql.hash64("'pk2'", "CAST(doc_id AS VARCHAR)")
    QueryDef.sql("text_bpe_pack",
      s"""WITH ${bpeCtes(bpeMerges)},
         |wt AS (SELECT word, cnt, toks, unnest(range(1, len(toks) + 1)) AS tp
         |  FROM (SELECT word, cnt, list_filter(string_split(enc, ';;'), x -> x != '') AS toks FROM v$bpeMerges)),
         |wt2 AS (SELECT word, cnt, tp, toks[tp] AS token FROM wt),
         |cen AS (SELECT token, sum(cnt) AS total_cnt FROM wt2 GROUP BY token),
         |tid AS (SELECT token, CAST(row_number() OVER (ORDER BY total_cnt DESC, token) AS BIGINT) AS tid FROM cen),
         |dw AS (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS wp
         |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS arr FROM documents)),
         |dw2 AS (SELECT doc_id, wp, arr[wp] AS word FROM dw),
         |seq AS (SELECT d.doc_id, d.wp, t.tp, i.tid
         |  FROM dw2 d JOIN wt2 t ON d.word = t.word JOIN tid i ON t.token = i.token),
         |nt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok, $h % $shards AS shard
         |  FROM seq GROUP BY doc_id),
         |cm AS (SELECT doc_id, shard,
         |  sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS base FROM nt),
         |po AS (SELECT s.doc_id, c.shard,
         |  c.base + row_number() OVER (PARTITION BY s.doc_id ORDER BY s.wp, s.tp) - 1 AS o, s.tid
         |  FROM seq s JOIN cm c ON s.doc_id = c.doc_id)
         |SELECT CAST(shard AS BIGINT) AS shard, CAST(o // $budget AS BIGINT) AS seq_id,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(min(doc_id) AS BIGINT) AS first_doc,
         |  CAST(sum(tid * ((o % $budget) + 1)) AS BIGINT) AS sig
         |FROM po GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin) { (s, dir) =>
      val toks = bpeTokenStream(Tables.documents(s, dir),
        bpeFit(s, dir))
      packTokenStream(toks, budget, shards, salt = "pk2")
        .groupBy(col("shard"), col("seq_id"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("first_doc"),
          sum(col("tid") * (col("pos") + lit(1L))).cast("long").as("sig"))
        .orderBy(col("shard"), col("seq_id"))
    }
  }

  /** Readability scoring (Flesch reading ease + Flesch–Kincaid grade)
    * from the three classic structural counts — sentences (terminal-
    * punctuation runs, floored at 1), words (whitespace tokens) and
    * syllables (vowel-group runs, the standard regex approximation).
    * All three are exact BIGINTs from one regex pass; the two scores
    * are single double expressions over them (identical cross-engine),
    * so the whole operator is a map-only projection — the corpus-level
    * readability gate a training pipeline runs next to gopher_rules.
    */
  val textReadability: QueryDef = QueryDef.sql("text_readability",
    """SELECT doc_id,
      |  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sents,
      |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS words,
      |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS sylls,
      |  round(206.835
      |    - 1.015 * (CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
      |               / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
      |    - 84.6 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
      |              / len(regexp_extract_all(text, '\S+'))), 6) AS flesch,
      |  round(0.39 * (CAST(len(regexp_extract_all(text, '\S+')) AS DOUBLE)
      |                / greatest(len(regexp_extract_all(text, '[.!?]+')), 1))
      |    + 11.8 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
      |              / len(regexp_extract_all(text, '\S+')))
      |    - 15.59, 6) AS fk_grade
      |FROM documents
      |WHERE len(regexp_extract_all(text, '\S+')) > 0
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val sents = greatest(expr("regexp_count(text, '[.!?]+')"), lit(1))
    val words = expr("regexp_count(text, '\\\\S+')")
    val sylls = expr("regexp_count(lower(text), '[aeiouy]+')")
    Tables.documents(s, dir)
      .where(words > 0)
      .select(col("doc_id"),
        sents.cast("long").as("sents"),
        words.cast("long").as("words"),
        sylls.cast("long").as("sylls"),
        round(lit(206.835) - lit(1.015) * (words.cast("double") / sents)
          - lit(84.6) * (sylls.cast("double") / words), 6).as("flesch"),
        round(lit(0.39) * (words.cast("double") / sents)
          + lit(11.8) * (sylls.cast("double") / words) - lit(15.59), 6).as("fk_grade"))
      .orderBy(col("doc_id"))
  }

  /** Per-document n-gram NOVELTY in doc_id order — what fraction of a
    * document's distinct word bigrams appear in NO earlier document
    * (min-doc first-seen, one grouped rollup + a join back — never an
    * ordered scan): the memorization/novelty census a training pipeline
    * tracks as the corpus grows; boilerplate-heavy feeds trend toward 0.
    * Exact integer counts, one division per doc.
    */
  val textNovelty: QueryDef = QueryDef.sql("text_novelty",
    """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w FROM documents),
      |g AS (SELECT DISTINCT doc_id,
      |        unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
      |      FROM t WHERE len(w) >= 2),
      |f AS (SELECT bg, CAST(min(doc_id) AS BIGINT) AS first_doc FROM g GROUP BY bg)
      |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |  round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |        / count(*), 6) AS novelty
      |FROM g JOIN f ON f.bg = g.bg
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir).withColumn("__w", graft.ops.TextOps.wordsExpr)
    val g = docs.where(size(col("__w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(arrays_zip(slice(__w, 1, size(__w) - 1), slice(__w, 2, size(__w) - 1)),
          |p -> concat_ws(' ', p.`0`, p.`1`))""".stripMargin)).as("bg"))
      .distinct()
    val f = g.groupBy(col("bg")).agg(min(col("doc_id")).cast("long").as("first_doc"))
    g.join(f, "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).cast("long")
          .as("n_new"))
      .select(col("doc_id"), col("n_grams"), col("n_new"),
        round(col("n_new").cast("double") / col("n_grams"), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[QueryDef] = Seq(textTokenCount, textLangId, textQualityScore,
    textFingerprint, textRollingHash, textTopPerLang, textTopNgrams,
    sketchDistinctKmv, sketchDistinctHll, textPiiScrub, textRepetition, textEntropy,
    textGopherRules, textTfidfTop, sketchHeavyHitters, textInvertedIndex,
    textBm25, textPmi, textLmScore, textPerplexityBuckets, sketchQuantiles,
    textZipf, sketchSetops, textKlDrift, textWinnowing, textCodeDetect,
    textBpeMerges, textBpeEncode, textBpeTokenize, textBpePack,
    textReadability, textNovelty)
}
