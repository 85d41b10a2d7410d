package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.TextOps

/** Deduplication operators over the documents table — the LLM-training-
  * data extension family. Tiers:
  *
  *  - exact:      digest groupBy (the only full-data shuffle carries
  *                16-byte digests, not documents)
  *  - ngram-Jaccard with PREFIX FILTERING (PPJoin-style): exact same
  *                result set as naive all-pairs, but candidates come from
  *                an equi-join on the first floor((1-t)*n)+1 elements of
  *                each doc's globally-sorted shingle-hash set — if
  *                J(A,B) >= t the prefixes must share a token, so no
  *                recall is lost. Kills the O(n²) pair scan.
  *  - MinHash-LSH: k=16 signatures from a universal hash family
  *                h_i(x) = (a_i * (x mod p) + b_i) mod p over the 64-bit
  *                shingle hashes (md5 runs once per shingle, not once per
  *                (i, shingle)); 8x2 bands (detect P(J=0.8) ~ 0.9997);
  *                equi-join candidates; exact verify. The 100 TB path.
  *  - SimHash:    32-bit signature over shingle hashes + hamming<=3 pairing.
  *
  * Shingle similarity is computed on 60-bit portable hashes of the
  * shingles (identical in the DuckDB oracle); a hash collision would
  * affect both engines identically.
  */
object DedupQueries {

  // oracle-side spellings of the ONE MinHash family definition
  // (TextOps.MinHash*): (a < 2^31) * (x mod p) + b stays < 2^63
  private val P = TextOps.MinHashP
  private def a(i: String) = s"(${TextOps.MinHashABase} + $i * ${TextOps.MinHashAStep})"

  /** Shared oracle fragments (lockstep with TextOps). */
  private val wordsSql = "regexp_extract_all(lower(text), '[a-z0-9]+')"
  private def duckHash(salt: String, v: String): String = OracleSql.hash64(salt, v)
  private val hashCte =
    s"""t AS (SELECT doc_id, $wordsSql AS w FROM documents),
       |sh AS (SELECT doc_id,
       |  list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]) AS s
       |  FROM t WHERE len(w) >= 3),
       |hs AS (SELECT doc_id, list_sort([${duckHash("'g'", "x")} for x in s]) AS hs, len(s) AS n
       |       FROM sh WHERE len(s) > 0)""".stripMargin

  /** The signature build over an arbitrary documents frame — the
    * [[docHashes]] body below the memo tier, shared with
    * CorpusPipeline's dedup stages: (doc_id, sorted shingle hashes, n).
    */
  private[graft] def hashesOfDocs(s: org.apache.spark.sql.SparkSession,
                                  docs: org.apache.spark.sql.DataFrame,
                                  hash: TextOps.HashSql = null) = {
    TextOps.ensureFunctions(s)
    val h = Option(hash).getOrElse(TextOps.activeHash(s))
    // the tokenize -> shingle -> hash map is the family's cost driver
    // and runs in the SCAN stage, so a small input (one parquet file —
    // an append batch, a small SF dir) would execute it on 1-2 tasks
    // while 30 cores idle (measured: a 100k-doc batch cost the same
    // wall as the 900k base). Widen under-parallel inputs first (the
    // shared Spread helper, r17-opt); the exchange is batch-sized and
    // buys the full map parallelism.
    val docsWide = graft.ops.Spread(docs)
    val sh = TextOps.docShingles(docsWide)
    TextOps.barrier(sh.select(col("doc_id"),
      array_sort(expr(s"transform(sh, x -> ${h("'g'", "x")})")).as("hs"),
      size(col("sh")).as("n")), "doc_id")
  }

  /** Session signature table: five dedup family members consume the
    * same (doc_id, sorted shingle hashes, n) table, and within one
    * Verify/Bench run each would otherwise re-pay the whole tokenize →
    * shingle → hash pipeline (the measured cost driver of the family).
    * A [[graft.ops.Artifacts]] frame over `documents`, keyed by the
    * hash tier (identified by a sample of its generated SQL, because
    * eta-expanded function values have no structural equality).
    * `hash` defaults to the md5-derived portable hash (DuckDB-checkable);
    * production swaps in `TextOps.xxhash64Sql` — every downstream dedup
    * operator is hash-agnostic (proved by TextOpsSpec).
    *
    * This is the in-session form of the 100 TB pattern: a SIGNATURE TABLE
    * persisted (parquet) once per corpus snapshot, reused by every dedup
    * pass over that snapshot, invalidated with the snapshot — never
    * recomputed per query.
    */
  private[graft] def docHashes(s: org.apache.spark.sql.SparkSession, dir: String,
                               hash: TextOps.HashSql = null) = {
    val h = Option(hash).getOrElse(TextOps.activeHash(s)) // bench A/B hook
    graft.ops.Artifacts.frame(s, dir, Seq("documents"), "dedup.signatures", h("'s'", "x")) {
      // pin the cached layout: hash(doc_id) at executor parallelism.
      // AQE sizes cached partitions from BYTES, which packs this
      // compute-dense table (shingle arrays consumed by explode /
      // array_intersect in ~20 queries) onto 1-3 partitions; the pin
      // keeps every consumer's map work parallel and co-locates the
      // verify joins' doc_id legs. One exchange at build, amortized
      // across the family (r17-opt, guide §2.2).
      hashesOfDocs(s, Tables.documents(s, dir), h)
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    }
  }

  /** The session hash tier as an artifact param (see [[docHashes]]). */
  private def hashTier(s: org.apache.spark.sql.SparkSession): String =
    TextOps.activeHash(s)("'s'", "x")

  private def duckJaccard(a: String, b: String): String =
    s"""round(len(list_intersect($a, $b))::DOUBLE /
       |  (len($a) + len($b) - len(list_intersect($a, $b))), 6)""".stripMargin

  /** Shared prefix-filter pair pipeline (J >= 0.8), SQL side: CTEs
    * `pre`/`cand`/`pairs` over `hs` — used by both the pair query and the
    * cluster query so threshold/filter changes stay in lockstep.
    */
  private val duckPairsCte: String =
    s"""pre AS (SELECT doc_id, n, unnest(hs[1 : CAST(floor(0.2 * n) + 1 AS INT)]) AS tok FROM hs),
       |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |         FROM pre a JOIN pre b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |          AND 4 * greatest(a.n, b.n) <= 5 * least(a.n, b.n)),
       |pairs AS (SELECT c.i, c.j, ${duckJaccard("x.hs", "y.hs")} AS sim
       |          FROM cand c JOIN hs x ON x.doc_id = c.i JOIN hs y ON y.doc_id = c.j)""".stripMargin

  /** Shared prefix-filter pair pipeline, Spark side: (i, j, sim) with
    * sim already rounded; caller filters on the threshold.
    */
  private[graft] def prefixFilteredPairs(hs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val pre = hs.select(col("doc_id"), col("n"),
      explode(expr("slice(hs, 1, CAST(floor(0.2 * n) + 1 AS INT))")).as("tok"))
    val cand = pre.as("a")
      .join(pre.as("b"), col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id") &&
        lit(4) * greatest(col("a.n"), col("b.n")) <= lit(5) * least(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    cand
      .join(hs.select(col("doc_id").as("i"), col("hs").as("ha")), "i")
      .join(hs.select(col("doc_id").as("j"), col("hs").as("hb")), "j")
      .withColumn("sim", TextOps.jaccard(col("ha"), col("hb")))
      .select(col("i"), col("j"), col("sim"))
  }

  /** DuckDB transitive-closure mirror of Components.connectedComponents
    * over the J>=0.8 pair table — ONE copy (same lockstep discipline as
    * [[hashCte]]/[[duckPairsCte]]): `cl(node, rep)` with rep = min
    * doc_id of the component. Requires WITH RECURSIVE and `pairs`.
    */
  private val duckClustersCte: String =
    s"""p8 AS (SELECT i, j FROM pairs WHERE sim >= 0.8),
       |e AS (SELECT i AS a, j AS b FROM p8 UNION SELECT j, i FROM p8),
       |reach AS (SELECT a AS node, a AS r FROM e
       |          UNION SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.node),
       |cl AS (SELECT node, min(r) AS rep FROM reach GROUP BY node)""".stripMargin

  /** Same memo pattern as [[docHashes]] one level up: the J-threshold
    * pair table (i, j, sim) is consumed by three family members
    * (ngram_jaccard emits it, clusters runs CC over it, survivors
    * anti-joins its CC) — the verified-pair table is tiny (true near-dup
    * pairs), so persisting it costs nothing and saves two candidate-join
    * + verify passes per run. Production analog: a persisted pairs table
    * next to the signature table, refreshed with the corpus snapshot.
    */
  private[graft] def sharedPairs(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Artifacts.frame(s, dir, Seq("documents"), "dedup.pairs", hashTier(s))(
      prefixFilteredPairs(docHashes(s, dir)))

  /** Third memo tier: the CC cluster map (node, rep) over the J>=0.8
    * pairs. Strictly downstream of [[sharedPairs]] but NOT free — the
    * multi-round pointer-jumping pass is the dedup family's most
    * expensive step, and clusters/survivors/best_survivor each need the
    * identical map. Production analog: the cluster-assignment table a
    * pipeline writes next to the pairs table per corpus snapshot.
    */
  private def sharedClusters(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Artifacts.frame(s, dir, Seq("documents"), "dedup.clusters", hashTier(s))(
      graft.ops.Components.connectedComponents(
        sharedPairs(s, dir).where(col("sim") >= 0.8).select(col("i"), col("j")))
        .select(col("node"), col("rep")))

  val dedupExact: QueryDef = QueryDef.sql("dedup_exact",
    """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
      .orderBy(col("keep_id"))
  }

  /** Exact near-dup pairs (J >= 0.8) via prefix filtering: identical
    * output to the naive quadratic scan, candidates from an equi-join.
    */
  val dedupNgramJaccard: QueryDef = QueryDef.sql("dedup_ngram_jaccard",
    s"""WITH $hashCte,
       |$duckPairsCte
       |SELECT i, j, sim FROM pairs WHERE sim >= 0.8 ORDER BY i, j""".stripMargin) { (s, dir) =>
    sharedPairs(s, dir)
      .where(col("sim") >= 0.8)
      .orderBy(col("i"), col("j"))
  }

  /** Scale path: k universal-hash minhashes over shingle hashes, banded;
    * candidates from an equi-join on band keys; exact-Jaccard verify >= 0.8.
    */
  // the banded MinHash candidate pipeline, oracle side — ONE copy
  // (k=16, 8 bands × 2 rows) shared by dedup_minhash_lsh (which
  // verifies candidates) and dedup_lsh_recall (which measures them);
  // Spark twin: TextOps.bandedSignatures with the same constants
  private val (minhashK, minhashBands, minhashR) = (16, 8, 2)
  private val duckMinhashCandCte: String = {
    val duckSig =
      s"[list_min([(${a("i")} * (x % $P) + i) % $P for x in hs]) for i in range(0, $minhashK)]"
    val duckSlice = (1 to minhashR).map(o => s"sig[$minhashR * b + $o]").mkString(" || ',' || ")
    s"""sig AS (SELECT doc_id, $duckSig AS sig FROM hs),
       |bands AS (SELECT doc_id, b, md5(CAST(b AS VARCHAR) || ':' || $duckSlice) AS bh
       |          FROM sig CROSS JOIN range(0, $minhashBands) r1(b)),
       |mcand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |          FROM bands a JOIN bands b ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** Spark twin of `mcand`: the banded-signature candidate pairs. */
  private def minhashCandidates(hs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bandRows = TextOps.bandedSignatures(hs, minhashK, minhashBands, minhashR)
    bandRows.as("a")
      .join(bandRows.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  val dedupMinhashLsh: QueryDef = {
    QueryDef.sql("dedup_minhash_lsh",
      s"""WITH $hashCte,
         |$duckMinhashCandCte,
         |ver AS (SELECT c.i, c.j, ${duckJaccard("x.hs", "y.hs")} AS sim
         |        FROM mcand c JOIN hs x ON x.doc_id = c.i JOIN hs y ON y.doc_id = c.j)
         |SELECT i, j, sim FROM ver WHERE sim >= 0.8 ORDER BY i, j""".stripMargin) { (s, dir) =>
      // shared banded-signature pipeline (native one-pass MinHashSig
      // kernel + band keys — TextOpsSpec pins it bit-for-bit against
      // the interpreted HOF form; family constants live in
      // TextOps.MinHash*, the single definition every consumer shares)
      minhashVerifiedPairs(docHashes(s, dir), 0.8).orderBy(col("i"), col("j"))
    }
  }

  /** MinHash-LSH candidates + exact-Jaccard verify over a signature
    * frame — the [[dedupMinhashLsh]] body, shared with CorpusPipeline's
    * pair stage. Unordered (i, j, sim >= tau).
    */
  private[graft] def minhashVerifiedPairs(hs: org.apache.spark.sql.DataFrame,
                                          tau: Double): org.apache.spark.sql.DataFrame =
    minhashCandidates(hs)
      .join(hs.select(col("doc_id").as("i"), col("hs").as("ha")), "i")
      .join(hs.select(col("doc_id").as("j"), col("hs").as("hb")), "j")
      .withColumn("sim", TextOps.jaccard(col("ha"), col("hb")))
      .where(col("sim") >= tau)
      .select(col("i"), col("j"), col("sim"))

  /** [[minhashVerifiedPairs]] restricted to pairs TOUCHING a new batch
    * (CorpusPipeline.append's pair delta): band keys are a per-doc
    * function of the signature, so
    * `pairs(all) = pairs(prior) ∪ pairsIncremental(all, batch)` exactly,
    * when every batch doc_id exceeds every prior doc_id — candidates
    * pair ANY doc (left) with a BATCH doc (right) under doc_id < order,
    * covering prior×batch and batch×batch while excluding the already-
    * persisted prior×prior pairs. Corpus-side work is one map over the
    * persisted signature table (minhash sigs + band keys — no text, no
    * re-shingling); the equi-join's output volume is keyed by the
    * BATCH's band rows, the dedup_incremental scale story.
    */
  private[graft] def minhashVerifiedPairsIncremental(allHs: org.apache.spark.sql.DataFrame,
      newHs: org.apache.spark.sql.DataFrame, tau: Double): org.apache.spark.sql.DataFrame = {
    val bandsAll = TextOps.bandedSignatures(allHs, minhashK, minhashBands, minhashR)
    val bandsNew = TextOps.bandedSignatures(newHs, minhashK, minhashBands, minhashR)
    val cand = bandsAll.as("a")
      .join(bandsNew.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    cand
      .join(allHs.select(col("doc_id").as("i"), col("hs").as("ha")), "i")
      .join(allHs.select(col("doc_id").as("j"), col("hs").as("hb")), "j")
      .withColumn("sim", TextOps.jaccard(col("ha"), col("hb")))
      .where(col("sim") >= tau)
      .select(col("i"), col("j"), col("sim"))
  }

  /** 32-bit SimHash near-dup pairs at hamming distance <= 3.
    *
    * Pigeonhole banding (scale path, zero recall loss): split the 32-bit
    * signature into 4 bytes. Two signatures at hamming distance <= 3
    * differ in at most 3 bits, so at least one of the 4 bytes is
    * IDENTICAL — candidates come from an equi-join on (band, band_byte),
    * then the exact `bit_count(xor) <= 3` verify. No all-pairs scan, no
    * broadcast of the signature table; the shuffle carries
    * 4 x (doc_id, byte) rows per doc.
    */
  val dedupSimhash: QueryDef = {
    val duckSig =
      s"""CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END for h in hs]) >= 0
         |  THEN (1::BIGINT << i) ELSE 0::BIGINT END for i in range(0, 32)]) AS BIGINT)""".stripMargin
    QueryDef.sql("dedup_simhash",
      s"""WITH $hashCte,
         |sg AS (SELECT doc_id, $duckSig AS sig FROM hs),
         |bd AS (SELECT doc_id, b, (sig >> (8 * b)) & 255 AS bv
         |       FROM sg CROSS JOIN range(0, 4) r1(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
         |         FROM bd a JOIN bd b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT c.i, c.j, CAST(bit_count(xor(x.sig, y.sig)) AS BIGINT) AS dist
         |FROM cand c JOIN sg x ON x.doc_id = c.i JOIN sg y ON y.doc_id = c.j
         |WHERE bit_count(xor(x.sig, y.sig)) <= 3
         |ORDER BY i, j""".stripMargin) { (s, dir) =>
      val hs = docHashes(s, dir)
      val sg = TextOps.barrier(
        hs.withColumn("__wh", col("hs"))
          .select(col("doc_id"), TextOps.simhash32.as("sig")), "doc_id")
      val bd = sg.select(col("doc_id"), explode(expr(
        "transform(sequence(0, 3), b -> struct(b AS band, CAST(shiftright(sig, 8 * b) & 255 AS INT) AS bv))"))
        .as("bd"))
        .select(col("doc_id"), col("bd.band").as("band"), col("bd.bv").as("bv"))
      val cand = bd.as("a")
        .join(bd.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
        .distinct()
      cand
        .join(sg.select(col("doc_id").as("i"), col("sig").as("sa")), "i")
        .join(sg.select(col("doc_id").as("j"), col("sig").as("sb")), "j")
        .withColumn("dist", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
        .where(col("dist") <= 3)
        .select(col("i"), col("j"), col("dist"))
        .orderBy(col("i"), col("j"))
    }
  }

  /** Pairs -> duplicate clusters: connected components over the J>=0.8
    * pair graph, each involved doc labeled with its cluster's min id
    * (the survivor). Oracle: recursive-CTE transitive closure.
    */
  val dedupClusters: QueryDef = QueryDef.sql("dedup_clusters",
    s"""WITH RECURSIVE $hashCte,
       |$duckPairsCte,
       |$duckClustersCte
       |SELECT node, rep FROM cl ORDER BY node""".stripMargin) { (s, dir) =>
    sharedClusters(s, dir).orderBy(col("node"))
  }

  /** INCREMENTAL cluster maintenance under the gate: the prior corpus's
    * persisted (node, rep) map (CC over pairs among OLD docs,
    * doc_id % 5 ≠ 0) absorbs the day's batch pairs (anything touching a
    * NEW doc) via [[graft.ops.Components.mergeBatch]] — contraction
    * onto prior reps, CC over the BATCH-sized contracted graph, one
    * remap join back. The oracle is [[dedupClusters]]'s full transitive
    * closure over ALL pairs verbatim, so the gate proves
    * `mergeBatch(cc(prior), batch) ≡ cc(prior ∪ batch)` on the whole
    * corpus — the cluster-tier analog of dedup_incremental's
    * signature-tier claim, and the kernel that makes a daily append's
    * dedup maintenance scale with the batch, not the graph.
    */
  val dedupClustersIncremental: QueryDef = QueryDef.sql("dedup_clusters_incremental",
    s"""WITH RECURSIVE $hashCte,
       |$duckPairsCte,
       |$duckClustersCte
       |SELECT node, rep FROM cl ORDER BY node""".stripMargin) { (s, dir) =>
    val p = sharedPairs(s, dir).where(col("sim") >= 0.8).select(col("i"), col("j"))
    def isNew(c: org.apache.spark.sql.Column) = c % 5 === 0
    val prior = p.where(!isNew(col("i")) && !isNew(col("j")))
    val batch = p.where(isNew(col("i")) || isNew(col("j")))
    val priorClusters = graft.ops.Components.connectedComponents(prior)
      .select(col("node"), col("rep"))
    graft.ops.Components.mergeBatch(priorClusters, batch)
      .orderBy(col("node"))
  }

  /** The deduplicated corpus itself: every document except non-
    * representative cluster members (clusters from the J>=0.8 CC pass;
    * the survivor is the cluster's min doc_id). This is the operator a
    * training pipeline actually runs — pairs and clusters are its
    * internals. Anti-join keeps the plan one scan + one broadcast-able
    * drop list.
    */
  val dedupSurvivors: QueryDef = QueryDef.sql("dedup_survivors",
    s"""WITH RECURSIVE $hashCte,
       |$duckPairsCte,
       |$duckClustersCte
       |SELECT d.doc_id FROM documents d LEFT JOIN cl ON d.doc_id = cl.node
       |WHERE cl.node IS NULL OR cl.rep = d.doc_id
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val dropList = sharedClusters(s, dir)
      .where(col("node") =!= col("rep"))
      .select(col("node").as("doc_id"))
    Tables.documents(s, dir).select(col("doc_id"))
      .join(dropList, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Quality-aware canonical selection — [[dedupSurvivors]] keeps each
    * cluster's MIN doc_id; real pipelines keep its BEST member (longest
    * text is the standard heuristic: truncated/boilerplate variants
    * lose to the full document). One row per J>=0.8 cluster: the
    * canonical doc by (n_chars desc, doc_id) and the member count.
    *
    * Shape at 100 TB: clusters (CC output) are a node→rep map keyed by
    * doc — joining the documents table touches only metadata columns
    * (doc_id, n_chars — never text), and the per-cluster argmax is a
    * rank-1 window that compiles to WindowGroupLimit, so a pathological
    * million-member cluster contributes one row per map task to the
    * window shuffle, not a sorted group.
    */
  val dedupBestSurvivor: QueryDef = QueryDef.sql("dedup_best_survivor",
    s"""WITH RECURSIVE $hashCte,
       |$duckPairsCte,
       |$duckClustersCte,
       |m AS (SELECT cl.rep, cl.node, d.n_chars,
       |        row_number() OVER (PARTITION BY cl.rep
       |                           ORDER BY d.n_chars DESC, cl.node) AS rk
       |      FROM cl JOIN documents d ON d.doc_id = cl.node),
       |n AS (SELECT rep, count(*) AS n_members FROM cl GROUP BY rep)
       |SELECT m.rep, m.node AS best_doc, m.n_chars AS best_chars, n.n_members
       |FROM m JOIN n USING (rep) WHERE m.rk = 1 ORDER BY m.rep""".stripMargin) { (s, dir) =>
    bestSurvivors(sharedClusters(s, dir), Tables.documents(s, dir)).orderBy(col("rep"))
  }

  /** Per-cluster canonical selection over a (node, rep) cluster map and
    * a documents frame — the [[dedupBestSurvivor]] body, shared with
    * CorpusPipeline's canonical stage. Unordered
    * (rep, best_doc, best_chars, n_members).
    */
  private[graft] def bestSurvivors(cl: org.apache.spark.sql.DataFrame,
                                   docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val m = cl.join(docs.select(col("doc_id"), col("n_chars")),
        col("doc_id") === col("node"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("rep")).orderBy(col("n_chars").desc, col("node"))))
    val n = cl.groupBy(col("rep")).agg(count(lit(1)).as("n_members"))
    m.where(col("rk") === 1)
      .join(n, Seq("rep"))
      .select(col("rep"), col("node").as("best_doc"),
        col("n_chars").as("best_chars"), col("n_members"))
  }

  /** Benchmark decontamination — the pass every training corpus runs
    * before release: flag documents sharing any 3-gram shingle with a
    * benchmark/eval set, reporting the distinct-overlap count as the
    * contamination score. The benchmark here is a deterministic slice of
    * the corpus (doc_id % 97 = 0 stands in for the external eval suite;
    * production points the same plan at a real benchmark table).
    *
    * Shape at 100 TB: the benchmark shingle set is SMALL (eval suites are
    * thousands of docs) — it broadcasts, and contamination is one scan of
    * the corpus's exploded shingles + a map-side semi-ish join + count.
    * No shuffle of the corpus text itself; reuses the shared signature
    * table, so the shingle pipeline is already paid for.
    */
  val dedupDecontaminate: QueryDef = QueryDef.sql("dedup_decontaminate",
    s"""WITH $hashCte,
       |bm AS (SELECT DISTINCT unnest(hs) AS h FROM hs WHERE doc_id % 97 = 0),
       |tok AS (SELECT doc_id, unnest(hs) AS h FROM hs WHERE doc_id % 97 <> 0)
       |SELECT doc_id, count(*) AS n_hits
       |FROM tok JOIN bm USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val hs = docHashes(s, dir)
    val bm = hs.where(col("doc_id") % 97 === 0)
      .select(explode(col("hs")).as("h")).distinct()
    hs.where(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .join(broadcast(bm), "h") // hs entries are distinct per doc -> count = distinct overlap
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  private val decontReplaySeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** STREAM-STATIC broadcast join through the oracle gate — the sixth
    * streaming operator class beside the five stateful replays: each
    * arriving corpus document is checked against the STATIC benchmark
    * shingle-hash table in-flight (Streaming.streamingDecontaminate),
    * hash-checked against the SAME DuckDB oracle as the batch
    * `dedup_decontaminate`. Stateless by construction — the benchmark
    * set rides a one-row broadcast array and contamination is a pure
    * projection (`array_intersect` over the doc's distinct shingle
    * hashes = the batch side's distinct-overlap join count) — so the
    * query runs append-mode with no watermark, no state store and no
    * shuffle: the at-ingest shape for keeping eval suites out of a
    * training corpus without a second full-corpus pass.
    */
  val streamingDecontaminateReplay: QueryDef = QueryDef.sql("streaming_decontaminate_replay",
    s"""WITH $hashCte,
       |bm AS (SELECT DISTINCT unnest(hs) AS h FROM hs WHERE doc_id % 97 = 0),
       |tok AS (SELECT doc_id, unnest(hs) AS h FROM hs WHERE doc_id % 97 <> 0)
       |SELECT doc_id, count(*) AS n_hits
       |FROM tok JOIN bm USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    TextOps.ensureFunctions(s)
    // FILE-SOURCE replay (stateless operator — order is irrelevant, the
    // staging just gives it a deterministic 2-batch cadence; no driver
    // collect). Static side: the shared signature memo, restricted to
    // the benchmark slice (oracle runs use the portable hash; the
    // operator itself is hash-agnostic like the rest of the family).
    val src = Tables.documents(s, dir).where(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("text"))
    val bm = docHashes(s, dir).where(col("doc_id") % 97 === 0)
      .select(explode(col("hs")).as("h")).distinct()
    val (watched, base) = StreamingReplays.stageOrderedFiles(src, 2, Seq(col("doc_id")))
    try {
      val stream = s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1").parquet(watched)
      val sink = s"decont_replay_${decontReplaySeq.incrementAndGet()}"
      val query = graft.streaming.Streaming
        .streamingDecontaminate(stream, bm)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try query.processAllAvailable() finally query.stop()
      s.table(sink).select(col("doc_id"), col("n_hits")).orderBy(col("doc_id"))
    } finally StreamingReplays.rmTree(base)
  }

  /** Incremental dedup — the shape a 100 TB pipeline actually runs
    * daily: a NEW batch (here doc_id % 5 = 0, standing in for today's
    * crawl) deduped against the ACCEPTED corpus (the rest) plus earlier
    * rows of the same batch, without ever recomputing corpus-side
    * pairs. A new doc is dropped if it is a J>=0.8 near-dup of any
    * corpus doc or of a lower-id batch doc; output is each dropped
    * doc's best match (highest sim, then smallest dup_of) tagged with
    * where it matched.
    *
    * Scale shape: the corpus side reads the PERSISTED signature table
    * (the session memo here; a parquet signature table per corpus
    * snapshot in production) — the only new work is the batch's
    * signatures, and the prefix-token equi-join keys candidate volume
    * by |batch|, not |corpus|². The batch side of the join is small by
    * construction; the corpus side shuffles prefix tokens only (one
    * long + doc_id + n per row), never documents.
    */
  val dedupIncremental: QueryDef = QueryDef.sql("dedup_incremental",
    s"""WITH $hashCte,
       |pre AS (SELECT doc_id, n, doc_id % 5 = 0 AS is_new,
       |          unnest(hs[1 : CAST(floor(0.2 * n) + 1 AS INT)]) AS tok FROM hs),
       |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j, b.is_new AS j_new
       |         FROM pre a JOIN pre b ON a.tok = b.tok
       |          AND a.is_new AND (NOT b.is_new OR b.doc_id < a.doc_id)
       |          AND a.doc_id <> b.doc_id
       |          AND 4 * greatest(a.n, b.n) <= 5 * least(a.n, b.n)),
       |pairs AS (SELECT c.i, c.j, c.j_new, ${duckJaccard("x.hs", "y.hs")} AS sim
       |          FROM cand c JOIN hs x ON x.doc_id = c.i JOIN hs y ON y.doc_id = c.j),
       |hits AS (SELECT i AS doc_id, j AS dup_of, sim,
       |           CASE WHEN j_new THEN 'batch' ELSE 'corpus' END AS src,
       |           row_number() OVER (PARTITION BY i ORDER BY sim DESC, j) AS rn
       |         FROM pairs WHERE sim >= 0.8)
       |SELECT doc_id, dup_of, sim, src FROM hits WHERE rn = 1
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val hs = docHashes(s, dir)
    val pre = hs.select(col("doc_id"), col("n"),
      (col("doc_id") % 5 === 0).as("is_new"),
      explode(expr("slice(hs, 1, CAST(floor(0.2 * n) + 1 AS INT))")).as("tok"))
    val cand = pre.where(col("is_new")).as("a")
      .join(pre.as("b"), col("a.tok") === col("b.tok") &&
        (!col("b.is_new") || col("b.doc_id") < col("a.doc_id")) &&
        col("a.doc_id") =!= col("b.doc_id") &&
        lit(4) * greatest(col("a.n"), col("b.n")) <= lit(5) * least(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"), col("b.is_new").as("j_new"))
      .distinct()
    cand
      .join(hs.select(col("doc_id").as("i"), col("hs").as("ha")), "i")
      .join(hs.select(col("doc_id").as("j"), col("hs").as("hb")), "j")
      .withColumn("sim", TextOps.jaccard(col("ha"), col("hb")))
      .where(col("sim") >= 0.8)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("i")).orderBy(col("sim").desc, col("j"))))
      .where(col("rn") === 1)
      .select(col("i").as("doc_id"), col("j").as("dup_of"), col("sim"),
        when(col("j_new"), "batch").otherwise("corpus").as("src"))
      .orderBy(col("doc_id"))
  }

  /** Cross-SOURCE shingle-overlap matrix — the "which feeds duplicate
    * each other" census for the dataset card: per source pair, the
    * exact Jaccard of their DISTINCT 3-gram shingle sets. Where
    * ml_dedup_rate_by_source counts whole-text cross-source dupes,
    * this measures partial/boilerplate overlap between feeds (a
    * mirrored crawl shows up here long before whole documents
    * collide), and it ranks which source pairs deserve a containment/
    * substring pass.
    *
    * Scale shape: the distinct (source, shingle) projection is the ONE
    * corpus-sized shuffle (reusing the session signature memo — no
    * re-shingling); the pair build self-joins it on the shingle hash,
    * whose per-hash fanout is bounded by |sources|² (≤ 400 here) — the
    * join output is linear in distinct shingles, never doc-pairs; the
    * per-source size table broadcasts into the final 190-row matrix.
    */
  val dedupSourceOverlap: QueryDef = QueryDef.sql("dedup_source_overlap",
    s"""WITH $hashCte,
       |src AS (SELECT doc_id, source FROM documents),
       |tok AS (SELECT DISTINCT s.source, unnest(hs.hs) AS h
       |        FROM hs JOIN src s USING (doc_id)),
       |sz AS (SELECT source, count(*) AS n FROM tok GROUP BY 1),
       |p AS (SELECT a.source AS sa, b.source AS sb, CAST(count(*) AS BIGINT) AS inter
       |      FROM tok a JOIN tok b ON a.h = b.h AND a.source < b.source
       |      GROUP BY 1, 2)
       |SELECT sa, sb, inter,
       |  round(inter / CAST(x.n + y.n - inter AS DOUBLE), 6) AS jaccard
       |FROM p JOIN sz x ON x.source = sa JOIN sz y ON y.source = sb
       |ORDER BY sa, sb""".stripMargin) { (s, dir) =>
    sourceOverlapPairs(docHashes(s, dir),
        Tables.documents(s, dir).select(col("doc_id"), col("source")))
      .orderBy(col("sa"), col("sb"))
  }

  /** The [[dedupSourceOverlap]] body over an arbitrary (signature,
    * docs) frame pair — shared with CorpusPipeline's dataset card so
    * the shipped corpus's source-overlap census reuses the persisted
    * signature table instead of re-shingling. Unordered
    * (sa, sb, inter, jaccard).
    */
  private[graft] def sourceOverlapPairs(hs: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // the distinct (source, shingle) projection is the one corpus-sized
    // shuffle here and is referenced THREE times below (size rollup +
    // both self-join sides, which project different aliases so exchange
    // reuse can't kick in) — checkpoint once (r16-opt). Lifecycle: the
    // blocks are reclaimed by the ContextCleaner when the frame goes out
    // of scope (localCheckpoint blocks are not CacheManager entries) —
    // intended; an explicit unpersist here would have to outlive the
    // caller's consumption of the returned lazy frame (r17, ADVICE)
    val tok = hs
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), explode(col("hs")).as("h"))
      .distinct()
      .transform(graft.ops.Ckpt.eager)
    val sz = tok.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val p = tok.select(col("source").as("sa"), col("h")).as("a")
      .join(tok.select(col("source").as("sb"), col("h")).as("b"),
        col("a.h") === col("b.h") && col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("inter"))
    p.join(broadcast(sz.select(col("source").as("sa"), col("n").as("na"))), "sa")
      .join(broadcast(sz.select(col("source").as("sb"), col("n").as("nb"))), "sb")
      .select(col("sa"), col("sb"), col("inter"),
        round(col("inter") / (col("na") + col("nb") - col("inter")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Exact-substring dedup (the "shared verbatim span" pass from the
    * training-data literature): find document pairs sharing any long
    * VERBATIM word run, even when whole-doc similarity is low — the
    * case Jaccard-style near-dup misses (a press release quoted inside
    * an otherwise unrelated article). Fixed-width W=8-word windows are
    * hashed per position; cross-doc window matches equi-join on the
    * hash; consecutive matches merge into runs by gaps-and-islands on
    * the alignment diagonal (pi − pj constant, island key = pi −
    * row_number within the diagonal); pairs pass at a ≥25-word longest
    * run. This is the scalable alternative to suffix-array substring
    * dedup: the shuffle carries (doc_id, pos, 8-byte hash) rows — never
    * text — and join output tracks true shared spans only.
    *
    * The window aggregate before the self-join is the evaluate-once
    * barrier (same discipline as docHashes) and gives AQE an identical
    * exchange on both sides to reuse.
    */
  /** Longest consecutive alignment run per doc pair from cross-doc
    * window matches (i, j, pi, pj): consecutive positions merge via
    * gaps-and-islands PER DIAGONAL — the island key k = pi − row_number
    * is only unique within one alignment diagonal d = pi − pj, so the
    * run grouping MUST include d (two islands on different diagonals
    * can share a k value; grouping on (i, j, k) alone would fuse them
    * into a phantom run — DedupOpsSpec pins the counter-example).
    * Returns (i, j, longest_run_words) with the window width added
    * back (a run of r consecutive W-word windows spans r + W − 1 words).
    */
  private[graft] def alignmentRuns(m: org.apache.spark.sql.DataFrame,
                                   winW: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    m.withColumn("d", col("pi") - col("pj"))
      .withColumn("k", col("pi") - row_number().over(
        Window.partitionBy(col("i"), col("j"), col("d")).orderBy(col("pi"))))
      .groupBy(col("i"), col("j"), col("d"), col("k"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("i"), col("j"))
      .agg((max(col("run")) + (winW - 1)).as("longest_run_words"))
  }

  val dedupSubstring: QueryDef = {
    val winW = 8
    val minRun = 25
    QueryDef.sql("dedup_substring",
      s"""WITH t AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |win0 AS (SELECT doc_id, unnest(range(1, len(w) - ${winW - 2})) AS pos, w
         |         FROM t WHERE len(w) >= $winW),
         |win AS (SELECT doc_id, pos,
         |          ${duckHash("'w'", s"list_reduce(w[pos : pos + ${winW - 1}], (a, b) -> a || ' ' || b)")} AS h
         |        FROM win0),
         |m AS (SELECT a.doc_id AS i, b.doc_id AS j, a.pos AS pi, b.pos AS pj
         |      FROM win a JOIN win b ON a.h = b.h AND a.doc_id < b.doc_id),
         |isl AS (SELECT i, j, pi, pi - pj AS d,
         |          pi - row_number() OVER (PARTITION BY i, j, pi - pj ORDER BY pi) AS k
         |        FROM m),
         |runs AS (SELECT i, j, count(*) AS run FROM isl GROUP BY i, j, d, k),
         |agg AS (SELECT i, j, count(*) AS n_shared FROM m GROUP BY i, j),
         |best AS (SELECT i, j, max(run) + ${winW - 1} AS longest_run_words FROM runs GROUP BY i, j)
         |SELECT i, j, n_shared, CAST(longest_run_words AS BIGINT) AS longest_run_words
         |FROM agg JOIN best USING (i, j)
         |WHERE longest_run_words >= $minRun ORDER BY i, j""".stripMargin) { (s, dir) =>
      TextOps.ensureFunctions(s)
      val win = Tables.documents(s, dir)
        .withColumn("__w", TextOps.wordsExpr)
        .where(size(col("__w")) >= winW)
        .select(col("doc_id"), col("__w"),
          explode(expr(s"sequence(1, size(__w) - ${winW - 1})")).as("pos"))
        .select(col("doc_id"), col("pos"),
          expr(TextOps.portableHash64Sql("'w'",
            s"concat_ws(' ', slice(__w, pos, $winW))")).as("h"))
        // evaluate-once barrier on the composite key; both self-join
        // sides hang off this identical exchange
        .groupBy(col("doc_id"), col("pos")).agg(first(col("h")).as("h"))
      val m = win.as("a")
        .join(win.as("b"), col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
          col("a.pos").as("pi"), col("b.pos").as("pj"))
      val agg = m.groupBy(col("i"), col("j")).agg(count(lit(1)).as("n_shared"))
      val best = alignmentRuns(m, winW)
      agg.join(best, Seq("i", "j"))
        .where(col("longest_run_words") >= minRun)
        .select(col("i"), col("j"), col("n_shared"),
          col("longest_run_words").cast("long"))
        .orderBy(col("i"), col("j"))
    }
  }

  /** Corpus-wide line-level boilerplate removal (the C4 / RefinedWeb
    * rule: drop a LINE everywhere once it repeats across enough
    * documents — nav bars, cookie banners, licence footers — and drop
    * later re-occurrences of any repeated line). Distinct semantics
    * from [[dedupSubstring]]: that one scores PAIRS by shared spans;
    * this one scores each line against the WHOLE corpus by document
    * frequency, no pairing at all.
    *
    * The synthetic corpus has no newlines, so the "line" unit is a
    * deterministic segmenter: non-overlapping SEG-word blocks. The
    * pipeline (segment → hash → df count → join back → per-doc stats)
    * is the production shape either way; swapping the segmenter for
    * `split(text, '\n')` is a one-line change.
    *
    * Scale: the full-data shuffle carries (doc_id, pos, 8-byte hash)
    * rows and the df table one row per DISTINCT line — never text.
    * The join back is a hash equi-join; no window over the corpus, no
    * all-pairs. "First occurrence" is the minimum of a packed
    * (doc_id, pos) key, resolved inside the same df aggregate.
    */
  val dedupLines: QueryDef = {
    val seg = 3      // words per synthetic "line"
    val minDf = 3    // boilerplate = appears in >= 3 distinct docs
    val pack = 1000000000L // doc_id * pack + pos orders (doc_id, pos)
    QueryDef.sql("dedup_lines",
      s"""WITH t AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |segs0 AS (SELECT doc_id, unnest(range(1, len(w) - ${seg - 2}, $seg)) AS pos, w
         |          FROM t WHERE len(w) >= $seg),
         |segs AS (SELECT doc_id, pos,
         |           ${duckHash("'l'", s"list_reduce(w[pos : pos + ${seg - 1}], (a, b) -> a || ' ' || b)")} AS h
         |         FROM segs0),
         |stats AS (SELECT h, count(DISTINCT doc_id) AS df, count(*) AS n_occ,
         |            min(doc_id * $pack + pos) AS firstp
         |          FROM segs GROUP BY h)
         |SELECT s.doc_id AS doc_id, count(*) AS n_seg,
         |  CAST(sum(CASE WHEN st.df >= $minDf THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  CAST(sum(CASE WHEN st.n_occ > 1 AND s.doc_id * $pack + s.pos <> st.firstp
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_later
         |FROM segs s JOIN stats st USING (h)
         |GROUP BY s.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextOps.ensureFunctions(s)
      val segs = Tables.documents(s, dir)
        .withColumn("__w", TextOps.wordsExpr)
        .where(size(col("__w")) >= seg)
        .select(col("doc_id"),
          explode(expr(s"sequence(1, size(__w) - ${seg - 1}, $seg)")).as("pos"),
          col("__w"))
        .select(col("doc_id"), col("pos"),
          expr(TextOps.portableHash64Sql("'l'",
            s"concat_ws(' ', slice(__w, pos, $seg))")).as("h"))
      val stats = segs.groupBy(col("h")).agg(
        countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id") * pack + col("pos")).as("firstp"))
      segs.join(stats, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_seg"),
          sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_boiler"),
          sum(when(col("n_occ") > 1 &&
            col("doc_id") * pack + col("pos") =!= col("firstp"), 1L)
            .otherwise(0L)).as("n_dup_later"))
        .orderBy(col("doc_id"))
    }
  }

  /** Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995) —
    * the fifth candidate-generation tier: sort the corpus by a blocking
    * key (the MIN shingle hash — near-dups share their whole shingle
    * set minus a few, so they almost always share its minimum and land
    * adjacent), then pair only docs within `w`=8 ranks. Cost is
    * O(n·w) candidates regardless of key skew — the
    * throughput-for-recall trade that complements prefix filtering
    * (exact) and LSH (tunable): a near-dup pair whose differing
    * shingle IS the minimum sorts apart and is missed, by design.
    *
    * Scale shape: the global rank is NOT a single-partition window —
    * `repartitionByRange` + `sortWithinPartitions` + [[graft.core.Ingest.denseIds]]
    * (partition-offset prefix sums over the range-partition counts)
    * ranks with every partition working; the rank-window pairing is an
    * equi-join on rank-bucket `rk div w` (each doc probes its own and
    * the next bucket — b.rk <= a.rk + w never crosses further).
    */
  /** SNM rank-table memo (same lifecycle as [[docHashes]]): the ranked
    * frame is BOTH sides of the rank-window self-join, and without
    * materialization each side re-executes the full range-exchange +
    * prefix-sum pipeline (measured: the whole rank subtree twice in the
    * physical plan). Production analog: a persisted rank table refreshed
    * with the corpus snapshot, next to the signature table.
    */
  private def snmRanked(s: org.apache.spark.sql.SparkSession, dir: String, w: Int): org.apache.spark.sql.DataFrame =
    // w is a param: the cached frame bakes bkt = rk div w in, so a
    // caller with a different window must not share the entry
    graft.ops.Artifacts.frame(s, dir, Seq("documents"), "dedup.snm_ranks", hashTier(s), w) {
      // EXPLICIT partition count pins the exchange against AQE
      // coalescing, and the PERSIST below is just as load-bearing: a
      // range exchange re-SAMPLES its bounds on every execution with an
      // rdd.id-derived seed, so denseIds' two passes over an unpersisted
      // range-partitioned frame can observe different row→partition
      // assignments with the same pid set — silent rank corruption that
      // denseIds' pigeonhole guard now raises on (first caught by it at
      // sf0.1). Persisting materializes ONE set of bounds that both
      // passes then read back.
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val sorted = docHashes(s, dir)
        .select(col("doc_id"), col("hs"), col("hs")(0).as("bk"))
        .repartitionByRange(parts, col("bk"), col("doc_id"))
        .sortWithinPartitions(col("bk"), col("doc_id"))
        .persist(mem)
      val ranked = graft.core.Ingest.denseIds(sorted, "rk")
        .withColumn("bkt", expr(s"rk div $w"))
        .persist(mem)
      // EAGER: materialize the rank table through sorted's one set of
      // range bounds, then release the intermediate — without the
      // count, the correctness-critical sorted cache (a second full
      // signature-projection copy) would stay pinned for the session
      ranked.count()
      sorted.unpersist(false)
      ranked
    }

  val dedupSortedNeighborhood: QueryDef = {
    val w = 8
    QueryDef.sql("dedup_sorted_neighborhood",
      s"""WITH $hashCte,
         |r AS (SELECT doc_id, hs,
         |        row_number() OVER (ORDER BY hs[1], doc_id) - 1 AS rk
         |      FROM hs),
         |cand AS (SELECT a.doc_id AS i0, b.doc_id AS j0, a.hs AS ha, b.hs AS hb
         |         FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + $w),
         |p AS (SELECT least(i0, j0) AS i, greatest(i0, j0) AS j,
         |        ${duckJaccard("ha", "hb")} AS sim FROM cand)
         |SELECT i, j, sim FROM p WHERE sim >= 0.8 ORDER BY i, j""".stripMargin) { (s, dir) =>
      val ranked = snmRanked(s, dir, w)
      val probes = ranked.select(col("rk"), col("doc_id"), col("hs"),
        explode(array(col("bkt"), col("bkt") + 1)).as("pb"))
      probes.as("a")
        .join(ranked.as("b"), col("a.pb") === col("b.bkt") &&
          col("b.rk") > col("a.rk") && col("b.rk") <= col("a.rk") + w)
        .select(least(col("a.doc_id"), col("b.doc_id")).as("i"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("j"),
          TextOps.jaccard(col("a.hs"), col("b.hs")).as("sim"))
        .where(col("sim") >= 0.8)
        .orderBy(col("i"), col("j"))
    }
  }

  /** Asymmetric CONTAINMENT dedup: C(A,B) = |A∩B| / |A| ≥ 0.8 — the
    * doc-inside-doc detector (quote farms, boilerplate wrappers,
    * re-posts with added headers) that the symmetric Jaccard tiers
    * structurally miss: a small doc fully inside a big one has
    * J ≈ |A|/|B| (arbitrarily low) but C(A,B) = 1.
    *
    * Candidates stay an equi-join with ZERO recall loss via the
    * containment form of the prefix pigeonhole: if C(A,B) ≥ t then
    * fewer than (1-t)·|A|+1 of A's shingles miss B, so any
    * floor((1-t)·n)+1 of A's shingles must hit B — A's prefix joins
    * against B's FULL token list (not B's prefix: containment has no
    * size-ratio bound, which is also why the Jaccard tier's
    * 4·max ≤ 5·min filter is absent here). The full-list side is the
    * price of asymmetry: |corpus tokens| join rows instead of prefix ×
    * prefix — still linear in corpus shingles, never O(n²) pairs.
    * Reuses the session signature memo ([[docHashes]]); emits directed
    * (contained i, container j) pairs.
    */
  val dedupContainment: QueryDef = QueryDef.sql("dedup_containment",
    s"""WITH $hashCte,
       |prea AS (SELECT doc_id, n, unnest(hs[1 : CAST(floor(0.2 * n) + 1 AS INT)]) AS tok FROM hs),
       |alltok AS (SELECT doc_id, unnest(hs) AS tok FROM hs),
       |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
       |         FROM prea a JOIN alltok b ON a.tok = b.tok AND a.doc_id != b.doc_id),
       |pairs AS (SELECT c.i, c.j,
       |  round(len(list_intersect(x.hs, y.hs))::DOUBLE / len(x.hs), 6) AS containment
       |  FROM cand c JOIN hs x ON x.doc_id = c.i JOIN hs y ON y.doc_id = c.j)
       |SELECT i, j, containment FROM pairs WHERE containment >= 0.8 ORDER BY i, j""".stripMargin) { (s, dir) =>
    val hs = docHashes(s, dir)
    val pre = hs.select(col("doc_id").as("i"),
      explode(expr("slice(hs, 1, CAST(floor(0.2 * n) + 1 AS INT))")).as("tok"))
    val alltok = hs.select(col("doc_id").as("j"), explode(col("hs")).as("tok"))
    val cand = pre.join(alltok, Seq("tok"))
      .where(col("i") =!= col("j"))
      .select(col("i"), col("j")).distinct()
    cand
      .join(hs.select(col("doc_id").as("i"), col("hs").as("ha")), "i")
      .join(hs.select(col("doc_id").as("j"), col("hs").as("hb")), "j")
      .withColumn("containment",
        round(size(array_intersect(col("ha"), col("hb"))).cast("double") / size(col("ha")), 6))
      .where(col("containment") >= 0.8)
      .select(col("i"), col("j"), col("containment"))
      .orderBy(col("i"), col("j"))
  }

  /** Candidate-quality audit of the MinHash-LSH tier against the exact
    * J >= 0.8 truth (the prefix-filtered PPJoin pipeline, which is
    * recall-LOSSLESS by construction): recall = how many true near-dup
    * pairs the band join surfaces; candidate precision = what fraction
    * of surfaced candidates are true — the two numbers a pipeline
    * checks before trusting the approximate tier at a scale where the
    * exact one is unaffordable. Expected shape for 8 bands × 2 rows at
    * J = 0.8: pair-collision probability 1-(1-J²)⁸ ≈ 0.9997, so recall
    * should sit at/near 1.0 while precision stays low (bands collide
    * happily below the threshold) — that asymmetry IS the LSH contract
    * (candidates are cheap, the verify join disposes of the junk).
    * Both pair tables come from the session memos ([[sharedPairs]],
    * signature cache), so the audit costs two counts and a tiny join.
    */
  val dedupLshRecall: QueryDef = QueryDef.sql("dedup_lsh_recall",
    s"""WITH $hashCte,
       |$duckPairsCte,
       |$duckMinhashCandCte,
       |tr AS (SELECT i, j FROM pairs WHERE sim >= 0.8),
       |hit AS (SELECT t.i FROM tr t JOIN mcand c ON t.i = c.i AND t.j = c.j)
       |SELECT (SELECT count(*) FROM tr) AS n_true,
       |  (SELECT count(*) FROM mcand) AS n_cand,
       |  (SELECT count(*) FROM hit) AS n_hit,
       |  round((SELECT count(*) FROM hit) / greatest((SELECT count(*) FROM tr), 1)::DOUBLE, 6) AS recall,
       |  round((SELECT count(*) FROM hit) / greatest((SELECT count(*) FROM mcand), 1)::DOUBLE, 6) AS precision""".stripMargin) { (s, dir) =>
    val hs = docHashes(s, dir)
    val truth = sharedPairs(s, dir).where(col("sim") >= 0.8).select(col("i"), col("j"))
    val cand = minhashCandidates(hs)
    val hit = truth.join(cand, Seq("i", "j"))
    truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        round(col("n_hit") / greatest(col("n_true"), lit(1)).cast("double"), 6).as("recall"),
        round(col("n_hit") / greatest(col("n_cand"), lit(1)).cast("double"), 6).as("precision"))
  }

  /** Duplicate-cluster size distribution — the report every dedup run
    * emits before anyone trusts its output: how many near-dup clusters
    * exist at each size, how many documents they bind, and (as
    * Σ n_docs − n_clusters per row) how many rows survivor-selection
    * will drop. A sudden fat tail here means a boilerplate template or
    * a crawler loop entered the corpus; a missing tail after a config
    * change means the candidate tier silently lost recall. Covers the
    * PAIRED nodes only (singletons never enter the pair graph).
    * Cost on top of the session memos: one count over the cluster map
    * + one count over the (tiny) sizes table.
    */
  val dedupClusterStats: QueryDef = QueryDef.sql("dedup_cluster_stats",
    s"""WITH RECURSIVE $hashCte,
       |$duckPairsCte,
       |$duckClustersCte,
       |sz AS (SELECT rep, CAST(count(*) AS BIGINT) AS csize FROM cl GROUP BY rep)
       |SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
       |  CAST(sum(csize) AS BIGINT) AS n_docs
       |FROM sz GROUP BY csize ORDER BY csize""".stripMargin) { (s, dir) =>
    sharedClusters(s, dir)
      .groupBy(col("rep")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("csize")).as("n_docs"))
      .orderBy(col("csize"))
  }

  /** Leakage-aware train/valid/test split — the step that makes dedup
    * actually protect evaluation: a hash split on doc_id (ml_hash_split)
    * still puts two near-identical documents on opposite sides of the
    * train/test fence, leaking test answers into training. Here the
    * split key is the near-dup CLUSTER (J>=0.8 CC rep; singletons key on
    * their own id), so every cluster lands WHOLLY in one split —
    * cross-split near-dup leakage is zero by construction. 80/10/10 via
    * the portable hash of the group key; emits the per-split census
    * (docs, groups, char mass, id checksum) the oracle verifies as an
    * exact assignment, not just sizes.
    *
    * Shape at 100 TB: the cluster map is the dedup family's persisted
    * (node, rep) table — doc-keyed, so the join is an equi-join on the
    * corpus's own key (near-dup clusters are a few % of docs: AQE
    * broadcasts the map when it fits); the split itself is a map-only
    * hash. No new shuffle class beyond what dedup already paid.
    */
  val mlClusterSplit: QueryDef = {
    val h = OracleSql.hash64("'cs'", "CAST(grp AS VARCHAR)")
    QueryDef.sql("ml_cluster_split",
      s"""WITH RECURSIVE $hashCte,
         |$duckPairsCte,
         |$duckClustersCte,
         |g AS (SELECT d.doc_id, d.n_chars, coalesce(cl.rep, d.doc_id) AS grp
         |      FROM documents d LEFT JOIN cl ON cl.node = d.doc_id),
         |a AS (SELECT doc_id, n_chars, grp,
         |        CASE WHEN $h % 10 < 8 THEN 'train'
         |             WHEN $h % 10 = 8 THEN 'valid' ELSE 'test' END AS split
         |      FROM g)
         |SELECT split, count(*) AS n_docs,
         |  CAST(count(DISTINCT grp) AS BIGINT) AS n_groups,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM a GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
      TextOps.ensureFunctions(s)
      clusterSplitCensus(
        clusterSplitAssign(Tables.documents(s, dir), sharedClusters(s, dir)))
        .orderBy(col("split"))
    }
  }

  /** Leakage-aware split ASSIGNMENT over a documents frame and a
    * (node, rep) cluster map — the [[mlClusterSplit]] per-doc body
    * (doc_id, n_chars, grp, split), shared with CorpusPipeline's split
    * stage. Caller must TextOps.ensureFunctions first.
    */
  private[graft] def clusterSplitAssign(docs: org.apache.spark.sql.DataFrame,
                                        cl: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val hv = expr(TextOps.portableHash64Sql("'cs'", "CAST(grp AS STRING)")) % 10
    docs.select(col("doc_id"), col("n_chars"))
      .join(cl.select(col("node").as("doc_id"), col("rep")), Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("rep"), col("doc_id")))
      .withColumn("split", when(hv < 8, "train").when(hv === 8, "valid").otherwise("test"))
  }

  /** The [[mlClusterSplit]] census over an assignment frame. Unordered. */
  private[graft] def clusterSplitCensus(a: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    a.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("grp")).as("n_groups"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("doc_id")).as("id_sum"))

  /** Per-source duplicate-rate census — the dedup line of a dataset
    * card: for each source, exact-dup statistics (docs, distinct texts,
    * removable copies, dup rate) plus how many of its texts also appear
    * in ANOTHER source (cross-source contamination — the signal that two
    * crawls overlap and one should be dropped entirely). All from ONE
    * digest aggregation: the (digest, source) rollup is the only
    * text-derived shuffle (16-byte digests), the global digest table
    * derives from it, and both rollups are source-keyed joins.
    */
  val mlDedupRateBySource: QueryDef = QueryDef.sql("ml_dedup_rate_by_source",
    """WITH ds AS (SELECT source, md5(text) AS h, count(*) AS n
      |            FROM documents GROUP BY 1, 2),
      |g AS (SELECT h, count(*) AS n_src FROM ds GROUP BY h),
      |per AS (SELECT ds.source,
      |          CAST(sum(ds.n) AS BIGINT) AS n_docs,
      |          CAST(count(*) AS BIGINT) AS n_distinct,
      |          CAST(sum(ds.n) - count(*) AS BIGINT) AS n_removable,
      |          CAST(sum(CASE WHEN g.n_src > 1 THEN ds.n ELSE 0 END) AS BIGINT) AS n_cross
      |        FROM ds JOIN g USING (h) GROUP BY ds.source)
      |SELECT source, n_docs, n_distinct, n_removable,
      |  round(CAST(n_removable AS DOUBLE) / n_docs, 6) AS dup_rate, n_cross
      |FROM per ORDER BY source""".stripMargin) { (s, dir) =>
    dedupRateBySourceFrame(Tables.documents(s, dir)).orderBy(col("source"))
  }

  /** The [[mlDedupRateBySource]] body over an arbitrary documents frame
    * (CorpusPipeline's dataset-card sidecar shares the exact plan).
    * Unordered.
    */
  private[graft] def dedupRateBySourceFrame(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = docs
      .groupBy(col("source"), md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("n"))
    val g = ds.groupBy(col("h")).agg(count(lit(1)).as("n_src"))
    ds.join(g, Seq("h"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum(col("n")) - count(lit(1))).as("n_removable"),
        sum(when(col("n_src") > 1, col("n")).otherwise(0L)).as("n_cross"))
      .select(col("source"), col("n_docs"), col("n_distinct"), col("n_removable"),
        round(col("n_removable").cast("double") / col("n_docs"), 6).as("dup_rate"),
        col("n_cross"))
  }

  /** Edit-distance (Levenshtein) near-dup tier over the normalized
    * 32-char document head — the record-linkage measure the set-based
    * tiers can't express (Jaccard/MinHash see token SETS; edit distance
    * sees typo-class character churn: OCR noise, title variants,
    * truncated re-posts). Candidates come from standard BLOCKING
    * (Fellegi–Sunter practice): equal 8-char normalized prefix — an
    * equi-join, never all-pairs — then the exact DP verify
    * `levenshtein(ka, kb) <= 4` on candidates only. The documented
    * tradeoff: an edit inside the first 8 chars escapes the block
    * (recall loss the same way SNM's sort key misses lead edits);
    * production stacks a second blocking pass (e.g. suffix or simhash
    * band) exactly like the LSH band family here stacks bands.
    *
    * Determinism: levenshtein is an exact integer DP with identical
    * unit costs in both engines; pairs order by (i, j). The synthetic
    * corpus yields few/no sub-threshold pairs — DedupOpsSpec plants
    * typo twins to prove the verify bites.
    *
    * Shape at 100 TB: one 40-byte-key rollup per doc, a block-keyed
    * self-join whose output is Σ block² (bounded by blocking
    * selectivity, monitored via q_skew_audit's same census math), and
    * a per-pair O(32²) verify — the PPJoin/SNM execution class.
    */
  val dedupEditDistance: QueryDef = QueryDef.sql("dedup_edit_distance",
    """WITH k AS (SELECT doc_id,
      |    substr(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), 1, 32) AS hd
      |  FROM documents),
      |p AS (SELECT a.doc_id AS i, b.doc_id AS j,
      |        CAST(levenshtein(a.hd, b.hd) AS BIGINT) AS d
      |      FROM k a JOIN k b
      |        ON substr(a.hd, 1, 8) = substr(b.hd, 1, 8) AND a.doc_id < b.doc_id)
      |SELECT i, j, d FROM p WHERE d <= 4 ORDER BY i, j""".stripMargin) { (s, dir) =>
    val k = Tables.documents(s, dir).select(col("doc_id"),
      substring(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")), 1, 32).as("hd"))
    val a = k.select(col("doc_id").as("i"), col("hd").as("ka"),
      substring(col("hd"), 1, 8).as("blk"))
    val b = k.select(col("doc_id").as("j"), col("hd").as("kb"),
      substring(col("hd"), 1, 8).as("blk"))
    a.join(b, Seq("blk")).where(col("i") < col("j"))
      .select(col("i"), col("j"), levenshtein(col("ka"), col("kb")).cast("long").as("d"))
      .where(col("d") <= 4)
      .orderBy(col("i"), col("j"))
  }

  val all: Seq[QueryDef] = Seq(dedupExact, dedupNgramJaccard, dedupMinhashLsh,
    dedupSimhash, dedupClusters, dedupSurvivors, dedupBestSurvivor,
    dedupDecontaminate, streamingDecontaminateReplay, dedupIncremental, dedupSubstring, dedupLines,
    dedupSortedNeighborhood, dedupContainment, dedupLshRecall,
    dedupClusterStats, mlClusterSplit, mlDedupRateBySource, dedupEditDistance,
    dedupSourceOverlap, dedupClustersIncremental)
}
