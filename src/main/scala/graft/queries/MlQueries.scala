package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Tables, TimeKeys}
import graft.ml.Poisson
import graft.ops.{HourRingFeatures, SeriesAggs, TextOps}

/** W1 feature ring (oracle-checked in long form) and the end-to-end
  * Poisson GLM pipeline (no SQL oracle — model fitting is not DuckDB-
  * expressible; invariants are covered by PoissonSpec unit tests, per
  * SURVEY.md §5.2).
  */
object MlQueries {

  /** The ML dataset over the events table: [[Poisson.dataset]]'s kept
    * rows over the click events (event_id -> id), with the rents profile
    * from the clicks and the returns profile from the purchases.
    */
  private[graft] def eventsDataset(s: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(s, dir)
    def typed(t: String) = events.where(col("event_type") === t)
    def profile(t: String) = SeriesAggs.stationHourProfile(typed(t), col("user_id"), col("ts"))
    // the forecast's default 1 h window and 24-position ring, as in the oracle
    Poisson.dataset(typed("click").select(col("event_id").as("id"), col("user_id"), col("ts")),
        profile("click"), profile("purchase"), 3600L * 1000000L, 24)
      .where(col("kept")).drop("kept").withColumnRenamed("id", "event_id")
  }

  /** Session artifact of [[eventsDataset]] — TWO registered queries
    * consume it (ml_dataset hash-gates the frame; ml_poisson_predict
    * trains/predicts on it), so the ring + window plan runs once per
    * session. Production analog: the persisted training-dataset table a
    * pipeline writes once per snapshot.
    */
  private def pooledDataset(s: SparkSession, dir: String): DataFrame =
    graft.ops.Artifacts.frame(s, dir, Seq("events"), "ml.dataset")(eventsDataset(s, dir))

  /** W1: 24 cyclic hourly lags of the station's avg measure per event,
    * emitted long-form (event_id, i, measure) for the oracle. One query
    * per reference measure — get_features emits BOTH n_rents and
    * n_returns rings (hour_feature_builder.py:44-45).
    */
  private def hourRing(name: String, eventType: String, measure: String): QueryDef =
    QueryDef.sql(name,
      s"""WITH c AS (SELECT user_id, date_trunc('hour', ts) AS g, CAST(hour(ts) AS BIGINT) AS k, count(*) AS n
        |           FROM events WHERE event_type = '$eventType' GROUP BY 1, 2, 3),
        |s AS (SELECT user_id, k, round(avg(n), 6) AS v FROM c GROUP BY 1, 2),
        |st AS (SELECT DISTINCT user_id FROM s),
        |ev AS (SELECT event_id, e.user_id, hour(ts) AS h FROM events e JOIN st USING (user_id)),
        |ring AS (SELECT event_id, user_id, h, i, (((h - 1 - i) % 24) + 24) % 24 AS hh
        |         FROM ev, range(0, 24) r(i)),
        |j AS (SELECT r.event_id, CAST(r.i AS BIGINT) AS i, coalesce(s.v, 0.0) AS $measure
        |      FROM ring r LEFT JOIN s ON s.user_id = r.user_id AND s.k = r.hh)
        |SELECT event_id, i, $measure FROM j ORDER BY event_id, i""".stripMargin) { (s, dir) =>
      val events = Tables.events(s, dir)
      val profile = SeriesAggs.stationHourProfile(
        events.where(col("event_type") === eventType), col("user_id"), col("ts"))
      val ring = new HourRingFeatures(s, profile, measure)
      ring.applyLong(events.select(col("event_id"), col("user_id"), col("ts")), "event_id")
        .select(col("event_id"), col("i").cast("long").as("i"), col(measure))
        .orderBy(col("event_id"), col("i"))
    }

  val hourRingFeatures: QueryDef = hourRing("hour_ring_features", "click", "n_rents")
  val hourRingFeaturesReturns: QueryDef =
    hourRing("hour_ring_features_returns", "purchase", "n_returns")

  /** The ML dataset build ([[Poisson.dataset]], the forecast pipeline's
    * own, mirroring build_dataset.py:63-141), hash-checked long-form:
    * (event_id, label, i, feature) where i 0..23 = the n_rents ring,
    * 24..47 = the n_returns ring, label = the A5 forward-window count.
    * This oracles the exact frame the GLM trains on — a silent
    * feature/label misalignment or a ring-order regression fails the hash
    * here (the fit itself stays rows-only by design, SURVEY.md §5.2).
    * Station universe = active in BOTH measures (a station missing from
    * either profile is dropped); a station's inactive hours are 0.
    */
  val mlDataset: QueryDef = QueryDef.sql("ml_dataset",
    s"""WITH c AS (SELECT user_id, event_type, date_trunc('hour', ts) AS g,
      |             CAST(hour(ts) AS BIGINT) AS k, count(*) AS n
      |           FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2, 3, 4),
      |s AS (SELECT user_id, event_type, k, round(avg(n), 6) AS v FROM c GROUP BY 1, 2, 3),
      |st AS (SELECT user_id FROM s GROUP BY 1 HAVING count(DISTINCT event_type) = 2),
      |lab AS (SELECT event_id, CAST(c AS DOUBLE) AS label FROM (
      |          SELECT event_id, us,
      |            count(*) OVER (PARTITION BY user_id ORDER BY us
      |                           RANGE BETWEEN CURRENT ROW AND 3599999999 FOLLOWING) AS c,
      |            max(us) OVER (PARTITION BY user_id) AS mx
      |          FROM (SELECT event_id, user_id, epoch_us(ts) AS us
      |                FROM events WHERE event_type = 'click'))
      |        WHERE us <= mx - 3600000000),
      |ev AS (SELECT e.event_id, e.user_id, hour(e.ts) AS h, l.label
      |       FROM events e JOIN st USING (user_id) JOIN lab l ON l.event_id = e.event_id),
      |ring AS (SELECT event_id, label, user_id, i,
      |           CASE WHEN i < 24 THEN 'click' ELSE 'purchase' END AS m,
      |           (((h - 1 - (i % 24)) % 24) + 24) % 24 AS hh
      |         FROM ev, range(0, 48) r(i))
      |SELECT r.event_id, r.label, CAST(r.i AS BIGINT) AS i, coalesce(s.v, 0.0) AS feature
      |FROM ring r LEFT JOIN s ON s.user_id = r.user_id AND s.event_type = r.m AND s.k = r.hh
      |ORDER BY r.event_id, r.i""".stripMargin) { (s, dir) =>
    val ds = pooledDataset(s, dir)
    // single source for ring order: Poisson.dataset's select order (rents
    // ring 0..23 then returns ring 0..23, Features.scala featureNames)
    val names = ds.columns.filter(_.endsWith("_hb")).toSeq
    ds.select(col("event_id"), col("label"),
        posexplode(array(names.map(col): _*)).as(Seq("i", "feature")))
      .select(col("event_id"), col("label"), col("i").cast("long").as("i"), col("feature"))
      .orderBy(col("event_id"), col("i"))
  }

  /** M2-M5 end to end: fit Poisson GLM on (W1 features, A5 targets),
    * predict. Weaker rows-only driver check (no oracle). Trains on the
    * session-memoized dataset frame ([[pooledDataset]]) — identical
    * derivation to [[mlDataset]]'s gate-checked frame.
    */
  val mlPoissonPredict: QueryDef = QueryDef.noOracle("ml_poisson_predict") { (s, dir) =>
    Poisson.runOn(pooledDataset(s, dir))
      .select(col("event_id"), col("label"), col("prediction"))
      .orderBy(col("event_id"))
  }

  /** Feature normalization: per-group z-score (the standard preprocessing
    * pass before model fitting). Grouped stats (partial-agg'd map-side,
    * ~|groups| rows) broadcast-joined back — NOT a window over the group
    * key: `Window.partitionBy(l_returnflag)` has ~3 distinct values and
    * would funnel the whole table through 3 reducers at scale.
    */
  val mlZscore: QueryDef = QueryDef.sql("ml_zscore",
    """WITH s AS (SELECT l_returnflag, avg(l_quantity) AS mu, stddev_samp(l_quantity) AS sd
      |           FROM lineitem GROUP BY l_returnflag)
      |SELECT l_orderkey, l_linenumber, l_returnflag,
      |  round((l_quantity - mu) / sd, 6) AS z
      |FROM lineitem JOIN s USING (l_returnflag)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir)
    val stats = li.groupBy(col("l_returnflag"))
      .agg(avg(col("l_quantity")).as("mu"), stddev_samp(col("l_quantity")).as("sd"))
    li.join(broadcast(stats), Seq("l_returnflag"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        round((col("l_quantity") - col("mu")) / col("sd"), 6).as("z"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Classic forecasting lag features: per-key hourly counts with lag-1
    * and lag-24 (seasonal) columns. The window partitions on the
    * high-cardinality series key — parallelism scales with keys, state
    * per task is one partition's rows (contrast ml_zscore's rejected
    * 3-value window).
    */
  val mlLagFeatures: QueryDef = QueryDef.sql("ml_lag_features",
    """WITH c AS (SELECT user_id, date_trunc('hour', ts) AS g, count(*) AS n
      |           FROM events GROUP BY 1, 2)
      |SELECT user_id, g, n,
      |  lag(n, 1) OVER (PARTITION BY user_id ORDER BY g) AS lag1,
      |  lag(n, 24) OVER (PARTITION BY user_id ORDER BY g) AS lag24
      |FROM c ORDER BY user_id, g""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("g"))
    Tables.events(s, dir)
      .groupBy(col("user_id"), TimeKeys.hourGroup(col("ts")).as("g"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("g"), col("n"),
        lag(col("n"), 1).over(w).as("lag1"),
        lag(col("n"), 24).over(w).as("lag24"))
      .orderBy(col("user_id"), col("g"))
  }

  /** Deterministic hash-based k-fold assignment — the scalable
    * alternative to temporal splitting when order doesn't matter: fold =
    * hash(id) mod k, reproducible across engines/runs/partitionings (no
    * rand()). Emitted as per-fold count + id-sum checksum so the oracle
    * verifies the exact assignment, not just fold sizes.
    */
  val mlHashSplit: QueryDef = {
    val h = OracleSql.hash64("'f'", "CAST(event_id AS VARCHAR)")
    QueryDef.sql("ml_hash_split",
      s"""SELECT $h % 10 AS fold, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum
         |FROM events GROUP BY 1 ORDER BY fold""".stripMargin) { (s, dir) =>
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      Tables.events(s, dir)
        .select(col("event_id"),
          (expr(TextOps.portableHash64Sql("'f'", "CAST(event_id AS STRING)")) % 10).as("fold"))
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
        .orderBy(col("fold"))
    }
  }

  /** Deterministic stratified sampling: per-stratum keep-rates applied
    * via a hash threshold (keep iff hash(id) mod 100 < rate(lang)) — the
    * reproducible downsampling pass a training corpus runs per language/
    * source, order- and partitioning-independent unlike sample()/rand().
    */
  val mlSampleStratified: QueryDef = {
    val h = OracleSql.hash64("'smp'", "CAST(doc_id AS VARCHAR)")
    val rateSql = "CASE WHEN lang = 'en' THEN 50 WHEN lang = 'es' THEN 30 ELSE 10 END"
    QueryDef.sql("ml_sample_stratified",
      s"""SELECT doc_id, lang FROM documents
         |WHERE $h % 100 < $rateSql ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      Tables.documents(s, dir)
        .where((expr(TextOps.portableHash64Sql("'smp'", "CAST(doc_id AS STRING)")) % 100) <
          when(col("lang") === "en", 50).when(col("lang") === "es", 30).otherwise(10))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }
  }

  /** Sequence packing (concat-and-chunk, the GPT-style pretraining
    * layout): documents are deterministically sharded by a portable id
    * hash, concatenated per shard in doc_id order, and split into
    * `budget`-token context windows — seq_id = the window the document
    * STARTS in (floor of the preceding-token cumsum / budget) and
    * seq_offset = its token offset within that window (what a packing
    * job actually writes next to each document). One
    * running-sum window per shard: parallelism = shards (a production
    * run sizes shards to the cluster; 8 keeps the oracle deterministic),
    * and each shard's pass is a streaming cumulative sum, never a
    * whole-corpus sort.
    */
  val mlPackSequences: QueryDef = {
    val budget = 512
    val shards = 8
    val h = OracleSql.hash64("'pk'", "CAST(doc_id AS VARCHAR)")
    QueryDef.sql("ml_pack_sequences",
      s"""WITH t AS (SELECT doc_id, $h % $shards AS shard,
         |             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok
         |           FROM documents),
         |c AS (SELECT doc_id, shard, n_tok,
         |        sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM t)
         |SELECT doc_id, shard, n_tok,
         |  CAST((cum - n_tok) // $budget AS BIGINT) AS seq_id,
         |  CAST((cum - n_tok) % $budget AS BIGINT) AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          (expr(TextOps.portableHash64Sql("'pk'", "CAST(doc_id AS STRING)")) % shards).as("shard"),
          expr("regexp_count(lower(text), '[a-z0-9]+')").cast("long").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("doc_id"), col("shard"), col("n_tok"),
          expr(s"(cum - n_tok) div $budget").as("seq_id"),
          expr(s"(cum - n_tok) % $budget").as("seq_offset"))
        .orderBy(col("doc_id"))
    }
  }

  /** Mixture/epoch weighting — the step between filtering and packing
    * in a pretraining pipeline: each SOURCE gets a sampling weight,
    * including weights ABOVE 1 ("3 epochs of wiki, 0.4 of web"), and
    * every document materializes floor(w) copies plus one more with
    * probability frac(w). Rounding is DETERMINISTIC-STOCHASTIC on a
    * portable doc_id hash with the weight expressed in integer MICROS
    * (pure integer comparison — no float frac to drift cross-engine),
    * so the emitted (doc_id, epoch) multiset is order- and
    * partitioning-independent and reproducible run to run. Weight tiers
    * here key off the source's numeric suffix (src0..src19 % 4 →
    * 2.5 / 1.0 / 0.4 / excluded); production swaps in a broadcast
    * weights table, same plan. Map-only: no shuffle until the output
    * sort — at 100 TB this is a scan that writes ~Σw·|corpus| rows.
    */
  val mlMixtureSample: QueryDef = {
    val h = OracleSql.hash64("'mix'", "CAST(doc_id AS VARCHAR)")
    QueryDef.sql("ml_mixture_sample",
      s"""WITH w AS (SELECT doc_id, source,
         |    CASE CAST(substr(source, 4) AS INT) % 4
         |      WHEN 0 THEN 2500000 WHEN 1 THEN 1000000
         |      WHEN 2 THEN 400000 ELSE 0 END AS wm,
         |    $h % 1000000 AS hf FROM documents),
         |n AS (SELECT doc_id, source,
         |        wm // 1000000 + CASE WHEN hf < wm % 1000000 THEN 1 ELSE 0 END AS nc
         |      FROM w)
         |SELECT doc_id, source, CAST(unnest(range(0, nc)) AS BIGINT) AS epoch
         |FROM n WHERE nc > 0 ORDER BY doc_id, epoch""".stripMargin) { (s, dir) =>
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      Tables.documents(s, dir)
        .withColumn("wm",
          when(substring(col("source"), 4, 10).cast("int") % 4 === 0, 2500000L)
            .when(substring(col("source"), 4, 10).cast("int") % 4 === 1, 1000000L)
            .when(substring(col("source"), 4, 10).cast("int") % 4 === 2, 400000L)
            .otherwise(0L))
        .withColumn("hf",
          expr(TextOps.portableHash64Sql("'mix'", "CAST(doc_id AS STRING)")) % 1000000L)
        .withColumn("nc", expr("wm div 1000000") +
          when(col("hf") < col("wm") % 1000000L, 1L).otherwise(0L))
        .where(col("nc") > 0)
        .select(col("doc_id"), col("source"),
          explode(expr("sequence(CAST(0 AS BIGINT), nc - 1)")).as("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    }
  }

  /** Fixed-width overlapping document chunking — the pretraining / RAG
    * preprocessing step [[mlPackSequences]] does NOT cover: packing
    * concatenates whole short docs into budgeted sequences; chunking
    * SPLITS long docs into window-sized pieces with a stride overlap so
    * no span is lost at a boundary. Starts are 1, 1+stride, … ≤ len
    * (tail chunks run short rather than being dropped — ceil(len/stride)
    * chunks per doc). Map-only over the corpus: explode(sequence) +
    * substring, no shuffle except the output sort; emits the chunk's
    * 64-bit content hash rather than the chunk text so the oracle
    * compare moves hashes, not prose.
    */
  val mlChunkDocuments: QueryDef = {
    val width = 120
    val stride = 90
    QueryDef.sql("ml_chunk_documents",
      s"""WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0),
         |c AS (SELECT doc_id, unnest(range(1, n + 1, $stride)) AS start, text FROM t)
         |SELECT doc_id, CAST((start - 1) // $stride AS BIGINT) AS chunk_idx,
         |  CAST(start AS BIGINT) AS chunk_start,
         |  CAST(length(substr(text, start, $width)) AS BIGINT) AS chunk_chars,
         |  ${OracleSql.hash64("'c'", s"substr(text, start, $width)")} AS chunk_hash
         |FROM c ORDER BY doc_id, chunk_start""".stripMargin) { (s, dir) =>
      graft.ops.TextOps.ensureFunctions(s)
      Tables.documents(s, dir)
        .where(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          explode(expr(s"sequence(1, length(text), $stride)")).as("start"))
        .select(col("doc_id"),
          expr(s"(start - 1) div $stride").cast("long").as("chunk_idx"),
          col("start").cast("long").as("chunk_start"),
          length(expr(s"substr(text, start, $width)")).cast("long").as("chunk_chars"),
          expr(graft.ops.TextOps.portableHash64Sql("'c'",
            s"substr(text, start, $width)")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_start"))
    }
  }

  /** The preprocessing FUNNEL as one plan — what a real corpus run looks
    * like: Gopher rule-set filter, language-ID gate (pred != 'und'), and
    * exact-dedup keep-first, each emitting its per-doc reason flag plus
    * the conjunctive final keep. Composes the SAME fragments the
    * individual queries use (TextQueries gopher and lang vals), so the
    * funnel cannot drift from its stages. One corpus scan computes
    * every per-doc count; keep-first is a min() window over the digest
    * — (near-)unique per doc, so the window key is HIGH-cardinality and
    * the repo's no-low-cardinality-window rule cuts the other way here:
    * a groupBy+join-back would plan a SECOND full scan of documents,
    * doubling the dominant I/O at 100 TB for no benefit. The one
    * shuffle moves (digest, doc_id, 9 counts) rows — never text.
    */
  val mlQualityFunnel: QueryDef = {
    import TextQueries.{gopherCntsDuck, gopherCntCols, gopherKeepSql,
      langCntsDuck, langCntCols, langCaseSql}
    QueryDef.sql("ml_quality_funnel",
      s"""WITH c AS (SELECT doc_id, md5(text) AS dg,
         |  $gopherCntsDuck,
         |  $langCntsDuck
         |  FROM documents),
         |firsts AS (SELECT dg, min(doc_id) AS first_id FROM c GROUP BY dg)
         |SELECT c.doc_id AS doc_id,
         |  CASE WHEN $gopherKeepSql THEN 1 ELSE 0 END AS k_gopher,
         |  CASE WHEN ($langCaseSql) <> 'und' THEN 1 ELSE 0 END AS k_lang,
         |  CASE WHEN c.doc_id = f.first_id THEN 1 ELSE 0 END AS k_exact,
         |  CASE WHEN ($gopherKeepSql) AND ($langCaseSql) <> 'und'
         |        AND c.doc_id = f.first_id THEN 1 ELSE 0 END AS keep
         |FROM c JOIN firsts f USING (dg)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      qualityFunnelFlags(Tables.documents(s, dir)).orderBy(col("doc_id"))
    }
  }

  /** The [[mlQualityFunnel]] body over an arbitrary documents frame —
    * factored so CorpusPipeline's funnel stage IS the gate query's plan
    * (stage-vs-gate parity is a spec, not a hope). Unordered; the gate
    * entry adds its ORDER BY.
    */
  private[graft] def qualityFunnelFlags(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import TextQueries.{gopherCntCols, gopherKeepSql, langCntCols, langCaseSql}
    val c = docs.select(
      Seq(col("doc_id"), md5(col("text")).as("dg")) ++
        gopherCntCols ++ langCntCols: _*)
    val firstWin = org.apache.spark.sql.expressions.Window.partitionBy(col("dg"))
    val kGopher = expr(gopherKeepSql)
    val kLang = expr(langCaseSql) =!= "und"
    val kExact = col("doc_id") === col("first_id")
    def flag(x: org.apache.spark.sql.Column) = when(x, 1).otherwise(0)
    c.withColumn("first_id", min(col("doc_id")).over(firstWin))
      .select(col("doc_id"),
        flag(kGopher).as("k_gopher"),
        flag(kLang).as("k_lang"),
        flag(kExact).as("k_exact"),
        flag(kGopher && kLang && kExact).as("keep"))
  }

  /** [[qualityFunnelFlags]] for an APPEND batch (CorpusPipeline.append):
    * identical gopher/lang tiers (per-doc, map-only), exact keep-first
    * tier keyed against the PRIOR corpus's digest table as well as the
    * batch itself. Correct iff every batch doc_id exceeds every prior
    * doc_id (append's checked precondition): the union's first_id for a
    * digest is then the prior min when the digest already exists, else
    * the batch min — so flags(union) restricted to the batch rows equal
    * these flags, and the prior rows' flags are untouched
    * (CorpusPipelineSpec proves the composition against the one-shot
    * funnel). `priorDigests` is the persisted (doc_id, dg) stage — id
    * rows only, never text.
    */
  private[graft] def qualityFunnelFlagsIncremental(docs: org.apache.spark.sql.DataFrame,
      priorDigests: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import TextQueries.{gopherCntCols, gopherKeepSql, langCntCols, langCaseSql}
    val c = docs.select(
      Seq(col("doc_id"), md5(col("text")).as("dg")) ++
        gopherCntCols ++ langCntCols: _*)
    val firstWin = org.apache.spark.sql.expressions.Window.partitionBy(col("dg"))
    val prior = priorDigests.groupBy(col("dg")).agg(min(col("doc_id")).as("__prior_first"))
    val kGopher = expr(gopherKeepSql)
    val kLang = expr(langCaseSql) =!= "und"
    def flag(x: org.apache.spark.sql.Column) = when(x, 1).otherwise(0)
    c.withColumn("__batch_first", min(col("doc_id")).over(firstWin))
      .join(prior, Seq("dg"), "left")
      .withColumn("first_id", coalesce(col("__prior_first"), col("__batch_first")))
      .select(col("doc_id"),
        flag(kGopher).as("k_gopher"),
        flag(kLang).as("k_lang"),
        flag(col("doc_id") === col("first_id")).as("k_exact"),
        flag(kGopher && kLang && (col("doc_id") === col("first_id"))).as("keep"))
  }

  /** Weighted sampling without replacement (Efraimidis & Spirakis, IPL
    * 2006): each doc draws priority key ln(u)/w — u a deterministic
    * uniform from the portable doc_id hash, w a length-proportional
    * quality weight — and the top-5 keys per source are the sample,
    * exactly distributed as w-weighted draws without replacement. The
    * whole key computation is map-side; the per-source top-5 compiles
    * to Spark 4's WindowGroupLimit (rank pushed into the window sort),
    * so no group ever fully sorts — at 100 TB this is a scan plus a
    * bounded per-key heap, the same shape as TakeOrderedAndProject.
    * Key ordering is float but collision-safe: distinct 60-bit hashes
    * put adjacent order statistics ~2⁻¹⁰ apart in u-space, astronomically
    * beyond cross-engine libm ulp drift; the float key itself is never
    * emitted (w is, rounded per the determinism contract).
    */
  val mlSampleWeighted: QueryDef = {
    val h = OracleSql.hash64("'wsamp'", "CAST(doc_id AS VARCHAR)")
    val u = s"(($h % 1152921504606846976) + 1) / 1152921504606846976.0"
    QueryDef.sql("ml_sample_weighted",
      s"""WITH t AS (SELECT doc_id, source,
         |    1.0 + len(regexp_extract_all(lower(text), '[a-z0-9]+')) / 100.0 AS w,
         |    ln($u) AS lnu
         |  FROM documents),
         |r AS (SELECT doc_id, source, w,
         |        row_number() OVER (PARTITION BY source ORDER BY lnu / w DESC, doc_id) AS rk
         |      FROM t)
         |SELECT source, doc_id, round(w, 6) AS w
         |FROM r WHERE rk <= 5 ORDER BY source, doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      val hv = TextOps.portableHash64Sql("'wsamp'", "CAST(doc_id AS STRING)")
      val win = Window.partitionBy(col("source"))
        .orderBy(col("key").desc, col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          (lit(1.0) + expr("regexp_count(lower(text), '[a-z0-9]+')") / lit(100.0)).as("w"),
          expr(s"ln((($hv % 1152921504606846976L) + 1) / 1152921504606846976.0)").as("lnu"))
        .withColumn("key", col("lnu") / col("w"))
        .withColumn("rk", row_number().over(win))
        .where(col("rk") <= 5)
        .select(col("source"), col("doc_id"), round(col("w"), 6).as("w"))
        .orderBy(col("source"), col("doc_id"))
    }
  }

  /** Temperature-based mixture DERIVATION — the complement of
    * [[mlMixtureSample]] (which APPLIES given weights): compute each
    * source's sampling share from corpus statistics as n^α / Σ n^α
    * (α = 0.5), the exponent trick multilingual pretraining uses to
    * flatten a skewed corpus without hand-tuned weights — big sources
    * are downsampled toward, small sources protected. Per-doc keep
    * probability is min(1, share·N/n_s) (no replication here; upsampling
    * beyond 1.0 is [[mlMixtureSample]]'s epoch expansion), realized by a
    * deterministic hash-uniform draw so both engines keep the SAME doc
    * set — the keep threshold is rounded to 6 decimals first, making the
    * two engines' thresholds bit-equal rather than merely close.
    *
    * Scale shape: pass 1 aggregates only (source → n) — a map-side
    * combined count whose shuffle carries one row per source; the tiny
    * stats/share table is then broadcast into pass 2's filter, which is
    * map-only over the corpus. Two scans of a projection two columns
    * wide, no wide shuffle — the canonical stats-then-filter plan.
    */
  val mlMixtureTemperature: QueryDef = {
    val h = OracleSql.hash64("'temp'", "CAST(doc_id AS VARCHAR)")
    QueryDef.sql("ml_mixture_temperature",
      s"""WITH n AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
         |w AS (SELECT source, n_docs, pow(n_docs, 0.5) AS wt FROM n),
         |t AS (SELECT sum(wt) AS sw, sum(n_docs) AS total FROM w),
         |p AS (SELECT source, n_docs, round(wt / sw, 6) AS share,
         |        round(least(1.0, (wt / sw) * total / n_docs), 6) AS keep_p
         |      FROM w CROSS JOIN t),
         |k AS (SELECT d.source, count(*) AS n_kept
         |      FROM documents d JOIN p USING (source)
         |      WHERE $h / 1152921504606846976.0 < p.keep_p
         |      GROUP BY d.source)
         |SELECT p.source, p.n_docs, p.share, p.keep_p,
         |  coalesce(k.n_kept, 0) AS n_kept
         |FROM p LEFT JOIN k USING (source) ORDER BY p.source""".stripMargin) { (s, dir) =>
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      // the persist point is the STATS table, not the share table: n
      // appears in BOTH t's and p's lineage (and p itself in the filter
      // pass and the final report), so an unpersisted n re-runs the
      // corpus aggregate once per consumer — cached, everything
      // downstream is arithmetic over a handful of rows and the plan is
      // the documented two scans (stats pass + filter pass)
      val n = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("wt", pow(col("n_docs"), 0.5))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val t = n.agg(sum(col("wt")).as("sw"),
        sum(col("n_docs")).as("total"))
      val p = n.crossJoin(broadcast(t))
        .select(col("source"), col("n_docs"),
          round(col("wt") / col("sw"), 6).as("share"),
          round(least(lit(1.0), col("wt") / col("sw") * col("total") / col("n_docs")), 6)
            .as("keep_p"))
      val hv = TextOps.portableHash64Sql("'temp'", "CAST(doc_id AS STRING)")
      val kept = docs
        .join(broadcast(p.select(col("source"), col("keep_p"))), Seq("source"))
        .where(expr(hv) / lit(1152921504606846976.0) < col("keep_p"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      p.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("share"), col("keep_p"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source"))
    }
  }

  /** Hashing-trick featurizer (Weinberger et al., ICML 2009): each
    * categorical feature string "name=value" maps to dimension
    * hash(f) mod D with a ±1 sign drawn from the NEXT hash bits, and
    * collisions add signed — the sign makes colliding features cancel
    * in expectation instead of biasing the sum, which is what lets D
    * stay fixed (64 here) while the raw vocabulary (user ids!) is
    * unbounded. That no-vocabulary property is the scale story: unlike
    * StringIndexer-style encoding there is NO fitted dictionary to
    * build, broadcast, or keep consistent across a 100 TB corpus — the
    * featurizer is a pure map-only expression over each row. Emitted
    * sparse long-form (event_id, idx, val); the one shuffle is the
    * (event_id, idx) roll-up whose payload is three 8-byte columns.
    */
  val mlFeatureHash: QueryDef = {
    val dims = 64
    val h = OracleSql.hash64("'fh'", "f")
    QueryDef.sql("ml_feature_hash",
      s"""WITH f AS (SELECT event_id, unnest([
         |    'et=' || event_type,
         |    'u=' || CAST(user_id AS VARCHAR),
         |    'h=' || CAST(hour(ts) AS VARCHAR)]) AS f
         |  FROM events),
         |x AS (SELECT event_id, $h % $dims AS idx,
         |        CASE WHEN ($h // $dims) % 2 = 0 THEN 1 ELSE -1 END AS sgn
         |      FROM f)
         |SELECT event_id, CAST(idx AS BIGINT) AS idx, CAST(sum(sgn) AS BIGINT) AS val
         |FROM x GROUP BY 1, 2 ORDER BY event_id, idx""".stripMargin) { (s, dir) =>
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      val hv = TextOps.portableHash64Sql("'fh'", "f")
      Tables.events(s, dir)
        .select(col("event_id"),
          explode(array(
            concat(lit("et="), col("event_type")),
            concat(lit("u="), col("user_id").cast("string")),
            concat(lit("h="), hour(col("ts")).cast("string")))).as("f"))
        .select(col("event_id"),
          (expr(hv) % dims).as("idx"),
          when(expr(s"($hv) div $dims") % 2 === 0, 1L).otherwise(-1L).as("sgn"))
        .groupBy(col("event_id"), col("idx"))
        .agg(sum(col("sgn")).as("val"))
        .orderBy(col("event_id"), col("idx"))
    }
  }

  /** Decile length-bucketing of the corpus — the pre-tokenization
    * bucketing step that minimizes padding waste when batching
    * variable-length documents (group similar lengths, pad to the
    * bucket max, not the corpus max). Deliberately NOT a global
    * `ntile(10)` window: that shape drags every row through one
    * partition. Instead: one percentile aggregate computes the 9
    * boundaries, broadcast to a map-only binning pass (count of
    * boundaries strictly below the length) — the ml_zscore
    * stats-then-broadcast discipline. Same result class as ntile up to
    * boundary ties, at scan cost; at 100 TB swap the exact percentile
    * for the mergeable quantile sketch (`sketch_quantiles`) and nothing
    * else changes.
    */
  /** K-ANONYMITY audit over quasi-identifier columns — the other half
    * of the privacy release gate beside text_pii_scrub (content) and
    * ml_dp_histogram (aggregate release): every (lang, source,
    * length-bucket) equivalence class smaller than k=5 is a
    * re-identification risk for its members even after PII scrubbing,
    * because the METADATA triple narrows a target to <k candidates.
    * Emits every class with its size and at-risk flag — the summary a
    * release pipeline turns into "suppress or generalize these rows".
    *
    * Scale: one map-side-combined rollup over integer-derived keys; the
    * audit costs exactly one aggregate pass at any corpus size, and
    * adding a quasi-identifier is adding a grouping column, never a
    * second pass.
    */
  val mlKAnonymity: QueryDef = QueryDef.sql("ml_k_anonymity",
    """WITH c AS (SELECT lang, source,
      |    least(CAST(n_chars AS BIGINT) // 200, 9) AS len_bucket
      |  FROM documents)
      |SELECT lang, source, len_bucket, CAST(count(*) AS BIGINT) AS n,
      |  count(*) < 5 AS at_risk
      |FROM c GROUP BY 1, 2, 3 ORDER BY lang, source, len_bucket""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("lang"), col("source"),
        least(expr("CAST(n_chars AS BIGINT) div 200"), lit(9L)).as("len_bucket"))
      .groupBy(col("lang"), col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", col("n") < 5)
      .orderBy(col("lang"), col("source"), col("len_bucket"))
  }

  /** L-DIVERSITY audit — k-anonymity's stronger sibling (Machanavajjhala
    * et al. 2007): a quasi-identifier class can be large (k-anonymous)
    * yet still leak if every member shares the SAME sensitive value, so
    * the release gate also requires >= l distinct sensitive values per
    * class. Quasi-identifiers here are (source, length-bucket), the
    * sensitive attribute is lang, l = 3. Same one-rollup cost shape as
    * ml_k_anonymity: the distinct count is a map-side-combinable
    * aggregate over integer-derived keys — one pass at any corpus size.
    */
  val mlLDiversity: QueryDef = QueryDef.sql("ml_l_diversity",
    """WITH c AS (SELECT source,
      |    least(CAST(n_chars AS BIGINT) // 200, 9) AS len_bucket, lang
      |  FROM documents)
      |SELECT source, len_bucket, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_sensitive,
      |  count(DISTINCT lang) < 3 AS at_risk
      |FROM c GROUP BY 1, 2 ORDER BY source, len_bucket""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("source"),
        least(expr("CAST(n_chars AS BIGINT) div 200"), lit(9L)).as("len_bucket"),
        col("lang"))
      .groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("n_sensitive"))
      .withColumn("at_risk", col("n_sensitive") < 3)
      .orderBy(col("source"), col("len_bucket"))
  }

  /** Per-group ordinary least squares (price-per-quantity line per
    * return flag) from the five MOMENT SUMS — the closed-form fit every
    * feature-importance / drift-detection pass runs before paying for a
    * real model. Scale shape: one map-side-combined aggregate pass
    * computes (n, Σx, Σy, Σxy, Σx², Σy²) per group; slope/intercept/r²
    * are per-group scalar arithmetic on the 1-row-per-group result —
    * the same "sufficient statistics, then closed form" discipline as
    * ml_zscore, and the distributed-OLS textbook shape (d features cost
    * a d² matrix per group, never a second data pass).
    *
    * Determinism: inputs go through DECIMAL(12,2) casts so all five
    * sums are EXACT and order-independent in both engines; each sum is
    * then cast to DOUBLE once and combined with the textually identical
    * IEEE expression (the series_acf recipe), round-6.
    */
  val mlLinreg: QueryDef = QueryDef.sql("ml_linreg",
    """WITH m AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
      |  round((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6) AS intercept,
      |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      |        ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM m ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    val dx = col("l_quantity").cast("decimal(12,2)")
    val dy = col("l_extendedprice").cast("decimal(12,2)")
    val m = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(dx).cast("double").as("sx"), sum(dy).cast("double").as("sy"),
        sum(dx * dy).cast("double").as("sxy"),
        sum(dx * dx).cast("double").as("sxx"),
        sum(dy * dy).cast("double").as("syy"))
    m.select(col("l_returnflag"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("intercept"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")) *
               (col("n") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
           (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
      .orderBy(col("l_returnflag"))
  }

  /** Multinomial Naive Bayes text classifier, trained and evaluated in
    * one distributed pass — the CCNet/fastText-style linear quality/
    * language classifier slot in a pretraining pipeline, expressed as
    * pure aggregations (no iterative fitting). Deterministic hash split
    * (hash(doc_id) % 5 == 0 → test), add-one smoothing, per-token
    * log-likelihoods, argmax with a lexicographic tiebreak.
    *
    * Scale shape: the model is three aggregates over train tokens —
    * (class, token) counts, class totals, vocab size — i.e. the token-
    * sized exchange every term-stats query already pays; scoring joins
    * test tokens × |classes| against the count table on (class, token)
    * — an equi-join whose build side is model-sized (vocab × classes),
    * never corpus-sized — then reduces per (doc, class) map-side. The
    * 5-row class table and one-row vocab/total scalars ride broadcasts.
    *
    * Determinism: the argmax is hash-stable because measured min
    * score margins (0.02–0.06 at gate SFs) exceed cross-engine double
    * drift (~1e-12) by ten orders; only the predicted CLASS is emitted,
    * never the score. Docs with zero extractable tokens are absent from
    * both sides (explode/unnest drop them). A class present only in
    * test would be unpredictable by construction (no priors) — all five
    * langs train here.
    */
  val mlNaiveBayes: QueryDef = {
    val h = OracleSql.hash64("'nb'", "CAST(doc_id AS VARCHAR)")
    QueryDef.sql("ml_naive_bayes",
      s"""WITH sp AS (SELECT doc_id, lang, lower(text) AS lt, $h % 5 = 0 AS is_test
         |  FROM documents),
         |ttok AS (SELECT lang, unnest(regexp_extract_all(lt, '[a-z0-9]+')) AS tok
         |         FROM sp WHERE NOT is_test),
         |cnt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM ttok GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS t FROM ttok GROUP BY 1),
         |voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM ttok),
         |pri AS (SELECT lang, CAST(count(*) AS BIGINT) AS nd FROM sp WHERE NOT is_test GROUP BY 1),
         |ntr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sp WHERE NOT is_test),
         |qtok AS (SELECT doc_id, lang AS actual, unnest(regexp_extract_all(lt, '[a-z0-9]+')) AS tok
         |         FROM sp WHERE is_test),
         |sc AS (SELECT q.doc_id, q.actual, t.lang AS clang,
         |         sum(ln((coalesce(c.c, 0) + 1.0) / (t.t + v.v))) AS ll
         |       FROM qtok q CROSS JOIN tot t CROSS JOIN voc v
         |       LEFT JOIN cnt c ON c.lang = t.lang AND c.tok = q.tok
         |       GROUP BY 1, 2, 3),
         |f AS (SELECT sc.doc_id, sc.actual, sc.clang,
         |        sc.ll + ln(CAST(p.nd AS DOUBLE) / n.n) AS score
         |      FROM sc JOIN pri p ON p.lang = sc.clang CROSS JOIN ntr n),
         |rk AS (SELECT doc_id, actual, clang,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, clang) AS r
         |       FROM f)
         |SELECT doc_id, actual, clang AS predicted, actual = clang AS correct
         |FROM rk WHERE r = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      val sp = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), lower(col("text")).as("lt"),
          (expr(TextOps.portableHash64Sql("'nb'", "CAST(doc_id AS STRING)")) % 5 === 0)
            .as("is_test"))
      val train = sp.where(!col("is_test"))
      val ttok = train.select(col("lang"),
        explode(expr("regexp_extract_all(lt, '[a-z0-9]+', 0)")).as("tok"))
      val cnt = ttok.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
      val tot = ttok.groupBy(col("lang")).agg(count(lit(1)).as("t"))
      val voc = ttok.agg(countDistinct(col("tok")).as("v"))
      val pri = train.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      val ntr = train.agg(count(lit(1)).as("n"))
      val qtok = sp.where(col("is_test"))
        .select(col("doc_id"), col("lang").as("actual"),
          explode(expr("regexp_extract_all(lt, '[a-z0-9]+', 0)")).as("tok"))
      val sc = qtok
        .crossJoin(broadcast(tot.select(col("lang").as("clang"), col("t"))))
        .crossJoin(broadcast(voc))
        .join(cnt.select(col("lang").as("clang"), col("tok"), col("c")),
          Seq("clang", "tok"), "left")
        .groupBy(col("doc_id"), col("actual"), col("clang"))
        .agg(sum(log((coalesce(col("c"), lit(0L)) + lit(1.0)) / (col("t") + col("v"))))
          .as("ll"))
      val f = sc
        .join(broadcast(pri.select(col("lang").as("clang"), col("nd"))), Seq("clang"))
        .crossJoin(broadcast(ntr))
        .select(col("doc_id"), col("actual"), col("clang"),
          (col("ll") + log(col("nd").cast("double") / col("n"))).as("score"))
      f.withColumn("r", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("clang"))))
        .where(col("r") === 1)
        .select(col("doc_id"), col("actual"), col("clang").as("predicted"),
          (col("actual") === col("clang")).as("correct"))
        .orderBy(col("doc_id"))
    }
  }

  /** Exact AUC by the Mann–Whitney rank-sum identity, computed in the
    * DISTRIBUTED shape: group once by score (event-sized exchange),
    * running negative-count prefix over the DISTINCT-score table via
    * [[graft.ops.PrefixSum]]'s two-level bucketed scan (parallel even
    * when a continuous score makes that table corpus-sized — see
    * [[mlAucContinuous]]), then AUC = Σ p_s·(2·q_<s + q_s) / (2·nP·nN) — ties
    * contribute the standard half credit via the ×2-integer form, so
    * every term is an exact BIGINT and the one double division is the
    * output. The n_chars-vs-English pairing is a stand-in scorer; the
    * operator is the threshold-free ranking-quality gate every
    * quality-classifier pipeline runs (a global per-row rank() window
    * would be the naive non-scalable form — this is the groupBy
    * identity that avoids it).
    */
  val mlAuc: QueryDef = QueryDef.sql("ml_auc",
    """WITH s AS (SELECT CAST(n_chars AS BIGINT) AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
      |g AS (SELECT score, CAST(sum(y) AS BIGINT) AS p,
      |        CAST(count(*) - sum(y) AS BIGINT) AS q
      |      FROM s GROUP BY score),
      |c AS (SELECT score, p, q,
      |        coalesce(CAST(sum(q) OVER (ORDER BY score
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS qlt
      |      FROM g),
      |m AS (SELECT CAST(sum(p * (2 * qlt + q)) AS BIGINT) AS num2,
      |        CAST(sum(p) AS BIGINT) AS np, CAST(sum(q) AS BIGINT) AS nn FROM c)
      |SELECT np, nn, round(num2 / (2.0 * np * nn), 6) AS auc FROM m""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .select(col("n_chars").cast("long").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val g = base.groupBy(col("score"))
      .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("q"))
    // two-level bucketed prefix (PrefixSum scaladoc): the oracle keeps
    // the single-window form; qlt = inclusive cum − own row.
    val c = graft.ops.PrefixSum.running(g, Nil, "score", Seq("q"))
      .withColumn("qlt", col("q_cum") - col("q"))
    c.agg(sum(col("p") * (lit(2) * col("qlt") + col("q"))).as("num2"),
        sum(col("p")).as("np"), sum(col("q")).as("nn"))
      .select(col("np"), col("nn"),
        round(col("num2") / (lit(2.0) * col("np") * col("nn")), 6).as("auc"))
  }

  /** [[mlAuc]] on a CONTINUOUS score — the domain the integer-score
    * gate can't witness: score = n_chars + doc_id/2^b is distinct for
    * EVERY row (and the fraction is an exact binary double, so both
    * engines group identical keys), making the distinct-score table
    * corpus-sized — precisely the case where a single-partition
    * cumulative window collapses to one task and
    * [[graft.ops.PrefixSum]]'s two-level bucketed prefix is
    * load-bearing rather than cosmetic. Same Mann–Whitney ×2-integer
    * identity; per-score positives/negatives are still exact BIGINTs.
    *
    * The fraction width 2^b is DATA-DERIVED (the q_agg_funcs rule): the
    * smallest power of two > max(doc_id), computed by the exact integer
    * path `1 << length(bin(max_id))` in both engines (no float log2 at
    * a power-of-two boundary), shipped as a one-row broadcast. doc_id <
    * 2^b so the fraction is unique and < 1 at EVERY scale — a fixed
    * 2^20 silently collided past doc_id 2^20.
    */
  val mlAucContinuous: QueryDef = QueryDef.sql("ml_auc_continuous",
    """WITH w AS (SELECT CAST(1 AS BIGINT) << length(bin(max(doc_id))) AS pw FROM documents),
      |s AS (SELECT CAST(n_chars AS DOUBLE) + doc_id / CAST(pw AS DOUBLE) AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents, w),
      |g AS (SELECT score, CAST(sum(y) AS BIGINT) AS p,
      |        CAST(count(*) - sum(y) AS BIGINT) AS q
      |      FROM s GROUP BY score),
      |c AS (SELECT score, p, q,
      |        coalesce(CAST(sum(q) OVER (ORDER BY score
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS qlt
      |      FROM g),
      |m AS (SELECT CAST(sum(p * (2 * qlt + q)) AS BIGINT) AS num2,
      |        CAST(sum(p) AS BIGINT) AS np, CAST(sum(q) AS BIGINT) AS nn FROM c)
      |SELECT np, nn, round(num2 / (2.0 * np * nn), 6) AS auc FROM m""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val w = docs.agg(expr("shiftleft(CAST(1 AS BIGINT), length(bin(max(doc_id))))").as("pw"))
    val base = docs.crossJoin(broadcast(w))
      .select((col("n_chars").cast("double")
          + col("doc_id") / col("pw").cast("double")).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val g = base.groupBy(col("score"))
      .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("q"))
    // balanced buckets: a continuous score domain is exactly where
    // outliers can stretch the range and collapse uniform-range buckets
    // to one task (r11 hardening) — quantile boundaries guarantee mass
    // balance; the cumulative itself is boundary-invariant.
    val c = graft.ops.PrefixSum.running(g, Nil, "score", Seq("q"), balanced = true)
      .withColumn("qlt", col("q_cum") - col("q"))
    c.agg(sum(col("p") * (lit(2) * col("qlt") + col("q"))).as("num2"),
        sum(col("p")).as("np"), sum(col("q")).as("nn"))
      .select(col("np"), col("nn"),
        round(col("num2") / (lit(2.0) * col("np") * col("nn")), 6).as("auc"))
  }

  /** DeLong variance and confidence interval for the AUC (DeLong,
    * DeLong & Clarke-Pearson 1988, via the placement identity: the
    * structural components V10_i are per-positive placements, V01_j
    * per-negative) — the standard error every model comparison report
    * quotes next to [[mlAuc]]'s point estimate. Both placement sets
    * come from the SAME single PrefixSum pass as the AUC itself:
    * per distinct score, t = 2·(negatives strictly below) + (ties) is
    * the ×2nn integer placement numerator of each positive there, and
    * u = 2·(positives strictly above) + (ties) the ×2np numerator of
    * each negative — so Σt, Σt², Σu, Σu² are exact BIGINTs (Σt² ≤
    * np·4nn², inside BIGINT through ~1e9 negatives; past that these
    * four sums move to DECIMAL(38,0), nothing else changes) and the
    * whole statistic is two grouped rollups + one bounded rollup, never
    * an n² pairing. Var(AUC) = S10²/np + S01²/nn with the sample
    * variances in one fixed double association; se/CI are functions of
    * identical doubles in both engines. Symmetry check built in: the
    * AUC from Σu must equal the AUC from Σt (Mann–Whitney).
    */
  val mlAucDelong: QueryDef = QueryDef.sql("ml_auc_delong",
    """WITH s AS (SELECT CAST(n_chars AS BIGINT) AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
      |g AS (SELECT score, CAST(sum(y) AS BIGINT) AS p,
      |        CAST(count(*) - sum(y) AS BIGINT) AS q
      |      FROM s GROUP BY score),
      |c AS (SELECT score, p, q,
      |        coalesce(CAST(sum(q) OVER (ORDER BY score
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS qlt,
      |        coalesce(CAST(sum(p) OVER (ORDER BY score
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS plt
      |      FROM g),
      |tot AS (SELECT CAST(sum(p) AS BIGINT) AS np, CAST(sum(q) AS BIGINT) AS nn FROM g),
      |x AS (SELECT p, q, 2 * qlt + q AS t,
      |        2 * (np - plt - p) + p AS u FROM c, tot),
      |m AS (SELECT CAST(sum(p * t) AS BIGINT) AS num2t,
      |        CAST(sum(p * t * t) AS BIGINT) AS sum2t,
      |        CAST(sum(q * u) AS BIGINT) AS num2u,
      |        CAST(sum(q * u * u) AS BIGINT) AS sum2u FROM x),
      |f AS (SELECT np, nn,
      |        CASE WHEN np > 0 AND nn > 0 THEN num2t / (2.0 * np * nn) END AS auc,
      |        CASE WHEN np > 1 AND nn > 1 THEN
      |          ((CAST(sum2t AS DOUBLE) - CAST(num2t AS DOUBLE) * CAST(num2t AS DOUBLE) / np) / (np - 1)) / (4.0 * nn * nn) / np
      |        END AS v10,
      |        CASE WHEN np > 1 AND nn > 1 THEN
      |          ((CAST(sum2u AS DOUBLE) - CAST(num2u AS DOUBLE) * CAST(num2u AS DOUBLE) / nn) / (nn - 1)) / (4.0 * np * np) / nn
      |        END AS v01,
      |        num2t AS a2t, num2u AS a2u
      |      FROM m, tot)
      |SELECT np, nn, round(auc, 6) AS auc,
      |  CAST(a2t = a2u AS BIGINT) AS mw_symmetric,
      |  round(sqrt(v10 + v01), 6) AS se,
      |  round(auc - 1.96 * sqrt(v10 + v01), 6) AS ci_lo,
      |  round(auc + 1.96 * sqrt(v10 + v01), 6) AS ci_hi
      |FROM f""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .select(col("n_chars").cast("long").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val g = base.groupBy(col("score"))
      .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("q"))
    val c = graft.ops.PrefixSum.running(g, Nil, "score", Seq("p", "q"),
        withTotals = true)
      .withColumn("qlt", col("q_cum") - col("q"))
      .withColumn("plt", col("p_cum") - col("p"))
      .withColumn("t", lit(2) * col("qlt") + col("q"))
      .withColumn("u", lit(2) * (col("p_tot") - col("plt") - col("p")) + col("p"))
    val m = c.agg(
      sum(col("p") * col("t")).as("num2t"),
      sum(col("p") * col("t") * col("t")).as("sum2t"),
      sum(col("q") * col("u")).as("num2u"),
      sum(col("q") * col("u") * col("u")).as("sum2u"),
      max(col("p_tot")).as("np"), max(col("q_tot")).as("nn"))
    // degenerate-class guard (r13 advice): a single-class corpus makes
    // (np−1)/(nn−1) zero and /0 NULL/NaN/Inf semantics differ between
    // the engines — emit NULL se/ci (and NULL auc on an empty class) in
    // BOTH, so the degenerate case is well-defined and hash-identical
    def d(cn: String) = col(cn).cast("double")
    val varOk = col("np") > 1 && col("nn") > 1
    val v10 = when(varOk,
      ((d("sum2t") - d("num2t") * d("num2t") / col("np")) / (col("np") - 1)) /
        (lit(4.0) * col("nn") * col("nn")) / col("np"))
    val v01 = when(varOk,
      ((d("sum2u") - d("num2u") * d("num2u") / col("nn")) / (col("nn") - 1)) /
        (lit(4.0) * col("np") * col("np")) / col("nn"))
    val auc = when(col("np") > 0 && col("nn") > 0,
      col("num2t") / (lit(2.0) * col("np") * col("nn")))
    m.select(col("np"), col("nn"), round(auc, 6).as("auc"),
      (col("num2t") === col("num2u")).cast("long").as("mw_symmetric"),
      round(sqrt(v10 + v01), 6).as("se"),
      round(auc - lit(1.96) * sqrt(v10 + v01), 6).as("ci_lo"),
      round(auc + lit(1.96) * sqrt(v10 + v01), 6).as("ci_hi"))
  }

  /** Per-class classifier evaluation (precision / recall / F1) of the
    * text_lang_id heuristic against the labeled lang column — the
    * eval-harness rollup every classifier-gated pipeline keeps beside
    * its predictions. tp/fp roll up per PREDICTED class, fn per ACTUAL
    * class, full-outer-joined over the class union so a class that is
    * never predicted (zh — no marker list) still reports its fn row.
    * All counts exact BIGINTs; precision/recall/f1 are single
    * divisions (f1 via the integer identity 2tp/(2tp+fp+fn) — never
    * the drift-prone 2pr/(p+r) of two rounded ratios), round-6,
    * nullif-guarded. Cost: one map-only prediction pass + class-sized
    * rollups.
    */
  val mlClassifierEval: QueryDef = QueryDef.sql("ml_classifier_eval",
    s"""WITH c AS (SELECT lang AS actual, ${TextQueries.langCaseSql.replace("\n", " ")} AS pred
       |  FROM (SELECT lang, text, ${TextQueries.langCntsDuck} FROM documents)),
       |cells AS (SELECT actual, pred, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1, 2),
       |pr AS (SELECT pred AS cl,
       |         CAST(sum(CASE WHEN actual = pred THEN n ELSE 0 END) AS BIGINT) AS tp,
       |         CAST(sum(CASE WHEN actual <> pred THEN n ELSE 0 END) AS BIGINT) AS fp
       |       FROM cells GROUP BY pred),
       |fnr AS (SELECT actual AS cl,
       |          CAST(sum(CASE WHEN actual <> pred THEN n ELSE 0 END) AS BIGINT) AS fn
       |        FROM cells GROUP BY actual)
       |SELECT coalesce(pr.cl, fnr.cl) AS cl,
       |  coalesce(tp, 0) AS tp, coalesce(fp, 0) AS fp, coalesce(fn, 0) AS fn,
       |  round(coalesce(tp, 0) / CAST(nullif(coalesce(tp, 0) + coalesce(fp, 0), 0) AS DOUBLE), 6) AS precision,
       |  round(coalesce(tp, 0) / CAST(nullif(coalesce(tp, 0) + coalesce(fn, 0), 0) AS DOUBLE), 6) AS recall,
       |  round(2 * coalesce(tp, 0) / CAST(nullif(2 * coalesce(tp, 0) + coalesce(fp, 0) + coalesce(fn, 0), 0) AS DOUBLE), 6) AS f1
       |FROM pr FULL OUTER JOIN fnr ON pr.cl = fnr.cl
       |ORDER BY cl""".stripMargin) { (s, dir) =>
    val c = Tables.documents(s, dir)
      .select(Seq(col("lang"), col("text")) ++ TextQueries.langCntCols: _*)
      .select(col("lang").as("actual"), expr(TextQueries.langCaseSql).as("pred"))
    val cells = c.groupBy(col("actual"), col("pred")).agg(count(lit(1)).as("n"))
    val pr = cells.groupBy(col("pred").as("cl"))
      .agg(sum(when(col("actual") === col("pred"), col("n")).otherwise(0L)).as("tp"),
        sum(when(col("actual") =!= col("pred"), col("n")).otherwise(0L)).as("fp"))
    val fnr = cells.groupBy(col("actual").as("cl"))
      .agg(sum(when(col("actual") =!= col("pred"), col("n")).otherwise(0L)).as("fn"))
    pr.join(fnr, Seq("cl"), "full_outer")
      .select(col("cl"),
        coalesce(col("tp"), lit(0L)).as("tp"), coalesce(col("fp"), lit(0L)).as("fp"),
        coalesce(col("fn"), lit(0L)).as("fn"))
      .select(col("cl"), col("tp"), col("fp"), col("fn"),
        round(col("tp") / nullif(col("tp") + col("fp"), lit(0L)).cast("double"), 6)
          .as("precision"),
        round(col("tp") / nullif(col("tp") + col("fn"), lit(0L)).cast("double"), 6)
          .as("recall"),
        round(lit(2) * col("tp") /
          nullif(lit(2) * col("tp") + col("fp") + col("fn"), lit(0L)).cast("double"), 6)
          .as("f1"))
      .orderBy(col("cl"))
  }

  /** Leave-one-out target encoding of `source` against the en-rate
    * target with add-m smoothing toward the global prior — the
    * leakage-safe categorical feature every tabular pipeline derives
    * (enc_i = (sum_g(y) − y_i + m·prior)/(n_g − 1 + m): subtracting the
    * row's own label keeps its target out of its own feature). Exact
    * BIGINT group sums; the prior is one BIGINT/BIGINT division and the
    * per-row encode one double expression, identical cross-engine.
    *
    * Scale shape: one source-sized rollup (map-side combinable) whose
    * global prior rides a window over the ROLLED-UP table (never the
    * corpus), broadcast-joined back — the encode pass is map-only; no
    * per-row window, no scalar cross join.
    */
  val mlTargetEncoding: QueryDef = QueryDef.sql("ml_target_encoding",
    """WITH d AS (SELECT doc_id, source,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
      |g AS (SELECT source, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(count(*) AS BIGINT) AS n FROM d GROUP BY source),
      |gp AS (SELECT source, sy, n,
      |         CAST(sum(sy) OVER () AS DOUBLE) / sum(n) OVER () AS prior FROM g)
      |SELECT doc_id, d.source AS source, CAST(y AS BIGINT) AS y,
      |  round((CAST(sy - y AS DOUBLE) + 10 * prior) / (n - 1 + 10), 6) AS enc
      |FROM d JOIN gp ON gp.source = d.source
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        when(col("lang") === "en", 1).otherwise(0).as("y"))
    val g = d.groupBy(col("source"))
      .agg(sum(col("y")).cast("long").as("sy"), count(lit(1)).as("n"))
    val gp = g.withColumn("prior",
      sum(col("sy")).over(Window.partitionBy()).cast("double") /
        sum(col("n")).over(Window.partitionBy()))
    d.join(broadcast(gp), "source")
      .select(col("doc_id"), col("source"), col("y").cast("long").as("y"),
        round(((col("sy") - col("y")).cast("double") + lit(10) * col("prior")) /
          (col("n") - lit(1) + lit(10)), 6).as("enc"))
      .orderBy(col("doc_id"))
  }

  /** Calibration audit of the marker-share pseudo-probability
    * p = s_en/Σs (docs with no markers excluded): decile reliability
    * bins with per-bin confidence vs empirical accuracy, the bin's ECE
    * contribution |Σy − Σp|/N (summing the column yields the expected
    * calibration error), and the per-bin Brier score. Determinism: the
    * bin index is PURE INTEGER arithmetic ((10·s_en) div Σs, clamped),
    * and p is rounded to DECIMAL(8,6) before any cross-row sum, so
    * every aggregate is exact decimal/integer — the only doubles are
    * the final per-bin divisions. Cost: one map pass + a ≤10-row
    * rollup; N comes from a window over the rolled-up bins, never a
    * second corpus scan.
    */
  val mlCalibration: QueryDef = QueryDef.sql("ml_calibration",
    s"""WITH c AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    s_en, s_en + s_es + s_de + s_fr AS tot
       |  FROM (SELECT lang, ${TextQueries.langCntsDuck} FROM documents)),
       |f AS (SELECT y, CAST(least(10 * s_en // tot, 9) AS BIGINT) AS bin,
       |        CAST(round(CAST(s_en AS DOUBLE) / tot, 6) AS DECIMAL(8,6)) AS p
       |      FROM c WHERE tot > 0),
       |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy,
       |        sum(p) AS sp, sum((p - y) * (p - y)) AS sq
       |      FROM f GROUP BY bin)
       |SELECT bin, n,
       |  round(CAST(sp AS DOUBLE) / n, 6) AS conf,
       |  round(CAST(sy AS DOUBLE) / n, 6) AS acc,
       |  round(CAST(abs(sy - sp) AS DOUBLE) / sum(n) OVER (), 6) AS ece_part,
       |  round(CAST(sq AS DOUBLE) / n, 6) AS brier
       |FROM b ORDER BY bin""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val c = Tables.documents(s, dir)
      .select(Seq(col("lang")) ++ TextQueries.langCntCols: _*)
      .select(when(col("lang") === "en", 1).otherwise(0).as("y"), col("s_en"),
        (col("s_en") + col("s_es") + col("s_de") + col("s_fr")).as("tot"))
    val f = c.where(col("tot") > 0)
      .select(col("y"),
        least(expr("(10 * s_en) div tot"), lit(9L)).cast("long").as("bin"),
        expr("CAST(round(CAST(s_en AS DOUBLE) / tot, 6) AS DECIMAL(8,6))").as("p"))
    val b = f.groupBy(col("bin")).agg(
      count(lit(1)).as("n"), sum(col("y")).cast("long").as("sy"),
      sum(col("p")).as("sp"), sum((col("p") - col("y")) * (col("p") - col("y"))).as("sq"))
    b.select(col("bin"), col("n"),
        round(col("sp").cast("double") / col("n"), 6).as("conf"),
        round(col("sy").cast("double") / col("n"), 6).as("acc"),
        round(abs(col("sy") - col("sp")).cast("double") /
          sum(col("n")).over(Window.partitionBy()), 6).as("ece_part"),
        round(col("sq").cast("double") / col("n"), 6).as("brier"))
      .orderBy(col("bin"))
  }

  /** ISOTONIC calibration of the [[mlCalibration]] reliability bins —
    * not just the audit but its FIX: the monotone-nondecreasing rate
    * curve closest to the observed per-bin rates in weighted L2,
    * computed by the exact MINIMAX identity
    * iso(i) = max_{j≤i} min_{k≥i} mean(y over bins j..k)
    * (Ayer et al. 1955 — the closed form of pool-adjacent-violators,
    * IsotonicSpec pins minimax ≡ PAVA on random bins). Every segment
    * mean is one double division of exact BIGINT prefix sums, and
    * max/min are SELECTIONS (not accumulations), so the result is
    * cross-engine bit-stable with round-6 only at the emit.
    *
    * Scale shape: rates live on the 10-bin ROLLUP, so the all-segment
    * expansion is 10×10 rows and the joins are broadcast inequality
    * joins over bin-sized tables — never data-sized (the classic
    * distributed-isotonic trick: pool to bins first; MLlib's isotonic
    * does the same per-partition-then-merge pooling).
    */
  val mlIsotonicCalibration: QueryDef = QueryDef.sql("ml_isotonic_calibration",
    s"""WITH c AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    s_en, s_en + s_es + s_de + s_fr AS tot
       |  FROM (SELECT lang, ${TextQueries.langCntsDuck} FROM documents)),
       |f AS (SELECT y, CAST(least(10 * s_en // tot, 9) AS BIGINT) AS bin
       |      FROM c WHERE tot > 0),
       |b AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
       |      FROM f GROUP BY bin),
       |pre AS (SELECT bin, n, sy,
       |          CAST(sum(n) OVER w AS BIGINT) AS cn, CAST(sum(sy) OVER w AS BIGINT) AS cp
       |        FROM b WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |seg AS (SELECT j.bin AS j, k.bin AS k,
       |          CAST(k.cp - (j.cp - j.sy) AS DOUBLE) / (k.cn - (j.cn - j.n)) AS m
       |        FROM pre j JOIN pre k ON k.bin >= j.bin),
       |sub AS (SELECT seg.j, b.bin AS i, min(seg.m) AS mn
       |        FROM seg JOIN b ON seg.j <= b.bin AND b.bin <= seg.k GROUP BY 1, 2),
       |iso AS (SELECT i, max(mn) AS v FROM sub GROUP BY i)
       |SELECT b.bin, b.n, b.sy, round(CAST(b.sy AS DOUBLE) / b.n, 6) AS rate,
       |  round(iso.v, 6) AS iso
       |FROM b JOIN iso ON iso.i = b.bin ORDER BY b.bin""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val c = Tables.documents(s, dir)
      .select(Seq(col("lang")) ++ TextQueries.langCntCols: _*)
      .select(when(col("lang") === "en", 1L).otherwise(0L).as("y"), col("s_en"),
        (col("s_en") + col("s_es") + col("s_de") + col("s_fr")).as("tot"))
    val f = c.where(col("tot") > 0)
      .select(col("y"), least(expr("(10 * s_en) div tot"), lit(9L)).cast("long").as("bin"))
    val b = f.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).cast("long").as("sy"))
      .transform(graft.ops.Ckpt.eager) // 10 rows; referenced by 3 joins below
    val w10 = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = b.select(col("bin"), col("n"), col("sy"),
      sum(col("n")).over(w10).cast("long").as("cn"),
      sum(col("sy")).over(w10).cast("long").as("cp"))
    val js = pre.select(col("bin").as("j"),
      (col("cp") - col("sy")).as("cpx"), (col("cn") - col("n")).as("cnx"))
    val ks = pre.select(col("bin").as("k"), col("cp").as("cpk"), col("cn").as("cnk"))
    val seg = js.join(broadcast(ks), col("k") >= col("j"))
      .select(col("j"), col("k"),
        ((col("cpk") - col("cpx")).cast("double") / (col("cnk") - col("cnx"))).as("m"))
    val sub = seg.join(broadcast(b.select(col("bin").as("i"))),
        col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("j"), col("i")).agg(min(col("m")).as("mn"))
    val iso = sub.groupBy(col("i")).agg(max(col("mn")).as("v"))
    b.join(iso, b("bin") === iso("i"))
      .select(col("bin"), col("n"), col("sy"),
        round(col("sy").cast("double") / col("n"), 6).as("rate"),
        round(col("v"), 6).as("iso"))
      .orderBy(col("bin"))
  }

  /** Poisson bootstrap CI for mean document length (B = 20 replicates):
    * each replicate draws every row's multiplicity from Poisson(1) via
    * the portable hash — w = inverse-CDF of h/2^60, with the cumulative
    * probabilities PRE-SCALED to integer thresholds (floor(P_k·2^60)
    * literals), so replicate membership is pure BIGINT comparison,
    * reproducible across engines/runs/partitionings with NO rng state.
    * The tail is truncated at w = 5 (P ≈ 6e-4 collapses in). This is
    * the standard single-pass distributed bootstrap (Poisson counts
    * approximate multinomial resampling; Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams", Google 2012): per-replicate
    * sums are exact BIGINTs, each replicate mean one double division,
    * and the 90% percentile CI picks ranks 2/19 of the 20 means.
    *
    * Scale shape: the B× expansion happens INSIDE the scan projection
    * (explode of a constant 20-element sequence — no join), partial
    * aggregation collapses it map-side to 20 groups, and every
    * post-shuffle stage is 20-row. The one-row summary crosses are
    * construction-time scalars (PlanSpec-allowlisted), never data-sized.
    */
  /** EXACT isotonic regression on the CONTINUOUS per-row-distinct score
    * domain (ml_auc_continuous's score — the unpooled sklearn
    * `IsotonicRegression` semantic; ml_isotonic_calibration's 10-bin
    * pooling is the MLlib shortcut this completes): the fit runs the
    * distributed run-collapse PAVA ([[graft.ops.Isotonic]] — PrefixSum
    * ranks, exact DECIMAL violation tests, O(log n) merge rounds, every
    * stage distributed), while the oracle evaluates the minimax
    * identity iso_i = max_{j≤i} min_{k≥i} avg(j..k) (Ayer et al. 1955)
    * over the O(n²) prefix-sum pair table — tractable for DuckDB at
    * gate scale, and a completely independent formulation of the same
    * unique minimizer. Fitted values are single divisions of exact
    * BIGINT pool sums, so the two engines' doubles are bit-identical
    * (IEEE division is correctly rounded) and the row hash matches
    * without tolerance.
    */
  val mlIsotonicFit: QueryDef = QueryDef.sql("ml_isotonic_fit",
    """WITH w AS (SELECT CAST(1 AS BIGINT) << length(bin(max(doc_id))) AS pw FROM documents),
      |s AS (SELECT CAST(n_chars AS DOUBLE) + doc_id / CAST(pw AS DOUBLE) AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents, w),
      |g AS (SELECT score, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
      |      FROM s GROUP BY score),
      |r AS (SELECT *, row_number() OVER (ORDER BY score) AS rn FROM g),
      |c AS (SELECT rn, score, n, sy,
      |        CAST(sum(n) OVER (ORDER BY rn) AS BIGINT) AS cn,
      |        CAST(sum(sy) OVER (ORDER BY rn) AS BIGINT) AS cp FROM r),
      |p AS (SELECT a.rn AS j, b.rn AS k,
      |        CAST(b.cp - (a.cp - a.sy) AS DOUBLE) / (b.cn - (a.cn - a.n)) AS m
      |      FROM c a JOIN c b ON a.rn <= b.rn),
      |mn AS (SELECT j, k, min(m) OVER (PARTITION BY j ORDER BY k DESC) AS mnv FROM p),
      |iso AS (SELECT k AS rn, max(mnv) AS iso FROM mn GROUP BY k)
      |SELECT r.score, CAST(r.sy AS BIGINT) AS y, round(iso.iso, 6) AS iso
      |FROM r JOIN iso USING (rn) ORDER BY score""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val w = docs.agg(expr("shiftleft(CAST(1 AS BIGINT), length(bin(max(doc_id))))").as("pw"))
    val base = docs.crossJoin(broadcast(w))
      .select((col("n_chars").cast("double")
          + col("doc_id") / col("pw").cast("double")).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val g = base.groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    graft.ops.Isotonic.fit(g)
      .select(col("score"), col("sy").as("y"), round(col("iso"), 6).as("iso"))
      .orderBy(col("score"))
  }

  /** APPLY the isotonic fit to HELD-OUT scores — sklearn
    * `IsotonicRegression.transform`'s step-function semantic, completing
    * [[mlIsotonicFit]] to the fit → predict pair: train on doc_id ∉ 5ℤ,
    * predict each holdout score as the fitted value at the GREATEST
    * train score ≤ it (out-of-range-low clips to the first fitted
    * value, the sklearn boundary rule).
    *
    * Execution is a BUCKETED backward as-of (the PrefixSum shape, not a
    * single-task global sort): train rows and holdout points bucket by
    * train-score quantiles (monotone, broadcast boundaries), the as-of
    * resolves WITHIN each bucket as a partitioned
    * `last(iso, ignoreNulls)` running window (train rows sort before
    * test at equal keys), and cross-bucket carry is the classic scan
    * trick — a ≤64-row per-bucket last-train-value rollup whose only
    * unpartitioned window orders `__ps_bucket`, broadcast back. The
    * oracle states the same function via DuckDB's native ASOF JOIN —
    * an independent formulation, bit-matching because fitted values are
    * exact-BIGINT-ratio doubles ([[mlIsotonicFit]]'s argument).
    */
  /** Shared oracle CTE chain for the isotonic predict family: the
    * continuous score, the doc_id%5 holdout, the minimax isotonic fit
    * over the train fold (`fit` = (score, iso)), and the test fold `t`.
    */
  private val isotonicHoldoutCtes: String =
    """w AS (SELECT CAST(1 AS BIGINT) << length(bin(max(doc_id))) AS pw FROM documents),
      |s AS (SELECT doc_id, CAST(n_chars AS DOUBLE) + doc_id / CAST(pw AS DOUBLE) AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents, w),
      |g AS (SELECT score, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
      |      FROM s WHERE doc_id % 5 <> 0 GROUP BY score),
      |r AS (SELECT *, row_number() OVER (ORDER BY score) AS rn FROM g),
      |c AS (SELECT rn, score, n, sy,
      |        CAST(sum(n) OVER (ORDER BY rn) AS BIGINT) AS cn,
      |        CAST(sum(sy) OVER (ORDER BY rn) AS BIGINT) AS cp FROM r),
      |p AS (SELECT a.rn AS j, b.rn AS k,
      |        CAST(b.cp - (a.cp - a.sy) AS DOUBLE) / (b.cn - (a.cn - a.n)) AS m
      |      FROM c a JOIN c b ON a.rn <= b.rn),
      |mn AS (SELECT j, k, min(m) OVER (PARTITION BY j ORDER BY k DESC) AS mnv FROM p),
      |iso AS (SELECT k AS rn, max(mnv) AS iso FROM mn GROUP BY k),
      |fit AS (SELECT r.score, iso.iso FROM r JOIN iso USING (rn)),
      |t AS (SELECT score, CAST(y AS BIGINT) AS y FROM s WHERE doc_id % 5 = 0)""".stripMargin

  /** The ONE bucketed as-of scaffold behind BOTH isotonic predict
    * semantics (r13 verdict §3 — the interp query used to duplicate
    * it): fit the train fold with [[graft.ops.Isotonic.fit]], then
    * bracket every holdout score in one bucketed window pass — the
    * backward running-last train (score, iso) pair `lo` (the as-of
    * floor; cross-bucket backward carry folded in) and the forward
    * running-first pair `hi` (the strict ceiling; forward carry folded
    * in) share one WindowExec (same partitioning and ordering, two
    * frames) — plus `__first`, the lowest fitted value (the below-min
    * clip). Both sides bucket by train-score quantiles (monotone ⇒
    * as-of neighbors are in the same or an adjacent-carry bucket);
    * carries run over the ≤64-row bucket rollup (exclusive running
    * last/first ordered by `__ps_bucket` — the sweep-legal bounded
    * window), broadcast back. Returns (score, y, lo, hi, __first) with
    * lo/hi as nullable (s, i) structs. The step query keeps only the
    * floor; the interp query lerps between the pair.
    */
  private def isotonicBrackets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val w = docs.agg(expr("shiftleft(CAST(1 AS BIGINT), length(bin(max(doc_id))))").as("pw"))
    val base = docs.crossJoin(broadcast(w))
      .select(col("doc_id"),
        (col("n_chars").cast("double")
          + col("doc_id") / col("pw").cast("double")).as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val g = base.where(col("doc_id") % 5 =!= 0).groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
    val fitted = graft.ops.Isotonic.fit(g).select(col("score"), col("iso"))
    val test = base.where(col("doc_id") % 5 === 0).select(col("score"), col("y"))
    val bkts = 64
    val pcts = (1 until bkts).map(i => i.toDouble / bkts)
    val bnds = fitted.agg(percentile_approx(col("score"),
      lit(pcts.toArray), lit(10000)).as("__bnds"))
    def bucketed(df: DataFrame) = df.crossJoin(broadcast(bnds))
      .withColumn(graft.ops.PrefixSum.BucketCol, aggregate(col("__bnds"), lit(0),
        (acc, bd) => acc + when(col("score") >= bd, 1).otherwise(0)))
      .drop("__bnds")
    val u = bucketed(fitted.select(col("score"), col("iso"), lit(1).as("__t"))
      .unionByName(test.select(col("score"), lit(null).cast("double").as("iso"),
        lit(0).as("__t"))))
      .withColumn("tv", when(col("__t") === 1, struct(col("score").as("s"),
        col("iso").as("i"))))
    // ONE WindowExec, two frames: backward running-last train pair
    // (the as-of floor) + forward running-first train pair (the strict
    // ceiling — train rows sort BEFORE test at equal scores, so the
    // forward frame's first train is strictly greater)
    val spec = Window.partitionBy(col(graft.ops.PrefixSum.BucketCol))
      .orderBy(col("score").asc, col("__t").desc)
    val u2 = u
      .withColumn("n0", last(col("tv"), ignoreNulls = true)
        .over(spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n1", first(col("tv"), ignoreNulls = true)
        .over(spec.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    // two-directional cross-bucket carry over the <=64-row rollup
    val roll = u.groupBy(col(graft.ops.PrefixSum.BucketCol))
      .agg(max_by(col("tv"), when(col("__t") === 1, col("score"))).as("lastTv"),
        min_by(col("tv"), when(col("__t") === 1, col("score"))).as("firstTv"))
    val loW = Window.orderBy(col(graft.ops.PrefixSum.BucketCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hiW = Window.orderBy(col(graft.ops.PrefixSum.BucketCol))
      .rowsBetween(1, Window.unboundedFollowing)
    val carry = roll
      .withColumn("__clo", last(col("lastTv"), ignoreNulls = true).over(loW))
      .withColumn("__chi", first(col("firstTv"), ignoreNulls = true).over(hiW))
      .select(col(graft.ops.PrefixSum.BucketCol), col("__clo"), col("__chi"))
    val firstFit = fitted.agg(min_by(col("iso"), col("score")).as("__first"))
    u2.where(col("__t") === 0)
      .join(broadcast(carry), graft.ops.PrefixSum.BucketCol)
      .crossJoin(broadcast(firstFit))
      .withColumn("lo", coalesce(col("n0"), col("__clo")))
      .withColumn("hi", coalesce(col("n1"), col("__chi")))
      .join(test.select(col("score"), col("y")), "score")
      .select(col("score"), col("y"), col("lo"), col("hi"), col("__first"))
  }

  val mlIsotonicPredict: QueryDef = QueryDef.sql("ml_isotonic_predict",
    s"""WITH $isotonicHoldoutCtes
      |SELECT t.score, t.y,
      |  round(coalesce(f.iso, (SELECT iso FROM fit ORDER BY score LIMIT 1)), 6) AS pred
      |FROM t ASOF LEFT JOIN fit f ON t.score >= f.score
      |ORDER BY t.score""".stripMargin) { (s, dir) =>
    // step semantics (sklearn transform-at-train-points): the as-of
    // floor's fitted value; below-min clips to the first fitted value
    isotonicBrackets(s, dir)
      .select(col("score"), col("y"),
        round(coalesce(col("lo.i"), col("__first")), 6).as("pred"))
      .orderBy(col("score"))
  }

  /** LINEAR-INTERPOLATION isotonic predict — sklearn
    * `IsotonicRegression.predict`'s default (interpolate between fitted
    * thresholds; [[mlIsotonicPredict]] is the step-function
    * `transform`-at-train-points semantic): each holdout score finds
    * BOTH bracketing train points in ONE bucketed window pass — the
    * backward running-last train (score, iso) pair AND the forward
    * running-first pair share one WindowExec (same partitioning and
    * ordering, two frames) — and predicts
    * i0 + (i1 − i0)·(x − s0)/(s1 − s0); below-min clips to the first
    * fitted value, above-max to the last (the sklearn boundary rule).
    * Cross-bucket carries run in both directions over the ≤64-row
    * bucket rollup (exclusive running last/first ordered by
    * `__ps_bucket` — the sweep-legal bounded window), broadcast back.
    * The oracle states the same function via a DuckDB ASOF pair
    * (`>=` for the floor, `<` for the strict ceiling) + the IDENTICAL
    * lerp association `i0 + (i1 - i0) * (x - s0) / (s1 - s0)` — fitted
    * values are exact-BIGINT-ratio doubles and scores exact doubles,
    * so both engines lerp bit-identical inputs.
    */
  val mlIsotonicInterp: QueryDef = QueryDef.sql("ml_isotonic_interp",
    s"""WITH $isotonicHoldoutCtes,
      |lo AS (SELECT t.score, t.y, f.score AS s0, f.iso AS i0
      |       FROM t ASOF LEFT JOIN fit f ON t.score >= f.score),
      |hi AS (SELECT t.score, f.score AS s1, f.iso AS i1
      |       FROM t ASOF LEFT JOIN fit f ON t.score < f.score)
      |SELECT lo.score, lo.y,
      |  round(CASE
      |    WHEN lo.s0 IS NULL THEN (SELECT iso FROM fit ORDER BY score LIMIT 1)
      |    WHEN hi.s1 IS NULL THEN lo.i0
      |    ELSE lo.i0 + (hi.i1 - lo.i0) * (lo.score - lo.s0) / (hi.s1 - lo.s0)
      |  END, 6) AS pred
      |FROM lo JOIN hi USING (score)
      |ORDER BY lo.score""".stripMargin) { (s, dir) =>
    // lerp semantics (sklearn predict): interpolate between the
    // bracketing pair with the IDENTICAL association the oracle states
    isotonicBrackets(s, dir)
      .select(col("score"), col("y"),
        round(when(col("lo").isNull, col("__first"))
          .when(col("hi").isNull, col("lo.i"))
          .otherwise(col("lo.i") + (col("hi.i") - col("lo.i"))
            * (col("score") - col("lo.s")) / (col("hi.s") - col("lo.s"))), 6)
          .as("pred"))
      .orderBy(col("score"))
  }

  /** Split conformal prediction intervals (Vovk et al.; Lei et al.
    * 2018) — the distribution-free uncertainty layer a model-serving
    * pipeline wraps around ANY point predictor: fit on a train split,
    * take q̂ = the ⌈0.9·(n_cal+1)⌉-th smallest absolute residual on a
    * held-out calibration split, and [ŷ − q̂, ŷ + q̂] covers ≥ 90% of
    * fresh points BY THEOREM, no distributional assumption. Per
    * returnflag: OLS price~quantity on the train fold (the ml_linreg
    * exact-decimal-sum coefficients, unrounded internally), the
    * conformal order statistic selected by EXACT integer rank
    * (k = (9(n+1)+9) div 10 — no float quantile), and test-fold
    * empirical coverage + the interval half-width q̂ as the contract
    * check. Deterministic portable-hash 6/2/2 fold split.
    *
    * Scale shape: the model is a 3-row broadcast; residuals are
    * map-only; the rank selection is the two-level balanced PrefixSum
    * (a continuous residual domain is exactly where uniform buckets
    * collapse — the ml_auc_continuous setting), never a per-group
    * global sort; coverage is one grouped rollup. The oracle keeps the
    * single-window form (ml_mad precedent). Cross-engine exactness:
    * residuals are IEEE ops in one fixed association over
    * decimal-sum-derived coefficients, so both engines group and rank
    * bit-identical doubles.
    */
  val mlConformal: QueryDef = {
    val h = OracleSql.hash64("'conf'",
      "CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)")
    QueryDef.sql("ml_conformal",
      s"""WITH b AS (SELECT l_returnflag AS g,
         |    CAST(l_quantity AS DECIMAL(12,2)) AS dx,
         |    CAST(l_extendedprice AS DECIMAL(12,2)) AS dy,
         |    l_quantity AS x, l_extendedprice AS y,
         |    $h % 10 AS f
         |  FROM lineitem),
         |m AS (SELECT g, CAST(count(*) AS BIGINT) AS n_train,
         |    CAST(sum(dx) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
         |    CAST(sum(dx * dy) AS DOUBLE) AS sxy,
         |    CAST(sum(dx * dx) AS DOUBLE) AS sxx
         |  FROM b WHERE f < 6 GROUP BY g),
         |co AS (SELECT g, n_train,
         |    (n_train * sxy - sx * sy) / (n_train * sxx - sx * sx) AS slope,
         |    (sy * sxx - sx * sxy) / (n_train * sxx - sx * sx) AS icept FROM m),
         |ca AS (SELECT b.g, abs(b.y - (co.slope * b.x + co.icept)) AS a
         |      FROM b JOIN co ON co.g = b.g WHERE b.f IN (6, 7)),
         |cg AS (SELECT g, a, CAST(count(*) AS BIGINT) AS c FROM ca GROUP BY 1, 2),
         |cw AS (SELECT g, a,
         |        CAST(sum(c) OVER (PARTITION BY g ORDER BY a
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         |        CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n_cal FROM cg),
         |qh AS (SELECT g, n_cal,
         |        min(CASE WHEN cum >= (9 * (n_cal + 1) + 9) // 10 THEN a END) AS q
         |      FROM cw GROUP BY g, n_cal),
         |te AS (SELECT b.g, abs(b.y - (co.slope * b.x + co.icept)) AS a
         |      FROM b JOIN co ON co.g = b.g WHERE b.f >= 8),
         |cv AS (SELECT te.g, CAST(count(*) AS BIGINT) AS n_test,
         |        CAST(sum(CASE WHEN qh.q IS NULL OR te.a <= qh.q THEN 1 ELSE 0 END) AS BIGINT) AS hits
         |      FROM te JOIN qh ON qh.g = te.g GROUP BY te.g)
         |SELECT co.g AS l_returnflag, co.n_train, qh.n_cal, cv.n_test,
         |  round(qh.q, 6) AS q_hat,
         |  round(CAST(cv.hits AS DOUBLE) / cv.n_test, 6) AS coverage
         |FROM co JOIN qh ON qh.g = co.g JOIN cv ON cv.g = co.g
         |ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      // corpus-sized b is NOT persisted: three pruned parquet scans
      // (train/cal/test) beat caching the corpus at scale. A Spread
      // before the md5 fold split was A/B'd (r17-opt) and measured
      // SLOWER (4.7 -> 6.0 s at flat hf): the added exchange + extra
      // AQE stages cost more than the parallelized hash saves.
      def b = Tables.lineitem(s, dir).select(
        col("l_returnflag").as("g"),
        col("l_quantity").cast("decimal(12,2)").as("dx"),
        col("l_extendedprice").cast("decimal(12,2)").as("dy"),
        col("l_quantity").as("x"), col("l_extendedprice").as("y"),
        (expr(TextOps.portableHash64Sql("'conf'",
          "concat(CAST(l_orderkey AS STRING), '-', CAST(l_linenumber AS STRING))"))
          % 10).as("f"))
      val m = b.where(col("f") < 6).groupBy(col("g")).agg(
        count(lit(1)).as("n_train"),
        sum(col("dx")).cast("double").as("sx"),
        sum(col("dy")).cast("double").as("sy"),
        sum(col("dx") * col("dy")).cast("double").as("sxy"),
        sum(col("dx") * col("dx")).cast("double").as("sxx"))
      // 3-row model table, referenced by BOTH the calibration and test
      // legs — checkpoint so neither re-derives the train aggregate
      val co = m.select(col("g"), col("n_train"),
          ((col("n_train") * col("sxy") - col("sx") * col("sy")) /
            (col("n_train") * col("sxx") - col("sx") * col("sx"))).as("slope"),
          ((col("sy") * col("sxx") - col("sx") * col("sxy")) /
            (col("n_train") * col("sxx") - col("sx") * col("sx"))).as("icept"))
        .transform(graft.ops.Ckpt.eager)
      val cob = broadcast(co.select(col("g"), col("slope"), col("icept")))
      def resid = abs(col("y") - (col("slope") * col("x") + col("icept")))
      val cg = b.where(col("f").isin(6, 7)).join(cob, "g")
        .select(col("g"), resid.as("a"))
        .groupBy(col("g"), col("a")).agg(count(lit(1)).as("c"))
      val cum = graft.ops.PrefixSum.running(cg, Seq("g"), "a", Seq("c"),
        withTotals = true, balanced = true)
      val qh = cum
        .select(col("g"), col("a"), col("c_cum").as("cum"), col("c_tot").as("n_cal"))
        .groupBy(col("g"), col("n_cal"))
        .agg(min(when(col("cum") >= expr("(9 * (n_cal + 1) + 9) div 10"),
          col("a"))).as("q"))
        .transform(graft.ops.Ckpt.eager)
      val te = b.where(col("f") >= 8).join(cob, "g").select(col("g"), resid.as("a"))
      // k > n_cal (a tiny calibration fold) means q̂ = +∞ by the split
      // conformal convention — the interval covers everything — which
      // the rank selection surfaces as a NULL q: count it as covered,
      // not as a silent miss
      val cv = te.join(broadcast(qh.select(col("g"), col("q"))), "g")
        .groupBy(col("g")).agg(count(lit(1)).as("n_test"),
          sum(when(col("q").isNull || col("a") <= col("q"), 1L).otherwise(0L)).as("hits"))
      co.select(col("g"), col("n_train"))
        .join(qh.select(col("g"), col("n_cal"), col("q")), "g")
        .join(cv, "g")
        .select(col("g").as("l_returnflag"), col("n_train"), col("n_cal"),
          col("n_test"), round(col("q"), 6).as("q_hat"),
          round(col("hits").cast("double") / col("n_test"), 6).as("coverage"))
        .orderBy(col("l_returnflag"))
    }
  }

  /** CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    * Walker, WSDM 2013) — the adjustment every mature A/B platform
    * applies: per user, x = pre-period activity and y = experiment-
    * period activity (split at the corpus time midpoint, an exact
    * BIGINT both engines derive identically); θ = cov(x,y)/var(x)
    * pooled over ALL users, and each arm's adjusted mean is
    * ȳ_arm − θ·(x̄_arm − x̄). The emitted corr² IS the theoretical
    * variance-reduction fraction. Deterministic portable-hash arm
    * assignment; every moment is an exact BIGINT rollup cast to double
    * once (the ml_linreg discipline), so θ/corr²/diffs are fixed-
    * association doubles both engines share.
    *
    * Scale shape: ONE pass builds per-user (x, y), one grouped rollup
    * per arm carries ALL six moments, and the global moment row is the
    * 2-row arm table re-aggregated — no second corpus scan, no window;
    * the final assembly crosses three one-row frames.
    */
  val mlCuped: QueryDef = {
    val h = OracleSql.hash64("'cuped'", "CAST(user_id AS VARCHAR)")
    QueryDef.sql("ml_cuped",
      s"""WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
         |bounds AS (SELECT (min(us) + max(us)) // 2 AS mid FROM ev),
         |u0 AS (SELECT user_id,
         |        CAST(sum(CASE WHEN us < mid THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |        CAST(sum(CASE WHEN us >= mid THEN 1 ELSE 0 END) AS BIGINT) AS y
         |      FROM ev, bounds GROUP BY user_id),
         |u AS (SELECT x, y, $h % 2 AS arm FROM u0),
         |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS na,
         |        CAST(sum(x) AS BIGINT) AS sxa, CAST(sum(y) AS BIGINT) AS sya,
         |        CAST(sum(x * y) AS BIGINT) AS sxya,
         |        CAST(sum(x * x) AS BIGINT) AS sxxa,
         |        CAST(sum(y * y) AS BIGINT) AS syya
         |      FROM u GROUP BY arm),
         |m AS (SELECT CAST(sum(na) AS BIGINT) AS n,
         |        CAST(sum(sxa) AS DOUBLE) AS sx, CAST(sum(sya) AS DOUBLE) AS sy,
         |        CAST(sum(sxya) AS DOUBLE) AS sxy, CAST(sum(sxxa) AS DOUBLE) AS sxx,
         |        CAST(sum(syya) AS DOUBLE) AS syy FROM a),
         |th AS (SELECT n, sx,
         |        (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
         |        ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
         |          ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr2
         |      FROM m),
         |a1 AS (SELECT na AS na1, CAST(sxa AS DOUBLE) AS sxa1,
         |         CAST(sya AS DOUBLE) AS sya1 FROM a WHERE arm = 1),
         |a0 AS (SELECT na AS na0, CAST(sxa AS DOUBLE) AS sxa0,
         |         CAST(sya AS DOUBLE) AS sya0 FROM a WHERE arm = 0)
         |SELECT th.n, round(th.theta, 6) AS theta, round(th.corr2, 6) AS corr2,
         |  round(sya1 / na1 - sya0 / na0, 6) AS diff_raw,
         |  round((sya1 / na1 - th.theta * (sxa1 / na1 - th.sx / th.n))
         |      - (sya0 / na0 - th.theta * (sxa0 / na0 - th.sx / th.n)), 6) AS diff_adj
         |FROM th, a1, a0""".stripMargin) { (s, dir) =>
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      val ev = Tables.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val bounds = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
      val u = ev.crossJoin(broadcast(bounds))
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") < col("mid"), 1L).otherwise(0L)).as("x"),
          sum(when(col("us") >= col("mid"), 1L).otherwise(0L)).as("y"))
        .select(col("x"), col("y"),
          (expr(TextOps.portableHash64Sql("'cuped'", "CAST(user_id AS STRING)"))
            % 2).as("arm"))
      val a = u.groupBy(col("arm")).agg(count(lit(1)).as("na"),
        sum(col("x")).as("sxa"), sum(col("y")).as("sya"),
        sum(col("x") * col("y")).as("sxya"),
        sum(col("x") * col("x")).as("sxxa"),
        sum(col("y") * col("y")).as("syya"))
        .transform(graft.ops.Ckpt.eager)
      val m = a.agg(sum(col("na")).as("n"),
        sum(col("sxa")).cast("double").as("sx"),
        sum(col("sya")).cast("double").as("sy"),
        sum(col("sxya")).cast("double").as("sxy"),
        sum(col("sxxa")).cast("double").as("sxx"),
        sum(col("syya")).cast("double").as("syy"))
      val th = m.select(col("n"), col("sx"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))).as("theta"),
        (((col("n") * col("sxy") - col("sx") * col("sy")) *
          (col("n") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy")))).as("corr2"))
      val a1 = a.where(col("arm") === 1).select(col("na").as("na1"),
        col("sxa").cast("double").as("sxa1"), col("sya").cast("double").as("sya1"))
      val a0 = a.where(col("arm") === 0).select(col("na").as("na0"),
        col("sxa").cast("double").as("sxa0"), col("sya").cast("double").as("sya0"))
      th.crossJoin(a1).crossJoin(a0).select(
        col("n"), round(col("theta"), 6).as("theta"),
        round(col("corr2"), 6).as("corr2"),
        round(col("sya1") / col("na1") - col("sya0") / col("na0"), 6).as("diff_raw"),
        round((col("sya1") / col("na1")
            - col("theta") * (col("sxa1") / col("na1") - col("sx") / col("n")))
          - (col("sya0") / col("na0")
            - col("theta") * (col("sxa0") / col("na0") - col("sx") / col("n"))), 6)
          .as("diff_adj"))
    }
  }

  val mlBootstrapCi: QueryDef = {
    val ts = Seq(424136118829305329L, 848272237658610659L, 1060340297073263324L,
      1131029650211480879L, 1148701988496035267L)
    val wCase = ts.zipWithIndex.map { case (t, k) => s"WHEN h < ${t}L THEN $k" }
      .mkString("CASE ", " ", " ELSE 5 END")
    val wCaseDuck = wCase.replace("L THEN", " THEN")
    QueryDef.sql("ml_bootstrap_ci",
      s"""WITH x AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS x FROM documents),
         |e AS (SELECT r, x,
         |        ${OracleSql.hash64("'bs' || CAST(r AS VARCHAR)", "CAST(doc_id AS VARCHAR)")} AS h
         |      FROM x, range(1, 21) t(r)),
         |m AS (SELECT r, CAST(sum(($wCaseDuck) * x) AS BIGINT) AS sx,
         |        CAST(sum($wCaseDuck) AS BIGINT) AS sw
         |      FROM e GROUP BY r),
         |rk AS (SELECT CAST(sx AS DOUBLE) / nullif(sw, 0) AS mu,
         |         row_number() OVER (ORDER BY CAST(sx AS DOUBLE) / nullif(sw, 0)) AS rn FROM m),
         |base AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |           round(CAST(sum(x) AS DOUBLE) / count(*), 6) AS mean FROM x)
         |SELECT n, mean,
         |  (SELECT round(mu, 6) FROM rk WHERE rn = 2) AS lo,
         |  (SELECT round(mu, 6) FROM rk WHERE rn = 19) AS hi
         |FROM base""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      val x = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars").cast("long").as("x"))
      val e = x.withColumn("r", explode(sequence(lit(1), lit(20))))
        .withColumn("h", expr(TextOps.portableHash64Sql(
          "concat('bs', CAST(r AS STRING))", "CAST(doc_id AS STRING)")))
        .withColumn("w", expr(wCase))
      val m = e.groupBy(col("r")).agg(
        sum(col("w") * col("x")).cast("long").as("sx"),
        sum(col("w")).cast("long").as("sw"))
      val mu = (col("sx").cast("double") / nullif(col("sw"), lit(0L))).as("mu")
      val rk = m.select(mu)
        .withColumn("rn", row_number().over(Window.orderBy(col("mu"))))
      val base = x.agg(count(lit(1)).as("n"),
        round(sum(col("x")).cast("double") / count(lit(1)), 6).as("mean"))
      base.crossJoin(broadcast(rk.where(col("rn") === 2).select(round(col("mu"), 6).as("lo"))))
        .crossJoin(broadcast(rk.where(col("rn") === 19).select(round(col("mu"), 6).as("hi"))))
        .select(col("n"), col("mean"), col("lo"), col("hi"))
    }
  }

  /** Gini-optimal decision stump on n_chars for the en-vs-rest target —
    * the one-split tree trainer, in the same DISTRIBUTED shape as
    * [[mlAuc]]: group once by feature value (event-sized exchange,
    * map-side combinable), then every split evaluation is a running
    * class-count window over the DISTINCT-value table (value-domain-
    * sized, never corpus-sized) — the naive form scores each candidate
    * threshold with its own corpus pass. Gini is used instead of
    * entropy because it is RATIONAL: each side's impurity term
    * (n² − p² − q²)/n is exact BIGINT arithmetic over the cumulative
    * counts with one double division, so the argmin ordering is
    * cross-engine identical (no log). Counts above ~3e9 per class would
    * need DECIMAL squares; fine to the petabyte class. Output: the best
    * threshold (x <= split goes left), its left/right sizes, weighted
    * Gini, and the majority-vote accuracy of the resulting stump.
    */
  val mlDecisionStump: QueryDef = QueryDef.sql("ml_decision_stump",
    """WITH s AS (SELECT CAST(n_chars AS BIGINT) AS x,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
      |g AS (SELECT x, CAST(sum(y) AS BIGINT) AS p,
      |        CAST(count(*) - sum(y) AS BIGINT) AS q FROM s GROUP BY x),
      |c AS (SELECT x,
      |        CAST(sum(p) OVER w AS BIGINT) AS pl, CAST(sum(q) OVER w AS BIGINT) AS ql,
      |        CAST(sum(p) OVER () AS BIGINT) AS pt, CAST(sum(q) OVER () AS BIGINT) AS qt
      |      FROM g WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |e AS (SELECT x, pl, ql, pt - pl AS pr, qt - ql AS qr, pt, qt
      |      FROM c WHERE pt - pl + qt - ql > 0),
      |gi AS (SELECT x, pl, ql, pr, qr, pt, qt,
      |        (CAST((pl + ql) * (pl + ql) - pl * pl - ql * ql AS DOUBLE) / (pl + ql)
      |         + CAST((pr + qr) * (pr + qr) - pr * pr - qr * qr AS DOUBLE) / (pr + qr))
      |        / (pt + qt) AS gini
      |      FROM e)
      |SELECT x AS split_value, pl + ql AS n_left, pr + qr AS n_right,
      |  round(gini, 6) AS gini,
      |  round(CAST(greatest(pl, ql) + greatest(pr, qr) AS DOUBLE) / (pt + qt), 6) AS acc
      |FROM (SELECT gi.*, row_number() OVER (ORDER BY gini, x) AS rn FROM gi)
      |WHERE rn = 1""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .select(col("n_chars").cast("long").as("x"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val g = base.groupBy(col("x"))
      .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("q"))
    // two-level bucketed prefix (PrefixSum scaladoc); totals ride the
    // bucket rollup instead of an unpartitioned totals window.
    val c = graft.ops.PrefixSum.running(g, Nil, "x", Seq("p", "q"), withTotals = true)
      .select(col("x"), col("p_cum").as("pl"), col("q_cum").as("ql"),
        col("p_tot").as("pt"), col("q_tot").as("qt"))
    val e = c.select(col("x"), col("pl"), col("ql"),
        (col("pt") - col("pl")).as("pr"), (col("qt") - col("ql")).as("qr"),
        col("pt"), col("qt"))
      .where(col("pr") + col("qr") > 0)
    val nl = col("pl") + col("ql")
    val nr = col("pr") + col("qr")
    val gi = e.withColumn("gini",
      ((nl * nl - col("pl") * col("pl") - col("ql") * col("ql")).cast("double") / nl +
        (nr * nr - col("pr") * col("pr") - col("qr") * col("qr")).cast("double") / nr) /
        (col("pt") + col("qt")))
    // argmin as a distributed top-1 (TakeOrderedAndProject: partial
    // top-k per partition), not a single-task row_number window.
    gi.orderBy(col("gini"), col("x")).limit(1)
      .select(col("x").as("split_value"),
        (col("pl") + col("ql")).as("n_left"), (col("pr") + col("qr")).as("n_right"),
        round(col("gini"), 6).as("gini"),
        round((greatest(col("pl"), col("ql")) + greatest(col("pr"), col("qr"))).cast("double") /
          (col("pt") + col("qt")), 6).as("acc"))
  }

  /** Herfindahl–Hirschman index of SOURCE concentration — the
    * one-number "is this corpus one feed wearing a trenchcoat" audit
    * beside [[mlGini]] (length inequality) and [[mlSimpsonDiversity]]
    * (within-source lang mix): HHI = Σ n_s²/N², plus the top source's
    * share — exact integer cross products, two divisions, one
    * source-sized rollup.
    */
  val mlHerfindahl: QueryDef = QueryDef.sql("ml_herfindahl",
    """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_sources, CAST(sum(n) AS BIGINT) AS n_docs,
      |  round(CAST(sum(n * n) AS DOUBLE) / (sum(n) * sum(n)), 6) AS hhi,
      |  round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_share
      |FROM g""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_sources"), sum(col("n")).cast("long").as("n_docs"),
        round(sum(col("n") * col("n")).cast("double") /
          (sum(col("n")) * sum(col("n"))), 6).as("hhi"),
        round(max(col("n")).cast("double") / sum(col("n")), 6).as("top_share"))
  }

  /** Median absolute deviation per source — the robust σ (breakdown
    * point ½ vs the mean/σ's zero) a cleaning pass prefers under heavy
    * tails: median by exact integer rank selection over the per-source
    * distinct-value cumulative, then MAD by a SECOND rank selection
    * over the |x − med| deviation table (itself value-domain-sized).
    * Entirely BIGINT — two grouped rollups and two windows, no
    * interpolation, nothing engine-dependent.
    */
  val mlMad: QueryDef = QueryDef.sql("ml_mad",
    """WITH s AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
      |g AS (SELECT source, x, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
      |cw AS (SELECT source, x, c,
      |        CAST(sum(c) OVER (PARTITION BY source ORDER BY x
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |        CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n FROM g),
      |med AS (SELECT source, n,
      |          CAST(min(CASE WHEN 2 * cum >= n THEN x END) AS BIGINT) AS med
      |        FROM cw GROUP BY source, n),
      |dev AS (SELECT g.source, abs(g.x - med.med) AS d, CAST(sum(g.c) AS BIGINT) AS c
      |        FROM g JOIN med ON med.source = g.source GROUP BY 1, 2),
      |dw AS (SELECT source, d, c,
      |        CAST(sum(c) OVER (PARTITION BY source ORDER BY d
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |        CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n FROM dev),
      |mad AS (SELECT source, CAST(min(CASE WHEN 2 * cum >= n THEN d END) AS BIGINT) AS mad
      |        FROM dw GROUP BY source)
      |SELECT med.source, med.n, med.med, mad.mad
      |FROM med JOIN mad ON mad.source = med.source
      |ORDER BY med.source""".stripMargin) { (s, dir) =>
    val g = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").cast("long").as("x"))
      .groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per-source two-level bucketed prefix (PrefixSum scaladoc): a
    // continuous measure makes the per-source distinct table source-
    // sized, so the rank selection buckets within each source too.
    def rankSelect(t: org.apache.spark.sql.DataFrame, v: String, out: String) = {
      graft.ops.PrefixSum.running(t, Seq("source"), v, Seq("c"), withTotals = true)
        .select(col("source"), col(v), col("c_cum").as("cum"), col("c_tot").as("n"))
        .groupBy(col("source"), col("n"))
        .agg(min(when(lit(2) * col("cum") >= col("n"), col(v))).cast("long").as(out))
    }
    // med is sources-sized: eagerly checkpoint it so the deviation
    // table's THREE references inside the second rank selection
    // (bounds rollup, within-bucket window, bucket rollup) reuse a
    // 20-row scan instead of re-deriving the whole median subplan —
    // without this the nested two-level prefixes multiply the plan
    // (measured 8.3 s -> sub-second at sf0.1)
    val med = rankSelect(g, "x", "med").transform(graft.ops.Ckpt.eager)
    val dev = g.join(broadcast(med.select(col("source"), col("med"))), "source")
      .groupBy(col("source"), abs(col("x") - col("med")).as("d"))
      .agg(sum(col("c")).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mad = rankSelect(dev, "d", "mad").select(col("source"), col("mad"))
    val out = med.join(mad, "source")
      .select(col("source"), col("n"), col("med"), col("mad"))
      .orderBy(col("source"))
      .transform(graft.ops.Ckpt.eager)
    g.unpersist(false)
    dev.unpersist(false)
    med.unpersist()
    out
  }

  /** Tukey-fence outlier census per source: quartiles by EXACT integer
    * rank selection over the per-source distinct-value cumulative
    * (q1 = min x with 4·cum ≥ n — no interpolation), and the 1.5·IQR
    * fences evaluated in doubled-integer form (2x < 2q1 − 3(q3−q1)) so
    * the entire operator is BIGINT comparisons — the data-cleaning
    * census that decides clipping thresholds, with nothing for two
    * engines to disagree on. One grouped rollup + one value-domain
    * window per source.
    */
  val mlOutlierIqr: QueryDef = QueryDef.sql("ml_outlier_iqr",
    """WITH s AS (SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
      |g AS (SELECT source, x, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
      |cw AS (SELECT source, x, c,
      |        CAST(sum(c) OVER (PARTITION BY source ORDER BY x
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |        CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n FROM g),
      |q AS (SELECT source, n,
      |        CAST(min(CASE WHEN 4 * cum >= n THEN x END) AS BIGINT) AS q1,
      |        CAST(min(CASE WHEN 4 * cum >= 3 * n THEN x END) AS BIGINT) AS q3
      |      FROM cw GROUP BY source, n)
      |SELECT g.source, q.n, q.q1, q.q3,
      |  CAST(sum(CASE WHEN 2 * g.x < 2 * q.q1 - 3 * (q.q3 - q.q1) THEN g.c ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(sum(CASE WHEN 2 * g.x > 2 * q.q3 + 3 * (q.q3 - q.q1) THEN g.c ELSE 0 END) AS BIGINT) AS n_high
      |FROM g JOIN q ON q.source = g.source
      |GROUP BY 1, 2, 3, 4 ORDER BY g.source""".stripMargin) { (s, dir) =>
    val g = Tables.documents(s, dir)
      .select(col("source"), col("n_chars").cast("long").as("x"))
      .groupBy(col("source"), col("x")).agg(count(lit(1)).as("c"))
    // per-source two-level bucketed prefix (PrefixSum scaladoc, the
    // ml_mad rank-selection shape).
    val cw = graft.ops.PrefixSum.running(g, Seq("source"), "x", Seq("c"), withTotals = true)
      .select(col("source"), col("x"), col("c_cum").as("cum"), col("c_tot").as("n"))
    val q = cw.groupBy(col("source"), col("n")).agg(
      min(when(lit(4) * col("cum") >= col("n"), col("x"))).cast("long").as("q1"),
      min(when(lit(4) * col("cum") >= lit(3) * col("n"), col("x"))).cast("long").as("q3"))
    g.join(broadcast(q), "source")
      .groupBy(col("source"), col("n"), col("q1"), col("q3"))
      .agg(
        sum(when(lit(2) * col("x") < lit(2) * col("q1") - lit(3) * (col("q3") - col("q1")),
          col("c")).otherwise(0L)).cast("long").as("n_low"),
        sum(when(lit(2) * col("x") > lit(2) * col("q3") + lit(3) * (col("q3") - col("q1")),
          col("c")).otherwise(0L)).cast("long").as("n_high"))
      .orderBy(col("source"))
  }

  /** Population stability index between the corpus halves on document
    * length — [[mlKsTest]]'s binned sibling (the scorecard-monitoring
    * standard): decile boundaries come from the REFERENCE half by exact
    * integer rank selection over the distinct-value cumulative
    * (b_k = min x with 10·cum ≥ k·n — no interpolation to disagree on),
    * bins are the count of boundaries passed, and each bin's PSI term
    * (p_r − p_c)·ln(p_r/p_c) is a PER-ROW double (round-6 swallows the
    * one ln's last-ulp risk; there is no cross-row double sum — summing
    * the column is the reader's trivial step, the engine emits exact
    * per-bin counts beside it). Bins empty on either side report NULL
    * (the production recipe adds epsilon; an audit should SEE the
    * degenerate bin instead). The 9-row boundary crosses are
    * domain-sized (PlanSpec-allowlisted).
    */
  val mlPsi: QueryDef = QueryDef.sql("ml_psi",
    """WITH s AS (SELECT CAST(n_chars AS BIGINT) AS x, doc_id % 2 AS grp FROM documents),
      |g AS (SELECT grp, x, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
      |rc AS (SELECT x,
      |         CAST(sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |         CAST(sum(c) OVER () AS BIGINT) AS n
      |       FROM g WHERE grp = 0),
      |b AS (SELECT k, min(x) AS bx FROM rc, range(1, 10) t(k)
      |      WHERE 10 * cum >= k * n GROUP BY k),
      |gx AS (SELECT DISTINCT x FROM g),
      |bx AS (SELECT gx.x, CAST(count(b.k) AS BIGINT) AS bin
      |       FROM gx LEFT JOIN b ON gx.x >= b.bx GROUP BY gx.x),
      |cnt AS (SELECT bin,
      |          CAST(sum(CASE WHEN grp = 0 THEN c ELSE 0 END) AS BIGINT) AS n_ref,
      |          CAST(sum(CASE WHEN grp = 1 THEN c ELSE 0 END) AS BIGINT) AS n_cur
      |        FROM g JOIN bx ON bx.x = g.x GROUP BY bin),
      |t AS (SELECT bin, n_ref, n_cur,
      |        CAST(sum(n_ref) OVER () AS BIGINT) AS nr,
      |        CAST(sum(n_cur) OVER () AS BIGINT) AS nc FROM cnt)
      |SELECT bin, n_ref, n_cur,
      |  CASE WHEN n_ref > 0 AND n_cur > 0 THEN
      |    round((CAST(n_ref AS DOUBLE) / nr - CAST(n_cur AS DOUBLE) / nc) *
      |          ln((CAST(n_ref AS DOUBLE) / nr) / (CAST(n_cur AS DOUBLE) / nc)), 6)
      |  END AS psi_part
      |FROM t ORDER BY bin""".stripMargin) { (s, dir) =>
    val s0 = Tables.documents(s, dir)
      .select(col("n_chars").cast("long").as("x"), (col("doc_id") % 2).as("grp"))
    val g = s0.groupBy(col("grp"), col("x")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // two-level bucketed prefix over the reference half (PrefixSum
    // scaladoc); the half's total rides the bucket rollup.
    val rc = graft.ops.PrefixSum
      .running(g.where(col("grp") === 0), Nil, "x", Seq("c"), withTotals = true)
      .select(col("x"), col("c_cum").as("cum"), col("c_tot").as("n"))
    val b = rc.crossJoin(broadcast(s.range(1, 10).select(col("id").as("k"))))
      .where(lit(10) * col("cum") >= col("k") * col("n"))
      .groupBy(col("k")).agg(min(col("x")).as("bx"))
    val gx = g.select(col("x")).distinct()
    val bx = gx.join(broadcast(b), col("x") >= col("bx"), "left")
      .groupBy(col("x")).agg(count(col("k")).cast("long").as("bin"))
    val cnt = g.join(bx, "x").groupBy(col("bin")).agg(
      sum(when(col("grp") === 0, col("c")).otherwise(0L)).cast("long").as("n_ref"),
      sum(when(col("grp") === 1, col("c")).otherwise(0L)).cast("long").as("n_cur"))
    // bin-table totals as a one-row broadcast (the ml_length_buckets
    // scalar-cross shape) — no unpartitioned totals window.
    val tots = cnt.agg(sum(col("n_ref")).cast("long").as("nr"),
      sum(col("n_cur")).cast("long").as("nc"))
    val t = cnt.crossJoin(broadcast(tots))
      .select(col("bin"), col("n_ref"), col("n_cur"), col("nr"), col("nc"))
    val pr = col("n_ref").cast("double") / col("nr")
    val pc = col("n_cur").cast("double") / col("nc")
    val out = t.select(col("bin"), col("n_ref"), col("n_cur"),
        when(col("n_ref") > 0 && col("n_cur") > 0,
          round((pr - pc) * log(pr / pc), 6)).as("psi_part"))
      .orderBy(col("bin"))
      .transform(graft.ops.Ckpt.eager)
    g.unpersist(false)
    out
  }

  /** Pairwise Pearson correlation matrix of the four lineitem numeric
    * features, ALL SIX pairs from ONE scan: every moment (sums, squares,
    * cross products) accumulates as an exact DECIMAL, and each r is a
    * single-row double chain over the cast moments — the feature-audit
    * a tabular pipeline runs before model fitting, at the cost of one
    * map-side-combined aggregate (the naive per-pair corr() rescans
    * 6 times).
    */
  val mlCorrMatrix: QueryDef = {
    val vars = Seq("q" -> "l_quantity", "p" -> "l_extendedprice",
      "d" -> "l_discount", "t" -> "l_tax")
    // DECIMAL(12,2), the ml_linreg precedent: every feature is exactly
    // 2-decimal in the data, and DuckDB executes narrow-decimal
    // products in int64 — scale 2 keeps price² at ~1e14 internal
    // (scale 4 overflowed it); the SUMS are wide in both engines
    val decls = vars.map { case (a, c) => s"CAST($c AS DECIMAL(12,2)) AS $a" }.mkString(", ")
    val sums = vars.map { case (a, _) => s"sum($a) AS s_$a" } ++
      vars.map { case (a, _) => s"sum($a * $a) AS s_$a$a" } ++
      vars.combinations(2).map { case Seq((a, _), (b, _)) => s"sum($a * $b) AS s_$a$b" }.toSeq
    def corrSql(a: String, b: String): String =
      s"""round((n * CAST(s_$a$b AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)) /
         |    nullif(sqrt(n * CAST(s_$a$a AS DOUBLE) - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)) *
         |           sqrt(n * CAST(s_$b$b AS DOUBLE) - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)), 0), 6)""".stripMargin
    val legs = vars.combinations(2).map { case Seq((a, _), (b, _)) =>
      s"SELECT '$a' AS va, '$b' AS vb, ${corrSql(a, b)} AS corr FROM m" }.mkString("\nUNION ALL ")
    QueryDef.sql("ml_corr_matrix",
      s"""WITH r AS (SELECT $decls FROM lineitem),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS n, ${sums.mkString(", ")} FROM r)
         |$legs
         |ORDER BY va, vb""".stripMargin) { (s, dir) =>
      val r = Tables.lineitem(s, dir).select(
        vars.map { case (a, c) => expr(s"CAST($c AS DECIMAL(12,2))").as(a) }: _*)
      val aggs = Seq(count(lit(1)).as("n")) ++
        vars.map { case (a, _) => sum(col(a)).as(s"s_$a") } ++
        vars.map { case (a, _) => sum(col(a) * col(a)).as(s"s_$a$a") } ++
        vars.combinations(2).map { case Seq((a, _), (b, _)) =>
          sum(col(a) * col(b)).as(s"s_$a$b") }.toSeq
      val m = r.agg(aggs.head, aggs.tail: _*).transform(graft.ops.Ckpt.eager)
      val legs = vars.combinations(2).map { case Seq((a, _), (b, _)) =>
        m.select(lit(a).as("va"), lit(b).as("vb"),
          expr(corrSql(a, b).replace("\n", " ")).as("corr"))
      }.toSeq
      legs.reduce(_ unionAll _).orderBy(col("va"), col("vb"))
    }
  }

  /** Matthews correlation of the en-vs-rest lang-id decision — the
    * chance-corrected scalar beside [[mlClassifierEval]]'s per-class
    * table (accuracy lies under imbalance; MCC does not). The four
    * confusion cells are exact BIGINTs from one prediction pass; the
    * score is one double chain (the denominator's product stays in the
    * double domain — factors cap at N² each, far inside double range).
    */
  val mlMcc: QueryDef = QueryDef.sql("ml_mcc",
    s"""WITH c AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
       |    CASE WHEN (${TextQueries.langCaseSql.replace("\n", " ")}) = 'en' THEN 1 ELSE 0 END AS p
       |  FROM (SELECT lang, ${TextQueries.langCntsDuck} FROM documents)),
       |m AS (SELECT CAST(sum(y * p) AS BIGINT) AS tp,
       |        CAST(sum((1 - y) * p) AS BIGINT) AS fp,
       |        CAST(sum(y * (1 - p)) AS BIGINT) AS fn,
       |        CAST(sum((1 - y) * (1 - p)) AS BIGINT) AS tn FROM c)
       |SELECT tp, fp, fn, tn,
       |  round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) /
       |    nullif(sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp) * (tn + fn)), 0), 6)
       |    AS mcc
       |FROM m""".stripMargin) { (s, dir) =>
    val c = Tables.documents(s, dir)
      .select(Seq(col("lang")) ++ TextQueries.langCntCols: _*)
      .select(when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        when(expr(TextQueries.langCaseSql) === "en", 1L).otherwise(0L).as("p"))
    val m = c.agg(
      sum(col("y") * col("p")).cast("long").as("tp"),
      sum((lit(1) - col("y")) * col("p")).cast("long").as("fp"),
      sum(col("y") * (lit(1) - col("p"))).cast("long").as("fn"),
      sum((lit(1) - col("y")) * (lit(1) - col("p"))).cast("long").as("tn"))
    m.select(col("tp"), col("fp"), col("fn"), col("tn"),
      round((col("tp").cast("double") * col("tn") - col("fp").cast("double") * col("fn")) /
        nullif(sqrt((col("tp") + col("fp")).cast("double") * (col("tp") + col("fn")) *
          (col("tn") + col("fp")) * (col("tn") + col("fn"))), lit(0.0)), 6).as("mcc"))
  }

  /** Cohen's kappa between the lang-id prediction and the label over
    * ALL classes — chance-corrected multi-class agreement, ENTIRELY
    * integer until the last division via the identity
    * κ = (N·Σdiag − Σ_c row_c·col_c) / (N² − Σ_c row_c·col_c): the
    * marginal products come off a class-sized confusion rollup densed
    * implicitly (absent marginals are exact zeros), so no
    * transcendental and no cross-row double sum anywhere.
    */
  val mlCohenKappa: QueryDef = QueryDef.sql("ml_cohen_kappa",
    s"""WITH c AS (SELECT lang AS actual, ${TextQueries.langCaseSql.replace("\n", " ")} AS pred
       |  FROM (SELECT lang, ${TextQueries.langCntsDuck} FROM documents)),
       |cells AS (SELECT actual, pred, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1, 2),
       |mg AS (SELECT coalesce(r.cl, p.cl) AS cl, coalesce(r.rn, 0) AS rn, coalesce(p.pn, 0) AS pn
       |       FROM (SELECT actual AS cl, CAST(sum(n) AS BIGINT) AS rn FROM cells GROUP BY 1) r
       |       FULL OUTER JOIN (SELECT pred AS cl, CAST(sum(n) AS BIGINT) AS pn FROM cells GROUP BY 1) p
       |       ON p.cl = r.cl),
       |t AS (SELECT CAST((SELECT sum(n) FROM cells) AS BIGINT) AS nn,
       |        CAST((SELECT sum(n) FROM cells WHERE actual = pred) AS BIGINT) AS diag,
       |        CAST(sum(rn * pn) AS BIGINT) AS chance FROM mg)
       |SELECT nn, diag, chance,
       |  round(CAST(nn * diag - chance AS DOUBLE) / nullif(nn * nn - chance, 0), 6) AS kappa
       |FROM t""".stripMargin) { (s, dir) =>
    val c = Tables.documents(s, dir)
      .select(Seq(col("lang")) ++ TextQueries.langCntCols: _*)
      .select(col("lang").as("actual"), expr(TextQueries.langCaseSql).as("pred"))
    val cells = c.groupBy(col("actual"), col("pred")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r = cells.groupBy(col("actual").as("cl")).agg(sum(col("n")).cast("long").as("rn"))
    val p = cells.groupBy(col("pred").as("cl")).agg(sum(col("n")).cast("long").as("pn"))
    val mg = r.join(p, Seq("cl"), "full_outer")
      .select(coalesce(col("rn"), lit(0L)).as("rn"), coalesce(col("pn"), lit(0L)).as("pn"))
    val totals = cells.agg(sum(col("n")).cast("long").as("nn"),
      sum(when(col("actual") === col("pred"), col("n")).otherwise(0L)).cast("long").as("diag"))
    val out = mg.agg(sum(col("rn") * col("pn")).cast("long").as("chance"))
      .crossJoin(broadcast(totals))
      .select(col("nn"), col("diag"), col("chance"),
        round((col("nn") * col("diag") - col("chance")).cast("double") /
          nullif(col("nn") * col("nn") - col("chance"), lit(0L)), 6).as("kappa"))
      .transform(graft.ops.Ckpt.eager)
    cells.unpersist(false)
    out
  }

  /** Gini coefficient of document-length concentration — the
    * inequality audit a corpus report keeps next to its source mixture
    * (a few giant documents dominating token mass is a real training
    * pathology). Computed on the GROUPED identity: for sorted values
    * the numerator Σ(2i−n−1)xᵢ collapses per distinct value v with
    * count c and preceding cumulative count m to
    * x·(2·(c·m + c(c+1)/2) − c(n+1)) — all BIGINT over the
    * DISTINCT-value cumulative table (the [[mlAuc]] shape), so the
    * whole statistic is integer-exact with ONE double division
    * G = num / (n·Σx). The naive form sorts the corpus and windows
    * over every ROW; this windows over distinct values only.
    */
  val mlGini: QueryDef = QueryDef.sql("ml_gini",
    """WITH s AS (SELECT CAST(n_chars AS BIGINT) AS x FROM documents),
      |g AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY x),
      |cw AS (SELECT x, c,
      |        CAST(coalesce(sum(c) OVER (ORDER BY x
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS m,
      |        CAST(sum(c) OVER () AS BIGINT) AS n,
      |        CAST(sum(x * c) OVER () AS BIGINT) AS sx
      |      FROM g)
      |SELECT n, sx AS sum_chars,
      |  CAST(sum(x * (2 * (c * m + c * (c + 1) // 2) - c * (n + 1))) AS BIGINT) AS gini_num,
      |  round(CAST(sum(x * (2 * (c * m + c * (c + 1) // 2) - c * (n + 1))) AS DOUBLE)
      |        / (n * sx), 6) AS gini
      |FROM cw GROUP BY n, sx""".stripMargin) { (s, dir) =>
    val g = Tables.documents(s, dir)
      .select(col("n_chars").cast("long").as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("c"))
      .withColumn("xc", col("x") * col("c"))
    // two-level bucketed prefix (PrefixSum scaladoc): m is the
    // EXCLUSIVE cumulative (inclusive − own row); n and Σx ride the
    // bucket rollup instead of unpartitioned totals windows.
    val cw = graft.ops.PrefixSum.running(g, Nil, "x", Seq("c", "xc"), withTotals = true)
      .select(col("x"), col("c"), (col("c_cum") - col("c")).as("m"),
        col("c_tot").as("n"), col("xc_tot").as("sx"))
    val term = col("x") *
      (lit(2) * (col("c") * col("m") + expr("c * (c + 1) div 2")) -
        col("c") * (col("n") + 1))
    cw.groupBy(col("n"), col("sx")).agg(sum(term).cast("long").as("gini_num"))
      .select(col("n"), col("sx").as("sum_chars"), col("gini_num"),
        round(col("gini_num").cast("double") / (col("n") * col("sx")), 6).as("gini"))
  }

  /** Simpson diversity of the lang mix per source — the log-free
    * diversity index (probability two random docs from the source share
    * a language, inverted): D = 1 − Σ n_l² / n_s², exact integer cross
    * products with one double division, so unlike a Shannon entropy
    * there is no transcendental to disagree on. One (source, lang)
    * rollup; structural zeros contribute nothing (no densing needed —
    * absent classes have n_l = 0 exactly).
    */
  val mlSimpsonDiversity: QueryDef = QueryDef.sql("ml_simpson_diversity",
    """WITH sl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl
      |  FROM documents GROUP BY 1, 2)
      |SELECT source, CAST(sum(n_sl) AS BIGINT) AS n,
      |  CAST(count(*) AS BIGINT) AS n_langs,
      |  round(1 - CAST(sum(n_sl * n_sl) AS DOUBLE) / (sum(n_sl) * sum(n_sl)), 6) AS simpson
      |FROM sl GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    Tables.documents(s, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_sl"))
      .groupBy(col("source"))
      .agg(sum(col("n_sl")).cast("long").as("n"),
        count(lit(1)).as("n_langs"),
        round(lit(1) - sum(col("n_sl") * col("n_sl")).cast("double") /
          (sum(col("n_sl")) * sum(col("n_sl"))), 6).as("simpson"))
      .orderBy(col("source"))
  }

  /** 5-fold cross-validated OLS in ONE corpus scan: folds are assigned
    * by the portable row hash, per-fold moment vectors (n, Σx, Σy, Σxy,
    * Σx², Σy²) accumulate as EXACT DECIMAL sums, and each fold's
    * TRAINING moments are global-minus-fold (a window over the 5-row
    * fold table — moments are additive, so leave-fold-out needs no
    * second pass). The held-out MSE uses the moment identity
    * Σ(y−a−bx)² = Σy² − 2aΣy − 2bΣxy + 2abΣx + a²n + b²Σx², so there
    * is NO per-row prediction pass either — the naive CV shape scans
    * the corpus 2k times; this is one scan plus 5-row arithmetic.
    * Slope/intercept/MSE are single-row double chains over the exact
    * decimal moments, written identically in both engines.
    */
  val mlCvLinreg: QueryDef = {
    val h = OracleSql.hash64("'cv'",
      "CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")
    QueryDef.sql("ml_cv_linreg",
      s"""WITH r AS (SELECT CAST(l_quantity AS DECIMAL(12,2)) AS x,
         |    CAST(l_extendedprice AS DECIMAL(12,2)) AS y, $h % 5 AS fold FROM lineitem),
         |f AS (SELECT fold, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         |        sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
         |      FROM r GROUP BY fold),
         |g AS (SELECT fold, n, sx, sy, sxy, sxx, syy,
         |        CAST(sum(n) OVER () - n AS DOUBLE) AS tn,
         |        CAST(sum(sx) OVER () - sx AS DOUBLE) AS tsx,
         |        CAST(sum(sy) OVER () - sy AS DOUBLE) AS tsy,
         |        CAST(sum(sxy) OVER () - sxy AS DOUBLE) AS tsxy,
         |        CAST(sum(sxx) OVER () - sxx AS DOUBLE) AS tsxx
         |      FROM f),
         |b AS (SELECT fold, n, sx, sy, sxy, sxx, syy, tn, tsx, tsy,
         |        (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx) AS slope FROM g),
         |c AS (SELECT fold, n, sx, sy, sxy, sxx, syy, slope,
         |        (tsy - slope * tsx) / tn AS icept FROM b)
         |SELECT fold, n AS n_test, round(slope, 6) AS slope, round(icept, 6) AS intercept,
         |  round((CAST(syy AS DOUBLE) - 2 * icept * CAST(sy AS DOUBLE)
         |         - 2 * slope * CAST(sxy AS DOUBLE) + 2 * icept * slope * CAST(sx AS DOUBLE)
         |         + icept * icept * n + slope * slope * CAST(sxx AS DOUBLE)) / n, 4) AS mse
         |FROM c ORDER BY fold""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      val r = Tables.lineitem(s, dir).select(
        expr("CAST(l_quantity AS DECIMAL(12,2))").as("x"),
        expr("CAST(l_extendedprice AS DECIMAL(12,2))").as("y"),
        (expr(TextOps.portableHash64Sql("'cv'",
          "concat(CAST(l_orderkey AS STRING), ':', CAST(l_linenumber AS STRING))")) % 5)
          .as("fold"))
      val f = r.groupBy(col("fold")).agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val tot = Window.partitionBy()
      val g = f.select(col("fold"), col("n"), col("sx"), col("sy"), col("sxy"),
        col("sxx"), col("syy"),
        (sum(col("n")).over(tot) - col("n")).cast("double").as("tn"),
        (sum(col("sx")).over(tot) - col("sx")).cast("double").as("tsx"),
        (sum(col("sy")).over(tot) - col("sy")).cast("double").as("tsy"),
        (sum(col("sxy")).over(tot) - col("sxy")).cast("double").as("tsxy"),
        (sum(col("sxx")).over(tot) - col("sxx")).cast("double").as("tsxx"))
      val b = g.withColumn("slope",
        (col("tn") * col("tsxy") - col("tsx") * col("tsy")) /
          (col("tn") * col("tsxx") - col("tsx") * col("tsx")))
      val c = b.withColumn("icept", (col("tsy") - col("slope") * col("tsx")) / col("tn"))
      c.select(col("fold"), col("n").as("n_test"),
          round(col("slope"), 6).as("slope"), round(col("icept"), 6).as("intercept"),
          round((col("syy").cast("double") - lit(2) * col("icept") * col("sy").cast("double")
            - lit(2) * col("slope") * col("sxy").cast("double")
            + lit(2) * col("icept") * col("slope") * col("sx").cast("double")
            + col("icept") * col("icept") * col("n")
            + col("slope") * col("slope") * col("sxx").cast("double")) / col("n"), 4)
            .as("mse"))
        .orderBy(col("fold"))
    }
  }

  /** T-CLOSENESS audit — the third rung of the release-gate ladder
    * (Li, Li & Venkatasubramanian 2007) after [[mlKAnonymity]] and
    * [[mlLDiversity]]: a class can be large AND diverse yet still leak
    * if its sensitive-value DISTRIBUTION deviates from the corpus-wide
    * one, so the gate bounds the total-variation distance per class.
    * Quasi-identifier is source, sensitive attribute is lang;
    * tv = ½·Σ_l |p(l|source) − p(l)| computed as integer cross
    * products Σ|n_sl·N − n_l·n_s| over the DENSED source×lang grid
    * (structural zeros contribute n_l·n_s — the chi² densing rule) with
    * ONE double division at the end. The grid cross is dims×dims sized
    * (PlanSpec-allowlisted); products cap at n_s·N — DECIMAL past ~3e9
    * rows (the ml_decision_stump note).
    */
  val mlTCloseness: QueryDef = QueryDef.sql("ml_t_closeness",
    """WITH d AS (SELECT source, lang FROM documents),
      |sl AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_sl FROM d GROUP BY 1, 2),
      |sg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY 1),
      |lg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_l,
      |         CAST(sum(count(*)) OVER () AS BIGINT) AS nn FROM d GROUP BY 1),
      |grid AS (SELECT sg.source, lg.lang, sg.n_s, lg.n_l, lg.nn
      |         FROM sg CROSS JOIN lg),
      |cell AS (SELECT g.source, g.n_s, g.nn,
      |           abs(coalesce(sl.n_sl, 0) * g.nn - g.n_l * g.n_s) AS dev
      |         FROM grid g LEFT JOIN sl ON sl.source = g.source AND sl.lang = g.lang)
      |SELECT source, n_s AS n, CAST(sum(dev) AS BIGINT) AS tv_num,
      |  round(CAST(sum(dev) AS DOUBLE) / (2 * n_s * nn), 6) AS t,
      |  round(CAST(sum(dev) AS DOUBLE) / (2 * n_s * nn), 6) > 0.2 AS at_risk
      |FROM cell GROUP BY source, n_s, nn ORDER BY source""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir).select(col("source"), col("lang"))
    val sl = d.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n_sl"))
    val sg = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val lg = d.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      .withColumn("nn", sum(col("n_l")).over(Window.partitionBy()).cast("long"))
    val grid = sg.crossJoin(broadcast(lg))
    val cell = grid.join(sl, Seq("source", "lang"), "left")
      .select(col("source"), col("n_s"), col("nn"),
        abs(coalesce(col("n_sl"), lit(0L)) * col("nn") - col("n_l") * col("n_s")).as("dev"))
    cell.groupBy(col("source"), col("n_s"), col("nn"))
      .agg(sum(col("dev")).cast("long").as("tv_num"))
      .select(col("source"), col("n_s").as("n"), col("tv_num"),
        round(col("tv_num").cast("double") / (lit(2) * col("n_s") * col("nn")), 6).as("t"),
        (round(col("tv_num").cast("double") / (lit(2) * col("n_s") * col("nn")), 6) > 0.2)
          .as("at_risk"))
      .orderBy(col("source"))
  }

  /** Two-sample Kolmogorov–Smirnov drift test between the even- and
    * odd-doc_id halves of the corpus on document length — the
    * distribution-shift gate a data pipeline runs between snapshots.
    * ENTIRELY integer-exact: D = max|F1−F2| is computed as
    * max|cum1·n2 − cum2·n1| over the DISTINCT-value cumulative table
    * (one event-sized exchange + one value-domain window, the
    * [[mlAuc]] shape), so the argmax is unambiguous cross-engine; the
    * one double division renders the statistic. The integer cross
    * products cap at n1·n2 — beyond ~3e9 rows per side switch the
    * products to DECIMAL (the ml_decision_stump note).
    */
  val mlKsTest: QueryDef = QueryDef.sql("ml_ks_test",
    """WITH s AS (SELECT CAST(n_chars AS BIGINT) AS x, doc_id % 2 AS grp FROM documents),
      |g AS (SELECT x, CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |        CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |      FROM s GROUP BY x),
      |c AS (SELECT x,
      |        CAST(sum(c1) OVER w AS BIGINT) AS f1, CAST(sum(c2) OVER w AS BIGINT) AS f2,
      |        CAST(sum(c1) OVER () AS BIGINT) AS n1, CAST(sum(c2) OVER () AS BIGINT) AS n2
      |      FROM g WINDOW w AS (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |r AS (SELECT x, n1, n2, abs(f1 * n2 - f2 * n1) AS dd,
      |        row_number() OVER (ORDER BY abs(f1 * n2 - f2 * n1) DESC, x) AS rn
      |      FROM c)
      |SELECT n1, n2, CAST(dd AS BIGINT) AS ks_num,
      |  round(CAST(dd AS DOUBLE) / (n1 * n2), 6) AS ks, x AS ks_at
      |FROM r WHERE rn = 1""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .select(col("n_chars").cast("long").as("x"), (col("doc_id") % 2).as("grp"))
    val g = base.groupBy(col("x")).agg(
      sum(when(col("grp") === 0, 1L).otherwise(0L)).as("c1"),
      sum(when(col("grp") === 1, 1L).otherwise(0L)).as("c2"))
    // two-level bucketed prefix (PrefixSum scaladoc); argmax below is a
    // distributed top-1, not a single-task row_number window.
    val c = graft.ops.PrefixSum.running(g, Nil, "x", Seq("c1", "c2"), withTotals = true)
      .select(col("x"), col("c1_cum").as("f1"), col("c2_cum").as("f2"),
        col("c1_tot").as("n1"), col("c2_tot").as("n2"))
    val dd = abs(col("f1") * col("n2") - col("f2") * col("n1"))
    c.withColumn("dd", dd)
      .orderBy(col("dd").desc, col("x")).limit(1)
      .select(col("n1"), col("n2"), col("dd").cast("long").as("ks_num"),
        round(col("dd").cast("double") / (col("n1") * col("n2")), 6).as("ks"),
        col("x").as("ks_at"))
  }

  /** Precision/recall curve of the n_chars-vs-English scorer at every
    * distinct threshold — [[mlAuc]]'s groupBy-once shape driven the
    * other way: one event-sized exchange groups by score, then the
    * DESCENDING cumulative window over the DISTINCT-score table yields
    * tp/fp at threshold "score >= s" for every s in one pass (the naive
    * form rescans the corpus per threshold). Every point is exact
    * BIGINT counts with single-division round-6 precision/recall/f1
    * (f1 via the integer identity, as ml_classifier_eval).
    */
  val mlPrCurve: QueryDef = QueryDef.sql("ml_pr_curve",
    """WITH s AS (SELECT CAST(n_chars AS BIGINT) AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
      |g AS (SELECT score, CAST(sum(y) AS BIGINT) AS p,
      |        CAST(count(*) - sum(y) AS BIGINT) AS q FROM s GROUP BY score),
      |c AS (SELECT score,
      |        CAST(sum(p) OVER w AS BIGINT) AS tp, CAST(sum(q) OVER w AS BIGINT) AS fp,
      |        CAST(sum(p) OVER () AS BIGINT) AS pt
      |      FROM g WINDOW w AS (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT score, tp, fp, pt - tp AS fn,
      |  round(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6) AS precision,
      |  round(CAST(tp AS DOUBLE) / nullif(pt, 0), 6) AS recall,
      |  round(2 * CAST(tp AS DOUBLE) / nullif(tp + fp + pt, 0), 6) AS f1
      |FROM c ORDER BY score""".stripMargin) { (s, dir) =>
    val base = Tables.documents(s, dir)
      .select(col("n_chars").cast("long").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val g = base.groupBy(col("score"))
      .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("q"))
    // two-level bucketed prefix, DESCENDING (PrefixSum scaladoc); the
    // positive total rides the bucket rollup.
    val c = graft.ops.PrefixSum
      .running(g, Nil, "score", Seq("p", "q"), descending = true, withTotals = true)
      .select(col("score"), col("p_cum").as("tp"), col("q_cum").as("fp"),
        col("p_tot").as("pt"))
    c.select(col("score"), col("tp"), col("fp"), (col("pt") - col("tp")).as("fn"),
        round(col("tp").cast("double") / nullif(col("tp") + col("fp"), lit(0L)), 6)
          .as("precision"),
        round(col("tp").cast("double") / nullif(col("pt"), lit(0L)), 6).as("recall"),
        round(lit(2) * col("tp").cast("double") /
          nullif(col("tp") + col("fp") + col("pt"), lit(0L)), 6).as("f1"))
      .orderBy(col("score"))
  }

  /** Stratified treatment-effect table (the observational-study rollup:
    * within each source stratum, mean outcome for the "treated" class
    * vs the rest — here en-labeled docs vs others on document length).
    * Per stratum: exact BIGINT counts and sums, two exact divisions,
    * and the effect as their round-6 difference; strata with a missing
    * arm report NULL. One source-sized rollup, no per-row state.
    */
  val mlStratifiedEffect: QueryDef = QueryDef.sql("ml_stratified_effect",
    """WITH d AS (SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t,
      |    CAST(n_chars AS BIGINT) AS x FROM documents),
      |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(t) AS BIGINT) AS n_t,
      |        CAST(sum(t * x) AS BIGINT) AS sx_t,
      |        CAST(sum((1 - t) * x) AS BIGINT) AS sx_c
      |      FROM d GROUP BY source)
      |SELECT source, n, n_t,
      |  round(CAST(sx_t AS DOUBLE) / nullif(n_t, 0), 6) AS mean_t,
      |  round(CAST(sx_c AS DOUBLE) / nullif(n - n_t, 0), 6) AS mean_c,
      |  round(CAST(sx_t AS DOUBLE) / nullif(n_t, 0)
      |        - CAST(sx_c AS DOUBLE) / nullif(n - n_t, 0), 6) AS effect
      |FROM g ORDER BY source""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir)
      .select(col("source"), when(col("lang") === "en", 1L).otherwise(0L).as("t"),
        col("n_chars").cast("long").as("x"))
    val g = d.groupBy(col("source")).agg(
      count(lit(1)).as("n"), sum(col("t")).as("n_t"),
      sum(col("t") * col("x")).as("sx_t"),
      sum((lit(1) - col("t")) * col("x")).as("sx_c"))
    val mt = col("sx_t").cast("double") / nullif(col("n_t"), lit(0L))
    val mc = col("sx_c").cast("double") / nullif(col("n") - col("n_t"), lit(0L))
    g.select(col("source"), col("n"), col("n_t"),
        round(mt, 6).as("mean_t"), round(mc, 6).as("mean_c"),
        round(mt - mc, 6).as("effect"))
      .orderBy(col("source"))
  }

  /** Inverse-frequency class weights (w_c = N / (K·n_c), the sklearn
    * "balanced" convention): the per-class loss reweighting every
    * imbalanced classifier run derives before training. One class-sized
    * rollup; N and K ride a window over the ROLLED-UP table; exact
    * integers in, one double division out.
    */
  val mlClassWeights: QueryDef = QueryDef.sql("ml_class_weights",
    """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
      |t AS (SELECT lang, n, CAST(sum(n) OVER () AS BIGINT) AS tot,
      |        CAST(count(*) OVER () AS BIGINT) AS k FROM c)
      |SELECT lang, n, round(CAST(tot AS DOUBLE) / (k * n), 6) AS weight
      |FROM t ORDER BY lang""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tot = Window.partitionBy()
    Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .select(col("lang"), col("n"),
        round(sum(col("n")).over(tot).cast("double") /
          (count(lit(1)).over(tot) * col("n")), 6).as("weight"))
      .orderBy(col("lang"))
  }

  /** Association-rule mining over supplier baskets (one basket per
    * order, the classic market-basket shape): directed rules x→y for
    * supplier pairs co-occurring in ≥ 8 baskets, scored
    * support = n_xy/N, confidence = n_xy/n_x, lift = n_xy·N/(n_x·n_y) —
    * all exact integer counts with one double division each (lift keeps
    * the product in the double numerator so nothing overflows). The
    * pair generation is the same per-basket self-join that feeds the
    * co-supply graph family, with min-support pushed into the HAVING so
    * the rule table never materializes sub-support pairs; item counts
    * broadcast; the one-row basket total is a construction-time scalar
    * cross (PlanSpec-allowlisted).
    */
  val mlAssocRules: QueryDef = QueryDef.sql("ml_assoc_rules",
    """WITH per AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk FROM lineitem),
      |nb AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM per),
      |it AS (SELECT sk, CAST(count(*) AS BIGINT) AS n_i FROM per GROUP BY sk),
      |pr AS (SELECT a.sk AS x, b.sk AS y, CAST(count(*) AS BIGINT) AS n_xy
      |       FROM per a JOIN per b ON a.o = b.o AND a.sk < b.sk
      |       GROUP BY 1, 2 HAVING count(*) >= 8),
      |r AS (SELECT x, y, n_xy FROM pr UNION ALL SELECT y AS x, x AS y, n_xy FROM pr)
      |SELECT r.x, r.y, n_xy,
      |  round(CAST(n_xy AS DOUBLE) / nb.n, 6) AS support,
      |  round(CAST(n_xy AS DOUBLE) / ix.n_i, 6) AS confidence,
      |  round(CAST(n_xy AS DOUBLE) * nb.n / (ix.n_i * iy.n_i), 6) AS lift
      |FROM r JOIN it ix ON ix.sk = r.x JOIN it iy ON iy.sk = r.y CROSS JOIN nb
      |ORDER BY x, y""".stripMargin) { (s, dir) =>
    val per = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_suppkey").as("sk")).distinct()
    val nb = per.agg(countDistinct(col("o")).as("n"))
    val it = per.groupBy(col("sk")).agg(count(lit(1)).as("n_i"))
    val pr = per.as("a").join(per.as("b"),
        col("a.o") === col("b.o") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("x"), col("b.sk").as("y"))
      .agg(count(lit(1)).as("n_xy"))
      .where(col("n_xy") >= 8)
    val r = pr.select(col("x"), col("y"), col("n_xy"))
      .unionAll(pr.select(col("y").as("x"), col("x").as("y"), col("n_xy")))
    r.join(broadcast(it.select(col("sk").as("x"), col("n_i").as("nx"))), "x")
      .join(broadcast(it.select(col("sk").as("y"), col("n_i").as("ny"))), "y")
      .crossJoin(broadcast(nb))
      .select(col("x"), col("y"), col("n_xy"),
        round(col("n_xy").cast("double") / col("n"), 6).as("support"),
        round(col("n_xy").cast("double") / col("nx"), 6).as("confidence"),
        round(col("n_xy").cast("double") * col("n") / (col("nx") * col("ny")), 6).as("lift"))
      .orderBy(col("x"), col("y"))
  }

  val mlLengthBuckets: QueryDef = {
    val qs = (1 to 9).map(i => s"0.${i}").mkString(", ")
    QueryDef.sql("ml_length_buckets",
      s"""WITH b AS (SELECT quantile_cont(n_chars, [$qs]) AS bs FROM documents),
         |a AS (SELECT d.doc_id, d.n_chars,
         |  (SELECT CAST(count(*) AS BIGINT) FROM unnest(b.bs) AS t(e) WHERE d.n_chars > e) AS bucket
         |  FROM documents d, b)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(min(n_chars) AS BIGINT) AS min_chars, CAST(max(n_chars) AS BIGINT) AS max_chars
         |FROM a GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val bounds = docs.agg(
        expr(s"percentile(n_chars, array($qs))").as("bs"))
      docs.select(col("doc_id"), col("n_chars"))
        .crossJoin(broadcast(bounds))
        .select(col("n_chars"),
          size(filter(col("bs"), e => col("n_chars") > e)).cast("long").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
        .orderBy(col("bucket"))
    }
  }

  /** Tokenizer vocabulary-size coverage curve: for candidate vocab sizes
    * (100 / 1,000 / 10,000 types), the share of ALL token occurrences
    * covered by the that-many most frequent words — the measurement
    * behind choosing a tokenizer vocab budget (coverage knees where
    * added types stop paying for themselves; complements `text_zipf`'s
    * slope fit with the cumulative view). Types ranked by (count desc,
    * word) so the cut is deterministic under count ties.
    *
    * Shape at 100 TB: one exploded token count (THE shuffle — same as
    * any word count), then a top-10k TakeOrdered to the driver-side
    * rank window — vocab heads are bounded by the largest cut, never
    * corpus-sized, so the window sorts 10k rows regardless of corpus
    * scale. The cut fan-out is a map-side explode of the (≤3) cuts
    * each rank belongs to; no join anywhere.
    */
  val mlVocabCoverage: QueryDef = {
    val cuts = Seq(100, 1000, 10000)
    val cutsSql = cuts.map(c => s"($c)").mkString(", ")
    QueryDef.sql("ml_vocab_coverage",
      s"""WITH w AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word FROM documents),
         |wc AS (SELECT word, count(*) AS c FROM w GROUP BY word),
         |t AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM wc),
         |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rnk FROM wc),
         |x AS (SELECT CAST(d AS BIGINT) AS vocab_size, sum(c) AS cov
         |      FROM r, (VALUES $cutsSql) dims(d) WHERE rnk <= d GROUP BY 1)
         |SELECT vocab_size, CAST(cov AS BIGINT) AS n_covered,
         |  round(cov / total, 6) AS coverage
         |FROM x, t ORDER BY vocab_size""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val wc = Tables.documents(s, dir)
        .select(explode(TextOps.wordsExpr).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      val total = wc.agg(sum(col("c")).cast("double").as("total"))
      val cutsArr = array(cuts.map(c => lit(c.toLong)): _*)
      // rank only the top-max(cuts) head (TakeOrdered, not a vocab sort)
      wc.orderBy(col("c").desc, col("word")).limit(cuts.max)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("c").desc, col("word"))))
        .select(col("c"),
          explode(filter(cutsArr, d => col("rnk") <= d)).as("vocab_size"))
        .groupBy(col("vocab_size")).agg(sum(col("c")).as("cov"))
        .crossJoin(broadcast(total))
        .select(col("vocab_size"), col("cov").as("n_covered"),
          round(col("cov") / col("total"), 6).as("coverage"))
        .orderBy(col("vocab_size"))
    }
  }

  /** Differentially-private histogram release (Laplace mechanism,
    * Dwork et al. 2006): per-event-type counts + Laplace(1/ε) noise at
    * ε = 1 — the standard shape for sharing corpus statistics without
    * exposing any single user's contribution. The noise draw is the
    * inverse-CDF transform noise = -(1/ε)·sign(u)·ln(1−2|u|),
    * u ∈ (−½, ½) derived from the portable 64-bit key hash, so the
    * release is deterministic per key (reproducible pipelines re-release
    * identical numbers — and the oracle can check it; a production
    * deployment would salt with a secret per release instead). The true
    * count rides along for the oracle/spec; a real release drops it.
    * Shape: one map-side-combined count, noise is per-GROUP scalar
    * arithmetic — the privacy layer adds zero shuffle.
    */
  val mlDpHistogram: QueryDef = {
    val eps = 1.0
    val hSql = OracleSql.hash64("'dp'", "event_type")
    val uSql = s"(($hSql % 999999) + 1) / 1000001.0 - 0.5"
    QueryDef.sql("ml_dp_histogram",
      s"""WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
         |u AS (SELECT event_type, n, $uSql AS u FROM c)
         |SELECT event_type, n,
         |  round(n + (-1.0 / $eps) * sign(u) * ln(1 - 2 * abs(u)), 6) AS dp_n
         |FROM u ORDER BY event_type""".stripMargin) { (s, dir) =>
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      val h = expr(TextOps.portableHash64Sql("'dp'", "event_type"))
      Tables.events(s, dir)
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .withColumn("u", ((h % 999999) + 1) / 1000001.0 - 0.5)
        .select(col("event_type"), col("n"),
          round(col("n") + (lit(-1.0 / eps) * signum(col("u")) * log(lit(1) - lit(2) * abs(col("u")))), 6).as("dp_n"))
        .orderBy(col("event_type"))
    }
  }

  /** Epoch planner for a temperature-weighted corpus mix: given a total
    * token budget, how many PASSES over each source does the α = 0.5
    * mixture imply — epochs_s = budget·share_s / tokens_s, the
    * repetition factor data-recipe work plans around (epochs ≫ 1 on a
    * small high-share source warns of memorization; ≪ 1 means the
    * source is subsampled). Complements `ml_mixture_temperature`
    * (which derives the shares and keep probabilities over DOCS) with
    * the token-budget view. One token-count aggregate; everything
    * downstream is per-source scalar arithmetic over ~20 rows.
    */
  val mlMixtureEpochs: QueryDef = {
    val budget = 1000000L
    QueryDef.sql("ml_mixture_epochs",
      s"""WITH n AS (SELECT source,
         |      CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS n_tokens
         |    FROM documents GROUP BY source),
         |w AS (SELECT source, n_tokens, pow(n_tokens, 0.5) AS wt FROM n),
         |t AS (SELECT sum(wt) AS sw FROM w)
         |SELECT source, n_tokens, round(wt / sw, 6) AS share,
         |  round($budget * (wt / sw) / n_tokens, 6) AS epochs
         |FROM w CROSS JOIN t ORDER BY source""".stripMargin) { (s, dir) =>
      mixtureEpochsFrame(Tables.documents(s, dir), budget).orderBy(col("source"))
    }
  }

  /** The [[mlMixtureEpochs]] body over an arbitrary documents frame
    * (CorpusPipeline's mixture stage shares the exact plan). Unordered.
    */
  private[graft] def mixtureEpochsFrame(docs: org.apache.spark.sql.DataFrame,
                                        budget: Long): org.apache.spark.sql.DataFrame = {
    val n = docs
      .groupBy(col("source"))
      .agg(sum(size(TextOps.wordsExpr)).as("n_tokens"))
      .withColumn("wt", pow(col("n_tokens"), 0.5))
    val t = n.agg(sum(col("wt")).as("sw"))
    n.crossJoin(broadcast(t))
      .select(col("source"), col("n_tokens"),
        round(col("wt") / col("sw"), 6).as("share"),
        round(lit(budget) * (col("wt") / col("sw")) / col("n_tokens"), 6).as("epochs"))
  }

  /** Deterministic epoch-order materialization — the GLOBAL SHUFFLE a
    * training run needs, without a global sort: each document draws a
    * pseudorandom permutation key from a seeded portable hash, lands in
    * a hash shard, and gets its visit position by a SHARD-LOCAL rank on
    * that key (hash-uniform keys make shard-major concatenation a
    * uniform random permutation of the corpus; a new seed string is a
    * fresh epoch order). Contrast with orderBy(rand()): this is
    * reproducible across runs/partitionings/engines, and the only
    * whole-corpus operation is ONE hash-partition exchange — ranking
    * happens inside each shard in parallel (shards are sized to the
    * cluster; 8 keeps the oracle deterministic), never a total sort.
    * Completes the layout trio: ml_mixture_epochs decides WHICH docs an
    * epoch sees, ml_pack_sequences how they pack, this the ORDER they
    * are visited.
    */
  val mlEpochOrder: QueryDef = {
    val shards = 8
    val h = OracleSql.hash64("'ep1'", "CAST(doc_id AS VARCHAR)")
    QueryDef.sql("ml_epoch_order",
      s"""WITH k AS (SELECT doc_id, $h AS rk FROM documents),
         |s AS (SELECT doc_id, rk, ((rk % $shards) + $shards) % $shards AS shard FROM k)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY rk, doc_id) AS BIGINT) AS pos,
         |  doc_id
         |FROM s ORDER BY shard, pos""".stripMargin) { (s, dir) =>
      graft.ops.TextOps.ensureFunctions(s)
      epochOrderFrame(Tables.documents(s, dir), "ep1", shards)
        .orderBy(col("shard"), col("pos"))
    }
  }

  /** The [[mlEpochOrder]] body over an arbitrary documents frame —
    * seedSalt names the epoch (a new salt is a fresh permutation).
    * Caller must TextOps.ensureFunctions first. Unordered.
    */
  private[graft] def epochOrderFrame(docs: org.apache.spark.sql.DataFrame,
                                     seedSalt: String, shards: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs
      .select(col("doc_id"),
        expr(TextOps.portableHash64Sql(s"'$seedSalt'", "CAST(doc_id AS STRING)")).as("rk"))
      .withColumn("shard", pmod(col("rk"), lit(shards)).cast("long"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("rk"), col("doc_id"))).cast("long"))
      .select(col("shard"), col("pos"), col("doc_id"))
  }

  /** APPEND-STABLE epoch order (r14 verdict §2): the same per-doc hash
    * permutation as [[mlEpochOrder]], but `pos` is the hash key ITSELF
    * — a SPARSE sort key, not a dense rank. Sorting by (shard, pos,
    * doc_id) visits documents in the identical permutation the dense
    * form ranks, yet a document's (shard, pos) NEVER changes when other
    * documents are appended or retracted — the dense rank shifts ~half
    * of every shard on any insert, which is exactly what forced the
    * corpus shard layout into a wholesale rewrite per append. A
    * training cursor over this order is a KEY ("resume after pos k"),
    * not an index. Strictly better scale shape too: map-only — the
    * dense rank's per-shard window shuffle disappears.
    */
  val mlEpochOrderStable: QueryDef = {
    val shards = 8
    val h = OracleSql.hash64("'ep1'", "CAST(doc_id AS VARCHAR)")
    QueryDef.sql("ml_epoch_order_stable",
      s"""WITH k AS (SELECT doc_id, $h AS rk FROM documents)
         |SELECT CAST(((rk % $shards) + $shards) % $shards AS BIGINT) AS shard,
         |  CAST(rk AS BIGINT) AS pos, doc_id
         |FROM k ORDER BY shard, pos, doc_id""".stripMargin) { (s, dir) =>
      graft.ops.TextOps.ensureFunctions(s)
      epochOrderStableFrame(Tables.documents(s, dir), "ep1", shards)
        .orderBy(col("shard"), col("pos"), col("doc_id"))
    }
  }

  /** The [[mlEpochOrderStable]] body (the CorpusPipeline epoch_order
    * stage — stage ≡ gate is CorpusPipelineSpec's law). Caller must
    * TextOps.ensureFunctions first. Unordered.
    */
  private[graft] def epochOrderStableFrame(docs: org.apache.spark.sql.DataFrame,
      seedSalt: String, shards: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        expr(TextOps.portableHash64Sql(s"'$seedSalt'", "CAST(doc_id AS STRING)")).as("rk"))
      .select(pmod(col("rk"), lit(shards)).cast("long").as("shard"),
        col("rk").as("pos"), col("doc_id"))

  /** Deequ-style data-quality CONSTRAINT AUDIT over the documents table
    * — the validation gate a dataset passes before training jobs may
    * read it (the declarative cousin of the fails sidecars): six
    * constraints (row volume, text/lang completeness, key uniqueness,
    * n_chars ∈ [1, 10⁶] range, lang accepted-values, n_chars ≡
    * length(text) consistency) evaluated in ONE pass and emitted as a
    * (constraint, metric, pass) report row each.
    *
    * Shape at 100 TB: every constraint is a conditional aggregate over
    * the same scan — one map-side-combined pass, a single one-row
    * result, and the report rows are an explode of that row (uniqueness
    * is the one distinct-shuffle, over the key column only). Adding a
    * constraint = adding an aggregate, never a pass.
    */
  /** The [[mlConstraintAudit]] body over an arbitrary documents frame
    * (CorpusPipeline's dataset-card sidecar shares the exact plan).
    * Unordered.
    */
  private[graft] def constraintAuditFrame(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val m = docs.agg(
      count(lit(1)).as("n"),
      count(col("text")).as("n_text"),
      count(col("lang")).as("n_lang"),
      countDistinct(col("doc_id")).as("n_keys"),
      sum(when(col("n_chars").between(1, 1000000), 1L).otherwise(0L)).as("n_range"),
      sum(when(col("lang").isin("en", "de", "es", "fr", "zh"), 1L).otherwise(0L)).as("n_accept"),
      sum(when(col("n_chars") === length(col("text")), 1L).otherwise(0L)).as("n_consist"))
    def frac(c: org.apache.spark.sql.Column) = round(c.cast("double") / col("n"), 6)
    def row(name: String, metric: org.apache.spark.sql.Column, pass: org.apache.spark.sql.Column) =
      struct(lit(name).as("con"), metric.as("metric"), pass.as("pass"))
    m.select(explode(array(
        row("row_count", col("n").cast("double"), col("n") > 0),
        row("text_completeness", frac(col("n_text")), col("n_text") === col("n")),
        row("lang_completeness", frac(col("n_lang")), col("n_lang") === col("n")),
        row("key_uniqueness", frac(col("n_keys")), col("n_keys") === col("n")),
        row("chars_in_range", frac(col("n_range")), col("n_range") === col("n")),
        row("lang_accepted", frac(col("n_accept")), col("n_accept") === col("n")),
        row("chars_consistent", frac(col("n_consist")), col("n_consist") === col("n")))).as("c"))
      .select(col("c.con").as("con"), col("c.metric").as("metric"), col("c.pass").as("pass"))
  }

  val mlConstraintAudit: QueryDef = QueryDef.sql("ml_constraint_audit",
    """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(count(text) AS BIGINT) AS n_text,
      |    CAST(count(lang) AS BIGINT) AS n_lang,
      |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_keys,
      |    CAST(sum(CASE WHEN n_chars BETWEEN 1 AND 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_range,
      |    CAST(sum(CASE WHEN lang IN ('en', 'de', 'es', 'fr', 'zh') THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
      |    CAST(sum(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS BIGINT) AS n_consist
      |  FROM documents)
      |SELECT * FROM (
      |  SELECT 'row_count' AS con, CAST(n AS DOUBLE) AS metric, n > 0 AS pass FROM m
      |  UNION ALL SELECT 'text_completeness', round(CAST(n_text AS DOUBLE) / n, 6), n_text = n FROM m
      |  UNION ALL SELECT 'lang_completeness', round(CAST(n_lang AS DOUBLE) / n, 6), n_lang = n FROM m
      |  UNION ALL SELECT 'key_uniqueness', round(CAST(n_keys AS DOUBLE) / n, 6), n_keys = n FROM m
      |  UNION ALL SELECT 'chars_in_range', round(CAST(n_range AS DOUBLE) / n, 6), n_range = n FROM m
      |  UNION ALL SELECT 'lang_accepted', round(CAST(n_accept AS DOUBLE) / n, 6), n_accept = n FROM m
      |  UNION ALL SELECT 'chars_consistent', round(CAST(n_consist AS DOUBLE) / n, 6), n_consist = n FROM m)
      |ORDER BY con""".stripMargin) { (s, dir) =>
    constraintAuditFrame(Tables.documents(s, dir)).orderBy(col("con"))
  }

  /** Decile GAINS/LIFT table of the n_chars-vs-English scorer — the
    * scorecard chart beside [[mlAuc]] (threshold-free) and [[mlPrCurve]]
    * (per-threshold): rank the corpus by score, cut into ntile(10)
    * deciles, and report each decile's positives plus the cumulative
    * gain (share of all positives captured through decile d) and lift
    * (capture rate vs the base rate). Campaign/quality-gate targeting
    * reads this to pick "score the top k%".
    *
    * Scale shape: the row ranking is [[graft.ops.PrefixSum]]'s
    * two-level bucketed prefix COUNT tie-broken by doc_id (the
    * q_decile_profile recipe — no global ntile window), the decile is
    * the closed-form ntile remainder rule over (rank, n), and the
    * gains cumulative runs over the TEN-row decile rollup. Gain and
    * lift are exact-integer ratios rendered with one round-6 division
    * (lift via cum_pos·N / (cum_n·P) — never a ratio of two rounded
    * doubles).
    */
  val mlLiftGains: QueryDef = QueryDef.sql("ml_lift_gains",
    """WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
      |t AS (SELECT y, ntile(10) OVER (ORDER BY score DESC, doc_id) AS decile FROM d),
      |g AS (SELECT decile, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(y) AS BIGINT) AS n_pos FROM t GROUP BY decile),
      |c AS (SELECT decile, n, n_pos,
      |        CAST(sum(n) OVER w AS BIGINT) AS cum_n,
      |        CAST(sum(n_pos) OVER w AS BIGINT) AS cum_pos,
      |        CAST(sum(n) OVER () AS BIGINT) AS nn,
      |        CAST(sum(n_pos) OVER () AS BIGINT) AS pp
      |      FROM g WINDOW w AS (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT CAST(decile AS BIGINT) AS decile, n, n_pos, cum_n, cum_pos,
      |  round(CAST(cum_pos AS DOUBLE) / nullif(pp, 0), 6) AS gain,
      |  round(CAST(cum_pos * nn AS DOUBLE) / nullif(cum_n * pp, 0), 6) AS lift
      |FROM c ORDER BY decile""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("score"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
      .withColumn("one", lit(1L))
    val r = graft.ops.PrefixSum.running(d, Nil, "score", Seq("one"),
      descending = true, withTotals = true, tieBreaks = Seq(col("doc_id").asc))
    val g = r.withColumn("decile", expr(
        """CASE WHEN one_cum <= (one_tot % 10) * (one_tot div 10 + 1)
          |THEN (one_cum - 1) div (one_tot div 10 + 1) + 1
          |ELSE (one_tot % 10) +
          |  (one_cum - (one_tot % 10) * (one_tot div 10 + 1) - 1) div (one_tot div 10) + 1
          |END""".stripMargin))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    // ten-row decile rollup: the cumulative/totals window is bounded by
    // construction (PlanSpec window-sweep allowlisted)
    val w = Window.orderBy(col("decile")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.select(col("decile").cast("long").as("decile"), col("n"), col("n_pos"),
        sum(col("n")).over(w).cast("long").as("cum_n"),
        sum(col("n_pos")).over(w).cast("long").as("cum_pos"),
        sum(col("n")).over(tot).cast("long").as("nn"),
        sum(col("n_pos")).over(tot).cast("long").as("pp"))
      .select(col("decile"), col("n"), col("n_pos"), col("cum_n"), col("cum_pos"),
        round(col("cum_pos").cast("double") / nullif(col("pp"), lit(0L)), 6).as("gain"),
        round((col("cum_pos") * col("nn")).cast("double") /
          nullif(col("cum_n") * col("pp"), lit(0L)), 6).as("lift"))
      .orderBy(col("decile"))
  }

  /** Weight-of-evidence / information-value table over corpus-decile
    * bins of the length scorer against the en target — the scorecard
    * feature-engineering standard beside [[mlPsi]] (same exact
    * rank-selected decile boundaries; b_k = min x with 10·cum ≥ k·n):
    * per bin WoE = ln((pos_b/P)/(neg_b/N)) and its IV contribution
    * (pos_b/P − neg_b/N)·WoE — IV > 0.3 reads "strong predictor", and
    * the per-bin WoE is the encode table a logistic scorecard uses.
    * Exact BIGINT counts; one ln per ROW round-6 (no cross-row double
    * sum); bins empty on either side report NULL (the audit should see
    * them — the production recipe adds epsilon).
    *
    * Scale shape: the decile cumulative is [[graft.ops.PrefixSum]]'s
    * two-level prefix; boundaries are a 9-row broadcast range join;
    * totals a one-row broadcast — rollup cost end to end.
    */
  val mlWoeIv: QueryDef = QueryDef.sql("ml_woe_iv",
    """WITH s AS (SELECT CAST(n_chars AS BIGINT) AS x,
      |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
      |g AS (SELECT x, CAST(sum(y) AS BIGINT) AS p,
      |        CAST(count(*) - sum(y) AS BIGINT) AS q FROM s GROUP BY x),
      |rc AS (SELECT x,
      |         CAST(sum(p + q) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |         CAST(sum(p + q) OVER () AS BIGINT) AS n FROM g),
      |b AS (SELECT k, min(x) AS bx FROM rc, range(1, 10) t(k)
      |      WHERE 10 * cum >= k * n GROUP BY k),
      |gx AS (SELECT DISTINCT x FROM g),
      |bx AS (SELECT gx.x, CAST(count(b.k) AS BIGINT) AS bin
      |       FROM gx LEFT JOIN b ON gx.x >= b.bx GROUP BY gx.x),
      |cnt AS (SELECT bin, CAST(sum(p) AS BIGINT) AS n_pos,
      |          CAST(sum(q) AS BIGINT) AS n_neg
      |        FROM g JOIN bx ON bx.x = g.x GROUP BY bin),
      |t AS (SELECT bin, n_pos, n_neg,
      |        CAST(sum(n_pos) OVER () AS BIGINT) AS pp,
      |        CAST(sum(n_neg) OVER () AS BIGINT) AS nn FROM cnt)
      |SELECT bin, n_pos, n_neg,
      |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
      |    round(ln((CAST(n_pos AS DOUBLE) / pp) / (CAST(n_neg AS DOUBLE) / nn)), 6)
      |  END AS woe,
      |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
      |    round((CAST(n_pos AS DOUBLE) / pp - CAST(n_neg AS DOUBLE) / nn) *
      |          ln((CAST(n_pos AS DOUBLE) / pp) / (CAST(n_neg AS DOUBLE) / nn)), 6)
      |  END AS iv_part
      |FROM t ORDER BY bin""".stripMargin) { (s, dir) =>
    val s0 = Tables.documents(s, dir)
      .select(col("n_chars").cast("long").as("x"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
    val g = s0.groupBy(col("x"))
      .agg(sum(col("y")).as("p"), (count(lit(1)) - sum(col("y"))).as("q"))
      .withColumn("tot", col("p") + col("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rc = graft.ops.PrefixSum.running(g, Nil, "x", Seq("tot"), withTotals = true)
      .select(col("x"), col("tot_cum").as("cum"), col("tot_tot").as("n"))
    val b = rc.crossJoin(broadcast(s.range(1, 10).select(col("id").as("k"))))
      .where(lit(10) * col("cum") >= col("k") * col("n"))
      .groupBy(col("k")).agg(min(col("x")).as("bx"))
    val gx = g.select(col("x")).distinct()
    val bx = gx.join(broadcast(b), col("x") >= col("bx"), "left")
      .groupBy(col("x")).agg(count(col("k")).cast("long").as("bin"))
    val cnt = g.join(bx, "x").groupBy(col("bin"))
      .agg(sum(col("p")).cast("long").as("n_pos"), sum(col("q")).cast("long").as("n_neg"))
    val tots = cnt.agg(sum(col("n_pos")).cast("long").as("pp"),
      sum(col("n_neg")).cast("long").as("nn"))
    val rp = col("n_pos").cast("double") / col("pp")
    val rn = col("n_neg").cast("double") / col("nn")
    val out = cnt.crossJoin(broadcast(tots))
      .select(col("bin"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0, round(log(rp / rn), 6)).as("woe"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round((rp - rn) * log(rp / rn), 6)).as("iv_part"))
      .orderBy(col("bin"))
      .transform(graft.ops.Ckpt.eager)
    g.unpersist(false)
    out
  }

  /** Mutual information between lang and the corpus-quartile length
    * bucket — the model-free feature-selection score beside
    * [[qChi2Independence]]'s test statistic (chi² asks "dependent at
    * all?", MI measures HOW MANY NATS the feature carries): per cell
    * MI_part = (n/N)·ln(n·N/(n_l·n_b)) with EXACT integer products
    * inside the ln, one transcendental per cell, round-6 — empty cells
    * contribute exactly zero, so unlike chi² no densing is needed.
    * Quartile boundaries by the same rank selection as [[mlWoeIv]].
    */
  val mlMutualInfo: QueryDef = QueryDef.sql("ml_mutual_info",
    """WITH s AS (SELECT lang, CAST(n_chars AS BIGINT) AS x FROM documents),
      |g AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY x),
      |rc AS (SELECT x,
      |         CAST(sum(c) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |         CAST(sum(c) OVER () AS BIGINT) AS n FROM g),
      |b AS (SELECT k, min(x) AS bx FROM rc, range(1, 4) t(k)
      |      WHERE 4 * cum >= k * n GROUP BY k),
      |gx AS (SELECT DISTINCT x FROM g),
      |bx AS (SELECT gx.x, CAST(count(b.k) AS BIGINT) AS bin
      |       FROM gx LEFT JOIN b ON gx.x >= b.bx GROUP BY gx.x),
      |cell AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS n
      |         FROM s JOIN bx ON bx.x = s.x GROUP BY 1, 2),
      |rm AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM cell GROUP BY lang),
      |cm AS (SELECT bin, CAST(sum(n) AS BIGINT) AS nb FROM cell GROUP BY bin),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cell)
      |SELECT cell.lang, cell.bin, cell.n,
      |  round(CAST(cell.n AS DOUBLE) / t.nn *
      |        ln(CAST(cell.n * t.nn AS DOUBLE) / (rm.nl * cm.nb)), 6) AS mi_part
      |FROM cell JOIN rm ON rm.lang = cell.lang JOIN cm ON cm.bin = cell.bin, t
      |ORDER BY cell.lang, cell.bin""".stripMargin) { (s, dir) =>
    val s0 = Tables.documents(s, dir)
      .select(col("lang"), col("n_chars").cast("long").as("x"))
    val g = s0.groupBy(col("x")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rc = graft.ops.PrefixSum.running(g, Nil, "x", Seq("c"), withTotals = true)
      .select(col("x"), col("c_cum").as("cum"), col("c_tot").as("n"))
    val b = rc.crossJoin(broadcast(s.range(1, 4).select(col("id").as("k"))))
      .where(lit(4) * col("cum") >= col("k") * col("n"))
      .groupBy(col("k")).agg(min(col("x")).as("bx"))
    val gx = g.select(col("x")).distinct()
    val bx = gx.join(broadcast(b), col("x") >= col("bx"), "left")
      .groupBy(col("x")).agg(count(col("k")).cast("long").as("bin"))
    val cell = s0.join(broadcast(bx), "x")
      .groupBy(col("lang"), col("bin")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rm = cell.groupBy(col("lang")).agg(sum(col("n")).cast("long").as("nl"))
    val cm = cell.groupBy(col("bin")).agg(sum(col("n")).cast("long").as("nb"))
    val tt = cell.agg(sum(col("n")).cast("long").as("nn"))
    val out = cell.join(broadcast(rm), "lang").join(broadcast(cm), "bin")
      .crossJoin(broadcast(tt))
      .select(col("lang"), col("bin"), col("n"),
        round(col("n").cast("double") / col("nn") *
          log((col("n") * col("nn")).cast("double") / (col("nl") * col("nb"))), 6)
          .as("mi_part"))
      .orderBy(col("lang"), col("bin"))
      .transform(graft.ops.Ckpt.eager)
    g.unpersist(false)
    cell.unpersist(false)
    out
  }

  val all: Seq[QueryDef] = Seq(mlConstraintAudit, hourRingFeatures, hourRingFeaturesReturns,
    mlDataset, mlPoissonPredict, mlZscore, mlLagFeatures, mlHashSplit,
    mlSampleStratified, mlPackSequences, mlMixtureSample, mlChunkDocuments,
    mlQualityFunnel, mlSampleWeighted, mlMixtureTemperature, mlFeatureHash,
    mlLengthBuckets, mlVocabCoverage, mlDpHistogram, mlMixtureEpochs,
    mlEpochOrder, mlEpochOrderStable, mlKAnonymity, mlLDiversity, mlLinreg, mlNaiveBayes,
    mlAuc, mlClassifierEval, mlTargetEncoding, mlCalibration, mlBootstrapCi,
    mlDecisionStump, mlClassWeights, mlAssocRules, mlPrCurve, mlStratifiedEffect,
    mlKsTest, mlTCloseness, mlCvLinreg, mlGini, mlSimpsonDiversity,
    mlMcc, mlCohenKappa, mlCorrMatrix, mlPsi, mlOutlierIqr, mlMad,
    mlHerfindahl, mlLiftGains, mlWoeIv, mlMutualInfo, mlAucContinuous, mlIsotonicCalibration,
    mlIsotonicFit, mlIsotonicPredict, mlIsotonicInterp, mlConformal, mlAucDelong,
    mlCuped)
}
