package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Multimodal, Similarity}

/** Similarity search over the embeddings table and multimodal plumbing
  * over documents (builder-prompt extension families).
  */
object EmbedQueries {

  private val duckVectors =
    "v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)"
  /** Shared per-label centroid CTEs (`e`/`cent`/`ca`) over `v`. */
  private val duckCentroidCte =
    """e AS (SELECT vec_id, label, i, v[i] AS x FROM v, range(1, 65) r(i)),
      |cent AS (SELECT label, i, avg(x) AS c FROM e GROUP BY 1, 2),
      |ca AS (SELECT label, list(c ORDER BY i) AS carr FROM cent GROUP BY label)""".stripMargin

  /** Shared Spark-side per-label centroid arrays: (label, carr). */
  private def centroidArrays(v: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    v.select(col("vec_id"), col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i")).agg(avg(col("x")).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(i, c))), p -> p.c)").as("carr"))

  /** Per-label centroids as a (cl, cv) quantizer frame — RecallProbe's
    * label-IVF comparison row against the ml.KMeans-trained cells.
    */
  private[graft] def labelCentroids(v: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    centroidArrays(v).select(col("label").cast("long").as("cl"), col("carr").as("cv"))

  private def duckCos(a: String, b: String): String =
    s"""round(list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)]) /
       |  (sqrt(list_sum([x * x for x in $a])) * sqrt(list_sum([x * x for x in $b]))), 6)""".stripMargin

  /** Brute-force cosine top-5 for query vectors vec_id < 10 (baseline:
    * one scan of the candidate table, queries broadcast).
    */
  val embedKnnBrute: QueryDef = QueryDef.sql("embed_knn_brute",
    s"""WITH $duckVectors,
       |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
       |c AS (SELECT vec_id AS nid, v AS cv FROM v WHERE vec_id >= 10),
       |p AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS sim FROM c, q),
       |r AS (SELECT qid, nid, sim,
       |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rnk FROM p)
       |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
    val v = Similarity.vectors(Tables.embeddings(s, dir))
    val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = v.where(col("vec_id") >= 10).select(col("vec_id").as("nid"), col("v").as("cv"))
    val pairs = c.crossJoin(broadcast(q))
      .withColumn("sim", Similarity.cosine("qv", "cv"))
      .select(col("qid"), col("nid"), col("sim"))
    Similarity.topK(pairs, 5).select(col("qid"), col("nid"), col("sim"), col("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** LSH-bucketed ANN: candidates restricted to the query's sign-bit
    * bucket (equi-join; the scale path).
    */
  val embedKnnLsh: QueryDef = {
    val duckBucket = OracleSql.signBucket
    QueryDef.sql("embed_knn_lsh",
      s"""WITH $duckVectors,
         |b AS (SELECT vec_id, v, $duckBucket AS bucket FROM v),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM b WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, v AS cv, bucket FROM b WHERE vec_id >= 10),
         |p AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS sim FROM c JOIN q USING (bucket)),
         |r AS (SELECT qid, nid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rnk FROM p)
         |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val b = Similarity.vectors(Tables.embeddings(s, dir))
        .withColumn("bucket", Similarity.signBucket("v"))
      val q = b.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("bucket"))
      val c = b.where(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("v").as("cv"), col("bucket"))
      val pairs = c.join(broadcast(q), "bucket")
        .withColumn("sim", Similarity.cosine("qv", "cv"))
        .select(col("qid"), col("nid"), col("sim"))
      Similarity.topK(pairs, 5).select(col("qid"), col("nid"), col("sim"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** IVF-style centroid assignment: per-label centroids (posexplode +
    * avg), then each vector's euclidean distance to its label centroid.
    */
  val embedCentroids: QueryDef = QueryDef.sql("embed_centroids",
    s"""WITH $duckVectors,
       |$duckCentroidCte
       |SELECT vec_id,
       |  round(sqrt(greatest(
       |    list_sum([v[i] * v[i] for i in range(1, len(v) + 1)]) +
       |    list_sum([carr[i] * carr[i] for i in range(1, len(carr) + 1)]) -
       |    2 * list_sum([v[i] * carr[i] for i in range(1, len(v) + 1)]), 0)), 6) AS dist
       |FROM v JOIN ca USING (label) ORDER BY vec_id""".stripMargin) { (s, dir) =>
    // ‖v−c‖² = ‖v‖² + ‖c‖² − 2·v·c, all three via the native vec_dot
    // (the zip_with/aggregate HOF this replaces is interpreted per
    // element — r7 measured it at 5.2 s). The oracle SQL states the
    // SAME rearranged formula (same list_sum folds, same (a+b)-2c
    // association), so both engines round the identical double;
    // greatest(·, 0) on BOTH sides guards the tiny-negative residue
    // a near-centroid vector could leave under FP cancellation.
    // ‖c‖² rides the broadcast (once per label), ‖v‖² once per row.
    val v = Similarity.vectors(Tables.embeddings(s, dir))
    val ca = centroidArrays(v).withColumn("c2", Similarity.dot("carr", "carr"))
    v.join(broadcast(ca), "label")
      .select(col("vec_id"),
        round(sqrt(greatest(
          Similarity.dot("v", "v") + col("c2")
            - lit(2) * Similarity.dot("v", "carr"), lit(0.0))), 6).as("dist"))
      .orderBy(col("vec_id"))
  }

  /** Multimodal metadata extraction: binary media column -> typed decode
    * via per-partition batch stub (see ops.Multimodal — the Spark-side
    * plumbing is real, the codec is a deterministic md5-based fake the
    * oracle mirrors in hex arithmetic).
    */
  val multimodalMeta: QueryDef = {
    def hx(from1: Int): String = OracleSql.stubHex(from1)
    QueryDef.sql("multimodal_meta",
      s"""SELECT doc_id,
         |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  1 + ${hx(1)} % 1024 AS width,
         |  1 + ${hx(5)} % 1024 AS height,
         |  1 + ${hx(9)} % 64 AS n_frames,
         |  ['image', 'audio', 'video'][(${hx(13)} % 3) + 1] AS fmt
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.mediaTable(s, Tables.documents(s, dir))
      Multimodal.decode(s, media).toDF()
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
          col("n_frames"), col("fmt"))
        .orderBy(col("doc_id"))
    }
  }

  /** ANN quality evaluation: recall@5 of the sign-bucket LSH against the
    * exact brute-force top-5, per query — the measurement a pipeline runs
    * before trusting an approximate index (recall = |approx ∩ exact| / k).
    * Both rankings and the intersection are one plan; the oracle
    * recomputes the identical rankings in SQL.
    */
  val embedLshRecall: QueryDef = {
    val duckBucket = OracleSql.signBucket
    QueryDef.sql("embed_lsh_recall",
      s"""WITH $duckVectors,
         |q AS (SELECT vec_id AS qid, v AS qv, $duckBucket AS bucket FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, v AS cv, $duckBucket AS bucket FROM v WHERE vec_id >= 10),
         |bp AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS sim FROM c, q),
         |br AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM bp),
         |bt AS (SELECT qid, nid FROM br WHERE rnk <= 5),
         |lp AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS sim FROM c JOIN q USING (bucket)),
         |lr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM lp),
         |lt AS (SELECT qid, nid FROM lr WHERE rnk <= 5)
         |SELECT bt.qid, CAST(count(lt.nid) AS BIGINT) AS n_hit,
         |  round(count(lt.nid) / 5.0, 6) AS recall
         |FROM bt LEFT JOIN lt ON bt.qid = lt.qid AND bt.nid = lt.nid
         |GROUP BY bt.qid ORDER BY bt.qid""".stripMargin) { (s, dir) =>
      recallAt5(s, dir, Similarity.signBucket("v"))
    }
  }

  /** Shared recall@5 frame: exact brute-force top-5 (queries broadcast)
    * vs single-bucket-probe top-5 under `bucket`, per query vector —
    * both rankings and the intersection in one plan.
    */
  private[graft] def recallAt5(s: org.apache.spark.sql.SparkSession, dir: String,
                               bucket: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val b = Similarity.vectors(Tables.embeddings(s, dir)).withColumn("bucket", bucket)
    val q = b.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("bucket"))
    val c = b.where(col("vec_id") >= 10)
      .select(col("vec_id").as("nid"), col("v").as("cv"), col("bucket"))
    recallFrames(q, c)
  }

  /** recall@5 over arbitrary (qid, qv, bucket) / (nid, cv, bucket)
    * frames — lets RecallProbe measure planted-cluster queries with the
    * exact plan the oracle-checked recall queries use.
    */
  private[graft] def recallFrames(q: org.apache.spark.sql.DataFrame,
                                  c: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    recallFramesProbed(q, q, c)

  /** General form: the exact arm ranks against `q` (one row per query);
    * the approximate arm joins `qp` — possibly SEVERAL probe rows per
    * query with different `bucket` values (multi-probe). The single-
    * probe recall queries pass q twice.
    */
  private[graft] def recallFramesProbed(q: org.apache.spark.sql.DataFrame,
                                        qp: org.apache.spark.sql.DataFrame,
                                        c: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val brute = Similarity.topK(
      c.crossJoin(broadcast(q.drop("bucket")))
        .withColumn("sim", Similarity.cosine("qv", "cv"))
        .select(col("qid"), col("nid"), col("sim")), 5)
      .select(col("qid"), col("nid"))
    val lsh = Similarity.topK(
      c.join(broadcast(qp), "bucket")
        .withColumn("sim", Similarity.cosine("qv", "cv"))
        .select(col("qid"), col("nid"), col("sim")), 5)
      .select(col("qid").as("lqid"), col("nid").as("lnid"))
    brute.join(lsh, brute("qid") === lsh("lqid") && brute("nid") === lsh("lnid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("lnid")).as("n_hit"),
        round(count(col("lnid")) / 5.0, 6).as("recall"))
      .orderBy(col("qid"))
  }

  /** Per-query recall@5 of the PQ/ADC ranking against exact squared-L2
    * over arbitrary (qid, qv) / (nid, cv) frames — the RecallProbe
    * entry for the PQ tier ([[embedPqRecall]] is the oracle-checked
    * single point on the corpus frame). Codebook = the kCodes
    * lowest-id candidate rows per subspace, the gate query's
    * training-free convention.
    */
  private[graft] def pqRecallFrames(q0: org.apache.spark.sql.DataFrame,
                                    c0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (m, dsub, kCodes) = (8, 8, 16)
    def slices(df: org.apache.spark.sql.DataFrame, idCol: String, vCol: String, idOut: String) =
      pqSubSlices(df.select(col(idCol).as("vec_id"), col(vCol).as("v")), idOut, m, dsub)
    val cbBase = c0.orderBy(col("nid")).limit(kCodes)
      .withColumn("code", row_number().over(Window.orderBy(col("nid"))) - 1)
    val cb = slices(cbBase, "nid", "cv", "cbid")
      .join(broadcast(cbBase.select(col("nid").as("cbid"), col("code"))), "cbid")
      .select(col("code"), col("sub"), col("svec").as("cvec"))
    val enc = slices(c0, "nid", "cv", "nid")
      .join(broadcast(cb), "sub")
      .withColumn("d", pqSqDist("svec", "cvec"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("nid"), col("sub")).orderBy(col("d"), col("code"))))
      .where(col("rn") === 1)
      .select(col("nid"), col("sub"), col("code"))
    val adc = slices(q0, "qid", "qv", "qid")
      .join(broadcast(cb), "sub")
      .select(col("qid"), col("sub"), col("code"),
        pqSqDist("svec", "cvec").cast("decimal(18,6)").as("qd"))
    val approx = enc.join(broadcast(adc), Seq("sub", "code"))
      .groupBy(col("qid"), col("nid")).agg(sum(col("qd")).as("sd"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sd"), col("nid"))))
      .where(col("rnk") <= 5)
      .select(col("qid").as("lqid"), col("nid").as("lnid"))
    val brute = c0.crossJoin(broadcast(q0))
      .withColumn("d", pqSqDist("qv", "cv"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("d"), col("nid"))))
      .where(col("rnk") <= 5)
      .select(col("qid"), col("nid"))
    brute.join(approx,
        brute("qid") === approx("lqid") && brute("nid") === approx("lnid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("lnid")).as("n_hit"),
        round(count(col("lnid")) / 5.0, 6).as("recall"))
      .orderBy(col("qid"))
  }

  /** Recall@5 of the PRODUCTION ANN tier — random-hyperplane LSH
    * (Similarity.hyperplaneBucket, seeded murmur3 planes) — against the
    * exact brute-force top-5. Oracle trick: the planes are pure
    * CONSTANTS of (bits, seed, dim), so they are materialized driver-side
    * (Similarity.hyperplanes — SimilaritySpec proves bit-parity with the
    * inline-murmur3 expression) and inlined into the DuckDB SQL as
    * literal arrays; no murmur3 needed on the oracle side. Same 8-bit
    * budget as embed_lsh_recall, so the pair (sign vs hyperplane) is a
    * direct bucket-quality A/B at equal cost.
    */
  val embedHyperplaneRecall: QueryDef = {
    val bits = 8; val seed = 7; val dim = 64
    val hpValues = Similarity.hyperplanes(bits, seed, dim).zipWithIndex
      .map { case (r, b) => s"($b, [${r.mkString(", ")}])" }.mkString(", ")
    QueryDef.sql("embed_hyperplane_recall",
      s"""WITH $duckVectors,
         |hp(b, r) AS (VALUES $hpValues),
         |vb AS (SELECT vec_id, v,
         |         CAST(sum(CASE WHEN list_sum([v[i+1] * r[i+1] for i in range(0, $dim)]) >= 0
         |                  THEN (1 << b) ELSE 0 END) AS BIGINT) AS bucket
         |       FROM v, hp GROUP BY vec_id, v),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM vb WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, v AS cv, bucket FROM vb WHERE vec_id >= 10),
         |bp AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS sim FROM c, q),
         |br AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM bp),
         |bt AS (SELECT qid, nid FROM br WHERE rnk <= 5),
         |lp AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS sim FROM c JOIN q USING (bucket)),
         |lr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM lp),
         |lt AS (SELECT qid, nid FROM lr WHERE rnk <= 5)
         |SELECT bt.qid, CAST(count(lt.nid) AS BIGINT) AS n_hit,
         |  round(count(lt.nid) / 5.0, 6) AS recall
         |FROM bt LEFT JOIN lt ON bt.qid = lt.qid AND bt.nid = lt.nid
         |GROUP BY bt.qid ORDER BY bt.qid""".stripMargin) { (s, dir) =>
      recallAt5(s, dir, Similarity.hyperplaneBucket("v", bits, seed, dim))
    }
  }

  /** Recall@5 of BANDED (OR-amplified) hyperplane LSH — 2 bands × 4
    * bits from the same 8-plane budget as [[embedHyperplaneRecall]] — vs
    * the exact brute-force top-5. A pair is a candidate when it agrees
    * on ANY full band (collision prob 1-(1-p⁴)² ≥ p⁸), so this is the
    * recall lever at fixed plane count, paid in candidate volume
    * (buckets shrink from 2⁸ to 2⁴ per band). Spark side explodes each
    * vector into (band, bkt) rows (Similarity.bandedHyperplane) and
    * equi-joins on BOTH keys; duplicate pairs (agree on both bands) are
    * collapsed with max(sim) before ranking. Oracle inlines the same
    * literal planes (band = b // 4, bit weight = b % 4 — matching the
    * planeOffset arithmetic in hyperplaneBucket).
    */
  val embedBandedRecall: QueryDef = {
    val bands = 2; val r = 4; val seed = 7; val dim = 64
    val hpValues = Similarity.hyperplanes(bands * r, seed, dim).zipWithIndex
      .map { case (rw, b) => s"($b, [${rw.mkString(", ")}])" }.mkString(", ")
    QueryDef.sql("embed_banded_recall",
      s"""WITH $duckVectors,
         |hp(b, r) AS (VALUES $hpValues),
         |vb AS (SELECT vec_id, v, b // $r AS band,
         |         CAST(sum(CASE WHEN list_sum([v[i+1] * r[i+1] for i in range(0, $dim)]) >= 0
         |                  THEN (1 << (b % $r)) ELSE 0 END) AS BIGINT) AS bkt
         |       FROM v, hp GROUP BY vec_id, v, b // $r),
         |qb AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |cb AS (SELECT vec_id AS nid, v AS cv FROM v WHERE vec_id >= 10),
         |bp AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS sim FROM cb, qb),
         |br AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM bp),
         |bt AS (SELECT qid, nid FROM br WHERE rnk <= 5),
         |q AS (SELECT vec_id AS qid, v AS qv, band, bkt FROM vb WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, v AS cv, band, bkt FROM vb WHERE vec_id >= 10),
         |lp AS (SELECT qid, nid, max(${duckCos("qv", "cv")}) AS sim
         |       FROM c JOIN q USING (band, bkt) GROUP BY qid, nid),
         |lr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM lp),
         |lt AS (SELECT qid, nid FROM lr WHERE rnk <= 5)
         |SELECT bt.qid, CAST(count(lt.nid) AS BIGINT) AS n_hit,
         |  round(count(lt.nid) / 5.0, 6) AS recall
         |FROM bt LEFT JOIN lt ON bt.qid = lt.qid AND bt.nid = lt.nid
         |GROUP BY bt.qid ORDER BY bt.qid""".stripMargin) { (s, dir) =>
      val base = Similarity.vectors(Tables.embeddings(s, dir))
      val qBase = base.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val cBase = base.where(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("v").as("cv"))
      val brute = Similarity.topK(
        cBase.crossJoin(broadcast(qBase))
          .withColumn("sim", Similarity.cosine("qv", "cv"))
          .select(col("qid"), col("nid"), col("sim")), 5)
        .select(col("qid"), col("nid"))
      val banded = Similarity.bandedHyperplane(base, "v", bands, r, seed, dim)
      val q = banded.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("band"), col("bkt"))
      val c = banded.where(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("v").as("cv"), col("band"), col("bkt"))
      val cand = c.join(broadcast(q), Seq("band", "bkt"))
        .withColumn("sim", Similarity.cosine("qv", "cv"))
        .groupBy(col("qid"), col("nid")).agg(max(col("sim")).as("sim"))
      val lsh = Similarity.topK(cand, 5)
        .select(col("qid").as("lqid"), col("nid").as("lnid"))
      brute.join(lsh, brute("qid") === lsh("lqid") && brute("nid") === lsh("lnid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("lnid")).as("n_hit"),
          round(count(col("lnid")) / 5.0, 6).as("recall"))
        .orderBy(col("qid"))
    }
  }

  /** Resize over the media table (stub codec): clamp width to 256,
    * scale height proportionally with integer math, report the resized
    * payload size. Oracle mirrors the stub's md5-derived dims.
    */
  val multimodalResize: QueryDef = {
    def hx(from1: Int): String = OracleSql.stubHex(from1)
    QueryDef.sql("multimodal_resize",
      s"""WITH m AS (SELECT doc_id, 1 + ${hx(1)} % 1024 AS w, 1 + ${hx(5)} % 1024 AS h
         |           FROM documents),
         |r AS (SELECT doc_id, least(w, 256) AS out_w,
         |             greatest(1, (h * least(w, 256)) // w) AS out_h FROM m)
         |SELECT doc_id, out_w, out_h, out_w * out_h * 3 AS out_bytes
         |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val media = Multimodal.mediaTable(s, Tables.documents(s, dir))
      Multimodal.resizeMeta(s, media)
        .orderBy(col("doc_id"))
    }
  }

  /** Frame sampling over the media table: decode (stub codec) → strided
    * frame references, ~4 per item — the variable-fanout extraction
    * shape (ops.Multimodal.frameSample). Oracle mirrors the stub's
    * md5-derived n_frames and the arithmetic fingerprint.
    */
  val multimodalFramesample: QueryDef = {
    val nFrames = s"1 + ${OracleSql.stubHex(9)} % 64"
    QueryDef.sql("multimodal_framesample",
      s"""WITH m AS (SELECT doc_id, $nFrames AS n_frames FROM documents),
         |f AS (SELECT doc_id, n_frames, greatest(n_frames // 4, 1) AS stride FROM m)
         |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
         |  (doc_id * 1000003 + i * 7919) % 2147483647 AS fp
         |FROM f, range(0, 64) r(i) WHERE i < n_frames AND i % stride = 0
         |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
      val media = Multimodal.mediaTable(s, Tables.documents(s, dir))
      Multimodal.frameSample(s, media).toDF()
        .select(col("doc_id"), col("frame_idx"), col("fp"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }
  }

  /** Audio segmentation plumbing: the stub-decoded clip duration
    * expands to sliding (win 4000 ms, hop 2000 ms) windows inside the
    * per-partition decoder batch ([[graft.ops.Multimodal.audioWindows]]);
    * the oracle replays the identical hex arithmetic and window law.
    * All-integer output (seg index, start/end/duration ms), the last
    * window clipped, sub-window clips yielding one clipped segment.
    */
  val multimodalAudioWindows: QueryDef = {
    val dur = s"500 + ${OracleSql.stubHex(17)} % 20000"
    QueryDef.sql("multimodal_audio_windows",
      s"""WITH m AS (SELECT doc_id, $dur AS dur FROM documents),
         |w AS (SELECT doc_id, dur, 1 + greatest((dur - 4000) // 2000, 0) AS n FROM m)
         |SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
         |  CAST(i * 2000 AS BIGINT) AS start_ms,
         |  CAST(least(i * 2000 + 4000, dur) AS BIGINT) AS end_ms,
         |  CAST(dur AS BIGINT) AS dur_ms
         |FROM w, range(0, 10) r(i) WHERE i < n
         |ORDER BY doc_id, seg_idx""".stripMargin) { (s, dir) =>
      val media = Multimodal.mediaTable(s, Tables.documents(s, dir))
      Multimodal.audioWindows(s, media).toDF()
        .select(col("doc_id"), col("seg_idx"), col("start_ms"), col("end_ms"), col("dur_ms"))
        .orderBy(col("doc_id"), col("seg_idx"))
    }
  }

  /** Per-DIMENSION statistics of the embedding matrix (mean, variance,
    * min, max for each of the 64 dims) — the dead/dominant-dimension
    * audit run before whitening or quantizer training (a zero-variance
    * dim wastes a codebook axis; a huge-range dim dominates L2). One
    * posexplode + a 64-group map-side-combined rollup — the
    * [[embedCentroids]] long-form shape without the label split;
    * round-6 on the double moments, exact count anchor.
    */
  val embedDimStats: QueryDef = QueryDef.sql("embed_dim_stats",
    s"""WITH $duckVectors,
       |e AS (SELECT i, v[i] AS x FROM v, range(1, 65) r(i))
       |SELECT CAST(i AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
       |  round(avg(x), 6) AS mean,
       |  round(avg(x * x) - avg(x) * avg(x), 6) AS var,
       |  round(min(x), 6) AS mn, round(max(x), 6) AS mx
       |FROM e GROUP BY i ORDER BY dim""".stripMargin) { (s, dir) =>
    Similarity.vectors(Tables.embeddings(s, dir))
      .select(posexplode(col("v")).as(Seq("i0", "x")))
      .select((col("i0") + 1).cast("long").as("dim"), col("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("x")), 6).as("mean"),
        round(avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")), 6).as("var"),
        round(min(col("x")), 6).as("mn"), round(max(col("x")), 6).as("mx"))
      .orderBy(col("dim"))
  }

  /** Vector norms / stats per embedding — the normalization pass a
    * training pipeline runs before indexing (L2, L-inf, positive-dim
    * count; exact double folds, round-6 on the norms).
    */
  val embedNorms: QueryDef = QueryDef.sql("embed_norms",
    s"""WITH $duckVectors
       |SELECT vec_id,
       |  round(sqrt(list_sum([x * x for x in v])), 6) AS l2,
       |  round(list_max([abs(x) for x in v]), 6) AS linf,
       |  CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos
       |FROM v ORDER BY vec_id""".stripMargin) { (s, dir) =>
    Similarity.vectors(Tables.embeddings(s, dir))
      .select(col("vec_id"),
        round(Similarity.l2("v"), 6).as("l2"),
        round(expr("array_max(transform(v, x -> abs(x)))"), 6).as("linf"),
        expr("size(filter(v, x -> x > CAST(0 AS DOUBLE)))").cast("long").as("n_pos"))
      .orderBy(col("vec_id"))
  }

  /** IVF-variant ANN: label centroids are the cells; each query probes
    * its nprobe=2 nearest cells (round-6 distances, label tiebreak),
    * then exact cosine top-3 within the probed cells. nprobe>1 is the
    * standard recall knob at scale — cell boundaries clip true
    * neighbors when only the closest cell is scanned. Cell assignment
    * via a broadcast of ~#labels centroids; a candidate joins at most
    * one probed cell (its own label), so the scan shrinks by
    * cells/nprobe and pairs stay distinct.
    */
  val embedKnnIvf: QueryDef = {
    // Same norm-trick distance as embed_centroids (native vec_dot on
    // the Spark side, identical fold/association in the oracle) — the
    // cell-ranking row_number sorts these round-6 values, so the two
    // engines must compute the same double bit-for-bit.
    val duckDist =
      """round(sqrt(greatest(list_sum([qv[i] * qv[i] for i in range(1, len(qv) + 1)]) +
        |    list_sum([carr[i] * carr[i] for i in range(1, len(carr) + 1)]) -
        |    2 * list_sum([qv[i] * carr[i] for i in range(1, len(qv) + 1)]), 0)), 6)""".stripMargin
    QueryDef.sql("embed_knn_ivf",
      s"""WITH $duckVectors,
         |$duckCentroidCte,
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |asg AS (SELECT qid, qv, label AS cell,
         |          CAST(row_number() OVER (PARTITION BY qid ORDER BY $duckDist, label) AS BIGINT) AS cr
         |        FROM q CROSS JOIN ca),
         |probe AS (SELECT qid, qv, cell FROM asg WHERE cr <= 2),
         |c AS (SELECT vec_id AS nid, v AS cv, label FROM v WHERE vec_id >= 10),
         |p AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS sim
         |      FROM c JOIN probe ON c.label = probe.cell),
         |r AS (SELECT qid, nid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rnk FROM p)
         |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir))
      val ca = centroidArrays(v)
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
        .orderBy(col("__d"), col("label"))
      val probe = q.crossJoin(broadcast(ca))
        .withColumn("__d", round(sqrt(greatest(
          Similarity.dot("qv", "qv") + Similarity.dot("carr", "carr")
            - lit(2) * Similarity.dot("qv", "carr"), lit(0.0))), 6))
        .withColumn("cr", row_number().over(wc))
        .where(col("cr") <= 2)
        .select(col("qid"), col("qv"), col("label").as("cell"))
      val c = v.where(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("v").as("cv"), col("label"))
      val pairs = c.join(broadcast(probe), c("label") === probe("cell"))
        .withColumn("sim", Similarity.cosine("qv", "cv"))
        .select(col("qid"), col("nid"), col("sim"))
      Similarity.topK(pairs, 3).select(col("qid"), col("nid"), col("sim"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** IVF ANN with a K-MEANS coarse quantizer — [[embedKnnIvf]]'s probe
    * machinery pointed at TRAINED cells instead of per-label centroids:
    * a 2-round deterministic Lloyd fit ([[graft.ml.KMeans]], broadcast
    * centroid tables, the dedup_semantic recipe) builds the k=16
    * quantizer, candidates index into their assigned cell, and each
    * query probes its nprobe=2 nearest trained centroids before the
    * exact cosine top-3. This is the real IVF construction (labels are
    * a fixture convenience; production corpora have no labels) and the
    * r9-verdict "distributed k-means feeding embed_knn_ivf" gate row.
    *
    * Scale: training is KMeans.fit (plan O(1) in k, per-round one scan
    * + one n-row argmin shuffle), the quantizer rides a broadcast both
    * at index and probe time, and candidates join exactly one probed
    * cell each — the same shuffle story as embed_knn_ivf with the cell
    * count now a free knob instead of the label cardinality.
    * Determinism: round-6 probe distances with lower-cl ties (the
    * oracle's ORDER BY d, cl), round-6 centroid updates — both engines
    * iterate bit-identical matrices.
    */
  val embedKnnIvfKmeans: QueryDef = {
    val k = 16; val dim = 64
    def duckD2(vc: String, cc: String): String =
      s"""list_sum([$vc[i] * $vc[i] for i in range(1, ${dim + 1})]) +
         |      list_sum([$cc[i] * $cc[i] for i in range(1, ${dim + 1})]) -
         |      2 * list_sum([$vc[i] * $cc[i] for i in range(1, ${dim + 1})])""".stripMargin
    QueryDef.sql("embed_knn_ivf_kmeans",
      s"""WITH $duckVectors,
         |c0 AS (SELECT vec_id AS cl, v AS cv FROM v ORDER BY vec_id LIMIT $k),
         |d1 AS (SELECT v.vec_id, v.v, c0.cl, ${duckD2("v.v", "c0.cv")} AS d2 FROM v, c0),
         |a1 AS (SELECT vec_id, v, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d1) WHERE rk = 1),
         |u1 AS (SELECT cl, i, round(avg(v[i]), 6) AS x
         |       FROM a1, range(1, ${dim + 1}) r(i) GROUP BY cl, i),
         |c1 AS (SELECT cl, list(x ORDER BY i) AS cv FROM u1 GROUP BY cl),
         |d2c AS (SELECT v.vec_id, v.v, c1.cl, ${duckD2("v.v", "c1.cv")} AS d2 FROM v, c1),
         |a2 AS (SELECT vec_id, v, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d2c) WHERE rk = 1),
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |pa AS (SELECT qid, qv, c1.cl AS cell,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY
         |           round(sqrt(greatest(${duckD2("qv", "c1.cv")}, 0)), 6), c1.cl) AS BIGINT) AS cr
         |       FROM q CROSS JOIN c1),
         |probe AS (SELECT qid, qv, cell FROM pa WHERE cr <= 2),
         |c AS (SELECT vec_id AS nid, v AS cv2, cl FROM a2 WHERE vec_id >= 10),
         |p AS (SELECT qid, nid, ${duckCos("qv", "cv2")} AS sim
         |      FROM c JOIN probe ON c.cl = probe.cell),
         |r AS (SELECT qid, nid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rnk FROM p)
         |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val (assigned, cents) = graft.ml.KMeans.fit(
        v, graft.ml.KMeans.seedSmallest(v, k), iters = 2)
      val cw = broadcast(cents.select(col("cl"), col("cv"),
        Similarity.dot("cv", "cv").as("c2")))
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
        .orderBy(col("__d"), col("cl"))
      val probe = q.crossJoin(cw)
        .withColumn("__d", round(sqrt(greatest(
          Similarity.dot("qv", "qv") + col("c2")
            - lit(2) * Similarity.dot("qv", "cv"), lit(0.0))), 6))
        .withColumn("cr", row_number().over(wc))
        .where(col("cr") <= 2)
        .select(col("qid"), col("qv"), col("cl").as("cell"))
      val c = assigned.where(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("v").as("cv2"), col("cl"))
      val pairs = c.join(broadcast(probe), c("cl") === probe("cell"))
        .withColumn("sim", Similarity.cosine("qv", "cv2"))
        .select(col("qid"), col("nid"), col("sim"))
      Similarity.topK(pairs, 3).select(col("qid"), col("nid"), col("sim"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** Inertia-vs-k ELBOW curve — the knob-setting pass before committing
    * a cell count to [[embedKnnIvfKmeans]]'s quantizer or
    * [[dedupSemantic]]'s SemDeDup cells: one deterministic 2-round
    * Lloyd fit per candidate k (the shared recipe: k-smallest seeds,
    * one round-6 update, final re-assign), emitting (k, n, inertia,
    * avg_d2). Each fit is the KMeans broadcast-table kernel, so the
    * sweep cost is |ks| scans + |ks| n-row argmin shuffles — plan size
    * O(1) in every k, which is exactly why the sweep can include large
    * k at corpus scale.
    */
  val embedKmeansElbow: QueryDef = {
    val ks = Seq(2, 4, 8); val dim = 64
    def duckD2(vc: String, cc: String): String =
      s"""list_sum([$vc[i] * $vc[i] for i in range(1, ${dim + 1})]) +
         |      list_sum([$cc[i] * $cc[i] for i in range(1, ${dim + 1})]) -
         |      2 * list_sum([$vc[i] * $cc[i] for i in range(1, ${dim + 1})])""".stripMargin
    val chains = ks.map { k =>
      s"""c0_$k AS (SELECT vec_id AS cl, v AS cv FROM v ORDER BY vec_id LIMIT $k),
         |d1_$k AS (SELECT v.vec_id, v.v, c.cl, ${duckD2("v.v", "c.cv")} AS d2 FROM v, c0_$k c),
         |a1_$k AS (SELECT vec_id, v, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d1_$k) WHERE rk = 1),
         |u1_$k AS (SELECT cl, i, round(avg(v[i]), 6) AS x
         |       FROM a1_$k, range(1, ${dim + 1}) r(i) GROUP BY cl, i),
         |c1_$k AS (SELECT cl, list(x ORDER BY i) AS cv FROM u1_$k GROUP BY cl),
         |d2c_$k AS (SELECT v.vec_id, c.cl, ${duckD2("v.v", "c.cv")} AS d2 FROM v, c1_$k c),
         |a2_$k AS (SELECT vec_id, cl, d2 FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d2c_$k) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    val selects = ks.map(k =>
      s"""SELECT CAST($k AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n,
         |  round(sum(d2), 3) AS inertia, round(avg(d2), 6) AS avg_d2 FROM a2_$k""".stripMargin)
      .mkString("\nUNION ALL\n")
    QueryDef.sql("embed_kmeans_elbow",
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |$chains
         |SELECT * FROM ($selects) ORDER BY k""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      ks.map { k =>
        val (assigned, _) = graft.ml.KMeans.fit(
          v, graft.ml.KMeans.seedSmallest(v, k), iters = 2)
        assigned.agg(count(lit(1)).as("n"), round(sum(col("d2")), 3).as("inertia"),
            round(avg(col("d2")), 6).as("avg_d2"))
          .select(lit(k.toLong).as("k"), col("n"), col("inertia"), col("avg_d2"))
      }.reduce(_.unionByName(_)).orderBy(col("k"))
    }
  }

  /** PERSISTED IVF index roundtrip — the ANN analog of
    * q_shard_roundtrip's write-path gate: the trained quantizer
    * (centroid table) and the cell assignments are WRITTEN to parquet
    * (the index artifact a 100 TB pipeline builds once per corpus
    * snapshot and serves for months), read BACK, and queried — nprobe=2
    * probe + exact cosine top-3, identical semantics and oracle to
    * [[embedKnnIvfKmeans]], so the gate proves the serialize →
    * deserialize → query cycle loses nothing. The index layout is the
    * scale story: assignments partitioned BY CELL, so a probe reads
    * only its two cells' files (partition pruning does for ANN what
    * split-pruning does for eval readers).
    */
  val embedIvfIndexRoundtrip: QueryDef = {
    val k = 16
    QueryDef.sql("embed_ivf_index_roundtrip",
      embedKnnIvfKmeans.oracle.get) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      // ---- query phase reads only the PERSISTED index (the shared
      // full-corpus coarse root; the attr column rides inert — the
      // probe neither filters nor returns it, so the result is the
      // label-free build's, r16-opt §artifact-sharing) ----
      val root = ivfFullRoot(s, dir, k)
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.IvfIndex.probe(s, q, root, nprobe = 2, topk = 3,
          cand = _.where(col("vec_id") >= 10))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** ONE full-corpus coarse IVF root per (dir, k) — built WITH the
    * label attribute (the superset artifact: attrs ride both halves
    * without touching the centroid fit, so the attr-filtered row
    * slices the same index the unfiltered rows probe). Shared by
    * embed_ivf_index_roundtrip / embed_ivf_probe_filtered directly,
    * and CLONED as the coarse half by the PQ-tier builds
    * (embed_ivf_pq_index, the ivfadc family, embed_ivfadc_alloc) —
    * before r16-opt each of those re-ran the identical coarse k-means
    * fit (~1.5-2 s apiece at sf0.1; guide §1.2, the ivfadc
    * one-artifact discipline extended family-wide).
    */
  private[graft] def ivfFullRoot(s: org.apache.spark.sql.SparkSession,
                                 dir: String, k: Int): String =
    graft.ops.Artifacts.root(s, dir, Seq("embeddings"), "ivf_full", k) { root =>
      graft.ops.IvfIndex.build(
        Similarity.vectors(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("v"), col("label")), k, iters = 2, root)
    }

  /** Shared oracle CTE chain for the APPEND-mode index queries: the
    * quantizer is fit on the BASE HALF only (vec_id < 400 — c0 seeds
    * and the one Lloyd update average over vb), then `a2` assigns the
    * WHOLE corpus to those held-fixed centroids. That assign-all rule
    * IS the append ≡ rebuild law: the Spark side builds the index on
    * the base, appends the batch against the persisted centroids, and
    * must land every vector in the same cell this chain does.
    */
  private def ivfBaseFitCtes(k: Int, dim: Int): String = {
    def duckD2(vc: String, cc: String): String =
      s"""list_sum([$vc[i] * $vc[i] for i in range(1, ${dim + 1})]) +
         |      list_sum([$cc[i] * $cc[i] for i in range(1, ${dim + 1})]) -
         |      2 * list_sum([$vc[i] * $cc[i] for i in range(1, ${dim + 1})])""".stripMargin
    s"""$duckVectors,
       |vb AS (SELECT * FROM v WHERE vec_id < 400),
       |c0 AS (SELECT vec_id AS cl, v AS cv FROM vb ORDER BY vec_id LIMIT $k),
       |d1 AS (SELECT vb.vec_id, vb.v, c0.cl, ${duckD2("vb.v", "c0.cv")} AS d2 FROM vb, c0),
       |a1 AS (SELECT vec_id, v, cl FROM (
       |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
       |        FROM d1) WHERE rk = 1),
       |u1 AS (SELECT cl, i, round(avg(v[i]), 6) AS x
       |       FROM a1, range(1, ${dim + 1}) r(i) GROUP BY cl, i),
       |c1 AS (SELECT cl, list(x ORDER BY i) AS cv FROM u1 GROUP BY cl),
       |d2c AS (SELECT v.vec_id, v.v, c1.cl, ${duckD2("v.v", "c1.cv")} AS d2 FROM v, c1),
       |a2 AS (SELECT vec_id, v, cl FROM (
       |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
       |        FROM d2c) WHERE rk = 1)""".stripMargin
  }

  /** INCREMENTAL index growth — the CorpusPipeline.append analog for
    * embeddings: the quantizer is trained on the base half and
    * persisted; the batch half assigns to the EXISTING cells via
    * [[graft.ops.IvfIndex.append]] (one broadcast-table argmin over the
    * batch only — cost scales with the batch, the base is never
    * rewritten) and lands as new files under the hive cell partitions.
    * The probe then sees base ∪ batch. The oracle fits on the base and
    * assigns ALL vectors to the held-fixed centroids — so a green row
    * states append ≡ full rebuild corpus-wide; IvfIndexSpec pins the
    * same law frame-level plus the probe equality, and ScaleProbe
    * measures append cost scaling with the batch. The retrain trigger
    * (when drift makes fixed cells stale) is [[embedIndexDrift]].
    */
  val embedIvfIndexAppend: QueryDef = {
    val k = 16; val dim = 64
    QueryDef.sql("embed_ivf_index_append",
      s"""WITH ${ivfBaseFitCtes(k, dim)},
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |pa AS (SELECT qid, qv, c1.cl AS cell,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY
         |           round(sqrt(greatest(list_sum([qv[i] * qv[i] for i in range(1, ${dim + 1})]) +
         |             list_sum([c1.cv[i] * c1.cv[i] for i in range(1, ${dim + 1})]) -
         |             2 * list_sum([qv[i] * c1.cv[i] for i in range(1, ${dim + 1})]), 0)), 6),
         |           c1.cl) AS BIGINT) AS cr
         |       FROM q CROSS JOIN c1),
         |probe AS (SELECT qid, qv, cell FROM pa WHERE cr <= 2),
         |c AS (SELECT vec_id AS nid, v AS cv2, cl FROM a2 WHERE vec_id >= 10),
         |p AS (SELECT qid, nid, ${duckCos("qv", "cv2")} AS sim
         |      FROM c JOIN probe ON c.cl = probe.cell),
         |r AS (SELECT qid, nid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rnk FROM p)
         |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val root = ivfAppendRoot(s, dir, k)
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.IvfIndex.probe(s, q, root, nprobe = 2, topk = 3,
          cand = _.where(col("vec_id") >= 10))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** The shared APPEND-MODE root (quantizer fit on vec_id < 400, the
    * rest appended at held-fixed centroids) — the exact pre-delete
    * state embed_ivf_index_delete starts from, so the delete gate
    * CLONES this tree instead of re-running the identical build+append
    * (r16-opt, guide §1.2; the mutation gate keeps its private root
    * because it tombstones + compacts the artifact).
    */
  private def ivfAppendRoot(s: org.apache.spark.sql.SparkSession,
                            dir: String, k: Int): String =
    graft.ops.Artifacts.root(s, dir, Seq("embeddings"), "ivf_append", k) { root =>
      val v = Similarity.vectors(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("v"))
      graft.core.Fs.copyRecursive(s, ivfBase400Root(s, dir, k), root)
      graft.ops.IvfIndex.append(s, v.where(col("vec_id") >= 400), root)
    }

  /** The shared BASE-HALF build (quantizer fit on vec_id < 400, nothing
    * appended yet) — the starting state of every append-mode surface:
    * [[ivfAppendRoot]] and each streaming_ivf_append_replay invocation
    * clone this tree and mutate the clone (r16-opt; the per-invocation
    * replays were each re-fitting the identical 2-iteration quantizer).
    */
  private def ivfBase400Root(s: org.apache.spark.sql.SparkSession,
                             dir: String, k: Int): String =
    graft.ops.Artifacts.root(s, dir, Seq("embeddings"), "ivf_base400", k) { root =>
      graft.ops.IvfIndex.build(
        Similarity.vectors(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("v")).where(col("vec_id") < 400),
        k, iters = 2, root)
    }

  /** ATTRIBUTE-FILTERED probe over the persisted index — the single
    * most common production serving pattern on a corpus index (r13
    * verdict §2: "restrict to a source/lang slice"): the index is built
    * with the attribute column stored NEXT TO the vectors inside each
    * cell partition ([[graft.ops.IvfIndex.build]]'s attr carry), and the
    * probe's `cand` hook applies the predicate directly to the
    * assignments scan — so the filter is PUSHED to the parquet reader
    * of the DPP-pruned cell files (PlanSpec pins both: the dynamic
    * partition filter AND the pushed attribute predicate on the same
    * scan). No side join, no post-filter over fetched vectors: at
    * 100 TB a label-sliced query reads nprobe cells' files and
    * row-group-skips on the attribute inside them. Semantics: the
    * [[embedKnnIvfKmeans]] chain with candidates restricted to
    * label ∈ {1, 3, 5, 7}; the oracle applies the identical predicate
    * in the candidate CTE.
    */
  val embedIvfProbeFiltered: QueryDef = {
    val k = 16; val dim = 64
    QueryDef.sql("embed_ivf_probe_filtered",
      s"""WITH $duckVectors,
         |c0 AS (SELECT vec_id AS cl, v AS cv FROM v ORDER BY vec_id LIMIT $k),
         |d1 AS (SELECT v.vec_id, v.v, c0.cl, list_sum([v.v[i] * v.v[i] for i in range(1, ${dim + 1})]) +
         |      list_sum([c0.cv[i] * c0.cv[i] for i in range(1, ${dim + 1})]) -
         |      2 * list_sum([v.v[i] * c0.cv[i] for i in range(1, ${dim + 1})]) AS d2 FROM v, c0),
         |a1 AS (SELECT vec_id, v, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d1) WHERE rk = 1),
         |u1 AS (SELECT cl, i, round(avg(v[i]), 6) AS x
         |       FROM a1, range(1, ${dim + 1}) r(i) GROUP BY cl, i),
         |c1 AS (SELECT cl, list(x ORDER BY i) AS cv FROM u1 GROUP BY cl),
         |d2c AS (SELECT v.vec_id, v.v, c1.cl, list_sum([v.v[i] * v.v[i] for i in range(1, ${dim + 1})]) +
         |      list_sum([c1.cv[i] * c1.cv[i] for i in range(1, ${dim + 1})]) -
         |      2 * list_sum([v.v[i] * c1.cv[i] for i in range(1, ${dim + 1})]) AS d2 FROM v, c1),
         |a2 AS (SELECT vec_id, v, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d2c) WHERE rk = 1),
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |pa AS (SELECT qid, qv, c1.cl AS cell,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY
         |           round(sqrt(greatest(list_sum([qv[i] * qv[i] for i in range(1, ${dim + 1})]) +
         |             list_sum([c1.cv[i] * c1.cv[i] for i in range(1, ${dim + 1})]) -
         |             2 * list_sum([qv[i] * c1.cv[i] for i in range(1, ${dim + 1})]), 0)), 6),
         |           c1.cl) AS BIGINT) AS cr
         |       FROM q CROSS JOIN c1),
         |probe AS (SELECT qid, qv, cell FROM pa WHERE cr <= 2),
         |c AS (SELECT a2.vec_id AS nid, a2.v AS cv2, a2.cl
         |      FROM a2 JOIN v vv ON vv.vec_id = a2.vec_id
         |      WHERE a2.vec_id >= 10 AND vv.label IN (1, 3, 5, 7)),
         |p AS (SELECT qid, nid, ${duckCos("qv", "cv2")} AS sim
         |      FROM c JOIN probe ON c.cl = probe.cell),
         |r AS (SELECT qid, nid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rnk FROM p)
         |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val vl = Similarity.vectors(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("v"), col("label"))
      // the shared full-corpus coarse root (r16-opt §artifact-sharing)
      val root = ivfFullRoot(s, dir, k)
      val q = vl.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.IvfIndex.probe(s, q, root, nprobe = 2, topk = 3,
          cand = _.where(col("vec_id") >= 10 && col("label").isin(1, 3, 5, 7)))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  private val streamSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** STREAMING index maintenance — [[embedIvfIndexAppend]]'s at-ingest
    * twin and the FIFTEENTH gated replay class (r12 verdict §3): the
    * batch half arrives as a file-source vector STREAM (range-staged
    * chunk files, maxFilesPerTrigger=1 — the
    * [[StreamingReplays.stageOrderedFiles]] harness, nothing collected)
    * and every micro-batch runs [[graft.ops.IvfIndex.append]] inside
    * foreachBatch: assign to the FIXED persisted centroids, land
    * cell-partitioned under the existing index — exactly how a
    * production ingest keeps a serving ANN index current. Because
    * centroids are held fixed, appends commute and batch boundaries
    * cannot matter, so the replayed index ≡ the one-shot batch append ≡
    * a full rebuild at those centroids — the oracle states the last
    * equality corpus-wide (the embed_ivf_index_append oracle verbatim),
    * and IvfIndexSpec pins streamed ≡ batch on a SHUFFLED replay
    * (chunks interleaved by id, not range-ordered).
    */
  val streamingIvfAppendReplay: QueryDef = {
    val k = 16; val dim = 64
    QueryDef.sql("streaming_ivf_append_replay",
      s"""WITH ${ivfBaseFitCtes(k, dim)},
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |pa AS (SELECT qid, qv, c1.cl AS cell,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY
         |           round(sqrt(greatest(list_sum([qv[i] * qv[i] for i in range(1, ${dim + 1})]) +
         |             list_sum([c1.cv[i] * c1.cv[i] for i in range(1, ${dim + 1})]) -
         |             2 * list_sum([qv[i] * c1.cv[i] for i in range(1, ${dim + 1})]), 0)), 6),
         |           c1.cl) AS BIGINT) AS cr
         |       FROM q CROSS JOIN c1),
         |probe AS (SELECT qid, qv, cell FROM pa WHERE cr <= 2),
         |c AS (SELECT vec_id AS nid, v AS cv2, cl FROM a2 WHERE vec_id >= 10),
         |p AS (SELECT qid, nid, ${duckCos("qv", "cv2")} AS sim
         |      FROM c JOIN probe ON c.cl = probe.cell),
         |r AS (SELECT qid, nid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rnk FROM p)
         |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      // per-invocation root: the replay MUTATES the index, so it can
      // never share a session artifact with another invocation
      val root = graft.ops.Scratch.dir(s"ivf_stream_${streamSeq.incrementAndGet()}")
      val batch = v.where(col("vec_id") >= 400)
      // clone the shared base-half root into this invocation's private
      // tree (the replay mutates it) — no per-invocation refit (r16-opt)
      graft.core.Fs.copyRecursive(s, ivfBase400Root(s, dir, k), root)
      val (watched, staged) = StreamingReplays.stageOrderedFiles(
        batch, 3, Seq(col("vec_id")))
      try {
        val stream = s.readStream.schema(batch.schema)
          .option("maxFilesPerTrigger", "1").parquet(watched)
        val appendBatch: (org.apache.spark.sql.DataFrame, Long) => Unit =
          (b, _) => graft.ops.IvfIndex.append(s, b, root)
        val query = stream.writeStream.outputMode("append")
          .foreachBatch(appendBatch).start()
        try query.processAllAvailable() finally query.stop()
      } finally StreamingReplays.rmTree(staged)
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.IvfIndex.probe(s, q, root, nprobe = 2, topk = 3,
          cand = _.where(col("vec_id") >= 10))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** STREAMING index retraction — [[streamingIvfAppendReplay]]'s
    * delete-side twin and the SIXTEENTH gated replay class: dedup
    * retracts documents continuously, so tombstones arrive as a STREAM
    * (file-source id chunks, maxFilesPerTrigger=1) and every
    * micro-batch runs [[graft.ops.IvfIndex.delete]] inside foreachBatch
    * — an append-only tombstone write, so retracted vectors stop
    * serving AT THAT BATCH BOUNDARY (the probe's anti-join needs no
    * compaction to be correct). The compact policy runs IN-STREAM (r13
    * verdict §8 — the production maintenance loop, not just a
    * post-drain sweep): every micro-batch follows its delete with a
    * threshold compaction, and [[graft.ops.IvfIndex.compact]]'s own
    * cell selection makes that the right primitive — on most batches no
    * cell has crossed the tombstone-share threshold and the call is a
    * stats scan + zero writes; when a cell crosses MID-STREAM it is
    * crash-atomically rewritten while later retraction chunks keep
    * arriving (IvfIndexSpec's extended law counts the mid-stream
    * rewrites and pins parity vs the one-shot batch delete ∘ compact).
    * Tombstone appends commute and compaction never changes what a
    * probe sees, so streamed deletes ∘ in-stream compacts ≡ the
    * one-shot batch delete ≡ rebuild on the survivors — the oracle
    * states the last equality corpus-wide (the embed_ivf_index_delete
    * oracle verbatim).
    */
  val streamingIvfDeleteReplay: QueryDef = {
    val k = 16; val dim = 64
    QueryDef.sql("streaming_ivf_delete_replay",
      s"""WITH ${ivfBaseFitCtes(k, dim)},
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |pa AS (SELECT qid, qv, c1.cl AS cell,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY
         |           round(sqrt(greatest(list_sum([qv[i] * qv[i] for i in range(1, ${dim + 1})]) +
         |             list_sum([c1.cv[i] * c1.cv[i] for i in range(1, ${dim + 1})]) -
         |             2 * list_sum([qv[i] * c1.cv[i] for i in range(1, ${dim + 1})]), 0)), 6),
         |           c1.cl) AS BIGINT) AS cr
         |       FROM q CROSS JOIN c1),
         |probe AS (SELECT qid, qv, cell FROM pa WHERE cr <= 2),
         |c AS (SELECT vec_id AS nid, v AS cv2, cl FROM a2
         |      WHERE vec_id >= 10 AND vec_id % 7 <> 0),
         |p AS (SELECT qid, nid, ${duckCos("qv", "cv2")} AS sim
         |      FROM c JOIN probe ON c.cl = probe.cell),
         |r AS (SELECT qid, nid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rnk FROM p)
         |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      // per-invocation root: the replay MUTATES the index (see
      // streamingIvfAppendReplay)
      val root = graft.ops.Scratch.dir(s"ivf_sdel_${streamSeq.incrementAndGet()}")
      // clone the shared append-mode root (identical build+append
      // state) into this invocation's private tree (r16-opt)
      graft.core.Fs.copyRecursive(s, ivfAppendRoot(s, dir, k), root)
      val doomed = v.where(col("vec_id") % 7 === 0).select(col("vec_id"))
      val (watched, staged) = StreamingReplays.stageOrderedFiles(
        doomed, 3, Seq(col("vec_id")))
      try {
        val stream = s.readStream.schema(doomed.schema)
          .option("maxFilesPerTrigger", "1").parquet(watched)
        val deleteBatch: (org.apache.spark.sql.DataFrame, Long) => Unit =
          (b, _) => {
            graft.ops.IvfIndex.delete(s, b, root)
            // in-stream threshold compaction: fires only when a cell's
            // tombstone share crossed 8% as of THIS batch boundary
            graft.ops.IvfIndex.compact(s, root, minRatio = 0.08): Unit
          }
        val query = stream.writeStream.outputMode("append")
          .foreachBatch(deleteBatch).start()
        try query.processAllAvailable() finally query.stop()
      } finally StreamingReplays.rmTree(staged)
      graft.ops.IvfIndex.compact(s, root, minRatio = 0.08): Unit
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.IvfIndex.probe(s, q, root, nprobe = 2, topk = 3,
          cand = _.where(col("vec_id") >= 10))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** PERSISTED IVFADC index roundtrip — [[embedIvfIndexRoundtrip]]'s
    * write-path gate extended with the PQ halves the r11 verdict asked
    * for: the coarse quantizer, the TRAINED per-subspace codebooks
    * ([[graft.ml.KMeans.fitGrouped]], seeded with the sub-slices of the
    * 16 smallest ids) and the corpus ENCODING (vec_id, sub, code,
    * cell-partitioned) are all WRITTEN to parquet
    * ([[graft.ops.IvfIndex.buildPq]]), read BACK, and queried via ADC
    * ([[graft.ops.IvfIndex.probePq]]): nprobe=2 coarse routing, then
    * code lookups against the query's M·K ADC table — a probed cell's
    * storage is 4-bit codes, never vectors. Oracle replays coarse fit +
    * grouped codebook fit + encode + probe in one chain, so a green row
    * certifies the whole artifact lifecycle (train → persist → read →
    * serve) numerically end-to-end.
    */
  val embedIvfPqIndex: QueryDef = {
    val (k, dim, m, dsub, kCodes) = (16, 64, 8, 8, 16)
    def duckD2(a: String, b: String, d: Int): String =
      s"""list_sum([$a[i] * $a[i] for i in range(1, ${d + 1})]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, ${d + 1})]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, ${d + 1})])""".stripMargin
    def duckSqDist(a: String, b: String): String =
      s"""round(greatest(list_sum([$a[i] * $a[i] for i in range(1, len($a) + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, len($b) + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)]), 0), 6)""".stripMargin
    QueryDef.sql("embed_ivf_pq_index",
      s"""WITH $duckVectors,
         |c0 AS (SELECT vec_id AS cl, v AS cv FROM v ORDER BY vec_id LIMIT $k),
         |d1 AS (SELECT v.vec_id, v.v, c0.cl, ${duckD2("v.v", "c0.cv", dim)} AS d2 FROM v, c0),
         |a1 AS (SELECT vec_id, v, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d1) WHERE rk = 1),
         |u1 AS (SELECT cl, i, round(avg(v[i]), 6) AS x
         |       FROM a1, range(1, ${dim + 1}) r(i) GROUP BY cl, i),
         |c1 AS MATERIALIZED (SELECT cl, list(x ORDER BY i) AS cv FROM u1 GROUP BY cl),
         |d2c AS (SELECT v.vec_id, c1.cl, ${duckD2("v.v", "c1.cv", dim)} AS d2 FROM v, c1),
         |a2 AS (SELECT vec_id, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d2c) WHERE rk = 1),
         |ss AS MATERIALIZED (SELECT vec_id, s.sub, v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS sv
         |       FROM v CROSS JOIN range(0, $m) s(sub)),
         |p0 AS (SELECT sub, vec_id AS cl, sv AS cv FROM ss WHERE vec_id < $kCodes),
         |pd1 AS (SELECT ss.vec_id, ss.sub, ss.sv, c.cl, ${duckD2("ss.sv", "c.cv", dsub)} AS d2
         |        FROM ss JOIN p0 c ON ss.sub = c.sub),
         |pa1 AS (SELECT vec_id, sub, sv, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cl) AS rk
         |        FROM pd1) WHERE rk = 1),
         |pu1 AS (SELECT sub, cl, i, round(avg(sv[i]), 6) AS x
         |        FROM pa1, range(1, ${dsub + 1}) r(i) GROUP BY sub, cl, i),
         |pc1 AS MATERIALIZED (SELECT sub, cl, list(x ORDER BY i) AS cv FROM pu1 GROUP BY sub, cl),
         |pd2 AS (SELECT ss.vec_id, ss.sub, c.cl, ${duckD2("ss.sv", "c.cv", dsub)} AS d2
         |        FROM ss JOIN pc1 c ON ss.sub = c.sub),
         |penc AS MATERIALIZED (SELECT vec_id, sub, cl AS code FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cl) AS rk
         |        FROM pd2) WHERE rk = 1),
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |pa AS (SELECT qid, qv, c1.cl AS cell,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY
         |           round(sqrt(greatest(${duckD2("qv", "c1.cv", dim)}, 0)), 6), c1.cl)
         |           AS BIGINT) AS cr
         |       FROM q CROSS JOIN c1),
         |probe AS (SELECT qid, cell FROM pa WHERE cr <= 2),
         |qs AS (SELECT vec_id AS qid, s.sub, v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS sv
         |       FROM v CROSS JOIN range(0, $m) s(sub) WHERE vec_id < 10),
         |adc AS (SELECT qid, qs.sub, pc1.cl AS code,
         |          CAST(${duckSqDist("qs.sv", "pc1.cv")} AS DECIMAL(18,6)) AS qd
         |        FROM qs JOIN pc1 ON qs.sub = pc1.sub),
         |cand AS (SELECT penc.vec_id AS nid, penc.sub, penc.code, a2.cl
         |         FROM penc JOIN a2 USING (vec_id) WHERE penc.vec_id >= 10),
         |pr AS (SELECT probe.qid, cand.nid, sum(adc.qd) AS sd
         |       FROM cand JOIN probe ON cand.cl = probe.cell
         |       JOIN adc ON adc.qid = probe.qid AND adc.sub = cand.sub
         |         AND adc.code = cand.code
         |       GROUP BY 1, 2),
         |r AS (SELECT qid, nid, CAST(sd AS DOUBLE) AS adist,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sd, nid) AS BIGINT) AS rnk
         |      FROM pr)
         |SELECT qid, nid, adist, rnk FROM r WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val root = graft.ops.Artifacts.root(s, dir, Seq("embeddings"), "ivfpq",
          k, m, dsub, kCodes) { root =>
        // clone the shared coarse half, fit only the PQ tier (r16-opt)
        graft.core.Fs.copyRecursive(s, ivfFullRoot(s, dir, k), root)
        graft.ops.IvfIndex.buildPq(s, v, m, dsub, kCodes, iters = 2, root)
      }
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.IvfIndex.probePq(s, q, root, m, dsub, nprobe = 2, topk = 3,
          cand = _.where(col("vec_id") >= 10))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** RESIDUAL IVFADC roundtrip — [[embedIvfPqIndex]] upgraded to the
    * actual Jégou et al. (TPAMI 2011 §IV) construction the r12 verdict
    * promoted: the product quantizer trains on and encodes
    * r = v − coarse_centroid(cell(v)) instead of the raw sub-vectors
    * ([[graft.ops.IvfIndex.buildPqResidual]]), and the ADC probe
    * ([[graft.ops.IvfIndex.probePqResidual]]) computes the query's
    * lookup table PER PROBED CELL from the query residual against that
    * cell's centroid. Residual energy is a fraction of vector energy,
    * so at the identical M×K budget the codebooks stop re-describing
    * the cell center (RecallProbe's pq_residual leg quantifies the
    * recall gain). The oracle replays coarse fit → residual →
    * grouped codebook fit → encode → per-cell ADC probe in one chain —
    * the residual subtraction is exact IEEE over bit-identical inputs
    * (raw doubles minus round-6 centroids), so the whole artifact
    * lifecycle stays numerically exact cross-engine.
    */
  /** The residual-IVFADC oracle chain shared by [[embedIvfadcResidual]]
    * and [[embedIvfadcRefine]]: coarse fit → residual → grouped
    * codebook fit → encode → per-cell ADC probe, ending at `rr`
    * (ADC-ranked (qid, nid, adist, rnk) pairs). Queries are
    * vec_id < 10, candidates vec_id ≥ 10, nprobe = 2 — the fixture
    * both gate rows share. `q` (qid, qv) stays in scope for the
    * refine tail's exact re-rank.
    */
  private def ivfadcResidualCtes(k: Int, dim: Int, m: Int, dsub: Int,
                                 kCodes: Int, alloc: Boolean = false,
                                 labelFilter: String = ""): String = {
    def duckD2(a: String, b: String, d: Int): String =
      s"""list_sum([$a[i] * $a[i] for i in range(1, ${d + 1})]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, ${d + 1})]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, ${d + 1})])""".stripMargin
    def duckSqDist(a: String, b: String): String =
      s"""round(greatest(list_sum([$a[i] * $a[i] for i in range(1, len($a) + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, len($b) + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)]), 0), 6)""".stripMargin
    // alloc = true replays buildPqResidual(alloc = true): the per-dim
    // residual second moments are the spectrum, the allocGreedy fold
    // (allocCtes) permutes the residual coordinates, and BOTH the
    // candidate residuals and the query residuals slice the permuted
    // order — `resp`/`qresp` substitute for `res`/`qres` downstream
    // MATERIALIZED throughout this chain: DuckDB inlines plain CTEs per
    // reference, and the multi-referenced tiers (c1 ×4, ss ×3, res/a2/
    // pc1 ×2, resp as ss's source ×3) re-ran the whole upstream
    // replay — coarse fit included — once per copy; the alloc variant's
    // recursion multiplied it further (embed_ivfadc_alloc alone cost
    // 21.6 s of the 251 s sf0.01 oracle run, r16 verdict). Pure
    // evaluation hints (the knnGraphCtes precedent); algebra unchanged.
    val allocBlock = if (!alloc) "" else
      s"""mom AS MATERIALIZED (SELECT r.i AS c, round(avg(rv[r.i] * rv[r.i]), 6) AS lam
         |       FROM res, range(1, ${dim + 1}) r(i) GROUP BY r.i),
         |${allocCtes(dim, m, dsub, lamRows = "SELECT c, lam FROM mom")},
         |resp AS MATERIALIZED (SELECT res.vec_id, res.cl,
         |           list(res.rv[pmap.c] ORDER BY pmap.pos) AS rv
         |         FROM res CROSS JOIN pmap GROUP BY res.vec_id, res.cl),
         |""".stripMargin
    val resSrc = if (alloc) "resp" else "res"
    val qresSrc = if (alloc) "qresp" else "qres"
    val qrespBlock = if (!alloc) "" else
      s"""qresp AS MATERIALIZED (SELECT qres.qid, qres.cell,
         |            list(qres.qr[pmap.c] ORDER BY pmap.pos) AS qr
         |          FROM qres CROSS JOIN pmap GROUP BY qres.qid, qres.cell),
         |""".stripMargin
    s"""$duckVectors,
         |c0 AS (SELECT vec_id AS cl, v AS cv FROM v ORDER BY vec_id LIMIT $k),
         |d1 AS (SELECT v.vec_id, v.v, c0.cl, ${duckD2("v.v", "c0.cv", dim)} AS d2 FROM v, c0),
         |a1 AS (SELECT vec_id, v, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d1) WHERE rk = 1),
         |u1 AS (SELECT cl, i, round(avg(v[i]), 6) AS x
         |       FROM a1, range(1, ${dim + 1}) r(i) GROUP BY cl, i),
         |c1 AS MATERIALIZED (SELECT cl, list(x ORDER BY i) AS cv FROM u1 GROUP BY cl),
         |d2c AS (SELECT v.vec_id, v.v, c1.cl, ${duckD2("v.v", "c1.cv", dim)} AS d2 FROM v, c1),
         |a2 AS MATERIALIZED (SELECT vec_id, v, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d2c) WHERE rk = 1),
         |res AS MATERIALIZED (SELECT a2.vec_id, [a2.v[i] - c1.cv[i] for i in range(1, ${dim + 1})] AS rv,
         |               a2.cl FROM a2 JOIN c1 USING (cl)),
         |${allocBlock}ss AS MATERIALIZED (SELECT vec_id, s.sub, rv[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS sv
         |       FROM $resSrc CROSS JOIN range(0, $m) s(sub)),
         |p0 AS (SELECT sub, vec_id AS cl, sv AS cv FROM ss WHERE vec_id < $kCodes),
         |pd1 AS (SELECT ss.vec_id, ss.sub, ss.sv, c.cl, ${duckD2("ss.sv", "c.cv", dsub)} AS d2
         |        FROM ss JOIN p0 c ON ss.sub = c.sub),
         |pa1 AS (SELECT vec_id, sub, sv, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cl) AS rk
         |        FROM pd1) WHERE rk = 1),
         |pu1 AS (SELECT sub, cl, i, round(avg(sv[i]), 6) AS x
         |        FROM pa1, range(1, ${dsub + 1}) r(i) GROUP BY sub, cl, i),
         |pc1 AS MATERIALIZED (SELECT sub, cl, list(x ORDER BY i) AS cv FROM pu1 GROUP BY sub, cl),
         |pd2 AS (SELECT ss.vec_id, ss.sub, c.cl, ${duckD2("ss.sv", "c.cv", dsub)} AS d2
         |        FROM ss JOIN pc1 c ON ss.sub = c.sub),
         |penc AS MATERIALIZED (SELECT vec_id, sub, cl AS code FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, cl) AS rk
         |        FROM pd2) WHERE rk = 1),
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |pa AS (SELECT qid, qv, c1.cl AS cell,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY
         |           round(sqrt(greatest(${duckD2("qv", "c1.cv", dim)}, 0)), 6), c1.cl)
         |           AS BIGINT) AS cr
         |       FROM q CROSS JOIN c1),
         |probe AS (SELECT qid, qv, cell FROM pa WHERE cr <= 2),
         |qres AS (SELECT qid, cell,
         |           [probe.qv[i] - c1.cv[i] for i in range(1, ${dim + 1})] AS qr
         |         FROM probe JOIN c1 ON probe.cell = c1.cl),
         |${qrespBlock}qs AS (SELECT qid, cell, s.sub, qr[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS sv
         |       FROM $qresSrc CROSS JOIN range(0, $m) s(sub)),
         |adc AS (SELECT qid, cell, qs.sub, pc1.cl AS code,
         |          CAST(${duckSqDist("qs.sv", "pc1.cv")} AS DECIMAL(18,6)) AS qd
         |        FROM qs JOIN pc1 ON qs.sub = pc1.sub),
         |cand AS (SELECT penc.vec_id AS nid, penc.sub, penc.code, a2.cl
         |         FROM penc JOIN a2 USING (vec_id)${
           if (labelFilter.isEmpty) ""
           else " JOIN v vv ON vv.vec_id = penc.vec_id"}
         |         WHERE penc.vec_id >= 10${
           if (labelFilter.isEmpty) "" else s" AND $labelFilter"}),
         |pr AS (SELECT adc.qid, cand.nid, sum(adc.qd) AS sd
         |       FROM cand JOIN adc ON adc.cell = cand.cl AND adc.sub = cand.sub
         |         AND adc.code = cand.code
         |       GROUP BY 1, 2),
         |rr AS (SELECT qid, nid, CAST(sd AS DOUBLE) AS adist,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sd, nid) AS BIGINT) AS rnk
         |      FROM pr)""".stripMargin
  }

  /** Shared artifact root + build for the residual-IVFADC gate FAMILY
    * (r14 verdict §6: one coarse fit + residual codebook fit + SQ8
    * refine copy per (dir, params), consumed by embed_ivfadc_residual /
    * _refine / _refine_sq8 / _filtered — the way a real deployment
    * amortizes its index builds). The build frame CARRIES the label
    * attr: attrs ride both halves without touching centroid or codebook
    * fits, so the unfiltered rows read the identical artifact the
    * filtered row slices. embed_ivfadc_alloc stays separate — its
    * persisted permutation changes the codes themselves.
    */
  private def ivfadcResidualRoot(s: org.apache.spark.sql.SparkSession,
                                 dir: String, k: Int, m: Int, dsub: Int,
                                 kCodes: Int): String =
    graft.ops.Artifacts.root(s, dir, Seq("embeddings"), "ivfadc_residual",
        k, m, dsub, kCodes) { root =>
      // clone the shared coarse half (identical build(vl) — r16-opt),
      // then fit the residual codebooks + SQ8 copy on the clone
      graft.core.Fs.copyRecursive(s, ivfFullRoot(s, dir, k), root)
      graft.ops.IvfIndex.buildPqResidual(s, m, dsub, kCodes, iters = 2, root)
      graft.ops.IvfIndex.buildSq8(s, root)
    }

  val embedIvfadcResidual: QueryDef = {
    val (k, dim, m, dsub, kCodes) = (16, 64, 8, 8, 16)
    QueryDef.sql("embed_ivfadc_residual",
      s"""WITH ${ivfadcResidualCtes(k, dim, m, dsub, kCodes)}
         |SELECT qid, nid, adist, rnk FROM rr WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val root = ivfadcResidualRoot(s, dir, k, m, dsub, kCodes)
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.IvfIndex.probePqResidual(s, q, root, m, dsub, nprobe = 2, topk = 3,
          cand = _.where(col("vec_id") >= 10))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** ATTRIBUTE-FILTERED ADC serving — [[embedIvfProbeFiltered]]'s twin
    * on the ENCODED half: production filtered vector search stores the
    * scalar fields beside the codes (the FAISS/vector-DB layout), so a
    * source/lang slice filters the 4-bit code scan itself — never a
    * side join against an attribute table, never a post-filter over
    * fetched vectors. [[graft.ops.IvfIndex.buildPqResidual]] rides the
    * attrs from the assignment half into the cell-partitioned codes;
    * the `cand` hook's predicate reaches the codes parquet reader as a
    * pushed filter under the same DPP cell pruning (PlanSpec pins
    * both). Semantics: the [[embedIvfadcResidual]] residual-ADC chain
    * with candidates restricted to label ∈ {1, 3, 5, 7}; the oracle
    * applies the identical predicate in the candidate CTE.
    */
  val embedIvfadcFiltered: QueryDef = {
    val (k, dim, m, dsub, kCodes) = (16, 64, 8, 8, 16)
    QueryDef.sql("embed_ivfadc_filtered",
      s"""WITH ${ivfadcResidualCtes(k, dim, m, dsub, kCodes,
             labelFilter = "vv.label IN (1, 3, 5, 7)")}
         |SELECT qid, nid, adist, rnk FROM rr WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val vl = Similarity.vectors(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("v"), col("label"))
      val root = ivfadcResidualRoot(s, dir, k, m, dsub, kCodes)
      val q = vl.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.IvfIndex.probePqResidual(s, q, root, m, dsub, nprobe = 2, topk = 3,
          cand = _.where(col("vec_id") >= 10 && col("label").isin(1, 3, 5, 7)))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** The PERSISTED-PATH allocation gate row — [[embedPqAlloc]] proves
    * the greedy on the rotated coordinates; this row proves it on the
    * production artifact: [[graft.ops.IvfIndex.buildPqResidual]] with
    * `alloc = true` permutes the residual coordinates by balanced
    * per-dim second moments (the diagonal-spectrum stand-in for
    * eigenvalues on the unrotated artifact), persists the permutation
    * under `root/perm`, and [[graft.ops.IvfIndex.probePqResidual]]
    * replays it on the query residuals. The oracle replays the WHOLE
    * thing — coarse fit → residuals → moment spectrum → the recursive
    * allocGreedy fold → permuted slicing on BOTH the candidate and the
    * query side → grouped codebook fit → per-cell ADC — so a green row
    * certifies the persisted allocation end to end, not just the spec
    * mirror. Identical M×K budget to [[embedIvfadcResidual]] (the
    * unpermuted twin); RecallProbe's pq_rot_alloc_residual leg records
    * what the allocation buys (decayed 0.63 vs 0.49 without).
    */
  val embedIvfadcAlloc: QueryDef = {
    val (k, dim, m, dsub, kCodes) = (16, 64, 8, 8, 16)
    QueryDef.sql("embed_ivfadc_alloc",
      s"""WITH RECURSIVE ${ivfadcResidualCtes(k, dim, m, dsub, kCodes, alloc = true)}
         |SELECT qid, nid, adist, rnk FROM rr WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val root = graft.ops.Artifacts.root(s, dir, Seq("embeddings"), "ivfadc_alloc",
          k, m, dsub, kCodes) { root =>
        // clone the shared coarse half (the permutation only changes
        // the ENCODED half, fit next — r16-opt §artifact-sharing)
        graft.core.Fs.copyRecursive(s, ivfFullRoot(s, dir, k), root)
        graft.ops.IvfIndex.buildPqResidual(s, m, dsub, kCodes, iters = 2, root,
          alloc = true)
      }
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.IvfIndex.probePqResidual(s, q, root, m, dsub, nprobe = 2, topk = 3,
          cand = _.where(col("vec_id") >= 10))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** REFINE over the residual-ADC shortlist — the two-stage serving
    * recipe every production ANN stack runs (FAISS `IndexRefineFlat`;
    * Jégou et al. 2011 §V.B re-ranking): [[embedIvfadcResidual]]'s ADC
    * chain ranks a 12-deep shortlist by code lookups, then ONLY those
    * rows fetch raw vectors and re-rank by the EXACT squared L2 the
    * codes approximate ([[graft.ops.IvfIndex.probeRefine]]). The raw
    * fetch joins the broadcast shortlist on (cell, vec_id), so the
    * assignments scan prunes to the probed cells' partitions — refine
    * cost is |q|·shortlist exact distances, independent of corpus
    * size, and recall collapses to coarse-coverage-only (RecallProbe's
    * pq_refine leg: the ADC→refine recall jump at equal probe budget).
    * The oracle extends the shared residual chain with the identical
    * shortlist cut and exact re-rank — both engines compute the same
    * round-6 distances over bit-identical vectors, so the two-stage
    * pipeline stays exact cross-engine end to end.
    */
  val embedIvfadcRefine: QueryDef = {
    val (k, dim, m, dsub, kCodes) = (16, 64, 8, 8, 16)
    def duckSqDist(a: String, b: String): String =
      s"""round(greatest(list_sum([$a[i] * $a[i] for i in range(1, len($a) + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, len($b) + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)]), 0), 6)""".stripMargin
    QueryDef.sql("embed_ivfadc_refine",
      s"""WITH ${ivfadcResidualCtes(k, dim, m, dsub, kCodes)},
         |sl AS (SELECT qid, nid FROM rr WHERE rnk <= 12),
         |ex AS (SELECT sl.qid, sl.nid,
         |         CAST(${duckSqDist("q.qv", "rv.v")} AS DOUBLE) AS dist
         |       FROM sl JOIN v rv ON sl.nid = rv.vec_id JOIN q ON sl.qid = q.qid),
         |fr AS (SELECT qid, nid, dist,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS BIGINT) AS rnk
         |       FROM ex)
         |SELECT qid, nid, dist, rnk FROM fr WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val root = ivfadcResidualRoot(s, dir, k, m, dsub, kCodes)
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.IvfIndex.probeRefine(s, q, root, m, dsub, nprobe = 2,
          shortlist = 12, topk = 3, cand = _.where(col("vec_id") >= 10))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** REFINE FROM SQ8 — [[embedIvfadcRefine]] with the re-rank reading
    * the persisted index's int8 refine copy instead of raw float64
    * (r14 verdict §3; FAISS `SQ8` refine storage): the shortlist is the
    * identical residual-ADC cut, but the exact-distance stage fetches
    * (qs, q[]) rows at 1/8 the bytes and re-ranks against the
    * DEQUANTIZED values q_i/qs. Quantization is the embed_quantize
    * contract (per-vector qs = 127/max|x|, floor(x·qs + 0.5)) — exact
    * in both engines — so the oracle replays the full dequantized
    * re-rank and the row stays hash-exact; RecallProbe's
    * pq_refine_sq8 leg prices the recall delta vs raw-vector refine.
    */
  val embedIvfadcRefineSq8: QueryDef = {
    val (k, dim, m, dsub, kCodes) = (16, 64, 8, 8, 16)
    def duckSqDist(a: String, b: String): String =
      s"""round(greatest(list_sum([$a[i] * $a[i] for i in range(1, len($a) + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, len($b) + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)]), 0), 6)""".stripMargin
    QueryDef.sql("embed_ivfadc_refine_sq8",
      s"""WITH ${ivfadcResidualCtes(k, dim, m, dsub, kCodes)},
         |sl AS (SELECT qid, nid FROM rr WHERE rnk <= 12),
         |dq AS (SELECT vec_id,
         |         [floor(v[i] * qs + 0.5) / qs for i in range(1, len(v) + 1)] AS dv
         |       FROM (SELECT vec_id, v,
         |               127.0 / greatest(list_max([abs(x) for x in v]), 1e-12) AS qs
         |             FROM v)),
         |ex AS (SELECT sl.qid, sl.nid,
         |         CAST(${duckSqDist("q.qv", "rv.dv")} AS DOUBLE) AS dist
         |       FROM sl JOIN dq rv ON sl.nid = rv.vec_id JOIN q ON sl.qid = q.qid),
         |fr AS (SELECT qid, nid, dist,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY dist, nid) AS BIGINT) AS rnk
         |       FROM ex)
         |SELECT qid, nid, dist, rnk FROM fr WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val root = ivfadcResidualRoot(s, dir, k, m, dsub, kCodes)
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.IvfIndex.probeRefine(s, q, root, m, dsub, nprobe = 2,
          shortlist = 12, topk = 3, cand = _.where(col("vec_id") >= 10),
          fromSq8 = true)
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** Deterministic NN-Descent construction — moved to
    * [[graft.ops.KnnGraph.construct]] (r16: the graph tier became a
    * persisted lifecycle artifact); this forwarder keeps the probe
    * harnesses' call sites. See KnnGraph's scaladoc for the algorithm
    * (Dong, Moses & Li 2011, LSH-ring init, Θ(n·k²)/round, no
    * all-pairs term).
    */
  private[graft] def knnGraphFrame(v0: org.apache.spark.sql.DataFrame, k: Int,
      rounds: Int): org.apache.spark.sql.DataFrame =
    graft.ops.KnnGraph.construct(v0, k, rounds)

  /** The SHARED persisted k-NN graph artifact (read-only gate rows —
    * embed_knn_graph and embed_knn_graph_search both serve from this
    * one build, the ivfadc family's one-artifact discipline; r15
    * verdict #1 priced the per-query rebuild at ~2 s of bench).
    * Mutation gates (append/delete/compact) build their OWN roots —
    * they change the artifact.
    */
  private def knnGraphRoot(s: org.apache.spark.sql.SparkSession, dir: String,
                           k: Int, rounds: Int): String =
    graft.ops.Artifacts.root(s, dir, Seq("embeddings"), "knng", k, rounds) { root =>
      graft.ops.KnnGraph.build(
        Similarity.vectors(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("v")), k, rounds, root)
    }

  /** The shared BASE-3/4 build (vec_id % 4 != 3) the insert-path gates
    * start from: embed_knn_graph_append and streaming_knng_append_replay
    * both mutate this exact base, so it builds ONCE per run and each
    * mutation gate CLONES the tree into its private root before
    * inserting (r16-opt, guide §1.2: the mutation gates were each
    * re-running NN-Descent over the identical base — ~2 s apiece of
    * recompute for an artifact that already existed on disk; a clone
    * is a metadata-sized local copy). Same discipline as the
    * full-corpus [[knnGraphRoot]] shared by delete/compact.
    */
  private def knnGraphBase34Root(s: org.apache.spark.sql.SparkSession, dir: String,
                                 k: Int, rounds: Int): String =
    graft.ops.Artifacts.root(s, dir, Seq("embeddings"), "knng_base34", k, rounds) { root =>
      graft.ops.KnnGraph.build(
        Similarity.vectors(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("v")).where(col("vec_id") % 4 =!= 3),
        k, rounds, root)
    }

  /** Shared exact round-6 squared-L2 DuckDB fragment (the knn-graph
    * gates' scoring metric).
    */
  private def duckSqDistOf(a: String, b: String): String =
    s"""round(greatest(list_sum([$a[i] * $a[i] for i in range(1, len($a) + 1)]) +
       |  list_sum([$b[i] * $b[i] for i in range(1, len($b) + 1)]) -
       |  2 * list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)]), 0), 6)""".stripMargin

  /** ONE DuckDB replay of [[graft.ops.KnnGraph.construct]] shared by
    * every graph-tier gate (r15 review: two copies of the construction
    * CTEs could drift and silently certify two different graphs):
    * sign-LSH ring init (vb/wb/e0) + `rounds` local-join rounds over
    * vertex relation `rel` (vec_id, v), exposing r$i (scored + ranked)
    * and e$i (top-k edges).
    */
  private def knnGraphCtes(k: Int, rounds: Int, rel: String = "v"): String = {
    // chain CTEs are MATERIALIZED (r16): DuckDB inlines plain CTEs, and
    // u references e twice / c references u three times / the gates
    // reference r+e again — ~36 inline copies of the whole construction
    // per round pair, which at sf0.1 spilled a 24 GB-capped replay to
    // disk exhaustion. Pure evaluation hint; the replayed algebra is
    // unchanged.
    def round(i: Int): String =
      s"""u$i AS MATERIALIZED (SELECT src, dst FROM e${i - 1} UNION SELECT dst AS src, src AS dst FROM e${i - 1}),
         |c$i AS (SELECT src, dst FROM u$i UNION
         |        SELECT a.src, b.dst FROM u$i a JOIN u$i b ON a.dst = b.src WHERE a.src != b.dst),
         |s$i AS (SELECT c.src, c.dst, ${duckSqDistOf("va.v", "vc.v")} AS d
         |        FROM c$i c JOIN $rel va ON c.src = va.vec_id JOIN $rel vc ON c.dst = vc.vec_id),
         |r$i AS MATERIALIZED (SELECT src, dst, d,
         |          CAST(row_number() OVER (PARTITION BY src ORDER BY d, dst) AS BIGINT) AS rnk
         |        FROM s$i),
         |e$i AS MATERIALIZED (SELECT src, dst FROM r$i WHERE rnk <= $k)""".stripMargin
    s"""vb AS (SELECT vec_id, ${OracleSql.signBucket} AS bucket FROM $rel),
       |wb AS MATERIALIZED (SELECT vec_id, bucket,
       |         CAST(row_number() OVER (PARTITION BY bucket ORDER BY vec_id) - 1 AS BIGINT) AS r,
       |         CAST(count(*) OVER (PARTITION BY bucket) AS BIGINT) AS cnt FROM vb),
       |e0 AS MATERIALIZED (SELECT a.vec_id AS src, b.vec_id AS dst
       |       FROM wb a CROSS JOIN range(1, ${k + 1}) j(j) JOIN wb b
       |         ON a.bucket = b.bucket AND b.r = (a.r + j.j) % a.cnt
       |       WHERE j.j <= a.cnt - 1),
       |""".stripMargin + (1 to rounds).map(round).mkString(",\n")
  }

  /** Gate row over the PERSISTED graph artifact at k = 5, 2 rounds:
    * the Spark side reads [[graft.ops.KnnGraph.liveGraph]] off the
    * shared build (construction runs ONCE per run, not per gate); the
    * oracle replays the ENTIRE construction as unrolled CTEs —
    * sign-LSH ring init, then per round the undirected closure, the
    * neighbor-of-neighbor join, the exact round-6 distances and the
    * (d, dst)-tiebroken top-k — so a green row certifies the stored
    * graph edge-for-edge, including the log→view roundtrip (dedup +
    * re-rank). RecallProbe's knn_graph leg prices recall@5 vs brute
    * force per round.
    */
  val embedKnnGraph: QueryDef = {
    val k = 5; val rounds = 2
    QueryDef.sql("embed_knn_graph",
      s"""WITH $duckVectors,
         |${knnGraphCtes(k, rounds)}
         |SELECT src, dst, CAST(d AS DOUBLE) AS d, rnk FROM r$rounds WHERE rnk <= $k
         |ORDER BY src, rnk""".stripMargin) { (s, dir) =>
      val root = knnGraphRoot(s, dir, k, rounds)
      graft.ops.KnnGraph.liveGraph(s, root)
        .orderBy(col("src"), col("rnk"))
    }
  }

  /** GRAPH-ANN SEARCH served from the PERSISTED artifact — the other
    * half of the graph index family: HNSW/DiskANN answer queries by
    * BEST-FIRST beam search over exactly this kind of neighborhood
    * graph (Malkov & Yashunin 2018 layer-0 search, deterministic
    * variant: fixed hop budget, fixed beam, (d, nid) tie-breaks, entry
    * = min eligible id). The Spark side is
    * [[graft.ops.KnnGraph.search]] over the SHARED build — per hop the
    * beam expands through the undirected live-graph closure,
    * candidates score by exact round-6 squared L2 against the query,
    * and the best `beam` survive; after `hops` hops the top-k of the
    * last scored set answer. Search cost is queries × beam × k edge
    * lookups per hop — INDEPENDENT of corpus size once the graph
    * exists, the property that makes graph indexes the serving tier of
    * choice. All equi-joins (the one 1-row entry cross is the usual
    * scalar broadcast); the oracle replays graph construction AND the
    * unrolled hops end to end.
    */
  val embedKnnGraphSearch: QueryDef = {
    val k = 5; val rounds = 2; val beam = 4; val hops = 3; val topk = 3
    def hopCtes(i: Int): String =
      s"""x$i AS (SELECT qid, nid FROM b${i - 1} UNION
         |        SELECT b.qid, g.dst AS nid FROM b${i - 1} b JOIN g ON b.nid = g.src
         |        WHERE g.dst >= 10),
         |t$i AS (SELECT x.qid, x.nid, ${duckSqDistOf("q.qv", "vv.v")} AS d
         |        FROM x$i x JOIN v vv ON x.nid = vv.vec_id JOIN q ON x.qid = q.qid),
         |b$i AS (SELECT qid, nid FROM (SELECT qid, nid,
         |          row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS r FROM t$i)
         |        WHERE r <= $beam)""".stripMargin
    QueryDef.sql("embed_knn_graph_search",
      s"""WITH $duckVectors,
         |${knnGraphCtes(k, rounds)},
         |g AS (SELECT src, dst FROM e$rounds UNION SELECT dst AS src, src AS dst FROM e$rounds),
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |b0 AS (SELECT qid, (SELECT min(vec_id) FROM v WHERE vec_id >= 10) AS nid FROM q),
         |${hopCtes(1)},
         |${hopCtes(2)},
         |${hopCtes(3)}
         |SELECT qid, nid, CAST(d AS DOUBLE) AS d,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS BIGINT) AS rnk
         |FROM t$hops QUALIFY rnk <= $topk
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val root = knnGraphRoot(s, dir, k, rounds)
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val q = v.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.KnnGraph.search(s, q, root, beam, hops, topk,
          cand = _.where(col("vec_id") >= 10))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** Graph-index INSERT gate ([[graft.ops.KnnGraph.append]] — the
    * HNSW §4 / FreshDiskANN StreamingMerge insert, batch-parallel): a
    * base graph builds on 3/4 of the vectors, the remaining quarter
    * INSERTS — each new vector beam-searches the existing graph for
    * its neighborhood (no base re-scoring), then three delta-sized
    * candidate families land in the edge log: the per-vector top-k
    * out-edges, their reversals (HNSW's bidirectional link, pruned
    * back to k by the live view), and batch pairs sharing a neighbor
    * (the shared-neighbor equi-join that finds near-dup co-inserts
    * without a batch² term). The oracle replays base construction, the
    * unrolled beam-search hops, all three candidate families, and the
    * log→view top-k merge — the ENTIRE insert path, edge-for-edge.
    */
  val embedKnnGraphAppend: QueryDef = {
    val k = 5; val rounds = 2; val beam = 4; val hops = 3
    def hopCtes(i: Int): String =
      s"""x$i AS (SELECT qid, nid FROM b${i - 1} UNION
         |        SELECT b.qid, g.dst AS nid FROM b${i - 1} b JOIN g ON b.nid = g.src),
         |t$i AS (SELECT x.qid, x.nid, ${duckSqDistOf("q.qv", "vv.v")} AS d
         |        FROM x$i x JOIN bb vv ON x.nid = vv.vec_id JOIN q ON x.qid = q.qid),
         |b$i AS MATERIALIZED (SELECT qid, nid FROM (SELECT qid, nid,
         |          row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS r FROM t$i)
         |        WHERE r <= $beam)""".stripMargin
    QueryDef.sql("embed_knn_graph_append",
      s"""WITH $duckVectors,
         |bb AS MATERIALIZED (SELECT vec_id, v FROM v WHERE vec_id % 4 != 3),
         |${knnGraphCtes(k, rounds, rel = "bb")},
         |g AS (SELECT src, dst FROM e$rounds UNION SELECT dst AS src, src AS dst FROM e$rounds),
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id % 4 = 3),
         |b0 AS (SELECT qid, (SELECT min(vec_id) FROM bb) AS nid FROM q),
         |${hopCtes(1)},
         |${hopCtes(2)},
         |${hopCtes(3)},
         |newout AS MATERIALIZED (SELECT qid, nid, d FROM (SELECT qid, nid, d,
         |             row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS r FROM t$hops)
         |           WHERE r <= $k),
         |nn AS (SELECT p.src, p.dst, ${duckSqDistOf("qa.qv", "qb.qv")} AS d
         |       FROM (SELECT DISTINCT a.qid AS src, b.qid AS dst
         |             FROM newout a JOIN newout b ON a.nid = b.nid
         |             WHERE a.qid != b.qid) p
         |       JOIN q qa ON p.src = qa.qid JOIN q qb ON p.dst = qb.qid),
         |logd AS MATERIALIZED (SELECT src, dst, min(d) AS d FROM (
         |           SELECT src, dst, d FROM r$rounds WHERE rnk <= $k
         |           UNION ALL SELECT qid AS src, nid AS dst, d FROM newout
         |           UNION ALL SELECT nid AS src, qid AS dst, d FROM newout
         |           UNION ALL SELECT src, dst, d FROM nn)
         |         GROUP BY src, dst),
         |view AS (SELECT src, dst, d,
         |           CAST(row_number() OVER (PARTITION BY src ORDER BY d, dst) AS BIGINT) AS rnk
         |         FROM logd)
         |SELECT src, dst, CAST(d AS DOUBLE) AS d, rnk FROM view WHERE rnk <= $k
         |ORDER BY src, rnk""".stripMargin) { (s, dir) =>
      val root = graft.ops.Artifacts.root(s, dir, Seq("embeddings"), "knng_append",
          k, rounds, beam, hops) { root =>
        val v = Similarity.vectors(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("v"))
        // clone the shared base-3/4 artifact, then mutate the clone
        graft.core.Fs.copyRecursive(s, knnGraphBase34Root(s, dir, k, rounds), root)
        graft.ops.KnnGraph.append(s, v.where(col("vec_id") % 4 === 3), root,
          beam, hops)
      }
      graft.ops.KnnGraph.liveGraph(s, root)
        .orderBy(col("src"), col("rnk"))
    }
  }

  /** Graph-index DELETE + serving gate: retract every 7th indexed
    * vector (one tombstone append — ZERO graph surgery; the live view
    * re-ranks and the edge log's below-rank candidates act as the
    * backup links FreshDiskANN's consolidation reconstructs by hand),
    * then beam-search the survivors. The oracle replays construction,
    * the endpoint-filtered live graph, and the unrolled hops over it —
    * a green row certifies retracted vectors stop serving IMMEDIATELY,
    * the [[graft.ops.IvfIndex.delete]] contract on the graph tier.
    */
  val embedKnnGraphDeleteSearch: QueryDef = {
    val k = 5; val rounds = 2; val beam = 4; val hops = 3; val topk = 3
    def hopCtes(i: Int): String =
      s"""x$i AS (SELECT qid, nid FROM b${i - 1} UNION
         |        SELECT b.qid, g.dst AS nid FROM b${i - 1} b JOIN g ON b.nid = g.src
         |        WHERE g.dst >= 10 AND g.dst % 7 != 0),
         |t$i AS (SELECT x.qid, x.nid, ${duckSqDistOf("q.qv", "vv.v")} AS d
         |        FROM x$i x JOIN v vv ON x.nid = vv.vec_id JOIN q ON x.qid = q.qid),
         |b$i AS (SELECT qid, nid FROM (SELECT qid, nid,
         |          row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS r FROM t$i)
         |        WHERE r <= $beam)""".stripMargin
    QueryDef.sql("embed_knn_graph_delete_search",
      s"""WITH $duckVectors,
         |${knnGraphCtes(k, rounds)},
         |el AS (SELECT src, dst FROM e$rounds
         |       WHERE NOT (src >= 10 AND src % 7 = 0) AND NOT (dst >= 10 AND dst % 7 = 0)),
         |g AS (SELECT src, dst FROM el UNION SELECT dst AS src, src AS dst FROM el),
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |b0 AS (SELECT qid, (SELECT min(vec_id) FROM v WHERE vec_id >= 10 AND vec_id % 7 != 0) AS nid FROM q),
         |${hopCtes(1)},
         |${hopCtes(2)},
         |${hopCtes(3)}
         |SELECT qid, nid, CAST(d AS DOUBLE) AS d,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS BIGINT) AS rnk
         |FROM t$hops QUALIFY rnk <= $topk
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val root = graft.ops.Artifacts.root(s, dir, Seq("embeddings"), "knng_delete",
          k, rounds) { root =>
        val v = Similarity.vectors(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("v"))
        // clone the shared full-corpus artifact (identical base build),
        // then tombstone the clone — no NN-Descent re-run (r16-opt)
        graft.core.Fs.copyRecursive(s, knnGraphRoot(s, dir, k, rounds), root)
        graft.ops.KnnGraph.delete(s,
          v.where(col("vec_id") >= 10 && col("vec_id") % 7 === 0), root)
      }
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val q = v.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.KnnGraph.search(s, q, root, beam, hops, topk,
          cand = _.where(col("vec_id") >= 10))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** Graph-index COMPACTION gate ([[graft.ops.KnnGraph.compact]] —
    * FreshDiskANN's delete consolidation, Singh et al. 2021 §4.2):
    * after retracting every 7th vector, the crash-atomic write-aside
    * rewrite physically drops dead vertices/edges and REPAIRS the
    * holes — for every surviving edge a→d into a deleted vertex, d's
    * own out-edges become candidates a→d' (scored exact), so a's
    * neighborhood heals THROUGH the hole instead of shrinking. The
    * oracle replays construction, the through-deleted candidate join,
    * and the per-vertex top-k merge — the stored post-compaction graph
    * certifies edge-for-edge.
    */
  val embedKnnGraphCompact: QueryDef = {
    val k = 5; val rounds = 2
    QueryDef.sql("embed_knn_graph_compact",
      s"""WITH $duckVectors,
         |${knnGraphCtes(k, rounds)},
         |e2d AS (SELECT src, dst, d FROM r$rounds WHERE rnk <= $k),
         |surv AS (SELECT src, dst, d FROM e2d WHERE src % 7 != 0 AND dst % 7 != 0),
         |thr AS (SELECT p.src, p.dst, ${duckSqDistOf("va.v", "vc.v")} AS d
         |        FROM (SELECT DISTINCT a.src, b.dst
         |              FROM e2d a JOIN e2d b ON a.dst = b.src
         |              WHERE a.dst % 7 = 0 AND a.src % 7 != 0 AND b.dst % 7 != 0
         |                AND a.src != b.dst) p
         |        JOIN v va ON p.src = va.vec_id JOIN v vc ON p.dst = vc.vec_id),
         |merged AS (SELECT src, dst, min(d) AS d FROM (
         |             SELECT src, dst, d FROM surv
         |             UNION ALL SELECT src, dst, d FROM thr)
         |           GROUP BY src, dst),
         |view AS (SELECT src, dst, d,
         |           CAST(row_number() OVER (PARTITION BY src ORDER BY d, dst) AS BIGINT) AS rnk
         |         FROM merged)
         |SELECT src, dst, CAST(d AS DOUBLE) AS d, rnk FROM view WHERE rnk <= $k
         |ORDER BY src, rnk""".stripMargin) { (s, dir) =>
      val root = graft.ops.Artifacts.root(s, dir, Seq("embeddings"), "knng_compact",
          k, rounds) { root =>
        val v = Similarity.vectors(Tables.embeddings(s, dir))
          .select(col("vec_id"), col("v"))
        // clone the shared full-corpus artifact (identical base build),
        // then tombstone + consolidate the clone (r16-opt)
        graft.core.Fs.copyRecursive(s, knnGraphRoot(s, dir, k, rounds), root)
        graft.ops.KnnGraph.delete(s, v.where(col("vec_id") % 7 === 0), root)
        graft.ops.KnnGraph.compact(s, root)
      }
      graft.ops.KnnGraph.liveGraph(s, root)
        .orderBy(col("src"), col("rnk"))
    }
  }


  /** STREAMING graph-index insert — the SEVENTEENTH gated replay class
    * and the graph tier's twin of [[streamingIvfAppendReplay]]: new
    * vectors arrive as file-source micro-batches
    * (maxFilesPerTrigger=1) and every batch runs
    * [[graft.ops.KnnGraph.append]] inside foreachBatch — each insert
    * beam-searches the graph state its PREDECESSORS built, so unlike
    * the IVF replay the chunks do NOT commute and the oracle must
    * replay the exact chunk sequence. Chunking is therefore
    * VALUE-deterministic (vec_id % 3 — [[StreamingReplays.stageChunkFiles]];
    * range-sampled boundaries would be unreplayable), and the oracle
    * unrolls base construction plus THREE sequential inserts — per
    * chunk the live view, the undirected closure, the beam-search
    * hops, all three candidate families, and the log union — then
    * states the final live graph edge-for-edge. A green row certifies
    * the streamed artifact ≡ the same inserts applied one micro-batch
    * at a time, the continuous-ingest serving loop a production
    * retrieval corpus runs.
    */
  val streamingKnngAppendReplay: QueryDef = {
    val k = 5; val rounds = 2; val beam = 4; val hops = 3
    def chunkCtes(c: Int): String = {
      def hop(i: Int): String =
        s"""sx${c}_$i AS (SELECT qid, nid FROM sb${c}_${i - 1} UNION
           |  SELECT b.qid, g.dst AS nid FROM sb${c}_${i - 1} b JOIN g$c g ON b.nid = g.src),
           |st${c}_$i AS (SELECT x.qid, x.nid, ${duckSqDistOf("q.qv", "vv.v")} AS d
           |  FROM sx${c}_$i x JOIN v vv ON x.nid = vv.vec_id JOIN q$c q ON x.qid = q.qid),
           |sb${c}_$i AS MATERIALIZED (SELECT qid, nid FROM (SELECT qid, nid,
           |    row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS r FROM st${c}_$i)
           |  WHERE r <= $beam)""".stripMargin
      s"""vw$c AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst, min(d) AS d FROM log$c GROUP BY src, dst)
         |  QUALIFY row_number() OVER (PARTITION BY src ORDER BY d, dst) <= $k),
         |g$c AS (SELECT src, dst FROM vw$c UNION SELECT dst AS src, src AS dst FROM vw$c),
         |q$c AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id % 4 = 3 AND vec_id % 3 = $c),
         |sb${c}_0 AS MATERIALIZED (SELECT qid, (SELECT min(vec_id) FROM bb) AS nid FROM q$c),
         |${(1 to hops).map(hop).mkString(",\n")},
         |no$c AS MATERIALIZED (SELECT qid, nid, d FROM (SELECT qid, nid, d,
         |    row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS r FROM st${c}_$hops)
         |  WHERE r <= $k),
         |sn$c AS (SELECT p.src, p.dst, ${duckSqDistOf("qa.qv", "qb.qv")} AS d
         |  FROM (SELECT DISTINCT a.qid AS src, b.qid AS dst
         |        FROM no$c a JOIN no$c b ON a.nid = b.nid WHERE a.qid != b.qid) p
         |  JOIN q$c qa ON p.src = qa.qid JOIN q$c qb ON p.dst = qb.qid),
         |log${c + 1} AS MATERIALIZED (SELECT src, dst, d FROM log$c
         |  UNION ALL SELECT qid AS src, nid AS dst, d FROM no$c
         |  UNION ALL SELECT nid AS src, qid AS dst, d FROM no$c
         |  UNION ALL SELECT src, dst, d FROM sn$c)""".stripMargin
    }
    QueryDef.sql("streaming_knng_append_replay",
      // v is MATERIALIZED: DuckDB inlines plain CTEs, and this oracle's
      // 3-insert unroll references v ~30 times — each inline re-opens
      // the parquet and the replay died on the fd limit
      s"""WITH v AS MATERIALIZED (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |bb AS MATERIALIZED (SELECT vec_id, v FROM v WHERE vec_id % 4 != 3),
         |${knnGraphCtes(k, rounds, rel = "bb")},
         |log0 AS MATERIALIZED (SELECT src, dst, d FROM r$rounds WHERE rnk <= $k),
         |${chunkCtes(0)},
         |${chunkCtes(1)},
         |${chunkCtes(2)},
         |fin AS (SELECT src, dst, d,
         |    CAST(row_number() OVER (PARTITION BY src ORDER BY d, dst) AS BIGINT) AS rnk
         |  FROM (SELECT src, dst, min(d) AS d FROM log3 GROUP BY src, dst))
         |SELECT src, dst, CAST(d AS DOUBLE) AS d, rnk FROM fin WHERE rnk <= $k
         |ORDER BY src, rnk""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      // per-invocation root: the replay MUTATES the artifact, so it can
      // never share a session artifact with another invocation
      val root = graft.ops.Scratch.dir(s"knng_stream_${streamSeq.incrementAndGet()}")
      // clone the shared base-3/4 artifact into this invocation's
      // private root (the replay mutates it per micro-batch) — the
      // base build itself runs once per run (r16-opt)
      graft.core.Fs.copyRecursive(s, knnGraphBase34Root(s, dir, k, rounds), root)
      val chunks = (0 until 3).map(c =>
        v.where(col("vec_id") % 4 === 3 && col("vec_id") % 3 === c))
      val (watched, staged) = StreamingReplays.stageChunkFiles(chunks)
      try {
        val stream = s.readStream.schema(chunks.head.schema)
          .option("maxFilesPerTrigger", "1").parquet(watched)
        val insertBatch: (org.apache.spark.sql.DataFrame, Long) => Unit =
          (b, _) => graft.ops.KnnGraph.append(s, b, root, beam, hops)
        val query = stream.writeStream.outputMode("append")
          .foreachBatch(insertBatch).start()
        try query.processAllAvailable() finally query.stop()
      } finally StreamingReplays.rmTree(staged)
      graft.ops.KnnGraph.liveGraph(s, root)
        .orderBy(col("src"), col("rnk"))
    }
  }


  /** Index DELETE + COMPACTION — the lifecycle completion the r11
    * verdict asked for: dedup retracts documents, and the persisted
    * index follows. The Spark side runs the FULL composed lifecycle —
    * build on the base, append the batch ([[embedIvfIndexAppend]]'s
    * path), tombstone every vec_id ≡ 0 (mod 7)
    * ([[graft.ops.IvfIndex.delete]] — an append-only tombstone write,
    * no base touch), then [[graft.ops.IvfIndex.compact]] physically
    * rewrites ONLY the cells at ≥ 10% tombstone share (dynamic
    * partition overwrite; fully-dead cells drop their directory) —
    * and probes the result. The oracle fits on the base, assigns ALL
    * vectors at the held-fixed centroids and probes the SURVIVORS: a
    * green row therefore states delete ∘ compact ∘ append ≡ rebuild on
    * the surviving set, corpus-wide. IvfIndexSpec pins the same law
    * frame-level plus the affected-cell-only file rewrite; ScaleProbe
    * measures compaction cost scaling with touched cells.
    */
  val embedIvfIndexDelete: QueryDef = {
    val k = 16; val dim = 64
    QueryDef.sql("embed_ivf_index_delete",
      s"""WITH ${ivfBaseFitCtes(k, dim)},
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |pa AS (SELECT qid, qv, c1.cl AS cell,
         |         CAST(row_number() OVER (PARTITION BY qid ORDER BY
         |           round(sqrt(greatest(list_sum([qv[i] * qv[i] for i in range(1, ${dim + 1})]) +
         |             list_sum([c1.cv[i] * c1.cv[i] for i in range(1, ${dim + 1})]) -
         |             2 * list_sum([qv[i] * c1.cv[i] for i in range(1, ${dim + 1})]), 0)), 6),
         |           c1.cl) AS BIGINT) AS cr
         |       FROM q CROSS JOIN c1),
         |probe AS (SELECT qid, qv, cell FROM pa WHERE cr <= 2),
         |c AS (SELECT vec_id AS nid, v AS cv2, cl FROM a2
         |      WHERE vec_id >= 10 AND vec_id % 7 <> 0),
         |p AS (SELECT qid, nid, ${duckCos("qv", "cv2")} AS sim
         |      FROM c JOIN probe ON c.cl = probe.cell),
         |r AS (SELECT qid, nid, sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rnk FROM p)
         |SELECT qid, nid, sim, rnk FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val root = graft.ops.Artifacts.root(s, dir, Seq("embeddings"), "ivf_delete", k) { root =>
        // clone the shared append-mode root (identical build+append
        // state), then tombstone + compact the clone (r16-opt)
        graft.core.Fs.copyRecursive(s, ivfAppendRoot(s, dir, k), root)
        graft.ops.IvfIndex.delete(s, v.where(col("vec_id") % 7 === 0), root)
        graft.ops.IvfIndex.compact(s, root, minRatio = 0.1): Unit
      }
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      graft.ops.IvfIndex.probe(s, q, root, nprobe = 2, topk = 3,
          cand = _.where(col("vec_id") >= 10))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** Cell-population DRIFT between the index's base and an incoming
    * batch — the retrain trigger for [[embedIvfIndexAppend]]'s
    * fixed-centroid growth (the ml_psi recipe applied to cell ids
    * instead of decile bins): per cell, exact base/batch member counts
    * and the PSI term (p_base − p_batch)·ln(p_base/p_batch); cells
    * empty on either side report NULL (the audit should SEE the
    * degenerate cell). Σ psi_part > 0.2 is the standard "retrain the
    * quantizer" line. Cost: the batch assign the append already does +
    * a k-row rollup with one-row totals broadcast.
    */
  val embedIndexDrift: QueryDef = {
    val k = 16; val dim = 64
    QueryDef.sql("embed_index_drift",
      s"""WITH ${ivfBaseFitCtes(k, dim)},
         |cnt AS (SELECT cl,
         |          CAST(sum(CASE WHEN vec_id < 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |          CAST(sum(CASE WHEN vec_id >= 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_batch
         |        FROM a2 GROUP BY cl),
         |t AS (SELECT cl, n_base, n_batch,
         |        CAST(sum(n_base) OVER () AS BIGINT) AS nb,
         |        CAST(sum(n_batch) OVER () AS BIGINT) AS nc FROM cnt)
         |SELECT cl AS cell, n_base, n_batch,
         |  CASE WHEN n_base > 0 AND n_batch > 0 THEN
         |    round((CAST(n_base AS DOUBLE) / nb - CAST(n_batch AS DOUBLE) / nc) *
         |          ln((CAST(n_base AS DOUBLE) / nb) / (CAST(n_batch AS DOUBLE) / nc)), 6)
         |  END AS psi_part
         |FROM t ORDER BY cell""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val base = v.where(col("vec_id") < 400)
      val (_, cents) = graft.ml.KMeans.fit(
        base, graft.ml.KMeans.seedSmallest(base, k), iters = 2)
      val cnt = graft.ml.KMeans.assign(v, cents)
        .groupBy(col("cl")).agg(
          sum(when(col("vec_id") < 400, 1L).otherwise(0L)).as("n_base"),
          sum(when(col("vec_id") >= 400, 1L).otherwise(0L)).as("n_batch"))
      val tots = cnt.agg(sum(col("n_base")).cast("long").as("nb"),
        sum(col("n_batch")).cast("long").as("nc"))
      val pb = col("n_base").cast("double") / col("nb")
      val pc = col("n_batch").cast("double") / col("nc")
      cnt.crossJoin(broadcast(tots))
        .select(col("cl").as("cell"), col("n_base"), col("n_batch"),
          when(col("n_base") > 0 && col("n_batch") > 0,
            round((pb - pc) * log(pb / pc), 6)).as("psi_part"))
        .orderBy(col("cell"))
    }
  }

  /** Cluster-quality audit of the trained quantizer: per k-means cell
    * (the [[embedKnnIvfKmeans]] 2-round fit), member count, majority
    * label (ties → lower label), majority count, and purity = majority
    * share — the number a pipeline reads before trusting trained cells
    * for routing/dedup (SemDeDup's "clusters are topical" assumption,
    * made measurable). Execution: one KMeans.fit + one (cell, label)
    * groupBy whose map-side combine bounds the shuffle at k·|labels|
    * rows + a WindowGroupLimit-class rank over that tiny rollup.
    */
  val embedClusterPurity: QueryDef = {
    val k = 16; val dim = 64
    def duckD2(vc: String, cc: String): String =
      s"""list_sum([$vc[i] * $vc[i] for i in range(1, ${dim + 1})]) +
         |      list_sum([$cc[i] * $cc[i] for i in range(1, ${dim + 1})]) -
         |      2 * list_sum([$vc[i] * $cc[i] for i in range(1, ${dim + 1})])""".stripMargin
    QueryDef.sql("embed_cluster_purity",
      s"""WITH $duckVectors,
         |c0 AS (SELECT vec_id AS cl, v AS cv FROM v ORDER BY vec_id LIMIT $k),
         |d1 AS (SELECT v.vec_id, v.v, c0.cl, ${duckD2("v.v", "c0.cv")} AS d2 FROM v, c0),
         |a1 AS (SELECT vec_id, v, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d1) WHERE rk = 1),
         |u1 AS (SELECT cl, i, round(avg(v[i]), 6) AS x
         |       FROM a1, range(1, ${dim + 1}) r(i) GROUP BY cl, i),
         |c1 AS (SELECT cl, list(x ORDER BY i) AS cv FROM u1 GROUP BY cl),
         |d2c AS (SELECT v.vec_id, c1.cl, ${duckD2("v.v", "c1.cv")} AS d2 FROM v, c1),
         |a2 AS (SELECT vec_id, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d2c) WHERE rk = 1),
         |g AS (SELECT a2.cl, v.label, count(*) AS c
         |      FROM a2 JOIN v ON v.vec_id = a2.vec_id GROUP BY 1, 2),
         |r AS (SELECT cl, label, c,
         |        row_number() OVER (PARTITION BY cl ORDER BY c DESC, label) AS rk,
         |        sum(c) OVER (PARTITION BY cl) AS n FROM g)
         |SELECT cl AS cluster, CAST(n AS BIGINT) AS n, label AS maj_label,
         |  CAST(c AS BIGINT) AS n_major, round(c / CAST(n AS DOUBLE), 6) AS purity
         |FROM r WHERE rk = 1 ORDER BY cluster""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val vv = Similarity.vectors(Tables.embeddings(s, dir))
      val (assigned, _) = graft.ml.KMeans.fit(
        vv.select(col("vec_id"), col("v")),
        graft.ml.KMeans.seedSmallest(vv.select(col("vec_id"), col("v")), k), iters = 2)
      val g = assigned.join(vv.select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("cl"), col("label")).agg(count(lit(1)).as("c"))
      g.withColumn("rk", row_number().over(
          Window.partitionBy(col("cl")).orderBy(col("c").desc, col("label"))))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("cl"))))
        .where(col("rk") === 1)
        .select(col("cl").as("cluster"), col("n"), col("label").as("maj_label"),
          col("c").as("n_major"), round(col("c") / col("n").cast("double"), 6).as("purity"))
        .orderBy(col("cluster"))
    }
  }

  /** Embedding-cosine near-dup pairs (the dedup family's vector tier):
    * candidates from the 8-sign-bit LSH bucket equi-join (true near-dups
    * at cos≈1 agree on sign bits w.h.p.), exact cosine verify. Oracle
    * mirrors the identical bucketing, so recall tradeoffs cancel out of
    * the comparison. The 100 TB shape: bucket is the shuffle key;
    * within-bucket pair counts stay ~n/2^bits per bucket.
    */
  val dedupEmbedCosine: QueryDef = {
    val duckBucket = OracleSql.signBucket
    QueryDef.sql("dedup_embed_cosine",
      s"""WITH $duckVectors,
         |sb AS (SELECT vec_id, v, $duckBucket AS bucket FROM v),
         |p AS (SELECT a.vec_id AS i, b.vec_id AS j, ${duckCos("a.v", "b.v")} AS sim
         |      FROM sb a JOIN sb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT i, j, sim FROM p WHERE sim >= 0.4 ORDER BY i, j""".stripMargin) { (s, dir) =>
      // norms hoisted into the pre-join projection: each vector's L2 is
      // computed ONCE (it would otherwise be re-derived in every one of
      // its ~n/2^bits pairs), so per-pair work is a single codegen'd
      // dot + divide. Identical arithmetic to duckCos (num/(na·nb)) —
      // hoisting doesn't change the value, only where it's evaluated.
      // Explicit a/b aliases keep the same-lineage self-join condition
      // unambiguous (no reliance on dataset-id disambiguation).
      val sb = Similarity.vectors(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("v"),
          Similarity.signBucket("v").as("bucket"),
          Similarity.l2("v").as("nrm"))
      val a = sb.select(col("vec_id").as("i"), col("v").as("va"),
        col("bucket"), col("nrm").as("na")).alias("a")
      val b = sb.select(col("vec_id").as("j"), col("v").as("vb"),
        col("bucket"), col("nrm").as("nb")).alias("b")
      a.join(b, col("a.bucket") === col("b.bucket") && col("i") < col("j"))
        .withColumn("den", col("na") * col("nb"))
        .withColumn("sim", when(col("den") === 0.0, lit(null))
          .otherwise(round(Similarity.dot("va", "vb") / col("den"), 6)))
        .where(col("sim") >= 0.4)
        .select(col("i"), col("j"), col("sim"))
        .orderBy(col("i"), col("j"))
    }
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus, compare pairs only WITHIN a
    * cluster, and inside each near-duplicate pair keep the member
    * FARTHEST from its cluster centroid (the paper's diversity-keeping
    * policy) — the embedding-space dedup tier beside
    * [[dedupEmbedCosine]]'s LSH buckets, catching paraphrases and
    * template re-writes whose token shingles share nothing.
    *
    * Execution shape: cells come from a deterministic 2-round Lloyd
    * k-means (seeds = the k smallest vec_ids, one ROUND-6 centroid
    * update, final re-assign — the [[embedKmeans]] determinism
    * discipline, so both engines iterate bit-identical matrices). The
    * CELL COUNT SCALES WITH THE CORPUS: k defaults to ⌈√n⌉ (SemDeDup's
    * tens-of-thousands-of-cells regime at crawl scale — per-cell pair
    * volume then grows ~linearly in n, never O(n²/const)), overridable
    * via `spark.graft.dedup.semanticCells` (a scale knob; the oracle
    * replays the ⌈√n⌉ default). Clustering runs on
    * [[graft.ml.KMeans]]'s BROADCAST CENTROID TABLE kernel — plan size
    * O(1) in k, so the 10⁴–10⁵-cell regime never hits the
    * Janino/plan-serialization wall the old plan-literal assignment did
    * (r9 verdict's one scale flag; the literal form survives as
    * [[semanticDedupFrameLiteral]], the differential twin SimilaritySpec
    * proves bit-equal). Candidate pairs are an equi-join on the
    * assigned cell (never all-pairs); the drop rule is a purely LOCAL
    * pairwise policy (no connected components): x is dropped iff some
    * cell-mate y with pair cosine ≥ τ sits strictly farther from the
    * centroid (ties → lower vec_id survives). SimilaritySpec pins the
    * planted-geometry behavior at k above the label cardinality and
    * the per-cell candidate-volume bound.
    */
  val dedupSemantic: QueryDef = {
    val tau = 0.35; val dim = 64
    def duckD2(vc: String, cc: String): String =
      s"""list_sum([$vc[i] * $vc[i] for i in range(1, ${dim + 1})]) +
         |      list_sum([$cc[i] * $cc[i] for i in range(1, ${dim + 1})]) -
         |      2 * list_sum([$vc[i] * $cc[i] for i in range(1, ${dim + 1})])""".stripMargin
    QueryDef.sql("dedup_semantic",
      s"""WITH $duckVectors,
         |kk AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS k FROM v),
         |c0 AS (SELECT vec_id AS cl, v AS cv FROM v ORDER BY vec_id LIMIT (SELECT k FROM kk)),
         |d1 AS (SELECT v.vec_id, v.v, c0.cl, ${duckD2("v.v", "c0.cv")} AS d2 FROM v, c0),
         |a1 AS (SELECT vec_id, v, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d1) WHERE rk = 1),
         |u1 AS (SELECT cl, i, round(avg(v[i]), 6) AS x
         |       FROM a1, range(1, ${dim + 1}) r(i) GROUP BY cl, i),
         |c1 AS (SELECT cl, list(x ORDER BY i) AS cv FROM u1 GROUP BY cl),
         |d2c AS (SELECT v.vec_id, v.v, c1.cl, ${duckD2("v.v", "c1.cv")} AS d2 FROM v, c1),
         |a2 AS (SELECT vec_id, v, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
         |        FROM d2c) WHERE rk = 1),
         |cs AS (SELECT a2.vec_id, a2.cl AS cell, a2.v, ${duckCos("a2.v", "c1.cv")} AS cent_sim
         |       FROM a2 JOIN c1 ON c1.cl = a2.cl),
         |p AS (SELECT x.cell, x.vec_id AS i, x.cent_sim AS si,
         |             y.vec_id AS j, y.cent_sim AS sj, ${duckCos("x.v", "y.v")} AS sim
         |      FROM cs x JOIN cs y ON x.cell = y.cell AND x.vec_id < y.vec_id),
         |t AS (SELECT * FROM p WHERE sim >= $tau),
         |sym AS (SELECT cell, i AS a, si AS sa, j AS b, sj AS sb, sim FROM t
         |        UNION ALL
         |        SELECT cell, j, sj, i, si, sim FROM t),
         |drp AS (SELECT cell, a AS vec_id, sa AS cent_sim, sim FROM sym
         |        WHERE sb < sa OR (sb = sa AND b < a))
         |SELECT cell, vec_id, cent_sim, CAST(count(*) AS BIGINT) AS n_better,
         |  max(sim) AS best_sim
         |FROM drp GROUP BY 1, 2, 3 ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir))
      val kConf = s.conf.getOption("spark.graft.dedup.semanticCells")
        .map(_.toLong).getOrElse(0L)
      val k = if (kConf > 0) kConf
              else math.ceil(math.sqrt(v.count().toDouble)).toLong
      semanticDedupFrame(v, k, tau)
    }
  }

  /** The [[dedupSemantic]] core over a prepared (vec_id, v) frame with
    * an EXPLICIT cell count — factored so the planted-geometry spec can
    * drive k independently of the corpus. 2-round deterministic Lloyd
    * (assign to the k-smallest-id seed vectors, ONE round-6 centroid
    * update, final re-assign = the oracle's c0→a1→u1/c1→a2 CTE chain)
    * on [[graft.ml.KMeans]]'s broadcast-centroid-table kernel: plan
    * size O(1) in k, per-round cost one scan + one n-row argmin
    * shuffle — the shape that reaches SemDeDup's 10⁴–10⁵ cells.
    */
  private[graft] def semanticDedupFrame(v: org.apache.spark.sql.DataFrame,
      k: Long, tau: Double): org.apache.spark.sql.DataFrame = {
    val vv = v.select(col("vec_id"), col("v"))
    val (assigned, cents) = graft.ml.KMeans.fit(
      vv, graft.ml.KMeans.seedSmallest(vv, k), iters = 2)
    // cent_sim against the final (round-6-updated) centroid table: same
    // ‖c‖ fold and round as the literal twin, via the broadcast join
    val cw = broadcast(cents.select(col("cl").as("__cell"), col("cv"),
      sqrt(Similarity.dot("cv", "cv")).as("__cn")))
    val cs = assigned.join(cw, col("cl") === col("__cell"))
      .withColumn("__den", Similarity.l2("v") * col("__cn"))
      .withColumn("cent_sim", when(col("__den") === 0.0, lit(null))
        .otherwise(round(Similarity.dot("v", "cv") / col("__den"), 6)))
      .select(col("vec_id"), col("cl").as("cell"), col("v"),
        col("cent_sim"), Similarity.l2("v").as("nrm"))
    semanticDropStats(cs, tau)
  }

  /** Plan-literal twin of [[semanticDedupFrame]] — identical math with
    * centroids baked into the plan (`array(dist…)` per cell). O(k·d)
    * PLAN size, so it is only safe at small k; kept as the differential
    * oracle twin (SimilaritySpec proves literal ≡ table at k=⌈√n⌉) and
    * as documentation of the bit-contract the table path inherits.
    */
  private[graft] def semanticDedupFrameLiteral(v: org.apache.spark.sql.DataFrame,
      k: Long, tau: Double): org.apache.spark.sql.DataFrame = {
      def distArr(cs: Seq[(Long, Seq[Double])]) = cs.map { case (_, c) =>
        var cn = 0.0; c.foreach(x => cn += x * x) // ascending fold = list_sum parity
        Similarity.dot("v", "v") + lit(cn) - lit(2.0) * Similarity.dotConst("v", c)
      }
      // seed assignment against the raw k-smallest-id vectors (NOT
      // `vec_id < k`, which under-seeds sparse/offset id spaces)
      val seeds: Seq[(Long, Seq[Double])] = v.orderBy(col("vec_id")).limit(k.toInt)
        .select(col("vec_id"), col("v")).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
      require(seeds.nonEmpty, "semantic dedup: no seed vectors (empty frame)")
      val a1 = v
        .withColumn("dists", array(distArr(seeds): _*))
        .withColumn("cl", element_at(typedLit(seeds.map(_._1)),
          expr("array_position(dists, array_min(dists))").cast("int")))
        .drop("dists")
      // one round-6 centroid update: k x d tiny summary (S10 policy),
      // bit-shared with the oracle's u1/c1 CTEs
      val cents: Seq[(Long, Seq[Double])] = a1
        .select(col("cl"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("cl"), col("i")).agg(round(avg(col("x")), 6).as("x"))
        .groupBy(col("cl"))
        .agg(expr("transform(array_sort(collect_list(struct(i, x))), p -> p.x)").as("cv"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
        .sortBy(_._1)
      val cellIds = cents.map(_._1)
      val ccNorms = cents.map { case (_, c) =>
        var cn = 0.0; c.foreach(x => cn += x * x); cn // ascending fold = list_sum parity
      }
      val dists = distArr(cents)
      val centSims = cents.zip(ccNorms).map { case ((_, c), cn) =>
        val den = Similarity.l2("v") * lit(math.sqrt(cn))
        when(den === 0.0, lit(null))
          .otherwise(round(Similarity.dotConst("v", c) / den, 6))
      }
      val cs = v
        .withColumn("dists", array(dists: _*))
        .withColumn("pos", expr("array_position(dists, array_min(dists))").cast("int"))
        .withColumn("cell", element_at(typedLit(cellIds), col("pos")))
        .withColumn("cent_sim", element_at(array(centSims: _*), col("pos")))
        .withColumn("nrm", Similarity.l2("v"))
        .select(col("vec_id"), col("cell"), col("v"), col("cent_sim"), col("nrm"))
      semanticDropStats(cs, tau)
  }

  /** Shared SemDeDup drop-stats tail over an assigned
    * `(vec_id, cell, v, cent_sim, nrm)` frame: within-cell candidate
    * pairs (equi-join on cell, never all-pairs), cosine ≥ τ verify,
    * and the LOCAL farthest-from-centroid drop rule (ties → lower
    * vec_id survives). Used by both the broadcast-table path and the
    * plan-literal twin — the differential spec compares exactly this
    * output.
    */
  private def semanticDropStats(cs: org.apache.spark.sql.DataFrame,
      tau: Double): org.apache.spark.sql.DataFrame = {
      val x = cs.select(col("vec_id").as("i"), col("cell"), col("v").as("va"),
        col("cent_sim").as("si"), col("nrm").as("na")).alias("x")
      val y = cs.select(col("vec_id").as("j"), col("cell"), col("v").as("vb"),
        col("cent_sim").as("sj"), col("nrm").as("nb")).alias("y")
      val t = x.join(y, col("x.cell") === col("y.cell") && col("i") < col("j"))
        .withColumn("den", col("na") * col("nb"))
        .withColumn("sim", when(col("den") === 0.0, lit(null))
          .otherwise(round(Similarity.dot("va", "vb") / col("den"), 6)))
        .where(col("sim") >= tau)
        .select(col("x.cell").as("cell"), col("i"), col("si"), col("j"), col("sj"), col("sim"))
      val sym = t.select(col("cell"), col("i").as("a"), col("si").as("sa"),
          col("j").as("b"), col("sj").as("sb"), col("sim"))
        .unionByName(t.select(col("cell"), col("j").as("a"), col("sj").as("sa"),
          col("i").as("b"), col("si").as("sb"), col("sim")))
      sym.where(col("sb") < col("sa") || (col("sb") === col("sa") && col("b") < col("a")))
        .groupBy(col("cell"), col("a").as("vec_id"), col("sa").as("cent_sim"))
        .agg(count(lit(1)).as("n_better"), max(col("sim")).as("best_sim"))
        .orderBy(col("vec_id"))
  }

  /** Symmetric int8 quantization (the ANN memory-cut pass): per vector,
    * scale = 127 / max|x|, q_i = floor(x_i*scale + 0.5) — floor(+0.5)
    * instead of round() because double→int rounding diverges between
    * engines while floor is exact in both. Long-form output for the
    * hash compare.
    */
  val embedQuantize: QueryDef = QueryDef.sql("embed_quantize",
    s"""WITH $duckVectors,
       |m AS (SELECT vec_id, v, 127.0 / greatest(list_max([abs(x) for x in v]), 1e-12) AS s FROM v)
       |SELECT vec_id, CAST(i - 1 AS BIGINT) AS i, CAST(floor(v[i] * s + 0.5) AS BIGINT) AS q
       |FROM m, range(1, 65) r(i) ORDER BY vec_id, i""".stripMargin) { (s, dir) =>
    Similarity.vectors(Tables.embeddings(s, dir))
      .withColumn("s", lit(127.0) /
        greatest(expr("array_max(transform(v, x -> abs(x)))"), lit(1e-12)))
      .select(col("vec_id"),
        posexplode(expr("transform(v, x -> CAST(floor(x * s + CAST(0.5 AS DOUBLE)) AS BIGINT))"))
          .as(Seq("i", "q")))
      .select(col("vec_id"), col("i").cast("long").as("i"), col("q"))
      .orderBy(col("vec_id"), col("i"))
  }

  /** Multi-probe recall@5 at the SAME 8-bit hyperplane budget as
    * embed_hyperplane_recall: each query probes its own bucket PLUS the
    * 8 hamming-1 neighbors (one sign flip per plane — the buckets a
    * near-boundary neighbor most likely fell into). Multi-probe is the
    * standard lever for recall at a fixed plane budget WITHOUT extra
    * index tables: candidate volume grows ~(1+bits)/2^bits of the
    * corpus, still an equi-join on bucket values, and the single-probe /
    * multi-probe pair of gate queries measures exactly what the knob
    * buys. Probes are distinct values and each candidate owns one
    * bucket, so the join cannot duplicate pairs.
    */
  val embedMultiprobeRecall: QueryDef = {
    val bits = 8; val seed = 7; val dim = 64
    val hpValues = Similarity.hyperplanes(bits, seed, dim).zipWithIndex
      .map { case (r, b) => s"($b, [${r.mkString(", ")}])" }.mkString(", ")
    QueryDef.sql("embed_multiprobe_recall",
      s"""WITH $duckVectors,
         |hp(b, r) AS (VALUES $hpValues),
         |vb AS (SELECT vec_id, v,
         |         CAST(sum(CASE WHEN list_sum([v[i+1] * r[i+1] for i in range(0, $dim)]) >= 0
         |                  THEN (1 << b) ELSE 0 END) AS BIGINT) AS bucket
         |       FROM v, hp GROUP BY vec_id, v),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket FROM vb WHERE vec_id < 10),
         |qp AS (SELECT qid, qv,
         |         CASE WHEN p.i = $bits THEN bucket ELSE xor(bucket, 1 << p.i) END AS probe
         |       FROM q CROSS JOIN range(0, ${bits + 1}) p(i)),
         |c AS (SELECT vec_id AS nid, v AS cv, bucket FROM vb WHERE vec_id >= 10),
         |bp AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS sim FROM c, q),
         |br AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM bp),
         |bt AS (SELECT qid, nid FROM br WHERE rnk <= 5),
         |lp AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS sim
         |       FROM c JOIN qp ON c.bucket = qp.probe),
         |lr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk FROM lp),
         |lt AS (SELECT qid, nid FROM lr WHERE rnk <= 5)
         |SELECT bt.qid, CAST(count(lt.nid) AS BIGINT) AS n_hit,
         |  round(count(lt.nid) / 5.0, 6) AS recall
         |FROM bt LEFT JOIN lt ON bt.qid = lt.qid AND bt.nid = lt.nid
         |GROUP BY bt.qid ORDER BY bt.qid""".stripMargin) { (s, dir) =>
      val b = Similarity.vectors(Tables.embeddings(s, dir))
        .withColumn("bucket", Similarity.hyperplaneBucket("v", bits, seed, dim))
      val q = b.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("bucket"))
      val probes = (0 until bits).map(i => s"bucket ^ ${1 << i}") :+ "bucket"
      val qp = q.select(col("qid"), col("qv"),
        explode(expr(probes.mkString("array(", ", ", ")"))).as("probe"))
      val c = b.where(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("v").as("cv"), col("bucket"))
      val brute = Similarity.topK(
        c.crossJoin(broadcast(q.drop("bucket")))
          .withColumn("sim", Similarity.cosine("qv", "cv"))
          .select(col("qid"), col("nid"), col("sim")), 5)
        .select(col("qid"), col("nid"))
      val probed = Similarity.topK(
        c.join(broadcast(qp), col("bucket") === col("probe"))
          .withColumn("sim", Similarity.cosine("qv", "cv"))
          .select(col("qid"), col("nid"), col("sim")), 5)
        .select(col("qid").as("lqid"), col("nid").as("lnid"))
      brute.join(probed,
          brute("qid") === probed("lqid") && brute("nid") === probed("lnid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("lnid")).as("n_hit"),
          round(count(col("lnid")) / 5.0, 6).as("recall"))
        .orderBy(col("qid"))
    }
  }

  /** Product-quantization ANN (the 100 TB in-memory path): vectors are
    * compressed to M=8 sub-codes of 4 bits (16-entry codebook per
    * subspace) — 64 doubles (512 B) become 4 B, a 128× memory cut — and
    * query-time scoring is ADC (asymmetric distance computation): the
    * query precomputes its distance to every codebook entry (M·K = 128
    * values), then each candidate costs M table LOOKUPS + a sum, no
    * vector math. At cluster scale the encoded corpus co-partitions
    * with any coarse index (IVF cells, LSH buckets) and the ADC tables
    * ride a per-query broadcast.
    *
    * Determinism for the oracle: the codebook is TRAINING-FREE — the
    * sub-vectors of corpus rows vec_id 10..25 (production would k-means
    * a sample per subspace; the encode/ADC pipeline is identical).
    * Encoding argmin uses round-6 distances with a code tiebreak
    * (row_number, both engines); ADC sums are exact DECIMAL(18,6) so
    * addition order can't drift the ranking; final rank tiebreaks nid.
    */
  /** (id, sub, svec): one row per subspace, the dim-`dsub` slice. */
  private[graft] def pqSubSlices(df: org.apache.spark.sql.DataFrame, idOut: String,
                          m: Int, dsub: Int): org.apache.spark.sql.DataFrame = df
    .select(col("vec_id").as(idOut), explode(expr(
      s"transform(sequence(0, ${m - 1}), s -> struct(s AS sub, slice(v, s * $dsub + 1, $dsub) AS svec))"))
      .as("sc"))
    .select(col(idOut), col("sc.sub").as("sub"), col("sc.svec").as("svec"))

  /** Same rearranged ‖a−b‖² as embed_centroids (identical folds and
    * (a+b)−2c association in the oracle) so both engines round the
    * same double; squared distance — PQ never needs the sqrt.
    */
  private def pqSqDist(a: String, b: String): org.apache.spark.sql.Column =
    round(greatest(
      Similarity.dot(a, a) + Similarity.dot(b, b) -
        lit(2) * Similarity.dot(a, b), lit(0.0)), 6)

  val embedKnnPq: QueryDef = {
    val (m, dsub, kCodes) = (8, 8, 16)
    def duckSqDist(a: String, b: String): String =
      s"""round(greatest(list_sum([$a[i] * $a[i] for i in range(1, len($a) + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, len($b) + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)]), 0), 6)""".stripMargin
    QueryDef.sql("embed_knn_pq",
      s"""WITH $duckVectors,
         |cb AS (SELECT vec_id - 10 AS code, s.sub,
         |         v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS cvec
         |       FROM v CROSS JOIN range(0, $m) s(sub)
         |       WHERE vec_id >= 10 AND vec_id < ${10 + kCodes}),
         |cs AS (SELECT c.nid, s.sub, c.v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS svec
         |       FROM (SELECT vec_id AS nid, v FROM v WHERE vec_id >= 10) c
         |       CROSS JOIN range(0, $m) s(sub)),
         |enc0 AS (SELECT nid, cs.sub, cb.code, ${duckSqDist("svec", "cvec")} AS d
         |         FROM cs JOIN cb ON cs.sub = cb.sub),
         |enc AS (SELECT nid, sub, code FROM
         |          (SELECT nid, sub, code,
         |             row_number() OVER (PARTITION BY nid, sub ORDER BY d, code) AS rn
         |           FROM enc0) WHERE rn = 1),
         |qs AS (SELECT q.qid, s.sub, q.v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS svec
         |       FROM (SELECT vec_id AS qid, v FROM v WHERE vec_id < 10) q
         |       CROSS JOIN range(0, $m) s(sub)),
         |adc AS (SELECT qid, qs.sub, cb.code,
         |          CAST(${duckSqDist("svec", "cvec")} AS DECIMAL(18,6)) AS qd
         |        FROM qs JOIN cb ON qs.sub = cb.sub),
         |p AS (SELECT qid, nid, sum(qd) AS sd
         |      FROM enc JOIN adc USING (sub, code) GROUP BY 1, 2),
         |r AS (SELECT qid, nid, CAST(sd AS DOUBLE) AS adist,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sd, nid) AS BIGINT) AS rnk
         |      FROM p)
         |SELECT qid, nid, adist, rnk FROM r WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val v = Similarity.vectors(Tables.embeddings(s, dir))
      def subSlices(df: org.apache.spark.sql.DataFrame, idOut: String) =
        pqSubSlices(df, idOut, m, dsub)
      def sqDist(a: String, b: String) = pqSqDist(a, b)
      val cb = subSlices(
        v.where(col("vec_id") >= 10 && col("vec_id") < 10 + kCodes), "cbid")
        .select((col("cbid") - 10).as("code"), col("sub"), col("svec").as("cvec"))
      val enc = subSlices(v.where(col("vec_id") >= 10), "nid")
        .join(broadcast(cb), "sub")
        .withColumn("d", sqDist("svec", "cvec"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("nid"), col("sub")).orderBy(col("d"), col("code"))))
        .where(col("rn") === 1)
        .select(col("nid"), col("sub"), col("code"))
      val adc = subSlices(v.where(col("vec_id") < 10), "qid")
        .join(broadcast(cb), "sub")
        .select(col("qid"), col("sub"), col("code"),
          sqDist("svec", "cvec").cast("decimal(18,6)").as("qd"))
      enc.join(broadcast(adc), Seq("sub", "code"))
        .groupBy(col("qid"), col("nid")).agg(sum(col("qd")).as("sd"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("sd"), col("nid"))).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("qid"), col("nid"), col("sd").cast("double").as("adist"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** Recall@5 of the PQ/ADC ranking against EXACT squared-L2 top-5 —
    * the measurement gate the other index tiers already carry
    * (embed_lsh/hyperplane/banded/multiprobe_recall): it prices what
    * the 128× memory cut costs in ranking fidelity, per query. The
    * exact arm ranks candidates by the same round-6 rearranged ‖q−c‖²
    * the encoder uses (PQ approximates L2, so cosine would gate the
    * wrong metric); the approximate arm is the identical
    * encode-once / ADC-lookup pipeline as [[embedKnnPq]] (shared
    * [[pqSubSlices]]/[[pqSqDist]] kernels, DECIMAL(18,6) ADC sums so
    * addition order can't drift the ranking). Candidate-side cost is
    * unchanged from the production query — the gate adds only the
    * 10-query brute scan.
    */
  val embedPqRecall: QueryDef = {
    val (m, dsub, kCodes) = (8, 8, 16)
    def duckSqDist(a: String, b: String): String =
      s"""round(greatest(list_sum([$a[i] * $a[i] for i in range(1, len($a) + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, len($b) + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)]), 0), 6)""".stripMargin
    QueryDef.sql("embed_pq_recall",
      s"""WITH $duckVectors,
         |cb AS (SELECT vec_id - 10 AS code, s.sub,
         |         v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS cvec
         |       FROM v CROSS JOIN range(0, $m) s(sub)
         |       WHERE vec_id >= 10 AND vec_id < ${10 + kCodes}),
         |cs AS (SELECT c.nid, s.sub, c.v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS svec
         |       FROM (SELECT vec_id AS nid, v FROM v WHERE vec_id >= 10) c
         |       CROSS JOIN range(0, $m) s(sub)),
         |enc0 AS (SELECT nid, cs.sub, cb.code, ${duckSqDist("svec", "cvec")} AS d
         |         FROM cs JOIN cb ON cs.sub = cb.sub),
         |enc AS (SELECT nid, sub, code FROM
         |          (SELECT nid, sub, code,
         |             row_number() OVER (PARTITION BY nid, sub ORDER BY d, code) AS rn
         |           FROM enc0) WHERE rn = 1),
         |qs AS (SELECT q.qid, s.sub, q.v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS svec
         |       FROM (SELECT vec_id AS qid, v FROM v WHERE vec_id < 10) q
         |       CROSS JOIN range(0, $m) s(sub)),
         |adc AS (SELECT qid, qs.sub, cb.code,
         |          CAST(${duckSqDist("svec", "cvec")} AS DECIMAL(18,6)) AS qd
         |        FROM qs JOIN cb ON qs.sub = cb.sub),
         |p AS (SELECT qid, nid, sum(qd) AS sd
         |      FROM enc JOIN adc USING (sub, code) GROUP BY 1, 2),
         |lr AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sd, nid) AS rnk FROM p),
         |lt AS (SELECT qid, nid FROM lr WHERE rnk <= 5),
         |bp AS (SELECT q.vec_id AS qid, c.vec_id AS nid, ${duckSqDist("q.v", "c.v")} AS d
         |       FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id >= 10),
         |br AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rnk FROM bp),
         |bt AS (SELECT qid, nid FROM br WHERE rnk <= 5)
         |SELECT bt.qid, CAST(count(lt.nid) AS BIGINT) AS n_hit,
         |  round(count(lt.nid) / 5.0, 6) AS recall
         |FROM bt LEFT JOIN lt ON bt.qid = lt.qid AND bt.nid = lt.nid
         |GROUP BY bt.qid ORDER BY bt.qid""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val v = Similarity.vectors(Tables.embeddings(s, dir))
      val cb = pqSubSlices(
        v.where(col("vec_id") >= 10 && col("vec_id") < 10 + kCodes), "cbid", m, dsub)
        .select((col("cbid") - 10).as("code"), col("sub"), col("svec").as("cvec"))
      val enc = pqSubSlices(v.where(col("vec_id") >= 10), "nid", m, dsub)
        .join(broadcast(cb), "sub")
        .withColumn("d", pqSqDist("svec", "cvec"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("nid"), col("sub")).orderBy(col("d"), col("code"))))
        .where(col("rn") === 1)
        .select(col("nid"), col("sub"), col("code"))
      val adc = pqSubSlices(v.where(col("vec_id") < 10), "qid", m, dsub)
        .join(broadcast(cb), "sub")
        .select(col("qid"), col("sub"), col("code"),
          pqSqDist("svec", "cvec").cast("decimal(18,6)").as("qd"))
      val approx = enc.join(broadcast(adc), Seq("sub", "code"))
        .groupBy(col("qid"), col("nid")).agg(sum(col("qd")).as("sd"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("sd"), col("nid"))))
        .where(col("rnk") <= 5)
        .select(col("qid").as("lqid"), col("nid").as("lnid"))
      val q = v.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val brute = v.where(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("v").as("cv"))
        .crossJoin(broadcast(q))
        .withColumn("d", pqSqDist("qv", "cv"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("d"), col("nid"))))
        .where(col("rnk") <= 5)
        .select(col("qid"), col("nid"))
      brute.join(approx,
          brute("qid") === approx("lqid") && brute("nid") === approx("lnid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("lnid")).as("n_hit"),
          round(count(col("lnid")) / 5.0, 6).as("recall"))
        .orderBy(col("qid"))
    }
  }

  /** [[embedKnnPq]] with TRAINED codebooks — the actual FAISS PQ
    * construction (Jégou et al., TPAMI 2011 §III: per-subspace k-means
    * over the sub-vectors) replacing the training-free deterministic
    * codebook: a 2-round grouped Lloyd fit
    * ([[graft.ml.KMeans.fitGrouped]] — all M=8 subspaces train in the
    * SAME pass, one broadcast equi-join + one argmin shuffle per round,
    * plan O(1) in M·k) seeded with the sub-slices of corpus rows
    * 10..25 (exactly the training-free codebook, so the trained book is
    * a strict Lloyd refinement of the r10 baseline at EQUAL code
    * budget). The final Lloyd assignment IS the encoding; query-time
    * ADC is unchanged from [[embedKnnPq]].
    *
    * Determinism: the KMeans chain contract (unrounded fold-stable d2
    * with lower-cl ties, round-6 centroid updates — both engines
    * iterate bit-identical books); ADC distances round-6 into exact
    * DECIMAL(18,6) sums; final rank tiebreaks nid.
    */
  val embedKnnPqTrained: QueryDef = {
    val (m, dsub, kCodes) = (8, 8, 16)
    // unrounded d2 for the Lloyd argmin (KMeans.assign association:
    // (v·v + c·c) − 2·(v·c), ascending folds on every dot)
    def duckD2(a: String, b: String): String =
      s"""list_sum([$a[i] * $a[i] for i in range(1, $dsub + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, $dsub + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, $dsub + 1)])""".stripMargin
    // round-6 clamped sq-dist for the ADC tables (pqSqDist's twin)
    def duckSqDist(a: String, b: String): String =
      s"""round(greatest(list_sum([$a[i] * $a[i] for i in range(1, len($a) + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, len($b) + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)]), 0), 6)""".stripMargin
    QueryDef.sql("embed_knn_pq_trained",
      s"""WITH $duckVectors,
         |ss AS (SELECT vec_id AS nid, s.sub, v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS sv
         |       FROM v CROSS JOIN range(0, $m) s(sub) WHERE vec_id >= 10),
         |c0 AS (SELECT sub, nid - 10 AS cl, sv AS cv FROM ss WHERE nid < ${10 + kCodes}),
         |d1 AS (SELECT ss.nid, ss.sub, ss.sv, c.cl, ${duckD2("ss.sv", "c.cv")} AS d2
         |       FROM ss JOIN c0 c ON ss.sub = c.sub),
         |a1 AS (SELECT nid, sub, sv, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY nid, sub ORDER BY d2, cl) AS rk
         |        FROM d1) WHERE rk = 1),
         |u1 AS (SELECT sub, cl, i, round(avg(sv[i]), 6) AS x
         |       FROM a1, range(1, ${dsub + 1}) r(i) GROUP BY sub, cl, i),
         |c1 AS (SELECT sub, cl, list(x ORDER BY i) AS cv FROM u1 GROUP BY sub, cl),
         |d2c AS (SELECT ss.nid, ss.sub, c.cl, ${duckD2("ss.sv", "c.cv")} AS d2
         |        FROM ss JOIN c1 c ON ss.sub = c.sub),
         |enc AS (SELECT nid, sub, cl AS code FROM (
         |        SELECT *, row_number() OVER (PARTITION BY nid, sub ORDER BY d2, cl) AS rk
         |        FROM d2c) WHERE rk = 1),
         |qs AS (SELECT vec_id AS qid, s.sub, v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS sv
         |       FROM v CROSS JOIN range(0, $m) s(sub) WHERE vec_id < 10),
         |adc AS (SELECT qid, qs.sub, c1.cl AS code,
         |          CAST(${duckSqDist("qs.sv", "c1.cv")} AS DECIMAL(18,6)) AS qd
         |        FROM qs JOIN c1 ON qs.sub = c1.sub),
         |p AS (SELECT qid, nid, sum(qd) AS sd
         |      FROM enc JOIN adc USING (sub, code) GROUP BY 1, 2),
         |r AS (SELECT qid, nid, CAST(sd AS DOUBLE) AS adist,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sd, nid) AS BIGINT) AS rnk
         |      FROM p)
         |SELECT qid, nid, adist, rnk FROM r WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val ss = pqSubSlices(v.where(col("vec_id") >= 10), "nid", m, dsub)
        .select(col("nid"), col("sub"), col("svec").as("v"))
      val seeds = ss.where(col("nid") < 10 + kCodes)
        .select(col("sub"), (col("nid") - 10).as("cl"), col("v").as("cv"))
      val (assigned, cb) = graft.ml.KMeans.fitGrouped(
        ss, seeds, iters = 2, idCol = "nid", grpCol = "sub")
      val enc = assigned.select(col("nid"), col("sub"), col("cl").as("code"))
      val cbb = broadcast(cb.select(col("sub"), col("cl").as("code"), col("cv").as("cvec")))
      val adc = pqSubSlices(v.where(col("vec_id") < 10), "qid", m, dsub)
        .join(cbb, "sub")
        .select(col("qid"), col("sub"), col("code"),
          pqSqDist("svec", "cvec").cast("decimal(18,6)").as("qd"))
      enc.join(broadcast(adc), Seq("sub", "code"))
        .groupBy(col("qid"), col("nid")).agg(sum(col("qd")).as("sd"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("sd"), col("nid"))).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("qid"), col("nid"), col("sd").cast("double").as("adist"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** IVF+PQ composed ANN (IVFADC — Jégou, Douze, Schmid, "Product
    * quantization for nearest neighbor search", TPAMI 2011): the coarse
    * quantizer routes each query to its nprobe=2 nearest label cells
    * ([[embedKnnIvf]]'s probe stage) and candidates are PQ-scored by
    * ADC table lookups ([[embedKnnPq]]'s encode/ADC stages) — the
    * production billion-vector layout, where NEITHER full vectors nor
    * full scans survive: the corpus is partitioned by cell (cell id =
    * shuffle/storage key), each partition holds only 4-byte PQ codes,
    * and a query ships as (probed cell ids + a 128-entry ADC table)
    * riding a broadcast. Per-candidate cost is M=8 byte lookups + a
    * decimal sum; per-query scan cost shrinks by cells/nprobe on top
    * of PQ's 128× memory cut.
    *
    * Determinism composes from the two parents: cell ranking sorts
    * round-6 distances (label tiebreak), encoding argmin sorts round-6
    * sub-distances (code tiebreak), ADC sums are exact DECIMAL(18,6),
    * final rank tiebreaks nid — every comparison the two engines make
    * is over bit-identical values.
    */
  val embedKnnIvfPq: QueryDef = {
    val (m, dsub, kCodes) = (8, 8, 16)
    val duckDist =
      """round(sqrt(greatest(list_sum([qv[i] * qv[i] for i in range(1, len(qv) + 1)]) +
        |    list_sum([carr[i] * carr[i] for i in range(1, len(carr) + 1)]) -
        |    2 * list_sum([qv[i] * carr[i] for i in range(1, len(qv) + 1)]), 0)), 6)""".stripMargin
    def duckSqDist(a: String, b: String): String =
      s"""round(greatest(list_sum([$a[i] * $a[i] for i in range(1, len($a) + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, len($b) + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)]), 0), 6)""".stripMargin
    QueryDef.sql("embed_knn_ivfpq",
      s"""WITH $duckVectors,
         |$duckCentroidCte,
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |asg AS (SELECT qid, label AS cell,
         |          CAST(row_number() OVER (PARTITION BY qid ORDER BY $duckDist, label) AS BIGINT) AS cr
         |        FROM q CROSS JOIN ca),
         |probe AS (SELECT qid, cell FROM asg WHERE cr <= 2),
         |cb AS (SELECT vec_id - 10 AS code, s.sub,
         |         v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS cvec
         |       FROM v CROSS JOIN range(0, $m) s(sub)
         |       WHERE vec_id >= 10 AND vec_id < ${10 + kCodes}),
         |cs AS (SELECT c.nid, s.sub, c.v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS svec
         |       FROM (SELECT vec_id AS nid, v FROM v WHERE vec_id >= 10) c
         |       CROSS JOIN range(0, $m) s(sub)),
         |enc0 AS (SELECT nid, cs.sub, cb.code, ${duckSqDist("svec", "cvec")} AS d
         |         FROM cs JOIN cb ON cs.sub = cb.sub),
         |enc AS (SELECT nid, sub, code FROM
         |          (SELECT nid, sub, code,
         |             row_number() OVER (PARTITION BY nid, sub ORDER BY d, code) AS rn
         |           FROM enc0) WHERE rn = 1),
         |cl AS (SELECT vec_id AS nid, label FROM v WHERE vec_id >= 10),
         |qs AS (SELECT q.qid, s.sub, q.v[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS svec
         |       FROM (SELECT vec_id AS qid, v FROM v WHERE vec_id < 10) q
         |       CROSS JOIN range(0, $m) s(sub)),
         |adc AS (SELECT qid, qs.sub, cb.code,
         |          CAST(${duckSqDist("svec", "cvec")} AS DECIMAL(18,6)) AS qd
         |        FROM qs JOIN cb ON qs.sub = cb.sub),
         |p AS (SELECT probe.qid, enc.nid, sum(adc.qd) AS sd
         |      FROM enc
         |      JOIN cl ON enc.nid = cl.nid
         |      JOIN probe ON cl.label = probe.cell
         |      JOIN adc ON adc.qid = probe.qid AND adc.sub = enc.sub AND adc.code = enc.code
         |      GROUP BY 1, 2),
         |r AS (SELECT qid, nid, CAST(sd AS DOUBLE) AS adist,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sd, nid) AS BIGINT) AS rnk
         |      FROM p)
         |SELECT qid, nid, adist, rnk FROM r WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val v = Similarity.vectors(Tables.embeddings(s, dir))
      val ca = centroidArrays(v)
      val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
      val wc = Window.partitionBy(col("qid")).orderBy(col("__d"), col("label"))
      val probe = q.crossJoin(broadcast(ca))
        .withColumn("__d", round(sqrt(greatest(
          Similarity.dot("qv", "qv") + Similarity.dot("carr", "carr")
            - lit(2) * Similarity.dot("qv", "carr"), lit(0.0))), 6))
        .withColumn("cr", row_number().over(wc))
        .where(col("cr") <= 2)
        .select(col("qid"), col("label").as("cell"))
      val cb = pqSubSlices(
        v.where(col("vec_id") >= 10 && col("vec_id") < 10 + kCodes), "cbid", m, dsub)
        .select((col("cbid") - 10).as("code"), col("sub"), col("svec").as("cvec"))
      val enc = pqSubSlices(v.where(col("vec_id") >= 10), "nid", m, dsub)
        .join(broadcast(cb), "sub")
        .withColumn("d", pqSqDist("svec", "cvec"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("nid"), col("sub")).orderBy(col("d"), col("code"))))
        .where(col("rn") === 1)
        .select(col("nid"), col("sub"), col("code"))
      val cl = v.where(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("label"))
      val adc = pqSubSlices(v.where(col("vec_id") < 10), "qid", m, dsub)
        .join(broadcast(cb), "sub")
        .select(col("qid"), col("sub"), col("code"),
          pqSqDist("svec", "cvec").cast("decimal(18,6)").as("qd"))
      enc.join(cl, "nid")
        .join(broadcast(probe), col("label") === col("cell"))
        .join(broadcast(adc), Seq("qid", "sub", "code"))
        .groupBy(col("qid"), col("nid")).agg(sum(col("qd")).as("sd"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("sd"), col("nid"))).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("qid"), col("nid"), col("sd").cast("double").as("adist"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** Feature extraction over the media table (stub "model", real
    * per-partition batch plumbing — ops.Multimodal.featureExtract):
    * each media item → an 8-bin descriptor, emitted long-form
    * (doc_id, i, bin) so the oracle compares exact integers.
    */
  val multimodalFeatures: QueryDef =
    QueryDef.sql("multimodal_features",
      """SELECT doc_id, CAST(i AS BIGINT) AS i,
        |  ('0x' || substr(md5(text), 1 + 2 * i, 2))::BIGINT AS bin
        |FROM documents, range(0, 8) r(i)
        |ORDER BY doc_id, i""".stripMargin) { (s, dir) =>
      val media = Multimodal.mediaTable(s, Tables.documents(s, dir))
      Multimodal.featureExtract(s, media).toDF()
        .select(col("doc_id"), posexplode(col("feat")).as(Seq("i", "bin")))
        .select(col("doc_id"), col("i").cast("long").as("i"), col("bin"))
        .orderBy(col("doc_id"), col("i"))
    }

  /** Hard-negative mining for contrastive embedding training: per query
    * vector, the nearest SAME-label candidate (the positive) and the
    * nearest OTHER-label candidate (the hard negative — the most
    * confusable wrong answer), plus the margin between them. The
    * (anchor, positive, hard-negative) triplet is what a triplet /
    * InfoNCE loss consumes; mining negatives near the decision boundary
    * is the published recipe (e.g. DPR, Karpukhin et al. 2020).
    *
    * Gate tier scores the broadcast query block against all candidates
    * exactly (same shape as [[embedKnnBrute]] — one candidate scan, no
    * shuffle of the corpus); at 100 TB the candidate set comes from the
    * LSH band join ([[embedKnnLsh]]'s bucket equi-join) instead of the
    * full scan, which only improves the negatives' hardness.
    */
  val embedHardNegatives: QueryDef = QueryDef.sql("embed_hard_negatives",
    s"""WITH $duckVectors,
       |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv FROM v WHERE vec_id < 10),
       |c AS (SELECT vec_id AS nid, label AS nlabel, v AS cv FROM v WHERE vec_id >= 10),
       |p AS (SELECT qid, qlabel, nid, nlabel, ${duckCos("qv", "cv")} AS sim FROM c, q),
       |pos AS (SELECT qid, nid, sim,
       |          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
       |        FROM p WHERE qlabel = nlabel),
       |neg AS (SELECT qid, nid, sim,
       |          row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rnk
       |        FROM p WHERE qlabel <> nlabel)
       |SELECT pos.qid AS qid, pos.nid AS pos_id, pos.sim AS pos_sim,
       |  neg.nid AS neg_id, neg.sim AS neg_sim,
       |  round(pos.sim - neg.sim, 6) AS margin
       |FROM pos JOIN neg USING (qid)
       |WHERE pos.rnk = 1 AND neg.rnk = 1 ORDER BY qid""".stripMargin) { (s, dir) =>
    val v = Similarity.vectors(Tables.embeddings(s, dir))
    val q = v.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("v").as("qv"))
    val c = v.where(col("vec_id") >= 10)
      .select(col("vec_id").as("nid"), col("label").as("nlabel"), col("v").as("cv"))
    val pairs = c.crossJoin(broadcast(q))
      .withColumn("sim", Similarity.cosine("qv", "cv"))
    val pos = Similarity.topK(pairs.where(col("qlabel") === col("nlabel")), 1)
      .select(col("qid"), col("nid").as("pos_id"), col("sim").as("pos_sim"))
    val neg = Similarity.topK(pairs.where(col("qlabel") =!= col("nlabel")), 1)
      .select(col("qid"), col("nid").as("neg_id"), col("sim").as("neg_sim"))
    pos.join(neg, Seq("qid"))
      .select(col("qid"), col("pos_id"), col("pos_sim"), col("neg_id"),
        col("neg_sim"), round(col("pos_sim") - col("neg_sim"), 6).as("margin"))
      .orderBy(col("qid"))
  }

  /** Johnson–Lindenstrauss random projection, 64 → 16 dims: p_j =
    * v · r_j for 16 seeded pseudo-random planes — the standard
    * embedding-compression pass before clustering or coarse ANN (JL:
    * pairwise distances are preserved within 1±ε at k = O(log n / ε²)).
    * The planes are the SAME murmur3-derived constants the LSH family
    * uses (Similarity.hyperplanes — one canonical derivation,
    * spec-pinned), materialized at plan-build time and shipped as plan
    * literals; each output dim is one native vec_dot loop (16 VecDot
    * nodes total — constant codegen size, well under the janino
    * budget that killed the unrolled forms in r7). Map-only over the
    * corpus; emitted long-form (vec_id, j, p) for the oracle, the
    * production shape packs the 16 doubles back into an array column.
    */
  val embedRandomProjection: QueryDef = {
    val k = 16; val seed = 11; val dim = 64
    val planes = Similarity.hyperplanes(k, seed, dim)
    val hpValues = planes.zipWithIndex
      .map { case (r, j) => s"($j, [${r.mkString(", ")}])" }.mkString(", ")
    QueryDef.sql("embed_random_projection",
      s"""WITH $duckVectors,
         |hp(j, r) AS (VALUES $hpValues)
         |SELECT vec_id, CAST(j AS BIGINT) AS j,
         |  round(list_sum([v[i+1] * r[i+1] for i in range(0, $dim)]), 6) AS p
         |FROM v, hp ORDER BY vec_id, j""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir))
      v.select(col("vec_id"),
          posexplode(array(planes.map(r =>
            round(Similarity.dotConst("v", r.toSeq), 6)): _*)).as(Seq("j", "p")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("p"))
        .orderBy(col("vec_id"), col("j"))
    }
  }

  /** Lloyd's k-means, 3 fixed iterations, k = 4 — the iterative
    * clustering pass between [[embedRandomProjection]]-style compression
    * and IVF index builds (embed_knn_ivf consumes exactly this kind of
    * centroid table). Execution is [[graft.ml.KMeans]]'s
    * broadcast-centroid-TABLE kernel (the r9-verdict scale fix): the
    * k×d centroid frame rides an ordinary broadcast, assignment is a
    * broadcast join + map-side-combined `min(struct(d2, cl))` argmin
    * (one n-row shuffle, plan size O(1) in k — the old plan-literal
    * `array(dist…)` form was O(k·d) in PLAN size and died in
    * Janino/plan serialization at SemDeDup-regime k), and the update is
    * long-form (cl, i, x) groupBy whose map-side combine reduces every
    * partition to ≤ k·d rows before the one shuffle. Per iteration at
    * 100 TB: one scan + one n-row + one k·d-row shuffle — nothing
    * grows super-linearly with n, nothing grows with k but the
    * broadcast payload.
    *
    * Determinism contract: distances use the rearranged
    * ‖v‖²+‖c‖²−2v·c with the shared ascending fold (bit-identical
    * cross-engine, same as dedup_embed_cosine); argmin ties break to
    * the lower cluster id in both engines (array_position-first vs
    * ORDER BY d2, cl); updated centroid components are ROUNDED to 6
    * decimals each iteration, collapsing the engines' different
    * summation orders back to bit-equal inputs for the next round —
    * without it the 1e-16 avg() drift compounds through 3 rounds of
    * argmin. ‖c‖² is folded driver-side with the same ascending loop.
    */
  val embedKmeans: QueryDef = {
    val k = 4; val iters = 3; val dim = 64
    def duckD2(vc: String, cc: String): String =
      s"""list_sum([$vc[i] * $vc[i] for i in range(1, ${dim + 1})]) +
         |      list_sum([$cc[i] * $cc[i] for i in range(1, ${dim + 1})]) -
         |      2 * list_sum([$vc[i] * $cc[i] for i in range(1, ${dim + 1})])""".stripMargin
    val iterCtes = (1 to iters).map { t =>
      val upd =
        s"""u$t AS (SELECT cl, i, round(avg(v[i]), 6) AS x
           |       FROM a$t, range(1, ${dim + 1}) r(i) GROUP BY cl, i),
           |c$t AS (SELECT cl, list(x ORDER BY i) AS cv FROM u$t GROUP BY cl)""".stripMargin
      val body =
        s"""d$t AS (SELECT vec_id, v, cl, ${duckD2("v", "cv")} AS d2 FROM v, c${t - 1}),
           |a$t AS (SELECT vec_id, v, cl, d2 FROM (
           |         SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
           |         FROM d$t) WHERE rk = 1)""".stripMargin
      if (t < iters) s"$body,\n$upd" else body
    }.mkString(",\n")
    QueryDef.sql("embed_kmeans",
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cl, v AS cv FROM v ORDER BY vec_id LIMIT $k),
         |$iterCtes
         |SELECT cl AS cluster, CAST(count(*) AS BIGINT) AS n,
         |  round(sum(d2), 3) AS inertia, round(avg(d2), 6) AS avg_d2
         |FROM a$iters GROUP BY cl ORDER BY cluster""".stripMargin) { (s, dir) =>
      val v = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val (assigned, _) = graft.ml.KMeans.fit(
        v, graft.ml.KMeans.seedSmallest(v, k), iters)
      assigned.groupBy(col("cl"))
        .agg(count(lit(1)).as("n"), round(sum(col("d2")), 3).as("inertia"),
          round(avg(col("d2")), 6).as("avg_d2"))
        .select(col("cl").as("cluster"), col("n"), col("inertia"), col("avg_d2"))
        .orderBy(col("cluster"))
    }
  }

  /** SPHERICAL k-means (cosine Lloyd, Dhillon & Modha 2001): unit-
    * normalize the corpus once (round-6 components), seed from the k
    * smallest ids, and iterate [[graft.ml.KMeans.fitSpherical]] —
    * assign on the broadcast centroid table (with all norms 1 the
    * d2-argmin IS the cosine argmax), update by mean-then-renormalize.
    * This is the quantizer embedding pipelines actually train for
    * cosine retrieval (IVF cells over normalized embeddings); beside
    * [[embedKmeans]] it pins that the kernel generalizes beyond
    * Euclidean geometry with zero new shuffle shapes. Determinism: the
    * embed_kmeans contract plus one more round-6 after each
    * renormalize, mirrored CTE-for-CTE by the oracle.
    */
  val embedSphericalKmeans: QueryDef = {
    val k = 4; val iters = 3; val dim = 64
    def duckD2(vc: String, cc: String): String =
      s"""list_sum([$vc[i] * $vc[i] for i in range(1, ${dim + 1})]) +
         |      list_sum([$cc[i] * $cc[i] for i in range(1, ${dim + 1})]) -
         |      2 * list_sum([$vc[i] * $cc[i] for i in range(1, ${dim + 1})])""".stripMargin
    def duckRenorm(src: String): String =
      s"[round($src[i + 1] / sqrt(list_sum([$src[j] * $src[j] for j in range(1, ${dim + 1})])), 6) for i in range(0, $dim)]"
    val iterCtes = (1 to iters).map { t =>
      val upd =
        s"""u$t AS (SELECT cl, i, round(avg(v[i]), 6) AS x
           |       FROM a$t, range(1, ${dim + 1}) r(i) GROUP BY cl, i),
           |m$t AS (SELECT cl, list(x ORDER BY i) AS mv FROM u$t GROUP BY cl),
           |c$t AS (SELECT cl, ${duckRenorm("mv")} AS cv FROM m$t)""".stripMargin
      val body =
        s"""d$t AS (SELECT vec_id, v, cl, ${duckD2("v", "cv")} AS d2 FROM v, c${t - 1}),
           |a$t AS (SELECT vec_id, v, cl, d2 FROM (
           |         SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rk
           |         FROM d$t) WHERE rk = 1)""".stripMargin
      if (t < iters) s"$body,\n$upd" else body
    }.mkString(",\n")
    QueryDef.sql("embed_spherical_kmeans",
      s"""WITH r0 AS (SELECT vec_id, embedding::DOUBLE[] AS rv FROM embeddings),
         |v AS (SELECT vec_id, ${duckRenorm("rv")} AS v FROM r0),
         |c0 AS (SELECT vec_id AS cl, v AS cv FROM v ORDER BY vec_id LIMIT $k),
         |$iterCtes
         |SELECT cl AS cluster, CAST(count(*) AS BIGINT) AS n,
         |  round(sum(d2), 3) AS inertia, round(avg(d2), 6) AS avg_d2
         |FROM a$iters GROUP BY cl ORDER BY cluster""".stripMargin) { (s, dir) =>
      val raw = Similarity.vectors(Tables.embeddings(s, dir)).select(col("vec_id"), col("v"))
      val nv = raw
        .withColumn("__n2", Similarity.dot("v", "v"))
        .select(col("vec_id"), expr("transform(v, x -> round(x / sqrt(__n2), 6))").as("v"))
      val (assigned, _) = graft.ml.KMeans.fitSpherical(
        nv, graft.ml.KMeans.seedSmallest(nv, k), iters)
      assigned.groupBy(col("cl"))
        .agg(count(lit(1)).as("n"), round(sum(col("d2")), 3).as("inertia"),
          round(avg(col("d2")), 6).as("avg_d2"))
        .select(col("cl").as("cluster"), col("n"), col("inertia"), col("avg_d2"))
        .orderBy(col("cluster"))
    }
  }

  /** The session's PCA fits over `embeddings` (driver values shared by
    * embed_pca and the apply / whitening / rotation rows).
    */
  private def pcaFit(s: org.apache.spark.sql.SparkSession, dir: String,
                     dim: Int, iters: Int): graft.ml.Pca.Pca1 =
    graft.ops.Artifacts.value(s, dir, Seq("embeddings"), "pca.top1", dim, iters)(
      graft.ml.Pca.fit1(Similarity.vectors(Tables.embeddings(s, dir)), dim, iters))

  private def pcaFitM(s: org.apache.spark.sql.SparkSession, dir: String,
                      dim: Int, iters: Int, m: Int): graft.ml.Pca.PcaM =
    graft.ops.Artifacts.value(s, dir, Seq("embeddings"), "pca.topm", dim, iters, m)(
      graft.ml.Pca.fitM(Similarity.vectors(Tables.embeddings(s, dir)), dim, iters, m))

  /** Shared DuckDB CTE chain replaying [[graft.ml.Pca.fit1]]'s
    * rounded-moment covariance + power iteration (see that scaladoc for
    * the determinism contract). MATERIALIZED is load-bearing: y_t is
    * referenced twice (norm + normalize) and cm by every round —
    * inlined CTEs would double the subtree per iteration (2^8 × the
    * covariance scan; measured as a multi-minute hang vs sub-second
    * materialized). Exposes CTEs: v, mu(i, m), r$iters(i, x), lam(l).
    */
  private def pcaCtes(dim: Int, iters: Int): String = {
    val iterCtes = (1 to iters).map { t =>
      s"""y$t AS MATERIALIZED (SELECT cm.i, round(sum(cm.c * r.x), 6) AS y
         |      FROM cm JOIN r${t - 1} r ON cm.j = r.i GROUP BY cm.i),
         |n$t AS (SELECT sqrt(list_sum(list(y * y ORDER BY i))) AS nv FROM y$t),
         |r$t AS MATERIALIZED (SELECT i, round(y / (SELECT nv FROM n$t), 6) AS x FROM y$t)""".stripMargin
    }.mkString(",\n")
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |mu AS (SELECT i, round(avg(v[i]), 6) AS m
       |       FROM v, range(1, ${dim + 1}) r(i) GROUP BY i),
       |cp AS (SELECT ri.i AS i, rj.i AS j, round(avg(v.v[ri.i] * v.v[rj.i]), 6) AS axy
       |       FROM v, range(1, ${dim + 1}) ri(i), range(1, ${dim + 1}) rj(i)
       |       WHERE rj.i >= ri.i GROUP BY 1, 2),
       |cu AS (SELECT cp.i, cp.j, cp.axy - mi.m * mj.m AS c
       |       FROM cp JOIN mu mi ON mi.i = cp.i JOIN mu mj ON mj.i = cp.j),
       |cm AS MATERIALIZED (SELECT i, j, c FROM cu UNION ALL SELECT j, i, c FROM cu WHERE i < j),
       |r0 AS (SELECT i, 0.125e0 AS x FROM range(1, ${dim + 1}) r(i)),
       |$iterCtes,
       |cy AS (SELECT cm.i, round(sum(cm.c * r.x), 6) AS y
       |       FROM cm JOIN r$iters r ON cm.j = r.i GROUP BY cm.i),
       |lam AS (SELECT round(list_sum(list(cy.y * r.x ORDER BY cy.i)), 6) AS l
       |        FROM cy JOIN r$iters r ON cy.i = r.i)""".stripMargin
  }

  /** PCA leading component — fit and emit the model table. The fit
    * lives in [[graft.ml.Pca]] (distributed Gram reduction + driver
    * eigen, rounded-moment determinism contract); the oracle replays
    * the identical chain via [[pcaCtes]].
    */
  val embedPca: QueryDef = {
    val dim = 64; val iters = 8
    QueryDef.sql("embed_pca",
      s"""WITH ${pcaCtes(dim, iters)}
         |SELECT CAST(mu.i AS BIGINT) AS dim, mu.m AS mean, rr.x AS pc1,
         |  (SELECT l FROM lam) AS lam
         |FROM mu JOIN r$iters rr ON mu.i = rr.i ORDER BY dim""".stripMargin) { (s, dir) =>
      val p = pcaFit(s, dir, dim, iters)
      val rows = (1 to dim).map(d => (d.toLong, p.mu(d - 1), p.w(d - 1), p.lam))
      s.createDataFrame(rows).toDF("dim", "mean", "pc1", "lam")
        .orderBy(col("dim"))
    }
  }

  /** APPLY the learned PCA model to re-embed the corpus — the transform
    * [[embedDimStats]] and [[embedPca]] exist to motivate (and the
    * normalization step PQ codebook training wants): per vector,
    * t = (x − μ)·w (centered projection onto the leading component) and
    * its λ-whitened coordinate zw = t/√λ₁ (unit variance along pc1).
    *
    * Scale shape: the model is a plan literal (round-6 driver arrays
    * from [[pcaFit]] — k×d doubles, the broadcast-table
    * tier); the apply pass is MAP-ONLY, one native [[Similarity.dotC]]
    * kernel per row inside whole-stage codegen — no shuffle, no window.
    * The oracle replays the projection as the same ascending-dim fold
    * over [[pcaCtes]]'s mu/r8 tables.
    */
  val embedPcaApply: QueryDef = {
    val dim = 64; val iters = 8
    QueryDef.sql("embed_pca_apply",
      s"""WITH ${pcaCtes(dim, iters)},
         |proj AS (SELECT v.vec_id,
         |    round(list_sum(list((v.v[r.i] - mu.m) * rr.x ORDER BY r.i)), 6) AS t
         |  FROM v CROSS JOIN range(1, ${dim + 1}) r(i)
         |  JOIN mu ON mu.i = r.i JOIN r$iters rr ON rr.i = r.i
         |  GROUP BY v.vec_id)
         |SELECT vec_id, t, round(t / sqrt((SELECT l FROM lam)), 6) AS zw
         |FROM proj ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val p = pcaFit(s, dir, dim, iters)
      val centered = zip_with(col("v"), lit(p.mu), (x, m) => x - m)
      Similarity.vectors(Tables.embeddings(s, dir))
        .select(col("vec_id"),
          round(Similarity.dotC(centered, lit(p.w)), 6).as("t"))
        .withColumn("zw", round(col("t") / lit(math.sqrt(p.lam)), 6))
        .orderBy(col("vec_id"))
    }
  }

  /** [[pcaCtes]] extended to TOP-M components via deflation
    * ([[graft.ml.Pca.fitM]]'s chain): after component c's power rounds,
    * `cm{c+1} = cm{c} − λ_c·w_c w_cᵀ` (left-assoc `c - (λ·wᵢ)·wⱼ`,
    * matching the driver loop bit-for-bit on the shared rounded
    * inputs), and the next component iterates on the residual.
    * Exposes: v, mu(i, m), rc{c}_{iters}(i, x) and lamc{c}(l) per
    * component c = 1..m.
    */
  private def pcaMCtes(dim: Int, iters: Int, m: Int): String = {
    def comp(c: Int): String = {
      val iterCtes = (1 to iters).map { t =>
        s"""yc${c}_$t AS MATERIALIZED (SELECT cm.i, round(sum(cm.c * r.x), 6) AS y
           |      FROM cm$c cm JOIN rc${c}_${t - 1} r ON cm.j = r.i GROUP BY cm.i),
           |nc${c}_$t AS (SELECT sqrt(list_sum(list(y * y ORDER BY i))) AS nv FROM yc${c}_$t),
           |rc${c}_$t AS MATERIALIZED (SELECT i, round(y / (SELECT nv FROM nc${c}_$t), 6) AS x FROM yc${c}_$t)""".stripMargin
      }.mkString(",\n")
      val defl = if (c < m)
        s""",
           |cm${c + 1} AS MATERIALIZED (SELECT a.i, a.j,
           |    a.c - (SELECT l FROM lamc$c) * wi.x * wj.x AS c
           |  FROM cm$c a JOIN rc${c}_$iters wi ON wi.i = a.i
           |  JOIN rc${c}_$iters wj ON wj.i = a.j)""".stripMargin
      else ""
      s"""rc${c}_0 AS (SELECT i, 0.125e0 AS x FROM range(1, ${dim + 1}) r(i)),
         |$iterCtes,
         |cyc$c AS (SELECT cm.i, round(sum(cm.c * r.x), 6) AS y
         |       FROM cm$c cm JOIN rc${c}_$iters r ON cm.j = r.i GROUP BY cm.i),
         |lamc$c AS (SELECT round(list_sum(list(cy.y * r.x ORDER BY cy.i)), 6) AS l
         |        FROM cyc$c cy JOIN rc${c}_$iters r ON cy.i = r.i)$defl""".stripMargin
    }
    s"""v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |mu AS (SELECT i, round(avg(v[i]), 6) AS m
       |       FROM v, range(1, ${dim + 1}) r(i) GROUP BY i),
       |cp AS (SELECT ri.i AS i, rj.i AS j, round(avg(v.v[ri.i] * v.v[rj.i]), 6) AS axy
       |       FROM v, range(1, ${dim + 1}) ri(i), range(1, ${dim + 1}) rj(i)
       |       WHERE rj.i >= ri.i GROUP BY 1, 2),
       |cu AS (SELECT cp.i, cp.j, cp.axy - mi.m * mj.m AS c
       |       FROM cp JOIN mu mi ON mi.i = cp.i JOIN mu mj ON mj.i = cp.j),
       |cm1 AS MATERIALIZED (SELECT i, j, c FROM cu UNION ALL SELECT j, i, c FROM cu WHERE i < j),
       |${(1 to m).map(comp).mkString(",\n")}""".stripMargin
  }

  /** Top-m PCA model — [[embedPca]] completed to the m-component basis
    * the r11 verdict asked for ([[graft.ml.Pca.fitM]]: one Gram
    * reduction, then m driver-side power extractions with rank-1
    * deflation between them). Emits the full model table (per dim:
    * mean, the three component loadings, the three eigenvalues) — the
    * projection matrix every pre-PQ normalization consumes.
    */
  val embedPcaTopm: QueryDef = {
    val dim = 64; val iters = 8; val m = 3
    QueryDef.sql("embed_pca_topm",
      s"""WITH ${pcaMCtes(dim, iters, m)}
         |SELECT CAST(mu.i AS BIGINT) AS dim, mu.m AS mean,
         |  r1.x AS pc1, r2.x AS pc2, r3.x AS pc3,
         |  (SELECT l FROM lamc1) AS lam1,
         |  (SELECT l FROM lamc2) AS lam2,
         |  (SELECT l FROM lamc3) AS lam3
         |FROM mu JOIN rc1_$iters r1 ON mu.i = r1.i
         |JOIN rc2_$iters r2 ON mu.i = r2.i
         |JOIN rc3_$iters r3 ON mu.i = r3.i
         |ORDER BY dim""".stripMargin) { (s, dir) =>
      val p = pcaFitM(s, dir, dim, iters, m)
      val rows = (1 to dim).map(d => (d.toLong, p.mu(d - 1),
        p.w(0)(d - 1), p.w(1)(d - 1), p.w(2)(d - 1),
        p.lam(0), p.lam(1), p.lam(2)))
      s.createDataFrame(rows)
        .toDF("dim", "mean", "pc1", "pc2", "pc3", "lam1", "lam2", "lam3")
        .orderBy(col("dim"))
    }
  }

  /** FULL PCA whitening (rotate-then-scale — the standard pre-PQ
    * normalization, completing [[embedWhiten]]'s diagonal shortcut):
    * per vector, z_c = ((x − μ)·w_c)/√λ_c over the top-3 deflated
    * components, giving unit variance along each principal axis and
    * (up to power-round convergence) decorrelated coordinates.
    *
    * Scale shape: the model is a driver-fitted broadcast-tier literal
    * (m×d round-6 doubles); the whiten pass is MAP-ONLY — m native
    * vec_dot kernels per row inside whole-stage codegen, no shuffle.
    * The oracle replays each projection as the ascending-dim fold over
    * [[pcaMCtes]]'s mu/rc tables. WhitenSpec pins planted two-axis
    * recovery and whitened decorrelation frame-level.
    */
  val embedPcaWhiten: QueryDef = {
    val dim = 64; val iters = 8; val m = 3
    QueryDef.sql("embed_pca_whiten",
      s"""WITH ${pcaMCtes(dim, iters, m)},
         |proj AS (SELECT v.vec_id,
         |    round(list_sum(list((v.v[r.i] - mu.m) * r1.x ORDER BY r.i)), 6) AS t1,
         |    round(list_sum(list((v.v[r.i] - mu.m) * r2.x ORDER BY r.i)), 6) AS t2,
         |    round(list_sum(list((v.v[r.i] - mu.m) * r3.x ORDER BY r.i)), 6) AS t3
         |  FROM v CROSS JOIN range(1, ${dim + 1}) r(i)
         |  JOIN mu ON mu.i = r.i
         |  JOIN rc1_$iters r1 ON r1.i = r.i
         |  JOIN rc2_$iters r2 ON r2.i = r.i
         |  JOIN rc3_$iters r3 ON r3.i = r.i
         |  GROUP BY v.vec_id)
         |SELECT vec_id,
         |  round(t1 / sqrt((SELECT l FROM lamc1)), 6) AS z1,
         |  round(t2 / sqrt((SELECT l FROM lamc2)), 6) AS z2,
         |  round(t3 / sqrt((SELECT l FROM lamc3)), 6) AS z3
         |FROM proj ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val p = pcaFitM(s, dir, dim, iters, m)
      val centered = zip_with(col("v"), lit(p.mu), (x, mm) => x - mm)
      Similarity.vectors(Tables.embeddings(s, dir))
        .select(col("vec_id") +:
          (0 until m).map(c =>
            round(Similarity.dotC(centered, lit(p.w(c))), 6).as(s"t${c + 1}")): _*)
        .select(col("vec_id") +:
          (0 until m).map(c =>
            round(col(s"t${c + 1}") / lit(math.sqrt(p.lam(c))), 6).as(s"z${c + 1}")): _*)
        .orderBy(col("vec_id"))
    }
  }

  /** OPQ-lite rotated product quantization (the r12 verdict's §2): the
    * first half of Ge et al., "Optimized Product Quantization" (CVPR
    * 2013) — apply an orthogonal data-learned rotation BEFORE
    * sub-slicing so correlated dimensions stop landing in the same
    * subspace, skipping OPQ's iterative refinement. The rotation is
    * [[graft.ml.Pca.fitM]]'s top-16 deflated basis (FAISS's PCAR
    * pre-transform with out-dim = M·dsub): each vector re-embeds as
    * t_c = round((x − μ)·w_c, 6) for c = 1..16, and the PQ runs over
    * the rotated coordinates at the IDENTICAL M=8 × K=16 budget as
    * [[embedKnnPqTrained]] — dsub drops 8 → 2 because the rotation
    * concentrates the describable energy into 16 eigen-ranked
    * coordinates. RecallProbe's pq_rotated leg records the equal-budget
    * recall comparison (on a flat-spectrum synthetic corpus the cut
    * discards real energy; on any real embedding spectrum the top-16
    * basis holds most of it — the leg states the measured trade).
    *
    * Scale shape: the model is a driver-fitted broadcast-tier literal
    * (16×64 round-6 doubles; the corpus work of the fit is ONE Gram
    * reduction); the rotation is MAP-ONLY (16 native vec_dot kernels
    * per row in whole-stage codegen); everything downstream is the
    * trained-PQ chain unchanged.
    *
    * Determinism: the rotated coordinate is the projection SCALED TO AN
    * INTEGER (round(t·10³)) — not merely round-6. Round-6 coordinates
    * are rationals with denominator 10⁶, so a Lloyd-update mean lands
    * ON a rounding half-boundary with probability ~1/cluster-size per
    * cell×dim, and both engines' parallel `avg` is association-ordered
    * — a first cut of this query flapped one adist cell by 1e-6 between
    * two DuckDB runs of the SAME oracle. With integer coordinates every
    * update mean is an EXACT integer sum (≤ 2^53 by construction) over
    * any summation order, divided once — bit-stable everywhere. The
    * scale stops at 10³ so squared distances stay ≤ ~10¹¹: exactly
    * representable doubles AND inside DECIMAL(18,6) — at a 10⁶ scale
    * the ~10¹⁵ sums exceeded double's mantissa and DuckDB's
    * decimal→float64 conversion diverged from the JVM's by one ulp
    * (measured, 7 cells). Ranking is scale-invariant either way.
    */
  val embedPqRotated: QueryDef = {
    val (dim, iters, mPca) = (64, 8, 16)
    val (m, dsub, kCodes) = (8, 2, 16)
    def duckD2(a: String, b: String): String =
      s"""list_sum([$a[i] * $a[i] for i in range(1, $dsub + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, $dsub + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, $dsub + 1)])""".stripMargin
    def duckSqDist(a: String, b: String): String =
      s"""round(greatest(list_sum([$a[i] * $a[i] for i in range(1, len($a) + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, len($b) + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)]), 0), 6)""".stripMargin
    QueryDef.sql("embed_pq_rotated",
      s"""WITH ${pcaMCtes(dim, iters, mPca)},
         |basis AS (${(1 to mPca).map(c =>
             s"SELECT $c AS c, i, x FROM rc${c}_$iters").mkString(" UNION ALL ")}),
         |proj AS (SELECT v.vec_id, b.c,
         |    round(list_sum(list((v.v[b.i] - mu.m) * b.x ORDER BY b.i)) * 1000, 0) AS t
         |  FROM v CROSS JOIN basis b JOIN mu ON mu.i = b.i
         |  GROUP BY v.vec_id, b.c),
         |rot AS MATERIALIZED (SELECT vec_id, list(t ORDER BY c) AS rv FROM proj GROUP BY vec_id),
         |ss AS MATERIALIZED (SELECT vec_id AS nid, s.sub, rv[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS sv
         |       FROM rot CROSS JOIN range(0, $m) s(sub) WHERE vec_id >= 10),
         |c0 AS (SELECT sub, nid - 10 AS cl, sv AS cv FROM ss WHERE nid < ${10 + kCodes}),
         |d1 AS (SELECT ss.nid, ss.sub, ss.sv, c.cl, ${duckD2("ss.sv", "c.cv")} AS d2
         |       FROM ss JOIN c0 c ON ss.sub = c.sub),
         |a1 AS (SELECT nid, sub, sv, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY nid, sub ORDER BY d2, cl) AS rk
         |        FROM d1) WHERE rk = 1),
         |u1 AS (SELECT sub, cl, i, round(avg(sv[i]), 6) AS x
         |       FROM a1, range(1, ${dsub + 1}) r(i) GROUP BY sub, cl, i),
         |c1 AS MATERIALIZED (SELECT sub, cl, list(x ORDER BY i) AS cv FROM u1 GROUP BY sub, cl),
         |d2c AS (SELECT ss.nid, ss.sub, c.cl, ${duckD2("ss.sv", "c.cv")} AS d2
         |        FROM ss JOIN c1 c ON ss.sub = c.sub),
         |enc AS (SELECT nid, sub, cl AS code FROM (
         |        SELECT *, row_number() OVER (PARTITION BY nid, sub ORDER BY d2, cl) AS rk
         |        FROM d2c) WHERE rk = 1),
         |qs AS (SELECT vec_id AS qid, s.sub, rv[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS sv
         |       FROM rot CROSS JOIN range(0, $m) s(sub) WHERE vec_id < 10),
         |adc AS (SELECT qid, qs.sub, c1.cl AS code,
         |          CAST(${duckSqDist("qs.sv", "c1.cv")} AS DECIMAL(18,6)) AS qd
         |        FROM qs JOIN c1 ON qs.sub = c1.sub),
         |p AS (SELECT qid, nid, sum(qd) AS sd
         |      FROM enc JOIN adc USING (sub, code) GROUP BY 1, 2),
         |r AS (SELECT qid, nid, CAST(sd AS DOUBLE) AS adist,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sd, nid) AS BIGINT) AS rnk
         |      FROM p)
         |SELECT qid, nid, adist, rnk FROM r WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      // adist stays the exact DECIMAL sum: at the integer coordinate
      // scale the squared distances exceed double's 53-bit mantissa and
      // the two engines' decimal→double casts disagree by one ulp —
      // the decimal is exact on both sides, the double is not
      import org.apache.spark.sql.expressions.Window
      val pm = pcaFitM(s, dir, dim, iters, mPca)
      val centered = zip_with(col("v"), lit(pm.mu), (x, mm) => x - mm)
      val rot = Similarity.vectors(Tables.embeddings(s, dir))
        .select(col("vec_id"), array((0 until mPca).map(c =>
          round(Similarity.dotC(centered, lit(pm.w(c))) * lit(1000.0), 0)): _*).as("v"))
      val ss = pqSubSlices(rot.where(col("vec_id") >= 10), "nid", m, dsub)
        .select(col("nid"), col("sub"), col("svec").as("v"))
      val seeds = ss.where(col("nid") < 10 + kCodes)
        .select(col("sub"), (col("nid") - 10).as("cl"), col("v").as("cv"))
      val (assigned, cb) = graft.ml.KMeans.fitGrouped(
        ss, seeds, iters = 2, idCol = "nid", grpCol = "sub")
      val enc = assigned.select(col("nid"), col("sub"), col("cl").as("code"))
      val cbb = broadcast(cb.select(col("sub"), col("cl").as("code"), col("cv").as("cvec")))
      val adc = pqSubSlices(rot.where(col("vec_id") < 10), "qid", m, dsub)
        .join(cbb, "sub")
        .select(col("qid"), col("sub"), col("code"),
          pqSqDist("svec", "cvec").cast("decimal(18,6)").as("qd"))
      enc.join(broadcast(adc), Seq("sub", "code"))
        .groupBy(col("qid"), col("nid"))
        .agg(sum(col("qd")).as("sd"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("sd"), col("nid"))).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("qid"), col("nid"), col("sd").cast("double").as("adist"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** Eigenvalue-driven greedy dimension ALLOCATION — the parametric-OPQ
    * second half (Ge et al., "Optimized Product Quantization", CVPR 2013
    * §3.1; FAISS's OPQ pre-training heuristic), promoted from a
    * RecallProbe leg to the engine (r13 verdict §1, where it measured
    * decayed-spectrum recall@5 0.62 vs 0.40 for rotation alone at the
    * identical M×K budget): sequential slicing of a variance-DECAYING
    * basis puts the largest eigenvalues together in subspace 0 and the
    * smallest in the last — maximally unbalanced variance products, so
    * one codebook absorbs most of the distortion while the tail books
    * quantize noise. Balance them instead: assign components (λ
    * descending, index tie-break) to the subspace with the smallest
    * running Σ log λ and a free slot.
    *
    * The log-eigenvalues are zero-meaned (centered by the geometric
    * mean) before the greedy: the raw running Σ log λ is not
    * scale-invariant — with every λ < 1 each assignment makes its
    * bucket MORE attractive and the greedy degenerates to the identity
    * permutation. Centering makes large-λ assignments positive and
    * small-λ negative, so the greedy alternates large-with-small at any
    * scale. Centered logs are ROUND-6 (the cross-engine contract: ln is
    * not correctly-rounded, so the raw doubles may differ by an ulp
    * between JVM and DuckDB — rounding pins the comparison inputs; the
    * greedy's running sums then add identical doubles in identical
    * order on both sides). Returns destOf: component index (0-based) →
    * destination coordinate (subspace·dsub + slot). [[allocCtes]] is
    * the oracle replay; both SQL gate rows and the persisted
    * [[graft.ops.IvfIndex]] alloc path consume this one implementation.
    */
  private[graft] def allocGreedy(lam: Seq[Double], m: Int, dsub: Int): Array[Int] = {
    val n = lam.length
    require(n == m * dsub, s"allocGreedy: ${lam.length} != $m*$dsub")
    def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val logs = lam.map(l => math.log(math.max(l, 1e-12)))
    val mean = logs.sum / n
    val cen = logs.map(l => r6(l - mean))
    val order = cen.zipWithIndex.sortBy { case (l, i) => (-l, i) }
    val slots = Array.fill(m)(0)
    val logp = Array.fill(m)(0.0)
    val destOf = Array.fill(n)(0)
    order.foreach { case (l, ci) =>
      val sIdx = (0 until m).filter(slots(_) < dsub).minBy(logp(_))
      destOf(ci) = sIdx * dsub + slots(sIdx)
      slots(sIdx) += 1
      logp(sIdx) += l
    }
    destOf
  }

  /** DuckDB replay of [[allocGreedy]] as CTEs (requires WITH RECURSIVE
    * and the lamc1..lamc{n} CTEs of [[pcaMCtes]] in scope): a 16-step
    * one-row-per-step recursive fold carrying (slots, running Σ log λ)
    * as list state; each step picks the argmin free bucket exactly as
    * the driver greedy does (list_position finds the FIRST minimum —
    * the lowest-index tie-break). Exposes `pmap(pos, c)`: destination
    * coordinate (0-based) → source component (1-based).
    */
  private def allocCtes(n: Int, m: Int, dsub: Int,
      lamRows: String = ""): String = {
    // (c, lam) spectrum source: the lamc eigenvalue CTEs by default
    // (the rotated gate row); callers may substitute e.g. the per-dim
    // residual second moments (the persisted-path gate row)
    val lamSrc = if (lamRows.nonEmpty) lamRows
      else (1 to n).map(c =>
        s"SELECT $c AS c, (SELECT l FROM lamc$c) AS lam").mkString(" UNION ALL ")
    val msk = s"[CASE WHEN a0.slots[j + 1] < $dsub THEN a0.logp[j + 1] ELSE 1e18 END FOR j IN range(0, $m)]"
    // items is referenced INSIDE the recursive fold — un-materialized,
    // DuckDB re-inlined the whole spectrum chain (lams → the lamc
    // eigenvalue CTEs / residual moments) once per recursion step, n
    // steps deep (embed_pq_alloc's oracle: 10.5 s of the sf0.01 run,
    // r16 verdict). MATERIALIZED = compute-once evaluation hint.
    s"""lams AS MATERIALIZED ($lamSrc),
       |lraw AS (SELECT c, ln(greatest(lam, 1e-12)) AS lr FROM lams),
       |lmean AS (SELECT list_sum(list(lr ORDER BY c)) / $n AS mn FROM lraw),
       |lcen AS (SELECT c, round(lr - (SELECT mn FROM lmean), 6) AS lc FROM lraw),
       |items AS MATERIALIZED (SELECT list(c ORDER BY lc DESC, c) AS cs,
       |                 list(lc ORDER BY lc DESC, c) AS ls FROM lcen),
       |alloc AS (
       |  SELECT 0 AS step, CAST([] AS INTEGER[]) AS srcs, CAST([] AS INTEGER[]) AS poss,
       |         [0 FOR j IN range(0, $m)] AS slots, [0e0 FOR j IN range(0, $m)] AS logp
       |  UNION ALL
       |  SELECT step + 1,
       |    list_append(srcs, cs[step + 1]),
       |    list_append(poss, sj * $dsub + slots[sj + 1]),
       |    [CASE WHEN j = sj THEN slots[j + 1] + 1 ELSE slots[j + 1] END FOR j IN range(0, $m)],
       |    [CASE WHEN j = sj THEN logp[j + 1] + ls[step + 1] ELSE logp[j + 1] END FOR j IN range(0, $m)]
       |  FROM (SELECT a0.*, i.cs, i.ls,
       |          CAST(list_position($msk, list_min($msk)) - 1 AS INTEGER) AS sj
       |        FROM alloc a0, items i WHERE a0.step < $n)
       |),
       |pmap AS MATERIALIZED (SELECT CAST(poss[k] AS INTEGER) AS pos, srcs[k] AS c
       |         FROM (SELECT srcs, poss FROM alloc WHERE step = $n), range(1, ${n + 1}) t(k))""".stripMargin
  }

  /** [[embedPqRotated]] completed with [[allocGreedy]]'s eigenvalue
    * allocation — the full parametric OPQ (Ge et al. 2013 §3.1:
    * eigen-rotation + balanced eigenvalue allocation): the top-16 PCA
    * coordinates are PERMUTED so each dsub=2 subspace holds a balanced
    * Σ log λ (largest eigenvalue paired with smallest, not with the
    * second-largest), then the IDENTICAL integer-scaled trained-PQ
    * chain runs at the same M=8 × K=16 budget. The oracle replays the
    * greedy itself ([[allocCtes]]'s recursive fold over the lamc
    * eigenvalue CTEs), so a green row certifies the allocation, not
    * just the permuted arithmetic. RecallProbe's pq_rotated_alloc leg
    * records what this buys on a decaying spectrum (0.62 vs 0.40
    * rotation-only at equal budget — the measured-best single PQ
    * lever); on the near-isotropic synthetic corpus the permutation is
    * exercised with flat-spectrum honesty. Scale shape is
    * [[embedPqRotated]]'s verbatim: the permutation is driver-held
    * (composed into which basis vector lands at which coordinate — zero
    * extra row work), the rotation map-only, everything downstream the
    * trained-PQ chain.
    */
  val embedPqAlloc: QueryDef = {
    val (dim, iters, mPca) = (64, 8, 16)
    val (m, dsub, kCodes) = (8, 2, 16)
    def duckD2(a: String, b: String): String =
      s"""list_sum([$a[i] * $a[i] for i in range(1, $dsub + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, $dsub + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, $dsub + 1)])""".stripMargin
    def duckSqDist(a: String, b: String): String =
      s"""round(greatest(list_sum([$a[i] * $a[i] for i in range(1, len($a) + 1)]) +
         |  list_sum([$b[i] * $b[i] for i in range(1, len($b) + 1)]) -
         |  2 * list_sum([$a[i] * $b[i] for i in range(1, len($a) + 1)]), 0), 6)""".stripMargin
    QueryDef.sql("embed_pq_alloc",
      s"""WITH RECURSIVE ${pcaMCtes(dim, iters, mPca)},
         |${allocCtes(mPca, m, dsub)},
         |basis AS (${(1 to mPca).map(c =>
             s"SELECT $c AS c, i, x FROM rc${c}_$iters").mkString(" UNION ALL ")}),
         |proj AS (SELECT v.vec_id, b.c,
         |    round(list_sum(list((v.v[b.i] - mu.m) * b.x ORDER BY b.i)) * 1000, 0) AS t
         |  FROM v CROSS JOIN basis b JOIN mu ON mu.i = b.i
         |  GROUP BY v.vec_id, b.c),
         |rot AS MATERIALIZED (SELECT vec_id, list(t ORDER BY pos) AS rv
         |        FROM proj JOIN pmap ON proj.c = pmap.c GROUP BY vec_id),
         |ss AS MATERIALIZED (SELECT vec_id AS nid, s.sub, rv[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS sv
         |       FROM rot CROSS JOIN range(0, $m) s(sub) WHERE vec_id >= 10),
         |c0 AS (SELECT sub, nid - 10 AS cl, sv AS cv FROM ss WHERE nid < ${10 + kCodes}),
         |d1 AS (SELECT ss.nid, ss.sub, ss.sv, c.cl, ${duckD2("ss.sv", "c.cv")} AS d2
         |       FROM ss JOIN c0 c ON ss.sub = c.sub),
         |a1 AS (SELECT nid, sub, sv, cl FROM (
         |        SELECT *, row_number() OVER (PARTITION BY nid, sub ORDER BY d2, cl) AS rk
         |        FROM d1) WHERE rk = 1),
         |u1 AS (SELECT sub, cl, i, round(avg(sv[i]), 6) AS x
         |       FROM a1, range(1, ${dsub + 1}) r(i) GROUP BY sub, cl, i),
         |c1 AS MATERIALIZED (SELECT sub, cl, list(x ORDER BY i) AS cv FROM u1 GROUP BY sub, cl),
         |d2c AS (SELECT ss.nid, ss.sub, c.cl, ${duckD2("ss.sv", "c.cv")} AS d2
         |        FROM ss JOIN c1 c ON ss.sub = c.sub),
         |enc AS (SELECT nid, sub, cl AS code FROM (
         |        SELECT *, row_number() OVER (PARTITION BY nid, sub ORDER BY d2, cl) AS rk
         |        FROM d2c) WHERE rk = 1),
         |qs AS (SELECT vec_id AS qid, s.sub, rv[s.sub * $dsub + 1 : s.sub * $dsub + $dsub] AS sv
         |       FROM rot CROSS JOIN range(0, $m) s(sub) WHERE vec_id < 10),
         |adc AS (SELECT qid, qs.sub, c1.cl AS code,
         |          CAST(${duckSqDist("qs.sv", "c1.cv")} AS DECIMAL(18,6)) AS qd
         |        FROM qs JOIN c1 ON qs.sub = c1.sub),
         |p AS (SELECT qid, nid, sum(qd) AS sd
         |      FROM enc JOIN adc USING (sub, code) GROUP BY 1, 2),
         |r AS (SELECT qid, nid, CAST(sd AS DOUBLE) AS adist,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sd, nid) AS BIGINT) AS rnk
         |      FROM p)
         |SELECT qid, nid, adist, rnk FROM r WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pm = pcaFitM(s, dir, dim, iters, mPca)
      val destOf = allocGreedy(pm.lam.toSeq, m, dsub)
      val srcOf = Array.ofDim[Int](mPca)
      destOf.zipWithIndex.foreach { case (dest, src) => srcOf(dest) = src }
      val centered = zip_with(col("v"), lit(pm.mu), (x, mm) => x - mm)
      // the permutation composes into WHICH basis vector lands at which
      // coordinate — the rotated emit is the embedPqRotated kernel with
      // w reordered, zero extra per-row work
      val rot = Similarity.vectors(Tables.embeddings(s, dir))
        .select(col("vec_id"), array((0 until mPca).map(d =>
          round(Similarity.dotC(centered, lit(pm.w(srcOf(d)))) * lit(1000.0), 0)): _*).as("v"))
      val ss = pqSubSlices(rot.where(col("vec_id") >= 10), "nid", m, dsub)
        .select(col("nid"), col("sub"), col("svec").as("v"))
      val seeds = ss.where(col("nid") < 10 + kCodes)
        .select(col("sub"), (col("nid") - 10).as("cl"), col("v").as("cv"))
      val (assigned, cb) = graft.ml.KMeans.fitGrouped(
        ss, seeds, iters = 2, idCol = "nid", grpCol = "sub")
      val enc = assigned.select(col("nid"), col("sub"), col("cl").as("code"))
      val cbb = broadcast(cb.select(col("sub"), col("cl").as("code"), col("cv").as("cvec")))
      val adc = pqSubSlices(rot.where(col("vec_id") < 10), "qid", m, dsub)
        .join(cbb, "sub")
        .select(col("qid"), col("sub"), col("code"),
          pqSqDist("svec", "cvec").cast("decimal(18,6)").as("qd"))
      enc.join(broadcast(adc), Seq("sub", "code"))
        .groupBy(col("qid"), col("nid"))
        .agg(sum(col("qd")).as("sd"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("sd"), col("nid"))).cast("long"))
        .where(col("rnk") <= 3)
        .select(col("qid"), col("nid"), col("sd").cast("double").as("adist"), col("rnk"))
        .orderBy(col("qid"), col("rnk"))
    }
  }

  /** Diagonal (per-dimension) whitening of the embedding matrix —
    * z_i = (x_i − μ_i)/σ_i from [[embedDimStats]]'s rounded moments:
    * the standard preprocessing before PQ/IVF quantizer training when
    * a full rotation is overkill (equalizes per-dim scale so no axis
    * dominates L2; a dead dim (σ=0) maps to 0 instead of NaN — under
    * Spark 4 ANSI an unguarded /0 would abort the job). Emitted
    * long-form for the oracle; the production array emit is the same
    * stats broadcast inside one zip_with.
    *
    * Scale shape: one posexplode + d-row map-side-combined stats rollup
    * broadcast back; the whiten pass is map-only. WhitenSpec pins
    * whiten∘unwhiten ≈ identity and the unit-moment law.
    */
  val embedWhiten: QueryDef = QueryDef.sql("embed_whiten",
    s"""WITH $duckVectors,
       |e AS (SELECT vec_id, i, v[i] AS x FROM v, range(1, 65) r(i)),
       |st AS (SELECT i, round(avg(x), 6) AS m,
       |         round(avg(x * x) - avg(x) * avg(x), 6) AS va
       |       FROM e GROUP BY i)
       |SELECT e.vec_id, CAST(e.i AS BIGINT) AS dim,
       |  CASE WHEN st.va > 0 THEN round((e.x - st.m) / sqrt(st.va), 6) ELSE 0.0 END AS z
       |FROM e JOIN st ON st.i = e.i
       |ORDER BY vec_id, dim""".stripMargin) { (s, dir) =>
    val e = Similarity.vectors(Tables.embeddings(s, dir))
      .select(col("vec_id"), posexplode(col("v")).as(Seq("i0", "x")))
      .select(col("vec_id"), (col("i0") + 1).cast("long").as("dim"), col("x"))
    val st = e.groupBy(col("dim"))
      .agg(round(avg(col("x")), 6).as("m"),
        round(avg(col("x") * col("x")) - avg(col("x")) * avg(col("x")), 6).as("va"))
    e.join(broadcast(st), "dim")
      .select(col("vec_id"), col("dim"),
        when(col("va") > 0, round((col("x") - col("m")) / sqrt(col("va")), 6))
          .otherwise(lit(0.0)).as("z"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Per-cluster embedding outliers: each vector's distance to its own
    * label centroid, z-scored against the label's distance distribution,
    * top-5 farthest per label — the embedding-space mislabel/noise
    * detector (a vector far outside its cluster's radius is a labeling
    * error or an off-distribution sample; SemDeDup's keep-farthest is
    * the dual that KEEPS one such row per duplicate cluster).
    *
    * Scale: centroids and per-label stats are both label-cardinality
    * tables (broadcast); the distance pass is map-only native vec_dot
    * (‖v−c‖² = ‖v‖² + ‖c‖² − 2·v·c, the embed_centroids kernel); the
    * top-5 cut is a WindowGroupLimit-eligible rank. Nothing shuffles
    * the vector table beyond the one rank exchange on label.
    *
    * Determinism: stats aggregate the ROUND-6 distances (bit-identical
    * across engines by embed_centroids' argument), so mu/sd drift only
    * by summation order (~1e-13); z emits at round-3 and the top-5 cut
    * ranks on (round-6 dist, vec_id) — both engine-stable.
    */
  val embedOutliers: QueryDef = QueryDef.sql("embed_outliers",
    s"""WITH $duckVectors,
       |$duckCentroidCte,
       |d AS (SELECT vec_id, label,
       |  round(sqrt(greatest(
       |    list_sum([v[i] * v[i] for i in range(1, len(v) + 1)]) +
       |    list_sum([carr[i] * carr[i] for i in range(1, len(carr) + 1)]) -
       |    2 * list_sum([v[i] * carr[i] for i in range(1, len(v) + 1)]), 0)), 6) AS dist
       |  FROM v JOIN ca USING (label)),
       |st AS (SELECT label, avg(dist) AS mu, stddev_samp(dist) AS sd
       |       FROM d GROUP BY label HAVING stddev_samp(dist) > 0),
       |r AS (SELECT d.label, d.vec_id, d.dist,
       |        round((d.dist - mu) / sd, 3) AS z,
       |        CAST(row_number() OVER (PARTITION BY d.label
       |          ORDER BY d.dist DESC, d.vec_id) AS BIGINT) AS rnk
       |      FROM d JOIN st USING (label))
       |SELECT label, rnk, vec_id, dist, z
       |FROM r WHERE rnk <= 5 ORDER BY label, rnk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val v = Similarity.vectors(Tables.embeddings(s, dir))
    val ca = centroidArrays(v).withColumn("c2", Similarity.dot("carr", "carr"))
    val d = v.join(broadcast(ca), "label")
      .select(col("label"), col("vec_id"),
        round(sqrt(greatest(
          Similarity.dot("v", "v") + col("c2")
            - lit(2) * Similarity.dot("v", "carr"), lit(0.0))), 6).as("dist"))
    val st = d.groupBy(col("label"))
      .agg(avg(col("dist")).as("mu"), stddev_samp(col("dist")).as("sd"))
      .where(col("sd") > 0)
    val w = Window.partitionBy(col("label")).orderBy(col("dist").desc, col("vec_id"))
    d.join(broadcast(st), "label")
      .withColumn("z", round((col("dist") - col("mu")) / col("sd"), 3))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 5)
      .select(col("label"), col("rnk"), col("vec_id"), col("dist"), col("z"))
      .orderBy(col("label"), col("rnk"))
  }

  /** Image near-duplicate detection by perceptual hash — the multimodal
    * arm of the dedup family (crop/re-encode/watermark variants of one
    * image land within a few bits of each other under a real pHash).
    * Pipeline: per-partition batch decode → 16-bit descriptor-sign hash
    * (ops.Multimodal.phash; stub codec, real plumbing) → 4×4-bit
    * pigeonhole bands (hamming ≤ 3 cannot dirty all 4 bands, so the
    * band equi-join is recall-LOSSLESS for the threshold, same argument
    * as dedup_simhash) → candidate pairs → exact hamming verify.
    *
    * Shape at 100 TB: the hash leaves the decode stage as 8 bytes per
    * image; banding fans each image to 4 (band, bv) rows; candidates
    * come from an equi-join on the band key, never an all-pairs scan;
    * the verify join re-keys by doc id. A production 64-bit pHash =
    * `bits`/band-count knobs, identical plan.
    */
  val multimodalPhashDedup: QueryDef = QueryDef.sql("multimodal_phash_dedup",
    """WITH f AS (SELECT doc_id, CAST(list_sum([CASE WHEN ('0x' || substr(md5(text), 1 + 2 * i, 2))::BIGINT >= 128
      |    THEN (1::BIGINT << i) ELSE 0::BIGINT END for i in range(0, 16)]) AS BIGINT) AS ph
      |  FROM documents),
      |bd AS (SELECT doc_id, b, (ph >> (4 * b)) & 15 AS bv FROM f CROSS JOIN range(0, 4) r1(b)),
      |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
      |         FROM bd a JOIN bd b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
      |SELECT c.i, c.j, CAST(bit_count(xor(x.ph, y.ph)) AS BIGINT) AS dist
      |FROM cand c JOIN f x ON x.doc_id = c.i JOIN f y ON y.doc_id = c.j
      |WHERE bit_count(xor(x.ph, y.ph)) <= 3
      |ORDER BY i, j""".stripMargin) { (s, dir) =>
    phashDedupPairs(s, Tables.documents(s, dir)).orderBy(col("i"), col("j"))
  }

  /** The [[multimodalPhashDedup]] body over an arbitrary documents
    * frame — media derivation (stub codec, real per-partition decode
    * plumbing), 16-bit pHash, 4×4-bit pigeonhole bands (hamming ≤ 3 is
    * recall-lossless), exact hamming verify. Shared with
    * CorpusPipeline's optional media-dedup stage, so stage ≡ gate
    * parity is CorpusPipelineSpec-checkable. Unordered (i, j, dist).
    */
  private[graft] def phashDedupPairs(s: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val media = Multimodal.mediaTable(s, docs)
    // the hash table is doc-count × 16 bytes; its plan is referenced
    // THREE times below (banding + both verify joins), each of which
    // would re-run the per-partition decode + digest — checkpoint once
    // (r16-opt; the decode stage is the whole cost of this query).
    // Lifecycle: ContextCleaner reclaims the blocks when the frame goes
    // out of scope — intended; the caller consumes the returned lazy
    // frame after this helper returns, so an in-helper unpersist would
    // release blocks the result still reads (r17, ADVICE)
    val ph = Multimodal.phash(s, media).toDF().transform(graft.ops.Ckpt.eager)
    val bd = ph.select(col("doc_id"), explode(expr(
      "transform(sequence(0, 3), b -> struct(b AS band, CAST(shiftright(ph, 4 * b) & 15 AS INT) AS bv))"))
      .as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"), col("bd.bv").as("bv"))
    val cand = bd.as("a")
      .join(bd.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    cand
      .join(ph.select(col("doc_id").as("i"), col("ph").as("pa")), "i")
      .join(ph.select(col("doc_id").as("j"), col("ph").as("pb")), "j")
      .withColumn("dist", bit_count(col("pa").bitwiseXOR(col("pb"))).cast("long"))
      .where(col("dist") <= 3)
      .select(col("i"), col("j"), col("dist"))
  }

  /** Matryoshka (MRL, Kusupati et al. 2022) truncation evaluation:
    * recall@5 of PREFIX-dim cosine ranking (first 8/16/32 components)
    * against the full 64-dim exact top-5, per query — the measurement
    * behind serving truncated embeddings (cheaper ANN index, smaller
    * shuffle) at a known quality cost. One candidate scan computes the
    * full-dim similarity AND all three prefix similarities per pair
    * (native vec_dot over array slices — the slice is the only extra
    * cost); the three prefix rankings share one window pass keyed
    * (d, qid). At 100 TB the scan is the same single broadcast-join
    * pass as [[embedKnnBrute]]; nothing here shuffles the corpus.
    */
  val embedMatryoshkaRecall: QueryDef = QueryDef.sql("embed_matryoshka_recall",
    s"""WITH $duckVectors,
       |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
       |c AS (SELECT vec_id AS nid, v AS cv FROM v WHERE vec_id >= 10),
       |p AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS simf,
       |        ${duckCos("qv[1:8]", "cv[1:8]")} AS s8,
       |        ${duckCos("qv[1:16]", "cv[1:16]")} AS s16,
       |        ${duckCos("qv[1:32]", "cv[1:32]")} AS s32
       |      FROM c, q),
       |br AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY simf DESC, nid) AS rnk FROM p),
       |bt AS (SELECT qid, nid FROM br WHERE rnk <= 5),
       |pd AS (SELECT CAST(d AS BIGINT) AS d, qid, nid,
       |         CASE d WHEN 8 THEN s8 WHEN 16 THEN s16 ELSE s32 END AS sim
       |       FROM p, (VALUES (8), (16), (32)) dims(d)),
       |lr AS (SELECT d, qid, nid, row_number() OVER (PARTITION BY d, qid ORDER BY sim DESC, nid) AS rnk FROM pd),
       |lt AS (SELECT d, qid, nid FROM lr WHERE rnk <= 5),
       |bd AS (SELECT CAST(d AS BIGINT) AS d, qid, nid FROM bt, (VALUES (8), (16), (32)) dims(d))
       |SELECT bd.d, bd.qid, CAST(count(lt.nid) AS BIGINT) AS n_hit,
       |  round(count(lt.nid) / 5.0, 6) AS recall
       |FROM bd LEFT JOIN lt ON bd.d = lt.d AND bd.qid = lt.qid AND bd.nid = lt.nid
       |GROUP BY bd.d, bd.qid ORDER BY bd.d, bd.qid""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val dims = Seq(8, 16, 32)
    val v = Similarity.vectors(Tables.embeddings(s, dir))
    val q = v.where(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv"))
    val c = v.where(col("vec_id") >= 10).select(col("vec_id").as("nid"), col("v").as("cv"))
    val scored = c.crossJoin(broadcast(q)).select(
      col("qid"), col("nid"),
      Similarity.cosine("qv", "cv").as("simf"),
      map(dims.flatMap(d => Seq(lit(d.toLong),
        Similarity.cosinePrefix(col("qv"), col("cv"), d))): _*).as("pre"))
    val bt = scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("simf").desc, col("nid"))))
      .where(col("rnk") <= 5).select(col("qid"), col("nid"))
    val lt = scored.select(col("qid"), col("nid"), explode(col("pre")).as(Seq("d", "sim")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("d"), col("qid")).orderBy(col("sim").desc, col("nid"))))
      .where(col("rnk") <= 5)
      .select(col("d").as("ld"), col("qid").as("lqid"), col("nid").as("lnid"))
    bt.select(col("qid"), col("nid"),
        explode(array(dims.map(d => lit(d.toLong)): _*)).as("d"))
      .join(lt, col("d") === col("ld") && col("qid") === col("lqid") && col("nid") === col("lnid"), "left")
      .groupBy(col("d"), col("qid"))
      .agg(count(col("lnid")).as("n_hit"),
        round(count(col("lnid")) / 5.0, 6).as("recall"))
      .orderBy(col("d"), col("qid"))
  }

  /** Threshold-sweep dedup-rate curve — the tuning companion to
    * [[dedupEmbedCosine]]: a pipeline picks its cosine cutoff by looking
    * at how pair volume and affected-doc count move with the threshold
    * (too low ⇒ false merges collapse the corpus, too high ⇒ dups
    * survive). One candidate pass (the SAME sign-bucket equi-join +
    * exact verify as the dedup query — one definition of "candidate"),
    * then each verified pair is counted under every threshold it clears:
    * per threshold, the pair count and the would-be-dropped doc count
    * (keep-min policy ⇒ dropped = distinct larger ids). The 3-row
    * threshold table left-joins the pair set so an empty tier still
    * reports a 0 row (PlanSpec allowlists this one intentional 3-row
    * nested-loop join; candidates themselves stay equi-join).
    *
    * Shape at 100 TB: identical to dedup_embed_cosine — bucket-keyed
    * shuffle, per-pair native vec_dot — plus a 3× fanout of the tiny
    * verified-pair table. The sweep costs one dedup pass, not three.
    */
  val embedDedupSweep: QueryDef = QueryDef.sql("embed_dedup_sweep",
    s"""WITH $duckVectors,
       |sb AS (SELECT vec_id, v, ${OracleSql.signBucket} AS bucket FROM v),
       |p AS (SELECT a.vec_id AS i, b.vec_id AS j, ${duckCos("a.v", "b.v")} AS sim
       |      FROM sb a JOIN sb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |t(thr) AS (VALUES (0.30), (0.35), (0.40))
       |SELECT round(thr, 2) AS thr, CAST(count(p.i) AS BIGINT) AS n_pairs,
       |  CAST(count(DISTINCT p.j) AS BIGINT) AS n_dropped
       |FROM t LEFT JOIN p ON p.sim >= t.thr
       |GROUP BY thr ORDER BY thr""".stripMargin) { (s, dir) =>
    val sb = Similarity.vectors(Tables.embeddings(s, dir))
      .select(col("vec_id"), col("v"),
        Similarity.signBucket("v").as("bucket"),
        Similarity.l2("v").as("nrm"))
    val a = sb.select(col("vec_id").as("i"), col("v").as("va"),
      col("bucket"), col("nrm").as("na")).alias("a")
    val b = sb.select(col("vec_id").as("j"), col("v").as("vb"),
      col("bucket"), col("nrm").as("nb")).alias("b")
    val pairs = a.join(b, col("a.bucket") === col("b.bucket") && col("i") < col("j"))
      .withColumn("den", col("na") * col("nb"))
      .withColumn("sim", when(col("den") === 0.0, lit(null))
        .otherwise(round(Similarity.dot("va", "vb") / col("den"), 6)))
      .select(col("i"), col("j"), col("sim"))
    val thr = s.range(1).select(explode(
      array(lit(0.30), lit(0.35), lit(0.40))).as("thr"))
    broadcast(thr).join(pairs, col("sim") >= col("thr"), "left")
      .groupBy(col("thr"))
      .agg(count(col("i")).as("n_pairs"),
        countDistinct(col("j")).as("n_dropped"))
      .select(round(col("thr"), 2).as("thr"), col("n_pairs"), col("n_dropped"))
      .orderBy(col("thr"))
  }

  /** Maximal marginal relevance (Carbonell & Goldstein 1998): greedy
    * diversity-aware selection of 5 from each query's cosine top-20 —
    * step 1 takes the most relevant candidate; step t takes
    * argmax λ·rel − (1−λ)·max_{s∈selected} sim(cand, s), so near-
    * duplicates of an already-picked document are penalized out. The
    * training-data shape: retrieval-then-diversify is how a curated
    * fine-tuning set avoids paying 5 slots for one near-duplicated
    * fact, and the same greedy core drives diverse few-shot example
    * selection.
    *
    * Determinism: rel and pair sims are the shared round-6 cosine;
    * λ literals are written as 0.7/0.3 in BOTH engines (never 1−0.7,
    * whose double differs from parsed 0.3 in the last ulp), so scores
    * are identical doubles and the (score desc, nid) argmax can't
    * diverge. Step-1 score is rel itself, by convention.
    *
    * Shape at 100 TB: the expensive stage is candidate generation,
    * which is [[embedKnnBrute]]'s broadcast-queries scan (swap in the
    * LSH/IVF tier for big corpora); the greedy loop then runs on
    * queries×20 rows — each of the 4 steps is an anti-join + a
    * per-query max over ≤ 20×5 pairs and a group-limited argmax,
    * all on the tiny selected frame. Steps are sequential by nature
    * (each pick changes the next penalty); the per-step work is
    * constant in corpus size.
    */
  val embedMmr: QueryDef = {
    val kCand = 20; val kSel = 5
    // each step references sel(t-1) 3× and rem$t 2× — un-materialized,
    // DuckDB's CTE inlining re-ran the whole upstream greedy (down to
    // the corpus×queries cosine cross join) per copy, ~3^steps blowup
    // (7.8 s of the sf0.01 oracle run, r16 verdict). Pure evaluation
    // hints; the replayed greedy is unchanged.
    val steps = (2 to kSel).map { t =>
      s"""rem$t AS MATERIALIZED (SELECT c.* FROM cand c LEFT JOIN sel${t - 1} s
         |  ON s.qid = c.qid AND s.nid = c.nid WHERE s.nid IS NULL),
         |ms$t AS (SELECT r.qid, r.nid, max(${duckCos("r.cv", "s.cv")}) AS ms
         |  FROM rem$t r JOIN sel${t - 1} s ON s.qid = r.qid GROUP BY r.qid, r.nid),
         |sc$t AS (SELECT r.qid, r.nid, r.cv, r.rel, 0.7 * r.rel - 0.3 * m.ms AS score
         |  FROM rem$t r JOIN ms$t m ON m.qid = r.qid AND m.nid = r.nid),
         |pk$t AS (SELECT qid, nid, cv, rel, $t AS step, score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rk
         |  FROM sc$t) WHERE rk = 1),
         |sel$t AS MATERIALIZED (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM pk$t)""".stripMargin
    }.mkString(",\n")
    QueryDef.sql("embed_mmr",
      s"""WITH $duckVectors,
         |q AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, v AS cv FROM v WHERE vec_id >= 10),
         |p AS (SELECT qid, nid, cv, ${duckCos("qv", "cv")} AS rel FROM c, q),
         |cand AS MATERIALIZED (SELECT qid, nid, cv, rel FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rnk
         |  FROM p) WHERE rnk <= $kCand),
         |sel1 AS MATERIALIZED (SELECT qid, nid, cv, rel, 1 AS step, rel AS score FROM (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rk
         |  FROM cand) WHERE rk = 1),
         |$steps
         |SELECT qid, CAST(step AS BIGINT) AS step, nid, round(score, 6) AS score
         |FROM sel$kSel ORDER BY qid, step""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val v = Similarity.vectors(Tables.embeddings(s, dir))
      val q = v.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val c = v.where(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("v").as("cv"))
      val pairs = c.crossJoin(broadcast(q))
        .withColumn("sim", Similarity.cosine("qv", "cv"))
      // queries×20 rows by construction: collapse to ONE partition so the
      // 4 greedy step-jobs run single-task instead of shuffling 32
      // near-empty partitions per step (measured 3.6 s -> ~1.5 s at sf0.1)
      val cand = Similarity.topK(pairs, kCand)
        .select(col("qid"), col("nid"), col("cv"), col("sim").as("rel"), col("rnk"))
        .coalesce(1)
        .transform(graft.ops.Ckpt.eager)
      var sel = cand.where(col("rnk") === 1)
        .select(col("qid"), col("nid"), col("cv"), col("rel"),
          lit(1L).as("step"), col("rel").as("score"))
        .transform(graft.ops.Ckpt.eager)
      for (t <- 2 to kSel) {
        val rem = cand.join(sel.select(col("qid"), col("nid")), Seq("qid", "nid"), "left_anti")
        val ms = rem.select(col("qid"), col("nid"), col("cv"))
          .join(sel.select(col("qid"), col("cv").as("sv")), Seq("qid"))
          .withColumn("s", Similarity.cosineC(col("cv"), col("sv")))
          .groupBy(col("qid"), col("nid")).agg(max(col("s")).as("ms"))
        val scored = rem.join(ms, Seq("qid", "nid"))
          .withColumn("score", lit(0.7) * col("rel") - lit(0.3) * col("ms"))
        val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
        val pick = scored.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
          .select(col("qid"), col("nid"), col("cv"), col("rel"),
            lit(t.toLong).as("step"), col("score"))
        sel = sel.unionAll(pick).transform(graft.ops.Ckpt.eager)
      }
      sel.select(col("qid"), col("step"), col("nid"),
          round(col("score"), 6).as("score"))
        .orderBy(col("qid"), col("step"))
    }
  }

  /** Embedding drift monitor: per label, the centroid of the FIRST half
    * of the corpus (vec_id ≤ mid — id order is the arrival/time proxy)
    * vs the SECOND half — Euclidean shift ‖c_a − c_b‖ and centroid
    * cosine. The embedding-space analog of text_kl_drift: a re-embedded
    * or re-crawled feed whose class centroids move invalidates cached
    * ANN indexes and nearest-centroid routers before any accuracy
    * metric notices. Per-dim centroid components are rounded to 6 like
    * embed_kmeans' update step, collapsing both engines' different
    * avg() summation orders to identical inputs for the distance fold.
    *
    * Shape at 100 TB: one long-form (half, label, i) average — the
    * exploded scan is the only corpus-sized stage, map-side combined to
    * ≤ 2·labels·dim rows — then label-keyed joins on the tiny centroid
    * table. Same execution class as embed_centroids.
    */
  val embedCentroidShift: QueryDef = QueryDef.sql("embed_centroid_shift",
    s"""WITH $duckVectors,
       |md AS (SELECT (min(vec_id) + max(vec_id)) // 2 AS m FROM v),
       |e AS (SELECT CASE WHEN vec_id <= (SELECT m FROM md) THEN 'a' ELSE 'b' END AS half,
       |        label, i, v[i] AS x FROM v, range(1, 65) r(i)),
       |cent AS (SELECT half, label, i, round(avg(x), 6) AS c FROM e GROUP BY 1, 2, 3),
       |n AS (SELECT CASE WHEN vec_id <= (SELECT m FROM md) THEN 'a' ELSE 'b' END AS half,
       |        label, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1, 2),
       |j AS (SELECT a.label, a.i, a.c AS ca, b.c AS cb
       |      FROM cent a JOIN cent b ON b.label = a.label AND b.i = a.i
       |      WHERE a.half = 'a' AND b.half = 'b'),
       |d AS (SELECT label, sqrt(sum((ca - cb) * (ca - cb))) AS shift,
       |        sum(ca * cb) / (sqrt(sum(ca * ca)) * sqrt(sum(cb * cb))) AS cs
       |      FROM j GROUP BY label)
       |SELECT d.label, na.n AS n_a, nb.n AS n_b,
       |  round(shift, 6) AS shift, round(cs, 6) AS cos_sim
       |FROM d
       |JOIN n na ON na.label = d.label AND na.half = 'a'
       |JOIN n nb ON nb.label = d.label AND nb.half = 'b'
       |ORDER BY d.label""".stripMargin) { (s, dir) =>
    val v = Similarity.vectors(Tables.embeddings(s, dir))
    val md = v.agg(((min(col("vec_id")) + max(col("vec_id"))) / 2).cast("long").as("m"))
    val withHalf = v.crossJoin(broadcast(md))
      .select(when(col("vec_id") <= col("m"), "a").otherwise("b").as("half"),
        col("label"), col("v"))
    val cent = withHalf
      .select(col("half"), col("label"), posexplode(col("v")).as(Seq("i0", "x")))
      .groupBy(col("half"), col("label"), (col("i0") + 1).as("i"))
      .agg(round(avg(col("x")), 6).as("c"))
    val n = withHalf.groupBy(col("half"), col("label")).agg(count(lit(1)).as("n"))
    val j = cent.where(col("half") === "a")
      .select(col("label"), col("i"), col("c").as("ca"))
      .join(cent.where(col("half") === "b")
        .select(col("label").as("lb"), col("i").as("ib"), col("c").as("cb")),
        col("lb") === col("label") && col("ib") === col("i"))
    val d = j.groupBy(col("label"))
      .agg(sqrt(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))).as("shift"),
        (sum(col("ca") * col("cb")) /
          (sqrt(sum(col("ca") * col("ca"))) * sqrt(sum(col("cb") * col("cb"))))).as("cs"))
    d.join(n.where(col("half") === "a").select(col("label"), col("n").as("n_a")), "label")
      .join(n.where(col("half") === "b").select(col("label"), col("n").as("n_b")), "label")
      .select(col("label"), col("n_a"), col("n_b"),
        round(col("shift"), 6).as("shift"), round(col("cs"), 6).as("cos_sim"))
      .orderBy(col("label"))
  }

  /** HYBRID RETRIEVAL with reciprocal-rank fusion (Cormack et al.,
    * SIGIR 2009): each query document ranks the candidate corpus twice —
    * a LEXICAL arm (BM25 of the candidate against the query doc's
    * distinct terms; query-side tf collapsed to 1, the standard choice)
    * and a VECTOR arm (embedding cosine, vec_id = doc_id) — and the two
    * top-20 lists fuse by rrf = Σ 1/(60 + rank), top-10 per query. A doc
    * found by only one arm keeps that arm's contribution (outer-join
    * fusion), which is the whole point: the arms' failure modes differ.
    *
    * Determinism: both arms rank on 6-decimal-rounded scores with nid
    * tiebreak; the rrf contributions 1/(60+r) are exact rational →
    * IEEE-identical doubles in both engines, summed in fixed arm order.
    *
    * Scale shape: the query block broadcasts through both arms (the
    * allowlisted knn-brute cross); the candidate tf table shuffles on
    * word only after the broadcast query-vocabulary semi-filter; at
    * 100 TB the arms swap in their banded twins (inverted-index join =
    * text_inverted_index's plan, LSH buckets = embed_knn_lsh's) with the
    * fusion stage unchanged — fusion only ever sees 2×20 rows per query.
    */
  val retrievalHybridRrf: QueryDef = {
    val (k1, b) = (1.2, 0.75)
    QueryDef.sql("retrieval_hybrid_rrf",
      s"""WITH $duckVectors,
         |q2 AS (SELECT vec_id AS qid, v AS qv FROM v WHERE vec_id < 10),
         |c2 AS (SELECT vec_id AS nid, v AS cv FROM v WHERE vec_id >= 10),
         |vp AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS sim FROM c2, q2),
         |vk AS (SELECT qid, nid, vec_rnk FROM (
         |  SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS vec_rnk
         |  FROM vp WHERE sim IS NOT NULL) WHERE vec_rnk <= 20),
         |qt AS (SELECT DISTINCT qid, word FROM
         |  (SELECT doc_id AS qid, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |   FROM documents WHERE doc_id < 10)),
         |cd AS (SELECT doc_id AS nid, CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) AS dl
         |       FROM documents WHERE doc_id >= 10),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM cd),
         |tf AS (SELECT nid, word, CAST(count(*) AS DOUBLE) AS tf
         |       FROM (SELECT doc_id AS nid, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
         |             FROM documents WHERE doc_id >= 10)
         |       WHERE word IN (SELECT word FROM qt) GROUP BY 1, 2),
         |df AS (SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY word),
         |ls AS (SELECT qt.qid, tf.nid,
         |         sum(ln((s.n - f.df + 0.5) / (f.df + 0.5) + 1)
         |             * tf.tf * ${k1 + 1} / (tf.tf + $k1 * (1 - $b + $b * d.dl / s.avgdl))) AS score
         |       FROM qt JOIN tf ON tf.word = qt.word
         |       JOIN df f ON f.word = tf.word JOIN cd d ON d.nid = tf.nid CROSS JOIN stats s
         |       GROUP BY 1, 2),
         |lk AS (SELECT qid, nid, lex_rnk FROM (
         |  SELECT qid, nid, CAST(row_number() OVER (PARTITION BY qid ORDER BY round(score, 6) DESC, nid) AS BIGINT) AS lex_rnk
         |  FROM ls) WHERE lex_rnk <= 20),
         |fu AS (SELECT coalesce(lk.qid, vk.qid) AS qid, coalesce(lk.nid, vk.nid) AS nid,
         |         lk.lex_rnk, vk.vec_rnk,
         |         round(coalesce(CAST(1.0 AS DOUBLE) / (60 + lk.lex_rnk), 0.0)
         |             + coalesce(CAST(1.0 AS DOUBLE) / (60 + vk.vec_rnk), 0.0), 6) AS rrf
         |       FROM lk FULL OUTER JOIN vk ON lk.qid = vk.qid AND lk.nid = vk.nid)
         |SELECT qid, nid, lex_rnk, vec_rnk, rrf, frnk FROM (
         |  SELECT qid, nid, lex_rnk, vec_rnk, rrf,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY rrf DESC, nid) AS BIGINT) AS frnk FROM fu)
         |WHERE frnk <= 10 ORDER BY qid, frnk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      import graft.ops.TextOps
      val w = (arm: String) => Window.partitionBy(col("qid")).orderBy(col(arm).desc, col("nid"))
      // vector arm
      val v = Similarity.vectors(Tables.embeddings(s, dir))
      val vk = v.where(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("v").as("cv"))
        .crossJoin(broadcast(v.where(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("v").as("qv"))))
        .withColumn("sim", Similarity.cosine("qv", "cv"))
        .where(col("sim").isNotNull)
        .withColumn("vec_rnk", row_number().over(w("sim")).cast("long"))
        .where(col("vec_rnk") <= 20).select(col("qid"), col("nid"), col("vec_rnk"))
      // lexical arm (the text_bm25 formula, query docs as the term source)
      val docs = Tables.documents(s, dir)
      val qt = docs.where(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), explode(TextOps.wordsExpr).as("word")).distinct()
      val cd = docs.where(col("doc_id") >= 10)
        .select(col("doc_id").as("nid"),
          expr("regexp_count(lower(text), '[a-z0-9]+')").cast("double").as("dl"))
      val stats = cd.agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
      val tf = docs.where(col("doc_id") >= 10)
        .select(col("doc_id").as("nid"), explode(TextOps.wordsExpr).as("word"))
        .join(broadcast(qt.select(col("word")).distinct()), "word")
        .groupBy(col("nid"), col("word")).agg(count(lit(1)).cast("double").as("tf"))
      val df = tf.groupBy(col("word")).agg(count(lit(1)).cast("double").as("df"))
      val lk = broadcast(qt).join(tf, "word").join(broadcast(df), "word")
        .join(cd, "nid").crossJoin(broadcast(stats))
        .groupBy(col("qid"), col("nid"))
        .agg(sum(log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1)
            * col("tf") * (k1 + 1)
            / (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("score"))
        .withColumn("r6", round(col("score"), 6))
        .withColumn("lex_rnk", row_number().over(w("r6")).cast("long"))
        .where(col("lex_rnk") <= 20).select(col("qid"), col("nid"), col("lex_rnk"))
      // fusion
      lk.join(vk, Seq("qid", "nid"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60) + col("lex_rnk")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("vec_rnk")), lit(0.0)), 6))
        .withColumn("frnk", row_number().over(w("rrf")).cast("long"))
        .where(col("frnk") <= 10)
        .select(col("qid"), col("nid"), col("lex_rnk"), col("vec_rnk"), col("rrf"), col("frnk"))
        .orderBy(col("qid"), col("frnk"))
    }
  }

  /** Ranking-quality eval (NDCG@10 / MRR@10 / recall@10) of the brute
    * cosine retriever against label relevance (candidate relevant iff
    * its label equals the query's) — the eval-harness rollup a
    * retrieval pipeline keeps beside its index builds, closing the loop
    * the recall-sweep queries (embed_lsh_recall et al.) start: those
    * grade candidate GENERATION, this grades the final RANKING.
    *
    * Determinism across engines: the DCG discount table 1/log2(r+1) is
    * materialized as 15-digit DECIMAL literals shared verbatim by both
    * SQL texts (log2 is not correctly-rounded identically in the JVM
    * and libm, and cross-row double sums are association-ordered — the
    * decimal CASE sidesteps both), so dcg/idcg are EXACT decimal sums;
    * the only doubles are the final divisions, identical per IEEE.
    * Ideal DCG comes from the closed-form cumulative table indexed by
    * least(n_rel, 10) — no per-query ideal re-ranking.
    *
    * Scale shape: identical to [[embedKnnBrute]] (queries broadcast
    * through one candidate scan); the metric aggregation sees only
    * rank<=10 rows plus an integer n_rel rollup, all shuffled once on
    * qid. At 100 TB the ranking arm swaps for a banded retriever and
    * this stage is unchanged.
    */
  val retrievalNdcg: QueryDef = {
    val w = Seq("1.000000000000000", "0.630929753571457", "0.500000000000000",
      "0.430676558073393", "0.386852807234542", "0.356207187108022",
      "0.333333333333333", "0.315464876785729", "0.301029995663981",
      "0.289064826317888")
    val cw = Seq("1.000000000000000", "1.630929753571457", "2.130929753571457",
      "2.561606311644850", "2.948459118879392", "3.304666305987414",
      "3.637999639320747", "3.953464516106476", "4.254494511770457",
      "4.543559338088345")
    val dec = "DECIMAL(18,15)"
    val wCase = (1 to 10).map(r => s"WHEN $r THEN CAST(${w(r - 1)} AS $dec)")
      .mkString("CASE rnk ", " ", s" ELSE CAST(0 AS $dec) END")
    val cwCase = (1 to 10).map(r => s"WHEN $r THEN CAST(${cw(r - 1)} AS $dec)")
      .mkString("CASE least(n_rel, 10) ", " ", " ELSE NULL END")
    QueryDef.sql("retrieval_ndcg",
      s"""WITH $duckVectors,
         |q AS (SELECT vec_id AS qid, label AS ql, v AS qv FROM v WHERE vec_id < 10),
         |c AS (SELECT vec_id AS nid, label AS cl, v AS cv FROM v WHERE vec_id >= 10),
         |p AS (SELECT qid, nid, ${duckCos("qv", "cv")} AS sim,
         |        CASE WHEN cl = ql THEN 1 ELSE 0 END AS rel FROM c, q),
         |r AS (SELECT qid, rel,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS BIGINT) AS rnk
         |      FROM p WHERE sim IS NOT NULL),
         |a AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS n_rel,
         |        sum(CASE WHEN rnk <= 10 AND rel = 1 THEN $wCase ELSE CAST(0 AS $dec) END) AS dcg,
         |        CAST(sum(CASE WHEN rnk <= 10 THEN rel ELSE 0 END) AS BIGINT) AS rel10,
         |        min(CASE WHEN rnk <= 10 AND rel = 1 THEN rnk END) AS first_rel
         |      FROM r GROUP BY qid)
         |SELECT qid, n_rel,
         |  round(CAST(dcg AS DOUBLE) / CAST($cwCase AS DOUBLE), 6) AS ndcg10,
         |  coalesce(round(CAST(1.0 AS DOUBLE) / first_rel, 6), 0.0) AS mrr10,
         |  round(CAST(rel10 AS DOUBLE) / nullif(CAST(n_rel AS DOUBLE), 0.0), 6) AS recall10
         |FROM a ORDER BY qid""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val v = Similarity.vectors(Tables.embeddings(s, dir))
      val q = v.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("label").as("ql"), col("v").as("qv"))
      val c = v.where(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("label").as("cl"), col("v").as("cv"))
      val p = c.crossJoin(broadcast(q))
        .select(col("qid"), col("nid"), Similarity.cosine("qv", "cv").as("sim"),
          when(col("cl") === col("ql"), 1).otherwise(0).as("rel"))
      val r = p.where(col("sim").isNotNull)
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))).cast("long"))
      val a = r.groupBy(col("qid")).agg(
        sum(col("rel")).cast("long").as("n_rel"),
        sum(expr(s"CASE WHEN rnk <= 10 AND rel = 1 THEN $wCase ELSE CAST(0 AS $dec) END")).as("dcg"),
        sum(when(col("rnk") <= 10, col("rel")).otherwise(0)).cast("long").as("rel10"),
        min(when(col("rnk") <= 10 && col("rel") === 1, col("rnk"))).as("first_rel"))
      a.select(col("qid"), col("n_rel"),
        round(col("dcg").cast("double") / expr(cwCase).cast("double"), 6).as("ndcg10"),
        coalesce(round(lit(1.0) / col("first_rel"), 6), lit(0.0)).as("mrr10"),
        round(col("rel10").cast("double") / nullif(col("n_rel").cast("double"), lit(0.0)), 6)
          .as("recall10"))
        .orderBy(col("qid"))
    }
  }

  val all: Seq[QueryDef] = Seq(embedKnnBrute, embedKnnLsh, embedCentroids,
    multimodalMeta, multimodalFramesample, multimodalResize, embedNorms,
    embedKnnIvf, embedKnnIvfKmeans, embedClusterPurity, embedKmeansElbow,
    embedIvfIndexRoundtrip, dedupEmbedCosine, dedupSemantic, embedQuantize, embedLshRecall,
    embedHyperplaneRecall, embedBandedRecall, embedKnnPq,
    embedMultiprobeRecall, embedPqRecall, embedKnnPqTrained, embedKnnIvfPq,
    multimodalFeatures, embedHardNegatives,
    embedRandomProjection, embedKmeans, embedPca, embedOutliers,
    embedMatryoshkaRecall, multimodalPhashDedup, embedDedupSweep, embedMmr,
    embedCentroidShift, retrievalHybridRrf, embedSphericalKmeans,
    retrievalNdcg, multimodalAudioWindows, embedDimStats,
    embedPcaApply, embedWhiten, embedIvfIndexAppend, embedIndexDrift,
    embedIvfPqIndex, embedPcaTopm, embedPcaWhiten, embedIvfIndexDelete,
    embedIvfadcResidual, embedIvfadcRefine, embedIvfadcRefineSq8,
    embedIvfadcAlloc, embedIvfadcFiltered, embedKnnGraph, embedKnnGraphSearch,
    embedKnnGraphAppend, embedKnnGraphDeleteSearch, embedKnnGraphCompact,
    streamingKnngAppendReplay,
    embedPqRotated, embedPqAlloc, embedIvfProbeFiltered, streamingIvfAppendReplay,
    streamingIvfDeleteReplay)
}
