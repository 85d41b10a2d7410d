package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.Similarity
import graft.queries.EmbedQueries

/** ANN bucket-budget probe: recall@5 and candidate cost of the
  * random-hyperplane LSH tier (Similarity.hyperplaneBucket) at several
  * bit counts, with the axis-aligned sign bucket at 8 bits as the
  * comparison row. This is the measurement behind the `bits` knob's
  * sizing guidance: recall falls and candidate cost shrinks as bits
  * grow (2^bits buckets over n vectors), so at corpus scale bits is
  * chosen to hold n²/2^bits — the per-bucket pair count — near a
  * target, then recall is re-measured before trusting the index
  * (embed_lsh_recall / embed_hyperplane_recall are the oracle-checked
  * single points; this sweeps the curve).
  *
  * Two query modes per configuration:
  *  - `corpus`: the first 10 real vectors as queries (the oracle
  *    queries' frame). The synthetic embeddings are near-random, so
  *    cosine neighborhoods are weak and recall is near-noise — kept as
  *    the apples-to-apples row against the gate queries.
  *  - `planted`: one query per ~101 corpus vectors, built as a ±5%
  *    multiplicative perturbation of a real vector (cos ≈ 0.999 to its
  *    base). True near-neighbors exist BY CONSTRUCTION, so this mode
  *    has signal: a useful LSH must put the perturbed query in its
  *    base's bucket, and recall@5 measures exactly that. This is the
  *    number the bits-sizing guidance should be read from.
  *
  * Usage: runMain graft.RecallProbe [sfDir]
  * Prints one JSON line per (mode, configuration):
  *   {"mode":…,"tier":…,"bits":…,"buckets":…,"n_queries":…,
  *    "mean_recall":…,"cand_per_query":…}
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master(s"local[${SparkEntry.localCpus}]")
      .config("spark.sql.shuffle.partitions", SparkEntry.localCpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val vectors = Similarity.vectors(Tables.embeddings(spark, sfDir)).cache()

    def measureWith(mode: String, tier: String, bits: Int,
                    q: DataFrame, qp: DataFrame, c: DataFrame): Unit = {
      val r = EmbedQueries.recallFramesProbed(q, qp, c)
        .agg(coalesce(avg(col("recall")), lit(0.0)).as("mr")).head().getDouble(0)
      val nq = math.max(1L, q.count())
      val cand = c.join(broadcast(qp.select(col("bucket"))), "bucket").count() / nq
      println(s"""{"mode":"$mode","tier":"$tier","bits":$bits,""" +
        s""""buckets":${1L << bits},"n_queries":$nq,""" +
        s""""mean_recall":${math.rint(r * 1e6) / 1e6},"cand_per_query":$cand}""")
    }

    def measure(mode: String, tier: String, bits: Int,
                q: DataFrame, c: DataFrame): Unit = {
      measureWith(mode, tier, bits, q, q, c)
      // multi-probe row: the same queries also probe every hamming-1
      // neighbor bucket (the embed_multiprobe_recall lever) — recall and
      // candidate cost at the SAME plane budget, one extra sweep row
      val probes = (0 until bits).map(i => s"bucket ^ ${1L << i}")
      val qp = q.select(col("qid"), col("qv"),
        explode(expr(probes.mkString("array(bucket, ", ", ", ")"))).as("bucket"))
      measureWith(mode + "+mp", tier, bits, q, qp, c)
    }

    /** corpus mode: first 10 vectors as queries (the gate queries' frame). */
    def corpus(tier: String, bits: Int, bucketOf: String => Column): Unit = {
      val q = vectors.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
        .withColumn("bucket", bucketOf("qv"))
      val c = vectors.where(col("vec_id") >= 10)
        .select(col("vec_id").as("nid"), col("v").as("cv"))
        .withColumn("bucket", bucketOf("cv"))
      measure("corpus", tier, bits, q, c)
    }

    /** planted mode: every ~101st vector is a query; its true top-5 is
      * 5 PLANTED near-duplicates (±5% multiplicative perturbations,
      * cos ≈ 0.999 — far above the ~0.5 ceiling of the random corpus)
      * injected into the candidate set, with the base itself excluded.
      * recall@5 therefore spans the full 0..1 range and measures
      * exactly the LSH contract: does a near-duplicate land in its
      * base's bucket? Deterministic noise (murmur3 of (vec_id, copy,
      * component)) keeps the probe reproducible.
      */
    def planted(tier: String, bits: Int, bucketOf: String => Column): Unit = {
      val bases = vectors.where(col("vec_id") % 101 === 0)
      val q = bases.select(col("vec_id").as("qid"), col("v").as("qv"))
        .withColumn("bucket", bucketOf("qv"))
      val copies = bases
        .select(col("vec_id"), explode(sequence(lit(0), lit(4))).as("k"), col("v"))
        .select((col("vec_id") * 8 + col("k") + lit(1000000000L)).as("nid"), expr(
          "transform(v, (x, i) -> x * (1.0D + (pmod(hash(vec_id, k, i), 2001) - 1000) / 20000.0D))")
          .as("cv"))
      val c = vectors.where(col("vec_id") % 101 =!= 0)
        .select(col("vec_id").as("nid"), col("v").as("cv"))
        .unionByName(copies)
        .withColumn("bucket", bucketOf("cv"))
      measure("planted", tier, bits, q, c)
    }

    Seq[(String, Int, String => Column)](
      ("sign", 8, v => Similarity.signBucket(v)),
      ("hyperplane", 4, v => Similarity.hyperplaneBucket(v, 4, seed = 7, dim = 64)),
      ("hyperplane", 6, v => Similarity.hyperplaneBucket(v, 6, seed = 7, dim = 64)),
      ("hyperplane", 8, v => Similarity.hyperplaneBucket(v, 8, seed = 7, dim = 64)),
      ("hyperplane", 10, v => Similarity.hyperplaneBucket(v, 10, seed = 7, dim = 64)),
      ("hyperplane", 12, v => Similarity.hyperplaneBucket(v, 12, seed = 7, dim = 64))
    ).foreach { case (tier, bits, bucketOf) =>
      corpus(tier, bits, bucketOf)
      planted(tier, bits, bucketOf)
    }

    // ---- IVF cells leg (r10): planted-mode recall with CELLS as the
    // buckets — (a) per-label centroids (embed_knn_ivf's fixture
    // convenience, ~10 cells), (b) ml.KMeans-trained cells at k=256
    // (the production quantizer embed_knn_ivf_kmeans uses), swept over
    // probe budgets. The trained tier at a comparable scan fraction
    // should meet or beat the label tier: labels are near-arbitrary
    // partitions of a synthetic corpus, trained cells shape BOTH the
    // candidate volume (cells/nprobe) and where near-neighbors land. ----
    def ivfLeg(tier: String, cents: DataFrame, nprobes: Seq[Int]): Unit = {
      val cw = broadcast(cents.select(col("cl"), col("cv").as("ccv"),
        Similarity.dotC(col("cv"), col("cv")).as("c2")))
      def d2(vc: String) = Similarity.dotC(col(vc), col(vc)) + col("c2") -
        lit(2.0) * Similarity.dotC(col(vc), col("ccv"))
      def assign(df: DataFrame, idC: String, vC: String): DataFrame =
        df.crossJoin(cw).withColumn("__d2", d2(vC))
          .groupBy(col(idC))
          .agg(min(struct(col("__d2"), col("cl"))).as("__m"), first(col(vC)).as(vC))
          .select(col(idC), col(vC), col("__m.cl").as("bucket"))
      val bases = vectors.where(col("vec_id") % 101 === 0)
      val q = bases.select(col("vec_id").as("qid"), col("v").as("qv"))
      val copies = bases
        .select(col("vec_id"), explode(sequence(lit(0), lit(4))).as("k"), col("v"))
        .select((col("vec_id") * 8 + col("k") + lit(1000000000L)).as("nid"), expr(
          "transform(v, (x, i) -> x * (1.0D + (pmod(hash(vec_id, k, i), 2001) - 1000) / 20000.0D))")
          .as("cv"))
      val c = assign(vectors.where(col("vec_id") % 101 =!= 0)
        .select(col("vec_id").as("nid"), col("v").as("cv"))
        .unionByName(copies), "nid", "cv")
        .cache()
      val nCells = math.max(1L, cents.count())
      nprobes.foreach { np =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("__d2"), col("cl"))
        val qp = q.crossJoin(cw).withColumn("__d2", d2("qv"))
          .withColumn("cr", row_number().over(w)).where(col("cr") <= np)
          .select(col("qid"), col("qv"), col("cl").as("bucket"))
        val r = EmbedQueries.recallFramesProbed(q, qp, c)
          .agg(coalesce(avg(col("recall")), lit(0.0)).as("mr")).head().getDouble(0)
        val nq = math.max(1L, q.count())
        val cand = c.join(broadcast(qp.select(col("bucket"))), "bucket").count() / nq
        println(s"""{"mode":"planted","tier":"$tier","cells":$nCells,"nprobe":$np,""" +
          s""""n_queries":$nq,"mean_recall":${math.rint(r * 1e6) / 1e6},"cand_per_query":$cand}""")
      }
      c.unpersist(): Unit
    }
    val vv = vectors.select(col("vec_id"), col("v"))
    ivfLeg("ivf_label",
      graft.queries.EmbedQueries.labelCentroids(vectors), Seq(1, 2, 4))
    val (_, kmCents) = graft.ml.KMeans.fit(vv,
      graft.ml.KMeans.seedSmallest(vv, 256L), iters = 2)
    ivfLeg("ivf_kmeans256", kmCents, Seq(2, 8, 26, 51))

    // ---- PQ codebook leg (r11 verdict): recall@5 of the ADC ranking
    // against exact squared-L2 top-5, planted mode, at EQUAL code
    // budget (M=8 subspaces × 16 entries) — (a) the training-free
    // codebook (sub-slices of the 16 smallest candidate ids, the
    // embed_knn_pq fixture), (b) the same book refined by a 2-round
    // grouped Lloyd fit over all candidate sub-vectors
    // (KMeans.fitGrouped — the FAISS construction). The trained book
    // should recover strictly more of the exact top-5: its cells track
    // the data's per-subspace density instead of 16 arbitrary rows. ----
    def pqLeg(mode: String): Unit = {
      val (mSub, dsub) = (8, 8)
      // "decayed" mode (r13): the synthetic embeddings are near-isotropic
      // (flat spectrum), so the PCAR rotation+cut has nothing to exploit
      // — the honest 0.04 corpus row. Real text/image embeddings decay
      // fast. This mode plants that structure deterministically:
      // u = H · diag(0.85^i) · H · v with H a fixed Householder
      // reflection (orthogonal), i.e. eigenvalues decay geometrically
      // along NON-axis-aligned directions. pq_trained's axis-aligned
      // sub-slices split the energy across all 8 subspaces; pq_rotated's
      // PCA basis re-aligns it, so the rotation's value shows here.
      val vecs = if (mode != "decayed") vectors else {
        val hArr = {
          val raw = Array.tabulate(64)(i => math.sin(i + 1.0))
          val n = math.sqrt(raw.map(x => x * x).sum)
          raw.map(_ / n)
        }
        val dec = Array.tabulate(64)(i => math.pow(0.85, i))
        // M = (I − 2hhᵀ)·diag(dec)·(I − 2hhᵀ) precomputed DRIVER-side;
        // the row transform is then 64 native dot-products (the
        // `rotate` pattern). A lambda formulation that captures the
        // h·v dot inside zip_with re-evaluates it per ELEMENT (Spark
        // neither CSEs into lambda bodies nor survives CollapseProject
        // hoisting) — O(d³) per row instead of O(d²).
        val mM = Array.tabulate(64, 64) { (i, j) =>
          var acc = 0.0
          var k = 0
          while (k < 64) {
            val hik = (if (i == k) 1.0 else 0.0) - 2.0 * hArr(i) * hArr(k)
            val hkj = (if (k == j) 1.0 else 0.0) - 2.0 * hArr(k) * hArr(j)
            acc += hik * dec(k) * hkj
            k += 1
          }
          acc
        }
        vectors.select(col("vec_id"), col("label"),
          array((0 until 64).map(i =>
            Similarity.dotConst("v", mM(i).toIndexedSeq)): _*).as("v"))
      }
      val bases = vecs.where(col("vec_id") % 101 === 0)
      val q = bases.select(col("vec_id").as("qid"), col("v").as("qv"))
      val copies = bases
        .select(col("vec_id"), explode(sequence(lit(0), lit(4))).as("k"), col("v"))
        .select((col("vec_id") * 8 + col("k") + lit(1000000000L)).as("nid"), expr(
          "transform(v, (x, i) -> x * (1.0D + (pmod(hash(vec_id, k, i), 2001) - 1000) / 20000.0D))")
          .as("cv"))
      val real = vecs.where(col("vec_id") % 101 =!= 0)
        .select(col("vec_id").as("nid"), col("v").as("cv"))
      // planted: near-dup targets exist by construction (the easy,
      // must-not-fail case); corpus: exact top-5 among the near-random
      // real vectors — the regime where QUANTIZATION error decides the
      // ranking and a trained book should recover more than the free one
      val cands = (if (mode == "planted") real.unionByName(copies) else real).cache()
      val nq = math.max(1L, q.count())
      def sq(a: String, b: String) = round(greatest(
        Similarity.dot(a, a) + Similarity.dot(b, b) -
          lit(2) * Similarity.dot(a, b), lit(0.0)), 6)
      val w5 = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("d"), col("nid"))
      val exact = cands.crossJoin(broadcast(q))
        .withColumn("d", sq("qv", "cv"))
        .withColumn("rnk", row_number().over(w5)).where(col("rnk") <= 5)
        .select(col("qid"), col("nid")).cache()
      val cSub = graft.queries.EmbedQueries.pqSubSlices(
        cands.select(col("nid").as("vec_id"), col("cv").as("v")), "nid", mSub, dsub)
        .select(col("nid"), col("sub"), col("svec").as("v"))
      // 16 entries per subspace: candidate ids 1..16 (0 is a base and
      // excluded; 101 > 16 so none of 1..16 is) — the training-free
      // book, and the trained tier's seeds (equal code budget)
      val seeds = cSub.where(col("nid").between(1, 16))
        .select(col("sub"), col("nid").as("cl"), col("v").as("cv"))
      def adcRecall(tier: String, book: org.apache.spark.sql.DataFrame,
                    candSub: DataFrame = cSub, qFrame: DataFrame = q,
                    dsubX: Int = dsub): Unit = {
        val cbb = broadcast(book.select(col("sub"), col("cl").as("code"),
          col("cv").as("cvec")))
        val enc = graft.ml.KMeans.assignGrouped(candSub, book, "nid", "sub")
          .select(col("nid"), col("sub"), col("cl").as("code"))
        val adc = graft.queries.EmbedQueries.pqSubSlices(
          qFrame.select(col("qid").as("vec_id"), col("qv").as("v")), "qid", mSub, dsubX)
          .join(cbb, "sub")
          .select(col("qid"), col("sub"), col("code"),
            sq("svec", "cvec").cast("decimal(18,6)").as("qd"))
        val approx = enc.join(broadcast(adc), Seq("sub", "code"))
          .groupBy(col("qid"), col("nid")).agg(sum(col("qd")).as("sd"))
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("qid")).orderBy(col("sd"), col("nid"))))
          .where(col("rnk") <= 5)
          .select(col("qid").as("lqid"), col("nid").as("lnid"))
        val r = exact.join(approx,
            exact("qid") === approx("lqid") && exact("nid") === approx("lnid"), "left")
          .groupBy(col("qid"))
          .agg((count(col("lnid")) / 5.0).as("recall"))
          .agg(coalesce(avg(col("recall")), lit(0.0))).head().getDouble(0)
        println(s"""{"mode":"$mode","tier":"$tier","m":$mSub,"codes":16,""" +
          s""""n_queries":$nq,"mean_recall":${math.rint(r * 1e6) / 1e6}}""")
      }
      // the one recall evaluation for probe-returned frames (the
      // persisted-index tiers) — one implementation, N tiers
      def probeRecall(tier: String, extra: String = "")(approx: DataFrame): Unit = {
        val a = approx.select(col("qid").as("lqid"), col("nid").as("lnid"))
        val r = exact.join(a,
            exact("qid") === a("lqid") && exact("nid") === a("lnid"), "left")
          .groupBy(col("qid"))
          .agg((count(col("lnid")) / 5.0).as("recall"))
          .agg(coalesce(avg(col("recall")), lit(0.0))).head().getDouble(0)
        println(s"""{"mode":"$mode","tier":"$tier","m":$mSub,"codes":16,$extra""" +
          s""""n_queries":$nq,"mean_recall":${math.rint(r * 1e6) / 1e6}}""")
      }
      adcRecall("pq_free", seeds)
      val (_, trained) = graft.ml.KMeans.fitGrouped(
        cSub, seeds, iters = 2, idCol = "nid", grpCol = "sub")
      adcRecall("pq_trained", trained)
      // rotated tier (r12 verdict §2, OPQ-lite/PCAR): top-16 PCA basis
      // fit on the candidates, vectors re-embedded as round-6
      // projections, then the IDENTICAL M×K budget at dsub=2 over the
      // rotated coordinates. Exact arm unchanged (true full-space
      // top-5), so the row measures what the rotation+cut buys/costs.
      val pm = graft.ml.Pca.fitM(cands.select(col("cv").as("v")),
        dim = 64, iters = 8, m = 16)
      def rotate(df: DataFrame, idC: String, vC: String): DataFrame = {
        val centered = zip_with(col(vC), lit(pm.mu), (x, mm) => x - mm)
        df.select(col(idC), array((0 until 16).map(c =>
          round(Similarity.dotC(centered, lit(pm.w(c))), 6)): _*).as(vC))
      }
      val rcSub = graft.queries.EmbedQueries.pqSubSlices(
        rotate(cands, "nid", "cv").select(col("nid").as("vec_id"), col("cv").as("v")),
        "nid", mSub, 2)
        .select(col("nid"), col("sub"), col("svec").as("v"))
      val rotSeeds = rcSub.where(col("nid").between(1, 16))
        .select(col("sub"), col("nid").as("cl"), col("v").as("cv"))
      val (_, rotBooks) = graft.ml.KMeans.fitGrouped(
        rcSub, rotSeeds, iters = 2, idCol = "nid", grpCol = "sub")
      adcRecall("pq_rotated", rotBooks, rcSub, rotate(q, "qid", "qv"), 2)
      // eigenvalue-ALLOCATED rotation — the parametric-OPQ second half
      // (Ge et al. 2013 §3.1; FAISS's OPQ pre-training heuristic):
      // sequential slicing of a variance-DECAYING basis at dsub=2 puts
      // the two largest eigenvalues in subspace 0 and the two smallest
      // in subspace 7 — maximally unbalanced variance products, so one
      // 16-code book absorbs most of the distortion while the tail
      // books quantize noise. Greedily assign components (λ descending)
      // to the subspace with the smallest running Σ log λ and a free
      // slot, then run the IDENTICAL trained chain on the permuted
      // coordinates. Same budget, same exact arm.
      // the greedy now lives in the engine (EmbedQueries.allocGreedy —
      // the embed_pq_alloc gate row and the persisted IVFADC alloc path
      // consume the same implementation this leg measures)
      val destOf = EmbedQueries.allocGreedy(pm.lam.toSeq, mSub, 2)
      val srcOf = Array.ofDim[Int](16)
      destOf.zipWithIndex.foreach { case (dest, src) => srcOf(dest) = src }
      def rotateAlloc(df: DataFrame, idC: String, vC: String): DataFrame = {
        val centered = zip_with(col(vC), lit(pm.mu), (x, mm) => x - mm)
        df.select(col(idC), array((0 until 16).map(d =>
          round(Similarity.dotC(centered, lit(pm.w(srcOf(d)))), 6)): _*).as(vC))
      }
      val acSub = graft.queries.EmbedQueries.pqSubSlices(
        rotateAlloc(cands, "nid", "cv").select(col("nid").as("vec_id"), col("cv").as("v")),
        "nid", mSub, 2)
        .select(col("nid"), col("sub"), col("svec").as("v"))
      val allocSeeds = acSub.where(col("nid").between(1, 16))
        .select(col("sub"), col("nid").as("cl"), col("v").as("cv"))
      val (_, allocBooks) = graft.ml.KMeans.fitGrouped(
        acSub, allocSeeds, iters = 2, idCol = "nid", grpCol = "sub")
      adcRecall("pq_rotated_alloc", allocBooks, acSub, rotateAlloc(q, "qid", "qv"), 2)
      // residual tier (r12 verdict §1): the IDENTICAL M×K budget, but
      // the books train on and encode r = v − coarse_centroid(cell(v))
      // (Jégou 2011 §IV) via the persisted IvfIndex path — k=16 coarse
      // cells probed at nprobe=16 (all of them), so candidate coverage
      // matches the raw tiers exactly and any recall delta is purely
      // the residual encoding. Seeds are the same ids-1..16 sub-slices
      // (of the residual frame), keeping the budget comparison honest.
      val rRoot = graft.ops.Artifacts.root(spark, sfDir, Seq("embeddings"),
          "probe_ivfadc", mode, mSub, dsub, 16) { rRoot =>
        graft.ops.IvfIndex.build(
          cands.select(col("nid").as("vec_id"), col("cv").as("v")),
          k = 16, iters = 2, rRoot)
        graft.ops.IvfIndex.buildPqResidual(spark, mSub, dsub, 16, iters = 2, rRoot)
        graft.ops.IvfIndex.buildSq8(spark, rRoot)
      }
      probeRecall("pq_residual")(graft.ops.IvfIndex.probePqResidual(
        spark, q, rRoot, mSub, dsub, nprobe = 16, topk = 5))
      // rotation ∘ residual composition (the r12 verdict said the two
      // "compose" — measure it): rotate into the top-16 PCA basis, then
      // run the FULL persisted residual-IVFADC chain on the rotated
      // vectors at the identical M×K budget (dsub 8→2; coarse cells
      // also form in rotated space). The exact arm stays the original
      // full-space top-5, so the row reports the end-to-end effect of
      // rotation+cut+residual together.
      val rotCands = rotate(cands, "nid", "cv")
      val rrRoot = graft.ops.Artifacts.root(spark, sfDir, Seq("embeddings"),
          "probe_ivfadc_rot", mode, mSub, 2, 16) { rrRoot =>
        graft.ops.IvfIndex.build(
          rotCands.select(col("nid").as("vec_id"), col("cv").as("v")),
          k = 16, iters = 2, rrRoot)
        graft.ops.IvfIndex.buildPqResidual(spark, mSub, 2, 16, iters = 2, rrRoot)
      }
      probeRecall("pq_rot_residual")(graft.ops.IvfIndex.probePqResidual(spark,
        rotate(q, "qid", "qv"), rrRoot, mSub, 2, nprobe = 16, topk = 5))
      // rotation ∘ ALLOCATION ∘ residual — the full persisted-path
      // composition (r13 verdict §1): the rotated vectors build the
      // residual-IVFADC artifact with alloc = true, so the ENGINE's own
      // per-dim-moment allocation permutes the rotated residual
      // coordinates before encoding and the perm rides the persisted
      // index (probePqResidual replays it). Same budget, same exact arm
      // — this row vs pq_rot_residual isolates what the allocation adds
      // through the production artifact, not just the probe-local math.
      val raRoot = graft.ops.Artifacts.root(spark, sfDir, Seq("embeddings"),
          "probe_ivfadc_rotalloc", mode, mSub, 2, 16) { raRoot =>
        graft.ops.IvfIndex.build(
          rotCands.select(col("nid").as("vec_id"), col("cv").as("v")),
          k = 16, iters = 2, raRoot)
        graft.ops.IvfIndex.buildPqResidual(spark, mSub, 2, 16, iters = 2, raRoot,
          alloc = true)
      }
      probeRecall("pq_rot_alloc_residual")(graft.ops.IvfIndex.probePqResidual(spark,
        rotate(q, "qid", "qv"), raRoot, mSub, 2, nprobe = 16, topk = 5))
      // FULL OPQ refinement (Ge et al., TPAMI 2014 §4 — non-parametric):
      // starting from the rotated+allocated coordinates, ALTERNATE
      // (1) codebook fit on the current rotation, (2) the orthogonal
      // Procrustes update R = V·Uᵀ from the SVD of the 16×16
      // cross-moment M = Σ x·ŷᵀ between the base coordinates and the
      // codebook reconstruction — each iteration is one distributed
      // 256-cell rollup plus a driver-side 16×16 SVD (breeze, public
      // Spark classpath), the refinement confined to the retained PCA
      // subspace. No oracle row: the SVD is not DuckDB-replayable —
      // this leg records the measured gain over the parametric
      // allocation (the verdict's gate-or-skip-with-measurement call).
      val xBase = rotateAlloc(cands, "nid", "cv")
        .select(col("nid"), col("cv").as("x")).cache()
      val qBase = rotateAlloc(q, "qid", "qv")
      var rMat = breeze.linalg.DenseMatrix.eye[Double](16)
      for (t <- 1 to 3) {
        def applyR(df: DataFrame, idC: String, vC: String, out: String): DataFrame =
          df.select(col(idC), array((0 until 16).map(a =>
            Similarity.dotConst(vC, (0 until 16).map(b => rMat(a, b)))): _*).as(out))
        val xr = applyR(xBase, "nid", "x", "v")
        val rSub = graft.queries.EmbedQueries.pqSubSlices(
            xr.select(col("nid").as("vec_id"), col("v")), "nid", mSub, 2)
          .select(col("nid"), col("sub"), col("svec").as("v"))
        val rSeeds = rSub.where(col("nid").between(1, 16))
          .select(col("sub"), col("nid").as("cl"), col("v").as("cv"))
        val (_, books) = graft.ml.KMeans.fitGrouped(
          rSub, rSeeds, iters = 2, idCol = "nid", grpCol = "sub")
        adcRecall(s"pq_opq_iter$t", books, rSub, applyR(qBase, "qid", "qv", "qv"), 2)
        if (t < 3) {
          // reconstruction ŷ per vector (concatenate the assigned
          // per-subspace centroids), then M = Σ x·ŷᵀ in one 256-sum agg
          val recon = graft.ml.KMeans.assignGrouped(rSub, books, "nid", "sub")
            .select(col("nid"), col("sub"), col("cl").as("code"))
            .join(broadcast(books.select(col("sub"), col("cl").as("code"),
              col("cv").as("cvec"))), Seq("sub", "code"))
            .groupBy(col("nid"))
            .agg(expr("flatten(transform(array_sort(collect_list(struct(sub, cvec))), p -> p.cvec))").as("y"))
          val sums = (for (a <- 0 until 16; b <- 0 until 16)
            yield sum(col("x")(a) * col("y")(b)).as(s"m_${a}_$b")).toSeq
          val mRow = xBase.join(recon, "nid").agg(sums.head, sums.tail: _*).head()
          val mMat = breeze.linalg.DenseMatrix.tabulate[Double](16, 16)(
            (a, b) => mRow.getDouble(a * 16 + b))
          val svd = breeze.linalg.svd(mMat)
          rMat = svd.Vt.t * svd.U.t
        }
      }
      xBase.unpersist(): Unit
      // refine tier (two-stage serving, FAISS IndexRefineFlat): the SAME
      // residual-ADC chain cuts a 50-deep shortlist, then only those
      // rows fetch raw vectors for an exact squared-L2 re-rank — the
      // exact arm is the same metric, so this row isolates what the
      // shortlist+refine buys over ranking by codes alone (pq_residual).
      probeRecall("pq_refine", extra = """"shortlist":50,""")(
        graft.ops.IvfIndex.probeRefine(spark, q, rRoot, mSub, dsub,
          nprobe = 16, shortlist = 50, topk = 5))
      // SQ8 refine arm: identical shortlist, re-rank against the int8
      // refine copy (1/8 the fetch bytes) — this row prices the recall
      // delta the quantized refine storage costs vs raw float64
      probeRecall("pq_refine_sq8", extra = """"shortlist":50,""")(
        graft.ops.IvfIndex.probeRefine(spark, q, rRoot, mSub, dsub,
          nprobe = 16, shortlist = 50, topk = 5, fromSq8 = true))
      exact.unpersist(); cands.unpersist(): Unit
    }
    pqLeg("planted")
    pqLeg("corpus")
    pqLeg("decayed")

    // ---- NN-Descent kNN-graph leg (r14 verdict §4): recall@5 of the
    // LSH-seeded graph (EmbedQueries.knnGraphFrame) vs brute force on
    // a ~200-vertex deterministic sample, per propagation round —
    // round 0 is the sign-LSH ring init alone, so the ladder prices
    // exactly what each neighbor-of-neighbor round buys.
    {
      val n = vectors.count()
      val step = math.max(1L, n / 200)
      val qs = vectors.where(pmod(col("vec_id"), lit(step)) === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val dEx = round(greatest(
        Similarity.dot("qv", "qv") + Similarity.dot("cv", "cv")
          - lit(2.0) * Similarity.dot("qv", "cv"), lit(0.0)), 6)
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("d"), col("nid"))
      val exactG = vectors.select(col("vec_id").as("nid"), col("v").as("cv"))
        .crossJoin(broadcast(qs)).where(col("nid") =!= col("qid"))
        .withColumn("d", dEx)
        .withColumn("rnk", row_number().over(wq))
        .where(col("rnk") <= 5).select(col("qid"), col("nid")).cache()
      val nq = math.max(1L, exactG.select(col("qid")).distinct().count())
      for (r <- 0 to 3) {
        val g = EmbedQueries.knnGraphFrame(
            vectors.select(col("vec_id"), col("v")), k = 5, rounds = r)
          .select(col("src").as("lqid"), col("dst").as("lnid"))
        val rec = exactG.join(g,
            exactG("qid") === g("lqid") && exactG("nid") === g("lnid"), "left")
          .groupBy(col("qid")).agg((count(col("lnid")) / 5.0).as("recall"))
          .agg(coalesce(avg(col("recall")), lit(0.0))).head().getDouble(0)
        println(s"""{"mode":"corpus","tier":"knn_graph","k":5,"rounds":$r,""" +
          s""""n":$n,"n_queries":$nq,"mean_recall":${math.rint(rec * 1e6) / 1e6}}""")
      }
      exactG.unpersist(): Unit
      // planted mode: the corpus rows above are honest-flat — uniform
      // random 64-d has NO neighborhood coherence, which is the one
      // structural premise of NN-Descent's local join. Plant it (the
      // planted-mode recipe: 5 near-duplicates per ~101st vector,
      // cos ≈ 0.999) and measure what each propagation round recovers
      // of the true 5-NN lists the copies define.
      val basesK = vectors.where(col("vec_id") % 101 === 0)
      val copiesK = basesK
        .select(col("vec_id"), explode(sequence(lit(0), lit(4))).as("k"), col("v"))
        .select((col("vec_id") * 8 + col("k") + lit(1000000000L)).as("vec_id"),
          expr("transform(v, (x, i) -> x * (1.0D + (pmod(hash(vec_id, k, i), 2001) - 1000) / 20000.0D))")
            .as("v"))
      val aug = vectors.select(col("vec_id"), col("v")).unionByName(copiesK)
        .cache()
      val truth = basesK.select(col("vec_id").as("qid"),
          explode(sequence(lit(0), lit(4))).as("k"))
        .select(col("qid"), (col("qid") * 8 + col("k") + lit(1000000000L)).as("nid"))
        .cache()
      val nqK = math.max(1L, basesK.count())
      for (r <- 0 to 3) {
        val g = EmbedQueries.knnGraphFrame(aug, k = 5, rounds = r)
          .select(col("src").as("lqid"), col("dst").as("lnid"))
        val rec = truth.join(g,
            truth("qid") === g("lqid") && truth("nid") === g("lnid"), "left")
          .groupBy(col("qid")).agg((count(col("lnid")) / 5.0).as("recall"))
          .agg(coalesce(avg(col("recall")), lit(0.0))).head().getDouble(0)
        println(s"""{"mode":"planted","tier":"knn_graph","k":5,"rounds":$r,""" +
          s""""n":$n,"n_queries":$nqK,"mean_recall":${math.rint(rec * 1e6) / 1e6}}""")
      }
      aug.unpersist(); truth.unpersist(): Unit
    }

    // ---- graph-SERVED recall ladder (r16): beam search over the
    // PERSISTED KnnGraph artifact vs brute force, on HELD-OUT queries
    // (vec_id < 50 stay out of the graph — an indexed query's self-row
    // at distance 0 would otherwise skew both arms; the r15 review's
    // lesson). The (beam, hops) ladder at fixed degree 8 prices the two
    // serving knobs a user actually tunes; search cost is independent
    // of n, so read the recall column against the one wall that grows.
    {
      val n = vectors.count()
      val rootS = graft.ops.Scratch.dir("recall_knng") // process-unique, auto-deleted
      val base = vectors.where(col("vec_id") >= 50).select(col("vec_id"), col("v"))
      graft.ops.KnnGraph.build(base, 8, rounds = 2, rootS)
      val qs = vectors.where(col("vec_id") < 50)
        .select(col("vec_id").as("qid"), col("v").as("qv")).cache()
      val dEx = round(greatest(
        Similarity.dot("qv", "qv") + Similarity.dot("cv", "cv")
          - lit(2.0) * Similarity.dot("qv", "cv"), lit(0.0)), 6)
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("d"), col("nid"))
      val exactS = base.select(col("vec_id").as("nid"), col("v").as("cv"))
        .crossJoin(broadcast(qs))
        .withColumn("d", dEx)
        .withColumn("rnk", row_number().over(wq))
        .where(col("rnk") <= 5).select(col("qid"), col("nid")).cache()
      val nqS = math.max(1L, exactS.select(col("qid")).distinct().count())
      for ((beam, hops) <- Seq((4, 3), (8, 4), (16, 6), (32, 8))) {
        val t0 = System.nanoTime()
        val served = graft.ops.KnnGraph.search(spark, qs, rootS,
            beam, hops, topk = 5)
          .select(col("qid").as("lqid"), col("nid").as("lnid"))
        val rec = exactS.join(served,
            exactS("qid") === served("lqid") && exactS("nid") === served("lnid"),
            "left")
          .groupBy(col("qid")).agg((count(col("lnid")) / 5.0).as("recall"))
          .agg(coalesce(avg(col("recall")), lit(0.0))).head().getDouble(0)
        val secs = (System.nanoTime() - t0) / 1e9
        println(s"""{"mode":"served","tier":"knn_graph_search","degree":8,"beam":$beam,"hops":$hops,""" +
          s""""n":$n,"n_queries":$nqS,"mean_recall":${math.rint(rec * 1e6) / 1e6},"secs":${math.rint(secs * 100) / 100}}""")
      }
      exactS.unpersist(): Unit

      // planted served arm: 5 near-copies (cos ≈ 0.999) of each
      // held-out query are APPENDED into the graph — the
      // retrieval-of-near-dups shape through the artifact's own insert
      // path. The corpus arm above is honest-flat (the underlying
      // NN-Descent graph has ~0 recall on structureless random 64-d —
      // recorded since r15), and a one-shot BUILD over base ∪ copies
      // leaves each copy clique DISCONNECTED from the background
      // (k-NN edges all stay inside the clique; measured 0.0 at every
      // budget) — the connectivity problem HNSW's hierarchy and
      // DiskANN's α-pruning exist to solve. The INSERT path solves it
      // here the same way HNSW's insert does: each appended copy
      // beam-searches the existing graph and links BIDIRECTIONALLY
      // where it lands, so a later query retracing that descent finds
      // the clique. This arm therefore measures the serving loop a
      // production corpus actually runs: build base → insert batch →
      // query near the batch.
      val copiesS = qs.select(col("qid"), explode(sequence(lit(0), lit(4))).as("k"),
          col("qv"))
        .select((col("qid") * 8 + col("k") + lit(2000000000L)).as("vec_id"),
          expr("transform(qv, (x, i) -> x * (1.0D + (pmod(hash(qid, k, i), 2001) - 1000) / 20000.0D))")
            .as("v"))
      // reuse rootS: its served ladder is done and never read again, so
      // the copies APPEND into the already-built base graph instead of
      // paying a second identical NN-Descent build (r16 review)
      val rootP = rootS
      graft.ops.KnnGraph.append(spark, copiesS, rootP, beam = 8, hops = 4)
      val truthS = qs.select(col("qid"), explode(sequence(lit(0), lit(4))).as("k"))
        .select(col("qid"), (col("qid") * 8 + col("k") + lit(2000000000L)).as("nid"))
        .cache()
      for ((beam, hops) <- Seq((4, 3), (8, 4), (16, 6), (32, 8))) {
        val served = graft.ops.KnnGraph.search(spark, qs, rootP,
            beam, hops, topk = 5)
          .select(col("qid").as("lqid"), col("nid").as("lnid"))
        val rec = truthS.join(served,
            truthS("qid") === served("lqid") && truthS("nid") === served("lnid"),
            "left")
          .groupBy(col("qid")).agg((count(col("lnid")) / 5.0).as("recall"))
          .agg(coalesce(avg(col("recall")), lit(0.0))).head().getDouble(0)
        println(s"""{"mode":"planted_served","tier":"knn_graph_search","degree":8,"beam":$beam,"hops":$hops,""" +
          s""""n":$n,"n_queries":$nqS,"mean_recall":${math.rint(rec * 1e6) / 1e6}}""")
      }
      truthS.unpersist(); qs.unpersist(): Unit
    }

    vectors.unpersist()
    spark.stop()
  }
}
