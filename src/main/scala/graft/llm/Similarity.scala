package graft.llm

import graft.functions.VectorKernels.{float_cosine, float_dot}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`ArrayType(FloatType)`): brute-force cosine top-k as the exact
  * baseline, plus two sublinear paths — random-hyperplane LSH buckets
  * and IVF coarse quantization — that bound the scored candidate set.
  *
  * Scale design: brute force is |Q|×|C| — fine for small query sets,
  * catastrophic all-pairs at 100 TB. LSH/IVF shuffle corpus once by
  * bucket key and score only same-bucket candidates; both broadcast the
  * (tiny) query set so the corpus never reshuffles per query.
  */
object Similarity {

  /** Exact top-k by cosine for each query vector (deterministic
    * tie-break on corpus id). Query side must be small — it is
    * broadcast; the corpus scan stays pipelined, the only shuffle is
    * the per-query top-k window. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("corpus_id"))
      .withColumn("cos", float_cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** Deterministic pseudo-random hyperplanes (seeded, reproducible
    * across JVMs) for sign-LSH. */
  private[llm] def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(numPlanes, dim)((rnd.nextGaussian()).toFloat)
  }

  /** Random-hyperplane signature: bit j = sign(v · h_j) (Charikar
    * 2002). Vectors with high cosine share sign patterns, so equal
    * signatures → strong candidates. `seed` selects the hash table. */
  def lshSignature(df: DataFrame, vecCol: String, numPlanes: Int, dim: Int,
                   seed: Long = 42L): DataFrame =
    df.withColumn("lsh_sig", lshSigExpr(vecCol, numPlanes, dim, seed))

  private def lshSigExpr(vecCol: String, numPlanes: Int, dim: Int, seed: Long): Column = {
    val planes = hyperplanes(numPlanes, dim, seed)
    (0 until numPlanes).map { j =>
      val h = typedLit(planes(j).toSeq)
      when(float_dot(col(vecCol), h) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** ANN top-k via sign-LSH with MULTI-TABLE + MULTI-PROBE bucketing:
    * `nTables` independent hyperplane sets (seeds 42+t) each hash the
    * corpus once; a candidate is anything sharing a bucket with the
    * query in ANY table, where each query additionally probes all
    * buckets at signature-Hamming ≤ `probeHamming` (Lv et al.,
    * VLDB'07). Recall ≈ 1-(1-p_probe)^nTables vs p^numPlanes for a
    * single exact-probe table — the standard fix for recall collapse
    * on corpora whose neighbors are similar, not near-identical.
    *
    * Scale shape: the corpus is scanned once, emits nTables (table,
    * sig) rows per vector, and never reshuffles — the tiny query side
    * is broadcast with its probe fan-out; candidate pairs are deduped
    * before scoring so each pair is scored once. Cost grows linearly
    * in nTables·probes, never in |corpus|². Recall vs the exact
    * baseline is asserted in LlmSpec. */
  def lshTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              numPlanes: Int = 8, dim: Int = 64,
              nTables: Int = 8, probeHamming: Int = 1): DataFrame = {
    require(probeHamming >= 0 && probeHamming <= 2, "probeHamming in [0,2]")
    def flips(sig: Column): Seq[Column] = {
      val exact = Seq(sig)
      val h1 = if (probeHamming >= 1)
        (0 until numPlanes).map(j => sig.bitwiseXOR(lit(1L << j)))
      else Nil
      val h2 = if (probeHamming >= 2)
        (for { i <- 0 until numPlanes; j <- (i + 1) until numPlanes }
          yield sig.bitwiseXOR(lit((1L << i) | (1L << j)))).toSeq
      else Nil
      exact ++ h1 ++ h2
    }
    // Per-table signatures land in real columns FIRST (persisted, tiny
    // query table) so the probe fan-out XORs cached longs — inlining
    // the signature expression into every flip would replicate the
    // 8-dot tree ~300× per row (codegen explosion).
    val qs0 = queries.select(
        (Seq(col(idCol).as("query_id"), col(vecCol).as("qv")) ++
          (0 until nTables).map(t =>
            lshSigExpr(vecCol, numPlanes, dim, 42L + t).as(s"sig_$t"))): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qs = broadcast(
      qs0.withColumn("probe", explode(array((0 until nTables).flatMap { t =>
          flips(col(s"sig_$t"))
            .map(s => struct(lit(t).as("tbl"), s.as("sig")))
        }: _*)))
        .select(col("query_id"), col("qv"),
          col("probe.tbl").as("tbl"), col("probe.sig").as("probe_sig")))
    val cs = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
      .select(col("corpus_id"), col("cv"), posexplode(
        array((0 until nTables).map(t =>
          lshSigExpr("cv", numPlanes, dim, 42L + t)): _*))
        .as(Seq("tbl", "lsh_sig")))
    // Score BEFORE deduping: the cosine is cheap and computing it
    // pre-shuffle means the dedup exchange carries (id, id, cos)
    // instead of two 64-float vectors per candidate row.
    val cands = qs.join(cs,
        qs("tbl") === cs("tbl") && col("probe_sig") === col("lsh_sig") &&
        col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        float_cosine(col("qv"), col("cv")).as("cos"))
      .dropDuplicates("query_id", "corpus_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** Driver-side Lloyd k-means over a bounded sample (centroids are
    * dimension data: k×dim floats). Deterministic: the sample is
    * hash-filtered (no full sort, no RNG), seeds are the first k
    * sampled vectors, fixed iteration count. */
  private[llm] def sampleKMeans(sample: Array[Array[Float]], k: Int,
                                iters: Int = 5): Array[Array[Float]] = {
    if (sample.isEmpty) return Array.empty
    var cents = Array.tabulate(math.min(k, sample.length))(i => sample(i).clone())
    for (_ <- 0 until iters) {
      val dim = sample.head.length
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          while (i < dim) {
            val diff = v(i) - cents(c)(i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else Array.tabulate(old.length)(i => (sums(c)(i) / counts(c)).toFloat)
      }
    }
    cents
  }

  /** IVF (inverted-file) coarse quantization: corpus assigned to its
    * nearest of `nCentroids` centroids from a sampled k-means (Lloyd
    * over a hash-filtered bounded sample — no full sort, no collect of
    * the corpus); queries probe `nProbe` nearest centroid lists only.
    * The classic FAISS-style scale path: candidate set shrinks by
    * ~nCentroids/nProbe versus brute force. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              sampleSize: Int = 2048): DataFrame = {
    // Uniform pseudo-random sample in ONE pass: order by a seeded hash
    // of the id and take the first sampleSize rows. Spark plans
    // orderBy+limit as TakeOrderedAndProject — a per-partition top-k
    // heap merged on the driver, NO full sort and NO prior count()
    // (the previous form spent a whole extra corpus scan just to size
    // a hash-modulus filter). Hash ordering keeps the sample both
    // deterministic across runs/cluster layouts and independent of id
    // assignment order.
    val sample = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(lit("ivf-sample"), col(idCol)), col(idCol))
      .limit(sampleSize)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).toArray)
    val cents = sampleKMeans(sample, nCentroids).zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }
    val centArray = array(cents.map { case (i, v) =>
      struct(lit(i).as("cid"), typedLit(v).as("cv")) }: _*)

    def assign(df: DataFrame, vec: String, n: Int, out: String): DataFrame =
      df.withColumn("__scored",
          sort_array(transform(centArray, c =>
            struct((-float_cosine(col(vec), c.getField("cv"))).as("negcos"),
                   c.getField("cid").as("cid")))))
        .withColumn(out, transform(slice(col("__scored"), 1, n), s => s.getField("cid")))
        .drop("__scored")

    val c = assign(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv")),
        "cv", 1, "cents")
      .withColumn("cent", element_at(col("cents"), 1)).drop("cents")
    val q = broadcast(assign(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
        "qv", nProbe, "probes"))
    val cands = q.join(c,
      array_contains(col("probes"), col("cent")) && col("query_id") =!= col("corpus_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    cands.withColumn("cos", float_cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** The sampled-k-means centroid MODEL as a persistable table
    * `(cid, cv)` — the coarse-quantizer half of an IVF index artifact.
    * Same deterministic hash-ordered sample and Lloyd fold as
    * [[ivfTopK]]; `refineIters > 0` continues over the full corpus
    * via [[kmeansRefine]] (exact quantized-Long partials, so the
    * refined model is bit-identical on any partitioning). Write with
    * any parquet sink; [[ivfIndexAssignments]]/[[ivfProbeTopK]]
    * consume it from memory or `spark.read.parquet`. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                   nCentroids: Int = 16, sampleSize: Int = 2048,
                   refineIters: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    val sample = corpus
      .select(col(idCol), col(vecCol))
      .orderBy(xxhash64(lit("ivf-sample"), col(idCol)), col(idCol))
      .limit(sampleSize)
      .select(col(vecCol))
      .collect()
      .map(_.getSeq[Float](0).toArray)
    val cents0 = sampleKMeans(sample, nCentroids)
    val cents =
      if (refineIters > 0 && cents0.nonEmpty)
        kmeansRefine(corpus.select(col(vecCol).as("v")), "v", cents0,
          refineIters)
      else cents0
    import spark.implicits._
    cents.zipWithIndex.toSeq
      .map { case (v, i) => (i, v.toSeq) }
      .toDF("cid", "cv")
  }

  /** The inverted-list half of the IVF index artifact: one row per
    * corpus vector, `(cent, corpus_id, cv)` — FAISS's inverted lists
    * as a table. Assignment is the codegen'd argmax-dot kernel against
    * the unit-normalized centroid matrix (a reference object, so plan
    * size is independent of k). Persist with
    * `.write.partitionBy("cent").parquet(...)`: the probe pushes a
    * LITERAL `cent IN (...)` filter, so a cent-partitioned store reads
    * ONLY the probed lists (partition pruning — spec-pinned). */
  def ivfIndexAssignments(corpus: DataFrame, idCol: String,
                          vecCol: String, centroids: DataFrame): DataFrame = {
    import graft.functions.VectorKernels.nearest_centroid
    val cents = collectCentroids(centroids)
    val flat = unitNormFlat(cents)
    corpus
      .select(col(idCol).cast("long").as("corpus_id"), col(vecCol).as("cv"))
      .withColumn("cent",
        nearest_centroid(col("cv"), flat, cents.length, cents(0).length))
  }

  /** Eager, model-sized read of a [[ivfCentroids]] table (cid-dense by
    * construction; validated here so a corrupted artifact fails loud,
    * not as silent mis-assignment). */
  private def collectCentroids(centroids: DataFrame): Array[Array[Float]] = {
    val rows = centroids.select(col("cid").cast("int"), col("cv"))
      .orderBy(col("cid")).collect()
    require(rows.nonEmpty, "empty centroid table")
    require(rows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      "centroid table cids must be dense 0..k-1")
    rows.map(_.getSeq[Float](1).toArray)
  }

  /** INCREMENTAL ANN — the corpus-growth shape for similarity search:
    * top-k neighbors for an arriving query batch by probing a PERSISTED
    * IVF index ([[ivfCentroids]] + [[ivfIndexAssignments]]), never
    * re-assigning or re-scanning the unprobed corpus. Queries rank the
    * centroid model (tiny, broadcast-free: the model is collected
    * driver-side by contract) and probe their `nProbe` nearest lists;
    * the distinct probed list ids — bounded by |queries|·nProbe — are
    * pushed as a literal `isin` into the index scan, which on a
    * `partitionBy("cent")` store prunes to the probed lists only. The
    * query side broadcasts with its probe arrays; candidates are
    * scored by exact cosine and ranked per query (same output schema
    * and tie-break as [[ivfTopK]]/[[bruteForceTopK]]).
    *
    * RECALL-SCALING CONTRACT (nProbe ≤ 0, the default): nProbe
    * resolves to `min(nlist, max(8, ceil(nlist/4)))` — the probe
    * always scans ~1/4 of the inverted lists, floored at 8 so
    * corpus-floor indexes (nlist ≤ 32) keep a usable probe set.
    * nlist grows with the corpus (FAISS practice, so lists stay
    * ~constant-size), and a FIXED nProbe therefore shrinks the
    * scanned corpus fraction by a decade per decade — measured on
    * the decorrelated GenScaleEmb fixture as recall@5 decaying
    * 0.80→0.30 across 2k→2M vectors (SCALE.md round 10). Holding the
    * scan fraction holds recall: under this rule the round-11 decade
    * table measures recall@5 = 0.80/0.64/0.84/0.90 at 2k/20k/200k/2M
    * vectors — ≥0.6 at every decade of the deliberately decorrelated
    * fixture (IVF's worst case; real clustered corpora sit higher at
    * the same fraction), with the 2M probe still 8.7× ahead of
    * per-batch recompute. Callers trading recall for cost pass an
    * explicit nProbe; the driver-SF registration (q96) pins its
    * recall floor by oracle at an explicit setting. */
  def ivfProbeTopK(queries: DataFrame, index: DataFrame,
                   centroids: DataFrame, idCol: String, vecCol: String,
                   k: Int, nProbe: Int = 0): DataFrame = {
    val cents = collectCentroids(centroids)
    val nProbeEff =
      if (nProbe > 0) nProbe
      else math.min(cents.length, math.max(8, (cents.length + 3) / 4))
    val centArray = array(cents.zipWithIndex.map { case (v, i) =>
      struct(lit(i).as("cid"), typedLit(v.toSeq).as("cv")) }: _*)
    val q = graft.core.Caching.eager(
      queries.select(col(idCol).cast("long").as("query_id"),
          col(vecCol).as("qv"))
        .withColumn("__scored",
          sort_array(transform(centArray, c =>
            struct((-float_cosine(col("qv"), c.getField("cv"))).as("negcos"),
                   c.getField("cid").as("cid")))))
        .withColumn("probes",
          transform(slice(col("__scored"), 1, nProbeEff), s => s.getField("cid")))
        .drop("__scored"))
    // driver-sized by the small-query contract: ≤ |queries|·nProbe ids;
    // deduped ON THE DRIVER (r18) — a distinct() here only added an
    // exchange+agg stage in front of a few-hundred-row collect
    val probed = q.select(explode(col("probes")).as("cent"))
      .collect().map(_.getInt(0)).distinct.sorted
    val pruned = index.where(col("cent").isin(probed.map(Int.box): _*))
      .select(col("corpus_id").cast("long").as("corpus_id"),
        col("cv"), col("cent").cast("int").as("cent"))
    val cands = broadcast(q).join(pruned,
      array_contains(col("probes"), col("cent")) &&
        col("query_id") =!= col("corpus_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    cands.withColumn("cos", float_cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** Oracle-safe exact top-k in the quantized integer domain (see
    * [[Dedup.cosineNearDupQuantized]] for why): rank by integer dot
    * product of 1e-3-quantized vectors, ties on corpus id. Scoring runs
    * through the codegen'd [[graft.functions.VectorKernels.long_dot]]
    * flat loop — not the boxed `aggregate(zip_with(...))` shape. */
  def quantizedDotTopK(queries: DataFrame, corpus: DataFrame,
                       idCol: String, vecCol: String, k: Int): DataFrame = {
    import graft.functions.VectorKernels.long_dot
    def quant(df: DataFrame, as: String, vas: String) =
      df.select(col(idCol).as(as),
        transform(col(vecCol), x => round(x.cast("double") * 1000).cast("long")).as(vas))
    val q = broadcast(quant(queries, "query_id", "qv"))
    val c = quant(corpus, "corpus_id", "cv")
    val scored = q.join(c, col("query_id") =!= col("corpus_id"))
      .withColumn("dot", long_dot(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("dot"), col("rank"))
  }

  /** Per-label centroid of an embedding column in the quantized integer
    * domain: every component floors to micro-units
    * (`floor(double(x)·10^6)` — the float→double widening and the
    * multiply are the same IEEE ops in any engine), then sums and
    * counts per (label, position) are EXACT Longs; the mean divides
    * once at the end. This is the cluster-summary / class-prototype
    * aggregation of a curation pipeline (IVF centroid refresh, per-label
    * drift monitoring), expressed as a plain posexplode + hash
    * aggregate: map-side partial sums do the heavy lifting, the shuffle
    * is |labels|·dim rows regardless of corpus size — the right 100 TB
    * shape. Float summation order would NOT be reproducible across
    * partitionings; the quantized-Long domain is order-independent,
    * which is what makes the result oracle-checkable at all.
    *
    * Output: (label, pos, n, sum_q, mu) with `pos` 1-based (SQL array
    * subscript convention) and `mu = double(sum_q)/n` in micro-units.
    */
  def labelCentroidsQ(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("pos0", "x")))
      .select(col("label"), (col("pos0") + 1).as("pos"),
        floor(col("x").cast("double") * 1000000L).cast("long").as("q"))
      .groupBy(col("label"), col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
      .withColumn("mu", col("sum_q").cast("double") / col("n"))

  /** Distributed Lloyd refinement over the FULL corpus — the at-scale
    * continuation of [[sampleKMeans]] for cluster counts past the
    * driver-sample regime (n ≳ maxCentroids·targetClusterSize). Each
    * iteration is two distributed steps: (1) one map-side assignment
    * pass through the codegen'd argmax-dot kernel (centroid matrix as
    * a reference object), (2) one hash-agg centroid update in the
    * QUANTIZED-LONG domain (`floor(x·10⁶)` partial sums — exact and
    * order-free, so refined centroids are bit-identical on any
    * partitioning/cluster size, same rationale as
    * [[labelCentroidsQ]]). The per-iteration collect is k·dim
    * aggregated rows — the same order as the centroid model itself,
    * which must fit on the driver regardless (it ships to executors
    * as the kernel's reference object).
    *
    * Empty clusters keep their previous centroid (standard Lloyd
    * convention, matches [[sampleKMeans]]). Input centroids need not
    * be normalized; assignment normalizes internally each round. */
  def kmeansRefine(corpus: DataFrame, vecCol: String,
                   centsInit: Array[Array[Float]],
                   iters: Int): Array[Array[Float]] = {
    import graft.functions.VectorKernels.nearest_centroid
    require(centsInit.nonEmpty, "need at least one initial centroid")
    val k = centsInit.length
    val dim = centsInit(0).length
    var cents = centsInit
    var it = 0
    while (it < iters) {
      val flat = unitNormFlat(cents)
      // Assignment is materialized in its OWN select below the explode:
      // projected beside posexplode it would plan above the Generate and
      // re-run the argmax-dot kernel once per vector element (the
      // projection-above-Generate pitfall; see Spans.decontaminationStats).
      val agg = corpus
        .select(col(vecCol).as("v"),
          nearest_centroid(col(vecCol), flat, k, dim).as("cent"))
        .select(col("cent"), posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("cent"), col("pos"),
          floor(col("x").cast("double") * 1000000L).cast("long").as("q"))
        .groupBy(col("cent"), col("pos"))
        .agg(sum(col("q")).as("sum_q"), count(lit(1)).as("n"))
        .collect()
      val sums = Array.ofDim[Long](k, dim)
      val counts = new Array[Long](k)
      agg.foreach { r =>
        val c = r.getInt(0); val p = r.getInt(1)
        sums(c)(p) = r.getLong(2)
        counts(c) = r.getLong(3)
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0L) old
        else Array.tabulate(dim)(i =>
          (sums(c)(i).toDouble / 1e6 / counts(c)).toFloat)
      }
      it += 1
    }
    cents
  }

  /** Flatten a centroid matrix row-major with each row scaled to unit
    * norm (zero rows pass through) — the layout
    * [[graft.functions.VectorKernels.nearest_centroid]] consumes. */
  def unitNormFlat(cents: Array[Array[Float]]): Array[Float] =
    cents.flatMap { cv =>
      val norm = math.sqrt(cv.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      if (norm == 0.0) cv else cv.map(x => (x / norm).toFloat)
    }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * near-duplicate pairs via cluster-then-compare. The corpus is
    * assigned to its nearest sampled-k-means centroid BY COSINE (so
    * assignment is scale-free: a vector and any positive rescaling of
    * it land in the same cluster, deterministically), and exact
    * pairwise verification runs only WITHIN each cluster.
    *
    * Scale shape: candidate pairs are Σ cluster² ≈ n²/k. By default k
    * AUTO-SIZES to n/targetClusterSize (one bounded count), holding
    * mean cluster size — and so candidates-per-row — constant as the
    * corpus grows (the paper runs 50k clusters over 5B embeddings;
    * same corpus-sized tuning as [[Dedup.cosineNearDupBucketed]]'s
    * banding). Assignment is one codegen'd argmax-dot kernel call per
    * row against a unit-normalized centroid matrix carried as a
    * reference object (plan size independent of k); the only shuffle
    * is the per-cluster self-join on an equality key AQE can
    * skew-split; the assigned/quantized frame is cached once and read
    * by both join sides.
    *
    * Verification shares [[Dedup]]'s exact integer-domain cosine
    * predicate, so every emitted pair IS a true near-dup pair
    * (precision 1 by construction); recall is the co-cluster
    * probability — exactly 1 for parallel vectors, measured ≥0.8 on
    * perturbed near-parallel twins in LlmSpec. Compared to the
    * sign-LSH route ([[Dedup.cosineNearDupBucketed]]) this trades the
    * multi-band union-of-buckets recall bound for data-adaptive
    * single-assignment buckets — the two candidate generators are
    * complementary; both end in the same exact verifier. */
  def semanticNearDupPairs(corpus: DataFrame, idCol: String,
                           vecCol: String, threshold: Double,
                           nCentroids: Int = 0, sampleSize: Int = 0,
                           targetClusterSize: Int = 256,
                           maxCentroids: Int = 1024,
                           refineIters: Int = 0): DataFrame = {
    import graft.functions.VectorKernels.{long_dot, nearest_centroid}
    val tScaled = Dedup.checkCentiThreshold(threshold)
    val src = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    // auto-size the cluster count to the corpus, like the adaptive
    // sign-LSH banding: a FIXED k means candidates grow as n²/k — the
    // superlinearity class the sf1 harness caught in the fixed 16×8
    // banding. k = n/targetClusterSize holds mean cluster size (and so
    // candidates-per-row) constant. The count is one bounded scan; on
    // a warehouse deployment table stats provide it for free.
    // maxCentroids bounds the DRIVER k-means (sample·k·dim·iters
    // flops); past n ≈ maxCentroids·targetClusterSize, raise the cap
    // and set refineIters > 0 so [[kmeansRefine]] continues the
    // sampled Lloyd over the full corpus — the assignment kernel and
    // join are already cluster-count-agnostic.
    val k =
      if (nCentroids > 0) nCentroids
      else {
        val n = src.count()
        math.max(1, math.min(maxCentroids.toLong,
          n / targetClusterSize).toInt)
      }
    val sSize = if (sampleSize > 0) sampleSize else math.max(2048, 8 * k)
    val sample = src
      .orderBy(xxhash64(lit("semdedup-sample"), col("id")), col("id"))
      .limit(sSize)
      .select(col("v"))
      .collect()
      .map(_.getSeq[Float](0).toArray)
    // pre-normalize centroids to unit vectors: per-row assignment is
    // then argmax DOT, one flat k·dim loop in the codegen'd
    // [[graft.functions.NearestCentroid]] kernel (the centroid matrix
    // is a reference object — corpus-sized k cannot bloat the plan).
    // refineIters > 0 continues the sampled Lloyd over the FULL corpus
    // ([[kmeansRefine]]) — the path for sample-starved large k.
    val sampled = sampleKMeans(sample, k)
    // k-means returns min(k, sample) centroids — and none on an empty
    // corpus; the effective count is what the kernel must be told
    if (sampled.isEmpty)
      return src.limit(0).select(col("id").as("id_a"),
        col("id").as("id_b"), lit(0L).as("dot"))
    val kEff = sampled.length
    val centsFlat: Array[Float] = unitNormFlat(
      if (refineIters > 0) kmeansRefine(src, "v", sampled, refineIters)
      else sampled)
    val dim = centsFlat.length / kEff
    val assigned = src
      .withColumn("cent", nearest_centroid(col("v"), centsFlat, kEff, dim))
      .select(col("id"), col("cent"),
        transform(col("v"),
          x => round(x.cast("double") * 1000).cast("long")).as("qv"))
      .withColumn("norm2", long_dot(col("qv"), col("qv")))
      .transform(graft.core.Caching.eager)
    val a = assigned.select(col("cent"), col("id").as("id_a"),
      col("qv").as("qa"), col("norm2").as("na"))
    val b = assigned.select(col("cent"), col("id").as("id_b"),
      col("qv").as("qb"), col("norm2").as("nb"))
    a.join(b, Seq("cent"))
      .where(col("id_a") < col("id_b"))
      .withColumn("dot", long_dot(col("qa"), col("qb")))
      .where(Dedup.exactCosinePredicate(col("dot"), tScaled,
        col("na"), col("nb")))
      .select(col("id_a"), col("id_b"), col("dot"))
  }
}
