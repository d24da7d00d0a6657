package graft.llm

import graft.functions.MinHashBands
import graft.functions.SimHash64.simhash64
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for corpus curation: exact, MinHash+LSH,
  * SimHash Hamming-banding, and exact n-gram Jaccard verification.
  *
  * Scale design: every method here is shuffle-bounded by |candidate
  * pairs|, never |all pairs|. Exact dedup is one hash aggregation;
  * MinHash/SimHash bucket with band joins (Broder 1997 resp. Manku
  * WWW'07 constructions) so only same-bucket docs ever meet; the O(n²)
  * verifier is applied strictly post-candidate.
  *
  * Cache lifecycle: the sketch operators `persist()` shared
  * intermediates (shingles, banded signatures, fingerprints) because
  * each feeds several plan branches; the caches live until the caller
  * releases them (`spark.catalog.clearCache()` between queries, as
  * Bench/Verify do) — lazy DataFrames give the operator no safe point
  * to unpersist itself.
  */
object Dedup {

  /** Word n-gram shingles of the lowercased text (n >= 1); documents
    * shorter than n words contribute their whole text as one shingle.
    *
    * Built as `zip_with` over k-shifted copies of the token array — one
    * O(w) pass per shingle order — NOT `transform(sequence(...), i =>
    * slice(words, i, n))`, whose per-element slice re-walks the array
    * (O(w²) interpreted; measured 36× slower on the documents table).
    * zip_with pads the shorter side with nulls and `concat(null)` is
    * null, so the trailing n-1 entries are nulls sliced off at the end. */
  def shingles(text: Column, n: Int): Column = {
    require(n >= 1, s"shingle order must be >= 1: $n")
    val words = TextStats.tokens(text)
    if (n == 1) array_distinct(words)
    else {
      val joined = (1 until n).foldLeft(words) { (acc, k) =>
        zip_with(acc, slice(words, lit(k + 1), size(words)),
          (a, b) => concat(a, lit(" "), b))
      }
      array_distinct(
        when(size(words) >= n, slice(joined, lit(1), size(words) - lit(n - 1)))
          .otherwise(array(concat_ws(" ", words))))
    }
  }

  /** Exact duplicate groups: hash-groupBy on the canonical fingerprint.
    * One shuffle on a 128-bit key; at 100 TB combine map-side first.
    * Returns (fingerprint, n_docs, min_doc_id representative). */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextStats.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))

  /** MinHash signature: `numHashes` permutations approximated by seeded
    * 64-bit hashes (min over shingles of xxhash64(seed ++ shingle)) —
    * Broder's min-wise independent permutations. Pure expressions:
    * one `transform`+`array_min` pair per hash, no UDF.
    *
    * REFERENCE form only — a DIFFERENT hash family from the
    * production paths ([[bandHashes]], the `MinHashBands` kernel,
    * derives its 64 hashes Kirsch-Mitzenmacher style from two base
    * hashes): signatures from here are NOT
    * comparable or bucketable against theirs, and each index re-reads
    * the whole shingle string (the measured ~10× slower shape). Use
    * the candidate generators for real dedup. */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { j =>
      array_min(transform(shingleCol, s => xxhash64(lit(j), s)))
    }: _*)

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rows` values, bucket-join on (band index, band hash). Probability
    * a pair with Jaccard j collides: 1-(1-j^rows)^bands — with the
    * default 64 hashes as b=16/r=4 the S-curve knee sits near j≈0.7
    * (P(j=0.8)≈0.9998, P(j=0.5)≈0.63, P(j=0.3)≈0.12), so candidates
    * stay close to true near-dups instead of sweeping in ~1% of all
    * pairs as b=8/r=2 does.
    *
    * Scale mechanics (the 100 TB path):
    *  - each document's signature and band hashes are one per-row fold
    *    ([[bandHashes]]) — no signature shuffle; the only shuffle is
    *    the bucket aggregation;
    *  - `maxBucketSize` drops pathological buckets (empty/boilerplate
    *    text all hashing identically). A true near-dup pair lost from
    *    one oversized bucket still collides in its other ~b·j^r bands,
    *    so the cap costs ~zero recall while bounding worst-case skew.
    *
    * Each input row is banded on its own: rows repeating an id are
    * not merged into one shingle set, so an id's buckets are the union
    * of its rows' buckets (and a pair of two rows of one id is never
    * emitted, since id_a < id_b).
    *
    * Returns distinct (id_a, id_b) with id_a < id_b.
    */
  def minhashLshCandidates(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int = 2, bands: Int = 16, rows: Int = 4,
                           maxBucketSize: Int = 500): DataFrame =
    // no persist on the shingle projection here: the banding below
    // reads it exactly ONCE, so caching it would be pure population
    // overhead — the generate∘verify callers cache theirs because the
    // verify joins read it twice more
    candidatesFromShingles(
      df.select(col(idCol).as("id"), shingles(col(textCol), shingleN).as("sh")),
      bands, rows, maxBucketSize)

  /** Candidate generation over an `(id, sh: array<string>)` shingle
    * table. The shingles column is read once (the banding), so callers
    * need no cache for THIS function. Callers that ALSO verify
    * candidates against the shingle sets should cache the input for
    * those extra reads. */
  private[graft] def candidatesFromShingles(sh: DataFrame, bands: Int, rows: Int,
                                          maxBucketSize: Int): DataFrame =
    bucketPairs(bandedSignatures(sh, bands, rows)
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col("id")).as("ids")), maxBucketSize)

  /** The banding stage of [[candidatesFromShingles]] as its own table:
    * one `(id, band, band_hash)` row per input row per band, the id
    * keeping the caller's type. A map-side `posexplode` of
    * [[bandHashes]] (band = position): no shuffle, and a null or empty
    * shingle set yields no rows. This IS the persistable LSH index —
    * see [[minhashBandIndex]]/[[minhashProbePairs]] for the incremental
    * corpus-growth path built on it. */
  private[graft] def bandedSignatures(sh: DataFrame, bands: Int,
                                      rows: Int): DataFrame =
    sh.select(col("id"), posexplode(bandHashes(col("sh"), bands, rows))
      .as(Seq("band", "band_hash")))

  /** Each document's `bands` MinHash band hashes, in band order, from
    * its `array<string>` shingle column — null for a null or empty
    * shingle set. One codegen'd per-row fold (the `MinHashBands`
    * kernel, which documents the hash family): one pass over the
    * shingles, no explode and no shuffle, so a cached batch frame can
    * carry its bands as one more column ([[bandRows]] unfolds them).
    * Every MinHash path in the engine — the batch index and candidate
    * generator, the admission arrival frame, the streaming twin —
    * bands through this column, so their band hashes agree bit for
    * bit. */
  def bandHashes(sh: Column, bands: Int = 16, rows: Int = 4): Column =
    MinHashBands.minhashBands(sh, bands, rows)

  /** `(id: long, band, band_hash)` rows from a frame carrying a
    * [[bandHashes]] column: the [[minhashBandIndex]] row shape, by a
    * map-side `posexplode` (band = position). */
  private[graft] def bandRows(df: DataFrame, idCol: String,
                              bandsCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      posexplode(col(bandsCol)).as(Seq("band", "band_hash")))

  /** Distinct (id_a < id_b) pairs from per-bucket member lists,
    * dropping singleton and oversized buckets. Shared by the MinHash
    * and sign-LSH candidate generators. */
  private def bucketPairs(buckets: DataFrame, maxBucketSize: Int): DataFrame =
    buckets
      .where(size(col("ids")).between(2, maxBucketSize))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()

  /** The generate ∘ verify core for input ALREADY exact-deduped to one
    * row per canonical text (e.g. after a fingerprint keep-min pass,
    * as in q52 corpus-prep): [[minhashNearDupPairs]] minus the
    * pre-grouping/expansion scaffolding, which on deduped input is
    * pure overhead (a reps aggregation shuffling every text plus two
    * member-expansion joins, all no-ops). Same exactness contract. */
  def nearDupPairsUnique(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double, shingleN: Int = 2,
                         bands: Int = 16, rows: Int = 4,
                         maxBucketSize: Int = 500): DataFrame = {
    val sh = graft.core.Caching.eager(df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh")))
    nearDupPairsFromShingles(sh, threshold, bands, rows, maxBucketSize)
  }

  /** [[nearDupPairsUnique]] for a caller that ALREADY holds the
    * `(id, sh: array<string>)` shingle table — e.g. a corpus-prep plan
    * whose exact-dedup cache carries shingles instead of raw text, so
    * the near-dup stage adds no second cache and never re-tokenizes.
    * `sh` is consumed three times (candidate banding + both verify
    * sides): the caller must have it persisted. */
  def nearDupPairsFromShingles(sh: DataFrame, threshold: Double,
                               bands: Int = 16, rows: Int = 4,
                               maxBucketSize: Int = 500): DataFrame =
    verifyJaccard(candidatesFromShingles(sh.select(col("id"), col("sh")),
      bands, rows, maxBucketSize), sh, threshold)

  /** The exact-Jaccard verifier shared by every MinHash pipeline:
    * joins each candidate pair `(id_a, id_b, …)` back to its two rows
    * of the `(id, sh, …)` shingle table and keeps the pairs whose
    * |∩|/|∪| (via `array_intersect`) is at least `threshold`. Returns
    * `(id_a, id_b, <c>_a, <c>_b for each carried column c, jaccard)`;
    * `carry` names columns of `sh` to bring along from both sides. */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame, threshold: Double,
                            carry: String*): DataFrame =
    cand
      .join(sh.as("sa"), col("id_a") === col("sa.id"))
      .join(sh.as("sb"), col("id_b") === col("sb.id"))
      .withColumn("n_inter", size(array_intersect(col("sa.sh"), col("sb.sh"))))
      .select(Seq(col("id_a"), col("id_b")) ++
        carry.flatMap(c => Seq(col(s"sa.$c").as(s"${c}_a"), col(s"sb.$c").as(s"${c}_b"))) :+
        (col("n_inter").cast("double") /
          (size(col("sa.sh")) + size(col("sb.sh")) - col("n_inter"))).as("jaccard"): _*)
      .where(col("jaccard") >= threshold)

  /** MinHash-LSH candidates verified by exact shingle Jaccard — the
    * complete at-scale near-dup pipeline (generate ∘ verify). The
    * verifier joins each candidate pair back to its two shingle sets
    * and computes |∩|/|∪| per pair via `array_intersect` — cost is
    * O(|candidates|), never O(n²), and the output is exact, which is
    * what makes this SQL-oracle-checkable despite the sketch inside:
    * with b=16/r=4 the generator's miss probability at j ≥ threshold
    * is < 1e-3 (deterministic seeded hashes — verified against the
    * exact all-pairs oracle at the test scale factors).
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double, shingleN: Int = 2,
                          bands: Int = 16, rows: Int = 4,
                          maxBucketSize: Int = 500): DataFrame = {
    // EXACT-DUP PRE-GROUPING: texts sharing a canonical fingerprint
    // have identical token sequences (the fingerprint collapses exactly
    // what tokenization collapses: case + whitespace), hence identical
    // shingle sets and jaccard 1.0 among themselves. LSH therefore runs
    // over ONE representative per fingerprint — a corpus with thousands
    // of copies of one text no longer floods every band's bucket (the
    // failure mode a bare bucket-size cap would mishandle: an
    // oversized bucket shared by ALL bands would drop the whole group).
    // Results are expanded back across group members afterwards, which
    // is O(|output|) work.
    val base = graft.core.Caching.eager(
      df.select(col(idCol).as("id"), col(textCol).as("text"),
        TextStats.fingerprint(col(textCol)).as("fp")))
    val reps = base.groupBy(col("fp"))
      .agg(min(col("id")).as("id"), min_by(col("text"), col("id")).as("text"))
    val sh = graft.core.Caching.eager(reps.select(col("id"), col("fp"),
        shingles(col("text"), shingleN).as("sh")))
    val verifiedReps = verifyJaccard(candidatesFromShingles(
      sh.select(col("id"), col("sh")), bands, rows, maxBucketSize), sh, threshold, "fp")
    val members = base.select(col("fp"), col("id"))
    // cross-group pairs: every member of group A × every member of B
    val cross = verifiedReps
      .join(members.as("ma"), col("fp_a") === col("ma.fp"))
      .join(members.as("mb"), col("fp_b") === col("mb.fp"))
      .select(
        least(col("ma.id"), col("mb.id")).as("id_a"),
        greatest(col("ma.id"), col("mb.id")).as("id_b"),
        col("jaccard"))
    // within-group pairs: exact duplicates, jaccard exactly 1.0
    val within = members.as("x").join(members.as("y"),
        col("x.fp") === col("y.fp") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        lit(1.0).as("jaccard"))
    if (threshold <= 1.0) cross.union(within) else cross
  }

  /** The persistable MinHash-LSH INDEX of a corpus: one `(id, band,
    * band_hash)` row per document per band — exactly the banded
    * signature table the batch pipeline aggregates into buckets, but
    * materialized so a GROWING corpus never recomputes it. Write it
    * with any parquet sink; [[minhashProbePairs]] consumes it (from
    * memory or `spark.read.parquet`) to dedup an incoming batch
    * against the existing corpus without touching the corpus texts'
    * signatures again. The batch's [[bandHashes]] column must use the
    * same shingle order and bands × rows (the defaults of both agree;
    * the derived-hash family is deterministic, so index and probe agree
    * bit-for-bit across sessions — LlmSpec pins the parquet
    * round-trip).
    *
    * Each input row is banded on its own: rows repeating an id yield
    * one set of band rows each, not one signature over their merged
    * shingle sets. On unique ids this is the row set the candidate
    * generator buckets. */
  def minhashBandIndex(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 2, bands: Int = 16,
                       rows: Int = 4): DataFrame =
    bandedSignatures(
      df.select(col(idCol).cast("long").as("id"),
        shingles(col(textCol), shingleN).as("sh")), bands, rows)

  /** INCREMENTAL near-dup — the production corpus-growth shape: dedup
    * an arriving batch against an existing corpus by probing its
    * persisted [[minhashBandIndex]], emitting exact-Jaccard-verified
    * pairs that TOUCH the batch (new-vs-corpus and new-vs-new; pairs
    * between two corpus docs were reported when they arrived and are
    * never re-emitted).
    *
    * The batch arrives as ONE materialized `(id: long, sh, bands)`
    * frame: order-2 shingles ([[shingles]]`(text, 2)`, the index's
    * default order) and their [[bandHashes]] column in the index's band
    * geometry. The caller must pass a frame read from a cache: `sh`
    * feeds both verify sides and `bands` the union and the hot-bucket
    * broadcast, so a lazy plan would re-run its lineage once per
    * consumer. The band rows unfold map-side ([[bandRows]]), so the
    * probe adds no batch-sized cache and no signature shuffle.
    *
    * What stays cold: every corpus signature (the 64-hash fold over
    * every corpus shingle) comes from the index; corpus texts are re-shingled
    * ONLY for docs that appear in a surviving candidate pair (a
    * semi-join-restricted scan — candidate-sized, not corpus-sized).
    * What shuffles: only buckets the batch actually hits (a semi-join
    * on the batch's band keys), so probe cost scales with the BATCH,
    * not the corpus.
    *
    * Cap semantics match the batch operator exactly: a hot bucket's
    * size is counted over corpus+batch members together, and an
    * oversized bucket contributes no pairs — so probe output equals
    * the full-recompute pair set restricted to batch-touching pairs
    * (spec-pinned against the brute-force restriction). */
  def minhashProbePairs(corpus: DataFrame, batch: DataFrame,
                        idCol: String, textCol: String, index: DataFrame,
                        threshold: Double,
                        maxBucketSize: Int = 500): DataFrame = {
    val newSh = batch.select(col("id"), col("sh"))
    val newBanded = bandRows(batch, "id", "bands")
    val unioned = index
      .select(col("id").cast("long").as("id"), col("band"), col("band_hash"))
      .withColumn("is_new", lit(false))
      .unionByName(newBanded.withColumn("is_new", lit(true)))
    // hot is batch-bounded (≤ |batch|·bands rows) but its size is
    // invisible to the planner (it derives from compute), so an
    // unhinted semi-join sort-merges — shuffling the CORPUS-sized
    // index. The explicit broadcast pins the scan-side-streams plan:
    // the index is read once, never exchanged (round-11 measured
    // 7.0 s → scan-bound at 5M docs). NO distinct before the
    // broadcast (r18): the only consumer is a left_semi BUILD side,
    // where duplicate keys change nothing but hash-relation size —
    // band hashes near-never collide within a doc, so the distinct
    // deduped ~nothing and cost one whole exchange+agg AQE stage in
    // the probe's critical job chain.
    val hot = broadcast(newBanded.select(col("band"), col("band_hash")))
    val cand = unioned
      .join(hot, Seq("band", "band_hash"), "left_semi")
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(struct(col("id"), col("is_new"))).as("ms"))
      .where(size(col("ms")).between(2, maxBucketSize))
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .where(col("a.id") < col("b.id") && (col("a.is_new") || col("b.is_new")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.is_new").as("new_a"), col("b.is_new").as("new_b"))
      .distinct()
      // candidate-sized cache: three consumers below (both legs of the
      // old-id union + the verify join) would otherwise re-run the
      // whole bucket pipeline — index scan included — once each
      .transform(graft.core.Caching.eager)
    // corpus shingles ONLY for candidate members. The restriction must
    // sit BELOW the shingling projection in the written plan: Catalyst
    // does not push a semi-join under a projection this expensive
    // (round-11 measured the pushed-late form shingling all 5M corpus
    // docs per probe, 13.6 s; restricted-first it is a bare column
    // scan). oldIds is candidate-bounded → broadcast.
    // union ALL, no distinct (r18): oldIds' only consumer is the
    // left_semi build below — duplicates are harmless there, and the
    // distinct cost an exchange+agg stage between the cand cache and
    // the oldSh cache, squarely on the probe's sequential job chain
    val oldIds = cand.where(!col("new_a")).select(col("id_a").as("id"))
      .union(cand.where(!col("new_b")).select(col("id_b").as("id")))
    // cached (candidate-bounded rows): BOTH verify joins below read
    // allSh, and an uncached oldSh would re-run the corpus restriction
    // scan once per join side (r17 — one corpus scan, not two)
    val oldSh = graft.core.Caching.eager(corpus
      .join(broadcast(oldIds.select(col("id").as("__cand_id"))),
        col(idCol).cast("long") === col("__cand_id"), "left_semi")
      .select(col(idCol).cast("long").as("id"),
        shingles(col(textCol), 2).as("sh")))
    val allSh = newSh.unionByName(oldSh)
    verifyJaccard(cand, allSh, threshold)
  }

  /** Exact Jaccard similarity for given pairs (the post-LSH verifier):
    * explode shingles, join on shingle, |∩| / (|A|+|B|-|∩|). The
    * exploded shingle table is persisted — it feeds the size agg and
    * BOTH sides of the intersection self-join, and would otherwise
    * re-tokenize three times. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, maxId: Option[Long] = None): DataFrame = {
    val base = maxId.map(m => df.where(col(idCol) < m)).getOrElse(df)
    val toks = graft.core.Caching.eager(base.select(col(idCol).as("id"),
        explode(shingles(col(textCol), shingleN)).as("sh")))
    val sizes = toks.groupBy(col("id")).agg(count(lit(1)).as("n_sh"))
    val inter = toks.as("x").join(toks.as("y"),
        col("x.sh") === col("y.sh") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("sa.n_sh") + col("sb.n_sh") - col("n_inter"))).as("jaccard"))
  }

  /** SimHash near-dup pairs: 64-bit fingerprint split into `bands`
    * bit-bands; docs sharing any band are candidates; the popcount of
    * the XOR then keeps exactly the pairs at Hamming distance <=
    * `maxHamming` (Manku et al., WWW'07 block-permutation scheme).
    *
    * Soundness: a pair at Hamming distance d can have at most d dirty
    * bands, so candidate generation is EXHAUSTIVE iff d < bands —
    * pigeonhole leaves >= 1 band untouched. Hence `maxHamming < bands`
    * is required, and the output is exactly
    * {(a,b) : hamming(simhash a, simhash b) <= maxHamming} — a hard
    * contract (asserted against brute-force XOR popcount in LlmSpec),
    * not a probabilistic one. Each band is one equi-join shuffle keyed
    * by (band, 64/bands bits); the fingerprint DF is persisted so the
    * simhash expression evaluates once, not per join side. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        bands: Int = 8, maxHamming: Int = 7): DataFrame = {
    checkSimhashBands(bands)
    cachedHammingCandidates(df.select(col(idCol).as("id"),
        simhash64(TextStats.tokens(col(textCol))).as("sh")),
      bands, maxHamming, keyBlocks = 1)
  }

  /** [[simhashCandidates]] over ALREADY-COMPUTED `(id, sh)`
    * fingerprints. The frame self-joins below, so the caller must pass
    * a materialized (cached / checkpointed) input — a lazy plan would
    * compute the fingerprints once per join side. Exists so a caller
    * that also needs the fingerprints for other checks (q31 verifies
    * candidates against a brute-force Hamming twin over the SAME
    * cached frame) fingerprints the corpus exactly once. */
  def simhashCandidatesFromFp(fp: DataFrame, bands: Int = 8,
                              maxHamming: Int = 7): DataFrame = {
    checkSimhashBands(bands)
    hammingCandidatesFromFp(fp, bands, maxHamming, keyBlocks = 1)
  }

  /** The classic scheme's own check: equal bands. The banding resolves
    * the rest of the geometry, with one key block. */
  private def checkSimhashBands(bands: Int): Unit =
    require(bands > 0 && 64 % bands == 0, s"bands must divide 64, got $bands")

  /** [[hammingCandidatesFromFp]] over a LAZY `(id, words…)` fingerprint
    * frame — the shape of every pair entry point that fingerprints its
    * own input. The geometry is resolved for the frame's word count
    * (read from its schema, no job) BEFORE the frame is cached, so a
    * bad argument runs no job and leaves no cache behind; the frame is
    * then cached once, since the banding counts it and reads it on
    * both join sides. */
  private[llm] def cachedHammingCandidates(fp: DataFrame, blocks: Int,
                                           maxHamming: Int, keyBlocks: Int,
                                           maxBucketSize: Int = 0): DataFrame = {
    geometry(fp.columns.count(_ != "id"), blocks, maxHamming, keyBlocks)
    hammingCandidatesFromFp(graft.core.Caching.eager(fp), blocks,
      maxHamming, keyBlocks, maxBucketSize)
  }

  /** Banding geometry `(blocks, keyBlocks)` sized from the Hamming
    * threshold alone — the measured round-14/15 dispatch rule,
    * productized (SCALE.md): pick the FEWEST combination keys
    * C(blocks, keyBlocks) that (a) stay EXHAUSTIVE by pigeonhole
    * (`keyBlocks <= blocks - maxHamming`) and (b) keep the effective
    * key width `keyBlocks * floor(bits/blocks)` at or above
    * `keyBitsFloor` bits, where `bits = 64 * words` is the
    * fingerprint width. The floor is the saturation guard: an
    * 8-bit key space (blocks=8/keyBlocks=1 at h≤7) has only 256
    * buckets per combination, so bucket occupancy — and the candidate
    * join's output — grows linearly in corpus size and pair
    * generation goes quadratic regardless of true near-dup density
    * (the q33/q80-sf10 failure class; the r15 decade curve in
    * SCALE.md measures 8/1 overtaking 9/2's fixed 36-key cost well
    * before the 10^6 decade). 14 bits covers every decade measured
    * (50k–5M, SCALE.md r16) and the floor should NOT rise with corpus
    * size: each extra combination is one more join emission of every
    * TRUE pair (a pair with d dirty blocks collides in
    * C(blocks−d, keyBlocks) combinations, all evaluated by the
    * canonical filter), so on any corpus with real near-dup families
    * the wider-key forms lose outright — (10,3) measured 47× worse
    * than (9,2) at 50k docs (185.5 vs 3.91 s, clean decade table in
    * SCALE.md r16) and was killed unfinished at 20+ minutes against
    * 9.14 s at 500k, identical pair sets. The superlinearity
    * that once suggested raising the floor toward log2(n) was a
    * planner size-estimate broadcast of the exploded keyed frame
    * (fixed in [[hammingCandidatesFromFp]], r16), not key-space
    * saturation. Ties prefer the wider key. The search is bounded to
    * [[ComboCap]] combination keys — [[hammingCandidatesFromFp]]'s
    * own driver-side expansion cap — so auto sizing can never hand
    * back a geometry the operator would then reject; thresholds
    * where NO exhaustive geometry fits both the floor and the cap
    * (maxHamming >= 13 at the default floor: 3-bit blocks need 5+
    * key blocks, C(18,5) = 8568 already over) fail loudly here with
    * the real diagnosis instead of a misleading "pick a narrower
    * geometry" downstream. Examples: h=3 → (4, 1), 4 keys of 16
    * bits — the measured 19× pair-gen win over 9/2 (SCALE.md r14);
    * h=7 → (9, 2) — 8/1's 8-bit keys fail the floor.
    *
    * Width-dependent, and only these: the default floor
    * (`keyBitsFloor = 0` → [[KeyBitsFloor]]) and the one-Long key
    * bound (the `keyBlocks` widest blocks fit 64 bits — keys join as
    * BIGINT; always true for one word). Two words escape the one-word
    * key ceiling (~15-bit keys at h≤7 fill past ~10^6 docs, 548.8 s
    * at 5M, SCALE.md r16): h=7 → (9, 2), the same 36 keys at ≥28
    * bits; h=8 → (10, 2), 45 keys of ≥24 bits. Fails loudly from h=16. */
  def autoGeometry(maxHamming: Int, words: Int = 1,
                   keyBitsFloor: Int = 0): (Int, Int) = {
    checkWords(words)
    val nBits = 64 * words
    val floor = if (keyBitsFloor == 0) KeyBitsFloor(words) else keyBitsFloor
    require(maxHamming >= 0 && maxHamming < nBits,
      s"maxHamming out of range: $maxHamming")
    require(floor >= 1 && floor <= 64,
      s"keyBitsFloor out of range: $keyBitsFloor")
    var best = (0, 0)
    var bestC = Long.MaxValue
    var bestBits = -1
    var blocks = maxHamming + 1
    while (blocks <= nBits) {
      val width = nBits / blocks                  // narrowest block
      var kb = 1
      while (kb <= blocks - maxHamming) {
        val bits = kb * width                     // narrowest key
        if (bits >= floor && widestKeyBits(nBits, blocks, kb) <= 64) {
          val c = binomAtMost(blocks, kb, ComboCap)
          if (c <= ComboCap &&
              (c < bestC || (c == bestC && bits > bestBits))) {
            best = (blocks, kb); bestC = c; bestBits = bits
          }
        }
        kb += 1
      }
      blocks += 1
    }
    require(best._1 != 0,
      s"no exhaustive $nBits-bit geometry with >= $floor key bits and " +
        s"one-Long keys exists within the $ComboCap-combination cap for " +
        s"maxHamming=$maxHamming; lower the floor or the threshold")
    best
  }

  /** [[autoGeometry]]'s default key-bit floor by width in 64-bit
    * words: 14 for one (the measured decades above), 24 for two (holds
    * combos·n²/2^bits under ~10^7 pairs at 5M docs). No other width
    * has a measured floor, so the banding accepts no other. */
  private val KeyBitsFloor = Map(1 -> 14, 2 -> 24)

  private def checkWords(words: Int): Unit =
    require(KeyBitsFloor.contains(words),
      s"Hamming banding takes fingerprints of 1 or 2 BIGINT words, got " +
        s"$words (no key-bit floor is measured for that width)")

  /** Bits in the `keyBlocks` widest blocks of an `nBits` layout
    * ([[blockLayout]]: the first `nBits % blocks` blocks carry one
    * extra bit) — the widest combination key. */
  private def widestKeyBits(nBits: Int, blocks: Int, keyBlocks: Int): Int =
    keyBlocks * (nBits / blocks) + math.min(keyBlocks, nBits % blocks)

  /** The banding's ONE geometry resolver — pair generation, the
    * membership probe and the streaming twin all call it: `(blocks,
    * keyBlocks, combination count)` for a `words`-word fingerprint,
    * auto-sized by [[autoGeometry]] when both are 0. An explicit
    * geometry must be in range, exhaustive by pigeonhole, keep its
    * keys in one Long, and stay within [[ComboCap]] on the
    * overflow-safe count (blocks=40, keyBlocks=20 ≈ 1.4e11
    * combinations fails here, not by hanging the driver). */
  private[graft] def geometry(words: Int, blocks: Int, maxHamming: Int,
                              keyBlocks: Int): (Int, Int, Long) = {
    if (blocks == 0 || keyBlocks == 0) {
      require(blocks == 0 && keyBlocks == 0,
        s"auto-sizing takes BOTH blocks=0 and keyBlocks=0 (got " +
          s"blocks=$blocks keyBlocks=$keyBlocks) — the two are sized " +
          "jointly; override both or neither")
      val (b, k) = autoGeometry(maxHamming, words)
      return geometry(words, b, maxHamming, k)
    }
    checkWords(words)
    val nBits = 64 * words
    require(blocks >= 1 && blocks <= nBits, s"blocks out of range: $blocks")
    require(maxHamming >= 0 && maxHamming < blocks,
      s"exhaustive only for hamming < blocks: blocks=$blocks maxHamming=$maxHamming")
    require(keyBlocks >= 1 && keyBlocks <= blocks - maxHamming,
      s"pigeonhole needs keyBlocks <= blocks - maxHamming: " +
        s"blocks=$blocks maxHamming=$maxHamming keyBlocks=$keyBlocks")
    val keyBits = widestKeyBits(nBits, blocks, keyBlocks)
    require(keyBits <= 64,
      s"combination keys must fit one Long: the $keyBlocks widest of " +
        s"$blocks blocks hold $keyBits > 64 bits — use more blocks")
    val nCombos = binomAtMost(blocks, keyBlocks, ComboCap)
    require(nCombos <= ComboCap,
      s"C($blocks, $keyBlocks) = ${if (nCombos > ComboCap) s">$ComboCap" else nCombos} " +
        s"combination keys; pick a narrower geometry (cap $ComboCap)")
    (blocks, keyBlocks, nCombos)
  }

  /** Exploded-keyed-row count at or under which the banding pair-gen
    * self-join broadcasts one side explicitly (≈ 100 MB true size at
    * ~25 B/keyed row — comfortably inside executor memory, and the
    * regime where the measured crossover favors broadcast: 2.4 s
    * broadcast vs 7.8 s sort-merge at 36×50k = 1.8M keyed rows;
    * 9.7 s sort-merge vs 43.9 s broadcast-spill at 18M — SCALE.md
    * r16 and r22). Above it the join carries a MERGE hint. The dispatch reads
    * the TRUE size (fp.count() × combination count), never the
    * planner's Generate estimate, which reports the un-exploded
    * child's bytes. */
  val BroadcastKeyedRows = 4000000L

  /** The MEMBERSHIP PROBE's own, tighter broadcast bound. The probe's
    * registered consumer shape is different from pair-gen's: the
    * admission audits collect the probe's (batch-bounded) output under
    * an explicit `broadcast(...)` flag join, so the probe plan
    * executes inside a broadcast-exchange subtree — and there a large
    * explicit batch-side build measured 2× SLOWER than sort-merge at
    * 1.8M keyed rows (q103 at 500k docs: 42.1 s merge vs 89.2 s
    * broadcast, same session), even though the identical probe
    * ISOLATED measures the same build 2.5× FASTER (SCALE.md r16,
    * 450k store × 50k batch: 6.5-13.6 s broadcast vs 18.0-25.2 s
    * merge). The embedded measurement is binding because embedding is
    * the contract. The bound sits just above the largest
    * embedded-measured-good decade — 180k keyed rows (5k-doc batches:
    * q103 flat at sf1, and the isolated probe at 495k×5k measured the
    * broadcast 2.7× faster than the pre-dispatch planner choice) —
    * and well under the embedded-measured-bad 1.8M.
    *
    * STALENESS TRIGGER: the embedded shape this bound assumes is the
    * admission audits' broadcast-flag-join consumption
    * ([[graft.llm.Admission.auditMultimodalWithFps]] — see the
    * matching note there). A consumer that stops collecting the probe
    * output under an explicit broadcast join invalidates the embedded
    * A/B; re-run it before reusing the bound in a new shape. */
  val ProbeBroadcastKeyedRows = 250000L

  /** Driver-side combination-key expansion cap shared by
    * [[autoGeometry]] (search bound) and [[geometry]] (loud guard on
    * explicit geometry): C(40, 20) passes every
    * exhaustiveness bound yet would build ~10^11 probe-key
    * expressions on the driver; any sane geometry stays far below. */
  val ComboCap = 4096L

  /** Canonical-combination index from per-BLOCK cleanliness — the
    * r17 rewrite of the per-pair dedup filter. The original form was a
    * C(blocks, keyBlocks)-deep nested CASE chain whose every arm
    * re-tested a full combination mask against the pair's xor; the
    * banding joins do not whole-stage-codegen (the Generate-fed
    * BroadcastHashJoin falls back to interpreted eval), so that chain
    * ran interpreted PER JOINED ROW and dominated pair-gen wall time
    * (measured 6.2× on the 128-bit dense image fixture at sf0.1:
    * 9.0 s → 1.45 s, identical output — OPTIMIZATION_r17.md §1). Here each
    * BLOCK is tested once (`cleanPred`, `blocks` tests instead of
    * C(blocks, keyBlocks) combination tests), folded into a bitmask,
    * and the first-all-clean-combination index comes from a 2^blocks
    * lookup table (blocks ≤ 16 — every one-word autoGeometry result
    * and the two-word ones to h=13 qualify) or, for wider explicit geometries, a
    * per-combination when-chain over the PRECOMPUTED bitmask (one
    * integer AND per arm instead of one or two 64-bit mask xor-tests).
    * Returns −1 when no combination is clean, exactly like the chain
    * it replaces. */
  private def canonicalCombo(cleanPred: Seq[Column],
                             combos: Seq[Seq[Int]]): Column = {
    val blocks = cleanPred.size
    val cleanBits = cleanPred.zipWithIndex.map { case (p, b) =>
      when(p, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val comboBits = combos.map(_.map(1L << _).sum)
    if (blocks <= 16) {
      val table = Array.tabulate(1 << blocks) { m =>
        comboBits.indexWhere(cb => (m.toLong & cb) == cb)
      }
      element_at(typedLit(table.toSeq), (cleanBits + 1L).cast("int"))
    } else {
      comboBits.zipWithIndex.foldRight(lit(-1): Column) {
        case ((cb, i), els) =>
          when(cleanBits.bitwiseAND(lit(cb)) === cb, lit(i)).otherwise(els)
      }
    }
  }

  /** C(n, k) computed exactly via the symmetric running product,
    * early-exited once it passes `cap`: with k' = min(k, n-k) every
    * partial product is itself a binomial C(n, i) and the prefix is
    * nondecreasing for i <= k', so a prefix over the cap proves the
    * final value is too — the exit is sound AND overflow-safe (the
    * cap is hit long before Long range). Returns the exact value
    * when <= cap, otherwise some value > cap. */
  private def binomAtMost(n: Int, k: Int, cap: Long): Long = {
    val kk = math.min(k, n - k)
    var c = 1L
    var i = 0
    while (i < kk && c <= cap) {
      c = c * (n - i) / (i + 1); i += 1
    }
    c
  }

  /** [[simhashCandidatesFromFp]] generalized to MULTI-BLOCK join keys
    * (Manku et al., WWW'07 §3 "block permutations", in join form) —
    * the fix for the fixed-key-space saturation that single-block
    * banding hits at scale: with `blocks` blocks over 64 bits, a
    * single block key has only 2^(64/blocks) values, so bucket
    * occupancy — and the candidate join's output — grows LINEARLY in
    * n per bucket, i.e. quadratically overall, no matter how few true
    * near-dups exist (the q33 fixed-banding class, re-measured here
    * on q80 at sf10: 391 s). Keying on every combination of
    * `keyBlocks` blocks widens the key space to
    * 2^(keyBlocks·64/blocks) at the price of C(blocks, keyBlocks)
    * probe keys per row, and stays EXHAUSTIVE by pigeonhole: a pair
    * at Hamming distance d ≤ maxHamming dirties at most d blocks, so
    * with keyBlocks ≤ blocks − maxHamming at least one combination is
    * entirely clean and the pair collides there. keyBlocks = 1 is
    * exactly the classic scheme.
    *
    * Fingerprint width: `fp` is `id` plus one or two BIGINT word
    * columns, the non-`id` columns in order — `(id, sh)` is a 64-bit
    * fingerprint, `(id, lo, hi)` a 128-bit one whose `lo` holds bits
    * 0–63. The distance is the popcount over every word's xor, blocks
    * may straddle a word boundary ([[comboKeyExprs]] stitches those),
    * and `hamming` in the output is that total; only the geometry's
    * floor and one-Long key bound depend on the width.
    *
    * Sizing: pass `blocks = 0, keyBlocks = 0` (the recommended
    * default) to size the geometry from `maxHamming` via
    * [[autoGeometry]] — the measured dispatch rule: the FEWEST
    * combinations whose key width clears the floor, sized to the
    * threshold you ACTUALLY run (both wider keys and a looser
    * threshold's geometry cost measured pair-gen time; see there).
    * Every geometry goes through the shared [[geometry]] checks.
    *
    * `maxBucketSize` (0 = OFF, the default — exhaustiveness by
    * pigeonhole is this operator's contract): pair volume is quadratic
    * in duplicate-family WIDTH (a width-w family is a near-clique
    * emitting ~w²/2 pairs — measured 24.8M pairs per modality on q101's
    * width-100 families at sf10), so a width-10⁴ boilerplate family
    * would emit ~5·10⁷ pairs from ONE family. A positive cap bounds
    * that the STREAMING twin's way ([[graft.streaming.EventStream
    * .streamingImageNearDupCandidates]]): per (combo, key) bucket only
    * the `maxBucketSize` LOWEST ids pair (id order = the twin's arrival
    * order), and each over-cap bucket announces itself with ONE loud
    * sentinel row `(id_a = -1, id_b = <bucket key>, hamming = -1)` —
    * recall loss is declared, never silent (filter `id_a >= 0` for the
    * pair stream). With ids arriving in order, capped batch output ==
    * the capped streaming twin's (spec-pinned in StreamingSpec). */
  def hammingCandidatesFromFp(fp: DataFrame, blocks: Int,
                              maxHamming: Int, keyBlocks: Int,
                              maxBucketSize: Int = 0): DataFrame = {
    val words = fp.columns.toSeq.filterNot(_ == "id")
    val (b, kb, _) = geometry(words.size, blocks, maxHamming, keyBlocks)
    val combos = blockCombos(b, kb)
    val keyed = keyedRows(fp, words, b, kb)
    // CANONICAL-COMBO dedup instead of a distinct(): a near-identical
    // pair collides in MANY combinations (up to all of them), so the
    // join emits up to C(blocks, keyBlocks) copies per pair — a
    // distinct() would shuffle that entire multiplied volume. Instead
    // each pair keeps only the row of its FIRST all-clean combination
    // (a per-row bitwise when-chain over precomputed block masks,
    // evaluated map-side on the join output), so every pair survives
    // exactly once and no dedup exchange exists at all.
    val (widths, offsets) = blockLayout(b, words.size)
    val xors = words.map(w => col(s"a.$w").bitwiseXOR(col(s"b.$w")))
    val ham = xors.map(bit_count).reduce(_ + _)
    // bits [start, end) of one 64-bit word as a mask; empty → 0
    def rangeMask(start: Int, end: Int): Long =
      if (start >= end) 0L
      else if (end - start == 64) -1L
      else ((1L << (end - start)) - 1) << start
    // per-BLOCK cleanliness → canonical index via [[canonicalCombo]]
    // (the r17 lookup-table rewrite of the per-pair combination-mask
    // CASE chain — see there for the measurement). Block bits
    // [o, o+w) land in word i as [o, o+w) ∩ [64i, 64i+64); a word the
    // block does not touch contributes no test.
    val blockClean = (0 until b).map { blk =>
      val (o, w) = (offsets(blk), widths(blk))
      xors.zipWithIndex.flatMap { case (x, i) =>
        val m = rangeMask(math.max(o, 64 * i) - 64 * i,
          math.min(o + w, 64 * i + 64) - 64 * i)
        if (m == 0L) None else Some(x.bitwiseAND(lit(m)) === 0L)
      }.reduce(_ && _)
    }
    val canonical = canonicalCombo(blockClean, combos)
    // candidate (a, b) rows → the pairs within maxHamming, each once:
    // hamming test FIRST, the cheap conjunct (popcounts vs the
    // canonical bitmask fold) — interpreted And short-circuits
    // left-to-right
    def verified(cands: DataFrame, combo: Column): DataFrame =
      cands.where(ham <= maxHamming && combo === canonical)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          ham.as("hamming"))
    if (maxBucketSize <= 0) {
      // SIZE-DISPATCHED join strategy — never the planner's estimate:
      // the keyed frame is C(blocks, keyBlocks)·n rows, but Generate
      // (posexplode) reports its CHILD's size estimate — the cached
      // (id, sh) frame, 16 bytes/doc — so at corpora around 500k docs
      // the estimate lands under the 10 MB broadcast threshold while
      // the true exploded side is GIGABYTES (measured: a 6.5 GiB
      // driver-side broadcast build at 500k docs × 120 combos,
      // spilling the block store — SCALE.md r16). The dispatch is
      // the hammingProbeTouch `bruteBelow` discipline applied to the
      // join strategy: fp is materialized by this operator's contract,
      // so counting it is one cheap cached-scan job, and the TRUE
      // exploded row count picks the side. Small (≤ BroadcastKeyedRows
      // ≈ tens of MB true size): explicit broadcast — measured 2.4 vs
      // 7.8 s at 50k docs, the sort pays nothing back. Large: a MERGE
      // hint pins sort-merge, whose cost is the shuffle of the keyed
      // rows themselves — the volume the geometry sizing already
      // accounts for, and the only shape that survives a 1000-executor
      // corpus (a per-executor GiB-scale broadcast does not).
      val nDocs = fp.count()
      val keyedRows = nDocs * combos.size
      // LOUD REGIME SENTINEL, not a behavior change: past ~10^6 docs
      // the one-word h≤7 key space genuinely fills (random bucket
      // collisions grow n²/2^keyBits per combination while true pairs
      // grow n — measured 9.14 s at 500k vs 548.8 s at 5M on the dense
      // image fixture, SCALE.md r16), and the measured mitigations are
      // semantic choices only the caller can make: tighten maxHamming
      // (h≤3 is linear through 5M), or set maxBucketSize > 0 for the
      // capped path with its sentinel rows. Wider keys are measured
      // NOT to be a mitigation (every extra combination re-emits every
      // true pair — autoGeometry's scaladoc). The expected-collision
      // estimate uses the narrowest combination key, conservatively;
      // at sane two-word geometries it is far out of reach.
      locally {
        val minKeyBits = combos.map(_.map(widths).sum).min
        val expectedRandomPairs =
          combos.size.toDouble * nDocs.toDouble * nDocs.toDouble /
            math.pow(2.0, minKeyBits.toDouble)
        if (expectedRandomPairs > 5e9)
          System.err.println(
            f"[graft] hammingCandidatesFromFp: $nDocs%,d docs × " +
              f"${combos.size} combination keys of ≥$minKeyBits bits — " +
              f"expected random bucket collisions ≈ $expectedRandomPairs%.1e " +
              "pairs, PAST the decade measured flat (SCALE.md r16). " +
              "Tighten maxHamming or set maxBucketSize > 0; wider keys " +
              "are measured not to help.")
      }
      val (left, right) =
        if (keyedRows <= BroadcastKeyedRows)
          (broadcast(keyed.as("a")), keyed.as("b"))
        else (keyed.as("a").hint("merge"), keyed.as("b"))
      verified(left.join(right,
          col("a.combo") === col("b.combo") &&
          col("a.key") === col("b.key") &&
          col("a.id") < col("b.id")), col("a.combo"))
    } else {
      // capped path: buckets accumulate through the bounded top-k
      // aggregate ([[graft.functions.BoundedMinK]] — a size-cap
      // max-heap per (combo, key) buffer carrying every word,
      // hash-agg shape, map-side partial merge), so BOTH the
      // aggregation state and the shuffle
      // are O(cap) per bucket regardless of family width — where a
      // collect-then-slice form materialized the ENTIRE over-cap
      // bucket in one unspillable agg buffer (a width-10^7 family =
      // a 10^7-struct array per (combo, key) task, the exact executor
      // OOM the cap exists to prevent), and a rank-window form pays a
      // per-partition sort of every keyed row (measured 1.6-1.9×
      // slower, SCALE.md r13). The cap lowest ids = the streaming twin's
      // arrival-order semantics under ordered ids; the true bucket
      // size rides along as the sentinel witness.
      val grouped = keyed
        .groupBy(col("combo"), col("key"))
        .agg(graft.functions.BoundedMinK.collect_min_k(
          col("id"), words, maxBucketSize).as("mk"))
        .select(col("combo"), col("key"),
          col("mk.ms").as("ms"), col("mk.n").as("n"))
      val sentinels = grouped.where(col("n") > maxBucketSize)
        .select(lit(-1L).as("id_a"), col("key").cast("long").as("id_b"),
          lit(-1).as("hamming"))
      verified(grouped
        .select(col("combo"), col("ms"))
        .where(size(col("ms")) >= 2)
        .select(col("combo"), col("ms"), posexplode(col("ms")).as(Seq("i", "a")))
        .select(col("combo"), col("a"),
          explode(slice(col("ms"), col("i") + lit(2),
            lit(maxBucketSize))).as("b")), col("combo"))
        .unionByName(sentinels)
    }
  }

  /** MEMBERSHIP probe for the admission service's media stores: the
    * batch ids having ANY Hamming-≤`maxHamming` partner in `storeFp`
    * or among SMALLER-ID rows of `bf` (q98's conservative
    * monotone rule, per modality). Both inputs are one-word `(id, sh)`
    * fingerprints with non-null sh (non-decodable media never flags —
    * drop nulls before calling); the geometry comes from the shared
    * [[geometry]] resolver.
    *
    * Scale shape, the q95 probe discipline: the batch side is keyed
    * once and cached (batch-sized); the STORE is scanned exactly once
    * — its combo keys are generated map-side and restricted to the
    * batch's hot buckets via a broadcast semi-join BEFORE any
    * exchange. In the batch-broadcast regime (batch keyed rows ≤
    * [[ProbeBroadcastKeyedRows]]) that means NO store-side shuffle at
    * all: the hot-restricted store keyed rows stream through a
    * broadcast hash join and per-arrival cost is the store's columnar
    * scan plus batch-sized joins. ABOVE the bound the MERGE hint
    * sort-merges both joins, and the shuffled volume is the
    * hot-bucket-restricted store keyed rows — which approaches
    * corpus×combos when a huge batch's buckets cover the store; that
    * is the volume the geometry sizing accounts for, and the only
    * shape that survives when the batch side itself is too big to
    * broadcast. Exhaustive
    * by the same pigeonhole as [[hammingCandidatesFromFp]]
    * (membership needs only ONE clean combination, so no
    * canonical-combo dedup is needed — the final distinct is over
    * batch ids).
    *
    * Size dispatch (`bruteBelow`): a batch at or under it skips the
    * banding entirely — the batch's (id, sh) pairs aggregate to ONE
    * broadcast row and a codegen xor/popcount kernel
    * ([[graft.functions.HammingKernels]]) tests every store row
    * against all of them during the bare columnar scan. Measured at a
    * 5M-row store (SCALE.md r13, q103): the banding probe's 36-combo map-side
    * key expansion alone costs 30.4 s materialized (the probe ~15 s)
    * vs 0.42 s for the bare scan — the kernel keeps the scan bare, so
    * a ~500-doc arrival pays ~|store|·|batch| popcounts ≈ the scan
    * floor. Above the threshold the per-row popcount sweep loses to
    * the fixed 36-key expansion and the banding probe takes over.
    * Both paths are exact (spec-pinned equal); the brute path's only
    * join is a one-row broadcast (condition-free, never a shuffle).
    *
    * Cache contract: `bf` must read from the caller's cache, e.g. a
    * projection and null filter of a cached arrival frame. It feeds
    * both legs on either path and is not cached again here, so the
    * brute path adds no cache. The banding path caches its keyed batch
    * rows: a long-running caller must invoke this inside a
    * `Caching.scoped` block spanning the consuming action — the
    * admission service entry points do — or clearCache afterwards;
    * otherwise each call leaks one MEMORY_AND_DISK block.
    *
    * `nBatch` is an UPPER BOUND on `bf`'s row count, such as the row
    * count of the cached frame before the null filter. It steers only
    * the size dispatch (brute path at or under `bruteBelow`) and the
    * broadcast bound of the banding joins, both exact either way; an
    * overestimate can only pick the banding path or a merge join
    * where the true count would not. A `bf` with zero rows returns no
    * ids on either path.
    *
    * Geometry: [[geometry]], auto-sized at `blocks = keyBlocks = 0`
    * — (9, 2) at the default maxHamming=7. */
  def hammingProbeTouch(storeFp: DataFrame, bf: DataFrame, nBatch: Long,
                        blocks: Int = 0, maxHamming: Int = 7,
                        keyBlocks: Int = 0,
                        bruteBelow: Long = 2048): DataFrame = {
    val (b, kb, nCombos) = geometry(1, blocks, maxHamming, keyBlocks)
    if (nBatch == 0L)
      return bf.select(col("id")).limit(0)
    if (nBatch <= bruteBelow) {
      import graft.functions.HammingKernels.hamming_touched_ids
      // ONE row: the batch as index-aligned id/fingerprint arrays
      val bArr = broadcast(bf
        .agg(sort_array(collect_list(struct(col("id"), col("sh")))).as("bp"))
        .select(transform(col("bp"), x => x("id")).as("__ids"),
          transform(col("bp"), x => x("sh")).as("__shs")))
      val vsStore = storeFp.select(col("sh")).crossJoin(bArr)
        .select(explode(hamming_touched_ids(col("sh"), col("__ids"),
          col("__shs"), maxHamming)).as("id"))
      // the smaller-id test sits ABOVE the explode (a predicate on
      // generator output cannot fold into the one-row join's condition
      // — an `array_min(...) < id` filter directly on the join would,
      // turning the condition-free broadcast into what plan audits
      // read as an inequality-only join); duplicates collapse in the
      // final distinct
      val vsBatch = bf.crossJoin(bArr)
        .select(col("id"), explode(hamming_touched_ids(col("sh"),
          col("__ids"), col("__shs"), maxHamming)).as("__t"))
        .where(col("__t") < col("id"))
        .select(col("id"))
      return vsStore.unionByName(vsBatch).distinct()
    }
    def keyed(fp: DataFrame): DataFrame = keyedRows(fp, Seq("sh"), b, kb)
    val bk = graft.core.Caching.eager(keyed(bf))
    // no distinct before the broadcast (r18): left_semi build side —
    // duplicate (combo, key) rows only pad the hash relation, and the
    // distinct cost an exchange+agg stage per probe
    val hot = bk.select(col("combo"), col("key"))
    val sk = keyed(storeFp)
      .join(broadcast(hot), Seq("combo", "key"), "left_semi")
    // SIZE-DISPATCHED join strategy, the [[hammingCandidatesFromFp]]
    // fix applied to the probe's joins: sk is Generate-shaped, so the
    // planner sees the un-exploded STORE scan's bytes (~16 B/doc) and
    // can pick the gigabyte store side as the broadcast build when its
    // estimate undercuts the cached batch frame's true size. The batch
    // side's TRUE exploded row count is known here (nBatch × combos),
    // so broadcast IT when provably small — which also preserves the
    // scan-the-store-once contract exactly (store keyed rows stream
    // through the hash join with no exchange); above
    // [[ProbeBroadcastKeyedRows]] — the probe's own bound, tighter
    // than pair-gen's because the probe executes inside its consumer's
    // broadcast subtree where a large build measured 2× slower (see
    // the bound's scaladoc for both sides of that measurement) — a
    // MERGE hint pins sort-merge, whose shuffle volume is the keyed
    // rows the geometry already accounts for. Applied to BOTH joins so
    // the strategy never depends on the session's
    // autoBroadcastJoinThreshold.
    val bkRows = nBatch * nCombos
    def aSide: DataFrame =
      if (bkRows <= ProbeBroadcastKeyedRows) broadcast(bk.as("a"))
      else bk.as("a").hint("merge")
    val xor = col("a.sh").bitwiseXOR(col("b.sh"))
    val vsStore = aSide.join(sk.as("b"),
        col("a.combo") === col("b.combo") && col("a.key") === col("b.key"))
      .where(bit_count(xor) <= maxHamming)
      .select(col("a.id").as("id"))
    val vsBatch = aSide.join(bk.as("b"),
        col("a.combo") === col("b.combo") && col("a.key") === col("b.key") &&
        col("b.id") < col("a.id"))
      .where(bit_count(xor) <= maxHamming)
      .select(col("a.id").as("id"))
    vsStore.unionByName(vsBatch).distinct()
  }

  /** Nearly-equal contiguous bit-block layout over a fingerprint of
    * `words` 64-bit words (word i holds bits 64i … 64i+63): (widths,
    * bit offsets); the first `64·words % blocks` blocks carry the extra
    * bit. Shared by the batch combo join, the probe and the streaming
    * twin so their bucket keys are bit-identical. */
  private[graft] def blockLayout(blocks: Int,
                                 words: Int = 1): (Array[Int], Array[Int]) = {
    checkWords(words)
    val nBits = 64 * words
    val base = nBits / blocks
    val widths = Array.tabulate(blocks)(i => if (i < nBits % blocks) base + 1 else base)
    (widths, widths.scanLeft(0)(_ + _))
  }

  /** `(id, words…, combo, key)`: one row per fingerprint per
    * combination key ([[comboKeyExprs]]). */
  private def keyedRows(fp: DataFrame, words: Seq[String], blocks: Int,
                        keyBlocks: Int): DataFrame = {
    val wordCols = words.map(col)
    fp.select((col("id") +: wordCols) :+
      posexplode(array(comboKeyExprs(wordCols, blocks, keyBlocks): _*))
        .as(Seq("combo", "key")): _*)
  }

  /** The C(blocks, keyBlocks) block combinations in enumeration order:
    * combination i is bucket key i of [[comboKeyExprs]], mask i of
    * [[comboMasks]] and index i of the batch canonical-combo lookup,
    * so this one order is what makes their canonical combos agree. */
  private def blockCombos(blocks: Int, keyBlocks: Int): Seq[Seq[Int]] =
    (0 until blocks).combinations(keyBlocks).toSeq

  /** The low `w` bits set. (1L << 64) wraps to 1 (Java shifts mod 64),
    * so the full-width single-block case is spelled as -1L. */
  private def widthMask(w: Int): Long = if (w == 64) -1L else (1L << w) - 1

  /** The C(blocks, keyBlocks) combination-key expressions over a
    * fingerprint given as its BIGINT word columns (see
    * [[hammingCandidatesFromFp]]), in [[blockCombos]] order.
    * The geometry must come from [[geometry]], so every key fits one
    * Long. */
  private[graft] def comboKeyExprs(words: Seq[Column], blocks: Int,
                                   keyBlocks: Int): Seq[Column] = {
    val (widths, offsets) = blockLayout(blocks, words.size)
    def blockBits(b: Int): Column = {
      val w = widths(b)
      val (i, o) = (offsets(b) / 64, offsets(b) % 64)
      val m = lit(widthMask(w))
      if (o + w <= 64) shiftrightunsigned(words(i), o).bitwiseAND(m)
      else // straddles words i and i+1; 0 < o < 64 here, so both
           // shifts are in (0, 64) and Java's mod-64 wrap never bites
        shiftrightunsigned(words(i), o)
          .bitwiseOR(shiftleft(words(i + 1), 64 - o)).bitwiseAND(m)
    }
    blockCombos(blocks, keyBlocks).map { combo =>
      combo.foldLeft(lit(0L)) { (acc, b) =>
        shiftleft(acc, widths(b)).bitwiseOR(blockBits(b))
      }
    }
  }

  /** One mask per combination of a 64-bit fingerprint's blocks, in
    * [[comboKeyExprs]] order: a pair's canonical combination is the
    * first index whose mask clears the pair's xor — the streaming
    * Hamming twin's form of the batch canonical-combo filter. */
  private[graft] def comboMasks(blocks: Int, keyBlocks: Int): Array[Long] = {
    val (widths, offsets) = blockLayout(blocks)
    blockCombos(blocks, keyBlocks).map(
      _.map(b => widthMask(widths(b)) << offsets(b)).reduce(_ | _)).toArray
  }

  /** Embedding cosine near-dup in the exact integer domain: vectors
    * quantized to 1e-3, pairs kept when dot > 0 and
    * 10^4·dot² > (t·10^2)²·|a|²·|b|² — algebraically identical to
    * cosine > t but free of float-comparison nondeterminism (the
    * SQL-oracle-safe form; the float kernel [[graft.functions.VectorKernels]]
    * is the production scorer). The dot product runs through the
    * codegen'd [[graft.functions.VectorKernels.long_dot]] kernel (flat
    * loop, no boxed lambdas), and the threshold comparison is done in
    * decimal(38,0) so it stays exact even when dot² · 10^4 exceeds the
    * Long range (non-unit-norm or high-dimensional embeddings). */
  def cosineNearDupQuantized(emb: DataFrame, idCol: String, vecCol: String,
                             threshold: Double): DataFrame = {
    import graft.functions.VectorKernels.long_dot
    val tScaled = checkCentiThreshold(threshold)
    val withNorm = quantizeWithNorm(emb, idCol, vecCol)
    withNorm.as("a").join(withNorm.as("b"), col("a.id") < col("b.id"))
      .withColumn("dot", long_dot(col("a.qv"), col("b.qv")))
      .where(exactCosinePredicate(col("dot"), tScaled,
        col("a.norm2"), col("b.norm2")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("dot"))
  }

  /** Embedding cosine near-dup at scale: sign-LSH banded candidate
    * generation ∘ the SAME exact integer-domain verification as
    * [[cosineNearDupQuantized]] — generate∘verify, like the MinHash
    * path, replacing the all-pairs `a.id < b.id` self-join (the one
    * O(n²) shape in the toolkit) with equi-joins bounded by
    * |same-bucket pairs|.
    *
    * Candidate generation: `bands`·`bandBits` random-hyperplane sign
    * bits (Charikar 2002; deterministic seeded planes shared with
    * [[Similarity]]), split into `bands` bands of `bandBits` bits;
    * vectors sharing any band's bit pattern are candidates, joined on
    * (band, bits) — one shuffle keyed by a (int, int) pair, never a
    * cross product. Signatures are computed over the QUANTIZED vectors
    * with quantized planes through the codegen'd `long_dot` kernel, so
    * generation and verification read one cached (id, qv, norm2) table.
    *
    * Recall contract (the reason the q33 oracle can stay exact): a
    * pair at cosine c collides in one band with p(c)^bandBits,
    * p(c) = 1 - arccos(c)/π, and is MISSED with (1-p^bandBits)^bands.
    * Band GEOMETRY is sized to the corpus unless the caller pins it:
    * sign bits index a 2^bandBits bucket space per band, so FIXED bits
    * make mean bucket occupancy n/2^bandBits — and candidate pairs
    * C(n,2)·bands/2^bandBits — grow quadratically in n (measured: the
    * 16×8 round-6 constant ran q33 0.9 s at sf0.1 and 30+ s at sf1).
    * Auto-sizing picks bandBits ≈ log2(n) (occupancy O(1), candidates
    * O(n·bands)) and then bands = ln(1/targetMiss)/p(t)^bandBits so the
    * miss bound holds at the REQUESTED threshold; if that would exceed
    * the bands cap (signature cost ceiling), bandBits steps back down
    * until it fits — recall is the contract, candidate volume the dial.
    * Signature cost grows O(log n) per vector, the textbook LSH trade.
    * The corpus count + max|v|² ride in ONE bounded 2-scalar job on the
    * cached quantized frame; max|v|² also proves when the verify
    * predicate fits entirely in Long arithmetic (Cauchy-Schwarz bounds
    * dot² by |a|²·|b|², so 10⁴·maxNorm2² ≤ Long.MAX makes BOTH sides
    * overflow-free), keeping the decimal(38,0) path for genuinely
    * large-norm corpora only.
    * LOW thresholds (the 0.35 exploratory regime) are not LSH-prunable
    * by any parameterization — P(band match) for random pairs exceeds
    * true-pair recall — so [[cosineNearDupQuantized]] remains the
    * honest tool there. LlmSpec asserts set-equality vs the all-pairs
    * twin; the deterministic planes make the check reproducible. */
  def cosineNearDupBucketed(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, dim: Int,
                            bands: Int = 0, bandBits: Int = 0,
                            maxBucketSize: Int = 2000,
                            targetMiss: Double = 1e-3): DataFrame = {
    import graft.functions.VectorKernels.{long_dot, sign_bands}
    require(threshold >= 0.8,
      s"sign-LSH banding only prunes at near-dup thresholds (>= 0.8, got " +
      s"$threshold); use cosineNearDupQuantized below that")
    val tScaled = checkCentiThreshold(threshold)
    // the bounded driver stats job (one row, two scalars) doubles as
    // the cache-materializing action — persist + one agg, not
    // Caching.eager's count() followed by a second stats pass
    val q = graft.core.Caching.register(quantizeWithNorm(emb, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val stats = q.agg(count(lit(1)), max(col("norm2"))).head()
    val n = stats.getLong(0)
    val maxNorm2 = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    val p = 1.0 - math.acos(threshold) / math.Pi
    val bandsCap = 96
    def bandsFor(bb: Int): Int =
      math.max(8, math.ceil(math.log(1.0 / targetMiss) / math.pow(p, bb)).toInt)
    require(bands == 0 || bandBits > 0,
      s"pinning bands=$bands requires pinning bandBits too - a lone " +
      "bands value would be silently discarded by the auto-sizer")
    val (nBits, nBands) =
      if (bandBits > 0 && bands > 0) (bandBits, bands)
      else if (bandBits > 0) (bandBits, bandsFor(bandBits))
      else {
        val auto = math.min(18, math.max(8,
          math.ceil(math.log(math.max(n, 2).toDouble) / math.log(2.0)).toInt))
        val fitted = (auto to 8 by -1)
          .find(bb => bandsFor(bb) <= bandsCap).getOrElse(8)
        (fitted, bandsFor(fitted))
      }
    // the signature-cost ceiling is a LOUD bound, not a silent clamp:
    // clamping bands below bandsFor() would break the targetMiss
    // recall contract while the caller believes it holds; a pinned
    // geometry is likewise refused when it blows past the ceiling
    require(nBands <= bandsCap,
      s"$nBands bands needed for targetMiss=$targetMiss at bandBits=" +
        s"$nBits exceeds the signature-cost ceiling $bandsCap; relax " +
        "targetMiss, lower the threshold expectation, or pin a " +
        "narrower geometry")
    // quantized hyperplanes (seed disjoint from Similarity's ANN
    // tables), flattened into the one-pass packed-signature kernel
    val planesFlat: Array[Long] = Similarity.hyperplanes(nBands * nBits, dim, seed = 7L)
      .flatMap(_.map(f => math.round(f * 1000.0)))
    val banded = q.select(col("id"),
      posexplode(sign_bands(col("qv"), planesFlat, nBands, nBits, dim))
        .as(Seq("band", "band_bits")))
    // same bucket-collect pair generation as the MinHash path: one
    // shuffle, no self-join. The cap is recall-safe for the same
    // multi-band reason (a pair lost to one flooded bucket still
    // collides in its other ~bands·p^bandBits bands).
    val cands = bucketPairs(banded.groupBy(col("band"), col("band_bits"))
      .agg(collect_list(col("id")).as("ids")), maxBucketSize)
    // Long fast path: with 10⁴·maxNorm2² ≤ Long.MAX, Cauchy-Schwarz
    // caps every term below overflow; otherwise exact decimal(38,0)
    val longSafe = maxNorm2 <= 30000000L
    def pred(dot: Column, na: Column, nb: Column): Column =
      if (longSafe)
        dot > 0 && dot * dot * lit(10000L) > lit(tScaled * tScaled) * na * nb
      else exactCosinePredicate(dot, tScaled, na, nb)
    cands
      .join(q.as("a"), col("id_a") === col("a.id"))
      .join(q.as("b"), col("id_b") === col("b.id"))
      .withColumn("dot", long_dot(col("a.qv"), col("b.qv")))
      .where(pred(col("dot"), col("a.norm2"), col("b.norm2")))
      .select(col("id_a"), col("id_b"), col("dot"))
  }

  /** Connected components over an undirected edge list — the cluster
    * step that turns pairwise near-dup PAIRS (minhash/simhash/cosine
    * outputs above) into dedup GROUPS with one canonical representative
    * each; without it a triangle A~B, B~C, A~C dedups to two survivors
    * instead of one.
    *
    * Algorithm: iterative min-label propagation with POINTER JUMPING —
    * each round every node adopts the smallest label among itself and
    * its neighbors (one hop), then chases its label's label (doubling).
    * Hop-only propagation needs O(diameter) rounds; the jump compresses
    * chains so convergence is O(log diameter) — the same doubling idea
    * as the Hash-to-Min / two-phase map-reduce CC algorithms. Each
    * round is three well-partitioned shuffles (neighbor join + min-agg,
    * jump join) over the edge list, all partial-aggregable — the
    * standard at-scale shape; near-dup components are shallow (dup
    * variants of one document), so rounds stay single-digit.
    *
    * Returns (id, cluster_id) for every node THAT APPEARS IN AN EDGE;
    * cluster_id is the component's minimum id. Isolated nodes are the
    * caller's to keep (left-join + coalesce to own id). The loop runs
    * at most `maxIter` rounds and STOPS EARLY at the fixpoint; it
    * requires convergence rather than returning a partial labeling —
    * a silently-unconverged result would merge nothing visibly wrong.
    *
    * Adaptive small-side short-circuit (the broadcast-join idea applied
    * to iteration): an edge list at or under `driverThreshold` rows
    * with Long ids is collected and union-found on the driver — one job
    * instead of rounds × joins, because each distributed round costs
    * scheduling floor regardless of data size. Real dedup workloads sit
    * on both sides: a per-batch dup scan is dim-sized, a full-corpus
    * pass is not, and the threshold (like autoBroadcastJoinThreshold)
    * picks per input. Pass driverThreshold = 0 to force the distributed
    * path (the spec does, to test it at any size).
    */
  // One conf-isolated loop session per caller session (weak keys: a
  // dropped caller session releases its clone), reused across
  // [[connectedComponents]] invocations — see the memoization comment
  // inside. Idempotent: a loop session maps to its own record, so the
  // quotient-recursion path (whose frames are rooted ON the clone)
  // never stacks clone-of-clone sessions, each of which would pay the
  // first-use setup again — and, because the lock is reentrant, the
  // recursive frame re-acquires the lock its outer frame holds.
  // The lock serializes conf-sync + loop on the shared clone: without
  // it, a second concurrent invocation's getAll copy could replay a
  // caller conf change (ANSI, timezone) into the first invocation's
  // running loop. A contended entry falls back to a fresh clone —
  // pays the one-time executor-side setup, never waits, never races.
  // `synced` records the caller conf keys mirrored onto the clone at
  // the last entry, so a key the caller has since UNSET is unset on
  // the clone too instead of lingering forever (guarded by `lock`).
  private final class LoopClone(val sess: org.apache.spark.sql.SparkSession) {
    val lock = new java.util.concurrent.locks.ReentrantLock()
    var synced: Set[String] = Set.empty
  }
  private val loopSessions = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession, LoopClone]()
  private def loopClone(orig: org.apache.spark.sql.SparkSession): LoopClone =
    loopSessions.synchronized {
      import scala.jdk.CollectionConverters._
      loopSessions.values.asScala.find(_.sess eq orig).getOrElse {
        var c = loopSessions.get(orig)
        if (c == null) { c = new LoopClone(orig.newSession()); loopSessions.put(orig, c) }
        c
      }
    }
  // test-only window onto the memoized clone's conf (the clone is
  // otherwise unobservable — its staleness rules need a direct pin)
  private[graft] def loopSessionConf(orig: org.apache.spark.sql.SparkSession,
                                     key: String): Option[String] =
    Option(loopSessions.synchronized(loopSessions.get(orig)))
      .flatMap(r => Option(r.sess.conf.get(key, null)))

  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
                          driverThreshold: Long = 250000): DataFrame = {
    require(edges.columns.length == 2, "edges must be a 2-column (src, dst) frame")
    val e0 = edges.toDF("src", "dst")
    val isLongIds = e0.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // r17: every registered consumer passes a COMPUTED pair-generation
    // plan as `edges` (a banding join, an LSH verify, a quotient), and
    // this method used to re-run that plan once for the limit-probe,
    // again for the driver collect, and TWICE more in the bidir union
    // legs below. One eager cache at entry pays the subtree exactly
    // once; the count riding the cache job replaces the limit-probe
    // outright, and the collect / both bidir union legs read cached
    // batches. The cache is transient — released as soon as the driver
    // collect or the bidir materialization consumed it — so peak edge
    // storage is bidir's, same as before, plus one edge copy only
    // during the bidir build. (MEMORY_AND_DISK: a trillion-edge frame
    // spills instead of evicting, and one spilled write still beats
    // re-running the generating join three times.)
    // The cache is skipped when the caller FORCES the distributed path
    // (driverThreshold <= 0): no count is needed there, and the only
    // remaining benefit (one bidir double-read saved) measured a net
    // loss on the cheap arithmetic edge fixtures that force that path
    // (q67 +0.38 s) — a caller forcing the loop with an expensive edge
    // plan should pre-cache it.
    val useEntryCache =
      isLongIds && driverThreshold > 0 && driverThreshold < Int.MaxValue
    val (e, nInputEdges) =
      if (useEntryCache) graft.core.Caching.eagerCounted(e0) else (e0, -1L)
    if (useEntryCache && nInputEdges <= driverThreshold) {
      import e.sparkSession.implicits._
      val pairs =
        try e.where(col("src") =!= col("dst")).as[(Long, Long)].collect()
        finally e.unpersist(false)
      return driverUnionFind(pairs).toDF("id", "cluster_id")
    }
    // Adaptive execution is OFF for the WHOLE invocation (restored on
    // exit) — setup included, not just the rounds: every frame here
    // has an explicitly chosen layout (the edge cache is hand-
    // partitioned on the join key at a width sized to the measured
    // edge volume below, labels are checkpointed), so runtime
    // re-planning buys nothing — while its stage-by-stage
    // materialization turns each setup action and each round into
    // several separate jobs plus a driver re-optimization gap between
    // them (measured: the setup's two cache builds were 2-3 AQE stage
    // jobs each; the whole invocation dropped from 12 jobs to 4 —
    // two setup caches + one per round — with AQE off throughout and
    // the two auto-broadcasts pinned to shuffled hash below). The
    // skew AQE would guard against is
    // already handled ALGEBRAICALLY here: the only hot-key hazard is
    // a hub node's neighbor list, and the min() aggregate that
    // consumes the join is map-side combinable, so a hot key
    // collapses to one row per map task before the shuffle.
    // The loop settings (AQE off, loop-sized shuffle width) live on a
    // CLONED session — newSession(): own SessionState/SQLConf, shared
    // SparkContext and CacheManager — so a query running CONCURRENTLY
    // on the caller's session keeps its own conf (spec-pinned in
    // LlmSpec). The clone is MEMOIZED per caller session and reused
    // across invocations: a fresh newSession() pays an executor-side
    // first-job session-state setup on EVERY call (~0.8 s at sf0.1,
    // measured, SCALE.md r13 — a reused clone's second round drops
    // back to the caller session's round time), which the round-12
    // per-invocation clone charged to every CC invocation (q67
    // 2.09 → 3.25 s). The caller's runtime conf is copied onto the
    // clone at entry (diff-only — the pair share SparkConf defaults)
    // so ANSI/timezone/caseSensitive behave as the caller set them;
    // AQE/width are then overridden for the loop. Concurrent CC
    // invocations on the SAME caller session share the memoized clone,
    // so their width settings can race — a shuffle-width (performance)
    // race only, never a correctness one, and the r12 isolation goal
    // (user queries keep their conf) is untouched. The edge frame is
    // re-rooted onto the clone and the result handed back on the
    // caller's session; caching is shared, so the finally-block
    // unpersists work unchanged.
    val origSess = e.sparkSession
    val rec = loopClone(origSess)
    // tryLock, never wait: a contended entry (another CC invocation on
    // the same caller session is mid-loop on the shared clone) gets a
    // FRESH clone — it pays the one-time executor-side session setup
    // but cannot replay this caller's conf into the running loop, and
    // the running loop cannot leak its width into this one. The
    // recursion path re-enters on the same thread (reentrant lock).
    val memoized = rec.lock.tryLock()
    val sess = if (memoized) rec.sess else origSess.newSession()
    val origAll = origSess.conf.getAll
    if (memoized) {
      // keys a prior sync mirrored that the caller has since unset:
      // unset them on the clone too (falls back to the shared
      // SparkConf defaults the caller also sees) — a diff-copy alone
      // never removes clone-only keys, so e.g. an ANSI flag the caller
      // set once would otherwise stay on the clone forever
      (rec.synced -- origAll.keySet).foreach { k =>
        try sess.conf.unset(k)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      rec.synced = origAll.keySet
    }
    origAll.foreach { case (k, v) =>
      if (sess.conf.get(k, null) != v)
        try sess.conf.set(k, v)
        catch { case scala.util.control.NonFatal(_) => () }
    }
    sess.conf.set("spark.sql.adaptive.enabled", "false")
    val ec = org.apache.spark.sql.GraftSqlBridge.rebase(sess, e)
    var bidir: DataFrame = null
    var seed: DataFrame = null
    def body(): DataFrame = {
    // cached PRE-PARTITIONED on the neighbor-join key: a cached
    // DataFrame advertises its outputPartitioning, so every round's
    // join reuses this layout instead of re-shuffling the edge side
    // dedup AFTER the dst-repartition, not via distinct() before it:
    // hash(dst) partitioning satisfies the (src, dst) clustering that
    // dropDuplicates needs (dst is a subset of the group key), so the
    // whole setup is ONE shuffle and the cache still advertises the
    // dst layout every round's join reuses
    val (bidir0, nEdges) = graft.core.Caching.eagerCounted(
      ec.union(ec.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src") =!= col("dst"))
        .repartition(col("dst")).dropDuplicates("src", "dst"))
    // the entry cache has served its last consumer (both union legs of
    // the bidir build) — free it before the loop
    if (useEntryCache) e.unpersist(false)
    bidir = bidir0
    // SEED labels, materialized: min(id, neighbors) — this is both the
    // loop's init (saving round 1's inline recompute) and the
    // contraction key below; the count riding the cache job is the
    // node count that decides WHETHER to contract.
    // Below ~1M edges the extra seed-materialization job costs more
    // than any contraction could save (toy-floor regime, measured on
    // the q67 chain fixture) — keep the untouched loop there.
    if (nEdges >= 1000000L) {
      seed = graft.core.Caching.eager(
        bidir.groupBy(col("src")).agg(min(col("dst")).as("__mn"))
          .select(col("src").as("id"),
            least(col("src"), col("__mn")).as("rep")))
    }
    val nNodes = if (seed ne null) seed.count() else Long.MaxValue
    // SEED CONTRACTION (round 11), DENSITY-GATED: the loop's per-round
    // cost is one label message PER EDGE, so on dense near-dup graphs
    // (clique-like duplicate families — the q101 image graph carries
    // 24.8M pairs for 500k nodes) every round shuffles the whole edge
    // multiset. The seed labeling already collapses each clique onto
    // its minimum, so quotienting the edges by the seed labels leaves
    // only edges BETWEEN seed-blocks — for clique-heavy graphs a tiny
    // remainder (measured: the image graph's 24.8M edges quotient to
    // its cross-family bridges; CC fell 183 s → 9.3 s), and the loop
    // (or the driver union-find, if the quotient now fits the
    // threshold) runs on the quotient with labels composed back
    // through the seed. Quotient node ids are original ids and each
    // component's minimum is its own seed rep, so the composed output
    // is bit-identical to the un-contracted loop's (spec-pinned on
    // random graphs, both paths). The DENSITY GATE: sparse graphs
    // (chains/trees, bidir/node ratio ~2) quotient to ~the same edge
    // count and would pay the two contraction joins for nothing
    // (measured: +43% on the q67 chain fixture) — so contraction runs
    // only when the mean degree says blocks exist to collapse
    // (bidir rows ≥ 8 × nodes, i.e. 2E ≥ 8N — mean undirected
    // degree 2E/N ≥ 8).
    val contracted = (seed ne null) && nEdges >= 8L * nNodes
    def compose(repLabels: DataFrame): DataFrame =
      seed.join(repLabels.select(col("id").as("rep"), col("cluster_id")),
          Seq("rep"), "left")
        .select(col("id"),
          coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
        .localCheckpoint(true)
    var loopEdgeCount = nEdges
    if (contracted) {
      val (quot0, qEdges) = graft.core.Caching.eagerCounted(
        bidir
          .join(seed.select(col("id").as("src"), col("rep").as("__ra"))
            .hint("shuffle_hash"), Seq("src"))
          .join(seed.select(col("id").as("dst"), col("rep").as("__rb"))
            .hint("shuffle_hash"), Seq("dst"))
          .where(col("__ra") =!= col("__rb"))
          .select(col("__ra").as("src"), col("__rb").as("dst"))
          .repartition(col("dst")).dropDuplicates("src", "dst"))
      // the original edge cache serves no path below — free it now
      bidir.unpersist()
      bidir = quot0
      loopEdgeCount = qEdges
      if (qEdges == 0L) {
        // an empty quotient means every edge's endpoints share a seed
        // rep — the seed IS a consistent component labeling, and each
        // component's global min labels itself
        return compose(seed.limit(0).select(col("id"),
          col("rep").as("cluster_id")))
      }
      if (isLongIds && driverThreshold > 0 && qEdges <= driverThreshold) {
        import sess.implicits._
        val pairs = bidir.where(col("src") < col("dst"))
          .as[(Long, Long)].collect()
        return compose(
          driverUnionFind(pairs).toDF("id", "cluster_id"))
      }
      if (qEdges * 2 <= nEdges) {
        // the quotient halved the graph — recurse (geometric progress;
        // base cases above terminate it)
        return compose(connectedComponents(
          bidir.where(col("src") < col("dst")), maxIter, driverThreshold))
      }
    }
    // Loop parallelism is sized ONCE to the measured edge volume —
    // the same decision AQE's partition coalescing makes per stage,
    // paid a single time for the whole iteration instead of per round.
    // The count rides the cache-materializing job (eagerCounted — no
    // separate count() job); the
    // target is ~250k edges/partition (a few MB of (src,dst) pairs),
    // capped high enough that a trillion-edge graph still fans out to
    // thousands of tasks. Every round's shuffle then runs at a width
    // matched to the data instead of rounds x (session partitions)
    // near-empty tasks.
    val sessParts = sess.conf.get("spark.sql.shuffle.partitions").toInt
    val loopParts = math.min(math.max(1L, (loopEdgeCount + 249999L) / 250000L),
      math.max(sessParts, 2048).toLong).toInt
    // The edge cache is RE-laid-out only when the loop needs MORE
    // partitions than the session width gave it (a graph so fat that
    // sessParts-wide partitions overflow memory) — the at-scale safety
    // valve. Scaling DOWN (loopParts < sessParts, the toy-scale case)
    // keeps the session-width cache as-is: every round's join follows
    // the cache's advertised hash(dst) layout, so a sessParts-wide
    // stage is one parallel task wave on a sessParts-core runtime, and
    // dropping the second cache-materialization job saves more than
    // narrow stages ever did (r6 setup = 2 jobs; now 1). Aggregates
    // and the jump join still run at loopParts via the conf below.
    if (loopParts > sessParts) {
      val wide = bidir
      val b = graft.core.Caching.eager(
        wide.repartition(loopParts, col("dst")))
      wide.unpersist()
      bidir = b
    }
    sess.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    // seed labels at min(id, neighbors) instead of id: the first
    // propagation round's hop is exactly this aggregate, so folding it
    // into the init (one agg over the cached edges, no join) removes a
    // full join+jump round from every invocation — at toy scale that
    // is ~1s of the operator's bench time, at cluster scale one fewer
    // shuffle barrier. NOT materialized: round 1's single job computes
    // the seed inline — every reference canonicalizes to the same
    // aggregate exchange over the cached edge frame, so ReuseExchange
    // pays the shuffle once, and skipping the seed checkpoint is one
    // fewer job per invocation.
    var labels =
      if (contracted)
        // fresh seed over the QUOTIENT (reps' min neighboring rep)
        bidir.groupBy(col("src"))
          .agg(min(col("dst")).as("__mn"))
          .select(col("src").as("id"),
            least(col("src"), col("__mn")).as("label"))
      else if (seed ne null) seed.select(col("id"), col("rep").as("label"))
      else
        bidir.groupBy(col("src"))
          .agg(min(col("dst")).as("__mn"))
          .select(col("src").as("id"),
            least(col("src"), col("__mn")).as("label"))
    // the checkpoint currently backing `labels` (none until round 1
    // materializes) — released as soon as the next round lands (each
    // round's blocks would otherwise stay persisted on the executors
    // for up to maxIter rounds)
    var roundCp: DataFrame = null
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // (1) min label among self + neighbors; the previous label rides
      // along as `old` so the fixpoint test needs no extra join later.
      // ONE shuffle decides the hop: neighbor contributions (the join
      // rides bidir's cached partitioning; only labels move) union the
      // self rows, then a single min() per id. The older three-shuffle
      // form (join on dst, re-agg on src, re-join labels on id) moved
      // the label frame twice more per round for the same result. The
      // previous label rides the self branch as `old` (null on
      // contributions; max() over the group recovers the unique self
      // value) so the fixpoint test still needs no extra join.
      // shuffle_hash pinned on the label side: Spark's size estimate
      // would auto-BROADCAST the label frame at toy scale — an extra
      // broadcast-build job every round — while at 100 TB a frame with
      // one row per node never fits a broadcast, so the shuffled hash
      // join (labels move to bidir's cached hash(dst) layout, edge
      // side stays put) is the only shape that holds at the design
      // point; pinning it keeps toy job counts honest about it.
      val contrib = bidir
        .join(labels.select(col("id").as("dst"), col("label").as("nl"))
            .hint("shuffle_hash"), Seq("dst"))
        .select(col("src").as("id"), col("nl").as("label"),
          lit(null).cast(labels.schema("label").dataType).as("old"))
      val hopPlan = contrib.unionByName(
          labels.select(col("id"), col("label"), col("label").as("old")))
        .groupBy(col("id"))
        .agg(min(col("label")).as("label"), max(col("old")).as("old"))
      // The changed-label count is COUNTED DURING the round's one
      // materializing job via an accumulator instead of a separate
      // `where(label =!= old).isEmpty` scan — one fewer full pass over
      // the label frame per round at any scale. A retried task can
      // only OVER-count (forcing a harmless extra round); a zero is
      // exact, because every successful task's updates are merged
      // exactly once and the eager checkpoint materializes every
      // partition before `.value`.
      val changed = sess.sparkContext.longAccumulator("cc_changed")
      val hop = hopPlan.map { r =>
          if (r.get(1) != r.get(2)) changed.add(1L)
          r
        }(org.apache.spark.sql.Encoders.row(hopPlan.schema))
      // (2) pointer jump fused into the SAME action: label :=
      // label(label) — labels are min-monotone, so the jump only ever
      // lowers them. ONE localCheckpoint per round (the r5 form
      // materialized hop and jump separately — two checkpoint jobs per
      // round, measured as the bulk of the toy-scale bench row; the
      // checkpoint still truncates lineage, which otherwise DOUBLES
      // per round and OOMs the driver with exponential plan strings).
      // Both self-join sides reference the IDENTICAL `hop` subtree:
      // the opaque row-encoder map stops column pruning from
      // specializing one side, so the hop aggregate's exchange
      // canonicalizes identically on both and ReuseExchange computes
      // that shuffle once within the job. Each hop row then flows
      // through the counting map once per join side, so a nonzero
      // change count may read doubled — irrelevant: convergence tests
      // == 0, and zero stays exact. Convergence is still decided on
      // the HOP (a neighbor-min fixpoint forces labels constant per
      // component), and at the fixpoint the jump is the identity
      // (label(m) = m for every component minimum m), so the final
      // round's fused jump changes nothing — correct output, one job.
      // shuffle_hash pinned on the lookup side: at toy scale Spark's
      // size estimate would otherwise pick a BROADCAST join for the
      // jump, whose build-side collect is a SECOND job every round
      // (measured — it's where "one checkpoint per round" was still
      // costing two jobs); at 100 TB a label frame never broadcasts,
      // so the shuffled hash join is also the only shape that holds
      // at the design point. Build side = the per-partition slice of
      // the label frame, bounded by the ~250k-rows/partition width
      // chosen above (a few MB per task). That bound loosens only if
      // the loopParts cap binds — a graph so large that
      // edges/250k > max(session partitions, 2048) — where the right
      // fix is raising spark.sql.shuffle.partitions to match the
      // cluster, as the width comment above documents.
      val next = hop.as("a")
        .join(hop.select(col("id").as("jid"), col("label").as("jl")).as("b")
            .hint("shuffle_hash"),
          col("a.label") === col("b.jid"), "left")
        .select(col("a.id").as("id"),
          coalesce(col("jl"), col("a.label")).as("label"))
        .localCheckpoint(true)
      converged = changed.value == 0L
      // `next` is materialized: the previous round's checkpoint is
      // dead — free it now, not at maxIter
      releaseLocalCheckpoint(roundCp)
      roundCp = next
      labels = next
      iter += 1
    }
    if (!converged) releaseLocalCheckpoint(roundCp)
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — " +
      "raise maxIter (component diameter exceeds 2^rounds)")
    val raw = labels.select(col("id"), col("label").as("cluster_id"))
    if (contracted) compose(raw) else raw
    }
    // every body() exit is localCheckpoint-backed or a projection over
    // one, so the result survives the finally-block unpersists; rebase
    // hands it back on the caller's session
    try org.apache.spark.sql.GraftSqlBridge.rebase(origSess, body())
    finally {
      if (useEntryCache) e.unpersist(false) // no-op normally (released
                         // after the bidir build); covers build failure
      if (bidir ne null) bidir.unpersist()
      if (seed ne null) seed.unpersist()
      if (memoized) rec.lock.unlock()
    }
  }

  /** Driver-side union-find over an edge array: (node, component-min)
    * for every node appearing in `pairs`. Iterative find with path
    * compression — a recursive find on a long union chain (adversarial
    * edge order builds O(n) parent chains) overflows the JVM stack at
    * exactly the edge counts this path exists for. */
  private def driverUnionFind(pairs: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSeq.distinct
    nodes.map(n => (n, find(n)))
  }

  /** Free the executor storage behind an eager `localCheckpoint`: the
    * checkpointed Dataset's plan is a `LogicalRDD` over the persisted
    * RDD, so unpersist THAT RDD directly — `Dataset.unpersist` only
    * talks to the cache manager, which never saw this data. */
  private def releaseLocalCheckpoint(ds: DataFrame): Unit =
    if (ds ne null) ds.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }

  /** The integer-domain compare carries t as t·100 exactly — a
    * sub-centi threshold would be silently rounded to the nearest
    * 0.01, changing the selection predicate; reject it instead. */
  private[llm] def checkCentiThreshold(threshold: Double): Long = {
    val tScaled = math.round(threshold * 100)
    require(math.abs(threshold * 100 - tScaled) < 1e-9,
      s"threshold must be a multiple of 0.01 (got $threshold); " +
      "use the float kernel scorer for finer thresholds")
    tScaled
  }

  /** 1e-3-quantized vector + its exact integer norm². */
  private[llm] def quantizeWithNorm(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.functions.VectorKernels.long_dot
    emb.select(col(idCol).as("id"),
        transform(col(vecCol),
          x => round(x.cast("double") * 1000).cast("long")).as("qv"))
      .withColumn("norm2", long_dot(col("qv"), col("qv")))
  }

  /** cosine > t restated in exact decimal(38,0) integer arithmetic:
    * dot > 0 and 10⁴·dot² > (t·10²)²·|a|²·|b|² — free of float
    * nondeterminism, safe past Long range for high-dim vectors. */
  private[llm] def exactCosinePredicate(dot: Column, tScaled: Long,
                                   normA: Column, normB: Column): Column = {
    val dec = "decimal(38,0)"
    dot > 0 &&
      dot.cast(dec) * dot.cast(dec) * lit(10000L).cast(dec) >
        lit(tScaled * tScaled).cast(dec) *
          normA.cast(dec) * normB.cast(dec)
  }
}
