package graft.queries

import graft.QueryDef
import graft.core.Tables
import graft.llm.{Dedup, Similarity, TextStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (BASELINE.json north star)
  * over `documents(doc_id, text, lang, source, n_chars)` and
  * `embeddings(vec_id, embedding ARRAY<FLOAT>, label)`: text analysis,
  * exact + approximate dedup, and similarity search.
  *
  * SQL-expressible ops carry DuckDB oracles; the sketch-based ops
  * (MinHash-LSH, SimHash, sign-LSH ANN) register oracle-checkable
  * INVARIANTS (exact twins + accuracy/superset booleans) and are
  * additionally recall/accuracy-asserted against exact baselines in
  * LlmSpec.
  */
object LlmPipelines {

  /** Text statistics: token counts, punctuation noise, stopword prose
    * signal, composite quality score — the map-side of corpus
    * filtering; pure codegen'd expressions. */
  val q25 = QueryDef(
    "q25_text_stats",
    (s, dir) => {
      // one kernel call per doc (TextStats64) feeds the SAME ratio/
      // score expressions the per-signal functions build — LlmSpec
      // pins the two paths column-identical
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"),
          graft.functions.TextStats64.text_stats(col("text")).as("__st"))
        .select(col("doc_id") +:
          TextStats.kernelSignalColumns(col("__st")): _*)
        .orderBy(col("doc_id"))
    },
    // bpe_tokens twin: RE2 (DuckDB) has no lookarounds, so the Spark
    // side's zero-width split boundaries are replayed as insert-a-space
    // rewrites (letter->digit, digit->letter, before-each-punct) and a
    // plain whitespace split — piece-for-piece identical on ASCII text
    Some("""WITH t AS (
           |  SELECT doc_id, text,
           |         string_split_regex(lower(trim(text)), '\s+') AS toks,
           |         list_filter(string_split_regex(
           |           regexp_replace(
           |             regexp_replace(
           |               regexp_replace(trim(text),
           |                 '([a-zA-Z])([0-9])', '\1 \2', 'g'),
           |               '([0-9])([a-zA-Z])', '\1 \2', 'g'),
           |             '([^a-zA-Z0-9\s])', ' \1', 'g'),
           |           '\s+'), x -> length(x) > 0) AS bpe
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(toks) AS INTEGER) AS n_tokens,
           |  CAST(len(bpe) AS INTEGER) AS bpe_tokens,
           |  CASE WHEN length(text) > 0
           |       THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
           |            / length(text)
           |       ELSE 0.0 END AS punct_ratio,
           |  CASE WHEN len(toks) > 0
           |       THEN CAST(len(list_filter(toks, x -> x IN
           |              ('the','a','an','and','of','to','in','is','it','that'))) AS DOUBLE)
           |            / len(toks)
           |       ELSE 0.0 END AS stopword_ratio,
           |  CASE WHEN len(toks) > 0
           |       THEN CAST(list_aggregate(list_transform(toks, x -> length(x)),
           |                                'sum') AS DOUBLE) / len(toks)
           |       ELSE 0.0 END AS avg_token_len,
           |  ROUND(
           |    (CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1.0
           |          WHEN len(toks) >= 5 THEN 0.5 ELSE 0.0 END) * 0.4 +
           |    (CASE WHEN (CASE WHEN length(text) > 0
           |                THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / length(text)
           |                ELSE 0.0 END) < 0.1 THEN 1.0
           |          WHEN (CASE WHEN length(text) > 0
           |                THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / length(text)
           |                ELSE 0.0 END) < 0.3 THEN 0.5 ELSE 0.0 END) * 0.3 +
           |    (CASE WHEN (CASE WHEN len(toks) > 0
           |                THEN CAST(len(list_filter(toks, x -> x IN
           |                       ('the','a','an','and','of','to','in','is','it','that'))) AS DOUBLE) / len(toks)
           |                ELSE 0.0 END) > 0.05 THEN 1.0 ELSE 0.3 END) * 0.3,
           |    4) AS quality_score
           |FROM t
           |ORDER BY doc_id""".stripMargin))

  /** Language-ID heuristic vs labeled lang: confusion-matrix counts.
    * (Marker-stopword voting; see TextStats.langIdHeuristic.) */
  val q26 = QueryDef(
    "q26_lang_confusion",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      d.withColumn("lang_guess", TextStats.langIdHeuristic(col("text")))
        .groupBy(col("lang"), col("lang_guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_guess"))
    },
    Some("""WITH g AS (
           |  SELECT lang,
           |    CASE WHEN contains(' ' || lower(text) || ' ', ' le ')
           |           OR contains(' ' || lower(text) || ' ', ' la ')
           |           OR contains(' ' || lower(text) || ' ', ' et ') THEN 'fr'
           |         WHEN contains(' ' || lower(text) || ' ', ' el ')
           |           OR contains(' ' || lower(text) || ' ', ' los ')
           |           OR contains(' ' || lower(text) || ' ', ' y ') THEN 'es'
           |         WHEN contains(' ' || lower(text) || ' ', ' der ')
           |           OR contains(' ' || lower(text) || ' ', ' und ')
           |           OR contains(' ' || lower(text) || ' ', ' die ') THEN 'de'
           |         WHEN contains(' ' || lower(text) || ' ', ' the ')
           |           OR contains(' ' || lower(text) || ' ', ' and ')
           |           OR contains(' ' || lower(text) || ' ', ' of ') THEN 'en'
           |         ELSE 'und' END AS lang_guess
           |  FROM documents)
           |SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n
           |FROM g GROUP BY lang, lang_guess
           |ORDER BY lang, lang_guess""".stripMargin))

  /** Language-ID, n-gram form: char-trigram profile voting (see
    * [[TextStats.langIdTrigram]]) as a confusion matrix against the
    * labeled lang. The oracle's score columns AND its argmax CASE chain
    * are GENERATED from the same `trigramProfiles` constant the Spark
    * expression folds over, so profiles, labels, and tie order cannot
    * drift between the twins (the padding and the replace-count score
    * formula remain hand-mirrored — the one drift surface left). */
  val q54 = {
    val profiles = TextStats.trigramProfiles
    def scoreSql(tris: Seq[String]): String =
      tris.map { t =>
        val esc = t.replace("'", "''") // SQL literal escape
        s"(length(t) - length(replace(t, '$esc', ''))) / 3"
      }.mkString(" + ")
    val scoreCols = profiles
      .map { case (lang, tris) => s"    ${scoreSql(tris)} AS s_$lang" }
      .mkString(",\n")
    val totalSql = profiles.map { case (lang, _) => s"s_$lang" }.mkString(" + ")
    // same fold as langIdTrigram: a language wins when its score >=
    // every LATER profile's score; ties break toward earlier order
    val argmaxSql = profiles.zipWithIndex.init.map { case ((lang, _), i) =>
      val conds = profiles.drop(i + 1)
        .map { case (l2, _) => s"s_$lang >= s_$l2" }.mkString(" AND ")
      s"         WHEN $conds THEN '$lang'"
    }.mkString("\n")
    QueryDef(
      "q54_lang_trigram_confusion",
      (s, dir) => {
        // trigram counting through the flat-scan kernel; voting stays
        // the shared expression fold (spec-pinned == langIdTrigram)
        val d = Tables.documents(s, dir)
        d.select(col("lang"), col("text"),
            graft.functions.TrigramCounts.trigram_counts(col("text"),
              TextStats.profileTrigrams).as("__tc"))
          .withColumn("lang_guess",
            TextStats.langIdTrigramFromCounts(col("text"), col("__tc")))
          .groupBy(col("lang"), col("lang_guess"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("lang"), col("lang_guess"))
      },
      Some(s"""WITH g AS (
              |  SELECT lang, ' ' || lower(text) || ' ' AS t FROM documents),
              |sc AS (
              |  SELECT lang, t,
              |$scoreCols
              |  FROM g),
              |c AS (
              |  SELECT lang,
              |    CASE WHEN t IS NULL OR $totalSql = 0 THEN 'und'
              |$argmaxSql
              |         ELSE '${profiles.last._1}' END AS lang_guess
              |  FROM sc)
              |SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n
              |FROM c GROUP BY lang, lang_guess
              |ORDER BY lang, lang_guess""".stripMargin))
  }

  /** Exact dedup: canonical md5 fingerprint groups per source with
    * duplicate-rate rollup (one hash aggregation — the 100 TB exact
    * -dedup shape). */
  val q27 = QueryDef(
    "q27_dedup_exact",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("source"), TextStats.fingerprint(col("text")).as("fp"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_dups"))
        .orderBy(col("source"))
    },
    Some("""WITH f AS (
           |  SELECT source,
           |         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
           |  FROM documents)
           |SELECT source,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique,
           |  CAST(count(*) - COUNT(DISTINCT fp) AS BIGINT) AS n_dups
           |FROM f GROUP BY source ORDER BY source""".stripMargin))

  /** Exact bigram-shingle Jaccard near-dup pairs (a 100-doc window —
    * anchored at min(doc_id), so it survives id-translated fixtures —
    * keeps the all-pairs verifier bounded; at scale this runs only on
    * LSH candidates — q28 is the ground-truth twin LlmSpec checks the
    * LSH path against). */
  val q28 = QueryDef(
    "q28_jaccard_pairs",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.jaccardPairs(d, "doc_id", "text",
          shingleN = 2, maxId = Some(Tables.minId(d, "doc_id") + 100L))
        .where(col("jaccard") >= 0.1)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    list_distinct(CASE WHEN len(w) >= 2
           |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
           |      ELSE [array_to_string(w, ' ')] END) AS sh
           |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           |        FROM documents
           |        WHERE doc_id < (SELECT min(doc_id) + 100 FROM documents))),
           |ex AS (SELECT doc_id, unnest(sh) AS s FROM toks),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1),
           |inter AS (
           |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
           |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |  CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jaccard
           |FROM inter
           |JOIN sizes sa ON id_a = sa.doc_id
           |JOIN sizes sb ON id_b = sb.doc_id
           |WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.1
           |ORDER BY id_a, id_b""".stripMargin))

  /** Exact top-5 similarity search in the quantized-integer domain
    * (query set = the 5 lowest vec_ids — min-anchored, so the window
    * survives id-translated fixtures — broadcast against the whole
    * corpus; deterministic dot-product ranking — the oracle-checkable
    * twin of the float brute-force/LSH/IVF scorers). */
  val q29 = QueryDef(
    "q29_topk_similarity",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.quantizedDotTopK(
          emb.where(col("vec_id") < Tables.minId(emb, "vec_id") + 5L),
          emb, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH q AS (
           |  SELECT vec_id AS query_id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
           |  FROM embeddings
           |  WHERE vec_id < (SELECT min(vec_id) + 5 FROM embeddings)),
           |c AS (
           |  SELECT vec_id AS corpus_id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS cv
           |  FROM embeddings),
           |s AS (
           |  SELECT query_id, corpus_id,
           |    CAST(list_inner_product(qv, cv) AS BIGINT) AS dot
           |  FROM q, c WHERE query_id != corpus_id),
           |r AS (
           |  SELECT query_id, corpus_id, dot,
           |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, corpus_id) AS rn
           |  FROM s)
           |SELECT query_id, corpus_id, dot, CAST(rn AS INTEGER) AS rank
           |FROM r WHERE rn <= 5
           |ORDER BY query_id, rank""".stripMargin))

  /** MinHash-LSH near-dup pairs, exact-Jaccard-verified — the at-scale
    * dedup path (banded bucket joins + persisted signatures, no
    * all-pairs stage; see [[Dedup.minhashNearDupPairs]]). Because the
    * verifier makes the output exact (jaccard >= 0.8), the query
    * carries a full DuckDB oracle — the all-pairs shingle-join twin —
    * while the Spark side only ever scores LSH candidates. LlmSpec
    * additionally asserts generator recall against the exact pairs. */
  val q30 = QueryDef(
    "q30_minhash_lsh",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.minhashNearDupPairs(d, "doc_id", "text", threshold = 0.8,
          shingleN = 2, bands = 16, rows = 4)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    list_distinct(CASE WHEN len(w) >= 2
           |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
           |      ELSE [array_to_string(w, ' ')] END) AS sh
           |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           |        FROM documents)),
           |ex AS (SELECT doc_id, unnest(sh) AS s FROM toks),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1),
           |inter AS (
           |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
           |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2)
           |SELECT id_a, id_b,
           |  CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) AS jaccard
           |FROM inter
           |JOIN sizes sa ON id_a = sa.doc_id
           |JOIN sizes sb ON id_b = sb.doc_id
           |WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.8
           |ORDER BY id_a, id_b""".stripMargin))

  /** SimHash (custom codegen'd 64-bit Expression) Hamming-band
    * near-dup pairs. bands=8 > maxHamming=7 makes banding exhaustive
    * (pigeonhole): the candidate set is EXACTLY the hamming<=7 pair
    * set — a contract LlmSpec proves by brute force on a fixture
    * ("SimHash banding returns exactly the hamming<=maxHamming pair
    * set"). The registered query runs ONLY the operator: earlier
    * rounds also ran the O(n²) all-pairs Hamming verification twin
    * here, which at 100× documents is 10,000× the work — a
    * scale-killer living inside a registered plan, so it moved
    * entirely into the spec (r5 directive 1). PlanSpec now rejects
    * any inequality-only self-join across the whole registry.
    *
    * The fingerprint itself isn't ANSI-expressible, so the registered
    * output is the operator contract restated as ORACLE-CHECKABLE
    * counts, one row: docs with IDENTICAL token sequences have
    * identical simhash, hence Hamming 0, hence MUST all surface as
    * candidates — `n_exact_dup_pairs` (normalized-text equality
    * self-join, an EQUI-join DuckDB independently recomputes from raw
    * text) must equal `n_dup_pairs_in_candidates` (those pairs found
    * in the banded candidate output), so a banding defect that drops
    * a bucket diverges the two sides. */
  val q31 = QueryDef(
    "q31_simhash_candidates",
    (s, dir) => {
      import graft.functions.SimHash64.simhash64
      // NULL text is excluded up front: concat_ws maps a null token
      // array to '' while simhash64 yields NULL, so a null-text doc
      // would join the exact-dup side yet never surface as a candidate
      // — breaking this query's own invariant (and the oracle's
      // array_to_string(NULL) drops such docs anyway)
      val docs = Tables.documents(s, dir).where(col("text").isNotNull)
      // fingerprint + normalized text computed in ONE cached pass: the
      // candidate generator and the two sides of the dup equi-join
      // would otherwise each re-tokenize the corpus
      val aux = graft.core.Caching.eager(docs.select(
        col("doc_id").as("id"),
        simhash64(TextStats.tokens(col("text"))).as("sh"),
        concat_ws(" ", TextStats.tokens(col("text"))).as("nt")))
      val cands = Dedup.simhashCandidatesFromFp(
          aux.select(col("id"), col("sh")), bands = 8, maxHamming = 7)
        .select(col("id_a"), col("id_b"))
      // exact-duplicate pairs via normalized-text EQUI-join (hash
      // join, scales); the `<` is a post-join dedup filter on an
      // equi-matched pair, not the join condition
      val dup = aux.as("a").join(aux.as("b"),
          col("a.nt") === col("b.nt") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      // count(__c) not sum(coalesce(__c,0)): over ZERO dup rows sum()
      // is NULL (a float64/NaN on the oracle side) where count() is 0
      dup.join(cands.withColumn("__c", lit(1)), Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_exact_dup_pairs"),
          count(col("__c")).as("n_dup_pairs_in_candidates"))
    },
    Some("""WITH norm AS (
           |  SELECT doc_id,
           |    array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ') AS nt
           |  FROM documents),
           |d AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n
           |  FROM norm a JOIN norm b ON a.nt = b.nt AND a.doc_id < b.doc_id)
           |SELECT n AS n_exact_dup_pairs, n AS n_dup_pairs_in_candidates
           |FROM d""".stripMargin))

  /** Sign-LSH multi-table multi-probe ANN top-k — the sublinear
    * similarity-search path (8 tables × 8 planes, Hamming≤2 probing;
    * measured recall 0.94 vs exact brute force at sf0.001; floor also
    * asserted in LlmSpec).
    *
    * The ANN hit set isn't ANSI-predictable, so the registered output
    * is the recall INVARIANT against the exact top-k in the quantized
    * integer domain (deterministic hyperplanes + integer dots → fully
    * reproducible): one row with the query count, k, the exact top-5
    * dot-sum checksum — which DuckDB recomputes by brute force, pinning
    * the ground-truth side — and a boolean `recall_ge_80` computed by
    * joining the ANN results against that exact top-k. */
  val q32 = QueryDef(
    "q32_ann_lsh",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // query window min-anchored (Tables.minId): id-translation-safe
      val queries = emb.where(
        col("vec_id") < Tables.minId(emb, "vec_id") + 50L)
      val ann = Similarity.lshTopK(queries, emb, "vec_id", "embedding",
          k = 5, numPlanes = 8, probeHamming = 2)
        .select(col("query_id"), col("corpus_id"), lit(1L).as("__hit"))
      Similarity.quantizedDotTopK(queries, emb, "vec_id", "embedding", k = 5)
        .join(ann, Seq("query_id", "corpus_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          sum(col("dot")).as("exact_top5_dot_sum"),
          // empty query set: recall holds vacuously (matches the
          // oracle's constant-TRUE side instead of NULL)
          coalesce(sum(coalesce(col("__hit"), lit(0L))) >=
            count(lit(1)) * 0.8, lit(true)).as("recall_ge_80"))
        .withColumn("k", lit(5L))
    },
    Some("""WITH q AS (
           |  SELECT vec_id AS query_id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
           |  FROM embeddings
           |  WHERE vec_id < (SELECT min(vec_id) + 50 FROM embeddings)),
           |c AS (
           |  SELECT vec_id AS corpus_id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS cv
           |  FROM embeddings),
           |s AS (
           |  SELECT query_id, corpus_id,
           |    CAST(list_inner_product(qv, cv) AS BIGINT) AS dot
           |  FROM q, c WHERE query_id != corpus_id),
           |r AS (
           |  SELECT query_id, dot,
           |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, corpus_id) AS rn
           |  FROM s)
           |SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           |  CAST(SUM(dot) AS BIGINT) AS exact_top5_dot_sum,
           |  TRUE AS recall_ge_80,
           |  CAST(5 AS BIGINT) AS k
           |FROM r WHERE rn <= 5""".stripMargin))

  /** IVF (inverted-file) coarse-quantization ANN — the second
    * sublinear similarity-search path ([[Similarity.ivfTopK]]:
    * sampled k-means centroids from a deterministic hash-ordered
    * 2048-row sample, corpus partitioned into nearest-centroid lists,
    * queries probe nProbe of nCentroids lists → candidate set shrinks
    * ~nCentroids/nProbe vs brute force). Previously test-verified
    * only; registered with the SAME oracle pattern as q32: one row
    * with the query count, k, the exact top-5 quantized dot-sum —
    * which DuckDB recomputes by brute force, pinning the ground-truth
    * side — and a recall floor computed by joining the IVF hits
    * against that exact top-k. The floor (0.75) sits under the
    * measured recall with margin (SCALE.md r7 at nCentroids=16,
    * nProbe=8: 0.884 at sf0.001, 0.828 at sf0.01, 0.856 at sf0.1 —
    * stable because the centroid sample is a deterministic hash
    * order, not a data order; a partitioning defect that strands
    * queries' neighbor lists drops recall toward
    * nProbe/nCentroids·k-random and fails it). The probe fraction
    * (8/16) is what THIS fixture needs for production-grade recall:
    * the synthetic embeddings are near-uniform on the sphere (no
    * cluster structure for the coarse quantizer to exploit — the
    * hardest case for IVF); the full nProbe→recall curve is in
    * SCALE.md, and a real clustered corpus sits higher at every
    * probe fraction. */
  val q70 = QueryDef(
    "q70_ann_ivf",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // query window min-anchored (Tables.minId): id-translation-safe
      val queries = emb.where(
        col("vec_id") < Tables.minId(emb, "vec_id") + 50L)
      val ann = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
          k = 5, nCentroids = 16, nProbe = 8)
        .select(col("query_id"), col("corpus_id"), lit(1L).as("__hit"))
      Similarity.quantizedDotTopK(queries, emb, "vec_id", "embedding", k = 5)
        .join(ann, Seq("query_id", "corpus_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          sum(col("dot")).as("exact_top5_dot_sum"),
          coalesce(sum(coalesce(col("__hit"), lit(0L))) >=
            count(lit(1)) * 0.75, lit(true)).as("recall_ge_75"))
        .withColumn("k", lit(5L))
    },
    Some("""WITH q AS (
           |  SELECT vec_id AS query_id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
           |  FROM embeddings
           |  WHERE vec_id < (SELECT min(vec_id) + 50 FROM embeddings)),
           |c AS (
           |  SELECT vec_id AS corpus_id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS cv
           |  FROM embeddings),
           |s AS (
           |  SELECT query_id, corpus_id,
           |    CAST(list_inner_product(qv, cv) AS BIGINT) AS dot
           |  FROM q, c WHERE query_id != corpus_id),
           |r AS (
           |  SELECT query_id, dot,
           |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, corpus_id) AS rn
           |  FROM s)
           |SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           |  CAST(SUM(dot) AS BIGINT) AS exact_top5_dot_sum,
           |  TRUE AS recall_ge_75,
           |  CAST(5 AS BIGINT) AS k
           |FROM r WHERE rn <= 5""".stripMargin))

  /** Embedding cosine near-dup pairs via the BUCKETED generate∘verify
    * path ([[Dedup.cosineNearDupBucketed]]): sign-LSH banded candidates
    * + exact integer-domain verification, over the whole embeddings
    * table (no row cap — the r3 all-pairs form needed one) UNIONed
    * with planted near-duplicate twins.
    *
    * The twins (every 20th vector, rescaled ×1.5 through double
    * arithmetic — exact in IEEE, so both engines derive bit-identical
    * floats) exist because the synthetic corpus's natural pair cosines
    * top out at ~0.6: real near-dup thresholds (0.9 here) are the
    * regime this operator is FOR, and the regime where banding prunes
    * (the measured 0.35 exploratory threshold is not LSH-prunable by
    * any parameterization — see the operator's Scaladoc). The DuckDB
    * oracle is the ALL-PAIRS twin over the same union, so a recall
    * miss in candidate generation would fail the hash gate, not hide. */
  val q33 = QueryDef(
    "q33_cosine_neardup",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val twins = emb.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * 1.5).cast("float")).as("embedding"))
      Dedup.cosineNearDupBucketed(
          emb.select(col("vec_id"), col("embedding")).unionAll(twins),
          "vec_id", "embedding", threshold = 0.9, dim = 64)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH corpus AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 1000000,
           |    list_transform(embedding,
           |      x -> CAST(CAST(x AS DOUBLE) * 1.5 AS FLOAT))
           |  FROM embeddings WHERE vec_id % 20 = 0),
           |q AS (
           |  SELECT vec_id AS id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
           |  FROM corpus),
           |n AS (
           |  SELECT id, qv,
           |    CAST(list_inner_product(qv, qv) AS BIGINT) AS norm2
           |  FROM q),
           |p AS (
           |  SELECT a.id AS id_a, b.id AS id_b,
           |    CAST(list_inner_product(a.qv, b.qv) AS BIGINT) AS dot,
           |    a.norm2 AS na, b.norm2 AS nb
           |  FROM n a JOIN n b ON a.id < b.id)
           |SELECT id_a, id_b, dot
           |FROM p
           |WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 10000
           |                  > 8100 * CAST(na AS HUGEINT) * nb
           |ORDER BY id_a, id_b""".stripMargin))

  /** End-to-end corpus preparation — the training-data analog of the
    * ads pipelines: the q25/q26/q27/q30 operators composed as ONE plan.
    *
    *   per-doc signals (tokens, quality, lang-ID, fingerprint — one
    *   codegen'd scan) → quality + language gates → exact dedup (keep
    *   the smallest doc_id per canonical fingerprint) → near-dup
    *   removal via MinHash-LSH candidates + exact-Jaccard verification
    *   (drop the larger doc_id of every verified pair — the standard
    *   deterministic greedy policy: one pass, no connected-components
    *   clustering) → curated (doc_id, source, lang, tokens, quality).
    *
    * Every stage is the at-scale shape: the signal scan is map-side
    * only; the dedup window shuffles once on the fingerprint; the
    * near-dup stage is bounded by |LSH candidates|, never |pairs|. The
    * DuckDB oracle replays the same policy with an all-pairs Jaccard
    * stage — exact despite the sketch inside, for the same reason as
    * q30 (the verifier makes candidate output exact; generator misses
    * at j >= 0.8 with b=16/r=4 are < 1e-3 and deterministic). */
  val q52 = QueryDef(
    "q52_corpus_prep",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      // signal scan through the TextStats64 counting kernel (one char
      // pass instead of the regex/HOF chains; kernelSignalColumns is
      // spec-pinned identical to the per-signal expressions)
      val sig = TextStats.kernelSignalColumns(col("__st"))
      val gated = d
        .select(col("doc_id"), col("text"), col("source"),
          graft.functions.TextStats64.text_stats(col("text")).as("__st"))
        .select(
          col("doc_id"), col("text"), col("source"),
          TextStats.langIdHeuristic(col("text")).as("lang_guess"),
          sig(0), // n_tokens
          sig(5), // quality_score
          TextStats.fingerprint(col("text")).as("fp"))
        .where(col("quality_score") >= 0.7 && col("lang_guess") === "en")
      // exact dedup: one shuffle on fp. The ONE eager cache carries the
      // near-dup stage's shingle arrays instead of raw text — shingles
      // are computed map-side AFTER the window filter (survivors only;
      // the fp shuffle never carries arrays), the near-dup stage then
      // adds no second cache and never re-tokenizes, and the cached
      // rows are exactly the columns the two consumers (candidate
      // generation + verify, final anti-join projection) read.
      val exact = gated
        .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
        .where(col("doc_id") === col("keep_id"))
        .select(col("doc_id").as("id"), col("source"), col("lang_guess"),
          col("n_tokens"), col("quality_score"),
          Dedup.shingles(col("text"), 2).as("sh"))
        .transform(graft.core.Caching.eager)
      // nearDupPairsFromShingles, not minhashNearDupPairs: `exact` is
      // already one row per fingerprint, so the full operator's
      // pre-grouping + member expansion would be no-op scaffolding (a
      // text shuffle and three joins for nothing)
      val drops = Dedup.nearDupPairsFromShingles(exact,
          threshold = 0.8, bands = 16, rows = 4)
        .select(col("id_b").as("id")).distinct()
      exact.join(drops, Seq("id"), "left_anti")
        .select(col("id").as("doc_id"), col("source"), col("lang_guess"),
          col("n_tokens"), col("quality_score"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH t AS (
           |  SELECT doc_id, text, source,
           |    string_split_regex(lower(trim(text)), '\s+') AS toks,
           |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
           |    CASE WHEN contains(' ' || lower(text) || ' ', ' le ')
           |           OR contains(' ' || lower(text) || ' ', ' la ')
           |           OR contains(' ' || lower(text) || ' ', ' et ') THEN 'fr'
           |         WHEN contains(' ' || lower(text) || ' ', ' el ')
           |           OR contains(' ' || lower(text) || ' ', ' los ')
           |           OR contains(' ' || lower(text) || ' ', ' y ') THEN 'es'
           |         WHEN contains(' ' || lower(text) || ' ', ' der ')
           |           OR contains(' ' || lower(text) || ' ', ' und ')
           |           OR contains(' ' || lower(text) || ' ', ' die ') THEN 'de'
           |         WHEN contains(' ' || lower(text) || ' ', ' the ')
           |           OR contains(' ' || lower(text) || ' ', ' and ')
           |           OR contains(' ' || lower(text) || ' ', ' of ') THEN 'en'
           |         ELSE 'und' END AS lang_guess
           |  FROM documents),
           |q AS (
           |  SELECT doc_id, text, source, fp, lang_guess,
           |    CAST(len(toks) AS INTEGER) AS n_tokens,
           |    ROUND(
           |      (CASE WHEN len(toks) BETWEEN 20 AND 1000 THEN 1.0
           |            WHEN len(toks) >= 5 THEN 0.5 ELSE 0.0 END) * 0.4 +
           |      (CASE WHEN (CASE WHEN length(text) > 0
           |                  THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / length(text)
           |                  ELSE 0.0 END) < 0.1 THEN 1.0
           |            WHEN (CASE WHEN length(text) > 0
           |                  THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / length(text)
           |                  ELSE 0.0 END) < 0.3 THEN 0.5 ELSE 0.0 END) * 0.3 +
           |      (CASE WHEN (CASE WHEN len(toks) > 0
           |                  THEN CAST(len(list_filter(toks, x -> x IN
           |                         ('the','a','an','and','of','to','in','is','it','that'))) AS DOUBLE) / len(toks)
           |                  ELSE 0.0 END) > 0.05 THEN 1.0 ELSE 0.3 END) * 0.3,
           |      4) AS quality_score
           |  FROM t),
           |gated AS (
           |  SELECT * FROM q WHERE quality_score >= 0.7 AND lang_guess = 'en'),
           |exact AS (
           |  SELECT * FROM gated
           |  QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)),
           |shing AS (
           |  SELECT doc_id,
           |    list_distinct(CASE WHEN len(w) >= 2
           |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
           |      ELSE [array_to_string(w, ' ')] END) AS sh
           |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           |        FROM exact)),
           |ex AS (SELECT doc_id, unnest(sh) AS s FROM shing),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1),
           |inter AS (
           |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
           |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2),
           |drops AS (
           |  SELECT DISTINCT id_b AS doc_id
           |  FROM inter
           |  JOIN sizes sa ON id_a = sa.doc_id
           |  JOIN sizes sb ON id_b = sb.doc_id
           |  WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.8)
           |SELECT doc_id, source, lang_guess, n_tokens, quality_score
           |FROM exact
           |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
           |ORDER BY doc_id""".stripMargin))

  /** Dedup-group canonicalization: connected components over an
    * undirected pair list ([[graft.llm.Dedup.connectedComponents]],
    * min-label propagation + pointer jumping), the step that collapses
    * transitive near-dup PAIRS into one representative per GROUP.
    *
    * Oracle legitimacy: the edge set must be derivable identically on
    * both engines, so it is arithmetic in doc_id — (i, i div 2) for
    * every third id — which builds deep binary-tree-shaped components
    * (depth ~log₂ n, the worst case for propagation rounds, unlike the
    * shallow stars real dup groups form). DuckDB computes the same
    * components by recursive-CTE transitive closure; LlmSpec covers
    * the operator over REAL minhash near-dup pairs against a
    * driver-side union-find. */
  val q59 = QueryDef(
    "q59_dedup_clusters",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"))
      val edges = docs
        .where(col("doc_id") % 3 === 0 && col("doc_id") > 0)
        .select(col("doc_id").as("src"), expr("doc_id div 2").as("dst"))
      val labels = Dedup.connectedComponents(edges)
      docs
        .join(labels, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
        .orderBy(col("cluster_id"))
    },
    Some("""WITH RECURSIVE
           |e0 AS (
           |  SELECT doc_id AS a, doc_id // 2 AS b FROM documents
           |  WHERE doc_id % 3 = 0 AND doc_id > 0),
           |edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
           |-- seed EVERY node (docs AND edge endpoints): on id-translated
           |-- fixtures doc_id // 2 can fall outside the doc-id domain, and
           |-- the Spark operator labels components by their min over ALL
           |-- nodes — doc-only seeds would label by min DOC id instead
           |reach(id, r) AS (
           |  SELECT id, id FROM (
           |    SELECT doc_id AS id FROM documents
           |    UNION SELECT a FROM edges)
           |  UNION
           |  SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.id),
           |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
           |SELECT l.cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(max(d.doc_id) AS BIGINT) AS max_doc
           |FROM documents d JOIN lab l ON d.doc_id = l.id
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** The DISTRIBUTED connected-components path under load:
    * `driverThreshold = 0` disables the dim-sized driver union-find
    * short-circuit, so this times the pointer-jumping loop — the shape
    * that runs at 100 TB — over a ≥10⁵-edge graph (q59's fixture sits
    * under the 250k default threshold, so its BENCH row times the
    * driver path only).
    *
    * The graph is arithmetic in the dense o_orderkey domain — chain
    * edges (k, k−1) except at 4-block boundaries — giving 150k nodes
    * / ~112k edges at sf0.1 in depth-3 chains: the min-neighbor seed
    * plus one propagate+jump round plus the convergence round, i.e.
    * the full multi-round loop machinery with the smallest fixture
    * that still forces a pointer jump. DuckDB recomputes the same
    * components by recursive-CTE transitive closure (independent of
    * the chain arithmetic). */
  val q67 = QueryDef(
    "q67_dedup_clusters_distributed",
    (s, dir) => {
      val keys = Tables.orders(s, dir).select(col("o_orderkey").cast("long").as("k"))
      val edges = keys.where(col("k") % 4 =!= 0)
        .select(col("k").as("src"), (col("k") - 1).as("dst"))
      Dedup.connectedComponents(edges, driverThreshold = 0)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_nodes"), max(col("id")).as("max_id"))
        .orderBy(col("cluster_id"))
    },
    Some("""WITH RECURSIVE
           |e0 AS (
           |  SELECT CAST(o_orderkey AS BIGINT) AS a,
           |         CAST(o_orderkey AS BIGINT) - 1 AS b
           |  FROM orders WHERE o_orderkey % 4 != 0),
           |nodes AS (SELECT a AS id FROM e0 UNION SELECT b FROM e0),
           |edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
           |reach(id, r) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.id),
           |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
           |SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           |  CAST(count(*) AS BIGINT) AS n_nodes,
           |  CAST(max(id) AS BIGINT) AS max_id
           |FROM lab GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Deterministic train/val/test split assignment
    * ([[graft.ops.Sampling]]): portable multiplicative-hash buckets, so
    * the oracle reproduces the EXACT assignment arithmetically —
    * engine-native hashes and rand(seed) cannot cross-reproduce, which
    * is precisely why a curation pipeline needs this op. */
  val q61 = QueryDef(
    "q61_deterministic_splits",
    (s, dir) => {
      val labeled = Tables.documents(s, dir).withColumn("split",
        graft.ops.Sampling.splitColumn(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      labeled.groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .orderBy(col("source"), col("split"))
    },
    Some("""WITH b AS (
           |  SELECT source, n_chars,
           |    ((doc_id % 2147483647) * 2654435761
           |     + ((doc_id // 2147483647) % 2147483647) * 40503)
           |      % 4294967296 % 1000000 AS bkt
           |  FROM documents),
           |l AS (
           |  SELECT source, n_chars,
           |    CASE WHEN bkt < 800000 THEN 'train'
           |         WHEN bkt < 900000 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM b)
           |SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS chars
           |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Stratified deterministic sampling
    * ([[graft.ops.Sampling.stratifiedSample]]): per-stratum keep rates
    * over the same portable id-hash bucket as q61 — "downsample clicks
    * to 50%, views to 5%, keep every purchase". The oracle recomputes
    * the exact arithmetic assignment, so the kept SET (not just its
    * size) is verified via the id checksum. */
  val q65 = QueryDef(
    "q65_stratified_sample",
    (s, dir) => {
      graft.ops.Sampling.stratifiedSample(Tables.events(s, dir),
          "event_id", "event_type",
          Map("click" -> 0.5, "view" -> 0.05, "purchase" -> 1.0),
          defaultRate = 0.2)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_kept"), sum(col("event_id")).as("id_checksum"))
        .orderBy(col("event_type"))
    },
    Some("""WITH b AS (
           |  SELECT event_type, event_id,
           |    ((event_id % 2147483647) * 2654435761
           |     + ((event_id // 2147483647) % 2147483647) * 40503)
           |      % 4294967296 % 1000000 AS bkt
           |  FROM events),
           |k AS (
           |  SELECT * FROM b WHERE bkt <
           |    CASE event_type WHEN 'click' THEN 500000
           |                    WHEN 'view' THEN 50000
           |                    WHEN 'purchase' THEN 1000000
           |                    ELSE 200000 END)
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
           |  CAST(SUM(event_id) AS BIGINT) AS id_checksum
           |FROM k GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Per-label embedding centroids in the quantized integer domain
    * ([[graft.llm.Similarity.labelCentroidsQ]]): class prototypes /
    * cluster summaries as an exact, order-independent aggregation —
    * float summation order would differ per partitioning; micro-unit
    * Longs make the centroid itself hash-checkable. */
  val q66 = QueryDef(
    "q66_embedding_centroids",
    (s, dir) => {
      graft.llm.Similarity
        .labelCentroidsQ(Tables.embeddings(s, dir), "label", "embedding")
        .select(col("label").cast("long").as("label"),
          col("pos").cast("long").as("pos"),
          col("n"), col("sum_q"), col("mu"))
        .orderBy(col("label"), col("pos"))
    },
    Some("""WITH e AS (
           |  SELECT label, generate_subscripts(embedding, 1) AS pos,
           |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
           |  FROM embeddings)
           |SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos,
           |  CAST(count(*) AS BIGINT) AS n, CAST(SUM(q) AS BIGINT) AS sum_q,
           |  CAST(SUM(q) AS DOUBLE) / count(*) AS mu
           |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Substring-level cross-doc dedup ([[graft.llm.Spans.spanDedupStats]],
    * Lee et al. 2022): per-doc counts of 8-token windows whose gram
    * occurs in >=2 distinct documents — the boilerplate-detection
    * signal document-granular dedup (q27/q30) misses. Registered on
    * the hashed-gram scale path (8-byte shuffle keys); SpansSpec pins
    * it bit-identical to the string-keyed path the oracle mirrors. */
  val q72 = QueryDef(
    "q72_span_dedup",
    (s, dir) =>
      graft.llm.Spans.spanDedupStats(Tables.documents(s, dir),
          "doc_id", "text", n = 8)
        .orderBy(col("doc_id")),
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |                x -> length(x) > 0) AS t
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
           |  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS s(i)),
           |pair AS (SELECT g, doc_id, count(*) AS occ FROM grams GROUP BY 1, 2),
           |dupg AS (SELECT g FROM pair GROUP BY g HAVING count(*) >= 2),
           |perdoc AS (
           |  SELECT p.doc_id, SUM(p.occ) AS dup_windows
           |  FROM pair p JOIN dupg USING (g) GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(greatest(len(t.t) - 7, 0) AS BIGINT) AS n_windows,
           |  CAST(coalesce(perdoc.dup_windows, 0) AS BIGINT) AS dup_windows,
           |  CASE WHEN greatest(len(t.t) - 7, 0) > 0
           |       THEN CAST(coalesce(perdoc.dup_windows, 0) AS DOUBLE)
           |            / greatest(len(t.t) - 7, 0)
           |       ELSE 0.0 END AS dup_ratio
           |FROM documents d
           |JOIN toks t USING (doc_id)
           |LEFT JOIN perdoc USING (doc_id)
           |ORDER BY doc_id""".stripMargin))

  /** Intra-doc repetition ratios ([[graft.llm.Spans.repetitionStats]],
    * Gopher / Rae et al. 2021 quality filters): duplicate 2-/3-gram
    * fractions + top-token fraction, computed entirely map-side (array
    * arithmetic per row, zero shuffles — the 100 TB shape for a
    * per-document signal). */
  val q73 = QueryDef(
    "q73_repetition_ratios",
    (s, dir) =>
      graft.llm.Spans.repetitionStats(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy(col("doc_id")),
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |                x -> length(x) > 0) AS t
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id, t,
           |    [array_to_string(t[i:i+1], ' ')
           |       for i in generate_series(1, greatest(len(t) - 1, 0))] AS g2,
           |    [array_to_string(t[i:i+2], ' ')
           |       for i in generate_series(1, greatest(len(t) - 2, 0))] AS g3
           |  FROM toks),
           |tok_counts AS (
           |  SELECT doc_id, tok, count(*) AS c
           |  FROM toks, UNNEST(t) AS u(tok) GROUP BY 1, 2),
           |top AS (SELECT doc_id, max(c) AS topc FROM tok_counts GROUP BY 1)
           |SELECT g.doc_id,
           |  CAST(len(g.t) AS INTEGER) AS n_tokens,
           |  CASE WHEN len(g.g2) > 0
           |       THEN CAST(len(g.g2) - len(list_distinct(g.g2)) AS DOUBLE) / len(g.g2)
           |       ELSE 0.0 END AS dup2_ratio,
           |  CASE WHEN len(g.g3) > 0
           |       THEN CAST(len(g.g3) - len(list_distinct(g.g3)) AS DOUBLE) / len(g.g3)
           |       ELSE 0.0 END AS dup3_ratio,
           |  CASE WHEN len(g.t) > 0
           |       THEN CAST(coalesce(top.topc, 0) AS DOUBLE) / len(g.t)
           |       ELSE 0.0 END AS top_token_ratio
           |FROM grams g LEFT JOIN top ON g.doc_id = top.doc_id
           |ORDER BY g.doc_id""".stripMargin))

  /** Corpus vocabulary with bounded top-k
    * ([[graft.llm.Spans.vocabulary]]): term + document frequencies,
    * the tokenizer-training counting pass; top-k is a
    * TakeOrderedAndProject with a deterministic (tf desc, token) cut. */
  val q74 = QueryDef(
    "q74_vocabulary",
    (s, dir) =>
      graft.llm.Spans.vocabulary(Tables.documents(s, dir),
        "doc_id", "text", topK = 20),
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |                x -> length(x) > 0) AS t
           |  FROM documents),
           |e AS (SELECT doc_id, tok AS token FROM toks, UNNEST(t) AS u(tok)),
           |p AS (SELECT token, doc_id, count(*) AS occ FROM e GROUP BY 1, 2)
           |SELECT token, CAST(SUM(occ) AS BIGINT) AS tf,
           |  CAST(count(*) AS BIGINT) AS df
           |FROM p GROUP BY token ORDER BY tf DESC, token LIMIT 20""".stripMargin))

  /** SemDeDup cluster-based semantic dedup
    * ([[graft.llm.Similarity.semanticNearDupPairs]]) over the q33
    * planted-twin union. Oracle pattern follows q70: the exact columns
    * (corpus size, the all-pairs truth pair count and its modular id
    * checksum — per-term mod 1000000007, the q89 idiom, so the sum
    * stays in Long at replica-offset id magnitudes)
    * are DuckDB-reproducible, and the clustering-dependent part is
    * reduced to two booleans the oracle pins TRUE — precision (every
    * emitted pair verifies against the exact integer-domain truth set;
    * true by construction since the verifier IS the truth predicate)
    * and recall ≥ 0.8 (twins are parallel, so cosine assignment puts
    * them in one cluster deterministically — a broken assignment or
    * join drops this below the floor). Near-parallel recall is
    * additionally measured in LlmSpec on perturbed twins. */
  val q75 = QueryDef(
    "q75_semantic_dedup",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val twins = emb.where(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * 1.5).cast("float")).as("embedding"))
      val corpus = emb.select(col("vec_id"), col("embedding"))
        .unionAll(twins)
      val found = Similarity.semanticNearDupPairs(corpus, "vec_id",
          "embedding", threshold = 0.9) // k auto-sizes to the corpus
        .select(col("id_a"), col("id_b"), lit(1L).as("__f"))
      // truth side: the BUCKETED generate∘verify path, not the
      // all-pairs quantized form — the registered plan must stay free
      // of inequality-only joins (PlanSpec contract); its pair-for-pair
      // equality to the all-pairs exact set is already pinned by
      // LlmSpec and by q33's own hash gate on this same corpus, and
      // the DuckDB side of THIS oracle recomputes all-pairs truth
      // independently, so a bucketed recall miss would still fail here
      val truth = Dedup.cosineNearDupBucketed(corpus, "vec_id",
          "embedding", threshold = 0.9, dim = 64)
        .select(col("id_a"), col("id_b"), lit(1L).as("__t"))
      // coalesce(., 0) on the count-like aggregates: over an EMPTY
      // truth set sum() is NULL where the oracle's count(*) is 0 and
      // its recall literal TRUE — a degenerate-fixture hash mismatch
      // otherwise (the checksum stays NULL on both sides)
      truth.join(found, Seq("id_a", "id_b"), "full_outer")
        .agg(
          coalesce(sum(col("__t")), lit(0L)).as("n_truth_pairs"),
          // per-term mod (the q89 idiom): the raw id_a*4e6+id_b term
          // reaches ~4·10^15 once replica-offset ids hit 10^9 (sf10),
          // so the un-modded SUM overflowed Long there (caught by the
          // r15 sf10 sweep); modded terms stay < 10^9 and the sum is
          // scale-safe past 10^9 pairs
          sum(when(col("__t").isNotNull,
            (col("id_a") * 4000000L + col("id_b")) % 1000000007L))
            .as("truth_checksum"),
          (coalesce(sum(when(col("__t") === 1L && col("__f") === 1L, 1L)), lit(0L)) >=
            coalesce(sum(col("__t")), lit(0L)) * 0.8).as("recall_ge_80"),
          (coalesce(sum(when(col("__t").isNull, 1L)), lit(0L)) === 0L)
            .as("precision_exact"))
        .crossJoin(corpus.agg(count(lit(1)).as("n_vecs")))
        .select(col("n_vecs"), col("n_truth_pairs"), col("truth_checksum"),
          col("recall_ge_80"), col("precision_exact"))
    },
    Some("""WITH corpus AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 1000000,
           |    list_transform(embedding,
           |      x -> CAST(CAST(x AS DOUBLE) * 1.5 AS FLOAT))
           |  FROM embeddings WHERE vec_id % 20 = 0),
           |q AS (
           |  SELECT vec_id AS id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
           |  FROM corpus),
           |n AS (
           |  SELECT id, qv,
           |    CAST(list_inner_product(qv, qv) AS BIGINT) AS norm2
           |  FROM q),
           |truth AS (
           |  SELECT a.id AS id_a, b.id AS id_b
           |  FROM n a JOIN n b ON a.id < b.id
           |  WHERE CAST(list_inner_product(a.qv, b.qv) AS BIGINT) > 0
           |    AND CAST(CAST(list_inner_product(a.qv, b.qv) AS BIGINT) AS HUGEINT)
           |        * CAST(list_inner_product(a.qv, b.qv) AS BIGINT) * 10000
           |      > 8100 * CAST(a.norm2 AS HUGEINT) * b.norm2)
           |SELECT CAST((SELECT count(*) FROM corpus) AS BIGINT) AS n_vecs,
           |  CAST(count(*) AS BIGINT) AS n_truth_pairs,
           |  CAST(SUM((id_a * 4000000 + id_b) % 1000000007) AS BIGINT) AS truth_checksum,
           |  TRUE AS recall_ge_80, TRUE AS precision_exact
           |FROM truth""".stripMargin))

  /** Static data mixing ([[graft.ops.Sampling.mixtureSample]]): keep
    * rates derived so the kept corpus matches a target source
    * distribution at maximum volume ("50% src0 / 30% src1 / 20% src2"),
    * selection by the same portable id-hash as q61/q65 — the oracle
    * recomputes the exact integer threshold derivation AND the exact
    * kept set (id checksum), so a drift in either the arithmetic or
    * the hash fails the gate. */
  val q76 = QueryDef(
    "q76_mixture_sample",
    (s, dir) =>
      graft.ops.Sampling.mixtureSample(Tables.documents(s, dir),
          "doc_id", "source",
          weightsMilli = Map("src0" -> 500000L, "src1" -> 300000L,
            "src2" -> 200000L))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
        .orderBy(col("source")),
    Some("""WITH w(source, wm) AS (
           |  VALUES ('src0', 500000), ('src1', 300000), ('src2', 200000)),
           |c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
           |t AS (SELECT min(CAST(c.n AS HUGEINT) * 1000000 // w.wm) AS total
           |      FROM c JOIN w USING (source)),
           |thr AS (SELECT w.source,
           |          least(CAST(w.wm AS HUGEINT) * t.total // c.n, 1000000) AS th
           |        FROM w JOIN c USING (source) CROSS JOIN t),
           |b AS (SELECT source, doc_id,
           |        ((doc_id % 2147483647) * 2654435761
           |         + ((doc_id // 2147483647) % 2147483647) * 40503)
           |          % 4294967296 % 1000000 AS bkt
           |      FROM documents),
           |k AS (SELECT b.source, b.doc_id
           |      FROM b JOIN thr ON b.source = thr.source AND b.bkt < thr.th)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
           |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum
           |FROM k GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Sequence packing ([[graft.llm.Packing]]): GPT-style
    * concat-and-chunk layout of each source's documents into 512-token
    * training sequences — per-bin document occupancy, starts, and
    * boundary-crossers, all exact integers over a per-shard prefix
    * sum (bit-identical on any cluster; the oracle replays the same
    * window arithmetic). */
  val q77 = QueryDef(
    "q77_sequence_packing",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val nToks = size(filter(split(lower(trim(col("text"))), "\\s+"),
        w => length(w) > 0))
      graft.llm.Packing.packedBins(
          graft.llm.Packing.packedSpans(d, "doc_id", "source", nToks,
            budget = 512))
        .select(col("shard").as("source"), col("bin"), col("n_docs"),
          col("n_starts"), col("n_crossers"))
        .orderBy(col("source"), col("bin"))
    },
    Some("""WITH t AS (
           |  SELECT source, doc_id,
           |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |                         x -> length(x) > 0)) AS BIGINT) AS n
           |  FROM documents),
           |c AS (
           |  SELECT source, doc_id, n,
           |    coalesce(SUM(n) OVER (PARTITION BY source ORDER BY doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
           |  FROM t),
           |s AS (
           |  SELECT source, doc_id,
           |    CAST(cum_prev // 512 AS BIGINT) AS bin_start,
           |    CAST((cum_prev + greatest(n, 1) - 1) // 512 AS BIGINT) AS bin_end
           |  FROM c),
           |e AS (
           |  SELECT source, doc_id, bin_start, bin_end,
           |    UNNEST(generate_series(bin_start, bin_end)) AS bin
           |  FROM s)
           |SELECT source, bin, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(CASE WHEN bin = bin_start THEN 1 ELSE 0 END) AS BIGINT) AS n_starts,
           |  CAST(SUM(CASE WHEN bin < bin_end THEN 1 ELSE 0 END) AS BIGINT) AS n_crossers
           |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Benchmark decontamination
    * ([[graft.llm.Spans.decontaminationStats]], Brown et al. 2020 §C):
    * every 50th document stands in as the held-out evaluation set;
    * corpus documents are scored by 8-gram window overlap against the
    * benchmark's broadcast gram set. Hashed-gram scale path
    * registered; SpansSpec pins equality to string grams. */
  val q78 = QueryDef(
    "q78_decontamination",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val bench = d.where(col("doc_id") % 50 === 0)
      val corpus = d.where(col("doc_id") % 50 =!= 0)
      graft.llm.Spans.decontaminationStats(corpus, bench,
          "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |                x -> length(x) > 0) AS t
           |  FROM documents),
           |grams AS (
           |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
           |  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS s(i)),
           |bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
           |ov AS (
           |  SELECT grams.doc_id, count(*) AS overlap_windows
           |  FROM grams JOIN bg USING (g)
           |  WHERE grams.doc_id % 50 != 0
           |  GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(greatest(len(t.t) - 7, 0) AS BIGINT) AS n_windows,
           |  CAST(coalesce(ov.overlap_windows, 0) AS BIGINT) AS overlap_windows,
           |  coalesce(ov.overlap_windows, 0) > 0 AS contaminated
           |FROM documents d
           |JOIN toks t USING (doc_id)
           |LEFT JOIN ov USING (doc_id)
           |WHERE d.doc_id % 50 != 0
           |ORDER BY d.doc_id""".stripMargin))

  /** Corpus preparation, second generation — the round-7 operator
    * family composed as ONE plan (the RefinedWeb/Gopher-style recipe,
    * the way q52 composes the round-3 family):
    *
    *   per-doc signals (TextStats64 kernel scan: quality, tokens)
    *   + intra-doc repetition gate (RepetitionStats64 kernel — same
    *     map-side scan, zero extra shuffles)
    *   + benchmark decontamination gate (broadcast gram probe vs the
    *     q78 eval split)
    *   + cross-doc span-dedup signal (hashed-gram pipeline, joined
    *     back on doc_id)
    *   + exact dedup (keep the smallest doc_id per fingerprint)
    *
    * Output: the curated docs with their retained signals. Every
    * stage is the at-scale shape: two map-side kernel scans fused in
    * one select, one broadcast probe, the span pipeline's keyed
    * shuffles, one fingerprint window. Full DuckDB oracle (the gates
    * recompose the q72/q73/q78 oracle CTEs). */
  val q79 = QueryDef(
    "q79_corpus_prep2",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      val bench = d.where(col("doc_id") % 50 === 0)
      val corpus = d.where(col("doc_id") % 50 =!= 0)
      val toks = graft.llm.Spans.positionalNgrams(col("text"), 1)
      val sig = TextStats.kernelSignalColumns(col("__st"))
      val signals = corpus
        .select(col("doc_id"), col("text"),
          graft.functions.TextStats64.text_stats(col("text")).as("__st"),
          graft.functions.RepetitionStats64.repetition_stats(toks).as("__rs"),
          TextStats.fingerprint(col("text")).as("fp"))
        .select(col("doc_id"), col("text"), col("fp"),
          sig(0), // n_tokens
          sig(5), // quality_score
          when(element_at(col("__rs"), 2) > 0,
            (element_at(col("__rs"), 2) - element_at(col("__rs"), 3))
              .cast("double") / element_at(col("__rs"), 2))
            .otherwise(lit(0.0)).as("dup2_ratio"))
      val decon = graft.llm.Spans.decontaminationStats(corpus, bench,
          "doc_id", "text", n = 8)
        .select(col("doc_id"), col("contaminated"))
      val span = graft.llm.Spans.spanDedupStats(corpus, "doc_id", "text",
          n = 8)
        .select(col("doc_id"), col("dup_ratio").as("span_dup_ratio"))
      signals
        .join(decon, Seq("doc_id"))
        .join(span, Seq("doc_id"))
        .where(col("quality_score") >= 0.7 && col("dup2_ratio") <= 0.4 &&
          !col("contaminated") && col("span_dup_ratio") <= 0.5)
        .withColumn("keep_id",
          min(col("doc_id")).over(Window.partitionBy(col("fp"))))
        .where(col("doc_id") === col("keep_id"))
        .select(col("doc_id"), col("n_tokens"), col("quality_score"),
          col("dup2_ratio"), col("span_dup_ratio"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 50 != 0),
           |toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
           |                x -> length(x) > 0) AS t
           |  FROM documents),
           |sig AS (
           |  SELECT c.doc_id,
           |    md5(regexp_replace(lower(trim(c.text)), '\s+', ' ', 'g')) AS fp,
           |    CAST(len(string_split_regex(lower(trim(c.text)), '\s+'))
           |      AS INTEGER) AS n_tokens,
           |    round(
           |    (CASE WHEN len(string_split_regex(lower(trim(c.text)), '\s+'))
           |            BETWEEN 20 AND 1000 THEN 1.0
           |          WHEN len(string_split_regex(lower(trim(c.text)), '\s+'))
           |            >= 5 THEN 0.5 ELSE 0.0 END) * 0.4 +
           |    (CASE WHEN (CASE WHEN length(c.text) > 0
           |                THEN CAST(length(regexp_replace(c.text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / length(c.text)
           |                ELSE 0.0 END) < 0.1 THEN 1.0
           |          WHEN (CASE WHEN length(c.text) > 0
           |                THEN CAST(length(regexp_replace(c.text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE) / length(c.text)
           |                ELSE 0.0 END) < 0.3 THEN 0.5 ELSE 0.0 END) * 0.3 +
           |    (CASE WHEN (CASE WHEN len(string_split_regex(lower(trim(c.text)), '\s+')) > 0
           |                THEN CAST(len(list_filter(string_split_regex(lower(trim(c.text)), '\s+'),
           |                       x -> x IN ('the','a','an','and','of','to','in','is','it','that'))) AS DOUBLE)
           |                     / len(string_split_regex(lower(trim(c.text)), '\s+'))
           |                ELSE 0.0 END) > 0.05 THEN 1.0 ELSE 0.3 END) * 0.3,
           |    4) AS quality_score,
           |    CASE WHEN greatest(len(t.t) - 1, 0) > 0 THEN
           |      CAST(greatest(len(t.t) - 1, 0) -
           |        len(list_distinct([array_to_string(t.t[i:i+1], ' ')
           |          for i in generate_series(1, greatest(len(t.t) - 1, 0))]))
           |        AS DOUBLE) / greatest(len(t.t) - 1, 0)
           |      ELSE 0.0 END AS dup2_ratio
           |  FROM corpus c JOIN toks t USING (doc_id)),
           |grams AS (
           |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g
           |  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS s(i)),
           |bg AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
           |contaminated AS (
           |  SELECT DISTINCT grams.doc_id FROM grams JOIN bg USING (g)
           |  WHERE grams.doc_id % 50 != 0),
           |cpair AS (
           |  SELECT g, doc_id, count(*) AS occ FROM grams
           |  WHERE doc_id % 50 != 0 GROUP BY 1, 2),
           |cdupg AS (SELECT g FROM cpair GROUP BY g HAVING count(*) >= 2),
           |cdup AS (
           |  SELECT p.doc_id, SUM(p.occ) AS dup_windows
           |  FROM cpair p JOIN cdupg USING (g) GROUP BY 1),
           |span AS (
           |  SELECT c.doc_id,
           |    CASE WHEN greatest(len(t.t) - 7, 0) > 0
           |         THEN CAST(coalesce(d.dup_windows, 0) AS DOUBLE)
           |              / greatest(len(t.t) - 7, 0)
           |         ELSE 0.0 END AS span_dup_ratio
           |  FROM corpus c JOIN toks t USING (doc_id)
           |  LEFT JOIN cdup d USING (doc_id)),
           |gated AS (
           |  SELECT s.doc_id, s.fp, s.n_tokens, s.quality_score,
           |    s.dup2_ratio, sp.span_dup_ratio
           |  FROM sig s JOIN span sp USING (doc_id)
           |  WHERE s.quality_score >= 0.7 AND s.dup2_ratio <= 0.4
           |    AND s.doc_id NOT IN (SELECT doc_id FROM contaminated)
           |    AND sp.span_dup_ratio <= 0.5),
           |kept AS (
           |  SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id
           |  FROM gated)
           |SELECT doc_id, n_tokens, quality_score, dup2_ratio, span_dup_ratio
           |FROM kept WHERE doc_id = keep_id
           |ORDER BY doc_id""".stripMargin))

  /** Pixel gray of the SPARSE image fixture in DuckDB SQL
    * ([[graft.llm.Multimodal.synthGraySparse]] term for term):
    * partnered blocks (id//100 ≡ SparseImagePhase mod 4) replay the
    * dense [[q80Gray]]; singletons replay the continuous-level kernel
    * (30 + avalanche(1e9 + id mod M) % 100, no bump — fair comparison
    * bits, see the Scala kernel's scaladoc). Ids are nonnegative, so
    * `%` == the kernel's floorMod. */
  private def q80GraySparse(x: Int, y: Int): String = {
    val seed = s"((1000000000 + id % 2147483647) * 2654435761 + " +
      s"${(9 * y + x + 1) * 40503L})"
    val v0 = s"($seed % 2147483647)"
    val v1 = s"(xor($v0, $v0 >> 15) * 2246822519 % 2147483647)"
    val v2 = s"(xor($v1, $v1 >> 13) * 3266489917 % 2147483647)"
    val sing = s"(30 + xor($v2, $v2 >> 16) % 100)"
    s"(CASE WHEN (id // 100) % 4 = " +
      s"${graft.llm.Multimodal.SparseImagePhase} THEN ${q80Gray(x, y)} " +
      s"ELSE $sing END)"
  }

  /** PCM sample of the SPARSE audio fixture in DuckDB SQL — the
    * [[q80GraySparse]] construction at [[q84Sample]]'s seed constants,
    * singletons at continuous 200 + avalanche % 800. */
  private def q84SampleSparse(i: Int): String = {
    val seed = s"((1000000000 + id % 2147483647) * 2654435761 + " +
      s"${(i + 1) * 48271L})"
    val v0 = s"($seed % 2147483647)"
    val v1 = s"(xor($v0, $v0 >> 15) * 2246822519 % 2147483647)"
    val v2 = s"(xor($v1, $v1 >> 13) * 3266489917 % 2147483647)"
    val sing = s"(200 + xor($v2, $v2 >> 16) % 800)"
    s"(CASE WHEN (id // 100) % 4 = " +
      s"${graft.llm.Multimodal.SparseAudioPhase} THEN ${q84Sample(i)} " +
      s"ELSE $sing END)"
  }

  /** DuckDB replica of [[graft.llm.Multimodal.synthGray]] for pixel
    * (x, y) of doc `id`'s synthetic 9×8 image — every coefficient
    * folded to a literal so the oracle is pure integer arithmetic. */
  private def q80Gray(x: Int, y: Int): String = {
    // murmur-style avalanche over the family id, term-for-term the
    // Scala kernel (Multimodal.synthGray) — xor/shift/multiply/mod
    // only, every intermediate under 2^63
    val seed = s"((id // 100) * 2654435761 + ${(9 * y + x + 1) * 40503L})"
    val v0 = s"($seed % 2147483647)"
    val v1 = s"(xor($v0, $v0 >> 15) * 2246822519 % 2147483647)"
    val v2 = s"(xor($v1, $v1 >> 13) * 3266489917 % 2147483647)"
    val par = s"(xor($v2, $v2 >> 16) % 2)"
    val k = 17 * x + 7 * y
    s"(30 + 100*$par + " +
      s"(CASE WHEN (id*31 + $k) % 97 < 2 THEN 60 ELSE 0 END))"
  }

  /** The q80 oracle, GENERATED: a CTE computes, per doc, the 64 dHash
    * comparison bits (gray(x,y) > gray(x+1,y) on the 9×8 grid) and the
    * 64 aHash gray samples (the 8×8 grid = the first eight columns,
    * since NN maps 8→9 as sx = x·9/8 = x); the pair join then counts
    * bit DISAGREEMENTS directly — Hamming distance without ever
    * materializing the 64-bit hash, which sidesteps the bit-63 BIGINT
    * overflow a SUM-of-powers-of-two encoding would hit. */
  private def q80Oracle: String = {
    // pixel grays hoisted into one CTE (72 columns, p{y*9+x}) so each
    // avalanche chain is written once, not once per comparison
    val pixCols = (for (y <- 0 until 8; x <- 0 until 9)
      yield s"${q80Gray(x, y)} AS p${y * 9 + x}").mkString(",\n    ")
    val dhBits = (0 until 64).map { k =>
      val x = k % 8; val y = k / 8
      s"(p${y * 9 + x} > p${y * 9 + x + 1}) AS db$k"
    }.mkString(",\n    ")
    val ahGrays = (0 until 64).map { k =>
      val x = k % 8; val y = k / 8
      s"p${y * 9 + x} AS g$k"
    }.mkString(",\n    ")
    val ahTotal = (0 until 64).map(k => s"g$k").mkString(" + ")
    val dhHam = (0 until 64).map(k =>
      s"CASE WHEN a.db$k <> b.db$k THEN 1 ELSE 0 END").mkString(" +\n      ")
    val ahHam = (0 until 64).map(k =>
      s"CASE WHEN (64*a.g$k > a.s) <> (64*b.g$k > b.s) THEN 1 ELSE 0 END")
      .mkString(" +\n      ")
    s"""WITH pix AS (
       |  SELECT doc_id AS id,
       |    $pixCols
       |  FROM documents),
       |bits AS (
       |  SELECT id,
       |    $dhBits,
       |    $ahGrays
       |  FROM pix),
       |tot AS (SELECT *, ($ahTotal) AS s FROM bits)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(($dhHam) AS INTEGER) AS dh_hamming,
       |  CAST(($ahHam) AS INTEGER) AS ah_hamming
       |FROM tot a JOIN tot b ON a.id < b.id
       |WHERE ($dhHam) <= 7
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Image near-dup dedup by perceptual hash — the multimodal leg of
    * the dedup mandate: REAL 24bpp BMP payloads (gray levels an
    * integer function of doc_id, [[graft.llm.Multimodal.synthGray]])
    * are fingerprinted through the codegen'd dHash/aHash kernel
    * ([[graft.functions.PerceptualHash]]) and deduped with the SAME
    * Hamming-banding infrastructure as SimHash text dedup — exhaustive
    * for hamming <= 7 < 8 bands, one equi-join shuffle per band, never
    * all-pairs (the oracle's a.id < b.id join is the n² shape this
    * operator exists to avoid). Families of 100 consecutive ids share
    * a base gradient, so each family yields a BOUNDED near-dup clique
    * at small Hamming distance (clique size must not grow with corpus
    * size — pair output is quadratic in clique size by definition);
    * the sparse perturbation keeps pairs nonzero.
    * Output: every pair at dHash Hamming <= 7 with both Hamming
    * distances — the aHash distance rides along so both kernels sit on
    * the hash-gated path. */
  val q80 = QueryDef(
    "q80_image_neardup",
    (s, dir) => {
      import graft.functions.PerceptualHash
      val imgs = graft.llm.Multimodal.syntheticImageTable(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id")
      // fused variant of Multimodal.imageNearDupPairs (blocks=0 →
      // the same auto-sized banding geometry, so the two stay in sync
      // by construction): one fingerprint pass yields BOTH hashes,
      // which the helper's dHash-only contract cannot; undecodable
      // payloads drop before the cache like the helper
      val fp = graft.core.Caching.eager(imgs.select(
        col("media_id").as("id"),
        PerceptualHash.d_hash(col("payload")).as("sh"),
        PerceptualHash.a_hash(col("payload")).as("ah"))
        .where(col("sh").isNotNull))
      Dedup.hammingCandidatesFromFp(fp.select(col("id"), col("sh")),
          blocks = 0, maxHamming = 7, keyBlocks = 0)
        .join(fp.select(col("id").as("id_a"), col("ah").as("ah_a")), "id_a")
        .join(fp.select(col("id").as("id_b"), col("ah").as("ah_b")), "id_b")
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("int").as("dh_hamming"),
          bit_count(col("ah_a").bitwiseXOR(col("ah_b")))
            .cast("int").as("ah_hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(q80Oracle))

  /** How many BPE merge rounds q81 trains (and its oracle unrolls). */
  private val BpeRounds = 10

  /** The q81 oracle, GENERATED: DuckDB replays every training round by
    * BOUNDED UNROLLING — round i recounts adjacent pairs from round
    * i-1's word table, picks the (count desc, pair) argmax, and
    * rewrites via replace(). Symbols are PARENTHESIZED — `(a)(b)(c)`
    * — so a pair occurrence `(a)(b)` shares NO characters with the
    * next one, and replace()'s non-overlapping left-to-right scan is
    * EXACTLY the kernel's greedy merge. (A space-separated,
    * space-padded encoding is subtly wrong here: consecutive
    * occurrences share the boundary space, so `replace(' c o c o ',
    * ' c o ', ' co ')` = ' co c o ' while greedy yields [co, co] —
    * a latent divergence the fixture corpus happened not to trigger,
    * found in round-8 review and pinned by the adversarial-corpus
    * spec.) The alphabet is alnum-filtered, so parens cannot collide
    * with symbol text. An iterative algorithm has no fixed-point SQL
    * form, but a FIXED ROUND COUNT does — the same move as q80's
    * generated bit table. */
  private def q81Oracle: String = {
    val w0 =
      """w0 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS cnt,
        |    '(' || array_to_string(list_transform(
        |      generate_series(1, length(w)), i -> substr(w, i, 1)), ')(')
        |      || ')' AS s
        |  FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(lower(trim(text)), '\s+'),
        |      x -> regexp_matches(x, '^[a-z0-9]+$'))) AS w
        |    FROM documents)
        |  GROUP BY w)""".stripMargin
    val rounds = (1 to BpeRounds).map { i =>
      s"""y$i AS (
         |  SELECT cnt,
         |    string_split(substr(s, 2, length(s) - 2), ')(') AS sym
         |  FROM w${i - 1}),
         |p$i AS (
         |  SELECT sym[j] AS l, sym[j + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS c
         |  FROM y$i, UNNEST(generate_series(1, len(sym) - 1)) AS u(j)
         |  GROUP BY 1, 2),
         |t$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
         |w$i AS (
         |  SELECT cnt,
         |    coalesce(replace(s, '('||l||')('||r||')', '('||l||r||')'), s)
         |      AS s
         |  FROM w${i - 1} LEFT JOIN t$i ON TRUE)""".stripMargin
    }.mkString(",\n")
    val union = (1 to BpeRounds).map { i =>
      s"SELECT CAST($i AS INTEGER) AS merge_rank, l AS lhs, r AS rhs, " +
        s"l||r AS merged, c AS pair_count FROM t$i"
    }.mkString("\n  UNION ALL ")
    s"WITH $w0,\n$rounds\nSELECT * FROM (\n  $union\n) ORDER BY merge_rank"
  }

  /** BPE merge training ([[graft.llm.Bpe]], Sennrich et al. 2016) —
    * the iterative tokenizer-training continuation of q74's vocabulary
    * counting pass: $BpeRounds rounds of pair-count → argmax → rewrite
    * over the distinct-word table, one TakeOrdered row to the driver
    * and one codegen'd merge pass per round. The oracle hash-gates the
    * ENTIRE merge sequence (pairs, concatenations, and weighted
    * counts), so a tie-break, greedy-overlap, or rewrite divergence in
    * any round cascades into a mismatch. */
  val q81 = QueryDef(
    "q81_bpe_merges",
    (s, dir) =>
      graft.llm.Bpe.trainMerges(Tables.documents(s, dir), "text",
          rounds = BpeRounds)
        .orderBy(col("merge_rank")),
    Some(q81Oracle))

  /** The q82 oracle: replay q81's ten training rounds (same generated
    * CTE chain), segment every word from the final round's rewrite
    * state (stripping the parens recovers the word), and roll corpus
    * tokens up per source through that segmentation. */
  private def q82Oracle: String = {
    val base = q81Oracle
    val upToRounds = base.substring(0, base.indexOf("\nSELECT * FROM ("))
    // the embedded CTE chain must NOT pass through a second
    // stripMargin: its continuation lines begin with the `||` concat
    // operator, which a margin strip would truncate to `|`
    upToRounds + "," + "\n" + s"""seg AS (
       |  SELECT replace(replace(s, '(', ''), ')', '') AS w,
       |    CAST(len(string_split(substr(s, 2, length(s) - 2), ')('))
       |      AS BIGINT) AS n_sym
       |  FROM w$BpeRounds),
       |toks AS (
       |  SELECT source, unnest(list_filter(
       |    string_split_regex(lower(trim(text)), '\\s+'),
       |    x -> regexp_matches(x, '^[a-z0-9]+$$'))) AS tok
       |  FROM documents)
       |SELECT t.source,
       |  CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(g.n_sym) AS BIGINT) AS n_symbols,
       |  CAST(SUM(length(t.tok)) AS BIGINT) AS n_chars,
       |  CAST((2 * SUM(g.n_sym) * 10000 + count(*)) // (2 * count(*))
       |       AS DOUBLE) / 10000.0 AS symbols_per_token
       |FROM toks t JOIN seg g ON t.tok = g.w
       |GROUP BY t.source ORDER BY t.source""".stripMargin
  }

  /** BPE ENCODE — the apply side of q81's trained tokenizer: replay
    * the merge list in rank order over every corpus token through the
    * codegen'd rewrite kernel ([[graft.llm.Bpe.encodeTokens]]) and
    * report per-source fertility (symbols per token). This is the
    * 100 TB-relevant half: training is vocabulary-sized, but encoding
    * touches every token of the corpus — here it is a pure MAP-SIDE
    * pass (a fixed merge list folded into the projection, zero
    * shuffles before the final per-source rollup). Sequential replay
    * in rank order reproduces training's final segmentation exactly,
    * which is what the oracle checks word for word via the round-10
    * rewrite state. */
  val q82 = QueryDef(
    "q82_bpe_encode",
    (s, dir) => {
      import graft.llm.Bpe
      val docs = Tables.documents(s, dir)
      val merges = Bpe.trainMerges(docs, "text", rounds = BpeRounds)
        .orderBy(col("merge_rank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val toks = docs.select(col("source"),
          explode(Bpe.alnumTokens(col("text"))).as("tok"))
      Bpe.encodeTokens(toks, "tok", merges)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(size(col("bpe_symbols")).cast("long")).as("n_symbols"),
          sum(length(col("tok")).cast("long")).as("n_chars"))
        .withColumn("symbols_per_token",
          graft.ops.Cleaning.roundHalfUpRatio(
            col("n_symbols") * 10000L, col("n_tokens"), 4))
        .orderBy(col("source"))
    },
    Some(q82Oracle))

  /** The q82 pipeline routed through the PERSISTED model: train,
    * [[graft.llm.Bpe.saveMerges]] to a scratch parquet, load it back
    * with [[graft.llm.Bpe.loadMergePairs]], and encode with the loaded
    * pairs — the model-artifact round-trip a downstream trainer
    * depends on, verified end-to-end by sharing q82's EXACT oracle
    * (any drift through save/load breaks the hash gate).
    *
    * The scratch model dir is a DRIVER-LOCAL path: that works because
    * save writes `coalesce(1)` from the driver-adjacent local cluster
    * and `loadMergePairs` collects eagerly (model-sized) — after which
    * the dir is deleted here, before the returned plan ever runs. On a
    * real multi-node cluster the scratch path must be shared storage
    * (HDFS/S3), exactly like any model artifact; the round-trip logic
    * itself is storage-agnostic. */
  val q86 = QueryDef(
    "q86_bpe_encode_persisted",
    (s, dir) => {
      import graft.llm.Bpe
      val docs = Tables.documents(s, dir)
      val modelPath = java.nio.file.Files
        .createTempDirectory("graft_bpe_model")
      Bpe.saveMerges(Bpe.trainMerges(docs, "text", rounds = BpeRounds),
        modelPath.toString + "/merges")
      // eager, model-sized collect — the files are consumed HERE, so
      // the scratch dir can be removed before the lazy plan returns
      // (one leaked dir per correctness run otherwise)
      val merges =
        try Bpe.loadMergePairs(s, modelPath.toString + "/merges")
        finally {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(modelPath)
          try walk.iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
          finally walk.close()
        }
      val toks = docs.select(col("source"),
          explode(Bpe.alnumTokens(col("text"))).as("tok"))
      Bpe.encodeTokens(toks, "tok", merges)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(size(col("bpe_symbols")).cast("long")).as("n_symbols"),
          sum(length(col("tok")).cast("long")).as("n_chars"))
        .withColumn("symbols_per_token",
          graft.ops.Cleaning.roundHalfUpRatio(
            col("n_symbols") * 10000L, col("n_tokens"), 4))
        .orderBy(col("source"))
    },
    Some(q82Oracle),
    // bench-flagged (round 16): unlike q82 this row also pays the
    // model-artifact round-trip (train → saveMerges → loadMergePairs)
    // before the encode, so its delta over q82 IS the persistence cost
    bench = true)

  /** Batched BPE training ([[graft.llm.Bpe.trainMergesBatched]]) at
    * batch size 1 under q81's EXACT hash-gating oracle: the batched
    * entry point's selection, tie-breaks, counts, and rewrites must
    * reduce to the sequential trainer when each cycle holds one merge
    * — the correctness anchor for the batched path (batch sizes > 1
    * follow a documented approximation of classic BPE that no bounded
    * SQL unrolling can replay: the greedy non-interacting selection is
    * itself sequential — those are spec-pinned in SpansSpec instead).
    * The registry's ONLY bench-excluded row (q86 gained a bench flag
    * in round 16 to price the persistence round-trip): its oracle is
    * q81's replayed, and at batchSize=1 its plan IS q81's, so a bench
    * row would time q81 twice under two names. */
  val q88 = QueryDef(
    "q88_bpe_merges_batched",
    (s, dir) =>
      graft.llm.Bpe.trainMergesBatched(Tables.documents(s, dir), "text",
          rounds = BpeRounds, batchSize = 1)
        .select(col("merge_rank"), col("lhs"), col("rhs"), col("merged"),
          col("pair_count"))
        .orderBy(col("merge_rank")),
    Some(q81Oracle),
    bench = false)

  /** Duplicated-span REMOVAL ([[graft.llm.Spans.removeDuplicateSpans]],
    * Lee et al. 2022 ExactSubstr at window granularity) — the rewrite
    * q72 only measures: every duplicated 8-token window keeps its
    * globally-first occurrence, covered tokens elsewhere are deleted,
    * changed docs rebuild from surviving tokens. Rolled up per source
    * with a per-doc polynomial checksum of the CLEANED TEXT ITSELF
    * (the q85 hash convention, exact integers), so the oracle verifies
    * the rewritten corpus character-for-character, not just counts.
    * The Spark side runs the hashed-gram scale path; the oracle
    * replays string grams — identical removal sets by the q72
    * hashed==string equality-structure pin. */
  val q90 = QueryDef(
    "q90_span_removal",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val cleaned = graft.llm.Spans.removeDuplicateSpans(
        docs, "doc_id", "text", n = 8)
      val joined = docs.select(col("doc_id"), col("source"))
        .join(cleaned, Seq("doc_id"))
      // codegen'd code-point fold (empty doc = the 7 seed; NULL stays
      // NULL and sum skips it on both engines)
      joined
        .withColumn("__h",
          graft.functions.PolyHash31.poly_hash31(col("cleaned")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("changed").cast("long")).as("docs_changed"),
          sum(col("tokens_before")).as("tokens_before"),
          sum(col("tokens_removed")).as("tokens_removed"),
          sum(col("__h")).as("cleaned_checksum"))
        .orderBy(col("source"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id, source, text,
           |    list_filter(string_split_regex(lower(trim(coalesce(text, ''))),
           |                                   '\s+'),
           |                x -> length(x) > 0) AS t
           |  FROM documents),
           |occ AS (
           |  SELECT doc_id, i AS p, array_to_string(t[i:i+7], ' ') AS g
           |  FROM toks,
           |    UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS s(i)),
           |marked AS (
           |  SELECT doc_id, p FROM (
           |    SELECT doc_id, p,
           |      row_number() OVER (PARTITION BY g ORDER BY doc_id, p) AS rn
           |    FROM occ) WHERE rn > 1),
           |removal AS (
           |  SELECT DISTINCT doc_id, i AS idx
           |  FROM marked, UNNEST(generate_series(p, p + 7)) AS s(i)),
           |changed AS (SELECT DISTINCT doc_id FROM removal),
           |surv AS (
           |  SELECT tk.doc_id, tk.idx, tk.tok FROM (
           |    SELECT toks.doc_id, i AS idx, t[i] AS tok
           |    FROM toks JOIN changed USING (doc_id),
           |      UNNEST(generate_series(1, len(t))) AS s(i)) tk
           |  LEFT JOIN removal r ON r.doc_id = tk.doc_id AND r.idx = tk.idx
           |  WHERE r.doc_id IS NULL),
           |rebuilt AS (
           |  SELECT doc_id, count(*) AS after,
           |    string_agg(tok, ' ' ORDER BY idx) AS cleaned
           |  FROM surv GROUP BY doc_id),
           |perdoc AS (
           |  SELECT tk.source,
           |    CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS chg,
           |    len(tk.t) AS nb,
           |    CASE WHEN c.doc_id IS NOT NULL
           |         THEN len(tk.t) - coalesce(r.after, 0) ELSE 0 END AS nr,
           |    CASE WHEN c.doc_id IS NOT NULL THEN coalesce(r.cleaned, '')
           |         ELSE tk.text END AS cleaned
           |  FROM toks tk
           |  LEFT JOIN changed c USING (doc_id)
           |  LEFT JOIN rebuilt r USING (doc_id)),
           |hashed AS (
           |  SELECT source, chg, nb, nr,
           |    list_reduce(list_prepend(CAST(7 AS BIGINT),
           |      list_transform(
           |        generate_series(1, CAST(length(cleaned) AS INTEGER)),
           |        i -> CAST(ord(substr(cleaned, i, 1)) AS BIGINT))),
           |      (acc, c) -> (acc * 31 + c) % 2147483647) AS h
           |  FROM perdoc)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(chg) AS BIGINT) AS docs_changed,
           |  CAST(sum(nb) AS BIGINT) AS tokens_before,
           |  CAST(sum(nr) AS BIGINT) AS tokens_removed,
           |  CAST(sum(h) AS BIGINT) AS cleaned_checksum
           |FROM hashed GROUP BY source ORDER BY source""".stripMargin))

  /** Near-dup dedup APPLY — the rewrite step for the MinHash family,
    * completing the stats→apply arc the way q90 does for spans: q30's
    * verified near-dup pairs (exact Jaccard >= 0.8 over banded
    * candidates) become edges, [[graft.llm.Dedup.connectedComponents]]
    * labels the duplicate cliques, and each clique keeps exactly its
    * MINIMUM doc_id (the cluster label itself under the min-label CC
    * convention — deterministic, partitioning-invariant); singletons
    * survive untouched. Output: per-source yield — docs in, docs
    * kept, chars kept, and the kept-id checksum that pins WHICH docs
    * survived, not just how many. The oracle recomposes q30's exact
    * pair CTE, replays CC by recursive reachability (q59's pattern),
    * and applies the same keep rule. */
  val q91 = QueryDef(
    "q91_neardup_apply",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val edges = Dedup.minhashNearDupPairs(d, "doc_id", "text",
          threshold = 0.8, shingleN = 2, bands = 16, rows = 4)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val labels = Dedup.connectedComponents(edges)
      d.join(labels, col("doc_id") === col("id"), "left")
        .withColumn("cl", coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("kept", col("doc_id") === col("cl"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("kept").cast("long")).as("n_kept"),
          sum(when(col("kept"), col("n_chars")).otherwise(lit(0L)))
            .cast("long").as("chars_kept"),
          sum(when(col("kept"), col("doc_id")).otherwise(lit(0L)))
            .cast("long").as("kept_id_sum"))
        .orderBy(col("source"))
    },
    Some("""WITH RECURSIVE toks AS (
           |  SELECT doc_id,
           |    list_distinct(CASE WHEN len(w) >= 2
           |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
           |      ELSE [array_to_string(w, ' ')] END) AS sh
           |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           |        FROM documents)),
           |ex AS (SELECT doc_id, unnest(sh) AS s FROM toks),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1),
           |inter AS (
           |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
           |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2),
           |p0 AS (
           |  SELECT id_a, id_b FROM inter
           |  JOIN sizes sa ON id_a = sa.doc_id
           |  JOIN sizes sb ON id_b = sb.doc_id
           |  WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.8),
           |edges AS (SELECT id_a AS a, id_b AS b FROM p0
           |          UNION ALL SELECT id_b, id_a FROM p0),
           |reach(id, r) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.b, r.r FROM reach r JOIN edges e ON e.a = r.id),
           |lab AS (SELECT id, min(r) AS cl FROM reach GROUP BY id)
           |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN d.doc_id = lab.cl THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_kept,
           |  CAST(sum(CASE WHEN d.doc_id = lab.cl THEN d.n_chars ELSE 0 END)
           |    AS BIGINT) AS chars_kept,
           |  CAST(sum(CASE WHEN d.doc_id = lab.cl THEN d.doc_id ELSE 0 END)
           |    AS BIGINT) AS kept_id_sum
           |FROM documents d JOIN lab ON d.doc_id = lab.id
           |GROUP BY d.source ORDER BY d.source""".stripMargin))

  /** Deterministic global shuffle + balanced shard assignment
    * ([[graft.ops.Sharding]]) — the training-order step a pipeline
    * ends with: every doc gets (shard, position) as a pure function of
    * (doc_id, seed) via the q61 portable-arithmetic hash family, so
    * the oracle reproduces the EXACT permutation. The per-shard
    * position-weighted checksum (Σ position·(doc_id mod 1000003) mod
    * 2^31, exact integers) pins the ORDER, not just membership — any
    * transposition inside any shard flips it. One exchange + one
    * per-shard sort; checksum terms stay < 2^63 to corpus sizes of
    * 10^9 docs/shard. */
  val q89 = QueryDef(
    "q89_training_shards",
    (s, dir) =>
      graft.ops.Sharding.assign(
          Tables.documents(s, dir).select(col("doc_id"), col("n_chars")),
          "doc_id", nShards = 32, seed = 42L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("n_chars"),
          min_by(col("doc_id"), col("position")).as("first_doc_id"),
          sum(pmod(col("position") * pmod(col("doc_id"), lit(1000003L)),
            lit(2147483648L))).as("order_checksum"))
        .orderBy(col("shard")),
    Some("""WITH h AS (
           |  SELECT doc_id, n_chars,
           |    ((doc_id % 2147483647) * 2654435761
           |     + ((doc_id // 2147483647) % 2147483647) * 40503
           |     + 42 * 97003) % 4294967296 AS h
           |  FROM documents),
           |k AS (
           |  SELECT doc_id, n_chars, CAST(h % 32 AS INTEGER) AS shard,
           |    (h * 69069 + doc_id % 2147483647) % 4294967296 AS ok
           |  FROM h),
           |p AS (
           |  SELECT shard, doc_id, n_chars,
           |    row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id)
           |      AS position
           |  FROM k)
           |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
           |  arg_min(doc_id, position) AS first_doc_id,
           |  CAST(sum((position * (doc_id % 1000003)) % 2147483648)
           |    AS BIGINT) AS order_checksum
           |FROM p GROUP BY shard ORDER BY shard""".stripMargin))

  /** PII redaction scrub ([[graft.llm.Scrub]]) over a corpus with
    * deterministically injected PII (emails/URLs/IPs/phone runs as
    * arithmetic functions of doc_id — the q80 pattern: real payloads
    * the oracle can regenerate), rolled up per source: exact match
    * counts per pattern plus before/after character totals. Pure
    * map-side until the rollup; the oracle replays the same injection,
    * the same stage-ordered regexp_replace chain, and the same counts
    * in DuckDB's RE2 — the patterns are restricted to the
    * Java∩RE2 dialect intersection precisely so this is an exact
    * replay, not a rows-only check. */
  val q83 = QueryDef(
    "q83_pii_scrub",
    (s, dir) => {
      import graft.llm.Scrub
      val id = col("doc_id")
      val inject = when(id % 4 === 0,
          concat(lit(" contact user"), id.cast("string"),
            lit("@example.com now")))
        .when(id % 4 === 1,
          concat(lit(" visit https://example.org/p/"), id.cast("string"),
            lit(" today")))
        .when(id % 4 === 2,
          concat(lit(" call 050-"),
            (id % 9000000 + 1000000).cast("string"), lit(" now")))
        .otherwise(concat(lit(" host 10.0."), (id % 256).cast("string"),
          lit("."), (id % 100).cast("string"), lit(" up")))
      val seeded = Tables.documents(s, dir)
        .select(col("source"), concat(col("text"), inject).as("t"))
      Scrub.scrubWithCountsFused(seeded, "t")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_email")).as("emails"),
          sum(col("n_url")).as("urls"),
          sum(col("n_ip")).as("ips"),
          sum(col("n_phone")).as("phones"),
          sum(length(col("t")).cast("long")).as("chars_before"),
          sum(length(col("scrubbed_t")).cast("long")).as("chars_after"))
        .orderBy(col("source"))
    },
    Some {
      // one CTE per scrub stage, mirroring the Scala fold: counts are
      // taken on the stage's INPUT text, then the replacement rewrites
      // `t` for the next stage; earlier counts ride along by name
      val stages = graft.llm.Scrub.patterns.zipWithIndex.map {
        case ((name, p, r), i) =>
          val carried = ("chars_before" +:
            graft.llm.Scrub.patterns.take(i).map(x => s"n_${x._1}"))
            .mkString(", ")
          s"""s${i + 1} AS (
             |  SELECT source, $carried,
             |    len(regexp_extract_all(t, '$p')) AS n_$name,
             |    regexp_replace(t, '$p', '$r', 'g') AS t
             |  FROM s$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH s0 AS (
         |  SELECT source, length(t) AS chars_before, t FROM (
         |    SELECT source,
         |      text || CASE CAST(doc_id % 4 AS INTEGER)
         |        WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
         |          || '@example.com now'
         |        WHEN 1 THEN ' visit https://example.org/p/'
         |          || CAST(doc_id AS VARCHAR) || ' today'
         |        WHEN 2 THEN ' call 050-'
         |          || CAST(doc_id % 9000000 + 1000000 AS VARCHAR) || ' now'
         |        ELSE ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |          || '.' || CAST(doc_id % 100 AS VARCHAR) || ' up'
         |      END AS t
         |    FROM documents)),
         |$stages
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_email) AS BIGINT) AS emails,
         |  CAST(SUM(n_url) AS BIGINT) AS urls,
         |  CAST(SUM(n_ip) AS BIGINT) AS ips,
         |  CAST(SUM(n_phone) AS BIGINT) AS phones,
         |  CAST(SUM(chars_before) AS BIGINT) AS chars_before,
         |  CAST(SUM(length(t)) AS BIGINT) AS chars_after
         |FROM s${graft.llm.Scrub.patterns.size}
         |GROUP BY source ORDER BY source""".stripMargin
    })

  /** DuckDB replica of [[graft.llm.Multimodal.synthSample]] for sample
    * `i` of doc `id`'s synthetic PCM stream — every coefficient folded
    * to a literal, same avalanche style as [[q80Gray]]. */
  private def q84Sample(i: Int): String = {
    val seed = s"((id // 100) * 2654435761 + ${(i + 1) * 48271L})"
    val v0 = s"($seed % 2147483647)"
    val v1 = s"(xor($v0, $v0 >> 15) * 2246822519 % 2147483647)"
    val v2 = s"(xor($v1, $v1 >> 13) * 3266489917 % 2147483647)"
    val par = s"(xor($v2, $v2 >> 16) % 2)"
    s"(200 + 800*$par + " +
      s"(CASE WHEN (id*31 + ${i * 17}) % 97 < 2 THEN 500 ELSE 0 END))"
  }

  /** The q84 oracle, GENERATED like q80's: a CTE computes the 144
    * samples, the next the 72 cell energies (2 samples per cell in the
    * fixture), the next the 64 energy-gradient comparison bits; the
    * pair join counts bit DISAGREEMENTS directly — Hamming without
    * materializing the 64-bit hash (the same bit-63 BIGINT-overflow
    * dodge as q80). */
  private def q84Oracle: String = {
    val sampleCols = (0 until 144).map(i =>
      s"${q84Sample(i)} AS s$i").mkString(",\n    ")
    val energyCols = (0 until 72).map(k =>
      s"(s${2 * k}*s${2 * k} + s${2 * k + 1}*s${2 * k + 1}) AS e$k")
      .mkString(",\n    ")
    val bitCols = (0 until 64).map { k =>
      val x = k % 8; val y = k / 8
      s"(e${y * 9 + x} > e${y * 9 + x + 1}) AS db$k"
    }.mkString(",\n    ")
    val ham = (0 until 64).map(k =>
      s"CASE WHEN a.db$k <> b.db$k THEN 1 ELSE 0 END").mkString(" +\n      ")
    s"""WITH smp AS (
       |  SELECT doc_id AS id,
       |    $sampleCols
       |  FROM documents),
       |nrg AS (
       |  SELECT id,
       |    $energyCols
       |  FROM smp),
       |bits AS (
       |  SELECT id,
       |    $bitCols
       |  FROM nrg)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(($ham) AS INTEGER) AS hamming
       |FROM bits a JOIN bits b ON a.id < b.id
       |WHERE ($ham) <= 7
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Audio near-dup dedup by acoustic fingerprint — the WAV leg of the
    * multimodal dedup mandate (the image leg is q80): REAL canonical
    * PCM16 WAV payloads (samples an integer function of doc_id,
    * [[graft.llm.Multimodal.synthSample]]) are fingerprinted through
    * the codegen'd time-domain energy-gradient kernel
    * ([[graft.functions.AudioFingerprint]], Haitsma–Kalker-style sign
    * bits) and deduped with the SAME Hamming banding as q80 — one
    * equi-join keyed on (combination, key bits), exhaustive for
    * hamming <= 7, never all-pairs (the oracle's a.id < b.id join is
    * the n² shape this operator exists to avoid). Families of 100
    * consecutive ids share a base waveform; sparse per-id bumps make
    * bounded near-dup cliques, exactly the q80 fixture argument. */
  val q84 = QueryDef(
    "q84_audio_neardup",
    (s, dir) => {
      val wavs = graft.llm.Multimodal.syntheticAudioTable(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id")
      graft.llm.Multimodal.audioNearDupPairs(wavs, "media_id", "payload")
        .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(q84Oracle))

  /** Learned document-quality gate ([[graft.llm.Quality]], fastText-
    * style hashed uni+bigram linear model, inference only) rolled up
    * per source: docs, gate-kept docs, gram and weight totals — every
    * column an exact BIGINT, the keep gate cross-multiplied so neither
    * engine divides. The oracle recomputes each gram's weight from its
    * hash bucket alone (the weight fixture is a formula, not a table),
    * replaying the polynomial char fold via list_reduce and the
    * avalanche via xor/shift/mod — all in the Java∩DuckDB exact
    * integer domain. Docs with zero grams (NULL/empty/filtered-out
    * text) re-enter via left join: counted, never kept. */
  val q85 = QueryDef(
    "q85_quality_gate",
    (s, dir) =>
      graft.llm.Quality.gateRollup(
          Tables.documents(s, dir).select(col("source"), col("text")),
          "text", "source")
        .orderBy(col("source")),
    Some {
      val hash =
        """list_reduce(list_prepend(CAST(7 AS BIGINT),
          |      list_transform(generate_series(1, CAST(length(g) AS INTEGER)),
          |        i -> CAST(ord(substr(g, i, 1)) AS BIGINT))),
          |      (acc, c) -> (acc*31 + c) % 2147483647)""".stripMargin
      s"""WITH words AS (
         |  SELECT doc_id, list_filter(
         |    string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> regexp_matches(x, '^[a-z0-9]+$$')) AS ws
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(ws) AS g FROM words
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(ws) - 1),
         |    i -> ws[i] || ' ' || ws[i + 1])) AS g FROM words),
         |scored AS (
         |  SELECT doc_id, b,
         |    ((xor(v0, v0 >> 15) * 2246822519 % 2147483647) % 1001) - 500 AS w
         |  FROM (
         |    SELECT doc_id, b, ((b + 1) * 2654435761) % 2147483647 AS v0
         |    FROM (SELECT doc_id, ($hash) % 1024 AS b FROM grams))),
         |per_doc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(w) AS BIGINT) AS sum_w
         |  FROM scored GROUP BY doc_id)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN coalesce(p.sum_w, 0) * 1000 >
         |    25 * coalesce(p.n_grams, 0) THEN 1 ELSE 0 END) AS BIGINT)
         |    AS kept_docs,
         |  CAST(sum(coalesce(p.n_grams, 0)) AS BIGINT) AS grams,
         |  CAST(sum(coalesce(p.sum_w, 0)) AS BIGINT) AS weight_sum
         |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin
    })

  /** Corpus prep with the LEARNED gate composed in — the third
    * member of the q52/q79 recipe family, using q85's fastText-style
    * scorer as the keep gate ahead of exact dedup (the
    * RefinedWeb/DCLM ordering: learned quality gate, then dedup):
    * per source, docs → gate-kept → surviving exact dedup, plus gram
    * and weight totals. One plan: map-side kernel scoring, ONE window
    * over the fingerprint (conditional min over kept docs only), one
    * rollup. The oracle rebuilds the q85 scoring CTEs and replays the
    * gate+dedup chain; every column exact BIGINT. */
  val q87 = QueryDef(
    "q87_corpus_prep_learned",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      graft.llm.Quality.scored(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            col("text")), "text")
        .withColumn("fp", TextStats.fingerprint(col("text")))
        .withColumn("keep_id",
          min(when(col("quality_kept"), col("doc_id")))
            .over(Window.partitionBy(col("fp"))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("quality_kept"), 1L).otherwise(0L)).as("gate_kept"),
          sum(when(col("quality_kept") && col("doc_id") === col("keep_id"),
            1L).otherwise(0L)).as("after_dedup"),
          sum(col("quality_grams")).as("grams"),
          sum(col("quality_weight_sum")).as("weight_sum"))
        .orderBy(col("source"))
    },
    Some {
      val hash =
        """list_reduce(list_prepend(CAST(7 AS BIGINT),
          |      list_transform(generate_series(1, CAST(length(g) AS INTEGER)),
          |        i -> CAST(ord(substr(g, i, 1)) AS BIGINT))),
          |      (acc, c) -> (acc*31 + c) % 2147483647)""".stripMargin
      s"""WITH words AS (
         |  SELECT doc_id, list_filter(
         |    string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> regexp_matches(x, '^[a-z0-9]+$$')) AS ws
         |  FROM documents),
         |grams AS (
         |  SELECT doc_id, unnest(ws) AS g FROM words
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(ws) - 1),
         |    i -> ws[i] || ' ' || ws[i + 1])) AS g FROM words),
         |scored AS (
         |  SELECT doc_id,
         |    ((xor(v0, v0 >> 15) * 2246822519 % 2147483647) % 1001) - 500 AS w
         |  FROM (
         |    SELECT doc_id, ((b + 1) * 2654435761) % 2147483647 AS v0
         |    FROM (SELECT doc_id, ($hash) % 1024 AS b FROM grams))),
         |per_doc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(w) AS BIGINT) AS sum_w
         |  FROM scored GROUP BY doc_id),
         |gated AS (
         |  SELECT d.doc_id, d.source,
         |    md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp,
         |    coalesce(p.n_grams, 0) AS n_grams,
         |    coalesce(p.sum_w, 0) AS sum_w,
         |    coalesce(p.sum_w, 0) * 1000 > 25 * coalesce(p.n_grams, 0) AS kept
         |  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id),
         |dedup AS (
         |  SELECT *, min(CASE WHEN kept THEN doc_id END)
         |    OVER (PARTITION BY fp) AS keep_id
         |  FROM gated)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS gate_kept,
         |  CAST(sum(CASE WHEN kept AND doc_id = keep_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS after_dedup,
         |  CAST(sum(n_grams) AS BIGINT) AS grams,
         |  CAST(sum(sum_w) AS BIGINT) AS weight_sum
         |FROM dedup GROUP BY source ORDER BY source""".stripMargin
    })

  /** THE TRAINING-DATA FREEZE — the full end-to-end arc every
    * pipeline in this family builds toward, composed as ONE plan
    * producing the shard artifact a trainer streams:
    *
    *   1. learned quality gate (q85's fastText-style kernel scorer;
    *      benchmark docs — every 50th — are held OUT of the corpus
    *      from the start, q78's eval-split convention),
    *   2. near-dup APPLY over the gate survivors (q91's keep rule:
    *      MinHash-banded exact-Jaccard >= 0.8 pairs → connected
    *      components → each clique keeps its minimum doc_id),
    *   3. decontamination gate (q78: drop any survivor sharing an
    *      8-gram window with the held-out benchmark; broadcast gram
    *      probe, corpus never shuffles),
    *   4. deterministic shard assignment + training order (q89:
    *      (shard, position) = f(doc_id, seed), ONE exchange + one
    *      per-shard sort),
    *   5. sequence packing WITHIN each shard in training order
    *      (q77's prefix-sum bins at budget 512 — riding the SAME
    *      per-shard sort the order window forced, so packing adds no
    *      exchange).
    *
    * Output grain: one row per shard — docs, token and bin totals,
    * boundary-crossing docs (the attention-mask cases), first doc in
    * training order, and q89's position-weighted order checksum
    * closing the artifact end: any transposition anywhere in any
    * shard's training order flips it.
    *
    * Scale shape: gate is one map-side kernel scan; pairs are banded
    * (never all-pairs); CC is one job per pointer-jump round;
    * decontamination broadcasts the benchmark gram set; the
    * shard+pack tail is exactly q89's single exchange. At 100 TB the
    * `deduped` subtree (used by both the decon probe and the final
    * spine) would be checkpointed once instead of recomputed — here
    * it recomputes two cheap scans.
    *
    * Full DuckDB oracle: the member CTEs recomposed in sequence —
    * q85's scoring chain, q91's exact-pair + recursive-reachability
    * CC, q78's gram overlap, q89's portable-arithmetic permutation,
    * q77's prefix-sum packing — every column exact BIGINT. */
  val q92 = QueryDef(
    "q92_training_freeze",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      val bench = d.where(col("doc_id") % 50 === 0)
      val corpus = d.where(col("doc_id") % 50 =!= 0)
      // 1. learned gate (map-side kernel scan) — cached (r17): three
      // consumers read it (the near-dup operator's own base build, the
      // label join producing `deduped`, and the survivor projection),
      // and uncached each re-ran the scoring kernel over the corpus
      val gated = graft.core.Caching.eager(graft.llm.Quality.scored(
          corpus.select(col("doc_id"), col("text")), "text")
        .where(col("quality_kept"))
        .select(col("doc_id"), col("text")))
      // 2. near-dup apply over the survivors (q91's keep rule)
      val edges = Dedup.minhashNearDupPairs(gated, "doc_id", "text",
          threshold = 0.8, shingleN = 2, bands = 16, rows = 4)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val labels = Dedup.connectedComponents(edges)
      val deduped = gated.join(labels, col("doc_id") === col("id"), "left")
        .where(coalesce(col("cluster_id"), col("doc_id")) === col("doc_id"))
        .select(col("doc_id"), col("text"))
      // 3. decontamination vs the held-out benchmark
      val decon = graft.llm.Spans.decontaminationStats(
        deduped, bench, "doc_id", "text", n = 8)
      val surv = deduped
        .join(decon.where(!col("contaminated")).select(col("doc_id")),
          Seq("doc_id"))
        .select(col("doc_id"),
          size(filter(split(lower(trim(col("text"))), "\\s+"),
            w => length(w) > 0)).cast("long").as("n_toks"))
      // 4. deterministic shards + training order (q89)
      val sharded = graft.ops.Sharding.assign(surv, "doc_id",
        nShards = 32, seed = 42L)
      // 5. packing within the shard in TRAINING order — same window
      // partitioning as the position sort, so no new exchange
      val w = Window.partitionBy(col("shard")).orderBy(col("position"))
        .rowsBetween(Window.unboundedPreceding, -1)
      sharded
        .withColumn("cum_prev",
          coalesce(sum(col("n_toks")).over(w), lit(0L)))
        .withColumn("bin_start",
          graft.ops.Cleaning.intDiv(col("cum_prev"), lit(512L)))
        .withColumn("bin_end",
          graft.ops.Cleaning.intDiv(
            col("cum_prev") + greatest(col("n_toks"), lit(1L)) - lit(1L),
            lit(512L)))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          (max(col("bin_end")) + lit(1L)).as("n_bins"),
          sum(when(col("bin_end") > col("bin_start"), 1L).otherwise(0L))
            .as("n_crossers"),
          min_by(col("doc_id"), col("position")).as("first_doc_id"),
          sum(pmod(col("position") * pmod(col("doc_id"), lit(1000003L)),
            lit(2147483648L))).as("order_checksum"))
        .orderBy(col("shard"))
    },
    Some {
      val hash =
        """list_reduce(list_prepend(CAST(7 AS BIGINT),
          |      list_transform(generate_series(1, CAST(length(g) AS INTEGER)),
          |        i -> CAST(ord(substr(g, i, 1)) AS BIGINT))),
          |      (acc, c) -> (acc*31 + c) % 2147483647)""".stripMargin
      s"""WITH RECURSIVE words AS (
         |  SELECT doc_id, list_filter(
         |    string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> regexp_matches(x, '^[a-z0-9]+$$')) AS ws
         |  FROM documents WHERE doc_id % 50 != 0),
         |grams AS (
         |  SELECT doc_id, unnest(ws) AS g FROM words
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(ws) - 1),
         |    i -> ws[i] || ' ' || ws[i + 1])) AS g FROM words),
         |scored AS (
         |  SELECT doc_id,
         |    ((xor(v0, v0 >> 15) * 2246822519 % 2147483647) % 1001) - 500 AS w
         |  FROM (
         |    SELECT doc_id, ((b + 1) * 2654435761) % 2147483647 AS v0
         |    FROM (SELECT doc_id, ($hash) % 1024 AS b FROM grams))),
         |per_doc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(w) AS BIGINT) AS sum_w
         |  FROM scored GROUP BY doc_id),
         |gatekept AS (
         |  SELECT d.doc_id, d.text
         |  FROM documents d LEFT JOIN per_doc p USING (doc_id)
         |  WHERE d.doc_id % 50 != 0
         |    AND coalesce(p.sum_w, 0) * 1000 > 25 * coalesce(p.n_grams, 0)),
         |shing AS (
         |  SELECT doc_id,
         |    list_distinct(CASE WHEN len(w) >= 2
         |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
         |      ELSE [array_to_string(w, ' ')] END) AS sh
         |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
         |        FROM gatekept)),
         |ex AS (SELECT doc_id, unnest(sh) AS s2 FROM shing),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
         |  FROM ex x JOIN ex y ON x.s2 = y.s2 AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |p0 AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.8),
         |cedges AS (SELECT id_a AS a, id_b AS b FROM p0
         |           UNION ALL SELECT id_b, id_a FROM p0),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM gatekept
         |  UNION
         |  SELECT e.b, r.r FROM reach r JOIN cedges e ON e.a = r.id),
         |lab AS (SELECT id, min(r) AS cl FROM reach GROUP BY id),
         |deduped AS (
         |  SELECT g.doc_id, g.text FROM gatekept g JOIN lab ON g.doc_id = lab.id
         |  WHERE g.doc_id = lab.cl),
         |dtoks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |                             x -> length(x) > 0) AS t
         |  FROM deduped),
         |dgrams AS (
         |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS g8
         |  FROM dtoks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS s(i)),
         |btoks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
         |                             x -> length(x) > 0) AS t
         |  FROM documents WHERE doc_id % 50 = 0),
         |bg AS (
         |  SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS g8
         |  FROM btoks, UNNEST(generate_series(1, greatest(len(t) - 7, 0))) AS s(i)),
         |contam AS (SELECT DISTINCT dgrams.doc_id FROM dgrams JOIN bg USING (g8)),
         |surv AS (
         |  SELECT d.doc_id, CAST(len(t.t) AS BIGINT) AS n_toks
         |  FROM deduped d JOIN dtoks t USING (doc_id)
         |  LEFT JOIN contam c ON d.doc_id = c.doc_id
         |  WHERE c.doc_id IS NULL),
         |hh AS (
         |  SELECT doc_id, n_toks,
         |    ((doc_id % 2147483647) * 2654435761
         |     + ((doc_id // 2147483647) % 2147483647) * 40503
         |     + 42 * 97003) % 4294967296 AS h
         |  FROM surv),
         |kk AS (
         |  SELECT doc_id, n_toks, CAST(h % 32 AS INTEGER) AS shard,
         |    (h * 69069 + doc_id % 2147483647) % 4294967296 AS ok
         |  FROM hh),
         |pp AS (
         |  SELECT shard, doc_id, n_toks,
         |    row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id)
         |      AS position
         |  FROM kk),
         |cc AS (
         |  SELECT shard, doc_id, n_toks, position,
         |    coalesce(SUM(n_toks) OVER (PARTITION BY shard ORDER BY position
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
         |  FROM pp),
         |bb AS (
         |  SELECT shard, doc_id, n_toks, position,
         |    CAST(cum_prev // 512 AS BIGINT) AS bin_start,
         |    CAST((cum_prev + greatest(n_toks, 1) - 1) // 512 AS BIGINT) AS bin_end
         |  FROM cc)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |  CAST(max(bin_end) + 1 AS BIGINT) AS n_bins,
         |  CAST(sum(CASE WHEN bin_end > bin_start THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_crossers,
         |  arg_min(doc_id, position) AS first_doc_id,
         |  CAST(sum((position * (doc_id % 1000003)) % 2147483648)
         |    AS BIGINT) AS order_checksum
         |FROM bb GROUP BY shard ORDER BY shard""".stripMargin
    })

  /** Encoding-anomaly audit ([[graft.llm.Encoding]]) — the mojibake /
    * control-character gate of the C4/CCNet cleaning family, over a
    * corpus with deterministically injected damage (the q83 pattern:
    * payloads the oracle regenerates from doc_id): exact per-signal
    * counts + the clean-doc gate rate, rolled up per source. Pure
    * map-side until the rollup; patterns in the Java∩RE2 dialect
    * intersection so DuckDB replays every count exactly. */
  val q93 = QueryDef(
    "q93_encoding_anomalies",
    (s, dir) => {
      val id = col("doc_id")
      val inject = when(id % 5 === 0, lit(" lost � byte"))
        .when(id % 5 === 1, // "cafA~(c)" shape: UTF-8 e-acute read as Latin-1
          lit(" cafÃ© menu"))
        .when(id % 5 === 2, lit(" bellring"))
        .when(id % 5 === 3, lit(" nextline"))
        .otherwise(lit(" clean tail"))
      graft.llm.Encoding.anomalyRollup(
          Tables.documents(s, dir)
            .select(col("source"), concat(col("text"), inject).as("t")),
          "t", "source")
        .orderBy(col("source"))
    },
    Some {
      val counts = graft.llm.Encoding.patterns.map { case (name, p) =>
        s"coalesce(len(regexp_extract_all(t, '$p')), 0) AS n_$name"
      }.mkString(",\n    ")
      val gate = graft.llm.Encoding.patterns
        .map(p => s"n_${p._1} = 0").mkString(" AND ")
      val totals = graft.llm.Encoding.patterns
        .map(p => s"CAST(sum(n_${p._1}) AS BIGINT) AS ${p._1}_total")
        .mkString(",\n  ")
      s"""WITH seeded AS (
         |  SELECT source,
         |    text || CASE CAST(doc_id % 5 AS INTEGER)
         |      WHEN 0 THEN ' lost ' || chr(65533) || ' byte'
         |      WHEN 1 THEN ' caf' || chr(195) || chr(169) || ' menu'
         |      WHEN 2 THEN ' bell' || chr(7) || 'ring'
         |      WHEN 3 THEN ' next' || chr(133) || 'line'
         |      ELSE ' clean tail' END AS t
         |  FROM documents),
         |counted AS (
         |  SELECT source,
         |    $counts
         |  FROM seeded)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN $gate THEN 1 ELSE 0 END) AS BIGINT)
         |    AS clean_docs,
         |  $totals
         |FROM counted GROUP BY source ORDER BY source""".stripMargin
    })

  /** Paragraph-level exact-dedup rewrite
    * ([[graft.llm.Spans.removeDuplicateParagraphs]]) — the
    * MassiveText step between whole-doc dedup (q27) and token-window
    * span removal (q90). Fixture: every document gains a second
    * paragraph — two injected boilerplate families shared corpus-wide
    * (newsletter/copyright, the real-world shape) and a unique
    * footnote for the rest — on top of the corpus's natural exact-dup
    * base texts. Output mirrors q90's: per-source docs, changed docs,
    * slot totals, and the polynomial checksum of every rewritten
    * document (character-exact rewrite verification). */
  val q94 = QueryDef(
    "q94_paragraph_dedup",
    (s, dir) => {
      val id = col("doc_id")
      val para = when(id % 3 === 0,
          lit("subscribe to our newsletter for updates"))
        .when(id % 3 === 1, lit("copyright all rights reserved worldwide"))
        .otherwise(concat(lit("unique footnote ref "), id.cast("string")))
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          concat(col("text"), lit("\n\n"), para).as("t"))
      val cleaned = graft.llm.Spans.removeDuplicateParagraphs(
        docs, "doc_id", "t")
      docs.select(col("doc_id"), col("source"))
        .join(cleaned, Seq("doc_id"))
        .withColumn("__h",
          graft.functions.PolyHash31.poly_hash31(col("cleaned")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("changed").cast("long")).as("docs_changed"),
          sum(col("paras_before")).as("paras_before"),
          sum(col("paras_removed")).as("paras_removed"),
          sum(col("__h")).as("cleaned_checksum"))
        .orderBy(col("source"))
    },
    Some("""WITH base AS (
           |  SELECT doc_id, source,
           |    text || chr(10) || chr(10) || CASE CAST(doc_id % 3 AS INTEGER)
           |      WHEN 0 THEN 'subscribe to our newsletter for updates'
           |      WHEN 1 THEN 'copyright all rights reserved worldwide'
           |      ELSE 'unique footnote ref ' || CAST(doc_id AS VARCHAR)
           |    END AS t
           |  FROM documents),
           |sp AS (
           |  SELECT doc_id, string_split(t, chr(10) || chr(10)) AS ps
           |  FROM base),
           |slots AS (
           |  SELECT doc_id, i AS pos, ps[i] AS para, len(ps) AS np
           |  FROM sp, UNNEST(generate_series(1, len(ps))) AS s(i)),
           |occ AS (
           |  SELECT doc_id, pos, md5(para) AS g FROM slots
           |  WHERE length(para) > 0),
           |marked AS (
           |  SELECT doc_id, pos FROM (
           |    SELECT doc_id, pos,
           |      row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
           |    FROM occ) WHERE rn > 1),
           |changed AS (SELECT DISTINCT doc_id FROM marked),
           |surv AS (
           |  SELECT sl.doc_id, sl.pos, sl.para
           |  FROM slots sl JOIN changed USING (doc_id)
           |  LEFT JOIN marked m ON m.doc_id = sl.doc_id AND m.pos = sl.pos
           |  WHERE m.doc_id IS NULL),
           |rebuilt AS (
           |  SELECT doc_id, count(*) AS after,
           |    string_agg(para, chr(10) || chr(10) ORDER BY pos) AS cleaned
           |  FROM surv GROUP BY doc_id),
           |perdoc AS (
           |  SELECT b.source,
           |    CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS chg,
           |    sp2.np AS nb,
           |    CASE WHEN c.doc_id IS NOT NULL
           |         THEN sp2.np - coalesce(r.after, 0) ELSE 0 END AS nr,
           |    CASE WHEN c.doc_id IS NOT NULL THEN coalesce(r.cleaned, '')
           |         ELSE b.t END AS cleaned
           |  FROM base b
           |  JOIN (SELECT DISTINCT doc_id, np FROM slots) sp2 USING (doc_id)
           |  LEFT JOIN changed c USING (doc_id)
           |  LEFT JOIN rebuilt r USING (doc_id)),
           |hashed AS (
           |  SELECT source, chg, nb, nr,
           |    list_reduce(list_prepend(CAST(7 AS BIGINT),
           |      list_transform(
           |        generate_series(1, CAST(length(cleaned) AS INTEGER)),
           |        i -> CAST(ord(substr(cleaned, i, 1)) AS BIGINT))),
           |      (acc, c) -> (acc * 31 + c) % 2147483647) AS h
           |  FROM perdoc)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(chg) AS BIGINT) AS docs_changed,
           |  CAST(sum(nb) AS BIGINT) AS paras_before,
           |  CAST(sum(nr) AS BIGINT) AS paras_removed,
           |  CAST(sum(h) AS BIGINT) AS cleaned_checksum
           |FROM hashed GROUP BY source ORDER BY source""".stripMargin)
    )

  /** INCREMENTAL near-dup ([[graft.llm.Dedup.minhashProbePairs]]) —
    * the corpus-growth shape: every 10th document (doc_id % 10 = 7)
    * arrives as the new batch and is deduped against the rest by
    * probing the corpus's [[graft.llm.Dedup.minhashBandIndex]];
    * corpus signatures are never recomputed, only batch-hit buckets
    * shuffle, and corpus texts re-shingle only for surviving
    * candidates. Output: one row per batch document — verified-match
    * count and matched-id checksum (zeros kept, so coverage is the
    * whole batch). The oracle recomputes the exact all-pairs Jaccard
    * (q30/q91's CTE) and restricts to batch-touching pairs — the
    * same banded==exact recall contract those queries pin. */
  val q95 = QueryDef(
    "q95_incremental_neardup",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val batch = d.where(col("doc_id") % 10 === 7)
      val corpus = d.where(col("doc_id") % 10 =!= 7)
      val index = Dedup.minhashBandIndex(corpus, "doc_id", "text")
      // the batch's one materialization: shingles and their band
      // hashes, the probe's (id, sh, bands) frame
      val newDocs = graft.core.Caching.eager(batch.select(
          col("doc_id").cast("long").as("id"),
          Dedup.shingles(col("text"), 2).as("sh"))
        .withColumn("bands", Dedup.bandHashes(col("sh"))))
      val pairs = Dedup.minhashProbePairs(corpus, newDocs, "doc_id", "text",
        index, threshold = 0.8)
      // pair → per-batch-doc expansion (membership is arithmetic here:
      // new iff doc_id % 10 = 7, so no flag needs carrying). BOTH
      // directions from ONE pass over `pairs` (explode of the two
      // orientations), not a two-leg union — `pairs` is an uncached
      // verify-join subtree, and the union form re-ran it per leg
      // (r17; Admission.auditArrival uses the same rewrite)
      val touches = pairs
        .select(explode(array(
          struct(col("id_a").as("d"), col("id_b").as("o")),
          struct(col("id_b").as("d"), col("id_a").as("o")))).as("t"))
        .select(col("t.d").as("d"), col("t.o").as("o"))
        .where(col("d") % 10 === 7)
      val perDoc = touches.groupBy(col("d"))
        .agg(count(lit(1)).as("n"), sum(col("o")).as("cs"))
      batch.select(col("doc_id"))
        .join(perDoc, col("doc_id") === col("d"), "left")
        .select(col("doc_id"),
          coalesce(col("n"), lit(0L)).as("n_matches"),
          coalesce(col("cs"), lit(0L)).as("matched_id_sum"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
           |  SELECT doc_id,
           |    list_distinct(CASE WHEN len(w) >= 2
           |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
           |      ELSE [array_to_string(w, ' ')] END) AS sh
           |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           |        FROM documents)),
           |ex AS (SELECT doc_id, unnest(sh) AS s FROM toks),
           |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1),
           |inter AS (
           |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
           |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
           |  GROUP BY 1, 2),
           |p0 AS (
           |  SELECT id_a, id_b FROM inter
           |  JOIN sizes sa ON id_a = sa.doc_id
           |  JOIN sizes sb ON id_b = sb.doc_id
           |  WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.8),
           |touch AS (
           |  SELECT id_a AS d, id_b AS o FROM p0 WHERE id_a % 10 = 7
           |  UNION ALL
           |  SELECT id_b AS d, id_a AS o FROM p0 WHERE id_b % 10 = 7),
           |agg AS (
           |  SELECT d, CAST(count(*) AS BIGINT) AS n, CAST(sum(o) AS BIGINT) AS cs
           |  FROM touch GROUP BY d)
           |SELECT doc_id,
           |  coalesce(n, 0) AS n_matches,
           |  coalesce(cs, 0) AS matched_id_sum
           |FROM documents LEFT JOIN agg ON doc_id = d
           |WHERE doc_id % 10 = 7 ORDER BY doc_id""".stripMargin))

  /** INCREMENTAL ANN against a persisted IVF index
    * ([[graft.llm.Similarity.ivfCentroids]] +
    * [[graft.llm.Similarity.ivfIndexAssignments]] +
    * [[graft.llm.Similarity.ivfProbeTopK]]) — the q95 corpus-growth
    * arc on the embedding side: the query batch (the 50 lowest
    * vec_ids, min-anchored) probes
    * the corpus's stored inverted lists, never re-assigning or
    * re-scanning the unprobed corpus; the probed list ids push into
    * the index scan as a literal `cent IN`, which on a
    * `partitionBy("cent")` store is partition pruning (spec-pinned
    * with the parquet round-trip in LlmSpec; the registered plan
    * passes the index frames in memory, same as q95). Oracle pattern
    * follows q70: exact top-5 quantized dot-sum over the corpus side
    * recomputed by DuckDB brute force + a recall floor joined against
    * that exact top-k (measured ~0.85-0.95 at nProbe 8/16 across the
    * driver SFs; 0.75 floor leaves margin). */
  val q96 = QueryDef(
    "q96_ann_ivf_probe",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // query/corpus split min-anchored (Tables.minId): id-translation-safe
      val lo = Tables.minId(emb, "vec_id") + 50L
      val queries = emb.where(col("vec_id") < lo)
      val corpus = emb.where(col("vec_id") >= lo)
      val centroids = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        nCentroids = 16)
      val index = Similarity.ivfIndexAssignments(corpus, "vec_id",
        "embedding", centroids)
      val ann = Similarity.ivfProbeTopK(queries, index, centroids,
          "vec_id", "embedding", k = 5, nProbe = 8)
        .select(col("query_id"), col("corpus_id"), lit(1L).as("__hit"))
      Similarity.quantizedDotTopK(queries, corpus, "vec_id", "embedding",
          k = 5)
        .join(ann, Seq("query_id", "corpus_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          sum(col("dot")).as("exact_top5_dot_sum"),
          coalesce(sum(coalesce(col("__hit"), lit(0L))) >=
            count(lit(1)) * 0.75, lit(true)).as("recall_ge_75"))
        .withColumn("k", lit(5L))
    },
    Some("""WITH q AS (
           |  SELECT vec_id AS query_id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
           |  FROM embeddings
           |  WHERE vec_id < (SELECT min(vec_id) + 50 FROM embeddings)),
           |c AS (
           |  SELECT vec_id AS corpus_id,
           |    list_transform(embedding,
           |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS cv
           |  FROM embeddings
           |  WHERE vec_id >= (SELECT min(vec_id) + 50 FROM embeddings)),
           |s AS (
           |  SELECT query_id, corpus_id,
           |    CAST(list_inner_product(qv, cv) AS BIGINT) AS dot
           |  FROM q, c WHERE query_id != corpus_id),
           |r AS (
           |  SELECT query_id, dot,
           |    row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, corpus_id) AS rn
           |  FROM s)
           |SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           |  CAST(SUM(dot) AS BIGINT) AS exact_top5_dot_sum,
           |  TRUE AS recall_ge_75,
           |  CAST(5 AS BIGINT) AS k
           |FROM r WHERE rn <= 5""".stripMargin))

  /** Exact per-source document cap ([[graft.ops.Sampling.perSourceCap]])
    * — the RefinedWeb/C4 "at most N docs per domain" anti-spam step.
    * Kept set = the first `cap` docs per source in portable-hash order
    * (deterministic uniform sample, any-engine replayable). The default
    * form is the window form ON PURPOSE: for caps at or under
    * `spark.sql.window.group.limit.threshold` Catalyst rewrites the
    * row_number filter into WindowGroupLimit (plan-pinned in OpsSpec) —
    * partial top-cap per input partition BEFORE the exchange, so
    * shuffle volume is cap-bounded and a hot domain is never a
    * straggler sort. Above the threshold,
    * [[graft.ops.Sampling.perSourceCapLargeCap]] is the bins-bounded
    * distributed-selection variant (same kept set, spec-pinned;
    * measured regimes in SCALE.md). The oracle replays the window form
    * (QUALIFY row_number over (bin, id)), aggregated per source. */
  val q97 = QueryDef(
    "q97_per_source_cap",
    (s, dir) =>
      graft.ops.Sampling.perSourceCap(Tables.documents(s, dir),
          "doc_id", "source", cap = 10, bins = 4096)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("id_checksum"),
          min(col("doc_id")).as("id_min"),
          max(col("doc_id")).as("id_max"))
        .orderBy(col("source")),
    Some("""WITH b AS (
           |  SELECT source, doc_id,
           |    ((doc_id % 2147483647) * 2654435761
           |     + ((doc_id // 2147483647) % 2147483647) * 40503)
           |      % 4294967296 % 1000000 % 4096 AS bin
           |  FROM documents),
           |k AS (
           |  SELECT source, doc_id FROM b
           |  QUALIFY row_number() OVER (
           |    PARTITION BY source ORDER BY bin, doc_id) <= 10)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
           |  CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           |  MIN(doc_id) AS id_min, MAX(doc_id) AS id_max
           |FROM k GROUP BY 1 ORDER BY 1""".stripMargin))

  /** INCREMENTAL corpus ADMISSION — the composed decision a growing
    * corpus makes per arriving document, closing the q95/q96 arc the
    * way q92 closes the batch arc: learned quality gate (q85's kernel,
    * map-side) → exact-dup against the frozen corpus's fingerprint
    * store (semi-join; intra-batch first-keeper via a min-window over
    * the batch's own fingerprints — batch-sized, never corpus-sized)
    * → near-dup against the corpus's PERSISTED band index (q95's
    * probe: corpus signatures never recompute, only batch-hit buckets
    * shuffle) → admitted iff gate ∧ ¬exact ∧ ¬near. Near-dup uses the
    * conservative monotone rule: a batch doc is flagged if it pairs
    * with ANY corpus doc or any smaller-id batch doc (regardless of
    * that partner's own admission) — order-independent, so the audit
    * replays identically under any arrival interleaving. Output is
    * the per-doc audit table (flag per stage + final), the thing an
    * ingestion service logs. Oracle recomposes the member CTEs: q85's
    * scoring chain on the batch, q27's md5 fingerprint store, q95's
    * exact all-pairs Jaccard restricted to batch-touching pairs. */
  val q98 = QueryDef(
    "q98_incremental_admission",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      val batch = d.where(col("doc_id") % 10 === 7)
      val corpus = d.where(col("doc_id") % 10 =!= 7)
      val index = Dedup.minhashBandIndex(corpus, "doc_id", "text")
      graft.llm.Admission.audit(corpus, batch, "doc_id", "text", index)
        .orderBy(col("doc_id"))
    },
    Some {
      val hash =
        """list_reduce(list_prepend(CAST(7 AS BIGINT),
          |      list_transform(generate_series(1, CAST(length(g) AS INTEGER)),
          |        i -> CAST(ord(substr(g, i, 1)) AS BIGINT))),
          |      (acc, c) -> (acc*31 + c) % 2147483647)""".stripMargin
      s"""WITH words AS (
         |  SELECT doc_id, list_filter(
         |    string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> regexp_matches(x, '^[a-z0-9]+$$')) AS ws
         |  FROM documents WHERE doc_id % 10 = 7),
         |grams AS (
         |  SELECT doc_id, unnest(ws) AS g FROM words
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, len(ws) - 1),
         |    i -> ws[i] || ' ' || ws[i + 1])) AS g FROM words),
         |scored AS (
         |  SELECT doc_id,
         |    ((xor(v0, v0 >> 15) * 2246822519 % 2147483647) % 1001) - 500 AS w
         |  FROM (
         |    SELECT doc_id, ((b + 1) * 2654435761) % 2147483647 AS v0
         |    FROM (SELECT doc_id, ($hash) % 1024 AS b FROM grams))),
         |per_doc AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(w) AS BIGINT) AS sum_w
         |  FROM scored GROUP BY doc_id),
         |gate AS (
         |  SELECT d.doc_id,
         |    coalesce(p.sum_w, 0) * 1000 > 25 * coalesce(p.n_grams, 0)
         |      AS gate_pass
         |  FROM documents d LEFT JOIN per_doc p USING (doc_id)
         |  WHERE d.doc_id % 10 = 7),
         |fps AS (
         |  SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |exact AS (
         |  SELECT b.doc_id,
         |    EXISTS (SELECT 1 FROM fps c
         |            WHERE c.doc_id % 10 != 7 AND c.fp = b.fp)
         |      OR b.doc_id > min(b.doc_id) OVER (PARTITION BY b.fp)
         |      AS exact_dup
         |  FROM fps b WHERE b.doc_id % 10 = 7),
         |toks AS (
         |  SELECT doc_id,
         |    list_distinct(CASE WHEN len(w) >= 2
         |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
         |      ELSE [array_to_string(w, ' ')] END) AS sh
         |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
         |        FROM documents)),
         |ex AS (SELECT doc_id, unnest(sh) AS s FROM toks),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1),
         |inter AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
         |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |p0 AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.8),
         |nd AS (
         |  SELECT DISTINCT d FROM (
         |    SELECT id_a AS d, id_b AS o FROM p0
         |    UNION ALL
         |    SELECT id_b AS d, id_a AS o FROM p0)
         |  WHERE d % 10 = 7 AND (o % 10 != 7 OR o < d))
         |SELECT g.doc_id, g.gate_pass, e.exact_dup,
         |  (nd.d IS NOT NULL) AS near_dup,
         |  g.gate_pass AND NOT e.exact_dup AND (nd.d IS NULL) AS admitted
         |FROM gate g
         |JOIN exact e ON g.doc_id = e.doc_id
         |LEFT JOIN nd ON g.doc_id = nd.d
         |ORDER BY g.doc_id""".stripMargin
    })

  /** LM perplexity filtering ([[graft.llm.LangModel]]) — the CCNet /
    * LLaMA-data quality signal: a bigram LM trained on the reference
    * split (doc_id % 10 != 7) scores the candidate split by integer
    * SURPRISAL BITS (floor-log2 via `bin()` string length — exact and
    * identical in both engines, where float log-probs would never
    * hash-compare), with unigram backoff for unseen bigrams and a flat
    * OOV arm. Gate at 4.8 bits/bigram (measured to discriminate at
    * every driver SF: the corpus-trained LM puts the batch median at
    * 4.67-4.85). Scale shape: per-(doc, prev, w) pre-aggregation ahead
    * of the three LM joins, so boilerplate repetition joins once and
    * multiplies by k; the LM prunes via `minCount` toward a
    * broadcastable build side at real scale. */
  val q99 = QueryDef(
    "q99_lm_perplexity_gate",
    (s, dir) => {
      import graft.llm.LangModel
      val d = Tables.documents(s, dir)
      // split on the PORTABLE id-hash RANGE, not doc_id % 10: the
      // fixture assigns source = f(doc_id mod 20), so a modulo split
      // collapses the per-source rollup to two sources — and a mod of
      // the hash itself inherits the id's parity (multiplicative
      // hashing preserves the low bit), halving coverage again. The
      // half-open bucket range is the hash's designed split form
      // (Sampling.sample) and spans every source.
      val sb = graft.ops.Sampling.bucket(col("doc_id"))
      val batch = d.where(sb < 100000L)
      val corpus = d.where(sb >= 100000L)
      val (uni, bi, total) = LangModel.trainBigramLm(corpus, "text")
      val scored = LangModel.gate(
        LangModel.surprisal(batch, "doc_id", "text", uni, bi, total),
        thetaMilli = 4800L)
      batch.select(col("doc_id"), col("source"))
        .join(scored, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("lm_kept"), 1L).otherwise(0L)).as("kept_docs"),
          sum(col("bits")).as("sum_bits"),
          sum(col("n_bigrams")).as("sum_bigrams"))
        .orderBy(col("source"))
    },
    Some("""WITH tok AS (
           |  SELECT doc_id,
           |    ((doc_id % 2147483647) * 2654435761
           |     + ((doc_id // 2147483647) % 2147483647) * 40503)
           |      % 4294967296 % 1000000 AS sb,
           |    list_filter(
           |    string_split_regex(lower(trim(text)), '\s+'),
           |    x -> regexp_matches(x, '^[a-z0-9]+$')) AS ws
           |  FROM documents),
           |rtok AS (
           |  SELECT unnest(ws) AS w FROM tok WHERE sb >= 100000),
           |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
           |        FROM rtok GROUP BY 1),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM rtok),
           |rbi AS (
           |  SELECT g['prev'] AS prev, g['w'] AS w FROM (
           |    SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
           |      i -> {'prev': ws[i], 'w': ws[i + 1]})) AS g
           |    FROM tok WHERE sb >= 100000 AND len(ws) >= 2)),
           |bi AS (SELECT prev, w, CAST(count(*) AS BIGINT) AS cb
           |       FROM rbi GROUP BY 1, 2),
           |bbi AS (
           |  SELECT doc_id, g['prev'] AS prev, g['w'] AS w,
           |    CAST(count(*) AS BIGINT) AS k
           |  FROM (
           |    SELECT doc_id,
           |      unnest(list_transform(generate_series(1, len(ws) - 1),
           |        i -> {'prev': ws[i], 'w': ws[i + 1]})) AS g
           |    FROM tok WHERE sb < 100000 AND len(ws) >= 2)
           |  GROUP BY 1, 2, 3),
           |sc AS (
           |  SELECT b.doc_id, b.k,
           |    CASE
           |      WHEN bi.cb IS NOT NULL
           |        THEN (length(bin(up.cu)) - 1) - (length(bin(bi.cb)) - 1)
           |      WHEN uw.cu IS NOT NULL
           |        THEN 4 + (length(bin(tot.t)) - 1) - (length(bin(uw.cu)) - 1)
           |      ELSE 4 + (length(bin(tot.t)) - 1)
           |    END AS bits
           |  FROM bbi b
           |  LEFT JOIN bi ON b.prev = bi.prev AND b.w = bi.w
           |  LEFT JOIN uni up ON b.prev = up.w
           |  LEFT JOIN uni uw ON b.w = uw.w
           |  CROSS JOIN tot),
           |perdoc AS (
           |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
           |    CAST(sum(k * bits) AS BIGINT) AS bits
           |  FROM sc GROUP BY 1)
           |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN coalesce(p.bits, 0) * 1000 <=
           |    4800 * coalesce(p.n_bigrams, 0) THEN 1 ELSE 0 END) AS BIGINT)
           |    AS kept_docs,
           |  CAST(sum(coalesce(p.bits, 0)) AS BIGINT) AS sum_bits,
           |  CAST(sum(coalesce(p.n_bigrams, 0)) AS BIGINT) AS sum_bigrams
           |FROM documents d
           |JOIN tok k USING (doc_id)
           |LEFT JOIN perdoc p USING (doc_id)
           |WHERE k.sb < 100000
           |GROUP BY d.source ORDER BY d.source""".stripMargin))

  /** DSIR-style importance resampling
    * ([[graft.llm.LangModel.importance]]) — data selection by
    * LIKELIHOOD RATIO: train one LM on the target distribution (the
    * English reference split, standing in for "Wikipedia-like"), one
    * on the raw pool, and keep the TOP QUARTER of candidates by
    * importance-bits-per-bigram — DSIR's actual procedure (select the
    * most target-like fraction), kept exact cross-engine: the sort key
    * is one IEEE double division (identical bit-for-bit in both
    * engines), ties break on doc_id, and the 25% cut is pure integer
    * arithmetic (rn·4 <= N — no division). Empty docs never rank.
    * HONESTY NOTE (measured, SCALE.md r22 and this oracle's sums): the
    * fixture's `lang` label carries ZERO lexical signal — every
    * language draws from the same synthetic vocabulary — so the
    * per-lang kept counts hover at ~25% each; the operator's value
    * here is the exact mechanism, pinned end-to-end, not a separation
    * this data cannot contain. The 25% cut runs as
    * [[graft.ops.Sampling.topFractionByRate]]'s bins-bounded
    * distributed selection (no candidate-sized single-partition sort —
    * only the boundary bin is ever window-ranked; plan-pinned in
    * PlanSpec), EXACT by construction, so the oracle's global-rank
    * replay still hashes identically. Oracle replays BOTH scoring
    * chains (the q99 CTE block
    * twice, parameterized by the reference WHERE) against the shared
    * candidate bigram multiset, then the same rank. */
  val q100 = QueryDef(
    "q100_importance_resampling",
    (s, dir) => {
      import graft.llm.LangModel
      import org.apache.spark.sql.expressions.Window
      val d = Tables.documents(s, dir)
      val batch = d.where(col("doc_id") % 10 === 7)
      val corpus = d.where(col("doc_id") % 10 =!= 7)
      // r18 REFUTED attempt, kept as the r17-shape on purpose: a
      // shared-aggregation dual-LM trainer (one (all, en-slice)
      // conditional count per n-gram order feeding both LMs) was
      // built and A/B-measured same-JVM (sf0.1 + sf1): +2 AQE
      // stage-jobs, no wall/cpu win, and the shared form
      // structurally LOSES the `lang = 'en'` scan pushdown the
      // en-slice subtrees get here — at a selective slice the two-LM
      // form reads less data, not more. See SCALE.md, "Round-18
      // refinements".
      val tgt = LangModel.trainBigramLm(
        corpus.where(col("lang") === "en"), "text")
      val src = LangModel.trainBigramLm(corpus, "text")
      val imp = LangModel.importance(batch, "doc_id", "text", tgt, src)
      // the 25% cut via the bins-bounded distributed selection
      // (Sampling.topFractionByRate, exactBelow = 0 forcing the
      // corpus-scale shape): kept set identical to the single-partition
      // rank — rn·4 <= N ⇔ rn <= floor(N/4) — with only the boundary
      // BIN ever window-ranked
      val ranked = graft.ops.Sampling.topFractionByRate(
          imp.where(col("n_bigrams") > 0)
            .withColumn("__rate",
              col("importance_bits").cast("double") / col("n_bigrams")),
          "__rate", "doc_id", 1, 4, exactBelow = 0)
        .select(col("doc_id"), col("n_bigrams"),
          col("importance_bits"), col("kept"))
      batch.select(col("doc_id"), col("lang"))
        .join(ranked, Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("kept_docs"),
          sum(coalesce(col("importance_bits"), lit(0L)))
            .as("sum_importance"),
          sum(coalesce(col("n_bigrams"), lit(0L))).as("sum_bigrams"))
        .orderBy(col("lang"))
    },
    Some {
      // the q99 scoring chain, emitted twice: once per LM, sharing the
      // candidate-side bigram multiset `bbi`
      def lm(p: String, refWhere: String): String =
        s"""${p}rtok AS (
           |  SELECT unnest(ws) AS w FROM tok
           |  WHERE doc_id % 10 != 7$refWhere),
           |${p}uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
           |            FROM ${p}rtok GROUP BY 1),
           |${p}tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM ${p}rtok),
           |${p}bi AS (
           |  SELECT prev, w, CAST(count(*) AS BIGINT) AS cb FROM (
           |    SELECT g['prev'] AS prev, g['w'] AS w FROM (
           |      SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
           |        i -> {'prev': ws[i], 'w': ws[i + 1]})) AS g
           |      FROM tok
           |      WHERE doc_id % 10 != 7$refWhere AND len(ws) >= 2))
           |  GROUP BY 1, 2),
           |${p}sc AS (
           |  SELECT b.doc_id, b.k,
           |    CASE
           |      WHEN bi.cb IS NOT NULL
           |        THEN (length(bin(up.cu)) - 1) - (length(bin(bi.cb)) - 1)
           |      WHEN uw.cu IS NOT NULL
           |        THEN 4 + (length(bin(tt.t)) - 1) - (length(bin(uw.cu)) - 1)
           |      ELSE 4 + (length(bin(tt.t)) - 1)
           |    END AS bits
           |  FROM bbi b
           |  LEFT JOIN ${p}bi bi ON b.prev = bi.prev AND b.w = bi.w
           |  LEFT JOIN ${p}uni up ON b.prev = up.w
           |  LEFT JOIN ${p}uni uw ON b.w = uw.w
           |  CROSS JOIN ${p}tot tt),
           |${p}doc AS (
           |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
           |    CAST(sum(k * bits) AS BIGINT) AS bits
           |  FROM ${p}sc GROUP BY 1)""".stripMargin
      s"""WITH tok AS (
         |  SELECT doc_id, lang, list_filter(
         |    string_split_regex(lower(trim(text)), '\\s+'),
         |    x -> regexp_matches(x, '^[a-z0-9]+$$')) AS ws
         |  FROM documents),
         |bbi AS (
         |  SELECT doc_id, g['prev'] AS prev, g['w'] AS w,
         |    CAST(count(*) AS BIGINT) AS k
         |  FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(generate_series(1, len(ws) - 1),
         |        i -> {'prev': ws[i], 'w': ws[i + 1]})) AS g
         |    FROM tok WHERE doc_id % 10 = 7 AND len(ws) >= 2)
         |  GROUP BY 1, 2, 3),
         |${lm("t_", " AND lang = 'en'")},
         |${lm("s_", "")},
         |ranked AS (
         |  SELECT t.doc_id,
         |    row_number() OVER (
         |      ORDER BY CAST(s.bits - t.bits AS DOUBLE) / t.n_bigrams DESC,
         |               t.doc_id) AS rn,
         |    count(*) OVER () AS nn
         |  FROM t_doc t JOIN s_doc s USING (doc_id)
         |  WHERE t.n_bigrams > 0)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN r.rn * 4 <= r.nn THEN 1 ELSE 0 END)
         |    AS BIGINT) AS kept_docs,
         |  CAST(sum(coalesce(s.bits, 0) - coalesce(t.bits, 0)) AS BIGINT)
         |    AS sum_importance,
         |  CAST(sum(coalesce(t.n_bigrams, 0)) AS BIGINT) AS sum_bigrams
         |FROM documents d
         |LEFT JOIN t_doc t USING (doc_id)
         |LEFT JOIN s_doc s USING (doc_id)
         |LEFT JOIN ranked r ON d.doc_id = r.doc_id
         |WHERE d.doc_id % 10 = 7
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin
    })

  /** FULL-MODALITY admission — the freeze gate a multimodal corpus
    * runs before training: a document survives only if it is the
    * CANONICAL member (cluster min-id, the q91 rule) of its near-dup
    * cluster in EVERY modality — text (MinHash-LSH pairs → CC), image
    * (q80's perceptual-dHash Hamming pairs → CC), audio (q84's
    * acoustic-fingerprint Hamming pairs → CC). One plan per modality
    * feed, each the member operator's own shape (banded/Hamming-keyed
    * equi-joins, never all-pairs); the three dropped-id sets re-enter
    * as plain left joins with NO broadcast hint (pinned in PlanSpec) —
    * dropped ids are every non-canonical member of every cluster, which
    * at realistic dup rates (30-50% of a web corpus; this fixture drops
    * ~99% of its width-100 media families) is CORPUS-proportional, so a
    * forced broadcast would materialize an unbounded set on the driver;
    * the planner/AQE broadcasts only when runtime stats say the side is
    * actually small (the q91 label-join convention). Drop columns are
    * NON-exclusive (a doc duplicated in two
    * modalities counts in both); `admitted` requires all three clear.
    * The oracle recomposes all three modalities exactly: the q91
    * all-pairs-Jaccard text edges and the q80/q84 generated bit
    * tables, each fed through its own recursive min-label CC. */
  val q101 = QueryDef(
    "q101_multimodal_freeze",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      def droppedIds(edges: org.apache.spark.sql.DataFrame,
                     as: String): org.apache.spark.sql.DataFrame =
        Dedup.connectedComponents(edges)
          .where(col("id") =!= col("cluster_id"))
          .select(col("id").as(as))
      val textDrop = droppedIds(
        Dedup.minhashNearDupPairs(d, "doc_id", "text",
            threshold = 0.8, shingleN = 2, bands = 16, rows = 4)
          .select(col("id_a").as("src"), col("id_b").as("dst")), "__tid")
      val imgDrop = droppedIds(
        graft.llm.Multimodal.imageNearDupPairs(
            graft.llm.Multimodal.syntheticImageTable(
              d.select(col("doc_id")), "doc_id"), "media_id", "payload")
          .select(col("id_a").as("src"), col("id_b").as("dst")), "__iid")
      val audDrop = droppedIds(
        graft.llm.Multimodal.audioNearDupPairs(
            graft.llm.Multimodal.syntheticAudioTable(
              d.select(col("doc_id")), "doc_id"), "media_id", "payload")
          .select(col("id_a").as("src"), col("id_b").as("dst")), "__aid")
      d.join(textDrop, col("doc_id") === col("__tid"), "left")
        .join(imgDrop, col("doc_id") === col("__iid"), "left")
        .join(audDrop, col("doc_id") === col("__aid"), "left")
        .withColumn("__t", col("__tid").isNotNull)
        .withColumn("__i", col("__iid").isNotNull)
        .withColumn("__a", col("__aid").isNotNull)
        .withColumn("__adm", !col("__t") && !col("__i") && !col("__a"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__t").cast("long")).as("text_dropped"),
          sum(col("__i").cast("long")).as("image_dropped"),
          sum(col("__a").cast("long")).as("audio_dropped"),
          sum(col("__adm").cast("long")).as("admitted"),
          sum(when(col("__adm"), col("doc_id")).otherwise(lit(0L)))
            .cast("long").as("admitted_id_sum"),
          sum(when(col("__adm"), col("n_chars")).otherwise(lit(0L)))
            .cast("long").as("admitted_chars"))
        .orderBy(col("source"))
    },
    Some(q101Oracle))

  /** The q101 oracle, GENERATED: the q91 exact-Jaccard text edges plus
    * the q80/q84 bit tables (via [[q80Gray]]/[[q84Sample]]), each
    * closed under its own recursive min-label reachability, rolled up
    * per source. */
  private def q101Oracle: String =
    multimodalFreezeOracle(q80Gray(_, _), q84Sample(_))

  /** The q101/q105 oracle body, parameterized by each media modality's
    * per-pixel / per-sample SQL generator — exactly the
    * [[multimodalAdmissionOracle]] convention. */
  private def multimodalFreezeOracle(
      imgPix: (Int, Int) => String, audSample: Int => String): String = {
    val pixCols = (for (y <- 0 until 8; x <- 0 until 9)
      yield s"${imgPix(x, y)} AS p${y * 9 + x}").mkString(",\n    ")
    val dhBits = (0 until 64).map { k =>
      val x = k % 8; val y = k / 8
      s"(p${y * 9 + x} > p${y * 9 + x + 1}) AS db$k"
    }.mkString(",\n    ")
    val dhHam = (0 until 64).map(k =>
      s"CASE WHEN a.db$k <> b.db$k THEN 1 ELSE 0 END").mkString(" +\n      ")
    val sampleCols = (0 until 144).map(i =>
      s"${audSample(i)} AS s$i").mkString(",\n    ")
    val energyCols = (0 until 72).map(k =>
      s"(s${2 * k}*s${2 * k} + s${2 * k + 1}*s${2 * k + 1}) AS e$k")
      .mkString(",\n    ")
    val aBits = (0 until 64).map { k =>
      val x = k % 8; val y = k / 8
      s"(e${y * 9 + x} > e${y * 9 + x + 1}) AS db$k"
    }.mkString(",\n    ")
    val aHam = (0 until 64).map(k =>
      s"CASE WHEN a.db$k <> b.db$k THEN 1 ELSE 0 END").mkString(" +\n      ")
    def reach(name: String, edges: String): String =
      s"""${name}_e AS (SELECT id_a AS a, id_b AS b FROM $edges
         |  UNION ALL SELECT id_b, id_a FROM $edges),
         |${name}_r(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, r.r FROM ${name}_r r JOIN ${name}_e e ON e.a = r.id),
         |${name}_l AS (SELECT id, min(r) AS cl FROM ${name}_r GROUP BY id)""".stripMargin
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(w) >= 2
       |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
       |      ELSE [array_to_string(w, ' ')] END) AS sh
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
       |        FROM documents)),
       |ex AS (SELECT doc_id, unnest(sh) AS s2 FROM toks),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
       |  FROM ex x JOIN ex y ON x.s2 = y.s2 AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |tpairs AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON id_a = sa.doc_id
       |  JOIN sizes sb ON id_b = sb.doc_id
       |  WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.8),
       |ipix AS (
       |  SELECT doc_id AS id,
       |    $pixCols
       |  FROM documents),
       |ibits AS (
       |  SELECT id,
       |    $dhBits
       |  FROM ipix),
       |ipairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM ibits a JOIN ibits b ON a.id < b.id
       |  WHERE ($dhHam) <= 7),
       |asmp AS (
       |  SELECT doc_id AS id,
       |    $sampleCols
       |  FROM documents),
       |anrg AS (
       |  SELECT id,
       |    $energyCols
       |  FROM asmp),
       |abits AS (
       |  SELECT id,
       |    $aBits
       |  FROM anrg),
       |apairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM abits a JOIN abits b ON a.id < b.id
       |  WHERE ($aHam) <= 7),
       |${reach("t", "tpairs")},
       |${reach("i", "ipairs")},
       |${reach("a", "apairs")}
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN d.doc_id != lt.cl THEN 1 ELSE 0 END) AS BIGINT)
       |    AS text_dropped,
       |  CAST(sum(CASE WHEN d.doc_id != li.cl THEN 1 ELSE 0 END) AS BIGINT)
       |    AS image_dropped,
       |  CAST(sum(CASE WHEN d.doc_id != la.cl THEN 1 ELSE 0 END) AS BIGINT)
       |    AS audio_dropped,
       |  CAST(sum(CASE WHEN d.doc_id = lt.cl AND d.doc_id = li.cl
       |    AND d.doc_id = la.cl THEN 1 ELSE 0 END) AS BIGINT) AS admitted,
       |  CAST(sum(CASE WHEN d.doc_id = lt.cl AND d.doc_id = li.cl
       |    AND d.doc_id = la.cl THEN d.doc_id ELSE 0 END) AS BIGINT)
       |    AS admitted_id_sum,
       |  CAST(sum(CASE WHEN d.doc_id = lt.cl AND d.doc_id = li.cl
       |    AND d.doc_id = la.cl THEN d.n_chars ELSE 0 END) AS BIGINT)
       |    AS admitted_chars
       |FROM documents d
       |JOIN t_l lt ON d.doc_id = lt.id
       |JOIN i_l li ON d.doc_id = li.id
       |JOIN a_l la ON d.doc_id = la.id
       |GROUP BY d.source ORDER BY d.source""".stripMargin
  }

  /** INCREMENTAL paragraph dedup
    * ([[graft.llm.Spans.removeDuplicateParagraphsIncremental]]) — the
    * q95 corpus-growth pattern at PARAGRAPH grain: every 10th document
    * arrives as the new batch (its ids boosted monotone above the
    * corpus's, the admission contract) and is cleaned against the
    * frozen corpus's persisted [[graft.llm.Spans.paragraphHashStore]]
    * — seen documents are never re-split or re-hashed; the store scan
    * is the only corpus term. Fixture: the q94 paragraph injection
    * (two corpus-wide boilerplate families + unique footnotes).
    * Output mirrors q94's rollup over the BATCH. The oracle replays
    * the ONE-SHOT rule over corpus ∪ batch restricted to batch docs —
    * the restriction equality IS the incremental operator's contract
    * (also spec-pinned in SpansSpec). */
  val q102 = QueryDef(
    "q102_incremental_paragraph_dedup",
    (s, dir) => {
      import graft.llm.Spans
      val Big = 1000000000000L
      val id0 = col("doc_id")
      val para = when(id0 % 3 === 0,
          lit("subscribe to our newsletter for updates"))
        .when(id0 % 3 === 1, lit("copyright all rights reserved worldwide"))
        .otherwise(concat(lit("unique footnote ref "), id0.cast("string")))
      val docs = Tables.documents(s, dir)
        .select(
          when(id0 % 10 === 7, id0 + Big).otherwise(id0).as("doc_id2"),
          col("source"),
          concat(col("text"), lit("\n\n"), para).as("t"))
      val corpus = docs.where(col("doc_id2") < Big)
      val batch = docs.where(col("doc_id2") >= Big)
      val store = Spans.paragraphHashStore(corpus, "doc_id2", "t")
      val cleaned = Spans.removeDuplicateParagraphsIncremental(
        batch, "doc_id2", "t", store)
      batch.select(col("doc_id2").as("doc_id"), col("source"))
        .join(cleaned, Seq("doc_id"))
        .withColumn("__h",
          graft.functions.PolyHash31.poly_hash31(col("cleaned")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("changed").cast("long")).as("docs_changed"),
          sum(col("paras_before")).as("paras_before"),
          sum(col("paras_removed")).as("paras_removed"),
          sum(col("__h")).as("cleaned_checksum"))
        .orderBy(col("source"))
    },
    Some("""WITH base AS (
           |  SELECT CASE WHEN doc_id % 10 = 7
           |           THEN doc_id + 1000000000000 ELSE doc_id END AS did,
           |    source,
           |    text || chr(10) || chr(10) || CASE CAST(doc_id % 3 AS INTEGER)
           |      WHEN 0 THEN 'subscribe to our newsletter for updates'
           |      WHEN 1 THEN 'copyright all rights reserved worldwide'
           |      ELSE 'unique footnote ref ' || CAST(doc_id AS VARCHAR)
           |    END AS t
           |  FROM documents),
           |sp AS (
           |  SELECT did, string_split(t, chr(10) || chr(10)) AS ps
           |  FROM base),
           |slots AS (
           |  SELECT did, i AS pos, ps[i] AS para, len(ps) AS np
           |  FROM sp, UNNEST(generate_series(1, len(ps))) AS s(i)),
           |occ AS (
           |  SELECT did, pos, md5(para) AS g FROM slots
           |  WHERE length(para) > 0),
           |marked AS (
           |  SELECT did, pos FROM (
           |    SELECT did, pos,
           |      row_number() OVER (PARTITION BY g ORDER BY did, pos) AS rn
           |    FROM occ) WHERE rn > 1),
           |changed AS (SELECT DISTINCT did FROM marked),
           |surv AS (
           |  SELECT sl.did, sl.pos, sl.para
           |  FROM slots sl JOIN changed USING (did)
           |  LEFT JOIN marked m ON m.did = sl.did AND m.pos = sl.pos
           |  WHERE m.did IS NULL),
           |rebuilt AS (
           |  SELECT did, count(*) AS after,
           |    string_agg(para, chr(10) || chr(10) ORDER BY pos) AS cleaned
           |  FROM surv GROUP BY did),
           |perdoc AS (
           |  SELECT b.source,
           |    CASE WHEN c.did IS NOT NULL THEN 1 ELSE 0 END AS chg,
           |    sp2.np AS nb,
           |    CASE WHEN c.did IS NOT NULL
           |         THEN sp2.np - coalesce(r.after, 0) ELSE 0 END AS nr,
           |    CASE WHEN c.did IS NOT NULL THEN coalesce(r.cleaned, '')
           |         ELSE b.t END AS cleaned
           |  FROM base b
           |  JOIN (SELECT DISTINCT did, np FROM slots) sp2 USING (did)
           |  LEFT JOIN changed c USING (did)
           |  LEFT JOIN rebuilt r USING (did)
           |  WHERE b.did >= 1000000000000),
           |hashed AS (
           |  SELECT source, chg, nb, nr,
           |    list_reduce(list_prepend(CAST(7 AS BIGINT),
           |      list_transform(
           |        generate_series(1, CAST(length(cleaned) AS INTEGER)),
           |        i -> CAST(ord(substr(cleaned, i, 1)) AS BIGINT))),
           |      (acc, c) -> (acc * 31 + c) % 2147483647) AS h
           |  FROM perdoc)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(chg) AS BIGINT) AS docs_changed,
           |  CAST(sum(nb) AS BIGINT) AS paras_before,
           |  CAST(sum(nr) AS BIGINT) AS paras_removed,
           |  CAST(sum(h) AS BIGINT) AS cleaned_checksum
           |FROM hashed GROUP BY source ORDER BY source""".stripMargin)
    )

  /** MULTIMODAL incremental admission — q98's per-document arrival
    * decision extended to image/audio payloads (the q101 freeze's
    * modalities, made incremental): the three text legs (q85 gate,
    * exact fingerprint, LSH near-dup probe) plus one Hamming-membership
    * probe per media modality ([[graft.llm.Dedup.hammingProbeTouch]]:
    * store scanned once, batch-hot buckets broadcast-restricted,
    * exhaustive by pigeonhole — no cap proviso) against the corpus's
    * media fingerprint stores. Media legs use the same conservative
    * monotone rule as the text leg (flag iff a seen partner or a
    * smaller-id batch partner sits within Hamming 7), so the audit
    * replays identically under any arrival interleaving — the
    * service-path equality (cumulative micro-batches == this one-shot
    * restriction, kill-resume included) is pinned in StreamingSpec.
    * Payloads are the q80/q84 synthetic BMP/WAV tables, attached by
    * id join; the oracle recomposes q98's text CTEs plus the q80/q84
    * bit tables restricted by the monotone rule. */
  val q103 = QueryDef(
    "q103_multimodal_admission",
    (s, dir) => multimodalAdmission(s, dir,
      graft.llm.Multimodal.syntheticImageTable,
      graft.llm.Multimodal.syntheticAudioTable),
    Some(q103Oracle))

  /** q103 on the DISCRIMINATING sparse media fixture (round-13 verdict
    * directive #3): [[graft.llm.Multimodal.syntheticImageTableSparse]]
    * / [[graft.llm.Multimodal.syntheticAudioTableSparse]] give near
    * partners to a known ~25% minority of docs per modality, at
    * DISJOINT block phases — so this query pins admission SELECTIVITY
    * by modality (each media flag marks a strict minority of the
    * batch, and image/audio disagree on which docs), where the dense
    * q103 fixture media-flags every batch doc and the oracle's
    * agreement certifies only the all-flagged corner. Same audit plan
    * as q103; same generated oracle body with the sparse per-pixel /
    * per-sample kernels ([[q80GraySparse]] / [[q84SampleSparse]]). */
  val q104 = QueryDef(
    "q104_multimodal_admission_sparse",
    (s, dir) => multimodalAdmission(s, dir,
      graft.llm.Multimodal.syntheticImageTableSparse,
      graft.llm.Multimodal.syntheticAudioTableSparse),
    Some(multimodalAdmissionOracle(
      q80GraySparse(_, _), q84SampleSparse(_))))

  /** q101's full-modality freeze on the SPARSE discriminating fixture
    * — the q104 story at the one-shot freeze: with the dense media
    * tables q101 drops ~99% of every doc's media family (all-flagged),
    * so its oracle never certified per-modality freeze SELECTIVITY.
    * Here a known ~25% block minority per modality carries families
    * (disjoint image/audio phases), so image_dropped / audio_dropped
    * each mark a strict, modality-disagreeing minority and `admitted`
    * is dominated by the text leg plus the two sparse media legs'
    * disjoint cuts. Same plan shape as q101; generated oracle with the
    * sparse family keys. */
  val q105 = QueryDef(
    "q105_multimodal_freeze_sparse",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      def droppedIds(edges: org.apache.spark.sql.DataFrame,
                     as: String): org.apache.spark.sql.DataFrame =
        Dedup.connectedComponents(edges)
          .where(col("id") =!= col("cluster_id"))
          .select(col("id").as(as))
      val textDrop = droppedIds(
        Dedup.minhashNearDupPairs(d, "doc_id", "text",
            threshold = 0.8, shingleN = 2, bands = 16, rows = 4)
          .select(col("id_a").as("src"), col("id_b").as("dst")), "__tid")
      val imgDrop = droppedIds(
        graft.llm.Multimodal.imageNearDupPairs(
            graft.llm.Multimodal.syntheticImageTableSparse(
              d.select(col("doc_id")), "doc_id"), "media_id", "payload")
          .select(col("id_a").as("src"), col("id_b").as("dst")), "__iid")
      val audDrop = droppedIds(
        graft.llm.Multimodal.audioNearDupPairs(
            graft.llm.Multimodal.syntheticAudioTableSparse(
              d.select(col("doc_id")), "doc_id"), "media_id", "payload")
          .select(col("id_a").as("src"), col("id_b").as("dst")), "__aid")
      d.join(textDrop, col("doc_id") === col("__tid"), "left")
        .join(imgDrop, col("doc_id") === col("__iid"), "left")
        .join(audDrop, col("doc_id") === col("__aid"), "left")
        .withColumn("__t", col("__tid").isNotNull)
        .withColumn("__i", col("__iid").isNotNull)
        .withColumn("__a", col("__aid").isNotNull)
        .withColumn("__adm", !col("__t") && !col("__i") && !col("__a"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__t").cast("long")).as("text_dropped"),
          sum(col("__i").cast("long")).as("image_dropped"),
          sum(col("__a").cast("long")).as("audio_dropped"),
          sum(col("__adm").cast("long")).as("admitted"),
          sum(when(col("__adm"), col("doc_id")).otherwise(lit(0L)))
            .cast("long").as("admitted_id_sum"),
          sum(when(col("__adm"), col("n_chars")).otherwise(lit(0L)))
            .cast("long").as("admitted_chars"))
        .orderBy(col("source"))
    },
    Some(multimodalFreezeOracle(
      q80GraySparse(_, _), q84SampleSparse(_))))

  /** q103/q104's audit: every 10th document arrives as the batch, and
    * each modality's `(id, sh)` fingerprints come straight from its
    * synthetic payload table (`imageTable` / `audioTable`), per side. */
  private def multimodalAdmission(s: SparkSession, dir: String,
      imageTable: (DataFrame, String) => DataFrame,
      audioTable: (DataFrame, String) => DataFrame): DataFrame = {
    val d = Tables.documents(s, dir)
    val batch = d.select(col("doc_id"), col("text"))
      .where(col("doc_id") % 10 === 7)
    val corpus = d.select(col("doc_id"), col("text"))
      .where(col("doc_id") % 10 =!= 7)
    val index = Dedup.minhashBandIndex(corpus, "doc_id", "text")
    // FINGERPRINT-FIRST (r17): the pre-r17 form joined both payload
    // tables onto the documents (`full = d ⋈ imgs ⋈ wavs`) and ran
    // the audit over that — but the media tables are keyed by the
    // SAME doc_id they were generated from (a 1:1 inner join, so the
    // row set is identical), and every leg of the audit that read
    // `full` (gate, fingerprint store, band index, probe shingles,
    // and all four media-fingerprint frames) re-ran BOTH payload
    // generators plus the two joins — the generators executed ~9×
    // per run. Here the text legs read the bare documents scan and
    // each modality's (id, sh) fingerprint frame is computed
    // DIRECTLY from its synthetic payload table, so each generator
    // runs exactly twice (seen + batch) and no payload ever crosses
    // a join — the guide-§8 "move decisions to lightweight proxies"
    // shape, output-identical (same oracle, hash-gated).
    def imgFp(ids: DataFrame) =
      imageTable(ids, "doc_id")
        .select(col("media_id").cast("long").as("id"),
          graft.functions.PerceptualHash.d_hash(col("payload")).as("sh"))
        .where(col("sh").isNotNull)
    def audFp(ids: DataFrame) =
      audioTable(ids, "doc_id")
        .select(col("media_id").cast("long").as("id"),
          graft.functions.AudioFingerprint.audio_fp(col("payload")).as("sh"))
        .where(col("sh").isNotNull)
    graft.llm.Admission.auditMultimodalWithFps(corpus, batch, "doc_id",
        "text", index,
        corpus.select(graft.llm.TextStats.fingerprint(col("text")).as("fp")),
        imgFp(corpus.select(col("doc_id"))),
        audFp(corpus.select(col("doc_id"))),
        imgFp(batch.select(col("doc_id"))),
        audFp(batch.select(col("doc_id"))))
      .orderBy(col("doc_id"))
  }

  /** The q103 oracle, GENERATED: q98's text-leg CTEs (gate / exact /
    * batch-touching exact-Jaccard near-dup) verbatim, plus the q80
    * dHash and q84 energy-gradient bit tables ([[q80Gray]] /
    * [[q84Sample]]) joined all-pairs at Hamming <= 7 and restricted by
    * the same monotone rule as the text near-dup CTE. */
  private def q103Oracle: String = multimodalAdmissionOracle(
    q80Gray(_, _), q84Sample(_))

  /** The q103/q104 oracle body, parameterized by each media modality's
    * per-pixel / per-sample SQL generator (dense [[q80Gray]] /
    * [[q84Sample]] for q103; the sparse CASE forms for q104's
    * discriminating fixture). */
  private def multimodalAdmissionOracle(
      imgPix: (Int, Int) => String, audSample: Int => String): String = {
    val hash =
      """list_reduce(list_prepend(CAST(7 AS BIGINT),
        |      list_transform(generate_series(1, CAST(length(g) AS INTEGER)),
        |        i -> CAST(ord(substr(g, i, 1)) AS BIGINT))),
        |      (acc, c) -> (acc*31 + c) % 2147483647)""".stripMargin
    val pixCols = (for (y <- 0 until 8; x <- 0 until 9)
      yield s"${imgPix(x, y)} AS p${y * 9 + x}").mkString(",\n    ")
    val dhBits = (0 until 64).map { k =>
      val x = k % 8; val y = k / 8
      s"(p${y * 9 + x} > p${y * 9 + x + 1}) AS db$k"
    }.mkString(",\n    ")
    val dhHam = (0 until 64).map(k =>
      s"CASE WHEN a.db$k <> b.db$k THEN 1 ELSE 0 END").mkString(" +\n      ")
    val sampleCols = (0 until 144).map(i =>
      s"${audSample(i)} AS s$i").mkString(",\n    ")
    val energyCols = (0 until 72).map(k =>
      s"(s${2 * k}*s${2 * k} + s${2 * k + 1}*s${2 * k + 1}) AS e$k")
      .mkString(",\n    ")
    val aBits = (0 until 64).map { k =>
      val x = k % 8; val y = k / 8
      s"(e${y * 9 + x} > e${y * 9 + x + 1}) AS db$k"
    }.mkString(",\n    ")
    val aHam = (0 until 64).map(k =>
      s"CASE WHEN a.db$k <> b.db$k THEN 1 ELSE 0 END").mkString(" +\n      ")
    def touch(name: String, pairs: String): String =
      s"""$name AS (
         |  SELECT DISTINCT d FROM (
         |    SELECT id_a AS d, id_b AS o FROM $pairs
         |    UNION ALL
         |    SELECT id_b AS d, id_a AS o FROM $pairs)
         |  WHERE d % 10 = 7 AND (o % 10 != 7 OR o < d))""".stripMargin
    s"""WITH words AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(trim(text)), '\\s+'),
       |    x -> regexp_matches(x, '^[a-z0-9]+$$')) AS ws
       |  FROM documents WHERE doc_id % 10 = 7),
       |grams AS (
       |  SELECT doc_id, unnest(ws) AS g FROM words
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(
       |    generate_series(1, len(ws) - 1),
       |    i -> ws[i] || ' ' || ws[i + 1])) AS g FROM words),
       |scored AS (
       |  SELECT doc_id,
       |    ((xor(v0, v0 >> 15) * 2246822519 % 2147483647) % 1001) - 500 AS w
       |  FROM (
       |    SELECT doc_id, ((b + 1) * 2654435761) % 2147483647 AS v0
       |    FROM (SELECT doc_id, ($hash) % 1024 AS b FROM grams))),
       |per_doc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(w) AS BIGINT) AS sum_w
       |  FROM scored GROUP BY doc_id),
       |gate AS (
       |  SELECT d.doc_id,
       |    coalesce(p.sum_w, 0) * 1000 > 25 * coalesce(p.n_grams, 0)
       |      AS gate_pass
       |  FROM documents d LEFT JOIN per_doc p USING (doc_id)
       |  WHERE d.doc_id % 10 = 7),
       |fps AS (
       |  SELECT doc_id,
       |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
       |  FROM documents),
       |exact AS (
       |  SELECT b.doc_id,
       |    EXISTS (SELECT 1 FROM fps c
       |            WHERE c.doc_id % 10 != 7 AND c.fp = b.fp)
       |      OR b.doc_id > min(b.doc_id) OVER (PARTITION BY b.fp)
       |      AS exact_dup
       |  FROM fps b WHERE b.doc_id % 10 = 7),
       |toks AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(w) >= 2
       |      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
       |      ELSE [array_to_string(w, ' ')] END) AS sh
       |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
       |        FROM documents)),
       |ex AS (SELECT doc_id, unnest(sh) AS s FROM toks),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM ex GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, CAST(count(*) AS BIGINT) AS ni
       |  FROM ex x JOIN ex y ON x.s = y.s AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |p0 AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sizes sa ON id_a = sa.doc_id
       |  JOIN sizes sb ON id_b = sb.doc_id
       |  WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.8),
       |${touch("nd", "p0")},
       |ipix AS (
       |  SELECT doc_id AS id,
       |    $pixCols
       |  FROM documents),
       |ibits AS (
       |  SELECT id,
       |    $dhBits
       |  FROM ipix),
       |ipairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM ibits a JOIN ibits b ON a.id < b.id
       |  WHERE ($dhHam) <= 7),
       |${touch("img_nd", "ipairs")},
       |asmp AS (
       |  SELECT doc_id AS id,
       |    $sampleCols
       |  FROM documents),
       |anrg AS (
       |  SELECT id,
       |    $energyCols
       |  FROM asmp),
       |abits AS (
       |  SELECT id,
       |    $aBits
       |  FROM anrg),
       |apairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b
       |  FROM abits a JOIN abits b ON a.id < b.id
       |  WHERE ($aHam) <= 7),
       |${touch("aud_nd", "apairs")}
       |SELECT g.doc_id, g.gate_pass, e.exact_dup,
       |  (nd.d IS NOT NULL) AS near_dup,
       |  (i.d IS NOT NULL) AS image_dup,
       |  (au.d IS NOT NULL) AS audio_dup,
       |  g.gate_pass AND NOT e.exact_dup AND nd.d IS NULL
       |    AND i.d IS NULL AND au.d IS NULL AS admitted
       |FROM gate g
       |JOIN exact e ON g.doc_id = e.doc_id
       |LEFT JOIN nd ON g.doc_id = nd.d
       |LEFT JOIN img_nd i ON g.doc_id = i.d
       |LEFT JOIN aud_nd au ON g.doc_id = au.d
       |ORDER BY g.doc_id""".stripMargin
  }

  /** The q106 oracle: q80's generated pixel/bit table evaluated at the
    * WIDE contract — pairs whose combined dHash + aHash disagreement
    * count over all 128 bits is <= 8 (the r17 measured operating
    * point, SCALE.md r22), one `hamming` column. Same CTEs as [[q80Oracle]]
    * (the fingerprint definition did not change — only its WIDTH as a
    * banding key), so the two oracles stay in sync by construction. */
  private def q106Oracle: String = {
    val pixCols = (for (y <- 0 until 8; x <- 0 until 9)
      yield s"${q80Gray(x, y)} AS p${y * 9 + x}").mkString(",\n    ")
    val dhBits = (0 until 64).map { k =>
      val x = k % 8; val y = k / 8
      s"(p${y * 9 + x} > p${y * 9 + x + 1}) AS db$k"
    }.mkString(",\n    ")
    val ahGrays = (0 until 64).map { k =>
      val x = k % 8; val y = k / 8
      s"p${y * 9 + x} AS g$k"
    }.mkString(",\n    ")
    val ahTotal = (0 until 64).map(k => s"g$k").mkString(" + ")
    val dhHam = (0 until 64).map(k =>
      s"CASE WHEN a.db$k <> b.db$k THEN 1 ELSE 0 END").mkString(" +\n      ")
    val ahHam = (0 until 64).map(k =>
      s"CASE WHEN (64*a.g$k > a.s) <> (64*b.g$k > b.s) THEN 1 ELSE 0 END")
      .mkString(" +\n      ")
    s"""WITH pix AS (
       |  SELECT doc_id AS id,
       |    $pixCols
       |  FROM documents),
       |bits AS (
       |  SELECT id,
       |    $dhBits,
       |    $ahGrays
       |  FROM pix),
       |tot AS (SELECT *, ($ahTotal) AS s FROM bits)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(($dhHam) + ($ahHam) AS INTEGER) AS hamming
       |FROM tot a JOIN tot b ON a.id < b.id
       |WHERE ($dhHam) + ($ahHam) <= 8
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Image near-dup dedup over the WIDE (128-bit dHash ‖ aHash)
    * fingerprint ([[graft.llm.Multimodal.imageNearDupPairsWide]]) —
    * the r17 escape from the 64-bit banding's key-space ceiling: the
    * q80 geometry's ~15-bit keys genuinely saturate by ~10^6 images
    * (SCALE.md r16 measured 548.8 s at 5M) while this plan's default
    * (10, 2) geometry keys carry >= 24 bits — same banding join
    * shape, collision term ~2^13 smaller by arithmetic (no wide-path
    * decade table was recorded). Contract: combined Hamming <= 8 over 128
    * bits, the measured operating point (r17, SCALE.md r22: true 64-bit
    * pairs all <= 8, closest non-pair 27, JPEG re-encode twins at 0).
    * Both hashes come from ONE codegen'd decode
    * ([[graft.functions.PerceptualHash.d_a_hash]]). */
  val q106 = QueryDef(
    "q106_image_neardup_wide",
    (s, dir) => {
      val imgs = graft.llm.Multimodal.syntheticImageTable(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id")
      graft.llm.Multimodal.imageNearDupPairsWide(imgs, "media_id", "payload")
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(q106Oracle))

  /** The q107 oracle: the 136 cell energies of the DOUBLED 17×8 audio
    * grid replayed from [[q84Sample]] (cell k covers samples
    * [k·144/136, (k+1)·144/136) — mostly one sample, eight cells of
    * two), bits y·16+x = (e(y·17+x) > e(y·17+x+1)), pairs at <= 7
    * disagreements over all 128. Integer-exact like q84's. */
  private def q107Oracle: String = {
    val sampleCols = (0 until 144).map(i =>
      s"${q84Sample(i)} AS s$i").mkString(",\n    ")
    val energyCols = (0 until 136).map { k =>
      val start = k * 144 / 136
      val end = (k + 1) * 144 / 136
      val terms = (start until end).map(i => s"s$i*s$i").mkString(" + ")
      s"($terms) AS e$k"
    }.mkString(",\n    ")
    val bitCols = (0 until 128).map { k =>
      val x = k % 16; val y = k / 16
      s"(e${y * 17 + x} > e${y * 17 + x + 1}) AS db$k"
    }.mkString(",\n    ")
    // two 64-term halves: DuckDB's binder recursion cap (128) rejects
    // one left-nested 128-term chain
    val hamLo = (0 until 64).map(k =>
      s"CASE WHEN a.db$k <> b.db$k THEN 1 ELSE 0 END").mkString(" +\n      ")
    val hamHi = (64 until 128).map(k =>
      s"CASE WHEN a.db$k <> b.db$k THEN 1 ELSE 0 END").mkString(" +\n      ")
    s"""WITH smp AS (
       |  SELECT doc_id AS id,
       |    $sampleCols
       |  FROM documents),
       |nrg AS (
       |  SELECT id,
       |    $energyCols
       |  FROM smp),
       |bits AS (
       |  SELECT id,
       |    $bitCols
       |  FROM nrg)
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(($hamLo) + ($hamHi) AS INTEGER) AS hamming
       |FROM bits a JOIN bits b ON a.id < b.id
       |WHERE ($hamLo) + ($hamHi) <= 7
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Audio near-dup dedup over the WIDE (128-bit, doubled 17×8 grid)
    * acoustic fingerprint ([[graft.llm.Multimodal
    * .audioNearDupPairsWide]]) — the audio leg of the r17 wide
    * banding: same energy-gradient sketch at double the grid
    * resolution, default geometry (9, 2) = q84's 36 combination keys
    * at ~28 bits instead of ~15. Contract: Hamming <= 7 over the 128
    * grid bits, the measured operating point (r17, SCALE.md r22:
    * same-family fixture pairs all <= 7, closest cross-family 31 —
    * the wide pair set IS the family-clique truth, strictly beyond
    * q84's, whose coarse grid loses ~0.2% of family pairs). */
  val q107 = QueryDef(
    "q107_audio_neardup_wide",
    (s, dir) => {
      val wavs = graft.llm.Multimodal.syntheticAudioTable(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id")
      graft.llm.Multimodal.audioNearDupPairsWide(wavs, "media_id", "payload")
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(q107Oracle))

  val all: Seq[QueryDef] =
    Seq(q25, q26, q27, q28, q29, q30, q31, q32, q33, q52, q54, q59, q61,
      q65, q66, q67, q70, q72, q73, q74, q75, q76, q77, q78, q79, q80,
      q81, q82, q83, q84, q85, q86, q87, q88, q89, q90, q91, q92, q93, q94,
      q95, q96, q97, q98, q99, q100, q101, q102, q103, q104, q105, q106,
      q107)
}
