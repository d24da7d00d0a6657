package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Substring-level duplication + intra-document repetition operators —
  * the span-granular members of the dedup family (document-granular
  * exact/near dedup lives in [[Dedup]]).
  *
  * Rationale (beyond the reference's scope, part of the LLM-pipeline
  * mandate): document-level dedup misses boilerplate — license
  * headers, navigation chrome, templated paragraphs — that repeats
  * across otherwise-distinct documents, and training-data curation
  * pipelines remove or down-weight those spans (Lee et al. 2022,
  * "Deduplicating Training Data Makes Language Models Better";
  * Rae et al. 2021 "Gopher" repetition filters). Three operators:
  *
  *  - [[spanDedupStats]] — cross-document duplicated-window rates
  *    (which parts of each doc also appear elsewhere);
  *  - [[repetitionStats]] — intra-document repetition ratios
  *    (Gopher-style duplicate n-gram / top-token fractions), pure
  *    map-side;
  *  - [[vocabulary]] — corpus term/document frequencies with a
  *    bounded top-k, the tokenizer-training precursor.
  *
  * All three are built-in expression chains (no UDFs) so the
  * per-document arithmetic stays inside WholeStageCodegen.
  */
object Spans {

  private[llm] def nonEmptyTokens(text: Column): Column =
    coalesce(filter(TextStats.tokens(text), w => length(w) > 0),
      lit(Array.empty[String]).cast(ArrayType(StringType)))

  /** Positional word `n`-grams: order-preserving, WITH multiplicity —
    * unlike [[Dedup.shingles]] (a distinct set for Jaccard/MinHash),
    * span accounting needs every window occurrence. Built by the same
    * zip-with ladder (each fold appends the k-th shifted token), then
    * truncated to the `size - n + 1` complete windows. Documents
    * shorter than `n` tokens have zero windows. */
  def positionalNgrams(text: Column, n: Int): Column = {
    require(n >= 1, s"n-gram order must be >= 1: $n")
    val words = nonEmptyTokens(text)
    if (n == 1) words
    else {
      val joined = (1 until n).foldLeft(words) { (acc, k) =>
        zip_with(acc, slice(words, lit(k + 1), size(words)),
          (a, b) => concat(a, lit(" "), b))
      }
      when(size(words) >= n, slice(joined, lit(1), size(words) - lit(n - 1)))
        .otherwise(lit(Array.empty[String]).cast(ArrayType(StringType)))
    }
  }

  /** The hashed windows of one document: the [[graft.functions.NgramHashes]]
    * kernel (token-hash chaining, no gram strings) — position-for-
    * position equal in equality structure to hashing
    * [[positionalNgrams]]' strings, at a fraction of the cost. */
  private def hashedNgrams(text: Column, n: Int): Column =
    graft.functions.NgramHashes.ngram_hashes(nonEmptyTokens(text), n)

  private def gramRows(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, hashGrams: Boolean): DataFrame =
    if (hashGrams)
      docs.select(col(idCol).as("doc_id"),
        explode(hashedNgrams(col(textCol), n)).as("g"))
    else
      docs.select(col(idCol).as("doc_id"),
        explode(positionalNgrams(col(textCol), n)).as("g"))

  /** Cross-document duplicated-span rates: for each document, how many
    * of its `n`-token windows carry a gram that appears in at least
    * `minDocs` distinct documents corpus-wide — a count that INCLUDES
    * the window's own document, so the default `minDocs = 2` means
    * "appears in at least one OTHER document". Output per doc: total
    * window count, duplicated
    * window count, and their ratio — the curation signal for "this doc
    * is mostly boilerplate seen elsewhere".
    *
    * Scale shape (100 TB): windows explode to one row each, but every
    * subsequent hop is keyed —
    *  1. pre-aggregate to (gram, doc) with per-doc multiplicity: the
    *     map-side combine collapses intra-doc repeats before the
    *     shuffle;
    *  2. per-gram doc counts: a second hash agg over the (gram, doc)
    *     pairs (rows = distinct pairs, already deduped);
    *  3. join the >=minDocs grams back on gram — an equality join AQE
    *     can skew-split when one boilerplate gram spans millions of
    *     docs (the reason this is a join, not a window over gram: a
    *     window partition cannot be split);
    *  4. per-doc roll-up + a left join back to the doc spine.
    * Nothing is all-pairs; every exchange key is (gram[, doc]).
    *
    * `hashGrams=true` (default, the at-scale path) shuffles 8-byte
    * window hashes from the [[graft.functions.NgramHashes]] kernel
    * (token-hash chaining — no gram strings are ever built; the
    * string ladder was the dominant measured cost) — SpansSpec pins
    * bit-identical stats vs the string-keyed path; a 64-bit collision
    * (~1e-9 at billions of distinct grams) could only overcount
    * dup_windows by one window pair. */
  def spanDedupStats(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, minDocs: Int = 2,
                     hashGrams: Boolean = true): DataFrame = {
    val exploded = gramRows(docs, idCol, textCol, n, hashGrams)
    val pairOcc = exploded.groupBy(col("g"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
    val dupGrams = pairOcc.groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("g"))
    val dupPerDoc = pairOcc.join(dupGrams, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("dup_windows"))
    docs
      .select(col(idCol).as("doc_id"),
        greatest(size(nonEmptyTokens(col(textCol))) - lit(n - 1), lit(0))
          .cast("long").as("n_windows"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        when(col("n_windows") > 0,
          coalesce(col("dup_windows"), lit(0L)).cast("double") / col("n_windows"))
          .otherwise(lit(0.0)).as("dup_ratio"))
  }

  /** Intra-document repetition ratios, Gopher-style (Rae et al. 2021
    * §A.1.1): per doc, the fraction of 2-/3-gram windows that repeat a
    * window already seen IN THE SAME DOC, and the fraction of tokens
    * taken by the single most frequent token. High values flag
    * keyword-stuffed / generator-looped junk.
    *
    * Entirely map-side — array arithmetic per row, no shuffle, no
    * UDF: duplicate counts are `total - array_distinct` size; the top
    * token count is the longest run in the SORTED token array, an
    * O(d log d) fold (`aggregate` over `sort_array`) rather than the
    * O(d^2) count-each-distinct-token shape, so a pathological
    * million-token document costs a sort, not a quadratic scan.
    * Ratios are single divisions of exact integers — bit-identical on
    * any partitioning. */
  def repetitionStats(docs: DataFrame, idCol: String,
                      textCol: String,
                      useKernel: Boolean = true): DataFrame = {
    if (useKernel) {
      // one flat-loop kernel call per document
      // ([[graft.functions.RepetitionStats64]]): hashed tokens +
      // sorted-copy distinct counts replace the interpreted HOF/string
      // ladder (measured 33 s → seconds for 5M docs at sf10); ratios
      // are the same single integer divisions, so results are
      // bit-identical to the expression path (spec-pinned) modulo
      // 64-bit hash collisions
      val st = graft.functions.RepetitionStats64
        .repetition_stats(nonEmptyTokens(col(textCol)))
      def ratio(totalIdx: Int, distinctIdx: Int): Column = {
        val total = element_at(col("__st"), totalIdx)
        val dup = total - element_at(col("__st"), distinctIdx)
        when(total > 0, dup.cast("double") / total).otherwise(lit(0.0))
      }
      return docs
        .select(col(idCol).as("doc_id"), st.as("__st"))
        .select(col("doc_id"),
          element_at(col("__st"), 1).cast("int").as("n_tokens"),
          ratio(2, 3).as("dup2_ratio"),
          ratio(4, 5).as("dup3_ratio"),
          when(element_at(col("__st"), 1) > 0,
            element_at(col("__st"), 6).cast("double") /
              element_at(col("__st"), 1))
            .otherwise(lit(0.0)).as("top_token_ratio"))
    }
    val toks = nonEmptyTokens(col(textCol))
    def dupRatio(n: Int): Column = {
      val grams = positionalNgrams(col(textCol), n)
      val total = size(grams)
      when(total > 0,
        (total - size(array_distinct(grams))).cast("double") / total)
        .otherwise(lit(0.0))
    }
    val sorted = sort_array(toks)
    val zero = struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best"))
    val topRun = aggregate(sorted, zero,
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    docs.select(
      col(idCol).as("doc_id"),
      size(toks).as("n_tokens"),
      dupRatio(2).as("dup2_ratio"),
      dupRatio(3).as("dup3_ratio"),
      when(size(toks) > 0, topRun.cast("double") / size(toks))
        .otherwise(lit(0.0)).as("top_token_ratio"))
  }

  /** Benchmark decontamination: per-corpus-document overlap with a
    * benchmark/evaluation set's n-gram windows (the GPT-3-style
    * "remove test-set contamination" curation step — Brown et al.
    * 2020 §C). A corpus window is contaminated when its gram occurs
    * ANYWHERE in the benchmark set; the per-doc overlap count and
    * flag drive either dropping the document or masking the spans.
    *
    * Scale shape: the benchmark side is tiny relative to the corpus
    * (eval sets are fixed-size), so its DISTINCT gram set aggregates
    * small and BROADCASTS — the corpus side then never shuffles: gram
    * explode, broadcast-hash probe, and the per-doc count's map-side
    * combine all happen within the scan partition (a document's gram
    * rows are co-located by construction). `hashGrams` shuffles/
    * broadcasts the kernel's 8-byte window hashes, spec-pinned
    * result-identical to string grams. */
  def decontaminationStats(corpus: DataFrame, bench: DataFrame,
                           idCol: String, textCol: String,
                           n: Int = 8,
                           hashGrams: Boolean = true): DataFrame = {
    val benchGrams = gramRows(bench, idCol, textCol, n, hashGrams)
      .select(col("g")).distinct()
    // one-aggregation shape: explode_OUTER keeps a null-gram row for
    // zero-window documents (the null key never matches the broadcast
    // side), so the single doc_id hash agg covers every document — no
    // spine re-join — and n_windows IS count(g) within the group (one
    // row per window, null for none), so no per-doc expression exists
    // ABOVE the Generate at all. That last point is a measured
    // explode pitfall: a projection above Generate re-evaluates per
    // EXPLODED row and drags its inputs (the full text column) through
    // the generator — computing n_windows as size(tokens)-n+1 beside
    // the explode cost 20 s where this shape costs ~3 s at sf10. The
    // same shape runs UNCHANGED on a streaming corpus: stream-static
    // left join + one streaming aggregation (StreamingSpec pins
    // stream==batch), where a join-back form would need a
    // stream-stream join on an aggregate.
    val grams =
      if (hashGrams) hashedNgrams(col(textCol), n)
      else positionalNgrams(col(textCol), n)
    corpus
      .select(col(idCol).as("doc_id"), explode_outer(grams).as("g"))
      .join(broadcast(benchGrams.withColumn("__hit", lit(1L))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("g")).as("n_windows"),
        coalesce(sum(col("__hit")), lit(0L)).as("overlap_windows"))
      .select(col("doc_id"), col("n_windows"), col("overlap_windows"),
        (col("overlap_windows") > 0L).as("contaminated"))
  }

  /** Duplicated-span REMOVAL — the rewrite [[spanDedupStats]] only
    * measures (Lee et al. 2022 §4.1 "ExactSubstr" at n-gram-window
    * granularity): every duplicated `n`-token window keeps exactly its
    * GLOBALLY FIRST occurrence (minimum (doc_id, position) — a total
    * order, so the survivor set is partitioning-invariant) and every
    * token covered by any other occurrence is deleted; changed
    * documents are rebuilt from their surviving tokens in order.
    * Window-granular is a documented approximation of the paper's
    * suffix-array substring dedup: overlapping duplicated windows
    * union naturally (their token ranges merge in the removal set),
    * but a duplicated span shorter than `n` tokens is not removed.
    *
    * Rebuilt documents are whitespace-normalized lowercase (the
    * tokenized stream the dedup operates on, single-space-joined);
    * UNCHANGED documents pass through byte-identical — a curation
    * pipeline must not rewrite what it didn't touch.
    *
    * Returns one row per input doc:
    * (doc_id, cleaned, tokens_before, tokens_removed, changed).
    *
    * Scale shape (100 TB): every hop is keyed, nothing all-pairs —
    *  1. window occurrences explode to (gram, doc, pos) rows; with
    *     `hashGrams` (default) the gram is the 8-byte
    *     [[graft.functions.NgramHashes]] chain hash, no strings;
    *  2. the keeper per gram is ONE hash agg (min struct — no
    *     sort-window, so a boilerplate gram with 10^7 occurrences
    *     needs no single-partition sort);
    *  3. marked occurrences = occurrences minus keepers: an equi-join
    *     on gram, AQE-skew-splittable;
    *  4. the removal set explodes marked windows to (doc, token_idx)
    *     and dedups by key (map-side combine);
    *  5. ONLY CHANGED documents re-tokenize and shuffle their tokens
    *     (anti-join on (doc, idx) + one per-doc rebuild agg); the
    *     untouched majority of a lightly-duplicated corpus never
    *     leaves the scan. */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 8,
                           hashGrams: Boolean = true): DataFrame = {
    require(n >= 2, s"span window must be >= 2 tokens: $n")
    val occ = docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(
          if (hashGrams) hashedNgrams(col(textCol), n)
          else positionalNgrams(col(textCol), n)).as(Seq("p0", "g")))
      .select(col("g"), col("doc_id"), (col("p0") + 1).as("p"))
    // keeper table restricted to DUPLICATED grams: a unique gram's only
    // occurrence is its own keeper and can never be marked, so the
    // inner join below drops it anyway — filtering here shrinks the
    // join's build side from |distinct grams| to |dup grams| (usually
    // orders of magnitude on a real corpus; AQE can then broadcast it
    // at moderate scale)
    val keeper = occ.groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("p"))).as("k"),
        count(lit(1)).as("__cnt"))
      .where(col("__cnt") >= 2)
      .select(col("g"), col("k"))
    val marked = occ.join(keeper, Seq("g"))
      .where(!(col("doc_id") === col("k.doc_id") && col("p") === col("k.p")))
      .select(col("doc_id"), col("p"))
    val removal = marked
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + lit(n - 1))).as("idx"))
      .distinct()
    val changed = removal.select(col("doc_id")).distinct()
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text"), nonEmptyTokens(col(textCol)).as("ts"))
    val survivors = toks.join(changed, Seq("doc_id"))
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1).as("idx"), col("tok"))
      .join(removal, Seq("doc_id", "idx"), "left_anti")
    val rebuilt = survivors.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__after"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("tok")))),
          s => s.getField("tok"))).as("__cleaned"))
    toks
      .join(changed.withColumn("__chg", lit(true)), Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // a changed doc whose every token was removed has no survivor
        // rows — coalesce to the empty document, not a pass-through
        when(col("__chg").isNotNull, coalesce(col("__cleaned"), lit("")))
          .otherwise(col("__text")).as("cleaned"),
        size(col("ts")).cast("long").as("tokens_before"),
        when(col("__chg").isNotNull,
            size(col("ts")).cast("long") - coalesce(col("__after"), lit(0L)))
          .otherwise(lit(0L)).as("tokens_removed"),
        col("__chg").isNotNull.as("changed"))
  }

  /** Paragraph-level exact-dedup REWRITE — the MassiveText/Gopher
    * cleaning step between whole-document dedup (q27) and token-window
    * span removal (q90): every paragraph duplicated ANYWHERE in the
    * corpus keeps only its globally FIRST occurrence (min (doc_id,
    * position) — a total order, so the survivor set is
    * partitioning-invariant); later occurrences are deleted and their
    * documents rebuilt from the surviving paragraphs re-joined with
    * the separator. Untouched documents pass through byte-identical.
    *
    * Same at-scale discipline as [[removeDuplicateSpans]]: the keeper
    * is a hash agg of min(struct) restricted to DUPLICATED
    * fingerprints (never a sort-window — a 10^7-occurrence boilerplate
    * paragraph needs no single-partition sort), and only CHANGED
    * documents shuffle their paragraphs for the rebuild.
    *
    * Semantics: paragraphs are `sep`-separated slots (regex-quoted on
    * the Spark side so the split is LITERAL, matching the oracle's
    * `string_split`; trailing empty slots kept on both engines);
    * empty slots are never dedup candidates and always survive;
    * removing a slot collapses its separator. Fingerprint = md5 of
    * the exact paragraph text (no normalization — "exact" here means
    * byte-exact, the MassiveText rule; the fuzzy forms are the
    * MinHash/span family's job). */
  def removeDuplicateParagraphs(docs: DataFrame, idCol: String,
                                textCol: String,
                                sep: String = "\n\n"): DataFrame = {
    val base = paragraphBase(docs, idCol, textCol, sep)
    val occ = paragraphOcc(base)
    val keeper = occ.groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"),
        count(lit(1)).as("__cnt"))
      .where(col("__cnt") >= 2)
      .select(col("g"), col("k"))
    val removal = occ.join(keeper, Seq("g"))
      .where(!(col("doc_id") === col("k.doc_id") &&
        col("pos") === col("k.pos")))
      .select(col("doc_id"), col("pos"))
    rebuildFromRemoval(base, removal, sep)
  }

  /** (doc_id, __text, ps) — the shared split stage of the paragraph
    * operators (literal separator, trailing empties kept). */
  private def paragraphBase(docs: DataFrame, idCol: String,
                            textCol: String, sep: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      col(textCol).as("__text"),
      split(col(textCol), java.util.regex.Pattern.quote(sep), -1).as("ps"))

  /** Non-empty paragraph occurrences: (g = md5(para), doc_id, pos). */
  private def paragraphOcc(base: DataFrame): DataFrame =
    base
      .select(col("doc_id"), posexplode(col("ps")).as(Seq("p0", "para")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("para"))
      .where(length(col("para")) > 0)
      .select(md5(col("para").cast("binary")).as("g"),
        col("doc_id"), col("pos"))

  /** Rebuild cleaned documents from a (doc_id, pos) removal set: only
    * CHANGED documents shuffle their paragraphs; untouched ones pass
    * through byte-identical. Output: (doc_id, cleaned, paras_before,
    * paras_removed, changed). */
  private def rebuildFromRemoval(base: DataFrame, removal: DataFrame,
                                 sep: String): DataFrame = {
    val changed = removal.select(col("doc_id")).distinct()
    val survivors = base.join(changed, Seq("doc_id"))
      .select(col("doc_id"), posexplode(col("ps")).as(Seq("p0", "para")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("para"))
      .join(removal, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = survivors.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__after"),
        concat_ws(sep, transform(
          array_sort(collect_list(struct(col("pos"), col("para")))),
          s => s.getField("para"))).as("__cleaned"))
    base
      .join(changed.withColumn("__chg", lit(true)), Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        // a changed doc whose every slot was removed has no survivor
        // rows — coalesce to the empty document, not a pass-through
        when(col("__chg").isNotNull, coalesce(col("__cleaned"), lit("")))
          .otherwise(col("__text")).as("cleaned"),
        // NULL text has no slots (the spans convention: 0, not NULL)
        coalesce(size(col("ps")), lit(0)).cast("long").as("paras_before"),
        when(col("__chg").isNotNull,
            size(col("ps")).cast("long") - coalesce(col("__after"), lit(0L)))
          .otherwise(lit(0L)).as("paras_removed"),
        col("__chg").isNotNull.as("changed"))
  }

  /** The persistable PARAGRAPH-HASH store of a corpus: the distinct
    * md5 of every non-empty paragraph — the artifact incremental
    * paragraph cleaning probes so a growing corpus never re-splits or
    * re-hashes seen documents (the q95 band-index pattern at paragraph
    * grain). Write with any parquet sink;
    * [[removeDuplicateParagraphsIncremental]] consumes it. The
    * incremental-append law holds per-doc (hashing is per-paragraph
    * and distinct is idempotent): store(a ∪ b) == store(a) ∪ store(b)
    * up to distinct. */
  def paragraphHashStore(docs: DataFrame, idCol: String, textCol: String,
                         sep: String = "\n\n"): DataFrame =
    paragraphOcc(paragraphBase(docs, idCol, textCol, sep))
      .select(col("g")).distinct()

  /** INCREMENTAL paragraph dedup — the corpus-growth shape: clean an
    * arriving batch against a frozen corpus by probing its persisted
    * [[paragraphHashStore]]. With ids monotone across arrivals (the
    * admission contract), a batch occurrence is a LATER occurrence of
    * any store hash it matches, so: delete every batch slot whose hash
    * is in the store; among store-unseen hashes keep the batch-first
    * occurrence (min (doc_id, pos)) of each duplicated one — exactly
    * the one-shot [[removeDuplicateParagraphs]] over corpus ∪ batch
    * RESTRICTED to batch docs (spec-pinned; corpus docs are never
    * changed by later arrivals, which is what makes the incremental
    * form exact).
    *
    * Plan shape (the q98 lesson): the store is scanned ONCE and
    * semi-joined against the BROADCAST batch hashes — never shuffled,
    * never re-hashed — and the ≤batch-sized hit set broadcasts back;
    * everything else is batch-sized. */
  def removeDuplicateParagraphsIncremental(batch: DataFrame, idCol: String,
                                           textCol: String, store: DataFrame,
                                           sep: String = "\n\n"): DataFrame = {
    val base = paragraphBase(batch, idCol, textCol, sep)
    val occ = paragraphOcc(base)
    // inner build side NOT deduped (r18): left_semi build — duplicate
    // grams only pad the batch-bounded hash relation, and the distinct
    // cost an exchange+agg stage inside the hits broadcast build. The
    // outer distinct stays (hits feeds a LEFT join flag).
    val hits = store.select(col("g"))
      .join(broadcast(occ.select(col("g"))), Seq("g"), "left_semi")
      .distinct()
    val marked = occ.join(broadcast(hits.withColumn("__seen", lit(true))),
      Seq("g"), "left")
    val seenRemoval = marked.where(col("__seen"))
      .select(col("doc_id"), col("pos"))
    val fresh = marked.where(col("__seen").isNull)
    val keeper = fresh.groupBy(col("g"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("k"),
        count(lit(1)).as("__cnt"))
      .where(col("__cnt") >= 2)
      .select(col("g"), col("k"))
    val freshRemoval = fresh.join(keeper, Seq("g"))
      .where(!(col("doc_id") === col("k.doc_id") &&
        col("pos") === col("k.pos")))
      .select(col("doc_id"), col("pos"))
    rebuildFromRemoval(base, seenRemoval.union(freshRemoval), sep)
  }

  /** Corpus vocabulary: per-token term frequency and document
    * frequency, truncated to the `topK` most frequent (ties broken by
    * token, so the cut is deterministic) — the counting pass a
    * BPE/unigram tokenizer trainer runs first.
    *
    * Two keyed hash aggs — (token, doc) collapses intra-doc repeats
    * map-side before the narrow per-token roll-up — and the top-k is
    * `TakeOrderedAndProject` (per-partition heaps, never a full
    * sort). */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String,
                 topK: Int = 100): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        explode(nonEmptyTokens(col(textCol))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("token"))
      .agg(sum(col("occ")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("token"))
      .limit(topK)
}
