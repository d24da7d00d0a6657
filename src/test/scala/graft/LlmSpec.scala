package graft

import graft.core.Tables
import graft.functions.{SimHash64, VectorKernels}
import graft.llm.{Dedup, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LlmSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._
  private def docs = Tables.documents(spark, SparkTestBase.sf)
  private def emb  = Tables.embeddings(spark, SparkTestBase.sf)

  test("SimHash64 is deterministic and order-sensitive only via counts") {
    val df = Seq(
      Seq("a", "b", "c"), Seq("a", "b", "c"), Seq("c", "b", "a"),
      Seq("x", "y", "z")).toDF("toks")
      .select(SimHash64.simhash64($"toks").as("h")).as[Long].collect()
    assert(df(0) == df(1))          // identical input → identical hash
    assert(df(0) == df(2))          // bag semantics: order-free
    assert(df(0) != df(3))          // different tokens → different hash
  }

  test("near-identical docs get small SimHash Hamming distance") {
    val base = (1 to 60).map(i => s"tok$i")
    val nearDup = base.updated(5, "CHANGED").updated(40, "ALSO")
    val far = (1 to 60).map(i => s"other$i")
    val hs = Seq(base, nearDup, far).toDF("toks")
      .select(SimHash64.simhash64($"toks")).as[Long].collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0), hs(1)) <= 12, s"near-dup hamming ${ham(hs(0), hs(1))}")
    assert(ham(hs(0), hs(2)) >= 16, s"far hamming ${ham(hs(0), hs(2))}")
  }

  test("rollingHash is order-sensitive where the md5 fingerprint is not") {
    import graft.llm.TextStats
    val df = Seq(
      ("one two three", 1), ("one two three", 2), // identical
      ("three two one", 3),                       // same tokens, reordered
      ("ONE   two\tthree", 4)                     // canonicalizes to row 1
    ).toDF("text", "id")
      .select($"id", TextStats.rollingHash($"text").as("rh"),
        TextStats.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(1) -> r.get(2)).toSeq
    val (rh, fp) = (df.map(_._1), df.map(_._2))
    // identical + canonically-equal texts agree under both hashes
    assert(rh(0) == rh(1) && rh(0) == rh(3))
    assert(fp(0) == fp(1) && fp(0) == fp(3))
    // reordered tokens: same fingerprintable token-bag semantics differ —
    // the rolling hash (polynomial in token order) must separate them
    assert(rh(0) != rh(2), "rolling hash must be order-sensitive")
    // exact reference recomputation: fold h = h*1000003 + crc32(tok)
    val crc = (t: String) => {
      val c = new java.util.zip.CRC32(); c.update(t.getBytes("UTF-8")); c.getValue
    }
    val expect = Seq("one", "two", "three")
      .foldLeft(0L)((acc, t) => acc * 1000003L + crc(t))
    assert(rh(0) == expect, s"rollingHash mismatch: ${rh(0)} vs $expect")
  }

  test("bpeishTokenCount matches hand-computed word-piece counts") {
    import graft.llm.TextStats
    val got = Seq(
      "hello world",        // 2 plain words
      "abc123def",          // letter|digit|letter -> abc,123,def = 3
      "ab!!cd",             // split BEFORE each punct: ab,!,!cd = 3
      "a1!b",               // a,1,!b = 3
      "it's fine.",         // it,'s,fine,. = 4
      " x ",                // trim -> 1
      ""                    // empty -> 0
    ).toDF("text")
      .select(TextStats.bpeishTokenCount($"text")).as[Int].collect().toSeq
    assert(got == Seq(2, 3, 3, 3, 4, 1, 0), s"got $got")
  }

  test("langIdTrigram classifies real multilingual sentences") {
    import graft.llm.TextStats
    val got = Seq(
      ("en", Some("the cat and the dog are running in the garden of the old house")),
      ("fr", Some("le chat et la maison sont dans une rue et le jardin est grand mais frais")),
      ("es", Some("los gatos y el perro caminan por el mercado de la ciudad y los campos")),
      ("de", Some("der hund und die katze sind schnell und ich gehe durch einen wald")),
      ("und", Some("zzz qqq xxx")),
      ("und", None) // null text must not fall through to the last label
    ).toDF("want", "text")
      .select($"want", TextStats.langIdTrigram($"text").as("got"))
      .as[(String, String)].collect()
    got.foreach { case (want, guess) =>
      assert(guess == want, s"expected $want got $guess")
    }
  }

  test("minhashSignature: order-free, deterministic, agreement tracks jaccard") {
    val sigs = Seq(
      Seq("a b", "b c", "c d", "d e"), // base bag
      Seq("d e", "c d", "b c", "a b"), // same bag reordered
      Seq("a b", "b c", "c d", "x y"), // jaccard 3/5 vs base
      Seq("p q", "q r", "r s", "s t")  // disjoint
    ).toDF("sh")
      .select(Dedup.minhashSignature($"sh", 64).as("sig"))
      .as[Seq[Long]].collect()
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count(p => p._1 == p._2)
    assert(sigs(0) == sigs(1), "min over a bag is order-free")
    // Broder: P(sig slot agrees) = jaccard -> 3/5 overlap beats disjoint
    assert(agree(sigs(0), sigs(2)) > agree(sigs(0), sigs(3)))
    assert(agree(sigs(0), sigs(3)) <= 8, "disjoint sets rarely collide")
  }

  test("lshSignature: sign bits are scale-invariant and negate under -v") {
    val rnd = new scala.util.Random(7)
    val v = Seq.fill(64)(rnd.nextGaussian().toFloat)
    val sigs = Similarity.lshSignature(
        Seq(v, v.map(_ * 2f), v.map(-_)).toDF("vec"),
        "vec", numPlanes = 16, dim = 64)
      .select($"lsh_sig").as[Long].collect()
    assert(sigs(0) == sigs(1), "sign(v-h) == sign(2v-h): cosine LSH ignores norm")
    assert((sigs(0) ^ sigs(2)) == 0xFFFFL, "-v flips all 16 plane bits")
  }

  test("MinHash-LSH candidates achieve full recall on high-jaccard pairs") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", shingleN = 2)
      .where($"jaccard" >= 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val cands = Dedup.minhashLshCandidates(docs, "doc_id", "text",
        shingleN = 2, bands = 16, rows = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val missed = exact -- cands
    assert(missed.isEmpty, s"LSH missed high-jaccard pairs: $missed")
  }

  test("verified MinHash near-dup pairs equal the exact jaccard>=0.8 pair set") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", shingleN = 2)
      .where($"jaccard" >= 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val verified = Dedup.minhashNearDupPairs(docs, "doc_id", "text",
        threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(verified == exact,
      s"missed=${(exact -- verified).take(3)} extra=${(verified -- exact).take(3)}")
  }

  test("incremental probe == brute-force restriction; index round-trips through parquet") {
    // corpus-growth split: every 10th doc arrives as the new batch
    val batch = docs.where($"doc_id" % 10 === 7)
    val corpus = docs.where($"doc_id" % 10 =!= 7)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", shingleN = 2)
      .where($"jaccard" >= 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val expect = exact.filter(p => p._1 % 10 == 7 || p._2 % 10 == 7)
    assert(expect.nonEmpty, "fixture has no batch-touching near-dups")
    assert(exact.exists(p => p._1 % 10 != 7 && p._2 % 10 != 7),
      "fixture should ALSO hold corpus-only pairs the probe must NOT emit")

    val index = Dedup.minhashBandIndex(corpus, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lsh_index")
    try graft.core.Caching.scoped {
      // the probe's batch frame: one cache of (id, sh, bands)
      val newDocs = graft.core.Caching.eager(batch.select(
          $"doc_id".cast("long").as("id"), Dedup.shingles($"text", 2).as("sh"))
        .withColumn("bands", Dedup.bandHashes($"sh")))
      def probeWith(idx: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        Dedup.minhashProbePairs(corpus, newDocs, "doc_id", "text", idx,
            threshold = 0.8)
          .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      val got = probeWith(index)
      assert(got == expect,
        s"missed=${(expect -- got).take(3)} extra=${(got -- expect).take(3)}")

      // the index is an ARTIFACT: write, reload in a fresh frame, probe
      // again — bit-identical banding across the round-trip is what lets
      // a growing corpus keep its signatures cold
      index.write.mode("overwrite").parquet(dir.toString)
      val reloaded = spark.read.parquet(dir.toString)
      assert(probeWith(reloaded) == expect,
        "probe against the reloaded index diverged")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("IVF probe vs persisted index: recall floor, round-trip equality, partition pruning") {
    val queries = emb.where($"vec_id" < 50)
    val corpus = emb.where($"vec_id" >= 50)
    val centroids = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
      nCentroids = 16)
    val index = Similarity.ivfIndexAssignments(corpus, "vec_id", "embedding",
      centroids)

    def hits(idx: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Similarity.ivfProbeTopK(queries, idx, centroids, "vec_id", "embedding",
          k = 5, nProbe = 8)
        .select($"query_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val got = hits(index)

    // recall vs the exact quantized-dot top-k restricted to the corpus
    val exact = Similarity.quantizedDotTopK(queries, corpus, "vec_id",
        "embedding", k = 5)
      .select($"query_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.75, s"IVF probe recall $recall < 0.75")

    // the index is an ARTIFACT: write partitioned by cent, reload,
    // probe again — identical hit set, and the probe's literal isin
    // must reach the scan as a PARTITION filter (only probed inverted
    // lists are read)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_index")
    try {
      index.write.mode("overwrite").partitionBy("cent").parquet(dir.toString)
      val reloaded = spark.read.parquet(dir.toString)
      assert(hits(reloaded) == got, "probe against reloaded index diverged")
      val plan = Similarity.ivfProbeTopK(queries, reloaded, centroids,
          "vec_id", "embedding", k = 5, nProbe = 8)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cent[^\\]]*\\].*"),
        s"expected cent partition pruning on the index scan:\n$plan")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("connectedComponents equals driver union-find on real near-dup pairs") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold = 0.8)
      .select($"id_a", $"id_b")
    val edges = pairs.as[(Long, Long)].collect().toSeq
    assert(edges.nonEmpty, "fixture must contain near-dup pairs")
    // driver-side union-find with path compression as the oracle
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val want = nodes.map(n => n -> find(n)).toMap
    // distributed iterative path forced (threshold 0) AND the default
    // driver short-circuit — both must match the reference union-find
    val gotDist = Dedup.connectedComponents(pairs, driverThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(gotDist == want,
      s"diff=${(want.toSet -- gotDist.toSet).take(3)} / ${(gotDist.toSet -- want.toSet).take(3)}")
    val gotDriver = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(gotDriver == want)
  }

  test("connectedComponents driver path survives a 60k adversarial chain") {
    // edges (k, k+1) in DESCENDING k order build a parent chain of
    // depth n in the union loop; the final find() pass must walk it
    // iteratively — a recursive find overflows the JVM stack here
    val n = 60000L
    val chain = (0L until n).reverse.map(k => (k, k + 1)).toDF("src", "dst")
    val labels = graft.llm.Dedup.connectedComponents(chain)
      .as[(Long, Long)].collect()
    assert(labels.length == (n + 1).toInt && labels.forall(_._2 == 0L))
  }

  test("connectedComponents converges on a deep chain within the jump bound") {
    // a 64-node path graph: diameter 63, so hop-only propagation would
    // need >20 rounds — pointer jumping must close it inside maxIter;
    // threshold 0 forces the distributed path under test
    val chain = (1L until 64L).map(i => (i - 1, i)).toDF("src", "dst")
    val labels = Dedup.connectedComponents(chain, maxIter = 10, driverThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 64 && labels.values.forall(_ == 0L))
  }

  test("connectedComponents scopes its loop conf to a cloned session: concurrent queries keep AQE") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    assert(aqeBefore == "true", "fixture expects AQE on in the caller session")
    // deep chain at threshold 0 → the distributed loop runs many
    // rounds, so the main thread provably overlaps it
    val n = 20000L
    val chain = spark.range(1, n)
      .select(($"id" - 1).as("src"), $"id".as("dst"))
    val fut = Future {
      Dedup.connectedComponents(chain, driverThreshold = 0)
        .as[(Long, Long)].collect()
    }
    var checks = 0
    while (!fut.isCompleted) {
      // a query planned on the CALLER's session mid-CC must still be
      // adaptive — the loop's AQE-off/width conf lives on the clone
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
        "CC leaked AQE-off into the caller session")
      val p = spark.range(1000).groupBy(($"id" % 7).as("k")).count()
        .queryExecution.executedPlan.toString
      assert(p.contains("AdaptiveSparkPlan"),
        s"concurrent query lost AQE mid-CC:\n$p")
      checks += 1
    }
    val labels = Await.result(fut, 300.seconds).toMap
    assert(labels.size == n.toInt && labels.values.forall(_ == 0L))
    assert(checks > 0, "CC finished before any mid-flight check — grow the fixture")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqeBefore &&
      spark.conf.get("spark.sql.shuffle.partitions") == partsBefore,
      "caller-session conf changed across the CC invocation")
  }

  test("connectedComponents conf sync unsets keys the caller dropped") {
    // the memoized clone mirrors the caller's runtime conf at entry;
    // a key the caller set during one invocation and later UNSET must
    // not linger on the clone (diff-copy alone never removes keys)
    val key = "spark.graft.test.ccStaleKey"
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    spark.conf.set(key, "set-by-caller")
    try {
      Dedup.connectedComponents(edges, driverThreshold = 0).collect()
      assert(Dedup.loopSessionConf(spark, key).contains("set-by-caller"),
        "sync should mirror the caller key onto the clone")
    } finally spark.conf.unset(key)
    Dedup.connectedComponents(edges, driverThreshold = 0).collect()
    assert(Dedup.loopSessionConf(spark, key).isEmpty,
      "clone kept a conf key the caller unset")
  }

  test("concurrent connectedComponents on one session both label correctly") {
    // two overlapping CC invocations on the SAME caller session: the
    // second entry must not wait on or race the first's loop conf —
    // it falls back to a fresh clone. Both must converge correctly.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val n = 20000L
    val chainA = spark.range(1, n).select(($"id" - 1).as("src"), $"id".as("dst"))
    // disjoint id space for B so a cross-labeled row would be loud
    val chainB = spark.range(1, n)
      .select(($"id" - 1 + 1000000L).as("src"), ($"id" + 1000000L).as("dst"))
    val futA = Future {
      Dedup.connectedComponents(chainA, driverThreshold = 0)
        .as[(Long, Long)].collect()
    }
    val futB = Future {
      Dedup.connectedComponents(chainB, driverThreshold = 0)
        .as[(Long, Long)].collect()
    }
    val a = Await.result(futA, 300.seconds)
    val b = Await.result(futB, 300.seconds)
    assert(a.length == n.toInt && a.forall(_._2 == 0L))
    assert(b.length == n.toInt && b.forall(_._2 == 1000000L))
  }

  test("connectedComponents accepts edges rooted in caller temp views and spark.sql text") {
    // the loop runs on a conf-isolated clone whose catalog has no temp
    // views — the rebase must carry the RESOLVED plan across (an
    // unresolved re-analysis on the clone would fail to find the view)
    val n = 5000L
    spark.range(1, n)
      .select(($"id" - 1).as("src"), $"id".as("dst"))
      .createOrReplaceTempView("cc_edges_view")
    try {
      val edges = spark.sql("SELECT src, dst FROM cc_edges_view")
      val labels = Dedup.connectedComponents(edges, driverThreshold = 0)
        .as[(Long, Long)].collect().toMap
      assert(labels.size == n.toInt && labels.values.forall(_ == 0L))
    } finally spark.catalog.dropTempView("cc_edges_view")
  }

  test("nearDupPairsUnique equals minhashNearDupPairs on fingerprint-deduped input") {
    // one representative per canonical fingerprint = the precondition
    // the lean variant documents; both paths must emit identical pairs
    val reps = docs
      .withColumn("fp", graft.llm.TextStats.fingerprint($"text"))
      .withColumn("keep",
        min($"doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy($"fp")))
      .where($"doc_id" === $"keep").drop("fp", "keep")
    val full = Dedup.minhashNearDupPairs(reps, "doc_id", "text", threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val lean = Dedup.nearDupPairsUnique(reps, "doc_id", "text", threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lean == full,
      s"missed=${(full -- lean).take(3)} extra=${(lean -- full).take(3)}")
  }

  test("exact-duplicate groups larger than the bucket cap survive near-dup dedup") {
    // 60 identical texts share one bucket in EVERY band; with cap=20 a
    // bare bucket filter would drop the whole group from all bands.
    // The fingerprint pre-grouping routes them around the LSH instead.
    val dups = (1L to 60L).map(i =>
      (i, "the same exact text repeated again and again for dedup"))
    val near = Seq(
      (100L, "a quite different document about something else entirely unique"),
      (101L, "a quite different document about something else entirely unique plus"))
    val df = (dups ++ near).toDF("doc_id", "text")
    val out = Dedup.minhashNearDupPairs(df, "doc_id", "text",
      threshold = 0.5, maxBucketSize = 20)
    assert(out.where($"jaccard" === 1.0).count() == 60L * 59 / 2,
      "all within-group exact-dup pairs must be present")
    assert(out.where($"id_a" === 100L && $"id_b" === 101L).count() == 1L,
      "the distinct near-dup pair must still be found by LSH")
  }

  test("connectedComponents matches union-find on seeded random graphs (distributed path)") {
    // the fused hop+jump loop (one checkpoint per round, shuffle_hash
    // pinned) against an independent union-find, over graphs with
    // self-loops, duplicate edges, sparse ids, and multiple components
    // — deterministic seed, so a failure reproduces
    val rnd = new scala.util.Random(20260813L)
    (1 to 5).foreach { g =>
      val n = 10 + rnd.nextInt(50)
      val m = 5 + rnd.nextInt(100)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong * 7, rnd.nextInt(n).toLong * 7))
      val got = Dedup.connectedComponents(edges.toDF("src", "dst"),
          driverThreshold = 0)
        .as[(Long, Long)].collect().toMap
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      val real = edges.filter(e => e._1 != e._2)
      real.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = real.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
      assert(got == want, s"graph $g: n=$n m=$m")
    }
  }

  // band hashes of two fixed texts (order-2 shingles, 16 bands x 4
  // rows), as the explode→aggregate reference below computed them
  // before the per-row kernel replaced it in the engine
  private val goldenBands = Map(
    1L -> Seq(5775806916830444490L, 282128993142099180L, -501193720213249322L,
      5616120995290543710L, -2807952493906022884L, 3054616193616768404L,
      -1616390340772811538L, -6584960649176856971L, 5373282778751431159L,
      8021493196228151980L, 5842881432452428571L, -3820493425638193663L,
      -343639173975565062L, -4962822877454008631L, -5684136376902097701L,
      -5668843015381566071L),
    2L -> Seq(8669923271718110205L, -5581663953529294150L, -2908932909549173740L,
      1458818468568396068L, -274378885259211912L, 3037590902826479935L,
      6257719813886377126L, -2750654723130252579L, -37539586435737706L,
      7048913388667740555L, -7590803237882384097L, -2647645245846975104L,
      5530291442457673724L, 4335946291897270118L, 431969427130783301L,
      5534291759575059134L))
  private val goldenTexts = Map(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "lorem ipsum dolor sit amet consectetur")

  test("bandHashesLocal is bit-exact with the batch banding expressions") {
    // every MinHash path bands through the one per-row kernel
    // (Dedup.bandHashes); this pins it against the plain column
    // expressions of the hash family (same literal types, same fold
    // order) in their explode→aggregate form, and against golden
    // values, so a divergence is diagnosable per hash instead of per
    // candidate set
    val bands = 16; val rows = 4; val numHashes = bands * rows
    val df = (goldenTexts.toSeq ++ Seq((3L, "single"), (4L, "")))
      .toDF("id", "text")
    val sh = df.select($"id", Dedup.shingles($"text", 2).as("sh"))
    val sig = sh.select($"id", explode($"sh").as("s"))
      .select($"id",
        xxhash64(lit(0), $"s").as("h1"), xxhash64(lit(1), $"s").as("h2"))
      .groupBy($"id")
      .agg(min(xxhash64(lit(0), $"h1", $"h2")).as("mh0"),
        (1 until numHashes).map(j =>
          min(xxhash64(lit(j), $"h1", $"h2")).as(s"mh$j")): _*)
    val batch = sig.select($"id", array((0 until bands).map { b =>
        xxhash64((lit(b) +: (0 until rows).map(r =>
          col(s"mh${b * rows + r}"))): _*)
      }: _*).as("bh"))
      .as[(Long, Seq[Long])].collect().toMap
    val kernel = sh.select($"id", Dedup.bandHashes($"sh", bands, rows))
      .as[(Long, Seq[Long])].collect().toMap
    assert(kernel == batch)
    assert(goldenBands.forall { case (id, g) => kernel(id) == g })
  }

  test("the band index bands each row on its own, also when an id repeats") {
    // id 1 holds both golden texts in two rows; ids 2 and 3 hold one
    // each. Each row gets its own band rows (no merge of the shingle
    // sets), so id 1 shares every bucket of ids 2 and 3
    val df = Seq((1L, goldenTexts(1L)), (1L, goldenTexts(2L)),
      (2L, goldenTexts(1L)), (3L, goldenTexts(2L))).toDF("id", "text")
    val index = Dedup.minhashBandIndex(df, "id", "text")
      .as[(Long, Int, Long)].collect().toSeq
    def rowsOf(id: Long, golden: Long) =
      goldenBands(golden).zipWithIndex.map { case (h, b) => (id, b, h) }
    assert(index.sorted == (rowsOf(1L, 1L) ++ rowsOf(1L, 2L) ++
      rowsOf(2L, 1L) ++ rowsOf(3L, 2L)).sorted)
    val cands = Dedup.minhashLshCandidates(df, "id", "text")
      .as[(Long, Long)].collect().toSet
    assert(cands == Set((1L, 2L), (1L, 3L)))
  }

  test("SimHash banding returns exactly the hamming<=maxHamming pair set") {
    // Brute-force ground truth: XOR popcount over all fingerprint pairs.
    val fps = docs
      .select($"doc_id", graft.functions.SimHash64.simhash64(
        graft.llm.TextStats.tokens($"text")).as("sh"))
      .as[(Long, Long)].collect()
    val maxHamming = 7
    val exact = (for {
      i <- fps.indices.iterator
      j <- (i + 1) until fps.length
      if java.lang.Long.bitCount(fps(i)._2 ^ fps(j)._2) <= maxHamming
    } yield {
      val (a, b) = (fps(i)._1, fps(j)._1)
      (math.min(a, b), math.max(a, b))
    }).toSet
    val cands = Dedup.simhashCandidates(docs, "doc_id", "text",
        bands = 8, maxHamming = maxHamming)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(cands == exact,
      s"missed=${(exact -- cands).take(3)} extra=${(cands -- exact).take(3)} " +
        s"(pigeonhole guarantees equality for maxHamming < bands)")
    assert(exact.nonEmpty, "fixture should contain close simhash pairs")
    // the multi-block-key generalization is exhaustive too — same
    // exact pair set through C(9,2)=36 two-block probe keys (wider
    // buckets, the at-scale form) and through an uneven partition
    val fpDf = graft.core.Caching.eager(docs
      .select($"doc_id".as("id"), graft.functions.SimHash64.simhash64(
        graft.llm.TextStats.tokens($"text")).as("sh")))
    // (0, 0) = auto-sized geometry (autoGeometry(7) = (9, 2)) — the
    // operator's own sizing must stay on the exhaustive pair set
    // (17, 1) exercises the blocks > 16 canonical path (the when-chain
    // over the precomputed clean-block bitmask — r17's canonicalCombo
    // has a 2^blocks lookup table below 17 blocks, a fold above)
    Seq((9, 2), (10, 3), (11, 1), (17, 1), (0, 0)).foreach { case (blocks, kb) =>
      val combo = Dedup.hammingCandidatesFromFp(fpDf, blocks, maxHamming, kb)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      assert(combo == exact, s"blocks=$blocks keyBlocks=$kb diverged: " +
        s"missed=${(exact -- combo).take(3)} extra=${(combo -- exact).take(3)}")
    }
  }

  test("autoGeometry: measured dispatch table, pigeonhole + key-width floor") {
    // the SCALE.md r14/r15 dispatch rule pinned: the FEWEST
    // combination keys subject to exhaustiveness (keyBlocks <=
    // blocks - maxHamming) and >= 14 effective key bits (the
    // saturation floor that excludes 8/1's 256-bucket key space at
    // h<=7 — the measured quadratic decade curve, SCALE.md r15)
    val expect = Map(0 -> (1, 1), 1 -> (2, 1), 2 -> (3, 1),
      3 -> (4, 1), 4 -> (6, 2), 5 -> (7, 2), 6 -> (8, 2), 7 -> (9, 2),
      8 -> (11, 3), 9 -> (12, 3), 10 -> (14, 4), 11 -> (15, 4),
      12 -> (16, 4))
    expect.foreach { case (h, g) =>
      assert(Dedup.autoGeometry(h) == g,
        s"h=$h: got ${Dedup.autoGeometry(h)}, want $g")
    }
    // every choice satisfies its own constraints across the
    // satisfiable range, INCLUDING the operator's combination cap —
    // auto sizing must never hand back a geometry
    // hammingCandidatesFromFp would then reject (the r15 advice bug:
    // h=13's smallest floor-satisfying geometry (18,5) has
    // C(18,5)=8568 > 4096, so auto used to "succeed" into a
    // downstream rejection)
    (0 to 12).foreach { h =>
      val (b, k) = Dedup.autoGeometry(h)
      assert(k >= 1 && k <= b - h, s"pigeonhole violated at h=$h: ($b,$k)")
      assert(k * (64 / b) >= 14, s"key-width floor violated at h=$h: ($b,$k)")
      assert((0 until b).combinations(k).size <= Dedup.ComboCap,
        s"combination cap violated at h=$h: ($b,$k)")
    }
    // past h=12 at the default floor nothing fits BOTH the floor and
    // the cap: the failure is loud and names the real constraint
    (13 to 15).foreach { h =>
      val e = intercept[IllegalArgumentException] {
        Dedup.autoGeometry(h)
      }
      assert(e.getMessage.contains("combination cap"),
        s"h=$h should fail on the cap, got: ${e.getMessage}")
    }
    // an unsatisfiable floor fails loudly, not silently unexhaustive
    intercept[IllegalArgumentException] {
      Dedup.autoGeometry(60, keyBitsFloor = 20)
    }
    // half-specified geometry is rejected (the two are sized jointly)
    intercept[IllegalArgumentException] {
      Dedup.hammingCandidatesFromFp(
        Seq((1L, 1L)).toDF("id", "sh"), blocks = 9,
        maxHamming = 7, keyBlocks = 0)
    }
  }

  test("banding emits the quadratic-regime sentinel past the measured decade") {
    // The sentinel is advisory (never a behavior change): when
    // combos·n²/2^minKeyBits predicts random bucket collisions past
    // the decade measured flat, the operator says so on stderr and
    // names the MEASURED mitigations. Pin both directions: a narrow
    // explicit geometry over a modest frame trips it (64 blocks,
    // 1-bit keys: 64·13k²/2 ≈ 5.4e9 > 5e9), the default auto
    // geometry over the same frame stays silent (36·13k²/2^14 ≈ 4e5).
    def stderrOf(body: => Unit): String = {
      val buf = new java.io.ByteArrayOutputStream()
      val old = System.err
      System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
      try body finally System.setErr(old)
      buf.toString("UTF-8")
    }
    val fp = graft.core.Caching.eager(
      (0L until 13000L).map(i => (i, i * 2654435761L)).toDF("id", "sh"))
    val loud = stderrOf {
      Dedup.hammingCandidatesFromFp(fp, blocks = 64, maxHamming = 7,
        keyBlocks = 1)
    }
    assert(loud.contains("PAST the decade measured flat"),
      s"narrow-key regime must warn, got: <$loud>")
    val quiet = stderrOf {
      Dedup.hammingCandidatesFromFp(fp, 0, 7, 0)
    }
    assert(!quiet.contains("PAST the decade"),
      s"auto geometry at 13k docs must stay silent, got: <$quiet>")
    spark.catalog.clearCache()
  }

  test("CollectMinK == sort+slice of the full collect, true size included") {
    // the bounded top-k aggregate must agree with the unbounded
    // collect-then-truncate form on every group — exercised across
    // many partitions so partial buffers merge and serialize (the
    // map-side shuffle path), with group widths straddling k
    import org.apache.spark.sql.Row
    val k = 5
    val rnd = new scala.util.Random(20260815L)
    val rows = (1L to 4000L).map { i =>
      (i % 37, rnd.nextLong().abs % 1000000L, rnd.nextLong())
    } ++ (1L to 7L).map { i => // under-cap groups
      (100L + i % 3, rnd.nextLong().abs % 1000000L, rnd.nextLong())
    }
    val df = rows.toDF("g", "id", "sh")
      // unique ids per group (the banding contract)
      .groupBy($"g", $"id").agg(min($"sh").as("sh"))
      .repartition(13)
    val got = df.groupBy($"g")
      .agg(graft.functions.BoundedMinK.collect_min_k($"id", Seq("sh"), k).as("mk"))
      .select($"g", $"mk.ms", $"mk.n")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Row](1).map(x => (x.getLong(0), x.getLong(1))), r.getLong(2)))
      .toSeq.sortBy(_._1)
    val want = df.groupBy($"g")
      .agg(slice(sort_array(collect_list(struct($"id", $"sh"))), 1, k).as("ms"),
        count(lit(1)).as("n"))
      .select($"g", $"ms", $"n")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Row](1).map(x => (x.getLong(0), x.getLong(1))), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(got == want)
    assert(want.exists(_._3 > k) && want.exists(_._3 <= k),
      "fixture must straddle the cap on both sides")
    // and the plan takes the hash-agg shape (ObjectHashAggregate), not
    // a sort aggregate — the reason this beats the rank-window form
    val plan = df.groupBy($"g")
      .agg(graft.functions.BoundedMinK.collect_min_k($"id", Seq("sh"), k))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregate:\n$plan")
    // the same aggregate over a two-word (lo, hi) payload — the capped
    // 128-bit banding's input — against the same collect-then-slice
    // form; the member structs take the input words' names
    val df2 = (rows.map { case (g, id, sh) => (g, id, sh, sh * 31L + g) })
      .toDF("g", "id", "lo", "hi")
      .groupBy($"g", $"id").agg(min($"lo").as("lo"), max($"hi").as("hi"))
      .repartition(13)
    def triples(df: org.apache.spark.sql.DataFrame): Seq[(Long, Seq[(Long, Long, Long)], Long)] =
      df.collect().map(r => (r.getLong(0),
        r.getSeq[Row](1).map(x => (x.getLong(0), x.getLong(1), x.getLong(2))),
        r.getLong(2))).toSeq.sortBy(_._1)
    val got2 = df2.groupBy($"g")
      .agg(graft.functions.BoundedMinK.collect_min_k($"id", Seq("lo", "hi"), k)
        .as("mk"))
      .select($"g", $"mk.ms", $"mk.n")
    import org.apache.spark.sql.types.{ArrayType, StructType}
    assert(got2.schema("ms").dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fieldNames.toSeq == Seq("id", "lo", "hi"))
    val want2 = df2.groupBy($"g")
      .agg(slice(sort_array(collect_list(struct($"id", $"lo", $"hi"))), 1, k)
        .as("ms"), count(lit(1)).as("n"))
      .select($"g", $"ms", $"n")
    assert(triples(got2) == triples(want2))
  }

  test("CollectMinK counts null members in n but keeps them out of the heap") {
    // the count(lit(1)) this aggregate replaced counted EVERY keyed
    // row — the over-cap sentinel keys off n, so a bucket straddling
    // the cap only via null-fingerprint rows must still trip it
    import org.apache.spark.sql.Row
    val k = 3
    val df = Seq[(Long, java.lang.Long, java.lang.Long)](
      // group 1: 2 real members + 3 null rows → n=5 (> k) though only
      // 2 heap entries
      (1L, 10L, 100L), (1L, 11L, 101L),
      (1L, null, null), (1L, 12L, null), (1L, null, 102L),
      // group 2: k real members exactly
      (2L, 20L, 200L), (2L, 21L, 201L), (2L, 22L, 202L)
    ).toDF("g", "id", "sh").repartition(5)
    val got = df.groupBy($"g")
      .agg(graft.functions.BoundedMinK.collect_min_k($"id", Seq("sh"), k).as("mk"))
      .select($"g", $"mk.ms", $"mk.n")
      .collect().map(r => (r.getLong(0),
        (r.getSeq[Row](1).map(x => (x.getLong(0), x.getLong(1))), r.getLong(2))))
      .toMap
    assert(got(1L) == ((Seq((10L, 100L), (11L, 101L)), 5L)),
      s"group 1 mismatch: ${got(1L)}")
    assert(got(2L) == ((Seq((20L, 200L), (21L, 201L), (22L, 202L)), 3L)))
  }

  test("hammingProbeTouch equals brute-force membership under the monotone rule") {
    // ground truth: a batch id is touched iff SOME store fp or some
    // SMALLER-ID batch fp sits within maxHamming — the q98 monotone
    // rule, per modality. Fixture: simhash fingerprints split
    // store/batch by id parity, so cross-group AND intra-batch pairs
    // both exist (the doc fixture's near-dup families span parities).
    val fps = docs
      .select($"doc_id".as("id"), graft.functions.SimHash64.simhash64(
        graft.llm.TextStats.tokens($"text")).as("sh"))
    val store = fps.where($"id" % 2 === 0)
    // the probe's input the way the admission arrival frame hands it
    // over: a null-filtered projection of a cached frame, with the
    // frame's row count as the upper bound. Every third batch doc has
    // no fingerprint (undecodable media).
    val batch = fps.where($"id" % 2 === 1)
      .withColumn("sh", when($"id" % 3 === 0, lit(null)).otherwise($"sh"))
    val allNull = batch.withColumn("sh", lit(null).cast("long"))
    val maxHamming = 7
    val storeRows = store.as[(Long, Long)].collect()
    val batchRows = batch.where($"sh".isNotNull).as[(Long, Long)].collect()
    val exact = batchRows.filter { case (id, sh) =>
      storeRows.exists(s => java.lang.Long.bitCount(s._2 ^ sh) <= maxHamming) ||
      batchRows.exists(b => b._1 < id &&
        java.lang.Long.bitCount(b._2 ^ sh) <= maxHamming)
    }.map(_._1).toSet
    assert(exact.nonEmpty, "fixture should contain touched batch ids")
    // and batch ids far from everything are NOT touched
    assert((batchRows.map(_._1).toSet -- exact).nonEmpty,
      "fixture should also contain untouched batch ids")
    // BOTH dispatch paths must equal the ground truth: the codegen
    // popcount kernel (small batch, default) and the banding probe
    // (bruteBelow = 0 forces the large-batch shape)
    for (bruteBelow <- Seq(Long.MaxValue, 0L)) {
      graft.core.Caching.scoped {
        val (cached, n) = graft.core.Caching.eagerCounted(batch)
        assert(n > batchRows.length, "the row count is an upper bound here")
        val got = Dedup.hammingProbeTouch(store,
            cached.where($"sh".isNotNull), n, maxHamming = maxHamming,
            bruteBelow = bruteBelow)
          .as[Long].collect().toSet
        assert(got == exact, s"bruteBelow=$bruteBelow: " +
          s"missed=${(exact -- got).take(5)} extra=${(got -- exact).take(5)}")
        // count > 0 but zero fingerprint rows: no ids on either path
        val (nulls, nNull) = graft.core.Caching.eagerCounted(allNull)
        assert(nNull > 0)
        assert(Dedup.hammingProbeTouch(store,
            nulls.where($"sh".isNotNull), nNull, bruteBelow = bruteBelow)
          .count() == 0, s"bruteBelow=$bruteBelow: all-null batch touched")
      }
    }
  }

  test("hammingProbeTouchCached over a caller-cached frame equals the self-caching probe") {
    // the probe over the arrival frame's shape (a null-filtered
    // projection of a wider cache, its row count an upper bound) must
    // equal the probe over a batch cached on its own with the exact
    // fingerprint count, on both dispatch paths
    val fps = docs
      .select($"doc_id".as("id"), graft.functions.SimHash64.simhash64(
        graft.llm.TextStats.tokens($"text")).as("sh"))
    val store = fps.where($"id" % 2 === 0)
    // every third batch doc has no fingerprint (undecodable media)
    val batch = fps.where($"id" % 2 === 1)
      .withColumn("sh", when($"id" % 3 === 0, lit(null)).otherwise($"sh"))
    for (bruteBelow <- Seq(2048L, 0L)) {
      graft.core.Caching.scoped {
        val (own, nOwn) = graft.core.Caching.eagerCounted(
          batch.where($"sh".isNotNull))
        val want = Dedup.hammingProbeTouch(store, own, nOwn,
            bruteBelow = bruteBelow)
          .as[Long].collect().toSet
        assert(want.nonEmpty, "fixture should contain touched batch ids")
        val (cached, n) = graft.core.Caching.eagerCounted(batch)
        assert(n > nOwn, "the row count is an upper bound here")
        val got = Dedup.hammingProbeTouch(store,
            cached.where($"sh".isNotNull), n, bruteBelow = bruteBelow)
          .as[Long].collect().toSet
        assert(got == want, s"bruteBelow=$bruteBelow: " +
          s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      }
    }
  }

  test("simhashCandidates rejects unsound parameters (bands <= maxHamming)") {
    intercept[IllegalArgumentException] {
      Dedup.simhashCandidates(docs, "doc_id", "text", bands = 8, maxHamming = 16)
    }
    // combo form: keyBlocks beyond the pigeonhole budget is unsound
    intercept[IllegalArgumentException] {
      Dedup.hammingCandidatesFromFp(
        docs.select($"doc_id".as("id"), lit(0L).as("sh")),
        blocks = 9, maxHamming = 7, keyBlocks = 3)
    }
    // the PROBE shares the ComboCap guard (r16 advice): a pathological
    // explicit geometry — C(40,20) ≈ 1.4e11 combinations — must fail
    // loudly BEFORE any combination enumeration (which would hang the
    // driver) or Int-overflowing .size; the guard runs before either
    // frame is read, so any frames suffice
    val zeros = docs.select($"doc_id".as("id"), lit(0L).as("sh"))
    val capErr = intercept[IllegalArgumentException] {
      Dedup.hammingProbeTouch(zeros, zeros, nBatch = 1L,
        blocks = 40, maxHamming = 7, keyBlocks = 20)
    }
    assert(capErr.getMessage.contains("combination keys"),
      s"probe should fail on the combination cap, got: ${capErr.getMessage}")
  }

  test("VectorKernels.cosine matches a reference implementation") {
    val rows = emb.where($"vec_id" < 3)
      .select($"embedding").as[Seq[Float]].collect()
    def refCos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val got = emb.where($"vec_id" < 3).as("a")
      .crossJoin(emb.where($"vec_id" < 3).as("b"))
      .select($"a.vec_id", $"b.vec_id",
        VectorKernels.float_cosine($"a.embedding", $"b.embedding").as("c"))
      .where($"a.vec_id" === 0 && $"b.vec_id" === 1)
      .select($"c").as[Double].head()
    assert(math.abs(got - refCos(rows(0), rows(1))) < 1e-9)
  }

  test("quantized dot top-k agrees with float dot top-1 per query") {
    val queries = emb.where($"vec_id" < 5)
    val quant = Similarity.quantizedDotTopK(queries, emb, "vec_id", "embedding", 1)
      .select($"query_id", $"corpus_id").as[(Long, Long)].collect().toMap
    val q = broadcast(queries.select($"vec_id".as("query_id"), $"embedding".as("qv")))
    val floatTop = q.join(emb.select($"vec_id".as("corpus_id"), $"embedding".as("cv")),
        $"query_id" =!= $"corpus_id")
      .withColumn("dot", VectorKernels.float_dot($"qv", $"cv"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
          .orderBy($"dot".desc, $"corpus_id")))
      .where($"rn" === 1)
      .select($"query_id", $"corpus_id").as[(Long, Long)].collect().toMap
    val agree = quant.count { case (k, v) => floatTop.get(k).contains(v) }
    assert(agree >= 4, s"only $agree/5 queries agree between quantized and float top-1")
  }

  test("multi-table multi-probe LSH ANN: recall >= 0.85 vs exact, scores exact") {
    val queries = emb.where($"vec_id" < 50)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select($"query_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.lshTopK(queries, emb, "vec_id", "embedding",
      k = 5, numPlanes = 8, probeHamming = 2) // q32's exact parameters
    val rows = ann.select($"query_id", $"corpus_id", $"cos")
      .as[(Long, Long, Double)].collect()
    val recall = (exact intersect rows.map(r => (r._1, r._2)).toSet).size.toDouble / exact.size
    assert(recall >= 0.85, s"ANN recall $recall (measured 0.944 at fixture)")
    // every returned neighbor must genuinely have that cosine (spot check determinism)
    val brute = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 20)
      .select($"query_id", $"corpus_id", $"cos").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val wrong = rows.filter { case (q, c, cos) =>
      brute.get((q, c)).exists(b => math.abs(b - cos) > 1e-9) }
    assert(wrong.isEmpty, s"cos mismatch vs brute force: ${wrong.take(3).toSeq}")
  }

  test("bucketed cosine near-dup equals the all-pairs exact twin, pair for pair") {
    // q33's corpus shape: embeddings plus ×1.5-rescaled twins (cosine
    // ≈ 1 vs their originals; every natural pair tops out near 0.6)
    val twins = emb.where($"vec_id" % 20 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"embedding",
          x => (x.cast("double") * 1.5).cast("float")).as("embedding"))
    val corpus = emb.select($"vec_id", $"embedding").unionAll(twins)
    val exact = Dedup.cosineNearDupQuantized(corpus, "vec_id", "embedding", 0.9)
      .select($"id_a", $"id_b", $"dot").as[(Long, Long, Long)].collect().toSet
    val bucketed = Dedup.cosineNearDupBucketed(corpus, "vec_id", "embedding",
        0.9, dim = 64)
      .select($"id_a", $"id_b", $"dot").as[(Long, Long, Long)].collect().toSet
    assert(exact.nonEmpty, "planted twins must surface as near-dup pairs")
    assert(bucketed == exact,
      s"missed=${(exact -- bucketed).take(3)} extra=${(bucketed -- exact).take(3)}")
    spark.catalog.clearCache()
  }

  test("bucketed cosine near-dup rejects non-prunable low thresholds") {
    intercept[IllegalArgumentException] {
      Dedup.cosineNearDupBucketed(emb, "vec_id", "embedding", 0.35, dim = 64)
    }
    // a lone bands pin (bandBits left auto) would be silently
    // discarded by the auto-sizer — rejected loudly instead
    intercept[IllegalArgumentException] {
      Dedup.cosineNearDupBucketed(emb, "vec_id", "embedding", 0.9,
        dim = 64, bands = 32)
    }
  }

  test("IVF with sampled k-means centroids: recall >= 0.8 vs brute force") {
    val queries = emb.where($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
      .select($"query_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, emb, "vec_id", "embedding", 3,
        nCentroids = 8, nProbe = 4)
      .select($"query_id", $"corpus_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall (measured 0.883 at fixture)")
  }

  test("TextStats64 kernel signals equal the expression path, incl. edges") {
    import graft.llm.TextStats
    import graft.functions.TextStats64
    def both(df: org.apache.spark.sql.DataFrame) = {
      val kernel = df
        .select($"doc_id", TextStats64.text_stats($"text").as("__st"))
        .select($"doc_id" +: TextStats.kernelSignalColumns($"__st"): _*)
        .orderBy($"doc_id").collect().toSeq
      val exprs = df.select(
          $"doc_id",
          TextStats.tokenCount($"text").as("n_tokens"),
          TextStats.bpeishTokenCount($"text").as("bpe_tokens"),
          TextStats.punctRatio($"text").as("punct_ratio"),
          TextStats.stopwordRatio($"text").as("stopword_ratio"),
          TextStats.avgTokenLen($"text").as("avg_token_len"),
          TextStats.qualityScore($"text").as("quality_score"))
        .orderBy($"doc_id").collect().toSeq
      (kernel, exprs)
    }
    val (k1, e1) = both(docs)
    assert(k1 == e1, "corpus-wide mismatch")
    val edges = Seq("", "   ", "a", "the", "a1b2c!x", "ab!!cd the and of",
      "  x  y\tz\n", "THE The the", "..a..b..", "1a2b3", "!@#$",
      "word " * 30 + "the " * 5).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val (k2, e2) = both(edges.toDF("doc_id", "text"))
    assert(k2 == e2, s"edge mismatch:\n${k2.zip(e2).filter(p => p._1 != p._2)}")
  }

  test("TrigramCounts kernel voting equals langIdTrigram corpus-wide") {
    import graft.llm.TextStats
    import graft.functions.TrigramCounts
    val kernel = docs.select($"doc_id", $"text",
        TrigramCounts.trigram_counts($"text", TextStats.profileTrigrams)
          .as("__tc"))
      .select($"doc_id",
        TextStats.langIdTrigramFromCounts($"text", $"__tc").as("g"))
      .orderBy($"doc_id").as[(Long, String)].collect().toSeq
    val exprs = docs.select($"doc_id",
        TextStats.langIdTrigram($"text").as("g"))
      .orderBy($"doc_id").as[(Long, String)].collect().toSeq
    assert(kernel == exprs && kernel.nonEmpty)
    assert(kernel.map(_._2).distinct.size > 1, "labels should vary")
  }

  test("SemDeDup equals the all-pairs exact twin on parallel planted twins") {
    val twins = emb.where($"vec_id" % 20 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"embedding",
          x => (x.cast("double") * 1.5).cast("float")).as("embedding"))
    val corpus = emb.select($"vec_id", $"embedding").unionAll(twins)
    val exact = Dedup.cosineNearDupQuantized(corpus, "vec_id", "embedding", 0.9)
      .select($"id_a", $"id_b", $"dot").as[(Long, Long, Long)].collect().toSet
    val sem = Similarity.semanticNearDupPairs(corpus, "vec_id", "embedding",
        0.9, nCentroids = 16)
      .select($"id_a", $"id_b", $"dot").as[(Long, Long, Long)].collect().toSet
    assert(exact.nonEmpty, "planted twins must surface as near-dup pairs")
    // parallel twins: cosine assignment is scale-invariant, so both
    // members of every pair share a cluster — recall is exactly 1
    assert(sem == exact,
      s"missed=${(exact -- sem).take(3)} extra=${(sem -- exact).take(3)}")
    spark.catalog.clearCache()
  }

  test("SemDeDup recall >= 0.8 on near-parallel perturbed twins; precision exact") {
    // perturbation: coordinate 0 scaled ×8, the rest ×1.5 — the twin's
    // direction tilts away from the original (cosine ≈ 0.95-0.999
    // depending on the coordinate's share of the norm), so co-cluster
    // assignment is no longer guaranteed by scale invariance — this is
    // the regime the recall claim is ABOUT
    val twins = emb.where($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"embedding", (x, i) =>
          (x.cast("double") * when(i === 0, 8.0).otherwise(1.5))
            .cast("float")).as("embedding"))
    val corpus = emb.select($"vec_id", $"embedding").unionAll(twins)
    val exact = Dedup.cosineNearDupQuantized(corpus, "vec_id", "embedding", 0.9)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val sem = Similarity.semanticNearDupPairs(corpus, "vec_id", "embedding",
        0.9, nCentroids = 16)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "perturbed twins must retain some >=0.9 pairs")
    assert((sem -- exact).isEmpty, s"precision violation: ${(sem -- exact).take(3)}")
    val recall = (exact intersect sem).size.toDouble / exact.size
    assert(recall >= 0.8, s"SemDeDup near-parallel recall $recall")
    spark.catalog.clearCache()
  }

  test("SemDeDup survives k larger than the corpus and an empty corpus") {
    val tiny = emb.where($"vec_id" < 6).select($"vec_id", $"embedding")
    // requested 100 centroids, 6 vectors: the effective count is what
    // k-means could build — must not trip the kernel's length check
    val pairs = Similarity.semanticNearDupPairs(tiny, "vec_id", "embedding",
      0.9, nCentroids = 100)
    assert(pairs.count() >= 0)
    val empty = emb.where($"vec_id" < 0).select($"vec_id", $"embedding")
    val none = Similarity.semanticNearDupPairs(empty, "vec_id", "embedding", 0.9)
    assert(none.collect().isEmpty)
    assert(none.columns.toSeq == Seq("id_a", "id_b", "dot"))
  }

  test("kmeansRefine: partitioning-independent and objective-non-worsening") {
    import graft.functions.VectorKernels.{float_cosine, nearest_centroid}
    val rnd = new java.util.Random(7L)
    val init = Array.fill(8)(Array.fill(64)(rnd.nextGaussian().toFloat))
    val refined = Similarity.kmeansRefine(emb, "embedding", init, iters = 3)
    // quantized-Long partial sums make the update order-free: a
    // different physical layout must yield bit-identical centroids
    val refined2 = Similarity.kmeansRefine(emb.repartition(7), "embedding",
      init, iters = 3)
    assert(refined.map(_.toSeq).toSeq == refined2.map(_.toSeq).toSeq)
    // Lloyd must not worsen the spherical objective: mean cosine of
    // each row to its assigned (unit-norm) centroid
    def objective(cents: Array[Array[Float]]): Double = {
      val flat = Similarity.unitNormFlat(cents)
      val centArr = (0 until cents.length).map { c =>
        typedLit(flat.slice(c * 64, (c + 1) * 64).toSeq)
      }
      emb.select(
          element_at(array(centArr: _*),
            nearest_centroid($"embedding", flat, cents.length, 64) + 1)
            .as("cv"), $"embedding")
        .select(float_cosine($"embedding", $"cv").as("cos"))
        .agg(avg($"cos")).as[Double].head()
    }
    val before = objective(init)
    val after = objective(refined)
    // spherical Lloyd is monotone in exact arithmetic; the 1e-6
    // slack covers float evaluation + the quantized update domain
    assert(after >= before - 1e-6, s"objective worsened: $before -> $after")
    assert(after > before + 0.01,
      s"random init should improve materially: $before -> $after")
    // plan pin (round-8 advice): the assignment kernel must evaluate
    // BELOW the posexplode Generate — projected beside the explode it
    // plans above it and re-runs once per vector ELEMENT. Rebuild the
    // iteration's exact select chain and check the optimized plan.
    val flat = Similarity.unitNormFlat(init)
    val iterDf = emb
      .select($"embedding".as("v"),
        nearest_centroid($"embedding", flat, 8, 64).as("cent"))
      .select($"cent", posexplode($"v").as(Seq("pos", "x")))
    val plan = iterDf.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    val gen = plan.collectFirst { case g: Generate => g }.get
    assert(gen.child.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.NearestCentroid])) ||
      gen.child.collect { case n => n }.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.NearestCentroid]))),
      "argmax-dot kernel must sit below the Generate")
    val aboveGen = plan.collect { case n => n }
      .filterNot(n => gen.collect { case c => c }.exists(_ eq n))
    assert(!aboveGen.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.NearestCentroid]))),
      "kernel must NOT be re-evaluated above the Generate (per element)")
  }

  test("Scrub: stage-ordered redaction with exact counts") {
    import graft.llm.Scrub
    val rows = Seq(
      (1L, "mail bob.smith+x@corp.example.org and visit https://a.b/c?d=1 ok"),
      (2L, "server 192.168.0.1 dialed +9715-0123-4567 twice"),
      (3L, "overlap: a@b.co ip 10.0.0.2 call 050-1234567 end"),
      (4L, "nothing to redact here"),
      (5L, "edge 1.2.3.4.5 is not a clean ip but contains one"))
      .toDF("id", "t")
    val out = Scrub.scrubWithCounts(rows, "t")
      .select($"id", $"scrubbed_t", $"n_email", $"n_url", $"n_ip", $"n_phone")
      .as[(Long, String, Int, Int, Int, Int)].collect().sortBy(_._1)
    assert(out(0)._2 == "mail <EMAIL> and visit <URL> ok")
    assert((out(0)._3, out(0)._4, out(0)._5, out(0)._6) == ((1, 1, 0, 0)))
    assert(out(1)._2 == "server <IP> dialed <PHONE> twice")
    assert(out(2)._2 == "overlap: <EMAIL> ip <IP> call <PHONE> end")
    assert(out(3)._2 == "nothing to redact here")
    assert((out(3)._3, out(3)._4, out(3)._5, out(3)._6) == ((0, 0, 0, 0)))
    // counts equal replacements actually performed: scrubbed text
    // contains exactly n_<p> occurrences of each token
    out.foreach { case (_, t, ne, nu, ni, np) =>
      def occ(tok: String) = t.sliding(tok.length).count(_ == tok)
      assert(occ("<EMAIL>") == ne && occ("<URL>") == nu &&
        occ("<IP>") == ni && occ("<PHONE>") == np, t)
    }
    // ordering semantics: an email's digits are <EMAIL> before the
    // phone stage runs, so they are never double-counted as a phone
    val tricky = Scrub.scrubWithCounts(
      Seq((1L, "reach 0501234567890@digits.example.com now")).toDF("id", "t"), "t")
      .select($"scrubbed_t", $"n_email", $"n_phone")
      .as[(String, Int, Int)].head()
    assert(tricky == (("reach <EMAIL> now", 1, 0)), tricky)
    // URL boundary: sentence-closing punctuation stays OUTSIDE the
    // redaction (round-8 advice) — the period/paren after the URL
    // survives for downstream tokenization; interior punctuation and
    // trailing path slashes still belong to the URL
    val urlEdges = Scrub.scrubWithCounts(Seq(
        (1L, "see https://x.org/p. next"),
        (2L, "wrapped (https://x.org/a?b=1) here"),
        (3L, "trailing slash https://x.org/dir/ stays"),
        (4L, "q https://x.org/w?a=1,b=2! bang")).toDF("id", "t"), "t")
      .select($"id", $"scrubbed_t", $"n_url")
      .as[(Long, String, Int)].collect().sortBy(_._1)
    assert(urlEdges(0)._2 == "see <URL>. next" && urlEdges(0)._3 == 1)
    assert(urlEdges(1)._2 == "wrapped (<URL>) here" && urlEdges(1)._3 == 1)
    assert(urlEdges(2)._2 == "trailing slash <URL> stays" && urlEdges(2)._3 == 1)
    assert(urlEdges(3)._2 == "q <URL>! bang" && urlEdges(3)._3 == 1)
  }

  test("quality gate matches a direct reference implementation") {
    import graft.functions.QualityScore64
    // reference: string-level recomputation — concatenated bigrams,
    // fresh hash per gram — independent of the kernel's prefix-resume
    // optimization and its byte walk
    def refHash(g: String): Long =
      g.foldLeft(QualityScore64.HashInit)((a, c) =>
        (a * 31L + c.toInt) % QualityScore64.Mod)
    def refScore(text: String): (Long, Long) = {
      val ws = Option(text).toSeq
        .flatMap(_.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+"))
        .filter(_.matches("^[a-z0-9]+$"))
      val grams = ws ++ ws.zip(ws.drop(1)).map { case (a, b) => s"$a $b" }
      (grams.map(g => QualityScore64.weight(
        (refHash(g) % QualityScore64.Dim).toInt).toLong).sum,
        grams.size.toLong)
    }
    val docs = Tables.documents(spark, SparkTestBase.sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val got = graft.llm.Quality.scored(
        Tables.documents(spark, SparkTestBase.sf), "text")
      .select($"doc_id", $"quality_weight_sum", $"quality_grams")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    docs.foreach { case (id, text) =>
      assert(got(id) == refScore(text), s"doc $id")
    }
    // the weight fixture must carry signal in both directions
    val ws = (0 until QualityScore64.Dim).map(QualityScore64.weight)
    assert(ws.exists(_ > 0) && ws.exists(_ < 0))
    assert(ws.forall(w => w >= -500 && w <= 500))
    // edges: empty/null/filtered-only text → 0 grams, not kept
    val edges = graft.llm.Quality.scored(
        Seq((1L, "word"), (2L, ""), (3L, null), (4L, "!!! ???"),
          (5L, "one two")).toDF("id", "text"), "text")
      .select($"id", $"quality_grams", $"quality_kept")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(edges(0)._2 == 1L) // single token: no bigram
    assert(edges(1)._2 == 0L && !edges(1)._3)
    assert(edges(2)._2 == 0L && !edges(2)._3)
    assert(edges(3)._2 == 0L && !edges(3)._3)
    assert(edges(4)._2 == 3L) // two unigrams + one bigram
  }

  test("LangModel surprisal: hand-computed bits, backoff, OOV, pruning, empty doc") {
    import graft.llm.LangModel
    // ref corpus: tokens a b a b a c -> uni a=3 b=2 c=1, T=6;
    // bigrams (a,b)x2 (b,a)x1 (a,c)x1. L = floor(log2).
    val ref = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val (uni, bi, total) = LangModel.trainBigramLm(ref, "text")
    assert(uni.as[(String, Long)].collect().toMap ==
      Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    assert(total.as[Long].head() == 6L)

    // batch "a b c d": (a,b) seen -> L(3)-L(2) = 1-1 = 0;
    // (b,c) unseen, c known -> 4 + L(6)-L(1) = 4+2-0 = 6;
    // (c,d) OOV d          -> 4 + L(6)     = 6.  total 12 bits / 3.
    val batch = Seq((10L, "a b c d"), (11L, ""), (12L, "a b a b"))
      .toDF("doc_id", "text")
    val got = LangModel.surprisal(batch, "doc_id", "text", uni, bi, total)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got(0) == ((10L, 3L, 12L)), s"${got.toSeq}")
    assert(got(1) == ((11L, 0L, 0L)), s"empty doc: ${got.toSeq}")
    // "a b a b": (a,b)x2 -> 0 each; (b,a) -> L(2)-L(1) = 1. bits=1/3
    assert(got(2) == ((12L, 3L, 1L)), s"${got.toSeq}")

    // gate: doc 12 at 1000*1 <= theta*3 needs theta >= 334; empty doc
    // vacuously kept at any theta
    val kept = LangModel.gate(
        LangModel.surprisal(batch, "doc_id", "text", uni, bi, total), 400L)
      .select($"doc_id", $"lm_kept").as[(Long, Boolean)].collect().toMap
    assert(!kept(10L) && kept(11L) && kept(12L), s"$kept")

    // pruning: minCount=2 keeps only (a,b); (b,a) now backs off to
    // 4 + L(6) - L(cu(a)=3) = 4+2-1 = 5 -> "a b a b" = 5 bits
    val (u2, b2, t2) = LangModel.trainBigramLm(ref, "text", minCount = 2)
    val pruned = LangModel.surprisal(
        batch.where($"doc_id" === 12L), "doc_id", "text", u2, b2, t2)
      .as[(Long, Long, Long)].head()
    assert(pruned == ((12L, 3L, 5L)), s"$pruned")

    // OOV-preserving unigram floor: with minCount >= 2, dropping
    // singleton unigrams is EXACT — a dropped w's backoff arm
    // Backoff + L(T) - L(1) equals the OOV arm Backoff + L(T) — so
    // scores are bit-identical on a batch exercising all three arms
    // (seen bigram, backoff via singleton c, true OOV d), while the
    // uni table shrinks by the singleton count
    val (u2f, b2f, t2f) =
      LangModel.trainBigramLm(ref, "text", minCount = 2, uniFloor = 2)
    assert(u2f.as[(String, Long)].collect().toMap ==
      Map("a" -> 3L, "b" -> 2L), "floor must drop exactly the singleton c")
    val floored = LangModel.surprisal(batch, "doc_id", "text", u2f, b2f, t2f)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val unfloored = LangModel.surprisal(batch, "doc_id", "text", u2, b2, t2)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(floored == unfloored,
      s"singleton floor changed scores: $floored vs $unfloored")
    // the floor without bigram pruning is unsound (a cb=1 bigram
    // references its singleton prev) — rejected loudly
    intercept[IllegalArgumentException] {
      LangModel.trainBigramLm(ref, "text", minCount = 1, uniFloor = 2)
    }

    // DSIR importance = src bits - tgt bits: with target = the full ref
    // LM and source = the PRUNED LM, "a b a b" scores 1 bit under the
    // target and 5 under the source -> importance +4 (more target-like
    // than pool-like); the empty doc is neutral 0
    val impRows = LangModel.importance(batch, "doc_id", "text",
        target = (uni, bi, total), source = (u2, b2, t2))
      .select($"doc_id", $"importance_bits").as[(Long, Long)]
      .collect().toMap
    assert(impRows(12L) == 4L && impRows(11L) == 0L, s"$impRows")
  }

  test("incremental-append laws: band index, IVF assignments, LM artifact round-trip") {
    // the SCALE.md incremental contracts, pinned: each index row is a
    // pure per-doc function, so appending a batch's own rows to the
    // stored artifact EQUALS a full rebuild over corpus ∪ batch
    val batch = docs.where($"doc_id" % 10 === 7)
    val corpus = docs.where($"doc_id" % 10 =!= 7)

    def bandSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      Dedup.minhashBandIndex(df, "doc_id", "text")
        .select($"id", $"band", $"band_hash")
        .as[(Long, Int, Long)].collect().toSet
    assert(bandSet(docs) == (bandSet(corpus) ++ bandSet(batch)),
      "band index append != rebuild")

    val eb = emb.where($"vec_id" % 10 === 7)
    val ec = emb.where($"vec_id" % 10 =!= 7)
    val cents = Similarity.ivfCentroids(ec, "vec_id", "embedding",
      nCentroids = 8)
    def asgSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Int)] =
      Similarity.ivfIndexAssignments(df, "vec_id", "embedding", cents)
        .select($"corpus_id", $"cent").as[(Long, Int)].collect().toSet
    assert(asgSet(emb) == (asgSet(ec) ++ asgSet(eb)),
      "IVF assignments under a fixed model: append != rebuild")

    // the LM is tables: parquet round-trip must reproduce surprisal
    // bit-for-bit
    import graft.llm.LangModel
    val (uni, bi, total) = LangModel.trainBigramLm(corpus, "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_lm_artifact")
    try {
      uni.write.parquet(dir.toString + "/uni")
      bi.write.parquet(dir.toString + "/bi")
      total.write.parquet(dir.toString + "/total")
      def score(u: org.apache.spark.sql.DataFrame,
                b: org.apache.spark.sql.DataFrame,
                t: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
        LangModel.surprisal(batch, "doc_id", "text", u, b, t)
          .as[(Long, Long, Long)].collect().toSeq.sorted
      val live = score(uni, bi, total)
      val reloaded = score(
        spark.read.parquet(dir.toString + "/uni"),
        spark.read.parquet(dir.toString + "/bi"),
        spark.read.parquet(dir.toString + "/total"))
      assert(live == reloaded, "LM artifact round-trip diverged")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("HLL approx distinct within 5% of exact at rsd=1%") {
    val ev = Tables.events(spark, SparkTestBase.sf)
    val (approx, exact) = ev.agg(
        approx_count_distinct($"user_id", 0.01).as("a"),
        countDistinct($"user_id").as("e"))
      .as[(Long, Long)].head()
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx $approx vs exact $exact")
  }
}
