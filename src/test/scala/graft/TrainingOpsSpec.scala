package graft

import graft.functions.SimHash
import graft.operators.{Dedup, Multimodal, PersistedIvf, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Training-data operator tests over the real documents/embeddings testdata
  * plus hand-built fixtures with known answers.
  */
class TrainingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("cosineLshVerifiedPairs: planted near-dups found, subset of brute force") {
    // deterministic pseudo-random base vectors + 5 planted near-identical
    // pairs (tiny perturbation => cosine ~0.99+)
    def vec(seed: Int): Array[Float] =
      Array.tabulate(64)(i => (((seed * 31 + i) * 2654435761L % 1000) / 500.0f) - 1.0f)
    val base = (0 until 100).map(n => (n.toLong, vec(n)))
    val planted = (0 until 5).map { n =>
      val v = vec(n * 7)
      v(0) = v(0) + 0.01f
      ((100 + n).toLong, v)
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")

    val lsh = graft.operators.Dedup
      .cosineLshVerifiedPairs(df, "vec_id", "embedding", 64, 8, 4, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = graft.operators.Dedup
      .embeddingNearDupPairs(df, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // precision is exact by construction (candidates are verified)
    assert(lsh.subsetOf(brute))
    // all 5 planted pairs are near-identical => every band key collides
    (0 until 5).foreach { n =>
      assert(lsh.contains(((n * 7).toLong, (100 + n).toLong)),
        s"planted pair ${n * 7} <-> ${100 + n} missed")
    }
  }

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("text ops: token counts, shingles, language id, quality, fingerprint") {
    val row = Seq(("the cat is on the mat!", 1L)).toDF("text", "id")
      .select(
        TextOps.tokenCountWs($"text").as("ws"),
        TextOps.tokenCountBpe($"text").as("bpe"),
        TextOps.distinctShingles($"text", 3).as("sh"),
        TextOps.languageId($"text").as("lang"),
        TextOps.qualityScore($"text").as("q"),
        TextOps.fingerprint($"text").as("fp"))
      .collect().head
    assert(row.getAs[Int]("ws") == 6)
    assert(row.getAs[Int]("bpe") == 7) // 6 words + "!"
    assert(row.getAs[scala.collection.Seq[String]]("sh").nonEmpty)
    assert(row.getAs[String]("lang") == "en")
    val q = row.getAs[Double]("q")
    assert(q > 0.0 && q <= 1.0, s"quality=$q")
    assert(row.getAs[Long]("fp") >= 0)
  }

  test("fingerprint is order-sensitive, tokens-equal docs differ") {
    val fps = Seq(("a", "one two three four five six seven"), ("b", "seven six five four three two one"))
      .toDF("id", "text")
      .select(TextOps.fingerprint($"text").as("fp")).collect().map(_.getLong(0))
    assert(fps(0) != fps(1))
  }

  test("exact dedup: duplicates collapse to min id") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "different")).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "doc_id", "text").collect()
    assert(groups.length == 2)
    val dup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
    assert(Dedup.exactDedup(df, "doc_id", "text").count() == 2)
  }

  test("exact dedup: null texts share one sentinel group across index and probe") {
    val df = Seq((1L, null: String), (2L, null: String), (3L, "real text"))
      .toDF("doc_id", "text")
    // index side: null texts land under the sentinel, not a NULL key
    val groups = Dedup.exactGroups(df, "doc_id", "text").collect()
    val nullGroup = groups.find(_.getAs[String]("text_sha") == "__null_text__").get
    assert(nullGroup.getAs[Long]("n_copies") == 2 && nullGroup.getAs[Long]("keep_id") == 1L)
    // probe side: a fresh null-text row hits the index entry and is NOT
    // admitted as novel (the convention-mismatch bug this pins against)
    val fresh = Seq((10L, null: String), (11L, "brand new")).toDF("doc_id", "text")
    val admitted = Dedup.incrementalExactNew(
      fresh, Dedup.exactGroups(df, "doc_id", "text").select("text_sha"), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(11L))
  }

  test("incremental exact dedup: hash point-probe ≡ full anti-join ≡ capped fallback") {
    val corpus = Seq((1L, "seen one"), (2L, "seen two"), (3L, null: String))
      .toDF("doc_id", "text")
    val idx = Dedup.exactGroups(corpus, "doc_id", "text").select("text_sha")
    val fresh = Seq((10L, "seen one"), (11L, "novel"), (12L, null: String),
      (13L, "novel"), (14L, "also new")).toDF("doc_id", "text")
    def admitted(limit: Int): Set[Long] =
      Dedup.incrementalExactNew(fresh, idx, "doc_id", "text", probeHashLimit = limit)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = Set(11L, 14L) // novel wins its batch group; seen + null rejected
    assert(admitted(1000) == want) // probe path
    assert(admitted(0) == want)    // full anti-join
    assert(admitted(2) == want)    // 4 distinct batch hashes > cap 2 → fallback
  }

  test("bloom-prefiltered exact dedup ≡ plain, at honest and adversarial fpp") {
    val corpus = Seq((1L, "seen one"), (2L, "seen two"), (3L, null: String))
      .toDF("doc_id", "text")
    val idx = Dedup.exactGroups(corpus, "doc_id", "text").select("text_sha")
    val fresh = Seq((10L, "seen one"), (11L, "novel"), (12L, null: String),
      (13L, "novel"), (14L, "also new")).toDF("doc_id", "text")
    val want = Dedup.incrementalExactNew(fresh, idx, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(want == Set(11L, 14L))
    // fpp 0.01: the production setting. fpp 0.49 + tiny capacity: false
    // positives near-certain — the routing must stay invisible in the
    // result (a positive is a CANDIDATE for the anti-join, never a verdict)
    Seq(0.01, 0.49).foreach { fpp =>
      val got = Dedup.incrementalExactNewBloom(fresh, idx, "doc_id", "text",
        expectedItems = 2L, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == want, s"bloom(fpp=$fpp) changed exact-dedup semantics: $got")
    }
  }

  test("default-sized bloom path: no count() job over the index; empty index safe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomsize-").toString
    val corpus = Seq((1L, "seen one"), (2L, "seen two")).toDF("doc_id", "text")
    Dedup.exactGroups(corpus, "doc_id", "text").select("text_sha")
      .write.parquet(s"$dir/idx")
    val idx = spark.read.parquet(s"$dir/idx")
    val fresh = Seq((10L, "seen one"), (11L, "novel")).toDF("doc_id", "text")
    // the default capacity must come from the plan's file statistics, not a
    // count() action over the index (a whole extra index scan per batch)
    val calls = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        calls.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val got = Dedup.incrementalExactNewBloom(fresh, idx, "doc_id", "text")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == Set(11L))
      // the listener bus is async but ordered: once the collect above shows
      // up, any earlier count() event would already have been delivered
      val deadline = System.currentTimeMillis() + 10000
      while (!calls.contains("collect") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(calls.contains("collect"), s"listener never saw the collect: $calls")
      assert(!calls.contains("count"),
        s"default bloom sizing ran a count() job over the index: $calls")
    } finally spark.listenerManager.unregister(listener)
    // empty index: stat.bloomFilter NPEs on an empty frame — the guard must
    // fall back to the plain incremental path, admitting every batch winner
    val got2 = Dedup.incrementalExactNewBloom(fresh, idx.filter(lit(false)),
        "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got2 == Set(10L, 11L), s"empty-index bloom path wrong: $got2")
  }

  test("bloom membership expression: false is authoritative, stays codegen") {
    import org.apache.spark.sql.graft.shims
    val seen = (1 to 1000).map(i => s"key-$i").toDF("k")
    val bloom = seen.stat.bloomFilter("k", 1000, 0.01)
    // range-backed (not a LocalRelation: ConvertToLocalRelation would
    // evaluate the predicate driver-side and leave no codegen span to check)
    val probe = spark.range(901, 1101)
      .select(concat(lit("key-"), col("id")).as("k"))
    val might = shims.column(graft.functions.BloomMightContainExpr(
      shims.expression(col("k")), bloom))
    val flagged = probe.filter(might).collect().map(_.getString(0)).toSet
    // every true member flagged (no false negatives — the exactness anchor)
    assert((901 to 1000).forall(i => flagged(s"key-$i")),
      "bloom dropped a true member (false negative) — would lose data")
    // and the plan keeps whole-stage codegen around the native expression
    // (the `*(n)` operator prefix is the codegen marker in the simple form)
    val plan = probe.filter(might).queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Filter graft_bloom_might_contain""".r.findFirstIn(plan).isDefined,
      s"bloom filter broke whole-stage codegen:\n$plan")
  }

  test("paragraph dedup: keep-first across corpus, order preserved, vanishing doc") {
    val df = Seq(
      (1L, "intro one\n\nshared boilerplate\n\nbody one"),
      (2L, "shared boilerplate\n\nbody two"),
      (3L, "shared boilerplate"), // every paragraph first seen elsewhere
      (4L, "body two\n\nbody two\n\ntail four"), // within-doc repeat collapses too
      (5L, null: String) // null text contributes no paragraphs
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 saw the boilerplate first and keeps it, in original order
    assert(out(1L) == "intro one\n\nshared boilerplate\n\nbody one")
    // doc 2 loses the boilerplate, keeps its own body
    assert(out(2L) == "body two")
    // docs 3 (all paragraphs seen first elsewhere) and 5 (null) vanish
    assert(!out.contains(3L) && !out.contains(5L))
    // doc 4: "body two" lost to doc 2 entirely (both copies); tail survives
    assert(out(4L) == "tail four")
  }

  test("minhash: identical texts share signatures, near-dups collide in LSH bands") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup
      (3L, "the quick brown fox jumps over the lazy cat again and again"), // near dup
      (4L, "completely unrelated text about spark query optimization")).toDF("doc_id", "text")

    val sigs = Dedup.minhashSignatures(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(sigs(1L) == sigs(2L)) // identical shingle sets
    assert(sigs(1L) != sigs(4L))

    val pairs = Dedup.lshCandidatePairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)) && !pairs.contains((3L, 4L)))
  }

  test("fast minhash signature equals the composed per-permutation form") {
    val sample = docs.limit(50)
    val fast = Dedup.minhashSignatures(sample, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    val composed = sample.select(col("doc_id") +:
        (0 until 8).map(i => Dedup.minhash(col("text"), 5, i).as(s"c$i")): _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(fast == composed)
  }

  test("fast fingerprint equals the composed form") {
    val sample = docs.limit(50)
    val a = sample.select($"doc_id", TextOps.fingerprint($"text").as("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = sample.select($"doc_id", TextOps.fingerprintComposed($"text").as("fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("simhash: exact dups distance 0, near dups close, unrelated far") {
    val a = SimHash.simhash("the quick brown fox jumps over the lazy dog")
    val b = SimHash.simhash("the quick brown fox jumps over the lazy dog")
    val c = SimHash.simhash("the quick brown fox jumps over the lazy cat")
    val d = SimHash.simhash("completely unrelated content here entirely different")
    assert(SimHash.hamming(a, b) == 0)
    assert(SimHash.hamming(a, c) < SimHash.hamming(a, d))

    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "totally different words appear in this document")).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("ngram jaccard: identical=1.0, disjoint absent") {
    val df = Seq((1L, "abcdefgh"), (2L, "abcdefgh"), (3L, "zzzzyyyy")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(!pairs.contains((1L, 3L)))
  }

  test("brute-force topk over real embeddings: k rows per query, sorted, no self") {
    val queries = emb.filter($"vec_id" < 3)
    val res = Similarity.bruteForceTopK(emb, queries, "vec_id", "vec_id", "embedding", 5)
      .collect()
    assert(res.length == 15)
    val byQ = res.groupBy(_.getAs[Long]("q_id"))
    byQ.foreach { case (q, rows) =>
      assert(rows.length == 5)
      assert(rows.forall(_.getAs[Long]("c_id") != q))
      val scores = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
    }
  }

  test("ivf topk: probes own cell only, high overlap with brute force") {
    val centroids = emb.filter($"vec_id" < 8)
    val queries = emb.filter($"vec_id" >= 8 && $"vec_id" < 18)
    val ivf = Similarity.ivfTopK(emb, queries, centroids, "vec_id", "vec_id", "vec_id", "embedding", 5)
      .collect()
    assert(ivf.nonEmpty)
    val byQ = ivf.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.size == 10)
    byQ.values.foreach(rows => assert(rows.length <= 5))
  }

  test("k-means centroid training: unit-norm cells, IVF over them works with decent recall") {
    val trained = Similarity.trainCentroids(emb, "vec_id", "embedding", numCells = 8)
    val cents = trained.collect()
    assert(cents.length <= 8 && cents.nonEmpty)
    // spherical k-means: centroids come out unit-normalized
    val norms = trained.select(graft.functions.Transforms.vecNorm($"centroid").as("n"))
      .collect().map(_.getDouble(0))
    assert(norms.forall(n => math.abs(n - 1.0) < 1e-3), norms.mkString(","))

    val queries = emb.filter($"vec_id" >= 100 && $"vec_id" < 120)
    val centAsEmb = trained.select($"cell_id".as("vec_id"), $"centroid".as("embedding"))
    val ivf = Similarity.ivfTopK(emb, queries, centAsEmb, "vec_id", "vec_id", "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).toSet
    val recall = ivf.intersect(exact).size.toDouble / exact.size
    assert(recall > 0.15, s"ivf recall@5 too low: $recall") // 1 of 8 cells probed
  }

  test("multi-probe IVF: nProbe=cells equals brute force; recall monotone in nProbe") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val queries = emb.orderBy("vec_id").limit(10)
    val numCells = 8
    val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", numCells)
      .select($"cell_id", $"centroid".as("embedding"))
    def keyset(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "c_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val brute = keyset(Similarity.bruteForceTopK(emb, queries, "vec_id", "vec_id", "embedding", 5))
    // probing EVERY cell makes every corpus vector a candidate — the result
    // must equal brute force exactly, not approximately
    val all = keyset(Similarity.ivfTopKProbes(emb, queries, centroids,
      "vec_id", "vec_id", "cell_id", "embedding", 5, numCells))
    assert(all == brute, "nProbe=numCells must reproduce brute force exactly")
    // candidates only grow with nProbe, so recall@k is monotone
    def recall(nProbe: Int): Double = {
      val got = keyset(Similarity.ivfTopKProbes(emb, queries, centroids,
        "vec_id", "vec_id", "cell_id", "embedding", 5, nProbe))
      brute.map { case (q, t) => got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }
        .sum / brute.size
    }
    val (r1, r4) = (recall(1), recall(4))
    assert(r4 >= r1, s"recall not monotone in nProbe: r1=$r1 r4=$r4")
    assert(r4 > 0.5, s"recall@5 with half the cells probed is implausibly low: $r4")
  }

  test("persisted IVF: incremental addVectors ≡ full assignment; probes match the batch path") {
    import graft.operators.PersistedIvf
    val embL = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val cents = embL.filter($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cell"), $"embedding".as("centroid"))
    val wh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-pivf-").toString)
    val ivf = new PersistedIvf(wh)

    // addVectors before any build must fail fast, not write an orphan table
    intercept[IllegalArgumentException](ivf.addVectors(embL, "vec_id", "embedding"))

    // build on the first half, add the second half in TWO incremental batches
    ivf.buildWith(embL.filter($"vec_id" < 250), "vec_id", "embedding", cents)
    ivf.addVectors(embL.filter($"vec_id" >= 250 && $"vec_id" < 400), "vec_id", "embedding")
    ivf.addVectors(embL.filter($"vec_id" >= 400), "vec_id", "embedding")

    // accumulated assignments ≡ one-shot assignment of the full corpus under
    // the same centroids (assignment is a pure per-row argmax)
    val persisted = ivf.assignments().select("id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val full = Similarity.assignCells(embL,
        cents.select($"cell".as("cell_id"), $"centroid".as("embedding")),
        "vec_id", "cell_id", "embedding")
      .select($"vec_id", $"cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(persisted == full, "incremental assignment diverged from full reassignment")

    // multi-probe through the persisted tables ≡ the direct batch operator
    val queries = embL.filter($"vec_id" >= 8 && $"vec_id" < 18)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "c_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val viaIndex = rows(ivf.topK(queries, "vec_id", "embedding", 5, nProbe = 3))
    val direct = rows(Similarity.ivfTopKProbes(embL, queries,
      cents.select($"cell".as("cell_id"), $"centroid".as("embedding")),
      "vec_id", "vec_id", "cell_id", "embedding", 5, 3))
    assert(viaIndex == direct, "persisted multi-probe diverged from the batch operator")

    // exactness anchor: probing every cell through the index = brute force
    val allCells = rows(ivf.topK(queries, "vec_id", "embedding", 5, nProbe = 8))
    val brute = rows(Similarity.bruteForceTopK(embL, queries,
      "vec_id", "vec_id", "embedding", 5))
    assert(allCells == brute, "nProbe=numCells over the persisted index must equal brute force")
  }

  test("persisted IVF probe pushes the probed-cell literals into the assignment scan") {
    import graft.operators.PersistedIvf
    val embL = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val wh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-pivf-push-").toString)
    val ivf = new PersistedIvf(wh)
    ivf.buildWith(embL, "vec_id", "embedding",
      embL.filter($"vec_id" < 8).select($"vec_id".cast("int").as("cell"), $"embedding".as("centroid")))
    val queries = embL.filter($"vec_id" >= 8 && $"vec_id" < 13)
    // the probed-cell In literal must reach the parquet scan (planning-time
    // row-group pruning — the scan reads the probed cells, not the corpus)
    val plan = ivf.topK(queries, "vec_id", "embedding", 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(cell"),
      s"probed-cell literals did not reach the assignment scan:\n${plan.take(2000)}")
    // and with the literal cap disabled the filter is gone (full-scan path),
    // results identical either way — the filter is purely a scan optimization
    val noPush = new PersistedIvf(wh, probeCellLimit = 0)
    val p2 = noPush.topK(queries, "vec_id", "embedding", 5, nProbe = 2)
    assert(!p2.queryExecution.executedPlan.toString.contains("In(cell"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(p2) == rows(ivf.topK(queries, "vec_id", "embedding", 5, nProbe = 2)))

    // IVF-SQ's I/O claim is COLUMN pruning: the code-scoring scan's
    // ReadSchema must carry the byte codes and NOT the float vectors (and
    // the float path, conversely, must not drag the codes along)
    val sqScan = ivf.topKSq8(queries, "vec_id", "embedding", 5, nProbe = 2)
      .queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(sqScan.contains("code") && !sqScan.contains("vec:"),
      s"IVF-SQ scan did not prune the float vec column:\n$sqScan")
    val fScan = ivf.topK(queries, "vec_id", "embedding", 5, nProbe = 2)
      .queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(fScan.contains("vec:") && !fScan.contains("code"),
      s"float scan did not prune the code column:\n$fScan")
  }

  test("persisted IVF drift ledger: in-distribution batch quiet, shifted batch flags, retrain resets") {
    import graft.operators.PersistedIvf
    val embL = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val wh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-pivf-drift-").toString)
    val ivf = new PersistedIvf(wh)
    // trained-centroid build path (deterministic seeds)
    ivf.build(embL.filter($"vec_id" < 400), "vec_id", "embedding", numCells = 8)
    assert(!ivf.drifted(), "no batches yet — nothing to drift")

    // same-distribution batch: mean cosine to centroids stays near the
    // training mean, no flag
    ivf.addVectors(embL.filter($"vec_id" >= 400), "vec_id", "embedding")
    assert(!ivf.drifted(margin = 0.1), "in-distribution batch flagged as drift")

    // adversarial shift: ZERO vectors score cosine 0 against every centroid
    // (the kernel's zero-norm guard), so the batch mean collapses to 0 —
    // measurably below any meaningful training mean — and the flag trips.
    // Guard the premise first: spherical k-means on the real embeddings
    // must align training data well above the margin, else the case proves
    // nothing
    val trainMean = ivf.assignStats().filter($"kind" === "train")
      .select("mean_cos").head().getDouble(0)
    assert(trainMean > 0.15, s"training alignment implausibly low: $trainMean")
    val shifted = embL.limit(50).select(($"vec_id" + 100000L).as("vec_id"),
      transform($"embedding", x => lit(0.0f)).as("embedding"))
    ivf.addVectors(shifted, "vec_id", "embedding")
    assert(ivf.drifted(margin = 0.1), "zero-aligned batch did not flag drift")

    // the drift response: retrain on the accumulated corpus resets the
    // ledger (fresh train row, no batch rows)
    ivf.retrain(numCells = 8)
    assert(!ivf.drifted(), "retrain must reset the drift ledger")
    assert(ivf.assignments().count() == embL.count() + 50,
      "retrain lost or duplicated corpus vectors")
  }

  test("embedding near-dup pairs kernel works on real data") {
    val sub = emb.filter($"vec_id" < 50)
    val pairs = Dedup.embeddingNearDupPairs(sub, "vec_id", "embedding", -1.1)
    assert(pairs.count() == 50L * 49 / 2) // every pair scored at threshold -1.1
  }

  test("multimodal: binary plumbing + batched stub decode + frame sampling") {
    val media = Multimodal.withSyntheticMedia(docs.limit(20), "text", "video")
    assert(media.schema("content").dataType == org.apache.spark.sql.types.BinaryType)
    val feats = Multimodal.extractFeatures(spark, media, "doc_id", Multimodal.MediaDecoder.DeterministicStub)
    val rows = feats.collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getAs[scala.collection.Seq[Float]]("feature").length == 8))
    // determinism: same bytes → same features
    val again = Multimodal.extractFeatures(spark, media, "doc_id", Multimodal.MediaDecoder.DeterministicStub).collect()
    assert(rows.map(_.toSeq).toSet == again.map(_.toSeq).toSet)
    val sampled = Multimodal.sampledFrameIndices(feats, 30)
    assert(sampled.select(size($"frame_idx")).collect().forall(_.getInt(0) >= 1))
  }

  test("LSH-verified near-dups: subset of exhaustive, full recall on strong dups") {
    val exhaustiveAll = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 5, minJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val viaLsh = Dedup.lshVerifiedPairs(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh.subsetOf(exhaustiveAll.keySet)) // verification can't invent pairs
    // banding is probabilistic for borderline jaccard (~0.68 collision at
    // j=0.5 with 4x2 bands), so only require FULL recall where it is near
    // certain: pairs at jaccard >= 0.9 collide with prob > 0.999
    val strong = exhaustiveAll.filter(_._2 >= 0.9).keySet
    assert(strong.nonEmpty) // the corpus really has planted near-dups
    assert(strong.subsetOf(viaLsh), s"missed strong dups: ${strong -- viaLsh}")
  }

  test("connected components: transitivity, chains, and near-dup survivor set") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("id_a", "id_b")
    // exercise BOTH execution paths: driver union-find and distributed
    // min-label propagation (localThreshold = 0 forces the loop)
    for (threshold <- Seq(1000000L, 0L)) {
      val comps = Dedup.connectedComponents(pairs, localThreshold = threshold).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L) // chain a-b-c
      assert(comps(10L) == 10L && comps(11L) == 10L)
      assert(Seq(20L, 21L, 22L, 23L).forall(comps(_) == 20L)) // longer chain
    }
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val df = Seq((1L, "aaaa bbbb cccc dddd"), (2L, "aaaa bbbb cccc dddd"),
      (3L, "aaaa bbbb cccc dddd"), (9L, "totally different words here")).toDF("doc_id", "text")
    val survivors = Dedup.nearDupDedup(df, "doc_id", "text").collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq == Seq(1L, 9L)) // one per cluster + the singleton
  }

  test("nearDupDedupBy keeps the preferred cluster member, min id on ties") {
    val df = Seq(
      (1L, "aaaa bbbb cccc dddd"),            // cluster {1,2,3}; 2 is longest
      (2L, "aaaa bbbb cccc dddd eeee"),
      (3L, "aaaa bbbb cccc dddd"),            // same length as 1 → not winner
      (9L, "totally different words here"))   // singleton survives untouched
      .toDF("doc_id", "text")
    val byLen = Dedup.nearDupDedupBy(df, "doc_id", "text", length(col("text")),
        minJaccard = 0.35)
      .select("doc_id").as[Long].collect().sorted
    assert(byLen.toSeq == Seq(2L, 9L))
    // equal-length cluster: tie falls back to the smallest id
    val tied = Seq((5L, "aaaa bbbb cccc dddd"), (4L, "aaaa bbbb cccc dddd"))
      .toDF("doc_id", "text")
    val t = Dedup.nearDupDedupBy(tied, "doc_id", "text", length(col("text")),
        minJaccard = 0.35)
      .select("doc_id").as[Long].collect().sorted
    assert(t.toSeq == Seq(4L))
  }

  test("connected components: string ids with supplementary chars label identically on both paths") {
    // U+1D54F (𝕏) is a UTF-16 surrogate pair sorting AFTER U+FFFD in UTF-16
    // code units but by code point in UTF-8 bytes — java.lang.String and
    // Spark's least/min disagree on which of these ids is smaller, so the
    // local union-find must use UTF8String ordering to match the
    // distributed path's component representatives
    val a = "𝕏-doc" // 𝕏-doc (supplementary)
    val b = "�-doc"       // replacement char (BMP, > surrogate halves)
    assert(a.compareTo(b) < 0 !=
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0,
      "fixture must disagree between UTF-16 and UTF-8 orderings")
    val pairs = Seq((a, b)).toDF("id_a", "id_b")
    val results = Seq(1000000L, 0L).map { threshold =>
      Dedup.connectedComponents(pairs, localThreshold = threshold).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    }
    assert(results(0) == results(1),
      s"local ${results(0)} vs distributed ${results(1)}")
    // the representative is the UTF-8-minimal id (what least/min picks):
    // U+FFFD (EF BF BD) sorts before the surrogate pair (F0 9D 95 8F) in
    // UTF-8 bytes, the OPPOSITE of the UTF-16 code-unit answer
    assert(results(0).values.toSet == Set(b))
  }

  test("salted join equals plain join on skewed keys") {
    val big = spark.range(0, 10000)
      .select((col("id") % 3).as("k"), col("id").as("v")) // 3 hot keys
    val small = Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "name")
    val plain = big.join(small, "k").groupBy("k", "name").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    val salted = graft.operators.Skew.saltedJoin(big, small, "k", 8)
      .groupBy("k", "name").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(plain.toSeq == salted.toSeq)
  }

  test("language id over real documents is deterministic and total") {
    val out = docs.select(TextOps.languageId($"text").as("lang"))
      .groupBy("lang").count().collect()
    assert(out.map(_.getLong(1)).sum == docs.count())
  }

  test("repetitionStats: hand goldens + single-pass ≡ composed on real docs") {
    val hand = Seq(("a a a b", 1L), ("x", 2L), ("", 3L),
      ("w1 w2 w3 w1 w2 w3 w1 w2 w3", 4L)).toDF("text", "id")
    val m = hand.select($"id", TextOps.repetitionStats($"text").as("rs"))
      .collect().map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Long]]("rs")).toMap
    assert(m(1L) == Seq(4L, 3L, 2L, 2L)) // trigrams "a a a", "a a b"
    assert(m(2L) == Seq(1L, 1L, 0L, 0L))
    assert(m(3L) == Seq(0L, 0L, 0L, 0L))
    // 3x "w1 w2 w3": 9 toks, each x3, 7 trigram windows, 3 distinct rotations
    assert(m(4L) == Seq(9L, 3L, 7L, 3L))

    val one = docs.select($"doc_id", TextOps.repetitionStats($"text").as("rs"))
      .orderBy($"doc_id").collect().map(_.toString)
    val composed = docs.select($"doc_id", TextOps.repetitionStatsComposed($"text").as("rs"))
      .orderBy($"doc_id").collect().map(_.toString)
    assert(one.sameElements(composed))
  }

  test("incremental LSH == full-corpus run restricted to pairs touching the batch") {
    val split = docs.agg(max($"doc_id")).head().getLong(0) * 4 / 5
    val corpus = docs.filter($"doc_id" < split)
    val fresh = docs.filter($"doc_id" >= split)
    val idx = Dedup.minhashSignatures(corpus, "doc_id", "text")
    val inc = Dedup.incrementalLshVerifiedPairs(corpus, idx, fresh, "doc_id", "text",
        minJaccard = 0.35, minSigMatchesOverride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.lshVerifiedPairs(docs, "doc_id", "text",
        minJaccard = 0.35, minSigMatchesOverride = 4)
      .filter($"id_b" >= split)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == full)
    // no corpus-x-corpus pair can ever form
    assert(inc.forall { case (_, b, _) => b >= split })

    // the point-lookup probe (literal band-key + candidate-id pushdown, the
    // DedupStream default) is a pure scan optimization: identical pairs
    val probed = Dedup.incrementalLshVerifiedPairs(corpus, idx, fresh, "doc_id", "text",
        minJaccard = 0.35, minSigMatchesOverride = 4,
        probeKeyLimit = 10000, pointLookupMaxIds = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probed == full)

    // a cap below the batch's key/id count falls back to full scans, still exact
    val capped = Dedup.incrementalLshVerifiedPairs(corpus, idx, fresh, "doc_id", "text",
        minJaccard = 0.35, minSigMatchesOverride = 4,
        probeKeyLimit = 3, pointLookupMaxIds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == full)
  }

  test("window scrub: owner keeps the span, non-owner loses it, rest untouched") {
    val span = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $span gamma"),
      (2L, s"$span delta epsilon zeta"),
      (3L, "alpha beta gamma"),
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Dedup.scrubDuplicatedWindows(docs, "doc_id", "text", 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.getString(3))))).toMap
    // doc 1 owns every shared hash (min id) → untouched (normalized join)
    assert(got(1L) == ((15L, 0L, Some(s"alpha beta $span gamma"))))
    // doc 2's shared windows start at 1,2,3 → positions 1..12 removed
    assert(got(2L) == ((3L, 12L, Some("delta epsilon zeta"))))
    assert(got(3L) == ((3L, 0L, Some("alpha beta gamma"))))
    assert(got(5L) == ((0L, 0L, None)))
  }

  test("PQ: lossless when the corpus is the seed set; real-data recall overlaps exact") {
    import graft.operators.Pq
    val embL = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"),
        $"embedding".cast("array<float>").as("embedding"))
    val seeds = embL.filter($"vec_id" < 16)

    // exactness anchor: corpus = seed set → every subvector is its own
    // codeword (d6 = 0 beats any other codeword) → reconstruction is
    // lossless → ADC cosine ≡ float cosine at 4dp, ranks and all
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "c_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val qs = embL.filter($"vec_id" >= 4 && $"vec_id" < 10)
    val adc = rows(Pq.topK(seeds, qs, "vec_id", "vec_id", "embedding", 5,
      seeds = seeds, seedId = "vec_id"))
    val exact = rows(Similarity.bruteForceTopK(seeds, qs,
      "vec_id", "vec_id", "embedding", 5))
    assert(adc == exact, "seed-corpus PQ must reconstruct losslessly")

    // full real corpus against the 16-codeword book: on these near-uniform
    // synthetic vectors absolute top-5 overlap is weak BY NATURE (the
    // quantization error is on the order of the neighbor separation), so
    // the robust claim is that PQ's picks are REAL neighbors — for every
    // query, the TRUE mean cosine of the PQ top-5 beats the query's mean
    // cosine over the whole corpus
    def tops(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val queries = embL.filter($"vec_id" >= 8 && $"vec_id" < 18)
    val pq = tops(Pq.topK(embL, queries, "vec_id", "vec_id", "embedding", 5,
      seeds = seeds, seedId = "vec_id")
      .select($"q_id", $"rank".cast("long"), $"c_id"))
    assert(pq.size == 10 && pq.values.forall(_.size == 5))
    val truth = embL.as("c")
      .crossJoin(broadcast(queries.select($"vec_id".as("q_id"), $"embedding".as("qv"))))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("c_id"),
        graft.functions.Transforms.vecCosine($"embedding", $"qv").as("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pq.foreach { case (q, picks) =>
      val avgPick = picks.toSeq.map(c => truth((q, c))).sum / picks.size
      val all = truth.collect { case ((`q`, _), c) => c }
      val avgAll = all.sum / all.size
      assert(avgPick > avgAll,
        f"PQ picks for q=$q are not better than average: $avgPick%.4f <= $avgAll%.4f")
    }
  }

  test("LM score: in-vocab cheap, OOV costly, goldens exact, null/empty handled") {
    import graft.operators.Corpus
    val train = Seq((1L, "a a a b")).toDF("doc_id", "text")
    // N=4, V=2, D=7: lpD = floor(1e6·ln7) = 1945910
    // p(a): c=3 → lp = floor(1e6·ln4) = 1386294 → cost 559616 µnats
    // p(b): c=1 → lp = floor(1e6·ln2) = 693147  → cost 1252763
    // OOV:  c=0 → lp = 0                        → cost 1945910
    val docs = Seq(
      (10L, "a a"), (11L, "b"), (12L, "zzz"), (13L, "a zzz"),
      (14L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Corpus.lmScore(docs, "doc_id", "text", train, "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(got(10L) == ((2L, 0L, Some(0.5596))))
    assert(got(11L) == ((1L, 0L, Some(1.2528))))
    assert(got(12L) == ((1L, 1L, Some(1.9459))))
    assert(got(13L) == ((2L, 1L, Some((559616L + 1945910L) / 2.0 / 1e6).map(x => math.round(x * 1e4) / 1e4))))
    assert(got(14L) == ((0L, 0L, None)))
    // real-data invariants (the synthetic halves share one distribution, so
    // no train/held familiarity GAP exists to assert — the bounds do):
    // every token's cost lies in (0, ln D], so every doc's mean does too,
    // and an all-OOV doc pays exactly the cap
    val docsR = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .union(Seq((99990L, "qqqx qqqy qqqz")).toDF("doc_id", "text"))
    val s = Corpus.lmScore(docsR, "doc_id", "text",
      docsR.filter($"doc_id" < 250), "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double])))
    val cap = s.collectFirst {
      case (99990L, n, oov, Some(nll)) =>
        assert(n == 3 && oov == 3, "planted all-OOV doc miscounted"); nll
    }.get
    assert(s.forall { case (_, n, _, nll) => (n == 0) == nll.isEmpty })
    assert(s.forall { case (_, _, _, nll) => nll.forall(v => v > 0 && v <= cap) },
      "a doc scored outside (0, ln D] — impossible under add-one smoothing")
  }

  test("duplicated windows: planted shared span found, short/null docs report zero") {
    val span = (1 to 12).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $span gamma"),        // 12-token span shared with doc 2
      (2L, s"$span delta epsilon zeta"),       // ... at a different position
      (3L, "alpha beta gamma"),                // 3 tokens < window → 0 windows
      (4L, (1 to 30).map(i => s"uniq$i").mkString(" ")), // long, no shared spans
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedWindowStats(docs, "doc_id", "text", 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: 15 tokens → 6 windows; span occupies positions 3..14, so its
    // 10-token subwindows at offsets 3,4,5 (3 of them) also occur in doc 2
    assert(got(1L) == ((6L, 3L)), s"doc1: ${got(1L)}")
    // doc 2: 15 tokens → 6 windows; the shared subwindows start at 1,2,3
    assert(got(2L) == ((6L, 3L)), s"doc2: ${got(2L)}")
    assert(got(3L) == ((0L, 0L)) && got(5L) == ((0L, 0L)))
    assert(got(4L) == ((21L, 0L)), s"doc4: ${got(4L)}")
  }

  test("SQ8: hand goldens, exact self-similarity, quantization error bounded, top-k near exact") {
    // floor-based goldens: 0.5*127/1+0.5=64.0→64; -1*127+0.5=-126.5→-127;
    // 0.25*127+0.5=32.25→32 — via the SQL-registered expression
    val enc = spark.sql(
      "SELECT graft_sq8_encode(array(float(0.5), float(-1.0), float(0.25)))")
      .head.getAs[Array[Byte]](0)
    assert(enc.toSeq == Seq[Byte](64, -127, 32))
    // all-zero vector → all-zero codes → cosine 0 against anything
    val z = spark.sql(
      """SELECT graft_sq8_cosine(graft_sq8_encode(array(float(0), float(0))),
        |graft_sq8_encode(array(float(1), float(1))))""".stripMargin).head.getDouble(0)
    assert(z == 0.0)

    val embL = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"),
        $"embedding".cast("array<float>").as("embedding"))
    // per-vector scaling preserves direction: code-cosine within ~2/127 of
    // float cosine on every real pair scored below
    val err = embL.limit(30).as("a").crossJoin(embL.limit(30).as("b"))
      .select(abs(
        graft.functions.Transforms.sq8Cosine(
          graft.functions.Transforms.sq8Encode($"a.embedding"),
          graft.functions.Transforms.sq8Encode($"b.embedding")) -
        graft.functions.Transforms.vecCosine($"a.embedding", $"b.embedding")).as("e"))
      .agg(max($"e")).head.getDouble(0)
    assert(err < 0.03, s"quantization cosine error $err exceeds the SQ8 bound")
    // ranking survives quantization: top-5 overlap with exact ≥ 4/5 per query
    def tops(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r => r.getLong(2)).toSet).toMap
    val exact = tops(Similarity.bruteForceTopK(embL, embL.filter($"vec_id" < 10),
      "vec_id", "vec_id", "embedding", 5)
      .select($"q_id", $"rank".cast("long"), $"c_id"))
    val sq8 = tops(Similarity.bruteForceTopKSq8(embL, embL.filter($"vec_id" < 10),
      "vec_id", "vec_id", "embedding", 5)
      .select($"q_id", $"rank".cast("long"), $"c_id"))
    val overlaps = exact.map { case (q, s) => (s & sq8(q)).size }
    assert(overlaps.forall(_ >= 4), s"SQ8 top-5 overlap per query: $overlaps")

    // IVF-SQ exactness anchor: probing EVERY cell through the persisted
    // index with code scoring ≡ brute-force SQ8 over the same corpus — the
    // quantized twin of the float-path anchor
    val seeds8 = embL.filter($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cell"), $"embedding".as("centroid"))
    val wh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-ivfsq-spec-").toString)
    val ivf = new PersistedIvf(wh)
    ivf.buildWith(embL, "vec_id", "embedding", seeds8)
    val queries = embL.filter($"vec_id" >= 8 && $"vec_id" < 18)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "c_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(rows(ivf.topKSq8(queries, "vec_id", "embedding", 5, nProbe = 8)) ==
      rows(Similarity.bruteForceTopKSq8(embL, queries, "vec_id", "vec_id", "embedding", 5)),
      "nProbe=numCells IVF-SQ must equal brute-force SQ8")
  }

  test("IVF-PQ: every-cell probe ≡ PQ-ADC; incremental encode ≡ build encode; retrain keeps codes") {
    import graft.operators.{PersistedIvf, Pq}
    val embL = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val cents = embL.filter($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cell"), $"embedding".as("centroid"))
    val seeds = embL.filter($"vec_id" < 16)
    val queries = embL.filter($"vec_id" >= 8 && $"vec_id" < 18)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "c_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    def codesOf(ivf: PersistedIvf) = ivf.assignments().select("id", "pq").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap

    // an index built WITHOUT a PqSpec must refuse PQ scoring, not guess
    val whNoPq = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-ivfpq-no-").toString)
    val noPq = new PersistedIvf(whNoPq)
    noPq.buildWith(embL.filter($"vec_id" < 64), "vec_id", "embedding", cents)
    intercept[IllegalArgumentException](
      noPq.topKPq(queries, "vec_id", "embedding", 5))

    // build WITH pq on the first half, add the rest incrementally —
    // encoding is a pure per-row function of (vector, codebook), so the
    // accumulated codes must equal a from-scratch build's
    val wh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-ivfpq-inc-").toString)
    val ivf = new PersistedIvf(wh)
    ivf.buildWith(embL.filter($"vec_id" < 250), "vec_id", "embedding", cents,
      pq = Some(PersistedIvf.PqSpec(seeds, "vec_id", "embedding")))
    ivf.addVectors(embL.filter($"vec_id" >= 250), "vec_id", "embedding")
    val whFull = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-ivfpq-full-").toString)
    val ivfFull = new PersistedIvf(whFull)
    ivfFull.buildWith(embL, "vec_id", "embedding", cents,
      pq = Some(PersistedIvf.PqSpec(seeds, "vec_id", "embedding")))
    assert(codesOf(ivf) == codesOf(ivfFull),
      "incremental PQ encode diverged from a from-scratch build")

    // exactness anchor: probing EVERY cell through the persisted index ≡
    // the batch PQ-ADC operator over the same corpus and codebook
    assert(rows(ivf.topKPq(queries, "vec_id", "embedding", 5, nProbe = 8)) ==
      rows(Pq.topK(embL, queries, "vec_id", "vec_id", "embedding", 5,
        seeds = seeds, seedId = "vec_id")),
      "nProbe=numCells IVF-PQ must equal batch PQ-ADC")

    // retrain keeps the codebook and re-encodes every row (no silent nulls)
    ivf.retrain(numCells = 8, iterations = 1)
    assert(wh.exists(ivf.pqCodebookTable), "retrain dropped the PQ codebook")
    assert(ivf.assignments().filter($"pq".isNull).count() == 0,
      "retrain left unencoded assignment rows")
  }

  test("residual IVF-PQ: seed-corpus lossless anchor; incremental ≡ build; recall ≥ raw") {
    import graft.operators.{PersistedIvf, Similarity}
    val embL = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val cents = embL.filter($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cell"), $"embedding".as("centroid"))
    val queries = embL.filter($"vec_id" >= 8 && $"vec_id" < 18)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "c_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    def codesOf(ivf: PersistedIvf) = ivf.assignments().select("id", "pq").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap

    // lossless anchor: corpus = seed set → every residual is its own
    // codeword → x̂ = c + (x − c) = x → every-cell residual ADC ≡ the
    // float-exact probe at 4dp
    val slice = embL.filter($"vec_id" < 64)
    val whL = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-ivfres-anchor-").toString)
    val ivfL = new PersistedIvf(whL)
    ivfL.buildWith(slice, "vec_id", "embedding", cents,
      pq = Some(PersistedIvf.PqSpec(slice, "vec_id", "embedding", residual = true)))
    assert(ivfL.pqResidual(), "meta flag lost")
    assert(rows(ivfL.topKPq(queries, "vec_id", "embedding", 5, nProbe = 8)) ==
      rows(ivfL.topK(queries, "vec_id", "embedding", 5, nProbe = 8)),
      "seed-corpus residual ADC must reconstruct losslessly")

    // incremental admits encode against the SAME frozen centroids+codebook,
    // so accumulated codes ≡ a from-scratch build's
    val seeds = embL.filter($"vec_id" < 16)
    def residIvf(corpus: org.apache.spark.sql.DataFrame) = {
      val wh = new graft.sources.AtomicWarehouse(spark,
        java.nio.file.Files.createTempDirectory("graft-ivfres-").toString)
      val ivf = new PersistedIvf(wh)
      ivf.buildWith(corpus, "vec_id", "embedding", cents,
        pq = Some(PersistedIvf.PqSpec(seeds, "vec_id", "embedding", residual = true)))
      ivf
    }
    val inc = residIvf(embL.filter($"vec_id" < 250))
    inc.addVectors(embL.filter($"vec_id" >= 250), "vec_id", "embedding")
    val full = residIvf(embL)
    assert(codesOf(inc) == codesOf(full),
      "incremental residual encode diverged from a from-scratch build")

    // composition: rerank over a RESIDUAL index — residual-ADC candidates +
    // exact rescore hit the same C=corpus brute-force anchor as the raw path
    assert(rows(full.topKPqRerank(queries, "vec_id", "embedding", 5, c = 500, nProbe = 8)) ==
      rows(Similarity.bruteForceTopK(embL, queries, "vec_id", "vec_id", "embedding", 5)),
      "C=corpus rerank over the residual index must equal brute force")

    // The IVFADC claim, in the configuration it was published for: real
    // cluster centroids (trained spherical k-means), trained codebooks, and
    // data that actually CLUSTERS — residual norms then sit well below
    // vector norms, so the same code budget quantizes residuals finer and
    // recall rises. The testdata embeddings are isotropic (measured:
    // off-diagonal cosine ≈ 0, residual norm 1.21 > vector norm 1.0), where
    // residual encoding measurably LOSES (engine 0.44 → 0.35, independent
    // numpy replica 0.455 → 0.36) — so the inequality is pinned on a
    // deterministically planted clustered corpus (8 clusters, residual norm
    // ≈ 0.33), and AnnRecallProbe records both regimes as the honest rung
    // table.
    val base = embL.select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val cents8 = base.filter($"vec_id" < 8).select($"vec_id".as("cid"), $"e".as("c"))
    val planted = base.withColumn("cid", $"vec_id" % 8)
      .join(broadcast(cents8), Seq("cid"))
      .withColumn("v", zip_with($"c", $"e", (c, x) => c + lit(0.35) * x))
      .withColumn("nrm", sqrt(aggregate(
        zip_with($"v", $"v", (a, b) => a * b), lit(0d), (s, x) => s + x)))
      .select($"vec_id",
        transform($"v", x => (x / $"nrm").cast("float")).as("embedding"))
    val plN = planted.select($"vec_id".cast("long").as("id"),
      $"embedding".cast("array<float>").as("vec"))
    val trainedCents = Similarity.trainCentroids(plN, "id", "vec", 8, iterations = 3)
      .select($"cell_id".as("cell"), $"centroid")
    def trainedIvf(residual: Boolean) = {
      val wh = new graft.sources.AtomicWarehouse(spark,
        java.nio.file.Files.createTempDirectory(
          s"graft-ivftr-$residual-").toString)
      val ivf = new PersistedIvf(wh)
      ivf.buildWith(planted, "vec_id", "embedding", trainedCents,
        pq = Some(PersistedIvf.PqSpec(seeds, "vec_id", "embedding",
          m = 8, subDim = 8, residual = residual, trained = true, iterations = 2)))
      ivf
    }
    val raw = trainedIvf(residual = false)
    val res = trainedIvf(residual = true)
    val probeQs = planted.filter($"vec_id" >= 16 && $"vec_id" < 36)
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect()
        .groupBy(_.getLong(0)).map { case (qq, rs) => qq -> rs.map(_.getLong(1)).toSet }
    val truth = keyset(Similarity.bruteForceTopK(planted, probeQs, "vec_id", "vec_id", "embedding", 10))
    def recallOf(got: Map[Long, Set[Long]]): Double =
      truth.map { case (qq, t) =>
        got.getOrElse(qq, Set.empty).intersect(t).size.toDouble / t.size }.sum / truth.size
    val rRaw = recallOf(keyset(raw.topKPq(probeQs, "vec_id", "embedding", 10, nProbe = 8)))
    val rRes = recallOf(keyset(res.topKPq(probeQs, "vec_id", "embedding", 10, nProbe = 8)))
    info(f"clustered-corpus trained-book recall@10 raw=$rRaw%.3f residual=$rRes%.3f")
    assert(rRes >= rRaw,
      f"residual encoding recalled $rRes%.3f < raw $rRaw%.3f on the clustered corpus")
  }

  test("retrieve-then-rerank: C=corpus ≡ brute force; small C recovers recall PQ alone cannot") {
    import graft.operators.{PersistedIvf, Similarity}
    val embL = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val cents = embL.filter($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cell"), $"embedding".as("centroid"))
    val seeds = embL.filter($"vec_id" < 16)
    val queries = embL.filter($"vec_id" >= 8 && $"vec_id" < 18)
    val wh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-rerank-spec-").toString)
    val ivf = new PersistedIvf(wh)
    ivf.buildWith(embL, "vec_id", "embedding", cents,
      pq = Some(PersistedIvf.PqSpec(seeds, "vec_id", "embedding")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rank", "c_id", "cosine").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // exactness anchor: every cell probed + every candidate rescored ⇒ the
    // PQ stage only permutes the pool and the exact rescore restores truth
    assert(rows(ivf.topKPqRerank(queries, "vec_id", "embedding", 5, c = 500, nProbe = 8)) ==
      rows(Similarity.bruteForceTopK(embL, queries, "vec_id", "vec_id", "embedding", 5)),
      "C=corpus rerank must equal brute force")
    // the composition claim: a small candidate fraction rescored exactly
    // recalls MORE of the true top-5 than the PQ ranking it started from
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect()
        .groupBy(_.getLong(0)).map { case (qq, rs) => qq -> rs.map(_.getLong(1)).toSet }
    val truth = keyset(Similarity.bruteForceTopK(embL, queries, "vec_id", "vec_id", "embedding", 5))
    def recallOf(got: Map[Long, Set[Long]]): Double =
      truth.map { case (qq, t) =>
        got.getOrElse(qq, Set.empty).intersect(t).size.toDouble / t.size }.sum / truth.size
    val rPq = recallOf(keyset(ivf.topKPq(queries, "vec_id", "embedding", 5, nProbe = 8)))
    val rRerank = recallOf(keyset(ivf.topKPqRerank(queries, "vec_id", "embedding", 5, c = 50, nProbe = 8)))
    info(f"recall@5 pq=$rPq%.3f rerank(C=50)=$rRerank%.3f")
    assert(rRerank >= rPq,
      f"rerank(C=50) recalled $rRerank%.3f < bare PQ $rPq%.3f")
    intercept[IllegalArgumentException](
      ivf.topKPqRerank(queries, "vec_id", "embedding", 5, c = 3))
  }

  test("PQ guards: empty seeds and Int-overflowing codeword ids are refused") {
    import graft.operators.PersistedIvf
    val embL = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val cents = embL.filter($"vec_id" < 8)
      .select($"vec_id".cast("int").as("cell"), $"embedding".as("centroid"))
    // a PqSpec with ZERO seed rows would persist an empty codebook and NPE
    // later in topKPq/admit — refuse at build with a diagnosable message
    val whE = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-pq-empty-").toString)
    val e = intercept[IllegalArgumentException](
      new PersistedIvf(whE).buildWith(embL.filter($"vec_id" < 64), "vec_id", "embedding",
        cents, pq = Some(PersistedIvf.PqSpec(
          embL.filter($"vec_id" < 0), "vec_id", "embedding"))))
    assert(e.getMessage.contains("PqCodebook"), s"undiagnosable: ${e.getMessage}")
    // a seed id above Int.MaxValue would silently WRAP in the stored
    // array<int> codes (LUT joins then miss the wrapped subspace) — refuse
    val whW = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-pq-wide-").toString)
    val wide = embL.filter($"vec_id" < 16)
      .withColumn("vec_id", $"vec_id" + lit(Int.MaxValue.toLong + 7L))
    val w = intercept[IllegalArgumentException](
      new PersistedIvf(whW).buildWith(embL.filter($"vec_id" < 64), "vec_id", "embedding",
        cents, pq = Some(PersistedIvf.PqSpec(wide, "vec_id", "embedding"))))
    assert(w.getMessage.contains("Int.MaxValue"), s"undiagnosable: ${w.getMessage}")
  }

  test("semantic dedup: inline ≡ persisted-assignment path; planted dup drops, earlier copy wins") {
    val embL = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"),
        $"embedding".cast("array<float>").as("embedding"))
    val seeds = embL.filter($"vec_id" < 8)
      .select($"vec_id".as("cell"), $"embedding".as("centroid"))

    val inline = Dedup.semanticDedup(embL, "vec_id", "embedding", seeds, 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inline.nonEmpty && inline.size < 500, s"trivial result: ${inline.size}")

    // the scale path: the SAME drop rule over a PersistedIvf's assignment
    // table (its (id, cell, vec) shape is the operator's input contract)
    val wh = new graft.sources.AtomicWarehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-semivf-").toString)
    val ivf = new PersistedIvf(wh)
    ivf.buildWith(embL, "vec_id", "embedding", seeds)
    val persisted = Dedup.semanticDedupAssigned(ivf.assignments(), 0.45)
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toSet
    assert(persisted == inline, "persisted-assignment path diverged from inline")

    // drop-rule semantics on planted data: an exact copy of an earlier
    // vector drops; a vector alone in its cell survives at any threshold
    val planted = embL.filter($"vec_id" < 100)
      .union(embL.filter($"vec_id" === 3).select(lit(9001L).as("vec_id"), $"embedding"))
    val got = Dedup.semanticDedup(planted, "vec_id", "embedding", seeds, 0.999)
      .collect().map(_.getLong(0)).toSet
    assert(!got.contains(9001L), "planted exact duplicate survived")
    assert(got.contains(3L), "the EARLIER copy must survive")
  }

  test("trained PQ codebook: shape invariants hold and recall beats the seed-slice book") {
    import graft.operators.{Pq, Similarity}
    val embL = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id".cast("long").as("vec_id"), $"embedding")
    val (m, subDim, kcw) = (8, 8, 64)
    val cbT = Pq.trainedCodebook(embL, "vec_id", "embedding", m, subDim, kcw, iterations = 2)
    val rows = cbT.collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
    // every subspace present, at most k codewords each, vectors subDim wide
    assert(rows.map(_._1).toSet == (0 until m).toSet, "missing subspaces")
    rows.groupBy(_._1).foreach { case (sub, cws) =>
      assert(cws.length <= kcw, s"subspace $sub has ${cws.length} > $kcw codewords")
      assert(cws.forall(_._3.length == subDim), s"subspace $sub vector width wrong")
    }
    // recall@10 vs brute force: training must not LOSE to the seed slices
    val queries = embL.filter($"vec_id" >= 16 && $"vec_id" < 36)
    def keyset(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val truth = keyset(Similarity.bruteForceTopK(embL, queries, "vec_id", "vec_id", "embedding", 10))
    def recallOf(got: Map[Long, Set[Long]]): Double =
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size }.sum / truth.size
    val seedBook = Pq.codebook(embL.filter($"vec_id" < 16), "vec_id", "embedding", m, subDim)
    val rSeed = recallOf(keyset(Pq.topKWith(embL, queries, "vec_id", "vec_id", "embedding", 10, seedBook, m, subDim)))
    val rTrained = recallOf(keyset(Pq.topKWith(embL, queries, "vec_id", "vec_id", "embedding", 10, cbT, m, subDim)))
    assert(rTrained >= rSeed,
      f"trained codebook recall $rTrained%.3f below seed-slice $rSeed%.3f")
  }
}
