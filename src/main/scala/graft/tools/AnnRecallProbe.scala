package graft.tools

import java.nio.file.Files

import graft.GraftSession
import graft.operators.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured recall curve for the IVF ANN path — the treatment every other
  * scale claim in BASELINE.md already has. `sim_ivf_trained`'s recall is
  * spec-pinned at one operating point; this probe sweeps the two knobs that
  * matter in production:
  *
  *   - `nProbe` ∈ {1, 2, 4, 8}: how many nearest cells each query scores
  *     ([[Similarity.ivfTopKProbes]] — candidates grow, recall is monotone
  *     because each corpus vector lives in exactly one cell);
  *   - corpus replication ×{1, 4}: replicas are ROTATED copies of the real
  *     embeddings (element rotation keeps the value distribution, yields
  *     genuinely distinct vectors), so cells fill up the way a larger corpus
  *     fills them.
  *
  * For each point: recall@k against [[Similarity.bruteForceTopK]] ground
  * truth on the same corpus, plus the scored-candidate count — the cost side
  * of the trade (candidates/query ≈ N·nProbe/cells vs N for brute force).
  * Emits one JSON line per point to stdout AND target/annrecall.json.
  */
object AnnRecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = 10
    val nQueries = 25
    val spark = GraftSession.builder().appName("ann-recall-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))

    // replica i: ids offset, embedding rotated by i elements — distinct
    // vectors with the same distribution (rotation is a permutation)
    def replica(i: Int): DataFrame =
      if (i == 0) base
      else base.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        concat(slice(col("embedding"), i + 1, 10000),
          slice(col("embedding"), 1, i)).as("embedding"))

    val out = new StringBuilder
    def emit(line: String): Unit = { println(line); out.append(line).append('\n') }

    Seq(1, 4).foreach { rep =>
      val corpus = (0 until rep).map(replica).reduce(_ union _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = corpus.count()
      val queries = base.orderBy("vec_id").limit(nQueries)
      val numCells = math.max(math.sqrt(n.toDouble).toInt, 4)
      val centroids = Similarity.trainCentroids(corpus, "vec_id", "embedding", numCells)
        .select(col("cell_id"), col("centroid").as("embedding"))

      def keyset(df: DataFrame): Map[Long, Set[Long]] =
        df.select("q_id", "c_id").collect()
          .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val truth = keyset(Similarity.bruteForceTopK(
        corpus, queries, "vec_id", "vec_id", "embedding", k))

      Seq(1, 2, 4, 8).foreach { nProbe =>
        val t0 = System.nanoTime()
        val got = keyset(Similarity.ivfTopKProbes(corpus, queries, centroids,
          "vec_id", "vec_id", "cell_id", "embedding", k, nProbe))
        val secs = (System.nanoTime() - t0) / 1e9
        val recall = truth.map { case (q, t) =>
          got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
        }.sum / truth.size
        // cost side: candidates scored ≈ corpus fraction actually probed
        val candPerQuery = n.toDouble * nProbe / numCells
        emit(f"""{"tool":"annrecall","corpus_x":$rep,"n":$n,"cells":$numCells,"n_probe":$nProbe,"k":$k,"recall":$recall%.4f,"cand_per_query":$candPerQuery%.0f,"brute_cand":$n,"sec":$secs%.2f}""")
      }
      corpus.unpersist(true)
    }
    // ---- persisted-index lifecycle: recall decay without retrain vs with.
    // Centroids are trained on the BASE corpus only; rotated replicas then
    // land through the INCREMENTAL path (addVectors — persisted-centroid
    // assignment). Rotation preserves the value distribution but moves the
    // vectors relative to the trained centroids, so the index goes stale the
    // way a production corpus drifts: recall@k decays, the drift ledger
    // (mean assignment cosine vs training mean) flags it, and retrain()
    // recovers it. Ground truth is brute force over the grown corpus.
    locally {
      val wh = new graft.sources.AtomicWarehouse(spark,
        Files.createTempDirectory("graft-annp-").toString)
      val ivf = new graft.operators.PersistedIvf(wh)
      val queries = base.orderBy("vec_id").limit(nQueries)
      def keyset(df: DataFrame): Map[Long, Set[Long]] =
        df.select("q_id", "c_id").collect()
          .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      def recallOf(corpus: DataFrame, nProbe: Int): Double = {
        val truth = keyset(Similarity.bruteForceTopK(corpus, queries, "vec_id", "vec_id", "embedding", k))
        val got = keyset(ivf.topK(queries, "vec_id", "embedding", k, nProbe))
        truth.map { case (q, t) =>
          got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
        }.sum / truth.size
      }
      val n0 = base.count()
      val cells = math.max(math.sqrt(n0.toDouble).toInt, 4)
      ivf.build(base, "vec_id", "embedding", cells)
      emit(f"""{"tool":"annrecall_persisted","stage":"built","n":$n0,"cells":$cells,"n_probe":4,"recall":${recallOf(base, 4)}%.4f,"drifted":${ivf.drifted()}}""")

      val grown = (0 until 3).map(replica).reduce(_ union _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (1 until 3).foreach(i => ivf.addVectors(replica(i), "vec_id", "embedding"))
      val n1 = grown.count()
      emit(f"""{"tool":"annrecall_persisted","stage":"stale","n":$n1,"cells":$cells,"n_probe":4,"recall":${recallOf(grown, 4)}%.4f,"drifted":${ivf.drifted()}}""")

      ivf.retrain(math.max(math.sqrt(n1.toDouble).toInt, 4))
      emit(f"""{"tool":"annrecall_persisted","stage":"retrained","n":$n1,"cells":${math.max(math.sqrt(n1.toDouble).toInt, 4)},"n_probe":4,"recall":${recallOf(grown, 4)}%.4f,"drifted":${ivf.drifted()}}""")
      grown.unpersist(true)
    }

    // ---- compression rungs: the recall cost of scoring the SAME probed
    // candidates on SQ8 codes (1 byte/dim) and PQ codes (m ints/vector)
    // instead of floats, nProbe fixed at 4 — the quality side of the
    // bandwidth trade BASELINE's footer-measured column bytes quantify.
    // Candidate sets are identical across rungs (the coarse quantizer stays
    // float-exact), so the delta is purely the fine-scoring approximation.
    locally {
      val wh = new graft.sources.AtomicWarehouse(spark,
        Files.createTempDirectory("graft-annrung-").toString)
      val ivf = new graft.operators.PersistedIvf(wh)
      val queries = base.orderBy("vec_id").limit(nQueries)
      val n = base.count()
      val cells = math.max(math.sqrt(n.toDouble).toInt, 4)
      val cents = Similarity.trainCentroids(base, "vec_id", "embedding", cells)
        .select(col("cell_id").as("cell"), col("centroid"))
      ivf.buildWith(base, "vec_id", "embedding", cents,
        pq = Some(graft.operators.PersistedIvf.PqSpec(
          base.filter(col("vec_id") < 16), "vec_id", "embedding")))
      def keyset(df: DataFrame): Map[Long, Set[Long]] =
        df.select("q_id", "c_id").collect()
          .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val truth = keyset(Similarity.bruteForceTopK(
        base, queries, "vec_id", "vec_id", "embedding", k))
      def recallOf(got: Map[Long, Set[Long]]): Double =
        truth.map { case (q, t) =>
          got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
        }.sum / truth.size
      // pq_trained scores the FULL corpus (codebook quality isolated from
      // probing): 64 trained codewords/subspace vs the oracle-replayable
      // 16-seed-slice book — the knob that closes PQ's recall gap
      val cbTrained = graft.operators.Pq.trainedCodebook(
        base, "vec_id", "embedding", m = 8, subDim = 8, k = 256)
      Seq(
        ("float", () => ivf.topK(queries, "vec_id", "embedding", k, nProbe = 4), 4),
        ("sq8", () => ivf.topKSq8(queries, "vec_id", "embedding", k, nProbe = 4), 1),
        ("pq", () => ivf.topKPq(queries, "vec_id", "embedding", k, nProbe = 4), 0),
        ("pq_trained", () => graft.operators.Pq.topKWith(
          base, queries, "vec_id", "vec_id", "embedding", k, cbTrained,
          m = 8, subDim = 8), 0)
      ).foreach { case (rung, run, bytesPerDim) =>
        val t0 = System.nanoTime()
        val r = recallOf(keyset(run()))
        val secs = (System.nanoTime() - t0) / 1e9
        emit(f"""{"tool":"annrecall_rungs","rung":"$rung","n":$n,"cells":$cells,"n_probe":4,"k":$k,"recall":$r%.4f,"bytes_per_dim":$bytesPerDim,"sec":$secs%.2f}""")
      }
      // ---- retrieve-then-rerank curve: PQ generates top-C candidates, an
      // exact rescore of ONLY those C produces the final top-k. Recall
      // climbs with C toward the probed-cells float ceiling while the float
      // fetch stays ≤ queries×C rows — the composition that makes the PQ
      // rung useful as candidate GENERATION (the rung table's own
      // conclusion, now measured instead of asserted).
      Seq(k, 2 * k, 5 * k, 10 * k).foreach { c =>
        val t0 = System.nanoTime()
        val r = recallOf(keyset(
          ivf.topKPqRerank(queries, "vec_id", "embedding", k, c = c, nProbe = 4)))
        val secs = (System.nanoTime() - t0) / 1e9
        emit(f"""{"tool":"annrecall_rerank","c":$c,"n":$n,"cells":$cells,"n_probe":4,"k":$k,"recall":$r%.4f,"cand_frac":${c.toDouble / n}%.4f,"sec":$secs%.2f}""")
      }
    }

    // ---- residual (IVFADC) rungs: same bytes/dim as pq_trained, codes
    // quantize x − centroid(cell) instead of x (Jégou et al. 2011 §IV).
    // Honest record, both regimes measured: on the ISOTROPIC testdata
    // embeddings residuals are LARGER than vectors (no cluster structure —
    // measured residual norm 1.21 vs vector norm 1.0) and residual encoding
    // LOSES; on a corpus that actually clusters (planted: 8 clusters,
    // residual norm ≈ 0.33) it recovers the published uplift. The trade is
    // data-dependent, not free — pick the encode per corpus geometry.
    locally {
      def rungPair(corpus: DataFrame, tag: String): Unit = {
        val c = corpus.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = c.count()
        val cells = math.max(math.sqrt(n.toDouble).toInt, 4)
        val queries = c.orderBy("vec_id").limit(nQueries)
        val cents = Similarity.trainCentroids(c, "vec_id", "embedding", cells)
          .select(col("cell_id").as("cell"), col("centroid"))
        def keyset(df: DataFrame): Map[Long, Set[Long]] =
          df.select("q_id", "c_id").collect()
            .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
        val truth = keyset(Similarity.bruteForceTopK(
          c, queries, "vec_id", "vec_id", "embedding", k))
        Seq(false, true).foreach { residual =>
          val wh = new graft.sources.AtomicWarehouse(spark,
            Files.createTempDirectory(s"graft-annres-").toString)
          val ivf = new graft.operators.PersistedIvf(wh)
          ivf.buildWith(c, "vec_id", "embedding", cents,
            pq = Some(graft.operators.PersistedIvf.PqSpec(
              c.filter(col("vec_id") % 97 < 16), "vec_id", "embedding",
              m = 8, subDim = 8, residual = residual, trained = true, k = 256)))
          val t0 = System.nanoTime()
          val got = keyset(ivf.topKPq(queries, "vec_id", "embedding", k, nProbe = 4))
          val secs = (System.nanoTime() - t0) / 1e9
          val r = truth.map { case (q, t) =>
            got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
          }.sum / truth.size
          emit(f"""{"tool":"annrecall_residual","corpus":"$tag","residual":$residual,"n":$n,"cells":$cells,"n_probe":4,"k":$k,"recall":$r%.4f,"sec":$secs%.2f}""")
        }
        c.unpersist(true)
      }
      rungPair(base, "isotropic")
      // planted clustered corpus: v_i = normalize(c_{i mod 8} + 0.35·e_i),
      // clusters anchored on the first 8 real vectors — deterministic, same
      // value distribution, genuine cluster structure
      val b = base.select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val anchors = b.filter(col("vec_id") < 8).select(col("vec_id").as("cid"), col("e").as("c"))
      val planted = b.withColumn("cid", col("vec_id") % 8)
        .join(broadcast(anchors), Seq("cid"))
        .withColumn("v", zip_with(col("c"), col("e"), (cc, x) => cc + lit(0.35) * x))
        .withColumn("nrm", sqrt(aggregate(
          zip_with(col("v"), col("v"), (a, bb) => a * bb), lit(0d), (s, x) => s + x)))
        .select(col("vec_id"),
          transform(col("v"), x => (x / col("nrm")).cast("float")).as("embedding"))
      rungPair(planted, "clustered")
    }

    val p = java.nio.file.Paths.get("target/annrecall.json")
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, out.toString.getBytes("UTF-8"))
    spark.stop()
  }
}
