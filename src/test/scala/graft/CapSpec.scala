package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.operators.{DedupOps, SimilarityOps}

/** Adversarial bucket-size-cap tests: web corpora contain mega-clusters of
  * identical boilerplate documents that land every member in the same
  * LSH band/block/bucket — without a cap, one group enumerates
  * O(cluster²) pairs. Each candidate generator must stay bounded by
  * C(MaxBucketMembers, 2) per bucket and surface the truncation through
  * its observed metric.
  */
class CapSpec extends SparkTestBase {

  import spark.implicits._

  private val Cap = DedupOps.MaxBucketMembers
  private val ClusterSize = Cap + 88 // deliberately past the cap

  private lazy val megaDocs = (0L until ClusterSize.toLong)
    .map(i => (i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"))
    .toDF("doc_id", "text")

  /** Run `action` while capturing the named observed metric (metrics are
    * delivered to QueryExecutionListeners asynchronously).
    */
  private def observedMetric[A](name: String)(action: => A): (A, Long) = {
    @volatile var metric: Option[Long] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.get(name).foreach(r => metric = Some(r.getLong(0)))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = action
      val deadline = System.currentTimeMillis() + 30000
      while (metric.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      (result, metric.getOrElse(fail(s"observed metric $name never arrived")))
    } finally spark.listenerManager.unregister(listener)
  }

  test("minhash LSH caps a mega-cluster: bounded pairs, overflow observed") {
    val (rows, overflow) = observedMetric("minhash_bucket_overflow") {
      DedupOps.docMinhashLsh(megaDocs).agg(
        count(lit(1)), max(col("n_bands")), min(col("n_bands"))).head()
    }
    // every band's bucket keeps the first Cap doc_ids → one capped pair
    // set shared by all 4 bands
    assert(rows.getLong(0) === Cap.toLong * (Cap - 1) / 2)
    assert(rows.getLong(1) === DedupOps.NumSeeds / DedupOps.RowsPerBand)
    assert(rows.getLong(2) === DedupOps.NumSeeds / DedupOps.RowsPerBand)
    // (ClusterSize - Cap) members dropped in each of the 4 band buckets
    assert(overflow ===
      (ClusterSize - Cap).toLong * (DedupOps.NumSeeds / DedupOps.RowsPerBand))
  }

  test("ObservedMetrics collector surfaces overflow JVM-wide (the Verify artifact path)") {
    // the engine's own collector (not this suite's ad-hoc listener) must
    // see the truncation, because that is what Verify dumps into round
    // artifacts as observed_metrics.json
    DedupOps.docMinhashLsh(megaDocs).count()
    val snap = graft.ObservedMetrics.awaitQuiescent()
    val v = snap.get("minhash_bucket_overflow")
    assert(v.exists(_ > 0L), s"collector missed the mega-cluster overflow: $snap")
  }

  test("substr fingerprint bucketing caps a mega-cluster") {
    // 26 tokens → 3 selected 0-mod-p fingerprints (deterministic), each
    // bucket identical across the cluster — the boilerplate-license shape
    val text = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do " +
      "eiusmod tempor incididunt ut labore et dolore magna aliqua enim ad " +
      "minim veniam quis nostrud"
    val cluster = (0L until ClusterSize.toLong).map(i => (i, text))
      .toDF("doc_id", "text")
    val (rows, overflow) = observedMetric("substr_fp_overflow") {
      DedupOps.docSubstrDups(cluster).agg(
        count(lit(1)), max(col("n_windows")), min(col("n_windows"))).head()
    }
    // each fp bucket keeps the first Cap doc_ids → one capped pair set
    // shared by all 3 fingerprints
    assert(rows.getLong(0) === Cap.toLong * (Cap - 1) / 2)
    assert(rows.getLong(1) === 3L)
    assert(rows.getLong(2) === 3L)
    assert(overflow === (ClusterSize - Cap).toLong * 3)
  }

  test("incremental dedup caps a mega-cluster and keeps only cross pairs") {
    // the same identical-text clique, spanning the increment boundary:
    // cap discipline must hold and no new-new/base-base pair may leak
    val (rows, overflow) = observedMetric("incremental_bucket_overflow") {
      DedupOps.docIncrementalDedup(megaDocs).agg(
        count(lit(1)), min(col("jaccard"))).head()
    }
    // capped bucket keeps the first Cap ids; pairs = new-side × base-side
    // within them (identical docs ⇒ jaccard exactly 1)
    val kept = (0L until Cap.toLong)
    val nNew = kept.count(md5BucketOf(_) < DedupOps.IncrementPermille)
    assert(rows.getLong(0) === nNew.toLong * (Cap - nNew))
    assert(rows.getDouble(1) === 1.0)
    assert(overflow ===
      (ClusterSize - Cap).toLong * (DedupOps.NumSeeds / DedupOps.RowsPerBand))
  }

  test("simhash pair banding caps a mega-cluster") {
    val (n, overflow) = observedMetric("simhash_block_overflow") {
      DedupOps.docSimhashPairs(megaDocs).count()
    }
    assert(n === Cap.toLong * (Cap - 1) / 2) // all at hamming 0
    assert(overflow === (ClusterSize - Cap).toLong * DedupOps.SimhashBlocks)
  }

  test("image dHash banding caps a mega-cluster of identical hashes") {
    // a boilerplate-image flood (one template re-encoded everywhere)
    // lands every member in every block bucket — the adversarial shape
    val mega = (0L until ClusterSize.toLong)
      .map(i => (i, 0x00aa55aa55aa55L)).toDF("media_id", "dhash")
    val (n, overflow) = observedMetric("img_dhash_block_overflow") {
      DedupOps.mediaHashPairs(mega, DedupOps.ImageModality.pairOverflow).count()
    }
    assert(n === Cap.toLong * (Cap - 1) / 2) // all at hamming 0
    assert(overflow === (ClusterSize - Cap).toLong * DedupOps.ImgHashBlocks)
  }

  test("video temporal-hash banding caps a mega-cluster of identical fingerprints") {
    // a re-encoded-everywhere clip template — every member lands in
    // every block bucket, through the gif path's own overflow metric
    val mega = (0L until ClusterSize.toLong)
      .map(i => (i, 0x0055aa55aa55aaL)).toDF("media_id", "dhash")
    val (n, overflow) = observedMetric("gif_hash_block_overflow") {
      DedupOps.mediaHashPairs(mega, "gif_hash_block_overflow").count()
    }
    assert(n === Cap.toLong * (Cap - 1) / 2) // all at hamming 0
    assert(overflow === (ClusterSize - Cap).toLong * DedupOps.ImgHashBlocks)
  }

  test("ngram-jaccard signature grouping caps a mega-cluster") {
    val (n, overflow) = observedMetric("jaccard_sig_overflow") {
      DedupOps.docNgramJaccard(megaDocs).count()
    }
    assert(n === Cap.toLong * (Cap - 1) / 2)
    assert(overflow === (ClusterSize - Cap).toLong)
  }

  test("dup-group clustering digests a capped mega-clique in few iterations") {
    // the verified-dup graph of a mega-cluster is a Cap-member CLIQUE
    // (~131k edges): clustering must produce ONE cluster labeled by the
    // min id and elect exactly one canonical — the adversarial shape for
    // the CC engine. The clique sits under MaxDriverCcEdges, so
    // docDupGroups closes it on the driver; the distributed fixpoint,
    // run on the same edges, must agree and converge in one min-label
    // round (diameter 1: the initial neighbor-min already labels every
    // member 0, and the round confirms it)
    val groups = DedupOps.docDupGroups(megaDocs).collect()
    assert(groups.length === Cap)
    assert(groups.forall(_.getAs[Long]("cluster") === 0L))
    assert(groups.forall(_.getAs[Long]("cluster_size") === Cap.toLong))
    assert(groups.count(_.getAs[Int]("is_canonical") === 1) === 1)
    val edges = DedupOps.docLshVerifiedDups(megaDocs)
      .select(col("doc_a").cast("long"), col("doc_b").cast("long")).persist()
    try {
      val n = edges.count()
      assert(n <= DedupOps.MaxDriverCcEdges)
      val fixpoint = DedupOps.fixpointClusterPairs(edges, n)
      // read before the driver closure below records its own 0 rounds
      assert(graft.ObservedMetrics.gaugeSnapshot.get("cc.iterations") === Some(1.0))
      assertSameRows(fixpoint.withColumnRenamed("id", "doc_id"), DedupOps.docDupGroups(megaDocs))
    } finally edges.unpersist()
  }

  test("embedding near-dup caps a mega-cluster of identical vectors") {
    val mega = (0L until ClusterSize.toLong)
      .map(i => (i, Seq.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val (top, overflow) = observedMetric("embdup_bucket_overflow") {
      SimilarityOps.embeddingNearDup(mega, 20).collect()
    }
    assert(top.length === 20)
    top.foreach(r => assert(r.getAs[Double]("cosine") === 1.0))
    assert(overflow === (ClusterSize - Cap).toLong)
  }

  test("cell prototypes stay bounded when every vector lands in one cell") {
    // degenerate IVF geometry: identical vectors all assign to the same
    // centroid (ties broken to min cent_id) — the output must stay
    // exactly p rows regardless of cluster size, and the salted
    // pre-prune's intermediate is bounded by salts x p (the property
    // that keeps the final per-cell window off the corpus)
    val mega = (0L until ClusterSize.toLong)
      .map(i => (i, Seq.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.embeddingCellPrototypes(mega).collect()
    assert(out.length === SimilarityOps.ProtoK)
    // all in the min cell, ranks 1..p, ties broken by vec_id ascending
    assert(out.map(_.getAs[Long]("cell")).distinct.length === 1)
    assert(out.map(_.getAs[Int]("proto_rank")).sorted.toSeq ===
      (1 to SimilarityOps.ProtoK))
    // cosine ties across ALL vectors: the vec_id tiebreak keeps the
    // first p ids — deterministic across the salted two-stage prune
    assert(out.map(_.getAs[Long]("vec_id")).sorted.toSeq ===
      (0L until SimilarityOps.ProtoK.toLong))
  }

  test("embedding near-dup: cap discipline holds at any plane count (identical cluster)") {
    // a mega-cluster of byte-identical vectors collides in ONE bucket
    // regardless of geometry — more planes never break the cap contract
    val mega = (0L until ClusterSize.toLong)
      .map(i => (i, Seq.fill(64)(0.5f)))
      .toDF("vec_id", "embedding")
    val (top, overflow) = observedMetric("embdup_bucket_overflow") {
      SimilarityOps.embeddingNearDup(mega, 20, numPlanes = 16).collect()
    }
    assert(top.length === 20)
    assert(overflow === (ClusterSize - Cap).toLong)
  }

  test("embedding near-dup: scaled-up plane counts leave the fixture overflow-free") {
    // the geometry defaultNumPlanes picks for larger corpora must not
    // truncate on real (non-adversarial) data: overflow metric stays 0
    val emb = graft.model.Fixtures.embeddings(spark, sfDir)
    Seq(12, 16).foreach { planes =>
      val (n, overflow) = observedMetric("embdup_bucket_overflow") {
        SimilarityOps.embeddingNearDup(emb, 20, planes).count()
      }
      assert(n <= 20)
      assert(overflow === 0L, s"numPlanes=$planes")
    }
  }

  test("bm25 index stays a bounded artifact under an adversarial vocabulary") {
    import graft.operators.TextOps
    // every token unique across the corpus: the df aggregate sees
    // n_docs × tokens-per-doc distinct terms, far past any cap
    val uniqueVocab = (0L until 200L)
      .map(i => (i, (0 until 20).map(j => s"tok_${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val idx = TextOps.bm25Index(uniqueVocab, vocabSize = 64)
    assert(idx.df.size === 64, "df table must cap at the declared vocabulary")
    assert(idx.nDocs === 200L && idx.sumDl === 4000L)
    // scoring against the capped index stays total: OOV terms fall to
    // df = 0 instead of failing
    val scored = TextOps.docBm25Indexed(uniqueVocab, idx, Seq("tok_0_0"), 5).collect()
    assert(scored.length === 1 && scored(0).getLong(0) === 0L)
  }

  test("probe-index incremental dedup equals the batch path over arbitrary corpora") {
    // the stream_lsh serving claim — partition-pruned probe joins emit
    // the SAME verified cross dups as the batch bucket skeleton — holds
    // for any dup structure, not just the fixture's: random corpora
    // from a tiny vocabulary (dup-rich by construction), ids spanning
    // both increment and base md5 buckets
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val genDoc = for {
      n <- Gen.choose(3, 12)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val genCorpus = for {
      n <- Gen.choose(20, 60)
      texts <- Gen.listOfN(n, genDoc)
    } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val prop = Prop.forAll(genCorpus) { corpus =>
      val dir = java.nio.file.Files.createTempDirectory("graft_prop_corpus_")
      graft.util.TempDirs.track(dir)
      corpus.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
      val sf = dir.toString
      val docs = graft.model.Fixtures.documents(spark, sf)
      val increment = docs.filter(DedupOps.isNewDoc)
      val probe = canon(DedupOps.incrementalDedupBatch(spark, sf, increment))
      val batch = canon(DedupOps.docIncrementalDedup(docs))
      probe == batch
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(Soak.n(2, 6)), prop)
    assert(res.passed, res.status.toString)
    DedupOps.TextArtifacts.foreach(_.forget())
    DedupOps.TextIndex.drop()
  }

  test("driver union-find and distributed fixpoint close any graph to the same rows") {
    // clusterPairs picks its closure by edge count (MaxDriverCcEdges),
    // so no fixture reaches both: run each directly on the same random
    // graphs — random edges with repeats and self-loops, a long path
    // (min id at one end, many pointer-jumping rounds) and isolated pairs
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val genRandom = Gen.choose(0, 25).flatMap(n => Gen.listOfN(n,
      Gen.zip(Gen.choose(0L, 40L), Gen.choose(0L, 40L))))
    val genPath = for {
      len <- Gen.choose(1, 80)
      start <- Gen.choose(100L, 1000L)
      rev <- Gen.oneOf(true, false)
    } yield (start until start + len).map(i => if (rev) (i + 1, i) else (i, i + 1))
    val genPairs = Gen.choose(0, 10).map(n =>
      (0 until n).map(k => (5000L + 2 * k, 5000L + 2 * k + 1)))
    val genGraph = for { r <- genRandom; p <- genPath; i <- genPairs } yield r ++ p ++ i
    val prop = Prop.forAll(genGraph) { es =>
      val local = DedupOps.localClusterPairs(spark, es.toArray)
      val fixpoint = DedupOps.fixpointClusterPairs(es.toDF("a", "b"), es.size.toLong)
      canon(local) == canon(fixpoint)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(Soak.n(4, 12)), prop)
    assert(res.passed, res.status.toString)
  }

  test("incremental cluster merge equals the from-scratch closure over arbitrary increments") {
    // the cluster-layer incr_dedup claim: merging an increment's new
    // edges into an existing assignment (touching only affected
    // clusters) equals re-closing everything from scratch — for ANY
    // base/increment edge sets, not just the fixture's. The
    // from-scratch side reuses the same public API with an empty prior
    // assignment (empty groups ⇒ nothing touched ⇒ plain closure).
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val emptyGroups = Seq.empty[(Long, Long, Int, Long)]
      .toDF("doc_id", "cluster", "is_canonical", "cluster_size")
    def close(edges: Seq[(Long, Long)]) =
      DedupOps.mergeClusterIncrement(emptyGroups, edges.toDF("a", "b"))
    val genEdge = for {
      a <- Gen.choose(0L, 30L)
      d <- Gen.choose(1L, 30L)
    } yield (a, (a + d) % 31)
    val genEdges = Gen.choose(0, 20).flatMap(n => Gen.listOfN(n, genEdge))
    val prop = Prop.forAll(genEdges, genEdges) { (base, inc) =>
      val merged = canon(
        DedupOps.mergeClusterIncrement(close(base), inc.toDF("a", "b")))
      merged == canon(close(base ++ inc))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(Soak.n(2, 6)), prop)
    assert(res.passed, res.status.toString)
    // the FOLD corollary the streaming reconciliation (stream_xm) rides
    // on: merging increment-by-increment equals merging everything at
    // once — so any micro-batch split of the edge stream serves the
    // same final assignment
    val prop2 = Prop.forAll(genEdges, genEdges, genEdges) { (base, i1, i2) =>
      val folded = canon(DedupOps.mergeClusterIncrement(
        DedupOps.mergeClusterIncrement(close(base), i1.toDF("a", "b")),
        i2.toDF("a", "b")))
      folded == canon(close(base ++ i1 ++ i2))
    }
    val res2 = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(Soak.n(2, 4)), prop2)
    assert(res2.passed, res2.status.toString)
  }

  test("delta overlay serve equals the from-scratch closure for any epoch split") {
    // the r16 sink shape's correctness claim: writing only each epoch's
    // RE-CLOSED rows and serving base ∪ epochs newest-wins
    // (servedClusterAssignment over real epoch dirs — the exact
    // stream_xm serve path) equals the from-scratch closure over
    // base ∪ all increments, for ANY base/increment edge sets and any
    // two-way split — including increments that re-touch clusters a
    // prior epoch already rewrote (the newest-wins case)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val emptyGroups = Seq.empty[(Long, Long, Int, Long)]
      .toDF("doc_id", "cluster", "is_canonical", "cluster_size")
    def close(edges: Seq[(Long, Long)]) =
      DedupOps.mergeClusterIncrement(emptyGroups, edges.toDF("a", "b"))
    val genEdge = for {
      a <- Gen.choose(0L, 30L)
      d <- Gen.choose(1L, 30L)
    } yield (a, (a + d) % 31)
    val genEdges = Gen.choose(0, 15).flatMap(n => Gen.listOfN(n, genEdge))
    // round 17: the split runs THROUGH intra-overlay compaction — after
    // three epochs the fold collapses all but the newest into one
    // newest-wins delta, and the served view must be invariant across
    // the fold AND across a post-fold epoch that re-touches clusters
    // the collapsed delta already rewrote
    val prop = Prop.forAll(genEdges, genEdges, genEdges, genEdges) {
      (base, i1, i2, i3) =>
        val root = java.nio.file.Files.createTempDirectory("graft_xm_fold_")
        graft.util.TempDirs.track(root)
        val g0 = close(base)
        // the stream's guard: an empty micro-batch writes no epoch
        Seq(i1, i2, i3).zipWithIndex.foreach { case (inc, e) =>
          if (inc.nonEmpty)
            DedupOps.mergeClusterIncrementDelta(
              DedupOps.servedClusterAssignment(spark, g0, root.toString),
              inc.toDF("a", "b"))
              .write.mode("overwrite").parquet(s"$root/epoch=$e")
        }
        val epochsBefore = graft.util.EpochDirs.list(root.toString)
        val served = canon(
          DedupOps.servedClusterAssignment(spark, g0, root.toString))
        val folded = DedupOps.maybeCompactClusterDeltas(spark, sfDir,
          root.toString, maxEpochs = 2)
        // post-fold APPEND correctness (an epoch landing on the
        // collapsed overlay) is locked by the fixture compaction spec
        // and the soak test — the property's claim is fold INVARIANCE
        folded == (epochsBefore.size > 2) &&
          (!folded ||
            graft.util.EpochDirs.list(root.toString).size == 2) &&
          canon(DedupOps.servedClusterAssignment(
            spark, g0, root.toString)) == served &&
          served == canon(close(base ++ i1 ++ i2 ++ i3))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(Soak.n(2, 4)), prop)
    assert(res.passed, res.status.toString)
  }

  test("staged (pruned) touched-selection equals the generic merge for arbitrary graphs") {
    // the r16 pruned per-batch form's correctness claim, beyond the
    // fixture: for ANY base/increment edge sets — including an EMPTY
    // base (empty staged projections must read back, not fail schema
    // inference) and increments that fold through a live overlay epoch
    // — mergeClusterIncrementDeltaStagedAt over synthetic db-/cb-keyed
    // projections equals the generic merge over the served view
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emptyGroups = Seq.empty[(Long, Long, Int, Long)]
      .toDF("doc_id", "cluster", "is_canonical", "cluster_size")
    def close(edges: Seq[(Long, Long)]) =
      DedupOps.mergeClusterIncrement(emptyGroups, edges.toDF("a", "b"))
    val genEdge = for {
      a <- Gen.choose(0L, 30L)
      d <- Gen.choose(1L, 30L)
    } yield (a, (a + d) % 31)
    def genEdges(min: Int) =
      Gen.choose(min, 12).flatMap(n => Gen.listOfN(n, genEdge))
    val prop = Prop.forAll(genEdges(0), genEdges(0), genEdges(1)) {
      (base, i1, i2) =>
        val root = java.nio.file.Files.createTempDirectory("graft_xm_sprop_")
        graft.util.TempDirs.track(root)
        val g0 = close(base)
        // synthetic probe projections in exactly the staged layout
        val docIdx = root.resolve("docIdx")
        val clusterIdx = root.resolve("clusterIdx")
        g0.withColumn("db", graft.operators.Hashing
            .md5Bucket(col("doc_id"), DedupOps.DocBucketParts).cast("int"))
          .write.partitionBy("db").parquet(docIdx.toString)
        g0.withColumn("cb", graft.operators.Hashing
            .md5Bucket(col("cluster"), DedupOps.XmClusterParts).cast("int"))
          .write.partitionBy("cb").parquet(clusterIdx.toString)
        val deltaRoot = root.resolve("deltas").toString
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(deltaRoot))
        if (i1.nonEmpty) // the stream's empty-batch guard
          DedupOps.mergeClusterIncrementDelta(g0, i1.toDF("a", "b"))
            .write.mode("overwrite").parquet(s"$deltaRoot/epoch=0")
        val staged = canon(DedupOps.mergeClusterIncrementDeltaStagedAt(
          spark, "prop-xm", docIdx, clusterIdx, deltaRoot, None,
          i2.toDF("a", "b")))
        val generic = canon(DedupOps.mergeClusterIncrementDelta(
          DedupOps.servedClusterAssignment(spark, g0, deltaRoot),
          i2.toDF("a", "b")))
        staged == generic
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(Soak.n(2, 4)), prop)
    assert(res.passed, res.status.toString)
  }

  test("defaultNumPlanes sizes the bucket geometry to the corpus") {
    import SimilarityOps.{defaultNumPlanes, MinPlanes, MaxPlanes}
    // mean bucket ≈ target: 1M vectors / 256-target → 2^12 buckets
    assert(defaultNumPlanes(1L << 20, 256) === 12)
    assert(defaultNumPlanes(10_000_000L, 256) === 16)
    // clamps: tiny corpora never under-split, web-scale never over-split
    assert(defaultNumPlanes(100L, 256) === MinPlanes)
    assert(defaultNumPlanes(Long.MaxValue / 2, 1) === MaxPlanes)
    // the oracle-checked keys' pinned counts are reachable geometries
    assert(defaultNumPlanes(2000L) === MinPlanes)
  }

  test("explodeSpread scales with the input estimate, floored at parallelism") {
    val floor = spark.sparkContext.defaultParallelism
    // tiny frame: the floor holds (the fixture-scale r19 plan shape)
    assert(operators.DedupOps.explodeSpread(
      spark.range(10).toDF("doc_id")) === floor)
    // large estimate (range stats = 8 bytes/row, driver-side, no job):
    // the count grows linearly past the floor
    val big = operators.DedupOps.explodeSpread(
      spark.range(1L << 31).toDF("doc_id"))
    assert(big > floor)
    assert(big === ((8L * (1L << 31)) / (8L << 20)).toInt)
    // the scheduler-pressure cap binds for absurd estimates
    assert(operators.DedupOps.explodeSpread(
      spark.range(Long.MaxValue / 16).toDF("doc_id")) === (1 << 17))
  }

  test("gate ride-alongs observe one LONG mask whose bits are the probed prefix set") {
    // the gates' observed prefix set must be O(1) on the driver at any
    // batch size (a collect_set of per-row arrays is O(batch × bands)),
    // and must expand to exactly the set those arrays flatten to
    val sigs = DedupOps.textSignaturesOf(graft.model.Fixtures.documents(spark, sfDir))
    val rng = new scala.util.Random(7)
    val fps = (Seq(0L, -1L, Long.MaxValue, Long.MinValue) ++
      Seq.fill(200)(rng.nextLong())).toDF("dhash")
    val cases = Seq(
      (sigs, DedupOps.bandPrefixes, DedupOps.SigPrefixParts),
      (fps, DedupOps.blockPrefixes, DedupOps.MediaBandParts))
    for ((frame, keys, parts) <- cases; batch <- Seq(frame, frame.limit(0))) {
      val obs = org.apache.spark.sql.Observation()
      batch.observe(obs, DedupOps.keyMask(keys, parts).as("mask"),
          collect_set(keys).as("arrays"))
        .write.format("noop").mode("overwrite").save()
      val observed = obs.get
      assert(observed("mask").isInstanceOf[Long],
        s"the mask must observe as a single LONG: ${observed("mask")}")
      val old = observed("arrays").asInstanceOf[Seq[Seq[Int]]].flatten.distinct
      assert(DedupOps.maskKeys(observed("mask").asInstanceOf[Long]).toSet === old.toSet)
      assert(old.nonEmpty === (batch eq frame), "the full batch probes, the empty one not")
    }
  }
}
