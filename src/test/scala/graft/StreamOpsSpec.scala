package graft

import org.apache.spark.sql.functions._

import graft.model.Fixtures
import graft.streaming.StreamOps

/** Stream-vs-batch equivalence: the Structured Streaming guarantee (same
  * declarative query → same result on the same input) checked over the
  * events fixture, per SURVEY §5 — one of the streaming keys' TWO
  * independent locks (the round-7 batch-equivalent DuckDB oracles are
  * the other).
  */
class StreamOpsSpec extends SparkTestBase {

  private lazy val ev = Fixtures.events(spark, sfDir)

  test("staged stream input is a single file (the oracles' one-batch premise)") {
    // the batch-equivalent oracles for watermark dedup and the
    // redelivery tracker are valid because AvailableNow processes the
    // staged input in ONE micro-batch — which holds while the staging
    // dir contains exactly one file; splitting it invalidates the
    // determinism argument (see StreamOps.oracle), so fail loudly here
    StreamOps.eventsStream(spark, sfDir) // force staging
    val dir = StreamOps.stagedEventsDir(sfDir)
      .getOrElse(fail("eventsStream did not register a staging dir"))
    val listing = java.nio.file.Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      val files = listing.iterator().asScala.toSeq
      assert(files.size === 1, s"staging dir $dir must hold exactly one file: $files")
    } finally listing.close()
  }

  test("assertOneBatchPremise passes on the fixture (the gate-side premise guard)") {
    StreamOps.assertOneBatchPremise(spark, sfDir)
  }

  test("dlq split reuses one sink tree per sf dir and re-runs are idempotent") {
    val c1 = canon(StreamOps.streamDeadLetterSplit(spark, sfDir))
    val d1 = StreamOps.stagedDlqDir(sfDir)
      .getOrElse(fail("dlq split did not register a sink tree"))
    val c2 = canon(StreamOps.streamDeadLetterSplit(spark, sfDir))
    val d2 = StreamOps.stagedDlqDir(sfDir).get
    assert(d1 === d2, "second run must reuse the first run's sink tree")
    assert(c1 === c2, "epoch-overwrite must make re-runs idempotent")
  }

  test("stream_ann equals the batched index serving over the same id window") {
    val stream = StreamOps.streamAnnTopK(spark, sfDir, maxQueryId = 4L, k = 5)
    val batch = graft.operators.SimilarityOps
      .embeddingBatchTopK(spark, sfDir, Seq(0L, 1L, 2L, 3L, 4L), 5)
    assertSameRows(stream, batch)
  }

  test("stream_ann: an over-cap micro-batch serves through the join path, same rows") {
    // 5 ids arrive in one AvailableNow batch; a cap of 2 forces the
    // no-driver-id-list fallback — the admission guard that keeps an
    // uncapped trigger from collecting an arbitrary batch to the driver
    val before = graft.operators.SimilarityOps.annJoinServes.get()
    val stream = StreamOps.streamAnnTopK(spark, sfDir, maxQueryId = 4L, k = 5,
      maxDriverIds = 2)
    assert(graft.operators.SimilarityOps.annJoinServes.get() > before,
      "over-cap batch must route through embeddingBatchTopKFrame")
    val batch = graft.operators.SimilarityOps
      .embeddingBatchTopK(spark, sfDir, Seq(0L, 1L, 2L, 3L, 4L), 5)
    assertSameRows(stream, batch)
  }

  test("stream_ann refined serve equals the refined batch over the same id window") {
    import spark.implicits._
    val stream = StreamOps.streamAnnTopK(spark, sfDir, maxQueryId = 4L, k = 5,
      refined = true)
    val batch = graft.operators.SimilarityOps.embeddingBatchTopKRefinedFrame(
      spark, sfDir, (0L to 4L).toDF("vec_id"), 5)
    assertSameRows(stream, batch)
  }

  test("a stream that admits no rows reads back empty on the declared sink schema") {
    // no vec_id is <= -1: the one micro-batch is empty, the gate skips
    // every write, and the sink read takes its empty branch
    val stream = StreamOps.streamAnnTopK(spark, sfDir, maxQueryId = -1L)
    assert(stream.schema === org.apache.spark.sql.types.StructType.fromDDL(
      "qid BIGINT, vec_id BIGINT, cosine DOUBLE, rnk INT"))
    assert(stream.count() === 0L)
  }

  test("stream_idx equals the batch index projection over the whole corpus") {
    try {
      val stream = StreamOps.streamIndexAppend(spark, sfDir)
      val cents = graft.operators.SimilarityOps.stagedCentroidIndex(spark, sfDir)
      val cb = graft.operators.SimilarityOps.stagedPqCodebook(spark, sfDir)
      val batch = graft.operators.SimilarityOps
        .indexRows(graft.model.Fixtures.embeddings(spark, sfDir), cents, cb)
        .select(col("vec_id"), col("cell"), col("pq_code"))
      assertSameRows(stream, batch)
    } finally graft.operators.SimilarityOps.Segments.drop(sfDir)
  }

  test("stream_idx publishes segments to serving: overlay is row-identical under re-ingestion") {
    // the fixture stream re-ingests the corpus, so every segment row
    // duplicates a base row bit-for-bit — the LSM newest-wins read must
    // then serve EXACTLY the base results (the dedup anti-join, not a
    // doubled candidate set)
    val base = graft.operators.SimilarityOps
      .embeddingBatchTopK(spark, sfDir, Seq(0L, 7L, 13L), 5)
    val baseRows = canon(base)
    StreamOps.streamIndexAppend(spark, sfDir)
    try {
      val overlaid = graft.operators.SimilarityOps
        .embeddingBatchTopK(spark, sfDir, Seq(0L, 7L, 13L), 5)
      assert(canon(overlaid) === baseRows)
      // staleness now counts the registered segments (full corpus
      // re-ingested ⇒ exactly half the served rows are overlay)
      assert(graft.operators.SimilarityOps
        .ivfIndexStaleFraction(spark, sfDir) === 0.5)
    } finally graft.operators.SimilarityOps.Segments.drop(sfDir)
  }

  test("stream_tumbling equals the batch window aggregation") {
    val stream = StreamOps.streamTumblingWindow(spark, sfDir)
    val batch = ev
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        unix_millis(col("window.start")).as("hour_ms"),
        col("n"), col("sum_value"))
    assertSameRows(stream, batch)
  }

  test("stream_session equals the batch session aggregation") {
    val stream = StreamOps.streamSessionWindow(spark, sfDir)
    val batch = ev
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n"))
    assertSameRows(stream, batch)
  }

  test("stream_redelivery equals the batch per-key delivery count") {
    val stream = StreamOps.streamRedeliveryTracker(spark, sfDir)
    val batch = ev
      .groupBy(col("user_id"), (col("event_id") % 256).as("seq"))
      .agg(count(lit(1)).as("n_deliveries"))
    assertSameRows(stream, batch)
  }

  test("stream_enrich equals the batch join-aggregate") {
    val stream = StreamOps.streamEnrichJoin(spark, sfDir)
    val dim = Fixtures.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val batch = ev.join(dim, "user_id")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    assertSameRows(stream, batch)
  }

  test("complete-mode finals read back from their file sink, not a driver-local relation") {
    // a LocalRelation result ships every row inside the task that reads
    // it — the stream_session aggregate is ~5.5 MB at sf0.1, one
    // oversized task under a coalesce(1) dump
    Seq("stream_tumbling", "stream_session", "stream_enrich").foreach { key =>
      val plan = StreamOps.queries(key)(spark, sfDir).queryExecution.optimizedPlan
      val local = plan.collect {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      }
      assert(local.isEmpty, s"$key reads a LocalRelation:\n$plan")
    }
  }

  test("ss_join equals the batch self-join attribution aggregate") {
    val stream = StreamOps.streamStreamJoin(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("buy_ts"), col("value"))
    val batch = clicks.join(buys,
        col("user_id") === col("b_user") &&
          col("buy_ts") >= col("click_ts") &&
          col("buy_ts") <= col("click_ts") + expr("interval 30 minutes"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_attributed"),
        round(sum(col("value")), 2).as("sum_value"))
    assert(stream.count() > 0, "attribution join must match at least one pair")
    assertSameRows(stream, batch)
  }

  test("stream_dedup equals exact batch dedup on the same keys") {
    val stream = StreamOps.streamDedupWatermark(spark, sfDir)
    val batch = ev
      .select(col("user_id"), (col("event_id") % 256).as("seq"))
      .distinct()
    assertSameRows(stream, batch)
  }

  test("stream_lsh equals the batch incremental dedup over the whole corpus") {
    // cross-pairs-only ⇒ micro-batch-split independent: the streamed
    // union over the increment must equal docIncrementalDedup run
    // batch-wide (same signatures, same caps, same verify threshold)
    val stream = StreamOps.streamTextDedup(spark, sfDir)
    val batch = graft.operators.DedupOps
      .docIncrementalDedup(graft.model.Fixtures.documents(spark, sfDir))
    assertSameRows(stream, batch)
  }

  test("stream_img/wav/gif equal the cross-pair slices of their batch dedups") {
    import graft.operators.{DedupOps, Hashing}
    // cross-pairs-only ⇒ micro-batch-split independent: each modality's
    // streamed union over the media increment must equal its batch
    // dedup restricted to (new × base) pairs under the md5-bucket split
    // media newness = the GENERATING doc's increment membership (media
    // ids are disjoint from doc ids since round 15)
    def isNew(c: String) =
      Hashing.md5Bucket(
        graft.multimodal.MultimodalOps.mediaSrcDoc(col(c)), 1000) <
        DedupOps.IncrementPermille
    val batchDups: Map[String, org.apache.spark.sql.DataFrame] = Map(
      "img" -> DedupOps.ImageModality.dups(spark, sfDir),
      "wav" -> DedupOps.AudioModality.dups(spark, sfDir),
      "gif" -> DedupOps.VideoModality.dups(spark, sfDir))
    for (m <- DedupOps.MediaModalities) {
      val stream = StreamOps.streamMediaDedup(spark, sfDir, m)
      val batch = batchDups(m.name)
        .filter(isNew("media_a") =!= isNew("media_b"))
        .select(
          when(isNew("media_a"), col("media_a")).otherwise(col("media_b"))
            .as("new_media"),
          when(isNew("media_a"), col("media_b")).otherwise(col("media_a"))
            .as("base_media"),
          col("hamming"))
      assert(stream.count() > 0, s"${m.name}: fixture must contain cross near-dups")
      assertSameRows(stream, batch)
    }
  }

  test("the stream_xm edge topic equals the four gates' batch outputs, linked") {
    // the topology claim: the staged increment-cross-edge artifact the
    // reconciliation consumes is exactly what the four ingestion gates
    // produce on the full admitted increment, mapped through the link —
    // so consuming the topic IS consuming the gates' outputs
    import graft.operators.DedupOps
    val docs = Fixtures.documents(spark, sfDir)
    val increment = docs.filter(DedupOps.isNewDoc)
    val textEdges = DedupOps.incrementalDedupBatch(spark, sfDir, increment)
      .select(col("new_doc").as("doc_a"), col("base_doc").as("doc_b"))
    val mediaPairs = DedupOps.MediaModalities.map(m =>
      DedupOps.incrementalMediaDedupBatch(spark, sfDir, m.assets(increment), m)
        .select(col("new_media"), col("base_media")))
    val viaGates = DedupOps.crossModalEdgesOf(textEdges, mediaPairs,
      graft.multimodal.MultimodalOps.mediaLink(docs))
    val topic = DedupOps.stagedIncrementCrossEdges(spark, sfDir)
    assert(topic.count() > 0, "fixture must produce cross edges")
    assertSameRows(topic, viaGates)
  }

  test("stream_xm equals the from-scratch closure election over base + cross edges") {
    // the streamed merge's serving view must equal closing (from
    // scratch) every linked edge EXCEPT new x new — computed here
    // through an independent engine path: the full edge list, filtered,
    // closed via the public merge-with-empty-prior (= plain closure),
    // then the same election
    import graft.operators.DedupOps
    import spark.implicits._
    val docs = Fixtures.documents(spark, sfDir)
    val link = graft.multimodal.MultimodalOps.mediaLink(docs)
    val edges = DedupOps.crossModalEdgesOf(
      DedupOps.stagedLshVerifiedDups(spark, sfDir)
        .select(col("doc_a"), col("doc_b")),
      Seq(
        DedupOps.ImageModality.dups(spark, sfDir).select(col("media_a"), col("media_b")),
        DedupOps.AudioModality.dups(spark, sfDir).select(col("media_a"), col("media_b")),
        DedupOps.VideoModality.dups(spark, sfDir).select(col("media_a"), col("media_b"))),
      link)
      .filter(!(DedupOps.isNewId(col("doc_a")) && DedupOps.isNewId(col("doc_b"))))
    val emptyGroups = Seq.empty[(Long, Long, Int, Long)]
      .toDF("doc_id", "cluster", "is_canonical", "cluster_size")
    val expected = DedupOps.crossModalKeepBestOver(spark, sfDir,
      DedupOps.mergeClusterIncrement(emptyGroups, edges))
    val served = StreamOps.streamCrossModalMerge(spark, sfDir)
    assert(served.count() > 0, "fixture must produce cross-modal clusters")
    assertSameRows(served, expected)
    // the SERVED plan is the election over the merged-assignment sink:
    // no probe-index scan, no fingerprint artifact, not even the edge
    // topic — all of that was consumed inside the stream (the
    // media-gate plan-guard discipline)
    val p = served.queryExecution.executedPlan.toString
    assert(!p.contains("_media_idx_"), s"probe index scan in served plan:\n$p")
    assert(!p.contains("_band_idx_s"), s"band index scan in served plan:\n$p")
    assert(!p.contains("graft_media_fp_"), s"fingerprint scan in served plan:\n$p")
    assert(!p.contains("graft_xm_edges_"), s"edge-topic scan in served plan:\n$p")
  }

  test("stream_xm sink is a delta overlay: epochs hold only touched rows, serve = full merge") {
    // the r15-verdict scale property made behavioral: the per-epoch
    // write is the RE-CLOSED rows alone (every member of every touched
    // cluster + the new endpoints), strictly fewer than the full
    // assignment, and the overlay read (base anti-joined on delta ids ∪
    // newest-wins deltas) reconstructs exactly the full merge's rewrite
    import graft.operators.DedupOps
    val base = DedupOps.stagedBaseCrossModalGroups(spark, sfDir)
    val edges = DedupOps.stagedIncrementCrossEdges(spark, sfDir)
    val delta = DedupOps.mergeClusterIncrementDelta(base, edges)
    val full = DedupOps.mergeClusterIncrement(base, edges)
    val (nDelta, nFull) = (delta.count(), full.count())
    assert(nDelta > 0, "fixture increment must touch clusters")
    assert(nDelta < nFull,
      s"delta ($nDelta rows) must be a strict subset of the assignment ($nFull): " +
        "an epoch sink writing everything is the full-rewrite regression")
    // delta rows ARE the touched slice: full = untouched base ∪ delta
    val untouched = full.join(delta.select("doc_id"), Seq("doc_id"), "left_anti")
    assertSameRows(untouched.unionByName(delta), full)
    // and the overlay READ reconstructs the full merge through a real
    // epoch dir (the exact serve path the stream uses)
    val root = java.nio.file.Files.createTempDirectory("graft_xm_delta_spec_")
    graft.util.TempDirs.track(root)
    delta.write.mode("overwrite").parquet(s"$root/epoch=0")
    assertSameRows(
      DedupOps.servedClusterAssignment(spark, base, root.toString), full)
    // the replay read (own epoch excluded) is exactly the pre-epoch view
    assertSameRows(
      DedupOps.servedClusterAssignment(spark, base, root.toString,
        excludeEpoch = Some(0L)), base)
  }

  test("staged touched-selection equals the generic merge over the served view") {
    // mergeClusterIncrementDeltaStaged (the pruned per-batch form) must
    // row-equal mergeClusterIncrementDelta over the materialized served
    // view, in all three serving states: no overlay, a live overlay
    // epoch, and a replay (own epoch excluded)
    import graft.operators.DedupOps
    val base = DedupOps.stagedBaseCrossModalGroups(spark, sfDir)
    val edges = DedupOps.stagedIncrementCrossEdges(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft_xm_staged_eq_")
    graft.util.TempDirs.track(root)
    // no overlay: the pure pruned-base path
    assertSameRows(
      DedupOps.mergeClusterIncrementDeltaStaged(spark, sfDir,
        root.toString, excludeEpoch = None, edges),
      DedupOps.mergeClusterIncrementDelta(base, edges))
    // live overlay: the first half lands as epoch 0, the second folds
    // THROUGH the overlay (shadowed base rows must not resurrect)
    val e0 = edges.filter(pmod(col("doc_a") + col("doc_b"), lit(2)) === 0)
    val e1 = edges.filter(pmod(col("doc_a") + col("doc_b"), lit(2)) === 1)
    assert(e0.count() > 0 && e1.count() > 0,
      "fixture edges must split into two non-empty batches")
    DedupOps.mergeClusterIncrementDelta(base, e0)
      .write.mode("overwrite").parquet(s"$root/epoch=0")
    val v1 = DedupOps.servedClusterAssignment(spark, base, root.toString)
    val d1 = DedupOps.mergeClusterIncrementDelta(v1, e1)
    assertSameRows(
      DedupOps.mergeClusterIncrementDeltaStaged(spark, sfDir,
        root.toString, excludeEpoch = None, e1), d1)
    // replay: epoch 1 already on disk, the re-run excludes its own
    // epoch and must reproduce the same delta deterministically
    d1.write.mode("overwrite").parquet(s"$root/epoch=1")
    assertSameRows(
      DedupOps.mergeClusterIncrementDeltaStaged(spark, sfDir,
        root.toString, excludeEpoch = Some(1L), e1), d1)
  }

  test("cluster overlay lifecycle: register, append, gauge, re-stage compaction") {
    import graft.operators.DedupOps
    DedupOps.ClusterDeltas.drop(sfDir)
    // stage EXPLICITLY before any gauge read (resolve-never-build)
    val base = DedupOps.stagedBaseCrossModalGroups(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft_xm_overlay_")
    graft.util.TempDirs.track(root)
    try {
      DedupOps.registerClusterDeltas(spark, sfDir, root.toString)
      assert(DedupOps.xmMergedFraction(spark, sfDir) === 0.0,
        "freshly registered overlay holds no deltas")
      val edges = DedupOps.stagedIncrementCrossEdges(spark, sfDir)
      val delta = DedupOps.mergeClusterIncrementDelta(base, edges)
      delta.write.mode("overwrite").parquet(s"$root/epoch=0")
      assert(DedupOps.ClusterDeltas.noteAppend(sfDir, root.toString, delta.count(), epochId = 0L))
      // a REPLAY of the same epoch must not double-count (idempotent sink)
      assert(!DedupOps.ClusterDeltas.noteAppend(sfDir, root.toString, delta.count(), epochId = 0L))
      val frac = DedupOps.xmMergedFraction(spark, sfDir)
      assert(frac > 0.0 && frac < 1.0, s"merged fraction $frac")
      // the SERVED view is the overlay read = the full merge
      assertSameRows(DedupOps.servedCrossModalGroups(spark, sfDir),
        DedupOps.mergeClusterIncrement(base, edges))
      // under the threshold: no re-stage, registration stays
      assert(!DedupOps.maybeRestageCrossModal(spark, sfDir, threshold = frac))
      assert(DedupOps.ClusterDeltas.resolve(sfDir) === Some(root.toString))
      // over the threshold: compaction — base rebuilds from the corpus
      // alone, the registration retires, un-compacted deltas drop
      assert(DedupOps.maybeRestageCrossModal(spark, sfDir, threshold = 0.0))
      assert(DedupOps.ClusterDeltas.resolve(sfDir) === None)
      assert(DedupOps.xmMergedFraction(spark, sfDir) === 0.0)
      assertSameRows(DedupOps.servedCrossModalGroups(spark, sfDir),
        DedupOps.stagedBaseCrossModalGroups(spark, sfDir))
      // an epoch landing after retirement must not resurrect the gauge
      assert(!DedupOps.ClusterDeltas.noteAppend(sfDir, root.toString, 5L, epochId = 1L))
      // self-healing: a registration whose root dir DIED (a dead JVM's
      // swept temp root) drops on read — registration creates the dir,
      // so simulate death by deleting it
      val dying = s"$root/dies_later"
      DedupOps.registerClusterDeltas(spark, sfDir, dying)
      assert(DedupOps.ClusterDeltas.resolve(sfDir) === Some(dying))
      java.nio.file.Files.delete(java.nio.file.Paths.get(dying))
      assert(DedupOps.ClusterDeltas.resolve(sfDir) === None)
      assert(DedupOps.xmMergedFraction(spark, sfDir) === 0.0)
    } finally DedupOps.ClusterDeltas.drop(sfDir)
  }

  test("cluster overlay registration survives a restart: manifest alone restores serve + gauge") {
    // the xm registration of record lives ONLY in the persisted manifest
    // (no JVM-local fast path) — a fresh SparkSession over the same
    // corpus must resolve the same overlay view and the same gauge (the
    // segment-registration restart discipline, r14)
    import graft.operators.DedupOps
    DedupOps.ClusterDeltas.drop(sfDir)
    val base = DedupOps.stagedBaseCrossModalGroups(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft_xm_restart_")
    graft.util.TempDirs.track(root)
    try {
      DedupOps.registerClusterDeltas(spark, sfDir, root.toString)
      val edges = DedupOps.stagedIncrementCrossEdges(spark, sfDir)
      val delta = DedupOps.mergeClusterIncrementDelta(base, edges)
      delta.write.mode("overwrite").parquet(s"$root/epoch=0")
      assert(DedupOps.ClusterDeltas.noteAppend(sfDir, root.toString,
        delta.count(), epochId = 0L))
      val fracBefore = DedupOps.xmMergedFraction(spark, sfDir)
      assert(fracBefore > 0.0)
      val servedBefore = canon(DedupOps.servedCrossModalGroups(spark, sfDir))
      // SIMULATED RESTART: new session; the staged base memo survives
      // in-JVM but the registration is re-read from the manifest
      val s2 = spark.newSession()
      assert(DedupOps.xmMergedFraction(s2, sfDir) === fracBefore,
        "merged-fraction gauge must persist across the restart")
      assert(canon(DedupOps.servedCrossModalGroups(s2, sfDir)) === servedBefore,
        "the restarted session must serve the same overlay view")
    } finally DedupOps.ClusterDeltas.drop(sfDir)
  }

  test("live topology: the four gates publish one edge topic, the merge consumes it") {
    // the end-to-end production shape (r15 verdict #5): run the four
    // ingestion gate STREAMS with their edge-publish leg pointed at one
    // shared topic dir, then a live streamCrossModalMerge consuming
    // that dir — the final election must equal the staged-edge-topic
    // contract run (which is spec-locked to the from-scratch closure)
    import graft.operators.DedupOps
    val topic = java.nio.file.Files.createTempDirectory("graft_xm_topic_")
    graft.util.TempDirs.track(topic)
    val dir = topic.toString
    StreamOps.streamTextDedup(spark, sfDir, publishEdgesTo = Some(dir))
    DedupOps.MediaModalities.foreach { m =>
      StreamOps.streamMediaDedup(spark, sfDir, m, publishEdgesTo = Some(dir))
    }
    // the published topic row-equals the staged edge artifact (the
    // contract key's topic) — the gates really produced the edges
    assertSameRows(
      spark.read.parquet(dir).distinct(),
      DedupOps.stagedIncrementCrossEdges(spark, sfDir))
    val live = StreamOps.streamCrossModalMerge(spark, sfDir, dir)
    val staged = StreamOps.streamCrossModalMerge(spark, sfDir)
    assertSameRows(live, staged)
  }

  test("stream_xm: a DOUBLE-typed edge topic merges exactly like the LONG-typed one") {
    // the merge casts endpoints to long before bucketing; the gate's
    // observed bucket hint must too, or a DOUBLE id hashes as "5.0" and
    // the per-batch selection prunes the wrong doc-bucket partitions.
    // A few edges into base clusters: with few endpoints a mis-hashed
    // hint misses the base docs' buckets rather than covering them all.
    import graft.operators.DedupOps
    val clustered = DedupOps.stagedBaseCrossModalGroups(spark, sfDir)
      .filter(col("doc_id") =!= col("cluster")).select("doc_id")
    val edges = DedupOps.stagedIncrementCrossEdges(spark, sfDir)
      .join(clustered,
        col("doc_a") === col("doc_id") || col("doc_b") === col("doc_id"), "left_semi")
      .orderBy("doc_a", "doc_b").limit(3)
    assert(edges.count() === 3, "fixture must have edges into base clusters")
    val topic = java.nio.file.Files.createTempDirectory("graft_xm_typed_topic_")
    graft.util.TempDirs.track(topic)
    def topicOf(t: String): String = {
      val dir = topic.resolve(t).toString
      edges.select(col("doc_a").cast(t), col("doc_b").cast(t)).write.parquet(dir)
      dir
    }
    val asLong = StreamOps.streamCrossModalMerge(spark, sfDir, topicOf("long"))
    assert(asLong.count() > 0, "fixture must produce cross-modal clusters")
    assertSameRows(StreamOps.streamCrossModalMerge(spark, sfDir, topicOf("double")), asLong)
  }

  test("stream_dc equals the batch decontamination and serves a frozen probe index") {
    import graft.operators.DedupOps
    val streamed = StreamOps.streamDecontaminate(spark, sfDir)
    assert(streamed.count() > 0, "fixture must produce contaminated docs")
    // split-independence cashes out as equality with the batch detector
    // over the whole corpus (the key's oracle, via its staged twin)
    assertSameRows(streamed, DedupOps.stagedContamination(spark, sfDir))
    // the probe-gram index is a frozen staged artifact: a second
    // streaming run rebuilds nothing
    val b0 = DedupOps.textStageBuilds.get()
    StreamOps.streamDecontaminate(spark, sfDir)
    assert(DedupOps.textStageBuilds.get() === b0,
      "a second streaming run must serve from the already-staged probe grams")
  }

  test("stream_img serves every micro-batch from the FROZEN staged media index") {
    graft.operators.DedupOps.MediaModalities.foreach(_.index.drop())
    val m0 = graft.operators.DedupOps.mediaProbeStageBuilds.get()
    StreamOps.streamMediaDedup(spark, sfDir, graft.operators.DedupOps.ImageModality)
    assert(graft.operators.DedupOps.mediaProbeStageBuilds.get() === m0 + 1)
    StreamOps.streamMediaDedup(spark, sfDir, graft.operators.DedupOps.ImageModality)
    assert(graft.operators.DedupOps.mediaProbeStageBuilds.get() === m0 + 1,
      "a second streaming run must serve from the already-staged index")
  }

  test("stream_lsh verifies against the FROZEN staged index, not a re-tokenized corpus") {
    // the per-batch body must not rebuild the signature index: one
    // staged build serves every micro-batch (and every later text key)
    graft.operators.DedupOps.TextArtifacts.foreach(_.forget())
    graft.operators.DedupOps.TextIndex.drop()
    val b0 = graft.operators.DedupOps.textStageBuilds.get()
    val p0 = graft.operators.DedupOps.probeStageBuilds.get()
    StreamOps.streamTextDedup(spark, sfDir)
    assert(graft.operators.DedupOps.textStageBuilds.get() === b0 + 1)
    assert(graft.operators.DedupOps.probeStageBuilds.get() === p0 + 2,
      "one band-probe index build + one shingle index build")
    StreamOps.streamTextDedup(spark, sfDir)
    assert(graft.operators.DedupOps.textStageBuilds.get() === b0 + 1,
      "a second streaming run must serve from the already-staged index")
    assert(graft.operators.DedupOps.probeStageBuilds.get() === p0 + 2,
      "a second streaming run must serve from the already-staged probe indexes")
  }

  test("cluster-delta compaction folds epochs, preserves the served view, re-arms the gauge") {
    // r16 verdict #2: N epochs → intra-overlay compaction → identical
    // served view; the delta-row counter tightens (never grows), the
    // epoch gauge drops to 2, and appends after the fold still land
    import graft.operators.DedupOps
    DedupOps.ClusterDeltas.drop(sfDir)
    val base = DedupOps.stagedBaseCrossModalGroups(spark, sfDir)
    val edges = DedupOps.stagedIncrementCrossEdges(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft_xm_compact_")
    graft.util.TempDirs.track(root)
    try {
      DedupOps.registerClusterDeltas(spark, sfDir, root.toString)
      // four epochs: the edge stream split round-robin (row_number mod 4
      // — guaranteed non-empty for any ≥4-edge fixture), each fold over
      // the PRIOR served view (the stream's exact shape)
      val numbered = edges.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("doc_a", "doc_b")))
      (0L to 3L).foreach { e =>
        val b = numbered.filter(pmod(col("rn"), lit(4)) === e)
          .drop("rn")
        assert(b.count() > 0, s"fixture slice $e must be non-empty")
        val served = DedupOps.servedClusterAssignment(spark, base, root.toString)
        val delta = DedupOps.mergeClusterIncrementDelta(served, b)
        delta.write.mode("overwrite").parquet(s"$root/epoch=$e")
        assert(DedupOps.ClusterDeltas.noteAppend(sfDir, root.toString,
          delta.count(), epochId = e))
      }
      assert(graft.util.EpochDirs.list(root.toString) === Seq(0L, 1L, 2L, 3L))
      val before = canon(DedupOps.servedClusterAssignment(spark, base, root.toString))
      val fracBefore = DedupOps.xmMergedFraction(spark, sfDir)
      assert(fracBefore > 0.0)
      // below the cadence: a no-op (and the epoch gauge still records)
      assert(!DedupOps.maybeCompactClusterDeltas(spark, sfDir, root.toString,
        maxEpochs = 8))
      assert(graft.util.ServingManifest.get(sfDir, "xm_deltas",
        Seq("documents")).get("epochs") === Some("4"))
      // over the cadence: epochs 0..2 fold into epoch=2, epoch 3 (the
      // replayable newest) stays out
      assert(DedupOps.maybeCompactClusterDeltas(spark, sfDir, root.toString,
        maxEpochs = 2))
      assert(graft.util.EpochDirs.list(root.toString) === Seq(2L, 3L))
      assert(canon(DedupOps.servedClusterAssignment(spark, base, root.toString))
        === before, "the fold must not change the served view")
      // the collapse de-duplicates re-touched docs: the staleness gauge
      // tightens, never grows, and never re-arms to zero (the overlay
      // is still stale — only the re-stage resets it)
      val fracAfter = DedupOps.xmMergedFraction(spark, sfDir)
      assert(fracAfter > 0.0 && fracAfter <= fracBefore,
        s"$fracAfter vs $fracBefore")
      assert(graft.util.ServingManifest.get(sfDir, "xm_deltas",
        Seq("documents")).get("epochs") === Some("2"))
      // the stream continues past the fold: a later epoch still lands,
      // still bumps the counter (the high-water mark survived), and the
      // view equals the one-shot merge over ALL edges
      val served2 = DedupOps.servedClusterAssignment(spark, base, root.toString)
      val extra = DedupOps.mergeClusterIncrementDelta(served2, edges)
      extra.write.mode("overwrite").parquet(s"$root/epoch=4")
      assert(DedupOps.ClusterDeltas.noteAppend(sfDir, root.toString,
        extra.count(), epochId = 4L))
      assertSameRows(
        DedupOps.servedClusterAssignment(spark, base, root.toString),
        DedupOps.mergeClusterIncrement(base, edges))
      // full re-stage re-arms to zero (the compaction contract)
      assert(DedupOps.maybeRestageCrossModal(spark, sfDir, threshold = 0.0))
      assert(DedupOps.xmMergedFraction(spark, sfDir) === 0.0)
    } finally DedupOps.ClusterDeltas.drop(sfDir)
  }

  test("ANN segment compaction folds epochs, preserves the served view, re-arms the gauge") {
    // r16 verdict #5 for the vector family: register → append → compact
    // → retrain, asserting the staleness gauge at every step and the
    // served index row-equal across the fold
    import graft.operators.SimilarityOps
    SimilarityOps.Segments.drop(sfDir)
    val emb = Fixtures.embeddings(spark, sfDir)
    val cents = SimilarityOps.stagedCentroidIndex(spark, sfDir)
    val cb = SimilarityOps.stagedPqCodebook(spark, sfDir)
    val segRoot = java.nio.file.Files.createTempDirectory("graft_seg_compact_")
    graft.util.TempDirs.track(segRoot)
    try {
      def slice(e: Long) = emb.filter(pmod(col("vec_id"), lit(4)) === e)
      (0L to 1L).foreach { e =>
        SimilarityOps.indexRows(slice(e), cents, cb)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$segRoot/epoch=$e")
      }
      SimilarityOps.registerIndexSegments(spark, sfDir, segRoot.toString)
      val stale0 = SimilarityOps.ivfIndexStaleFraction(spark, sfDir)
      assert(stale0 > 0.0)
      (2L to 3L).foreach { e =>
        val s = slice(e)
        SimilarityOps.indexRows(s, cents, cb)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(s"$segRoot/epoch=$e")
        assert(SimilarityOps.Segments.noteAppend(sfDir, segRoot.toString,
          s.count(), epochId = e))
      }
      val staleBefore = SimilarityOps.ivfIndexStaleFraction(spark, sfDir)
      assert(staleBefore > stale0, "appends must grow the gauge")
      val before = canon(SimilarityOps.servedIndex(spark, sfDir))
      assert(SimilarityOps.maybeCompactIndexSegments(spark, sfDir,
        segRoot.toString, maxEpochs = 2))
      assert(graft.util.EpochDirs.list(segRoot.toString) === Seq(2L, 3L))
      assert(canon(SimilarityOps.servedIndex(spark, sfDir)) === before,
        "the fold must not change the served index")
      // the post-fold counter is the AUTHORITATIVE physical recount
      // (ADVICE r17): this fixture's epochs are disjoint vec_id slices,
      // so it equals the pre-fold value exactly — and must NOT re-arm
      // to zero; only the retrain does. (A re-ingested vec_id would
      // legitimately SHRINK it here, which is the recount's point.)
      assert(SimilarityOps.ivfIndexStaleFraction(spark, sfDir) === staleBefore)
      assert(graft.util.ServingManifest.get(sfDir, "ann_segments",
        Seq("embeddings")).get("epochs") === Some("2"))
      // the retrain absorbs the overlay and re-arms the gauge to zero
      assert(SimilarityOps.maybeRetrainStagedIndex(spark, sfDir, 0.0))
      assert(SimilarityOps.ivfIndexStaleFraction(spark, sfDir) === 0.0)
      assert(SimilarityOps.Segments.resolve(sfDir) === None)
    } finally SimilarityOps.Segments.drop(sfDir)
  }

  test("ANN tombstone: a deleted vector leaves the served top-k, survives folds, clears at retrain") {
    // r17 verdict #2 (next): takedown at INCREMENT cadence — before
    // this, a deleted vector kept serving until the corpus re-stage.
    import graft.operators.SimilarityOps
    SimilarityOps.Segments.drop(sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft_ann_tomb_")
    graft.util.TempDirs.track(root)
    try {
      val base = SimilarityOps.embeddingBatchTopK(spark, sfDir, Seq(0L), 5)
        .orderBy("rnk").collect()
      val victim = base(0).getAs[Long]("vec_id")
      val runnerUp = base(1).getAs[Long]("vec_id")
      import spark.implicits._
      SimilarityOps.tombstoneSegmentRows(spark, sfDir,
          Seq(victim).toDF("vec_id"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$root/epoch=0")
      SimilarityOps.registerIndexSegments(spark, sfDir, root.toString)
      val served = SimilarityOps.embeddingBatchTopK(spark, sfDir, Seq(0L), 5)
        .orderBy("rnk").collect()
      assert(!served.exists(_.getAs[Long]("vec_id") == victim),
        "the tombstoned vector must leave the served top-k")
      assert(served(0).getAs[Long]("vec_id") === runnerUp,
        "the former rank-2 takes rank 1")
      // TERMINAL at increment cadence: a LATER live re-ingestion epoch
      // does not resurrect the id (un-deleting is the re-stage's job)
      val cents = SimilarityOps.stagedCentroidIndex(spark, sfDir)
      val cb = SimilarityOps.stagedPqCodebook(spark, sfDir)
      SimilarityOps.indexRows(Fixtures.embeddings(spark, sfDir)
          .filter(col("vec_id") === victim), cents, cb)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$root/epoch=1")
      assert(SimilarityOps.servedIndex(spark, sfDir)
        .filter(col("vec_id") === victim).count() === 0)
      // the fold CARRIES the tombstone (dominant over the later live
      // row): epochs 0,1 collapse into 1, the served view is unchanged
      SimilarityOps.indexRows(Fixtures.embeddings(spark, sfDir)
          .filter(col("vec_id") === runnerUp), cents, cb)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$root/epoch=2")
      val beforeFold = canon(SimilarityOps.servedIndex(spark, sfDir))
      assert(SimilarityOps.maybeCompactIndexSegments(spark, sfDir,
        root.toString, maxEpochs = 2))
      assert(graft.util.EpochDirs.list(root.toString) === Seq(1L, 2L))
      assert(canon(SimilarityOps.servedIndex(spark, sfDir)) === beforeFold,
        "the fold must not change the served view (tombstone carried)")
      assert(SimilarityOps.servedIndex(spark, sfDir)
        .filter(col("vec_id") === victim).count() === 0)
      // the retrain absorbs the overlay: the fixture corpus still
      // carries the vector, so it serves again — durable deletion is
      // the corpus rewrite's job, the overlay covers the gap between
      assert(SimilarityOps.maybeRetrainStagedIndex(spark, sfDir, 0.0))
      val after = SimilarityOps.embeddingBatchTopK(spark, sfDir, Seq(0L), 5)
        .orderBy("rnk").collect()
      assert(after(0).getAs[Long]("vec_id") === victim)
    } finally SimilarityOps.Segments.drop(sfDir)
  }

  test("cluster tombstone: a retracted doc leaves its group; the group's other members keep serving") {
    import graft.operators.DedupOps
    DedupOps.ClusterDeltas.drop(sfDir)
    val base = DedupOps.stagedBaseCrossModalGroups(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("graft_xm_tomb_")
    graft.util.TempDirs.track(root)
    try {
      DedupOps.registerClusterDeltas(spark, sfDir, root.toString)
      // retract a member of a multi-member group
      val pick = base.filter(col("cluster_size") >= 2)
        .orderBy("doc_id").limit(1).collect()(0)
      val target = pick.getAs[Long]("doc_id")
      val grp = pick.getAs[Long]("cluster")
      val membersBefore = DedupOps
        .servedClusterAssignment(spark, base, root.toString)
        .filter(col("cluster") === grp).count()
      import spark.implicits._
      DedupOps.tombstoneClusterDocs(spark, sfDir, root.toString,
        Seq(target).toDF("doc_id"), epochId = 0L)
      val served = DedupOps.servedClusterAssignment(spark, base, root.toString)
      assert(served.filter(col("doc_id") === target).count() === 0,
        "the retracted doc must leave the served assignment")
      assert(served.filter(col("cluster") === grp).count()
        === membersBefore - 1, "the group's other members keep serving")
      // TERMINAL at increment cadence: a later live delta row for the
      // doc does not resurrect it
      base.filter(col("doc_id") === target)
        .write.mode("overwrite").parquet(s"$root/epoch=1")
      assert(DedupOps.servedClusterAssignment(spark, base, root.toString)
        .filter(col("doc_id") === target).count() === 0)
      // the fold CARRIES the tombstone: a third epoch trips cadence 2,
      // epochs 0,1 collapse, the retraction still serves
      base.filter(col("doc_id") =!= target).limit(1)
        .write.mode("overwrite").parquet(s"$root/epoch=2")
      val beforeFold = canon(
        DedupOps.servedClusterAssignment(spark, base, root.toString))
      assert(DedupOps.maybeCompactClusterDeltas(spark, sfDir, root.toString,
        maxEpochs = 2))
      assert(graft.util.EpochDirs.list(root.toString) === Seq(1L, 2L))
      assert(canon(DedupOps.servedClusterAssignment(spark, base, root.toString))
        === beforeFold, "the fold must not change the served view")
      assert(DedupOps.servedClusterAssignment(spark, base, root.toString)
        .filter(col("doc_id") === target).count() === 0)
    } finally DedupOps.ClusterDeltas.drop(sfDir)
  }

  test("ANN segment fold: a crash at either swap stage heals at the next entry") {
    // the segment overlay folds through EpochDirs' hide-don't-delete
    // swap (r17 verdict #3: a union read with no dedup must never serve
    // a folded row twice). This spec injects the crash at BOTH stages a
    // killed writer can leave and asserts the next maintenance turn /
    // registration serves the full row set and leaves nothing hidden.
    import graft.operators.SimilarityOps
    import graft.util.EpochDirs
    SimilarityOps.Segments.drop(sfDir)
    val emb = Fixtures.embeddings(spark, sfDir)
    val cents = SimilarityOps.stagedCentroidIndex(spark, sfDir)
    val cb = SimilarityOps.stagedPqCodebook(spark, sfDir)
    val segRoot = java.nio.file.Files.createTempDirectory("graft_seg_crash_")
    graft.util.TempDirs.track(segRoot)
    val root = segRoot.toString
    def segRows = graft.util.ServingManifest
      .get(sfDir, "ann_segments", Seq("embeddings"))("segRows")
    def visibleRows = spark.read.option("mergeSchema", "true").parquet(root).count()
    def dotted = new java.io.File(root).listFiles().map(_.getName)
      .filter(_.startsWith(".")).toSeq
    def crashAt(stage: String): Unit = {
      EpochDirs.crashpoint = s =>
        if (s == stage) throw new RuntimeException(s"injected crash $stage")
      try intercept[RuntimeException] {
        SimilarityOps.maybeCompactIndexSegments(spark, sfDir, root, maxEpochs = 2)
      } finally EpochDirs.crashpoint = _ => ()
    }
    def slice(e: Long) = emb.filter(pmod(col("vec_id"), lit(6)) === e)
    def writeEpoch(e: Long): Unit =
      SimilarityOps.indexRows(slice(e), cents, cb)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$root/epoch=$e")
    try {
      (0L to 3L).foreach(writeEpoch)
      SimilarityOps.registerIndexSegments(spark, sfDir, root)
      val before = canon(SimilarityOps.servedIndex(spark, sfDir))
      val rowsBefore = segRows
      // stage 1 — sources hidden, collapse unpublished: the degraded
      // state is real (only the newest epoch's rows are visible)
      crashAt("afterHide")
      assert(EpochDirs.list(root) === Seq(3L))
      assert(visibleRows === slice(3L).count())
      assert(dotted.count(_.startsWith(".folded_")) === 3)
      // the next maintenance turn rolls back first, then folds again
      assert(SimilarityOps.maybeCompactIndexSegments(spark, sfDir, root,
        maxEpochs = 2))
      assert(EpochDirs.list(root) === Seq(2L, 3L))
      assert(canon(SimilarityOps.servedIndex(spark, sfDir)) === before,
        "recovery must restore every folded row to the served view")
      assert(segRows === rowsBefore)
      assert(dotted.isEmpty, s"hidden leftovers: $dotted")
      // stage 2 — published, hidden sources not yet deleted: the view
      // is already whole; the restart path (re-registration of the same
      // root) sweeps the leftovers before it recounts
      (4L to 5L).foreach { e =>
        writeEpoch(e)
        assert(SimilarityOps.Segments.noteAppend(sfDir, root,
          slice(e).count(), epochId = e))
      }
      val before2 = canon(SimilarityOps.servedIndex(spark, sfDir))
      val rowsBefore2 = segRows
      crashAt("afterPublish")
      assert(EpochDirs.list(root) === Seq(4L, 5L))
      assert(dotted.nonEmpty && dotted.forall(_.startsWith(".folded_")))
      assert(canon(SimilarityOps.servedIndex(spark, sfDir)) === before2)
      SimilarityOps.registerIndexSegments(spark, sfDir, root)
      assert(dotted.isEmpty, s"hidden leftovers: $dotted")
      assert(EpochDirs.list(root) === Seq(4L, 5L))
      assert(canon(SimilarityOps.servedIndex(spark, sfDir)) === before2)
      assert(segRows === rowsBefore2)
    } finally {
      EpochDirs.crashpoint = _ => ()
      SimilarityOps.Segments.drop(sfDir)
    }
  }

  test("epoch-sink retention: folds preserve the sink read for both shapes, crash states recover") {
    // r17 verdict #4: the result sinks get the overlays' retention
    // contract — append-shaped folds by concat, update-shaped keeps
    // per-key newest-epoch rows, the newest epoch stays out (replay),
    // and the hide-don't-delete swap recovers from any crash point.
    import spark.implicits._
    import graft.util.EpochDirs
    // APPEND shape — disjoint rows per epoch, the dedup-gate/decontam
    // sink (stream_dc's own rows split as 4 triggers would land them)
    val dc = StreamOps.queries("stream_dc")(spark, sfDir)
    val dcRows = dc.collect()
    assert(dcRows.nonEmpty)
    val rootA = java.nio.file.Files.createTempDirectory("graft_sink_fold_a_")
    graft.util.TempDirs.track(rootA)
    val dcDf = spark.createDataFrame(
      java.util.Arrays.asList(dcRows: _*), dc.schema)
    (0L to 3L).foreach { e =>
      dcDf.filter(pmod(col("doc_id"), lit(4)) === e)
        .write.mode("overwrite").parquet(s"$rootA/epoch=$e")
    }
    val beforeA = canon(spark.read.parquet(rootA.toString).drop("epoch"))
    assert(EpochDirs.foldEpochSink(spark, rootA.toString, maxEpochs = 2))
    assert(EpochDirs.list(rootA.toString) === Seq(2L, 3L))
    assert(canon(spark.read.parquet(rootA.toString).drop("epoch")) === beforeA,
      "the append-shaped fold must preserve the sink read row-for-row")
    // UPDATE shape — cumulative per-key emissions (the tracker shape):
    // each later epoch re-emits every key with a higher count
    val rootU = java.nio.file.Files.createTempDirectory("graft_sink_fold_u_")
    graft.util.TempDirs.track(rootU)
    (0L to 3L).foreach { e =>
      (1L to 4L).map(u => (u, e + u)).toDF("user_id", "n")
        .write.mode("overwrite").parquet(s"$rootU/epoch=$e")
    }
    assert(EpochDirs.foldEpochSink(spark, rootU.toString, maxEpochs = 2,
      newestWinsKeys = Seq("user_id")))
    assert(EpochDirs.list(rootU.toString) === Seq(2L, 3L))
    val after = spark.read.parquet(rootU.toString).drop("epoch")
      .as[(Long, Long)].collect().toSet
    // folded dir keeps each key's epoch-2 (newest folded) emission; the
    // newest epoch (3) is untouched — the consumer's max-per-key answer
    // is exactly preserved
    val expected = (1L to 4L).flatMap(u => Seq((u, 2 + u), (u, 3 + u))).toSet
    assert(after === expected)
    // CRASH at both stages of the hide swap, through the shared
    // failpoint. Stage 1 — sources hidden, collapse unpublished: only
    // the newest epoch reads; the next fold entry rolls back, then
    // folds again exactly as the uncrashed fold would
    def dotted = new java.io.File(rootU.toString).listFiles().map(_.getName)
      .filter(_.startsWith(".")).toSeq
    def crashAt(stage: String): Unit = {
      EpochDirs.crashpoint = s =>
        if (s == stage) throw new RuntimeException(s"injected crash $stage")
      try intercept[RuntimeException] {
        EpochDirs.foldEpochSink(spark, rootU.toString, maxEpochs = 2,
          newestWinsKeys = Seq("user_id"))
      } finally EpochDirs.crashpoint = _ => ()
    }
    def readU = spark.read.parquet(rootU.toString).drop("epoch")
      .as[(Long, Long)].collect().toSet
    (4L to 5L).foreach { e =>
      (1L to 4L).map(u => (u, e + u)).toDF("user_id", "n")
        .write.mode("overwrite").parquet(s"$rootU/epoch=$e")
    }
    try {
      crashAt("afterHide")
      assert(EpochDirs.list(rootU.toString) === Seq(5L))
      assert(readU === (1L to 4L).map(u => (u, 5 + u)).toSet)
      assert(EpochDirs.foldEpochSink(spark, rootU.toString, maxEpochs = 2,
        newestWinsKeys = Seq("user_id")))
      assert(EpochDirs.list(rootU.toString) === Seq(4L, 5L))
      assert(readU ===
        (1L to 4L).flatMap(u => Seq((u, 4 + u), (u, 5 + u))).toSet)
      assert(dotted.isEmpty, s"hidden leftovers: $dotted")
      // Stage 2 — published, hidden sources not yet deleted: the read
      // is already whole, and the next (untriggered) entry sweeps them
      (6L to 7L).foreach { e =>
        (1L to 4L).map(u => (u, e + u)).toDF("user_id", "n")
          .write.mode("overwrite").parquet(s"$rootU/epoch=$e")
      }
      crashAt("afterPublish")
      val whole = (1L to 4L).flatMap(u => Seq((u, 6 + u), (u, 7 + u))).toSet
      assert(EpochDirs.list(rootU.toString) === Seq(6L, 7L))
      assert(readU === whole)
      assert(dotted.nonEmpty && dotted.forall(_.startsWith(".folded_")))
      assert(!EpochDirs.foldEpochSink(spark, rootU.toString, maxEpochs = 2,
        newestWinsKeys = Seq("user_id")))
      assert(dotted.isEmpty, s"hidden leftovers: $dotted")
      assert(readU === whole)
    } finally EpochDirs.crashpoint = _ => ()
  }

  test("soak: the live gate→topic→merge chain across multiple trigger cycles + compaction") {
    // r16 verdict #3: the r15/r16 integration spec ran the live topology
    // in ONE AvailableNow cycle; here the merge consumes the same topic
    // one file per trigger — every gate-published part file becomes its
    // own micro-batch — with a compaction cadence low enough to force
    // mid-stream folds, exercising epoch accumulation, the replay
    // exclusion, and compaction under churn. The final election must
    // equal the one-shot run (which is spec-locked to the from-scratch
    // closure).
    import graft.operators.DedupOps
    val topic = java.nio.file.Files.createTempDirectory("graft_xm_soak_topic_")
    graft.util.TempDirs.track(topic)
    val dir = topic.toString
    StreamOps.streamTextDedup(spark, sfDir, publishEdgesTo = Some(dir))
    DedupOps.MediaModalities.foreach { m =>
      StreamOps.streamMediaDedup(spark, sfDir, m, publishEdgesTo = Some(dir))
    }
    val topicFiles = graft.util.EpochDirs.dataFilesIn(topic).size
    assert(topicFiles >= 3,
      s"the four gates must publish at least 3 part files, got $topicFiles")
    // assert fold OCCURRENCE directly via the monotonic fold counter's
    // before/after delta (ADVICE r17: the last-value epoch gauge records
    // the PRE-fold dir count per call, so a >=2 reading could pass even
    // if maybeCompactClusterDeltas never folded)
    val foldsBefore =
      ObservedMetrics.gaugeSnapshot.getOrElse("xm.delta_folds", 0.0)
    val soaked = StreamOps.streamCrossModalMerge(spark, sfDir, dir,
      maxFilesPerTrigger = Some(1), compactEpochs = 2)
    val foldsAfter =
      ObservedMetrics.gaugeSnapshot.getOrElse("xm.delta_folds", 0.0)
    assert(foldsAfter >= foldsBefore + 1.0,
      s"the soak must have folded mid-stream at cadence 2 " +
        s"(folds $foldsBefore -> $foldsAfter)")
    val oneShot = StreamOps.streamCrossModalMerge(spark, sfDir, dir)
    assertSameRows(soaked, oneShot)
  }

  test("no stream key pairs append output with a watermarked aggregate or an outer stream-stream join") {
    // GraftSession turns off no-data micro-batches. That is safe only
    // while no stream holds rows back for a later watermark advance in
    // append mode — a watermarked aggregate's finals or an outer
    // stream-stream join's unmatched rows — since only a no-data batch
    // would release them. Walk every stream key's analysed plan.
    import org.apache.spark.sql.catalyst.plans.Inner
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, EventTimeWatermark, Join, LogicalPlan}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}
    def violations(mode: OutputMode, plan: LogicalPlan): Seq[String] =
      if (mode != OutputMode.Append) Nil
      else plan.collect {
        case a: Aggregate if a.isStreaming && a.exists(_.isInstanceOf[EventTimeWatermark]) =>
          "append-mode watermarked aggregate"
        case j: Join if j.left.isStreaming && j.right.isStreaming && j.joinType != Inner =>
          s"append-mode ${j.joinType} stream-stream join"
      }
    // the detector itself flags the shape it guards against
    val windowed = StreamOps.eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour").groupBy(window(col("ts"), "1 hour")).count()
    assert(violations(OutputMode.Append, windowed.queryExecution.analyzed).nonEmpty)
    assert(violations(OutputMode.Complete, windowed.queryExecution.analyzed).isEmpty)
    @volatile var key = ""
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val listener = new StreamingQueryListener {
      // query-started events reach session listeners synchronously,
      // before start() returns, so the query is still registered here
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        spark.streams.get(e.id) match {
          case w: StreamingQueryWrapper =>
            val q = w.streamingQuery
            seen.add(key -> violations(q.outputMode, q.analyzedPlan))
          case other => seen.add(key -> Seq(s"unrecognised query handle: $other"))
        }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try StreamOps.queries.toSeq.sortBy(_._1).foreach { case (k, run) => key = k; run(spark, sfDir) }
    finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    val byKey = seen.asScala.toSeq.groupBy(_._1)
    for (k <- StreamOps.queries.keys) {
      assert(byKey.contains(k), s"stream key $k started no streaming query")
      val bad = byKey(k).flatMap(_._2)
      assert(bad.isEmpty, s"stream key $k: ${bad.mkString("; ")}")
    }
  }
}
