package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.multimodal.MultimodalOps
import graft.operators.DedupOps

/** `curate`: batch LLM-data curation. Each timed pass stages and runs the
  * document keys over a corpus this process has not seen (a fresh
  * generated dir), the way a user curating new data pays for it, and
  * writes each key's output as parquet. One untimed warm-up pass on a
  * smaller corpus runs first; its outputs are the ones checked against the
  * DuckDB oracles. */
final class Curate(ctx: Ctx, res: Result) extends Workload {
  import ctx.spark

  val Keys: Seq[String] = Seq("minhash", "ngram_jac", "lsh_dups", "dup_groups",
    "keep_best", "quality_lr", "pii", "repetition", "boilerplate", "img_dups")
  val MinRecall = 0.9
  /** Whole passes are timed; a pass outlasts a short window, so the run
    * times at least two of them. */
  val MinPasses = 2

  private final case class Corpus(dir: Path, docs: Long, planted: Seq[(Long, Long)])
  private final case class Pass(ms: Double, stagingMs: Double, keyMs: Map[String, Double])
  private val passes = mutable.ArrayBuffer.empty[Pass]
  private var lastCorpus: Corpus = _

  /** The generated corpora, in order: the warm-up corpus, then one per
    * timed pass. */
  private def corpora(): Seq[Corpus] = {
    val dirs = Files.list(ctx.input).iterator().asScala
      .filter(_.getFileName.toString.startsWith("curate-")).toSeq
      .sortBy(_.getFileName.toString.stripPrefix("curate-").toInt)
    dirs.map { d =>
      val planted = Files.readAllLines(d.resolve("planted.txt")).asScala.toSeq
        .filter(_.nonEmpty).map(_.split(" ")).map(a => (a(0).toLong, a(1).toLong))
      Corpus(d, Files.readAllLines(d.resolve("docs.txt")).get(0).trim.toLong, planted)
    }
  }

  /** One curation pass: stage the corpus's artifacts, then run every key,
    * writing its output as parquet under `out/<key>`. */
  private def pass(c: Corpus, out: Path): Pass = {
    val dir = c.dir.toString
    val t0 = System.nanoTime()
    val keyMs = mutable.LinkedHashMap.empty[String, Double]
    var stagingMs = 0.0
    res.op("pass") {
      Tracer.span("curate.pass") {
        stagingMs = timeMs(Tracer.span("util.staging") {
          DedupOps.stagedTextSignatures(spark, dir)
          DedupOps.stagedDupGroups(spark, dir)
          MultimodalOps.stagedImageHashes(spark, dir)
        })
        Keys.foreach { k =>
          keyMs(k) = timeMs(Tracer.span(s"operators.$k") {
            SparkEntry.queries(k)(spark, dir).write.mode("overwrite")
              .parquet(out.resolve(k).toString)
          })
        }
      }
    }
    Pass(ms(t0), stagingMs, keyMs.toMap)
  }

  /** Recall of the planted near-duplicate pairs in a pass's `lsh_dups`. */
  private def checkRecall(c: Corpus, out: Path): Unit = res.op("check-recall") {
    val found = spark.read.parquet(out.resolve("lsh_dups").toString)
      .select("doc_a", "doc_b").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    val planted = c.planted.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val recall = planted.count(found.contains).toDouble / math.max(1, planted.size)
    res.check("planted-near-dup-recall", recall >= MinRecall, f"recall $recall%.3f")
    val candidates = spark.read.parquet(out.resolve("minhash").toString).count()
    res.extra("planted_recall") = recall
    res.extra("lsh_candidate_precision") = found.size.toDouble / math.max(1L, candidates)
  }

  def run(): Unit = {
    res.inputs("keys") = Keys
    val all = corpora()
    val warm = all.head
    res.mark("generated")
    // the warm-up pass is the one the DuckDB oracle checks
    val oracleOut = ctx.work.resolve("oracle")
    val warm0 = System.nanoTime()
    pass(warm, oracleOut)
    val warmS = ms(warm0) / 1000
    res.mark("warmup")
    res.e2e("setup_s") = ctx.genS + ctx.sessionS + warmS
    Heap.sample()
    val sql = SparkEntry.oracleSql.filter { case (k, _) => Keys.contains(k) }
    Files.write(oracleOut.resolve("oracle_sql.json"),
      Stats.json(sql).getBytes(StandardCharsets.UTF_8))
    res.extra("oracle_out") = oracleOut.toString
    res.extra("oracle_sf_dir") = warm.dir.toString
    checkRecall(warm, oracleOut)

    // timed passes: at least `MinPasses`; a further one starts only if it
    // is expected to end inside the window
    val out = ctx.work.resolve("curated")
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    val heapFrom = Heap.mark()
    all.tail.iterator
      .takeWhile(_ => passes.size < MinPasses ||
        System.nanoTime() + passes.last.ms * 1e6 <= deadline)
      .foreach { c =>
        passes += pass(c, out)
        checkRecall(c, out)
        lastCorpus = c
      }
    res.mark("passes")
    res.e2e("heap_after_gc_p75_mb") = Heap.p75Since(heapFrom)
    Heap.sample()
    val wall = passes.map(_.ms).toSeq
    res.e2e("latency_p50_ms") = Stats.median(wall)
    res.e2e("latency_p95_ms") = Stats.quantile(wall, 0.95)
    res.e2e("throughput_per_s") = passes.size * lastCorpus.docs / (wall.sum / 1000)
    res.e2e("write_p50_ms") = Stats.median(passes.map(_.stagingMs).toSeq)
    res.sample("pass_ms", wall)
    res.sample("staging_ms", passes.map(_.stagingMs).toSeq)
    Keys.foreach(k => res.sample(s"${k}_ms", passes.map(_.keyMs.getOrElse(k, 0.0)).toSeq))
    res.inputs("timed_passes") = passes.size
  }

  def layerMetrics(): Unit = {
    val L = res.layer
    val passSpans = Tracer.spansNamed("curate.pass").drop(1) // the warm-up pass first
    Keys.foreach { k =>
      L(s"operators.${k}_ms") = Stats.median(passes.map(_.keyMs.getOrElse(k, 0.0)).toSeq)
      val ks = Tracer.spansNamed(s"operators.$k")
        .filter(s => passSpans.exists(p => s.parent == p.id))
      L(s"operators.${k}_jobs") = Stats.median(ks.map(s => Tracer.viewOf(s).jobs.toDouble))
    }
    L("operators.lsh_candidate_precision") =
      res.extra.get("lsh_candidate_precision").map(_.asInstanceOf[Double]).getOrElse(0.0)
    L("util.staging_s") = Stats.median(passes.map(_.stagingMs / 1000).toSeq)
    val pv = passSpans.map(Tracer.viewOf)
    def med(f: SparkView => Double) = Stats.median(pv.map(f))
    L("curate.pass.jobs") = med(_.jobs.toDouble)
    L("curate.pass.executor_run_ms") = med(_.runMs)
    L("curate.pass.executor_cpu_ms") = med(_.cpuMs)
    L("curate.pass.shuffle_write_bytes") = med(_.shuffleWrite.toDouble)
    L("curate.pass.shuffle_read_bytes") = med(_.shuffleRead.toDouble)
    L("curate.pass.catalyst_ms") = med(_.catalystMs)
    L("curate.pass.driver_residual_ms") = med(_.driverResidualMs)
    L("curate.pass.task_busy_share") = med(v => v.runMs / (v.wallMs * ctx.cores))
    kernels()
  }

  /** The curation kernels alone, as projections over the last timed corpus
    * into the noop sink (median of three), and the image decode. */
  private def kernels(): Unit = {
    val dir = lastCorpus.dir.toString
    val docs = graft.model.Fixtures.documents(spark, dir)
      .select(split(lower(col("text")), "\\s+").as("w"))
    def probe(name: String, df: => org.apache.spark.sql.DataFrame): Double =
      Stats.median((0 until 3).map(_ => timeMs(Tracer.span(s"functions.$name") {
        df.write.format("noop").mode("overwrite").save()
      })))
    res.layer("functions.minhash_bands_ms") = probe("minhash_bands",
      docs.select(call_function("minhash_bands", col("w"),
        lit(DedupOps.NumSeeds), lit(DedupOps.RowsPerBand))))
    res.layer("functions.word_shingles_ms") = probe("word_shingles",
      docs.select(call_function("word_shingles", col("w"), lit(3))))
    val media = MultimodalOps.stagedTextureTable(spark, dir).cache()
    val images = media.count()
    val decode = Stats.median((0 until 3).map(_ => timeMs(Tracer.span("multimodal.decode") {
      MultimodalOps.imageDHash(media).write.format("noop").mode("overwrite").save()
    })))
    media.unpersist()
    res.layer("multimodal.decode_ms") = decode
    res.layer("multimodal.images_per_s") = images / (decode / 1000)
  }
}
