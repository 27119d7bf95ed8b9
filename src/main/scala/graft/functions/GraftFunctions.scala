package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Size}

/** The engine's SQL function surface as ONE table. [[graft.GraftExtensions]]
  * injects it into every session [[graft.GraftSession.builder]] builds
  * (and so into every `newSession()` child and every streaming query's
  * clone of one); [[graft.GraftSession.registerFunctions]] adds it to a
  * session built elsewhere. Operators only call the functions by name
  * (`call_function`) and never register anything themselves.
  * `FunctionRegistrySpec` probes every entry with a known answer.
  *
  * Each builder funnels through [[Arity]]: Spark hands the builder
  * whatever argument list the SQL call supplied, and positional indexing
  * would silently drop extras (see Arity's scaladoc).
  */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  private def entry(name: String, arity: Int, clazz: Class[_])(
      ctor: Seq[Expression] => Expression): (String, Class[_], Builder) =
    (name, clazz, exprs => ctor(Arity.checked(name, arity, exprs)))

  /** (SQL name, implementing expression class, checked builder) for every
    * native kernel. */
  val all: Seq[(String, Class[_], Builder)] = Seq(
    entry("crc32c", 1, classOf[Crc32C])(a => Crc32C(a.head)),
    entry("cosine_sim", 2, classOf[CosineSim])(a => CosineSim(a.head, a(1))),
    entry("lsh_bucket", 2, classOf[LshBucket])(a => LshBucket(a.head, a(1))),
    entry("gram_md5s", 2, classOf[GramMd5s])(a => GramMd5s(a.head, a(1))),
    entry("minhash_bands", 3, classOf[MinhashBands])(a => MinhashBands(a.head, a(1), a(2))),
    entry("simhash60", 1, classOf[Simhash60])(a => Simhash60(a.head)),
    entry("word_shingles", 2, classOf[WordShingles])(a => WordShingles(a.head, a(1))),
    entry("count_in", 2, classOf[CountIn])(a => CountIn(a.head, a(1))),
    entry("sum_strlen", 1, classOf[SumStrlen])(a => SumStrlen(a.head)),
    entry("jaccard_distinct", 2, classOf[JaccardDistinct])(a => JaccardDistinct(a.head, a(1))),
    entry("dup_fracs", 1, classOf[DupFracs])(a => DupFracs(a.head)),
    entry("logp_sum", 3, classOf[LogpSum])(a => LogpSum(a.head, a(1), a(2))),
    entry("backoff_sum", 4, classOf[BackoffSum])(a => BackoffSum(a.head, a(1), a(2), a(3))),
    entry("hash_weight_sum", 2, classOf[HashWeightSum])(a => HashWeightSum(a.head, a(1))),
    entry("pq_enc", 2, classOf[PqEnc])(a => PqEnc(a.head, a(1))),
    entry("ivf_assign", 3, classOf[IvfAssign])(a => IvfAssign(a.head, a(1), a(2))),
    entry("ivf_centroid", 3, classOf[IvfCentroid])(a => IvfCentroid(a.head, a(1), a(2))),
    entry("pq_adc", 3, classOf[PqAdc])(a => PqAdc(a.head, a(1), a(2))),
    entry("substr_fps", 3, classOf[SubstrFps])(a => SubstrFps(a.head, a(1), a(2))),
    // the token count is the emission's length: one merge pass serves both
    entry("bpe_count", 2, classOf[BpeEncode])(a =>
      Size(BpeEncode(a.head, a(1)), legacySizeOfNull = false)),
    entry("bpe_encode", 2, classOf[BpeEncode])(a => BpeEncode(a.head, a(1))),
    entry("bpe_decode", 2, classOf[BpeDecode])(a => BpeDecode(a.head, a(1))))
}
