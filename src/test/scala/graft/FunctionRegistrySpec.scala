package graft

/** Every native kernel must be reachable from the `spark.sql` surface
  * of a `GraftSession.builder` session with no registration call — a
  * SQL user of the library gets the same fused expressions the Column
  * API uses. One probe per function with a known-answer assertion, so
  * an injection or arity regression fails loudly here instead of deep
  * inside an operator.
  */
class FunctionRegistrySpec extends SparkTestBase {

  private def sql(q: String) = spark.sql(q).collect().head

  test("crc32c") {
    // RFC 3720-style vector: crc32c of 32 zero bytes
    val r = sql("SELECT crc32c(cast(repeat(chr(0), 32) as binary)) AS c")
    assert(r.getLong(0) === 0x8A9136AAL)
  }

  test("cosine_sim") {
    val r = sql("SELECT cosine_sim(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c")
    assert(r.getDouble(0) === 1.0)
  }

  test("lsh_bucket") {
    // bucket of any vector is an integer in [0, 2^planes)
    val r = sql("SELECT lsh_bucket(array(0.5F, -0.25F), 4) AS b")
    val b = r.getLong(0)
    assert(b >= 0 && b < 16)
  }

  test("wrong arity fails loudly instead of silently dropping arguments") {
    // pre-guard, lsh_bucket(v, 4, 12) computed a 4-plane bucket and
    // DISCARDED the 12 — a wrong-answer factory for SQL users
    val e = intercept[Exception] {
      sql("SELECT lsh_bucket(array(0.5F), 4, 12) AS b")
    }
    assert(e.getMessage.contains("expects 2 argument"), e.getMessage)
    val e1 = intercept[Exception] { sql("SELECT crc32c() AS c") }
    assert(e1.getMessage.contains("expects 1 argument"), e1.getMessage)
  }

  test("gram_md5s") {
    val r = sql("SELECT gram_md5s('abcd', 3) AS g")
    val g = r.getSeq[String](0)
    assert(g === Seq("abc", "bcd").map(s =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString))
  }

  test("minhash_bands") {
    val r = sql("SELECT minhash_bands(array('a','b','c','d','e'), 8, 2) AS m")
    assert(r.getSeq[String](0).length === 4) // 8 seeds / 2 rows = 4 bands
  }

  test("simhash60") {
    val r = sql("SELECT simhash60(array('x','y')) AS s")
    val s = r.getLong(0)
    assert(s >= 0 && s < (1L << 60))
  }

  test("word_shingles") {
    val r = sql("SELECT word_shingles(array('a','b','c','b','c'), 3) AS s")
    assert(r.getSeq[String](0).sorted === Seq("a b c", "b c b", "c b c").sorted)
  }

  test("count_in") {
    val r = sql("SELECT count_in(array('a','b','a','z'), array('a','b')) AS c")
    assert(r.getInt(0) === 3)
  }

  test("sum_strlen") {
    val r = sql("SELECT sum_strlen(array('ab','cde')) AS s")
    assert(r.getInt(0) === 5)
  }

  test("jaccard_distinct") {
    val r = sql("SELECT jaccard_distinct(array('a','b'), array('b','c')) AS j")
    assert(r.getDouble(0) === 1.0 / 3.0)
  }

  test("dup_fracs") {
    val r = sql("SELECT dup_fracs(array('a','a','b')).dup_word_frac AS f")
    assert(r.getDouble(0) === 1.0 / 3.0)
  }

  test("logp_sum") {
    val r = sql("SELECT logp_sum(array('a','zz'), map('a', -1.5D), -4.0D) AS s")
    assert(r.getDouble(0) === -5.5)
  }

  test("backoff_sum") {
    // three adjacent pairs, one per branch: 'a b' hits the bigram table
    // (-1.0), 'b c' misses it and backs off to unigram c (-2.0),
    // 'c zz' misses both and floors (-4.0)
    val r = sql("""SELECT backoff_sum(array('a','b','c','zz'),
                     map('a b', -1.0D), map('c', -2.0D), -4.0D) AS s""")
    assert(r.getDouble(0) === -7.0)
    // under 2 tokens: no pairs, sum 0
    val r1 = sql("SELECT backoff_sum(array('a'), map('x y', -1.0D), map('x', -2.0D), -4.0D) AS s")
    assert(r1.getDouble(0) === 0.0)
  }

  test("hash_weight_sum") {
    // D=1 pins the fold: every token hits bucket 0, null tokens add 0
    val r = sql("SELECT hash_weight_sum(array('a','b',NULL), array(2.5D)) AS s")
    assert(r.getDouble(0) === 5.0)
    // D=4 pins the BUCKETING against the engine-portable hash the
    // oracles use: conv(first 15 md5 hex chars) % D picks the element
    val r2 = sql(
      """SELECT hash_weight_sum(array('a'), array(10.0D, 20.0D, 30.0D, 40.0D)) =
        |  element_at(array(10.0D, 20.0D, 30.0D, 40.0D),
        |    cast(conv(substring(md5(cast('a' as binary)), 1, 15), 16, 10) % 4 + 1 as int))
        |  AS ok""".stripMargin)
    assert(r2.getBoolean(0))
  }

  // PQ8x8 probe geometry: dim 8 → 8 subspaces of 1 dim; codebook row c
  // is [c,c,...,c], so a vector of all 2.9 takes code 3 in every
  // subspace (|2.9−3| < |2.9−2|) → packed 8-bit bytes 0x0303030303030303
  private val pqCb =
    (0 until 256).flatMap(c => Seq.fill(8)(s"$c.0D")).mkString("array(", ",", ")")
  private val pqX = "array(" + Seq.fill(8)("2.9F").mkString(",") + ")"

  test("substr_fps") {
    // modP=1 keeps every window: the two 2-token windows of a 3-token doc
    val r = sql("SELECT substr_fps(array('a','b','c'), 2, 1) = " +
      "array(md5(cast('a b' as binary)), md5(cast('b c' as binary))) AS ok")
    assert(r.getBoolean(0))
  }

  test("bpe_count and bpe_encode share the merge pass; encode emits the id contract") {
    // merges [(a,b)]: "abab" → [ab][ab] (2 tokens, ids 26,26); "7" is a
    // digit run (1 token, UNK = 26 + 1 merge = 27); "c" stays a single
    // letter (id 2)
    val r = sql("""SELECT bpe_count(array('abab', '7', 'c'), array('a','b')) AS n,
                          bpe_encode(array('abab', '7', 'c'), array('a','b')) AS ids""")
    assert(r.getInt(0) === 4)
    assert(r.getSeq[Int](1) === Seq(26, 26, 27, 2))
  }

  test("bpe_decode inverts the id contract: surfaces, UNK sentinel, out-of-range safety") {
    val r = sql("""SELECT bpe_decode(
                            bpe_encode(array('abab', '7', 'c'), array('a','b')),
                            array('a','b')) AS roundtrip,
                          bpe_decode(array(0, 25, 99), array('a','b')) AS edge""")
    assert(r.getString(0) === "ab ab <unk> c")
    // 0 → 'a', 25 → 'z'; 99 is out of range → sentinel, never a throw
    assert(r.getString(1) === "a z <unk>")
  }

  test("bpe_count keeps its signature: INT result, NULL words in, NULL out") {
    val df = spark.sql(
      "SELECT bpe_count(CAST(NULL AS ARRAY<STRING>), array('a','b')) AS n")
    assert(df.schema.head.dataType === org.apache.spark.sql.types.IntegerType)
    assert(df.collect().head.isNullAt(0))
  }

  test("every literal-only argument rejects a column at analysis") {
    // one column of each argument type, from a relation, so none of
    // them is foldable; each call puts one where the kernel needs a
    // literal and keeps every other argument valid
    val from = """FROM VALUES (array('a','b'), 2, map('a', -1.5D), array(1.0D, 0.0D),
                 |  array(7L), array(1.0F, 0.0F)) AS t(ws, n, m, ds, ls, v)""".stripMargin
    val calls = Seq(
      "bpe_count" -> "bpe_count(ws, ws)",
      "bpe_encode" -> "bpe_encode(ws, ws)",
      "bpe_decode" -> "bpe_decode(array(0), ws)",
      "count_in" -> "count_in(ws, ws)",
      "logp_sum" -> "logp_sum(ws, m, -4.0D)",
      "backoff_sum" -> "backoff_sum(ws, map('x y', -1.0D), m, -4.0D)",
      "hash_weight_sum" -> "hash_weight_sum(ws, ds)",
      "pq_enc" -> s"pq_enc($pqX, ds)",
      "pq_adc" -> s"pq_adc($pqX, 0L, ds)",
      "ivf_assign" -> "ivf_assign(v, ls, array(1.0D, 0.0D))",
      "ivf_centroid" -> "ivf_centroid(7L, array(7L), ds)",
      "gram_md5s" -> "gram_md5s('abcd', n)",
      "lsh_bucket" -> "lsh_bucket(v, n)",
      "minhash_bands" -> "minhash_bands(ws, n, 2)",
      "substr_fps" -> "substr_fps(ws, 2, n)",
      "word_shingles" -> "word_shingles(ws, n)")
    assert(calls.map(_._1).toSet.subsetOf(
      graft.functions.GraftFunctions.all.map(_._1).toSet))
    calls.foreach { case (name, call) =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $call AS r $from")
      }
      assert(e.getMessage.contains("literal"), s"$name: ${e.getMessage}")
    }
  }

  test("pq_enc") {
    val r = sql(s"SELECT pq_enc($pqX, $pqCb) AS k")
    val k = r.getStruct(0)
    assert(k.getLong(0) === 0x0303030303030303L)
    assert(k.getDouble(1) > 0.0 && k.getDouble(1) < 0.1) // 8 × (2.9f−3)²
  }

  test("pq_adc of a vector's own code equals its encode mse sum") {
    val r = sql(
      s"SELECT pq_adc($pqX, ${0x0303030303030303L}L, $pqCb) AS a, pq_enc($pqX, $pqCb).mse AS m")
    assert(r.getDouble(0) === r.getDouble(1))
  }

  test("pq_enc packs subspace 7 into the sign byte (negative BIGINT wrap)") {
    // vector of all 254.9 takes code 255 in every subspace →
    // 0xFFFFFFFFFFFFFFFF = -1L under two's complement
    val x = "array(" + Seq.fill(8)("254.9F").mkString(",") + ")"
    val r = sql(s"SELECT pq_enc($x, $pqCb).code AS c")
    assert(r.getLong(0) === -1L)
  }

  test("ivf_assign picks the max-cosine centroid with the lowest-id tie-break") {
    // two 2-dim centroids: id 7 = (1,0), id 3 = (0,1); x = (2,0.1) is
    // nearly axis-aligned with id 7 → winner (nc ≈ −1), cosine rounded
    // to 6 decimals exactly like round(cosine_sim(...), 6)
    val r = sql(
      """SELECT ivf_assign(array(2.0F, 0.1F), array(7L, 3L),
        |                  array(1.0D, 0.0D, 0.0D, 1.0D)) AS a,
        |       -round(cosine_sim(array(2.0F, 0.1F), array(1.0D, 0.0D)), 6) AS nc
        |""".stripMargin)
    val a = r.getStruct(0)
    assert(a.getLong(1) === 7L)
    assert(a.getDouble(0) === r.getDouble(1))
    // exact tie (identical centroids under ids 9 and 4) → lowest id
    val t = sql(
      """SELECT ivf_assign(array(1.0F, 1.0F), array(9L, 4L),
        |                  array(0.5D, 0.5D, 0.5D, 0.5D)).cid AS c""".stripMargin)
    assert(t.getLong(0) === 4L)
  }

  test("ivf_centroid looks up the cell's vector; foreign ids are null") {
    val r = sql(
      """SELECT ivf_centroid(3L, array(7L, 3L), array(1.0D, 0.0D, 0.0D, 1.0D)) AS ce,
        |       ivf_centroid(99L, array(7L, 3L), array(1.0D, 0.0D, 0.0D, 1.0D)) AS miss
        |""".stripMargin)
    assert(r.getSeq[Double](0) === Seq(0.0, 1.0))
    assert(r.isNullAt(1))
  }

  test("GraftExtensions injects the whole function table into an extensions-built session") {
    import org.apache.spark.sql.SparkSession
    // a second session over the same context, built the way a
    // spark-submit user configures it (spark.sql.extensions); clear the
    // defaults so getOrCreate constructs instead of returning the shared
    // session (suites run serially in the forked test JVM)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new GraftExtensions).getOrCreate()
      // no registerFunctions call anywhere on this session: the
      // injection alone must make every kernel resolvable
      val r = s2.sql("SELECT crc32c(cast(repeat(chr(0), 32) as binary)) AS c").collect().head
      assert(r.getLong(0) === 0x8A9136AAL)
      graft.functions.GraftFunctions.all.foreach { case (name, _, _) =>
        assert(s2.catalog.functionExists(name), s"$name not injected")
      }
      // injected builders keep the arity guard
      val e = intercept[Exception] {
        s2.sql("SELECT lsh_bucket(array(0.5F), 4, 12) AS b").collect()
      }
      assert(e.getMessage.contains("expects 2 argument"), e.getMessage)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("a newSession() child carries every kernel without a registration call") {
    val child = spark.newSession()
    graft.functions.GraftFunctions.all.foreach { case (name, _, _) =>
      assert(child.catalog.functionExists(name), s"$name missing on the child")
    }
  }

  test("no operator re-registers: the child's registry keeps the injected entries") {
    val child = spark.newSession()
    // one key per operator module: DedupOps, SimilarityOps, TextOps,
    // MessageOps, LlmOps, StreamOps
    Seq("minhash", "emb_ivf_topk", "quality_lr", "payload_crc", "keep_best", "stream_dc")
      .foreach(k => assert(SparkEntry.queries(k)(child, sfDir).count() > 0L, k))
    // a re-registration would replace the injected entry's expression
    // info with the registering lambda's class
    graft.functions.GraftFunctions.all.foreach { case (name, clazz, _) =>
      assert(child.catalog.getFunction(name).className === clazz.getCanonicalName, name)
    }
  }

  test("registerFunctions gives a plainly built session every kernel in one call") {
    import org.apache.spark.sql.SparkSession
    // perfbench-style: a session the library did not build (no
    // extension); clear the defaults so getOrCreate constructs one
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]").getOrCreate()
      assert(!s2.catalog.functionExists("crc32c"), "a plain session has no kernels")
      GraftSession.registerFunctions(s2)
      graft.functions.GraftFunctions.all.foreach { case (name, clazz, _) =>
        assert(s2.catalog.functionExists(name), s"$name not registered")
        assert(s2.catalog.getFunction(name).className === clazz.getCanonicalName, name)
      }
      val r = s2.sql("SELECT crc32c(cast(repeat(chr(0), 32) as binary)) AS c").collect().head
      assert(r.getLong(0) === 0x8A9136AAL)
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }
}
