package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Crc32C

/** Locks the CRC32C (Castagnoli) implementation to its published test
  * vectors and to the JDK's independent implementation — the round-trip
  * discipline of the reference's codec tests
  * (`/root/reference/src/message/codec.rs:254-324`), applied to the one
  * piece of wire-level arithmetic we reimplement.
  */
class Crc32CSpec extends AnyFunSuite {

  private def crc(s: String): Long = Crc32C.compute(s.getBytes(UTF_8))

  test("canonical check value: crc32c('123456789') = 0xE3069283") {
    assert(crc("123456789") === 0xE3069283L)
  }

  test("empty input = 0") {
    assert(crc("") === 0L)
  }

  test("known vectors (RFC 3720 B.4 style)") {
    // 32 zero bytes → 0x8A9136AA; 32×0xFF → 0x62A8AB43
    assert(Crc32C.compute(Array.fill[Byte](32)(0)) === 0x8A9136AAL)
    assert(Crc32C.compute(Array.fill[Byte](32)(0xFF.toByte)) === 0x62A8AB43L)
  }

  test("matches java.util.zip.CRC32C on arbitrary byte arrays") {
    val prop = forAll { (bytes: Array[Byte]) =>
      val jdk = new java.util.zip.CRC32C()
      jdk.update(bytes, 0, bytes.length)
      Crc32C.compute(bytes) == jdk.getValue
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
  }

  test("SQL surface: crc32c over a column matches direct computation") {
    val spark = SparkTestBase.session
    import spark.implicits._
    val rows = Seq("hello-pulsar-8", "", "abc").toDF("s")
      .selectExpr("s", "crc32c(cast(s as binary)) AS c")
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("hello-pulsar-8") === crc("hello-pulsar-8"))
    assert(rows("") === 0L)
    assert(rows("abc") === crc("abc"))
  }

  test("fixture props are pure ASCII at every scale (the SQL oracle's byte=char premise)") {
    // payload_crc's DuckDB oracle folds bytes via
    // ord(substring(props, i, 1)) — per CHARACTER. It matches Spark's
    // byte-wise CRC only while props holds no code point above 0x7F; a
    // fixture change introducing non-ASCII would silently flip the key
    // to hash-mismatch, so enforce the premise here at all three scales.
    val spark = SparkTestBase.session
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val nonAscii = graft.model.Fixtures.events(spark, s"/root/testdata/$sf")
        .filter(org.apache.spark.sql.functions.col("props").rlike("[^\\x00-\\x7F]"))
        .count()
      assert(nonAscii === 0L, s"$sf: $nonAscii rows with non-ASCII props")
    }
  }
}
