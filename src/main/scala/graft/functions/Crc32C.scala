package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** CRC32C (Castagnoli) of a binary column, as a native Catalyst expression.
  *
  * The reference frames every payload with a CRC32C checksum
  * (`/root/reference/src/message/codec.rs:139-149`; read-side verification
  * is a TODO there at `codec.rs:185` — here both sides share one function).
  * Spark's built-in `crc32` is CRC-32/ISO-HDLC (polynomial 0x04C11DB7);
  * Castagnoli uses 0x1EDC6F41, so the built-in cannot reproduce the
  * reference's checksums and a custom expression is required (SURVEY §7.2).
  *
  * Native expression rather than a UDF: `doGenCode` keeps the computation
  * inside whole-stage codegen (no ScalaUDF boxing/serialization in the hot
  * path), which matters when checksumming every payload of a 100 TB scan.
  * No DuckDB equivalent exists, so the query built on this is validated by
  * unit tests (known vectors + equivalence with `java.util.zip.CRC32C`)
  * instead of the SQL oracle — the SURVEY §2.3 sanctioned demotion.
  */
case class Crc32C(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "crc32c"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"crc32c requires BINARY input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    Crc32C.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Crc32C$$.MODULE$$.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Crc32C =
    copy(child = newChild)
}

object Crc32C {

  /** Reflected-table CRC32C: polynomial 0x1EDC6F41, reflected form
    * 0x82F63B78, init/xorout 0xFFFFFFFF — the parameters of the crc32c
    * ("castagnoli") algorithm the reference applies to
    * `MessageMetadata + payload`.
    */
  private val table: Array[Int] = {
    val t = new Array[Int](256)
    var n = 0
    while (n < 256) {
      var c = n
      var k = 0
      while (k < 8) {
        c = if ((c & 1) != 0) 0x82F63B78 ^ (c >>> 1) else c >>> 1
        k += 1
      }
      t(n) = c
      n += 1
    }
    t
  }

  def compute(bytes: Array[Byte]): Long = {
    var crc = 0xFFFFFFFF
    var i = 0
    while (i < bytes.length) {
      crc = table((crc ^ bytes(i)) & 0xFF) ^ (crc >>> 8)
      i += 1
    }
    (crc ^ 0xFFFFFFFF).toLong & 0xFFFFFFFFL
  }
}
