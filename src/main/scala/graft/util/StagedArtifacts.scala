package graft.util

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructType}

/** The read side every staged index shares: a per-dir schema cache so a
  * read of a [[Staged]] artifact (or any append-target index dir) skips
  * parquet footer inference. */
object StagedArtifacts {

  /** Inferred schema per staged DIR — skips the per-read footer
    * inference job (opt r19): a staged dir's schema never changes over
    * its lifetime (appends — including tombstone partitions — project
    * to the index's own schema, and a re-stage lands in a FRESH dir,
    * so the dir path is a sound cache key). Metadata only; partition
    * values still come from the directory listing on every read. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, StructType]()

  /** Read a staged artifact dir with its schema served from the
    * per-dir cache — the standard read for every staged index whose
    * consumers pay per-call schema inference otherwise. */
  def readStaged(spark: SparkSession, dir: Path): DataFrame = {
    val s = schemaCache.computeIfAbsent(dir.toString,
      d => spark.read.parquet(d).schema)
    spark.read.schema(s).parquet(dir.toString)
  }

  /** Seed `dir`'s entry from the frame a build just wrote there, so its
    * first read skips footer inference too (the [[TempDirs.materialize]]
    * precedent). The entry is the schema a read-back would infer: every
    * field nullable, as a parquet read marks them, and the partition
    * columns last, as partition discovery appends them. A partition
    * column's type comes from its directory names, which read back as
    * the written type only for an int, so a dir partitioned on any other
    * type is left to inference. */
  def seed(dir: Path, written: StructType, partitionCols: Seq[String]): Unit = {
    val parts = partitionCols.map(c => written(c))
    if (parts.forall(_.dataType == IntegerType))
      schemaCache.put(dir.toString, nullable(StructType(
        written.fields.filterNot(f => partitionCols.contains(f.name)) ++ parts)))
  }

  /** Drop a retired dir's entry (a superseded staged artifact). */
  def forget(dir: Path): Unit = { schemaCache.remove(dir.toString); () }

  private def nullable(t: StructType): StructType =
    StructType(t.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullableType(m.keyType), nullableType(m.valueType), valueContainsNull = true)
    case o => o
  }

  /** Cache-soundness hook for the IN-PLACE append sites (r19 ADVICE):
    * [[readStaged]]'s per-dir cache is sound only while appends never
    * add or retype a column — a writer appending a wider frame (say a
    * future `deleted` flag on a new partition) or a retyped one (an id
    * widened to another type) would otherwise have that column silently
    * dropped or read at the stale type by every subsequent cached read.
    * Called with the frame ABOUT to append: a frame whose (name, type)
    * pairs all exist in the cached schema keeps the cache (today's
    * tombstone/index appends — they project to the index's own schema);
    * any new or retyped column DROPS the entry so the next read
    * re-infers and sees it. Types compare by their rendered form, which
    * ignores nullability (a parquet read-back marks every element
    * nullable). No-op when the dir has no cached entry yet. */
  def noteAppend(dir: Path, df: DataFrame): Unit =
    Option(schemaCache.get(dir.toString)).foreach { s =>
      def cols(t: StructType) =
        t.fields.map(f => f.name -> f.dataType.catalogString)
      if (!cols(df.schema).forall(cols(s).toSet.contains))
        { schemaCache.remove(dir.toString); () }
    }
}
