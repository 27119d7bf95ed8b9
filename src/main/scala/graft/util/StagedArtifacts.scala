package graft.util

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    String, org.apache.spark.sql.types.StructType]()

  /** Read a staged artifact dir with its schema served from the
    * per-dir cache — the standard read for every staged index whose
    * consumers pay per-call schema inference otherwise. */
  def readStaged(spark: SparkSession, dir: Path): DataFrame = {
    val s = schemaCache.computeIfAbsent(dir.toString,
      d => spark.read.parquet(d).schema)
    spark.read.schema(s).parquet(dir.toString)
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
      def cols(t: org.apache.spark.sql.types.StructType) =
        t.fields.map(f => f.name -> f.dataType.catalogString)
      if (!cols(df.schema).forall(cols(s).toSet.contains))
        { schemaCache.remove(dir.toString); () }
    }
}
