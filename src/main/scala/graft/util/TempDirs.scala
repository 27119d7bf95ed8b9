package graft.util

import java.nio.file.{Files, Path}

/** JVM-exit cleanup for staged temp TREES. `File.deleteOnExit` removes
  * only files and EMPTY directories, so every staged artifact dir
  * (vector index, image corpus, stream staging/sinks, warehouse) filled
  * after registration was silently leaked — multi-MB-to-GB under /tmp
  * per bench/verify/test JVM, accumulating across runs. One shutdown
  * hook walks each tracked root deepest-first and deletes best-effort
  * (a busy file must not block the rest of the cleanup).
  *
  * Registered through Hadoop's `ShutdownHookManager` (the registry
  * Spark's own exit hooks live in) at a priority below every Spark
  * hook, so the recursive delete runs strictly AFTER Spark teardown —
  * a raw `Runtime` hook would race Spark's hooks with unspecified
  * ordering (tracked trees include the session warehouse Spark may
  * still be touching while stopping).
  */
object TempDirs {

  private val dirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  // Hadoop runs hooks in DECREASING priority; Spark registers its own at
  // 25..50 (temp-dir and context teardown) — 1 sequences this pass last.
  org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
    () => dirs.forEach(deleteNow(_)), 1)

  /** Register a temp root for recursive deletion at JVM exit. */
  def track(p: Path): Path = { dirs.add(p); p }

  /** Write `df` to a fresh tracked temp dir and read it back — the
    * materialize-then-retire step of the keys that serve through
    * registered state. The declared schema (the frame just written)
    * skips the read-back's footer-inference job (opt r20). */
  def materialize(df: org.apache.spark.sql.DataFrame,
      prefix: String): org.apache.spark.sql.DataFrame = {
    val dir = track(Files.createTempDirectory(prefix))
    df.write.mode("overwrite").parquet(dir.toString)
    df.sparkSession.read.schema(df.schema).parquet(dir.toString)
  }

  /** Delete a tracked tree now and stop tracking it — a superseded
    * staged artifact, retired before JVM exit. */
  private[graft] def retire(root: Path): Unit = { dirs.remove(root); deleteNow(root) }

  /** The hook's deletion pass, run now on one tree: deepest-first,
    * best-effort per file, silent on a missing root. */
  private[graft] def deleteNow(root: Path): Unit =
    try {
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
        finally walk.close()
      }
    } catch { case _: Exception => () }
}
