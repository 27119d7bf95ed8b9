package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.ServingManifest

/** The persisted serving-registry sidecar's primitives — no Spark
  * needed: the manifest is pure `java.nio` under the corpus stamp.
  * Each test gets its own (empty) corpus dir, so stamps are stable and
  * families never collide across tests.
  */
class ServingManifestSpec extends AnyFunSuite {

  private val T = Seq("documents")

  private def freshCorpus(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_manifest_corpus_")
    graft.util.TempDirs.track(d)
    d.toString
  }

  test("removeIf is a compare-and-delete: a replaced registration survives") {
    val sf = freshCorpus()
    ServingManifest.put(sf, "fam", T, Map("segRoot" -> "/a"))
    // the r14 TOCTOU shape: JVM A read segRoot=/a, JVM B replaced it
    // with /b, then A retired "/a" — under get-then-remove B's
    // registration was deleted; the conditional delete must re-read
    // under ITS lock, see /b, and leave it
    ServingManifest.put(sf, "fam", T, Map("segRoot" -> "/b"))
    assert(!ServingManifest.removeIf(sf, "fam", T, "segRoot", "/a"))
    assert(ServingManifest.get(sf, "fam", T) === Map("segRoot" -> "/b"))
    assert(ServingManifest.removeIf(sf, "fam", T, "segRoot", "/b"))
    assert(ServingManifest.get(sf, "fam", T).isEmpty)
  }

  test("removeIf drops its companions in the same conditional write") {
    val sf = freshCorpus()
    ServingManifest.put(sf, "fam_c", T,
      Map("segRoot" -> "/a", "segRows" -> "5", "other" -> "x"))
    // guard mismatch: NOTHING is removed, companions included
    assert(!ServingManifest.removeIf(sf, "fam_c", T, "segRoot", "/zzz",
      alsoRemove = Seq("segRows")))
    assert(ServingManifest.get(sf, "fam_c", T)
      === Map("segRoot" -> "/a", "segRows" -> "5", "other" -> "x"))
    // guard match: key + companions go atomically; unrelated keys stay
    assert(ServingManifest.removeIf(sf, "fam_c", T, "segRoot", "/a",
      alsoRemove = Seq("segRows")))
    assert(ServingManifest.get(sf, "fam_c", T) === Map("other" -> "x"))
  }

  test("removeKeyAllFamilies strips one key from every family, stamps intact") {
    val sf = freshCorpus()
    val dir = "/some/staged/dir_g0"
    ServingManifest.put(sf, "fam_x", T, Map(dir -> "5", "keep" -> "a"))
    ServingManifest.put(sf, "fam_y", T, Map(dir -> "9", "also" -> "b"))
    ServingManifest.removeKeyAllFamilies(sf, dir)
    // the key is gone from BOTH families; other entries and the stamp
    // survive (a failed stamp would return empty maps here)
    assert(ServingManifest.get(sf, "fam_x", T) === Map("keep" -> "a"))
    assert(ServingManifest.get(sf, "fam_y", T) === Map("also" -> "b"))
  }

  test("keys and values containing '=' and newlines round-trip") {
    val sf = freshCorpus()
    // counter keys are filesystem paths; a partition-style dir puts '='
    // in the KEY, which the r14 first-'=' split silently corrupted
    val live = java.nio.file.Files.createTempDirectory("graft_manifest_eq_")
    graft.util.TempDirs.track(live)
    val weird = java.nio.file.Files.createDirectories(live.resolve("mp=3"))
    assert(ServingManifest.addCounter(sf, "fam_eq", T, weird.toString, 7L) === 7L)
    assert(ServingManifest.getCounter(sf, "fam_eq", T, weird.toString) === 7L)
    ServingManifest.put(sf, "fam_eq2", T, Map("k" -> "a=b\nc", "p%x" -> "%0A"))
    assert(ServingManifest.get(sf, "fam_eq2", T) ===
      Map("k" -> "a=b\nc", "p%x" -> "%0A"))
  }

  test("addCounterIf bumps only the registration of record; addCounterIfNewEpoch also filters replays") {
    val sf = freshCorpus()
    ServingManifest.put(sf, "fam_c", T, Map("segRoot" -> "/a"))
    ServingManifest.addCounter(sf, "fam_c", T, "rows", 5L)
    // epoch-keyed bump: first sight of an epoch applies and advances
    // the high-water mark; a REPLAY of the same (or an older) epoch
    // no-ops — the sink overwrite is idempotent, the counter must be too
    assert(ServingManifest.addCounterIfNewEpoch(sf, "fam_c", T,
      "segRoot", "/a", "rows", 3L, "lastEpoch", 7L))
    assert(!ServingManifest.addCounterIfNewEpoch(sf, "fam_c", T,
      "segRoot", "/a", "rows", 3L, "lastEpoch", 7L))
    assert(!ServingManifest.addCounterIfNewEpoch(sf, "fam_c", T,
      "segRoot", "/a", "rows", 3L, "lastEpoch", 6L))
    assert(ServingManifest.getCounter(sf, "fam_c", T, "rows") === 8L)
    // a NEWER epoch applies; the wrong registration still never does
    assert(ServingManifest.addCounterIfNewEpoch(sf, "fam_c", T,
      "segRoot", "/a", "rows", 2L, "lastEpoch", 8L))
    assert(!ServingManifest.addCounterIfNewEpoch(sf, "fam_c", T,
      "segRoot", "/other", "rows", 2L, "lastEpoch", 9L))
    assert(ServingManifest.getCounter(sf, "fam_c", T, "rows") === 10L)
  }

  test("dead-dir counters sweep from the FILE on read; live dirs and non-path keys survive") {
    val sf = freshCorpus()
    val live = java.nio.file.Files.createTempDirectory("graft_manifest_live_")
    graft.util.TempDirs.track(live)
    val dead = java.nio.file.Files.createTempDirectory("graft_manifest_dead_")
    java.nio.file.Files.delete(dead)
    // the sweep applies only to DIR-KEYED families (ADVICE r15) — use a
    // real one; a registration-style family is asserted unswept below
    ServingManifest.put(sf, "text_appends", T, Map(
      live.toString -> "3",
      dead.toString -> "9",
      // non-path keys are never swept (registrations self-heal at
      // their own layer, by VALUE)
      "segRoot" -> "/points/at/whatever"))
    assert(ServingManifest.get(sf, "text_appends", T) ===
      Map(live.toString -> "3", "segRoot" -> "/points/at/whatever"))
    // the sweep rewrote the file, not just the returned map: recreating
    // the dead dir must NOT resurrect its counter
    java.nio.file.Files.createDirectory(dead)
    graft.util.TempDirs.track(dead)
    assert(ServingManifest.get(sf, "text_appends", T) ===
      Map(live.toString -> "3", "segRoot" -> "/points/at/whatever"))
  }

  test("the dead-dir sweep never touches a non-dir-keyed family") {
    // ADVICE r15: a registration family may legitimately hold a
    // '/'-prefixed key whose path does not exist YET (a future root, a
    // remote path) — the path-shape heuristic must not silently drop it
    val sf = freshCorpus()
    val nowhere = java.nio.file.Files.createTempDirectory("graft_manifest_none_")
    java.nio.file.Files.delete(nowhere)
    ServingManifest.put(sf, "fam_registry", T, Map(
      nowhere.toString -> "registered-before-creation",
      "segRoot" -> nowhere.toString))
    assert(ServingManifest.get(sf, "fam_registry", T) ===
      Map(nowhere.toString -> "registered-before-creation",
        "segRoot" -> nowhere.toString))
  }

  test("segment self-heal retires only the observed dead root, never a live re-registration") {
    // the heal is a read (dead root A observed) followed by a removal;
    // another JVM may install registration B in between. An
    // unconditional family removal would delete B with its counters
    val segs = graft.operators.SimilarityOps.Segments
    val sf = freshCorpus()
    def root(): String = {
      val d = java.nio.file.Files.createTempDirectory("graft_heal_root_")
      graft.util.TempDirs.track(d)
      d.toString
    }
    val a = root()
    val b = root()
    try {
      segs.register(sf, a, 5L)
      val observed = segs.entries(sf).get("segRoot")
      assert(observed === Some(a))
      java.nio.file.Files.delete(java.nio.file.Paths.get(a))
      segs.register(sf, b, 7L)
      assert(segs.noteAppend(sf, b, 3L, epochId = 0L))
      segs.forget()
      assert(segs.healed(sf, observed) === None)
      assert(segs.resolve(sf) === Some(b))
      assert(segs.entries(sf) ===
        Map("segRoot" -> b, "segRows" -> "10", "lastEpoch" -> "0"))
      // and a dead root that IS the registration of record heals out
      java.nio.file.Files.delete(java.nio.file.Paths.get(b))
      segs.forget()
      assert(segs.resolve(sf) === None)
      assert(segs.entries(sf).isEmpty)
    } finally segs.drop(sf)
  }
}
