package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DedupOps

/** Pins the driver contract's key inventory: `SparkEntry` merges each
  * operator group's map with `++`, so a key declared in two groups would
  * silently shadow one of them, and a key generated per media modality
  * would silently vanish with its modality. */
class SparkEntrySpec extends AnyFunSuite {

  test("key inventory: 113 keys, each declared once, every key oracle-backed") {
    val keys = SparkEntry.queries.keySet
    assert(keys.size === 113)
    assert(SparkEntry.queryGroups.map(_.size).sum === keys.size,
      "a query key is declared in more than one group")
    assert(SparkEntry.oracleSql.keySet === keys)
    assert(SparkEntry.oracleGroups.map(_.size).sum === keys.size,
      "an oracle key is declared in more than one group")
  }

  test("key inventory: every media modality declares its batch and stream keys") {
    assert(DedupOps.MediaModalities.map(_.name) === Seq("img", "wav", "gif"))
    for (m <- DedupOps.MediaModalities; k <- Seq(s"${m.name}_dups", s"stream_${m.name}")) {
      assert(SparkEntry.queries.contains(k), k)
      assert(SparkEntry.oracleSql.contains(k), k)
    }
  }
}
