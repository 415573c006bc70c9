package graft

import org.scalatest.funsuite.AnyFunSuite

/** Catalog hygiene: the queries list feeds Maps (SparkEntry.queries /
  * oracleSql) — a duplicated name would silently drop an inventory entry
  * from the driver's gate, and an oracle without a query (or vice versa
  * where one is declared) would go unchecked.
  */
class InventorySpec extends AnyFunSuite {

  test("query names are unique (no silent map collapse)") {
    val names = Queries.all.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: $dups")
  }

  test("every oracle belongs to a declared query") {
    val names = Queries.all.map(_.name).toSet
    val orphans = SparkEntry.oracleSql.keySet -- names
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("SparkEntry exposes exactly the inventory") {
    assert(SparkEntry.queries.keySet == Queries.all.map(_.name).toSet)
    // rows-only entries are the documented exceptions, not accidents
    val rowsOnly = Queries.all.filter(_.oracle.isEmpty).map(_.name).toSet
    assert(rowsOnly == Set("transform_hash_xxhash64",
      "dedup_simhash", "dedup_simhash_pairs", "sketch_group_profile",
      "ann_ivf_refined_assign", "dedup_embedding_srp"),
      s"rows-only set changed: $rowsOnly — update this spec AND SURVEY §2")
  }

  test("bench exclusions and verify-slice tail name declared queries") {
    // Bench silently ignores a stale exclusion, and VerifySlice throws
    // on one at SparkEntry.queries(name) — catch both here instead.
    val names = Queries.all.map(_.name).toSet
    val staleExcluded = Bench.exclude -- names
    assert(staleExcluded.isEmpty, s"Bench excludes unknown entries: $staleExcluded")
    val staleTail = VerifySlice.tailEntries.filterNot(names)
    assert(staleTail.isEmpty, s"VerifySlice tail has unknown entries: $staleTail")
  }
}
