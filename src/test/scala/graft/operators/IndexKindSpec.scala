package graft.operators

import graft.SparkTestBase

/** The single-index lifecycle cases of [[IndexKinds]], run for both
  * index kinds.
  */
class IndexKindSpec extends SparkTestBase with IndexKinds {

  test("ivf: re-adding a deleted id is a no-op until a compact removes it") {
    readdCase(ivfIndex)
  }

  test("pq: re-adding a deleted id is a no-op until a compact removes it") {
    readdCase(pqIndex)
  }

  test("ivf: compactIfDeleted is free under the fraction, compacts over it") {
    compactIfDeletedCase(ivfIndex)
  }

  test("pq: compactIfDeleted is free under the fraction, compacts over it") {
    compactIfDeletedCase(pqIndex)
  }
}
