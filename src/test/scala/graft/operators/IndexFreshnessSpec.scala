package graft.operators

import graft.SparkTestBase

/** The driver-side model cache never serves a stale model: after each
  * event that changes what an artifact serves — a retrain (new model
  * pointer), a compact (new data pointer), a sharded reshard through the
  * home's growth loop, and a legacy unversioned artifact deleted and
  * rebuilt at the same path — a probe sees the new version, and every
  * cached model equals an uncached read of the stored one. Both kinds.
  */
class IndexFreshnessSpec extends SparkTestBase with IndexKinds with ShardedKinds {

  test("ivf: a probe after retrainIfNeeded serves the new model") {
    retrainFreshnessCase(ivfIndex)
  }

  test("pq: a probe after retrainIfNeeded serves the new model") {
    retrainFreshnessCase(pqIndex)
  }

  test("ivf: a probe after compact reads the new data version") {
    compactFreshnessCase(ivfIndex)
  }

  test("pq: a probe after compact reads the new data version") {
    compactFreshnessCase(pqIndex)
  }

  test("ivf: a rebuild at the same unversioned path serves the rebuilt model") {
    rebuildFreshnessCase(ivfIndex)
  }

  test("pq: a rebuild at the same unversioned path serves the rebuilt model") {
    rebuildFreshnessCase(pqIndex)
  }

  test("ivf: a probe after a home reshard serves the new generation's models") {
    reshardFreshnessCase(ivfKind)
  }

  test("pq: a probe after a home reshard serves the new generation's models") {
    reshardFreshnessCase(pqKind)
  }
}
