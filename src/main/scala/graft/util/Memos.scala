package graft.util

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Registry for the per-(session, sfDir) memo tables the shared kernels
  * use (Text.sigsAndSets, Dedup.verifiedCands, Pipeline.lshCcLabels, …)
  * with END-OF-APPLICATION eviction. The memos pin `localCheckpoint`ed
  * frames (executor disk blocks); before this registry they were held for
  * the life of the JVM even after the owning session stopped — harmless
  * for one-shot Bench/Verify, a leak for a long-lived multi-session
  * library host. Every `cached` call hooks (once per SparkContext) a
  * listener whose `onApplicationEnd` drops every entry owned by that
  * context across ALL registered memos; the checkpoint blocks those
  * entries pinned die with the context anyway, so eviction only releases
  * driver-side references that could never be used again.
  *
  * Weak-keying the session instead would not work: the memoized
  * DataFrames reference their session strongly, so a WeakHashMap entry's
  * VALUE would keep its KEY reachable forever — the classic leak. */
object Memos {
  type Memo[V] = TrieMap[(SparkSession, String), V]

  private val registered =
    new java.util.concurrent.CopyOnWriteArrayList[Memo[_]]()
  private val setupRegistered =
    new java.util.concurrent.CopyOnWriteArrayList[Memo[_]]()
  private val hooked = TrieMap.empty[SparkContext, Boolean]

  /** A fresh RESULT memo table, registered for eviction (call at object
    * init). Result memos cache computed intermediates (the shared
    * text/dedup/vector kernels); [[dropResults]] clears them so a timed
    * consumer pays its kernel's standalone cost (VERDICT r18 #3). */
  def memo[V]: Memo[V] = {
    val m = TrieMap.empty[(SparkSession, String), V]
    registered.add(m)
    m
  }

  /** A fresh SETUP memo table: idempotent environment preparation —
    * catalog DDL, ANALYZE stats, bucketed-table layouts — that is the
    * fixture an operator runs AGAINST, not work the operator performs
    * (joinBucketed's bucketing is "the exchange paid once at write time"
    * by design). Evicted at ApplicationEnd like every memo, but NOT by
    * [[dropResults]]: re-running DDL per bench run would time fixture
    * construction, not the operator. */
  def setupMemo[V]: Memo[V] = {
    val m = TrieMap.empty[(SparkSession, String), V]
    setupRegistered.add(m)
    m
  }

  /** `getOrElseUpdate` plus the eviction hook for this session's context.
    * Same race discipline as the raw TrieMap: a concurrent double-compute
    * is wasted work, never wrong results.
    *
    * Two lifecycle edges are handled explicitly:
    *  - a STOPPED context never memoizes: the value is computed and
    *    returned without touching the maps (a dead context's listener can
    *    never fire again, so an entry inserted for it would be pinned for
    *    the JVM's life);
    *  - an insert RACING the ApplicationEnd eviction (entry lands after
    *    evict() drained the maps) is self-healed by re-running the
    *    eviction when the post-insert check sees the context stopped.
    * Known bound, documented rather than solved: entries are keyed by
    * (session, sf) but evicted per CONTEXT — `newSession()` clones that
    * share one long-lived context accumulate entries until that context
    * ends, because Spark exposes no per-session close event to hook. */
  /** Monotone count of RESULT-memo builds (misses) executed in this JVM.
    * Bench reads it around each timed run to learn whether the key
    * consumed any memoized kernel — keys that did get one extra
    * non-evicted run so the old (memo-warm) protocol's number can be
    * reported alongside the honest standalone cost (VERDICT r18 #3: "keep
    * the old numbers too"). Setup-memo builds are fixture preparation,
    * not kernel work, so they do not count. */
  private val buildTally = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def builds: Long = buildTally.get

  def cached[V](m: Memo[V], spark: SparkSession, sf: String)(build: => V): V = {
    def miss: V = {
      if (!setupRegistered.stream().anyMatch(_ eq m)) buildTally.incrementAndGet()
      build
    }
    val sc = spark.sparkContext
    if (sc.isStopped) return miss
    hooked.getOrElseUpdate(sc, {
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          evict(sc)
      })
      true
    })
    val v = m.getOrElseUpdate((spark, sf), miss)
    if (sc.isStopped) evict(sc) // insert raced the eviction; drain again
    v
  }

  private[graft] def isHooked(sc: SparkContext): Boolean = hooked.contains(sc)

  /** Drop every entry owned by a session of `sc`, across all memos (what
    * the ApplicationEnd listener runs; also directly testable). */
  private[graft] def evict(sc: SparkContext): Unit = {
    hooked.remove(sc)
    drop(registered, sc)
    drop(setupRegistered, sc)
  }

  /** Drop only the RESULT-kernel entries for `sc`, leaving idempotent
    * setup (catalog/bucketing registration) in place. Bench calls this
    * before every timed run so each per-key number includes the full
    * standalone cost of any shared memoized kernel the key consumes
    * (VERDICT r18 #3: min-of-N otherwise reported memo-warm minima). */
  private[graft] def dropResults(sc: SparkContext): Unit =
    drop(registered, sc)

  private def drop(
      list: java.util.concurrent.CopyOnWriteArrayList[Memo[_]],
      sc: SparkContext): Unit =
    list.forEach { m =>
      m.keySet.toSeq.foreach { k =>
        if (k._1.sparkContext eq sc) m.remove(k)
      }
    }
}
