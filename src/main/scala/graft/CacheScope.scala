package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Registry for EVERY cache mark the library places (r14: previously
  * only query-local; now also the shared cross-query family caches,
  * so "no cached relation outside CacheScope" is a mechanically
  * auditable invariant — PlanGateSpec scans the main tree for raw
  * `.cache()`/`.persist(` call sites).
  *
  * QUERY-LOCAL caches: relations cached because they are reused
  * within a single query's plan (e.g. q_llm_incr_dedup's two
  * minhash-signature relations) but worthless to any other query.
  * Without explicit cleanup each harness invocation would leave such
  * entries behind and rely on LRU eviction across a 238-query run —
  * on a long-lived cluster session that is a slow memory leak.
  * Queries wrap with `CacheScope.local(df)` instead of `df.cache()`;
  * Bench/Verify call `drain()` after each query materializes (outside
  * the timed region — unpersist is bookkeeping, not compute).
  *
  * SHARED caches (the shingle/pair relations in Llm and the
  * DedupClusters iteration inputs) route through [[shared]]: same
  * registration, but `drain()` leaves them alone — draining them
  * per-query would re-pay their fill cost for every query in the
  * family. Both entry points skip the cache mark when the plan is
  * already cached (the CacheManager matches by logical plan), which
  * also silences the per-call "Asked to cache already cached data"
  * WARN the shared families used to emit.
  */
object CacheScope {
  private val live = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  private val sharedLive = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]
  // Monotonic call counter (r19, VERDICT r18 next-item 3): Bench
  // diffs it around each timed query to self-report which ids
  // construct (or re-read) a shared family cache — the steady map
  // annotation that distinguishes lookup cost from query cost in the
  // artifact.
  private var sharedEventCount = 0L
  def sharedEvents: Long = synchronized(sharedEventCount)

  def local[T](ds: Dataset[T]): Dataset[T] = synchronized {
    if (ds.storageLevel == StorageLevel.NONE) ds.cache()
    live += ds; ds
  }

  /** Register a SHARED cross-query cache: marked once per logical
    * plan, never touched by [[drain]] — the family amortization is
    * the point. [[drainShared]] exists for tests that need a truly
    * cold state. */
  def shared[T](ds: Dataset[T]): Dataset[T] = synchronized {
    sharedEventCount += 1
    if (ds.storageLevel == StorageLevel.NONE) { ds.cache(); sharedLive += ds }
    ds
  }

  /** Cache AND eagerly materialize (one fill job) before returning.
    * Use when the relation feeds MULTIPLE CONCURRENT scan stages of
    * the same action — a self-join, or two broadcast builds — because
    * a lazy fill lets every consumer stage race to compute every
    * partition of the cached plan redundantly: measured on the
    * knn-graph ANN pipeline at sf0.1, the identical drained-cache run
    * costs 9.3–14.4 s with a lazy fill vs 1.7–2.6 s when the bucket
    * relation is counted first (the fill alone is 1.2 s). The eager
    * count is one extra scheduler round-trip; the race it prevents is
    * a multiple of the fill kernel. */
  def localEager[T](ds: Dataset[T]): Dataset[T] = {
    val c = local(ds); c.count(); c
  }

  /** [[shared]] + eager materialization — the cross-query form of
    * [[localEager]], for shared family caches whose first consumer
    * feeds concurrent scan stages (the PQ training relations: books +
    * encode fold the assignment concurrently). When the plan is
    * already cached the count is a cheap cached read, so a second
    * caller (e.g. the _gate twin re-deriving the same training) pays
    * a lookup, not a refit. */
  def sharedEager[T](ds: Dataset[T]): Dataset[T] = {
    // count ONLY on a fresh registration (r19): every sharedEager call
    // used to re-count, so each rewarm/construction of a cache-bearing
    // query paid one full cached-scan job per shared site just to
    // prove the cache was warm. The eager fill exists to prevent
    // concurrent consumer stages racing to FILL the cache; once the
    // plan is registered it was counted by whichever call registered
    // it (drainShared clears storageLevel, so a drained plan
    // re-registers and re-fills here), so a repeat call can skip
    // straight to the cached relation.
    val fresh = synchronized {
      sharedEventCount += 1
      if (ds.storageLevel == StorageLevel.NONE) { ds.cache(); sharedLive += ds; true }
      else false
    }
    if (fresh) ds.count()
    ds
  }

  /** Unpersist every registered query-local cache. Non-blocking by
    * default (callers inside queries shouldn't wait on bookkeeping);
    * Bench passes blocking=true so async block removal completes in
    * the UNTIMED gap instead of competing with the next timed query. */
  def drain(blocking: Boolean = false): Unit = synchronized {
    live.foreach(ds => try ds.unpersist(blocking)
      catch { case _: Throwable => () })
    live.clear()
  }

  /** Unpersist the shared family caches too — NOT part of the normal
    * per-query lifecycle. REQUIRED at corpus boundaries (ADVICE r17):
    * shared entries are keyed by logical plan, which embeds the input
    * path, so a long-lived session that touches MULTIPLE corpora
    * (FullScale's x1-then-xK sweeps; any serving harness rotating
    * datasets) pins one MEMORY_AND_DISK family expansion PER CORPUS
    * until this is called — the contract is: finish a corpus, call
    * drainShared. Single-corpus sessions (Bench, Verify, a production
    * serving loop over one dataset) never need it; their shared
    * entries are the amortization working as intended. */
  def drainShared(blocking: Boolean = false): Unit = synchronized {
    sharedLive.foreach(ds => try ds.unpersist(blocking)
      catch { case _: Throwable => () })
    sharedLive.clear()
  }
}
