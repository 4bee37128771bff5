package graft

import org.apache.spark.sql.DataFrame

/** Registry for persisted intermediates pinned by single-scan
  * operators (spanDedup, lmPerplexity, heavyHitters): the persist must
  * outlive the call (the returned plan is lazy), so the operator can't
  * unpersist it itself — without a handle each call would leak a
  * MEMORY_AND_DISK block for the session's lifetime.
  *
  * Two release granularities:
  *
  *   - [[scoped]] — library callers wrap each query's CONSTRUCTION;
  *     pins made inside the body land on the returned [[Handle]], and
  *     `handle.release()` after materializing drops exactly that
  *     query's blocks. Concurrent queries on other threads are
  *     untouched, so their single-scan guarantee survives.
  *   - [[release]] — drops every pin in the session. The Bench/Verify
  *     convenience between catalog entries (single query at a time),
  *     NOT for concurrent sessions: it would drop pins belonging to
  *     still-running operators (recompute-safe, but the single-scan
  *     guarantee is silently forfeited).
  */
object Caches {
  private val pinned =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  // operators pin during plan CONSTRUCTION (persist() is eager on the
  // caller thread), so an InheritableThreadLocal scope captures every
  // pin of the body — including ones made on child threads it spawns
  private val current = new InheritableThreadLocal[Handle]()

  /** Pins made inside one [[scoped]] body; release() targets only
    * them (and removes them from the global registry so a later
    * global [[Caches.release]] doesn't double-unpersist).
    */
  final class Handle private[Caches] () {
    private[Caches] val pins =
      new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

    /** Unpersist only this handle's pins (idempotent; safe while the
      * query still runs — Spark recomputes evicted blocks from
      * lineage).
      */
    def release(): Unit = {
      var d = pins.poll()
      while (d != null) {
        pinned.remove(d)
        try d.unpersist(blocking = false) catch { case _: Throwable => }
        d = pins.poll()
      }
    }
  }

  /** Run `body` (typically: build one query's DataFrame) with its
    * pins scoped to a fresh [[Handle]]; returns (result, handle).
    * Call `handle.release()` once the result is materialized. Nests:
    * an inner scope shadows the outer for its extent. If `body`
    * throws, the handle can never reach the caller, so its pins are
    * released here — a failed construction must not leak blocks that
    * only a global [[release]] could reclaim.
    */
  def scoped[T](body: => T): (T, Handle) = {
    val h = new Handle
    val prev = current.get()
    current.set(h)
    var ok = false
    try { val r = body; ok = true; (r, h) }
    finally {
      current.set(prev)
      if (!ok) h.release()
    }
  }

  /** Persist-and-register: returns `df` persisted, tracked globally
    * and on the active [[scoped]] handle if one is in effect.
    */
  private[graft] def pin(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinned.add(p)
    val h = current.get()
    if (h != null) h.pins.add(p)
    p
  }

  /** Unpersist every intermediate pinned so far, session-wide
    * (idempotent). Bench/Verify convenience — see the class doc for
    * why concurrent sessions should use [[scoped]] instead.
    */
  def release(): Unit = {
    var d = pinned.poll()
    while (d != null) {
      try d.unpersist(blocking = false) catch { case _: Throwable => }
      d = pinned.poll()
    }
  }
}
