package graft.operators

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * Action-scoped caching for operators whose returned DataFrame still
 * references a persisted intermediate (semDedup, semDedupHierarchical,
 * invertedIndex, lmBigramSurprisal, docTopTerms, sourceDivergence,
 * importanceScore, sourceOverlapGeneral, Graph.pageRank,
 * ExactQuantiles.byGroup). Those operators persist because the
 * intermediate feeds several differently-keyed shuffles — correct for
 * one-shot use, but a long-lived session looping over corpora
 * accumulates cached blocks until LRU eviction.
 *
 * [[withCached]] is the `CorpusPipeline.runAndRelease` pattern
 * generalized: build the plan, materialize it through `action`, then
 * unpersist every intermediate the build registered — nothing stays
 * cached:
 *
 * {{{
 * val kept = Scoped.withCached(Dedup.semDedup(docs, "id", "qv", 256, 0.95)) {
 *   _.filter(col("keep")).write.parquet(out)
 * }
 * }}}
 *
 * Plan construction is driver-side and synchronous, so a ThreadLocal
 * collector is sufficient; scopes nest (inner scopes release only
 * their own intermediates). Outside any scope, [[persistTracked]]
 * degrades to a plain persist — the documented
 * "`spark.catalog.clearCache()` between corpora" contract still
 * applies to bare operator calls.
 */
object Scoped {
  private val collector = new ThreadLocal[ListBuffer[() => Unit]]

  /** Persist `df` (MEMORY_AND_DISK) and, when inside [[withCached]],
   * register it for release when the scope's action completes. */
  private[graft] def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    onRelease(() => p.unpersist(blocking = false))
    p
  }

  /** Run `release` when the innermost enclosing [[withCached]] scope
   * exits (after its action). Returns false — and never runs `release`
   * — outside any scope, so callers keep their own fallback (a plain
   * persist stays cached; scratch dirs wait for the JVM-exit sweep). */
  private[graft] def onRelease(release: () => Unit): Boolean = {
    val buf = collector.get()
    if (buf != null) buf += release
    buf != null
  }

  /** Build a DataFrame, run `action` on it (the materialization —
   * write/collect/count), then release everything the build registered:
   * persisted intermediates are unpersisted, and scratch dirs
   * ([[graft.queries.Scratch]]) and memory-sink views
   * ([[graft.queries.StreamRun]]) are dropped. The DataFrame must not
   * escape `action`: its cached subplans and scratch files are gone
   * afterwards. */
  def withCached[T](build: => DataFrame)(action: DataFrame => T): T = {
    val outer = collector.get()
    val buf = new ListBuffer[() => Unit]
    collector.set(buf)
    try {
      val df =
        try build
        finally { if (outer == null) collector.remove() else collector.set(outer) }
      action(df)
    } finally {
      // restore first (idempotent), then release; running in the outer
      // finally means a build that throws MID-WAY (some persistTracked
      // calls done, pin count() failed) still releases what it
      // registered — the leak this scope exists to prevent. One failed
      // release must not skip the rest.
      if (outer == null) collector.remove() else collector.set(outer)
      buf.foreach { r =>
        try r() catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }
}
